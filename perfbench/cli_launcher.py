"""Fresh-process wrapper around ``scripts/run_validate.py``'s ``main``.

Usage: ``python3 perfbench/cli_launcher.py OUT_JSON TRACE -- ARGV...``

Runs ``run_validate.main(ARGV)`` exactly as the script's ``__main__``
does, in a new process.  With TRACE=0 it only notes when the session and
the fit returned (the op's set-up part).  With TRACE=1 it wraps the
public functions the CLI calls in spans, reads the Spark status store
before the session stops, and writes both to OUT_JSON.  The parent
passes its launch time in ``PERFBENCH_LAUNCH_T`` (``time.monotonic()``,
one clock for every process on Linux).
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(argv: list[str]) -> int:
    t_start = time.monotonic()
    out_path, trace = argv[0], argv[1] == "1"
    cli_argv = argv[argv.index("--") + 1:]
    sys.path.insert(0, ROOT)
    from perfbench.trace import Tracer, instrument

    tracer = Tracer()
    tracer.enabled = trace
    tracer.op = 0
    launch = float(os.environ.get("PERFBENCH_LAUNCH_T", t_start))
    report: dict = {"marks": {}, "layer": {}}
    with tracer.span("cli.boot") as sp:
        pass
    if sp is not None:
        sp["start"] = launch
    with tracer.span("cli.import"):
        sys.path.insert(0, os.path.join(ROOT, "scripts"))
        import run_validate
        from pyspark.sql import SparkSession

        import outliertree_spark.session as session_mod
        from outliertree_spark import SparkOutlierTree
    state: dict = {}

    def n_jobs() -> int:
        with tracer.span("trace.read_status"):
            return len(state["reader"].jobs())

    orig_get_spark = session_mod.get_spark

    def get_spark(*a, **kw):
        with tracer.span("session.get_spark"):
            spark = orig_get_spark(*a, **kw)
        if trace:
            from perfbench.sparkstat import StatusReader
            state["reader"] = StatusReader(spark)
            report["layer"]["session.jobs"] = n_jobs()
        return spark

    session_mod.get_spark = get_spark
    orig_fit = SparkOutlierTree.fit

    def fit(self, *a, **kw):
        before = n_jobs() if trace else 0
        with tracer.span("engine.fit"):
            res = orig_fit(self, *a, **kw)
        report["marks"]["fit_done"] = time.monotonic()
        report["layer"]["engine.fit_rows"] = len(self._fit_pdf)
        if trace:
            report["layer"]["engine.fit_jobs"] = n_jobs() - before
        return res

    SparkOutlierTree.fit = fit
    if trace:
        instrument(tracer)
        tracer.wrap(run_validate, "_snapshot_check", "checks.snapshot")
        orig_stop = SparkSession.stop

        def stop(self):
            with tracer.span("trace.read_status"):
                reader = state["reader"]
                report["layer"].update(reader.counters(group=None))
            with tracer.span("session.stop"):
                return orig_stop(self)

        SparkSession.stop = stop
    rc = run_validate.main(cli_argv)
    report["marks"]["main_done"] = time.monotonic()
    report["spans"] = tracer.spans
    with open(out_path, "w") as f:
        json.dump(report, f)
    return rc


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
