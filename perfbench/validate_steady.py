"""``validate_steady``: a long-lived production session validating one
table over and over.

Set-up: ``get_spark()`` with its shipped defaults and warm-up, open the
stored-``text_len`` layout, fit the model with the default
``ValidationConfig``.  Each op, one after the other:
``SparkOutlierTree.validate``, write the violations to parquet, collect
the verdicts.
"""

from __future__ import annotations

import os
import shutil
import time

from perfbench import common, gen, oracle
from perfbench.sparkstat import StatusReader, derive
from perfbench.trace import Tracer, coverage, instrument, total

# seconds of ops after the cold one that are run but not measured: the
# ops right after the cold one are still 20-40% slower than the rest
WARM_S = 4.0
MIN_STEADY_OPS = 3


def run(inputs: dict, seconds: float, trace: bool) -> dict:
    from outliertree_spark import SparkOutlierTree, ValidationConfig
    from outliertree_spark.session import get_spark
    from outliertree_spark.sources.docs import read_validation_layout

    path = inputs["paths"]["docs"]
    n_rows = inputs["tables"]["docs"][0]
    out = os.path.join(common.WORK, "out", "validate_steady")
    shutil.rmtree(out, ignore_errors=True)
    viol_path = os.path.join(out, "violations.parquet")
    tracer = Tracer()
    tracer.enabled = False
    if trace:
        instrument(tracer)
    layer: dict = {}
    ops: list[dict] = []
    errors: list[str] = []

    with common.RssSampler() as rss:
        t0 = time.monotonic()
        spark = get_spark()
        df = read_validation_layout(spark, path, gen.FEATURE_COLS)
        session_s = time.monotonic() - t0
        reader = StatusReader(spark) if trace else None
        layer["session.jobs"] = len(reader.jobs()) if trace else 0
        t0 = time.monotonic()
        eng = SparkOutlierTree(ValidationConfig())
        eng.fit(df, id_cols=["doc_id"])
        fit_s = time.monotonic() - t0
        if trace:
            layer["engine.fit_jobs"] = (len(reader.jobs())
                                        - layer["session.jobs"])
        layer["session.get_spark_s"] = session_s
        layer["engine.fit_s"] = fit_s
        layer["engine.fit_rows"] = len(eng._fit_pdf)

        warm_end = deadline = None
        first = None    # index of the first measured op
        while first is None or len(ops) < first + MIN_STEADY_OPS \
                or time.monotonic() < deadline:
            i = len(ops)
            # trace runs alternate traced and untraced ops, so the
            # tracing overhead is measured on the same session
            tracer.enabled = trace and i % 2 == 0
            tracer.op = i
            spark.sparkContext.setJobGroup(f"op-{i}", "validate_steady")
            t0 = time.monotonic()
            with tracer.span("op") as root:
                viols, verdicts = eng.validate(
                    df, partition_col="source", id_cols=["doc_id"])
                viols.write.mode("overwrite").parquet(viol_path)
                rows = [r.asDict() for r in verdicts.collect()]
            op = {"i": i, "s": time.monotonic() - t0,
                  "traced": tracer.enabled, "root": root}
            tracer.enabled = False
            errs = oracle.check_verdicts(rows, n_rows,
                                         oracle.parquet_rows(viol_path))
            op["ok"] = not errs
            errors += errs
            op["n_violations"] = sum(r["n_violations"] for r in rows)
            if trace:
                op["counters"] = reader.counters(f"op-{i}")
            ops.append(op)
            if i == 0:
                warm_end = time.monotonic() + WARM_S
            elif first is None and time.monotonic() >= warm_end:
                first = i + 1
                deadline = time.monotonic() + seconds
        spark.sparkContext.setJobGroup("checks", "benchmark checks")
        if trace:
            layer["engine.candidate_rows"] = df.filter(
                eng.prefilter_expr(df)).count()
        final = oracle.check_validate(eng.model_, path, gen.FEATURE_COLS,
                                      viol_path, rows, n_rows)
        common.stop_session(spark)
    errors += final
    steady = [o["s"] for o in ops[first:]]
    op_s = common.median(steady)
    failed = sum(not o["ok"] for o in ops) + (1 if final else 0)
    result = {"ops": ops, "errors": errors, "failed": min(failed, len(ops)),
              "metrics": {
                  "setup_s": session_s + fit_s,
                  "op_s": op_s,
                  "docs_per_s": n_rows / op_s}}
    if trace:
        layer["session.cold_op_s"] = ops[0]["s"]
        layer["proc.peak_rss_mb"] = rss.peak_mb
        result["layer"] = _layers(layer, ops[first:], tracer, n_rows)
    return result


def _layers(layer: dict, ops: list[dict], tracer: Tracer,
            n_rows: int) -> dict:
    traced = [o for o in ops if o["traced"]]
    plain = [o for o in ops if not o["traced"]]
    sp = tracer.spans

    def med(name):
        return common.median([total(sp, name, o["i"], parent="op")
                              for o in traced])

    layer.update({
        "engine.predict_build_s": common.median(
            [total(sp, "engine.predict_build", o["i"]) for o in traced]),
        # the Arrow predict plan runs in the violations write
        "engine.predict_exec_s": med("sink.write"),
        "engine.verdicts_exec_s": med("collect"),
        "engine.violations": ops[-1]["n_violations"],
        "trace.coverage": common.median(
            [coverage(sp, o["root"]) for o in traced]),
        "trace.overhead_s": (common.median([o["s"] for o in traced])
                             - common.median([o["s"] for o in plain])),
        "trace.ops": len(traced),
    })
    cand = layer.get("engine.candidate_rows", 0)
    layer["engine.violation_yield"] = (layer["engine.violations"] / cand
                                       if cand else 0.0)
    counters = [o["counters"] for o in traced]
    for k in counters[0]:
        layer[k] = common.median([c[k] for c in counters])
    return derive(layer, n_rows)
