"""``cli_snapshot``: the production command, one fresh process per op.

Each op launches ``scripts/run_validate.py``'s ``main`` in a new Python
process (through ``cli_launcher.py``) on the 600k-doc table, with
``--prev-snapshot`` pointing at the class-perturbed previous snapshot
and every other option at its default.  An op is timed from launch until
the process has exited with the ledger and the violations parquet
written.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

from perfbench import common, oracle
from perfbench.sparkstat import derive
from perfbench.trace import coverage, self_time_by_name, total

LAUNCHER = os.path.join(common.ROOT, "perfbench", "cli_launcher.py")
OP_TIMEOUT_S = 170


def _argv(inputs: dict, out: str) -> list[str]:
    return ["--input", inputs["paths"]["current"],
            "--partition-col", "source", "--id-col", "doc_id",
            "--cols-ignore", "url", "--cols-ignore", "text",
            "--checkpoint", os.path.join(out, "ledger.jsonl"),
            "--violations-out", os.path.join(out, "violations.parquet"),
            "--prev-snapshot", inputs["paths"]["previous"]]


def _op(inputs: dict, i: int, traced: bool) -> dict:
    out = os.path.join(common.WORK, "out", "cli_snapshot", f"op{i}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    report_path = os.path.join(out, "report.json")
    cmd = [sys.executable, LAUNCHER, report_path, "1" if traced else "0",
           "--"] + _argv(inputs, out)
    res = common.run_tree(cmd, common.child_env(),
                          os.path.join(out, "stderr.log"), OP_TIMEOUT_S)
    rc, t0, t1 = res["rc"], res["start"], res["end"]
    op = {"i": i, "s": t1 - t0, "traced": traced, "rc": rc,
          "rss_mb": res["peak_mb"], "errors": []}
    if rc != 0 or not os.path.exists(report_path):
        op["errors"].append(f"run_validate exited with {rc}")
        return op
    with open(report_path) as f:
        rep = json.load(f)
    op["setup_s"] = rep["marks"]["fit_done"] - t0
    op["layer"] = rep["layer"]
    if traced:
        spans = rep["spans"]
        spans.append({"id": 0, "name": "op", "op": 0, "parent": None,
                      "start": t0, "end": t1})
        spans.append({"id": -1, "name": "cli.exit", "op": 0, "parent": 0,
                      "start": rep["marks"]["main_done"], "end": t1})
        for s in spans:
            if s["parent"] is None and s["id"] != 0:
                s["parent"] = 0
        op["spans"] = spans
    ledger = os.path.join(out, "ledger.jsonl")
    op["errors"] = oracle.check_cli(
        inputs["paths"]["current"], inputs["paths"]["previous"],
        os.path.join(out, "violations.parquet"), ledger)
    op["layer"]["engine.violations"] = oracle.ledger_violations(ledger)
    return op


def run(inputs: dict, seconds: float, trace: bool) -> dict:
    # an op outlasts a run's measuring time, so a run is one op; in a
    # trace run it is traced
    ops = []
    t_end = time.monotonic() + seconds
    while not ops or time.monotonic() < t_end:
        ops.append(_op(inputs, len(ops), trace))
    good = [o for o in ops if not o["errors"]]
    op_s = common.median([o["s"] for o in ops])
    n_rows = inputs["tables"]["current"][0]
    result = {"ops": ops, "errors": [e for o in ops for e in o["errors"]],
              "failed": len(ops) - len(good),
              "metrics": {
                  "setup_s": common.median([o.get("setup_s", 0.0)
                                            for o in ops]),
                  "op_s": op_s,
                  "docs_per_s": n_rows / op_s}}
    if trace:
        result["layer"] = _layers(ops[0], n_rows)
        result["layer"]["session.cold_op_s"] = op_s
        result["layer"]["proc.peak_rss_mb"] = max(o["rss_mb"] for o in ops)
    return result


def _layers(op: dict, n_rows: int) -> dict:
    layer = dict(op.get("layer", {}))
    sp = op.get("spans", [])
    if not sp:
        return layer
    root = next(s for s in sp if s["id"] == 0)
    layer.update({
        "session.get_spark_s": total(sp, "session.get_spark"),
        "engine.fit_s": total(sp, "engine.fit"),
        "engine.predict_build_s": total(sp, "engine.predict_build"),
        # the Arrow predict plan runs in the violations write
        "engine.predict_exec_s": total(sp, "sink.write", parent="op"),
        "engine.verdicts_exec_s": total(sp, "collect",
                                        parent="ledger.record"),
        "checks.snapshot_s": total(sp, "checks.snapshot"),
        # the ledger's own work: record_verdicts minus the verdict collect
        "ledger.record_s": self_time_by_name(sp).get("ledger.record", 0.0),
        "cli.summary_s": total(sp, "collect", parent="op"),
        "cli.boot_s": total(sp, "cli.boot") + total(sp, "cli.import"),
        "trace.coverage": coverage(sp, root),
        # the tracer's own work in the op: its status-store reads.  Two
        # fresh processes differ by seconds, which would swamp a traced
        # minus untraced difference
        "trace.overhead_s": total(sp, "trace.read_status"),
        "trace.ops": 1,
    })
    return derive(layer, n_rows)
