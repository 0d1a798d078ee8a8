"""Per-op Spark counters read from the application status store.

Works with ``spark.ui.enabled=false``: the core status store
(``sc.statusStore()``) and the SQL status store
(``sharedState().statusStore()``) are filled by listeners whether or not
a UI is attached.  Each op runs under its own job group, so every job,
its stages and its SQL executions are attributed to the op that ran
them.
"""

from __future__ import annotations

import re

_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "B": 1.0,
          "KiB": 2.0 ** 10, "MiB": 2.0 ** 20, "GiB": 2.0 ** 30,
          "TiB": 2.0 ** 40}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")

# SQL metric name -> per-layer key (summed over an op's executions)
SQL_METRICS = {
    "time to initialize Python workers": "arrow.python_init_s",
    "time to run Python workers": "arrow.python_total_s",
    "data sent to Python workers": "arrow.data_sent_bytes",
    "task commit time": "write.task_commit_s",
    "job commit time": "write.job_commit_s",
}


def derive(layer: dict, n_rows: int) -> dict:
    """Fold the write-commit SQL metrics into ``engine.sink_write_s`` and
    add ``spark.scan_amplification`` (input rows read / table rows)."""
    layer["engine.sink_write_s"] = (layer.pop("write.task_commit_s", 0.0)
                                    + layer.pop("write.job_commit_s", 0.0))
    if "spark.input_rows" in layer:
        layer["spark.scan_amplification"] = layer["spark.input_rows"] / n_rows
    return layer


def parse_metric(text: str | None) -> float:
    """Total of a formatted SQL metric value: ``'1,000'``, ``'4.4 s'``,
    or the multi-task form whose second line starts with the total."""
    if not text:
        return 0.0
    line = text.strip().split("\n")[-1]
    m = _VALUE.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def _seq(s):
    return [s.apply(i) for i in range(s.size())]


def _opt(o):
    return o.get() if o.isDefined() else None


class StatusReader:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._jvm = self.sc._jvm

    def settle(self):
        """Wait until the listener bus has delivered every event, so the
        status store holds the stages of actions that already returned."""
        self._jsc.listenerBus().waitUntilEmpty()

    def jobs(self) -> list[dict]:
        self.settle()
        empty = self._jvm.java.util.ArrayList()
        out = []
        for j in _seq(self._jsc.statusStore().jobsList(empty)):
            out.append({"id": j.jobId(), "group": _opt(j.jobGroup()),
                        "stages": [int(x) for x in _seq(j.stageIds())]})
        return out

    def counters(self, group: str | None = None) -> dict:
        """spark.* and SQL counters over the jobs of job group ``group``
        (every job when ``group`` is None)."""
        jobs = [j for j in self.jobs()
                if group is None or j["group"] == group]
        stage_ids = {s for j in jobs for s in j["stages"]}
        gw = self.sc._gateway
        empty = self._jvm.java.util.ArrayList()
        stages = _seq(self._jsc.statusStore().stageList(
            empty, False, False, gw.new_array(self._jvm.double, 0), empty))
        c = {"spark.jobs": float(len(jobs)), "spark.stages": 0.0,
             "spark.tasks": 0.0, "spark.executor_run_s": 0.0,
             "spark.executor_cpu_s": 0.0, "spark.gc_s": 0.0,
             "spark.shuffle_read_bytes": 0.0,
             "spark.shuffle_write_bytes": 0.0, "spark.spill_bytes": 0.0,
             "spark.input_rows": 0.0, "spark.output_bytes": 0.0}
        for s in stages:
            if s.stageId() not in stage_ids or \
                    s.status().toString() == "SKIPPED":
                continue
            c["spark.stages"] += 1
            c["spark.tasks"] += s.numCompleteTasks()
            c["spark.executor_run_s"] += s.executorRunTime() / 1e3
            c["spark.executor_cpu_s"] += s.executorCpuTime() / 1e9
            c["spark.gc_s"] += s.jvmGcTime() / 1e3
            c["spark.shuffle_read_bytes"] += s.shuffleReadBytes()
            c["spark.shuffle_write_bytes"] += s.shuffleWriteBytes()
            c["spark.spill_bytes"] += (s.memoryBytesSpilled()
                                       + s.diskBytesSpilled())
            c["spark.input_rows"] += s.inputRecords()
            c["spark.output_bytes"] += s.outputBytes()
        c.update(self.sql_counters({j["id"] for j in jobs}))
        return c

    def sql_counters(self, job_ids: set) -> dict:
        """Arrow-path and write-commit SQL metrics of the executions
        that ran any of ``job_ids`` (plan versions repeat metrics, so
        each accumulator counts once)."""
        store = self.spark._jsparkSession.sharedState().statusStore()
        conv = self._jvm.scala.jdk.javaapi.CollectionConverters
        out = {k: 0.0 for k in SQL_METRICS.values()}
        for e in _seq(store.executionsList()):
            ran = {int(k) for k in conv.asJava(e.jobs()).keySet()}
            if not ran & job_ids:
                continue
            vals = store.executionMetrics(e.executionId())
            seen = set()
            for m in _seq(e.metrics()):
                key = SQL_METRICS.get(m.name())
                acc = m.accumulatorId()
                if key is None or acc in seen:
                    continue
                seen.add(acc)
                v = vals.get(acc)
                out[key] += parse_metric(_opt(v))
        return out
