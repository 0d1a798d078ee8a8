"""Seeded, cached input generation for the benchmark.

Every input is a pure function of its spec (workload, input class =
seed mod ``INPUT_CLASSES``, base rows, scale factor, file count,
generator version):

1. ``base_documents`` draws a documents table with the schema of the
   repository's ``documents`` fixture (doc_id, text, lang, source,
   n_chars) from NumPy's seeded generator;
2. a generator subprocess runs the package's own ``sources/docs.py``
   helpers over it: ``scale_up`` to the target row count,
   ``to_north_shape(plant=True)`` with class-chosen planting moduli and
   ``write_validation_layout`` (``text_len`` stored next to ``text``).
   For ``cli_snapshot`` it also writes a class-perturbed previous
   snapshot.

Generation runs in its own process, so the JVM it warms is never the one
a workload times.  Each entry lives under a directory named by a key that
holds every field of the spec, is written to a temporary directory and
renamed into place, and carries a manifest with its row counts and an
order-independent content checksum.  Both are checked before reuse; a
mismatch regenerates the entry.

``ensure_inputs`` runs this module as a script in a child process:
``python3 perfbench/gen.py <workload> <seed> <out_dir>``, with the
checkout root on ``PYTHONPATH``.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
import time

import numpy as np

from perfbench.common import child_env, parquet_files, run_tree

GEN_VERSION = 3
# the seed reaches the inputs through its class, seed mod INPUT_CLASSES:
# generating an input costs ~20 s in its own JVM, so a run only pays it
# the first time its class is seen in a checkout
INPUT_CLASSES = 4
BASE_ROWS = 20_000
N_SOURCES = 20

# rows and parquet files per workload input (documented in SPEC.md)
SIZES = {
    "validate_steady": {"rows": 1_000_000, "files": 4},
    "cli_snapshot": {"rows": 600_000, "files": 4},
}

WORDLIST = (
    "batch part spark line column order small sort fast value scan hash "
    "slow group filter query big key window row table stream merge data "
    "join vector customer record field index shard page crawl token").split()
# words per document, uniform in [low, high)
WORDS = (4, 40)
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)

FEATURE_COLS = ["doc_id", "text_len", "lang", "source", "warc_ts"]


def spec_for(workload: str, seed: int) -> dict:
    """Every value that determines the generated content."""
    size = SIZES[workload]
    cls = int(seed) % INPUT_CLASSES
    rng = np.random.default_rng([cls, 1])
    spec = {
        "workload": workload,
        "input_class": cls,
        "version": GEN_VERSION,
        "base_rows": BASE_ROWS,
        "factor": size["rows"] // BASE_ROWS,
        "files": size["files"],
        # planting moduli for to_north_shape(plant=True)
        # rare enough that the planted rows stay outliers of their
        # clusters instead of widening them (a few hundred per 1M rows)
        "dup_every": int(rng.integers(89, 131)),
        "late_every": int(rng.integers(4001, 6001)),
        "huge_every": int(rng.integers(15001, 25001)),
    }
    if workload == "cli_snapshot":
        # previous-snapshot perturbation: rows new since it, rows whose
        # content changed, rows removed since it
        spec.update({"added_every": int(rng.integers(151, 251)),
                     "changed_every": int(rng.integers(301, 501)),
                     "removed_every": int(rng.integers(401, 601))})
    return spec


def cache_key(spec: dict) -> str:
    order = ("workload", "input_class", "base_rows", "factor", "files",
             "version")
    return "-".join(f"{k}{spec[k]}" if k != "workload" else spec[k]
                    for k in order)


def base_documents(n: int, seed: int):
    """Documents table (the fixture schema) drawn from ``seed``."""
    import pyarrow as pa

    rng = np.random.default_rng([seed, 0])
    vocab = np.array(WORDLIST, dtype=object)
    n_words = rng.integers(WORDS[0], WORDS[1], n)
    toks = vocab[rng.integers(0, len(vocab), int(n_words.sum()))]
    ends = np.cumsum(n_words)
    text = [" ".join(toks[e - k:e]) for e, k in zip(ends, n_words)]
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": text,
        "lang": rng.choice(np.array(LANGS, dtype=object), n, p=LANG_P),
        "source": [f"src{i % N_SOURCES}" for i in range(n)],
        "n_chars": np.fromiter((len(t) for t in text), np.int64, n),
    })


def table_digest(path: str) -> tuple[int, str]:
    """(row count, order-independent content checksum) of a parquet dir.

    Spark may order rows differently within a file from one write to the
    next, so the checksum is a sum of per-row hashes, not a file hash."""
    import duckdb

    con = duckdb.connect()
    try:
        cols = [r[0] for r in con.execute(
            "DESCRIBE SELECT * FROM read_parquet(?)",
            [parquet_files(path)]).fetchall()]
        row = ", ".join(f'"{c}"' for c in cols)
        n, h = con.execute(
            f"SELECT count(*), sum(hash({row})::HUGEINT) "
            f"FROM read_parquet(?)", [parquet_files(path)]).fetchone()
    finally:
        con.close()
    return int(n), hashlib.sha256(str(h).encode()).hexdigest()[:32]


def _manifest_ok(entry: str) -> dict | None:
    mpath = os.path.join(entry, "manifest.json")
    if not os.path.exists(mpath):
        return None
    with open(mpath) as f:
        man = json.load(f)
    for name, want in man["tables"].items():
        p = os.path.join(entry, name)
        if not os.path.isdir(p) or list(table_digest(p)) != want:
            return None
    return man


def ensure_inputs(work: str, workload: str, seed: int) -> dict:
    """Paths of the generated inputs for (workload, seed), generating
    them in a subprocess when the cache has no valid entry.  Returns the
    manifest (spec, table row counts and checksums) plus absolute paths
    and the generation seconds spent by this call."""
    spec = spec_for(workload, seed)
    entry = os.path.join(work, "inputs", cache_key(spec))
    t0 = time.perf_counter()
    man = _manifest_ok(entry)
    if man is None or man["spec"] != spec:
        shutil.rmtree(entry, ignore_errors=True)
        os.makedirs(os.path.dirname(entry), exist_ok=True)
        tmp = f"{entry}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        cmd = [sys.executable, os.path.abspath(__file__), workload,
               str(seed), tmp]
        env = child_env(work)
        # generation is not measured: skip the session JIT warm-up
        env["SPARK_GRAFT_NO_WARMUP"] = "1"
        log = f"{tmp}.log"
        res = run_tree(cmd, env, log, timeout=600)
        with open(log) as f:
            log_tail = f.read()[-4000:]
        os.remove(log)
        if res["rc"] != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            raise RuntimeError("input generation failed:\n" + log_tail)
        os.replace(tmp, entry)
        man = _manifest_ok(entry)
        if man is None:
            raise RuntimeError(f"generated entry {entry} fails its check")
    out = dict(man)
    out["paths"] = {k: os.path.join(entry, k) for k in man["tables"]}
    out["gen_s"] = time.perf_counter() - t0
    return out


def _generate(spec: dict, out: str) -> None:
    from pyspark.sql import functions as F

    from outliertree_spark.session import get_spark
    from outliertree_spark.sources.docs import (scale_up, to_north_shape,
                                                write_validation_layout)
    os.makedirs(out)
    base_path = os.path.join(out, "base.parquet")
    import pyarrow.parquet as pq
    pq.write_table(base_documents(spec["base_rows"], spec["input_class"]),
                   base_path)
    spark = get_spark(app="perfbench-gen",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    try:
        docs = scale_up(spark.read.parquet(base_path), spec["factor"])
        north = to_north_shape(docs, plant=True,
                               dup_every=spec["dup_every"],
                               late_every=spec["late_every"],
                               huge_every=spec["huge_every"])
        if spec["workload"] == "validate_steady":
            cur = north.select("doc_id", "text", "lang", "source", "warc_ts")
            write_validation_layout(cur, os.path.join(out, "docs"),
                                    n_files=spec["files"])
            tables = ["docs"]
        else:
            cur = north.select("doc_id", "url", "text", "lang", "source",
                               "warc_ts")
            write_validation_layout(cur, os.path.join(out, "current"),
                                    n_files=spec["files"])
            h = F.abs(F.xxhash64("doc_id", F.lit(spec["input_class"])))
            written = spark.read.parquet(os.path.join(out, "current"))
            kept = written.filter(h % spec["added_every"] != 0)
            changed = h % spec["changed_every"] == 1
            prev = kept.withColumn(
                "lang", F.when(changed, F.lit("xx")).otherwise(F.col("lang")))
            gone = (written.filter(h % spec["removed_every"] == 2)
                           .withColumn("doc_id",
                                       F.col("doc_id") + F.lit(10 ** 12)))
            prev.unionByName(gone).repartition(spec["files"]).write.parquet(
                os.path.join(out, "previous"))
            tables = ["current", "previous"]
    finally:
        spark.stop()
    os.remove(base_path)
    man = {"spec": spec,
           "tables": {t: list(table_digest(os.path.join(out, t)))
                      for t in tables}}
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(man, f, indent=1, sort_keys=True)


if __name__ == "__main__":
    _generate(spec_for(sys.argv[1], int(sys.argv[2])), sys.argv[3])
