"""Correctness checks, run outside the timed ops.

Each check returns a list of human-readable mismatches; an empty list
means the output is correct.  The references are independent of the
Spark plans under test: the NumPy ``predict_batch`` reference for the
engine, and DuckDB SQL over the input parquet for the snapshot delta.
"""

from __future__ import annotations

import json

import numpy as np

from perfbench.common import parquet_files


def _sql_list(items: list[str]) -> str:
    return "[" + ", ".join("'" + i.replace("'", "''") + "'"
                           for i in items) + "]"


def parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq
    return sum(pq.ParquetFile(f).metadata.num_rows
               for f in parquet_files(path))


def expected_violations(model: dict, input_path: str,
                        columns: list[str]) -> set[tuple]:
    """(doc_id, suspicious_column) of every row the NumPy reference
    flags over the full input."""
    import pyarrow.parquet as pq

    from outliertree_spark.operators.predict import predict_batch
    from outliertree_spark.schema import pandas_to_predict_arrays

    pdf = pq.read_table(parquet_files(input_path), columns=columns
                        ).to_pandas(coerce_temporal_nanoseconds=True)
    res = predict_batch(model, pandas_to_predict_arrays(pdf, model))
    rows = np.flatnonzero(res.score < 1.0)
    names = [cm["name"] for cm in model["columns"]]
    ids = pdf["doc_id"].to_numpy()
    return {(int(ids[r]), names[int(res.col[r])]) for r in rows}


def check_validate(model: dict, input_path: str, columns: list[str],
                   viol_path: str, verdicts: list[dict],
                   n_rows: int) -> list[str]:
    """Violation set equals the NumPy reference; verdicts add up."""
    import pyarrow.parquet as pq

    errs = []
    got_t = pq.read_table(parquet_files(viol_path),
                          columns=["doc_id", "suspicious_column"])
    got_l = list(zip(got_t.column(0).to_pylist(),
                     got_t.column(1).to_pylist()))
    got = set(got_l)
    if len(got) != len(got_l):
        errs.append(f"{len(got_l) - len(got)} duplicate violation rows")
    want = expected_violations(model, input_path, columns)
    if got != want:
        errs.append(f"violations differ from the NumPy reference: "
                    f"{len(want - got)} missing, {len(got - want)} extra")
    errs += check_verdicts(verdicts, n_rows, len(got_l))
    return errs


def check_verdicts(verdicts: list[dict], n_rows: int,
                   n_violations: int) -> list[str]:
    errs = []
    if sum(v["n_rows"] for v in verdicts) != n_rows:
        errs.append("verdict n_rows do not sum to the table's row count")
    if sum(v["n_violations"] for v in verdicts) != n_violations:
        errs.append("verdict n_violations do not sum to the violation rows")
    return errs


def check_cli(current: str, previous: str, viol_path: str,
              ledger_path: str) -> list[str]:
    """The CLI run's outputs:

    - the ``snapshot_delta`` rows equal DuckDB's recomputation of the
      changed rows (keyed in both snapshots, some shared column
      distinct; attributed to the current partition) and the removed
      rows (only in the previous snapshot; its partition);
    - the ledger holds exactly one verdict per partition of the input,
      and their violation counts equal the other violation rows."""
    import duckdb

    errs = []
    con = duckdb.connect()
    try:
        for name, path in (("cur", current), ("prev", previous),
                           ("v", viol_path)):
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                        f"read_parquet({_sql_list(parquet_files(path))})")
        cols = [r[0] for r in con.execute("DESCRIBE prev").fetchall()
                if r[0] != "doc_id"]
        differs = " OR ".join(f'c."{c}" IS DISTINCT FROM p."{c}"'
                              for c in cols)
        con.execute(f"""
            CREATE VIEW want AS
            SELECT c.source, c.doc_id, 'changed' AS change_type
              FROM cur c JOIN prev p USING (doc_id) WHERE {differs}
            UNION ALL
            SELECT p.source, p.doc_id, 'removed'
              FROM prev p ANTI JOIN cur c USING (doc_id)""")
        con.execute("""
            CREATE VIEW got AS
            SELECT source, doc_id, suspicious_value AS change_type
              FROM v WHERE suspicious_column = 'snapshot_delta'""")
        missing = con.execute(
            "SELECT count(*) FROM (SELECT * FROM want EXCEPT ALL "
            "SELECT * FROM got)").fetchone()[0]
        extra = con.execute(
            "SELECT count(*) FROM (SELECT * FROM got EXCEPT ALL "
            "SELECT * FROM want)").fetchone()[0]
        if missing or extra:
            errs.append(f"snapshot_delta rows differ from DuckDB: "
                        f"{missing} missing, {extra} extra")
        parts = {r[0] for r in con.execute(
            "SELECT DISTINCT source FROM cur").fetchall()}
        other = con.execute(
            "SELECT count(*) FROM v "
            "WHERE suspicious_column <> 'snapshot_delta'").fetchone()[0]
    finally:
        con.close()

    seen: dict = {}
    for d in _ledger_verdicts(ledger_path):
        seen[d["partition"]] = seen.get(d["partition"], 0) + 1
    n_viol = ledger_violations(ledger_path)
    if set(seen) != parts or any(n != 1 for n in seen.values()):
        errs.append("ledger does not hold one verdict per partition")
    if n_viol != other:
        errs.append(f"ledger verdicts count {n_viol} violations, "
                    f"the violations output holds {other}")
    return errs


def _ledger_verdicts(path: str) -> list[dict]:
    with open(path) as f:
        return [d for d in map(json.loads, f) if "partition" in d]


def ledger_violations(path: str) -> int:
    return sum(d["verdict"]["n_violations"] for d in _ledger_verdicts(path))
