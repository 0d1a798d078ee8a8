"""Tests of the benchmark's own code: input generation, span arithmetic,
status-store value parsing and the correctness checks.

Run from the checkout root: ``python3 -m pytest perfbench/tests -q``.
The generation test starts Spark; the others need only NumPy, pyarrow
and DuckDB.
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))))

from perfbench import gen, oracle, trace  # noqa: E402
from perfbench.sparkstat import parse_metric  # noqa: E402


# -- generator -------------------------------------------------------------

def test_base_documents_deterministic_per_seed():
    a = gen.base_documents(500, 3)
    assert a.equals(gen.base_documents(500, 3))
    assert not a.equals(gen.base_documents(500, 4))
    assert a.column_names == ["doc_id", "text", "lang", "source", "n_chars"]


def test_spec_holds_every_input_and_varies_with_seed():
    s = gen.spec_for("cli_snapshot", 5)
    assert s == gen.spec_for("cli_snapshot", 5)
    assert s != gen.spec_for("cli_snapshot", 6)
    key = gen.cache_key(s)
    for field in ("input_class", "base_rows", "factor", "files", "version"):
        assert f"{field}{s[field]}" in key
    assert gen.cache_key(gen.spec_for("validate_steady", 5)) != key


def test_generated_inputs_same_seed_same_content(tmp_path):
    def digests(work, seed):
        return gen.ensure_inputs(str(work), "cli_snapshot", seed)["tables"]

    first = digests(tmp_path / "a", 0)
    assert first == digests(tmp_path / "b", 0)
    assert first != digests(tmp_path / "c", 1)


def test_cache_entry_failing_its_check_is_regenerated(tmp_path):
    man = gen.ensure_inputs(str(tmp_path), "cli_snapshot", 2)
    victim = sorted(f for f in os.listdir(man["paths"]["previous"])
                    if f.endswith(".parquet"))[0]
    os.remove(os.path.join(man["paths"]["previous"], victim))
    entry = os.path.dirname(man["paths"]["previous"])
    assert gen._manifest_ok(entry) is None
    again = gen.ensure_inputs(str(tmp_path), "cli_snapshot", 2)
    assert again["tables"] == man["tables"] and again["gen_s"] > 0


# -- spans -----------------------------------------------------------------

def _span(i, name, start, end, parent=None):
    return {"id": i, "name": name, "start": start, "end": end,
            "parent": parent, "op": 0}


def test_self_time_subtracts_union_of_children():
    spans = [_span(1, "op", 0.0, 10.0),
             _span(2, "a", 1.0, 4.0, 1),
             _span(3, "b", 3.0, 6.0, 1),      # overlaps a by 1s
             _span(4, "c", 9.0, 12.0, 1),     # runs past its parent
             _span(5, "a.x", 1.5, 2.5, 2)]
    st = trace.self_times(spans)
    assert st[1] == pytest.approx(10.0 - (5.0 + 1.0))
    assert st[2] == pytest.approx(3.0 - 1.0)
    assert st[5] == pytest.approx(1.0)
    assert trace.coverage(spans, spans[0]) == pytest.approx(0.6)
    more = spans + [_span(6, "a", 7.0, 8.0, 1), _span(7, "a", 2.0, 2.2, 2)]
    by_name = trace.self_time_by_name(more)
    assert by_name["a"] == pytest.approx(3.2)
    assert trace.total(more, "a") == pytest.approx(4.2)
    assert trace.total(more, "a", parent="op") == pytest.approx(4.0)
    assert trace.total(more, "a", parent="a") == pytest.approx(0.2)


def test_tracer_nests_and_can_be_disabled():
    t = trace.Tracer()
    with t.span("op") as root:
        with t.span("child"):
            pass
    t.enabled = False
    with t.span("ignored") as none:
        assert none is None
    assert [s["name"] for s in t.spans] == ["op", "child"]
    assert t.spans[1]["parent"] == root["id"]


def test_parse_metric_values():
    assert parse_metric("200,000") == 200000
    assert parse_metric("total (min, med, max (stageId: taskId))\n"
                        "4.4 s (263 ms, 1.8 s, 2.0 s (stage 2.0: task 2))"
                        ) == pytest.approx(4.4)
    assert parse_metric("total (min, med, max)\n1615.0 KiB (1 KiB)"
                        ) == pytest.approx(1615.0 * 1024)
    assert parse_metric("12 ms") == pytest.approx(0.012)
    assert parse_metric(None) == 0.0


# -- correctness checks ------------------------------------------------------

def _write(table: pa.Table, path):
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))


@pytest.fixture(scope="module")
def fitted(tmp_path_factory):
    from outliertree_spark.config import ValidationConfig
    from outliertree_spark.operators.fit import fit_arrays
    from outliertree_spark.schema import (build_model_schema,
                                          pandas_to_fit_columns)
    rng = np.random.default_rng(0)
    n = 4000
    pdf = pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text_len": rng.normal(500, 20, n),
        "lang": rng.choice(["en", "fr"], n),
        "source": [f"src{i % 4}" for i in range(n)],
    })
    pdf.loc[[7, 1234], "text_len"] = 50_000.0
    kinds = {"text_len": "numeric", "lang": "categorical",
             "source": "categorical"}
    cols = pandas_to_fit_columns(pdf, kinds)
    model = fit_arrays(cols, ValidationConfig())
    model["schema"] = build_model_schema(cols)
    model["predictor_levels"] = {c.name: c.levels for c in cols
                                 if c.levels is not None}
    d = tmp_path_factory.mktemp("validate")
    _write(pa.Table.from_pandas(pdf, preserve_index=False), d / "in")
    return model, pdf, str(d / "in")


def _viol_table(rows):
    return pa.table({"doc_id": pa.array([r[0] for r in rows], pa.int64()),
                     "suspicious_column": [r[1] for r in rows]})


def test_check_validate_passes_then_fails_on_corruption(fitted, tmp_path):
    model, pdf, inp = fitted
    cols = ["doc_id", "text_len", "lang", "source"]
    want = sorted(oracle.expected_violations(model, inp, cols))
    assert (7, "text_len") in want and (1234, "text_len") in want
    verdicts = [{"n_rows": len(pdf), "n_violations": len(want)}]

    _write(_viol_table(want), tmp_path / "ok")
    assert oracle.check_validate(model, inp, cols, str(tmp_path / "ok"),
                                 verdicts, len(pdf)) == []

    dropped = want[1:]
    _write(_viol_table(dropped), tmp_path / "dropped")
    errs = oracle.check_validate(
        model, inp, cols, str(tmp_path / "dropped"),
        [{"n_rows": len(pdf), "n_violations": len(dropped)}], len(pdf))
    assert any("1 missing" in e for e in errs)

    _write(_viol_table(want + want[:1]), tmp_path / "dup")
    assert oracle.check_validate(model, inp, cols, str(tmp_path / "dup"),
                                 verdicts, len(pdf))
    bad_verdicts = [{"n_rows": len(pdf) - 1, "n_violations": len(want)}]
    assert oracle.check_validate(model, inp, cols, str(tmp_path / "ok"),
                                 bad_verdicts, len(pdf))


def _snapshot_fixture(tmp_path):
    ts = pd.Timestamp("2024-01-02")
    cur = pd.DataFrame({"doc_id": [1, 2, 3, 4], "lang": ["en"] * 4,
                        "source": ["s0", "s1", "s0", "s1"],
                        "warc_ts": [ts] * 4})
    prev = pd.DataFrame({"doc_id": [1, 2, 3, 9], "lang": ["en", "xx", "en",
                                                          "en"],
                         "source": ["s0", "s1", "s0", "s2"],
                         "warc_ts": [ts] * 4})
    _write(pa.Table.from_pandas(cur, preserve_index=False),
           tmp_path / "cur")
    _write(pa.Table.from_pandas(prev, preserve_index=False),
           tmp_path / "prev")
    # doc 2 changed (current partition s1), doc 9 removed (its old s2),
    # doc 4 added (not a violation); one quality row besides
    viols = pd.DataFrame({
        "source": ["s1", "s2", "s0"], "doc_id": [2, 9, 3],
        "suspicious_column": ["snapshot_delta", "snapshot_delta",
                              "quality"],
        "suspicious_value": ["changed", "removed", "gopher:rule_x"]})
    ledger = [{"partition": "s0", "verdict": {"n_violations": 1}},
              {"partition": "s1", "verdict": {"n_violations": 0}},
              {"marker": "snapshot_delta::prev"}]
    return viols, ledger


def _write_cli(tmp_path, name, viols, ledger):
    d = tmp_path / name
    _write(pa.Table.from_pandas(viols, preserve_index=False), d / "v")
    with open(d / "ledger.jsonl", "w") as f:
        for line in ledger:
            f.write(json.dumps(line) + "\n")
    return oracle.check_cli(str(tmp_path / "cur"), str(tmp_path / "prev"),
                            str(d / "v"), str(d / "ledger.jsonl"))


def test_check_cli_passes_then_fails_on_corruption(tmp_path):
    viols, ledger = _snapshot_fixture(tmp_path)
    assert _write_cli(tmp_path, "ok", viols, ledger) == []

    errs = _write_cli(tmp_path, "dropped", viols.drop(index=1), ledger)
    assert any("1 missing" in e for e in errs)

    wrong = viols.copy()
    wrong.loc[0, "suspicious_value"] = "removed"
    assert _write_cli(tmp_path, "wrong_type", wrong, ledger)

    assert _write_cli(tmp_path, "dup_verdict", viols, ledger + ledger[:1])
    assert _write_cli(tmp_path, "lost_quality_row", viols.drop(index=2),
                      ledger)
