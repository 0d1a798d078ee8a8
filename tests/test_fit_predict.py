"""Golden end-to-end tests on deterministic synthetic tables with planted
outliers (SURVEY.md section 5: the reference's README recipe is the
canonical assertion)."""

import numpy as np
import pytest

from outliertree_spark.config import ValidationConfig
from outliertree_spark.model import attach_conditions
from outliertree_spark.operators.cluster import (
    find_outlier_categories,
    find_outlier_categories_by_maj,
    find_outlier_categories_no_cond,
)
from outliertree_spark.operators.fit import FitColumn, fit_arrays
from outliertree_spark.operators.predict import predict_batch
from outliertree_spark.report import render_violation, simplify_conditions


def _basic_model():
    rng = np.random.RandomState(1)
    n = 100
    num1 = rng.normal(size=n)
    num1[42] = 1e6
    cat = rng.randint(0, 3, size=n)
    cols = [
        FitColumn("numeric_col1", "numeric", num1.astype(float)),
        FitColumn("categ_col", "categorical", cat.astype(np.int64),
                  levels=["categA", "categB", "categC"]),
    ]
    m = fit_arrays(cols, ValidationConfig())
    m["predictor_levels"] = {"categ_col": ["categA", "categB", "categC"]}
    m["schema"] = {
        "numeric_col1": {"kind": "numeric", "levels": None, "is_bool": False, "ts_min": None},
        "categ_col": {"kind": "categorical", "levels": ["categA", "categB", "categC"],
                      "is_bool": False, "ts_min": None},
    }
    attach_conditions(m)
    return m, num1, cat


def test_readme_recipe_planted_1e6_flagged_at_fit():
    m, num1, cat = _basic_model()
    tr = m["_train_rows"]
    flagged = np.flatnonzero(tr["scores"] < 1.0)
    assert list(flagged) == [42]
    assert m["columns"][tr["col"][42]]["name"] == "numeric_col1"
    assert tr["depth"][42] == 0


def test_readme_recipe_predict_catches_minus_1e6():
    m, num1, cat = _basic_model()
    data = {"numeric_col1": np.array([-1e6, 0.0, 0.3]),
            "categ_col": np.array([0, 1, 2])}
    res = predict_batch(m, data)
    assert res.score[0] < 1.0
    assert res.score[1] == 1.0 and res.score[2] == 1.0


def test_unseen_category_ignored_at_predict():
    m, num1, cat = _basic_model()
    data = {"numeric_col1": np.array([1e6]),
            "categ_col": np.array([3])}  # unseen category code
    res = predict_batch(m, data)
    # numeric outlier still flagged; unseen category never crashes or flags
    assert res.score[0] < 1.0
    assert m["columns"][res.col[0]]["name"] == "numeric_col1"


def test_conditional_outlier_pregnant_age():
    rng = np.random.RandomState(7)
    n = 2000
    preg = rng.rand(n) < 0.12
    age = np.where(preg, rng.normal(27, 3, n), rng.normal(45, 8, n))
    planted = int(np.flatnonzero(preg)[0])
    age[planted] = 75.0
    cols = [FitColumn("age", "numeric", age.astype(float)),
            FitColumn("pregnant", "categorical", preg.astype(np.int64),
                      levels=[False, True], is_bool=True)]
    m = fit_arrays(cols, ValidationConfig())
    m["predictor_levels"] = {"pregnant": [False, True]}
    m["schema"] = {"age": {"kind": "numeric", "levels": None, "is_bool": False, "ts_min": None},
                   "pregnant": {"kind": "categorical", "levels": [False, True],
                                "is_bool": True, "ts_min": None}}
    attach_conditions(m)

    tr = m["_train_rows"]
    assert tr["scores"][planted] < 1.0
    # the flagging cluster is conditioned on pregnant == True
    res = predict_batch(m, {"age": age, "pregnant": preg.astype(np.int64)})
    assert res.score[planted] < 1.0
    cm = m["columns"][res.col[planted]]
    cl = cm["clusters"][res.cluster[planted]]
    conds = cl["conditions"]
    assert any(c["column"] == "pregnant" and c["comparison"] == "=" for c in conds)
    # explanation renders in the reference format
    s = render_violation(m, cm, cl, planted, 75.0, {"age": 75.0, "pregnant": True})
    assert s.startswith(f"row [{planted}] - suspicious column: [age] - "
                        "suspicious value: [75.00]")
    assert "distribution:" in s and "[norm. obs:" in s
    assert "given:" in s and "[pregnant] = [True]" in s
    # 75 is NOT an outlier when not pregnant
    res2 = predict_batch(m, {"age": np.array([75.0]),
                             "pregnant": np.array([0])})
    assert res2.score[0] == 1.0


def test_rare_category_no_cond():
    # n < 10k allows at most 1 occurrence of an outlier category
    counts = np.array([800, 600, 1])
    is_out, has, next_most = find_outlier_categories_no_cond(counts, 1401)
    assert has and is_out[2] == 1
    assert next_most == pytest.approx(600 / 1401)
    # count == 2 needs n >= 10k
    counts = np.array([8000, 6000, 2])
    is_out, has, _ = find_outlier_categories_no_cond(counts, 14002)
    assert has and is_out[2] == 1
    # small sample: never flags
    is_out, has, _ = find_outlier_categories_no_cond(np.array([500, 300, 1]), 801)
    assert not has
    # next-most-common too small: no flag
    is_out, has, _ = find_outlier_categories_no_cond(np.array([1200, 100, 2]), 1302)
    assert not has


def test_categ_tail_rule():
    # one rare category in a conditioned subset, prior says it should be common
    counts = np.array([500, 480, 3])
    prior = np.array([0.35, 0.35, 0.30])
    ps = np.minimum(prior - 2.67 * np.sqrt(prior * (1 - prior) / 2000), prior / 2)
    is_out, found, new_out, next_most = find_outlier_categories(
        counts, 983, 0.01, ps, 2.67)
    assert found and is_out[2] == 1


def test_categ_majority_rule():
    counts = np.array([990, 3, 0])
    prior = np.array([0.4, 0.3, 0.3])
    is_out, found, new_out, maj = find_outlier_categories_by_maj(
        counts, 993, 0.01, prior, 8.0)
    assert maj == 0
    assert found and is_out[1] == 1
    assert new_out and is_out[2] == -1


def test_simplify_conditions_between():
    conds = [
        {"column": "x", "comparison": "<=", "value_comp": 10.0, "kind": "numeric"},
        {"column": "x", "comparison": ">", "value_comp": 2.0, "kind": "numeric"},
        {"column": "c", "comparison": "in", "value_comp": ["a", "b"], "kind": "categorical"},
        {"column": "c", "comparison": "in", "value_comp": ["b", "d"], "kind": "categorical"},
    ]
    out = simplify_conditions(conds)
    # reversed order: c first, then x
    assert out[0]["column"] == "c" and out[0]["comparison"] == "=" \
        and out[0]["value_comp"] == "b"
    assert out[1]["column"] == "x" and out[1]["comparison"] == "between" \
        and out[1]["value_comp"] == (2.0, 10.0)


def test_log_transform_column_fits():
    rng = np.random.RandomState(11)
    x = np.exp(rng.normal(0, 1.5, size=3000))
    x[5] = x.max() * 1e6  # enormous even in log scale
    cols = [FitColumn("gamma_col", "numeric", x.astype(float)),
            FitColumn("other", "numeric", rng.normal(size=3000))]
    m = fit_arrays(cols, ValidationConfig())
    names = [c["name"] for c in m["columns"]]
    assert "gamma_col" in names
    cm = m["columns"][names.index("gamma_col")]
    assert cm["transf"] == "log"
    tr = m["_train_rows"]
    assert tr["scores"][5] < 1.0


def test_model_json_roundtrip():
    from outliertree_spark.model import model_from_json, model_to_json
    m, _, _ = _basic_model()
    s = model_to_json(m)
    m2 = model_from_json(s)
    assert [c["name"] for c in m2["columns"]] == [c["name"] for c in m["columns"]]
    res = predict_batch(m2, {"numeric_col1": np.array([-1e6]),
                             "categ_col": np.array([0])})
    assert res.score[0] < 1.0


def _split_numericx_categy_reference(ix, x, ycodes, ncat_y, base_info,
                                     min_size, take_mid):
    """split_numericx_categy as it was before its m*log(m) table: a
    longdouble log per candidate cut and category over a one-hot cumsum."""
    from outliertree_spark.functions.stats import LD, total_info
    from outliertree_spark.operators.split import SplitResult

    res = SplitResult()
    tot = ix.shape[0]
    if tot < 2 * min_size:
        return res
    xv = x[ix]
    na_mask = np.isnan(xv)
    na_ix = ix[na_mask]
    rest = ix[~na_mask]
    n = rest.shape[0]
    if na_ix.shape[0] > 0 and n < 2 * min_size:
        return res
    rest = rest[np.argsort(x[rest], kind="stable")]
    xs = x[rest]
    if n == 0 or xs[0] == xs[-1]:
        res.has_zero_variance = True
        return res
    yv = ycodes[rest]
    info_na = (total_info(np.bincount(ycodes[na_ix], minlength=ncat_y))
               if na_ix.shape[0] else 0.0)
    onehot = np.zeros((n, ncat_y), dtype=np.int64)
    onehot[np.arange(n), yv] = 1
    cum = np.cumsum(onehot, axis=0)
    i = np.arange(n - 1)
    valid = (i + 1 >= min_size) & (n - 1 - i >= min_size) & (xs[:-1] != xs[1:])
    if not valid.any():
        return res
    cand = i[valid]
    left = cum[cand].astype(LD)
    right = (cum[-1] - cum[cand]).astype(LD)

    def info_rows(m):
        with np.errstate(divide="ignore", invalid="ignore"):
            term = np.where(m > 0, m * np.log(np.maximum(m, 1)), 0)
        t = m.sum(axis=1)
        return np.where(t > 0, t * np.log(np.maximum(t, 1)) - term.sum(axis=1), 0)

    gains = ((LD(base_info) - info_rows(left) - info_rows(right) - LD(info_na))
             / LD(tot)).astype(np.float64)
    best = int(np.argmax(gains))
    res.gain = float(gains[best])
    b = int(cand[best])
    res.split_point = float(0.5 * (xs[b] + xs[b + 1])) if take_mid else float(xs[b])
    res.na_ix, res.left_ix, res.right_ix = na_ix, rest[:b + 1], rest[b + 1:]
    return res


def test_split_numericx_categy_matches_per_cut_log_reference():
    from outliertree_spark.functions.stats import total_info
    from outliertree_spark.operators.split import (
        split_numericx_categy,
        split_numericx_numericy,
    )

    def bits(v):
        return np.float64(v).tobytes()

    rng = np.random.RandomState(7)
    n_rows, min_size = 4000, 50
    found = 0
    for case in range(40):
        ncat_y = [2, 3, 5, 9, 20][case % 5]
        # some categories never occur (zero counts)
        used = rng.choice(ncat_y, size=max(1, ncat_y - case % 3), replace=False)
        ycodes = used[rng.randint(0, used.shape[0], size=n_rows)].astype(np.int64)
        x = rng.normal(size=n_rows)
        if case % 2:
            x = np.round(x * 3)          # heavy ties
        x[rng.rand(n_rows) < 0.05 * (case % 4)] = np.nan
        size = [2 * min_size, 2 * min_size + 1, 400, n_rows][case % 4]
        ix = np.sort(rng.choice(n_rows, size=size, replace=False))
        if case % 7 == 3:
            ix = rng.permutation(ix)     # rows not in index order
        base_info = total_info(np.bincount(ycodes[ix], minlength=ncat_y))
        # the shared sort order is used for the larger index-ordered ix
        # and ignored for the others; both must give the argsort result
        x_order = np.argsort(x, kind="stable")
        y_num = rng.normal(size=n_rows)
        for take_mid in (True, False):
            ref = _split_numericx_categy_reference(ix, x, ycodes, ncat_y,
                                                   base_info, min_size, take_mid)
            pairs = [(split_numericx_categy(ix, x, ycodes, ncat_y, base_info,
                                            min_size, take_mid, xo), ref)
                     for xo in (None, x_order)]
            pairs.append((split_numericx_numericy(ix, x, y_num, 1.0, min_size,
                                                  take_mid, x_order),
                          split_numericx_numericy(ix, x, y_num, 1.0, min_size,
                                                  take_mid, None)))
            for new, old in pairs:
                assert bits(new.gain) == bits(old.gain), case
                assert bits(new.split_point) == bits(old.split_point), case
                assert new.has_zero_variance == old.has_zero_variance
                for a, b in ((new.na_ix, old.na_ix), (new.left_ix, old.left_ix),
                             (new.right_ix, old.right_ix)):
                    assert (a is None) == (b is None)
                    if a is not None:
                        np.testing.assert_array_equal(a, b)
            found += np.isfinite(ref.gain)
    assert found >= 40   # most cases reach the gain computation


def _stale_flag_frame(seed=0, n=2000):
    rng = np.random.RandomState(seed)
    grp = rng.randint(0, 3, size=n)
    color = rng.randint(0, 4, size=n)
    size = rng.randint(0, 3, size=n)
    a = rng.normal(size=n) + 5.0 * size
    b = rng.normal(size=n) * (1 + color) + 3 * grp
    # outliers in a's last branch cluster (size > m) leave has_outliers
    # True when a's fit ends, so b starts from the stale flag
    a[np.flatnonzero(size == 2)[:2]] += 40.0
    b[rng.choice(n, 3, replace=False)] -= 60.0
    a[rng.choice(n, 20, replace=False)] = np.nan
    # one row each of a rare level, so every target gets a root cluster
    grp[11], color[12], size[13] = 3, 4, 3
    return [
        FitColumn("a", "numeric", a),
        FitColumn("grp", "categorical", grp.astype(np.int64),
                  levels=["g0", "g1", "g2", "g3"]),
        FitColumn("b", "numeric", b),
        FitColumn("color", "categorical", color.astype(np.int64),
                  levels=["r", "g", "b", "y", "p"]),
        FitColumn("size", "ordinal", size.astype(np.int64),
                  levels=["s", "m", "l", "xl"]),
    ]


def test_parallel_fit_equals_one_worker(monkeypatch):
    import os

    from outliertree_spark.model import model_to_json
    from outliertree_spark.operators import fit as fit_mod

    stale_at_start = {}
    fit_numeric = fit_mod._ColumnFit.fit_numeric

    def recording_fit_numeric(self):
        stale_at_start[self.target.name] = self.has_outliers
        return fit_numeric(self)

    monkeypatch.setattr(fit_mod._ColumnFit, "fit_numeric", recording_fit_numeric)
    cfg = ValidationConfig(max_depth=1)
    pooled = fit_arrays(_stale_flag_frame(), cfg)
    assert stale_at_start == {"a": False, "b": True}

    stale_at_start.clear()
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0})
    single = fit_arrays(_stale_flag_frame(), cfg)
    assert stale_at_start == {"a": False, "b": True}

    assert [c["name"] for c in pooled["columns"]] == ["a", "b", "grp", "color", "size"]
    tr_pooled, tr_single = pooled.pop("_train_rows"), single.pop("_train_rows")
    assert model_to_json(pooled) == model_to_json(single)
    assert sorted(tr_pooled) == sorted(tr_single)
    for k in tr_pooled:
        assert tr_pooled[k].dtype == tr_single[k].dtype
        np.testing.assert_array_equal(tr_pooled[k], tr_single[k])
    assert (tr_pooled["scores"] < 1.0).sum() > 0
