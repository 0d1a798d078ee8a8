"""Split-search operators (gain computation).

NumPy re-expressions of the reference's eight split kernels
(src/split.cpp).  All follow the same contract: given the target column
``y`` and a candidate predictor ``x`` restricted to a node's row subset,
return the best split's gain plus the information needed to partition the
rows.  NAs in ``x`` go to their own branch.  Prefix/suffix scans replace
the reference's Welford passes with longdouble cumulative sums.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np

from ..config import SD_REG
from ..functions.stats import LD, categ_gain, total_info, z_score_arr

NEG_INF = -math.inf


@dataclass
class SplitResult:
    gain: float = NEG_INF
    split_point: float = NEG_INF        # numeric threshold
    split_lev: int = -1                 # ordinal level (left is <= lev)
    split_subset: np.ndarray | None = None  # {1,0,-1} per predictor category
    has_zero_variance: bool = False
    is_binary_split: bool = False
    na_ix: np.ndarray | None = None     # row indices per branch (for numeric-x)
    left_ix: np.ndarray | None = None
    right_ix: np.ndarray | None = None


def _nsd_prefix(y: np.ndarray) -> np.ndarray:
    """n_i * sd_i at every prefix length i=1..n (sd with ddof=1, 0 if i<2)."""
    yl = y.astype(LD, copy=False)
    n = yl.shape[0]
    cs = np.cumsum(yl)
    cs2 = np.cumsum(yl * yl)
    k = np.arange(1, n + 1, dtype=LD)
    with np.errstate(invalid="ignore", divide="ignore"):
        ssq = cs2 - cs * cs / k
        sd = np.sqrt(np.maximum(ssq, 0) / np.maximum(k - 1, 1))
    sd[0] = 0
    return k * sd


def _sorted_by_x(rest: np.ndarray, x: np.ndarray,
                 x_order: np.ndarray | None) -> np.ndarray:
    """``rest`` (rows with a non-NA ``x``) ordered by ``x``, ties kept in
    ``rest``'s order, as a stable argsort of ``x[rest]`` gives.
    ``x_order`` is a stable argsort of all of ``x``: when ``rest`` is in
    ascending row order, the same order is ``x_order`` filtered to
    ``rest``, with no sort.  The filter makes a few passes over all of
    ``x``, so it is used only when ``rest`` holds at least 1/16 of it."""
    if (x_order is not None and rest.shape[0] * 16 >= x.shape[0]
            and (rest[1:] > rest[:-1]).all()):
        member = np.zeros(x.shape[0], dtype=bool)
        member[rest] = True
        return x_order[member[x_order]]
    return rest[np.argsort(x[rest], kind="stable")]


def split_numericx_numericy(ix: np.ndarray, x: np.ndarray, y: np.ndarray,
                            sd_y: float, min_size: int, take_mid: bool,
                            x_order: np.ndarray | None) -> SplitResult:
    """S1 (src/split.cpp:252-333): sort by x, scan all distinct-x boundaries."""
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
    rest = _sorted_by_x(rest, x, x_order)
    xs = x[rest]
    if n == 0 or xs[0] == xs[-1]:
        res.has_zero_variance = True
        return res
    ysv = y[rest]

    info_na = 0.0
    if na_ix.shape[0] > 0:
        yna = y[na_ix].astype(LD, copy=False)
        m = yna.shape[0]
        if m < 2:
            # reference divides by zero here (NaN gain) -> predictor unusable
            return res
        mu = yna.sum() / m
        info_na = float(m * np.sqrt(np.square(yna - mu).sum() / (m - 1)))

    pre = _nsd_prefix(ysv)           # n*sd of left branch at cut i (1-based count)
    suf = _nsd_prefix(ysv[::-1])[::-1]  # n*sd of right branch starting at i

    cnt = float(tot)
    # candidate cuts: after position i (0-based), i+1 on the left
    i = np.arange(n - 1)
    valid = (i + 1 >= min_size) & (n - 1 - i >= min_size) & (xs[:-1] != xs[1:])
    if not valid.any():
        return res
    cand = i[valid]
    gains = (LD(sd_y) - (pre[cand] + suf[cand + 1] + LD(info_na)) / LD(cnt)).astype(np.float64)
    best = int(np.argmax(gains))
    res.gain = float(gains[best])
    b = int(cand[best])
    res.split_point = float(0.5 * (xs[b] + xs[b + 1])) if take_mid else float(xs[b])
    res.na_ix = na_ix
    res.left_ix = rest[:b + 1]
    res.right_ix = rest[b + 1:]
    return res


def split_categx_numericy(ix: np.ndarray, codes: np.ndarray, y: np.ndarray,
                          sd_y: float, mean_y: float, x_is_ordinal: bool,
                          ncat_x: int, min_size: int) -> SplitResult:
    """S2 (src/split.cpp:386-525): per-category z-scored moments, sort by
    mean (or keep order if ordinal), linear subset scan."""
    res = SplitResult()
    xv = codes[ix]
    z = z_score_arr(y[ix], mean_y, max(sd_y, 1e-12))
    na_mask = xv < 0
    slot = np.where(na_mask, ncat_x, xv)
    cnt = np.bincount(slot, minlength=ncat_x + 1).astype(np.int64)
    s = np.bincount(slot, weights=z, minlength=ncat_x + 1)
    s2 = np.bincount(slot, weights=z * z, minlength=ncat_x + 1)

    n_unique = int((s2[:ncat_x] > 0).sum())
    if n_unique <= 1:
        res.has_zero_variance = True
        return res

    def branch_info(c, ss, ss2):
        if c < 3:
            return LD(0.0)
        return LD(c) * np.sqrt((LD(ss2) - LD(ss) ** 2 / LD(c) + LD(SD_REG)) / LD(c - 1))

    na_info = branch_info(cnt[ncat_x], s[ncat_x], s2[ncat_x])
    tot = LD(ix.shape[0])

    if ncat_x == 2:
        if cnt[0] < min_size or cnt[1] < min_size:
            return res
        resid = na_info + branch_info(cnt[0], s[0], s2[0]) + branch_info(cnt[1], s[1], s2[1])
        res.gain = float((LD(1.0) - resid / tot) * LD(sd_y))
        subset = np.zeros(ncat_x, dtype=np.int8)
        subset[0] = 1
        res.split_subset = subset
        res.is_binary_split = True
        return res

    if x_is_ordinal:
        order = np.arange(ncat_x)
        st_cat = 0
    else:
        present = cnt[:ncat_x] > 0
        means = np.where(present, s[:ncat_x] / np.maximum(cnt[:ncat_x], 1), -np.inf)
        order_present = np.argsort(-means[present], kind="stable")
        pres_ids = np.flatnonzero(present)[order_present]
        order = np.concatenate([np.flatnonzero(~present), pres_ids])
        st_cat = int((~present).sum())
        if ncat_x - st_cat == 2:
            res.is_binary_split = True

    rc, rs, rs2 = int(cnt[:ncat_x].sum()), LD(s[:ncat_x].sum()), LD(s2[:ncat_x].sum())
    lc, ls, ls2 = 0, LD(0.0), LD(0.0)
    # NOTE reference quirk (split.cpp:510-517): the running best is stored
    # already multiplied by sd_y, but each candidate is compared in z-units
    # -- so with sd_y > 1 the first qualifying subset effectively wins.
    # Mirrored exactly; verified by tools/diff_vs_reference.py.
    best_gain_scaled = NEG_INF
    best_cat_pos = -1
    for pos in range(st_cat, ncat_x):
        c = order[pos]
        rc -= int(cnt[c]); rs -= LD(s[c]); rs2 -= LD(s2[c])
        lc += int(cnt[c]); ls += LD(s[c]); ls2 += LD(s2[c])
        if lc < min_size or rc < min_size:
            continue
        resid = na_info + branch_info(lc, ls, ls2) + branch_info(rc, rs, rs2)
        g = float(LD(1.0) - resid / tot)
        if g > best_gain_scaled:
            best_gain_scaled = g * sd_y
            best_cat_pos = pos
    if best_cat_pos < 0:
        return res
    res.gain = best_gain_scaled
    if x_is_ordinal:
        res.split_lev = best_cat_pos
    else:
        subset = np.zeros(ncat_x, dtype=np.int8)
        subset[order[st_cat:best_cat_pos + 1]] = 1
        subset[cnt[:ncat_x] == 0] = -1
        res.split_subset = subset
    return res


def split_numericx_categy(ix: np.ndarray, x: np.ndarray, ycodes: np.ndarray,
                          ncat_y: int, base_info: float, min_size: int,
                          take_mid: bool,
                          x_order: np.ndarray | None) -> SplitResult:
    """S3 (src/split.cpp:569-639): sort by x, cumulative per-category counts."""
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
    rest = _sorted_by_x(rest, x, x_order)
    xs = x[rest]
    if n == 0 or xs[0] == xs[-1]:
        res.has_zero_variance = True
        return res
    yv = ycodes[rest]

    info_na = total_info(np.bincount(ycodes[na_ix], minlength=ncat_y)) if na_ix.shape[0] else 0.0

    i = np.arange(n - 1)
    valid = (i + 1 >= min_size) & (n - 1 - i >= min_size) & (xs[:-1] != xs[1:])
    if not valid.any():
        return res
    cand = i[valid]
    # per-category counts of the left branch after each candidate cut
    # (one running count per category) and of the right branch
    left = np.empty((cand.shape[0], ncat_y), dtype=np.int64)
    for c in range(ncat_y):
        left[:, c] = np.cumsum(yv == c)[cand]
    right = np.bincount(yv, minlength=ncat_y) - left

    # m*log(m) for every count 0..n, in longdouble, looked up instead of
    # taking a log per cut and category: each looked-up element is the
    # product the per-cut log gave, summed in the same order.  A branch's
    # counts add up to its size: cand + 1 rows on the left, the rest right.
    k = np.arange(n + 1, dtype=LD)
    mlogm = k * np.log(np.maximum(k, 1))
    info_left = mlogm[cand + 1] - mlogm[left].sum(axis=1)
    info_right = mlogm[n - 1 - cand] - mlogm[right].sum(axis=1)

    gains = ((LD(base_info) - info_left - info_right - LD(info_na))
             / LD(tot)).astype(np.float64)
    best = int(np.argmax(gains))
    res.gain = float(gains[best])
    b = int(cand[best])
    res.split_point = float(0.5 * (xs[b] + xs[b + 1])) if take_mid else float(xs[b])
    res.na_ix = na_ix
    res.left_ix = rest[:b + 1]
    res.right_ix = rest[b + 1:]
    return res


def _crosstab(xcodes: np.ndarray, ycodes: np.ndarray, ncat_x: int, ncat_y: int):
    flat = xcodes * ncat_y + ycodes
    return np.bincount(flat, minlength=ncat_x * ncat_y).reshape(ncat_x, ncat_y)


def split_ordx_categy(ix: np.ndarray, xcodes: np.ndarray, ycodes: np.ndarray,
                      ncat_y: int, ncat_x: int, base_info: float,
                      min_size: int) -> SplitResult:
    """S4 (src/split.cpp:686-770): scan ordinal levels in order."""
    res = SplitResult()
    tot = ix.shape[0]
    if tot < 2 * min_size:
        return res
    xv = xcodes[ix]
    na_mask = xv < 0
    na_ix = ix[na_mask]
    rest = ix[~na_mask]
    n = rest.shape[0]
    if na_ix.shape[0] > 0 and n < 2 * min_size:
        return res
    na_counts = np.bincount(ycodes[na_ix], minlength=ncat_y) if na_ix.shape[0] else np.zeros(ncat_y, dtype=np.int64)

    ct = _crosstab(xcodes[rest], ycodes[rest], ncat_x, ncat_y)
    ord_cnt = ct.sum(axis=1)
    n_unique = int((ord_cnt > 0).sum())
    if n_unique <= 1:
        res.has_zero_variance = True
        return res
    if n_unique == 2:
        res.is_binary_split = True

    left = np.zeros(ncat_y, dtype=np.int64)
    right = ct.sum(axis=0)
    size_left, size_right = 0, n
    best_gain, best_lev = NEG_INF, -1
    for lev in range(ncat_x - 1):
        left += ct[lev]
        right -= ct[lev]
        size_left += int(ord_cnt[lev])
        size_right -= int(ord_cnt[lev])
        if size_left < min_size or size_right < min_size:
            continue
        g = categ_gain(na_counts, left, right, base_info, tot)
        if g > best_gain:
            best_gain, best_lev = g, lev
    if best_lev < 0:
        return res
    res.gain = best_gain
    res.split_lev = best_lev
    return res


def split_categx_biny(ix: np.ndarray, xcodes: np.ndarray, ybin: np.ndarray,
                      ncat_x: int, base_info: float, min_size: int) -> SplitResult:
    """S5 (src/split.cpp:817-912): sort categories by P(y=0), linear scan."""
    res = SplitResult()
    tot = ix.shape[0]
    if tot < 2 * min_size:
        return res
    xv = xcodes[ix]
    na_mask = xv < 0
    na_ix = ix[na_mask]
    rest = ix[~na_mask]
    n = rest.shape[0]
    if na_ix.shape[0] > 0 and n < 2 * min_size:
        return res
    na_counts = np.bincount(ybin[na_ix], minlength=2) if na_ix.shape[0] else np.zeros(2, dtype=np.int64)

    ct = _crosstab(xcodes[rest], ybin[rest], ncat_x, 2)
    cat_cnt = ct.sum(axis=1)
    present = cat_cnt > 0
    if int(present.sum()) <= 1:
        res.has_zero_variance = True
        return res

    with np.errstate(divide="ignore", invalid="ignore"):
        p0 = np.where(present, ct[:, 0] / np.maximum(cat_cnt, 1), 0.0)
    pres_ids = np.flatnonzero(present)
    pres_sorted = pres_ids[np.argsort(-p0[pres_ids], kind="stable")]
    st_cat = ncat_x - pres_sorted.shape[0]
    if pres_sorted.shape[0] == 2:
        res.is_binary_split = True

    left = np.zeros(2, dtype=np.int64)
    right = ct.sum(axis=0)
    size_left, size_right = 0, n
    best_gain = NEG_INF
    best_pos = -1
    # reference scans positions st_cat .. ncat_x-2 of the sorted list,
    # so the last sorted category always stays on the right branch
    for pos in range(pres_sorted.shape[0]):
        if st_cat + pos >= ncat_x - 1:
            break
        c = pres_sorted[pos]
        left += ct[c]
        right -= ct[c]
        size_left += int(cat_cnt[c])
        size_right -= int(cat_cnt[c])
        if size_left < min_size or size_right < min_size:
            continue
        g = categ_gain(na_counts, left, right, base_info, tot)
        if g > best_gain:
            best_gain = g
            best_pos = pos
    if best_pos < 0:
        return res
    res.gain = best_gain
    subset = np.zeros(ncat_x, dtype=np.int8)
    subset[pres_sorted[:best_pos + 1]] = 1
    subset[~present] = -1
    res.split_subset = subset
    return res


def split_categx_categy_separate(ix: np.ndarray, xcodes: np.ndarray, ycodes: np.ndarray,
                                 ncat_x: int, ncat_y: int, base_info: float,
                                 min_size: int) -> SplitResult:
    """S6 (src/split.cpp:950-993): one branch per category, gain from crosstab."""
    res = SplitResult()
    xv = xcodes[ix]
    na_mask = xv < 0
    na_ix = ix[na_mask]
    rest = ix[~na_mask]
    ct = _crosstab(xcodes[rest], ycodes[rest], ncat_x, ncat_y)
    cat_cnt = ct.sum(axis=1)
    if cat_cnt.max(initial=0) < min_size:
        return res
    info = sum(total_info(ct[c]) for c in range(ncat_x))
    if na_ix.shape[0]:
        info += total_info(np.bincount(ycodes[na_ix], minlength=ncat_y))
    res.gain = float((LD(base_info) - LD(info)) / LD(ix.shape[0]))
    return res


def split_categx_categy_subset(ix: np.ndarray, xcodes: np.ndarray, ycodes: np.ndarray,
                               ncat_x: int, ncat_y: int, base_info: float,
                               min_size: int) -> SplitResult:
    """S7 (src/split.cpp:1042-1202): brute-force subset search over the
    present predictor categories (2^k enumeration; caller guards k)."""
    res = SplitResult()
    tot = ix.shape[0]
    if tot < 2 * min_size:
        return res
    xv = xcodes[ix]
    na_mask = xv < 0
    na_ix = ix[na_mask]
    rest = ix[~na_mask]
    n = rest.shape[0]
    if na_ix.shape[0] > 0 and n < 2 * min_size:
        return res
    na_counts = np.bincount(ycodes[na_ix], minlength=ncat_y) if na_ix.shape[0] else np.zeros(ncat_y, dtype=np.int64)

    ct = _crosstab(xcodes[rest], ycodes[rest], ncat_x, ncat_y)
    cat_cnt = ct.sum(axis=1)
    present = np.flatnonzero(cat_cnt > 0)
    k = present.shape[0]
    if k <= 1:
        res.has_zero_variance = True
        return res
    if k == 2:
        res.is_binary_split = True
    if k > 20:
        return res  # same guard spirit as the reference's 2^ncat warning

    best_gain = NEG_INF
    best_mask = 0
    for mask in range(1, (1 << k) - 1):
        sel = [present[j] for j in range(k) if (mask >> j) & 1]
        left = ct[sel].sum(axis=0)
        size_left = int(left.sum())
        size_right = n - size_left
        if size_left < min_size or size_right < min_size:
            continue
        right = ct.sum(axis=0) - left
        g = categ_gain(na_counts, left, right, base_info, tot)
        if g > best_gain:
            best_gain = g
            best_mask = mask
    if best_mask == 0:
        return res
    res.gain = best_gain
    subset = np.zeros(ncat_x, dtype=np.int8)
    for j in range(k):
        if (best_mask >> j) & 1:
            subset[present[j]] = 1
    subset[cat_cnt == 0] = -1
    res.split_subset = subset
    return res


def categ_gain_from_split(ix_na: np.ndarray, ix_left: np.ndarray, ix_right: np.ndarray,
                          ycodes: np.ndarray, ncat_y: int, base_info: float) -> float:
    """Recompute gain on the original (non-binarized) target categories for
    a given partition (src/split.cpp:188-213)."""
    tot = ix_na.shape[0] + ix_left.shape[0] + ix_right.shape[0]
    info = LD(base_info)
    for part in (ix_na, ix_left, ix_right):
        if part.shape[0]:
            info -= LD(total_info(np.bincount(ycodes[part], minlength=ncat_y)))
    return float(info / LD(tot))
