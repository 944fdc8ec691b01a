"""Mergeable frequency sketches: distributed heavy hitters.

The reference has no aggregation at all (SURVEY.md §2A bottom); this is
north-star "Sketches" surface alongside the HLL distinct-count rollup
(plans/advanced.py): one-pass, bounded-memory frequent-items detection
that still returns EXACT answers.

Misra-Gries at 100 TB
---------------------
A plain ``groupBy(key).count()`` shuffles every distinct key; when the
question is only "which keys exceed phi = 1/k of the stream" that is
wasted movement — the answer has at most ``k-1`` rows. The classic
two-phase shape used here:

1. **Per-partition Misra-Gries summaries** (``mapInPandas``): each task
   streams its Arrow batches through at most ``k`` counters (the
   decrement step evicts all keys when a new key arrives and the table
   is full). Memory is O(k) per task regardless of partition size or
   distinct-key count — THE property a value_counts()-style local
   aggregate lacks.
2. **Candidate merge + exact verify**: summaries are tiny (≤ k rows per
   partition) so the merged candidate set is bounded by k × partitions;
   a second scan counts ONLY candidate keys (broadcast semi-filter — no
   full-key shuffle) and keeps those with true count > n/k.

Guarantee (why no heavy hitter is missed): per-partition MG undercounts
any key by at most n_p/k; summing summaries across partitions
undercounts by at most Σ n_p/k = n/k. A key with true count > n/k
therefore has a positive merged estimate, i.e. it appears among the
candidates, and the exact pass then reports its true count. False
positives are impossible by construction (exact verification).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _mg_partition(batches: Iterator[pd.DataFrame], k: int) -> Iterator[pd.DataFrame]:
    """Stream one partition's batches through a k-counter Misra-Gries
    table; emit the surviving (key, lower-bound count) rows plus one
    sentinel row (key=None) carrying the partition's total row count."""
    counters: dict = {}
    total = 0
    for pdf in batches:
        # total counts EVERY row, null keys included — value_counts drops
        # nulls, so accumulating total from it would silently shrink the
        # n/k threshold relative to the count(*)-based contract whenever
        # the key column contains NULLs.
        total += len(pdf)
        # value_counts per Arrow batch is safe (batch-bounded), then the
        # batch's counts fold into the bounded MG table.
        for key, cnt in pdf.iloc[:, 0].value_counts().items():
            if key in counters:
                counters[key] += int(cnt)
            elif len(counters) < k:
                counters[key] = int(cnt)
            else:
                # decrement-all by the incoming weight, capped at the
                # smallest counter (weighted MG step, Berinde et al.)
                dec = min(int(cnt), min(counters.values()))
                counters = {
                    ky: c - dec for ky, c in counters.items() if c - dec > 0
                }
                rem = int(cnt) - dec
                if rem > 0 and len(counters) < k:
                    counters[key] = rem
    out = pd.DataFrame(
        {
            "key": list(counters.keys()) + [None],
            "est": list(counters.values()) + [0],
            "part_n": [0] * len(counters) + [total],
        }
    )
    yield out


def heavy_hitters(df: DataFrame, key_col: str, k: int) -> DataFrame:
    """Exact keys with frequency > n/k via Misra-Gries candidates + an
    exact verification pass. Returns (key, cnt) with true counts.

    Null contract: ``n`` is count(*) over ALL rows (null keys included),
    matching a SQL ``HAVING count(*) > (SELECT count(*) FROM t)/k``
    threshold; NULL itself is never reported as a heavy hitter (SQL
    GROUP BY would report it — callers needing that should coalesce the
    key to a sentinel first).

    Plan shape: scan #1 is narrow (mapInPandas, no shuffle) and reduces
    to ≤ k rows/partition; the summary union aggregates on the driver-
    side-sized candidate table; scan #2 filters to candidate keys
    (broadcast isin-style semi-join) before a hash aggregate whose
    distinct-key domain is ≤ k × partitions. No full-cardinality shuffle
    anywhere."""
    keyed = df.select(F.col(key_col).cast("string").alias("key"))
    summaries = keyed.mapInPandas(
        lambda it: _mg_partition(it, k),
        schema="key string, est bigint, part_n bigint",
    )
    # Tiny by construction (≤ (k+1) rows × partitions): merge summaries,
    # split into the candidate key set and the global count n. The only
    # driver-side value is n (one row); candidates stay a DataFrame and
    # reach scan #2 as a broadcast semi-join, never an IN-literal list.
    merged = summaries.groupBy("key").agg(
        F.sum("est").alias("est"), F.sum("part_n").alias("pn")
    )
    merged = merged.persist()
    try:
        n = int(merged.agg(F.sum("pn")).collect()[0][0])
        candidates = merged.where(
            F.col("key").isNotNull() & (F.col("est") > 0)
        ).select("key")
        exact = (
            keyed.join(F.broadcast(candidates), "key", "left_semi")
            .groupBy("key")
            .agg(F.count("*").alias("cnt"))
            .where(F.col("cnt") > F.lit(n / k))
        )
        # Materialize eagerly so unpersisting the summary table is safe.
        return exact.localCheckpoint(eager=True)
    finally:
        merged.unpersist()


# --- t-digest (mergeable quantiles) -----------------------------------------
#
# Dunning & Ertl, "Computing extremely accurate quantiles using
# t-digests" (2019). The quantile tier of the sketch family: HLL =
# distinct, theta = set algebra, CMS = per-key counts, Misra-Gries = top
# keys, t-digest = any quantile. Spark exposes no re-aggregatable
# quantile binary (approx_percentile's intermediate state is not a user
# surface), so at 100 TB "store per-slice summaries, answer any coarser
# percentile later WITHOUT rescanning raw" needs this operator.
#
# Centroids are (mean, weight) pairs kept small by the k1 scale function
# k(q) = delta/(2pi) * asin(2q-1): fine near the tails, coarse in the
# middle, so tail quantiles stay accurate at O(delta) memory. Digests
# merge by concatenating centroid streams and re-compressing — the
# merge is associative enough that rank error stays O(1/delta) after
# any rollup tree (the property the gate checks).


def _td_compress(means, weights, delta: float):
    """One merge-compress pass: sort by mean, greedily coalesce neighbors
    while the k1 size bound allows. Returns (means, weights) numpy arrays
    with O(delta) length. Deterministic for a fixed input order (stable
    sort breaks mean ties by position).

    Two tiers with identical greedy boundaries: the raw build path
    (all weights 1.0 — the only place input size is unbounded) is
    vectorized, looping over the O(delta) output clusters instead of
    the n input values; weighted merges (centroid streams, already
    O(delta) per digest) keep the scalar greedy loop."""
    import numpy as np

    if len(means) == 0:
        return np.array([]), np.array([])
    means = np.asarray(means, dtype=float)
    weights = np.asarray(weights, dtype=float)

    def k(q):
        return delta / (2.0 * np.pi) * np.arcsin(2.0 * q - 1.0)

    def k_inv(y):
        return (np.sin(np.clip(y, k(0.0), k(1.0)) * 2.0 * np.pi / delta) + 1.0) / 2.0

    if np.all(weights == 1.0):
        # Unit weights: the sort permutation among equal means is
        # irrelevant (all rows identical), so plain np.sort replaces
        # argsort + gather and the stable tie-break is vacuous.
        return _td_compress_unit(np.sort(means), float(len(means)), k, k_inv)
    order = np.argsort(means, kind="stable")
    means, weights = means[order], weights[order]
    return _td_compress_greedy(means, weights, float(weights.sum()), k, k_inv)


def _td_compress_greedy(means, weights, W, k, k_inv):
    """Scalar greedy reference loop (general weights). Also the parity
    oracle for ``_td_compress_unit`` in tests/test_sketches.py."""
    import numpy as np

    out_m, out_w = [], []
    cur_m, cur_w = means[0], weights[0]
    emitted = 0.0
    qlim = k_inv(k(0.0) + 1.0)
    for m, w in zip(means[1:], weights[1:]):
        if (emitted + cur_w + w) / W <= qlim:
            cur_m += (m - cur_m) * (w / (cur_w + w))
            cur_w += w
        else:
            out_m.append(cur_m)
            out_w.append(cur_w)
            emitted += cur_w
            qlim = k_inv(k(emitted / W) + 1.0)
            cur_m, cur_w = m, w
    out_m.append(cur_m)
    out_w.append(cur_w)
    return np.array(out_m), np.array(out_w)


def _td_compress_unit(means, W, k, k_inv):
    """Unit-weight fast path of ``_td_compress``, O(delta log n).

    With unit weights every greedy-loop quantity is an exact small
    integer in binary64 (`emitted + cur_w + w` is exactly float(i+1)
    when considering sorted item i), so the absorb condition
    ``(emitted + cur_w + w)/W <= qlim`` is exactly ``(i+1)/W <= qlim``
    — monotone in i, hence each cluster's end is one searchsorted over
    the precomputed (i+1)/W ladder and the loop runs once per OUTPUT
    centroid (O(delta)), not per input value. Cluster BOUNDARIES are
    bit-identical to the greedy loop (property-tested); cluster means
    use pairwise-summed reduceat instead of the loop's incremental
    mean — last-ulp drift only, inside every gate's tolerance."""
    import numpy as np

    n = len(means)
    qarr = np.arange(1, n + 1, dtype=float) / W
    starts = []
    s = 0
    while s < n:
        starts.append(s)
        qlim = k_inv(k(s / W) + 1.0)
        e = int(np.searchsorted(qarr, qlim, side="right")) - 1
        s = max(e, s) + 1
    starts = np.asarray(starts, dtype=np.intp)
    counts = np.diff(np.append(starts, n)).astype(float)
    return np.add.reduceat(means, starts) / counts, counts


def _td_quantile(means, weights, q: float) -> float:
    """Estimate the q-quantile from a compressed digest: each centroid's
    mass is centered at its mean (half-weight convention); linear
    interpolation between adjacent centroid means, clamped to the
    outermost means."""
    import numpy as np

    if len(means) == 0:
        return float("nan")
    W = float(weights.sum())
    target = q * W
    cum = np.cumsum(weights) - weights / 2.0
    if target <= cum[0]:
        return float(means[0])
    if target >= cum[-1]:
        return float(means[-1])
    i = int(np.searchsorted(cum, target) - 1)
    frac = (target - cum[i]) / (cum[i + 1] - cum[i])
    a, b = float(means[i]), float(means[i + 1])
    return min(max(_lerp(a, b, frac), a), b)


def _lerp(a: float, b: float, t: float) -> float:
    """``a + t*(b-a)`` for ``0 <= t <= 1``, exact at both ends and
    monotone in ``t`` (the C++20 ``std::lerp`` rules, P0811).

    Neither textbook form has both properties: the one-sided form
    cancels when |a| >> |b| (a=-66, b=-1-6e-15, t=1 rounds to -1.0 > b),
    and the two-sided ``(1-t)*a + t*b`` is not monotone when a and b are
    an ulp apart, so a higher quantile could come out lower."""
    if (a <= 0.0 <= b) or (b <= 0.0 <= a):
        # opposite signs: both terms move the same way as t grows
        return t * b + (1.0 - t) * a
    if t == 1.0:
        return b
    x = a + t * (b - a)
    return min(x, b) if b > a else max(x, b)


def tdigest_partials(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    delta: float = 200.0,
) -> DataFrame:
    """Scan #1 (the only pass over raw data): one digest per group per
    Arrow batch via ``mapInPandas`` — no shuffle, memory O(delta) per
    group per batch, NULL values dropped (SQL percentile semantics).
    Emits (group..., td_means array<double>, td_weights array<double>,
    td_n bigint); td_n carries the exact non-null count (sum of weights,
    kept integral so counts cross engines exactly)."""
    cols = group_cols + [value_col]
    schema = ", ".join(
        [f"`{c}` string" for c in group_cols]
        + ["td_means array<double>", "td_weights array<double>", "td_n bigint"]
    )

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        # Vectorized per-batch build (r12): one lexsort + boundary scan
        # replaces pandas groupby — at gate SF a batch holds thousands of
        # (type, hour) groups of a few rows each, and the per-group
        # pandas dispatch dominated the whole partials pass (guide §4.2:
        # hand whole batches to numpy). Group membership, value order,
        # and the unit-weight compress boundaries are identical to the
        # groupby form, so emitted digests are bit-identical.
        for pdf in batches:
            pdf = pdf.dropna(subset=[value_col])
            if pdf.empty:
                continue
            vals = pdf[value_col].to_numpy(dtype=float)
            # NULL group values stay SQL NULL — str() would coerce them
            # to the literal 'None'/'nan' and merge with any genuine
            # 'None' string group
            keys = [
                np.array(
                    [
                        None
                        if kk is None or (isinstance(kk, float) and kk != kk)
                        else str(kk)
                        for kk in pdf[c]
                    ],
                    dtype=object,
                )
                for c in group_cols
            ]
            codes = pd.factorize(
                pd.MultiIndex.from_arrays(keys) if len(keys) > 1 else keys[0],
                use_na_sentinel=False,
            )[0]
            order = np.lexsort((vals, codes))
            codes, vals = codes[order], vals[order]
            starts = np.flatnonzero(np.r_[True, codes[1:] != codes[:-1]])
            ends = np.r_[starts[1:], len(codes)]
            first = order[starts]  # one representative row per group
            out = {
                c: keys[i][first] for i, c in enumerate(group_cols)
            }
            ms, ws, ns = [], [], []
            for s, e in zip(starts, ends):
                m, w = _td_compress(vals[s:e], [1.0] * (e - s), delta)
                ms.append(list(m))
                ws.append(list(w))
                ns.append(e - s)
            out["td_means"] = ms
            out["td_weights"] = ws
            out["td_n"] = np.asarray(ns, dtype=np.int64)
            yield pd.DataFrame(out)

    return df.select(*cols).mapInPandas(build, schema=schema)


def tdigest_rollup(
    partials: DataFrame,
    group_cols: list[str],
    quantiles: list[float],
    delta: float = 200.0,
) -> DataFrame:
    """Merge partial digests up to ``group_cols`` (any PREFIX of the
    partial's grouping — the rollup) and estimate ``quantiles``. One
    shuffle keyed by the output group; each task touches only centroid
    arrays (O(delta) per input digest), never raw values. Output:
    (group..., n, est_q50-style columns ``est_p<percent>``, fractional
    percents with ``_`` for the point: q=0.999 -> ``est_p99_9``)."""
    est_cols = [
        f"est_p{round(q * 100, 6):g}".replace(".", "_") for q in quantiles
    ]
    if len(set(est_cols)) != len(est_cols):
        # int(round(q*100)) used to collapse e.g. 0.999 and 1.0 into one
        # duplicate est_p100 column — the tail quantiles a t-digest
        # exists to serve; labels are now exact, so a collision means
        # the caller passed a genuine duplicate
        raise ValueError(f"duplicate quantiles produce duplicate columns: {est_cols}")
    schema = ", ".join(
        [f"`{c}` string" for c in group_cols]
        + ["n bigint"]
        + [f"{c} double" for c in est_cols]
    )

    def merge(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        means = np.concatenate(list(pdf["td_means"])) if len(pdf) else np.array([])
        weights = (
            np.concatenate(list(pdf["td_weights"])) if len(pdf) else np.array([])
        )
        n = int(pdf["td_n"].sum())
        m, w = _td_compress(means, weights, delta)
        ests = [_td_quantile(m, w, q) for q in quantiles]
        return pd.DataFrame([tuple(key) + (n, *ests)], columns=group_cols + ["n"] + est_cols)

    return partials.groupBy(*group_cols).applyInPandas(merge, schema=schema)
