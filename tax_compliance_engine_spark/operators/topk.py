"""Skew-immune grouped top-k.

Spark lowers GLOBAL top-k to ``TakeOrderedAndProject`` (no full sort),
but per-GROUP top-k has no such operator — the standard window
``row_number() <= k`` sorts every row of a group inside one task, so one
hot group (a head domain, a viral token) serializes onto a single core
and spills alone.  ``top_k_per_group`` shards each group first: per-shard
top-k bounds what reaches the group-level window to ``k * n_shards``
rows per group, so the hot group's sort spreads across ``n_shards``
tasks and the final window touches a bounded set.

The result is IDENTICAL to the single-level window for any shard
assignment: a global top-k row can only be beaten within its shard by
rows that also beat it globally, so per-shard top-ks are always a
superset of the group top-k.  (Same two-level discipline as
``corpus.pack_sequences`` offsets and ``graph.pagerank`` folds.)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def top_k_per_group(
    df: DataFrame,
    group_cols: list[str],
    order_by: list[Column],
    k: int,
    shard_by: Column | None = None,
    n_shards: int = 16,
    rank_col: str | None = None,
) -> DataFrame:
    """Top ``k`` rows per group under ``order_by`` (which must totally
    order rows within a group — append a unique column as the last sort
    key, or ranks among ties are nondeterministic), computed with a
    sharded two-level window.

    ``shard_by`` is any expression spreading a group's rows across
    shards (hashed mod ``n_shards``); the default hashes EVERY input
    column — content-derived, so a task retry recomputes the same
    assignment (a nondeterministic shard expression could land a row in
    two different shards across a partial stage recompute, and both
    copies would survive the two rank filters).  Output columns =
    input columns; pass ``rank_col`` to ALSO keep the final per-group
    rank (already computed for the filter — callers that re-rank the
    top-k output would otherwise pay a redundant window)."""
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    if n_shards <= 0:
        raise ValueError(f"n_shards must be positive, got {n_shards}")
    if shard_by is None:
        shard_by = F.struct(*[F.col(c) for c in df.columns])
    cols = df.columns
    shard = F.pmod(F.xxhash64(shard_by), F.lit(n_shards))
    w1 = Window.partitionBy(*group_cols, "_shard").orderBy(*order_by)
    w2 = Window.partitionBy(*group_cols).orderBy(*order_by)
    out = (
        df.withColumn("_shard", shard)
        .withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= k)
        .withColumn("_r2", F.row_number().over(w2))
        .filter(F.col("_r2") <= k)
    )
    if rank_col is not None:
        return out.select(*cols, F.col("_r2").alias(rank_col))
    return out.select(*cols)


def sharded_global_rank(
    df: DataFrame,
    key: str,
    tiebreak: Column,
    shard_len: int = 2,
    out: str = "_r",
) -> DataFrame:
    """GLOBAL dense row rank over (``key`` ASC, ``tiebreak``) with NO
    single-partition sort — the two-level pattern ``dedup.snm_candidates``
    and ``queries.customer_value_deciles`` share (extracted so the
    rank-contiguity subtleties live in one audited place):

    ``key`` must be a STRING column whose first ``shard_len`` characters
    shard the sort order CONTIGUOUSLY (prefixes of a lexicographic key
    are contiguous ranges by construction — e.g. a normalized-text
    prefix, or a zero-padded decimal rendering of an integer).  Each
    shard ranks independently under one row_number window; shard
    offsets come from a broadcast non-equi self-join of the tiny
    per-shard count table (≤ |alphabet|^shard_len rows), and
    shard-local rank + offset IS the global rank.  Lengthen
    ``shard_len`` to hold per-shard sorts bounded as data grows.

    Output: all input columns plus the global rank as ``out``
    (1-based, long).  ``tiebreak`` together with ``key`` must totally
    order rows or ranks among ties are nondeterministic."""
    keyed = df.withColumn("_sgr_shard", F.substring(F.col(key), 1, shard_len))
    lw = Window.partitionBy("_sgr_shard").orderBy(F.asc(key), tiebreak)
    local = keyed.withColumn("_sgr_lr", F.row_number().over(lw))
    counts = keyed.groupBy("_sgr_shard").agg(F.count(F.lit(1)).alias("_sgr_cnt"))
    c2 = counts.select(
        F.col("_sgr_shard").alias("_sgr_s2"), F.col("_sgr_cnt").alias("_sgr_c2")
    )
    offsets = (
        counts.join(
            F.broadcast(c2), F.col("_sgr_s2") < F.col("_sgr_shard"), "left"
        )
        .groupBy("_sgr_shard")
        .agg(F.coalesce(F.sum("_sgr_c2"), F.lit(0)).alias("_sgr_off"))
    )
    return (
        local.join(F.broadcast(offsets), "_sgr_shard")
        .withColumn(out, (F.col("_sgr_off") + F.col("_sgr_lr")).cast("long"))
        .drop("_sgr_shard", "_sgr_lr", "_sgr_off")
    )


def grouped_quantile_sketch(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    id_col: str,
    quantiles: dict[str, float],
    k: int = 512,
    n_shards: int = 16,
) -> DataFrame:
    """Mergeable deterministic per-group quantile ESTIMATE with O(k)
    state per group: exact interpolated quantiles of a fixed-size
    uniform sample — the ``k`` rows with the smallest deterministic LCG
    hash of ``id_col`` (``corpus.sample_hash_col``, the KMV idea
    pointed at values).

    This is the 100-TB path next to an exact percentile: the exact form
    must sort every row of every group (memory ∝ group size), while the
    min-k-by-hash sample is an associative, idempotent fold — per
    partition keep k, merge keeps k — so partial aggregation bounds
    both the shuffle and the final state at k rows per group, and two
    sketches of disjoint (or overlapping: dedupe by id) row sets merge
    into the sketch of their union.  Sampling error is the standard
    ~1/√k binomial bound on the rank, NOT a value-accuracy bound.

    Determinism: the hash is a pure function of ``id_col`` (unique ids
    required, as everywhere in the sampling family), the cut uses
    (hash, id) total order, and the quantile interpolation is Spark
    ``percentile`` ≡ DuckDB ``quantile_cont`` (linear interpolation in
    both engines) — so the estimate is one reproducible number, not a
    run-dependent one.

    Output: ``group_cols`` + ``sample_n`` (≤k) + one double column per
    ``quantiles`` entry (name → fraction)."""
    if not 0 < len(quantiles):
        raise ValueError("quantiles must be non-empty")
    for name, q in quantiles.items():
        if not 0.0 <= q <= 1.0:
            raise ValueError(f"quantile {name}={q} outside [0, 1]")
    sample = min_k_by_hash(df, group_cols, id_col, k, n_shards=n_shards)
    aggs = [F.count(F.lit(1)).alias("sample_n")]
    for name, q in quantiles.items():
        aggs.append(
            F.expr(f"percentile(`{value_col}`, {q!r})").alias(name)
        )
    return sample.groupBy(*group_cols).agg(*aggs)


def min_k_by_hash(
    df: DataFrame,
    group_cols: list[str],
    id_col: str,
    k: int,
    n_shards: int = 16,
) -> DataFrame:
    """The ``k`` rows per group with the SMALLEST deterministic LCG hash
    of ``id_col`` — a fixed-size uniform sample without replacement
    that is an associative, idempotent fold: min-k of (min-k ∪ min-k)
    over deduped ids equals min-k of the union, so partial per-shard
    cuts, cross-partition merges, and incremental (streaming) state
    updates all reproduce the one global sample.  The hash is a pure
    function of the id (``corpus.sample_hash_col``), never stored — a
    merge recomputes it, so state carries only real columns.
    Output columns = input columns."""
    from .corpus import sample_hash_col

    return top_k_per_group(
        df.withColumn("_qs_hk", sample_hash_col(F.col(id_col))),
        group_cols,
        [F.col("_qs_hk"), F.col(id_col)],
        k,
        n_shards=n_shards,
    ).drop("_qs_hk")


def grouped_reach_sketch(
    df: DataFrame,
    group_cols: list[str],
    id_col: str,
    k: int = 64,
    n_shards: int = 16,
) -> DataFrame:
    """Per-group distinct-ID cardinality ("reach") ESTIMATE with O(k)
    state: KMV order statistics over the deterministic LCG hash of
    ``id_col`` — ``corpus.distinct_sketch``'s estimator pointed at
    integer entity ids instead of tokens, built on the same
    ``min_k_by_hash`` cut the quantile sketch uses (so it inherits the
    associative/idempotent merge: two sketches of overlapping row sets
    re-cut into the sketch of their union after an id dedupe).

    Below k distinct ids the count is exact; at ≥ k the estimate is
    (k−1)·M / h_k (h_k = k-th smallest hash, M = the LCG modulus) —
    deterministic, so the DuckDB twin reproduces it bit-for-bit, unlike
    approx_count_distinct's engine-private HLL registers.  The LCG's
    multiplicative step equidistributes sequential ids across [0, M)
    (the same argument as the KMV token scramble).

    Output: ``group_cols`` + ``n_kept`` (≤k) + ``kth_hash`` +
    ``est_reach`` (double; exact count below k)."""
    from .corpus import SAMPLE_MOD, sample_hash_col

    deduped = df.select(*group_cols, id_col).dropDuplicates()
    sample = min_k_by_hash(deduped, group_cols, id_col, k, n_shards=n_shards)
    # (k−1)·M precomputed in Python: < 2^53, exactly representable, so
    # the estimate is ONE exactly-rounded division on both engines.
    scale = float((k - 1) * SAMPLE_MOD)
    return (
        sample.groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.max(sample_hash_col(F.col(id_col))).alias("kth_hash"),
        )
        .select(
            *group_cols,
            "n_kept",
            "kth_hash",
            F.when(F.col("n_kept") < k, F.col("n_kept").cast("double"))
            .otherwise(F.lit(scale) / F.col("kth_hash").cast("double"))
            .alias("est_reach"),
        )
    )
