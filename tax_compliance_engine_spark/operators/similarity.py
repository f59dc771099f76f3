"""Similarity search over an embedding column (array<float>).

- ``knn_bruteforce``: exact cosine top-k — query set × corpus via a join,
  dot products in pure Column lambdas (zip_with/aggregate), window top-k.
  Baseline and oracle-checkable (DuckDB list_dot_product on DOUBLE[]).
- ``embedding_dup_pairs``: near-dup pairs at a cosine threshold, banded by
  hyperplane-LSH signatures so only same-bucket pairs are compared.
- ``lsh_bucket_assignments``: the scale path — sign-bit signatures against
  fixed hyperplanes; at 100 TB the bucket join replaces the quadratic
  all-pairs (recall is per-band-exact-match semantics, like SimHash).

All double arithmetic is sequential left-fold over the array in both
engines, so scores are bit-identical and safe to hash-compare.
"""

from __future__ import annotations

import functools
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..dims import local_frame

# Fixed pseudo-random hyperplanes for LSH: HP[p][d] in {-1, +1}, generated by
# a tiny LCG (seeded constants, no runtime RNG) — shared with the SQL oracle.
N_PLANES = 16
DIM = 64
LSH_BANDS = 4  # default band count
LSH_BITS_PER_BAND = 4  # default sign bits per band (N_PLANES = bands × bits)
_LSH_SEED = 88172645463325252


def _xorshift_signs(seed: int, n_rows: int, dim: int) -> list[list[int]]:
    """n_rows×dim ±1 matrix from one xorshift64 stream — the shared
    generator behind the LSH hyperplanes and the JL projection."""
    x = seed
    rows = []
    for _ in range(n_rows):
        row = []
        for _ in range(dim):
            x ^= (x << 13) & 0xFFFFFFFFFFFFFFFF
            x ^= x >> 7
            x ^= (x << 17) & 0xFFFFFFFFFFFFFFFF
            row.append(1 if x & 1 else -1)
        rows.append(row)
    return rows


def hyperplanes(n_planes: int = N_PLANES, dim: int = DIM) -> list[list[int]]:
    """The first ``n_planes`` LSH hyperplanes.  One xorshift64 stream is
    consumed row-sequentially, so hyperplanes(32)[:16] == hyperplanes(16):
    widening the signature EXTENDS the default geometry rather than
    replacing it, and the oracle twin regenerates the identical matrix
    from the same seed."""
    return _xorshift_signs(_LSH_SEED, n_planes, dim)


HYPERPLANES: list[list[int]] = hyperplanes(N_PLANES, DIM)


def _vec_d(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def with_norms(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    v = _vec_d(F.col(vec_col))
    return emb.withColumn("_vec", v).withColumn("_norm", _norm(F.col("_vec")))


def knn_bruteforce(
    emb: DataFrame,
    query_pred: Column,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_queries: int = 50_000,
) -> DataFrame:
    """Exact top-k cosine neighbors for rows matching ``query_pred``.

    Shuffle profile: queries are broadcast (a top-k query set is small by
    construction), so the corpus scan is one pass; the window top-k shuffles
    on query id only.

    Guarded: ``query_pred`` is caller-supplied, so "small by construction"
    is asserted, not assumed — an early-terminating ``limit(cap+1).count()``
    probe (same pattern as ``corpus.decontaminate``) raises ValueError when
    the match count exceeds ``max_queries``, before anything broadcasts.
    A huge query side would blow the broadcast build AND make the scan
    |Q|×|corpus| — brute force is the wrong plan there by definition, so
    the guard points at ``ivf_knn`` instead of silently degrading."""
    from pyspark.sql.window import Window

    base = with_norms(emb, vec_col)
    queries = base.filter(query_pred).select(
        F.col(id_col).alias("query_id"),
        F.col("_vec").alias("_qvec"),
        F.col("_norm").alias("_qnorm"),
    ).cache()
    n_queries = queries.limit(max_queries + 1).count()
    if n_queries > max_queries:
        raise ValueError(
            f"knn_bruteforce: query_pred matches > max_queries="
            f"{max_queries} rows; the query side is broadcast and every "
            "query scans the full corpus, so brute force is the wrong "
            "plan at this size — narrow query_pred, raise max_queries "
            "deliberately, or use ivf_knn for large query sets"
        )
    corpus = base.select(
        F.col(id_col).alias("neighbor_id"),
        F.col("_vec").alias("_cvec"),
        F.col("_norm").alias("_cnorm"),
    )
    scored = (
        F.broadcast(queries)
        .crossJoin(corpus)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine",
            _dot(F.col("_qvec"), F.col("_cvec"))
            / (F.col("_qnorm") * F.col("_cnorm")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", F.col("rank").cast("int").alias("rank"))
    )


def lsh_signature_col(vec: Column, n_planes: int = N_PLANES) -> Column:
    """Sign-bit signature against the fixed hyperplanes → bigint in
    [0, 2^n_planes)."""
    sig = F.lit(0).cast("long")
    for p, plane in enumerate(hyperplanes(n_planes)):
        proj = F.aggregate(
            F.zip_with(
                vec,
                F.array(*[F.lit(float(w)) for w in plane]),
                lambda x, h: x * h,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        sig = sig + F.when(proj > 0, F.shiftleft(F.lit(1).cast("long"), p)).otherwise(
            F.lit(0).cast("long")
        )
    return sig


def _lsh_sigs(
    emb: DataFrame, vec_col: str, id_col: str, n_planes: int
) -> DataFrame:
    """(vec_id, lsh_sig): packed sign-bit signatures computed THE
    ORACLE'S WAY — the hyperplanes as a tiny broadcast table (p, 2^p,
    plane), one small dot-fold expression over the crossJoin, then a
    map-side-combining groupBy(vec_id) packing bit_or(2^p·[proj>0]).

    This replaces the unrolled per-plane expression
    (``lsh_signature_col``) in the bucket path because that expression
    grows with the geometry and falls off whole-stage codegen at
    planner-sized widths: measured at sf0.1 (2 000 vectors),
    16/32/60-plane buckets cost 1.67/2.34/3.87 s unrolled vs a FLAT
    ~1.0 s in this form at every width — the expression here is O(1)
    in plane count, the work rides data rows (N×planes narrow rows,
    collapsed to N by partial aggregation before the shuffle).
    Bit-identical output (same IEEE dot fold, same bit packing).

    The fold is ``bit_or``, not ``sum``: for unique ids the two are
    identical (each (vec_id, p) contributes one distinct power-of-two
    bit), but bit_or is IDEMPOTENT under duplicate ``id_col`` rows —
    byte-identical duplicates collapse to the one correct signature
    instead of sum's bit-carry garbage.  Duplicate ids with
    CONFLICTING vectors still union their bits (garbage in, garbage
    out): ``id_col`` is the identity key and conflicting payloads
    under one key have no right answer."""
    spark = emb.sparkSession
    planes = local_frame(
        spark,
        [
            (p, 1 << p, [float(w) for w in plane])
            for p, plane in enumerate(hyperplanes(n_planes))
        ],
        "p int, bit long, plane array<double>",
    )
    v = emb.select(
        F.col(id_col).alias("vec_id"), _vec_d(F.col(vec_col)).alias("_v")
    )
    return (
        v.crossJoin(F.broadcast(planes))
        .select(
            "vec_id",
            "bit",
            _dot(F.col("_v"), F.col("plane")).alias("_proj"),
        )
        .groupBy("vec_id")
        .agg(
            F.bit_or(
                F.when(F.col("_proj") > 0, F.col("bit")).otherwise(
                    F.lit(0).cast("long")
                )
            ).alias("lsh_sig")
        )
    )


def lsh_bucket_assignments(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_bands: int = LSH_BANDS,
    bits_per_band: int = LSH_BITS_PER_BAND,
) -> DataFrame:
    """(vec_id, band, band_val): ``n_bands`` bands of ``bits_per_band``
    sign bits each (this low-level primitive keeps the fixed 4×4
    default for unit-level use; ``embedding_dup_pairs`` and the
    ``embedding_lsh_buckets`` query default to the PLANNER-sized
    geometry instead) — the bucket-join keys for approximate
    similarity at scale.

    ``id_col`` is the identity key: byte-identical duplicate rows
    collapse to one correct signature (the bit_or fold in
    ``_lsh_sigs`` is idempotent), but duplicate ids carrying
    DIFFERENT vectors are a caller contract violation — the bits
    union into a signature belonging to neither vector.

    ``bits_per_band`` is THE collision knob: random-collision candidates
    are ∝ corpus² at ANY fixed width, but the constant drops ~16× per +4
    bits while true near-dups (sign bits agree per-plane with prob
    1 − θ/π) survive — so size the width to the corpus: pick bits so
    2^(2·bits) outgrows N and the quadratic term stays under the linear
    signature work.  Measured on the 10× scale-curve corpus (32k → 320k
    vectors): candidates at 10× = 47.1M / 3.79M / 0.34M and
    embedding_dup_pairs wall growth = 10.6× / 2.3× / **1.22×** for
    4- / 8- / 12-bit bands — the 12-bit plan is flat because candidate
    work has dropped below the row-linear explode (see BASELINE.md,
    "Round 7: the embedding-LSH band-width knob")."""
    n_planes = n_bands * bits_per_band
    if n_planes > 63:
        raise ValueError("n_bands*bits_per_band must fit a signed long")
    mask = (1 << bits_per_band) - 1
    df = _lsh_sigs(emb, vec_col, id_col, n_planes)
    return df.select(
        "vec_id",
        "lsh_sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).cast("int").alias("band"),
                        F.shiftright(F.col("lsh_sig"), b * bits_per_band)
                        .bitwiseAND(F.lit(mask))
                        .cast("int")
                        .alias("band_val"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select("vec_id", "lsh_sig", "bb.band", "bb.band_val")


def lsh_geometry_for_corpus(
    n_docs: int,
    candidates_per_doc: float = 4.0,
    design_cosine: float = 0.9,
    max_bands: int = 16,
) -> dict:
    """Size the LSH geometry to the corpus — the planning rule that
    turns the measured quadratic-collision physics into a knob setting.

    Under the random-sign model, every OTHER doc matches a given band
    with prob 2^-bits, so expected random candidates per doc ≈
    n_bands · N / 2^bits: quadratic in N at any FIXED width, linear
    once the width is sized so that stays ≤ ``candidates_per_doc``.
    Recall for a true near-dup at angle θ is 1 − (1 − (1−θ/π)^bits)^bands
    — more bands help recall, but each band must then be wider to hold
    the same budget, so there is a real trade this function searches:
    all (bands, bits) with bands·bits ≤ 63 (the packed signed-long
    signature), keeping the budget, maximizing recall at
    ``design_cosine`` (ties → fewer bands = cheaper explode).

    Raises when NO 63-bit geometry meets the budget (a corpus so large
    even 1×63 floods — partition the corpus or raise the budget rather
    than silently degrade).  Returns {n_bands, bits_per_band,
    expected_candidates_per_doc, recall_at_design,
    tables_for_90pct_recall}: the last is the standard LSH
    amplification answer — single-probe recall collapses at corpus
    scale (the budget forces wide bands), so production runs L
    INDEPENDENT hash tables (fresh hyperplane seeds) and ORs their
    candidates; L = ⌈ln 0.1 / ln(1 − recall₁)⌉ reaches ≥90% at the
    design angle, multiplying candidate volume (and the budget) by L.

    Example anchors: N=32k keeps the 4×4 default feasible but picks a
    wider band; N=10⁹ forces few-band wide geometries (e.g. 2×31) —
    exactly the regime where the 4-band default's candidate count
    explodes (measured: BASELINE.md, "Round 7: the embedding-LSH
    band-width knob")."""
    import math

    if n_docs <= 0:
        raise ValueError(f"n_docs must be positive, got {n_docs}")
    theta = math.acos(design_cosine)
    p_bit = 1.0 - theta / math.pi
    best = None
    for bands in range(1, max_bands + 1):
        for bits in range(1, 63 // bands + 1):
            expected = bands * float(n_docs) / float(2**bits)
            if expected > candidates_per_doc:
                continue
            recall = 1.0 - (1.0 - p_bit**bits) ** bands
            key = (recall, -bands)
            if best is None or key > best[0]:
                best = (key, bands, bits, expected, recall)
    if best is None:
        raise ValueError(
            f"no <=63-bit LSH geometry holds {candidates_per_doc} random "
            f"candidates/doc at N={n_docs}; partition the corpus or raise "
            "the budget"
        )
    _, bands, bits, expected, recall = best
    tables = (
        1
        if recall >= 0.9
        else math.ceil(math.log(0.1) / math.log(1.0 - recall))
    )
    return {
        "n_bands": bands,
        "bits_per_band": bits,
        "expected_candidates_per_doc": expected,
        "recall_at_design": recall,
        "tables_for_90pct_recall": tables,
    }


_GEOMETRY_MEMO: dict[int, int] = {}  # emb semanticHash -> corpus count


def _count_in_physical_bounds(emb: DataFrame, n: int) -> bool:
    """Sanity gate for a memo-recalled corpus count (see
    ``_corpus_count``): n must sit in [n_files, total_bytes / 8].
    Unstat-able or file-less inputs return False — re-count rather
    than trust an unverifiable recall."""
    import os

    try:
        files = emb.inputFiles()
    except Exception:
        return False
    if not files:
        return False
    total = 0
    for f in files:
        path = f[7:] if f.startswith("file://") else (
            f[5:] if f.startswith("file:") else f
        )
        try:
            total += os.stat(path).st_size
        except OSError:
            return False
    return len(files) <= n <= max(1, total // 8)


def _corpus_count(emb: DataFrame) -> int:
    """Corpus-size probe for ``planned_geometry``, memoized at two levels
    (the ``dedup._choose_verify_plan`` pattern): per-session by the
    input plan's semanticHash, cross-session by the input's file
    snapshot in the per-user json sidecar — repeated driver programs
    over unchanged parquet never re-run the count job.  The stored
    value is the COUNT, not the geometry, so planner-parameter changes
    can never resurrect a stale geometry from the memo.

    Unlike the verify-plan memo (whose worst case picks between
    result-identical layouts), a wrong count CHANGES planner-sized
    geometry and therefore query output — so beyond the sidecar now
    being uid-private and ownership-checked on read, a recalled count
    is also validated against a cheap physical bound from the scanned
    file sizes (an embedding row is ≥ 8 on-disk bytes even under
    parquet compression — dozens of near-incompressible double dims —
    and a non-empty file holds ≥ 1 row): values outside
    [n_files, total_bytes / 8] are discarded and the corpus
    re-counted."""
    from .dedup import (
        _verify_plan_file_key,
        _verify_plan_store_get,
        _verify_plan_store_put,
    )

    try:
        key = emb.semanticHash()
    except Exception:  # pragma: no cover - semanticHash is stable API
        key = None
    if key is not None and key in _GEOMETRY_MEMO:
        return _GEOMETRY_MEMO[key]
    # budget slot carries a fixed tag so these keys can never collide
    # with the minhash verify-plan entries sharing the sidecar
    file_key = _verify_plan_file_key(emb, -271828)
    if file_key is not None:
        stored = _verify_plan_store_get(file_key)
        if isinstance(stored, str) and stored.isdigit():
            n = int(stored)
            if _count_in_physical_bounds(emb, n):
                if key is not None:
                    _GEOMETRY_MEMO[key] = n
                return n
    n = emb.count()
    if key is not None:
        _GEOMETRY_MEMO[key] = n
    if file_key is not None:
        _verify_plan_store_put(file_key, str(n))
    return n


def planned_geometry(
    emb: DataFrame,
    candidates_per_doc: float = 4.0,
    design_cosine: float = 0.9,
) -> dict:
    """The ``lsh_geometry_for_corpus`` answer for THIS corpus: one
    memoized count probe, then the pure planning rule.  This is the
    default geometry source for ``embedding_dup_pairs`` — the fixed 4×4
    default it replaces made every new composition silently inherit
    corpus²-candidate growth (measured ×16 wall at 10× data on the BFS
    traversal before it was moved off the default)."""
    return lsh_geometry_for_corpus(
        _corpus_count(emb),
        candidates_per_doc=candidates_per_doc,
        design_cosine=design_cosine,
    )


def embedding_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.35,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_bands: int | None = None,
    bits_per_band: int | None = None,
) -> DataFrame:
    """Near-duplicate vector pairs: LSH-banded candidates verified by exact
    cosine ≥ threshold.

    Candidate dedup happens INSIDE the bucket join: a pair sharing several
    bands is emitted only on its lowest shared band ("no earlier band also
    matches" is a join filter over the lsh_sig both sides already carry).
    The naive form emits one row per shared band and dedupes with a
    DISTINCT — a full extra shuffle of the widest intermediate in the
    query, which this plan never materializes.

    ``n_bands``/``bits_per_band`` tune recall vs candidate volume (see
    ``lsh_bucket_assignments``).  The DEFAULT (both None) is the
    PLANNER-SIZED geometry — ``planned_geometry`` probes the corpus
    count once (memoized in-session and across sessions) and sizes the
    bands so expected random candidates stay ≤ ~4/doc at any corpus
    size; a fixed default is quadratic at scale by construction
    (measured: 99.4× candidates at 10× data on 4×4).  Pass BOTH knobs
    to pin an explicit geometry (the hash-gated pinned paths do).

    The vectors themselves deliberately do NOT ride the bucket explode
    (unlike the minhash paths' bucket-local layouts): carrying the 64
    doubles + norm on both sides of the self-join measured ~1.7× SLOWER
    at sf0.1 (5.7 s vs 3.4 s, identical output) than fetching them with
    the two post-candidate joins below — the exact-cosine compute
    dominates and the wide self-join only adds sort/shuffle width."""
    if (n_bands is None) != (bits_per_band is None):
        raise ValueError(
            "pass BOTH n_bands and bits_per_band to pin a geometry, or "
            "neither for the planner-sized default — half a geometry is "
            "ambiguous"
        )
    if n_bands is None:
        g = planned_geometry(emb)
        n_bands, bits_per_band = g["n_bands"], g["bits_per_band"]
    buckets = lsh_bucket_assignments(
        emb, vec_col, id_col, n_bands, bits_per_band
    ).cache()  # self-joined
    from .dedup import first_shared_band_terms

    a = buckets.alias("a")
    b = buckets.alias("b")
    mask = (1 << bits_per_band) - 1

    def _band_bits(side: str, j: int) -> Column:
        return F.shiftright(
            F.col(f"{side}.lsh_sig"), j * bits_per_band
        ).bitwiseAND(F.lit(mask))

    candidates = a.join(
        b,
        reduce(
            lambda x, y: x & y,
            [
                F.col("a.band") == F.col("b.band"),
                F.col("a.band_val") == F.col("b.band_val"),
                F.col("a.vec_id") < F.col("b.vec_id"),
                *first_shared_band_terms(_band_bits, n_bands),
            ],
        ),
    ).select(F.col("a.vec_id").alias("id1"), F.col("b.vec_id").alias("id2"))
    return _exact_cosine_pairs(emb, candidates, threshold, vec_col, id_col)


def _exact_cosine_pairs(
    emb: DataFrame,
    candidates: DataFrame,
    threshold: float,
    vec_col: str,
    id_col: str,
) -> DataFrame:
    """Exact-cosine verification of an (id1, id2) candidate stream: two
    narrow joins fetch each side's vector + norm (candidates never carry
    the 64 doubles through the self-join — measured faster, see
    ``embedding_dup_pairs``), one codegen dot per pair, threshold
    filter.  Shared by the single- and multi-table LSH paths."""
    base = with_norms(emb, vec_col).select(
        F.col(id_col).alias("_id"), "_vec", "_norm"
    )
    return (
        candidates.join(
            base.select(
                F.col("_id").alias("id1"),
                F.col("_vec").alias("_v1"),
                F.col("_norm").alias("_n1"),
            ),
            "id1",
        )
        .join(
            base.select(
                F.col("_id").alias("id2"),
                F.col("_vec").alias("_v2"),
                F.col("_norm").alias("_n2"),
            ),
            "id2",
        )
        .withColumn(
            "cosine", _dot(F.col("_v1"), F.col("_v2")) / (F.col("_n1") * F.col("_n2"))
        )
        .filter(F.col("cosine") >= threshold)
        .select("id1", "id2", "cosine")
    )


def embedding_dup_pairs_multitable(
    emb: DataFrame,
    n_tables: int = 2,
    threshold: float = 0.35,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_bands: int = LSH_BANDS,
    bits_per_band: int = LSH_BITS_PER_BAND,
) -> DataFrame:
    """LSH AMPLIFICATION: near-dup pairs from the OR of ``n_tables``
    independent hash tables — the production answer when a single
    geometry's recall at the corpus-sized band width is too low
    (``lsh_geometry_for_corpus`` reports the needed L as
    ``tables_for_90pct_recall``).  Each table uses a fresh slice of the
    ONE xorshift hyperplane stream (table t = planes
    [t·planes, (t+1)·planes) — table 0 is exactly the single-table
    geometry, so ``n_tables=1`` reproduces ``embedding_dup_pairs``
    bit-for-bit), and a missed pair only needs ONE table to catch it:
    recall 1 − (1 − r₁)^L at L× the candidate volume.

    Candidate dedup is the same in-join first-shared-band discipline,
    extended across tables: bands flatten to a GLOBAL index
    g = table·n_bands + band, every table's signature rides the explode
    as one array column, and a pair emits only on its lowest shared
    global band — no DISTINCT, no extra shuffle of the pair stream.
    Scoring reuses the shared exact-cosine verifier, so scores are
    identical to the single-table path wherever both emit a pair."""
    from .dedup import first_shared_band_terms

    if n_tables < 1:
        raise ValueError(f"n_tables must be >= 1, got {n_tables}")
    n_planes = n_bands * bits_per_band
    if n_planes > 63:
        raise ValueError("n_bands*bits_per_band must fit a signed long")
    all_planes = hyperplanes(n_planes * n_tables)
    mask = (1 << bits_per_band) - 1
    # signatures the crossJoin/groupBy way (see _lsh_sigs — the unrolled
    # expression falls off codegen as total planes grow): one plane
    # table carries (table, in-table bit, plane); per-table packed sigs
    # assemble into the table-ordered array the bucket explode indexes
    spark = emb.sparkSession
    planes = local_frame(
        spark,
        [
            (q // n_planes, 1 << (q % n_planes), [float(w) for w in plane])
            for q, plane in enumerate(all_planes)
        ],
        "tbl int, bit long, plane array<double>",
    )
    v_df = emb.select(
        F.col(id_col).alias("vec_id"), _vec_d(F.col(vec_col)).alias("_v")
    )
    sigs_df = (
        v_df.crossJoin(F.broadcast(planes))
        .select(
            "vec_id",
            "tbl",
            "bit",
            _dot(F.col("_v"), F.col("plane")).alias("_proj"),
        )
        .groupBy("vec_id", "tbl")
        .agg(
            F.sum(
                F.when(F.col("_proj") > 0, F.col("bit")).otherwise(
                    F.lit(0).cast("long")
                )
            ).alias("_sig")
        )
        .groupBy("vec_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("tbl", "_sig"))),
                lambda s: s["_sig"],
            ).alias("sigs")
        )
    )
    g_total = n_tables * n_bands
    buckets = (
        sigs_df
        .select(
            "vec_id",
            "sigs",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(g).cast("int").alias("band"),
                            F.shiftright(
                                F.col("sigs")[g // n_bands],
                                (g % n_bands) * bits_per_band,
                            )
                            .bitwiseAND(F.lit(mask))
                            .cast("int")
                            .alias("band_val"),
                        )
                        for g in range(g_total)
                    ]
                )
            ).alias("bb"),
        )
        .select("vec_id", "sigs", "bb.band", "bb.band_val")
        .cache()  # self-joined
    )

    def _band_bits(side: str, j: int) -> Column:
        return F.shiftright(
            F.col(f"{side}.sigs")[j // n_bands],
            (j % n_bands) * bits_per_band,
        ).bitwiseAND(F.lit(mask))

    a = buckets.alias("a")
    b = buckets.alias("b")
    candidates = a.join(
        b,
        reduce(
            lambda x, y: x & y,
            [
                F.col("a.band") == F.col("b.band"),
                F.col("a.band_val") == F.col("b.band_val"),
                F.col("a.vec_id") < F.col("b.vec_id"),
                *first_shared_band_terms(_band_bits, g_total),
            ],
        ),
    ).select(F.col("a.vec_id").alias("id1"), F.col("b.vec_id").alias("id2"))
    return _exact_cosine_pairs(emb, candidates, threshold, vec_col, id_col)


def embedding_dup_pairs_amplified(
    emb: DataFrame,
    threshold: float = 0.35,
    design_cosine: float = 0.9,
    max_tables: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """The COMPLETE planner recipe in one call: corpus-sized band
    geometry (``planned_geometry`` — candidate budget held at any N)
    AND the amplification count the planner prescribes to win back
    recall (L = ``tables_for_90pct_recall``, capped at ``max_tables``
    as the candidate-volume brake: recall beyond the cap costs a
    linear multiple of the whole candidate stream).  The budget forces
    wide bands as the corpus grows, which collapses single-probe
    recall — ORing L independent hash tables is the standard LSH
    answer, and this entry point keeps the two knobs consistent
    instead of leaving amplification to the caller."""
    g = planned_geometry(emb, design_cosine=design_cosine)
    n_tables = min(int(g["tables_for_90pct_recall"]), max_tables)
    return embedding_dup_pairs_multitable(
        emb,
        n_tables=n_tables,
        threshold=threshold,
        vec_col=vec_col,
        id_col=id_col,
        n_bands=g["n_bands"],
        bits_per_band=g["bits_per_band"],
    )


_CURVE_GRID = (0.35, 0.40, 0.45, 0.50, 0.55, 0.60)


def dup_threshold_curve(
    emb: DataFrame,
    thresholds: tuple[float, ...] = _CURVE_GRID,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Threshold CALIBRATION curve for embedding dedup: how many verified
    near-dup pairs survive at each candidate cut — the report a pipeline
    reads to pick SemDeDup's ε / ``embedding_dup_pairs``' threshold
    before committing a full pass (the pair count's elbow is the usual
    operating point).

    ONE pair computation at the loosest grid threshold (planner-sized
    LSH geometry), then each verified pair's cosine is graded against
    the whole grid in-stage (explode over ≤|grid| literals, filter,
    count) — never one pass per threshold.  Counts are exact over the
    VERIFIED set; candidate recall itself is geometry-bound at the
    loosest threshold, so grid points below it would undercount (the
    constructor rejects them).  Zero-pair grid points still report
    (grid left-joins the counts).  Output: (threshold, n_pairs) ordered
    by threshold."""
    grid = sorted(float(t) for t in thresholds)
    base = grid[0]
    pairs = embedding_dup_pairs(
        emb, threshold=base, vec_col=vec_col, id_col=id_col
    )
    spark = emb.sparkSession
    grid_df = local_frame(spark, [(t,) for t in grid], "threshold double")
    counts = (
        pairs.select(
            F.explode(
                F.array(*[F.lit(t) for t in grid])
            ).alias("threshold"),
            "cosine",
        )
        .filter(F.col("cosine") >= F.col("threshold"))
        .groupBy("threshold")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )
    return (
        grid_df.join(counts, "threshold", "left")
        .select(
            "threshold",
            F.coalesce("n_pairs", F.lit(0)).cast("long").alias("n_pairs"),
        )
        .orderBy("threshold")
    )


def nearest_cell_assignments(
    emb: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cell_col: str = "label",
    keep_cos: bool = False,
) -> DataFrame:
    """(vec_id, cell): each vector assigned to its nearest centroid by
    cosine, ties broken on the smaller cell id — the E-step of Lloyd's
    k-means and the re-assignment half of one refinement iteration.

    Centroids are broadcast (|cells| rows), so assignment is one narrow
    pass over the corpus: per row, |cells| dot products inside codegen,
    then an argmax as a ``groupBy(id).max(struct(cos, -cell))`` — the
    partial (map-side) aggregation collapses the |corpus|·|cells|
    candidate rows to ONE row per vector BEFORE the exchange, where the
    previous row_number-window formulation shuffled and sorted every
    candidate row (guide §2.3 "aggregate before you shuffle"; measured:
    the window was the dominant exchange in every E-step).  The struct
    ordering (cos DESC via max, ties to the SMALLER cell via the negated
    cell id) is exactly the old window order, including NaN-greatest and
    null-cos-last, so assignments are bit-identical.  Deterministic
    given centroids, so the DuckDB oracle replicates it exactly
    (identical IEEE dot folds → identical ordering).

    ``keep_cos`` additionally returns the winning cosine itself as
    ``cent_cos`` — the typicality signal SemDeDup's keep rule consumes —
    at zero extra cost (it is the argmax's own sort key)."""
    cents = centroids.select(
        F.col(cell_col).alias("_cell"), F.col("centroid").alias("_cvec")
    ).withColumn("_cnorm", _norm(F.col("_cvec")))
    base = with_norms(emb, vec_col)
    out = (
        base.crossJoin(F.broadcast(cents))
        .withColumn(
            "_cos",
            _dot(F.col("_vec"), F.col("_cvec"))
            / (F.col("_norm") * F.col("_cnorm")),
        )
        .groupBy(id_col)
        .agg(
            F.max(
                F.struct(
                    F.col("_cos").alias("_c"),
                    (-F.col("_cell")).alias("_nc"),
                )
            ).alias("_w")
        )
    )
    cols = [F.col(id_col), (-F.col("_w._nc")).alias("cell")]
    if keep_cos:
        cols.append(F.col("_w._c").alias("cent_cos"))
    return out.select(*cols)


def ivf_knn(
    emb: DataFrame,
    query_pred: Column,
    k: int = 5,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cell_col: str = "label",
    centroids: DataFrame | None = None,
    assignments: DataFrame | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: queries probe only the
    ``nprobe`` cells whose centroids are nearest, then score exactly within
    those cells.

    The cell assignment is the existing ``cell_col`` partition (the coarse
    quantizer a k-means step would produce); centroids come from
    ``label_centroids``.  At scale this is THE search pattern: the corpus is
    clustered/partitioned once, each query scans |corpus| * nprobe/|cells|
    vectors instead of everything.  Rows-only oracle check by default:
    centroid means are parallel float sums (order-sensitive), so cell
    probing is not bit-portable — pass precomputed ``centroids``
    (cell_col, centroid array) built with an ordered fold to make the whole
    plan engine-portable (see queries_dataops.ivf_knn_portable).

    ``assignments`` ((id, cell) rows, e.g. from
    ``nearest_cell_assignments`` after a Lloyd refinement) overrides the
    ``cell_col`` partition as the corpus's inverted-file layout; the
    centroids' cell ids must then match the assignment cells.

    Shuffle profile: centroids are tiny (|cells| rows) and broadcast; the
    probe join partitions by cell, so each query's candidate scan is
    co-located with its probed cells."""
    from pyspark.sql.window import Window

    if centroids is None:
        centroids = label_centroids(emb, vec_col, cell_col)
    cents = centroids.select(
        F.col(cell_col).alias("_cell"),
        F.col("centroid").alias("_cvec"),
    )
    cents = cents.withColumn("_cnorm", _norm(F.col("_cvec")))

    base = with_norms(emb, vec_col)
    queries = base.filter(query_pred).select(
        F.col(id_col).alias("query_id"),
        F.col("_vec").alias("_qvec"),
        F.col("_norm").alias("_qnorm"),
    )

    probe_w = Window.partitionBy("query_id").orderBy(
        F.desc("_c_cos"), F.col("_cell")
    )
    probes = (
        queries.crossJoin(F.broadcast(cents))
        .withColumn(
            "_c_cos",
            _dot(F.col("_qvec"), F.col("_cvec"))
            / (F.col("_qnorm") * F.col("_cnorm")),
        )
        .withColumn("_probe_rank", F.row_number().over(probe_w))
        .filter(F.col("_probe_rank") <= nprobe)
        .select("query_id", "_qvec", "_qnorm", "_cell")
    )

    if assignments is None:
        cell_of = F.col(cell_col)
        corpus_src = base
    else:
        # re-assigned inverted file: the (id, cell) table replaces cell_col
        # (at scale this join IS the one-time index build, not per-query)
        cell_of = F.col("cell")
        corpus_src = base.join(assignments, id_col)
    corpus = corpus_src.select(
        F.col(id_col).alias("neighbor_id"),
        cell_of.alias("_cell"),
        F.col("_vec").alias("_nvec"),
        F.col("_norm").alias("_nnorm"),
    )
    scored = (
        probes.join(corpus, "_cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine",
            _dot(F.col("_qvec"), F.col("_nvec"))
            / (F.col("_qnorm") * F.col("_nnorm")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "cosine",
            F.col("rank").cast("int").alias("rank"),
        )
    )


def quantize_embeddings(
    emb: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Symmetric int8 scalar quantization, exploded to scalar rows:
    (vec_id, pos, qval, scale) with qval = floor(v/scale + 0.5) ∈ [-127,127]
    and scale = max|v| / 127 (zero vectors quantize to all-zero, scale 0).

    The memory-bandwidth workhorse of ANN at scale: 4× smaller vectors, and
    int8 dot products SIMD-vectorize.  Fully engine-portable: max() is
    order-independent, and /, +, floor are single exactly-rounded IEEE ops
    — so the oracle hash-checks it bit-for-bit (explicit floor(x+0.5)
    rather than round() because round's half-case convention differs
    between engines)."""
    v = _vec_d(F.col(vec_col))
    max_abs = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = max_abs / F.lit(127.0)
    qvals = F.when(
        F.col("_scale") > 0,
        F.transform(
            F.col("_v"),
            lambda x: F.floor(x / F.col("_scale") + F.lit(0.5)).cast("int"),
        ),
    ).otherwise(F.transform(F.col("_v"), lambda x: F.lit(0)))
    return (
        emb.select(
            F.col(id_col).alias("vec_id"),
            v.alias("_v"),
            scale.alias("_scale"),
        )
        .select(
            "vec_id",
            F.col("_scale").alias("scale"),
            F.posexplode(qvals).alias("pos", "qval"),
        )
        .select("vec_id", F.col("pos").cast("int").alias("pos"), "qval", "scale")
    )


def label_centroids(
    emb: DataFrame, vec_col: str = "embedding", label_col: str = "label"
) -> DataFrame:
    """Per-label centroid vectors (posexplode + re-assemble): the IVF
    coarse-quantizer building block — at scale, queries probe only the
    nearest centroids' partitions instead of the full corpus."""
    exploded = emb.select(
        label_col, F.posexplode(_vec_d(F.col(vec_col))).alias("pos", "val")
    )
    return (
        exploded.groupBy(label_col, "pos")
        .agg(F.avg("val").alias("mean_val"), F.count("*").alias("n"))
        .groupBy(label_col)
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pos"), F.col("mean_val")))
                ),
                lambda s: s["mean_val"],
            ).alias("centroid"),
            F.first("n").alias("n_vectors"),
        )
    )


# ── Product quantization ─────────────────────────────────────────────

PQ_M = 8  # subspaces (DIM / PQ_M dims each)
PQ_K = 16  # codes per subspace codebook


def _subvectors(vec: Column, m: int, subdim: int) -> Column:
    """array of ``m`` subvector slices of a double vector."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda s: F.slice(vec, s * subdim + 1, subdim),
    )


@functools.lru_cache(maxsize=16)
def _sub_exploded_cols(
    vec_col: str, id_col: str, m: int, subdim: int
) -> tuple[tuple, tuple]:
    """Memoized Column trees of ``_sub_exploded`` — pure functions of
    column names and the (m, subdim) geometry, rebuilt on every PQ plan
    otherwise (the tax/minhash memoization rationale; ~0.15 s per
    build, three builds per pq_knn_portable plan)."""
    first = (
        F.col(id_col).alias("vec_id"),
        F.posexplode(_subvectors(_vec_d(F.col(vec_col)), m, subdim)).alias(
            "subspace", "subvec"
        ),
    )
    second = (
        "vec_id",
        F.col("subspace").cast("int").alias("subspace"),
        "subvec",
        _dot(F.col("subvec"), F.col("subvec")).alias("_vv"),
    )
    return first, second


def _sub_exploded(
    emb: DataFrame, vec_col: str, id_col: str, m: int, subdim: int
) -> DataFrame:
    """(vec_id, subspace, subvec, _vv) rows — one per (vector, subspace),
    with the subvector's self-dot precomputed for the L2² expansion."""
    first, second = _sub_exploded_cols(vec_col, id_col, m, subdim)
    return emb.select(*first).select(*second)


@functools.lru_cache(maxsize=1)
def _centroid_cc_col() -> Column:
    """Memoized centroid self-dot projection (``_cc``)."""
    return _dot(F.col("centroid"), F.col("centroid")).alias("_cc")


@functools.lru_cache(maxsize=16)
def _l2_expand_col(vv: str, v: str, c: str, cc: str) -> Column:
    """Memoized L2² expansion (vv − 2·v·c) + cc over named columns —
    three ordered folds / exactly-rounded IEEE ops, the bit-portable
    distance every PQ/IVF path shares."""
    return (
        F.col(vv) - F.lit(2.0) * _dot(F.col(v), F.col(c))
    ) + F.col(cc)


@functools.lru_cache(maxsize=8)
def _pinned_sum_fold(key: str, val: str) -> Column:
    """Memoized pinned-order sum fold (sort by ``key``, fold ``val``) —
    the bit-portable mean/sum building block."""
    return F.aggregate(
        F.transform(
            F.array_sort(F.collect_list(F.struct(key, val))),
            lambda s: s[val],
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _nearest_codes(subs: DataFrame, codebooks: DataFrame) -> DataFrame:
    """(vec_id, subspace, code): each subvector assigned to its nearest
    codebook centroid by L2² (ties → smaller code).  d² expands to
    (vv − 2·v·c) + c·c — three ordered folds and two exactly-rounded IEEE
    ops, so the argmin is bit-portable.

    The argmin is a ``groupBy.min(struct(_d2, _code))`` — map-side
    partial aggregation collapses the |vectors|·m·k candidate rows to
    one row per (vec_id, subspace) BEFORE the exchange, where the old
    row_number-window form shuffled and sorted every candidate (guide
    §2.3; same rewrite as ``nearest_cell_assignments``).  The struct
    order (d² ASC, ties to the smaller code, NaN-greatest) is exactly
    the old window order, so codes are bit-identical."""
    cb = codebooks.select(
        F.col("subspace"),
        F.col("code").alias("_code"),
        F.col("centroid").alias("_cvec"),
        _centroid_cc_col(),
    )
    return (
        subs.join(F.broadcast(cb), "subspace")
        .withColumn("_d2", _l2_expand_col("_vv", "subvec", "_cvec", "_cc"))
        .groupBy("vec_id", "subspace")
        .agg(
            F.min(
                F.struct(F.col("_d2"), F.col("_code"))
            ).alias("_w")
        )
        .select("vec_id", "subspace", F.col("_w._code").alias("code"))
    )


def pq_codebooks(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = PQ_M,
    k: int = PQ_K,
    dim: int = DIM,
) -> DataFrame:
    """Product-quantization codebooks: (subspace, code, centroid).

    Each vector splits into ``m`` subvectors; each subspace gets its own
    ``k``-centroid codebook.  Training is the same deterministic,
    engine-portable recipe the IVF path uses: SEED the codes with the
    subvectors of the ``k`` smallest vec_ids (code = rank of the seed id
    — a k-row driver collect, the index build's only constant), then ONE
    Lloyd refinement — E-step nearest-code assignment (bit-portable L2²
    argmin), M-step vec_id-ordered fold means per dimension.  A seed
    code that attracts no members simply drops out of the codebook.

    Shuffle profile: the E-step broadcast-joins m·k codebook rows and
    windows on (vec_id, subspace); the M-step shuffles narrow
    (subspace, code, pos, val) rows.  At corpus scale this one-time
    index build is the cheap half — the payoff is `pq_codes`' 32-of-64×
    compression of the vectors the search actually touches."""
    subdim = dim // m
    subs = _sub_exploded(emb, vec_col, id_col, m, subdim).cache()
    seed_ids = [
        r[0]
        for r in emb.select(F.col(id_col)).orderBy(id_col).limit(k).collect()
    ]
    code_of = local_frame(
        emb.sparkSession,
        [(int(v), c) for c, v in enumerate(seed_ids)], "vec_id long, code int"
    )
    seeds = subs.join(F.broadcast(code_of), "vec_id").select(
        "subspace", "code", F.col("subvec").alias("centroid")
    )
    assign = _nearest_codes(subs, seeds)
    dims = subs.select(
        "vec_id", "subspace", F.posexplode("subvec").alias("pos", "val")
    )
    ordered_sum = _pinned_sum_fold("vec_id", "val")
    comps = (
        dims.join(assign, ["vec_id", "subspace"])
        .groupBy("subspace", "code", F.col("pos").cast("int").alias("pos"))
        .agg((ordered_sum / F.count("*")).alias("mean_val"))
    )
    return comps.groupBy("subspace", "code").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mean_val"))),
            lambda s: s["mean_val"],
        ).alias("centroid")
    )


def pq_codes(
    emb: DataFrame,
    codebooks: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = PQ_M,
    dim: int = DIM,
) -> DataFrame:
    """PQ encoding: (vec_id, codes array<int>) — each vector compressed to
    one code per subspace (m=8, k=16 ⇒ 8 nibbles ≈ 4 bytes vs 256 bytes
    of float32: the memory layout that lets a 100 TB corpus's index live
    in RAM).  Deterministic nearest-code assignment, bit-portable."""
    subdim = dim // m
    subs = _sub_exploded(emb, vec_col, id_col, m, subdim)
    return (
        _nearest_codes(subs, codebooks)
        .groupBy("vec_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("subspace", "code"))),
                lambda s: s["code"],
            ).alias("codes")
        )
    )


def pq_knn(
    emb: DataFrame,
    query_pred: Column,
    codebooks: DataFrame,
    codes: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = PQ_M,
    dim: int = DIM,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: exact query
    subvectors against the corpus's compressed codes.

    Per query: an m·k distance TABLE d²(q_sub, centroid) (one broadcast
    join against the codebooks), then each corpus vector's approximate
    distance is the subspace-ordered fold of m table lookups — the scan
    touches the 4-byte codes plus a lookup table, never the corpus
    vectors.  Output: (query_id, neighbor_id, adc2, rank), ascending
    approximate squared L2.  Every sum is a pinned-order fold and every
    combination an exactly-rounded IEEE op, so the whole search is
    hash-gate portable."""
    from pyspark.sql.window import Window

    subdim = dim // m
    qsubs = _sub_exploded(
        emb.filter(query_pred), vec_col, id_col, m, subdim
    ).withColumnRenamed("vec_id", "query_id")
    cb = codebooks.select(
        "subspace",
        F.col("code"),
        F.col("centroid").alias("_cvec"),
        _centroid_cc_col(),
    )
    dist_table = qsubs.join(F.broadcast(cb), "subspace").select(
        "query_id",
        "subspace",
        "code",
        _l2_expand_col("_vv", "subvec", "_cvec", "_cc").alias("_d2"),
    )
    corpus_codes = codes.select(
        F.col("vec_id").alias("neighbor_id"),
        F.posexplode("codes").alias("subspace", "code"),
    ).select(
        "neighbor_id", F.col("subspace").cast("int").alias("subspace"), "code"
    )
    adc_fold = _pinned_sum_fold("subspace", "_d2")
    w = Window.partitionBy("query_id").orderBy("adc2", "neighbor_id")
    return (
        corpus_codes.join(F.broadcast(dist_table), ["subspace", "code"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(adc_fold.alias("adc2"))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc2", "rank")
    )


def pq_knn_rerank(
    emb: DataFrame,
    query_pred: Column,
    codebooks: DataFrame,
    codes: DataFrame,
    k: int = 5,
    shortlist: int = 50,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = PQ_M,
    dim: int = DIM,
) -> DataFrame:
    """PQ search as production systems run it: the ADC scan produces a
    ``shortlist`` of candidates per query (touching only the compressed
    codes), then the TRUE vectors of just those candidates are fetched
    and re-ranked by exact L2² — so the full-precision reads per query
    drop from |corpus| to ``shortlist``.  Final recall equals the
    shortlist's true-top-k containment (the ADC ordering inside the
    shortlist no longer matters), which is the number to tune
    ``shortlist`` against — measured on the synthetic embeddings:
    shortlist 50 → 0.67, 100 → 0.84 of true top-5 at m=8, k=16 codes
    (high-entropy vectors are PQ's worst case; real embedding corpora
    with subspace structure sit far higher).

    Output: (query_id, neighbor_id, d2, rank) ascending exact L2².
    d2 = (q·q − 2·q·n) + n·n with pinned-order folds — hash-gate
    portable end to end."""
    from pyspark.sql.window import Window

    short = pq_knn(
        emb, query_pred, codebooks, codes, k=shortlist,
        vec_col=vec_col, id_col=id_col, m=m, dim=dim,
    ).select("query_id", "neighbor_id")
    base = emb.select(
        F.col(id_col).alias("_id"),
        _vec_d(F.col(vec_col)).alias("_v"),
    ).withColumn("_vv", _dot(F.col("_v"), F.col("_v")))
    w = Window.partitionBy("query_id").orderBy("d2", "neighbor_id")
    return (
        short.join(
            base.select(
                F.col("_id").alias("query_id"),
                F.col("_v").alias("_qv"),
                F.col("_vv").alias("_qq"),
            ),
            "query_id",
        )
        .join(
            base.select(
                F.col("_id").alias("neighbor_id"),
                F.col("_v").alias("_nv"),
                F.col("_vv").alias("_nn"),
            ),
            "neighbor_id",
        )
        .withColumn("d2", _l2_expand_col("_qq", "_qv", "_nv", "_nn"))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "d2", "rank")
    )


def residual_vectors(
    emb: DataFrame,
    centroids: DataFrame,
    assignments: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(vec_id, cell, res): each vector minus its cell's centroid — the
    residual table IVFPQ trains and encodes on.  Elementwise subtraction
    is one exactly-rounded IEEE op per dimension, so residuals are
    bit-portable given portable centroids."""
    cents = centroids.select(
        F.col("cell"), F.col("centroid").alias("_cvec")
    )
    return (
        emb.select(F.col(id_col).alias("vec_id"), _vec_d(F.col(vec_col)).alias("_v"))
        .join(assignments, "vec_id")
        .join(F.broadcast(cents), "cell")
        .select(
            "vec_id",
            "cell",
            F.zip_with(
                F.col("_v"), F.col("_cvec"), lambda a, b: a - b
            ).alias("res"),
        )
    )


def ivfpq_index(
    emb: DataFrame,
    centroids: DataFrame,
    assignments: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = PQ_M,
    k_codes: int = PQ_K,
    dim: int = DIM,
) -> tuple[DataFrame, DataFrame]:
    """The BUILD half of IVFPQ, split out so it can run once and persist
    (``save_ann_index``) instead of re-training per query run: residual
    table (vector − cell centroid), shared PQ codebooks trained on the
    residuals, nibble codes.  Returns (codebooks, codes) — exactly what
    ``ivfpq_knn`` consumes.  BASELINE.md shows the build DOMINATES the
    portable ANN timings (e.g. pq_knn_portable 4.65 s from cold), so at
    scale these are parquet artifacts with per-query marginal cost =
    the ADC scan + re-rank."""
    res = residual_vectors(
        emb, centroids, assignments, vec_col, id_col
    ).cache()
    cb = pq_codebooks(
        res, vec_col="res", id_col="vec_id", m=m, k=k_codes, dim=dim
    )
    codes = pq_codes(res, cb, vec_col="res", id_col="vec_id", m=m, dim=dim)
    return cb, codes


def save_ann_index(path: str, components: dict[str, DataFrame]) -> None:
    """Persist ANN index components (centroids / assignments / codebooks
    / codes — any (name → DataFrame) map) as parquet under
    ``path/<name>.parquet``, ATOMICALLY: everything writes into a
    pid-unique staging dir that is renamed into place, so a concurrent
    reader never sees a half-written index and a crashed build leaves
    only junk staging dirs, never a corrupt published one.  Doubles
    round-trip parquet bit-exactly, so a loaded index reproduces the
    in-memory one's results under the hash gate (pytest-pinned)."""
    import errno
    import os
    import shutil

    staging = f"{path}.staging.{os.getpid()}"
    shutil.rmtree(staging, ignore_errors=True)
    for name, df in components.items():
        df.write.mode("overwrite").parquet(f"{staging}/{name}.parquet")
    try:
        os.rename(staging, path)
    except OSError as exc:
        shutil.rmtree(staging, ignore_errors=True)
        if exc.errno in (errno.ENOTEMPTY, errno.EEXIST):
            # a concurrent builder (or an earlier run) already published
            # at this key — same key ⇒ same input + build params ⇒
            # deterministic equivalent index; keep theirs.  The publish
            # never deletes an existing dir first, so a concurrent
            # load_ann_index can never observe a half-missing index.
            return
        # permissions / read-only fs / cross-device — a REAL failure:
        # surface it so the caller can fall back to the freshly built
        # in-memory components instead of a doomed re-load
        raise


def load_ann_index(spark, path: str) -> dict[str, DataFrame]:
    """Load every ``<name>.parquet`` component under ``path`` (written by
    ``save_ann_index``).  Raises FileNotFoundError when the index dir
    does not exist — callers decide whether to rebuild."""
    import os

    if not os.path.isdir(path):
        raise FileNotFoundError(path)
    out = {}
    for entry in sorted(os.listdir(path)):
        if entry.endswith(".parquet"):
            out[entry[: -len(".parquet")]] = spark.read.parquet(
                f"{path}/{entry}"
            )
    return out


# bump whenever the on-disk index layout OR any build algorithm changes
# behavior — old artifacts must miss, not silently serve stale results
ANN_INDEX_FORMAT_VERSION = 2


def ann_index_key(
    emb: DataFrame, family: str, params: dict | None = None
) -> str | None:
    """Cache key for a persisted ANN index over ``emb``: the corpus's
    file-snapshot + canonical-plan digest (the ``dedup`` memo-key
    machinery), salted by the index family, the BUILD HYPERPARAMETERS
    (``params`` — sorted-key canonical form) and
    ``ANN_INDEX_FORMAT_VERSION`` — any change to the input, the knobs
    (PQ m/k, k-means iterations, cell count, …) or the index format
    yields a new key, so a stale index can never be served as query
    results.  None for in-memory frames (no file lineage): those can't
    be safely cached across sessions, so callers build inline."""
    import hashlib

    from .dedup import _verify_plan_file_key

    digest = _verify_plan_file_key(emb, -362436)
    if digest is None:
        return None
    salt = hashlib.sha256()
    salt.update(f"v{ANN_INDEX_FORMAT_VERSION}|{family}|".encode())
    for k in sorted(params or {}):
        salt.update(f"{k}={params[k]!r};".encode())
    return f"{family}-{digest[:24]}-{salt.hexdigest()[:16]}"


def ivfpq_knn(
    emb: DataFrame,
    query_pred: Column | None,
    centroids: DataFrame,
    assignments: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    shortlist: int = 50,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = PQ_M,
    k_codes: int = PQ_K,
    dim: int = DIM,
    codebooks: DataFrame | None = None,
    codes: DataFrame | None = None,
    queries_df: DataFrame | None = None,
) -> DataFrame:
    """IVF + PQ with RESIDUAL encoding — the canonical large-scale ANN
    index (inverted file for pruning, product codes for memory):

    1. each corpus vector stores only its cell id + m nibble codes of
       its RESIDUAL (vector − cell centroid) — residuals are small and
       centered, which is why PQ codebooks quantize them far better
       than raw vectors;
    2. a query ranks cells by exact L2² to the centroids and probes the
       ``nprobe`` nearest — the scan prunes to nprobe/|cells| of the
       corpus;
    3. within each probed cell the query's OWN residual (q − that
       cell's centroid) builds an m×k_codes ADC distance table, and
       each resident's approximate distance is the subspace-ordered
       fold of m lookups — codes only, never the corpus vectors;
    4. the ADC ``shortlist`` per query is re-ranked by exact L2² on the
       true vectors (fetched for shortlist rows only).

    Codebooks are shared across cells (classic IVFPQ) and trained with
    the same deterministic recipe as ``pq_codebooks``.  Every stage —
    centroids in, residuals, training, encoding, probing, ADC, re-rank
    — is pinned-order folds + exactly-rounded IEEE ops, so the whole
    index sits under the bit-exact hash gate.

    Output: (query_id, neighbor_id, d2, rank) ascending exact L2² —
    same contract as ``pq_knn_rerank``.

    Pass ``codebooks``/``codes`` (from ``ivfpq_index``, possibly
    parquet-persisted via ``save_ann_index``) to skip the build half;
    omitted, they are trained inline.

    Queries come from ``emb.filter(query_pred)`` by default; pass
    ``queries_df`` — columns (``query_id``, ``vec_col``), one row per
    query_id — to serve EXTERNAL query vectors (a query stream probing
    the frozen index) instead.  External ids live in their own space:
    a query_id that collides with a corpus ``vec_id`` excludes that one
    corpus vector from its own results (the self-match filter keys on
    id equality), which is exactly right when the stream replays corpus
    ids and a caller error otherwise."""
    from pyspark.sql.window import Window

    subdim = dim // m
    if codebooks is None or codes is None:
        cb, codes = ivfpq_index(
            emb,
            centroids,
            assignments,
            vec_col,
            id_col,
            m=m,
            k_codes=k_codes,
            dim=dim,
        )
    else:
        cb = codebooks

    cents = centroids.select(
        F.col("cell"), F.col("centroid").alias("_cvec")
    ).withColumn("_cc", _dot(F.col("_cvec"), F.col("_cvec")))
    if queries_df is not None:
        qsrc = queries_df.select(
            "query_id", _vec_d(F.col(vec_col)).alias("_qv")
        )
    else:
        if query_pred is None:
            raise ValueError("pass query_pred or queries_df")
        qsrc = emb.filter(query_pred).select(
            F.col(id_col).alias("query_id"),
            _vec_d(F.col(vec_col)).alias("_qv"),
        )
    queries = qsrc.withColumn("_qq", _dot(F.col("_qv"), F.col("_qv")))
    probe_w = Window.partitionBy("query_id").orderBy("_qc_d2", "cell")
    probes = (
        queries.crossJoin(F.broadcast(cents))
        .withColumn(
            "_qc_d2",
            (
                F.col("_qq")
                - F.lit(2.0) * _dot(F.col("_qv"), F.col("_cvec"))
            )
            + F.col("_cc"),
        )
        .withColumn("_pr", F.row_number().over(probe_w))
        .filter(F.col("_pr") <= nprobe)
        .select(
            "query_id",
            "cell",
            F.zip_with(
                F.col("_qv"), F.col("_cvec"), lambda a, b: a - b
            ).alias("_qres"),
        )
    )
    qsubs = probes.select(
        "query_id",
        "cell",
        F.posexplode(_subvectors(F.col("_qres"), m, subdim)).alias(
            "subspace", "subvec"
        ),
    ).select(
        "query_id",
        "cell",
        F.col("subspace").cast("int").alias("subspace"),
        "subvec",
        _dot(F.col("subvec"), F.col("subvec")).alias("_vv"),
    )
    cb_d = cb.select(
        "subspace",
        "code",
        F.col("centroid").alias("_cbvec"),
        _dot(F.col("centroid"), F.col("centroid")).alias("_cbcc"),
    )
    dist_table = qsubs.join(F.broadcast(cb_d), "subspace").select(
        "query_id",
        "cell",
        "subspace",
        "code",
        (
            (
                F.col("_vv")
                - F.lit(2.0) * _dot(F.col("subvec"), F.col("_cbvec"))
            )
            + F.col("_cbcc")
        ).alias("_d2"),
    )
    corpus_codes = (
        codes.join(assignments, "vec_id")
        .select(
            F.col("vec_id").alias("neighbor_id"),
            "cell",
            F.posexplode("codes").alias("subspace", "code"),
        )
        .select(
            "neighbor_id",
            "cell",
            F.col("subspace").cast("int").alias("subspace"),
            "code",
        )
    )
    adc_fold = F.aggregate(
        F.transform(
            F.array_sort(F.collect_list(F.struct("subspace", "_d2"))),
            lambda s: s["_d2"],
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    short_w = Window.partitionBy("query_id").orderBy("adc2", "neighbor_id")
    short = (
        corpus_codes.join(
            F.broadcast(dist_table), ["cell", "subspace", "code"]
        )
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(adc_fold.alias("adc2"))
        .withColumn("_r", F.row_number().over(short_w))
        .filter(F.col("_r") <= shortlist)
        .select("query_id", "neighbor_id")
    )
    base = emb.select(
        F.col(id_col).alias("_id"), _vec_d(F.col(vec_col)).alias("_v")
    ).withColumn("_vv", _dot(F.col("_v"), F.col("_v")))
    rank_w = Window.partitionBy("query_id").orderBy("d2", "neighbor_id")
    # exact re-rank: query vectors come from the QUERIES frame (same
    # source row and expressions as the corpus frame when queries are
    # internal — bit-identical — and the only possible source when they
    # arrive on a stream), neighbor vectors from the corpus
    return (
        short.join(
            queries.select("query_id", "_qv", "_qq"),
            "query_id",
        )
        .join(
            base.select(
                F.col("_id").alias("neighbor_id"),
                F.col("_v").alias("_nv"),
                F.col("_vv").alias("_nn"),
            ),
            "neighbor_id",
        )
        .withColumn(
            "d2",
            (
                F.col("_qq")
                - F.lit(2.0) * _dot(F.col("_qv"), F.col("_nv"))
            )
            + F.col("_nn"),
        )
        .withColumn("rank", F.row_number().over(rank_w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "d2", "rank")
    )


def ivfpq_index_append(
    new_emb: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = PQ_M,
    dim: int = DIM,
) -> DataFrame:
    """Incremental ingest into a FROZEN IVFPQ index — encode new vectors
    against the EXISTING artifacts instead of retraining: assign each
    to the nearest current coarse centroid (the
    ``nearest_cell_assignments`` cosine rule), residual-encode with the
    existing codebooks, emit append-only (vec_id, cell, codes) rows a
    caller concatenates onto the persisted assignments/codes
    components (``save_ann_index``).  This is exactly how production
    IVF systems ingest: the marginal cost of a new batch is two
    broadcast joins + row-local encodes — no corpus pass, no training
    — and the documented trade is centroid drift (quantization error
    creeps as the distribution moves; retrain periodically, the batch
    pipeline's index build).

    Deterministic given the artifacts, so the whole append sits under
    the bit-exact hash gate."""
    assign = nearest_cell_assignments(
        new_emb, centroids, vec_col=vec_col, id_col=id_col, cell_col="cell"
    )
    res = residual_vectors(new_emb, centroids, assign, vec_col, id_col)
    codes = pq_codes(res, codebooks, vec_col="res", id_col="vec_id", m=m, dim=dim)
    return assign.join(codes, "vec_id").select("vec_id", "cell", "codes")


# ── Johnson–Lindenstrauss random projection ──────────────────────────

JL_K = 16  # default target dimensionality
_JL_SEED = 4_695_981_039_346_656_037  # fixed xorshift64 seed (≠ LSH's)


def jl_signs(k: int = JL_K, dim: int = DIM) -> list[list[int]]:
    """The k×dim ±1 projection matrix — the shared ``_xorshift_signs``
    generator from its own fixed seed, shared verbatim with the DuckDB
    oracle, so projections are bit-portable."""
    return _xorshift_signs(_JL_SEED, k, dim)


def random_projection(
    emb: DataFrame,
    k: int = JL_K,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = DIM,
) -> DataFrame:
    """Johnson–Lindenstrauss dimensionality reduction: project each
    vector onto ``k`` fixed ±1 directions, scaled by 1/√k — the standard
    cheap preprocessing that shrinks ANN/dedup inputs 4× (64→16 dims)
    while approximately preserving pairwise distances (JL lemma; the
    Achlioptas ±1 construction needs no Gaussians).

    The matrix is a pure function of a fixed seed (``jl_signs``) — no
    state to store or ship — and each output component is the dim-ordered
    left-fold 0 + v₁·s₁ + v₂·s₂ + … times 1/√k, every op exactly-rounded
    IEEE, so the projection is bit-portable and hash-gateable.  Row-local
    (no shuffle, no UDF): one whole-stage-codegen projection per row.

    Output: (vec_id, proj array<double> of length k)."""
    import math

    signs = jl_signs(k, dim)
    scale = 1.0 / math.sqrt(float(k))
    v = _vec_d(F.col(vec_col))
    comps = []
    for j in range(k):
        acc: Column = F.lit(0.0)
        for i, s in enumerate(signs[j]):
            term = v[i] if s == 1 else -v[i]
            acc = acc + term
        comps.append(acc * F.lit(scale))
    return emb.select(
        F.col(id_col).alias("vec_id"), F.array(*comps).alias("proj")
    )


# ── Lloyd k-means (deterministic, bit-portable) ──────────────────────────


def _ordered_centroid_components(
    exploded: DataFrame, id_col: str, bounds: DataFrame
) -> DataFrame:
    """(cell, pos, mean_val, n_vectors) from (cell, id, pos, val) rows —
    the M-step mean as a TWO-LEVEL ordered fold (the ``pack_bins`` /
    ``pagerank`` pattern): members shard by id RANGE (equal-width
    integer intervals from ``bounds`` = one broadcast (_mn, _w) row),
    each (cell, pos, shard) folds its values in id order, then each
    (cell, pos) folds the shard partials in shard order.  A mega-cell
    holding most of the corpus therefore builds ~shard_count bounded
    aggregation buffers instead of ONE |cell|-struct array in a single
    task — the single-row-OOM hazard a one-level collect_list fold has
    at 100 TB.  Both fold levels are pinned-order left folds mirrored
    verbatim in the DuckDB twin, so the double is still bit-exact
    across engines (the two-level sum is a DIFFERENT — equally valid —
    double than a flat fold would give; the twin computes the same
    two-level shape)."""

    def fold(key: str, val: str) -> Column:
        return F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct(key, val))),
                lambda s: s[val],
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    partials = (
        exploded.crossJoin(F.broadcast(bounds))
        .withColumn("_shard", F.expr(f"(`{id_col}` - _mn) div _w"))
        .groupBy("cell", F.col("pos").cast("int").alias("pos"), "_shard")
        .agg(fold(id_col, "val").alias("_p"), F.count("*").alias("_c"))
    )
    return partials.groupBy("cell", "pos").agg(
        (fold("_shard", "_p") / F.sum("_c").cast("double")).alias("mean_val"),
        F.sum("_c").cast("long").alias("n_vectors"),
    )


def kmeans_centroid_components(
    emb: DataFrame,
    k: int = 8,
    n_iter: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    shard_count: int = 256,
) -> DataFrame:
    """Lloyd's k-means over the embedding corpus, the coarse-quantizer
    TRAINING step the IVF/IVFPQ docstrings assume (their portable cells
    run exactly one label-seeded refinement; this trains from the data
    itself for a chosen k), with every source of nondeterminism pinned:

    - init: the ``k`` vectors with the smallest ids seed the centroids
      (``orderBy(id).limit(k)`` — a distributed top-k, not a global
      sort), and each seed's OWN id is its cell id — no row_number over
      a single partition.
    - E-step: ``nearest_cell_assignments`` (broadcast centroids, cosine
      argmax, ties → smaller cell id).
    - M-step: per-(cell, dimension) means as TWO-LEVEL vec_id-ordered
      folds sharded by id range (``_ordered_centroid_components``,
      ``shard_count`` intervals) — bit-portable AND bounded per-task
      aggregation state even when one cell swallows most of the corpus.
    - empty cells: a centroid that attracts no members this iteration
      drops out (standard Lloyd degeneracy; k can only shrink, and the
      oracle's GROUP BY reproduces the drop exactly).

    The whole training run is ONE lazy plan (`n_iter` is a plan-build
    loop, not a driver loop over collected data): each iteration is a
    broadcast-assignment pass + one (cell, pos, shard) partial
    aggregation + one narrow (cell, pos) re-aggregation, so at 100 TB
    the per-iteration cost is a corpus scan + a narrow shuffle of
    (id, cell) pairs — vectors never shuffle.

    Output: final (cell, pos, mean_val, n_vectors) component rows
    (assemble with ``F.collect_list`` keyed on pos for array form, as
    `queries_dataops._assemble_centroids` does)."""
    # The per-iteration centroid tables are CACHED (≤ k·d component
    # rows — plan-sized at any corpus scale): without the cache,
    # iteration i's E-step embeds iteration i−1's ENTIRE M-step lineage
    # as an uncached broadcast subtree, so the unrolled n_iter plan
    # re-evaluates every earlier iteration (and the seed top-k corpus
    # scan) several times over (guide §2.4/§5; measured as the repeated
    # Scan+HashAggregate pyramids in the semdedup/kmeans plans).  Each
    # iteration now costs exactly one assignment pass + one M-step.
    seeds = (
        emb.orderBy(id_col)
        .limit(k)
        .select(
            F.col(id_col).alias("cell"),
            _vec_d(F.col(vec_col)).alias("centroid"),
        )
        .cache()
    )
    # equal-width id-range shards for the M-step fold (ids are fixed
    # across iterations, so the one-row bounds plan is shared)
    bounds = emb.agg(
        F.min(id_col).alias("_mn"),
        (F.max(id_col) - F.min(id_col)).cast("long").alias("_range"),
    ).select(
        "_mn",
        (F.expr(f"_range div {int(shard_count)}") + F.lit(1)).alias("_w"),
    ).cache()
    cents = seeds
    comps: DataFrame | None = None
    for _ in range(n_iter):
        assign = nearest_cell_assignments(
            emb, cents, vec_col=vec_col, id_col=id_col, cell_col="cell"
        )
        exploded = emb.join(assign, id_col).select(
            "cell",
            id_col,
            F.posexplode(_vec_d(F.col(vec_col))).alias("pos", "val"),
        )
        comps = _ordered_centroid_components(exploded, id_col, bounds)
        cents = comps.groupBy("cell").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "mean_val"))),
                lambda s: s["mean_val"],
            ).alias("centroid")
        ).cache()
    assert comps is not None  # n_iter >= 1
    return comps


def _assemble_centroid_arrays(comps: DataFrame) -> DataFrame:
    """(cell, centroid array<double>) from (cell, pos, mean_val)
    component rows — pos-ordered assembly, the same fold the Lloyd loop
    uses between iterations."""
    return comps.groupBy("cell").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mean_val"))),
            lambda s: s["mean_val"],
        ).alias("centroid")
    )


def semdedup_k_for_corpus(
    n: int, target_cell_rows: int = 250, k_min: int = 8
) -> int:
    """Cluster count for ``semdedup`` at corpus size ``n``: enough cells
    that the EXPECTED cell holds ~``target_cell_rows`` vectors, floored
    at ``k_min``.  This is the knob that keeps the cell-local pairwise
    step linear-per-document as the corpus grows (Σ|cell|² ≈
    n·target_cell_rows) — a fixed k would hand every 10× scale-up a
    100× quadratic term.  Pure integer rule, shared verbatim with the
    DuckDB twin generator so the bit-exact gate travels with corpus
    count (the ``lsh_geometry_for_corpus`` discipline)."""
    return max(k_min, (int(n) + target_cell_rows - 1) // target_cell_rows)


def semdedup(
    emb: DataFrame,
    k: int | None = None,
    n_iter: int = 2,
    threshold: float = 0.5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    shard_count: int = 256,
) -> DataFrame:
    """SemDeDup-style SEMANTIC deduplication (Abbas et al. 2023,
    arXiv:2303.09540): k-means the embedding corpus, threshold pairwise
    cosine WITHIN each cluster to find semantic-duplicate groups, and
    keep ONE representative per group — the member with the LOWEST
    cosine to its cluster centroid (the paper's keep-the-atypical rule:
    among near-identical points, the one farthest from the centroid
    preserves the most diversity), ties to the smallest id.

    Group structure is the CONNECTED COMPONENTS of the ε-graph inside
    each cluster (``dedup.dup_clusters`` — the hook-and-shortcut
    contraction), a principled rendition of the paper's
    one-per-duplicate-group semantics that keeps the whole pipeline
    deterministic and relational.

    Scale shape — the quadratic term is BOUNDED BY DESIGN, never
    all-pairs: the only self-join is cell-local (Σ|cell|² work), its
    output is consumed in-stage by the cosine filter (narrow (id1, id2)
    rows shuffle onward, never the vectors), the E-step broadcasts
    |cells| centroids, and the group contraction runs on the
    thresholded pair stream.  ``k=None`` (default) PLANS the cluster
    count from a memoized corpus-count probe
    (``semdedup_k_for_corpus``: cells sized to ~250 rows, so the
    pairwise work stays linear-per-document as the corpus grows — the
    paper's own recipe is 50k clusters on LAION for the same reason);
    pass an explicit ``k`` to pin it.  Training is
    ``kmeans_centroid_components`` (one lazy plan, vectors never
    shuffle).

    Deterministic end-to-end — id-seeded Lloyd, pinned IEEE folds,
    argmin tie-breaks — so the DuckDB twin replicates it bit-for-bit.

    Output: (``id_col``, cell, group_id, cent_cos, keep) — one row per
    vector; singletons (no ε-neighbor in their cell) keep themselves."""
    if k is None:
        k = semdedup_k_for_corpus(_corpus_count(emb))
    comps = kmeans_centroid_components(
        emb,
        k=k,
        n_iter=n_iter,
        vec_col=vec_col,
        id_col=id_col,
        shard_count=shard_count,
    )
    cents = _assemble_centroid_arrays(comps)
    return _semdedup_given_cents(emb, cents, threshold, vec_col, id_col)


def _semdedup_given_cents(
    emb: DataFrame,
    cents: DataFrame,
    threshold: float,
    vec_col: str,
    id_col: str,
) -> DataFrame:
    """``semdedup``'s assignment + ε-graph + keep stages against an
    already-trained centroid table — shared with ``semdedup_index`` so
    the index build never trains k-means twice."""
    from .dedup import dup_clusters

    assign = nearest_cell_assignments(
        emb,
        cents,
        vec_col=vec_col,
        id_col=id_col,
        cell_col="cell",
        keep_cos=True,
    ).cache()
    v = (
        with_norms(emb, vec_col)
        .select(F.col(id_col).alias("_id"), "_vec", "_norm")
        .join(assign.select(F.col(id_col).alias("_id"), "cell"), "_id")
    )
    a, b = v.alias("a"), v.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .withColumn(
            "_cos",
            _dot(F.col("a._vec"), F.col("b._vec"))
            / (F.col("a._norm") * F.col("b._norm")),
        )
        .filter(F.col("_cos") >= threshold)
        .select(F.col("a._id").alias("doc1"), F.col("b._id").alias("doc2"))
    )
    groups = dup_clusters(
        assign.select(F.col(id_col).alias("doc_id")), pairs
    ).withColumnRenamed("doc_id", id_col)
    labeled = assign.join(groups, id_col)
    keepers = labeled.groupBy("cluster_id").agg(
        F.min(
            F.struct(
                F.col("cent_cos"), F.col(id_col).cast("long").alias("_kid")
            )
        ).alias("_m")
    )
    return labeled.join(keepers, "cluster_id").select(
        F.col(id_col),
        "cell",
        F.col("cluster_id").alias("group_id"),
        "cent_cos",
        (F.col(id_col) == F.col("_m._kid")).alias("keep"),
    )


def semdedup_index(
    emb: DataFrame,
    k: int | None = None,
    n_iter: int = 2,
    threshold: float = 0.4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    shard_count: int = 256,
) -> tuple[DataFrame, DataFrame]:
    """The SERVABLE half of SemDeDup: train once over the standing
    corpus and return ``(centroids, kept_reps)`` — the trained centroid
    table and the kept representatives' (id, cell, vector, norm) —
    the frozen index an ingest-time screen (batch ``semdedup_screen``
    or the streaming writer) probes.  k-means trains exactly ONCE: the
    centroid table is cached (≤k rows) so BOTH the dedup pass and every
    later screen assignment probe the materialized table instead of
    re-running the Lloyd plan — uncached, the screen's batch assignment
    retrained from scratch (measured ~2× the whole screen at 10×)."""
    if k is None:
        k = semdedup_k_for_corpus(_corpus_count(emb))
    comps = kmeans_centroid_components(
        emb,
        k=k,
        n_iter=n_iter,
        vec_col=vec_col,
        id_col=id_col,
        shard_count=shard_count,
    )
    cents = _assemble_centroid_arrays(comps).cache()
    sem = _semdedup_given_cents(emb, cents, threshold, vec_col, id_col)
    reps = (
        sem.filter(F.col("keep"))
        .select(F.col(id_col).alias("_rep_id"), "cell")
        .join(
            with_norms(emb, vec_col).select(
                F.col(id_col).alias("_rep_id"),
                F.col("_vec").alias("_rvec"),
                F.col("_norm").alias("_rnorm"),
            ),
            "_rep_id",
        )
    )
    return cents, reps


def semdedup_screen(
    batch_emb: DataFrame,
    index: tuple[DataFrame, DataFrame],
    threshold: float = 0.4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Ingest-time SEMANTIC-dup screen against a FROZEN SemDeDup index
    (``semdedup_index``): each arriving vector is assigned to its
    nearest trained centroid (broadcast — the same E-step argmax) and
    compared against the KEPT representatives of that cell only; if its
    best cosine clears the threshold it is a semantic duplicate of that
    representative (witness = argmax cosine, ties → smaller rep id).

    A verdict is a pure function of (vector, frozen index) — never of
    other arrivals — so micro-batch-local scoring IS the global
    semantics and the streaming twin needs no state store.  Arrivals
    landing in a cell with no kept rep (possible only for empty cells —
    every non-empty cell keeps ≥1 member per group) keep trivially.

    Scale shape: |cells| centroids broadcast, then one cell-keyed join
    against the rep table (|reps| ≤ corpus, ~corpus/dup-rate) and a
    per-arrival argmax — never arrival×corpus.  Output: (id, cell,
    match_id, match_cos, keep)."""
    cents, reps = index
    assign = nearest_cell_assignments(
        batch_emb, cents, vec_col=vec_col, id_col=id_col, cell_col="cell"
    )
    bv = with_norms(batch_emb, vec_col).select(
        F.col(id_col), "_vec", "_norm"
    ).join(assign, id_col)
    best = (
        bv.join(reps, "cell")
        .withColumn(
            "_cos",
            _dot(F.col("_vec"), F.col("_rvec"))
            / (F.col("_norm") * F.col("_rnorm")),
        )
        .groupBy(id_col)
        .agg(
            F.max(
                F.struct(F.col("_cos"), (-F.col("_rep_id")).alias("_nr"))
            ).alias("_b")
        )
        .select(
            id_col,
            (-F.col("_b._nr")).alias("_mid"),
            F.col("_b._cos").alias("_mcos"),
        )
    )
    return (
        bv.select(id_col, "cell")
        .join(best, id_col, "left")
        .select(
            F.col(id_col),
            "cell",
            F.when(
                F.col("_mcos") >= threshold, F.col("_mid")
            ).alias("match_id"),
            F.when(F.col("_mcos") >= threshold, F.col("_mcos")).alias(
                "match_cos"
            ),
            F.coalesce(
                ~(F.col("_mcos") >= threshold), F.lit(True)
            ).alias("keep"),
        )
    )


def kmeans_silhouette(
    emb: DataFrame,
    k: int = 8,
    n_iter: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    shard_count: int = 256,
) -> DataFrame:
    """Per-cell SIMPLIFIED silhouette over the trained k-means
    clustering — the standard scale-out clustering-quality metric
    (full silhouette needs all-pairs distances, quadratic; the
    simplified form replaces them with centroid distances: a(i) =
    ‖x_i − c_own‖, b(i) = min over other cells of ‖x_i − c‖,
    s(i) = (b−a)/max(a,b); this is also the quantity Spark MLlib's
    ClusteringEvaluator approximates, computed here exactly).

    Determinism / portability: centroids come from
    ``kmeans_centroid_components`` (every fold pinned); the final
    assignment is one extra deterministic E-step
    (``nearest_cell_assignments`` — cosine argmax, ties → smaller
    cell); distances are pos-ordered left folds of (x−c)² under one
    correctly-rounded sqrt; b(i) is a min over doubles
    (order-independent); per-cell means reuse the TWO-LEVEL id-range
    ordered fold (``_ordered_centroid_components``) so a mega-cell
    folds ~shard_count bounded partials, never one |cell|-array task.

    Scale shape (100 TB): centroids broadcast (k rows), so scoring is
    one narrow corpus pass — per row k distances inside codegen;
    only (id, cell, s) triples ever shuffle, vectors never do.

    Output: (cell, n_vectors, mean_silhouette) ordered by cell.
    """
    comps = kmeans_centroid_components(
        emb, k=k, n_iter=n_iter, vec_col=vec_col, id_col=id_col,
        shard_count=shard_count,
    )
    cents = comps.groupBy("cell").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mean_val"))),
            lambda s: s["mean_val"],
        ).alias("centroid")
    )
    assign = nearest_cell_assignments(
        emb, cents, vec_col=vec_col, id_col=id_col, cell_col="cell"
    )
    dist = F.sqrt(
        F.aggregate(
            F.zip_with(
                F.col("_vec"),
                F.col("_cvec"),
                lambda x, c: (x - c) * (x - c),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    scored = (
        with_norms(emb, vec_col)
        .join(assign, id_col)
        .crossJoin(
            F.broadcast(
                cents.select(
                    F.col("cell").alias("_ocell"),
                    F.col("centroid").alias("_cvec"),
                )
            )
        )
        .withColumn("_dist", dist)
        .groupBy(id_col, "cell")
        .agg(
            F.max(
                F.when(F.col("_ocell") == F.col("cell"), F.col("_dist"))
            ).alias("_a"),
            F.min(
                F.when(F.col("_ocell") != F.col("cell"), F.col("_dist"))
            ).alias("_b"),
        )
        .select(
            id_col,
            "cell",
            F.when(
                F.col("_b").isNull()
                | (F.greatest(F.col("_a"), F.col("_b")) == 0.0),
                F.lit(0.0),
            )
            .otherwise(
                (F.col("_b") - F.col("_a"))
                / F.greatest(F.col("_a"), F.col("_b"))
            )
            .alias("val"),
        )
    )
    bounds = emb.agg(
        F.min(id_col).alias("_mn"),
        (F.max(id_col) - F.min(id_col)).cast("long").alias("_range"),
    ).select(
        "_mn",
        (F.expr(f"_range div {int(shard_count)}") + F.lit(1)).alias("_w"),
    )
    folded = _ordered_centroid_components(
        scored.withColumn("pos", F.lit(0)), id_col, bounds
    )
    return folded.select(
        "cell",
        "n_vectors",
        F.col("mean_val").alias("mean_silhouette"),
    ).orderBy("cell")


def cluster_balanced_sample(
    emb: DataFrame,
    budget: int,
    k: int = 8,
    n_iter: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """DIVERSITY sampling: split a global budget EQUALLY across the
    trained k-means cells and fill each quota in deterministic hash
    order — cluster-balanced selection, the curation technique that
    stops head clusters (boilerplate, templates, one dominant domain)
    from owning the sample the way any uniform or proportional draw
    would.  Proportional splits (``corpus.budget_allocated_sample``)
    PRESERVE the corpus mix; equal per-cell quotas FLATTEN it — that is
    the point.

    Deterministic end to end: the cells are the bit-portable Lloyd
    training (``kmeans_centroid_components``) plus one deterministic
    E-step; quotas are exact integers (B div |cells| each, the B mod
    |cells| leftovers to the smallest cell ids — equal shares have no
    remainder ORDER, so the tie-break is the cell id); the fill is the
    shared LCG hash.  Cells that hold fewer members than their quota
    just yield what they have (documented under-fill — redistribution
    would need a driver loop).

    Scale shape: training is the audited kmeans plan; assignment is one
    broadcast-k pass; quotas ride a ≤k-row frame (single-partition
    exchanges carry one row per CELL, audited exemption); selection is
    one per-cell rank window + a broadcast quota join."""
    from .corpus import sample_hash_col
    from pyspark.sql.window import Window

    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    comps = kmeans_centroid_components(
        emb, k=k, n_iter=n_iter, vec_col=vec_col, id_col=id_col
    )
    cents = comps.groupBy("cell").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mean_val"))),
            lambda s: s["mean_val"],
        ).alias("centroid")
    )
    assign = nearest_cell_assignments(
        emb, cents, vec_col=vec_col, id_col=id_col, cell_col="cell"
    )
    counts = assign.groupBy("cell").agg(F.count(F.lit(1)).alias("_n"))
    w_all = Window.partitionBy()
    w_rank = Window.orderBy(F.asc("cell"))
    quotas = (
        counts.withColumn("_ncells", F.count(F.lit(1)).over(w_all))
        .withColumn("_rank", F.row_number().over(w_rank))
        .select(
            "cell",
            (
                F.expr(f"CAST({budget} AS BIGINT) DIV _ncells")
                + F.when(
                    F.col("_rank") <= F.expr(f"{budget} % _ncells"), 1
                ).otherwise(0)
            ).alias("cell_quota"),
        )
    )
    w_fill = Window.partitionBy("cell").orderBy(
        sample_hash_col(F.col("vec_id")), F.col("vec_id")
    )
    return (
        assign.withColumn("_rn", F.row_number().over(w_fill))
        .join(F.broadcast(quotas), "cell")
        .filter(F.col("_rn") <= F.col("cell_quota"))
        .select("vec_id", "cell", "cell_quota")
    )


def knn_recall(exact: DataFrame, approx: DataFrame) -> DataFrame:
    """Recall@k of an ANN result against the exact result — THE quality
    gauge every approximate index (IVF / PQ / IVFPQ / LSH) is tuned by:
    per query, the fraction of true top-k neighbors the index returned.

    Both inputs use the (query_id, neighbor_id, …) shape the knn family
    emits.  Output: (query_id, n_exact, n_hits, recall) — ``n_exact``
    the true-neighbor count (k, or fewer near a tiny corpus), ``n_hits``
    the overlap, ``recall`` the one exactly-rounded division
    n_hits/n_exact.  Deterministic: both sides break cosine ties on
    neighbor_id, so overlap is a pure set function of the corpus.

    Scale shape (100 TB): both inputs are already top-k-sized (|Q|×k
    rows — the corpus never flows through this plan); the overlap is
    one (query_id, neighbor_id) semi-join co-partitioned on query_id
    and two narrow groupBys.  Cost is dominated entirely by the inputs'
    own plans.
    """
    hits = (
        exact.select("query_id", "neighbor_id")
        .join(
            approx.select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"],
            "leftsemi",
        )
        .groupBy("query_id")
        .agg(F.count("*").alias("n_hits"))
    )
    return (
        exact.groupBy("query_id")
        .agg(F.count("*").alias("n_exact"))
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            "n_exact",
            F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
            (
                F.coalesce(F.col("n_hits"), F.lit(0)).cast("double")
                / F.col("n_exact").cast("double")
            ).alias("recall"),
        )
        .orderBy("query_id")
    )
