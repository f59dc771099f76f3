"""Corpus-level training-data pipeline operators: vocabulary building,
TF-IDF term scoring, deterministic & stratified sampling, sequence packing,
and benchmark decontamination.

These are the ops a 100 TB pre-training data pipeline runs between raw
ingestion and tokenization (beyond the reference's scope — the reference,
`/root/reference/`, has no corpus operators at all; this module is part of
the SURVEY §7 phase-5 extension surface).

Scale design:
- vocabulary / TF-IDF: one explode + two hash aggregations with map-side
  partial agg; the token key space is Zipfian, so AQE skew handling (on by
  default in session.py) splits the hot-token partitions;
- sampling is HASH-deterministic (a fixed LCG on doc_id), not RNG-based:
  reproducible across runs, engines, and retries, and embarrassingly
  parallel (no sampleBy / no seed-state coordination across executors);
- packing uses the concat-then-chunk discipline (bin = prefix-sum / budget)
  — a single window cumsum, no sequential driver loop;
- decontamination is a shingle semi-join: benchmark n-grams are tiny
  (broadcast at real scale), so the corpus side never shuffles.

Everything is built-in Column expressions (no UDFs), deterministic, and
replicated bit-for-bit by the DuckDB oracle SQL in
plans/oracle_corpus.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..dims import local_frame
from ..functions import bloom, hashing
from .dedup import _doc_ngrams, _doc_tokens

# Fixed LCG multiplier/increment for hash-deterministic sampling (Knuth's
# MMIX constants reduced mod 2^31-ish prime); any fixed pair works — the
# point is determinism and portability, not cryptographic quality.
SAMPLE_MULT = 2654435761
SAMPLE_INC = 104729
SAMPLE_MOD = 1_000_000_007


def sample_hash_col(doc_id: Column) -> Column:
    """Deterministic per-doc sampling key in [0, SAMPLE_MOD).

    Both operands reduce mod SAMPLE_MOD BEFORE the multiply — identical
    values ((a·b) mod m = ((a mod m)(b mod m)) mod m) but the products
    stay < MOD² ≈ 10¹⁸ inside int64 at ANY doc_id, where the unreduced
    form overflowed (ANSI ARITHMETIC_OVERFLOW) above doc_id ≈ 3.5e9 —
    caught by the 10×-scale fixture's offset ids, the same bug class as
    the phash mix constants."""
    return (
        (doc_id % F.lit(SAMPLE_MOD)) * F.lit(SAMPLE_MULT % SAMPLE_MOD)
        + F.lit(SAMPLE_INC)
    ) % F.lit(SAMPLE_MOD)


def vocabulary(
    docs: DataFrame, text_col: str = "text", min_doc_freq: int = 1
) -> DataFrame:
    """Corpus vocabulary: per-token total term count and document frequency.

    One explode over tokens, one groupBy(token) — term_count counts every
    occurrence, doc_freq counts distinct docs (computed from per-(doc,token)
    partials so no count_distinct shuffle of raw occurrences)."""
    toks = docs.select(
        F.col("doc_id"),
        F.explode(_tokens(text_col)).alias("token"),
    )
    per_doc = toks.groupBy("doc_id", "token").agg(
        F.count("*").alias("tf")
    )
    return (
        per_doc.groupBy("token")
        .agg(
            F.sum("tf").alias("term_count"),
            F.count("*").cast("long").alias("doc_freq"),
        )
        .filter(F.col("doc_freq") >= min_doc_freq)
    )


def top_vocabulary(
    docs: DataFrame, k: int = 100, text_col: str = "text"
) -> DataFrame:
    """Top-k vocabulary by term count, deterministic tiebreak on token."""
    return (
        vocabulary(docs, text_col)
        .orderBy(F.desc("term_count"), "token")
        .limit(k)
    )


def inverted_index(
    docs: DataFrame,
    text_col: str = "text",
    n_shards: int = 16,
) -> DataFrame:
    """Positional inverted index over the corpus, SHARDED by doc-id
    range per token: one row per (token, shard) with the shard's sorted
    posting list of (doc_id, pos) structs plus shard-local and global
    document frequencies.

    Sharding is the point, not a compromise: a hot token ("the") at
    corpus scale has billions of postings, and a single
    collect_list-per-token row is the same one-row aggregation-buffer
    OOM the repo documents for pagerank hubs and include_records.  The
    (token, doc_id % n_shards) key bounds every aggregation buffer at
    ~1/n_shards of the hottest token, readers merge shards (they are
    disjoint, sorted, doc-id-range keyed), and global df rides a
    broadcast of the tiny per-token totals.

    Postings are array_sort(collect_list(struct))-pinned — integers and
    strings only, so the DuckDB twin hash-compares bit-for-bit."""
    toks = docs.select(
        "doc_id",
        F.posexplode(_tokens(text_col)).alias("pos", "token"),
    )
    per_doc = toks.groupBy(
        "token", F.pmod(F.col("doc_id"), F.lit(n_shards)).alias("shard")
    ).agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("doc_id"), F.col("pos").cast("long").alias("pos")
                )
            )
        ).alias("postings"),
        F.count_distinct("doc_id").alias("shard_df"),
    )
    global_df = per_doc.groupBy("token").agg(
        F.sum("shard_df").alias("df")
    )
    return per_doc.join(F.broadcast(global_df), "token").select(
        "token",
        F.col("shard").cast("int").alias("shard"),
        "postings",
        F.col("shard_df").cast("long").alias("shard_df"),
        F.col("df").cast("long").alias("df"),
    )


def phrase_search(
    docs: DataFrame, phrase: str, text_col: str = "text"
) -> DataFrame:
    """Exact phrase search: documents containing the (whitespace-token)
    ``phrase`` as consecutive tokens, with per-doc match counts —
    entirely ROW-LOCAL: each doc checks its own token array with a
    windowed all-terms conjunction, so the plan is a pure projection +
    filter over the scan (no explode, no shuffle, no index build; the
    query pushes down like any other predicate).  Overlapping matches
    each count ("a a a" contains "a a" twice).

    Output: (doc_id, n_matches ≥ 1)."""
    terms = [t for t in phrase.split(" ") if t]
    if not terms:
        raise ValueError("phrase must contain at least one token")
    k = len(terms)
    toks = _tokens(text_col)

    def window_matches(t: Column) -> Column:
        # positions 1 .. len-k+1; guard the descending-sequence trap
        starts = F.when(
            F.size(t) >= k, F.sequence(F.lit(1), F.size(t) - (k - 1))
        ).otherwise(F.array().cast("array<int>"))

        def is_match(i: Column) -> Column:
            m = F.lit(True)
            for j, term in enumerate(terms):
                m = m & (F.element_at(t, i + j) == F.lit(term))
            return m

        return F.size(F.filter(starts, is_match))

    return (
        docs.select(
            "doc_id", window_matches(toks).alias("n_matches")
        )
        .filter(F.col("n_matches") > 0)
    )


def bm25_search(
    docs: DataFrame,
    queries: list[tuple[int, list[str]]],
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 10,
    n_shards: int = 16,
) -> DataFrame:
    """Ranked keyword retrieval over the corpus: per query, the top-``k``
    documents under a LOG-FREE BM25 surrogate — idf's ``ln`` is dropped
    and the raw odds ratio (N − df + ½)/(df + ½) used directly (libm
    ``ln`` differs across engines by ULPs, so the standard formula can't
    sit under a bit-exact gate; the surrogate keeps BM25's tf saturation
    and length normalization exactly, changes only how much MORE a rare
    term counts than a common one, and is stated in the docstring as the
    contract).  Per-term:

        idf  = (N − df + 0.5) / (df + 0.5)
        tfp  = tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
        s    = idf · tfp

    every op an exactly-rounded IEEE step mirrored verbatim in the
    DuckDB twin; the per-doc score folds term scores in token order
    (pinned small fold), so ranking is engine-portable bit-for-bit.

    Scale shape: query tokens broadcast (a query set is always tiny);
    the corpus-side token stream is FILTERED to query tokens before any
    aggregation, so tf/df aggregations touch only matching postings.
    N/avgdl are one scalar aggregate broadcast back.  Top-k per query
    uses the sharded two-level rank (``topk.top_k_per_group``) — a
    query matching half the corpus never serializes its sort onto one
    task.  Output: (query_id, rank, doc_id, score)."""
    from .topk import top_k_per_group

    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    qrows = []
    for qid, terms in queries:
        terms = list(dict.fromkeys(t for t in terms if t))
        if not terms:
            raise ValueError(f"query {qid} has no tokens")
        qrows.extend((qid, t) for t in terms)
    spark = docs.sparkSession
    qtoks = local_frame(spark, qrows, "query_id long, token string")
    # corpus side filtered to query tokens FIRST: tf/df see only postings
    # that can score (per-token tf/df are unchanged by the pre-filter, so
    # this stays ≡ the full prepared index the streaming path serves from)
    toks = docs.select(
        "doc_id", F.explode(_tokens(text_col)).alias("token")
    )
    postings = (
        toks.join(F.broadcast(qtoks.select("token").distinct()), "token")
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
    )
    sized, stats = _bm25_doc_stats(docs, text_col)
    return bm25_score_queries(
        postings, sized, stats, qtoks, k1=k1, b=b, k=k, n_shards=n_shards
    )


def _bm25_doc_stats(docs: DataFrame, text_col: str = "text"):
    sized = docs.select("doc_id", F.size(_tokens(text_col)).alias("dl"))
    stats = sized.agg(
        F.count("*").alias("_n"), F.sum("dl").alias("_sl")
    ).select(
        "_n",
        (F.col("_sl").cast("double") / F.col("_n").cast("double")).alias(
            "_avgdl"
        ),
    )
    return sized, stats


def bm25_index(docs: DataFrame, text_col: str = "text"):
    """The standing BM25 index artifacts: (FULL postings (doc_id, token,
    tf), doc lengths (doc_id, dl), one-row corpus stats (_n, _avgdl)) —
    build once per corpus snapshot, cache/persist, serve queries
    forever (``bm25_search`` instead derives a query-token-filtered
    postings frame in-plan; the streaming query path materializes these
    up front — streaming/search_stream.py)."""
    toks = docs.select(
        "doc_id", F.explode(_tokens(text_col)).alias("token")
    )
    postings = toks.groupBy("doc_id", "token").agg(
        F.count("*").alias("tf")
    )
    sized, stats = _bm25_doc_stats(docs, text_col)
    return postings, sized, stats


def bm25_score_queries(
    postings: DataFrame,
    sized: DataFrame,
    stats: DataFrame,
    qtoks: DataFrame,
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 10,
    n_shards: int = 16,
    cache_postings: bool = False,
) -> DataFrame:
    """The scoring core of ``bm25_search`` over PREPARED index frames
    and a (query_id, token) frame — exactly the same float-op sequence
    (see ``bm25_search`` for the surrogate-idf contract), so list-built
    and frame-built query sets score bit-identically.  ``qtoks`` must
    be distinct per (query_id, token) with no empty tokens; per-token
    tf/df are unchanged by pre-filtering the postings to query tokens,
    which is what keeps the prepared-index path ≡ the in-plan path.

    ``cache_postings`` caches the query-token-filtered postings frame,
    which is referenced twice below (the df aggregation and the
    term-score join).  Default OFF: when ``qtoks`` is a cheap literal
    frame (``bm25_search``, the streaming per-batch path — where a
    per-batch cache would also leak an entry per micro-batch), the two
    references already share one shuffle via ReusedExchange, and the
    cache replaces that free reuse with a materialization barrier
    (measured +0.5 s on corpus_bm25_search/corpus_hybrid_search at
    sf0.1).  Opt IN when ``qtoks`` carries an expensive lineage of its
    own (``retrieval_self_mrr``'s per-probe top-terms pass): exchange
    reuse does NOT fire across the probe-derived subtrees there, and
    the cache removes a full corpus explode+filter re-evaluation
    (measured −1.4 s on corpus_retrieval_mrr; guide §2.4/§5)."""
    from .topk import top_k_per_group

    one_minus_b = 1.0 - b
    k1p1 = k1 + 1.0
    qtf = postings.join(
        F.broadcast(qtoks.select("token").distinct()), "token"
    )
    if cache_postings:
        qtf = qtf.cache()
    df_tbl = qtf.groupBy("token").agg(F.count("*").alias("df"))
    idf = (
        (F.col("_n") - F.col("df")).cast("double") + F.lit(0.5)
    ) / (F.col("df").cast("double") + F.lit(0.5))
    norm = F.lit(one_minus_b) + F.lit(b) * (
        F.col("dl").cast("double") / F.col("_avgdl")
    )
    tfp = (F.col("tf").cast("double") * F.lit(k1p1)) / (
        F.col("tf").cast("double") + F.lit(k1) * norm
    )
    term_scores = (
        qtf.join(F.broadcast(df_tbl), "token")
        .join(F.broadcast(qtoks), "token")
        .join(sized, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "query_id", "doc_id", "token", (idf * tfp).alias("_s")
        )
    )
    scores = term_scores.groupBy("query_id", "doc_id").agg(
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("token", "_s"))),
                lambda s: s["_s"],
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ).alias("score")
    )
    topk = top_k_per_group(
        scores,
        ["query_id"],
        [F.desc("score"), F.col("doc_id")],
        k,
        n_shards=n_shards,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.col("doc_id")
    )
    return topk.withColumn("rank", F.row_number().over(w)).select(
        "query_id", F.col("rank").cast("int").alias("rank"), "doc_id", "score"
    )


def hybrid_search(
    docs: DataFrame,
    emb: DataFrame,
    queries: list[tuple[int, list[str], int]],
    k: int = 10,
    pool: int = 20,
    rrf_k: int = 60,
    text_col: str = "text",
    vec_col: str = "embedding",
    emb_id_col: str = "vec_id",
) -> DataFrame:
    """HYBRID retrieval: fuse keyword (BM25) and vector (cosine) rank
    lists per query with reciprocal-rank fusion — the standard RAG
    retrieval stack (sparse + dense, RRF) as one DataFrame plan.

    ``queries`` rows are (query_id, terms, query_vec_id): the keyword
    side runs ``bm25_search`` over the terms, the dense side ranks the
    corpus by exact cosine against the embedding of ``query_vec_id``
    ("more like this document"; the query doc itself is excluded from
    its own dense list, per ``knn_bruteforce``).  Each retriever
    contributes its top-``pool`` list; fusion is

        rrf = 1/(rrf_k + kw_rank)  +  1/(rrf_k + vec_rank)

    with a missing list contributing 0 — two exactly-rounded divisions
    and one add, so fused scores are bit-portable, and RRF needs no
    score normalization across retrievers (only ranks), which is
    exactly why production hybrid stacks use it.  Output: top-``k``
    per query as (query_id, rank, doc_id, rrf_score, kw_rank,
    vec_rank) — NULL kw_rank/vec_rank marks a single-retriever hit.

    Scale shape: both retrievers are the audited plans (filtered-
    postings BM25, guarded-broadcast brute-force cosine — swap in
    ``ivf_knn`` for corpus-scale dense retrieval); the fusion join
    touches only 2·pool rows per query, and the final rank window sees
    a ≤2·pool-row group."""
    from pyspark.sql.window import Window

    if len({qid for qid, _, _ in queries}) != len(queries):
        raise ValueError("duplicate query_id in queries")
    kw = bm25_search(
        docs,
        [(qid, terms) for qid, terms, _ in queries],
        text_col=text_col,
        k=pool,
    ).select("query_id", "doc_id", F.col("rank").alias("kw_rank"))

    from .similarity import knn_bruteforce

    qvec_ids = [qv for _, _, qv in queries]
    spark = docs.sparkSession
    qmap = local_frame(
        spark,
        [(qid, qv) for qid, _, qv in queries],
        "query_id long, qvec_id long",
    )
    vec = (
        knn_bruteforce(
            emb,
            F.col(emb_id_col).isin(qvec_ids),
            k=pool,
            vec_col=vec_col,
            id_col=emb_id_col,
        )
        .select(
            F.col("query_id").alias("qvec_id"),
            F.col("neighbor_id").alias("doc_id"),
            F.col("rank").alias("vec_rank"),
        )
        .join(F.broadcast(qmap), "qvec_id")
        .select("query_id", "doc_id", "vec_rank")
    )
    fused = kw.join(vec, ["query_id", "doc_id"], "full_outer").withColumn(
        "rrf_score",
        F.coalesce(
            F.lit(1.0) / (F.lit(rrf_k) + F.col("kw_rank")).cast("double"),
            F.lit(0.0),
        )
        + F.coalesce(
            F.lit(1.0) / (F.lit(rrf_k) + F.col("vec_rank")).cast("double"),
            F.lit(0.0),
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_score"), F.col("doc_id")
    )
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("rank").cast("int").alias("rank"),
            "doc_id",
            "rrf_score",
            "kw_rank",
            "vec_rank",
        )
    )


def oov_rates(
    docs: DataFrame, k: int = 100, text_col: str = "text"
) -> DataFrame:
    """Per-doc out-of-vocabulary rate against the corpus's own top-``k``
    vocabulary: the fraction of token OCCURRENCES not covered by the
    k most frequent tokens — the cheap self-referential noise filter
    (gibberish, foreign-script spill, markup debris score high; ordinary
    prose scores low).

    Output: (doc_id, n_tokens, n_oov, oov_rate) — rate is one exactly-
    rounded int÷int division (0.0 for empty docs), so the DuckDB twin
    hash-compares bit-exact.

    Scale shape: the vocabulary is a global top-k (TakeOrdered — never a
    full sort) broadcast back as a marker; the per-doc count is ONE
    (doc_id) aggregation over the token stream with map-side combine.
    The token explode never shuffles for the probe."""
    vocab = top_vocabulary(docs, k, text_col).select("token").withColumn(
        "_iv", F.lit(1)
    )
    toks = docs.select(
        F.col("doc_id"), F.explode(_tokens(text_col)).alias("token")
    )
    counts = (
        toks.join(F.broadcast(vocab), "token", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(
                F.when(F.col("_iv").isNull(), 1).otherwise(0)
            ).alias("n_oov"),
        )
    )
    return (
        docs.select("doc_id")
        .join(counts, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.coalesce("n_oov", F.lit(0)).alias("n_oov"),
            F.when(
                F.col("n_tokens") > 0,
                F.col("n_oov").cast("double") / F.col("n_tokens"),
            )
            .otherwise(F.lit(0.0))
            .alias("oov_rate"),
        )
    )


def tfidf_top_terms(
    docs: DataFrame, k: int = 3, text_col: str = "text"
) -> DataFrame:
    """Per-document top-k terms by TF-IDF (tf × ln(N/df)), deterministic
    tiebreak on token.

    N and df are exact integers and ln/× are single IEEE ops on identical
    operands, so scores (and hence ranks) are engine-portable."""
    toks = docs.select(
        F.col("doc_id"), F.explode(_tokens(text_col)).alias("token")
    )
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df_ = tf.groupBy("token").agg(F.count("*").cast("long").alias("df"))
    n_docs = docs.select(F.count("*").alias("n_docs"))
    scored = (
        tf.join(df_, "token")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.col("tf").cast("double")
            * F.log(F.col("n_docs").cast("double") / F.col("df").cast("double")),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf"), F.asc("token")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("doc_id", "token", "tf", "df", "tfidf", "rank")
    )


def deterministic_sample(
    docs: DataFrame, rate: float, id_col: str = "doc_id"
) -> DataFrame:
    """Keep ~rate of rows by fixed LCG hash on the id — reproducible across
    runs/engines/retries, no RNG state, trivially parallel."""
    threshold = int(rate * SAMPLE_MOD)
    return docs.filter(sample_hash_col(F.col(id_col)) < F.lit(threshold))


def stratified_sample(
    docs: DataFrame,
    per_stratum: int,
    stratum_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exactly min(per_stratum, |stratum|) rows per stratum, chosen in
    deterministic hash order (quota sampling for class-balanced corpora)."""
    w = Window.partitionBy(stratum_col).orderBy(
        sample_hash_col(F.col(id_col)), F.col(id_col)
    )
    return (
        docs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= per_stratum)
        .drop("_rn")
    )


def budget_allocated_sample(
    docs: DataFrame,
    budget: int,
    stratum_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split a GLOBAL document budget across strata proportionally with
    LARGEST-REMAINDER rounding, then fill each stratum's quota in
    deterministic hash order — the standard way a training-data mixture
    turns "we can afford B documents" into per-source take counts
    without floats or bias (floor quotas sum to ≤ B; the leftover seats
    go to the largest fractional remainders, ties to the earlier
    stratum name).  ``stratified_sample`` takes a per-stratum count as
    GIVEN; this derives the counts from the corpus itself.

    Exact integer arithmetic end to end: base = (B·n_s) div N,
    remainder = (B·n_s) mod N (``budget`` is capped at 2³¹−1 so the
    products stay inside int64 for strata up to ~4.3e9 docs — the
    documented boundary; beyond it, allocate per-partition and merge).
    The whole allocation lives on the per-stratum COUNT frame — one
    narrow groupBy of the corpus, then unpartitioned windows over the
    ≤|strata|-row result (total, remainder rank, leftover seats): those
    single-partition exchanges carry one row per STRATUM, never data
    rows, which is the honest plan for a table that is tiny by
    construction.  Selection reuses ``stratified_sample``'s per-stratum
    hash-order window and a broadcast quota join.

    Output: (id, stratum, stratum_quota) for the B chosen docs (fewer
    when the corpus itself is smaller than the budget)."""
    if not 0 < budget <= 2**31 - 1:
        raise ValueError(
            f"budget must be in (0, 2^31-1], got {budget} — larger "
            "budgets overflow the int64 quota products"
        )
    counts = docs.groupBy(stratum_col).agg(F.count(F.lit(1)).alias("_n"))
    w_all = Window.partitionBy()
    w_rank = Window.orderBy(F.desc("_rem"), F.asc(stratum_col))
    # the total must NOT be named `_N`: SQL identifiers are
    # case-insensitive, so `_N` inside an expr resolves to `_n`
    quotas = (
        counts.withColumn("_tot", F.sum("_n").over(w_all))
        .withColumn(
            "_base", F.expr(f"(CAST({budget} AS BIGINT) * _n) DIV _tot")
        )
        .withColumn(
            "_rem", F.expr(f"(CAST({budget} AS BIGINT) * _n) % _tot")
        )
        .withColumn("_left", F.lit(budget) - F.sum("_base").over(w_all))
        .withColumn("_rank", F.row_number().over(w_rank))
        .select(
            stratum_col,
            (
                F.col("_base")
                + F.when(F.col("_rank") <= F.col("_left"), 1).otherwise(0)
            ).alias("stratum_quota"),
        )
    )
    w = Window.partitionBy(stratum_col).orderBy(
        sample_hash_col(F.col(id_col)), F.col(id_col)
    )
    return (
        docs.select(id_col, stratum_col)
        .withColumn("_rn", F.row_number().over(w))
        .join(F.broadcast(quotas), stratum_col)
        .filter(F.col("_rn") <= F.col("stratum_quota"))
        .select(id_col, stratum_col, "stratum_quota")
    )


def quality_tiered_sample(
    scored: DataFrame,
    rates: tuple[float, ...] = (0.1, 0.4, 0.7, 1.0),
    score_col: str = "mean_prob",
    id_col: str = "doc_id",
) -> DataFrame:
    """QUALITY-TIERED sampling — the curriculum/mixing rule quality-
    scored corpora feed the trainer with (keep most of the best docs,
    a thin slice of the worst, instead of a hard cutoff): rank every
    document by its quality score, cut the ranking into len(``rates``)
    equal-population tiers, and keep each tier at its own rate
    (``rates[0]`` = worst tier … ``rates[-1]`` = best) via the shared
    LCG key.

    Determinism/portability: the rank key is the score scaled to an
    integer (floor(score·10¹⁵), zero-padded decimal string — the
    operator's defined ordering contract; floor is exact, and the
    DuckDB twin ranks the identical string) with NULL scores coalesced
    to 0.0 (unscorable docs rank worst), ties to the smaller id; tier =
    ((rank−1)·n_tiers) div N is pure integers; the keep decision is
    ``sample_hash_col`` against rate·MOD, the same comparison shape as
    ``mixture``.

    SCORE DOMAIN CONTRACT — ``score_col`` must lie in [0, 10): the
    16-digit zero-padded key is order-isomorphic to the score exactly
    on that interval (negative scores invert lexicographically among
    themselves; ≥ 10 needs a 17th digit that lpad would truncate into
    key collisions).  Out-of-domain rows RAISE at execution time
    (``raise_error`` arm in the key expression — the DuckDB twin
    carries the identical guard) rather than silently mis-ranking;
    probability-style scores (``mean_prob`` ∈ [0, 1], the default) are
    always in domain.

    Scale shape: the global rank is the audited two-level
    ``sharded_global_rank`` (never a single-partition sort); N is one
    scalar count broadcast back; everything else is a projection.
    Output: kept rows' (id, tier, tier_rate, score)."""
    from .topk import sharded_global_rank

    n_tiers = len(rates)
    if n_tiers < 1 or any(not 0.0 <= r <= 1.0 for r in rates):
        raise ValueError(f"rates must be non-empty, each in [0,1]: {rates}")
    s = F.coalesce(F.col(score_col), F.lit(0.0))
    qkey = F.when(
        (s < 0.0) | (s >= 10.0),
        F.raise_error(
            F.concat(
                F.lit(
                    "quality_tiered_sample: score outside the [0, 10) "
                    "ordering domain (see docstring): "
                ),
                s.cast("string"),
            )
        ),
    ).otherwise(
        F.lpad(
            F.floor(s * F.lit(1e15)).cast("long").cast("string"), 16, "0"
        )
    )
    keyed = scored.select(
        F.col(id_col), s.alias("_score"), qkey.alias("_qkey")
    )
    ranked = sharded_global_rank(
        keyed, "_qkey", F.col(id_col), out="_qr"
    )
    total = ranked.agg(F.count(F.lit(1)).alias("_qn"))
    rate_arr = F.array(*[F.lit(float(r)) for r in rates])
    return (
        ranked.crossJoin(F.broadcast(total))
        .withColumn(
            "tier",
            F.expr(f"CAST(((_qr - 1) * {n_tiers}) DIV _qn AS INT)"),
        )
        .withColumn("tier_rate", F.element_at(rate_arr, F.col("tier") + 1))
        .filter(
            sample_hash_col(F.col(id_col)).cast("double")
            < F.col("tier_rate") * F.lit(float(SAMPLE_MOD))
        )
        .select(id_col, "tier", "tier_rate", F.col("_score").alias("score"))
    )


def temperature_allocated_sample(
    docs: DataFrame,
    budget: int,
    alpha: float = 0.5,
    stratum_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """TEMPERATURE-flattened budget allocation — the multilingual-LM
    mixing rule (mC4 / XLM-R style α-sampling): stratum quotas follow
    n_s^α instead of n_s, so α < 1 upweights small sources relative to
    proportional sampling (α=1 is exactly ``budget_allocated_sample``'s
    allocation; α→0 approaches equal shares).  Largest-remainder
    rounding on the flattened weights, then each stratum's quota filled
    in the shared deterministic LCG-hash order.

    Bit-portability boundary: α is restricted to {1.0, 0.5, 0.25} —
    n^0.5 and n^0.25 are sqrt / sqrt∘sqrt chains, and IEEE sqrt is
    correctly rounded on both engines, while a general ``pow`` is NOT
    exactly-rounded and differs across libms (the same reason the
    repo's scoring is ln-free).  The weight total folds in
    stratum-name order (pinned fold over the ≤|strata|-row table), so
    base = floor(B·w_s / W) and the fractional remainders are the
    identical doubles on both engines; leftover seats go to the
    largest remainders, ties to the earlier stratum name.

    Same scale shape as ``budget_allocated_sample``: the allocation
    lives on the per-stratum count frame (single-partition windows
    carry one row per STRATUM), selection is one window + broadcast
    quota join.  Output: (id, stratum, stratum_quota).  A stratum
    smaller than its flattened quota contributes everything it has and
    the budget under-fills — deliberately no reallocation pass (the
    α-sampling literature oversamples small sources by REPETITION at
    the trainer, never by stealing budget back; quota vs actual is
    visible in the output)."""
    if not 0 < budget <= 2**31 - 1:
        raise ValueError(
            f"budget must be in (0, 2^31-1], got {budget} — larger "
            "budgets overflow the int64 quota products"
        )
    if alpha not in (1.0, 0.5, 0.25):
        raise ValueError(
            f"alpha must be 1.0, 0.5 or 0.25 (exactly-rounded sqrt "
            f"chains — general pow is not bit-portable): {alpha}"
        )
    n_d = F.col("_n").cast("double")
    weight = {
        1.0: n_d,
        0.5: F.sqrt(n_d),
        0.25: F.sqrt(F.sqrt(n_d)),
    }[alpha]
    counts = (
        docs.groupBy(stratum_col)
        .agg(F.count(F.lit(1)).alias("_n"))
        .withColumn("_w", weight)
    )
    w_all = Window.partitionBy()
    w_rank = Window.orderBy(F.desc("_frac"), F.asc(stratum_col))
    # pinned stratum-name-order fold for the weight total (the DuckDB
    # twin folds list(_w ORDER BY stratum) — identical double)
    wtot = F.aggregate(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(stratum_col, "_w")).over(w_all)
            ),
            lambda s: s["_w"],
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    quotas = (
        counts.withColumn("_wtot", wtot)
        .withColumn(
            "_share", F.lit(float(budget)) * F.col("_w") / F.col("_wtot")
        )
        .withColumn("_base", F.floor("_share").cast("long"))
        .withColumn("_frac", F.col("_share") - F.col("_base").cast("double"))
        .withColumn("_left", F.lit(budget) - F.sum("_base").over(w_all))
        .withColumn("_rank", F.row_number().over(w_rank))
        .select(
            stratum_col,
            (
                F.col("_base")
                + F.when(F.col("_rank") <= F.col("_left"), 1).otherwise(0)
            ).alias("stratum_quota"),
        )
    )
    w = Window.partitionBy(stratum_col).orderBy(
        sample_hash_col(F.col(id_col)), F.col(id_col)
    )
    return (
        docs.select(id_col, stratum_col)
        .withColumn("_rn", F.row_number().over(w))
        .join(F.broadcast(quotas), stratum_col)
        .filter(F.col("_rn") <= F.col("stratum_quota"))
        .select(id_col, stratum_col, "stratum_quota")
    )


def shuffle_shards(
    docs: DataFrame,
    n_shards: int = 8,
    id_col: str = "doc_id",
    bucket_len: int = 3,
) -> DataFrame:
    """Deterministic global TRAINING SHUFFLE + shard assignment: every
    doc gets a reproducible shuffle rank (LCG hash order — no RNG
    state, identical across runs and engines) and a round-robin train
    shard, the write layout a training job consumes (reproducible data
    order is what makes loss curves comparable across reruns; resuming
    mid-epoch needs the (shard, rank) address of every sample).

    The global rank is the audited two-level ``sharded_global_rank``
    (never a single-partition sort): the hash is zero-padded to a
    fixed-width decimal string so its prefix shards are CONTIGUOUS in
    numeric order.  Round-robin sharding (rank−1 mod n_shards) gives
    every shard an interleaved — i.e. equally shuffled — subsequence,
    unlike contiguous splits whose last shard would hold the hash-order
    tail.  Integer-exact end to end."""
    from .topk import sharded_global_rank

    width = len(str(SAMPLE_MOD))
    keyed = docs.select(
        id_col,
        F.lpad(
            sample_hash_col(F.col(id_col)).cast("string"), width, "0"
        ).alias("_key"),
    )
    ranked = sharded_global_rank(
        keyed, key="_key", tiebreak=F.asc(id_col), shard_len=bucket_len,
        out="shuffle_rank",
    )
    return ranked.select(
        id_col,
        "shuffle_rank",
        ((F.col("shuffle_rank") - 1) % n_shards)
        .cast("int")
        .alias("train_shard"),
    )


def pack_sequences(
    docs: DataFrame,
    token_budget: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_shards: int | None = None,
    count_col: str | None = None,
) -> DataFrame:
    """Concat-then-chunk sequence packing: docs in id order are laid end to
    end and cut every `token_budget` tokens; each doc is assigned the bin
    its FIRST token lands in (bin = floor(exclusive-prefix-sum / budget)).

    Two-level offsets, so the prefix sum is embarrassingly parallel (a
    global ``Window.orderBy`` frame would collapse the whole cumsum into a
    single task — the one plan shape that cannot survive a 100× scale-up):

    1. ids are split into CONTIGUOUS range shards (bin assignment is
       provably independent of where the shard boundaries fall, so the
       cheap min/max-based equi-width split is enough — no sampling);
    2. each shard computes its local running sum in parallel
       (``Window.partitionBy(shard)``);
    3. per-shard token totals (one tiny row per shard) are cumsum'd on the
       driver into exclusive base offsets and broadcast-joined back.

    ``end_offset = shard_base + local_end`` equals the global running sum
    bit-for-bit, so the output is identical to the single-window form (the
    DuckDB oracle computes exactly that global form).  Only the per-doc
    (id, n_tokens) projection is cached between the totals pass and the
    final pass — a few bytes per document, not the text."""
    spark = docs.sparkSession
    if n_shards is None:
        n_shards = max(spark.sparkContext.defaultParallelism * 2, 1)

    # count_col: pack by a PRECOMPUTED per-doc length (e.g. learned-BPE
    # subword counts) instead of the whitespace token count — the budget
    # a tokenizer-aware pipeline actually packs against.  A NULL count
    # would silently poison the cumsum (SUM skips it, bin_id goes NULL,
    # later docs shift) — fail fast instead: assert_true raises at
    # evaluation time on the offending row.
    if count_col is not None:
        raw = F.col(count_col)
        n_tok = F.when(
            F.assert_true(
                raw.isNotNull(),
                F.lit(f"pack_sequences: NULL in count_col '{count_col}'"),
            ).isNull(),
            raw.cast("long"),
        )
    else:
        n_tok = F.size(_tokens(text_col)).cast("long")
    # cache the tiny (id, n_tokens) projection FIRST and derive the
    # shard bounds from it: an expensive derived input (e.g. the BPE
    # composition) would otherwise re-execute its whole lineage once
    # more just to answer min/max(id)
    sized = docs.select(F.col(id_col), n_tok.alias("n_tokens")).cache()

    # Contiguous equi-width id-range shards from one min/max over the
    # cached projection.
    bounds = sized.agg(
        F.min(id_col).alias("lo"), F.max(id_col).alias("hi")
    ).collect()[0]
    lo = int(bounds["lo"]) if bounds["lo"] is not None else 0
    hi = int(bounds["hi"]) if bounds["hi"] is not None else 0
    width = max(1, -(-(hi - lo + 1) // n_shards))  # ceil division
    shard = F.expr(f"({id_col} - {lo}) div {width}").cast("long")

    sized = sized.withColumn("_shard", shard)

    w_local = Window.partitionBy("_shard").orderBy(id_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    local = sized.withColumn("_local_end", F.sum("n_tokens").over(w_local))

    totals = sized.groupBy("_shard").agg(F.sum("n_tokens").alias("_tot")).collect()
    base_rows, acc = [], 0
    for r in sorted(totals, key=lambda r: r["_shard"]):
        base_rows.append((int(r["_shard"]), acc))
        acc += int(r["_tot"])
    bases = local_frame(spark, base_rows, "_shard long, _base long")

    return (
        local.join(F.broadcast(bases), "_shard")
        .withColumn("end_offset", F.col("_base") + F.col("_local_end"))
        .withColumn(
            "bin_id",
            F.floor(
                (F.col("end_offset") - F.col("n_tokens"))
                / F.lit(token_budget)
            ).cast("long"),
        )
        .select(id_col, "n_tokens", "bin_id")
    )


def mixture(
    docs: DataFrame,
    weights: dict[str, float],
    stratum_col: str = "source",
    id_col: str = "doc_id",
    default_rate: float = 0.0,
) -> DataFrame:
    """Weighted dataset mixing: keep each stratum at its own sampling rate
    (the pre-training 'data mixture' step — e.g. upweight curated sources,
    downsample crawl).  Rates ≥ 1.0 keep everything (no duplication —
    epoch-style upsampling belongs to the trainer, not the corpus filter).

    One scan, no shuffle: the per-source rate is a broadcast-joined column
    and the keep decision is the same LCG hash as deterministic_sample, so
    mixtures are reproducible and composable with the other corpus ops."""
    spark = docs.sparkSession
    rates = local_frame(
        spark,
        [(s, float(r)) for s, r in sorted(weights.items())],
        f"{stratum_col} string, _rate double",
    )
    return (
        docs.join(F.broadcast(rates), stratum_col, "left")
        .withColumn("_rate", F.coalesce("_rate", F.lit(float(default_rate))))
        .filter(
            sample_hash_col(F.col(id_col)).cast("double")
            < F.col("_rate") * F.lit(float(SAMPLE_MOD))
        )
        .drop("_rate")
    )


def heavy_hitters(
    docs: DataFrame,
    min_count: int = 100,
    text_col: str = "text",
    depth: int = 4,
    width: int = 8192,
) -> DataFrame:
    """Exact heavy-hitter tokens (term count ≥ ``min_count``) found with
    a count-min-sketch prefilter — the frequency-sketch counterpart of
    ``decontaminate``'s bloom membership prefilter.

    Two passes, both scale-shaped:

    1. BUILD: every token occurrence hashes into ``depth`` sketch rows
       of ``width`` counters; the aggregation key space is depth×width
       (tiny), so map-side partial aggregation collapses the pass to
       almost no shuffle regardless of corpus size.
    2. FILTER + VERIFY: occurrences broadcast-join the sketch (depth
       probes) and drop unless min_j cm[j][h_j(tok)] ≥ min_count.  The
       count-min estimate only OVERcounts (collisions add), so every
       true heavy hitter survives — no false negatives — and the exact
       groupBy count runs over the fp-sized survivor stream only,
       instead of shuffling the whole token stream / vocabulary.

    Output (token, term_count) is EXACT (survivor counts are true global
    counts; collision survivors die at the final HAVING), so the oracle
    twin is the plain GROUP BY ... HAVING SQL regardless of sketch
    parameters.  Deterministic given the fixed xxhash64 probes."""
    from .textops import tokens_col

    toks = docs.select(
        F.explode(tokens_col(F.col(text_col))).alias("tok")
    )
    probes = list(range(depth))
    sketch = (
        toks.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(j).alias("j"),
                            F.pmod(
                                F.xxhash64(F.col("tok"), F.lit(j)),
                                F.lit(width),
                            ).alias("bucket"),
                        )
                        for j in probes
                    ]
                )
            ).alias("p")
        )
        .groupBy(F.col("p.j").alias("j"), F.col("p.bucket").alias("bucket"))
        .agg(F.count("*").alias("cnt"))
        # cached: each of the `depth` probe joins below builds a broadcast
        # from this plan — uncached, every build re-runs the full corpus
        # explode + sketch aggregation (depth× the BUILD pass).  The table
        # is ≤ depth×width rows; lifecycle is session-owned like the
        # repo's other cached plan builders.
        .cache()
    )
    survivors = toks
    for j in probes:
        cm_j = sketch.filter(F.col("j") == j).select(
            F.col("bucket").alias(f"_b{j}"), F.col("cnt").alias(f"_c{j}")
        )
        survivors = (
            survivors.withColumn(
                f"_p{j}",
                F.pmod(F.xxhash64(F.col("tok"), F.lit(j)), F.lit(width)),
            )
            .join(
                F.broadcast(cm_j), F.col(f"_p{j}") == F.col(f"_b{j}")
            )
            .filter(F.col(f"_c{j}") >= min_count)
            .drop(f"_b{j}", f"_c{j}", f"_p{j}")
        )
    return (
        survivors.groupBy("tok")
        .agg(F.count("*").alias("term_count"))
        .filter(F.col("term_count") >= min_count)
        .select(F.col("tok").alias("token"), "term_count")
    )


def token_budget_mixture(
    docs: DataFrame,
    budgets: dict[str, float],
    stratum_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Token-budget dataset mixing: sample each stratum down to a target
    TOKEN budget (how training mixes are actually specified — "50 B
    tokens of crawl, all of curated") instead of a hand-computed rate.

    Per-source keep rate = min(1, budget / total_tokens), derived
    in-plan: one narrow (source, token-count) aggregation, a broadcast
    join of the handful of per-source rates back onto the corpus, and
    the same deterministic LCG keep rule as ``mixture`` — reproducible,
    engine-portable, no driver collect.  Sources with no budget keep
    everything; an all-empty source (0 tokens) keeps everything rather
    than dividing by zero.  Sampling is per-document, so the realized
    token count is budget ± O(√(budget · max_doc_tokens)) — the
    expected value is exact.

    Scale shape: the totals aggregation shuffles only (source, partial
    sum) pairs; the corpus itself never shuffles."""
    from .textops import tokens_col

    # coalesce per row so an all-NULL-text source totals 0 (SUM over only
    # NULLs is NULL, which would poison the rate into NULL → drop-all)
    n_toks = F.coalesce(
        F.size(tokens_col(F.col(text_col))).cast("long"), F.lit(0)
    )
    totals = docs.groupBy(stratum_col).agg(F.sum(n_toks).alias("_total"))
    budget_df = local_frame(
        docs.sparkSession,
        [(s, float(b)) for s, b in sorted(budgets.items())],
        f"{stratum_col} string, _budget double",
    )
    rates = totals.join(F.broadcast(budget_df), stratum_col, "left").select(
        stratum_col,
        F.when(
            F.col("_budget").isNull() | (F.col("_total") == 0), F.lit(1.0)
        )
        .otherwise(F.least(F.lit(1.0), F.col("_budget") / F.col("_total")))
        .alias("_rate"),
    )
    return (
        docs.join(F.broadcast(rates), stratum_col, "left")
        # NULL-stratum docs never equi-join (NULL ≠ NULL): treat them as
        # unbudgeted and keep everything, rather than silently dropping
        .withColumn("_rate", F.coalesce("_rate", F.lit(1.0)))
        .filter(
            sample_hash_col(F.col(id_col)).cast("double")
            < F.col("_rate") * F.lit(float(SAMPLE_MOD))
        )
        .drop("_rate")
    )


# Bloom helpers now live in functions/bloom.py as a general join
# facility; these thin wrappers keep the original gram-keyed surface
# (and the existing tests) working unchanged.


def _bloom_bitmap(bench_grams: DataFrame, m_bits: int) -> DataFrame:
    return bloom.bloom_bitmap(bench_grams, "gram", m_bits)


def _bloom_prefilter(
    corpus_grams: DataFrame, bitmap: DataFrame, m_bits: int
) -> DataFrame:
    return bloom.bloom_prefilter(corpus_grams, bitmap, "gram", m_bits)


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    text_col: str = "text",
    max_broadcast_grams: int = 5_000_000,
    max_bloom_bits: int = 1 << 28,
) -> DataFrame:
    """Benchmark decontamination: drop every corpus doc sharing ANY token
    n-gram with a benchmark doc (the standard pre-training hygiene filter).

    Shingle anti-join: corpus n-grams ⟕ benchmark n-gram set, with a
    three-regime plan keyed off the benchmark side's distinct-shingle
    count (one cheap count(*) probe over the small side):

    - ``n ≤ max_broadcast_grams``: broadcast the exact shingle set — the
      corpus side never shuffles at all.
    - above that, a BLOOM PREFILTER regime: build a 2-hash bloom bitmap
      over the benchmark shingles (``min(16·n, max_bloom_bits)`` bits, as
      a broadcastable (word, 64-bit-word) table), probe every corpus gram
      with two broadcast joins + JVM bit tests, and run the exact shuffle
      semi-join only over the surviving grams.  The 100 TB side's shuffle
      shrinks to ~fp·|corpus grams| + true matches (fp ≈ 1.4% at 16
      bits/gram) while the exact phase keeps the result identical —
      bloom false positives are re-checked, and false negatives are
      impossible.
    - when even the capped bitmap would be useless (expected fp > 0.5,
      i.e. the decontam list is enormous), fall back to the plain
      shuffle semi-join of the full gram stream.

    All three regimes produce identical results, so the oracle twin is
    the same plain anti-join SQL regardless of plan."""
    return decontaminate_plan(
        benchmark, n, text_col, max_broadcast_grams, max_bloom_bits
    )(docs)


def decontaminate_plan(
    benchmark: DataFrame,
    n: int = 5,
    text_col: str = "text",
    max_broadcast_grams: int = 5_000_000,
    max_bloom_bits: int = 1 << 28,
):
    """Precompute ``decontaminate``'s STATIC side once — gram set cached
    and counted, regime chosen, bloom bitmap built if applicable — and
    return a ``docs -> kept_docs`` closure that applies the anti-join.
    The reusable form for repeated batches against one benchmark (the
    streaming writer applies it per micro-batch without re-counting the
    benchmark every trigger)."""
    bench_grams = (
        _doc_ngrams(benchmark, text_col, n).select("gram").distinct().cache()
    )
    n_grams = bench_grams.count()  # also materializes the cache for the join
    prefilter = None
    if n_grams <= max_broadcast_grams:
        bench_side = F.broadcast(bench_grams)
    else:
        m_bits, expected_fp = bloom._auto_bits(n_grams, max_bloom_bits)
        if expected_fp <= 0.5:
            bitmap = _bloom_bitmap(bench_grams, m_bits)

            def prefilter(grams, _bm=bitmap, _mb=m_bits):
                return _bloom_prefilter(grams, _bm, _mb)
        # else: bitmap saturated — plain shuffle semi-join
        bench_side = bench_grams

    def apply(docs: DataFrame) -> DataFrame:
        corpus_grams = _doc_ngrams(docs, text_col, n)
        probe = prefilter(corpus_grams) if prefilter else corpus_grams
        contaminated = (
            probe.join(bench_side, "gram").select("doc_id").distinct()
        )
        return docs.join(contaminated, "doc_id", "left_anti")

    return apply


def contamination_scores(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    threshold_pct: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """GRADED decontamination: per-doc fraction of distinct token
    n-grams that appear in the benchmark set, plus a dirty flag at
    ``threshold_pct`` percent — the overlap metric real pipelines use
    when drop-on-ANY-shared-shingle (``decontaminate``) is too blunt
    (a single boilerplate 5-gram should not delete a 10k-token doc).

    Output: (doc_id, n_grams, n_hit, overlap, is_contaminated).
    ``overlap`` is a single exactly-rounded int÷int double and the flag
    compares 100·n_hit ≥ threshold·n_grams in exact integer arithmetic,
    so both are engine-portable bit-for-bit.  Docs with fewer than ``n``
    tokens have no shingles: overlap 0.0, clean.

    Scale shape: the benchmark gram set is broadcast with a hit marker
    (the corpus gram stream never shuffles for the probe), then ONE
    (doc_id) aggregation computes total and hit counts together —
    map-side combine applies, and the result is one narrow row per doc
    joined back to the id spine."""
    # normalize the id up front: _doc_ngrams keys by doc_id, so a custom
    # id_col must become doc_id BEFORE shingling or the count join would
    # silently key one side by the wrong column
    docs = docs.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias(text_col)
    )
    grams = _doc_ngrams(docs, text_col, n)
    bench = (
        _doc_ngrams(benchmark, text_col, n)
        .select("gram")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    counts = (
        grams.join(F.broadcast(bench), "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_hit"),
        )
    )
    return (
        docs.select("doc_id")
        .join(counts, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
            F.when(
                F.col("n_grams") > 0,
                F.col("n_hit").cast("double") / F.col("n_grams"),
            )
            .otherwise(F.lit(0.0))
            .alias("overlap"),
            (
                (F.coalesce("n_grams", F.lit(0)) > 0)
                & (
                    F.coalesce("n_hit", F.lit(0)) * 100
                    >= F.lit(threshold_pct) * F.col("n_grams")
                )
            ).alias("is_contaminated"),
        )
    )


def split_assign(
    docs: DataFrame,
    fractions: list[tuple[str, float]] | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic train/val/test split assignment: each doc gets a
    split label from its LCG sampling key (``sample_hash_col``), with
    integer cumulative thresholds — reproducible across runs, engines,
    partitionings, and corpus growth (a doc's label NEVER changes when
    other docs are added, which a row_number()-based split cannot
    promise).  The label is a pure row-local projection: no shuffle, no
    sampling state, trivially pushed into any downstream plan.

    ``fractions`` is an ordered list of (label, fraction); thresholds
    are floor(cumsum·SAMPLE_MOD) in exact integer arithmetic and the
    LAST label absorbs the float-rounding remainder, so every doc is
    labeled.  Fractions must be positive and sum to 1 (±1e-9) — a
    shortfall would silently inflate the last label instead."""
    if fractions is None:
        fractions = [("train", 0.9), ("val", 0.05), ("test", 0.05)]
    if not fractions or any(f <= 0 for _, f in fractions):
        raise ValueError(f"fractions must be positive: {fractions}")
    total = sum(f for _, f in fractions)
    # require sum ≈ 1: the last label absorbs only float-rounding
    # epsilon, not arbitrary shortfall — a 0.7/0.1 request would
    # silently hand the last label 30% instead of its requested 10%
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1, got {total}")
    h = sample_hash_col(F.col(id_col))
    cuts: list[tuple[str, int]] = []
    cum = 0.0
    for label, frac in fractions:
        cum += frac
        cuts.append((label, int(cum * SAMPLE_MOD)))
    # last label absorbs float-rounding remainder: threshold → MOD
    cuts[-1] = (cuts[-1][0], SAMPLE_MOD)
    # build inside-out so the FIRST threshold is the outermost when():
    # h < t1 → label1, else h < t2 → label2, …, else the last label
    expr: Column = F.lit(cuts[-1][0])
    for label, cut in reversed(cuts[:-1]):
        expr = F.when(h < F.lit(cut), F.lit(label)).otherwise(expr)
    return docs.select(
        F.col(id_col).alias("doc_id"), expr.alias("split")
    )


def chunk_dedup(
    docs: DataFrame,
    chunk_tokens: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Chunk-level exact dedup with reassembly: split every document
    into consecutive ``chunk_tokens``-token chunks, drop every repeat of
    a chunk already seen anywhere in the corpus (first occurrence by
    (doc_id, chunk_idx) order wins — including repeats WITHIN one doc),
    and rebuild each document from its surviving chunks in order.  The
    passage-level analogue of line/paragraph dedup for corpora without
    newline structure — the standard fix for boilerplate that exact
    whole-doc dedup misses and near-dedup would over-delete.

    Output: (doc_id, n_chunks, n_kept, text_deduped) — the rebuilt text
    has single-space token joins (whitespace-normalized, like every
    token-level operator here).  Docs losing every chunk (or empty to
    begin with) come back with empty text, not dropped rows.

    Scale shape: one shuffle keyed by chunk text to elect the canonical
    first occurrence (map-side combine collapses per-partition repeats
    first), one (doc_id) shuffle to reassemble, pinned order via
    array_sort(collect_list(struct)) — no windows over the full corpus,
    no driver state."""
    from .textops import tokens_col

    c = int(chunk_tokens)
    if c <= 0:
        raise ValueError(f"chunk_tokens must be positive, got {c}")
    toks = tokens_col(F.col(text_col))
    n_chunks = F.floor((F.size(toks) + (c - 1)) / c).cast("int")
    chunks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(
            # empty docs: sequence(0, -1) is DESCENDING, not empty —
            # same guard as _doc_ngrams
            F.when(
                n_chunks > 0,
                F.transform(
                    F.sequence(F.lit(0), n_chunks - 1),
                    lambda i: F.array_join(F.slice(toks, i * c + 1, c), " "),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("chunk_idx", "chunk"),
    )
    keeper = chunks.groupBy("chunk").agg(
        F.min(F.struct("doc_id", "chunk_idx")).alias("_first")
    )
    kept = (
        chunks.join(keeper, "chunk")
        .filter(
            (F.col("doc_id") == F.col("_first.doc_id"))
            & (F.col("chunk_idx") == F.col("_first.chunk_idx"))
        )
        .select("doc_id", "chunk_idx", "chunk")
    )
    reassembled = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("chunk_idx", "chunk"))),
                lambda s: s["chunk"],
            ),
        ).alias("text_deduped"),
    )
    totals = chunks.groupBy("doc_id").agg(F.count("*").alias("n_chunks"))
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(totals, "doc_id", "left")
        .join(reassembled, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_chunks", F.lit(0)).alias("n_chunks"),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("text_deduped", F.lit("")).alias("text_deduped"),
        )
    )


# KMV scramble constants: one multiplicative-congruential pass that
# equidistributes the (length-bounded) polynomial token hash over
# [0, HASH_MOD) before order statistics are taken.  tok_hash < HASH_MOD
# ≈ 2^30 and A < 2^30, so h·A < 2^60 stays exact in int64.
KMV_SCRAMBLE_A = 998_244_353
KMV_SCRAMBLE_B = 123_456_791


def distinct_sketch(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    k: int = 64,
) -> DataFrame:
    """KMV (k-minimum-values) distinct-token cardinality sketch per group:
    keep each group's ``k`` smallest distinct token hashes; when a group
    has ≥ k distinct tokens, estimate its cardinality as
    (k−1) · M / h_k (h_k = the k-th smallest hash, M = the hash space
    size) — the classic order-statistics estimator (Bar-Yossef et al.
    2002); below k the count is exact by construction.

    Why this over ``approx_count_distinct``: the built-in HLL++ is the
    right tool when a ±2% answer is enough and portability doesn't
    matter, but its register layout is engine-private — no external
    system can reproduce or merge it.  KMV over the engine's portable
    30-bit token hash is fully DETERMINISTIC: the DuckDB oracle
    replicates the exact same k-minima and estimate bit-for-bit, and two
    engines' sketches merge by just re-taking the k smallest of the
    union.

    The raw polynomial token hash is fine for equality-only uses
    (minhash, vocab joins) but NOT for order statistics: its magnitude
    is bounded by token LENGTH (a 5-char token folds to < ~1.1e8 ≪ M),
    so k-minima over it are biased small and the estimate biased high —
    measured 8.7× over on a short-token fixture.  KMV therefore
    scrambles each hash with one multiplicative congruential step
    (h · A + B mod M, A large) first, which equidistributes any input
    range across [0, M); the oracle applies the identical step.

    Shuffle shape: one distinct over narrow (group, hash) pairs, then
    the k-minima via the sharded two-level rank (`topk.top_k_per_group`,
    sharded on the hash itself) — a group with 10⁹ distinct hashes
    ranks across 16 shard tasks instead of sorting in one (value-
    identical to the single window; the oracle twin stays bit-exact).
    (k−1)·M ≈ 6.3e10 at k=64 is exactly representable in a double and
    the single division is exactly rounded, so the estimate is
    bit-portable too.

    Output: (group_col, n_kept, kth_hash, est_distinct)."""
    hashes = (
        docs.select(
            F.col(group_col),
            F.explode(F.array_distinct(_tokens(text_col))).alias("_tok"),
        )
        .select(
            group_col,
            (
                (
                    hashing.tok_hash_col(F.col("_tok"))
                    * F.lit(KMV_SCRAMBLE_A)
                    + F.lit(KMV_SCRAMBLE_B)
                )
                % F.lit(hashing.HASH_MOD)
            ).alias("_h"),
        )
        .distinct()
    )
    from .topk import top_k_per_group

    kept = top_k_per_group(
        hashes,
        [group_col],
        [F.col("_h").asc()],
        k=k,
        shard_by=F.col("_h"),
    )
    return kept.groupBy(group_col).agg(
        F.count("*").cast("long").alias("n_kept"),
        F.max("_h").alias("kth_hash"),
    ).select(
        group_col,
        "n_kept",
        "kth_hash",
        F.when(F.col("n_kept") < k, F.col("n_kept").cast("double"))
        .otherwise(
            F.lit(float((k - 1) * hashing.HASH_MOD)) / F.col("kth_hash").cast("double")
        )
        .alias("est_distinct"),
    )


def _tokens(text_col: str) -> Column:
    from .textops import tokens_col

    return tokens_col(F.col(text_col))


# ── BPE merge training ───────────────────────────────────────────────


def _char_syms(word: Column) -> Column:
    """Word → array of single-character symbols (substring walk — the
    same primitive as the oracle's list_transform(range, substr))."""
    return F.transform(
        F.sequence(F.lit(1), F.length(word)),
        lambda i: F.substring(word, i, F.lit(1)),
    )


def _bpe_word_table(docs: DataFrame, text_col: str) -> DataFrame:
    """(word, syms, wcount): the distinct-word histogram with each word
    exploded into character symbols.  BPE training operates entirely on
    this table — ONE corpus pass builds it, and every merge iteration
    touches only vocabulary-sized data (the classic trick that makes
    BPE tractable: at 100 TB the corpus streams once; the working set
    is |vocab|)."""
    from .textops import tokens_col

    toks = docs.select(F.explode(tokens_col(F.col(text_col))).alias("w"))
    return toks.groupBy("w").agg(F.count("*").alias("wcount")).select(
        "w", _char_syms(F.col("w")).alias("syms"), "wcount"
    )


def _bpe_pair_counts(words: DataFrame) -> DataFrame:
    """(left_sym, right_sym, pair_count): adjacent-symbol pair counts
    weighted by word frequency.  Narrow shuffle — (pair, partial count)
    rows with map-side combine; the symbol arrays never shuffle."""
    arr = F.col("syms")
    n = F.size(arr)
    # guard: sequence(a, b) DESCENDS when a > b, so single-symbol words
    # must yield an empty index list, not [1, 0]
    idx = F.when(n >= 2, F.sequence(F.lit(1), n - 1)).otherwise(
        F.array().cast("array<int>")
    )
    pairs = F.transform(
        idx,
        lambda i: F.struct(
            F.element_at(arr, i).alias("l"),
            F.element_at(arr, i + 1).alias("r"),
        ),
    )
    return (
        words.select(F.explode(pairs).alias("p"), "wcount")
        .groupBy(
            F.col("p.l").alias("left_sym"), F.col("p.r").alias("right_sym")
        )
        .agg(F.sum("wcount").alias("pair_count"))
    )


def _bpe_apply_one(syms: Column, left: Column, right: Column) -> Column:
    """Apply one merge to a symbol array with the classic greedy
    left-to-right scan, as a row-local left fold: current symbol x
    merges into the last emitted symbol when (last, x) = (left, right).
    The merged token left||right is strictly longer than ``left``, so a
    fresh merge can never itself be the left half of another merge in
    the same pass — the fold is exactly the skip-scan every reference
    implementation uses (property-pinned against plain Python,
    including same-symbol runs like 'bbbbb' + (b,b) → [bb, bb, b])."""
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == left)
            & (x == right),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.concat(left, right)),
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def bpe_merges(
    docs: DataFrame,
    n_merges: int = 8,
    text_col: str = "text",
    materialize: bool = False,
) -> DataFrame:
    """Byte-pair-encoding merge training over the corpus: learn the
    ``n_merges`` most frequent adjacent-symbol merges, greedily, exactly
    as the classic algorithm does — output one row per learned rule:
    (step, left_sym, right_sym, merged, pair_count).

    Ties break deterministically on (pair_count DESC, left_sym,
    right_sym), so the rule sequence is a pure function of the corpus
    and the DuckDB twin replicates it bit-for-bit (its apply step uses
    a gaps-and-islands window formulation of the same greedy scan —
    within a run of consecutive matching positions, alternate ones
    merge).

    Fully distributed and collect-free: each iteration's best pair is a
    global top-1 (TakeOrdered — never a full sort) that rides the plan
    as a broadcast 1-row frame; the merge itself is the row-local fold
    (``_bpe_apply_one``).  Per iteration: one narrow (pair, count)
    shuffle + one broadcast.  ``materialize=True`` localCheckpoints the
    word table each round — the production setting for large
    ``n_merges``, where the lazy form's O(k²) recomputation of the
    word-table lineage dominates; results are identical.

    Degenerate corpora with fewer distinct pairs than ``n_merges``
    simply stop emitting rows (the empty top-1 empties the remaining
    chain on both engines).

    The lazy form recomputes the word-table lineage O(k²) across steps;
    do NOT be tempted to cache each iteration's word table — nested
    InMemoryRelations embed their child plans in every tree rendering,
    and a 10-step chain OOMs the driver merely EXPLAINING itself.
    ``materialize=True`` (localCheckpoint) is the production answer: it
    truncates lineage instead of nesting it."""
    words = _bpe_word_table(docs, text_col)
    out: DataFrame | None = None
    for step in range(1, n_merges + 1):
        best = (
            _bpe_pair_counts(words)
            .orderBy(F.desc("pair_count"), "left_sym", "right_sym")
            .limit(1)
        )
        row = best.select(
            F.lit(step).cast("int").alias("step"),
            "left_sym",
            "right_sym",
            F.concat("left_sym", "right_sym").alias("merged"),
            "pair_count",
        )
        out = row if out is None else out.unionByName(row)
        bp = F.broadcast(
            best.select(
                F.col("left_sym").alias("_l"), F.col("right_sym").alias("_r")
            )
        )
        words = words.crossJoin(bp).select(
            "w",
            _bpe_apply_one(F.col("syms"), F.col("_l"), F.col("_r")).alias(
                "syms"
            ),
            "wcount",
        )
        if materialize:
            # LAZY checkpoint: the LogicalRDD wrapper truncates the plan
            # immediately (the OOM-explaining nested-lineage problem the
            # docstring describes never forms), while materialization
            # defers to the first action — each step's word table persists
            # when the chain first computes through it, so the k-step
            # training costs ONE action's scheduling instead of k eager
            # checkpoint jobs, with identical per-step work and results
            words = words.localCheckpoint(eager=False)
    assert out is not None
    return out


def bpe_segment_col(text: Column, merges: list[tuple[str, str]]) -> Column:
    """Row-local BPE segmentation of whitespace tokens under a STATIC
    learned merge list (rule order = priority order): array of subword
    tokens per document.  The application primitive is the same greedy
    fold as training, applied rule by rule at plan-build time — pure
    Column expressions, no UDF."""
    from .textops import tokens_col

    def seg(word: Column) -> Column:
        syms = _char_syms(word)
        for left, right in merges:
            syms = _bpe_apply_one(syms, F.lit(left), F.lit(right))
        return syms

    return F.flatten(F.transform(tokens_col(text), seg))


def bpe_token_counts(
    docs: DataFrame,
    n_merges: int = 6,
    text_col: str = "text",
    id_col: str = "doc_id",
    materialize: bool = False,
) -> DataFrame:
    """END-TO-END tokenizer pipeline in ONE lazy plan: train the BPE
    merge rules on the corpus (``bpe_merges``), then segment every
    document with the LEARNED rules — each rule rides the plan as a
    1-row broadcast and applies through the same greedy fold, no driver
    round-trip between training and application.  Output: per-doc
    whitespace word count and post-merge subword count.

    Each step's rule attaches by LEFT join on a constant-true condition
    (broadcast nested-loop, ≤1 build row): a degenerate corpus that runs
    out of pairs before ``n_merges`` leaves later steps' rule frames
    EMPTY — the left join keeps every doc with NULL rule columns and the
    fold's NULL match condition never fires (an identity merge), where a
    crossJoin would have returned zero rows and erased the corpus.

    Scale shape: training is ``bpe_merges``'s narrow pair aggregations;
    application is row-local fold work over the corpus scan with only
    1-row broadcasts joined in — no shuffle of the documents at all.
    ``materialize=True`` localCheckpoints each training iteration's word
    table (the canonical Spark pattern for iterative algorithms:
    truncate lineage instead of recomputing the O(k²) lazy chain) —
    identical results, measurably faster, at the cost of eager jobs at
    plan-build time."""
    rules = bpe_merges(
        docs, n_merges=n_merges, text_col=text_col, materialize=materialize
    ).cache()
    return bpe_token_counts_from_rules(
        docs, rules, n_merges=n_merges, text_col=text_col, id_col=id_col
    )


def bpe_token_counts_from_rules(
    docs: DataFrame,
    rules: DataFrame,
    n_merges: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The APPLICATION half of ``bpe_token_counts``: segment every
    document under an already-learned merge-rule table (step, left_sym,
    right_sym, …) — the path a persisted tokenizer artifact takes
    (train once per corpus snapshot, parquet the rules, segment
    everywhere; the save_ann_index pattern pointed at the tokenizer).
    ``n_merges`` bounds the steps applied; steps missing from ``rules``
    (degenerate training corpus) ride the NULL-rule identity fold, same
    as the inline form.  Bit-identical to training-composed segmentation
    whenever ``rules`` equals the trained table — integer rule strings
    round-trip parquet exactly.

    Shape (r14): the greedy merge fold — an interpreted (CodegenFallback)
    higher-order expression, the expensive per-task work here — runs
    ONCE PER DISTINCT WORD instead of once per token occurrence: the
    same one-pass word-histogram trick training uses (``_bpe_word_table``)
    applied to segmentation.  Per-doc subword totals come from the
    exploded tokens joined to the vocab-sized (word → subword-count)
    table and re-aggregated (integer addition is associative, so the
    per-doc sum is the identical integer); the join side is
    vocabulary-sized and AQE broadcasts it for real corpora, leaving
    the corpus side one explode + partial-aggregated groupBy (one
    narrow |docs|-row exchange).  Measured ~2× on the application half
    at sf0.1; the win grows with the occurrence/vocab ratio."""
    from .textops import tokens_col

    vocab = docs.select(
        F.explode(tokens_col(F.col(text_col))).alias("_w")
    ).distinct()
    for step in range(1, n_merges + 1):
        bp = F.broadcast(
            rules.filter(F.col("step") == step).select(
                F.col("left_sym").alias(f"_l{step}"),
                F.col("right_sym").alias(f"_r{step}"),
            )
        )
        vocab = vocab.join(bp, F.lit(True), "left")

    syms = _char_syms(F.col("_w"))
    for step in range(1, n_merges + 1):
        syms = _bpe_apply_one(syms, F.col(f"_l{step}"), F.col(f"_r{step}"))
    seg_sizes = vocab.select("_w", F.size(syms).alias("_nsub"))

    exploded = docs.select(
        F.col(id_col), F.explode(tokens_col(F.col(text_col))).alias("_w")
    )
    per_doc = (
        exploded.join(seg_sizes, "_w")
        .groupBy(id_col)
        .agg(F.sum("_nsub").cast("int").alias("_n_subwords"))
    )
    return (
        docs.select(
            F.col(id_col),
            F.size(tokens_col(F.col(text_col))).alias("n_words"),
        )
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            "n_words",
            F.coalesce("_n_subwords", F.lit(0)).alias("n_subwords"),
        )
    )


def sliding_windows(
    docs: DataFrame,
    size: int = 64,
    stride: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Overlapping token windows per document: window ``win_idx`` covers
    tokens [win_idx·stride, win_idx·stride + size) — the chunking every
    RAG index and fixed-context pretraining slicer runs over a corpus
    (stride < size gives overlap so no span is split across a boundary;
    stride = size tiles exactly; stride > size leaves gaps, allowed but
    unusual).  The final window may be shorter than ``size``; empty
    documents produce no rows.

    Pure row-local work: one sequence+posexplode per doc and an array
    slice per window — no shuffle at all, the plan is a projection the
    scan streams through (contrast chunk_dedup, which must shuffle to
    elect global chunk owners).

    Output: (doc_id, win_idx, start_tok, n_win_tokens, text_win)."""
    if size <= 0:
        raise ValueError(f"size must be positive, got {size}")
    if stride <= 0:
        raise ValueError(f"stride must be positive, got {stride}")
    toks = _tokens(text_col)
    n = F.size(toks)
    starts = F.when(
        n > 0, F.sequence(F.lit(0), n - 1, F.lit(stride))
    ).otherwise(F.lit(None))
    return (
        docs.select(F.col(id_col).alias("doc_id"), toks.alias("_t"), starts.alias("_s"))
        .select("doc_id", "_t", F.posexplode("_s").alias("win_idx", "_start"))
        .select(
            "doc_id",
            "win_idx",
            F.col("_start").alias("start_tok"),
            F.size(F.slice(F.col("_t"), F.col("_start") + 1, size)).alias(
                "n_win_tokens"
            ),
            F.concat_ws(
                " ", F.slice(F.col("_t"), F.col("_start") + 1, size)
            ).alias("text_win"),
        )
    )


def weighted_sample(
    docs: DataFrame,
    weight_num: Column,
    weight_den: Column,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-row weighted sampling: keep each row with probability
    ``weight_num / weight_den`` (an exact integer ratio — e.g. a quality
    score's numerator/denominator, a per-length rate), decided by the
    same deterministic LCG key every sampler here uses.  The keep rule
    is the pure-integer cross-multiplication

        sample_hash(id) · weight_den  <  weight_num · SAMPLE_MOD

    so inclusion is exactly proportional to the ratio with NO float
    round-off anywhere — reproducible across runs, engines, retries,
    and corpus growth (a row's verdict never depends on other rows).
    This is the importance-sampling primitive (quality-weighted corpus
    thinning: P(keep) ∝ quality) that `mixture` (per-source rates) and
    `token_budget_mixture` (global budget) specialize.

    Ratios must satisfy 0 ≤ num ≤ den and 0 < den ≤ 2^63/SAMPLE_MOD
    (≈9.2·10⁹ — the bound that keeps BOTH cross-multiply sides inside
    int64; checked in-plan, raising at execution time rather than
    overflowing into an ANSI ArithmeticException or a silent wrap).
    Corpus-scale denominators beyond that (a 10¹¹-token total) should
    be pre-reduced — divide num and den by their gcd or a common power
    of ten; the ratio, not its representation, is the contract.
    Row-local projection + filter: no shuffle, pushes into the scan."""
    num = weight_num.cast("long")
    den = weight_den.cast("long")
    den_cap = (2**63 - 1) // SAMPLE_MOD
    valid = (den > 0) & (den <= F.lit(den_cap)) & (num >= 0) & (num <= den)
    checked_num = F.when(valid, num).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    "weighted_sample needs 0 <= num <= den, "
                    f"0 < den <= {den_cap} (int64 cross-multiply bound): "
                ),
                F.coalesce(num.cast("string"), F.lit("NULL")),
                F.lit("/"),
                F.coalesce(den.cast("string"), F.lit("NULL")),
            )
        )
    )
    h = sample_hash_col(F.col(id_col))
    return docs.filter(
        h * den < checked_num * F.lit(SAMPLE_MOD)
    )


def snapshot_diff(
    old_docs: DataFrame,
    new_docs: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Dataset-version diff: compare two corpus snapshots by doc_id and
    content digest, emitting one row per DIFFERENCE — ``added`` (id only
    in new), ``removed`` (id only in old), ``changed`` (digests differ).
    Unchanged docs emit nothing, so the output is |delta|-sized: the
    audit a versioned 100 TB corpus runs between releases without ever
    materializing either side's text downstream.

    Shuffle shape: each side reduces to (doc_id, md5) — text is dropped
    before the join — then ONE full-outer sort-merge join on doc_id.
    Digests are md5 hex strings, so the DuckDB twin hash-compares
    bit-exact."""
    o = old_docs.select(
        "doc_id", F.md5(F.col(text_col)).alias("old_digest")
    )
    n = new_docs.select(
        "doc_id", F.md5(F.col(text_col)).alias("new_digest")
    )
    joined = o.join(n, "doc_id", "full_outer")
    status = (
        F.when(F.col("old_digest").isNull(), F.lit("added"))
        .when(F.col("new_digest").isNull(), F.lit("removed"))
        .when(F.col("old_digest") != F.col("new_digest"), F.lit("changed"))
    )
    return (
        joined.withColumn("status", status)
        .filter(F.col("status").isNotNull())
        .select("doc_id", "status", "old_digest", "new_digest")
    )


def cooccurrence(
    docs: DataFrame,
    vocab_k: int = 100,
    min_pair_count: int = 2,
    text_col: str = "text",
) -> DataFrame:
    """Token co-occurrence mining — the association-rules primitive
    (which terms appear in the same documents far more often than
    chance): for every pair of top-``vocab_k`` vocabulary tokens, the
    number of documents containing BOTH, plus the exact-ratio LIFT
    n_docs·c_ab / (c_a·c_b) (> 1 ⇒ positively associated; the PMI
    argument without the non-portable log).

    The vocabulary restriction is the scale guard, not a convenience: an
    unrestricted per-doc token self-join is quadratic in document length
    with no cap.  Restricting to a top-k vocabulary (broadcast, built
    with the same deterministic tie-break as ``top_vocabulary``) bounds
    the per-doc join at k tokens and the pair space at k²/2 — both
    independent of corpus size, so the plan's only corpus-proportional
    work is the token scan.  Lift's numerator n·c_ab ≤ n² must stay
    exactly representable: n·c_ab and c_a·c_b are int64 products cast
    to double (exact to 2⁵³), one exactly-rounded division.

    Output: (token1 < token2, pair_count, count1, count2, lift)."""
    toks = docs.select(
        "doc_id", F.explode(F.array_distinct(_tokens(text_col))).alias("token")
    )
    vocab = (
        toks.groupBy("token")
        .agg(F.count("*").alias("_c"))
        .orderBy(F.desc("_c"), "token")
        .limit(vocab_k)
    )
    marked = toks.join(F.broadcast(vocab.select("token")), "token")
    n_docs = docs.select(F.count("*").alias("_n"))
    counts = marked.groupBy("token").agg(F.count("*").alias("_cnt"))
    a = marked.alias("a")
    b = marked.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.token") < F.col("b.token")),
        )
        .groupBy(
            F.col("a.token").alias("token1"),
            F.col("b.token").alias("token2"),
        )
        .agg(F.count("*").alias("pair_count"))
        .filter(F.col("pair_count") >= min_pair_count)
    )
    c1 = F.broadcast(
        counts.select(
            F.col("token").alias("token1"), F.col("_cnt").alias("count1")
        )
    )
    c2 = F.broadcast(
        counts.select(
            F.col("token").alias("token2"), F.col("_cnt").alias("count2")
        )
    )
    return (
        pairs.join(c1, "token1")
        .join(c2, "token2")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "token1",
            "token2",
            "pair_count",
            "count1",
            "count2",
            (
                (F.col("_n") * F.col("pair_count")).cast("double")
                / (F.col("count1") * F.col("count2")).cast("double")
            ).alias("lift"),
        )
    )


def retrieval_self_mrr(
    docs: DataFrame,
    probe_mod: int = 149,
    n_terms: int = 2,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
) -> DataFrame:
    """Retrieval-quality evaluation by SELF-RETRIEVAL: every probe doc
    (doc_id % probe_mod == 0) queries the corpus with its own
    ``n_terms`` most frequent tokens (count DESC, token tie-break) and
    we measure where the probe ranks in its OWN result list — the
    labeled-data-free eval loop a retrieval pipeline runs after every
    index change (a doc that can't find itself under its best terms
    signals scoring or indexing drift).

    Output is ONE row: n_queries, hits_at_1, hits_at_k (probe found at
    rank 1 / within top-k) and mrr_at_k — mean reciprocal rank with
    rank misses contributing 0.  Bit-portable: each 1/rank is a single
    exactly-rounded division, the mean folds per-query terms in
    query_id order (the pinned-fold recipe), and the ranking underneath
    is the log-free BM25 surrogate (``bm25_search``) that already sits
    under the hash gate.

    Scale + cost shape: the eval's per-query cost is inherently
    Σ_terms df(term) score rows (frequent query terms touch most of the
    corpus — a selective-terms variant was measured and REJECTED on
    this corpus: its tiny fixed vocabulary gives every token df ∝ N,
    so a df cap either empties the query set or picks incidental rare
    tokens that aren't distinctive of their probe and collapse the MRR
    to noise).  The honest knob is the probe SAMPLE (1/probe_mod of
    the corpus): eval cost scales with probes × corpus, dialed
    independently of corpus size.  Zero eligible probes reports
    mrr 0.0, not a division error."""
    from .topk import top_k_per_group

    probes = docs.filter(F.col("doc_id") % probe_mod == 0)
    pcnt = (
        probes.select(
            "doc_id", F.explode(_tokens(text_col)).alias("token")
        )
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("_c"))
    )
    toks = docs.select(
        "doc_id", F.explode(_tokens(text_col)).alias("token")
    )
    qtoks = top_k_per_group(
        pcnt, ["doc_id"], [F.desc("_c"), F.col("token")], n_terms
    ).select(F.col("doc_id").alias("query_id"), "token")
    postings = (
        toks.join(F.broadcast(qtoks.select("token").distinct()), "token")
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
    )
    sized, stats = _bm25_doc_stats(docs, text_col)
    # cache_postings: qtoks here carries the whole per-probe top-terms
    # lineage, so the filtered-postings cache pays (see
    # bm25_score_queries docstring; measured −1.4 s at sf0.1)
    ranked = bm25_score_queries(
        postings, sized, stats, qtoks, k1=k1, b=b, k=k, cache_postings=True
    )
    hits = ranked.filter(F.col("doc_id") == F.col("query_id")).select(
        "query_id", "rank"
    )
    per = (
        qtoks.select("query_id")
        .distinct()
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            "rank",
            F.coalesce(
                F.lit(1.0) / F.col("rank").cast("double"), F.lit(0.0)
            ).alias("_rr"),
        )
    )
    ordered_sum = F.aggregate(
        F.transform(
            F.array_sort(F.collect_list(F.struct("query_id", "_rr"))),
            lambda s: s["_rr"],
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    n_q = F.count(F.lit(1))
    return per.agg(
        n_q.alias("n_queries"),
        F.sum(F.when(F.col("rank") == 1, 1).otherwise(0)).alias("hits_at_1"),
        F.sum(F.when(F.col("rank").isNotNull(), 1).otherwise(0)).alias(
            "hits_at_k"
        ),
        F.when(n_q > 0, ordered_sum / n_q.cast("double"))
        .otherwise(F.lit(0.0))
        .alias("mrr_at_k"),
    )


def leakage_safe_split(
    docs: DataFrame,
    pairs: DataFrame | None = None,
    fractions: list[tuple[str, float]] | None = None,
    id_col: str = "doc_id",
    clusters: DataFrame | None = None,
) -> DataFrame:
    """Near-dup-aware train/val/test split: transitive near-dup CLUSTERS
    are assigned whole — every member inherits its cluster's label — so
    a document can never sit in train while its near-duplicate sits in
    test (the eval-leakage channel a per-document split leaves open no
    matter how good its hash is; dedup REDUCES duplicates, this
    guarantees the survivors' copies can't straddle the boundary).

    Composition: ``dedup.dup_clusters`` over the pair graph (hook-and-
    shortcut contraction — the scale path), then ``split_assign``'s LCG
    key on the CLUSTER id, joined back member-wise.  Labels inherit
    split_assign's stability contract at the cluster level: a cluster's
    label never changes when other docs are added, though a NEW pair
    merging two clusters re-keys the merged cluster (necessarily — the
    guarantee itself demands the members move together).

    Scale shape: the cluster-label table is ≤ |clusters| rows (one LCG
    projection, no shuffle), and the member join is broadcast-sized
    under AQE for real corpora; everything else is the contraction's
    own cost.  Output: (doc_id, cluster_id, split).

    Compose-order: pipelines that already ran ``dedup.dup_clusters``
    (resolution, reps) should pass that frame via ``clusters`` —
    (doc_id, cluster_id), every doc present — instead of ``pairs``, so
    the contraction isn't paid twice; both call forms are
    value-identical by construction (pytest-pinned).  Exactly one of
    ``pairs`` / ``clusters`` must be given."""
    from .dedup import dup_clusters

    if (pairs is None) == (clusters is None):
        raise ValueError(
            "leakage_safe_split takes exactly one of pairs= or clusters="
        )
    if clusters is None:
        clusters = dup_clusters(
            docs.select(F.col(id_col).alias("doc_id")), pairs
        )
    labels = split_assign(
        clusters.select("cluster_id").distinct(),
        fractions,
        id_col="cluster_id",
    ).select(F.col("doc_id").alias("cluster_id"), "split")
    return clusters.join(labels, "cluster_id").select(
        "doc_id", "cluster_id", "split"
    )
