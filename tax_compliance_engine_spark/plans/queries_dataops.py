"""Spark-side data-pipeline queries for the driver contract (documents +
embeddings tables)."""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import corpus, dedup, multimodal, similarity, textops


def _spread(df: DataFrame) -> DataFrame:
    """The testdata parquet is one row group (one input split); round-robin
    repartition so the CPU-heavy pre-shuffle stages (tokenize, hash, n-gram
    explode, dot products) use every core.  At production scale the input
    arrives in many splits and this becomes a no-op decision, not a shuffle."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


@functools.lru_cache(maxsize=32)
def _read_spread(spark: SparkSession, path: str) -> DataFrame:
    """Memoized read+spread — ``_spread``'s partition-count probe costs
    ~0.15 s of driver work (plan→RDD translation) per call and the
    result DataFrame is an immutable plan, so one per (session, path)
    serves every query in the process.  Keyed on the session OBJECT: a
    restarted session hashes to a new key, so no stale-plan reuse."""
    return _spread(spark.read.parquet(path))


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _read_spread(spark, f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _read_spread(spark, f"{sf_dir}/embeddings.parquet")


def doc_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.text_stats(_docs(spark, sf_dir))


def doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.quality_score(textops.text_stats(_docs(spark, sf_dir)))


def doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.lang_id(_docs(spark, sf_dir))


def doc_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.token_counts(_docs(spark, sf_dir))


def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.fingerprints(_docs(spark, sf_dir))


def doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.repetition_stats(_docs(spark, sf_dir))


def doc_scrub_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.scrub_pii(_docs(spark, sf_dir))


def doc_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite per-document text profile (driver-slot composite): the
    stats + quality-score family joined with language ID and token counts
    on doc_id — text_stats, quality_score, lang_id, and token_counts each
    contribute their full column set to one hash-gated row per doc."""
    docs = _docs(spark, sf_dir)
    quality = textops.quality_score(textops.text_stats(docs))
    lang = textops.lang_id(docs)
    toks = textops.token_counts(docs).select(
        "doc_id", "n_ws_tokens", "n_bpe_tokens"  # n_chars already in stats
    )
    return quality.join(lang, "doc_id").join(toks, "doc_id")


def doc_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite dedup-signal profile (driver-slot composite): the three
    fingerprint digests joined with the Gopher-style repetition stats on
    doc_id — fingerprints and repetition_stats under one hash gate."""
    docs = _docs(spark, sf_dir)
    return textops.fingerprints(docs).join(
        textops.repetition_stats(docs), "doc_id"
    )


def corpus_length_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document-length distribution profile: count, total/mean,
    EXACT median and p90 (sort-based ``percentile`` — bit-identical linear
    interpolation to DuckDB's quantile_cont), max.  The per-source exact
    percentile shuffles only (source, n_chars) pairs; at extreme scale the
    approx_percentile sketch is the drop-in (t-digest, mergeable,
    one-pass) — kept exact here so the oracle can gate it."""
    docs = _docs(spark, sf_dir)
    return docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.avg("n_chars").alias("avg_chars"),
        F.expr("percentile(n_chars, 0.5)").alias("median_chars"),
        F.expr("percentile(n_chars, 0.9)").alias("p90_chars"),
        F.max("n_chars").alias("max_chars"),
    )


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup(_docs(spark, sf_dir))


def dedup_ngram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs(_docs(spark, sf_dir), n=3, threshold=0.2)


def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.containment_pairs(_docs(spark, sf_dir), n=3, threshold=0.5)


def dedup_minhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_signatures(_docs(spark, sf_dir))


def dedup_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite signature table (driver-slot composite): the banded
    MinHash signatures (algo='minhash', one row per band) unioned with the
    30-bit SimHash (algo='simhash', band=0, sig = decimal string) — both
    signature families under one hash gate."""
    docs = _docs(spark, sf_dir)
    mh = dedup.minhash_signatures(docs).select(
        F.lit("minhash").alias("algo"),
        "doc_id",
        "band",
        F.col("band_sig").alias("sig"),
    )
    sh = dedup.simhash_signatures(docs).select(
        F.lit("simhash").alias("algo"),
        "doc_id",
        F.lit(0).cast("int").alias("band"),
        F.col("simhash").cast("string").alias("sig"),
    )
    return mh.unionByName(sh)


def dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_dup_pairs(_docs(spark, sf_dir), threshold=0.5)


def dedup_minhash_est_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path near-dup pairs: signature-estimated Jaccard, no exact
    token verification (verify cost independent of document length)."""
    return dedup.minhash_est_pairs(_docs(spark, sf_dir), threshold=0.5)


def dedup_incremental_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest screen (dedup.incremental_minhash_pairs): the
    doc_id%13 slice plays the incoming batch, the rest the standing
    corpus — (new_id, corpus_id, est_jaccard) matches only, no
    corpus-side self-join."""
    docs = _docs(spark, sf_dir)
    batch = docs.filter(F.col("doc_id") % 13 == 0)
    standing = docs.filter(F.col("doc_id") % 13 != 0)
    return dedup.incremental_minhash_pairs(batch, standing, threshold=0.5)


def dedup_minhash_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deduplicated corpus id-set after MinHash near-dup removal."""
    docs = _docs(spark, sf_dir)
    pairs = dedup.minhash_dup_pairs(docs, threshold=0.5)
    return dedup.near_dedup_filter(docs.select("doc_id"), pairs)


def dedup_cluster_reps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-representative selection (dedup.cluster_representatives):
    one keep-decision row per MinHash near-dup cluster — longest member
    wins, ties to the smallest doc_id — the resolution rule that
    preserves content instead of the min-id accident.

    Composes on the SCALE-PATH pair stream (`minhash_est_pairs`:
    signature-estimated Jaccard, verify cost independent of document
    length) rather than the exact-token-verify pairs: r8 measured the
    exact-pairs composition inheriting an 8.61× wall curve at 10× data
    purely from verify shuffle volume, while the reps argmax itself is
    one narrow groupBy.  The exact-verify resolution composite
    (`dedup_minhash_resolution`) keeps the exact-pairs lineage for the
    quality-over-cost regime.

    Token lengths for the longest-member rule come from the pair
    lineage's own signature aggregation (`minhash_est_pairs_stats`) —
    the r10 bench showed the second full-corpus tokenization scan was
    this row's one avoidable constant under bench cache isolation."""
    docs = _docs(spark, sf_dir)
    pairs, doc_stats = dedup.minhash_est_pairs_stats(docs, threshold=0.5)
    return dedup.cluster_representatives(docs, pairs, doc_stats=doc_stats)


def dedup_minhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup clusters over the MinHash pair graph."""
    docs = _docs(spark, sf_dir)
    pairs = dedup.minhash_dup_pairs(docs, threshold=0.5)
    return dedup.dup_clusters(docs.select("doc_id"), pairs)


def dedup_est_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path deduplicated id-set: `near_dedup_filter` over the
    signature-estimated pair stream — the keep decision a 100 TB run
    makes (est verify touches 16 ints per candidate; the exact-verify
    twin `dedup_minhash_keep` is the quality-over-cost variant)."""
    docs = _docs(spark, sf_dir)
    pairs = dedup.minhash_est_pairs(docs, threshold=0.5)
    return dedup.near_dedup_filter(docs.select("doc_id"), pairs)


def dedup_est_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path transitive near-dup clusters: min-label propagation
    over the signature-estimated pair graph (the composition every
    100 TB resolution pass uses; `dedup_minhash_clusters` keeps the
    exact-verify lineage)."""
    docs = _docs(spark, sf_dir)
    pairs = dedup.minhash_est_pairs(docs, threshold=0.5)
    return dedup.dup_clusters(docs.select("doc_id"), pairs)


def dedup_minhash_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite near-dup resolution (driver-slot composite): the transitive
    cluster id (dup_clusters) AND the one-pass keep decision
    (near_dedup_filter) for every doc in one row — both resolution
    strategies over the same MinHash pair graph under one hash gate.
    ``kept`` is the single-pass min-id rule, so a chain a~b~c keeps c even
    though c's cluster_id is a (the documented difference between the two
    strategies, now pinned by the oracle)."""
    docs = _docs(spark, sf_dir)
    # `pairs` feeds BOTH resolution strategies: dup_clusters persists
    # its own edge projection, but the `losers` branch would re-run the
    # banded self-join + exact verify from scratch — cache the narrow
    # (doc1, doc2, jaccard) stream once (r14, guide §2.4/§5).
    pairs = dedup.minhash_dup_pairs(docs, threshold=0.5).cache()
    clusters = dedup.dup_clusters(docs.select("doc_id"), pairs)
    losers = pairs.select(F.col("doc2").alias("doc_id")).distinct().withColumn(
        "_lost", F.lit(True)
    )
    return clusters.join(losers, "doc_id", "left").select(
        "doc_id",
        "cluster_id",
        F.coalesce(~F.col("_lost"), F.lit(True)).alias("kept"),
    )


def embedding_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup clusters over the embedding cosine pair graph —
    the same iterative min-label propagation the MinHash path uses, fed by
    LSH-banded embedding pairs (semantic dedup's clustering step) at the
    planner-sized default geometry."""
    emb = _emb(spark, sf_dir)
    pairs = similarity.embedding_dup_pairs(emb).select(
        F.col("id1").alias("doc1"), F.col("id2").alias("doc2")
    )
    return dedup.dup_clusters(
        emb.select(F.col("vec_id").alias("doc_id")), pairs
    ).select(F.col("doc_id").alias("vec_id"), "cluster_id")


def dedup_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix (dedup.source_overlap): per
    canonically-ordered source pair, the count and exact dyadic sum of
    signature-estimated near-dup Jaccards — which subcorpora mirror
    which."""
    return dedup.source_overlap(_docs(spark, sf_dir), threshold=0.5)


def dedup_simhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_signatures(_docs(spark, sf_dir))


def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_dup_pairs(_docs(spark, sf_dir))


def knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.knn_bruteforce(
        _emb(spark, sf_dir), query_pred=F.col("vec_id") % 50 == 0, k=5
    )


def ivf_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    # rows-only check: IVF cell probing depends on float centroid means
    # (summation-order-sensitive), so values are engine-specific by design
    return similarity.ivf_knn(
        _emb(spark, sf_dir), query_pred=F.col("vec_id") % 50 == 0, k=5, nprobe=2
    )


def embedding_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band/bucket assignments at the PLANNER-SIZED geometry
    (similarity.planned_geometry — one memoized corpus-count probe
    feeding lsh_geometry_for_corpus), the same geometry every
    default-path embedding composition rides."""
    emb = _emb(spark, sf_dir)
    g = similarity.planned_geometry(emb)
    return similarity.lsh_bucket_assignments(
        emb, n_bands=g["n_bands"], bits_per_band=g["bits_per_band"]
    )


def embedding_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs at the DEFAULT — now planner-sized — geometry:
    no caller composing on this query can silently inherit the fixed
    4×4 default's corpus²-candidate growth (measured 99.4× candidates
    at 10× data before the default moved to the planner)."""
    return similarity.embedding_dup_pairs(_emb(spark, sf_dir), threshold=0.35)


def embedding_dup_pairs_multitable(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LSH amplification (similarity.embedding_dup_pairs_multitable):
    two independent hash tables OR'd, in-join global-band dedup, exact
    cosine verify."""
    return similarity.embedding_dup_pairs_multitable(
        _emb(spark, sf_dir), n_tables=2
    )


def embedding_dup_pairs_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`embedding_dup_pairs` at the corpus-scale 32-plane geometry
    (4 bands × 8 sign bits): per-band random collisions drop 16× (1/256
    vs 1/16), which is the knob that turns the measured corpus²-candidate
    growth near-linear; true near-dups still collide with per-plane
    agreement prob 1 − θ/π.  Swept bit-exact against the regenerated
    oracle fold at the same geometry."""
    return similarity.embedding_dup_pairs(
        _emb(spark, sf_dir), threshold=0.35, n_bands=4, bits_per_band=8
    )


def embedding_dup_pairs_amplified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full planner recipe (similarity.embedding_dup_pairs_amplified):
    planner-sized bands AND the prescribed amplification count, ORed
    multitable candidates, exact-cosine verify — what a production
    near-dup pass should actually call."""
    return similarity.embedding_dup_pairs_amplified(
        _emb(spark, sf_dir), threshold=0.35
    )


def embedding_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss ±1 random projection (64 → 16 dims,
    similarity.random_projection) — row-local, bit-portable, the cheap
    preprocessing for downstream ANN/dedup at scale."""
    return similarity.random_projection(_emb(spark, sf_dir))


def embedding_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the embedding near-dup pair graph
    (graph.triangle_counts) — clique-vs-chain structure of the dup
    clusters, wedge join + semi-join closure.  The edge list rides the
    planner-sized default geometry: at the old fixed 4×4 bands the
    candidate stream (and thus every wedge) grew ∝ corpus²."""
    from ..operators import graph

    pairs = similarity.embedding_dup_pairs(_emb(spark, sf_dir), threshold=0.2)
    return graph.triangle_counts(
        pairs.select(F.col("id1").alias("src"), F.col("id2").alias("dst"))
    )


def embedding_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank over the symmetrized embedding near-dup
    graph (graph.pagerank, 5 iterations) — graph centrality as a data-
    curation weight, bit-exact through every iteration's src-ordered
    contribution folds.  Edges come from the planner-sized default
    geometry (near-linear edge volume at any corpus size)."""
    from ..operators import graph

    pairs = similarity.embedding_dup_pairs(_emb(spark, sf_dir), threshold=0.35)
    edges = pairs.select(
        F.col("id1").alias("src"), F.col("id2").alias("dst")
    ).unionByName(
        pairs.select(F.col("id2").alias("src"), F.col("id1").alias("dst"))
    )
    nodes = _emb(spark, sf_dir).select(F.col("vec_id").alias("node_id"))
    return graph.pagerank(edges, nodes, iterations=5).select(
        F.col("node_id").alias("vec_id"), "rank"
    )


def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    # rows-only check: double averages are summation-order-sensitive, so no
    # bit-exact oracle; shape/row-count is still verified
    return similarity.label_centroids(_emb(spark, sf_dir))


def label_centroid_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-portable per-label centroid components: one (label, pos,
    mean_val) row per dimension, with the per-dimension sum computed as a
    SEQUENTIAL left fold in vec_id order so DuckDB reproduces the double
    bit-for-bit.  The production operator (`similarity.label_centroids`)
    keeps the parallel F.avg plan; this query exists to pin the centroid
    math under the hash-parity gate."""
    from pyspark.sql import functions as F

    from ..operators.similarity import _vec_d

    exploded = _emb(spark, sf_dir).select(
        "label",
        "vec_id",
        F.posexplode(_vec_d(F.col("embedding"))).alias("pos", "val"),
    )
    ordered_sum = F.aggregate(
        F.transform(
            F.array_sort(F.collect_list(F.struct("vec_id", "val"))),
            lambda s: s["val"],
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return (
        exploded.groupBy("label", F.col("pos").cast("int").alias("pos"))
        .agg(
            (ordered_sum / F.count("*")).alias("mean_val"),
            F.count("*").cast("long").alias("n_vectors"),
        )
    )


def _assemble_centroids(comps: DataFrame, cell_col: str) -> DataFrame:
    """(cell, pos, mean_val) component rows → (cell, centroid array)."""
    return comps.groupBy(cell_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mean_val"))),
            lambda s: s["mean_val"],
        ).alias("centroid")
    )


def _portable_cells(spark: SparkSession, sf_dir: str, emb):
    """The shared bit-portable coarse quantizer: label-seeded ordered-fold
    centroids, E-step nearest-centroid re-assignment, M-step
    vec_id-ordered fold re-means.  Returns (refined (cell, centroid),
    assignments (vec_id, cell)) — the probe list and inverted file for
    both `ivf_knn_portable` and `ivfpq_knn_portable`."""
    seed_cents = _assemble_centroids(
        label_centroid_components(spark, sf_dir), "label"
    )
    assign = similarity.nearest_cell_assignments(emb, seed_cents).cache()

    from ..operators.similarity import _vec_d

    exploded = emb.join(assign, "vec_id").select(
        "cell",
        "vec_id",
        F.posexplode(_vec_d(F.col("embedding"))).alias("pos", "val"),
    )
    ordered_sum = F.aggregate(
        F.transform(
            F.array_sort(F.collect_list(F.struct("vec_id", "val"))),
            lambda s: s["val"],
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    comps1 = exploded.groupBy(
        "cell", F.col("pos").cast("int").alias("pos")
    ).agg((ordered_sum / F.count("*")).alias("mean_val"))
    return _assemble_centroids(comps1, "cell"), assign


def embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd k-means training (similarity.kmeans_centroid_components):
    id-seeded, two iterations, bit-portable ordered-fold means — the
    data-driven coarse-quantizer trainer behind the IVF family."""
    return similarity.kmeans_centroid_components(
        _emb(spark, sf_dir), k=8, n_iter=2
    )


def ivf_knn_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k with ordered-fold centroids refined by ONE Lloyd
    iteration, bit-portable end to end (sqrt/mul/div are exactly-rounded
    IEEE ops, every sum is a pinned-order sequential fold), so unlike
    `ivf_knn` this variant sits under the full hash gate.

    The Lloyd step makes the coarse quantizer defensible on corpora whose
    labels do NOT align with the embedding geometry: labels only SEED the
    centroids; each vector is then re-assigned to its nearest centroid
    (E-step, `nearest_cell_assignments`) and centroids are recomputed as
    the vec_id-ordered fold mean of their new members (M-step), which is
    what the probe list and the inverted file are built from."""
    emb = _emb(spark, sf_dir)
    refined, assign = _portable_cells(spark, sf_dir, emb)
    return similarity.ivf_knn(
        emb,
        query_pred=F.col("vec_id") % 50 == 0,
        k=5,
        nprobe=2,
        cell_col="cell",
        centroids=refined,
        assignments=assign,
    )


def ivfpq_knn_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF + PQ with residual encoding, bit-portable end to end: the
    shared coarse quantizer (`_portable_cells`), per-subspace PQ
    codebooks trained on RESIDUALS (vector − cell centroid), cell-probed
    ADC over nibble codes, exact L2² re-rank of the shortlist.  The
    whole index — coarse training, residuals, codebook training,
    encoding, probing, ADC, re-rank — sits under the bit-exact hash
    gate."""
    emb = _emb(spark, sf_dir)
    refined, assign = _portable_cells(spark, sf_dir, emb)
    return similarity.ivfpq_knn(
        emb,
        query_pred=F.col("vec_id") % 50 == 0,
        centroids=refined,
        assignments=assign,
        k=5,
        nprobe=2,
        shortlist=50,
    )


def _ann_index_root() -> str | None:
    """Resolve (creating if needed) a TRUSTED root for persisted ANN
    index artifacts.  Indexes are served back as query results with no
    per-file integrity check, so the root must not be writable by other
    users (a world-writable shared dir lets any local user pre-plant a
    directory at the predictable cache key and poison query output).
    Default: a mode-0700 per-uid dir under the temp dir.  Returns None
    — callers then build inline, uncached — when the root (default or
    $TCE_ANN_INDEX_DIR) exists but is owned by someone else or is
    group/other-writable."""
    import os
    import stat as stat_mod
    import tempfile

    uid = os.getuid() if hasattr(os, "getuid") else 0
    root = os.environ.get(
        "TCE_ANN_INDEX_DIR",
        os.path.join(tempfile.gettempdir(), f"tce_ann_index_{uid}"),
    )
    try:
        os.makedirs(root, mode=0o700, exist_ok=True)
        st = os.stat(root)
    except OSError:
        return None
    if hasattr(os, "getuid") and st.st_uid != os.getuid():
        return None
    if st.st_mode & (stat_mod.S_IWGRP | stat_mod.S_IWOTH):
        return None
    return root


def _prebuilt_index(spark, emb, family: str, build, params=None):
    """The persisted-ANN-index pattern (VERDICT r7 #3, mirroring
    dedup.minhash_component_table): load the parquet index for this
    (corpus snapshot, family, build params, format version) key,
    building + atomically publishing it on first miss.  ``build``
    returns the (name → DataFrame) component map; ``params`` is the
    build-hyperparameter dict salted into the key so a knob change can
    never serve a stale artifact.  In-memory corpora (no file lineage ⇒
    no safe cache key) and untrusted cache roots (see
    ``_ann_index_root``) build inline every time; a failed publish or
    post-publish load also degrades to the fresh in-memory components
    (bit-identical — parquet round-trips doubles exactly) instead of
    raising."""
    import os

    key = similarity.ann_index_key(emb, family, params)
    root = _ann_index_root()
    if key is None or root is None:
        return build()
    path = os.path.join(root, key)
    try:
        return similarity.load_ann_index(spark, path)
    except FileNotFoundError:
        pass
    components = build()
    try:
        similarity.save_ann_index(path, components)
        return similarity.load_ann_index(spark, path)
    except OSError:
        return components


def ivf_knn_prebuilt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`ivf_knn_portable` answered from a PERSISTED index: the portable
    coarse quantizer (centroids + inverted-file assignments) is built
    once per corpus snapshot, parquet-persisted, and every later run
    pays only the probe + in-cell exact scan — the production shape,
    where the index artifact outlives the query session.  Bit-identical
    to the inline build (parquet doubles round-trip exactly), so it
    shares `ivf_knn_portable`'s oracle twin."""
    emb = _emb(spark, sf_dir)

    def build():
        refined, assign = _portable_cells(spark, sf_dir, emb)
        return {"centroids": refined, "assignments": assign}

    idx = _prebuilt_index(
        spark, emb, "ivf", build, params={"coarse": "portable_cells_v1"}
    )
    return similarity.ivf_knn(
        emb,
        query_pred=F.col("vec_id") % 50 == 0,
        k=5,
        nprobe=2,
        cell_col="cell",
        centroids=idx["centroids"],
        assignments=idx["assignments"],
    )


def pq_knn_prebuilt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`pq_knn_portable` answered from a PERSISTED index (codebooks +
    nibble codes): training runs once per corpus snapshot; the per-run
    marginal cost is the ADC scan + shortlist re-rank — the half a
    100 TB deployment actually pays per query batch.  Shares
    `pq_knn_portable`'s oracle twin (bit-identical by construction)."""
    emb = _emb(spark, sf_dir)

    def build():
        cb = similarity.pq_codebooks(emb)
        return {"codebooks": cb, "codes": similarity.pq_codes(emb, cb)}

    idx = _prebuilt_index(
        spark,
        emb,
        "pq",
        build,
        params={
            "m": similarity.PQ_M,
            "k": similarity.PQ_K,
            "dim": similarity.DIM,
        },
    )
    return similarity.pq_knn_rerank(
        emb,
        query_pred=F.col("vec_id") % 50 == 0,
        codebooks=idx["codebooks"],
        codes=idx["codes"],
        k=5,
        shortlist=50,
    )


# the shared ivfpq build knobs salted into the persisted-index key —
# ivfpq_knn_prebuilt and ivfpq_index_append must agree so they share one
# artifact (the append encodes against the same frozen index the queries
# serve from)
_IVFPQ_PARAMS = {
    "coarse": "portable_cells_v1",
    "m": similarity.PQ_M,
    "k": similarity.PQ_K,
    "dim": similarity.DIM,
}


def ivfpq_knn_prebuilt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`ivfpq_knn_portable` answered from a PERSISTED index — all four
    artifacts (coarse centroids, inverted file, residual codebooks,
    codes) parquet-persisted via similarity.save_ann_index; the per-run
    marginal cost is probe + ADC + re-rank.  Shares
    `ivfpq_knn_portable`'s oracle twin."""
    emb = _emb(spark, sf_dir)

    def build():
        refined, assign = _portable_cells(spark, sf_dir, emb)
        cb, codes = similarity.ivfpq_index(emb, refined, assign)
        return {
            "centroids": refined,
            "assignments": assign,
            "codebooks": cb,
            "codes": codes,
        }

    idx = _prebuilt_index(
        spark, emb, "ivfpq", build, params=_IVFPQ_PARAMS
    )
    return similarity.ivfpq_knn(
        emb,
        query_pred=F.col("vec_id") % 50 == 0,
        centroids=idx["centroids"],
        assignments=idx["assignments"],
        k=5,
        nprobe=2,
        shortlist=50,
        codebooks=idx["codebooks"],
        codes=idx["codes"],
    )


def ivfpq_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ANN ingest (similarity.ivfpq_index_append): a
    deterministic synthetic batch — every vec_id%17==0 vector scaled by
    1.5 under a fresh id — encoded against the SAME frozen index the
    prebuilt queries persist (loaded from the parquet artifacts when
    present): nearest-current-centroid assignment, residual encode with
    the existing codebooks, append-only (vec_id, cell, codes) output.
    The scale factor leaves cosine cell choices identical but changes
    every residual, so the encode is exercised for real."""
    emb = _emb(spark, sf_dir)

    def build():
        refined, assign = _portable_cells(spark, sf_dir, emb)
        cb, codes = similarity.ivfpq_index(emb, refined, assign)
        return {
            "centroids": refined,
            "assignments": assign,
            "codebooks": cb,
            "codes": codes,
        }

    idx = _prebuilt_index(
        spark, emb, "ivfpq", build, params=_IVFPQ_PARAMS
    )
    from ..operators.similarity import _vec_d

    batch = emb.filter(F.col("vec_id") % 17 == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(
            _vec_d(F.col("embedding")), lambda x: x * F.lit(1.5)
        ).alias("embedding"),
    )
    return similarity.ivfpq_index_append(
        batch, idx["centroids"], idx["codebooks"]
    )


def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.quantize_embeddings(_emb(spark, sf_dir))


def corpus_vocab_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    return corpus.top_vocabulary(_docs(spark, sf_dir), k=100)


def doc_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    # integer columns only: the float score orders the window internally but
    # JVM/libm ln() may differ by 1 ULP, so it stays out of the hash gate
    return corpus.tfidf_top_terms(_docs(spark, sf_dir), k=3).select(
        "doc_id", "token", "tf", "df", "rank"
    )


def corpus_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training shuffle + round-robin shard assignment
    (corpus.shuffle_shards): reproducible LCG-hash order rank via the
    two-level sharded global rank, shard = (rank−1) mod 8."""
    return corpus.shuffle_shards(_docs(spark, sf_dir), n_shards=8)


def corpus_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global-budget stratified sampling (corpus.budget_allocated_sample):
    137 documents split across sources by exact largest-remainder
    allocation, each source's quota filled in deterministic LCG-hash
    order — integer-exact end to end, remainder ranking via a broadcast
    non-equi self-join of the tiny per-source table."""
    return corpus.budget_allocated_sample(_docs(spark, sf_dir), budget=137)


def corpus_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return corpus.deterministic_sample(_docs(spark, sf_dir), rate=0.25).select(
        "doc_id", "source", "lang"
    )


def corpus_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return corpus.stratified_sample(
        _docs(spark, sf_dir), per_stratum=10, stratum_col="source"
    ).select("doc_id", "source")


def corpus_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite sampling query (driver-slot composite): the plain LCG-hash
    rate sample (method='plain') unioned with the per-stratum quota sample
    (method='stratified') — both deterministic sampling primitives under
    one hash gate."""
    docs = _docs(spark, sf_dir)
    plain = corpus.deterministic_sample(docs, rate=0.25).select(
        F.lit("plain").alias("method"), "doc_id", "source", "lang"
    )
    strat = corpus.stratified_sample(
        docs, per_stratum=10, stratum_col="source"
    ).select(F.lit("stratified").alias("method"), "doc_id", "source", "lang")
    return plain.unionByName(strat)


def corpus_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    return corpus.mixture(
        _docs(spark, sf_dir),
        weights={"src0": 1.0, "src1": 0.5, "src2": 0.1},
        default_rate=0.25,
    ).select("doc_id", "source", "lang")


def doc_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text canonicalization (textops.normalize_text): control chars →
    space, space runs collapsed, trim, lowercase — row-local, byte-
    identical across engines."""
    return textops.normalize_text(_docs(spark, sf_dir))


def corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-version diff (corpus.snapshot_diff) between the corpus
    and a deterministically mutated successor snapshot: ids divisible
    by 7 removed, by 5 edited (text + ' v2'), by 11 duplicated under
    id + 100000 (added) — both snapshots derived in-plan so the DuckDB
    twin rebuilds them exactly."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    new = (
        docs.filter(F.col("doc_id") % 7 != 0)
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(F.col("text"), F.lit(" v2")),
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 11 == 0).select(
                (F.col("doc_id") + 100000).alias("doc_id"), "text"
            )
        )
    )
    return corpus.snapshot_diff(docs, new)


def doc_quality_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-feature linear classifier inference
    (textops.quality_model_scores): fastText-style quality-filter scoring
    with the deterministic default weight table."""
    return textops.quality_model_scores(_docs(spark, sf_dir))


def doc_lm_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-trigram LM-coverage quality score (textops.lm_coverage):
    model trained on the doc_id%10<8 held-in slice, every doc scored by
    the exact fraction of its trigrams the model covers."""
    return textops.lm_coverage(_docs(spark, sf_dir))


def corpus_clean_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END pipeline under ONE hash gate: quality filter
    (score ≥ 0.73) → exact-dedup keep (canonical ids only) →
    token-budget mixture (src0 capped at 500 tokens, src2 at 200) →
    sequence packing at a 512-token budget.  Each stage consumes the
    previous stage's DataFrame directly — the composition itself is what
    this row verifies: a bug in any stage, or in how stages hand off,
    breaks the bit-exact twin."""
    docs = _docs(spark, sf_dir)
    # `kept` is consumed by TWO stages (the dedup pass and the
    # canonical re-join); uncached, each evaluation re-runs the
    # text_stats tokenization under quality_score.  Caching the narrow
    # (doc_id, quality_score) frame — not text-bearing `kept` itself —
    # makes the second evaluation a pruned parquet re-scan + join
    # (r14, guide §2.4/§5).
    quality = (
        textops.quality_score(textops.text_stats(docs))
        .select("doc_id", "quality_score")
        .cache()
    )
    kept = docs.join(quality, "doc_id").filter(
        F.col("quality_score") >= 0.73
    )
    dd = dedup.exact_dedup(kept).filter(~F.col("is_duplicate")).select("doc_id")
    canonical = kept.join(dd, "doc_id").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    mixed = corpus.token_budget_mixture(
        canonical, budgets={"src0": 500.0, "src2": 200.0}
    )
    return corpus.pack_sequences(mixed, token_budget=512)


def corpus_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE merge training (corpus.bpe_merges, 6 rules): the
    greedy classic algorithm — word histogram, most-frequent adjacent
    pair per step under a deterministic tie-break, greedy left-to-right
    merge scan — collect-free (each step's top-1 rides the plan as a
    broadcast row) and swept bit-exact against the unrolled
    gaps-and-islands DuckDB twin.  Iterations are materialized
    (localCheckpoint lineage truncation — result-identical,
    pytest-pinned) so step k doesn't recompute steps 1..k-1's merges."""
    return corpus.bpe_merges(_docs(spark, sf_dir), n_merges=6, materialize=True)


def doc_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END tokenizer pipeline under ONE hash gate: train the BPE
    merge rules on the corpus (corpus.bpe_merges, 6 rules), then segment
    every document with the LEARNED rules — each rule rides the plan as
    a broadcast row and applies through the same greedy fold, so
    training and application compose in a single lazy plan with no
    driver round-trip.  Output: per-doc whitespace word count and
    post-merge subword count (integers — hash-exact vs the unrolled
    DuckDB train+apply twin).  Training runs with materialized (lineage-
    truncated) iterations — result-identical to the lazy chain
    (pytest-pinned) and faster end-to-end."""
    return corpus.bpe_token_counts(
        _docs(spark, sf_dir), n_merges=6, materialize=True
    )


def doc_bpe_token_counts_prebuilt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`doc_bpe_token_counts` answered from a PERSISTED tokenizer: the
    BPE merge-rule table is trained once per corpus snapshot, parquet-
    persisted through the same keyed artifact store as the ANN indexes
    (snapshot + params + format-version key, atomic publish, untrusted-
    root refusal), and every later run pays only the row-local
    segmentation fold — the production tokenizer shape (train once,
    ship the artifact, tokenize everywhere).  Rule strings round-trip
    parquet exactly, so this shares `doc_bpe_token_counts`' oracle
    twin (load ≡ retrain, bit-for-bit)."""
    docs = _docs(spark, sf_dir)
    n_merges = 6
    idx = _prebuilt_index(
        spark,
        docs,
        "bpe",
        lambda: {
            "merges": corpus.bpe_merges(
                docs, n_merges=n_merges, materialize=True
            )
        },
        params={"n_merges": n_merges},
    )
    return corpus.bpe_token_counts_from_rules(
        docs, idx["merges"], n_merges=n_merges
    )


def corpus_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy-hitter tokens via the count-min prefilter + exact
    verify (corpus.heavy_hitters) — the result is exact, so the oracle
    is the plain GROUP BY ... HAVING twin."""
    return corpus.heavy_hitters(_docs(spark, sf_dir), min_count=100)


def corpus_token_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixing: src0 capped at 500 tokens (~0.35 rate), src2
    at 200 (~0.14), src1's 5000 budget exceeds its total (LEAST → keep
    all), and the 17 unbudgeted sources keep everything."""
    return corpus.token_budget_mixture(
        _docs(spark, sf_dir),
        budgets={"src0": 500.0, "src1": 5000.0, "src2": 200.0},
    ).select("doc_id", "source", "lang")


def corpus_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    return corpus.pack_sequences(_docs(spark, sf_dir), token_budget=2048)


def corpus_pack_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-aware packing: train 6 BPE rules on the corpus, segment
    every doc with them, and pack by the LEARNED subword counts instead
    of whitespace tokens (corpus.bpe_token_counts → corpus.pack_sequences
    via count_col) — the budget a real pretraining pipeline packs
    against.  One composed lazy plan under one hash gate."""
    # counts already carries exactly one row per doc_id — it IS the
    # packer input, no re-join against the doc spine needed
    counts = corpus.bpe_token_counts(
        _docs(spark, sf_dir), n_merges=6, materialize=True
    ).select("doc_id", "n_subwords")
    return corpus.pack_sequences(
        counts, token_budget=2048, count_col="n_subwords"
    )


def corpus_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    rest = docs.filter(F.col("doc_id") % 97 != 0)
    return corpus.decontaminate(rest, bench, n=5).select("doc_id")


def corpus_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharded positional inverted index (corpus.inverted_index,
    4 doc-id-range shards per token) — hot-token aggregation buffers
    bounded by design."""
    return corpus.inverted_index(_docs(spark, sf_dir), n_shards=4)


BM25_QUERIES = [
    (0, ["join", "filter", "scan"]),
    (1, ["stream", "merge"]),
    (2, ["customer", "data", "batch"]),
]


HYBRID_QUERIES = [
    (0, ["join", "filter", "scan"], 5),
    (1, ["stream", "merge"], 17),
    (2, ["customer", "data", "batch"], 42),
]


def corpus_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid sparse+dense retrieval (corpus.hybrid_search): BM25 over
    the query terms fused with exact-cosine ranks against a query
    document's embedding via reciprocal-rank fusion."""
    return corpus.hybrid_search(
        _docs(spark, sf_dir), _emb(spark, sf_dir), HYBRID_QUERIES, k=10
    )


def corpus_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token co-occurrence + exact-ratio lift over the top-50 vocabulary
    (corpus.cooccurrence) — the association-mining primitive, pair space
    bounded by the broadcast vocabulary."""
    return corpus.cooccurrence(_docs(spark, sf_dir), vocab_k=50)


def corpus_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranked keyword retrieval (corpus.bm25_search): three fixed
    queries, top-10 docs each under the log-free BM25 surrogate."""
    return corpus.bm25_search(_docs(spark, sf_dir), BM25_QUERIES, k=10)


def corpus_retrieval_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Labeled-data-free retrieval eval (corpus.retrieval_self_mrr):
    every 29th doc queries the corpus with its own top-2 tokens and we
    score where it ranks in its own results — hits@1, hits@10, MRR@10
    in one row (GLOBAL_AGG_OK: the result IS the scalar eval report).
    The ranking underneath is the same gated log-free BM25; the MRR is
    a pinned-order fold of exactly-rounded reciprocal ranks."""
    return corpus.retrieval_self_mrr(_docs(spark, sf_dir))


def corpus_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-local exact phrase search for 'spark window' over the corpus
    (corpus.phrase_search) — pure projection+filter, no shuffle."""
    return corpus.phrase_search(_docs(spark, sf_dir), "spark window")


def doc_oov_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc out-of-vocabulary rate vs the corpus top-16 vocabulary
    (corpus.oov_rates) — the self-referential noise filter.  k=16 on the
    31-token synthetic vocabulary so roughly half the token stream is
    OOV and the swept rates are non-trivial."""
    return corpus.oov_rates(_docs(spark, sf_dir), k=16)


def corpus_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/val/test assignment from the LCG
    sampling key (corpus.split_assign) — labels are stable under corpus
    growth, unlike any row_number()-based split."""
    return corpus.split_assign(_docs(spark, sf_dir))


def corpus_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level exact dedup (corpus.chunk_dedup): 10-token passages,
    global first-occurrence-wins removal, per-doc reassembly — the
    passage-granularity middle ground between exact whole-doc dedup and
    near-dedup."""
    return corpus.chunk_dedup(_docs(spark, sf_dir), chunk_tokens=10)


def corpus_contamination_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded decontamination (corpus.contamination_scores): per-doc
    benchmark n-gram overlap fraction + dirty flag at 20% — the metric
    variant of corpus_decontaminate's drop-on-any-shared-shingle, over
    the same doc_id%97 benchmark split."""
    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    rest = docs.filter(F.col("doc_id") % 97 != 0)
    return corpus.contamination_scores(rest, bench, n=5, threshold_pct=20)


def multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    return multimodal.to_media_table(_docs(spark, sf_dir)).select(
        "doc_id", "media_type", "payload_size", "format"
    )


def multimodal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite multimodal query (driver-slot composite): the media-table
    metadata projection joined with REAL image-decode stats on doc_id.
    The payloads are deterministic synthetic P6 PPMs (multimodal.synth_ppm
    — dims and row colors are pure functions of doc_id), decoded for real
    by numpy inside ``decode_image``'s mapInPandas; the DuckDB twin derives
    the same per-channel pixel sums analytically, so the decode path itself
    sits under the bit-exact hash gate."""
    docs = _docs(spark, sf_dir)
    meta = multimodal.to_media_table(docs).select(
        "doc_id", "media_type", "payload_size", "format"
    )
    stats = multimodal.decode_image(multimodal.synth_ppm(docs.select("doc_id")))
    return meta.join(stats, "doc_id")


def corpus_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distinct-token cardinality via the deterministic KMV
    sketch (corpus.distinct_sketch) — the portable, mergeable,
    oracle-checkable alternative to approx_count_distinct."""
    return corpus.distinct_sketch(_docs(spark, sf_dir))


def multimodal_audio_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode under the bit-exact gate: RIFF/WAVE PCM-16
    chunk-walk + integer sample stats over deterministic synthetic WAVs
    (multimodal.synth_wav — sample values are pure functions of doc_id),
    decoded by numpy inside ``mapInPandas``.  The DuckDB twin derives
    the identical stats analytically, so the WAV decode path sits under
    the hash gate exactly like the PPM image path."""
    docs = _docs(spark, sf_dir)
    return multimodal.decode_audio(
        multimodal.synth_wav(docs.select("doc_id"))
    )


def multimodal_mp3_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL MPEG-1 Layer III framing walk under the bit-exact gate:
    synth_mp3 streams (valid headers, deterministic geometry) probed by
    multimodal.probe_mp3 — ID3v2 skip, sync/version/layer gate,
    bitrate/samplerate table lookups, padding-aware frame sizes — vs an
    analytic DuckDB twin deriving the same fields from the id."""
    docs = _docs(spark, sf_dir)
    return multimodal.probe_mp3(
        multimodal.synth_mp3(docs.select("doc_id"))
    )


def multimodal_mkv_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Matroska/EBML demux under the bit-exact gate: synth_mkv
    files (EBML header, Segment/Info/Tracks, Timestamp'd Clusters of
    SimpleBlock-wrapped PPM frames — every field a pure function of the
    id) probed by multimodal.probe_mkv — vint id/size parse, guarded
    container walk, SimpleBlock frame extraction — vs an analytic
    DuckDB twin deriving cluster/frame counts and byte totals from the
    id.  Closes the r7 'MKV/WebM byte-truncate stand-in' gap."""
    docs = _docs(spark, sf_dir)
    return multimodal.probe_mkv(
        multimodal.synth_mkv(docs.select("doc_id"))
    )


def multimodal_mp3_sideinfo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL MPEG-1 Layer III side-info bitfield parse under the
    bit-exact gate (multimodal.probe_mp3_sideinfo): per frame, the
    bit-reservoir back-pointer, scfsi, and granule-0 channel-0 section
    lengths/gain recovered from the actual bytes of synth_mp3's
    deterministic streams — the DuckDB twin derives the same 56-bit
    field window analytically from the fill formula.  Shrinks the r7
    'frame-header walk only' boundary to 'entropy decode only'."""
    docs = _docs(spark, sf_dir)
    return multimodal.probe_mp3_sideinfo(
        multimodal.synth_mp3(docs.select("doc_id"))
    )


def multimodal_mp3_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL MPEG-1 Layer III gr0-ch0 big_values ENTROPY DECODE under the
    bit-exact gate (multimodal.decode_mp3_bigvalues over
    synth_mp3_coded): full stereo side-info parse, ISO slen-table
    scalefactor bit accounting, canonical Huffman prefix walk with ESC
    linbits escapes and sign bits, and (r10) the COUNT1 region under
    the real ISO Table B quadruple code, over genuine coded main data —
    the decoded-value aggregates (including n_count1/sum_count1) and
    the exact bit count consumed, which the DuckDB twin derives
    analytically from the generative formulas.  Remaining declared
    boundary: ESC codebook values, count1 Table A, bit-reservoir
    assembly (multimodal.py codebook-honesty note)."""
    docs = _docs(spark, sf_dir)
    return multimodal.decode_mp3_bigvalues(
        multimodal.synth_mp3_coded(docs.select("doc_id"))
    )


def multimodal_g711_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL G.711 µ-law decode under the bit-exact gate: the companded
    bytes are pure functions of doc_id (multimodal.synth_wav_g711), the
    Spark side expands them through the reference µ-law table inside the
    RIFF chunk-walk decode, and the DuckDB twin replicates the expansion
    formula analytically."""
    docs = _docs(spark, sf_dir)
    return multimodal.decode_audio(
        multimodal.synth_wav_g711(docs.select("doc_id"), law="ulaw")
    )


def pq_knn_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization search, bit-portable end to end: per-subspace
    codebooks (seeded from the k smallest vec_ids, ONE Lloyd E+M
    refinement — the same deterministic recipe as `ivf_knn_portable`),
    nibble-code encoding of the corpus, ADC shortlist scan over the
    codes, exact L2² re-rank of the shortlist.  Every sum is a
    pinned-order fold and every combination an exactly-rounded IEEE op,
    so the full pipeline — training, encoding, and both ranking stages —
    sits under the bit-exact hash gate."""
    emb = _emb(spark, sf_dir)
    cb = similarity.pq_codebooks(emb).cache()
    codes = similarity.pq_codes(emb, cb)
    return similarity.pq_knn_rerank(
        emb,
        query_pred=F.col("vec_id") % 50 == 0,
        codebooks=cb,
        codes=codes,
        k=5,
        shortlist=50,
    )


def multimodal_png_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG decode under the bit-exact gate: CRC-verified chunk walk,
    zlib IDAT inflate, and scanline-filter reconstruction over
    deterministic synthetic PNGs (multimodal.synth_png — pixels share
    synth_ppm's closed form; the filter type for row y is (id+y) % 5, so
    every row of the corpus exercises one of the five filter decoders,
    None/Sub/Up/Average/Paeth).  The DuckDB twin derives the identical
    per-channel pixel sums analytically, so a single wrong byte anywhere
    in the inflate-or-unfilter pipeline breaks the hash."""
    docs = _docs(spark, sf_dir)
    return multimodal.decode_image(
        multimodal.synth_png(docs.select("doc_id"))
    )


def multimodal_gif_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL GIF decode under the bit-exact gate: the from-scratch LZW
    decompressor (variable-width codes, clear codes, KwKwK) + palette
    lookup over deterministic synthetic GIFs (multimodal.synth_gif —
    pixels share synth_ppm's closed form, compressed through the real
    LZW encoder).  The DuckDB twin derives the identical per-channel
    pixel sums analytically, so any wrong byte anywhere in the LZW or
    palette pipeline breaks the hash."""
    docs = _docs(spark, sf_dir)
    return multimodal.decode_image(
        multimodal.synth_gif(docs.select("doc_id"))
    )


def multimodal_jpeg_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL JPEG decode under the bit-exact gate: the from-scratch
    baseline-sequential codec (multimodal._decode_jpeg — segment walk,
    DHT/DQT parse, Huffman+DPCM+run-length entropy decode with byte
    un-stuffing, dequant, dezigzag, pinned-order IDCT, YCbCr→RGB) over
    deterministic synthetic JPEGs (multimodal.synth_jpeg — constant 8×8
    blocks, so the lossy round trip is an analytically derivable
    float-op chain).  The DuckDB twin replicates that chain term for
    term, so any wrong byte anywhere in the entropy or transform
    pipeline breaks the hash — the JPEG parallel of the PNG/GIF/WAV
    gates."""
    docs = _docs(spark, sf_dir)
    return multimodal.decode_image(
        multimodal.synth_jpeg(docs.select("doc_id"))
    )


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-decode feature extraction under the bit-exact gate: the
    [w, h, mean_r, mean_g, mean_b] feature vector over deterministic
    synthetic P6 PPM payloads, decoded by numpy inside ``mapInPandas``.
    The DuckDB twin derives the identical vector analytically from the
    synth_ppm closed form (the stub branch for non-PPM formats stays
    pinned by pytest byte-for-byte — it is not SQL-expressible)."""
    docs = _docs(spark, sf_dir)
    return multimodal.extract_features(
        multimodal.synth_ppm(docs.select("doc_id"))
    )


def _cdc_changes(docs: DataFrame) -> DataFrame:
    """Deterministic CDC feed derived from the documents table (the
    sweep's stand-in for a crawl refresh): generation 1 upserts every
    doc_id%5 with a 'v1 '-prefixed body; generation 2 deletes every
    doc_id%10 AND re-upserts every doc_id%15 — so doc_id%30 keys carry
    an equal-seq delete/upsert conflict that exercises the
    delete-outranks-upsert resolution rank.  Mirrored verbatim by the
    oracle CTE in oracle_corpus._CDC_CHANGES."""

    def gen(mod, op, seq, prefix):
        sel = docs.filter(F.col("doc_id") % mod == 0)
        if op == "delete":
            return sel.select(
                "doc_id",
                F.lit("delete").alias("op"),
                F.lit(seq).alias("seq"),
                F.lit(None).cast("string").alias("text"),
                F.lit(None).cast("string").alias("lang"),
                F.lit(None).cast("string").alias("source"),
                F.lit(None).cast("long").alias("n_chars"),
            )
        body = F.concat(F.lit(prefix), F.col("text"))
        return sel.select(
            "doc_id",
            F.lit("upsert").alias("op"),
            F.lit(seq).alias("seq"),
            body.alias("text"),
            F.col("lang"),
            F.lit("cdc-update").alias("source"),
            F.length(body).cast("long").alias("n_chars"),
        )

    return (
        gen(5, "upsert", 1, "v1 ")
        .unionByName(gen(10, "delete", 2, None))
        .unionByName(gen(15, "upsert", 2, "v2 "))
    )


def corpus_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC merge snapshot (cdc.apply_changes): the documents table with
    the derived upsert/delete feed applied — latest seq wins per key,
    equal-seq delete outranks upsert, untouched rows pass through.  The
    incremental-corpus-maintenance op a standing 100 TB corpus runs per
    crawl refresh; the standing side never shuffles (resolved delta
    broadcast)."""
    from ..operators import cdc

    docs = _docs(spark, sf_dir)
    return cdc.apply_changes(
        docs, _cdc_changes(docs), broadcast_changes=True
    )


def corpus_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view maintenance under the derived CDC feed
    (cdc.incremental_rollup): the per-source (n_docs, total_chars)
    rollup updated from the delta alone — old contributions fetched by
    ONE broadcast key join, negated, new upsert contributions added,
    merged into the standing agg over ≤|sources| rows.  The base corpus
    is never re-aggregated.  The oracle twin computes the rollup of the
    POST-change corpus from scratch, so the hash gate proves
    incremental maintenance ≡ full recompute, cross-engine — including
    group migration (upserts move docs to the 'cdc-update' source) and
    delete shrinkage."""
    from ..operators import cdc

    docs = _docs(spark, sf_dir)
    agg0 = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )
    return cdc.incremental_rollup(
        docs,
        agg0,
        _cdc_changes(docs),
        ["source"],
        {"total_chars": "n_chars"},
        count_col="n_docs",
    ).orderBy("source")


def corpus_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy release screen (profiling.k_anonymity_audit): group sizes
    over the (lang, source, length-decile) quasi-identifier key and the
    k=10 compliance flag, plus the suppression survivor count — rows in
    sub-k groups are re-identifiable by joining the QI against outside
    data (the indirect-identifier complement to doc_scrub_pii's direct
    scrub).  The length decile is an exact integer bucket (n_chars
    DIV 100 capped at 9), so the audit is engine-portable."""
    from ..operators import profiling

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        "lang",
        "source",
        F.least(
            F.expr("CAST(n_chars AS LONG) DIV 100"), F.lit(9).cast("long")
        ).alias("len_bucket"),
    )
    return profiling.k_anonymity_report(
        docs, ["lang", "source", "len_bucket"], k=10
    ).orderBy("lang", "source", "len_bucket")


def corpus_pit_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension lookup (cdc.pit_lookup): for every third
    doc_id probed at as_of seq 1 AND seq 2, the text version valid at
    that moment over the derived CDC feed — never-written keys and
    winning deletes report is_live=false with NULL payload; the
    equal-seq delete/upsert conflicts (doc_id%30) resolve
    delete-outranks-upsert exactly like the merge.  One as-of join
    (union-marker window), no per-probe subquery."""
    from ..operators import cdc

    docs = _docs(spark, sf_dir)
    probes = (
        docs.filter(F.col("doc_id") % 3 == 0)
        .select("doc_id")
        .withColumn(
            "as_of_seq",
            F.explode(F.array(F.lit(1).cast("long"), F.lit(2).cast("long"))),
        )
    )
    return cdc.pit_lookup(
        probes, _cdc_changes(docs), payload_cols=["text"]
    ).orderBy("doc_id", "as_of_seq")


def corpus_change_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2-style validity intervals (cdc.change_history) over the same
    derived CDC feed: each change valid from its seq until the next
    change's seq, chain heads flagged current."""
    from ..operators import cdc

    docs = _docs(spark, sf_dir)
    return cdc.change_history(_cdc_changes(docs))


def events_zorder_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton keys over (user_id, minute-of-day) for the events table
    (functions/zorder.py) — the interleaved sort key behind the
    multi-dimension prunable layout `zorder.zorder_write` produces.
    Pure 64-bit mask-shift arithmetic, bit-exact vs the DuckDB twin."""
    from ..functions import zorder

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    minute = (F.hour("ts") * 60 + F.minute("ts")).cast("long")
    return ev.select(
        "event_id",
        zorder.z_value(F.col("user_id"), minute).alias("z"),
    )


def events_top_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type top-3 users by event count (operators/topk.py):
    the sharded two-level grouped top-k — identical values to a plain
    window rank (the twin), but a hot event type's rank sort spreads
    over 16 shard tasks instead of serializing on one core."""
    from ..operators import topk

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    counts = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    return topk.top_k_per_group(
        counts,
        ["event_type"],
        [F.col("n_events").desc(), F.col("user_id").asc()],
        k=3,
        shard_by=F.col("user_id"),
    )


def corpus_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping 32-token windows at stride 16 (corpus.sliding_windows)
    — the RAG/pretraining chunking pass; pure row-local
    sequence+posexplode+slice, no shuffle anywhere."""
    return corpus.sliding_windows(_docs(spark, sf_dir), size=32, stride=16)


def corpus_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-proportional thinning (corpus.weighted_sample): keep each
    doc with probability min(n_chars, 500)/1000 — a pure-integer
    cross-multiplied keep rule on the LCG key, P(keep) exactly the
    ratio, zero float round-off, row-local (no shuffle)."""
    docs = _docs(spark, sf_dir)
    return corpus.weighted_sample(
        docs,
        F.least(F.col("n_chars"), F.lit(500)),
        F.lit(1000),
    ).select("doc_id")


def corpus_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column data-quality profile of the documents table
    (operators/profiling.py): exact counts/distincts + native-order
    min/max as strings, one pass, reshaped in-plan."""
    from ..operators import profiling

    return profiling.profile_table(
        _docs(spark, sf_dir), ["doc_id", "lang", "source", "n_chars"]
    )


def multimodal_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded hamming near-dup pairs (multimodal.phash_dup_pairs) over
    SYNTHETIC 62-bit hashes derived from doc_id by integer arithmetic
    both engines reproduce exactly — doc_id%10 keys share their
    neighbor's hash, planting hamming-0 duplicate pairs.  This gives
    the banding + first-shared-band + bit_count(xor) machinery (the
    part of the pHash family that IS SQL-expressible) an independent
    DuckDB implementation; the decode-side hash itself stays
    pytest-gated against the Python reference."""
    from ..operators import multimodal

    docs = _docs(spark, sf_dir)
    key = F.when(
        F.col("doc_id") % 10 == 0, F.col("doc_id") + 1
    ).otherwise(F.col("doc_id"))
    # Everything is computed mod 2^31, so both the key and the mix
    # constants reduce mod 2^31 BEFORE the multiply (identical values —
    # (a*b) mod m = ((a mod m)(b mod m)) mod m): the unreduced form
    # overflows int64 for doc_id above ~8.4e6, where Spark wraps
    # silently while DuckDB raises, splitting the twin pair.  Reduced
    # products stay < 2^62.  506952113 = 2654435761 mod 2^31;
    # 435 = 1099511628211 mod 2^31 (it is 2^40 + 435).
    key = key % F.lit(2**31)
    lo = (key * F.lit(506952113) + F.lit(104729)) % F.lit(2**31)
    hi = (key * F.lit(435) + F.lit(12345)) % F.lit(2**31)
    hashed = docs.select(
        "doc_id", (lo + hi * F.lit(2**31)).alias("phash")
    )
    return multimodal.phash_dup_pairs(hashed, max_hamming=7, n_bands=8)


def dedup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level duplication stats (dedup.dup_span_stats): per-doc
    fraction of token positions covered by an 8-gram shared with at
    least one other document, plus the integer-exact keep decision at
    50% coverage."""
    return dedup.dup_span_stats(_docs(spark, sf_dir))


def embedding_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced diversity sampling
    (similarity.cluster_balanced_sample): a 100-vector budget split
    EQUALLY across the trained k-means cells (flattening the cluster
    distribution — head clusters stop dominating), quotas filled in
    deterministic LCG-hash order."""
    return similarity.cluster_balanced_sample(
        _emb(spark, sf_dir), budget=100, k=8, n_iter=2
    )


def embedding_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell simplified silhouette of the trained k-means clustering
    (similarity.kmeans_silhouette): centroid-based a/b distances, exact
    and bit-portable — the clustering-quality gauge for the IVF coarse
    quantizer."""
    return similarity.kmeans_silhouette(_emb(spark, sf_dir))


def embedding_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation communities over the symmetrized embedding
    near-dup graph (graph.lpa_communities, 3 synchronous iterations,
    min-label tie-break) — the cluster-structure view between
    connected components (too coarse) and triangles (too local).
    Edges come from the planner-sized default geometry."""
    from ..operators import graph

    pairs = similarity.embedding_dup_pairs(_emb(spark, sf_dir), threshold=0.35)
    edges = pairs.select(
        F.col("id1").alias("src"), F.col("id2").alias("dst")
    ).unionByName(
        pairs.select(F.col("id2").alias("src"), F.col("id1").alias("dst"))
    )
    return graph.lpa_communities(edges).select(
        F.col("node").alias("vec_id"), "community"
    )


def embedding_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core of the symmetrized embedding near-dup graph
    (graph.kcore_nodes, 8 synchronous peel rounds — CONVERGED on this
    corpus: rounds 8-14 all return the same 69 nodes, so the output IS
    the 2-core, not a truncation): the densely inter-duplicated cores
    left after stripping pendant near-dup chains, with each surviving
    node's in-core degree.  The 0.15 threshold densifies the graph
    enough to have a core at all (at the pair queries' 0.35 the graph
    is pure chains, max degree 2 — measured, not assumed); rounds run
    materialized (lineage-truncated, the bpe_merges pattern), results
    identical to the lazy chain."""
    from ..operators import graph

    pairs = similarity.embedding_dup_pairs(_emb(spark, sf_dir), threshold=0.15)
    edges = pairs.select(
        F.col("id1").alias("src"), F.col("id2").alias("dst")
    ).unionByName(
        pairs.select(F.col("id2").alias("src"), F.col("id1").alias("dst"))
    )
    return (
        graph.kcore_nodes(edges, k=2, n_iter=8, materialize=True)
        .select(F.col("node").alias("vec_id"), "degree")
        .orderBy("vec_id")
    )


def multimodal_bmp_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL BMP decode under the bit-exact gate: file/info header
    parse, 4-byte row stride, bottom-up row flip and BGR→RGB over
    deterministic synthetic BMPs (multimodal.synth_bmp — pixels share
    synth_ppm's closed form).  The DuckDB twin derives the identical
    per-channel pixel sums analytically, so a wrong stride, row order
    or channel swap anywhere breaks the hash."""
    docs = _docs(spark, sf_dir)
    return multimodal.decode_image(
        multimodal.synth_bmp(docs.select("doc_id"))
    )


def dedup_span_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time span-duplication screen (dedup.span_screen): the
    doc_id%13 slice plays the arriving batch, the rest the standing
    corpus — each batch doc's n-gram coverage against the CORPUS's
    duplicated-gram set only (the asymmetric form whose verdicts are
    doc-local given the static side, hence streamable —
    streaming_span_screen_writer is the drained ≡ batch twin)."""
    docs = _docs(spark, sf_dir)
    return dedup.span_screen(
        docs.filter(F.col("doc_id") % 13 == 0),
        docs.filter(F.col("doc_id") % 13 != 0),
    )


def dedup_span_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-span removal (dedup.strip_dup_spans): every token
    position covered by an 8-gram shared across ≥2 documents is cut,
    survivors re-joined in corpus order — the salvage rewrite that
    complements dedup_span_coverage's keep/drop filter."""
    return dedup.strip_dup_spans(_docs(spark, sf_dir), n=8, min_docs=2)


def knn_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the portable IVF index (nprobe=2 over the Lloyd-
    refined coarse quantizer) against exact brute force, per query
    (similarity.knn_recall) — the evaluation harness an ANN deployment
    is actually tuned with, here sitting entirely under the bit-exact
    hash gate because both sides and the overlap are deterministic."""
    emb = _emb(spark, sf_dir)
    pred = F.col("vec_id") % 50 == 0
    exact = similarity.knn_bruteforce(emb, query_pred=pred, k=5)
    refined, assign = _portable_cells(spark, sf_dir, emb)
    approx = similarity.ivf_knn(
        emb,
        query_pred=pred,
        k=5,
        nprobe=2,
        cell_col="cell",
        centroids=refined,
        assignments=assign,
    )
    return similarity.knn_recall(exact, approx)


def dedup_snm_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood near-dup pairs (dedup.snm_pairs): the
    Hernández-Stolfo SNM window over the normalized-prefix sort key,
    two-level sharded global rank, exact distinct-token Jaccard on the
    ≤ window·n candidate stream."""
    return dedup.snm_pairs(_docs(spark, sf_dir))


def dedup_editdist_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance-verified near-dup pairs (dedup.editdist_pairs):
    Levenshtein over the sorted-neighborhood candidate stream, scored
    1 - dist/max(len) on the ASCII-normalized 256-char prefix (where
    Spark codepoint and DuckDB byte Levenshtein agree)."""
    return dedup.editdist_pairs(_docs(spark, sf_dir))


def embedding_bfs_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS (graph.bfs_distance) over the symmetrized
    embedding near-dup graph: exact hop distance from the label-0
    seed set within 3 hops — the contamination-spread / seed-expansion
    traversal, verified against a recursive-CTE oracle.

    Uses the planner-sized default geometry (this query was the first
    moved off the fixed 4×4 bands after the traversal measured ×16
    wall at 10× data on the quadratic candidate stream; the wide
    geometry cut that to 2.66×, and the planner now sizes it to the
    corpus instead of pinning one width)."""
    from ..operators import graph

    emb = _emb(spark, sf_dir)
    pairs = similarity.embedding_dup_pairs(emb, threshold=0.35)
    edges = pairs.select(
        F.col("id1").alias("src"), F.col("id2").alias("dst")
    ).unionByName(
        pairs.select(F.col("id2").alias("src"), F.col("id1").alias("dst"))
    )
    seeds = emb.filter(F.col("label") == 0).select(
        F.col("vec_id").alias("node")
    )
    return graph.bfs_distance(edges, seeds, max_hops=3).select(
        F.col("node").alias("vec_id"), "dist"
    )


def corpus_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-weighted median document length per source: the n_chars
    value below which half the source's TOKENS live — the data-mass
    length diagnostic (an unweighted median over-represents tiny docs;
    training budgets are spent in tokens, not documents).

    Exact and integer-only: per source, docs ordered by (n_chars,
    doc_id) accumulate token weight in one window; the weighted median
    is the first row where 2·cumw ≥ W — the qualifying set is a suffix
    of the order, so its first element is min(struct(n_chars, doc_id))
    under one narrow groupBy (no second sort, hub sources fold partial
    minima).

    Scale shape: one hash shuffle on source for the cumulative window,
    one narrow groupBy — per-source history in one task is the same
    inherent bound any per-key window has."""
    from pyspark.sql.window import Window

    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "source",
        "doc_id",
        "n_chars",
        F.size(textops.tokens_col(F.col("text"))).cast("long").alias("_w"),
    )
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    cum = toks.withColumn(
        "_cumw", F.sum("_w").over(w.rowsBetween(Window.unboundedPreceding, 0))
    ).withColumn(
        "_total", F.sum("_w").over(w.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing))
    )
    stats = toks.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_w").alias("total_tokens"),
    )
    med = (
        cum.filter(2 * F.col("_cumw") >= F.col("_total"))
        .groupBy("source")
        .agg(
            F.min(F.struct("n_chars", "doc_id")).alias("_m")
        )
        .select("source", F.col("_m.n_chars").alias("w_median_chars"))
    )
    return (
        stats.join(med, "source")
        .select("source", "n_docs", "total_tokens", "w_median_chars")
        .orderBy("source")
    )


def knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN classification over the exact top-5 cosine neighbors: each
    query vector (every 50th id, treated as unlabeled) takes the
    majority label of its neighbors, ties broken on the smallest label
    — the label-propagation / weak-supervision primitive of an
    embedding pipeline, with the true label joined back for an
    accuracy readout.

    The argmax is max(struct(votes, −label)) under one narrow groupBy
    (integer-exact, hubs fold partial maxima); the neighbor search is
    the guarded brute-force scorer — swap in ivf_knn for corpus-scale
    query sets, the vote plan is identical."""
    emb = _emb(spark, sf_dir)
    nn = similarity.knn_bruteforce(
        emb, query_pred=F.col("vec_id") % 50 == 0, k=5
    )
    nl = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("_nl")
    )
    pred = (
        nn.join(nl, "neighbor_id")
        .groupBy("query_id", "_nl")
        .agg(F.count(F.lit(1)).alias("_c"))
        .groupBy("query_id")
        .agg(
            F.max(
                F.struct(F.col("_c"), (-F.col("_nl")).alias("_neg"))
            ).alias("_m")
        )
        .select(
            "query_id",
            (-F.col("_m._neg")).alias("predicted_label"),
            F.col("_m._c").alias("n_votes"),
        )
    )
    truth = emb.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("true_label")
    )
    return (
        pred.join(truth, "query_id")
        .select(
            "query_id",
            "predicted_label",
            "n_votes",
            "true_label",
            (F.col("predicted_label") == F.col("true_label")).alias(
                "correct"
            ),
        )
        .orderBy("query_id")
    )


def corpus_distinctive_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distinctive vocabulary: the top-10 tokens whose
    document frequency inside a source most exceeds their corpus-wide
    rate (exact lift = (df_in/n_source)/(df_all/N), computed as ONE
    exactly-rounded division of exact integer cross-products) — the
    "what makes this source different" diagnostic behind source-mix
    decisions, df_in ≥ 3 to kill one-off noise.

    Scale shape: distinct (source, doc, token) collapses map-side; the
    (source, token) and (token) frequency aggregations are narrow; the
    per-source top-10 runs through the sharded two-level rank
    (operators/topk.py) so a giant vocabulary never sorts in one task.
    N rides a broadcast scalar."""
    from ..operators.topk import top_k_per_group

    docs = _docs(spark, sf_dir)
    per_doc = docs.select(
        "source",
        "doc_id",
        F.explode(
            F.array_distinct(textops.tokens_col(F.col("text")))
        ).alias("tok"),
    )
    df_in = per_doc.groupBy("source", "tok").agg(
        F.count(F.lit(1)).alias("df_in")
    )
    df_all = per_doc.groupBy("tok").agg(F.count(F.lit(1)).alias("df_all"))
    n_src = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_source"))
    n_total = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        df_in.filter(F.col("df_in") >= 3)
        .join(df_all, "tok")
        .join(F.broadcast(n_src), "source")
        .crossJoin(F.broadcast(n_total))
        .withColumn(
            "lift",
            (F.col("df_in") * F.col("n_docs")).cast("double")
            / (F.col("n_source") * F.col("df_all")).cast("double"),
        )
    )
    top = top_k_per_group(
        scored,
        group_cols=["source"],
        order_by=[F.desc("lift"), F.asc("tok")],
        k=10,
    )
    return top.select(
        "source", "tok", "df_in", "df_all", "n_source", "n_docs", "lift"
    ).orderBy("source", F.desc("lift"), "tok")


def dedup_er_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution under ONE hash gate (the
    record-linkage composition, like corpus_clean_pipeline for
    cleaning): BLOCK with the sorted-neighborhood candidate window →
    VERIFY with Levenshtein (dedup.editdist_pairs, sim ≥ 0.8) →
    CLUSTER with large-star/small-star connected components
    (dedup.dup_clusters) → per doc its canonical (minimum reachable)
    id and a keep flag.  Every stage is the already-gated operator;
    the composition pins that they agree end to end."""
    docs = _docs(spark, sf_dir)
    pairs = dedup.editdist_pairs(docs, threshold=0.8).select(
        "doc1", "doc2"
    )
    clusters = dedup.dup_clusters(docs.select("doc_id"), pairs)
    return clusters.select(
        "doc_id",
        F.col("cluster_id").alias("canonical_id"),
        (F.col("doc_id") == F.col("cluster_id")).alias("keep"),
    ).orderBy("doc_id")


def doc_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-source length-outlier profile via MAD (median
    absolute deviation): per source the LOWER median of n_chars, the
    lower median of |n_chars − median|, and how many docs sit more
    than 3 MADs out — the outlier rule that, unlike mean/stddev
    z-scores, is not itself dragged by the outliers it hunts.

    Integer-only end to end: lower medians of integers are integers
    (rank (n+1) div 2 in (value, doc_id) order) and the 3-MAD flag is
    an integer comparison — nothing float anywhere.

    Scale shape: two per-source rank windows (one per median pass)
    over narrow (source, int) rows, medians broadcast back; the same
    per-key-window bound as every grouped quantile."""
    from pyspark.sql.window import Window

    base = _docs(spark, sf_dir).select("source", "doc_id", "n_chars")
    med = (
        base.withColumn(
            "_r",
            F.row_number().over(
                Window.partitionBy("source").orderBy("n_chars", "doc_id")
            ),
        )
        .withColumn(
            "_n", F.count(F.lit(1)).over(Window.partitionBy("source"))
        )
        .filter(F.col("_r") == F.expr("(_n + 1) DIV 2"))
        .select("source", F.col("n_chars").alias("median_chars"))
    )
    dev = base.join(F.broadcast(med), "source").withColumn(
        "_dev", F.abs(F.col("n_chars") - F.col("median_chars"))
    )
    mad = (
        dev.withColumn(
            "_r",
            F.row_number().over(
                Window.partitionBy("source").orderBy("_dev", "doc_id")
            ),
        )
        .withColumn(
            "_n", F.count(F.lit(1)).over(Window.partitionBy("source"))
        )
        .filter(F.col("_r") == F.expr("(_n + 1) DIV 2"))
        .select("source", F.col("_dev").alias("mad_chars"))
    )
    return (
        dev.join(F.broadcast(mad), "source")
        .groupBy("source", "median_chars", "mad_chars")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(F.col("_dev") > 3 * F.col("mad_chars"), 1).otherwise(0)
            ).alias("n_outliers"),
        )
        .select("source", "n_docs", "median_chars", "mad_chars", "n_outliers")
        .orderBy("source")
    )


def corpus_rare_token_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hapax-dominance noise signal: per document, its distinct-token
    count, how many of those tokens appear in NO other document
    (corpus document-frequency 1), and the hapax ratio — the classic
    gibberish/OCR-noise detector (real language reuses vocabulary;
    random strings don't), flagged above 0.5.

    Integer counts + one exactly-rounded division.  Scale shape: the
    distinct (doc, token) explode collapses map-side; the df table is
    one narrow (token) count; the join back is token-keyed, and the
    per-doc rollup is narrow — no pair streams anywhere."""
    docs = _docs(spark, sf_dir)
    per_doc = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(textops.tokens_col(F.col("text")))
        ).alias("tok"),
    )
    df_tab = per_doc.groupBy("tok").agg(F.count(F.lit(1)).alias("_df"))
    joined = per_doc.join(df_tab, "tok")
    return (
        joined.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_distinct_tokens"),
            F.sum(F.when(F.col("_df") == 1, 1).otherwise(0)).alias(
                "n_hapax"
            ),
        )
        .select(
            "doc_id",
            "n_distinct_tokens",
            "n_hapax",
            (
                F.col("n_hapax").cast("double")
                / F.col("n_distinct_tokens").cast("double")
            ).alias("hapax_ratio"),
            (2 * F.col("n_hapax") > F.col("n_distinct_tokens")).alias(
                "is_noisy"
            ),
        )
        .orderBy("doc_id")
    )


def corpus_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectations report (the dbt-test/Great-Expectations
    shape): one row per rule with the exact violation count and a
    DETERMINISTIC example violator (min doc_id — never a collect of
    the violating set, which at 100 TB could itself be corpus-sized).

    Rules: text present & non-empty; lang in the allowed set; n_chars
    consistent with length(text); n_chars within [1, 100000]; doc_id
    globally unique.  The five scan rules fold into ONE aggregation
    pass (conditional counts + conditional mins — map-side
    combinable); uniqueness is its own narrow (doc_id) aggregation.
    The scalar one-row-per-rule results union into the report.

    Every predicate is NULL-GUARDED to count as a violation: a report
    whose job is catching bad data must not let a column going all-NULL
    upstream read as zero violations (``~isin`` over NULL is NULL, and
    ``sum(NULL cast long)`` silently skips the row)."""
    docs = _docs(spark, sf_dir)
    langs = ["en", "de", "fr", "es", "ja"]
    scan_rules = [
        ("text_present", F.col("text").isNull() | (F.length("text") == 0)),
        (
            "lang_known",
            F.col("lang").isNull() | ~F.col("lang").isin(langs),
        ),
        (
            "n_chars_consistent",
            F.coalesce(
                F.col("n_chars") != F.length("text"), F.lit(True)
            ),
        ),
        (
            "n_chars_in_range",
            F.col("n_chars").isNull()
            | (F.col("n_chars") < 1)
            | (F.col("n_chars") > 100_000),
        ),
    ]
    aggs = [F.count(F.lit(1)).alias("_n")]
    for name, violated in scan_rules:
        aggs.append(F.sum(violated.cast("long")).alias(f"_v_{name}"))
        aggs.append(
            F.min(F.when(violated, F.col("doc_id"))).alias(f"_e_{name}")
        )
    one_pass = docs.agg(*aggs)
    out = one_pass.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("rule"),
                        F.col("_n").alias("n_checked"),
                        F.col(f"_v_{name}").alias("n_violations"),
                        F.col(f"_e_{name}").alias("example_id"),
                    )
                    for name, _ in scan_rules
                ]
            )
        ).alias("_r")
    ).select("_r.rule", "_r.n_checked", "_r.n_violations", "_r.example_id")
    dup = (
        docs.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("_c"))
        .agg(
            F.lit("doc_id_unique").alias("rule"),
            F.count(F.lit(1)).alias("n_checked"),
            F.sum((F.col("_c") > 1).cast("long")).alias("n_violations"),
            F.min(F.when(F.col("_c") > 1, F.col("doc_id"))).alias(
                "example_id"
            ),
        )
    )
    return out.unionByName(dup).orderBy("rule")


def dedup_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (dedup.winnow_fingerprints — the MOSS
    SIGMOD'03 algorithm): per doc, the minimum k-gram hash of every
    w-window with the rightmost-min tie rule, entirely row-local (zero
    shuffle before the output explode).  Any k+w−1-token verbatim
    overlap between two docs is guaranteed a shared fingerprint at
    ~2/(w+1) of full-gram storage."""
    return dedup.winnow_fingerprints(_docs(spark, sf_dir)).orderBy(
        "doc_id", "pos", "fp_hash"
    )


def dedup_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-detection pairs over winnowed fingerprints
    (dedup.winnow_overlap_pairs): docs sharing ≥2 selected fingerprints,
    with over-common fingerprints (df > 50 — template boilerplate, and
    the joins' quadratic hot keys) dropped by the deterministic df-cap
    that is part of the operator contract."""
    return dedup.winnow_overlap_pairs(
        _docs(spark, sf_dir), min_shared=2, df_cap=50
    )


def doc_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded LM quality score (textops.bigram_lm_score): mean
    add-1-smoothed word-bigram probability under the doc_id%10<8
    held-in model, with the out-of-distribution bigram count — the
    CCNet-perplexity signal kept bit-portable by replacing ln with
    exactly-rounded divisions and a token-position-pinned float fold."""
    from ..operators import textops

    return textops.bigram_lm_score(_docs(spark, sf_dir)).orderBy("doc_id")


def dedup_winnow_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time winnowed-fingerprint copy screen (dedup.winnow_screen):
    the doc_id%13==0 slice plays the arriving batch, the rest the
    standing corpus — per batch doc its fingerprint count, corpus
    matches (under the corpus-side df-cap), and the keep verdict.  The
    streamable form: streaming_winnow_screen_writer is its drained ≡
    batch twin."""
    docs = _docs(spark, sf_dir)
    batch = docs.filter(F.col("doc_id") % 13 == 0)
    corpus_docs = docs.filter(F.col("doc_id") % 13 != 0)
    return dedup.winnow_screen(
        batch, dedup.winnow_corpus_fps(corpus_docs)
    ).orderBy("doc_id")


def corpus_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe splits (corpus.leakage_safe_split): near-dup
    clusters over the scale-path est pair graph assigned to
    train/val/test WHOLE, so no near-duplicate pair straddles an
    evaluation boundary — the split discipline decontamination and
    dedup alone don't guarantee."""
    from ..operators import corpus

    docs = _docs(spark, sf_dir)
    pairs = dedup.minhash_est_pairs(docs, threshold=0.5)
    return corpus.leakage_safe_split(docs, pairs).orderBy("doc_id")


def embedding_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic dedup (similarity.semdedup, Abbas et al. 2023):
    id-seeded k-means, cell-local cosine ε-graph, connected-component
    duplicate groups, keep-the-atypical representative (lowest cosine
    to centroid, ties → smallest id).  The one major public LLM-dedup
    family exact/MinHash/SimHash/winnowing don't cover: near-identical
    MEANING with different surface forms.  k is planner-sized from the
    corpus count (cells ~250 rows → the cell-local pairwise step stays
    linear-per-document); the DuckDB twin regenerates at the same count
    via GEOMETRY_PARAMETRIC_SQL."""
    return similarity.semdedup(
        _emb(spark, sf_dir), n_iter=2, threshold=0.4
    ).orderBy("vec_id")


@functools.lru_cache(maxsize=1)
def _synth_url() -> F.Column:
    """Deterministic synthetic URL per document — the testdata has no URL
    column, so the web-hygiene queries derive one from (doc_id, source,
    lang, n_chars) with doc_id%8 adversarial forms: already-canonical,
    uppercase scheme/host + default port + fragment, sortable duplicate
    params, empty path, userinfo + kept port + empty params, value-bearing
    params, non-http scheme, and an unparseable row.  The DuckDB twin
    builds the IDENTICAL strings (same CASE arms), so the canonicalizer —
    not the fixture — is what the gate exercises."""
    m = F.col("doc_id") % 8
    src = F.col("source")
    did = F.col("doc_id").cast("string")
    return (
        F.when(m == 0, F.concat(F.lit("https://"), src, F.lit(".example.com/docs/"), did))
        .when(m == 1, F.concat(F.lit("HTTPS://WWW."), F.upper(src), F.lit(".Example.COM:443/docs/"), did, F.lit("#frag")))
        .when(m == 2, F.concat(F.lit("http://"), src, F.lit(".example.com:80/a/b?b=2&a=1")))
        .when(m == 3, F.concat(F.lit("http://"), src, F.lit(".example.com")))
        .when(m == 4, F.concat(F.lit("https://user@"), src, F.lit(".example.com:8443/x?z=1&&y=2&")))
        .when(m == 5, F.concat(F.lit("https://"), src, F.lit(".example.com/path/"), F.col("lang"), F.lit("?q="), F.col("n_chars").cast("string")))
        .when(m == 6, F.concat(F.lit("ftp://files."), src, F.lit(".example.com/f"), did))
        .otherwise(F.concat(F.lit("not a url "), did))
    )


def web_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (webops.url_canonicalize): RFC 3986 §6
    syntax normalization — scheme/host lowercase, default-port strip,
    empty path → '/', query params de-empty + sorted, fragment dropped;
    unparseable rows keep NULL url_canon/host.  Pure regex/string
    Column expressions, zero UDFs.

    SORT-FIRST (r14): the input is ordered BEFORE the expensive
    projection instead of ``orderBy`` on the output.  A global sort
    range-partitions via a SAMPLING pass that re-executes its whole
    child plan; when the child is a narrow expensive projection (no
    shuffle boundary for AQE to reuse), the projection runs TWICE per
    action.  Sorting the cheap scan first costs a sample of the scan
    only, and ordering survives the narrow projection unchanged.
    A/B-measured per query shape (idle, warm session): sort-first wins
    only when the shuffled payload is NARROW (this query, blocklist,
    registrable-domain: url/host strings — 0.86 vs 0.93 s here); it
    LOSES when the pre-projection row is wide (text/html riding the
    exchange: extract 0.65→0.83, boilerplate 0.84→1.49, rule screen
    1.27→1.56), so those queries keep output-side orderBy.
    Aggregating queries always keep output-side orderBy — AQE stage
    reuse already protects them."""
    from ..operators import webops

    docs = _docs(spark, sf_dir).withColumn("url", _synth_url()).orderBy(
        "doc_id"
    )
    return webops.url_canonicalize(docs).select(
        "doc_id", "url", "url_canon", "host"
    )


def web_host_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host corpus mix (webops.host_profile): rows per host, the
    distinct canonical URLs they collapse to, and each host's share of
    parseable rows — the host-concentration report a crawl-hygiene
    pipeline reads before capping."""
    from ..operators import webops

    docs = _docs(spark, sf_dir).withColumn("url", _synth_url())
    return webops.host_profile(docs).orderBy("host")


def web_host_cap_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-host cap (webops.per_host_cap_sample, cap=20):
    rows rank within their host by the shared LCG key (ties → smaller
    doc_id), ranks ≤ cap survive — the anti-domination mix control."""
    from ..operators import webops

    docs = _docs(spark, sf_dir).withColumn("url", _synth_url())
    return webops.per_host_cap_sample(docs, cap=20).orderBy("doc_id")


def doc_rule_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule-based quality screen
    (textops.rule_quality_screen, Rae et al. 2021 Appendix A): per doc
    the measured signals (word count, mean word length, symbol/bullet/
    ellipsis shares, alpha-word share, stop-word hits), one boolean per
    published rule, the passed-rule count (a graded score
    quality_tiered_sample can consume), and the all-rules verdict —
    the cheap pre-classifier screen web-corpus builds run first."""
    from ..operators import textops

    return textops.rule_quality_screen(_docs(spark, sf_dir)).orderBy(
        "doc_id"
    )


def doc_trigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid-backoff trigram LM score (textops.trigram_lm_score, Brants
    et al. 2007): per doc the mean backoff score of its trigrams under
    the doc_id%10<8 held-in model, with bigram/unigram backoff counts —
    ln-free and normalization-free, so bit-portable with the same
    pinned-fold discipline as doc_bigram_lm."""
    from ..operators import textops

    return textops.trigram_lm_score(_docs(spark, sf_dir)).orderBy("doc_id")


def corpus_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened budget allocation (corpus.
    temperature_allocated_sample, α=0.5): stratum quotas follow √n_s —
    the mC4/XLM-R α-sampling rule that upweights small sources — with
    largest-remainder rounding on the flattened weights and the shared
    LCG fill order.  Bit-portable because √ is exactly-rounded IEEE and
    the weight total folds in stratum-name order."""
    return corpus.temperature_allocated_sample(
        _docs(spark, sf_dir), budget=137, alpha=0.5
    ).orderBy("doc_id")


def dedup_est_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path adequacy eval (dedup.est_pair_quality): one-row
    precision/recall of the signature-estimated pair stream against the
    exact-verified stream at threshold 0.5, with the mean |est − exact|
    over agreeing pairs — run this before committing a 100 TB dedup to
    the est path."""
    return dedup.est_pair_quality(_docs(spark, sf_dir), threshold=0.5)


def embedding_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-threshold calibration curve (similarity.dup_threshold_curve):
    verified near-dup pair counts at each grid cut off ONE planner-
    geometry pair pass — the elbow report that picks the SemDeDup ε /
    dup-pair threshold before a full run."""
    return similarity.dup_threshold_curve(_emb(spark, sf_dir))


def dedup_full_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL dedup stack under ONE hash gate — the three-layer discipline
    a real corpus build runs, composed stage-on-stage: exact dedup
    (md5-group canonical ids) → MinHash near-dup screen over the exact
    SURVIVORS (scale-path est pairs, not-a-loser keep) → SemDeDup
    semantic verdicts (corpus-level k-means ε-graph representatives)
    applied last.  One row per document with the verdict:

      'exact_dup'    — a non-canonical byte-identical copy
      'near_dup'     — survived exact, lost the near-dup screen
      'semantic_dup' — survived both, but is a non-representative
                       member of a semantic-duplicate group
      'kept'         — survives all three layers

    Stage precedence is the CASE order (a doc that is both an exact
    copy and semantically redundant reports 'exact_dup').  Semantic
    verdicts are computed over the FULL embedding corpus (planner-sized
    k travels with the corpus count) and applied to the survivors —
    the conservative direction: a semantic group whose representative
    was itself a surface-level duplicate keeps no member, never an
    extra one.  Docs with no embedding row pass the semantic layer
    (nothing to compare).  The near screen runs ONLY on exact
    survivors, so its pair stream never wastes work on byte-copies."""
    docs = _docs(spark, sf_dir)
    emb = _emb(spark, sf_dir)
    # The exact-layer verdict frame is referenced twice (the near
    # screen's survivor filter AND the final verdict join); uncached,
    # each reference re-runs the full-text scan + md5 + digest-window
    # exchange.  Narrow (doc_id, is_duplicate) rows — linear in |docs|,
    # MEMORY_AND_DISK spill at scale (r14, guide §2.4/§5).
    exact = dedup.exact_dedup(docs).select("doc_id", "is_duplicate").cache()
    s1 = docs.join(exact.filter(~F.col("is_duplicate")), "doc_id").select(
        "doc_id", "text"
    )
    near_losers = (
        dedup.minhash_est_pairs(s1, threshold=0.5)
        .select(F.col("doc2").alias("doc_id"))
        .distinct()
        .withColumn("_near_loser", F.lit(True))
    )
    sem = similarity.semdedup(emb, threshold=0.4).select(
        F.col("vec_id").alias("doc_id"), F.col("keep").alias("_sem_keep")
    )
    return (
        docs.select("doc_id")
        .join(exact, "doc_id")
        .join(near_losers, "doc_id", "left")
        .join(sem, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("is_duplicate"), F.lit("exact_dup"))
            .when(F.coalesce("_near_loser", F.lit(False)), F.lit("near_dup"))
            .when(~F.coalesce("_sem_keep", F.lit(True)), F.lit("semantic_dup"))
            .otherwise(F.lit("kept"))
            .alias("verdict"),
        )
        .orderBy("doc_id")
    )


def corpus_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY / compression eval per language — the
    standard multilingual-tokenizer health report (a language whose
    fertility is far above the corpus mean is being over-segmented and
    will train poorly at the same sequence budget): per lang the total
    whitespace words, post-BPE subwords, and characters off the same
    trained 6-merge tokenizer `doc_bpe_token_counts` gates, with
    fertility = subwords/word and compression = chars/subword as single
    exactly-rounded divisions of exact integer sums (no floats until
    the final two columns — bit-portable by construction)."""
    docs = _docs(spark, sf_dir)
    counts = corpus.bpe_token_counts(docs, n_merges=6, materialize=True)
    return (
        counts.join(docs.select("doc_id", "lang", "n_chars"), "doc_id")
        .groupBy("lang")
        .agg(
            F.sum("n_words").cast("long").alias("total_words"),
            F.sum("n_subwords").cast("long").alias("total_subwords"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .select(
            "lang",
            "total_words",
            "total_subwords",
            "total_chars",
            (
                F.col("total_subwords").cast("double")
                / F.col("total_words").cast("double")
            ).alias("fertility"),
            (
                F.col("total_chars").cast("double")
                / F.col("total_subwords").cast("double")
            ).alias("chars_per_subword"),
        )
        .orderBy("lang")
    )


def corpus_bpe_fertility_prebuilt(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """`corpus_bpe_fertility` scored against the PERSISTED tokenizer
    artifact (the same parquet merge-rule table
    `doc_bpe_token_counts_prebuilt` publishes — identical family +
    params key, so the two queries share ONE artifact): training cost
    is paid once per corpus snapshot and the eval's per-run marginal is
    the row-local segmentation fold + one lang rollup — the production
    shape for a tokenizer-health dashboard re-run per ingest.  Rule
    strings round-trip parquet exactly, so it shares
    `corpus_bpe_fertility`'s oracle twin (load ≡ retrain)."""
    docs = _docs(spark, sf_dir)
    n_merges = 6
    idx = _prebuilt_index(
        spark,
        docs,
        "bpe",
        lambda: {
            "merges": corpus.bpe_merges(
                docs, n_merges=n_merges, materialize=True
            )
        },
        params={"n_merges": n_merges},
    )
    counts = corpus.bpe_token_counts_from_rules(
        docs, idx["merges"], n_merges=n_merges
    )
    return (
        counts.join(docs.select("doc_id", "lang", "n_chars"), "doc_id")
        .groupBy("lang")
        .agg(
            F.sum("n_words").cast("long").alias("total_words"),
            F.sum("n_subwords").cast("long").alias("total_subwords"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .select(
            "lang",
            "total_words",
            "total_subwords",
            "total_chars",
            (
                F.col("total_subwords").cast("double")
                / F.col("total_words").cast("double")
            ).alias("fertility"),
            (
                F.col("total_chars").cast("double")
                / F.col("total_subwords").cast("double")
            ).alias("chars_per_subword"),
        )
        .orderBy("lang")
    )


def corpus_quality_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-tiered corpus mixing (corpus.quality_tiered_sample over
    the graded bigram-LM score): documents ranked by mean LM
    probability, cut into four equal-population tiers, kept at
    (0.1, 0.4, 0.7, 1.0) — the soft curriculum real pipelines apply
    instead of a hard quality cutoff."""
    from ..operators import textops

    scored = textops.bigram_lm_score(_docs(spark, sf_dir)).select(
        "doc_id", "mean_prob"
    )
    return corpus.quality_tiered_sample(scored).orderBy("doc_id")


def corpus_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ℓ-diversity privacy audit (profiling.l_diversity_report): over
    the (lang, length-decile) quasi-identifier key, how many distinct
    sources each group exposes and the ℓ=3 flag — the homogeneity-
    attack screen k-anonymity alone misses (a big group whose members
    all share one sensitive value discloses it by membership)."""
    from ..operators import profiling

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        "lang",
        F.least(
            F.expr("CAST(n_chars AS LONG) DIV 100"), F.lit(9).cast("long")
        ).alias("len_bucket"),
        "source",
    )
    return profiling.l_diversity_report(
        docs, ["lang", "len_bucket"], "source", l_threshold=3
    ).orderBy("lang", "len_bucket")


def dedup_drop_witness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drop provenance (dedup.near_dedup_witness) over the scale-path
    est pair stream: per dropped doc, the min-id witness that killed it
    with that pair's estimated Jaccard and the total winning-pair hit
    count — the audit trail a production dedup keeps alongside the
    keep-set."""
    pairs = dedup.minhash_est_pairs(_docs(spark, sf_dir), threshold=0.5)
    return dedup.near_dedup_witness(pairs).orderBy("doc_id")


def embedding_semdedup_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time semantic-dup screen (similarity.semdedup_screen): the
    vec_id%13==0 slice plays the arriving batch against a FROZEN
    SemDeDup index built on the rest — nearest trained centroid, best
    cosine against that cell's kept representatives, keep verdict.  k
    is planned from the FULL table count on both sides so the
    parametric twin travels with scale; the streaming writer is the
    drained ≡ batch twin."""
    emb = _emb(spark, sf_dir)
    k = similarity.semdedup_k_for_corpus(similarity._corpus_count(emb))
    corpus_emb = emb.filter(F.col("vec_id") % 13 != 0)
    batch = emb.filter(F.col("vec_id") % 13 == 0)
    idx = similarity.semdedup_index(corpus_emb, k=k, threshold=0.4)
    return similarity.semdedup_screen(batch, idx, threshold=0.4).orderBy(
        "vec_id"
    )


def embedding_semdedup_screen_prebuilt(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """`embedding_semdedup_screen` answered from a PERSISTED SemDeDup
    index: the trained (centroids, kept representatives) pair is
    parquet-persisted through the same keyed artifact store as the ANN
    indexes (corpus snapshot + params + format version, atomic publish,
    untrusted-root refusal), so the per-run marginal is centroid
    assignment + cell-local rep scan — the production serve shape the
    ivfpq_*_prebuilt family already has (train cost amortized across
    every later ingest batch).  Bit-identical to the inline build
    (parquet round-trips doubles exactly), so it shares
    `embedding_semdedup_screen`'s oracle twin."""
    emb = _emb(spark, sf_dir)
    k = similarity.semdedup_k_for_corpus(similarity._corpus_count(emb))
    corpus_emb = emb.filter(F.col("vec_id") % 13 != 0)
    batch = emb.filter(F.col("vec_id") % 13 == 0)

    def build():
        cents, reps = similarity.semdedup_index(
            corpus_emb, k=k, threshold=0.4
        )
        return {"centroids": cents, "reps": reps}

    idx = _prebuilt_index(
        spark,
        emb,
        "semdedup",
        build,
        params={"k": k, "threshold": 0.4, "n_iter": 2, "holdout": 13},
    )
    # ≤k-row model table probed by the screen's assignment: cache it so
    # a second consumer never silently re-runs the lineage (the r11
    # centroid-cache lesson; for the loaded path the lineage is just a
    # parquet scan, but the inline-degrade path is the full Lloyd train)
    cents = idx["centroids"].cache()
    return similarity.semdedup_screen(
        batch, (cents, idx["reps"]), threshold=0.4
    ).orderBy("vec_id")


def web_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level dedup (webops.url_dedup): rows whose synthetic URLs
    canonicalize to the same string collapse to the smallest doc_id —
    the before-any-text dedup pass every crawl pipeline runs first
    (here the doc_id%8 fixture makes m∈{2,3} rows per source collapse:
    their URLs differ only by default port / param order)."""
    from ..operators import webops

    docs = _docs(spark, sf_dir).withColumn("url", _synth_url())
    return webops.url_dedup(docs).orderBy("doc_id")


def web_blocklist_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist screen (webops.url_blocklist_screen): canonical hosts
    under src1.example.com (subdomains included) and any URL whose
    path/query contains 'z=1' are flagged with their first-match
    reason — the UT1-style pattern pass after canonicalization."""
    from ..operators import webops

    docs = _docs(spark, sf_dir).withColumn("url", _synth_url()).orderBy(
        "doc_id"
    )
    return webops.url_blocklist_screen(
        docs,
        blocked_host_suffixes=["src1.example.com"],
        blocked_path_terms=["z=1"],
    ).select("doc_id", "host", "block_reason", "blocked")


# public-suffix fixture table for the registrable-domain gate: exercises
# a plain suffix (example.com — www./files. subdomains collapse into the
# srcN.example.com eTLD+1), a wildcard (every label under src1.example.com
# is itself a public suffix → www.src1.example.com has NO registrable
# domain), and an exception (!files.src1.example.com prevails over the
# wildcard, making files.src1.example.com registrable again).
PSL_FIXTURE_RULES = (
    "com",
    "example.com",
    "*.src1.example.com",
    "!files.src1.example.com",
)


def web_registrable_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registrable-domain (eTLD+1) extraction
    (webops.registrable_domain_col) under the caller-provided
    PSL-format fixture table — longest-suffix match with wildcard and
    exception rules, the public-suffix *algorithm* with the *file* as a
    parameter.  NULL when the host IS a public suffix or the URL is
    unparseable."""
    from ..operators import webops

    docs = _docs(spark, sf_dir).withColumn("url", _synth_url()).orderBy(
        "doc_id"
    )
    return webops.url_canonicalize(docs).select(
        "doc_id",
        "host",
        webops.registrable_domain_col(
            F.col("host"), list(PSL_FIXTURE_RULES)
        ).alias("reg_domain"),
    )


def web_domain_cap_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-REGISTRABLE-DOMAIN cap (webops.per_host_cap_sample with the
    PSL fixture table, cap=20): one eTLD+1 shares one cap across all
    its subdomains — the subdomain-spray-proof variant of
    web_host_cap_sample (www./files. rows now compete with their apex
    host's rows for the same 20 seats)."""
    from ..operators import webops

    docs = _docs(spark, sf_dir).withColumn("url", _synth_url())
    return webops.per_host_cap_sample(
        docs, cap=20, suffix_rules=list(PSL_FIXTURE_RULES)
    ).orderBy("doc_id")


def web_host_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host curation scorecard (webops.host_scorecard): rows, URL
    duplicates, blocklist hits, and the mean graded LM quality per
    canonical host — the table the NEXT crawl's caps/blocks come from.
    Two-level pinned quality fold (mega-host-safe, bit-portable)."""
    from ..operators import textops, webops

    docs = _docs(spark, sf_dir).withColumn("url", _synth_url())
    scores = textops.bigram_lm_score(docs).select("doc_id", "mean_prob")
    return webops.host_scorecard(
        docs,
        scores,
        blocked_host_suffixes=["src1.example.com"],
        blocked_path_terms=["z=1"],
    ).orderBy("host")


def web_domain_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation scorecard GROUPED BY REGISTRABLE DOMAIN
    (webops.host_scorecard with the PSL fixture table): one row per
    eTLD+1, so a site spraying subdomains reads as one ranked entity
    instead of fragmenting its row counts, dup counts, and quality mean
    across hundreds of host rows — the grouping a crawl-curation pass
    actually ranks by."""
    from ..operators import textops, webops

    docs = _docs(spark, sf_dir).withColumn("url", _synth_url())
    scores = textops.bigram_lm_score(docs).select("doc_id", "mean_prob")
    return webops.host_scorecard(
        docs,
        scores,
        blocked_host_suffixes=["src1.example.com"],
        blocked_path_terms=["z=1"],
        suffix_rules=list(PSL_FIXTURE_RULES),
    ).orderBy("host")


@functools.lru_cache(maxsize=1)
def _synth_html() -> F.Column:
    """Deterministic synthetic HTML per document (doc_id%4 adversarial
    forms: style+comment page, trailing script, entity soup, block tags
    + list) — the DuckDB twin builds the IDENTICAL strings, so the
    extractor, not the fixture, is what the gate exercises."""
    m = F.col("doc_id") % 4
    did = F.col("doc_id").cast("string")
    text = F.col("text")
    return (
        F.when(
            m == 0,
            F.concat(
                F.lit("<html><head><style>p {color: red}</style>"),
                F.lit("<title>T"), did, F.lit("</title></head><body>"),
                F.lit("<h1>Doc "), did, F.lit("</h1><p>"), text,
                F.lit("</p><!-- crawl: skip --></body></html>"),
            ),
        )
        .when(
            m == 1,
            F.concat(
                F.lit('<div class="a">'), text,
                F.lit("</div><script type=\"text/javascript\">var x = 1 < 2;</script>"),
            ),
        )
        .when(
            m == 2,
            F.concat(
                F.lit("<p>a &amp; b &lt;tag&gt; &quot;q&quot; &#39;s&#39;&nbsp;&amp;lt;</p><p>"),
                text, F.lit("</p>"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("<ul><li>one</li><li>two</li></ul>"), text,
                F.lit("<br>tail "), did,
            )
        )
    )


def web_extract_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markup-to-text extraction (webops.html_extract_text): script/
    style/comment blocks dropped, block tags → newlines, remaining tags
    stripped, XML entities + &nbsp; decoded (&amp; last, so '&amp;lt;'
    yields literal '&lt;'), whitespace collapsed — the step between
    fetch and every text operator, as a pure RE2-safe Column chain."""
    from ..operators import webops

    docs = _docs(spark, sf_dir).withColumn("html", _synth_html())
    return webops.html_extract_text(docs, out_col="clean_text").select(
        "doc_id", F.col("clean_text")
    ).orderBy("doc_id")


@functools.lru_cache(maxsize=1)
def _synth_idn_url() -> F.Column:
    """Unicode-host URL fixture (doc_id%4 arms): uppercase Unicode label
    (exercises unicode lower + encode), a www.-prefixed mixed
    Unicode/hyphen label with default port + unsorted params, the
    PRE-ENCODED xn-- form of arm 0's label (must canonicalize to the
    identical key shape), and a per-doc CJK label.  The DuckDB twin
    builds the IDENTICAL strings."""
    m = F.col("doc_id") % 4
    src = F.col("source")
    did = F.col("doc_id").cast("string")
    return (
        F.when(m == 0, F.concat(F.lit("https://BÜCHER."), src, F.lit(".example.com/docs/"), did))
        .when(m == 1, F.concat(F.lit("http://www.münchen-"), src, F.lit(".de:80/a?b=2&a=1")))
        .when(m == 2, F.concat(F.lit("https://xn--bcher-kva."), src, F.lit(".example.com/docs/"), did))
        .otherwise(F.concat(F.lit("https://点看"), did, F.lit(".example.com/p")))
    )


def web_idn_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDN host normalization inside canonicalization
    (webops.idn_host_ascii / _punycode_label): Unicode host labels
    collapse to their RFC 3492 xn-- wire form — 'BÜCHER.x.example.com'
    and 'xn--bcher-kva.x.example.com' become ONE canonical key, closing
    the same dup-miss class percent-encoding closed for paths."""
    from ..operators import webops

    docs = _docs(spark, sf_dir).withColumn(
        "url", _synth_idn_url()
    ).orderBy("doc_id")
    return webops.url_canonicalize(docs).select(
        "doc_id", "url", "url_canon", "host"
    )


def web_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-level boilerplate screen (webops.boilerplate_strip) over the
    extraction pipeline's output, with injected nav/cookie/footer noise
    lines so the gate exercises every rule arm: C4's terminal-
    punctuation + blacklist line filters plus jusText's stop-word-
    density rescue — the pass that keeps nav bars, cookie banners and
    footers out of every downstream text operator."""
    from ..operators import webops

    docs = _docs(spark, sf_dir).withColumn("html", _synth_html())
    noisy = webops.html_extract_text(docs, out_col="_ext").withColumn(
        "page_text",
        F.concat(
            F.lit("Home | About | Contact\nAccept all cookies to continue\n"),
            F.col("_ext"),
            F.lit(
                "\n© 2024 Example Corp All rights reserved"
                "\nPowered by JavaScript widgets"
            ),
        ),
    )
    return webops.boilerplate_strip(noisy, text_col="page_text").select(
        "doc_id", "clean_text", "n_lines", "n_lines_kept"
    ).orderBy("doc_id")


# RFC 9309 rule-group fixture for the robots gate: longest-match
# (deeper /docs/1 allow overrides the /docs/ disallow), wildcard, a
# same-length allow/disallow tie on /a/b (allow must win), and a bare
# '/' allow as the fallback.
ROBOTS_FIXTURE_RULES = (
    ("disallow", "/docs/"),
    ("allow", "/docs/1"),
    ("allow", "/a/b"),
    ("disallow", "/a/b"),
    ("disallow", "/x"),
    ("allow", "/*?q="),
    ("disallow", "/f*"),
    ("allow", "/"),
)


def web_robots_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robots-exclusion screen (webops.robots_screen, RFC 9309
    semantics over a caller-resolved rule group): longest matching
    path pattern wins, allow wins length ties, '*' wildcards and '$'
    anchors supported, unmatched → allowed, unparseable → NULL."""
    from ..operators import webops

    docs = _docs(spark, sf_dir).withColumn("url", _synth_url())
    return webops.robots_screen(
        docs, list(ROBOTS_FIXTURE_RULES)
    ).select("doc_id", "robots_rule", "robots_allowed").orderBy("doc_id")


# the crawler identity the robots fixtures resolve for
ROBOTS_TOKEN = "tce-crawler"
# Raw robots.txt fixture bodies (one per host class — apex / www. /
# files.), exercising RFC 9309 §2.2.1 precedence end-to-end: multi-UA
# group stacking, prefix-match specificity ('tce' vs 'tce-crawler' vs
# 'tce-crawler-img'), '*' fallback, TWO tied '*' groups concatenated,
# rules before any group ignored, comments / unknown fields / empty
# patterns ignored, CRLF line endings.  The DuckDB twin embeds the
# IDENTICAL strings, so the resolver — not the fixture — is the gate.
ROBOTS_BODY_APEX = "\n".join([
    "# fixture A",
    "Crawl-delay: 1.5",
    "Sitemap: https://apex.example.com/sitemap.xml",
    "User-agent: tce-crawler-img",
    "Disallow: /img/",
    "User-agent: tce-crawler",
    "User-agent: otherbot",
    "Disallow: /docs/",
    "Allow: /docs/1",
    "Sitemap: https://apex.example.com/sitemap-2.xml",
    "User-agent: *",
    "Disallow: /",
])
ROBOTS_BODY_WWW = "\r\n".join([
    "Disallow: /ignored-before-group",
    "Crawl-delay: fast",
    "Sitemap: relative/sitemap.xml",
    "User-agent: tce",
    "Allow: /a/b",
    "User-agent: TCE-Crawler",
    "Disallow: /x",
    "Disallow: /docs/*/draft",
    "user-agent: *",
    "Allow: /",
])
ROBOTS_BODY_FILES = "\n".join([
    "User-agent: megabot",
    "Disallow: /",
    "User-agent: *",
    "Disallow: /f*",
    "Allow: /f1$",
    "Disallow:",
    "Crawl-delay: 10",
    "sitemap: HTTPS://files.example.com/s.xml",
    "User-agent: *",
    "Allow: /path/",
    "crawl-delay: 99",
])


@functools.lru_cache(maxsize=16)
def _synth_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized distinct canonical hosts of the ``_synth_url`` corpus —
    the shared input of the robots/sitemap fixtures (same plan-reuse
    rationale as ``_read_spread``: the canon+distinct lineage is an
    immutable plan, one per (session, sf_dir))."""
    from ..operators import webops

    docs = _docs(spark, sf_dir).withColumn("url", _synth_url())
    return webops.url_canonicalize_parsed(docs).select("host").distinct()


def _synth_robots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One deterministic robots.txt body per canonical host of the
    ``_synth_url`` corpus — apex hosts get the group-precedence body,
    www. hosts the prefix-specificity body, files. hosts the
    tied-'*'-groups body."""
    hosts = _synth_hosts(spark, sf_dir)
    body = (
        F.when(F.col("host").startswith("www."), F.lit(ROBOTS_BODY_WWW))
        .when(F.col("host").startswith("files."), F.lit(ROBOTS_BODY_FILES))
        .otherwise(F.lit(ROBOTS_BODY_APEX))
    )
    return hosts.withColumn("robots_txt", body)


def web_robots_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 9309 §2.2.1 group resolution (webops.robots_resolve): raw
    robots.txt bodies parsed into groups, longest case-insensitive
    product-token prefix wins ('tce-crawler' beats 'tce' beats '*'),
    tied groups concatenate, and the winning group's allow/disallow
    rules come out as rows — the front half the r12 screen required the
    caller to have done."""
    from ..operators import webops

    return webops.robots_resolve(
        _synth_robots(spark, sf_dir), ROBOTS_TOKEN
    ).orderBy("host", "line_no")


def web_robots_screen_resolved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end robots admission decision
    (webops.robots_screen_resolved): resolve each host's applicable
    group from its raw robots.txt body, then longest-match/
    allow-wins-ties every document URL against its host's resolved
    rules — data-driven patterns via a host-keyed join + per-(doc,rule)
    regex + one id-keyed max, no caller-side prep."""
    from ..operators import webops

    docs = _docs(spark, sf_dir).withColumn("url", _synth_url())
    return webops.robots_screen_resolved(
        docs, _synth_robots(spark, sf_dir), ROBOTS_TOKEN
    ).select("doc_id", "robots_rule", "robots_allowed").orderBy("doc_id")


def web_admission_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END crawl admission pipeline under ONE hash gate — the
    full fetch-side story composed the way a real ingest runs it:
    canonicalize ONCE (pct + parse + IDN) → blocklist screen → robots
    screen (caller-resolved group) → first-id URL dedup among admitted
    rows → markup→text extraction → line-level boilerplate strip →
    Gopher rule screen on the CLEANED text.  Each stage consumes the
    previous stage's DataFrame directly; a bug in any stage or handoff
    breaks the bit-exact twin (the corpus_clean_pipeline discipline,
    crawl-side)."""
    from ..operators import textops, webops

    # sentence-terminate the fixture text (the synthetic corpus is one
    # unpunctuated line per doc, which the boilerplate screen would
    # rightly drop wholesale — a trailing period makes the content line
    # survive while the markup noise lines still strip)
    docs = (
        _docs(spark, sf_dir)
        .withColumn("text", F.concat(F.col("text"), F.lit(".")))
        .withColumn("url", _synth_url())
        .withColumn("html", _synth_html())
    )
    canon = webops.url_canonicalize_parsed(docs)
    screened = webops.url_blocklist_screen(
        canon, ["src1.example.com"], ["z=1"], precanonicalized=True
    )
    robots = webops.robots_screen(
        screened, list(ROBOTS_FIXTURE_RULES), precanonicalized=True
    )
    admitted = robots.filter(~F.col("blocked") & F.col("robots_allowed"))
    dd = (
        webops.url_dedup(admitted, precanonicalized=True)
        .filter(~F.col("is_url_duplicate"))
        .select("doc_id")
    )
    kept = admitted.join(dd, "doc_id")
    clean = webops.boilerplate_strip(
        webops.html_extract_text(kept, out_col="_ext"), text_col="_ext"
    )
    # `clean` feeds TWO consumers (the rule screen and the final
    # projection); uncached, each re-ran the whole canonicalize →
    # screens → dedup-join → extract → boilerplate chain.  Cache the
    # five columns both consumers need — clean_text is corpus-text-
    # sized, but one cached copy beats re-running the chain (r14,
    # guide §2.4/§5).
    slim = clean.select(
        "doc_id", "host", "url_canon", "n_lines_kept", "clean_text"
    ).cache()
    ruled = textops.rule_quality_screen(slim, text_col="clean_text").select(
        "doc_id", "rules_passed", "pass_gopher"
    )
    return (
        slim.select("doc_id", "host", "url_canon", "n_lines_kept")
        .join(ruled, "doc_id")
        .orderBy("doc_id")
    )


def web_robots_sitemaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap discovery from raw robots.txt bodies
    (webops.robots_sitemaps): group-independent ``Sitemap:`` records in
    file order — absolute-URL values kept verbatim, relative/junk
    values quarantined, case-insensitive field names, lines between
    user-agent groups unaffected by any group resolution."""
    from ..operators import webops

    return webops.robots_sitemaps(_synth_robots(spark, sf_dir)).orderBy(
        "host", "line_no"
    )


def web_robots_crawl_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-delay extraction (webops.robots_crawl_delay): host-level
    first-valid-value semantics over the raw bodies — decimal values
    parse ('1.5'), junk values quarantine ('fast'), a later declaration
    never displaces the first ('10' beats the trailing '99')."""
    from ..operators import webops

    return webops.robots_crawl_delay(_synth_robots(spark, sf_dir)).orderBy(
        "host"
    )


# Fetched-sitemap fixture bodies (one per host class), exercising every
# sitemap_urls rule arm: entity-escaped loc, CDATA loc (content literal,
# NOT entity-decoded), relative loc dropped, loc-less entry dropped
# (both leaving ord gaps), junk lastmod → NULL, uppercase scheme kept,
# syntactically-valid-but-impossible calendar date → NULL, an index
# document whose locs are MORE sitemaps, and an HTML error page served
# as /sitemap.xml whose embedded <url> block must NOT leak through the
# kind gate.  The DuckDB twin embeds the IDENTICAL strings.
SITEMAP_BODY_URLSET = "\n".join([
    '<?xml version="1.0" encoding="UTF-8"?>',
    '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">',
    "  <url>",
    "    <loc>https://www.example.com/page?a=1&amp;b=2</loc>",
    "    <lastmod>2024-05-07</lastmod>",
    "  </url>",
    "  <url>",
    "    <loc>",
    "      <![CDATA[https://www.example.com/cdata&amp;literal]]>",
    "    </loc>",
    "    <lastmod>2024-01-15T09:30:00+02:00</lastmod>",
    "  </url>",
    "  <url><loc>/relative/path</loc><lastmod>2024-06-01</lastmod></url>",
    "  <url><lastmod>2024-06-02</lastmod></url>",
    "  <url><loc>https://other.example.org/x</loc><lastmod>yesterday</lastmod></url>",
    "  <url><loc>HTTPS://MIXED.example.com/keep</loc></url>",
    "  <url><loc>https://cal.example.com/bad</loc><lastmod>2024-02-30</lastmod></url>",
    # ALREADY-CRAWLED locs (canonicalize to corpus _synth_url canon
    # forms: the m%8==2 arm for src1/src2) — the frontier anti-join
    # must exclude exactly these
    "  <url><loc>http://src1.example.com:80/a/b?b=2&amp;a=1</loc><lastmod>2024-07-01</lastmod></url>",
    "  <url><loc>http://src2.example.com/a/b?a=1&amp;b=2</loc></url>",
    "</urlset>",
])
SITEMAP_BODY_INDEX = "\n".join([
    '<?xml version="1.0"?>',
    '<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">',
    "  <sitemap>",
    "    <loc>https://files.example.com/sitemap-a.xml</loc>",
    "    <lastmod>2024-03-01</lastmod>",
    "  </sitemap>",
    "  <sitemap><loc>sitemap-b.xml</loc></sitemap>",
    "  <sitemap><loc>https://files.example.com/sitemap-c.xml</loc></sitemap>",
    "</sitemapindex>",
])
SITEMAP_BODY_JUNK = (
    "<!DOCTYPE html><html><body><p>Not a sitemap."
    " <url><loc>https://trap.example.com/</loc></url></p></body></html>"
)


def _synth_sitemap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One deterministic fetched-sitemap document per canonical host of
    the ``_synth_url`` corpus — www. hosts get the urlset body (leaf
    entries + every quarantine arm), files. hosts the sitemapindex
    body, apex hosts the HTML-error-page body."""
    hosts = _synth_hosts(spark, sf_dir)
    body = (
        F.when(F.col("host").startswith("www."), F.lit(SITEMAP_BODY_URLSET))
        .when(
            F.col("host").startswith("files."), F.lit(SITEMAP_BODY_INDEX)
        )
        .otherwise(F.lit(SITEMAP_BODY_JUNK))
    )
    return hosts.select(
        "host",
        F.concat(
            F.lit("https://"), F.col("host"), F.lit("/sitemap.xml")
        ).alias("sitemap_url"),
        body.alias("sitemap_xml"),
    )


def web_sitemap_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap document parsing (webops.sitemap_urls): the frontier-
    building step after robots-line discovery — <urlset>/<sitemapindex>
    regex tag-walk extracting per-entry loc (trimmed, CDATA-unwrapped
    or entity-decoded, absolute-URL quarantine with ord gaps as
    provenance) and lastmod (date part when a real calendar date, junk
    → NULL); HTML error pages served as sitemaps emit nothing."""
    from ..operators import webops

    return webops.sitemap_urls(_synth_sitemap(spark, sf_dir)).orderBy(
        "host", "ord"
    )


def web_frontier_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frontier construction (webops.frontier_urls): parsed sitemap
    urlset locs canonicalized (pct + parse + IDN), collapsed per
    canonical URL (first declaring (sitemap_url, ord), freshest
    lastmod), anti-joined against the crawled corpus's canonical URLs
    — the next crawl's fetch candidates; locs the corpus already has
    (two fixture locs canonicalize into corpus forms) are excluded."""
    from ..operators import webops

    docs = _docs(spark, sf_dir).withColumn("url", _synth_url())
    entries = webops.sitemap_urls(_synth_sitemap(spark, sf_dir))
    return webops.frontier_urls(entries, docs).orderBy("url_canon")


def web_recrawl_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host fetch-budget allocation (webops.recrawl_budget): the
    curation scorecard's quality ranking composed with the declared
    Crawl-delay politeness into the table a crawler's scheduler
    consumes — effective delay (declared / default / floor), politeness
    cap per window, equal-population desirability tiers with
    non-increasing shares, allocated fetches monotone in rank."""
    from ..operators import textops, webops

    docs = _docs(spark, sf_dir).withColumn("url", _synth_url())
    scores = textops.bigram_lm_score(docs).select("doc_id", "mean_prob")
    sc = webops.host_scorecard(
        docs,
        scores,
        blocked_host_suffixes=["src1.example.com"],
        blocked_path_terms=["z=1"],
    )
    return webops.recrawl_budget(sc, _synth_robots(spark, sf_dir)).orderBy(
        "rank"
    )


def corpus_rule_tiered_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher rule screen COMPOSED with the curriculum sampler: the
    passed-rule count (0-7, inside quality_tiered_sample's [0, 10)
    ordering domain by construction) ranks documents, four
    equal-population tiers keep at (0.1, 0.4, 0.7, 1.0) — a
    classifier-free quality curriculum built entirely from the
    published heuristics (worst rule-breakers thinned to 10%, clean
    docs kept whole)."""
    from ..operators import textops

    scored = textops.rule_quality_screen(_docs(spark, sf_dir)).select(
        "doc_id", F.col("rules_passed").cast("double").alias("rule_score")
    )
    return corpus.quality_tiered_sample(
        scored, score_col="rule_score"
    ).orderBy("doc_id")
