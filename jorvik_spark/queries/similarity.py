"""Similarity search & embedding ops over ``embeddings`` (§2C north-star
extensions).

Search: ``simsearch_topk`` (exact two-phase top-k, broadcast query side),
``simsearch_range`` (cosine radius filter, zero reduction state),
``simsearch_ivf`` / ``simsearch_ivfpq`` (cell probe; + product-quantized
asymmetric distance), ``simsearch_lsh_det`` (deterministic md5
random-projection buckets) and ``simsearch_lsh`` (Spark-ML, hash-checked
via its probe-set recall/precision eval projection).
Dedup: ``dedup_embedding_cosine`` blocked on shared IVF cells.
Compression/statistics: ``embed_quantize_int8``, ``embed_pq_codes``,
``embed_centroids``, ``embed_dim_stats``, ``embed_whiten``.

Dot products are pure built-ins (zip_with + aggregate in double); cosines
are rounded to 6 decimals on both engines so float-summation-order noise
cannot flip the hash comparison. Zero-norm vectors are excluded from every
cosine-based operator and retained by the moment/quantization ones.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from jorvik_spark.tables import load_table, spread_scan
from jorvik_spark.queries.registry import (
    corpus_memo_cut_lineage,
    davg,
    dsum,
    hash_bucket,
    memo_df,
    octave,
    query,
    sql_davg,
    sql_dsum,
    spark_units,
    sql_hash_bucket,
    sql_octave,
    sql_units,
    units,
)

_TOPK = 5
_N_QUERIES = 5  # vec_id < 5 form the query set
# Phase-1 reduction granularity for the exact top-k: candidates are
# pre-reduced per (query, candidate_id div _TOPK_CHUNK) cell before the
# tiny per-query merge. Bounds every sort at _TOPK_CHUNK rows.
_TOPK_CHUNK = 1024

# Cosine between two array<double> columns, built-ins only.
_DOT = "aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"


# Degenerate (zero-norm) vectors are EXCLUDED from every cosine-based
# operator on both engines: cosine is undefined for them, and under ANSI
# mode a single zero embedding in 100 TB would kill the job with
# DIVIDE_BY_ZERO. Quantization/centroids keep them (no division there).
_SQL_POS_NORM = (
    "list_dot_product(CAST(embedding AS DOUBLE[]), "
    "CAST(embedding AS DOUBLE[])) > 0"
)

_SQL_COS = (
    "list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[])) / "
    "(sqrt(list_dot_product(CAST({a} AS DOUBLE[]), CAST({a} AS DOUBLE[]))) * "
    "sqrt(list_dot_product(CAST({b} AS DOUBLE[]), CAST({b} AS DOUBLE[]))))"
)


def _vec_double(df: DataFrame) -> DataFrame:
    return df.withColumn(
        "v", F.expr("transform(embedding, x -> cast(x AS double))")
    )


def _spread_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings, spread across all cores when the scan is under-split —
    the text module's ``_repartitioned_docs`` discipline applied to the
    vector table (round 15): per-component explode/quantize/project work
    is CPU-bound per row and otherwise fuses INTO the scan stage, so an
    under-split input serializes it (measured: the JL projection ran as
    one ~19 s task against a sub-second median on the 100x stress
    corpus's dominant-file layout). No-op on a well-split lake.

    r18 (VERDICT #8): the guard itself is the shared
    ``tables.spread_scan`` — one implementation of the split-count
    check across the text/vector/fact modules."""
    return spread_scan(load_table(spark, sf_dir, "embeddings"), spark)


@query(
    "simsearch_topk",
    oracle=f"""
    WITH nz AS (SELECT * FROM embeddings WHERE {_SQL_POS_NORM}),
    q AS (SELECT vec_id AS query_id, embedding AS qe
          FROM nz WHERE vec_id < {_N_QUERIES}),
    scored AS (
        SELECT q.query_id, c.vec_id AS candidate_id,
               round({_SQL_COS.format(a='q.qe', b='c.embedding')}, 6) AS cosine
        FROM q JOIN nz c ON c.vec_id <> q.query_id),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, candidate_id) AS rank
        FROM scored)
    SELECT query_id, candidate_id, cosine, CAST(rank AS INTEGER) AS rank
    FROM ranked WHERE rank <= {_TOPK}
    """,
)
def simsearch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k: O(|queries| × |corpus|) with the query side
    broadcast — the right plan whenever |queries| ≪ |corpus| (ANN below
    is the path when both sides are huge).

    The per-query reduction is two-phase (tree) instead of a single
    window partitioned by query_id: a window would shuffle every scored
    row onto |q| reducer partitions — |q| tasks each sorting
    |corpus| rows. Phase 1 takes a local top-k per (query_id,
    candidate-id chunk) — fine keys, so the big exchange spreads over
    the whole cluster and every task sorts a bounded cell; phase 2
    merges the |q| × |chunks| × k survivors, which is negligible.

    Squared norms once per ROW: per-pair norm recomputation triples the
    interpreted array aggregates on the |queries| × |corpus| stream. The
    quotient dot/(sqrt(nq)·sqrt(nc)) is bit-identical to the per-pair
    form, so the DuckDB oracle is unaffected.
    """
    return _twophase_topk(spark, sf_dir, _TOPK)


def _exact_topk_gt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized exact ground-truth top-k (r17): four eval
    operators (IVF recall, nprobe sweep, Matryoshka truncation, int8
    recall) grade against the SAME exact brute-force pass — without the
    memo each eval invocation re-ran the |queries| × |corpus| scoring.
    The memoized relation is |queries| × k rows behind a lineage-cut
    leaf (the ``_ivf_assign`` discipline: an index/truth artifact built
    once per session, consumed by many operators). ``simsearch_topk``
    itself — the registered serving query — stays unmemoized; only the
    evals' TRUTH side reads the leaf."""
    return memo_df(
        f"exact_topk_gt:{sf_dir}",
        spark,
        lambda: simsearch_topk(spark, sf_dir),
        cut_lineage=True,
    )


def _twophase_topk(
    spark: SparkSession,
    sf_dir: str,
    k: int,
    band: tuple[float, float] | None = None,
    dims: int | None = None,
) -> DataFrame:
    """Shared two-phase (tree) cosine top-k over the broadcast query set:
    score, optionally band-filter (hard-negative mining), local top-k per
    (query, candidate-id chunk), tiny merge — the reduction documented on
    :func:`simsearch_topk`; parameterized on k, the similarity band, and
    an optional prefix-dimension truncation (``dims`` — the Matryoshka
    eval) so top-k search, banded pair mining, and truncated-dim search
    share one implementation. The zero-norm exclusion applies to the
    TRUNCATED vector when dims is set: a prefix can be all-zero even
    when the full vector is not, and cosine is undefined for it either
    way.

    Round 16: the candidate scan routes through ``_spread_embeddings``
    — the per-candidate cosine fold is CPU-bound per row and fused into
    the scan stage, so an under-split input serialized the whole exact
    phase on one core (measured: an 8.8 s single task on the 100x
    stress corpus's dominant file while every other task took 11 ms;
    a no-op on a well-split lake)."""
    emb = _vec_double(_spread_embeddings(spark, sf_dir))
    if dims is not None:
        emb = emb.withColumn("v", F.slice("v", 1, dims))
    emb = emb.withColumn("n2", F.expr(_DOT.format(a="v", b="v"))).filter(
        F.col("n2") > 0
    )
    queries = F.broadcast(
        emb.filter(F.col("vec_id") < _N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("n2").alias("nq"),
        )
    )
    cands = emb.select(
        F.col("vec_id").alias("candidate_id"), "v", F.col("n2").alias("nc")
    )
    dot = F.expr(_DOT.format(a="qv", b="v"))
    cosine = F.round(dot / (F.sqrt("nq") * F.sqrt("nc")), 6)
    scored = cands.join(
        queries, F.col("candidate_id") != F.col("query_id")
    ).select("query_id", "candidate_id", cosine.alias("cosine"))
    if band is not None:
        lo, hi = band
        scored = scored.filter(
            (F.col("cosine") >= lo) & (F.col("cosine") < hi)
        )
    # Sort key encodes (cosine DESC, candidate_id ASC) as an ascending
    # struct sort: negate the cosine, recover it after the final slice.
    key = F.struct(
        (-F.col("cosine")).alias("nc"), F.col("candidate_id").alias("cid")
    )
    local = (
        scored.withColumn("chunk", F.expr(f"candidate_id div {_TOPK_CHUNK}"))
        .groupBy("query_id", "chunk")
        .agg(F.slice(F.sort_array(F.collect_list(key)), 1, k).alias("top"))
    )
    merged = (
        local.select("query_id", F.explode("top").alias("k"))
        .groupBy("query_id")
        .agg(F.slice(F.sort_array(F.collect_list("k")), 1, k).alias("top"))
    )
    return merged.select("query_id", F.posexplode("top").alias("pos", "k")).select(
        "query_id",
        F.col("k.cid").alias("candidate_id"),
        (-F.col("k.nc")).alias("cosine"),
        (F.col("pos") + 1).cast("int").alias("rank"),
    )


# Euclidean distance between two array<double> columns, built-ins only.
_EUCL = (
    "sqrt(aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
    "0D, (acc, x) -> acc + x))"
)
_SQL_EUCL = "list_distance(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"

# Probe set for the LSH recall eval: exact ground truth costs
# |probes| × N distances (linear in corpus size — never the all-pairs
# join the LSH exists to avoid).
_LSH_EVAL_PROBES = 50
# Recall floor: fraction of exact rounded-euclidean ≤ 1.2 probe pairs the
# LSH candidate join recovers. Measured 0.951 / 0.980 / 0.978 at
# sf0.001 / 0.01 / 0.1 (4 OR-amplified hash tables, bucketLength 2.0,
# seed 42); pinned at 0.8 — far enough under every measurement to absorb
# probe-set noise, far enough above chance to catch a broken bucket join.
_LSH_RECALL_MIN = 0.80


@query(
    "simsearch_lsh",
    oracle=f"""
    WITH p AS (SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS pv
               FROM embeddings WHERE vec_id < {_LSH_EVAL_PROBES}),
    tp AS (SELECT COUNT(*) AS n_true_pairs
           FROM p JOIN embeddings c ON c.vec_id <> p.probe_id
           WHERE round({_SQL_EUCL.format(a='pv', b='c.embedding')}, 6)
                 <= 1.2)
    SELECT CAST(tp.n_true_pairs AS BIGINT) AS n_true_pairs,
           TRUE AS recall_ok,
           TRUE AS precision_ok
    FROM tp
    """,
)
def simsearch_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate neighbor pairs via BucketedRandomProjectionLSH: random
    hyperplane projections bucket the space; the join compares only
    same-bucket vectors, each surviving pair re-checked against the exact
    Euclidean threshold.

    Driver-legible form: which candidates the random hyperplanes surface
    is hash-family specific, so the pair list itself can never value-hash
    against ANSI SQL. The query instead emits the retrieval eval this
    operator needs anyway, over a fixed 50-probe set (_LSH_EVAL_PROBES):
    ``n_true_pairs`` (exact rounded-distance ≤ 1.2 probe pairs — the
    deterministic ground truth, hash-checked against the oracle),
    ``recall_ok`` (LSH recovered ≥ 80% — _LSH_RECALL_MIN — of them; a
    broken bucketing join or mis-wired threshold flips it), and
    ``precision_ok`` (every LSH probe pair IS a true pair — exact by
    construction since candidates are re-checked against the same
    rounded distance; a mis-aliased distance column flips it). The
    ground-truth side is one broadcast pass over the corpus
    (|probes| × N), so the eval stays linear at 100 TB while the LSH
    bucket join remains the operator under test.
    """
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector, vector_to_array

    # memo_df: array_to_vector embeds a per-call UID that defeats Spark's
    # plan-cache matching, so repeated invocations would re-vectorize.
    emb = memo_df(
        f"lsh_vectors:{sf_dir}",
        spark,
        lambda: _vec_double(load_table(spark, sf_dir, "embeddings")).select(
            "vec_id", array_to_vector("v").alias("features")
        ),
        # cut_lineage: this memo feeds BOTH sides of the ML self-join
        # plus the fit() — a plain persist re-nests the vectorize lineage
        # in every stage of the already plan-heavy approxSimilarityJoin.
        cut_lineage=True,
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=2.0,
        numHashTables=4,
        seed=42,
    )
    model = lsh.fit(emb)
    # The model hashes each vector ONCE into (table, bucket) keys; the
    # candidate join is then a plain integer equi-join on the hash index
    # — NOT model.approxSimilarityJoin, whose plan re-nests the ML
    # transform UDF on both self-join sides (measured 3.2 MiB serialized
    # task binaries at sf0.1) and hides the join from AQE. Same
    # OR-amplification semantics: a pair is a candidate iff it shares a
    # bucket in ANY of the 4 tables. The checkpoint makes the index a
    # plan leaf (N × 4 tiny rows).
    # memo_df (not a bare localCheckpoint): a per-invocation checkpoint
    # is reclaimed only by the async ContextCleaner, so repeated
    # invocations (bench warm-ups) would stack live copies of the index.
    hx = memo_df(
        f"lsh_hash_index:{sf_dir}",
        spark,
        lambda: model.transform(emb)
        .select("vec_id", F.posexplode("hashes").alias("t", "h"))
        .select(
            "vec_id",
            "t",
            vector_to_array("h").getItem(0).cast("long").alias("bucket"),
        ),
        cut_lineage=True,
    )
    # Spread + MATERIALIZED double vectors behind a memo leaf (r17):
    # un-memoized, CollapseProject inlines the _vec_double transform
    # into the per-pair distance expression (recomputing the 64-cast
    # HOF once per PAIR, not per vector), and the single-file scan makes
    # the ground-truth broadcast NL join one task. Spread+leaf A/B'd
    # 0.86 s → 0.17 s on the truth shape; the unrolled element_at
    # distance form A/B'd 5× WORSE (4.1 s) — array access dominates, so
    # the zip_with/aggregate HOF stays.
    #
    # r18 (VERDICT "what's wrong" #1): this leaf is CORPUS-PROPORTIONAL
    # (the full embeddings table with materialized double vectors), so
    # the checkpoint is SIZE-GATED on the source table's on-disk bytes:
    # past the budget it rides the spill-capable persist tier
    # (MEMORY_AND_DISK_DESER) — checkpoint blocks are executor-local,
    # NOT recomputable on executor loss, and pin memory without a spill
    # tier, which at 100 TB is an OOM/availability class risk. The
    # InMemoryRelation is the same optimizer barrier (CollapseProject
    # cannot inline across it), so the per-pair recompute stays fixed
    # either way.
    raw = memo_df(
        f"emb_vecd_spread:{sf_dir}",
        spark,
        lambda: _vec_double(_spread_embeddings(spark, sf_dir)).select(
            "vec_id", "v"
        ),
        cut_lineage=corpus_memo_cut_lineage(spark, sf_dir, "embeddings"),
    )
    # Probe-directed candidates: bucket-join the probes' hash entries
    # against the full index, then re-check the EXACT distance (rounded,
    # module convention) — the candidate set is LSH-approximate, every
    # surviving pair is exact. Threshold sits at ~the 1st percentile of
    # the pairwise-distance distribution (measured 1.19 at sf0.01): a
    # threshold near the median accepts almost every pair and
    # degenerates into the all-pairs join this operator exists to avoid.
    probe_hx = F.broadcast(
        hx.filter(F.col("vec_id") < _LSH_EVAL_PROBES).select(
            F.col("vec_id").alias("probe_id"), "t", "bucket"
        )
    )
    probes = F.broadcast(
        raw.filter(F.col("vec_id") < _LSH_EVAL_PROBES).select(
            F.col("vec_id").alias("probe_id"), F.col("v").alias("pv")
        )
    )
    found_p = (
        hx.join(probe_hx, ["t", "bucket"])
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select("probe_id", "vec_id")
        .distinct()
        .join(raw, "vec_id")
        .join(probes, "probe_id")
        .filter(F.round(F.expr(_EUCL.format(a="pv", b="v")), 6) <= 1.2)
        .select("probe_id", "vec_id")
    )
    # Exact ground truth: broadcast probes × corpus, rounded threshold
    # (module convention — see simsearch_range on why the ROUNDED value
    # is what both engines compare).
    true_p = (
        raw.join(probes, F.col("vec_id") != F.col("probe_id"))
        .withColumn(
            "d", F.round(F.expr(_EUCL.format(a="pv", b="v")), 6)
        )
        .filter(F.col("d") <= 1.2)
        .select("probe_id", "vec_id")
    )
    # ONE pass over both pair sets: the former three-branch shape
    # (count / semi-join count / anti-join count cross-joined together)
    # shared no subplans, so Spark recomputed true_p three times and
    # found_p twice per collect — measured 2.47 s warm at sf0.1. A full
    # outer join on the (unique-by-construction) pair keys classifies
    # every pair once, and a single aggregate yields all three counts:
    # 2.47 s → see OPTIMIZATION_r17.md. Semantics per branch unchanged:
    # n_hit ≡ the semi join (both sides present), n_extra ≡ the anti
    # join (found without truth).
    tagged = true_p.withColumn("t", F.lit(1)).join(
        found_p.withColumn("f", F.lit(1)),
        ["probe_id", "vec_id"],
        "full_outer",
    )
    counts = tagged.agg(
        F.count("t").alias("n_true_pairs"),
        F.count(F.when(F.col("t").isNotNull() & F.col("f").isNotNull(), 1))
        .alias("n_hit"),
        F.count(F.when(F.col("t").isNull() & F.col("f").isNotNull(), 1))
        .alias("n_extra"),
    )
    return counts.select(
        "n_true_pairs",
        F.coalesce(
            F.col("n_hit")
            >= _LSH_RECALL_MIN * F.col("n_true_pairs"),
            F.lit(True),  # zero true pairs → vacuously ok
        ).alias("recall_ok"),
        (F.col("n_extra") == 0).alias("precision_ok"),
    )


# Coarse-cell count: ADAPTIVE, K(n) = max(floor, ceil(sqrt(n))). A fixed
# K makes every within-cell pair consumer (k-NN graph, SemDeDup, outlier
# census, link prediction, cosine near-dup) quadratic — Σ|cell|² ≈ n²/K —
# which the round-11 verdict measured at 145 s for the k-NN graph on a
# 40k-vector 20× corpus (K=8, ~5k vectors/cell). K ≈ ⌈√n⌉ keeps expected
# cell size ≈ √n and Σ|cell|² ≈ n^1.5: at n = 1e10 (100 TB of vectors)
# that is 1e15 distance evals spread over 1e5 cells × salts instead of a
# 1e19 quadratic. The assignment pass itself is n·K ≈ n^1.5 broadcast
# nested-loop work — the SAME bound, so no stage dominates. The floor
# keeps tiny corpora (tests, sf0.001) on the historical K=8 cells.
_IVF_K_FLOOR = 8


def ivf_k(n: int) -> int:
    """Coarse centroid count for an n-vector corpus (see note above).

    Shared by the engine quantizer (:func:`_ivf_assign`), its DuckDB
    oracle twin (which computes the SAME greatest(floor, ceil(sqrt(n)))
    scalar from the data — the two can not drift), and the persisted-
    index example pipeline (examples/retrieval_pipeline.py)."""
    import math

    return max(_IVF_K_FLOOR, math.ceil(math.sqrt(n)))


# Salt chunks for the within-cell pair self-join (dedup_embedding_cosine):
# lifts parallelism from K (key-bound) to K × _CELL_SALTS and splits hot
# cells. Results are salt-invariant; only task layout changes.
_CELL_SALTS = 8
_IVF_NPROBE = 2  # cells searched per query

# Deterministic hash-spread centroid seed (round-12 verdict item #6):
# rank candidates by md5(vec_id) and take K. First-K-by-id was a
# recall-quality anti-pattern on any corpus whose id order correlates
# with content (ids assigned per source / per crawl shard would seed
# every centroid inside one content region); the md5 rank is a uniform
# spread over the corpus with the SAME determinism and
# oracle-checkability (both engines produce identical lowercase-hex
# md5 of the decimal id string; vec_id tie-break is unreachable but
# pinned). Measured on this corpus: nprobe-sweep recall at every probe
# point equal or better vs the id-order seed (see PROFILE.md r13).
_SQL_SEED_RANK = "md5(CAST(vec_id AS VARCHAR)), vec_id"


def _seed_rank_cols() -> list:
    """Spark twin of _SQL_SEED_RANK — one definition of the seed order."""
    return [F.md5(F.col("vec_id").cast("string")), F.col("vec_id")]


# Shared DuckDB CTEs for the deterministic IVF coarse quantizer:
# hash-spread-K vectors as centroids (K adaptive via the ksel scalar —
# the SQL twin of ivf_k()), nearest-centroid assignment with
# rounded-distance + cent_id tie-break (matches the Spark plan
# bit-for-bit).
_SQL_IVF_ASSIGN = f"""
    nzv AS (SELECT * FROM embeddings WHERE {_SQL_POS_NORM}),
    ksel AS (
        SELECT greatest({_IVF_K_FLOOR},
                        CAST(ceil(sqrt(COUNT(*))) AS BIGINT)) AS k
        FROM nzv),
    cents AS (
        SELECT vec_id AS cent_id, embedding AS cv FROM (
            SELECT *, ROW_NUMBER() OVER (ORDER BY {_SQL_SEED_RANK}) AS r
            FROM nzv)
        WHERE r <= (SELECT k FROM ksel)),
    assign AS (
        SELECT e.vec_id, e.embedding, c.cent_id,
               ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY round({_SQL_EUCL.format(a='e.embedding', b='c.cv')}, 6),
                            c.cent_id) AS rn
        FROM nzv e CROSS JOIN cents c)"""


def _rank_cells(emb: DataFrame, cents_src: DataFrame, nprobe: int) -> DataFrame:
    """Map-side top-``nprobe`` cell ranking: centroids collapse to ONE
    broadcast row holding a K-array of (cent_id, cv) structs, and each
    vector of ``emb`` (vec_id, v, n2, ...) ranks its nearest cells via
    per-row transform + array_sort over the K entries — zero exchange.
    The struct sort key (dist, cent_id) reproduces a ROW_NUMBER window's
    ORDER BY dist, cent_id tie-break bit-for-bit, so the DuckDB oracle
    CTEs keep their window formulation. Shared by the session quantizer
    (:func:`_ivf_assign`) and the persisted-index incremental screen
    (:func:`simsearch_incremental_ivf` / the foreachBatch IVF sink).

    The ranking is map-side n·K·dim compute, so its parallelism is
    bound by the input's partitioning — a small single-file corpus (one
    ~10 MB parquet = one split) would run the whole pass in ONE task
    (measured: 90 s vs 18 s on the 20× stress corpus, and 26 s → ~8 s
    for the incremental screen at 10×). Split only when the input has
    fewer partitions than cores; an already-wide 100 TB scan is left
    untouched (no gratuitous corpus shuffle)."""
    par = emb.sparkSession.sparkContext.defaultParallelism
    if emb.rdd.getNumPartitions() < par:
        emb = emb.repartition(par)
    cents = F.broadcast(
        cents_src.agg(
            F.sort_array(
                F.collect_list(F.struct("cent_id", "cv"))
            ).alias("cs")
        )
    )
    top = (
        "slice(array_sort(transform(cs, c -> "
        f"struct(round({_EUCL.format(a='v', b='c.cv')}, 6) AS dist, "
        f"c.cent_id AS cent_id))), 1, {{nprobe}})"
    ).format(nprobe=nprobe)
    return (
        emb.crossJoin(cents)
        .select(
            "vec_id",
            "v",
            "n2",
            F.posexplode(F.expr(top)).alias("pos", "sc"),
        )
        .select(
            "vec_id",
            "v",
            "n2",
            F.col("sc.cent_id").alias("cent_id"),
            F.col("sc.dist").alias("dist"),
            (F.col("pos") + 1).cast("int").alias("rn"),
        )
    )


def _ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus × centroid distance ranking — the IVF coarse quantizer.

    Returns (vec_id, v, n2, cent_id, dist, rn) for rn ≤ _IVF_NPROBE —
    rn=1 is the vector's home cell, rn=2 its next-nearest probe cell
    (every consumer filters rn == 1 or rn <= _IVF_NPROBE, so ranks past
    NPROBE are never materialized). Deterministic "training": the K(n)
    md5-rank-smallest vectors serve as centroids (hash-spread seed, see
    _SQL_SEED_RANK), K(n) = max(floor, ceil(sqrt(n))) via :func:`ivf_k`
    (a real deployment would k-means a sample on the driver — the
    assignment below is unchanged), which keeps the whole index
    DuckDB-checkable: the oracle CTE derives the identical K from the
    identical COUNT and the identical md5 rank.
    The corpus count is one bounded driver-side aggregate inside the
    memoized build (the same discipline as ``_guard_cell_sizes``), so it
    runs once per (session, sf_dir) however many operators consume the
    assignment. Memoized so the K-way broadcast nested-loop scan over
    the corpus runs once however many operators (cell search, near-dup
    blocking) consume it.
    """

    def build() -> DataFrame:
        emb = (
            _vec_double(load_table(spark, sf_dir, "embeddings"))
            .withColumn("n2", F.expr(_DOT.format(a="v", b="v")))
            .filter(F.col("n2") > 0)
        )
        k = ivf_k(emb.count())
        # Ranking itself is the shared map-side _rank_cells (see its
        # docstring — the previous crossJoin + row_number formulation
        # shuffled and memoized n·K wide rows; with adaptive K that is
        # n^1.5 rows through an exchange, measured ~80 s of the k-NN
        # graph's 90 s wall on the 20× stress corpus). Consumers only
        # ever read rn <= _IVF_NPROBE.
        return _rank_cells(
            emb,
            emb.orderBy(*_seed_rank_cols())
            .limit(k)
            .select(
                F.col("vec_id").alias("cent_id"), F.col("v").alias("cv")
            ),
            _IVF_NPROBE,
        )

    # cut_lineage: five operator families chain onto this memo; with a
    # plain persist each consumer's plan re-nests the K-way scan lineage
    # (measured 4.1 MiB serialized task binaries at sf0.1).
    return memo_df(f"ivf_assign:{sf_dir}", spark, build, cut_lineage=True)


@query(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH {_SQL_IVF_ASSIGN},
    cells AS (SELECT vec_id, embedding, cent_id AS cell FROM assign WHERE rn = 1),
    pairs AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               round({_SQL_COS.format(a='a.embedding', b='b.embedding')}, 6)
                   AS cosine
        FROM cells a
        JOIN cells b
          ON a.vec_id < b.vec_id AND a.cell = b.cell)
    SELECT vec_a, vec_b, cosine FROM pairs WHERE cosine >= 0.4
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: cosine ≥ 0.4 within the same IVF cell.

    Blocking on the deterministic IVF cell id (shared with simsearch_ivf
    via :func:`_ivf_assign`) keeps pair scoring strictly within coarse
    cells: the join is cell-equi, so at 100 TB the work is Σ|cell|²
    with K sized to the corpus — never the all-pairs (or giant
    label-block) product, and the whole index stays DuckDB-checkable.

    Each side's norm is computed once per ROW (not per pair — that
    triples the per-pair array aggregates, measured 3× slower). The
    quotient dot/(sqrt(na)·sqrt(nb)) is bit-identical to the per-pair
    form, so the DuckDB oracle is unaffected.

    The self-join is SALTED: a plain cell-equi join has only K distinct
    keys, so its parallelism is key-bound at K tasks no matter how many
    cores exist — a 50k-vector stress run executed the pair stage as 7
    tasks with a 44 s straggler (the hottest cell). Side A carries
    salt = hash(vec_id) % C, side B is replicated across all C salts, and
    the join key becomes (cell, salt): each pair still meets exactly once
    (via A's salt), parallelism rises to K×C, and the hot cell splits
    C ways — 47 s → 15 s at that scale, identical pairs. The explicit
    repartition also keeps AQE from re-coalescing the CPU-heavy stage by
    its (tiny) input bytes. C× replication of side B through the shuffle
    is the price; at 100 TB pick C ≈ cores/K.
    """
    cells = _ivf_assign(spark, sf_dir).filter(F.col("rn") == 1)
    n_part = spark.sparkContext.defaultParallelism * 2
    a = cells.select(
        F.col("vec_id").alias("vec_a"), F.col("cent_id").alias("cell"),
        F.col("v").alias("va"), F.col("n2").alias("na"),
        F.pmod(
            F.crc32(F.col("vec_id").cast("string")), F.lit(_CELL_SALTS)
        ).alias("salt"),
    ).repartition(n_part, "cell", "salt")
    b = (
        cells.select(
            F.col("vec_id").alias("vec_b"), F.col("cent_id").alias("cell"),
            F.col("v").alias("vb"), F.col("n2").alias("nb"),
        )
        # 0L..: salt must be BIGINT to match side A's pmod(crc32) — an
        # int salt makes the join key cast(salt as bigint), which defeats
        # the explicit co-partitioning and re-shuffles the replicated side
        .withColumn(
            "salt", F.explode(F.expr(f"sequence(0L, {_CELL_SALTS - 1}L)"))
        )
        .repartition(n_part, "cell", "salt")
    )
    dot = F.expr(_DOT.format(a="va", b="vb"))
    cosine = F.round(dot / (F.sqrt("na") * F.sqrt("nb")), 6)
    return (
        a.join(b, ["cell", "salt"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", cosine.alias("cosine"))
        .filter(F.col("cosine") >= 0.4)
    )


@query(
    "simsearch_ivf",
    oracle=f"""
    WITH {_SQL_IVF_ASSIGN},
    cells AS (SELECT vec_id, embedding, cent_id AS cell FROM assign WHERE rn = 1),
    probes AS (
        SELECT vec_id AS query_id, embedding AS qe, cent_id AS cell
        FROM assign WHERE vec_id < {_N_QUERIES} AND rn <= {_IVF_NPROBE}),
    scored AS (
        SELECT p.query_id, c.vec_id AS candidate_id,
               round({_SQL_COS.format(a='p.qe', b='c.embedding')}, 6) AS cosine
        FROM probes p JOIN cells c ON p.cell = c.cell
        WHERE c.vec_id <> p.query_id),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, candidate_id) AS rank
        FROM scored)
    SELECT query_id, candidate_id, cosine, CAST(rank AS INTEGER) AS rank
    FROM ranked WHERE rank <= {_TOPK}
    """,
)
def simsearch_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN: coarse-quantize the corpus into K cells,
    search only the query's nprobe nearest cells.

    Cell assignment comes from the shared deterministic quantizer
    (:func:`_ivf_assign` — memoized, DuckDB-checkable, unlike the
    random-hyperplane LSH variant).

    Scale shape: centroids are a K-row broadcast; cell assignment is one
    narrow pass over the corpus (broadcast nested-loop + per-row top-1);
    the search join is cell-equi — a shuffle on cell id touching only
    nprobe/K of the corpus per query. At 100 TB you'd persist `cells`
    partitioned by cell id so queries prune cells at the scan.

    Squared norm computed once per ROW (carried through the assignment) —
    see simsearch_topk; the cosine quotient is bit-identical to the
    per-pair form, so the DuckDB oracle is unaffected.
    """
    assign = _ivf_assign(spark, sf_dir)
    cells = assign.filter(F.col("rn") == 1).select(
        F.col("vec_id").alias("candidate_id"),
        F.col("v").alias("cv_cand"),
        F.col("n2").alias("nc"),
        F.col("cent_id").alias("cell"),
    )
    probes = assign.filter(
        (F.col("vec_id") < _N_QUERIES) & (F.col("rn") <= _IVF_NPROBE)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("n2").alias("nq"),
        F.col("cent_id").alias("cell"),
    )
    dot = F.expr(_DOT.format(a="qv", b="cv_cand"))
    cosine = F.round(dot / (F.sqrt("nq") * F.sqrt("nc")), 6)
    rank_w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "candidate_id")
    return (
        probes.join(cells, "cell")
        .filter(F.col("candidate_id") != F.col("query_id"))
        .select("query_id", "candidate_id", cosine.alias("cosine"))
        .withColumn("rank", F.row_number().over(rank_w))
        .filter(F.col("rank") <= _TOPK)
    )


# Σ|cell|² pre-flight ceiling for the within-cell pair relation. Work
# per cell is |c|²/2 pair evaluations; past ~30k members a single cell
# contributes ≥4.5e8 pairs — the silent quadratic the round-10 verdict
# flagged.
_MAX_IVF_CELL = 30_000


class CellImbalanceError(RuntimeError):
    """Raised when an IVF cell exceeds the pair-relation safety bound."""


def _guard_cell_sizes(cells: DataFrame) -> None:
    """Fail loudly before the quadratic ships: one K-bounded aggregate
    over the (already memoized) assignment, one single-row collect.
    ``embed_cluster_balance`` is the diagnostic a user runs by choice;
    this is the seatbelt that runs always."""
    bound = _MAX_IVF_CELL
    top = (
        cells.groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"))
        .limit(1)
        .collect()  # bounded: exactly one (cell, count) row
    )
    if top and top[0]["n"] > bound:
        raise CellImbalanceError(
            f"IVF cell {top[0]['cell']} holds {top[0]['n']} vectors "
            f"(> bound {bound}); the within-cell pair relation would do "
            f"~{top[0]['n'] ** 2 // 2:,} comparisons for this cell alone. "
            "Re-train with more centroids (ivf_k scales K with corpus "
            "size automatically — a trip here means extreme cell skew, "
            "e.g. a near-duplicate-saturated corpus), re-balance via "
            "embed_cluster_balance, or raise the bound (_MAX_IVF_CELL) if "
            "this cell size is intentional."
        )


def _cell_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All within-cell cosine pairs (vec_a < vec_b) off the shared IVF
    quantizer — the relation the k-NN graph and the SemDeDup prune both
    consume; memoized with a lineage cut so the salted self-join runs
    once per session. Same salting rationale as dedup_embedding_cosine:
    the cell-equi key alone is K-bounded, (cell, salt) lifts parallelism
    and splits hot cells with identical results. A cell-size pre-flight
    (``_guard_cell_sizes``) refuses to build the relation when any cell
    exceeds the Σ|cell|² safety bound."""

    def build() -> DataFrame:
        cells = _ivf_assign(spark, sf_dir).filter(F.col("rn") == 1)
        _guard_cell_sizes(cells.select(F.col("cent_id").alias("cell")))
        n_part = spark.sparkContext.defaultParallelism * 2
        a = cells.select(
            F.col("vec_id").alias("vec_a"),
            F.col("cent_id").alias("cell"),
            F.col("v").alias("va"),
            F.col("n2").alias("na"),
            F.pmod(
                F.crc32(F.col("vec_id").cast("string")), F.lit(_CELL_SALTS)
            ).alias("salt"),
        ).repartition(n_part, "cell", "salt")
        b = (
            cells.select(
                F.col("vec_id").alias("vec_b"),
                F.col("cent_id").alias("cell"),
                F.col("v").alias("vb"),
                F.col("n2").alias("nb"),
            )
            .withColumn(
                "salt",
                F.explode(F.expr(f"sequence(0L, {_CELL_SALTS - 1}L)")),
            )
            .repartition(n_part, "cell", "salt")
        )
        dot = F.expr(_DOT.format(a="va", b="vb"))
        cosine = F.round(dot / (F.sqrt("na") * F.sqrt("nb")), 6)
        return (
            a.join(b, ["cell", "salt"])
            .filter(F.col("vec_a") < F.col("vec_b"))
            .select("vec_a", "vec_b", cosine.alias("cosine"))
        )

    return memo_df(f"cell_pairs:{sf_dir}", spark, build, cut_lineage=True)


# DuckDB twin of _cell_pairs (salting is a task-layout detail — the pair
# relation is salt-invariant, so the oracle skips it).
_SQL_CELL_PAIRS = f"""
    cells AS (SELECT vec_id, embedding, cent_id AS cell
              FROM assign WHERE rn = 1),
    pairs AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               round({_SQL_COS.format(a='a.embedding', b='b.embedding')}, 6)
                   AS cosine
        FROM cells a JOIN cells b
          ON a.cell = b.cell AND a.vec_id < b.vec_id)"""


@query(
    "simsearch_knn_graph",
    oracle=f"""
    WITH {_SQL_IVF_ASSIGN},
    {_SQL_CELL_PAIRS},
    directed AS (
        SELECT vec_a AS vec_id, vec_b AS neighbor_id, cosine FROM pairs
        UNION ALL
        SELECT vec_b, vec_a, cosine FROM pairs),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY vec_id
            ORDER BY cosine DESC, neighbor_id) AS rank
        FROM directed)
    SELECT vec_id, neighbor_id, cosine, CAST(rank AS INTEGER) AS rank
    FROM ranked WHERE rank <= {_TOPK}
    """,
)
def simsearch_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate k-NN graph over the WHOLE corpus (every vector's
    top-k within-cell neighbors) — the all-vectors sibling of
    ``simsearch_ivf``'s probe-set search, and the substrate of
    embedding-space curation: SemDeDup pruning (below), density/outlier
    scoring, and graph-based clustering all start from this relation.

    Scale shape: one salted cell-equi self-join builds the within-cell
    pair relation ONCE (memoized behind a lineage cut — the SemDeDup
    prune reads the same memo), each undirected pair is scored once and
    mirrored into both endpoints' candidate lists, and the per-vector
    top-k is a rank window WindowGroupLimit caps map-side. Work is
    Σ|cell|² like every IVF consumer — cell balance is measured by
    ``embed_cluster_balance`` before this runs at scale. Graph quality
    (an in-cell k-NN list misses cross-cell neighbors) is the same
    recall question ``simsearch_recall_eval`` answers for the probe set.
    """
    pairs = _cell_pairs(spark, sf_dir)
    directed = pairs.select(
        F.col("vec_a").alias("vec_id"),
        F.col("vec_b").alias("neighbor_id"),
        "cosine",
    ).unionByName(
        pairs.select(
            F.col("vec_b").alias("vec_id"),
            F.col("vec_a").alias("neighbor_id"),
            "cosine",
        )
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.desc("cosine"), "neighbor_id"
    )
    return directed.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= _TOPK
    )


# SemDeDup-style prune threshold (Abbas et al., "SemDeDup: Data-efficient
# learning at web-scale through semantic deduplication", 2023 — public
# literature). Chosen against the corpus' measured within-cell cosine
# quantiles (p99 ≈ 0.32, p99.9 ≈ 0.41 at every SF) so the prune is
# non-vacuous yet selective at sf0.001/0.01/0.1 alike.
_SEMDEDUP_TAU = 0.35


@query(
    "embed_semdedup_prune",
    oracle=f"""
    WITH {_SQL_IVF_ASSIGN},
    {_SQL_CELL_PAIRS},
    dropped AS (
        SELECT DISTINCT vec_b AS vec_id FROM pairs
        WHERE cosine >= {_SEMDEDUP_TAU}),
    labeled AS (
        SELECT c.vec_id, e.label,
               CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END AS is_drop
        FROM cells c
        JOIN embeddings e ON e.vec_id = c.vec_id
        LEFT JOIN dropped d ON d.vec_id = c.vec_id)
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(SUM(is_drop) AS BIGINT) AS n_dropped,
           CAST(COUNT(*) - SUM(is_drop) AS BIGINT) AS n_kept,
           CAST((SUM(is_drop) * 1000000) // COUNT(*) AS BIGINT)
               AS drop_ppm
    FROM labeled GROUP BY label ORDER BY label
    """,
)
def embed_semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic deduplication (SemDeDup): within each IVF cell, drop
    every vector that has a semantically-near neighbor (cosine ≥ τ)
    with a SMALLER id — a deterministic keep-the-first rule, the
    embedding-space analogue of ``dedup_exact``'s keep-min-doc_id. The
    report is the per-label attrition a curation run reads before
    committing to τ (the token-weighted twin of ``corpus_dedup_impact``).

    Scale shape: consumes the SAME memoized within-cell pair relation as
    the k-NN graph (one salted self-join per session, Σ|cell|² work,
    never all-pairs), reduces it to a distinct drop set (≤ |corpus|
    rows), and finishes with one vocabulary-sized LEFT join + per-label
    aggregate. τ sits far above the within-cell cosine p99 so the drop
    set — and the anti-join state — stays a sliver of the corpus.
    """
    cells = _ivf_assign(spark, sf_dir).filter(F.col("rn") == 1)
    dropped = (
        _cell_pairs(spark, sf_dir)
        .filter(F.col("cosine") >= _SEMDEDUP_TAU)
        .select(F.col("vec_b").alias("vec_id"))
        .distinct()
        .withColumn("is_drop", F.lit(1))
    )
    labels = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    labeled = (
        cells.select("vec_id")
        .join(labels, "vec_id")
        .join(dropped, "vec_id", "left")
        .select("label", F.coalesce("is_drop", F.lit(0)).alias("is_drop"))
    )
    return (
        labeled.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vectors"),
            F.sum("is_drop").cast("long").alias("n_dropped"),
            (F.count(F.lit(1)) - F.sum("is_drop"))
            .cast("long")
            .alias("n_kept"),
            F.expr(
                "CAST((SUM(is_drop) * CAST(1000000 AS BIGINT)) div "
                "COUNT(1) AS BIGINT)"
            ).alias("drop_ppm"),
        )
        .orderBy("label")
    )


@query(
    "embed_centroids",
    oracle=f"""
    WITH ex AS (
        SELECT label,
               unnest(list_transform(range(1, len(embedding) + 1),
                      i -> {{'pos': i - 1,
                            'v': CAST(embedding[i] AS DOUBLE)}})) AS u
        FROM embeddings)
    SELECT label, CAST(u.pos AS INTEGER) AS pos,
           {sql_davg('u.v')} AS centroid_v,
           COUNT(*) AS n
    FROM ex GROUP BY label, u.pos
    """,
)
def embed_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids — the aggregation behind IVF coarse
    quantizer training and class-prototype similarity. Emitted in long
    format (label, dimension, value): elementwise array aggregation via
    posexplode + hash agg, and long rows hash identically across engines
    where a re-assembled array column would not.

    The float32 values widen to double before the fixed-point average
    (registry convention) — widening is exact on both engines, so the
    centroid is bitwise reproducible under any partitioning. Output is
    |labels| x dim rows regardless of corpus size; the explode itself is
    a narrow 64x row multiplication feeding map-side partial aggregation.
    """
    e = load_table(spark, sf_dir, "embeddings")
    ex = e.select(
        "label", F.posexplode("embedding").alias("pos", "v")
    ).withColumn("v", F.col("v").cast("double"))
    return ex.groupBy("label", "pos").agg(
        davg("v").alias("centroid_v"),
        F.count(F.lit(1)).alias("n"),
    )


# Deterministic random-projection LSH: _RP_PLANES signed hyperplanes whose
# weights derive from md5 (same cross-engine-identical family as the
# banded MinHash), so the whole index is value-checkable — unlike the
# Spark-ML BucketedRandomProjectionLSH variant whose plane RNG is
# engine-internal. w(j, d) ∈ [-1, 1] with 1/1000 resolution.
#
# Plane weights are generated to the ROW'S OWN dimensionality (size(v) /
# len(e)), never a hardcoded dim: a fixed-width plane zip_with'd against a
# different-sized vector pads with NULL in Spark (projection → NULL →
# bucket bit 0) while DuckDB's list_sum SKIPS NULLs (partial projection) —
# a silent cross-engine bucket divergence instead of a loud failure.
_RP_PLANES = 8
_RP_COS_MIN = 0.4


def _rp_weight_table(spark, emb):
    """One-row broadcast of the 8 plane-weight arrays, generated to the
    corpus's MAXIMUM dimensionality. Weight (j, d) is a pure function of
    the md5 stream, so materializing the table once and slicing each
    row's prefix is value-identical to regenerating weights per row —
    but costs max_dim × planes md5 evaluations TOTAL instead of
    rows × planes × dims (measured 42 s → 3 s at a 50k-vector stress
    scale; the nested per-row lambda also never JIT-compiled well).
    Mixed-dimensionality corpora still hash each vector against the
    matching prefix of the same weight stream (sliced per row below)."""
    w = (
        "transform(sequence(0, CAST(md - 1 AS INT)), d -> "
        "(cast(conv(substring(md5(concat('{j}:', d)), 1, 15), 16, 10)"
        " AS bigint) % 2001 - 1000) / 1000.0)"
    )
    return emb.agg(F.max(F.size("v")).alias("md")).select(
        *[
            F.expr(w.replace("{j}", str(j))).alias(f"w{j}")
            for j in range(_RP_PLANES)
        ]
    )


def _rp_bucket_expr() -> str:
    """Spark: 8-bit sign bucket of the projections onto the 8 planes,
    each vector dotted with ITS OWN prefix of the broadcast weight
    arrays (w0..w7 columns from :func:`_rp_weight_table`)."""
    bits = []
    for j in range(_RP_PLANES):
        proj = (
            f"aggregate(zip_with(v, slice(w{j}, 1, size(v)), "
            "(x, y) -> x * y), 0D, (acc, x) -> acc + x)"
        )
        bits.append(f"if(round({proj}, 6) > 0, {1 << j}L, 0L)")
    return " + ".join(bits)


def _sql_rp_bits() -> str:
    """DuckDB twin: same per-row weight stream, indexed 1..len(e)."""
    bits = []
    for j in range(_RP_PLANES):
        proj = (
            "list_sum(list_transform(range(1, len(e) + 1), i -> e[i] * "
            f"((CAST(('0x' || substr(md5('{j}:' || (i - 1)), 1, 15)) "
            "AS BIGINT) % 2001 - 1000) / 1000.0)))"
        )
        bits.append(
            f"CASE WHEN round({proj}, 6) > 0 THEN {1 << j} ELSE 0 END"
        )
    return " + ".join(bits)


_SQL_RP_BITS = _sql_rp_bits()


@query(
    "simsearch_lsh_det",
    oracle=f"""
    WITH b AS (
        SELECT vec_id, embedding,
               CAST({_SQL_RP_BITS} AS BIGINT) AS bucket
        FROM (SELECT vec_id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
                     embedding
              FROM embeddings WHERE {_SQL_POS_NORM})),
    pairs AS (
        SELECT a.vec_id AS vec_a, b2.vec_id AS vec_b,
               round({_SQL_COS.format(a='a.embedding', b='b2.embedding')}, 6)
                   AS cosine
        FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id)
    SELECT vec_a, vec_b, cosine FROM pairs WHERE cosine >= {_RP_COS_MIN}
    """,
)
def simsearch_lsh_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-projection LSH with a DETERMINISTIC md5-derived hyperplane
    family — the value-checkable twin of ``simsearch_lsh`` (Spark-ML,
    whose plane RNG is engine-internal and thus only rows-checkable).

    Sign-of-projection over 8 fixed hyperplanes buckets the space into
    ≤256 cells; the candidate join is bucket-equi (same-bucket vectors
    only, never all pairs) and survivors are verified with the exact
    rounded cosine. Projections are rounded to 6 decimals before the
    sign so a boundary value cannot flip buckets between engines.

    Scale shape: bucketing is one narrow pass (no shuffle); the shuffle
    is the bucket-key self-join. At 100 TB, raise _RP_PLANES so expected
    bucket occupancy stays bounded (16 planes → 65k cells, etc.) — the
    plan shape is unchanged.
    """
    emb = (
        _vec_double(load_table(spark, sf_dir, "embeddings"))
        .withColumn("n2", F.expr(_DOT.format(a="v", b="v")))
        .filter(F.col("n2") > 0)
    )
    bucketed = (
        emb.crossJoin(F.broadcast(_rp_weight_table(spark, emb)))
        .select("vec_id", "v", "n2", F.expr(_rp_bucket_expr()).alias("bucket"))
    )
    a = bucketed.select(
        F.col("vec_id").alias("vec_a"), F.col("bucket"),
        F.col("v").alias("va"), F.col("n2").alias("na"),
    )
    b = bucketed.select(
        F.col("vec_id").alias("vec_b"), F.col("bucket"),
        F.col("v").alias("vb"), F.col("n2").alias("nb"),
    )
    dot = F.expr(_DOT.format(a="va", b="vb"))
    cosine = F.round(dot / (F.sqrt("na") * F.sqrt("nb")), 6)
    return (
        a.join(b, "bucket")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", cosine.alias("cosine"))
        .filter(F.col("cosine") >= _RP_COS_MIN)
    )


@query(
    "embed_quantize_int8",
    oracle="""
    WITH scaled AS (
        SELECT vec_id,
               list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))
                   AS scale,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings),
    ex AS (
        SELECT vec_id, scale,
               unnest(list_transform(range(1, len(e) + 1),
                      i -> {'pos': i - 1, 'v': e[i]})) AS u
        FROM scaled)
    SELECT vec_id, CAST(u.pos AS INTEGER) AS pos,
           CAST(CASE WHEN scale = 0 THEN 0
                     ELSE FLOOR(u.v / scale * 127 + 0.5) END AS BIGINT)
               AS code,
           round(scale, 6) AS scale
    FROM ex
    """,
)
def embed_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization — the storage/serving
    compression step of an embedding pipeline (codes ∈ [-127, 127] plus
    one reconstruction scale per vector; dequantize ≈ code/127·scale).

    Emitted in long format (vec_id, dimension, code) like
    ``embed_centroids`` so integer codes hash identically across engines;
    rounding is explicit floor(x + 0.5) (round-half-up), which both
    engines evaluate bit-for-bit, rather than engine round() whose
    half-way rule differs. Pure narrow built-ins — scan-speed, the
    posexplode is the only row multiplication and feeds no shuffle.
    """
    emb = _vec_double(load_table(spark, sf_dir, "embeddings")).withColumn(
        "scale", F.expr("array_max(transform(v, x -> abs(x)))")
    )
    ex = emb.select(
        "vec_id", "scale", F.posexplode("v").alias("pos", "val")
    )
    code = F.when(F.col("scale") == 0, F.lit(0)).otherwise(
        F.floor(F.col("val") / F.col("scale") * 127 + F.lit(0.5))
    )
    return ex.select(
        "vec_id",
        "pos",
        code.cast("long").alias("code"),
        F.round("scale", 6).alias("scale"),
    )


# Product quantization: _PQ_M subspaces of _PQ_SUB dims each over a
# _PQ_DIM-dimensional embedding, _PQ_K centroids per subspace. Codebook
# "training" is deterministic like the IVF quantizer (the first _PQ_K
# vectors' subvectors serve as the per-subspace codebooks), keeping the
# whole index value-checkable cross-engine. The subvector/codebook/
# assignment construction is SHARED — one Spark helper chain and one
# oracle CTE chain — between ``embed_pq_codes`` and ``simsearch_ivfpq``
# so the two can never silently diverge on layout or tie-break.
_PQ_DIM = 64
_PQ_M = 8
_PQ_SUB = _PQ_DIM // _PQ_M
_PQ_K = 16

# Oracle CTE chain: pq_subs (per-vector subvectors), pq_cents (codebooks),
# pq_codes (nearest-centroid assignment). Composable after WITH.
_SQL_PQ_CODES = f"""pq_ev AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings WHERE len(embedding) = {_PQ_DIM}),
    pq_subs AS (
        SELECT vec_id, m, e[(m*{_PQ_SUB}+1):(m*{_PQ_SUB}+{_PQ_SUB})] AS s
        FROM pq_ev CROSS JOIN (SELECT unnest(range(0, {_PQ_M})) AS m)),
    pq_cents AS (SELECT vec_id AS cent_id, m, s AS c
                 FROM pq_subs WHERE vec_id < {_PQ_K}),
    pq_scored AS (
        SELECT v.vec_id, v.m, c.cent_id,
               round(list_sum(list_transform(range(1, {_PQ_SUB} + 1),
                   i -> (v.s[i] - c.c[i]) * (v.s[i] - c.c[i]))), 6) AS d
        FROM pq_subs v JOIN pq_cents c ON v.m = c.m),
    pq_codes AS (
        SELECT vec_id, m, (min(struct_pack(d := d, c := cent_id))).c AS code
        FROM pq_scored GROUP BY vec_id, m)"""

# Squared subvector distance (s vs c), rounded before any comparison.
_PQ_SQD = (
    "aggregate(zip_with(s, c, (x, y) -> (x - y) * (x - y)), "
    "0D, (acc, x) -> acc + x)"
)
# The oracle's query subvector (q.s) to centroid (c.c) distance, rounded
# as above, in micro-units.
_SQL_PQ_QD_U = sql_units(
    f"round(list_sum(list_transform(range(1, {_PQ_SUB} + 1),"
    " i -> (q.s[i] - c.c[i]) * (q.s[i] - c.c[i]))), 6)"
)


def _pq_subs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, m, s): each in-dim vector split into its M subvectors."""
    return memo_df(
        f"pq_subs:{sf_dir}",
        spark,
        lambda: _vec_double(load_table(spark, sf_dir, "embeddings"))
        .filter(F.size("embedding") == _PQ_DIM)
        .select(
            "vec_id",
            F.explode(
                F.expr(
                    f"transform(sequence(0, {_PQ_M - 1}), m -> "
                    f"struct(m AS m, slice(v, m * {_PQ_SUB} + 1, {_PQ_SUB})"
                    " AS s))"
                )
            ).alias("x"),
        )
        .select("vec_id", F.col("x.m").alias("m"), F.col("x.s").alias("s")),
        cut_lineage=True,  # shared by codes/centroids/ADC consumers
    )


def _pq_cents(subs: DataFrame):
    """Broadcast per-subspace codebooks (cent_id, m, c)."""
    return F.broadcast(
        subs.filter(F.col("vec_id") < _PQ_K).select(
            F.col("vec_id").alias("cent_id"), "m", F.col("s").alias("c")
        )
    )


def _pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, m, code): nearest-codebook assignment, memoized — the PQ
    index both the code-export query and the IVF-PQ search share."""

    def build() -> DataFrame:
        subs = _pq_subs(spark, sf_dir)
        return (
            subs.join(_pq_cents(subs), "m")
            .select(
                "vec_id", "m", "cent_id",
                F.round(F.expr(_PQ_SQD), 6).alias("d"),
            )
            .groupBy("vec_id", "m")
            .agg(F.min(F.struct("d", "cent_id")).alias("b"))
            .select("vec_id", "m", F.col("b.cent_id").alias("code"))
        )

    return memo_df(f"pq_codes:{sf_dir}", spark, build, cut_lineage=True)


@query(
    "embed_pq_codes",
    oracle=f"""
    WITH {_SQL_PQ_CODES}
    SELECT vec_id, CAST(m AS BIGINT) AS subspace, CAST(code AS BIGINT) AS code
    FROM pq_codes
    """,
)
def embed_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codes (FAISS-PQ shape): split each embedding
    into 8 subvectors of 8 dims, assign each to its nearest of 16
    per-subspace codebook centroids — 8 bytes replace 64 floats (32×
    compression), and ANN distance becomes a table lookup per subspace.
    Complements ``embed_quantize_int8`` (scalar compression) and
    ``simsearch_ivf`` (coarse cells): IVF-PQ is the standard
    billion-vector serving index.

    Deterministic codebooks (first _PQ_K vectors' subvectors, like the
    IVF quantizer) keep the assignment DuckDB-checkable; nearest-centroid
    selection is min over struct(dist, cent_id) — lexicographic struct
    comparison on both engines, with the squared distance rounded to 6
    decimals first so a float tie cannot break differently.

    Vectors whose dimensionality is not _PQ_DIM are EXCLUDED on both
    engines (a subvector split presumes one fixed layout; mixed-dim
    corpora need one codebook per dimensionality — by design, not a
    silent truncation).

    Scale shape: the codebook is a broadcast (_PQ_M x _PQ_K tiny rows);
    scoring is a broadcast join on the subspace id (narrow, no shuffle);
    the only shuffle is the (vec_id, m)-keyed min — map-side combined.
    At 100 TB, train real k-means codebooks on a driver sample and
    broadcast them; the assignment plan is unchanged.
    """
    return _pq_codes(spark, sf_dir).select(
        "vec_id",
        F.col("m").cast("long").alias("subspace"),
        F.col("code").cast("long").alias("code"),
    )


@query(
    "simsearch_ivfpq",
    oracle=f"""
    WITH {_SQL_IVF_ASSIGN},
    cells AS (SELECT vec_id, cent_id AS cell FROM assign WHERE rn = 1),
    probes AS (
        SELECT vec_id AS query_id, cent_id AS cell
        FROM assign WHERE vec_id < {_N_QUERIES} AND rn <= {_IVF_NPROBE}),
    {_SQL_PQ_CODES},
    qcent AS (
        SELECT q.vec_id AS query_id, q.m, c.cent_id,
               {_SQL_PQ_QD_U} AS qd_u
        FROM pq_subs q JOIN pq_cents c ON q.m = c.m
        WHERE q.vec_id < {_N_QUERIES}),
    cand AS (
        SELECT p.query_id, c.vec_id AS candidate_id
        FROM probes p JOIN cells c ON p.cell = c.cell
        WHERE c.vec_id <> p.query_id),
    adc AS (
        SELECT cd.query_id, cd.candidate_id, SUM(qc.qd_u) AS adc_u
        FROM cand cd
        JOIN pq_codes k ON k.vec_id = cd.candidate_id
        JOIN qcent qc ON qc.query_id = cd.query_id
                     AND qc.m = k.m AND qc.cent_id = k.code
        GROUP BY cd.query_id, cd.candidate_id),
    ranked AS (
        SELECT query_id, candidate_id, adc_u / 1000000.0 AS adc,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY adc_u, candidate_id) AS rank
        FROM adc)
    SELECT query_id, candidate_id, adc, CAST(rank AS INTEGER) AS rank
    FROM ranked WHERE rank <= {_TOPK}
    """,
)
def simsearch_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ search — the full billion-vector serving-index composition:
    coarse IVF cells bound the candidate set (shared quantizer with
    ``simsearch_ivf``), and ranking uses PQ ASYMMETRIC distance (ADC):
    the query's exact subvectors against each candidate's codebook
    centroid, so per-candidate cost is _PQ_M table lookups instead of a
    _PQ_DIM-dim exact distance. This is the FAISS IVFPQ shape —
    candidates never touch their full vectors.

    ADC terms are quantized to integer micro-units and summed exactly
    (the dsum trick): 8 rounded doubles summed in different orders can
    differ in the last ulp, and a ranking tie must not break differently
    across engines.

    Scale shape: the query→centroid distance table is
    |queries| x _PQ_M x _PQ_K rows — broadcast; candidates come from the
    cell-equi probe join; the ADC join is broadcast-keyed on
    (query, subspace, code); the only shuffles are the per-(query,
    candidate) sum and the tiny per-query top-k. At 100 TB the PQ codes
    table IS the index you persist (8 bytes/vector), partitioned by
    cell.
    """
    adc = _adc_scores(spark, sf_dir)
    w = Window.partitionBy("query_id").orderBy("adc_u", "candidate_id")
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOPK)
        .select(
            "query_id",
            "candidate_id",
            (F.col("adc_u") / 1_000_000.0).alias("adc"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def _adc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-probe candidates scored by PQ asymmetric distance, in exact
    integer micro-units — the shared retrieval phase under
    ``simsearch_ivfpq`` (which ranks it directly) and
    ``simsearch_rerank_twophase`` (which shortlists, then reranks the
    shortlist with exact cosines). Returns (query_id, candidate_id,
    adc_u)."""
    # candidate cells + probes from the shared deterministic IVF quantizer
    assign = _ivf_assign(spark, sf_dir)
    cells = assign.filter(F.col("rn") == 1).select(
        F.col("vec_id").alias("candidate_id"), F.col("cent_id").alias("cell")
    )
    probes = assign.filter(
        (F.col("vec_id") < _N_QUERIES) & (F.col("rn") <= _IVF_NPROBE)
    ).select(F.col("vec_id").alias("query_id"), F.col("cent_id").alias("cell"))

    # shared PQ construction (one definition with embed_pq_codes).
    # qcent and codes BOTH derive from _pq_subs, so attribute-style join
    # keys (qcent.m == codes.m) are a same-lineage comparison the
    # analyzer logs as a "trivially true equals predicate" and resolves
    # by position — correct today, but one analyzer change from a silent
    # cross-subspace match. Explicit subquery aliases make every key
    # attribute-unambiguous; test_plans.py pins the three-key ADC join.
    subs = _pq_subs(spark, sf_dir)
    codes = _pq_codes(spark, sf_dir).alias("c")
    qcent = F.broadcast(
        subs.filter(F.col("vec_id") < _N_QUERIES)
        .join(_pq_cents(subs), "m")
        .select(
            F.col("vec_id").alias("query_id"),
            "m",
            "cent_id",
            units(f"round({_PQ_SQD}, 6)").alias("qd_u"),
        )
        .alias("q")
    )
    cand = (
        probes.join(cells, "cell")
        .filter(F.col("candidate_id") != F.col("query_id"))
        .alias("d")
    )
    return (
        cand.join(codes, F.col("c.vec_id") == F.col("d.candidate_id"))
        .join(
            qcent,
            (F.col("q.query_id") == F.col("d.query_id"))
            & (F.col("q.m") == F.col("c.m"))
            & (F.col("q.cent_id") == F.col("c.code")),
        )
        .groupBy(F.col("d.query_id"), F.col("d.candidate_id"))
        .agg(F.sum(F.col("q.qd_u")).alias("adc_u"))
    )


# Range (radius) search threshold: random 64-dim gaussian cosines have
# σ ≈ 1/8, so 0.3 keeps the ~1% genuinely-aligned tail — non-vacuous at
# every SF without admitting noise pairs.
_RANGE_MIN_COS = 0.3


@query(
    "simsearch_range",
    oracle=f"""
    WITH nz AS (SELECT * FROM embeddings WHERE {_SQL_POS_NORM}),
    q AS (SELECT vec_id AS query_id, embedding AS qe
          FROM nz WHERE vec_id < {_N_QUERIES})
    SELECT q.query_id, c.vec_id AS candidate_id,
           round({_SQL_COS.format(a='q.qe', b='c.embedding')}, 6) AS cosine
    FROM q JOIN nz c ON c.vec_id <> q.query_id
    WHERE round({_SQL_COS.format(a='q.qe', b='c.embedding')}, 6)
          >= {_RANGE_MIN_COS}
    """,
)
def simsearch_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (radius) search: every candidate within a cosine threshold
    of each query — retrieval's "give me everything similar enough"
    contract (dedup sweeps, recall-first retrieval), where top-k's fixed
    k either truncates or pads.

    Unlike top-k there is NO per-query reduction state at all: score and
    filter, fully pipelined — the broadcast query side makes it one
    narrow pass over the corpus, embarrassingly parallel at any scale,
    with no shuffle anywhere (the plan is scan → broadcast join →
    filter). The same threshold filter composes with the IVF cell probe
    when the query side is too large to broadcast.
    """
    emb = (
        _vec_double(load_table(spark, sf_dir, "embeddings"))
        .withColumn("n2", F.expr(_DOT.format(a="v", b="v")))
        .filter(F.col("n2") > 0)
    )
    queries = F.broadcast(
        emb.filter(F.col("vec_id") < _N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("n2").alias("nq"),
        )
    )
    cands = emb.select(
        F.col("vec_id").alias("candidate_id"), "v", F.col("n2").alias("nc")
    )
    cosine = F.expr(_DOT.format(a="qv", b="v")) / (
        F.sqrt("nq") * F.sqrt("nc")
    )
    # Threshold the ROUNDED cosine (module convention): Spark's
    # sequential aggregate fold and DuckDB's list_dot_product can differ
    # in the last ulps, so a raw-value filter could flip a row straddling
    # the threshold between engines.
    return (
        cands.join(queries, F.col("candidate_id") != F.col("query_id"))
        .withColumn("cosine", F.round(cosine, 6))
        .filter(F.col("cosine") >= _RANGE_MIN_COS)
        .select("query_id", "candidate_id", "cosine")
    )


@query(
    "embed_dim_stats",
    oracle=f"""
    WITH ex AS (
        SELECT unnest(range(len(embedding))) AS pos,
               unnest(CAST(embedding AS DOUBLE[])) AS x
        FROM embeddings)
    SELECT CAST(pos AS INTEGER) AS pos,
           CAST(COUNT(*) AS BIGINT) AS n,
           round({sql_davg('x')}, 6) AS mean,
           round({sql_dsum('x * x')} / COUNT(*)
                 - ({sql_davg('x')}) * ({sql_davg('x')}), 6) AS variance
    FROM ex GROUP BY pos
    """,
)
def embed_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension corpus statistics (count, mean, variance) — the
    moments a whitening / standardization / PCA-prep stage feeds on
    before indexing or quantizing embeddings.

    Scale shape: posexplode to (dim, value) then ONE map-side-combined
    aggregation over exactly |dims| groups — the narrowest possible
    shuffle (dims rows per partial), no window, no join. Variance uses
    the E[x²] − E[x]² identity over the fixed-point-exact sums
    (dsum/davg), so the reduction stays a plain aggregate instead of a
    two-pass centered sum, and both engines compute bit-identical
    doubles before the final round.
    """
    ex = (
        _vec_double(load_table(spark, sf_dir, "embeddings"))
        .select(F.posexplode("v").alias("pos", "x"))
    )
    mean = davg("x")
    return (
        ex.groupBy("pos")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(mean, 6).alias("mean"),
            F.round(
                dsum("x * x") / F.count(F.lit(1))
                - mean * mean,
                6,
            ).alias("variance"),
        )
        .select(F.col("pos").cast("int").alias("pos"), "n", "mean", "variance")
    )


# Whitening epsilon: keeps constant dimensions (variance 0) finite, the
# standard standardization guard.
_WHITEN_EPS = 1e-6


@query(
    "embed_whiten",
    oracle=f"""
    WITH ex AS (
        SELECT vec_id,
               unnest(range(len(embedding))) AS pos,
               unnest(CAST(embedding AS DOUBLE[])) AS x
        FROM embeddings),
    stats AS (
        SELECT pos,
               {sql_davg('x')} AS mean,
               {sql_dsum('x * x')} / COUNT(*)
                   - ({sql_davg('x')}) * ({sql_davg('x')}) AS variance
        FROM ex GROUP BY pos)
    SELECT e.vec_id, CAST(e.pos AS INTEGER) AS pos,
           round((e.x - s.mean) / sqrt(s.variance + {_WHITEN_EPS}), 6)
               AS white_x
    FROM ex e JOIN stats s USING (pos)
    """,
)
def embed_whiten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standardize every embedding dimension to zero mean / unit variance
    (diagonal whitening) using corpus moments — the normalization pass
    that precedes quantization or LSH so no dimension dominates the
    distance. Output is long-format (vec_id, pos, white_x).

    Scale shape: the moments are a |dims|-row aggregate (shared
    derivation with ``embed_dim_stats``) broadcast back onto the
    exploded corpus — the apply side is a broadcast equi join on pos
    plus narrow arithmetic, never a second corpus shuffle. Every
    operation after the exact fixed-point sums (subtract, divide, IEEE
    sqrt) is deterministic per-element arithmetic, so the oracle matches
    bit-for-bit before the output round.
    """
    ex = (
        _vec_double(load_table(spark, sf_dir, "embeddings"))
        .select("vec_id", F.posexplode("v").alias("pos", "x"))
    )
    mean = davg("x")
    stats = ex.groupBy("pos").agg(
        mean.alias("mean"),
        (
            dsum("x * x") / F.count(F.lit(1)) - mean * mean
        ).alias("variance"),
    )
    return ex.join(F.broadcast(stats), "pos").select(
        "vec_id",
        F.col("pos").cast("int").alias("pos"),
        F.round(
            (F.col("x") - F.col("mean"))
            / F.sqrt(F.col("variance") + F.lit(_WHITEN_EPS)),
            6,
        ).alias("white_x"),
    )


@query(
    "simsearch_recall_eval",
    oracle=f"""
    WITH nz AS (SELECT * FROM embeddings WHERE {_SQL_POS_NORM}),
    gtq AS (SELECT vec_id AS query_id, embedding AS qe
            FROM nz WHERE vec_id < {_N_QUERIES}),
    gt_scored AS (
        SELECT gtq.query_id, c.vec_id AS candidate_id,
               round({_SQL_COS.format(a='gtq.qe', b='c.embedding')}, 6)
                   AS cosine
        FROM gtq JOIN nz c ON c.vec_id <> gtq.query_id),
    gt AS (
        SELECT query_id, candidate_id FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id
                ORDER BY cosine DESC, candidate_id) AS rank
            FROM gt_scored) WHERE rank <= {_TOPK}),
    {_SQL_IVF_ASSIGN},
    cells AS (SELECT vec_id, embedding, cent_id AS cell
              FROM assign WHERE rn = 1),
    probes AS (
        SELECT vec_id AS query_id, embedding AS qe, cent_id AS cell
        FROM assign WHERE vec_id < {_N_QUERIES} AND rn <= {_IVF_NPROBE}),
    ann_scored AS (
        SELECT p.query_id, c.vec_id AS candidate_id,
               round({_SQL_COS.format(a='p.qe', b='c.embedding')}, 6)
                   AS cosine
        FROM probes p JOIN cells c ON p.cell = c.cell
        WHERE c.vec_id <> p.query_id),
    ann AS (
        SELECT query_id, candidate_id FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id
                ORDER BY cosine DESC, candidate_id) AS rank
            FROM ann_scored) WHERE rank <= {_TOPK})
    SELECT gt.query_id,
           COUNT(*) AS k,
           CAST(SUM(CASE WHEN ann.candidate_id IS NOT NULL THEN 1 ELSE 0
                    END) AS BIGINT) AS n_hits,
           CAST(SUM(CASE WHEN ann.candidate_id IS NOT NULL THEN 1 ELSE 0
                    END) * 1000000 // COUNT(*) AS BIGINT) AS recall_ppm
    FROM gt LEFT JOIN ann USING (query_id, candidate_id)
    GROUP BY gt.query_id ORDER BY gt.query_id
    """,
)
def simsearch_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the IVF index against exact brute force, per query —
    the measurement loop every ANN deployment needs before trusting an
    approximate index ("measure, don't guess": nprobe/K tuning is this
    number against the cell-probe cost).

    Composes the two registered paths as plain functions: the exact
    ground truth (:func:`simsearch_topk`, query side broadcast) and the
    IVF candidates (:func:`simsearch_ivf`, sharing the memoized
    :func:`_ivf_assign` quantizer — the corpus is NOT re-assigned for the
    eval). The comparison itself is a left join of ground truth onto ANN
    results on (query, candidate) — |queries| × k rows, negligible next
    to either search. Recall is integer ppm: n_hits * 1e6 // k, exact on
    both engines.
    """
    gt = _exact_topk_gt(spark, sf_dir).select("query_id", "candidate_id")
    ann = (
        simsearch_ivf(spark, sf_dir)
        .select("query_id", "candidate_id")
        .withColumn("hit", F.lit(1))
    )
    return (
        gt.join(ann, ["query_id", "candidate_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_hits"),
        )
        .select(
            "query_id",
            "k",
            "n_hits",
            F.expr("n_hits * CAST(1000000 AS BIGINT) div k")
            .cast("long")
            .alias("recall_ppm"),
        )
        .orderBy("query_id")
    )


@query(
    "embed_cluster_balance",
    oracle=f"""
    WITH {_SQL_IVF_ASSIGN},
    cells AS (SELECT vec_id, cent_id AS cell FROM assign WHERE rn = 1),
    tot AS (SELECT COUNT(*) AS n FROM cells)
    SELECT cell,
           COUNT(*) AS n_vectors,
           CAST(COUNT(*) * 1000000 // MAX(tot.n) AS BIGINT) AS share_ppm
    FROM cells, tot
    GROUP BY cell ORDER BY cell
    """,
)
def embed_cluster_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index health report: per-cell occupancy and corpus share —
    the number an ANN deployment watches before recall ever degrades.
    A cell holding 30% of the corpus means (a) cell-probe searches pay
    30% of brute force whenever a query lands there and (b) the pair
    stage of dedup_embedding_cosine is that cell squared; the fix (more
    centroids / re-trained quantizer / splitting the hot cell) is an
    index rebuild, so this report is what triggers it.

    Reuses the memoized :func:`_ivf_assign` quantizer (no extra corpus
    pass when it is already warm); occupancy is one groupBy on the cell
    id, the total rides a one-row broadcast back for the exact integer
    share. K rows out — driver-safe at any corpus size.
    """
    cells = (
        _ivf_assign(spark, sf_dir)
        .filter(F.col("rn") == 1)
        .select(F.col("cent_id").alias("cell"))
    )
    tot = cells.agg(F.count(F.lit(1)).alias("n"))
    return (
        cells.groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
        .crossJoin(F.broadcast(tot))
        .select(
            "cell",
            "n_vectors",
            F.expr("n_vectors * CAST(1000000 AS BIGINT) div n")
            .cast("long")
            .alias("share_ppm"),
        )
        .orderBy("cell")
    )


# Hard-negative mining band on the ROUNDED cosine: similar enough to be
# informative contrastive negatives, below the near-dup zone. Both edges
# compare the rounded value (module convention) so the band cannot admit
# different rows per engine.
_HN_LO, _HN_HI = 0.25, 0.45
_HN_K = 5


@query(
    "simsearch_hard_negatives",
    oracle=f"""
    WITH nz AS (SELECT * FROM embeddings WHERE {_SQL_POS_NORM}),
    q AS (SELECT vec_id AS query_id, embedding AS qe
          FROM nz WHERE vec_id < {_N_QUERIES}),
    scored AS (
        SELECT q.query_id, c.vec_id AS candidate_id,
               round({_SQL_COS.format(a='q.qe', b='c.embedding')}, 6) AS cosine
        FROM q JOIN nz c ON c.vec_id <> q.query_id),
    banded AS (
        SELECT * FROM scored
        WHERE cosine >= {_HN_LO} AND cosine < {_HN_HI}),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, candidate_id) AS rank
        FROM banded)
    SELECT query_id, candidate_id, cosine, CAST(rank AS INTEGER) AS rank
    FROM ranked WHERE rank <= {_HN_K}
    """,
)
def simsearch_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: per query, the
    top-k candidates inside a mid-similarity band [0.25, 0.45) (_HN_LO/_HN_HI)
    — similar enough to be informative negatives, below the near-dup
    zone where a "negative" is probably a missed positive. The standard
    pair-mining step for embedding-model fine-tuning (in-batch negatives
    are mostly easy; banded mining is what moves retrieval metrics).

    Same two-phase tree reduction as ``simsearch_topk`` (score → filter
    → per-(query, candidate-chunk) local top-k → tiny merge): the band
    filter runs BEFORE any reduction state exists, fully pipelined, so
    at 100 TB this is one broadcast-join pass over the corpus plus a
    bounded-cell sort — never a window over the full scored stream.
    """
    return _twophase_topk(spark, sf_dir, _HN_K, band=(_HN_LO, _HN_HI))


# Phase-1 shortlist depth for retrieve-then-rerank: 4x the final k, the
# usual serving ratio (shortlist misses, not rerank ties, dominate
# recall loss — simsearch_recall_eval measures that directly).
_RERANK_SHORTLIST = 20


@query(
    "simsearch_rerank_twophase",
    oracle=f"""
    WITH {_SQL_IVF_ASSIGN},
    cells AS (SELECT vec_id, cent_id AS cell FROM assign WHERE rn = 1),
    probes AS (
        SELECT vec_id AS query_id, cent_id AS cell
        FROM assign WHERE vec_id < {_N_QUERIES} AND rn <= {_IVF_NPROBE}),
    {_SQL_PQ_CODES},
    qcent AS (
        SELECT q.vec_id AS query_id, q.m, c.cent_id,
               {_SQL_PQ_QD_U} AS qd_u
        FROM pq_subs q JOIN pq_cents c ON q.m = c.m
        WHERE q.vec_id < {_N_QUERIES}),
    cand AS (
        SELECT p.query_id, c.vec_id AS candidate_id
        FROM probes p JOIN cells c ON p.cell = c.cell
        WHERE c.vec_id <> p.query_id),
    adc AS (
        SELECT cd.query_id, cd.candidate_id, SUM(qc.qd_u) AS adc_u
        FROM cand cd
        JOIN pq_codes k ON k.vec_id = cd.candidate_id
        JOIN qcent qc ON qc.query_id = cd.query_id
                     AND qc.m = k.m AND qc.cent_id = k.code
        GROUP BY cd.query_id, cd.candidate_id),
    short AS (
        SELECT query_id, candidate_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY adc_u, candidate_id)
                   AS shortlist_rank
        FROM adc
        QUALIFY shortlist_rank <= {_RERANK_SHORTLIST}),
    nz AS (SELECT * FROM embeddings WHERE {_SQL_POS_NORM}),
    er AS (
        SELECT s.query_id, s.candidate_id,
               CAST(s.shortlist_rank AS INTEGER) AS shortlist_rank,
               round({_SQL_COS.format(a='q.embedding', b='c.embedding')},
                     6) AS cosine
        FROM short s
        JOIN nz q ON q.vec_id = s.query_id
        JOIN nz c ON c.vec_id = s.candidate_id),
    rr AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, candidate_id)
               AS rank
        FROM er)
    SELECT query_id, candidate_id, shortlist_rank, cosine,
           CAST(rank AS INTEGER) AS rank
    FROM rr WHERE rank <= {_TOPK}
    """,
)
def simsearch_rerank_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieve-then-rerank — the production ANN serving composition:
    phase 1 shortlists _RERANK_SHORTLIST (20) candidates per query by
    cheap PQ asymmetric distance over the IVF probe (compressed codes
    only, shared with simsearch_ivfpq via _adc_scores), phase 2 fetches
    ONLY the shortlist's full vectors and reranks by exact cosine. ADC
    compression error can reorder true neighbors; the exact rerank
    repairs ordering within the shortlist at a cost proportional to
    |queries|·shortlist, not the corpus.

    Scale: the rerank never touches full vectors outside the shortlist —
    the shortlist (tiny: queries × shortlist-depth keys) broadcasts
    into the corpus scan, so phase 2 adds no corpus shuffle; both
    row_number windows run on query-keyed relations bounded by the probe
    (phase 1) and the shortlist (phase 2). This is the FAISS
    index-then-refine pattern (refine = IndexRefineFlat) expressed
    relationally.
    """
    ws = Window.partitionBy("query_id").orderBy("adc_u", "candidate_id")

    def build_short() -> DataFrame:
        return (
            _adc_scores(spark, sf_dir)
            .withColumn("shortlist_rank", F.row_number().over(ws))
            .filter(F.col("shortlist_rank") <= _RERANK_SHORTLIST)
            .select(
                "query_id",
                "candidate_id",
                F.col("shortlist_rank").cast("int").alias("shortlist_rank"),
            )
        )

    # cut_lineage: the shortlist is |queries|×shortlist rows but its plan
    # nests the whole IVF+PQ ADC tree — re-nesting that into the rerank
    # join was a measured 4.2 MiB task binary; the cut leaves a tiny leaf.
    short = memo_df(f"rerank_short:{sf_dir}", spark, build_short,
                    cut_lineage=True)
    emb = (
        _vec_double(load_table(spark, sf_dir, "embeddings"))
        .withColumn("n2", F.expr(_DOT.format(a="v", b="v")))
        .filter(F.col("n2") > 0)
    )
    qv = emb.select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("n2").alias("nq"),
    )
    # shortlist + query vectors is |queries| x shortlist rows — broadcast
    # it into the corpus scan so phase 2 adds no corpus shuffle.
    probe = F.broadcast(short.join(qv, "query_id"))
    cosine = F.round(
        F.expr(_DOT.format(a="qv", b="v"))
        / (F.sqrt("nq") * F.sqrt("n2")),
        6,
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("candidate_id")
    )
    return (
        emb.select(F.col("vec_id").alias("candidate_id"), "v", "n2")
        .join(probe, "candidate_id")
        .select(
            "query_id",
            "candidate_id",
            "shortlist_rank",
            cosine.alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(wr).cast("int"))
        .filter(F.col("rank") <= _TOPK)
        .select("query_id", "candidate_id", "shortlist_rank", "cosine", "rank")
    )


# Matryoshka truncation width: search with only the first half of every
# embedding (Kusupati et al., "Matryoshka Representation Learning",
# 2022 — public literature). The eval answers "how much recall does
# serving at half the dimensions cost?" before an index commits to it.
_MRL_DIMS = 32


@query(
    "embed_matryoshka_recall",
    oracle=f"""
    WITH fz AS (SELECT * FROM embeddings WHERE {_SQL_POS_NORM}),
    q AS (SELECT vec_id AS query_id, embedding AS qe
          FROM fz WHERE vec_id < {_N_QUERIES}),
    full_scored AS (
        SELECT q.query_id, c.vec_id AS candidate_id,
               round({_SQL_COS.format(a='q.qe', b='c.embedding')}, 6)
                   AS cosine
        FROM q JOIN fz c ON c.vec_id <> q.query_id),
    full_top AS (
        SELECT query_id, candidate_id FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id
                ORDER BY cosine DESC, candidate_id) AS rank
            FROM full_scored)
        WHERE rank <= {_TOPK}),
    tz AS (SELECT vec_id, embedding[1:{_MRL_DIMS}] AS te FROM embeddings
           WHERE list_dot_product(CAST(embedding[1:{_MRL_DIMS}] AS DOUBLE[]),
                 CAST(embedding[1:{_MRL_DIMS}] AS DOUBLE[])) > 0),
    tq AS (SELECT vec_id AS query_id, te AS qe
           FROM tz WHERE vec_id < {_N_QUERIES}),
    trunc_scored AS (
        SELECT tq.query_id, c.vec_id AS candidate_id,
               round({_SQL_COS.format(a='tq.qe', b='c.te')}, 6) AS cosine
        FROM tq JOIN tz c ON c.vec_id <> tq.query_id),
    trunc_top AS (
        SELECT query_id, candidate_id, 1 AS hit FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id
                ORDER BY cosine DESC, candidate_id) AS rank
            FROM trunc_scored)
        WHERE rank <= {_TOPK})
    SELECT f.query_id,
           CAST(COUNT(*) AS BIGINT) AS k,
           CAST(SUM(coalesce(t.hit, 0)) AS BIGINT) AS n_hits,
           CAST(SUM(coalesce(t.hit, 0)) * 1000000 // COUNT(*) AS BIGINT)
               AS recall_ppm
    FROM full_top f
    LEFT JOIN trunc_top t
      ON t.query_id = f.query_id AND t.candidate_id = f.candidate_id
    GROUP BY f.query_id ORDER BY f.query_id
    """,
)
def embed_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation eval: recall@k of HALF-dimension cosine
    search against the full-dimension ground truth, per query — the
    measurement that prices a 2× memory/bandwidth cut (serve the first
    ``_MRL_DIMS`` dims, re-rank later) BEFORE the index commits to it,
    the recall_eval discipline applied to dimensional truncation instead
    of cell probing.

    Composes two runs of the SAME two-phase tree top-k (one truncated
    via the shared ``dims`` parameter — no second implementation to
    drift) and joins the k-sized lists per query: |queries| × k rows of
    comparison work after the searches. The truncated pass costs ~half
    the full pass's dot-product FLOPs on the same |q| × |corpus| stream.
    """
    full = _exact_topk_gt(spark, sf_dir).select("query_id", "candidate_id")
    trunc = (
        _twophase_topk(spark, sf_dir, _TOPK, dims=_MRL_DIMS)
        .select("query_id", "candidate_id")
        .withColumn("hit", F.lit(1))
    )
    return (
        full.join(trunc, ["query_id", "candidate_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("k"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0)))
            .cast("long")
            .alias("n_hits"),
        )
        .select(
            "query_id",
            "k",
            "n_hits",
            F.expr("n_hits * CAST(1000000 AS BIGINT) div k")
            .cast("long")
            .alias("recall_ppm"),
        )
        .orderBy("query_id")
    )


@query(
    "embed_outlier_scores",
    oracle=f"""
    WITH knn AS ({{KNN_ORACLE}}),
    per_vec AS (
        SELECT vec_id,
               COUNT(*) AS k,
               SUM({sql_units('cosine')}) AS s
        FROM knn GROUP BY vec_id),
    scored AS (
        SELECT vec_id, k,
               CAST((s + k * 1000000) // k - 1000000 AS BIGINT)
                   AS mean_neighbor_cos_ppm
        FROM per_vec)
    SELECT CAST(CASE WHEN mean_neighbor_cos_ppm < 0 THEN -1
                     ELSE mean_neighbor_cos_ppm // 100000 END AS BIGINT)
               AS cos_decile,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(MIN(mean_neighbor_cos_ppm) AS BIGINT) AS min_ppm,
           CAST(MAX(mean_neighbor_cos_ppm) AS BIGINT) AS max_ppm
    FROM scored GROUP BY 1 ORDER BY 1
    """,
)
def embed_outlier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space outlier census: each vector's MEAN cosine to its
    k nearest in-cell neighbors, bucketed into deciles — the isolation
    signal behind outlier pruning (SemDeDup's counterpart question:
    not "who has a too-close neighbor" but "who has NO close
    neighbors") and the hubness/density audit an ANN deployment reads
    next to ``embed_cluster_balance``. Low-decile mass = candidate
    noise/mislabeled vectors; a sudden shift between drops = embedding
    model drift.

    Exactness: each rounded cosine quantizes to integer micro-units
    BEFORE summing (a float sum of even 5 doubles is order-dependent in
    the last ulp — enough to flip an integer floor), so the per-vector
    mean and the decile are exact on both engines.

    Scale shape: rides the SAME memoized within-cell pair relation as
    the k-NN graph and SemDeDup (marginal cost = one |V|·k-row
    aggregate + a 12-row census); its oracle embeds the k-NN oracle
    verbatim.
    """
    knn = simsearch_knn_graph(spark, sf_dir)
    per_vec = knn.groupBy("vec_id").agg(
        F.count(F.lit(1)).alias("k"),
        F.sum(units("cosine")).alias("s"),
    )
    # Shift by k·1e6 before dividing so the dividend is non-negative
    # (cosine ≥ −1 ⇒ s + k·1e6 ≥ 0), where floor == truncate and every
    # integer-division convention agrees. Both Spark's `div` and
    # DuckDB 1.0's integer `//` truncate toward zero (SELECT -5//2 =
    # -2 on both), so parity holds even unshifted; the shift is
    # belt-and-braces against an engine/version that floors instead.
    scored = per_vec.select(
        "vec_id",
        "k",
        F.expr(
            "CAST((s + k * CAST(1000000 AS BIGINT)) div k"
            " - 1000000 AS BIGINT)"
        ).alias("mean_neighbor_cos_ppm"),
    )
    decile = (
        F.when(F.col("mean_neighbor_cos_ppm") < 0, F.lit(-1))
        .otherwise(F.expr("mean_neighbor_cos_ppm div 100000"))
        .cast("long")
    )
    return (
        scored.select(decile.alias("cos_decile"), "mean_neighbor_cos_ppm")
        .groupBy("cos_decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vectors"),
            F.min("mean_neighbor_cos_ppm").cast("long").alias("min_ppm"),
            F.max("mean_neighbor_cos_ppm").cast("long").alias("max_ppm"),
        )
        .orderBy("cos_decile")
    )


# Embed the k-NN oracle verbatim (same composition pattern as the RA
# link-prediction query in graphs.py).
from jorvik_spark.queries.registry import ORACLES as _ORACLES_S  # noqa: E402

_ORACLES_S["embed_outlier_scores"] = _ORACLES_S[
    "embed_outlier_scores"
].replace("{KNN_ORACLE}", _ORACLES_S["simsearch_knn_graph"])


# --- round 12: persisted-index incremental ANN + index census ---------

# History/incoming split for the incremental IVF screen: same
# deterministic hash-mod discipline as dedup_incremental_minhash
# (registry.hash_bucket — the scheme can never diverge between the
# dedup and ANN sides of the pipeline).
_IIVF_SALT = "iivf"
_IIVF_HIST_LT = 800  # buckets 0-799 = already-ingested history
_IIVF_MATCH = 0.85  # near-dup screen threshold (SemDeDup territory)

# Shared CTEs: the history-trained quantizer. Centroids are the K
# md5-rank-smallest history vec_ids (hash-spread seed, _SQL_SEED_RANK),
# K = ivf_k(|history|).
_SQL_IIVF_CTES = f"""
    nzv AS (SELECT * FROM embeddings WHERE {_SQL_POS_NORM}),
    split AS (SELECT vec_id, {sql_hash_bucket('vec_id', _IIVF_SALT)} AS bkt
              FROM nzv),
    hist AS (SELECT n.* FROM nzv n JOIN split s USING (vec_id)
             WHERE s.bkt < {_IIVF_HIST_LT}),
    ksel AS (SELECT greatest({_IVF_K_FLOOR},
                             CAST(ceil(sqrt(COUNT(*))) AS BIGINT)) AS k
             FROM hist),
    cents AS (
        SELECT vec_id AS cent_id, embedding AS cv FROM (
            SELECT *, ROW_NUMBER() OVER (ORDER BY {_SQL_SEED_RANK}) AS r
            FROM hist)
        WHERE r <= (SELECT k FROM ksel)),
    hassign AS (
        SELECT h.vec_id, h.embedding, c.cent_id,
               ROW_NUMBER() OVER (
                   PARTITION BY h.vec_id
                   ORDER BY round({_SQL_EUCL.format(a='h.embedding', b='c.cv')}, 6),
                            c.cent_id) AS rn
        FROM hist h CROSS JOIN cents c),
    ivf_index AS (SELECT vec_id, embedding, cent_id AS cell
                  FROM hassign WHERE rn = 1),
    incoming AS (SELECT n.* FROM nzv n JOIN split s USING (vec_id)
                 WHERE s.bkt >= {_IIVF_HIST_LT}),
    iassign AS (
        SELECT i.vec_id, i.embedding, c.cent_id,
               ROW_NUMBER() OVER (
                   PARTITION BY i.vec_id
                   ORDER BY round({_SQL_EUCL.format(a='i.embedding', b='c.cv')}, 6),
                            c.cent_id) AS rn
        FROM incoming i CROSS JOIN cents c),
    probes AS (SELECT vec_id, embedding, cent_id AS cell FROM iassign
               WHERE rn <= {_IVF_NPROBE})"""


@query(
    "simsearch_incremental_ivf",
    oracle=f"""
    WITH {_SQL_IIVF_CTES},
    cand AS (
        SELECT p.vec_id, x.vec_id AS hist_id,
               round({_SQL_COS.format(a='p.embedding', b='x.embedding')}, 6)
                   AS cosine
        FROM probes p JOIN ivf_index x ON p.cell = x.cell),
    best AS (
        SELECT vec_id, hist_id, cosine FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY vec_id
                ORDER BY cosine DESC, hist_id) AS rn
            FROM cand WHERE cosine >= {_IIVF_MATCH})
        WHERE rn = 1)
    SELECT i.vec_id,
           (b.hist_id IS NULL) AS is_novel,
           b.hist_id AS matched_vec,
           b.cosine AS match_cos
    FROM incoming i LEFT JOIN best b USING (vec_id)
    ORDER BY i.vec_id
    """,
)
def simsearch_incremental_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ANN index maintenance, batch form: screen a batch of
    ARRIVING vectors against the PERSISTED IVF index of the
    already-ingested corpus — the continuous-ingest counterpart the
    dedup side has had since round 8 (``dedup_incremental_minhash``),
    and the batch twin of ``jorvik_spark.streaming.incremental_ivf_sink``.
    An arriving vector probes its _IVF_NPROBE nearest cells of the
    HISTORY-trained quantizer; it is novel iff no history member of
    those cells reaches cosine {_IIVF_MATCH}, else it reports the best
    match (ties to the smaller history id).

    The history/incoming split is the deterministic hash-mod bucket (so
    the operator is oracle-checkable on a static table); the quantizer
    is trained on HISTORY ONLY — K = ivf_k(|history|), centroids = the K
    md5-rank-smallest history vec_ids via a top-K (TakeOrderedAndProject,
    never a corpus sort) — exactly the persisted-index semantics: arriving data
    must not move the centroids, or every cell assignment ever persisted
    would be invalidated.

    Scale shape: one bounded count (K derivation), one broadcast top-K
    centroid row, the shared map-side :func:`_rank_cells` pass over each
    side, and ONE cell-equi join of batch probes against the index —
    batch-sized left side, nprobe/K of the index touched per probe. The
    live sink persists the index bucketed by cell so this join arrives
    pre-partitioned.
    """
    emb = (
        _vec_double(load_table(spark, sf_dir, "embeddings"))
        .withColumn("n2", F.expr(_DOT.format(a="v", b="v")))
        .filter(F.col("n2") > 0)
        .withColumn("bkt", hash_bucket("vec_id", _IIVF_SALT))
    )
    hist = emb.filter(F.col("bkt") < _IIVF_HIST_LT)
    incoming = emb.filter(F.col("bkt") >= _IIVF_HIST_LT)
    k = ivf_k(hist.count())
    cents = (
        hist.orderBy(*_seed_rank_cols())
        .limit(k)
        .select(F.col("vec_id").alias("cent_id"), F.col("v").alias("cv"))
    )
    index = _rank_cells(hist, cents, 1).select(
        F.col("vec_id").alias("hist_id"),
        F.col("v").alias("hv"),
        F.col("n2").alias("hn2"),
        F.col("cent_id").alias("cell"),
    )
    probes = _rank_cells(incoming, cents, _IVF_NPROBE).select(
        "vec_id", "v", "n2", F.col("cent_id").alias("cell")
    )
    dot = F.expr(_DOT.format(a="v", b="hv"))
    cosine = F.round(dot / (F.sqrt("n2") * F.sqrt("hn2")), 6)
    w = Window.partitionBy("vec_id").orderBy(F.desc("cosine"), "hist_id")
    best = (
        probes.join(index, "cell")
        .select("vec_id", "hist_id", cosine.alias("cosine"))
        .filter(F.col("cosine") >= _IIVF_MATCH)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "hist_id", "cosine")
    )
    return (
        incoming.select("vec_id")
        .join(best, "vec_id", "left")
        .select(
            "vec_id",
            F.col("hist_id").isNull().alias("is_novel"),
            F.col("hist_id").alias("matched_vec"),
            F.col("cosine").alias("match_cos"),
        )
        .orderBy("vec_id")
    )


@query(
    "audit_ivf_cells",
    oracle=f"""
    WITH {_SQL_IVF_ASSIGN},
    cells AS (SELECT cent_id, COUNT(*) AS sz
              FROM assign WHERE rn = 1 GROUP BY cent_id)
    SELECT CAST(SUM(sz) AS BIGINT) AS n_vectors,
           greatest({_IVF_K_FLOOR},
                    CAST(ceil(sqrt(SUM(sz))) AS BIGINT)) AS k_cells,
           CAST(COUNT(*) AS BIGINT) AS n_cells_used,
           CAST(MAX(sz) AS BIGINT) AS max_cell,
           CAST(SUM(sz * sz) AS BIGINT) AS sum_sq_members,
           CAST(SUM(sz * (sz - 1) // 2) AS BIGINT) AS n_within_pairs,
           CAST(MAX(sz) * 1000000 // SUM(sz) AS BIGINT)
               AS max_cell_share_ppm
    FROM cells
    """,
)
def audit_ivf_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index census — the pre-flight a user reads BEFORE running any
    within-cell pair consumer at scale: corpus size, the adaptive
    centroid count K(n) the quantizer derived, live cells, the hottest
    cell, Σ|cell|² (the aggregate pair work — the n^1.5 bound the
    adaptive K exists to hold), the exact within-cell pair count, and
    the hot cell's corpus share. ``embed_cluster_balance`` is the
    per-cell drill-down; this is the one-row verdict, and the relation
    ``_guard_cell_sizes`` enforces a ceiling on at run time.

    Scale shape: one map-combined count over the memoized assignment
    (rn = 1 rows), then a K-row aggregate. Nothing touches vectors.
    """
    cells = (
        _ivf_assign(spark, sf_dir)
        .filter(F.col("rn") == 1)
        .groupBy("cent_id")
        .agg(F.count(F.lit(1)).alias("sz"))
    )
    return cells.agg(
        F.sum("sz").cast("long").alias("n_vectors"),
        # one constant for every K derivation: a future floor change must
        # move the census/incremental-screen together (r12 ADVICE)
        F.greatest(
            F.lit(_IVF_K_FLOOR).cast("long"),
            F.ceil(F.sqrt(F.sum("sz"))).cast("long"),
        ).alias("k_cells"),
        F.count(F.lit(1)).cast("long").alias("n_cells_used"),
        F.max("sz").cast("long").alias("max_cell"),
        F.sum(F.col("sz") * F.col("sz")).cast("long").alias("sum_sq_members"),
        F.sum(F.expr("sz * (sz - 1) div 2"))
        .cast("long")
        .alias("n_within_pairs"),
        F.expr("CAST(MAX(sz) * CAST(1000000 AS BIGINT) div SUM(sz) AS BIGINT)")
        .alias("max_cell_share_ppm"),
    )


_SWEEP_MAX_NPROBE = 4


@query(
    "simsearch_nprobe_sweep",
    oracle=f"""
    WITH nz AS (SELECT * FROM embeddings WHERE {_SQL_POS_NORM}),
    gtq AS (SELECT vec_id AS query_id, embedding AS qe
            FROM nz WHERE vec_id < {_N_QUERIES}),
    gt_scored AS (
        SELECT gtq.query_id, c.vec_id AS candidate_id,
               round({_SQL_COS.format(a='gtq.qe', b='c.embedding')}, 6)
                   AS cosine
        FROM gtq JOIN nz c ON c.vec_id <> gtq.query_id),
    gt AS (
        SELECT query_id, candidate_id FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id
                ORDER BY cosine DESC, candidate_id) AS rank
            FROM gt_scored) WHERE rank <= {_TOPK}),
    {_SQL_IVF_ASSIGN},
    cells AS (SELECT vec_id, embedding, cent_id AS cell
              FROM assign WHERE rn = 1),
    qassign AS (
        SELECT q.query_id, q.qe, c.cent_id,
               ROW_NUMBER() OVER (
                   PARTITION BY q.query_id
                   ORDER BY round({_SQL_EUCL.format(a='q.qe', b='c.cv')}, 6),
                            c.cent_id) AS rn
        FROM gtq q CROSS JOIN cents c),
    cand AS (
        SELECT p.query_id, x.vec_id AS candidate_id, p.rn AS probe_rank,
               round({_SQL_COS.format(a='p.qe', b='x.embedding')}, 6)
                   AS cosine
        FROM qassign p JOIN cells x ON p.cent_id = x.cell
        WHERE p.rn <= {_SWEEP_MAX_NPROBE}
          AND x.vec_id <> p.query_id),
    swept AS (
        SELECT c.*, np.np
        FROM cand c,
             LATERAL unnest(generate_series(c.probe_rank,
                                            {_SWEEP_MAX_NPROBE})) AS np(np)),
    ranked AS (
        SELECT query_id, candidate_id, np,
               ROW_NUMBER() OVER (
                   PARTITION BY np, query_id
                   ORDER BY cosine DESC, candidate_id) AS rank
        FROM swept),
    hits AS (
        SELECT r.np,
               SUM(CASE WHEN gt.candidate_id IS NOT NULL THEN 1 ELSE 0
                   END) AS n_hits
        FROM ranked r LEFT JOIN gt
          ON gt.query_id = r.query_id
         AND gt.candidate_id = r.candidate_id
        WHERE r.rank <= {_TOPK}
        GROUP BY r.np),
    cost AS (SELECT np, COUNT(*) AS n_candidates
             FROM swept GROUP BY np)
    SELECT CAST(c.np AS INTEGER) AS nprobe,
           CAST((SELECT COUNT(*) FROM gtq) AS BIGINT) AS n_queries,
           CAST(c.n_candidates AS BIGINT) AS n_candidates,
           CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
           CAST(coalesce(h.n_hits, 0) * 1000000
                // ((SELECT COUNT(*) FROM gtq) * {_TOPK}) AS BIGINT)
               AS recall_ppm
    FROM cost c LEFT JOIN hits h ON h.np = c.np
    ORDER BY nprobe
    """,
)
def simsearch_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nprobe tuning sweep: recall@k AND candidate-scoring cost of the
    IVF index for every nprobe in 1..{_SWEEP_MAX_NPROBE}, in one pass —
    the "measure, don't guess" table an ANN operator reads to pick the
    recall/latency point (recall_eval grades only the deployed
    nprobe=2). Doubly relevant under the round-12 ADAPTIVE quantizer:
    K now grows with the corpus, so the recall each probe buys shifts
    with scale, and this sweep is the evidence.

    One candidate relation serves all sweep points: each (query,
    candidate) pair scored at probe_rank r belongs to every nprobe ≥ r,
    so the pair EXPLODES into its sweep memberships (≤ 4× the widest
    candidate set — queries are a fixed probe set, never the corpus)
    and one rank window per (nprobe, query) reads off recall. Ground
    truth is the exact brute-force top-k (the recall_eval contract);
    cells come from the shared memoized quantizer; query-side ranking
    reuses the map-side :func:`_rank_cells` (its own 4-deep ranking —
    the session memo only materializes the deployed NPROBE ranks).
    """
    emb = (
        _vec_double(load_table(spark, sf_dir, "embeddings"))
        .withColumn("n2", F.expr(_DOT.format(a="v", b="v")))
        .filter(F.col("n2") > 0)
    )
    k = ivf_k(emb.count())
    cents = (
        emb.orderBy(*_seed_rank_cols())
        .limit(k)
        .select(F.col("vec_id").alias("cent_id"), F.col("v").alias("cv"))
    )
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    qassign = _rank_cells(queries, cents, _SWEEP_MAX_NPROBE).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("n2").alias("nq"),
        F.col("cent_id").alias("cell"),
        F.col("rn").alias("probe_rank"),
    )
    cells = _ivf_assign(spark, sf_dir).filter(F.col("rn") == 1).select(
        F.col("vec_id").alias("candidate_id"),
        F.col("v").alias("cv_cand"),
        F.col("n2").alias("nc"),
        F.col("cent_id").alias("cell"),
    )
    dot = F.expr(_DOT.format(a="qv", b="cv_cand"))
    cosine = F.round(dot / (F.sqrt("nq") * F.sqrt("nc")), 6)
    cand = (
        qassign.join(cells, "cell")
        .filter(F.col("candidate_id") != F.col("query_id"))
        .select(
            "query_id",
            "candidate_id",
            "probe_rank",
            cosine.alias("cosine"),
        )
    )
    swept = cand.select(
        "query_id",
        "candidate_id",
        "cosine",
        F.explode(
            F.expr(f"sequence(probe_rank, {_SWEEP_MAX_NPROBE})")
        ).alias("np"),
    )
    w = Window.partitionBy("np", "query_id").orderBy(
        F.desc("cosine"), "candidate_id"
    )
    ranked = (
        swept.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOPK)
        .select("np", "query_id", "candidate_id")
    )
    gt = _exact_topk_gt(spark, sf_dir).select(
        "query_id", "candidate_id", F.lit(1).alias("hit")
    )
    hits = (
        ranked.join(gt, ["query_id", "candidate_id"], "left")
        .groupBy("np")
        .agg(F.sum(F.coalesce("hit", F.lit(0))).alias("n_hits"))
    )
    cost = swept.groupBy("np").agg(
        F.count(F.lit(1)).alias("n_candidates")
    )
    nq = queries.agg(F.count(F.lit(1)).alias("n_queries"))
    return (
        cost.join(hits, "np", "left")
        .crossJoin(F.broadcast(nq))
        .select(
            F.col("np").cast("int").alias("nprobe"),
            F.col("n_queries").cast("long"),
            F.col("n_candidates").cast("long"),
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            F.expr(
                "CAST(coalesce(n_hits, 0) * CAST(1000000 AS BIGINT)"
                f" div (n_queries * {_TOPK}) AS BIGINT)"
            ).alias("recall_ppm"),
        )
        .orderBy("nprobe")
    )


# --- round 13: IVF-cell vs label purity census ------------------------------


@query(
    "embed_cluster_label_purity",
    oracle=f"""
    WITH {_SQL_IVF_ASSIGN},
    members AS (
        SELECT a.cent_id AS cell, e.label
        FROM assign a JOIN embeddings e ON e.vec_id = a.vec_id
        WHERE a.rn = 1 AND e.label IS NOT NULL),
    per_label AS (
        SELECT cell, label, COUNT(*) AS n
        FROM members GROUP BY cell, label),
    tops AS (
        SELECT cell, label AS top_label, n AS top_label_n
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY cell
                        ORDER BY n DESC, label) AS r
              FROM per_label)
        WHERE r = 1),
    sizes AS (
        SELECT cell, SUM(n) AS n_members,
               COUNT(*) AS n_labels
        FROM per_label GROUP BY cell)
    SELECT CAST(s.cell AS BIGINT) AS cell,
           CAST(s.n_members AS BIGINT) AS n_members,
           CAST(s.n_labels AS BIGINT) AS n_labels,
           CAST(t.top_label AS INTEGER) AS top_label,
           CAST(t.top_label_n AS BIGINT) AS top_label_n,
           CAST(t.top_label_n * 1000000 // s.n_members AS BIGINT)
               AS purity_ppm
    FROM sizes s JOIN tops t ON s.cell = t.cell
    ORDER BY s.cell
    """,
)
def embed_cluster_label_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label purity of every IVF cell: majority label, its share, and
    the label diversity per cell — the CONTENT-quality companion to the
    two existing index diagnostics (``embed_cluster_balance`` grades
    cell SIZES, ``audit_ivf_cells`` grades aggregate pair work; neither
    can see whether a cell actually groups like with like). On a corpus
    with meaningful labels (dedup clusters, topics, sources), low
    purity at balanced sizes is the signature of a quantizer that
    partitions the SPACE but not the SEMANTICS — exactly the failure
    the round-13 hash-spread seed exists to avoid on id-ordered
    corpora, and this census is its measuring stick.

    Tie-break: equal-count labels resolve to the smaller label id on
    both engines (the deterministic-argmax convention every census here
    uses). Null labels are out of scope on both engines.

    Scale shape: one label-count aggregate over the memoized assignment
    (map-combined, keyed by (cell, label) — never wider than the
    corpus), a WindowGroupLimit-able rank-1 per cell over the
    (cells x labels)-bounded count relation, and a K-row join. Vectors
    are never touched (the assignment memo already dropped them).
    """
    members = (
        _ivf_assign(spark, sf_dir)
        .filter(F.col("rn") == 1)
        .select(F.col("vec_id"), F.col("cent_id").alias("cell"))
        .join(
            load_table(spark, sf_dir, "embeddings")
            .filter(F.col("label").isNotNull())
            .select("vec_id", "label"),
            "vec_id",
        )
    )
    per_label = members.groupBy("cell", "label").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("cell").orderBy(F.desc("n"), "label")
    tops = (
        per_label.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .select(
            "cell",
            F.col("label").alias("top_label"),
            F.col("n").alias("top_label_n"),
        )
    )
    sizes = per_label.groupBy("cell").agg(
        F.sum("n").alias("n_members"),
        F.count(F.lit(1)).alias("n_labels"),
    )
    return sizes.join(tops, "cell").select(
        F.col("cell").cast("long").alias("cell"),
        F.col("n_members").cast("long").alias("n_members"),
        F.col("n_labels").cast("long").alias("n_labels"),
        F.col("top_label").cast("int").alias("top_label"),
        F.col("top_label_n").cast("long").alias("top_label_n"),
        F.expr(
            "CAST(top_label_n * CAST(1000000 AS BIGINT) div n_members"
            " AS BIGINT)"
        ).alias("purity_ppm"),
    ).orderBy("cell")


# --- round 13: angular pair census (embedding isotropy audit) ----------------

# Hex-prefix length of the md5 pairing bucket: 1 hex char = 16 buckets,
# sized so every natural test SF still pairs inside each bucket (50
# vectors at sf0.001 → ~3 per bucket). At 100 TB lengthen the prefix —
# each extra char multiplies bucket count by 16 and divides the
# per-bucket sort by the same factor; the census itself stays O(n)
# pairs regardless of the prefix (one pair per adjacent rank).
_PAIR_BUCKET_HEX = 1


@query(
    "embed_angular_pair_census",
    oracle=f"""
    WITH emb AS (
        SELECT vec_id,
               md5(CAST(vec_id AS VARCHAR)) AS h,
               list_transform(CAST(embedding AS DOUBLE[]),
                              x -> CAST({sql_units('x')} AS DOUBLE))
                   AS q
        FROM embeddings
        WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
          AND len(embedding) > 0),
    pos AS (
        SELECT vec_id, h, q,
               list_dot_product(q, q) AS n2,
               substr(h, 1, {_PAIR_BUCKET_HEX}) AS bkt
        FROM emb
        WHERE list_dot_product(q, q) > 0),
    paired AS (
        SELECT bkt, n2, q,
               lead(q) OVER w AS q2,
               lead(n2) OVER w AS n2_2
        FROM pos
        WINDOW w AS (PARTITION BY bkt ORDER BY h, vec_id)),
    cos AS (
        SELECT list_dot_product(q, q2) / (sqrt(n2) * sqrt(n2_2)) AS c
        FROM paired WHERE q2 IS NOT NULL)
    SELECT CAST(least(greatest(CAST(floor(c * 20.0) AS INTEGER), -20), 19)
                AS INTEGER) AS band,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           round({sql_davg('c')}, 6) AS avg_cos
    FROM cos GROUP BY 1 ORDER BY band
    """,
)
def embed_angular_pair_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise-angle census over deterministic random vector pairs —
    the isotropy audit of an embedding space (a healthy corpus's random
    pairs mass near cosine 0; a collapsed/anisotropic space — the
    classic "all my embeddings look alike" failure after a bad
    fine-tune or a dominant principal direction — masses near +1, and
    retrieval quality dies long before any downstream eval notices).
    Histogram of cosines in 0.05 bands over ~n/1 disjoint pairs.

    Pair selection is derandomized md5 order: vectors sort by their id's
    md5 inside ``16^{{prefix}}`` hex-prefix buckets and each row pairs
    with its successor — a uniform-ish disjoint pairing both engines
    derive identically, with NO quadratic relation anywhere (exactly
    n−buckets pairs).

    Cross-engine exactness by CONSTRUCTION, not ulp luck: components
    quantize to micro-unit integers held in doubles, so every dot
    product is a sum of integers < 2^53 — exact in ANY summation order
    (Spark's fold and DuckDB's list_dot_product agree bit-for-bit);
    sqrt and one division are correctly-rounded IEEE ops, so the band
    floor is deterministic. Zero-norm vectors are excluded (module
    contract, cosine undefined).

    Scale shape: one narrow map pass quantizes and hashes; ONE keyed
    sort exchange on the hash bucket feeds the lead(); the census is a
    40-group map-combined aggregate. Output ≤ 40 rows at any corpus
    size.
    """
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .filter(
            F.col("vec_id").isNotNull()
            & F.col("embedding").isNotNull()
            & (F.size("embedding") > 0)
        )
        .select(
            "vec_id",
            F.md5(F.col("vec_id").cast("string")).alias("h"),
            F.expr(
                "transform(embedding,"
                f" x -> CAST({spark_units('CAST(x AS DOUBLE)')} AS DOUBLE))"
            ).alias("q"),
        )
        .withColumn("n2", F.expr(_DOT.format(a="q", b="q")))
        .filter(F.col("n2") > 0)
        .withColumn("bkt", F.substring("h", 1, _PAIR_BUCKET_HEX))
    )
    w = Window.partitionBy("bkt").orderBy("h", "vec_id")
    paired = (
        emb.select(
            "bkt",
            "q",
            "n2",
            F.lead("q").over(w).alias("q2"),
            F.lead("n2").over(w).alias("n2_2"),
        )
        .filter(F.col("q2").isNotNull())
        .select(
            (
                F.expr(_DOT.format(a="q", b="q2"))
                / (F.sqrt("n2") * F.sqrt("n2_2"))
            ).alias("c")
        )
    )
    band = F.least(
        F.greatest(F.floor(F.col("c") * 20.0).cast("int"), F.lit(-20)),
        F.lit(19),
    )
    return (
        paired.groupBy(band.alias("band"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.round(davg("c"), 6).alias("avg_cos"),
        )
        .orderBy("band")
    )


# --- round 13: split-half centroid drift (embedding reproducibility) ---------

_SPLIT_DRIFT_SALT = "centroid_split"


@query(
    "embed_centroid_split_drift",
    oracle=f"""
    WITH emb AS (
        SELECT vec_id, label,
               CAST({sql_hash_bucket('vec_id', _SPLIT_DRIFT_SALT)} % 2
                    AS INTEGER) AS half,
               list_transform(CAST(embedding AS DOUBLE[]),
                              x -> {sql_units('x')})
                   AS q
        FROM embeddings
        WHERE vec_id IS NOT NULL AND label IS NOT NULL
          AND embedding IS NOT NULL AND len(embedding) > 0),
    ex AS (
        SELECT label, half,
               unnest(range(len(q))) AS pos,
               unnest(q) AS x,
               vec_id
        FROM emb),
    dims AS (
        SELECT label, pos,
               CAST(SUM(CASE WHEN half = 0 THEN x ELSE 0 END) AS BIGINT)
                   AS sa,
               CAST(SUM(CASE WHEN half = 1 THEN x ELSE 0 END) AS BIGINT)
                   AS sb
        FROM ex GROUP BY 1, 2),
    mom AS (
        SELECT label,
               SUM(CAST(sa AS DECIMAL(19,0)) * CAST(sb AS DECIMAL(19,0)))
                   AS num,
               SUM(CAST(sa AS DECIMAL(19,0)) * CAST(sa AS DECIMAL(19,0)))
                   AS na2,
               SUM(CAST(sb AS DECIMAL(19,0)) * CAST(sb AS DECIMAL(19,0)))
                   AS nb2
        FROM dims GROUP BY 1),
    counts AS (
        SELECT label,
               CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_a,
               CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_b
        FROM emb GROUP BY 1)
    SELECT c.label AS label, c.n_a, c.n_b,
           round(CASE WHEN m.na2 > 0 AND m.nb2 > 0 THEN
                     CAST(m.num AS DOUBLE)
                     / (sqrt(CAST(m.na2 AS DOUBLE))
                        * sqrt(CAST(m.nb2 AS DOUBLE)))
                 END, 6) AS cos_ab
    FROM counts c JOIN mom m ON c.label = m.label
    ORDER BY c.label
    """,
)
def embed_centroid_split_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-half centroid agreement per label: vectors hash-split into
    two deterministic halves, and the cosine between the halves' label
    centroids is reported — the reproducibility audit of an embedding
    pipeline (a healthy, well-sampled label's two half-centroids agree
    at cosine ≈ 1; a label near 0 means its centroid is sampling noise
    and any per-label logic built on it — nearest-centroid routing,
    centroid-seeded clustering, drift alarms — is built on sand).

    Exactness by construction: the centroid cosine is computed on the
    half's component SUMS (cos is scale-invariant, so the mean's /n
    cancels and never has to be evaluated in floating point); sums of
    micro-unit-quantized components are exact BIGINTs, the dim-wise
    products accumulate in DECIMAL(38,0), and only the final three
    exact integers pass through one sqrt+divide dag — so both engines
    round the identical value to 6 dp. Labels with an empty or
    zero-norm half report cos NULL (declared).

    Scale shape: posexplode → ONE (label, pos)-keyed map-combined
    aggregate (≤ |labels|×dims rows out), then a |labels|-group
    rollup; counts ride a separate |labels|-group pass on the
    unexploded relation. Nothing corpus-sized shuffles; the report is
    |labels| rows at any corpus size.
    """
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .filter(
            F.col("vec_id").isNotNull()
            & F.col("label").isNotNull()
            & F.col("embedding").isNotNull()
            & (F.size("embedding") > 0)
        )
        .select(
            "vec_id",
            "label",
            (hash_bucket("vec_id", _SPLIT_DRIFT_SALT) % 2)
            .cast("int")
            .alias("half"),
            F.expr(
                "transform(embedding,"
                f" x -> {spark_units('CAST(x AS DOUBLE)')})"
            ).alias("q"),
        )
    )
    ex = emb.select(
        "label", "half", F.posexplode("q").alias("pos", "x")
    )
    dims = ex.groupBy("label", "pos").agg(
        F.sum(F.when(F.col("half") == 0, F.col("x")).otherwise(0))
        .cast("long")
        .alias("sa"),
        F.sum(F.when(F.col("half") == 1, F.col("x")).otherwise(0))
        .cast("long")
        .alias("sb"),
    )
    sad = F.col("sa").cast("decimal(19,0)")
    sbd = F.col("sb").cast("decimal(19,0)")
    mom = dims.groupBy("label").agg(
        F.sum(sad * sbd).alias("num"),
        F.sum(sad * sad).alias("na2"),
        F.sum(sbd * sbd).alias("nb2"),
    )
    counts = emb.groupBy("label").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
    )
    cos = F.when(
        (F.col("na2") > 0) & (F.col("nb2") > 0),
        F.col("num").cast("double")
        / (F.sqrt(F.col("na2").cast("double")) * F.sqrt(F.col("nb2").cast("double"))),
    )
    return (
        counts.join(mom, "label")
        .select("label", "n_a", "n_b", F.round(cos, 6).alias("cos_ab"))
        .orderBy("label")
    )


# --- round 14: squared-norm octave census (embedding-health screen) ---------


@query(
    "embed_sqnorm_octave_census",
    oracle=f"""
    WITH ex AS (
        SELECT vec_id, {sql_units('x')} AS qx
        FROM (SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS x
              FROM embeddings)),
    sq AS (
        SELECT vec_id, CAST(SUM(qx * qx) AS BIGINT) AS nsq
        FROM ex GROUP BY vec_id)
    SELECT {sql_octave('nsq')} AS nsq_bits,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(MIN(nsq) AS BIGINT) AS min_nsq,
           CAST(MAX(nsq) AS BIGINT) AS max_nsq
    FROM sq GROUP BY 1 ORDER BY nsq_bits
    """,
)
def embed_sqnorm_octave_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Octave census of embedding squared norms — the five-minute
    embedding-health read before any cosine machinery is trusted: a
    healthy encoder's norms occupy a couple of adjacent octaves; a mass
    at octave 0 is zero/dead vectors (cosine undefined — the NULLs the
    range/topk ops guard against), a long right tail means un-normalized
    mixing of checkpoints, and a census that MOVES between snapshots is
    an encoder-drift alarm cheaper than any recall eval.

    Cross-engine mechanics: each component is micro-quantized
    (floor(x·1e6 + 0.5), the module's fixed-point convention) and the
    squared norm Σqx² is summed EXACTLY in integers (qx² ≤ 1e14 at
    |x| ≤ 10, × 64 dims ≪ int64) — no float summation-order hazard, so
    the octave (bit length) can never straddle an engine ulp.

    Scale shape: the squared norm is a NARROW integer array fold
    (``aggregate`` over the vector — no explode, no per-vector
    shuffle; exactness makes fold order irrelevant), so the whole
    census is one map pass plus a ≤ ~50-group map-combined octave
    collapse. Output is constant-size at any corpus.
    """
    sq = _vec_double(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id",
        F.expr(
            "aggregate(v, CAST(0 AS BIGINT), (acc, x) ->"
            f" acc + {spark_units('x')} * {spark_units('x')})"
        ).alias("nsq"),
    )
    bits = octave("nsq")
    return (
        sq.groupBy(bits.alias("nsq_bits"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.min("nsq").cast("long").alias("min_nsq"),
            F.max("nsq").cast("long").alias("max_nsq"),
        )
        .orderBy("nsq_bits")
    )


# --- round 14: binarized (sign-bit) Hamming top-k ----------------------------

_HAMMING_TOP_K = 5


def sign_pack_expr(lo: int) -> str:
    """Positional sign-bit packing of ``v[lo+1 .. lo+32]`` into one
    non-negative 32-bit word (SQL expression over the double array
    ``v``). Module-level so the retrieval example's persisted sign
    index can never drift from ``simsearch_hamming_topk``'s geometry
    (the PQ/IVF constant-sharing convention)."""
    return (
        f"aggregate(transform(slice(v, {lo + 1}, 32),"
        f" (x, i) -> IF(x > CAST(0 AS DOUBLE),"
        f" shiftleft(CAST(1 AS BIGINT), 31 - i), CAST(0 AS BIGINT))),"
        " CAST(0 AS BIGINT), (a, b) -> a + b)"
    )



@query(
    "simsearch_hamming_topk",
    oracle=f"""
    WITH ex AS (
        SELECT vec_id,
               unnest(range(len(embedding))) AS pos,
               unnest(CAST(embedding AS DOUBLE[])) AS x
        FROM embeddings),
    packed AS (
        SELECT vec_id,
               CAST(SUM(CASE WHEN pos < 32 AND x > 0
                        THEN CAST(1 AS BIGINT) << CAST(31 - pos AS INTEGER)
                        ELSE 0 END) AS BIGINT) AS w1,
               CAST(SUM(CASE WHEN pos >= 32 AND pos < 64 AND x > 0
                        THEN CAST(1 AS BIGINT) << CAST(63 - pos AS INTEGER)
                        ELSE 0 END) AS BIGINT) AS w2
        FROM ex GROUP BY vec_id),
    q AS (SELECT vec_id AS query_id, w1 AS q1, w2 AS q2
          FROM packed WHERE vec_id < {_N_QUERIES}),
    scored AS (
        SELECT q.query_id, p.vec_id AS candidate_id,
               CAST(bit_count(xor(p.w1, q.q1))
                    + bit_count(xor(p.w2, q.q2)) AS BIGINT) AS hamming,
               ROW_NUMBER() OVER (
                   PARTITION BY q.query_id
                   ORDER BY bit_count(xor(p.w1, q.q1))
                            + bit_count(xor(p.w2, q.q2)),
                            p.vec_id) AS rnk
        FROM packed p CROSS JOIN q
        WHERE p.vec_id <> q.query_id)
    SELECT query_id, candidate_id, hamming, CAST(rnk AS INTEGER) AS rnk
    FROM scored WHERE rnk <= {_HAMMING_TOP_K}
    ORDER BY query_id, rnk
    """,
)
def simsearch_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary (sign-bit) embedding search: each vector compresses to a
    64-bit sign pattern (bit i = 1 iff component i > 0, first 64 dims —
    the matryoshka prefix convention), and top-k neighbors rank by
    Hamming distance — the 32×-compression retrieval family (binary
    passage retrieval / BinaryVectorSearch) that serves as the cheap
    first stage ahead of an exact float rerank
    (``simsearch_rerank_twophase``'s shortlist pattern on 1/32 the
    bytes and XOR+popcount instead of FMA).

    Cross-engine mechanics: packing is POSITIONAL (transform index →
    fixed bit weight), not a running fold, so short/dirty vectors get
    identical words on both engines; distance is integer
    bit_count(xor) on the two 32-bit halves — no overflow anywhere
    (a full 64-bit single-word pack would need the sign bit and
    DuckDB's checked BIGINT arithmetic raises where Spark wraps).
    Ties break (hamming, candidate_id) — total order, deterministic
    top-k cut. Zero/dead vectors pack to word 0 and participate
    (Hamming needs no norm — documented difference from the cosine
    ops' positive-norm scope).

    Scale shape: packing is one NARROW map pass (two bounded
    transform+aggregate folds, no explode, no shuffle); the
    ``_N_QUERIES``-row query side broadcasts; the per-query top-k is
    rank-filtered (WindowGroupLimit caps it map-side). At corpus
    scale the packed relation is 16 bytes/vector — the binarized
    index a 100 TB embedding store actually ships to its first-stage
    searchers.
    """
    packed = _vec_double(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id",
        F.expr(sign_pack_expr(0)).alias("w1"),
        F.expr(sign_pack_expr(32)).alias("w2"),
    )
    q = F.broadcast(
        packed.filter(F.col("vec_id") < _N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("w1").alias("q1"),
            F.col("w2").alias("q2"),
        )
    )
    dist = F.expr("bit_count(w1 ^ q1) + bit_count(w2 ^ q2)")
    w = Window.partitionBy("query_id").orderBy("hamming", "candidate_id")
    return (
        packed.select(F.col("vec_id").alias("candidate_id"), "w1", "w2")
        .join(q, F.col("candidate_id") != F.col("query_id"))
        .withColumn("hamming", dist.cast("long"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _HAMMING_TOP_K)
        .select("query_id", "candidate_id", "hamming", F.col("rnk").cast("int"))
        .orderBy("query_id", "rnk")
    )


# --- round 15: Johnson-Lindenstrauss ±1 random-projection sketch -------------

# Output dimensionality of the sketch. 16 dims of ±1 projections keep
# pairwise distances within ~1/sqrt(16) relative distortion (the JL
# regime the Achlioptas sign-matrix construction is proven for) while
# compressing a 64-float vector 4x before quantization even starts.
_RP_DIMS = 16


def _rp16_signs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ±1 projection matrix as DATA: one row per (proj_dim, pos)
    with a deterministic md5-parity sign. Built once per session
    (memoized) and broadcast into the projection join — at corpus scale
    the matrix is a 16×dim constant relation, never recomputed per
    vector (the alternative — md5 inside the per-row fold — re-hashes
    the same 16·dim salts once per vector)."""
    emb = _vec_double(load_table(spark, sf_dir, "embeddings"))
    # two stacked explodes, not a cross join: 16×dim rows with zero
    # join nodes in the plan (the no-CartesianProduct convention)
    grid = (
        emb.select(F.explode(F.sequence(F.lit(0), F.size("v") - 1)).alias("pos"))
        .distinct()
        .select(
            "pos",
            F.explode(F.sequence(F.lit(0), F.lit(_RP_DIMS - 1))).alias(
                "proj_dim"
            ),
        )
    )
    return memo_df(
        f"rp16_signs:{sf_dir}",
        spark,
        lambda: grid.select(
            "proj_dim", "pos", rp16_sign_col().cast("int").alias("sgn")
        ),
    )


def rp16_sign_col(proj_dim: str = "proj_dim", pos: str = "pos"):
    """The JL sketch's deterministic ±1 sign as a Column over
    (proj_dim, pos) — md5 parity of the shared 'rp16:d:pos' salt.
    PUBLIC so artifact builders (examples/retrieval_pipeline's persisted
    sketch table) share the exact matrix by import and can never drift
    from ``embed_rp16_sketch``'s geometry (the sign_pack_expr
    convention)."""
    return F.when(
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("rp16:"),
                        F.col(proj_dim).cast("string"),
                        F.lit(":"),
                        F.col(pos).cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 2
        == 0,
        F.lit(1),
    ).otherwise(F.lit(-1))


@query(
    "embed_rp16_sketch",
    oracle=f"""
    WITH ex AS (
        SELECT vec_id,
               unnest(range(len(embedding))) AS pos,
               unnest(CAST(embedding AS DOUBLE[])) AS x
        FROM embeddings),
    q AS (SELECT vec_id, pos,
                 {sql_units('x')} AS eu
          FROM ex),
    s AS (SELECT CAST(d AS INTEGER) AS proj_dim, pos,
                 CASE WHEN ('0x' || substr(md5('rp16:' || d || ':' || pos),
                                           1, 8))::BIGINT % 2 = 0
                      THEN 1 ELSE -1 END AS sgn
          FROM (SELECT unnest(range({_RP_DIMS})) AS d),
               (SELECT DISTINCT pos FROM q))
    SELECT q.vec_id, s.proj_dim,
           CAST(SUM(s.sgn * q.eu) AS BIGINT) AS proj_units
    FROM q JOIN s ON s.pos = q.pos
    GROUP BY q.vec_id, s.proj_dim
    ORDER BY vec_id, proj_dim
    """,
)
def embed_rp16_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss sketch: every embedding × a deterministic
    ±1 sign matrix (Achlioptas construction, md5-parity entries) down to
    16 integer components — the distance-preserving compression
    a 100 TB embedding store builds ONCE so that dedup screens, drift
    censuses and coarse ANN can run on 16 ints/vector instead of the
    full float payload. Unlike the sign-bit pack (simsearch_hamming_topk,
    which keeps only directions), the JL sketch preserves DISTANCES, so
    downstream L2/cosine math stays meaningful.

    Cross-engine mechanics: components micro-quantize to integer units
    (floor(x·1e6 + 0.5)) BEFORE projection, so every projected value is
    an EXACT integer sum of ±unit terms (|Σ| ≤ dim·1e7 ≪ int64) — no
    float summation-order hazard on either engine; the sign matrix is
    md5 parity over the shared 'rp16:d:pos' salt (the hash_bucket
    convention), identical text on both engines.

    Scale shape: posexplode → one BROADCAST join against the 16×dim
    sign relation → a map-side-combined (vec_id, proj_dim) sum. The
    only exchange carries 16 rows per vector (the sketch itself); the
    16× blowup of the exploded relation dies in the partial aggregate
    inside the same stage. The matrix build is memoized per session.
    """
    return _rp16_sketch_rel(spark, sf_dir).orderBy("vec_id", "proj_dim")


def _rp16_sketch_rel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, proj_dim, proj_units) — the JL sketch relation, memoized
    so the census query and the distortion eval share one build."""

    def build() -> DataFrame:
        ex = (
            _vec_double(_spread_embeddings(spark, sf_dir))
            .select("vec_id", F.posexplode("v").alias("pos", "x"))
            .select(
                "vec_id",
                "pos",
                units("x").alias("eu"),
            )
        )
        signs = F.broadcast(_rp16_signs(spark, sf_dir))
        return (
            ex.join(signs, "pos")
            .groupBy("vec_id", "proj_dim")
            .agg(
                F.sum(F.col("sgn") * F.col("eu")).cast("long").alias("proj_units")
            )
        )

    return memo_df(f"rp16_sketch:{sf_dir}", spark, build)


@query(
    "embed_jl_distortion_census",
    oracle=f"""
    WITH ex AS (
        SELECT vec_id,
               unnest(range(len(embedding))) AS pos,
               unnest(CAST(embedding AS DOUBLE[])) AS x
        FROM embeddings),
    q AS (SELECT vec_id, pos,
                 {sql_units('x')} AS eu
          FROM ex),
    s AS (SELECT CAST(d AS INTEGER) AS proj_dim, pos,
                 CASE WHEN ('0x' || substr(md5('rp16:' || d || ':' || pos),
                                           1, 8))::BIGINT % 2 = 0
                      THEN 1 ELSE -1 END AS sgn
          FROM (SELECT unnest(range({_RP_DIMS})) AS d),
               (SELECT DISTINCT pos FROM q)),
    sk AS (SELECT q.vec_id, s.proj_dim,
                  CAST(SUM(s.sgn * q.eu) AS BIGINT) AS proj_units
           FROM q JOIN s ON s.pos = q.pos
           GROUP BY q.vec_id, s.proj_dim),
    full_d AS (
        SELECT a.vec_id AS va,
               CAST(SUM((a.eu - b.eu) * (a.eu - b.eu)) AS BIGINT) AS d2_full
        FROM q a JOIN q b ON b.vec_id = a.vec_id + 1 AND b.pos = a.pos
        GROUP BY a.vec_id),
    sk_d AS (
        SELECT a.vec_id AS va,
               SUM((a.proj_units - b.proj_units)
                   * (a.proj_units - b.proj_units)) AS d2_sk
        FROM sk a JOIN sk b
          ON b.vec_id = a.vec_id + 1 AND b.proj_dim = a.proj_dim
        GROUP BY a.vec_id),
    r AS (SELECT f.va,
                 CAST(s.d2_sk * 1000000 // ({_RP_DIMS} * f.d2_full)
                      AS BIGINT) AS distortion_ppm
          FROM full_d f JOIN sk_d s ON f.va = s.va
          WHERE f.d2_full > 0)
    SELECT CAST(LEAST(distortion_ppm // 250000, 8) AS INTEGER)
               AS distortion_band,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(MIN(distortion_ppm) AS BIGINT) AS min_ppm,
           CAST(MAX(distortion_ppm) AS BIGINT) AS max_ppm
    FROM r GROUP BY 1 ORDER BY distortion_band
    """,
)
def embed_jl_distortion_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distance-preservation eval of the JL sketch: over the
    deterministic consecutive-id pair sample (vec_id, vec_id+1), the
    ratio of the sketch-space squared L2 estimator ||ŷa−ŷb||²/16 to the
    true full-space ||a−b||², banded at quarter-x — the eval that says
    whether 16 sketch dims are ENOUGH for this corpus before anything
    downstream trusts them (the banding_recall_eval convention: every
    compressed index ships with its own recall/distortion readout). A
    healthy JL sketch concentrates around band 4 (ratio ≈ 1.0×);
    mass in bands 0 or 8 means the sketch is too narrow for the
    corpus's intrinsic dimension.

    Cross-engine mechanics: both distances are EXACT integers (the
    sketch relation is exact by construction; full-space component
    diffs ≤ 2e7 so Σdiff² ≤ 64·4e14 ≪ int64; sketch diffs ≤ 2.6e9 so
    Σdiff² needs the DECIMAL(38,0)/HUGEINT accumulator — the spearman
    overflow convention), ratio as integer-ppm division on
    non-negative operands, zero-distance pairs excluded on both sides.

    Scale shape: reuses the memoized sketch relation; the pair sample
    is an EQUI join on vec_id+1 (never a pair product), full-space
    distances ride the exploded relation with a map-combined per-pair
    sum, and the census is a ≤ 9-group collapse.
    """
    sk = _rp16_sketch_rel(spark, sf_dir)
    sk_d = (
        sk.alias("a")
        .join(
            sk.alias("b"),
            (F.col("b.vec_id") == F.col("a.vec_id") + 1)
            & (F.col("b.proj_dim") == F.col("a.proj_dim")),
        )
        .groupBy(F.col("a.vec_id").alias("va"))
        .agg(
            F.sum(
                (
                    (F.col("a.proj_units") - F.col("b.proj_units")).cast(
                        "decimal(38,0)"
                    )
                )
                * (
                    (F.col("a.proj_units") - F.col("b.proj_units")).cast(
                        "decimal(38,0)"
                    )
                )
            ).alias("d2_sk")
        )
    )
    ex = (
        _vec_double(_spread_embeddings(spark, sf_dir))
        .select("vec_id", F.posexplode("v").alias("pos", "x"))
        .select(
            "vec_id",
            "pos",
            units("x").alias("eu"),
        )
    )
    full_d = (
        ex.alias("a")
        .join(
            ex.alias("b"),
            (F.col("b.vec_id") == F.col("a.vec_id") + 1)
            & (F.col("b.pos") == F.col("a.pos")),
        )
        .groupBy(F.col("a.vec_id").alias("va"))
        .agg(
            F.sum(
                (F.col("a.eu") - F.col("b.eu"))
                * (F.col("a.eu") - F.col("b.eu"))
            )
            .cast("long")
            .alias("d2_full")
        )
    )
    r = (
        full_d.join(sk_d, "va")
        .filter(F.col("d2_full") > 0)
        .select(
            F.expr(
                f"CAST(d2_sk * 1000000 div ({_RP_DIMS} * CAST(d2_full AS"
                " DECIMAL(38,0))) AS BIGINT)"
            ).alias("distortion_ppm")
        )
    )
    return (
        r.groupBy(
            F.least(F.expr("distortion_ppm div 250000"), F.lit(8))
            .cast("int")
            .alias("distortion_band")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.min("distortion_ppm").cast("long").alias("min_ppm"),
            F.max("distortion_ppm").cast("long").alias("max_ppm"),
        )
        .orderBy("distortion_band")
    )


# --- round 16: matrix-free PCA (power iteration, exact integers) ---------------

# Fixed power-iteration count: three matrix applications dominate the
# spectrum well enough for screening work, and a COMPILE-TIME constant
# keeps the plan fully declarative (the BFS/kcore unroll convention).
_PI_ITERS = 3
_PI_SCALE = 1000000


def _pi_units_rel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, eu) with the micro-quantized integer component array,
    memoized — every power-iteration pass reads this leaf."""
    return memo_df(
        f"pi_units:{sf_dir}",
        spark,
        lambda: _vec_double(_spread_embeddings(spark, sf_dir)).select(
            "vec_id",
            F.expr(f"transform(v, x -> {spark_units('x')})").alias("eu"),
        ),
        cut_lineage=True,
    )


@query(
    "embed_power_iteration_pc1",
    oracle=f"""
    WITH ex AS (
        SELECT vec_id,
               unnest(range(len(embedding))) AS pos,
               unnest(CAST(embedding AS DOUBLE[])) AS x
        FROM embeddings),
    q AS (SELECT vec_id, pos,
                 {sql_units('x')} AS eu
          FROM ex),
    dot1 AS (SELECT vec_id,
                    SUM(CAST(eu AS HUGEINT)) * 1000000 AS dot
             FROM q GROUP BY vec_id),
    w1 AS (SELECT q.pos, SUM(CAST(q.eu AS HUGEINT) * d.dot) AS w
           FROM q JOIN dot1 d USING (vec_id) GROUP BY q.pos),
    m1 AS (SELECT MAX(ABS(w)) AS m FROM w1),
    v1 AS (SELECT pos, CASE WHEN m1.m = 0 THEN 0
                            ELSE w * 1000000 // m1.m END AS v
           FROM w1, m1),
    dot2 AS (SELECT q.vec_id, SUM(CAST(q.eu AS HUGEINT) * v1.v) AS dot
             FROM q JOIN v1 USING (pos) GROUP BY q.vec_id),
    w2 AS (SELECT q.pos, SUM(CAST(q.eu AS HUGEINT) * d.dot) AS w
           FROM q JOIN dot2 d USING (vec_id) GROUP BY q.pos),
    m2 AS (SELECT MAX(ABS(w)) AS m FROM w2),
    v2 AS (SELECT pos, CASE WHEN m2.m = 0 THEN 0
                            ELSE w * 1000000 // m2.m END AS v
           FROM w2, m2),
    dot3 AS (SELECT q.vec_id, SUM(CAST(q.eu AS HUGEINT) * v2.v) AS dot
             FROM q JOIN v2 USING (pos) GROUP BY q.vec_id),
    w3 AS (SELECT q.pos, SUM(CAST(q.eu AS HUGEINT) * d.dot) AS w
           FROM q JOIN dot3 d USING (vec_id) GROUP BY q.pos),
    m3 AS (SELECT MAX(ABS(w)) AS m FROM w3)
    SELECT CAST(pos AS INTEGER) AS pos,
           CAST(CASE WHEN m3.m = 0 THEN 0
                     ELSE w * 1000000 // m3.m END AS BIGINT) AS pc1_units
    FROM w3, m3 ORDER BY pos
    """,
)
def embed_power_iteration_pc1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First principal direction of the embedding corpus by MATRIX-FREE
    power iteration — three applications of v ← Xᵀ(Xv) from the all-ones
    seed, each a single distributed pass (never materializing the dim×dim
    covariance), rescaled to ±1e6 units per step. The PCA primitive
    behind whitening, drift monitoring and ABI-style dimensionality
    checks, at the only cost a 100 TB embedding store can afford: three
    corpus scans and O(dim) driver state.

    Cross-engine mechanics: components micro-quantize to integer units
    BEFORE any accumulation, every dot product and column sum runs in
    the DECIMAL(38,0)/HUGEINT convention (exact — no float summation-
    order hazard), and the per-step rescale is truncating integer
    division by max|w| on both engines. The all-zero corpus degenerates
    to the zero vector, never a division error.

    Scale shape: per iteration, the per-vector dot is a NARROW array
    fold over the memoized quantized leaf (no explode survives a
    shuffle), the column sums are one posexplode into a map-side-
    combined ≤ dim-group aggregate, and only the ≤ dim-row result is
    collected to re-seed the next pass (the bounded driver-scalar class:
    BPE argmax, IVF cell census). The FINAL pass stays a distributed
    plan — the returned DataFrame ends at a broadcast of the single-row
    max, not a collect.
    """
    rel = _pi_units_rel(spark, sf_dir)
    # The per-VECTOR dot folds accumulate in LONG: |dot| ≤ dim·|eu|·|v|
    # ≤ dim·(1e6·max|x|)·1e6, corpus-size-independent — safe through
    # dim·max|x| ≈ 9e6 (e.g. 4096 dims at |x| ≤ 100), far past any
    # embedding payload. Only the column sums (Σ over the corpus) need
    # the DECIMAL(38,0) accumulator. (Round-16 stress: the decimal fold
    # was ~4x the codegen cost of the long fold per pass.)
    zero = F.lit(0).cast("long")

    def column_sums(dot_col) -> DataFrame:
        scored = rel.select(
            F.posexplode("eu").alias("pos", "e"), dot_col.alias("dot")
        )
        return scored.groupBy("pos").agg(
            F.sum(F.col("e").cast("decimal(38,0)") * F.col("dot")).alias("w")
        )

    def rescale_driver(w_rows) -> list:
        vals = {int(r["pos"]): int(r["w"]) for r in w_rows}
        if not vals:
            return []
        m = max(abs(v) for v in vals.values())
        out = []
        for p in range(max(vals) + 1):
            w = vals.get(p, 0)
            if m == 0:
                out.append(0)
            else:
                q = (abs(w) * _PI_SCALE) // m  # truncation toward zero
                out.append(q if w >= 0 else -q)
        return out

    # iteration 1: v0 = all-ones (1e6 units) — the dot needs no array
    dot1 = (
        F.aggregate(F.col("eu"), zero, lambda acc, x: acc + x)
        * F.lit(_PI_SCALE)
    )
    v = rescale_driver(column_sums(dot1).collect()) or [0]
    for _ in range(_PI_ITERS - 2):
        v_arr = F.array([F.lit(x).cast("long") for x in v])
        dot_k = F.aggregate(
            F.zip_with(F.col("eu"), v_arr, lambda x, y: x * y),
            zero,
            lambda acc, x: acc + x,
        )
        v = rescale_driver(column_sums(dot_k).collect()) or [0]
    # final iteration stays distributed: broadcast the single-row max
    v_arr = F.array([F.lit(x).cast("long") for x in v])
    dot_f = F.aggregate(
        F.zip_with(F.col("eu"), v_arr, lambda x, y: x * y),
        zero,
        lambda acc, x: acc + x,
    )
    w3 = column_sums(dot_f)
    m3 = F.broadcast(w3.agg(F.max(F.abs(F.col("w"))).alias("m")))
    return (
        w3.crossJoin(m3)
        .select(
            F.col("pos").cast("int").alias("pos"),
            F.expr(
                "CAST(CASE WHEN m = 0 THEN 0"
                f" ELSE w * {_PI_SCALE} div m END AS BIGINT)"
            ).alias("pc1_units"),
        )
        .orderBy("pos")
    )


# --- round 16: int8-quantization recall eval ------------------------------------

# Local-top-k chunk fan-out for the int8 rerank (the _twophase_topk
# tree-reduction trick: per-(query, chunk) local winners, then a tiny
# guarded merge — never a per-query sort of the corpus).
_I8_CHUNKS = 32


def _i8_codes_rel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, c) — per-vector int8 code arrays for the positive-norm
    corpus, memoized behind a localCheckpoint leaf (the _pi_units_rel
    discipline). Round-16 stress lesson: computed inline, the quantize
    fold was re-evaluated by every consumer expression (the n2 fold
    plus one dot fold PER broadcast query) and the per-element
    ``array_max`` scale made it O(dim²) — a 3.5-minute single task at
    100x. The scale is hoisted to its own column (one O(dim) pass) and
    the relation materializes once."""

    def build() -> DataFrame:
        nz = (
            _vec_double(_spread_embeddings(spark, sf_dir))
            .withColumn("n2f", F.expr(_DOT.format(a="v", b="v")))
            .filter(F.col("n2f") > 0)
        )
        return nz.select(
            "vec_id",
            F.expr("array_max(transform(v, y -> abs(y)))").alias("scale"),
            "v",
        ).select(
            "vec_id",
            F.expr(
                "transform(v, x -> CAST(CASE WHEN scale = 0 THEN 0"
                " ELSE floor(x / scale * 127 + 0.5) END AS BIGINT))"
            ).alias("c"),
        )

    return memo_df(f"i8_codes:{sf_dir}", spark, build, cut_lineage=True)


@query(
    "embed_int8_recall_eval",
    oracle=f"""
    WITH nz AS (SELECT * FROM embeddings WHERE {_SQL_POS_NORM}),
    codes AS (
        SELECT vec_id,
               list_transform(
                   CAST(embedding AS DOUBLE[]),
                   x -> CAST(CASE
                        WHEN list_max(list_transform(
                                 CAST(embedding AS DOUBLE[]),
                                 y -> abs(y))) = 0 THEN 0
                        ELSE floor(x / list_max(list_transform(
                                 CAST(embedding AS DOUBLE[]),
                                 y -> abs(y))) * 127 + 0.5)
                        END AS BIGINT)) AS c
        FROM nz),
    q AS (SELECT vec_id AS query_id, embedding AS qe
          FROM nz WHERE vec_id < {_N_QUERIES}),
    gt_scored AS (
        SELECT q.query_id, c.vec_id AS candidate_id,
               {_SQL_COS.format(a='q.qe', b='c.embedding')} AS cos
        FROM q JOIN nz c ON c.vec_id <> q.query_id),
    gt AS (SELECT query_id, candidate_id FROM (
               SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                          ORDER BY cos DESC, candidate_id) AS rnk
               FROM gt_scored) WHERE rnk <= {_TOPK}),
    qc AS (SELECT query_id, c FROM codes JOIN q ON codes.vec_id = q.query_id),
    cand AS (SELECT vec_id, c,
                    list_dot_product(CAST(c AS DOUBLE[]),
                                     CAST(c AS DOUBLE[])) AS n2
             FROM codes),
    i8_scored AS (
        SELECT qc.query_id, cand.vec_id AS candidate_id,
               list_dot_product(CAST(qc.c AS DOUBLE[]),
                                CAST(cand.c AS DOUBLE[]))
               / sqrt(list_dot_product(CAST(qc.c AS DOUBLE[]),
                                       CAST(qc.c AS DOUBLE[])) * cand.n2)
                   AS cos8
        FROM qc JOIN cand ON cand.vec_id <> qc.query_id
        WHERE cand.n2 > 0),
    i8 AS (SELECT query_id, candidate_id FROM (
               SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                          ORDER BY cos8 DESC, candidate_id) AS rnk
               FROM i8_scored) WHERE rnk <= {_TOPK})
    SELECT gt.query_id,
           CAST(COUNT(i8.candidate_id) AS BIGINT) AS n_hits,
           CAST(COUNT(i8.candidate_id) * 1000000 // {_TOPK} AS BIGINT)
               AS recall_ppm
    FROM gt LEFT JOIN i8
      ON i8.query_id = gt.query_id AND i8.candidate_id = gt.candidate_id
    GROUP BY gt.query_id ORDER BY gt.query_id
    """,
)
def embed_int8_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of int8-quantized search against exact float search —
    the eval that decides whether the 4× storage/bandwidth win of
    ``embed_quantize_int8``'s symmetric codes costs any retrieval
    quality (it usually doesn't; this measures instead of guessing,
    the ``simsearch_recall_eval`` discipline applied to quantization
    rather than indexing).

    Mechanics: candidates quantize per vector (codes ∈ [-127,127],
    exact integers from explicit floor(x+0.5)); int8 cosine ranks by
    doubles computed FROM identical exact integers on both engines
    (IEEE sqrt/divide are correctly rounded, so the ranking — ties by
    candidate_id — is engine-independent); recall is integer ppm.

    Scale shape: the query set broadcasts; scoring is a narrow fold
    over the spread scan; per-query winners come from a local
    top-k per (query, candidate-chunk) then a guarded ≤ chunks·k merge
    (the _twophase_topk tree reduction), never a per-query global sort;
    the eval join is |queries|·k rows.
    """
    from pyspark.sql import Window

    codes = _i8_codes_rel(spark, sf_dir)
    gt = _exact_topk_gt(spark, sf_dir).select("query_id", "candidate_id")
    qc = F.broadcast(
        codes.filter(F.col("vec_id") < _N_QUERIES).select(
            F.col("vec_id").alias("query_id"), F.col("c").alias("qc")
        )
    )
    cand = codes.withColumn(
        "n2",
        F.aggregate(
            F.zip_with(F.col("c"), F.col("c"), lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
    ).filter(F.col("n2") > 0)
    scored = cand.join(qc, F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        F.col("vec_id").alias("candidate_id"),
        (
            F.aggregate(
                F.zip_with(F.col("qc"), F.col("c"), lambda x, y: x * y),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).cast("double")
            / F.sqrt(
                (
                    F.aggregate(
                        F.zip_with(
                            F.col("qc"), F.col("qc"), lambda x, y: x * y
                        ),
                        F.lit(0).cast("long"),
                        lambda acc, x: acc + x,
                    )
                    * F.col("n2")
                ).cast("double")
            )
        ).alias("cos8"),
    )
    w_local = Window.partitionBy(
        "query_id", F.pmod(F.col("candidate_id"), F.lit(_I8_CHUNKS))
    ).orderBy(F.col("cos8").desc(), "candidate_id")
    local = scored.withColumn("lrnk", F.row_number().over(w_local)).filter(
        F.col("lrnk") <= _TOPK
    )
    w_merge = Window.partitionBy("query_id").orderBy(
        F.col("cos8").desc(), "candidate_id"
    )
    i8 = local.withColumn("rnk", F.row_number().over(w_merge)).filter(
        F.col("rnk") <= _TOPK
    ).select("query_id", "candidate_id")
    hit = gt.alias("g").join(
        i8.alias("a"),
        (F.col("g.query_id") == F.col("a.query_id"))
        & (F.col("g.candidate_id") == F.col("a.candidate_id")),
        "left",
    )
    return (
        hit.groupBy(F.col("g.query_id").alias("query_id"))
        .agg(
            F.count(F.col("a.candidate_id")).cast("long").alias("n_hits"),
            F.expr(
                f"CAST(COUNT(a.candidate_id) * 1000000 div {_TOPK}"
                " AS BIGINT)"
            ).alias("recall_ppm"),
        )
        .orderBy("query_id")
    )
