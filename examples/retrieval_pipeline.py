"""ANN retrieval-serving pipeline: index build → persisted artifacts →
lake-served top-k, on the engine's own ETL framework.

The embedding-side complement of the curation story in
``documents_pipeline``: a serving team builds the IVF+PQ index ONCE
(bronze → silver), persists it as plain parquet tables (the index at
100 TB is 8 bytes/vector + a cell id — the point of PQ), and then every
query run reads the small artifacts instead of re-quantizing the corpus.
Gold serves retrieve-then-rerank off the persisted index and is pinned
row-equal to the engine's in-memory ``simsearch_rerank_twophase`` query
(tests/test_retrieval_example.py) — build-once/serve-many and
compute-on-demand must be the same answer.

Framework parity: every hop is an ``@etl`` pipeline with declared,
verified schemas (reference etl.py:145-217); the index stage shows the
framework's multi-output form (one transform, three artifact tables).

Geometry constants are imported from the engine's similarity module so
the example's index can never drift from the operators' (the same
reason documents_pipeline imports the scrub regexes).

Scale notes (100 TB):
  * The index build is one corpus pass: home cell = argmin over the
    broadcast coarse centroids, PQ codes = argmin over the broadcast
    per-subspace codebooks — no corpus self-join anywhere.
  * The index table is partitioned by cell, so a serving read that
    filters to the probed cells prunes partitions at the scan.
  * Serving touches full vectors ONLY for the shortlist (queries ×
    shortlist-depth rows) — phase 2 adds no corpus shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from jorvik_spark.pipelines import ETL, FileInput, FileOutput, etl
from jorvik_spark.queries.registry import spark_units, units
from jorvik_spark.queries.similarity import (
    _DOT,
    _EUCL,
    _IVF_NPROBE,
    _N_QUERIES,
    _PQ_DIM,
    _PQ_K,
    _PQ_M,
    _PQ_SQD,
    _PQ_SUB,
    _RERANK_SHORTLIST,
    _TOPK,
    ivf_k,
)

EMB_SCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
        StructField("label", IntegerType()),
    ]
)

# The persisted serving index: one row per (vector, subspace) carrying
# the home cell and the PQ code — 8 one-byte codes + a cell id is all a
# candidate contributes at query time.
# ``cell`` is IntegerType everywhere: it is the index table's partition
# column, and partition values round-trip through directory names as
# int — declaring long would fail the read-side schema verification.
INDEX_SCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("cell", IntegerType()),
        StructField("m", IntegerType()),
        StructField("code", LongType()),
    ]
)

COARSE_SCHEMA = StructType(
    [
        StructField("cell", IntegerType()),
        StructField("cv", ArrayType(DoubleType())),
    ]
)

CODEBOOK_SCHEMA = StructType(
    [
        StructField("m", IntegerType()),
        StructField("code", LongType()),
        StructField("c", ArrayType(DoubleType())),
    ]
)

TOPK_SCHEMA = StructType(
    [
        StructField("query_id", LongType()),
        StructField("candidate_id", LongType()),
        StructField("cosine", DoubleType()),
        StructField("rank", IntegerType()),
    ]
)

# Per-subspace slice of the double-cast vector (1-based slice bounds).
_SUBVECTORS = (
    f"transform(sequence(0, {_PQ_M - 1}), "
    f"m -> slice(v, m * {_PQ_SUB} + 1, {_PQ_SUB}))"
)


def _vectors(emb: DataFrame) -> DataFrame:
    """Every vector as array<double> + norm², unscreened."""
    return emb.withColumn(
        "v", F.expr("transform(embedding, x -> cast(x AS double))")
    ).withColumn("n2", F.expr(_DOT.format(a="v", b="v")))


# The engine applies DIFFERENT eligibility screens per artifact, and the
# example must mirror each exactly or the persisted index drifts from
# simsearch_rerank_twophase (the row-equality the test pins): the IVF
# quantizer and every cosine step screen on POSITIVE NORM ONLY
# (_ivf_assign — a wrong-dimension vector with positive norm is still
# assigned a cell), while the PQ subspace path screens on DIMENSION ONLY
# (_pq_subs — a zero-norm in-dimension vector IS a codebook centroid and
# gets codes; pinned by the dirty-embeddings fixture).


def _pos_norm(emb: DataFrame) -> DataFrame:
    """The IVF/cosine screen: positive norm, any dimension."""
    return _vectors(emb).filter(F.col("n2") > 0)


def _in_dim(emb: DataFrame) -> DataFrame:
    """The PQ screen: exact dimension, any norm."""
    return _vectors(emb).filter(F.size("embedding") == _PQ_DIM)


def make_bronze_embeddings(sf_dir: str, lake: str) -> ETL:
    """Bronze: schema-verified ingest of the raw embedding dump."""
    raw = FileInput(path=f"{sf_dir}/embeddings.parquet", schema=EMB_SCHEMA)
    bronze = FileOutput(
        path=f"{lake}/bronze/embeddings", mode="overwrite", schema=EMB_SCHEMA
    )

    @etl(raw, bronze)
    def ingest_embeddings(emb: DataFrame) -> DataFrame:
        return emb

    return ingest_embeddings


def make_silver_ann_index(lake: str) -> ETL:
    """Silver: ONE corpus pass builds all three index artifacts — the
    coarse centroid table, the per-subspace PQ codebooks, and the
    (cell, codes) index itself, partitioned by cell for probe-time
    partition pruning. Deterministic "training" (the ivf_k(n)
    md5-rank-smallest vectors are the coarse centroids — the engine's
    corpus-adaptive K and round-13 hash-spread seed, computed here from
    the same positive-norm count — first _PQ_K subvectors the
    codebooks)
    exactly as the engine's operators define it, so the persisted index
    answers queries identically to the in-memory quantizer."""
    bronze = FileInput(path=f"{lake}/bronze/embeddings", schema=EMB_SCHEMA)
    out_index = FileOutput(
        path=f"{lake}/silver/ann_index",
        mode="overwrite",
        partition_fields="cell",
        schema=INDEX_SCHEMA,
    )
    out_coarse = FileOutput(
        path=f"{lake}/silver/coarse_centroids",
        mode="overwrite",
        schema=COARSE_SCHEMA,
    )
    out_codebooks = FileOutput(
        path=f"{lake}/silver/pq_codebooks",
        mode="overwrite",
        schema=CODEBOOK_SCHEMA,
    )

    @etl(bronze, [out_index, out_coarse, out_codebooks])
    def build_index(emb: DataFrame):
        ivf = _pos_norm(emb)
        from jorvik_spark.queries.similarity import _seed_rank_cols

        coarse = (
            ivf.orderBy(*_seed_rank_cols())
            .limit(ivf_k(ivf.count()))
        ).select(
            F.col("vec_id").cast("int").alias("cell"),
            F.col("v").alias("cv"),
        )
        # home cell: argmin Euclidean over the broadcast centroids,
        # 6-decimal rounding + cell tiebreak exactly as _ivf_assign.
        dist = F.round(F.expr(_EUCL.format(a="v", b="cv")), 6)
        w_cell = Window.partitionBy("vec_id").orderBy("dist", "cell")
        cells = (
            ivf.crossJoin(F.broadcast(coarse))
            .withColumn("dist", dist)
            .withColumn("rn", F.row_number().over(w_cell))
            .filter(F.col("rn") == 1)
            .select("vec_id", "cell")
        )
        subs = _in_dim(emb).select(
            "vec_id",
            F.posexplode(F.expr(_SUBVECTORS)).alias("m", "s"),
        )
        codebooks = subs.filter(F.col("vec_id") < _PQ_K).select(
            "m", F.col("vec_id").alias("code"), F.col("s").alias("c")
        )
        sqd = F.round(F.expr(_PQ_SQD), 6)
        w_code = Window.partitionBy("vec_id", "m").orderBy("sqd", "code")
        codes = (
            subs.join(F.broadcast(codebooks), "m")
            .withColumn("sqd", sqd)
            .withColumn("rn", F.row_number().over(w_code))
            .filter(F.col("rn") == 1)
            .select("vec_id", "m", "code")
        )
        index = cells.join(codes, "vec_id").select(
            "vec_id", "cell", "m", "code"
        )
        return index, coarse, codebooks

    return build_index


def make_gold_topk(lake: str) -> ETL:
    """Gold: retrieve-then-rerank SERVED from the persisted artifacts —
    probe the coarse centroids for each query's nearest cells, score the
    probed cells' PQ codes by asymmetric distance (integer micro-units,
    same exactness contract as the engine's dsum), shortlist, and rerank
    only the shortlist with exact cosines from bronze."""
    in_index = FileInput(path=f"{lake}/silver/ann_index", schema=INDEX_SCHEMA)
    in_coarse = FileInput(
        path=f"{lake}/silver/coarse_centroids", schema=COARSE_SCHEMA
    )
    in_codebooks = FileInput(
        path=f"{lake}/silver/pq_codebooks", schema=CODEBOOK_SCHEMA
    )
    in_emb = FileInput(path=f"{lake}/bronze/embeddings", schema=EMB_SCHEMA)
    gold = FileOutput(
        path=f"{lake}/gold/topk", mode="overwrite", schema=TOPK_SCHEMA
    )

    @etl([in_index, in_coarse, in_codebooks, in_emb], gold)
    def serve_topk(
        index: DataFrame,
        coarse: DataFrame,
        codebooks: DataFrame,
        emb: DataFrame,
    ) -> DataFrame:
        queries = _pos_norm(emb).filter(F.col("vec_id") < _N_QUERIES)
        # probes: each query's _IVF_NPROBE nearest cells.
        dist = F.round(F.expr(_EUCL.format(a="v", b="cv")), 6)
        w_probe = Window.partitionBy("vec_id").orderBy("dist", "cell")
        probes = (
            queries.crossJoin(F.broadcast(coarse))
            .withColumn("dist", dist)
            .withColumn("rn", F.row_number().over(w_probe))
            .filter(F.col("rn") <= _IVF_NPROBE)
            .select(F.col("vec_id").alias("query_id"), "cell")
        )
        # query→codebook distance table, exact integer micro-units.
        qsubs = (
            _in_dim(emb)
            .filter(F.col("vec_id") < _N_QUERIES)
            .select(
                F.col("vec_id").alias("query_id"),
                F.posexplode(F.expr(_SUBVECTORS)).alias("m", "s"),
            )
        )
        qd = F.broadcast(
            qsubs.join(F.broadcast(codebooks), "m").select(
                "query_id",
                "m",
                "code",
                units(f"round({_PQ_SQD}, 6)").alias("qd_u"),
            )
        )
        # ADC over the probed cells of the persisted index.
        adc = (
            probes.join(index, "cell")
            .filter(F.col("vec_id") != F.col("query_id"))
            .join(qd, ["query_id", "m", "code"])
            .groupBy("query_id", F.col("vec_id").alias("candidate_id"))
            .agg(F.sum("qd_u").alias("adc_u"))
        )
        w_short = Window.partitionBy("query_id").orderBy(
            "adc_u", "candidate_id"
        )
        short = (
            adc.withColumn("srn", F.row_number().over(w_short))
            .filter(F.col("srn") <= _RERANK_SHORTLIST)
            .select("query_id", "candidate_id")
        )
        # exact-cosine rerank of ONLY the shortlist.
        qv = queries.select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("n2").alias("nq"),
        )
        probe = F.broadcast(short.join(qv, "query_id"))
        cosine = F.round(
            F.expr(_DOT.format(a="qv", b="v")) / (F.sqrt("nq") * F.sqrt("n2")),
            6,
        )
        w_rank = Window.partitionBy("query_id").orderBy(
            F.desc("cosine"), F.asc("candidate_id")
        )
        return (
            _pos_norm(emb)
            .select(F.col("vec_id").alias("candidate_id"), "v", "n2")
            .join(probe, "candidate_id")
            .select("query_id", "candidate_id", cosine.alias("cosine"))
            .withColumn("rank", F.row_number().over(w_rank).cast("int"))
            .filter(F.col("rank") <= _TOPK)
            .select("query_id", "candidate_id", "cosine", "rank")
        )

    return serve_topk


def run_pipeline(sf_dir: str, lake: str) -> None:
    """bronze → silver (index artifacts) → gold (served top-k, the
    binary first stage off the sign index, and the JL sketch →
    coarse screen → exact rerank hop)."""
    make_bronze_embeddings(sf_dir, lake).run()
    make_silver_ann_index(lake).run()
    make_gold_topk(lake).run()
    make_silver_sign_index(lake).run()
    make_gold_hamming_topk(lake).run()
    make_silver_jl_sketch(lake).run()
    make_gold_jl_topk(lake).run()


# --- round 14: binarized first-stage (sign index) ---------------------------

SIGN_SCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("w1", LongType()),
        StructField("w2", LongType()),
    ]
)

HAMMING_SCHEMA = StructType(
    [
        StructField("query_id", LongType()),
        StructField("candidate_id", LongType()),
        StructField("hamming", LongType()),
        StructField("rnk", IntegerType()),
    ]
)


def make_silver_sign_index(lake: str) -> ETL:
    """Silver: the 16-byte-per-vector BINARY index — each vector's sign
    bits packed into two 32-bit words with the engine's own positional
    packing expression (``similarity.sign_pack_expr``, imported so the
    persisted artifact can never drift from ``simsearch_hamming_topk``'s
    geometry). One narrow map pass; no screen — Hamming needs no norm,
    zero vectors pack to word 0 by design."""
    from jorvik_spark.queries.similarity import sign_pack_expr

    bronze = FileInput(path=f"{lake}/bronze/embeddings", schema=EMB_SCHEMA)
    out = FileOutput(
        path=f"{lake}/silver/sign_index", mode="overwrite", schema=SIGN_SCHEMA
    )

    @etl(bronze, out)
    def build_sign_index(emb: DataFrame) -> DataFrame:
        return _vectors(emb).select(
            "vec_id",
            F.expr(sign_pack_expr(0)).alias("w1"),
            F.expr(sign_pack_expr(32)).alias("w2"),
        )

    return build_sign_index


def make_gold_hamming_topk(lake: str) -> ETL:
    """Gold: the binary FIRST-STAGE served from the persisted sign
    index alone — XOR+popcount over 16 bytes/candidate, never touching
    a float vector (the stage a 100 TB store runs on its cheap tier;
    the shortlist then feeds the exact rerank exactly as the ADC path
    does). Pinned row-equal to the engine's in-memory
    ``simsearch_hamming_topk`` by the example test."""
    from jorvik_spark.queries.similarity import _HAMMING_TOP_K

    in_sign = FileInput(path=f"{lake}/silver/sign_index", schema=SIGN_SCHEMA)
    gold = FileOutput(
        path=f"{lake}/gold/hamming_topk",
        mode="overwrite",
        schema=HAMMING_SCHEMA,
    )

    @etl(in_sign, gold)
    def serve_hamming(sign: DataFrame) -> DataFrame:
        q = F.broadcast(
            sign.filter(F.col("vec_id") < _N_QUERIES).select(
                F.col("vec_id").alias("query_id"),
                F.col("w1").alias("q1"),
                F.col("w2").alias("q2"),
            )
        )
        dist = F.expr("bit_count(w1 ^ q1) + bit_count(w2 ^ q2)")
        w = Window.partitionBy("query_id").orderBy("hamming", "candidate_id")
        return (
            sign.select(F.col("vec_id").alias("candidate_id"), "w1", "w2")
            .join(q, F.col("candidate_id") != F.col("query_id"))
            .withColumn("hamming", dist.cast("long"))
            .withColumn("rnk", F.row_number().over(w).cast("int"))
            .filter(F.col("rnk") <= _HAMMING_TOP_K)
            .select("query_id", "candidate_id", "hamming", "rnk")
        )

    return serve_hamming


# --- round 16: the JL-sketch serving hop (sketch -> screen -> rerank) --------

JL_SCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("proj_dim", IntegerType()),
        StructField("proj_units", LongType()),
    ]
)

JL_TOPK_SCHEMA = TOPK_SCHEMA

# The JL screen's shortlist depth. Deliberately DEEPER than the PQ-ADC
# path's _RERANK_SHORTLIST: a 16-dim sketch estimates dot products with
# ~1/sqrt(16) relative noise, and on a near-isotropic corpus the true
# top-k cosine margins sit BELOW that resolution — the engine's own
# embed_jl_distortion_census measures exactly this band. The recall
# eval in tests/test_retrieval_example.py pins the measured number on
# the seeded corpus (~0.64 mean recall@5 at depth 128 of 500); a team
# whose margins look like this reads that eval and either deepens the
# shortlist further or serves the PQ path — which is the decision the
# composition exists to surface (measure, don't guess).
_JL_SHORTLIST = 128


def make_silver_jl_sketch(lake: str) -> ETL:
    """Silver: the 16-int-per-vector JL SKETCH index — the engine's
    ``embed_rp16_sketch`` geometry persisted as an artifact (sign matrix
    imported via ``similarity.rp16_sign_col`` so the table can never
    drift from the operator; micro-quantize THEN project, so every
    sketch value is an exact integer). This is the build-once
    compression a 100 TB embedding store runs its coarse screens on:
    16 longs/vector instead of the float payload, distances preserved
    (unlike the sign index, which keeps only directions)."""
    from jorvik_spark.queries.similarity import _RP_DIMS, rp16_sign_col

    bronze = FileInput(path=f"{lake}/bronze/embeddings", schema=EMB_SCHEMA)
    out = FileOutput(
        path=f"{lake}/silver/jl_sketch", mode="overwrite", schema=JL_SCHEMA
    )

    @etl(bronze, out)
    def build_jl_sketch(emb: DataFrame) -> DataFrame:
        ex = _vectors(emb).select(
            "vec_id",
            F.posexplode(
                F.expr(f"transform(v, x -> {spark_units('x')})")
            ).alias("pos", "eu"),
        )
        signs = F.broadcast(
            ex.select("pos")
            .distinct()
            .select(
                "pos",
                F.explode(
                    F.sequence(F.lit(0), F.lit(_RP_DIMS - 1))
                ).alias("proj_dim"),
            )
            .select(
                "pos", "proj_dim", rp16_sign_col().cast("int").alias("sgn")
            )
        )
        return (
            ex.join(signs, "pos")
            .groupBy("vec_id", F.col("proj_dim").cast("int").alias("proj_dim"))
            .agg(
                F.sum(F.col("sgn") * F.col("eu"))
                .cast("long")
                .alias("proj_units")
            )
        )

    return build_jl_sketch


def make_gold_jl_topk(lake: str) -> ETL:
    """Gold: sketch → coarse screen → exact rerank, served entirely from
    persisted artifacts. The screen scores 16-int sketch cosines (the
    distance-preserving JL estimate — ⟨Ra,Rb⟩ ≈ 16⟨a,b⟩), shortlists
    ``_JL_SHORTLIST`` candidates per query, and only the shortlist
    ever touches a full float vector — the serving composition an
    embedding-store team runs when the PQ index is too lossy for the
    workload but full-vector scans are unaffordable. Recall vs the
    exact path is pinned by tests/test_retrieval_example.py (measure,
    don't guess)."""
    in_jl = FileInput(path=f"{lake}/silver/jl_sketch", schema=JL_SCHEMA)
    in_emb = FileInput(path=f"{lake}/bronze/embeddings", schema=EMB_SCHEMA)
    gold = FileOutput(
        path=f"{lake}/gold/jl_topk", mode="overwrite", schema=JL_TOPK_SCHEMA
    )

    @etl([in_jl, in_emb], gold)
    def serve_jl_topk(jl: DataFrame, emb: DataFrame) -> DataFrame:
        # sketch relation in wide form: one row per vector, 16 ints.
        wide = jl.groupBy("vec_id").agg(
            F.array_sort(
                F.collect_list(F.struct("proj_dim", "proj_units"))
            ).alias("sk")
        ).select(
            "vec_id",
            F.expr("transform(sk, s -> s.proj_units)").alias("sk"),
        )
        n2s = F.aggregate(
            F.zip_with(F.col("sk"), F.col("sk"), lambda x, y: x * y),
            F.lit(0).cast("decimal(38,0)"),
            lambda acc, x: acc + x,
        )
        cand = wide.withColumn("n2s", n2s).filter(F.col("n2s") > 0)
        q = F.broadcast(
            cand.filter(F.col("vec_id") < _N_QUERIES).select(
                F.col("vec_id").alias("query_id"),
                F.col("sk").alias("qsk"),
                F.col("n2s").alias("qn2"),
            )
        )
        # sketch-cosine screen: exact integer dot, double only at the
        # final compare (identical inputs -> identical ranking).
        dot = F.aggregate(
            F.zip_with(F.col("qsk"), F.col("sk"), lambda x, y: x * y),
            F.lit(0).cast("decimal(38,0)"),
            lambda acc, x: acc + x,
        )
        scored = cand.join(q, F.col("vec_id") != F.col("query_id")).select(
            "query_id",
            F.col("vec_id").alias("candidate_id"),
            (
                dot.cast("double")
                / F.sqrt((F.col("qn2") * F.col("n2s")).cast("double"))
            ).alias("sk_cos"),
        )
        w_short = Window.partitionBy("query_id").orderBy(
            F.desc("sk_cos"), F.asc("candidate_id")
        )
        short = (
            scored.withColumn("srn", F.row_number().over(w_short))
            .filter(F.col("srn") <= _JL_SHORTLIST)
            .select("query_id", "candidate_id")
        )
        # exact-cosine rerank of ONLY the shortlist (the ADC path's
        # phase-2, reused verbatim).
        queries = _pos_norm(emb).filter(F.col("vec_id") < _N_QUERIES)
        qv = queries.select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("n2").alias("nq"),
        )
        probe = F.broadcast(short.join(qv, "query_id"))
        cosine = F.round(
            F.expr(_DOT.format(a="qv", b="v")) / (F.sqrt("nq") * F.sqrt("n2")),
            6,
        )
        w_rank = Window.partitionBy("query_id").orderBy(
            F.desc("cosine"), F.asc("candidate_id")
        )
        return (
            _pos_norm(emb)
            .select(F.col("vec_id").alias("candidate_id"), "v", "n2")
            .join(probe, "candidate_id")
            .select("query_id", "candidate_id", cosine.alias("cosine"))
            .withColumn("rank", F.row_number().over(w_rank).cast("int"))
            .filter(F.col("rank") <= _TOPK)
            .select("query_id", "candidate_id", "cosine", "rank")
        )

    return serve_jl_topk
