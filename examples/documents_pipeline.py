"""LLM training-data curation pipeline on the engine's own framework.

The §2C operators composed the way a data-curation team would deploy
them: bronze ingest of the raw document dump → silver curation (exact
dedup, quality gate, token budgeting via the whitespace and BPE-style
tokenizers) → gold per-language corpus statistics. Every hop is an
``@etl`` pipeline with declared, verified schemas — the reference's
framework (etl.py:145-217) carrying the engine's LLM operators.

All transforms are built-in expressions (no UDFs): dedup is one shuffle
on md5(text), quality and token stats are narrow projections, the gold
rollup is a single hash agg — the pipeline streams at scan speed over a
100 TB dump.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from jorvik_spark.pipelines import ETL, FileInput, FileOutput, etl
from jorvik_spark.queries.text_analysis import (
    _BPE_PAT,
    _PII_EMAIL,
    _PII_URL,
    _STOPWORDS,
    _TOKENS,
)

DOCUMENTS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)

CURATED_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
        StructField("n_tokens", LongType()),
        StructField("n_bpe_tokens", LongType()),
        StructField("stopword_ratio", DoubleType()),
    ]
)

CORPUS_STATS_SCHEMA = StructType(
    [
        StructField("lang", StringType()),
        StructField("n_docs", LongType()),
        StructField("total_tokens", LongType()),
        StructField("total_bpe_tokens", LongType()),
        StructField("avg_doc_tokens", DoubleType()),
    ]
)

# Quality gate: drop docs that are too short to train on, that look like
# boilerplate (almost no stopwords => listings/code/noise), or that are
# dominated by repeated bigrams (looping templates — Gopher-style gate).
MIN_TOKENS = 5
MIN_STOPWORD_RATIO = 0.01
MAX_DUP_BIGRAM_RATIO = 0.5

# The engine's English stopword list (text_analysis._STOPWORDS) — imported
# so the example's quality gate and text_quality_score/text_language_id
# cannot silently disagree on what counts as a stopword.
_STOP_EN = _STOPWORDS["en"]


def make_bronze_documents(sf_dir: str, lake: str) -> ETL:
    """Bronze: schema-verified ingest of the raw document dump."""
    raw = FileInput(path=f"{sf_dir}/documents.parquet", schema=DOCUMENTS_SCHEMA)
    bronze = FileOutput(
        path=f"{lake}/bronze/documents", mode="overwrite", schema=DOCUMENTS_SCHEMA
    )

    @etl(raw, bronze)
    def ingest_documents(docs: DataFrame) -> DataFrame:
        return docs

    return ingest_documents


def make_silver_curated(lake: str) -> ETL:
    """Silver: scrub-aware exact dedup (keep lowest doc_id per REDACTED
    content hash, so docs differing only in emails/URLs collapse),
    quality + repetition gates, and token budgets — partitioned by
    language for downstream per-language sampling."""
    bronze = FileInput(path=f"{lake}/bronze/documents", schema=DOCUMENTS_SCHEMA)
    silver = FileOutput(
        path=f"{lake}/silver/curated",
        mode="overwrite",
        partition_fields="lang",
        schema=CURATED_SCHEMA,
    )

    @etl(bronze, silver)
    def curate_documents(docs: DataFrame) -> DataFrame:
        from pyspark.sql import Window

        # Dedup on the scrubbed fingerprint (text_scrub_pii semantics):
        # contact details and tracking links differ between otherwise
        # identical mirror copies and must not defeat exact dedup.
        scrubbed_key = F.md5(
            F.expr(
                f"regexp_replace(regexp_replace(text, '{_PII_EMAIL}', "
                f"'<EMAIL>'), '{_PII_URL}', '<URL>')"
            )
        )
        keep_first = Window.partitionBy(scrubbed_key).orderBy("doc_id")
        toks = F.expr(_TOKENS)
        bigrams = F.expr(
            "if(size(t) >= 2, transform(sequence(1, size(t) - 1), "
            "i -> concat_ws(' ', element_at(t, i), element_at(t, i + 1))), "
            "array())"
        )
        dup_bigram_ratio = F.when(F.size("bg") == 0, F.lit(0.0)).otherwise(
            F.lit(1.0) - F.size(F.array_distinct("bg")) * F.lit(1.0) / F.size("bg")
        )
        stop_hits = F.size(
            F.expr(
                "filter(t, x -> x IN ({}))".format(
                    ", ".join(f"'{w}'" for w in _STOP_EN)
                )
            )
        )
        return (
            docs.withColumn("rn", F.row_number().over(keep_first))
            .filter(F.col("rn") == 1)
            .withColumn("t", toks)
            .withColumn("n_tokens", F.size("t").cast("long"))
            .withColumn(
                "n_bpe_tokens",
                F.size(
                    F.regexp_extract_all(F.lower("text"), F.lit(_BPE_PAT), 0)
                ).cast("long"),
            )
            .withColumn(
                "stopword_ratio",
                stop_hits / F.greatest(F.col("n_tokens"), F.lit(1)),
            )
            .withColumn("bg", bigrams)
            .filter(
                (F.col("n_tokens") >= MIN_TOKENS)
                & (
                    (F.col("lang") != "en")
                    | (F.col("stopword_ratio") >= MIN_STOPWORD_RATIO)
                )
                & (dup_bigram_ratio <= MAX_DUP_BIGRAM_RATIO)
            )
            .select(
                "doc_id", "text", "lang", "source", "n_chars",
                "n_tokens", "n_bpe_tokens", "stopword_ratio",
            )
        )

    return curate_documents


def make_gold_corpus_stats(lake: str) -> ETL:
    """Gold: per-language token budget — what a pretraining data mixer
    reads to weight corpus sampling."""
    silver = FileInput(path=f"{lake}/silver/curated", schema=CURATED_SCHEMA)
    gold = FileOutput(
        path=f"{lake}/gold/corpus_stats",
        mode="overwrite",
        schema=CORPUS_STATS_SCHEMA,
    )

    @etl(silver, gold)
    def corpus_stats(curated: DataFrame) -> DataFrame:
        return curated.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum("n_bpe_tokens").alias("total_bpe_tokens"),
            F.avg("n_tokens").alias("avg_doc_tokens"),
        )

    return corpus_stats


def run_pipeline(sf_dir: str, lake: str) -> None:
    """bronze → silver → gold, in dependency order."""
    make_bronze_documents(sf_dir, lake).run()
    make_silver_curated(lake).run()
    make_gold_corpus_stats(lake).run()


# --- round 15: the FULL curation funnel (r14 verdict item #5) ----------------
#
# Silver/gold hops a 100 TB pipeline team runs after the exact-dedup +
# quality gate: near-dedup (banded MinHash + star-contraction
# components), decontamination against the held-out eval split,
# temperature sampling, sequence packing, and the shard manifest — each
# an @etl hop with a declared schema, each reusing the ENGINE's own
# expressions/constants so the example can never drift from the
# registered operators. gold/funnel publishes the attrition table and
# tests/test_documents_pipeline.py pins its additive-drops invariant
# (the corpus_curation_funnel contract: n_raw − Σ drops = survivors).

SAMPLED_SCHEMA = StructType(
    CURATED_SCHEMA.fields + [StructField("keep_rate", DoubleType())]
)

PACKED_SCHEMA = StructType(
    [
        StructField("lang", StringType()),
        StructField("doc_id", LongType()),
        StructField("n_tokens", LongType()),
        StructField("pack_id", LongType()),
        StructField("offset_in_pack", LongType()),
    ]
)

SHARDS_SCHEMA = StructType(
    [
        StructField("lang", StringType()),
        StructField("shard_id", LongType()),
        StructField("n_packs", LongType()),
        StructField("n_docs", LongType()),
        StructField("n_tokens", LongType()),
    ]
)

FUNNEL_SCHEMA = StructType(
    [
        StructField("stage", LongType()),
        StructField("stage_name", StringType()),
        StructField("n_surviving", LongType()),
        StructField("n_dropped_here", LongType()),
    ]
)

# Packing/sharding knobs — the engine's own constants (sampling.py), so
# the example's packs are the registered operator's packs.
from jorvik_spark.queries.sampling import (  # noqa: E402
    _PACK_BUDGET,
    _PACK_CHUNK,
    _VAL_LO,
)
from jorvik_spark.queries.registry import (  # noqa: E402
    hash_bucket as _bucket,
)

_PACKS_PER_SHARD = 64


def make_silver_near_dedup(lake: str) -> ETL:
    """Silver: near-duplicate collapse — banded MinHash (the engine's
    band geometry via ``bands_of_docs``) + O(log n) star-contraction
    components; each near-dup cluster keeps its smallest doc_id."""
    from jorvik_spark.queries.components import star_contract_components
    from jorvik_spark.queries.dedup import bands_of_docs

    curated = FileInput(path=f"{lake}/silver/curated", schema=CURATED_SCHEMA)
    out = FileOutput(
        path=f"{lake}/silver/near_dedup", mode="overwrite", schema=CURATED_SCHEMA
    )

    @etl(curated, out)
    def near_dedup(docs: DataFrame) -> DataFrame:
        bands = bands_of_docs(docs)
        pairs = (
            bands.alias("a")
            .join(
                bands.alias("b"),
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.key") == F.col("b.key"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(F.col("a.doc_id").alias("a"), F.col("b.doc_id").alias("b"))
            .distinct()
        )
        comps = star_contract_components(pairs, "doc_id", "comp")
        return (
            docs.join(comps, "doc_id", "left")
            .filter(F.col("comp").isNull() | (F.col("comp") == F.col("doc_id")))
            .select(*[f.name for f in CURATED_SCHEMA.fields])
        )

    return near_dedup


def make_silver_decontaminated(lake: str) -> ETL:
    """Silver: decontamination — drop TRAIN-split docs sharing any
    3-token shingle with the held-out val/test split (the engine's
    split convention and shingle width: sampling._VAL_LO, dedup's
    ``_SHINGLES_T``). The held-out docs themselves leave the training
    lake here too — this hop emits the clean TRAIN corpus."""
    from jorvik_spark.queries.dedup import _SHINGLES_T

    src = FileInput(path=f"{lake}/silver/near_dedup", schema=CURATED_SCHEMA)
    out = FileOutput(
        path=f"{lake}/silver/decontaminated",
        mode="overwrite",
        schema=CURATED_SCHEMA,
    )

    @etl(src, out)
    def decontaminate(docs: DataFrame) -> DataFrame:
        split = docs.withColumn("split_bucket", _bucket("doc_id", "split:"))
        sh = split.withColumn("t", F.expr(_TOKENS)).filter(
            F.size("t") >= 3
        ).select("doc_id", "split_bucket", F.explode(F.expr(_SHINGLES_T)).alias("shingle"))
        held_out = (
            sh.filter(F.col("split_bucket") >= _VAL_LO)
            .select("shingle")
            .distinct()
        )
        contaminated = (
            sh.filter(F.col("split_bucket") < _VAL_LO)
            .join(held_out, "shingle")
            .select("doc_id")
            .distinct()
        )
        return (
            split.filter(F.col("split_bucket") < _VAL_LO)
            .join(contaminated, "doc_id", "left_anti")
            .select(*[f.name for f in CURATED_SCHEMA.fields])
        )

    return decontaminate


def make_silver_sampled(lake: str) -> ETL:
    """Silver: temperature sampling (α = 0.5, the sample_temperature
    operator's exact rate and hash-mod admission) over the clean train
    corpus — over-represented sources thin toward uniform."""
    src = FileInput(path=f"{lake}/silver/decontaminated", schema=CURATED_SCHEMA)
    out = FileOutput(
        path=f"{lake}/silver/sampled", mode="overwrite", schema=SAMPLED_SCHEMA
    )

    @etl(src, out)
    def temperature_sample(docs: DataFrame) -> DataFrame:
        shares = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
        mn = shares.agg(F.min("n").alias("n_min"))
        rates = shares.crossJoin(F.broadcast(mn)).select(
            "source",
            F.sqrt(F.col("n_min") * F.lit(1.0) / F.col("n")).alias("keep_rate"),
        )
        return (
            docs.join(F.broadcast(rates), "source")
            .filter(
                _bucket("doc_id", "temp:")
                < F.floor(F.col("keep_rate") * 1000).cast("long")
            )
            .select(
                *[f.name for f in CURATED_SCHEMA.fields],
                F.round("keep_rate", 6).alias("keep_rate"),
            )
        )

    return temperature_sample


def make_gold_packed(lake: str) -> ETL:
    """Gold: fixed-budget sequence packing per language — the
    pack_sequences two-level prefix sum (chunk-local cumsum + a tiny
    cross-chunk rollup; no global sort) over the sampled corpus."""
    src = FileInput(path=f"{lake}/silver/sampled", schema=SAMPLED_SCHEMA)
    out = FileOutput(
        path=f"{lake}/gold/packed", mode="overwrite", schema=PACKED_SCHEMA
    )

    @etl(src, out)
    def pack(docs: DataFrame) -> DataFrame:
        from pyspark.sql import Window

        chunked = docs.select(
            "lang", "doc_id", "n_tokens"
        ).withColumn("chunk", F.expr(f"doc_id div {_PACK_CHUNK}"))
        win = Window.partitionBy("lang", "chunk").orderBy("doc_id")
        local = chunked.withColumn(
            "local_cum", F.sum("n_tokens").over(win)
        )
        chunk_tot = chunked.groupBy("lang", "chunk").agg(
            F.sum("n_tokens").alias("chunk_tokens")
        )
        cwin = (
            Window.partitionBy("lang")
            .orderBy("chunk")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        prefix = chunk_tot.withColumn(
            "chunk_prefix", F.coalesce(F.sum("chunk_tokens").over(cwin), F.lit(0))
        ).select("lang", "chunk", "chunk_prefix")
        return (
            local.join(prefix, ["lang", "chunk"])
            .withColumn(
                "start", F.col("chunk_prefix") + F.col("local_cum") - F.col("n_tokens")
            )
            .select(
                "lang",
                "doc_id",
                "n_tokens",
                F.expr(f"start div {_PACK_BUDGET}").cast("long").alias("pack_id"),
                (F.col("start") % _PACK_BUDGET).cast("long").alias(
                    "offset_in_pack"
                ),
            )
        )

    return pack


def make_gold_shards(lake: str) -> ETL:
    """Gold: the shard manifest a dataloader consumes — 64 packs per
    shard, counts and token mass per (lang, shard)."""
    src = FileInput(path=f"{lake}/gold/packed", schema=PACKED_SCHEMA)
    out = FileOutput(
        path=f"{lake}/gold/shards", mode="overwrite", schema=SHARDS_SCHEMA
    )

    @etl(src, out)
    def shard_manifest(packed: DataFrame) -> DataFrame:
        return (
            packed.groupBy(
                "lang",
                F.expr(f"pack_id div {_PACKS_PER_SHARD}").cast("long").alias(
                    "shard_id"
                ),
            )
            .agg(
                F.countDistinct("pack_id").cast("long").alias("n_packs"),
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum("n_tokens").cast("long").alias("n_tokens"),
            )
        )

    return shard_manifest


def make_gold_funnel(lake: str) -> ETL:
    """Gold: the attrition table across EVERY hop — the
    corpus_curation_funnel contract (cumulative stages, additive drops:
    n_raw − Σ n_dropped_here = final survivors) extended to the full
    silver/gold chain."""
    ins = [
        FileInput(path=f"{lake}/bronze/documents", schema=DOCUMENTS_SCHEMA),
        FileInput(path=f"{lake}/silver/curated", schema=CURATED_SCHEMA),
        FileInput(path=f"{lake}/silver/near_dedup", schema=CURATED_SCHEMA),
        FileInput(path=f"{lake}/silver/decontaminated", schema=CURATED_SCHEMA),
        FileInput(path=f"{lake}/silver/sampled", schema=SAMPLED_SCHEMA),
    ]
    out = FileOutput(
        path=f"{lake}/gold/funnel", mode="overwrite", schema=FUNNEL_SCHEMA
    )

    @etl(ins, out)
    def funnel(bronze, curated, near_dedup, decontaminated, sampled):
        names = [
            "raw",
            "exact_dedup_quality",
            "near_dedup",
            "decontaminated",
            "temperature_sampled",
        ]
        counts = [
            df.count()
            for df in (bronze, curated, near_dedup, decontaminated, sampled)
        ]
        spark = bronze.sparkSession
        rows = [
            (
                i,
                names[i],
                counts[i],
                0 if i == 0 else counts[i - 1] - counts[i],
            )
            for i in range(len(names))
        ]
        return spark.createDataFrame(rows, FUNNEL_SCHEMA)

    return funnel


def run_full_funnel(sf_dir: str, lake: str) -> None:
    """bronze → silver (curate, near-dedup, decontaminate, sample) →
    gold (pack, shards, funnel), in dependency order."""
    run_pipeline(sf_dir, lake)
    make_silver_near_dedup(lake).run()
    make_silver_decontaminated(lake).run()
    make_silver_sampled(lake).run()
    make_gold_packed(lake).run()
    make_gold_shards(lake).run()
    make_gold_funnel(lake).run()
