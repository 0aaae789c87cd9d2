"""Deterministic sampling operators over ``documents`` (§2C training-data
pipeline extensions).

Training-data mixing needs *reproducible* sampling: the same doc must land
in the same split on every run, under task retries, repartitioning, and
cluster-size changes. ``df.sample()``/RAND are none of those (per-task RNG
state), so the scale pattern is **hash-mod bucketing**: a stable content
key hashed to a bucket in [0, 1000), with rate/range predicates on the
bucket. Pure narrow expressions — no shuffle, no RNG state, identical on
any engine that has md5 (which is what makes these oracle-checkable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from jorvik_spark.queries.dedup import _SHINGLES_T, _SQL_SHINGLES
from jorvik_spark.queries.registry import (
    guarded_global_window,
    hash_bucket as _bucket,
    memo_df,
    query,
    sql_hash_bucket as _sql_bucket,
)
from jorvik_spark.queries.text_analysis import (
    _SQL_TOKENS,
    _TOKENS as _TOKENS_EXPR,
    _tokenized_docs,
)
from jorvik_spark.tables import load_table

# Per-language sampling rates (per-mille): a data-mixing config —
# downsample the dominant language, keep the rest.
_RATES = {"en": 600, "de": 900, "es": 900, "fr": 900, "zh": 900}
_DEFAULT_RATE = 1000

# train/val/test split boundaries on a second, independent bucket
# (different md5 salt so split and sampling decisions don't correlate).
_VAL_LO, _TEST_LO = 800, 900


_RATE_SQL = "CASE lang " + " ".join(
    f"WHEN '{lang}' THEN {rate}" for lang, rate in _RATES.items()
) + f" ELSE {_DEFAULT_RATE} END"


@query(
    "sample_stratified_split",
    oracle=f"""
    WITH bucketed AS (
        SELECT doc_id, lang,
               {_sql_bucket('doc_id', 'mix:')} AS mix_bucket,
               {_sql_bucket('doc_id', 'split:')} AS split_bucket
        FROM documents)
    SELECT doc_id, lang,
           CASE WHEN split_bucket >= {_TEST_LO} THEN 'test'
                WHEN split_bucket >= {_VAL_LO} THEN 'val'
                ELSE 'train' END AS split
    FROM bucketed
    WHERE mix_bucket < {_RATE_SQL}
    """,
)
def sample_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified downsampling + train/val/test assignment, both by
    deterministic hash-mod buckets on doc_id.

    Two independent salts: the mixing decision (per-language keep rate)
    and the split assignment (80/10/10) must not correlate, or the val
    set would oversample whatever the mixer kept. Every decision is a
    pure function of doc_id — rerunning on 1 or 1000 executors, or after
    a retry, yields byte-identical corpus membership.
    """
    docs = load_table(spark, sf_dir, "documents")
    rate = F.coalesce(
        *[
            F.when(F.col("lang") == lang, F.lit(r))
            for lang, r in _RATES.items()
        ],
        F.lit(_DEFAULT_RATE),
    )
    split_bucket = _bucket("doc_id", "split:")
    return (
        docs.withColumn("mix_bucket", _bucket("doc_id", "mix:"))
        .withColumn("split_bucket", split_bucket)
        .filter(F.col("mix_bucket") < rate)
        .select(
            "doc_id",
            "lang",
            F.when(F.col("split_bucket") >= _TEST_LO, "test")
            .when(F.col("split_bucket") >= _VAL_LO, "val")
            .otherwise("train")
            .alias("split"),
        )
    )


@query(
    "decontaminate_overlap",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               {_SQL_TOKENS} AS t,
               {_sql_bucket('doc_id', 'split:')} AS split_bucket
        FROM documents),
    sh AS (SELECT doc_id, split_bucket, {_SQL_SHINGLES} AS s FROM toks
           WHERE len(t) >= 3),
    train AS (SELECT DISTINCT unnest(s) AS shingle FROM sh
              WHERE split_bucket < {_VAL_LO}),
    test_ex AS (SELECT doc_id, unnest(s) AS shingle FROM sh
                WHERE split_bucket >= {_TEST_LO})
    SELECT DISTINCT doc_id AS contaminated_doc_id
    FROM test_ex JOIN train USING (shingle)
    """,
)
def decontaminate_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval decontamination: test-split documents that share any 3-token
    shingle with the training split (the overlap a leaderboard audit
    looks for before trusting held-out metrics).

    Scale shape: explode both sides to (doc, shingle), dedupe the train
    side to a distinct-shingle set, then a semi join on the shingle key —
    an inverted-index probe, never a doc×doc comparison. One shuffle per
    side on the shingle hash; the train set is the big side and arrives
    pre-deduped so the join build input is minimal.
    """
    toks = _tokenized_docs(spark, sf_dir).withColumn(
        "split_bucket", _bucket("doc_id", "split:")
    )
    sh = toks.filter(F.size("t") >= 3).select(
        "doc_id", "split_bucket", F.expr(_SHINGLES_T).alias("s")
    )
    train_shingles = (
        sh.filter(F.col("split_bucket") < _VAL_LO)
        .select(F.explode("s").alias("shingle"))
        .distinct()
    )
    test_shingles = sh.filter(F.col("split_bucket") >= _TEST_LO).select(
        "doc_id", F.explode("s").alias("shingle")
    )
    return (
        test_shingles.join(train_shingles, "shingle", "left_semi")
        .select(F.col("doc_id").alias("contaminated_doc_id"))
        .distinct()
    )


_PACK_BUDGET = 4096
# Prefix-sum chunk width (docs per (lang, chunk) cell, upper bound). Small
# enough that a cell never strains one task, large enough that the offset
# table stays tiny relative to the corpus (corpus/256 cells).
_PACK_CHUNK = 256


@query(
    "pack_sequences",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang, len({_SQL_TOKENS}) AS n_tokens FROM documents),
    runs AS (
        SELECT doc_id, lang, n_tokens,
               SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                   ROWS UNBOUNDED PRECEDING) AS cum
        FROM toks)
    SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST((cum - n_tokens) // {_PACK_BUDGET} AS BIGINT) AS pack_id,
           CAST((cum - n_tokens) % {_PACK_BUDGET} AS BIGINT)
               AS offset_in_pack
    FROM runs
    """,
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sequence packing: concatenate each language's documents
    in doc_id order and cut fixed 4096-token training windows; each
    doc reports the pack its first token lands in and its offset there
    (GPT-style concat-then-chunk packing, where boundary docs straddle).

    The per-language running sum is computed as a two-level prefix sum so
    no single task ever sorts a whole language's corpus (a window
    partitioned by ~5 language values would do exactly that at 100 TB):

    1. chunk = doc_id div _PACK_CHUNK — monotonic in the per-language
       ordering key, so chunk boundaries respect doc_id order and each
       (lang, chunk) cell holds at most _PACK_CHUNK rows;
    2. local exclusive prefix sums inside each (lang, chunk) cell — the
       one full-corpus shuffle, keyed fine enough for any cluster;
    3. per-language cumulative offsets of the per-cell totals — a window
       over the tiny aggregate (cells, not rows) — broadcast-joined back.

    doc_id-ordered packing keeps the result deterministic and
    reproducible across runs and cluster sizes.
    """
    from pyspark.sql import Window

    toks = _tokenized_docs(spark, sf_dir).select(
        "doc_id", "lang", F.size("t").cast("long").alias("n_tokens")
    )
    chunked = toks.withColumn("chunk", F.expr(f"doc_id div {_PACK_CHUNK}"))

    local_w = (
        Window.partitionBy("lang", "chunk")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local_start = (F.sum("n_tokens").over(local_w) - F.col("n_tokens")).alias(
        "local_start"
    )

    # Per-cell totals (map-side combined) and their per-language exclusive
    # running sum — |langs| × |chunks| rows, negligible at any scale.
    offsets_w = (
        Window.partitionBy("lang")
        .orderBy("chunk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        chunked.groupBy("lang", "chunk")
        .agg(F.sum("n_tokens").alias("cell_sum"))
        .select(
            "lang",
            "chunk",
            F.coalesce(F.sum("cell_sum").over(offsets_w), F.lit(0)).alias(
                "chunk_offset"
            ),
        )
    )

    start = F.col("local_start") + F.col("chunk_offset")
    return (
        chunked.select("doc_id", "lang", "n_tokens", "chunk", local_start)
        .join(F.broadcast(offsets), ["lang", "chunk"])
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            F.floor(start / _PACK_BUDGET).alias("pack_id"),
            (start % _PACK_BUDGET).alias("offset_in_pack"),
        )
    )


# Export fan-out: shard count for the deterministic training-data export.
# Tiny here; a real 100 TB export picks O(10k) shards so each is a few GB.
_N_SHARDS = 16


@query(
    "export_shard_assign",
    oracle=f"""
    WITH keyed AS (
        SELECT doc_id,
               ({_sql_bucket('doc_id', 'shard:')}) % {_N_SHARDS} AS shard,
               md5('order:' || CAST(doc_id AS VARCHAR)) AS order_key
        FROM documents)
    SELECT doc_id, shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY shard
                                   ORDER BY order_key, doc_id) AS BIGINT)
               AS pos_in_shard
    FROM keyed
    """,
)
def export_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle + shard assignment for training-data
    export: each doc hashes to a shard, and a second, independent hash
    orders docs *within* the shard (the "shuffled" read order training
    jobs want) — a pure function of doc_id, so re-running on any cluster
    size or after retries emits byte-identical shards.

    Scale shape: one shuffle on the shard key, one sort per shard
    partition (`row_number` over shard). Shard count is the export-size
    knob — at 100 TB pick O(10k) shards so each sort fits an executor;
    there is no global sort and no driver-side state anywhere.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    order_key = F.md5(
        F.concat(F.lit("order:"), F.col("doc_id").cast("string"))
    )
    keyed = docs.select(
        "doc_id",
        (_bucket("doc_id", "shard:") % _N_SHARDS).alias("shard"),
        order_key.alias("order_key"),
    )
    w = Window.partitionBy("shard").orderBy("order_key", "doc_id")
    return keyed.select(
        "doc_id",
        "shard",
        F.row_number().over(w).cast("long").alias("pos_in_shard"),
    )


@query(
    "corpus_domain_mix",
    oracle="""
    WITH by_domain AS (
        SELECT source, lang,
               COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS n_chars
        FROM documents GROUP BY source, lang)
    SELECT source, lang, n_docs, n_chars,
           round(n_docs * 1.0 / SUM(n_docs) OVER (), 6) AS doc_share,
           round(n_chars * 1.0 / SUM(n_chars) OVER (), 6) AS char_share
    FROM by_domain
    """,
)
def corpus_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixing report: document and character share per
    (source, lang) domain — the table a pre-training mixture config is
    tuned against.

    One map-side-combined aggregation over the corpus; the share
    window runs over the tiny aggregate result (|sources|×|langs| rows),
    so the single-partition window exchange is on a handful of rows, not
    the data. Integer counts divide in one double op, identically on
    both engines.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    by_domain = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("n_chars"),
    )
    w = Window.partitionBy()
    return by_domain.select(
        "source",
        "lang",
        "n_docs",
        "n_chars",
        F.round(
            F.col("n_docs") * F.lit(1.0) / F.sum("n_docs").over(w), 6
        ).alias("doc_share"),
        F.round(
            F.col("n_chars") * F.lit(1.0) / F.sum("n_chars").over(w), 6
        ).alias("char_share"),
    )


@query(
    "sample_temperature",
    oracle=f"""
    WITH shares AS (
        SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
    mn AS (SELECT MIN(n) AS n_min FROM shares),
    rates AS (
        SELECT s.source, sqrt(m.n_min * 1.0 / s.n) AS keep_rate
        FROM shares s CROSS JOIN mn m)
    SELECT d.doc_id, d.source, round(r.keep_rate, 6) AS keep_rate
    FROM documents d JOIN rates r ON d.source = r.source
    WHERE {_sql_bucket('d.doc_id', 'temp:')}
          < CAST(floor(r.keep_rate * 1000) AS BIGINT)
    """,
)
def sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source sampling (the mT5/XLM-R mixing knob):
    sampling probability q_s ∝ p_s^α flattens the source distribution
    toward uniform as α → 0. Implemented downsample-only, so
    keep_rate(s) = (p_s / p_min)^(α-1) — the rarest source keeps
    everything, over-represented sources are thinned toward (not all the
    way to) uniform. This sits between ``corpus_domain_mix`` (report
    only) and ``sample_domain_reweight`` (uniform target, α=0).

    α is fixed at 0.5 (T=2) so the rate is sqrt(n_min/n_s): IEEE sqrt
    and integer division are correctly rounded and therefore bit-identical
    across Spark and DuckDB, where a fractional pow() could drift by an
    ulp and flip a floor boundary — this keeps the operator value-hash
    checkable. Other temperatures change one expression, not the shape.

    Scale shape: the share aggregate is |sources| rows broadcast back
    onto the corpus scan; the keep decision is the same deterministic
    hash-mod bucket as every other sampler — reproducible under retries,
    repartitioning, and resizing.
    """
    docs = load_table(spark, sf_dir, "documents")
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
        .select("doc_id", "source", F.round("keep_rate", 6).alias("keep_rate"))
    )


@query(
    "sample_domain_reweight",
    oracle=f"""
    WITH shares AS (
        SELECT source, lang, COUNT(*) AS n FROM documents GROUP BY source, lang),
    tot AS (SELECT SUM(n) AS total, COUNT(*) AS n_cells FROM shares),
    rates AS (
        SELECT s.source, s.lang,
               least(1.0, t.total * 1.0 / (t.n_cells * s.n)) AS keep_rate
        FROM shares s CROSS JOIN tot t)
    SELECT d.doc_id, d.source, d.lang, round(r.keep_rate, 6) AS keep_rate
    FROM documents d
    JOIN rates r ON d.source = r.source AND d.lang = r.lang
    WHERE {_sql_bucket('d.doc_id', 'reweight:')}
          < CAST(floor(r.keep_rate * 1000) AS BIGINT)
    """,
)
def sample_domain_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mix rebalancing: downsample over-represented (source, lang)
    cells toward a uniform per-cell target. keep_rate(cell) =
    min(1, target/actual) is computed FROM the data (one tiny
    aggregation), then applied with the same deterministic hash-mod
    bucket as the other samplers — the acting half of the
    ``corpus_domain_mix`` report.

    Scale shape: the shares aggregate is |sources|x|langs| rows,
    broadcast back onto the corpus scan; the keep decision is a pure
    narrow expression. Reproducible under retries, repartitioning, and
    cluster resizing — rerunning yields the same kept set, which is what
    makes the training mix auditable. Rate arithmetic is a single
    division expressed identically in the oracle, so the floor boundary
    cannot diverge.
    """
    docs = load_table(spark, sf_dir, "documents")
    shares = docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("n"))
    tot = shares.agg(
        F.sum("n").alias("total"), F.count(F.lit(1)).alias("n_cells")
    )
    rates = shares.crossJoin(F.broadcast(tot)).select(
        "source",
        "lang",
        F.least(
            F.lit(1.0),
            F.col("total") * F.lit(1.0) / (F.col("n_cells") * F.col("n")),
        ).alias("keep_rate"),
    )
    return (
        docs.join(F.broadcast(rates), ["source", "lang"])
        .filter(
            _bucket("doc_id", "reweight:")
            < F.floor(F.col("keep_rate") * 1000).cast("long")
        )
        .select(
            "doc_id", "source", "lang",
            F.round("keep_rate", 6).alias("keep_rate"),
        )
    )


# Bloom prefilter geometry for decontaminate_bloom: m bits, j md5-derived
# probes. m = 2^20 so a 5-hex-digit md5 slice (16^5 = 2^20) maps onto the
# bit space without modulo bias; the bitmap is 16 Ki 64-bit words ≈ 128 KiB
# — broadcastable at any corpus size (a production run sizes m to the
# train-side distinct-shingle count; the shape is m-agnostic).
_BLOOM_M = 1 << 20
_BLOOM_J = 4


def _bloom_positions(shingle) -> "F.Column":
    """Array of j bit positions for a shingle, one per md5 salt."""
    return F.array(
        *[
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"b{i}:"), shingle)), 1, 5
                ),
                16,
                10,
            ).cast("long")
            for i in range(_BLOOM_J)
        ]
    )


@query(
    "decontaminate_bloom",
    # The bloom is a PREFILTER with zero false negatives; the exact
    # shingle semi-join behind it removes every false positive, so the
    # result is value-identical to the exact semi-join — which is the
    # oracle. The bloom stage exists in the PLAN (probe-side row
    # reduction before the shuffle), not in the result.
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               {_SQL_TOKENS} AS t,
               {_sql_bucket('doc_id', 'split:')} AS split_bucket
        FROM documents),
    sh AS (SELECT doc_id, split_bucket, {_SQL_SHINGLES} AS s FROM toks
           WHERE len(t) >= 3),
    train AS (SELECT DISTINCT unnest(s) AS shingle FROM sh
              WHERE split_bucket < {_VAL_LO}),
    test_ex AS (SELECT doc_id, unnest(s) AS shingle FROM sh
                WHERE split_bucket >= {_TEST_LO})
    SELECT DISTINCT doc_id AS contaminated_doc_id
    FROM test_ex JOIN train USING (shingle)
    """,
)
def decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval decontamination with a broadcast Bloom prefilter: the same
    contract as ``decontaminate_overlap`` (test-split docs sharing any
    3-token shingle with the training split), but the probe side is
    screened against a 128 KiB Bloom bitmap of the train shingle set
    BEFORE the exact shingle join.

    Why this exists at 100 TB: the exact semi-join shuffles every
    (test_doc, shingle) occurrence on the shingle key. With a clean test
    split, almost none of those rows survive — the Bloom stage drops them
    at the scan (a narrow filter against a broadcast bitmap), so only
    candidate rows reach the exchange. False positives (~0.06% at j=4,
    m=2^20 vs the train set here) are eliminated by the exact join that
    follows; Bloom filters have no false negatives, so the result is
    value-identical to the exact join and oracle-checkable.

    Built entirely from built-ins (Spark ships no SQL-registered
    bloom_filter_agg): each distinct train shingle sets j=4 md5-derived
    bits; per-word ``bit_or`` aggregation packs them into 64-bit words,
    densified into a fixed-length ARRAY (one row) that Catalyst
    broadcasts. The probe is a deterministic expression — no UDF, no
    driver collect, one lazy plan end to end.

    The bitmap MUST be an array, not a map: Spark's ArrayBasedMapData
    ``element_at`` is a linear scan, and 16 Ki entries × j probes per
    shingle occurrence turned the screen into the bottleneck (measured
    130 s → 9 s on a 50k-doc corpus after densifying; array element_at
    is O(1)).
    """
    toks = _tokenized_docs(spark, sf_dir).withColumn(
        "split_bucket", _bucket("doc_id", "split:")
    )
    sh = toks.filter(F.size("t") >= 3).select(
        "doc_id", "split_bucket", F.expr(_SHINGLES_T).alias("s")
    )
    train_shingles = (
        sh.filter(F.col("split_bucket") < _VAL_LO)
        .select(F.explode("s").alias("shingle"))
        .distinct()
    )
    # Bitmap build: explode each shingle's j positions, pack per word.
    word = F.expr(
        "shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))"
    )
    n_words = _BLOOM_M // 64
    # Build the bitmap from RAW train occurrences, not the distinct set:
    # bit_or is idempotent, so duplicates re-set the same bits for free,
    # and skipping distinct here avoids shuffling the train shingle
    # STRINGS a second time (the distinct side below still feeds the
    # exact verify, where it is needed).
    # Seed EVERY word index with an all-zeroes word (bit_or identity) so
    # the final collect_list is dense and ordered after array_sort — a
    # map-based densify (element_at over a 16 Ki MapData per index) runs
    # the single-row stage interpreted at O(n_words²) scans, measured
    # 15-30 s of the query wall before this. Memoized per (session,
    # sf_dir): the bitmap is a train-corpus artifact like the shingle
    # index — build once, probe from every invocation (in production it
    # would be persisted next to the train snapshot).
    zero_words = spark.range(n_words).select(
        F.col("id").alias("idx"), F.lit(0).cast("long").alias("w")
    )
    bloom = memo_df(
        f"bloom_bitmap:{sf_dir}",
        spark,
        lambda: (
            sh.filter(F.col("split_bucket") < _VAL_LO)
            .select(F.explode("s").alias("shingle"))
            .select(
                F.explode(_bloom_positions(F.col("shingle"))).alias("pos")
            )
            .groupBy((F.col("pos") / 64).cast("long").alias("idx"))
            .agg(F.bit_or(word).alias("w"))
            .unionByName(zero_words)
            .groupBy("idx")
            .agg(F.bit_or("w").alias("w"))
            .agg(
                F.array_sort(F.collect_list(F.struct("idx", "w"))).alias("l")
            )
            .select(F.expr("transform(l, x -> x.w)").alias("bm"))
        ),
    )
    test_shingles = sh.filter(F.col("split_bucket") >= _TEST_LO).select(
        "doc_id", F.explode("s").alias("shingle")
    )
    # LEFT SEMI against the one-row bitmap, probe expression as the join
    # condition: a semi join never materializes the build side into its
    # output rows. (A crossJoin-then-filter attaches the 128 KiB array
    # COLUMN to every probe row before the filter reads it — measured as
    # the dominant cost at a 50k-doc stress scale.)
    bit_set = (
        "(shiftright(element_at(bm, CAST(p / 64 AS INT) + 1),"
        " CAST(p % 64 AS INT)) & 1) = 1"
    )
    candidates = (
        test_shingles.withColumn(
            "bpos", _bloom_positions(F.col("shingle"))
        )
        .join(
            F.broadcast(bloom),
            F.expr(f"forall(bpos, p -> {bit_set})"),
            "left_semi",
        )
        .select("doc_id", "shingle")
    )
    return (
        candidates.join(train_shingles, "shingle", "left_semi")
        .select(F.col("doc_id").alias("contaminated_doc_id"))
        .distinct()
    )


@query(
    "sample_quality_percentile",
    # PERCENT_RANK() == (#strictly-smaller)/(n-1) with ties sharing a
    # rank — exactly the aggregate formulation the Spark side computes,
    # so the window function here is the oracle twin of a scale-safe
    # two-level plan, not the plan itself.
    oracle=f"""
    WITH toks AS (SELECT doc_id, source, {_SQL_TOKENS} AS t FROM documents),
    sc AS (SELECT doc_id, source,
                  (len(list_distinct(t)) * 1000000) // greatest(len(t), 1)
                      AS score_ppm
           FROM toks),
    pr AS (SELECT doc_id, source, score_ppm,
                  PERCENT_RANK() OVER (PARTITION BY source
                                       ORDER BY score_ppm) AS prk
           FROM sc)
    SELECT doc_id, source, CAST(score_ppm AS BIGINT) AS score_ppm,
           round(prk, 6) AS quality_pct
    FROM pr WHERE prk >= 0.5
    """,
)
def sample_quality_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality-percentile gate: keep each source's top half by
    lexical-diversity score (distinct-token ppm of the document), report
    the exact percentile each kept doc sits at — the "take the best X%
    of every domain" selection step of a pretraining mix.

    A naive PERCENT_RANK() OVER (PARTITION BY source ORDER BY score)
    sorts each source's entire corpus in one task — a handful of source
    values at 100 TB means a handful of tasks doing terabyte sorts. The
    scale shape instead quantizes the score to integer ppm (pure integer
    arithmetic, identical in both engines), aggregates doc counts per
    (source, score_ppm) — the one full shuffle, with map-side combine —
    and computes the rank prefix-sum over that TINY aggregate with a
    window, broadcasting it back. Ties share a percentile by
    construction, which is what makes the quantized rank exact, not
    approximate.
    """
    toks = _tokenized_docs(spark, sf_dir)
    sc = toks.select(
        "doc_id",
        F.expr(
            "(size(array_distinct(t)) * CAST(1000000 AS BIGINT))"
            " div greatest(size(t), 1)"
        ).alias("score_ppm"),
    ).join(
        load_table(spark, sf_dir, "documents").select("doc_id", "source"),
        "doc_id",
    )
    cells = sc.groupBy("source", "score_ppm").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    from pyspark.sql import Window

    w_run = (
        Window.partitionBy("source")
        .orderBy("score_ppm")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("source")
    ranked = cells.select(
        "source",
        "score_ppm",
        (F.sum("cnt").over(w_run) - F.col("cnt")).alias("smaller"),
        F.sum("cnt").over(w_all).alias("n_source"),
    ).select(
        "source",
        "score_ppm",
        F.when(F.col("n_source") == 1, F.lit(0.0))
        .otherwise(F.col("smaller") / (F.col("n_source") - 1))
        .alias("prk"),
    )
    return (
        sc.join(F.broadcast(ranked), ["source", "score_ppm"])
        .filter(F.col("prk") >= 0.5)
        .select(
            "doc_id",
            "source",
            F.col("score_ppm").cast("long").alias("score_ppm"),
            F.round("prk", 6).alias("quality_pct"),
        )
    )


# Length-bucket caps for padding-efficient export: power-of-two sequence
# lengths a training loader pads to. Integer CASE thresholds — no float
# log2, whose representation error would flip boundary docs per engine.
_LB_CAPS = [16, 32, 64, 128, 256, 512]
_LB_MAX = 1024
_LB_SHARDS = 4


def _lb_case_sql(n: str) -> str:
    return (
        "CASE "
        + " ".join(f"WHEN {n} <= {c} THEN {c}" for c in _LB_CAPS)
        + f" ELSE {_LB_MAX} END"
    )


@query(
    "export_length_bucketed",
    oracle=f"""
    WITH toks AS (SELECT doc_id, len({_SQL_TOKENS}) AS n_tokens
                  FROM documents),
    bucketed AS (
        SELECT doc_id, n_tokens,
               {_lb_case_sql('n_tokens')} AS bucket_cap,
               ({_sql_bucket('doc_id', 'lb:')}) % {_LB_SHARDS} AS shard
        FROM toks)
    SELECT CAST(bucket_cap AS BIGINT) AS bucket_cap,
           CAST(shard AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
           round(1.0 - SUM(n_tokens) * 1.0 / (COUNT(*) * bucket_cap), 6)
               AS padding_frac
    FROM bucketed GROUP BY bucket_cap, shard
    """,
)
def export_length_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed export manifest: assign every document to a
    power-of-two sequence-length bucket and a deterministic shard within
    it, and report per (bucket, shard) the doc count, token total, and
    padding fraction a loader would waste padding to the bucket cap.
    Length-homogeneous shards are how a training pipeline keeps padding
    waste (and attention FLOPs on pad tokens) down without a global sort.

    Scale shape: bucket and shard are narrow integer expressions on the
    scan (integer CASE thresholds — float log2 would put
    representation-error boundary docs on different sides per engine);
    the manifest is one map-side-combined groupBy over
    |caps| x |shards| cells. The doc→shard map is a pure function of
    doc_id, so a re-export lands every doc in the same shard.
    """
    toks = _tokenized_docs(spark, sf_dir).select(
        "doc_id", F.size("t").cast("long").alias("n_tokens")
    )
    cap = F.coalesce(
        *[
            F.when(F.col("n_tokens") <= c, F.lit(c))
            for c in _LB_CAPS
        ],
        F.lit(_LB_MAX),
    )
    bucketed = toks.select(
        "n_tokens",
        cap.cast("long").alias("bucket_cap"),
        (_bucket("doc_id", "lb:") % _LB_SHARDS).alias("shard"),
    )
    return bucketed.groupBy("bucket_cap", "shard").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("sum_tokens"),
        F.round(
            F.lit(1.0)
            - F.sum("n_tokens")
            / (F.count(F.lit(1)) * F.col("bucket_cap")),
            6,
        ).alias("padding_frac"),
    )


# Curation-funnel gates (cumulative). Deliberately the same expressions
# the standalone gate queries use, restated compactly: the funnel is the
# ATTRITION REPORT over the pipeline, each stage conditioned on
# surviving all previous ones.
_FUNNEL_MIN_TOKENS = 5
_FUNNEL_MAX_TOKENS = 100_000
_FUNNEL_MAX_DUP_BIGRAM = 0.5


@query(
    "corpus_curation_funnel",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, text, {_SQL_TOKENS} AS t FROM documents),
    flags AS (
        SELECT doc_id,
               len(t) >= 1 AS s1,
               len(t) BETWEEN {_FUNNEL_MIN_TOKENS}
                          AND {_FUNNEL_MAX_TOKENS} AS s2,
               CASE WHEN len(t) < 2 THEN TRUE ELSE
                    1.0 - len(list_distinct(list_transform(
                              range(1, len(t)),
                              i -> t[i] || ' ' || t[i + 1])))
                        * 1.0 / (len(t) - 1)
                    <= {_FUNNEL_MAX_DUP_BIGRAM} END AS s3,
               ROW_NUMBER() OVER (PARTITION BY md5(coalesce(text, ''))
                                  ORDER BY doc_id) = 1 AS s4
        FROM toks),
    agg AS (
        SELECT COUNT(*) AS n0,
               SUM(CASE WHEN s1 THEN 1 ELSE 0 END) AS n1,
               SUM(CASE WHEN s1 AND s2 THEN 1 ELSE 0 END) AS n2,
               SUM(CASE WHEN s1 AND s2 AND s3 THEN 1 ELSE 0 END) AS n3,
               SUM(CASE WHEN s1 AND s2 AND s3 AND s4 THEN 1 ELSE 0 END)
                   AS n4
        FROM flags)
    SELECT * FROM (
        SELECT 0 AS stage, 'raw' AS stage_name,
               CAST(n0 AS BIGINT) AS n_surviving,
               CAST(0 AS BIGINT) AS n_dropped_here FROM agg
        UNION ALL SELECT 1, 'non_empty', CAST(n1 AS BIGINT),
               CAST(n0 - n1 AS BIGINT) FROM agg
        UNION ALL SELECT 2, 'length_window', CAST(n2 AS BIGINT),
               CAST(n1 - n2 AS BIGINT) FROM agg
        UNION ALL SELECT 3, 'repetition_gate', CAST(n3 AS BIGINT),
               CAST(n2 - n3 AS BIGINT) FROM agg
        UNION ALL SELECT 4, 'exact_dedup', CAST(n4 AS BIGINT),
               CAST(n3 - n4 AS BIGINT) FROM agg)
    """,
)
def corpus_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The attrition table every curation pipeline publishes: how many
    documents survive each successive gate (non-empty → length window →
    repetition gate → exact dedup), and how many each stage drops. One
    report answers "where did my corpus go" — the first question asked
    whenever a training mix shrinks unexpectedly.

    Scale shape: gate flags are narrow expressions computed in ONE pass
    over the scan; the only shuffle is the exact-dedup keep-first
    window on the content hash (shared shape with ``dedup_exact``); the
    funnel itself reduces to a single 5-counter aggregate row, unpivoted
    to stage rows at zero cost. Cumulative conditioning (stage k counts
    docs surviving ALL earlier gates) makes the drops additive:
    n_raw - Σ drops = final survivors, so the report reconciles.
    """
    toks = _tokenized_docs(spark, sf_dir).join(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        "doc_id",
    )
    from pyspark.sql import Window

    bigrams = F.expr(
        "if(size(t) >= 2, transform(sequence(1, size(t) - 1), "
        "i -> concat_ws(' ', element_at(t, i), element_at(t, i + 1))), "
        "array())"
    )
    dup_ratio = F.when(F.size("bg") < 1, F.lit(0.0)).otherwise(
        F.lit(1.0) - F.size(F.array_distinct("bg")) / F.size("bg")
    )
    rn = F.row_number().over(
        Window.partitionBy(F.md5(F.coalesce("text", F.lit("")))).orderBy(
            "doc_id"
        )
    )
    flags = (
        toks.withColumn("bg", bigrams)
        .select(
            (F.size("t") >= 1).alias("s1"),
            F.size("t")
            .between(_FUNNEL_MIN_TOKENS, _FUNNEL_MAX_TOKENS)
            .alias("s2"),
            (dup_ratio <= _FUNNEL_MAX_DUP_BIGRAM).alias("s3"),
            (rn == 1).alias("s4"),
        )
    )
    cnt = lambda c: F.sum(F.when(c, 1).otherwise(0))  # noqa: E731
    agg = flags.agg(
        F.count(F.lit(1)).alias("n0"),
        cnt(F.col("s1")).alias("n1"),
        cnt(F.col("s1") & F.col("s2")).alias("n2"),
        cnt(F.col("s1") & F.col("s2") & F.col("s3")).alias("n3"),
        cnt(
            F.col("s1") & F.col("s2") & F.col("s3") & F.col("s4")
        ).alias("n4"),
    )
    stages = ", ".join(
        f"named_struct('stage', {i}, 'stage_name', '{nm}', "
        f"'n_surviving', CAST(n{i} AS BIGINT), "
        f"'n_dropped_here', CAST({'0' if i == 0 else f'n{i-1} - n{i}'} AS BIGINT))"
        for i, nm in enumerate(
            ["raw", "non_empty", "length_window", "repetition_gate",
             "exact_dedup"]
        )
    )
    return agg.select(
        F.explode(F.expr(f"array({stages})")).alias("x")
    ).select("x.stage", "x.stage_name", "x.n_surviving", "x.n_dropped_here")


@query(
    "decontaminate_ngram_fraction",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               {_SQL_TOKENS} AS t,
               {_sql_bucket('doc_id', 'split:')} AS split_bucket
        FROM documents),
    sh AS (SELECT doc_id, split_bucket, {_SQL_SHINGLES} AS s FROM toks
           WHERE len(t) >= 3),
    train AS (SELECT DISTINCT unnest(s) AS shingle FROM sh
              WHERE split_bucket < {_VAL_LO}),
    test_ex AS (SELECT doc_id, unnest(s) AS shingle FROM sh
                WHERE split_bucket >= {_TEST_LO}),
    hits AS (
        SELECT e.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_shingles,
               CAST(COUNT(t.shingle) AS BIGINT) AS n_contaminated
        FROM test_ex e LEFT JOIN train t USING (shingle)
        GROUP BY e.doc_id)
    SELECT doc_id, n_shingles, n_contaminated,
           CAST(n_contaminated * 1000000 // n_shingles AS BIGINT)
               AS contamination_ppm
    FROM hits
    """,
)
def decontaminate_ngram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded decontamination: instead of ``decontaminate_overlap``'s
    boolean verdict, the FRACTION of each test-split document's distinct
    3-token shingles that also occur in the training split — the
    contamination score an eval audit actually reports and thresholds
    (a doc sharing one boilerplate shingle is a different case from one
    that is 90% memorized). Integer-ppm arithmetic keeps the ratio
    exact across engines.

    Scale shape: same inverted-index probe as the boolean form — train
    side deduped to a distinct-shingle set, one equi join on the shingle
    key (LEFT, so zero-overlap docs still report 0 ppm), then a per-doc
    aggregate. The left side is test-split-sized, never corpus-sized;
    no doc×doc comparison exists.
    """
    toks = _tokenized_docs(spark, sf_dir).withColumn(
        "split_bucket", _bucket("doc_id", "split:")
    )
    sh = toks.filter(F.size("t") >= 3).select(
        "doc_id", "split_bucket", F.expr(_SHINGLES_T).alias("s")
    )
    train_shingles = (
        sh.filter(F.col("split_bucket") < _VAL_LO)
        .select(F.explode("s").alias("shingle"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    test_shingles = sh.filter(F.col("split_bucket") >= _TEST_LO).select(
        "doc_id", F.explode("s").alias("shingle")
    )
    hits = (
        test_shingles.join(train_shingles, "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.count("hit").cast("long").alias("n_contaminated"),
        )
    )
    return hits.select(
        "doc_id",
        "n_shingles",
        "n_contaminated",
        F.floor(F.col("n_contaminated") * 1_000_000 / F.col("n_shingles"))
        .cast("long")
        .alias("contamination_ppm"),
    )


# Token budget for the mixture plan: 1.5x the corpus (integer 3/2), so
# at least one source must repeat (epochs > 1.0) at every SF — the
# upsampling arithmetic is exercised, not just the downsampling side.
_MIX_BUDGET_NUM, _MIX_BUDGET_DEN = 3, 2


@query(
    "corpus_mixture_epochs",
    oracle=f"""
    WITH toks AS (SELECT source, {_SQL_TOKENS} AS t FROM documents),
    avail AS (
        SELECT source, CAST(SUM(len(t)) AS BIGINT) AS avail_tokens
        FROM toks GROUP BY source),
    rooted AS (
        SELECT source, avail_tokens,
               CAST(floor(sqrt(avail_tokens)) AS BIGINT) AS rt
        FROM avail),
    tot AS (
        SELECT SUM(avail_tokens) AS total_tokens, SUM(rt) AS total_rt
        FROM rooted),
    planned AS (
        SELECT r.source, r.avail_tokens,
               r.rt * 1000000 // t.total_rt AS weight_ppm,
               (t.total_tokens * {_MIX_BUDGET_NUM} // {_MIX_BUDGET_DEN})
                   * (r.rt * 1000000 // t.total_rt) // 1000000
                   AS alloc_tokens
        FROM rooted r CROSS JOIN tot t)
    SELECT source, avail_tokens,
           CAST(weight_ppm AS BIGINT) AS weight_ppm,
           CAST(alloc_tokens AS BIGINT) AS alloc_tokens,
           CAST(alloc_tokens * 1000000 // greatest(avail_tokens, 1)
                AS BIGINT) AS epochs_ppm
    FROM planned
    """,
)
def corpus_mixture_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mixture PLAN a training run is configured from: given a token
    budget (1.5× the corpus here) and temperature-weighted source
    shares (α=0.5, as in ``sample_temperature``), how many tokens each
    source contributes and how many EPOCHS of it that implies —
    epochs_ppm > 1,000,000 means the source repeats (upsampled), below
    means it is subsampled. This is the planning twin of the samplers:
    they decide per-document membership, this emits the per-source
    repeat factors a data-loading config consumes.

    Every ratio is integer arithmetic: weights use floor(sqrt(tokens))
    so the normalizing sum is an exact integer sum — summing raw double
    sqrts would make the result depend on summation order, which
    differs between engines and could flip a floor boundary.

    Scale shape: ONE map-side-combined corpus aggregation to
    |sources| rows, a broadcast single-row total, then narrow
    arithmetic — the same report-over-aggregate pattern as
    ``corpus_domain_mix``, nothing corpus-sized after the first agg.
    """
    toks = _tokenized_docs(spark, sf_dir)
    avail = toks.groupBy("source").agg(
        F.sum(F.size("t")).cast("long").alias("avail_tokens")
    )
    rooted = avail.withColumn(
        "rt", F.floor(F.sqrt("avail_tokens")).cast("long")
    )
    tot = rooted.agg(
        F.sum("avail_tokens").alias("total_tokens"),
        F.sum("rt").alias("total_rt"),
    )
    # All divisions are integral `div` on exact operands — double `/` +
    # floor can misround a quotient sitting just under an integer. The
    # two products that multiply a corpus-scale token count by 1e6 run
    # in DECIMAL(38,0): in int64 they overflow past ~9.2e12 budget
    # tokens (~37 TB of text — inside the design point), where the
    # oracle's HUGEINT sums stay exact and parity would break (ANSI
    # deployments fail the job outright instead).
    planned = (
        rooted.crossJoin(F.broadcast(tot))
        .withColumn(
            "weight_ppm",
            F.expr("rt * CAST(1000000 AS BIGINT) div total_rt"),
        )
        .withColumn(
            "alloc_tokens",
            F.expr(
                f"CAST(total_tokens * {_MIX_BUDGET_NUM} "
                f"div {_MIX_BUDGET_DEN} AS DECIMAL(38,0)) "
                "* weight_ppm div 1000000"
            ).cast("long"),
        )
    )
    return planned.select(
        "source",
        "avail_tokens",
        F.col("weight_ppm").cast("long").alias("weight_ppm"),
        "alloc_tokens",
        # greatest(...,1): an all-empty source has zero tokens; 0/0 is
        # NULL on Spark but an error-or-NULL divergence risk on other
        # engines — pin epochs 0 for an empty source on both.
        F.expr(
            "CAST(alloc_tokens AS DECIMAL(38,0)) * 1000000 "
            "div greatest(avail_tokens, CAST(1 AS BIGINT))"
        )
        .cast("long")
        .alias("epochs_ppm"),
    )


@query(
    "sample_dedup_downweight",
    oracle="""
    WITH grp AS (
        SELECT doc_id, source,
               COUNT(*) OVER (PARTITION BY md5(text)) AS dup_count
        FROM documents)
    SELECT doc_id, source, CAST(dup_count AS BIGINT) AS dup_count,
           CAST(1000000 // dup_count AS BIGINT) AS weight_ppm
    FROM grp
    """,
)
def sample_dedup_downweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-aware training weights: instead of DROPPING duplicates
    (dedup_exact), keep every copy and weight each 1/cluster-size so a
    document's total contribution to the loss is independent of how many
    times it was crawled — the soft-dedup option pretraining mixes use
    when provenance diversity matters (same text from N domains).

    One shuffle on md5(text) (the COUNT window); the key is a uniform
    hash so no skew handling is needed. Weight is integer ppm
    (1e6 // count) — exact on both engines.
    """
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5("text"))
    return docs.select(
        "doc_id",
        "source",
        F.count(F.lit(1)).over(w).cast("long").alias("dup_count"),
    ).withColumn(
        # exact integral div (1e6 // count), matching the module-wide
        # all-integer ppm convention and the oracle's `//`
        "weight_ppm",
        F.expr("CAST(1000000 AS BIGINT) div dup_count"),
    )


@query(
    "corpus_source_gini",
    oracle="""
    WITH ranked AS (
        SELECT source, n_chars,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY n_chars, doc_id) AS i
        FROM documents),
    stats AS (
        SELECT source,
               COUNT(*) AS n_docs,
               SUM(n_chars) AS total_chars,
               SUM(i * n_chars) AS rank_weighted
        FROM ranked GROUP BY source)
    SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(total_chars AS BIGINT) AS total_chars,
           CAST((2 * rank_weighted - (n_docs + 1) * total_chars) * 1000000
                // (n_docs * total_chars) AS BIGINT) AS gini_ppm
    FROM stats ORDER BY source
    """,
)
def corpus_source_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source length-concentration (Gini coefficient over document
    sizes): the corpus-diagnostics metric that flags a source whose token
    mass is dominated by a few huge documents (gini → 1) versus evenly
    spread (gini → 0) — a standard input to mixture re-weighting
    decisions.

    Gini via the rank formula G = (2·Σi·xᵢ − (n+1)·Σx) / (n·Σx) with xᵢ
    ascending — ALL-INTEGER arithmetic until one final floor-division to
    ppm, so the value hash can't drift between engines. Ties in x make
    the rank assignment ambiguous but not the sum (equal x contribute
    identically under any tie order); doc_id tiebreak just pins Spark's
    row_number determinism.

    Scale: one window sort per source. Bounded by the largest single
    source, which is the honest cost of an exact Gini; at 100 TB swap the
    exact ranks for a fixed-width histogram approximation (integer bucket
    counts, same downstream formula) if the largest source outgrows a
    task's sort budget — the orchestration (groupBy source) is unchanged.
    """
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    ranked = docs.select(
        "source", "n_chars", F.row_number().over(w).alias("i")
    )
    return (
        ranked.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            # The per-term product i*n_chars fits int64 comfortably, but
            # its SUM over a big source does not (1e9 docs × ~4e12/term
            # ≈ 4e21) — accumulate in DECIMAL(38,0), mirroring the
            # oracle's HUGEINT SUM, or Spark overflows (ANSI failure /
            # silent wrap) exactly where the report matters.
            F.sum(
                (F.col("i") * F.col("n_chars")).cast("decimal(38,0)")
            ).alias("rank_weighted"),
        )
        .select(
            "source",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("total_chars").cast("long").alias("total_chars"),
            # Integer `div` on DECIMAL(38,0) operands, not double `/` +
            # floor and not int64: the scaled numerator reaches ~1e21 on
            # a big source — past 2^53 (double rounds before the floor)
            # AND past 2^63 (int64 overflows) — while DuckDB's `//`
            # stays exact in HUGEINT.
            F.expr(
                "(2 * rank_weighted"
                " - CAST(n_docs + 1 AS DECIMAL(38,0)) * total_chars) "
                "* 1000000 "
                "div (CAST(n_docs AS DECIMAL(38,0)) * total_chars)"
            )
            .cast("long")
            .alias("gini_ppm"),
        )
        .orderBy("source")
    )


_RESERVOIR_N = 20  # per-source sample size
_RESERVOIR_SALT = "rsv1"
_RESERVOIR_CHUNK = 4096


@query(
    "sample_reservoir_per_source",
    oracle=f"""
    WITH ranked AS (
        SELECT doc_id, source,
               ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY md5(concat('{_RESERVOIR_SALT}',
                                       CAST(doc_id AS VARCHAR))),
                            doc_id) AS rk
        FROM documents)
    SELECT doc_id, source, CAST(rk AS INTEGER) AS sample_rank
    FROM ranked WHERE rk <= {_RESERVOIR_N}
    ORDER BY source, sample_rank
    """,
)
def sample_reservoir_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixed-size uniform sample per source — the
    distributed replacement for reservoir sampling: rank every doc by a
    salted content-independent hash and keep the N smallest per source.
    Same guarantees as a true reservoir (uniform, fixed size, one pass)
    plus reproducibility: re-runs and incremental re-ingests agree on
    the sample wherever the doc set agrees.

    NOT a per-source window sort: that would sort each source's full
    partition on one task (the largest source bounds the job — the exact
    trap the oracle's ROW_NUMBER is allowed because DuckDB is the small-
    scale referee). Instead a THREE-level tree, the shape shared with
    simsearch_topk: a local top-N per (source, doc-id chunk), a mid
    merge per (source, chunk div {_RESERVOIR_CHUNK}) so no task ever
    concatenates more than {_RESERVOIR_CHUNK} × N survivor structs (a
    flat two-level merge re-creates the single-task bound for a source
    spanning millions of chunks), then the |sources| × N final merge.
    """
    docs = load_table(spark, sf_dir, "documents")
    key = F.struct(
        F.md5(
            F.concat(F.lit(_RESERVOIR_SALT), F.col("doc_id").cast("string"))
        ).alias("h"),
        F.col("doc_id").alias("d"),
    )
    top_n = lambda c: F.slice(  # noqa: E731
        F.sort_array(F.collect_list(c)), 1, _RESERVOIR_N
    )
    local = (
        docs.select("source", key.alias("k"))
        .withColumn("chunk", F.expr(f"k.d div {_RESERVOIR_CHUNK}"))
        .groupBy("source", "chunk")
        .agg(top_n("k").alias("top"))
    )
    mid = (
        local.select(
            "source",
            F.expr(f"chunk div {_RESERVOIR_CHUNK}").alias("superchunk"),
            F.explode("top").alias("k"),
        )
        .groupBy("source", "superchunk")
        .agg(top_n("k").alias("top"))
    )
    merged = (
        mid.select("source", F.explode("top").alias("k"))
        .groupBy("source")
        .agg(top_n("k").alias("top"))
    )
    return (
        merged.select("source", F.posexplode("top").alias("pos", "k"))
        .select(
            F.col("k.d").alias("doc_id"),
            "source",
            (F.col("pos") + 1).cast("int").alias("sample_rank"),
        )
        .orderBy("source", "sample_rank")
    )


@query(
    "corpus_dedup_impact",
    oracle=f"""
    WITH keyed AS (
        SELECT doc_id, source, md5(coalesce(text, '')) AS k,
               len({_SQL_TOKENS}) AS n_toks
        FROM documents),
    keepers AS (SELECT k, MIN(doc_id) AS keeper FROM keyed GROUP BY k)
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN doc_id <> keeper THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dup_docs,
           CAST(SUM(n_toks) AS BIGINT) AS tokens_total,
           CAST(SUM(CASE WHEN doc_id <> keeper THEN n_toks ELSE 0 END)
                AS BIGINT) AS tokens_removed,
           CAST(CASE WHEN SUM(n_toks) = 0 THEN 0
                ELSE SUM(CASE WHEN doc_id <> keeper THEN n_toks ELSE 0 END)
                     * 1000000 // SUM(n_toks) END AS BIGINT)
               AS removed_ppm
    FROM keyed JOIN keepers USING (k)
    GROUP BY source ORDER BY source
    """,
)
def corpus_dedup_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-weighted attribution of exact dedup per source: how many
    documents AND how many training tokens each source loses when
    dedup_exact's keep-lowest-id rule runs — the report that turns "we
    deduped" into "source X was 40% recycled by token mass", which is
    what actually moves a mixture decision (doc counts alone overweight
    short duplicates).

    One corpus scan computes (md5 key, token count); keepers are one
    hash-key groupBy (the same shuffle dedup_exact performs — with the
    key null-coalesced so a null document participates as an empty one,
    per the module contract, instead of dropping out of the equi join);
    the join
    back on the md5 key is equi with near-uniform key distribution (a
    cluster is replicas-of-one-text, bounded), and the final per-source
    rollup is map-side combined. Integer ppm with an explicit zero-token
    guard — a source of empty/null docs reports 0, not a division error.
    """
    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        "source",
        F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("k"),
        F.expr(f"size({_TOKENS_EXPR})").cast("long").alias("n_toks"),
    )
    keepers = keyed.groupBy("k").agg(F.min("doc_id").alias("keeper"))
    dup = F.col("doc_id") != F.col("keeper")
    return (
        keyed.join(keepers, "k")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(dup.cast("long")).alias("n_dup_docs"),
            F.sum("n_toks").alias("tokens_total"),
            F.sum(F.when(dup, F.col("n_toks")).otherwise(0)).alias(
                "tokens_removed"
            ),
        )
        .select(
            "source",
            "n_docs",
            "n_dup_docs",
            "tokens_total",
            "tokens_removed",
            # DECIMAL(38,0): a dominant source can hold > 9.2e12 tokens
            # (int64 ceiling for the ×1e6 scale-up) well inside the
            # 100 TB design point; the oracle's HUGEINT SUM is exact, so
            # int64 here would overflow (ANSI failure / silent wrap) and
            # break parity exactly on the biggest source.
            F.when(F.col("tokens_total") == 0, F.lit(0))
            .otherwise(
                F.expr(
                    "CAST(tokens_removed AS DECIMAL(38,0)) * 1000000"
                    " div tokens_total"
                )
            )
            .cast("long")
            .alias("removed_ppm"),
        )
        .orderBy("source")
    )


# Per-domain document cap for sample_domain_topk_cap: bites at every test
# SF (25 docs/source at sf0.001/0.01, 250 at sf0.1) and stays a real
# production shape (C4/RefinedWeb cap pages per domain so no site
# dominates the mix).
_DOMAIN_CAP = 10


@query(
    "sample_domain_topk_cap",
    oracle=f"""
    WITH toks AS (SELECT doc_id, source, {_SQL_TOKENS} AS t FROM documents),
    sc AS (SELECT doc_id, source,
                  (len(list_distinct(t)) * 1000000) // greatest(len(t), 1)
                      AS score_ppm
           FROM toks),
    rnk AS (SELECT doc_id, source, score_ppm,
                   ROW_NUMBER() OVER (PARTITION BY source
                                      ORDER BY score_ppm DESC, doc_id)
                       AS rnk
            FROM sc)
    SELECT doc_id, source, CAST(score_ppm AS BIGINT) AS score_ppm,
           CAST(rnk AS INTEGER) AS rnk
    FROM rnk WHERE rnk <= {_DOMAIN_CAP}
    """,
)
def sample_domain_topk_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quota cap: keep each source's top-``N`` documents by
    quality (the C4/RefinedWeb "no domain dominates the mix" rule),
    emitting the kept manifest with each doc's within-domain rank.
    Quality is the module's lexical-diversity ppm score; ties break on
    doc_id, so the manifest is fully deterministic.

    Scale shape — a hot domain must not become one terabyte-sort task,
    and with this plan it doesn't: the ``row_number() <= N`` filter is
    recognized by Catalyst's rank-limit pushdown, which inserts a
    PARTIAL ``WindowGroupLimit`` on the MAP side — every input task
    keeps at most N rows per source before the shuffle, so the exchange
    carries ≤ N × map-tasks rows per domain and the final per-source
    sort is over that bounded survivor set, never the raw corpus
    (verified in the executed plan: WindowGroupLimit Partial below the
    exchange, Final above). That is the two-phase tree top-k, done by
    the optimizer — the hand-bucketed two-window variant this replaced
    produced the same bound with one extra exchange.
    """
    toks = _tokenized_docs(spark, sf_dir)
    sc = toks.select(
        "doc_id",
        "source",
        F.expr(
            "(size(array_distinct(t)) * CAST(1000000 AS BIGINT))"
            " div greatest(size(t), 1)"
        ).alias("score_ppm"),
    )
    w_global = Window.partitionBy("source").orderBy(
        F.col("score_ppm").desc(), F.col("doc_id")
    )
    return (
        sc.withColumn("rnk", F.row_number().over(w_global))
        .filter(F.col("rnk") <= _DOMAIN_CAP)
        .select(
            "doc_id",
            "source",
            F.col("score_ppm").cast("long").alias("score_ppm"),
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


# Context-window chunking geometry. Real pipelines use e.g. 1024/768
# token windows; the test corpus averages ~54 whitespace tokens per doc,
# so 16/12 keeps the multi-chunk + overlap paths exercised at every SF.
_CHUNK_SIZE = 16
_CHUNK_STRIDE = 12


@query(
    "text_chunk_overlap",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {_SQL_TOKENS} AS t FROM documents),
    sized AS (
        SELECT doc_id, t, len(t) AS n,
               CASE WHEN len(t) = 0 THEN 0
                    WHEN len(t) <= {_CHUNK_SIZE} THEN 1
                    ELSE 1 + ((len(t) - {_CHUNK_SIZE})
                              + {_CHUNK_STRIDE} - 1) // {_CHUNK_STRIDE}
               END AS n_chunks
        FROM toks),
    chunks AS (
        SELECT doc_id, n,
               unnest(range(n_chunks)) AS chunk_idx
        FROM sized WHERE n_chunks > 0),
    sliced AS (
        SELECT c.doc_id,
               CAST(c.chunk_idx AS BIGINT) AS chunk_idx,
               CAST(c.chunk_idx * {_CHUNK_STRIDE} AS BIGINT)
                   AS start_token,
               s.t[c.chunk_idx * {_CHUNK_STRIDE} + 1 :
                   least(c.chunk_idx * {_CHUNK_STRIDE} + {_CHUNK_SIZE},
                         c.n)] AS piece
        FROM chunks c JOIN sized s ON s.doc_id = c.doc_id)
    SELECT doc_id, chunk_idx, start_token,
           CAST(len(piece) AS BIGINT) AS n_chunk_tokens,
           md5(array_to_string(piece, ' ')) AS chunk_fp
    FROM sliced
    ORDER BY doc_id, chunk_idx
    """,
)
def text_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping context-window chunking: split each document's token
    sequence into fixed-size windows with a stride smaller than the
    window (here 16/12 → 25% overlap), emitting a deterministic md5
    fingerprint per chunk — the standard pre-training/RAG segmentation
    step between cleaning and packing (pack_sequences consumes whole
    docs; this is the sub-document variant for long-context splits).

    Chunk count is ``1 + ceil((n - size) / stride)`` for n > size, 1 for
    0 < n ≤ size, 0 for empty docs — all integer arithmetic, identical
    on both engines, and the final short chunk is kept (clipped slice),
    never dropped.

    Scale (100 TB): a pure narrow map — sequence → slice → hash, no
    shuffle at all except the output sort; the explode fan-out is
    bounded by the size/stride ratio (≤1.34× rows here), and tokens are
    evaluated once off the memoized token cache. Chunk fingerprints
    feed dedup_exact/passage dedup downstream on chunk granularity.
    """
    toks = _tokenized_docs(spark, sf_dir).select("doc_id", "t")
    size, stride = _CHUNK_SIZE, _CHUNK_STRIDE
    sized = toks.select(
        "doc_id",
        "t",
        F.size("t").alias("n"),
        F.expr(
            f"CASE WHEN size(t) = 0 THEN 0 "
            f"WHEN size(t) <= {size} THEN 1 "
            f"ELSE 1 + (((size(t) - {size}) + {stride} - 1) "
            f"div {stride}) END"
        ).alias("n_chunks"),
    )
    return (
        sized.filter(F.col("n_chunks") > 0)
        .select(
            "doc_id",
            "n",
            "t",
            F.explode(
                F.sequence(F.lit(0), F.col("n_chunks") - 1)
            ).alias("chunk_idx"),
        )
        .select(
            "doc_id",
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            (F.col("chunk_idx") * stride).cast("long").alias("start_token"),
            F.expr(f"slice(t, chunk_idx * {stride} + 1, {size})").alias(
                "piece"
            ),
        )
        .select(
            "doc_id",
            "chunk_idx",
            "start_token",
            F.size("piece").cast("long").alias("n_chunk_tokens"),
            F.md5(F.concat_ws(" ", F.col("piece"))).alias("chunk_fp"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


@query(
    "corpus_chunk_dedup_rate",
    oracle=f"""
    WITH chunked AS (
        {{CHUNK_ORACLE}}
    ),
    fp AS (
        SELECT chunk_fp, COUNT(*) AS n FROM chunked GROUP BY chunk_fp),
    flagged AS (
        SELECT c.doc_id, f.n > 1 AS is_dup
        FROM chunked c JOIN fp f ON f.chunk_fp = c.chunk_fp)
    SELECT d.source,
           COUNT(*) AS n_chunks,
           CAST(COALESCE(SUM(CASE WHEN fl.is_dup THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_dup_chunks,
           CAST((1000000 * COALESCE(SUM(CASE WHEN fl.is_dup THEN 1
                                             ELSE 0 END), 0))
                // COUNT(*) AS BIGINT) AS dup_ppm
    FROM flagged fl JOIN documents d ON d.doc_id = fl.doc_id
    GROUP BY d.source ORDER BY d.source
    """,
)
def corpus_chunk_dedup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document duplication census per source: the fraction of
    fixed-window chunks (text_chunk_overlap's output, consumed directly
    — the operators compose as DataFrames) whose fingerprint occurs more
    than once in the corpus. Complements dedup_passage_spans: spans find
    MAXIMAL verbatim runs for surgical removal; this gives the cheap
    per-source duplication *rate* that decides whether that surgery is
    worth scheduling at all (RefinedWeb-style corpus triage).

    Integer ppm via exact integral division, the module convention.

    Scale: chunk fingerprints group on md5 (uniform, high-cardinality —
    map-side combined); the dup flag joins back on the same fingerprint
    key so AQE reuses the exchange; the source attribution is a doc_id
    equi join against the documents scan pruned to (doc_id, source).
    Output is |sources| rows.
    """
    chunks = text_chunk_overlap(spark, sf_dir).select("doc_id", "chunk_fp")
    fp = chunks.groupBy("chunk_fp").agg(F.count(F.lit(1)).alias("n"))
    flagged = chunks.join(fp, "chunk_fp").select(
        "doc_id", (F.col("n") > 1).alias("is_dup")
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return (
        flagged.join(docs, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.coalesce(
                F.sum(F.when(F.col("is_dup"), 1).otherwise(0)), F.lit(0)
            ).alias("n_dup_chunks"),
        )
        .select(
            "source",
            "n_chunks",
            "n_dup_chunks",
            F.expr("(1000000 * n_dup_chunks) div n_chunks")
            .cast("long")
            .alias("dup_ppm"),
        )
        .orderBy("source")
    )


# The composite's oracle embeds the chunking oracle verbatim — one
# definition of the chunk semantics on the SQL side too.
from jorvik_spark.queries.registry import ORACLES as _ORACLES  # noqa: E402

_ORACLES["corpus_chunk_dedup_rate"] = _ORACLES[
    "corpus_chunk_dedup_rate"
].replace("{CHUNK_ORACLE}", _ORACLES["text_chunk_overlap"])


@query(
    "sample_balanced_classes",
    oracle=f"""
    WITH counts AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
    m AS (SELECT MIN(n) AS n_min FROM counts),
    ranked AS (
        SELECT doc_id, lang,
               ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY md5('bal:' || CAST(doc_id AS VARCHAR)), doc_id)
                   AS pos
        FROM documents)
    SELECT r.doc_id, r.lang, CAST(r.pos AS BIGINT) AS pos
    FROM ranked r, m WHERE r.pos <= m.n_min
    ORDER BY r.lang, r.pos
    """,
)
def sample_balanced_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsampling: every language keeps exactly
    ``min(per-language count)`` documents — the majority-class
    undersampling step before training a classifier (language-ID, quality
    judge) whose loss would otherwise be dominated by the biggest class.
    Selection within a class is by md5 order on doc_id (fresh salt), so
    the kept subset is uniform within each class, reproducible across
    runs and engines, and uncorrelated with the mix/split buckets of
    ``sample_stratified_split``.

    Scale shape: the floor is a |classes|-row aggregate broadcast in via
    a one-row crossJoin (the scalar-subquery pattern of
    join_q11/join_q22); ranking is one window per class partition — with
    ~5 language values a partition sorts its whole class, the same
    honest per-class cost as corpus_source_gini (documented there), and
    the 100× lever is the same: pre-gate with a hash-bucket filter near
    the expected keep rate, then rank only the survivors.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    n_min = F.broadcast(
        docs.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.min("n").alias("n_min"))
    )
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.concat(F.lit("bal:"), F.col("doc_id").cast("string"))),
        "doc_id",
    )
    return (
        docs.withColumn("pos", F.row_number().over(w).cast("long"))
        .crossJoin(n_min)
        .filter(F.col("pos") <= F.col("n_min"))
        .select("doc_id", "lang", "pos")
        .orderBy("lang", "pos")
    )


# Systematic PPS sampling: draw count and prefix-sum chunk width.
_PPS_K = 64
_PPS_CHUNK = 1024


@query(
    "sample_weighted_systematic",
    oracle=f"""
    WITH w AS (
        SELECT o_orderkey,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        FROM orders),
    runs AS (
        SELECT o_orderkey, cents,
               SUM(cents) OVER (ORDER BY o_orderkey
                                ROWS UNBOUNDED PRECEDING) AS cum,
               SUM(cents) OVER () AS total
        FROM w)
    SELECT o_orderkey, cents AS weight_cents,
           CAST((cum * {_PPS_K}) // total
                - ((cum - cents) * {_PPS_K}) // total AS BIGINT) AS n_picks
    FROM runs
    WHERE (cum * {_PPS_K}) // total > ((cum - cents) * {_PPS_K}) // total
    ORDER BY o_orderkey
    """,
)
def sample_weighted_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted (probability-proportional-to-size) systematic sample of
    orders: lay every order's integer-cent weight end to end along the
    deterministic o_orderkey order, cut the total at K evenly-spaced
    points, and keep each order whose span contains a cut — a classic
    PPS systematic draw (Madow 1949; survey-sampling literature).
    Inclusion probability is exactly K·w/W (orders heavier than W/K can
    be picked multiple times — n_picks is the multiplicity, which a
    downstream stage uses as a repeat count or importance weight). Fully
    deterministic and integer-exact: no RNG, no floats, reproducible
    across runs, engines, and cluster sizes — unlike u^(1/w) reservoir
    keys, whose transcendental math diverges between engines in the
    last ulp.

    Scale shape: the running weight sum is the SAME two-level prefix
    sum as ``pack_sequences`` (local sums inside (chunk) cells keyed by
    o_orderkey div {_PPS_CHUNK}, per-cell totals cum-summed on the tiny
    cell relation, broadcast back) — no single task ever windows the
    whole table; the grand total W rides the same cell relation. Cut
    membership is then a per-row integer predicate. At 100 TB, swap the
    BIGINT products (cum·K ≤ W·K) for DECIMAL(38,0) once W·K nears
    2⁶³ — the structure is unchanged.
    """
    w = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").alias(
            "cents"
        ),
    )
    chunked = w.withColumn("chunk", F.expr(f"o_orderkey div {_PPS_CHUNK}"))
    local_w = (
        Window.partitionBy("chunk")
        .orderBy("o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cells_w = Window.orderBy("chunk").rowsBetween(
        Window.unboundedPreceding, -1
    )
    # per-cell totals: |orders|/CHUNK rows — window + grand total both
    # run on this tiny relation, then broadcast back.
    cells = (
        chunked.groupBy("chunk")
        .agg(F.sum("cents").alias("cell_sum"))
        .select(
            "chunk",
            # guarded: the cell relation is |orders|/CHUNK rows by
            # construction; the row-bound assert enforces it loudly
            guarded_global_window(
                F.coalesce(F.sum("cell_sum").over(cells_w), F.lit(0)),
                ["chunk"],
                "sample_weighted_systematic.cells",
            ).alias("chunk_offset"),
            F.sum("cell_sum").over(
                Window.orderBy("chunk").rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ).alias("total"),
        )
    )
    cum = (F.sum("cents").over(local_w) + F.col("chunk_offset")).alias("cum")
    picks = (
        chunked.join(F.broadcast(cells), "chunk")
        .select("o_orderkey", "cents", cum, "total")
        .withColumn(
            "n_picks",
            F.expr(
                f"CAST((cum * {_PPS_K}) div total"
                f" - ((cum - cents) * {_PPS_K}) div total AS BIGINT)"
            ),
        )
    )
    return (
        picks.filter(F.col("n_picks") > 0)
        .select(
            "o_orderkey", F.col("cents").alias("weight_cents"), "n_picks"
        )
        .orderBy("o_orderkey")
    )


# Group-aware cross-validation folds.
_KFOLD_K = 5


@query(
    "sample_group_kfold",
    oracle=f"""
    WITH folds AS (
        SELECT doc_id, source,
               ({_sql_bucket('source', 'fold:')}) % {_KFOLD_K} AS fold
        FROM documents)
    SELECT fold,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc_id,
           CAST(MAX(doc_id) AS BIGINT) AS last_doc_id
    FROM folds GROUP BY fold ORDER BY fold
    """,
)
def sample_group_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP-integrity k-fold assignment: every document of a SOURCE
    lands in the same fold (fold = shared hash_bucket of the source
    key, mod K) — the leakage-safe cross-validation split for corpora
    where near-duplicates cluster within a source (scikit-learn's
    GroupKFold semantics, public API; a doc-level split leaks template
    text across train/validation and inflates every metric). The
    report is the fold manifest (sizes + source counts + id spans) a
    training job validates before consuming.

    Scale shape: one narrow map (the md5 bucket is the SAME
    deterministic primitive every sampler shares — :func:`hash_bucket`,
    so fold assignment can never diverge between this query, the
    stratified splitter, and the streaming dedup history split), one
    map-combined K-row aggregate. Assignment is reproducible across
    runs, engines, and cluster sizes; no RNG state.
    """
    folds = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        (_bucket("source", "fold:") % _KFOLD_K).alias("fold"),
    )
    return (
        folds.groupBy("fold")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("source").cast("long").alias("n_sources"),
            F.min("doc_id").cast("long").alias("first_doc_id"),
            F.max("doc_id").cast("long").alias("last_doc_id"),
        )
        .orderBy("fold")
    )


# --- round 12 wave 2: per-source token-budget fill ------------------------

_TB_BUDGET = 2_000  # token budget per source


@query(
    "sample_token_budget",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source, len({_SQL_TOKENS}) AS n_tokens
        FROM documents),
    pri AS (
        SELECT *, md5('tb' || CAST(doc_id AS VARCHAR)) AS pri
        FROM toks),
    cum AS (
        SELECT *,
               coalesce(SUM(n_tokens) OVER (
                   PARTITION BY source ORDER BY pri, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING), 0) AS cum_before
        FROM pri),
    sel AS (SELECT * FROM cum WHERE cum_before < {_TB_BUDGET})
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs_selected,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens_selected,
           CAST(SUM(n_tokens) * 1000000 // {_TB_BUDGET} AS BIGINT)
               AS budget_fill_ppm
    FROM sel GROUP BY source ORDER BY source
    """,
)
def sample_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-budget fill: select documents (in a
    deterministic md5 priority order — the reproducible shuffle every
    sampler shares) until each source's cumulative token count reaches
    the budget, overflow-inclusive (the doc that crosses the line is
    kept — the classic fill-until-overflow cut, so every source with
    any tokens fills its budget). This is the TOKEN-denominated quota
    the mixture configs of LLM data recipes are written in — documents
    are the wrong unit when doc lengths differ 100× across sources
    (``corpus_mixture_epochs`` weights sources; this op CUTS them).

    Scale shape: token counts ride the shared tokenizer memo; the
    cumulative cut is one per-source window over (priority, doc) —
    bounded by the largest source, the same documented trade as
    ``sample_reservoir_per_source`` / ``corpus_source_gini`` — and the
    report is |sources| rows from a map-combined aggregate.
    """
    toks = _tokenized_docs(spark, sf_dir).select(
        "doc_id", "source", F.size("t").alias("n_tokens")
    )
    pri = toks.withColumn(
        "pri", F.md5(F.concat(F.lit("tb"), F.col("doc_id").cast("string")))
    )
    w = (
        Window.partitionBy("source")
        .orderBy("pri", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    sel = pri.withColumn(
        "cum_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    ).filter(F.col("cum_before") < _TB_BUDGET)
    return (
        sel.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs_selected"),
            F.sum("n_tokens").cast("long").alias("n_tokens_selected"),
            F.expr(
                f"CAST(SUM(n_tokens) * CAST(1000000 AS BIGINT)"
                f" div {_TB_BUDGET} AS BIGINT)"
            ).alias("budget_fill_ppm"),
        )
        .orderBy("source")
    )


# --- round 14: LM-familiarity importance sampling ---------------------------

# Linear keep-rate band in permille: the least corpus-typical documents
# keep 250‰ and rates climb linearly with familiarity over [250, 1000)
# — the +1 in the (fmax - fmin + 1) denominator deliberately keeps the
# top of the band at ≤ 999‰, so NO document is kept with certainty
# (every stratum stays subsampled, and fmax == fmin needs no guard).
# Downweighting, never zeroing, the high-perplexity tail — the
# CCNet-style soft quality mix.
_LMIMP_FLOOR_PM = 250
_LMIMP_SPAN_PM = 750


@query(
    "sample_lm_importance",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_SQL_TOKENS} AS t FROM documents),
    bg AS (SELECT doc_id,
                  unnest(t[1:len(t) - 1]) AS w1,
                  unnest(t[2:len(t)]) AS w2
           FROM toks WHERE len(t) >= 2),
    c12 AS (SELECT w1, w2, COUNT(*) AS n12 FROM bg GROUP BY w1, w2),
    c1 AS (SELECT w1, SUM(n12) AS n1 FROM c12 GROUP BY w1),
    ppm AS (SELECT w1, w2, (n12 * 1000000) // n1 AS ppm
            FROM c12 JOIN c1 USING (w1)),
    scored AS (SELECT bg.doc_id,
                      CAST(SUM(p.ppm) // COUNT(*) AS BIGINT) AS fam
               FROM bg JOIN ppm p USING (w1, w2) GROUP BY bg.doc_id),
    ext AS (SELECT MIN(fam) AS fmin, MAX(fam) AS fmax FROM scored),
    r AS (SELECT s.doc_id, s.fam,
                 {_LMIMP_FLOOR_PM} + {_LMIMP_SPAN_PM} * (s.fam - e.fmin)
                     // (e.fmax - e.fmin + 1) AS rate_pm
          FROM scored s CROSS JOIN ext e)
    SELECT doc_id, fam AS familiarity_ppm,
           CAST(rate_pm AS BIGINT) AS keep_rate_permille
    FROM r
    WHERE {{bucket}} < rate_pm
    ORDER BY doc_id
    """.replace("{bucket}", _sql_bucket("doc_id", "lmimp:")),
)
def sample_lm_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM-familiarity importance sampling: every scoreable document
    keeps a deterministic hash-mod slot with probability LINEAR in its
    corpus-LM familiarity — the soft CCNet-style mix that downweights
    the high-perplexity tail to 250‰ instead of cutting it (hard
    gates lose the rare-but-real text diversity a pretraining mix
    wants; importance weights keep the expectation unbiased under
    reweighting). Emits (doc_id, familiarity_ppm, keep_rate_permille)
    for the surviving docs; only documents with ≥ 2 tokens participate
    (they are the only ones the bigram model scores — declared scope).

    Cross-engine mechanics: the familiarity score is the bigram-LM
    integer ppm (``text_bigram_lm_score``'s exact plan, reused); the
    keep rate is exact rational — floor-linear between the corpus min
    and max familiarity (numerator non-negative by construction, so
    Spark's ``div`` and DuckDB's ``//`` agree) — and admission is the
    md5 hash-mod primitive every sampler shares.

    Scale shape: the model build and scoring are the LM score's plan
    (two map-combined aggs + one equi join); the min/max extremes are
    a single-row broadcast cross join; admission is a narrow
    deterministic expression — reproducible under retries and
    repartitioning.
    """
    from jorvik_spark.queries.text_analysis import text_bigram_lm_score

    scored = text_bigram_lm_score(spark, sf_dir).select(
        "doc_id", F.col("familiarity_ppm").alias("fam")
    )
    ext = F.broadcast(
        scored.agg(
            F.min("fam").alias("fmin"), F.max("fam").alias("fmax")
        )
    )
    rate = (
        F.lit(_LMIMP_FLOOR_PM)
        + F.expr(
            f"{_LMIMP_SPAN_PM} * (fam - fmin) div (fmax - fmin + 1)"
        )
    ).alias("rate_pm")
    return (
        scored.crossJoin(ext)
        .select("doc_id", "fam", rate)
        .filter(_bucket("doc_id", "lmimp:") < F.col("rate_pm"))
        .select(
            "doc_id",
            F.col("fam").alias("familiarity_ppm"),
            F.col("rate_pm").cast("long").alias("keep_rate_permille"),
        )
        .orderBy("doc_id")
    )


# --- round 15: deterministic epoch-shuffle training-order plan ---------------

# 3 training epochs × 8 output shards: the corpus order a dataloader
# consumes. Both constants are illustrative knobs — production sets
# shards to O(cluster width).
_ESHUF_EPOCHS = 3
_ESHUF_SHARDS = 8


@query(
    "sample_epoch_shuffle",
    oracle=f"""
    WITH d AS (SELECT doc_id FROM documents),
    ep AS (SELECT doc_id, CAST(e AS INTEGER) AS epoch
           FROM d, unnest(range({_ESHUF_EPOCHS})) AS t(e)),
    keyed AS (
        SELECT epoch, doc_id,
               md5('eshuf:' || epoch || ':' || doc_id) AS order_key,
               CAST(('0x' || substr(md5('eshard:' || epoch || ':' || doc_id),
                                    1, 8))::BIGINT % {_ESHUF_SHARDS}
                    AS INTEGER) AS shard
        FROM ep)
    SELECT epoch, shard,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY epoch, shard
               ORDER BY order_key, doc_id) AS BIGINT) AS position,
           doc_id
    FROM keyed
    ORDER BY epoch, shard, position
    """,
)
def sample_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic multi-epoch corpus shuffle: for each training
    epoch, every document gets a fresh pseudo-random position inside a
    hash-assigned shard — the training-order PLAN a 100 TB pipeline
    materializes so that (a) every epoch visits the corpus in a
    different order, (b) the order is reproducible from the salt alone
    (restart/resume without stored RNG state), and (c) no global sort
    ever happens: ordering is established independently per shard.

    Cross-engine mechanics: order key = md5('eshuf:epoch:doc_id') (a
    hex string — lexicographic order identical on both engines), shard
    = md5-mod (the shared hash_bucket convention), within-shard
    position = ROW_NUMBER over (order_key, doc_id) — fully
    deterministic, ties impossible (doc_id is unique).

    Scale shape: one narrow map pass (two md5s per doc×epoch), one
    shuffle keyed on (epoch, shard), and a per-shard local sort — the
    window partitions by the shard key, so the sort is shard-local and
    the plan parallelizes to epochs×shards tasks. Epochs multiply rows
    3× but the blowup is an in-stage explode, never a join.
    """
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    ep = d.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(_ESHUF_EPOCHS - 1))).alias(
            "epoch"
        ),
    )
    keyed = ep.select(
        "epoch",
        "doc_id",
        F.md5(
            F.concat(
                F.lit("eshuf:"),
                F.col("epoch").cast("string"),
                F.lit(":"),
                F.col("doc_id").cast("string"),
            )
        ).alias("order_key"),
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("eshard:"),
                            F.col("epoch").cast("string"),
                            F.lit(":"),
                            F.col("doc_id").cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % _ESHUF_SHARDS
        )
        .cast("int")
        .alias("shard"),
    )
    w = Window.partitionBy("epoch", "shard").orderBy("order_key", "doc_id")
    return keyed.select(
        "epoch",
        "shard",
        F.row_number().over(w).cast("long").alias("position"),
        "doc_id",
    ).orderBy("epoch", "shard", "position")


# --- round 15 wave 2: near-duplicate (MinHash-band) decontamination ----------


@query(
    "decontaminate_minhash",
    oracle=None,  # assembled below from dedup's shared band CTEs
)
def decontaminate_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-duplicate eval contamination: test-split documents whose
    banded-MinHash signature collides with ANY train-split document —
    the fuzzy decontamination layer run when exact n-gram overlap
    (``decontaminate_overlap`` / ``_ngram_fraction``) is not enough:
    a lightly-paraphrased eval item shares few verbatim shingles but
    still lands in the same MinHash band with high probability. Emits
    every test doc with its colliding-band count (0 = clean), so the
    report is value-carrying on every corpus and thresholding stays
    the caller's policy.

    Cross-engine mechanics: reuses dedup's exact band geometry (md5
    MinHash, 4 bands × 3 rows) and the sampler family's md5 split
    convention — identical constants by import, so this screen can
    never drift from the near-dup resolver it mirrors.

    Scale shape: the shared banded index is memoized (built once per
    session for ALL its consumers); the screen itself is one equi join
    on (band, key) between the test-side band rows and the DISTINCT
    train-side band keys, then a per-doc count — the test side is
    eval-sized, never corpus-sized, and no doc×doc pair ever exists.
    """
    from jorvik_spark.queries.dedup import _mh_bands

    bands = _mh_bands(spark, sf_dir).withColumn(
        "split_bucket", _bucket("doc_id", "split:")
    )
    train_keys = (
        bands.filter(F.col("split_bucket") < _VAL_LO)
        .select("band", "key")
        .distinct()
    )
    test_bands = bands.filter(F.col("split_bucket") >= _TEST_LO)
    hits = (
        test_bands.join(train_keys, ["band", "key"])
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_colliding_bands"))
    )
    test_docs = test_bands.select("doc_id").distinct()
    return (
        test_docs.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_colliding_bands", F.lit(0))
            .cast("long")
            .alias("n_colliding_bands"),
            (F.coalesce("n_colliding_bands", F.lit(0)) > 0).alias(
                "contaminated"
            ),
        )
        .orderBy("doc_id")
    )


# decontaminate_minhash's oracle assembles from dedup's SHARED band CTE
# pieces (same constants by import — the screen can never drift from the
# near-dup resolver's geometry).
from jorvik_spark.queries.dedup import (  # noqa: E402
    _MH_SEEDS,
    _SQL_SHINGLES,
    _sql_mh,
    _sql_mh_bands,
)

_ORACLES["decontaminate_minhash"] = f"""
    WITH toks AS (SELECT doc_id, {_SQL_TOKENS} AS t FROM documents),
    sh AS (SELECT doc_id, {_SQL_SHINGLES} AS s FROM toks WHERE len(t) >= 3),
    shex AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
    sig AS (SELECT doc_id,
            {', '.join(f'{_sql_mh(i)} AS h{i}' for i in range(_MH_SEEDS))}
            FROM shex GROUP BY doc_id),
    bands AS ({_sql_mh_bands()}),
    sb AS (SELECT doc_id, band, key,
                  {_sql_bucket('doc_id', 'split:')} AS b
           FROM bands),
    train AS (SELECT DISTINCT band, key FROM sb WHERE b < {_VAL_LO}),
    test AS (SELECT * FROM sb WHERE b >= {_TEST_LO}),
    hits AS (SELECT t.doc_id, COUNT(*) AS n
             FROM test t JOIN train USING (band, key)
             GROUP BY t.doc_id),
    td AS (SELECT DISTINCT doc_id FROM test)
    SELECT td.doc_id,
           CAST(coalesce(h.n, 0) AS BIGINT) AS n_colliding_bands,
           coalesce(h.n, 0) > 0 AS contaminated
    FROM td LEFT JOIN hits h ON td.doc_id = h.doc_id
    ORDER BY td.doc_id
"""


# --- round 16: source-interleaved training order --------------------------------

# Shard count for the interleave plan (same role as _ESHUF_SHARDS: the
# unit of shard-local ordering, so no global sort ever happens).
_ILV_SHARDS = 8


@query(
    "sample_interleave_sources",
    oracle=f"""
    WITH d AS (SELECT doc_id, source FROM documents
               WHERE source IS NOT NULL),
    slots AS (
        SELECT source,
               CAST(ROW_NUMBER() OVER (ORDER BY md5('ilvsrc:' || source),
                                       source) AS INTEGER) AS slot
        FROM (SELECT DISTINCT source FROM d)),
    keyed AS (
        SELECT d.doc_id, d.source, s.slot,
               CAST(('0x' || substr(md5('ilvshard:' || d.doc_id),
                                    1, 8))::BIGINT % {_ILV_SHARDS}
                    AS INTEGER) AS shard,
               md5('ilv:' || d.doc_id) AS order_key
        FROM d JOIN slots s ON s.source = d.source)
    SELECT shard, doc_id, source, slot,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY shard, source
               ORDER BY order_key, doc_id) AS BIGINT) AS round
    FROM keyed
    ORDER BY shard, round, slot, doc_id
    """,
)
def sample_interleave_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-interleaved training order: a deterministic plan that
    round-robins documents ACROSS sources (one from each source, then
    the next round) so a source-clumped lake doesn't train in source
    order — the mixing companion to ``sample_epoch_shuffle`` (which
    randomizes order but ignores provenance). Reading order is
    (shard, round, slot): within a shard, round r emits one pseudo-
    randomly chosen doc per source, sources in a fixed hashed slot
    order; uneven sources simply stop contributing in later rounds.

    Cross-engine mechanics: slot = rank of md5('ilvsrc:'||source) over
    the DISTINCT sources (a bounded relation); shard = md5-mod of
    doc_id; round = shard-local ROW_NUMBER per (shard, source) over the
    md5 order key — all reproducible from the salts alone.

    Scale shape: the only unbounded window partitions by
    (shard, source) — shard-local sorts, epochs×shards×sources tasks,
    no global sort; the slot ranking sorts the DISTINCT-source relation
    (bounded by the source vocabulary, guarded).
    """
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents").filter(
        F.col("source").isNotNull()
    ).select("doc_id", "source")
    slots = d.select("source").distinct().select(
        "source",
        guarded_global_window(
            F.row_number().over(
                Window.orderBy(
                    F.md5(F.concat(F.lit("ilvsrc:"), F.col("source"))),
                    "source",
                )
            ),
            [F.md5(F.concat(F.lit("ilvsrc:"), F.col("source"))), "source"],
            "sample_interleave_sources.slots",
        ).cast("int").alias("slot"),
    )
    keyed = d.join(F.broadcast(slots), "source").select(
        "doc_id",
        "source",
        "slot",
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("ilvshard:"), F.col("doc_id").cast("string")
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % _ILV_SHARDS
        )
        .cast("int")
        .alias("shard"),
        F.md5(
            F.concat(F.lit("ilv:"), F.col("doc_id").cast("string"))
        ).alias("order_key"),
    )
    w = Window.partitionBy("shard", "source").orderBy("order_key", "doc_id")
    return keyed.select(
        "shard",
        "doc_id",
        "source",
        "slot",
        F.row_number().over(w).cast("long").alias("round"),
    ).orderBy("shard", "round", "slot", "doc_id")
