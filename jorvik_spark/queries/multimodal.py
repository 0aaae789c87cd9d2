"""Multimodal (binary-column) operators (§2C north-star extensions).

Images/audio/video are opaque ``binary`` columns with typed metadata. The
Spark-side plumbing — binaryFile source, schema, Arrow-batched
``mapInPandas`` decode/feature stage, partitioning — is real and tested;
the actual media decode is STUBBED with a deterministic fake (this
container has no image/audio libraries), clearly marked below.

Both queries are fully oracle-checked: DuckDB's ``read_blob`` reads the
same files, so path/size/digest/fake-dimensions are compared value-for-
value across engines — the whole binary → Arrow batch → Python decode →
typed-metadata pipeline is proven end-to-end, not just rows-only. The
oracle SQL embeds the scan directory via the ``{sf_dir}`` placeholder
resolved in ``__spark_entry__.oracle_sql()``.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jorvik_spark.queries.registry import octave, query, sql_octave
from jorvik_spark.tables import load_table

_FEATURE_SCHEMA = (
    "path string, n_bytes long, content_sha256 string, "
    "fake_width long, fake_height long, decode_skipped boolean"
)

# Per-row decode byte cap: executor memory for a mapInPandas decode stage
# tracks the LARGEST single blob in a batch (measured in PROFILE.md —
# one ~150 MB whole-file blob dominated the 10× sweep), so one
# pathological multi-GB object could OOM an executor at 100 TB. Blobs
# over the cap are excluded from the decode scan ITSELF (binaryFile
# pushes the length predicate into file listing and prunes the content
# column, so oversized files are never read, not read-then-dropped) and
# surface as metadata-only rows flagged decode_skipped. Sized to bite on
# the largest testdata file at sf0.01+ so the skip path is
# oracle-checked with real rows; production would set this to its
# decoder's real memory budget.
_MAX_DECODE_BYTES = 512 * 1024


def decode_media(content: bytes) -> dict:
    """STUB media decode. A real deployment would decode image/audio here
    (PIL / torchaudio / ffmpeg are not in this container). The fake is
    deterministic in the content bytes so tests and the driver get stable
    output: 'dimensions' are derived from the content digest.

    The digest is sha256 over the *lowercase-hex encoding* of the bytes
    (not the raw bytes): DuckDB's sha256() accepts VARCHAR only, so
    hashing ``lower(hex(content))`` is the form both engines can compute —
    which is what makes this stub oracle-checkable.
    """
    digest = hashlib.sha256(content.hex().encode("ascii")).digest()
    return {
        "content_sha256": digest.hex(),
        "fake_width": 1 + digest[0] % 64,
        "fake_height": 1 + digest[1] % 64,
    }


def _extract_features(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """Arrow-batched feature extraction over binary content. Each incoming
    batch holds up to spark.sql.execution.arrow.maxRecordsPerBatch rows;
    per-batch work stays columnar (pandas) on the executor."""
    for batch in batches:
        feats = [decode_media(bytes(c)) for c in batch["content"]]
        out = pd.DataFrame(feats)
        out.insert(0, "n_bytes", batch["content"].map(len).astype("int64"))
        out.insert(0, "path", batch["path"].values)
        out["fake_width"] = out["fake_width"].astype("int64")
        out["fake_height"] = out["fake_height"].astype("int64")
        out["decode_skipped"] = False
        yield out


# Spark's binaryFile source renders local paths as file:... URIs; DuckDB's
# read_blob reports plain filesystem paths. Strip the scheme so the two
# engines agree on the join/compare key.
_STRIP_SCHEME = r"^file:(//)?"



def _spread_for_decode(spark: SparkSession, df):
    """Spread a binary scan for CPU-bound Python decode — conditionally.

    The testdata is a handful of files, so decode would serialize on a
    few tasks without an explicit spread; but a production binaryFile
    scan already has thousands of splits, and forcing a fixed partition
    count there would COLLAPSE the scan onto that many tasks. Shuffle
    only when the scan is under-split relative to the cluster.
    """
    n = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n)


@query(
    "multimodal_binary_scan",
    oracle="""
    SELECT filename AS path, size AS length
    FROM read_blob('{sf_dir}/*.parquet')
    ORDER BY path
    """,
)
def multimodal_binary_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """binaryFile scan: each file becomes (path, modificationTime, length,
    content binary). At 100 TB the source parallelizes per-file and prunes
    with pathGlobFilter; content stays off-heap until touched."""
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.parquet")
        .load(sf_dir)
        .select(
            F.regexp_replace("path", _STRIP_SCHEME, "").alias("path"),
            "length",
        )
        .orderBy("path")
    )


@query(
    "multimodal_feature_extract",
    oracle=f"""
    WITH blobs AS (
        SELECT filename, size,
               CASE WHEN size <= {_MAX_DECODE_BYTES}
                    THEN sha256(lower(hex(content))) END AS digest
        FROM read_blob('{{sf_dir}}/*.parquet')
    )
    SELECT filename AS path,
           size AS n_bytes,
           digest AS content_sha256,
           1 + ('0x' || substr(digest, 1, 2))::BIGINT % 64 AS fake_width,
           1 + ('0x' || substr(digest, 3, 2))::BIGINT % 64 AS fake_height,
           size > {_MAX_DECODE_BYTES} AS decode_skipped
    FROM blobs
    """,
)
def multimodal_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full multimodal pipeline shape: binary scan → blob-size guard →
    conditional spread for decode parallelism → Arrow-batched
    mapInPandas feature extraction.

    The guard (``_MAX_DECODE_BYTES``) splits the scan BEFORE any bytes
    move: the decode branch filters ``length <= cap`` — binaryFile
    pushes that predicate into its file listing — and the oversized
    branch selects metadata columns only (content pruned, files never
    opened), emitting flagged ``decode_skipped`` rows. The same
    composition guards any of the decode stages here (resize / frames /
    audio) when their deployment needs it.

    Decode is CPU-bound, so an under-split scan is spread to ~1 batch per
    core; a many-split production scan passes through unshuffled (see
    _spread_for_decode)."""
    scan = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.parquet")
        .load(sf_dir)
    )
    binaries = _spread_for_decode(
        spark,
        scan.filter(F.col("length") <= _MAX_DECODE_BYTES).select(
            F.regexp_replace("path", _STRIP_SCHEME, "").alias("path"),
            "content",
        ),
    )
    decoded = binaries.mapInPandas(_extract_features, schema=_FEATURE_SCHEMA)
    skipped = scan.filter(F.col("length") > _MAX_DECODE_BYTES).select(
        F.regexp_replace("path", _STRIP_SCHEME, "").alias("path"),
        F.col("length").alias("n_bytes"),
        F.lit(None).cast("string").alias("content_sha256"),
        F.lit(None).cast("long").alias("fake_width"),
        F.lit(None).cast("long").alias("fake_height"),
        F.lit(True).alias("decode_skipped"),
    )
    return decoded.unionByName(skipped)


_FRAME_SCHEMA = "path string, frame_idx long, frame_sha256 string"
_FRAME_STRIDE = 2


def sample_frames(content: bytes, stride: int = _FRAME_STRIDE) -> list[dict]:
    """STUB video frame sampling (every ``stride``-th frame). A real
    deployment would ffmpeg-decode here; the fake derives a deterministic
    frame count from the content size (1..7) and a per-frame digest from
    the content hex + frame index, so both engines can reproduce it."""
    hexc = content.hex()
    n_frames = 1 + len(content) % 7
    return [
        {
            "frame_idx": i,
            "frame_sha256": hashlib.sha256(
                f"{hexc}:{i}".encode("ascii")
            ).hexdigest(),
        }
        for i in range(0, n_frames, stride)
    ]


def _sample_frames_batched(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """Arrow-batched 1:N frame explosion — each input row (one media file)
    yields a variable number of frame rows."""
    cols = ["path", "frame_idx", "frame_sha256"]
    for batch in batches:
        rows = [
            {"path": path, **frame}
            for path, c in zip(batch["path"], batch["content"])
            for frame in sample_frames(bytes(c))
        ]
        yield pd.DataFrame(rows, columns=cols)


@query(
    "multimodal_frame_sample",
    oracle="""
    WITH blobs AS (
        SELECT filename, size, lower(hex(content)) AS hexc
        FROM read_blob('{sf_dir}/*.parquet')),
    frames AS (
        SELECT filename, hexc,
               unnest(range(0, 1 + size % 7, 2)) AS frame_idx
        FROM blobs)
    SELECT filename AS path,
           frame_idx,
           sha256(hexc || ':' || frame_idx) AS frame_sha256
    FROM frames
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over binary media: binaryFile scan → Arrow-batched
    ``mapInPandas`` that explodes each file into its sampled frames (1:N —
    the row-multiplying shape resize/crop/frame pipelines need, vs the
    1:1 feature extraction above).

    At 100 TB the explode happens executor-side inside one narrow stage:
    no shuffle, output partitioning inherits the decode repartition."""
    binaries = _spread_for_decode(
        spark,
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.parquet")
        .load(sf_dir)
        .select(
            F.regexp_replace("path", _STRIP_SCHEME, "").alias("path"),
            "content",
        ),
    )
    return binaries.mapInPandas(_sample_frames_batched, schema=_FRAME_SCHEMA)


_RESIZE_TARGET = 32  # longest-edge target (pixels) for the stub resize


def resize_media(content: bytes) -> dict:
    """STUB aspect-preserving resize (the real decode+resample — PIL /
    ffmpeg — is not in this container). Output dimensions scale the
    digest-derived fake dimensions to a 32px longest edge with pure
    integer arithmetic, and the 'resized content' is identified by a
    deterministic key over (source digest, out dims) — both reproducible
    in DuckDB, which keeps the whole plumbing oracle-checkable."""
    meta = decode_media(content)
    w, h = meta["fake_width"], meta["fake_height"]
    longest = max(w, h)
    out_w = max(1, (w * _RESIZE_TARGET) // longest)
    out_h = max(1, (h * _RESIZE_TARGET) // longest)
    key = hashlib.md5(
        f"{meta['content_sha256']}|{out_w}|{out_h}".encode("ascii")
    ).hexdigest()
    return {
        "fake_width": w,
        "fake_height": h,
        "out_width": out_w,
        "out_height": out_h,
        "resized_key": key,
    }


_RESIZE_SCHEMA = (
    "path string, fake_width long, fake_height long, "
    "out_width long, out_height long, resized_key string"
)


def _resize_batched(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for batch in batches:
        out = pd.DataFrame([resize_media(bytes(c)) for c in batch["content"]])
        for c in ("fake_width", "fake_height", "out_width", "out_height"):
            out[c] = out[c].astype("int64")
        out.insert(0, "path", batch["path"].values)
        yield out


@query(
    "multimodal_resize",
    oracle=f"""
    WITH blobs AS (
        SELECT filename, sha256(lower(hex(content))) AS digest
        FROM read_blob('{{sf_dir}}/*.parquet')),
    dims AS (
        SELECT filename, digest,
               1 + CAST(('0x' || substr(digest, 1, 2)) AS BIGINT) % 64 AS w,
               1 + CAST(('0x' || substr(digest, 3, 2)) AS BIGINT) % 64 AS h
        FROM blobs),
    resized AS (
        SELECT filename, digest, w, h,
               greatest(1, (w * {_RESIZE_TARGET}) // greatest(w, h)) AS out_w,
               greatest(1, (h * {_RESIZE_TARGET}) // greatest(w, h)) AS out_h
        FROM dims)
    SELECT filename AS path,
           w AS fake_width, h AS fake_height,
           out_w AS out_width, out_h AS out_height,
           md5(digest || '|' || CAST(out_w AS VARCHAR)
                      || '|' || CAST(out_h AS VARCHAR)) AS resized_key
    FROM resized
    """,
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal resize stage: binary scan → conditional decode spread →
    Arrow-batched mapInPandas aspect-preserving resize (stubbed decode,
    real Spark plumbing — schema, batching, partitioning). 1:1 row
    mapping, no shuffle after the spread; at 100 TB the resize is pure
    per-partition CPU exactly like the real PIL/ffmpeg call it stands
    in for."""
    binaries = _spread_for_decode(
        spark,
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.parquet")
        .load(sf_dir)
        .select(
            F.regexp_replace("path", _STRIP_SCHEME, "").alias("path"),
            "content",
        ),
    )
    return binaries.mapInPandas(_resize_batched, schema=_RESIZE_SCHEMA)


# Audio stub geometry: pretend 4 bytes/sample at a fixed 16 kHz rate and
# cut 1-second chunks, capped so whole-file blobs cannot explode a row
# into thousands of chunk rows (a real audio pipeline chunks by decoded
# duration; the CAP is the part that carries over — per-row output must
# be bounded regardless of blob size).
_AUDIO_BYTES_PER_SAMPLE = 4
_AUDIO_SR = 16_000
_AUDIO_MAX_CHUNKS = 6


def chunk_audio(content: bytes) -> list[dict]:
    """STUB audio chunker (torchaudio/ffmpeg not in this container):
    deterministic 1-second chunk layout over the fake sample stream,
    with a digest-derived per-chunk key and integer fake-RMS — all
    reproducible in DuckDB, which keeps the plumbing oracle-checkable."""
    digest = hashlib.sha256(content.hex().encode("ascii")).hexdigest()
    n_samples = len(content) // _AUDIO_BYTES_PER_SAMPLE
    # ceil(n_samples / SR), floored at one (empty blobs still yield one
    # marker chunk): the additive 1 + n // SR form emitted a spurious
    # zero-sample trailing chunk whenever n_samples was an exact
    # multiple of the rate.
    n_chunks = min(_AUDIO_MAX_CHUNKS, 1 + max(0, n_samples - 1) // _AUDIO_SR)
    out = []
    for idx in range(n_chunks):
        start = idx * _AUDIO_SR
        ln = min(_AUDIO_SR, max(0, n_samples - start))
        key = hashlib.md5(f"{digest}|{idx}".encode("ascii")).hexdigest()
        out.append(
            {
                "chunk_idx": idx,
                "start_sample": start,
                "n_chunk_samples": ln,
                "chunk_key": key,
                "fake_rms": int(key[:4], 16) % 1000,
            }
        )
    return out


_AUDIO_SCHEMA = (
    "path string, chunk_idx long, start_sample long, "
    "n_chunk_samples long, chunk_key string, fake_rms long"
)


def _chunk_audio_batched(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    for batch in batches:
        rows = []
        for path, content in zip(batch["path"], batch["content"]):
            for ch in chunk_audio(bytes(content)):
                rows.append({"path": path, **ch})
        out = pd.DataFrame(
            rows,
            columns=[
                "path", "chunk_idx", "start_sample",
                "n_chunk_samples", "chunk_key", "fake_rms",
            ],
        )
        for c in ("chunk_idx", "start_sample", "n_chunk_samples", "fake_rms"):
            out[c] = out[c].astype("int64")
        yield out


@query(
    "multimodal_audio_chunks",
    oracle=f"""
    WITH blobs AS (
        SELECT filename, size,
               sha256(lower(hex(content))) AS digest,
               size // {_AUDIO_BYTES_PER_SAMPLE} AS n_samples
        FROM read_blob('{{sf_dir}}/*.parquet')),
    chunked AS (
        SELECT filename, digest, n_samples,
               unnest(range(least({_AUDIO_MAX_CHUNKS},
                                  1 + greatest(0, n_samples - 1)
                                      // {_AUDIO_SR}))) AS idx
        FROM blobs)
    SELECT filename AS path,
           CAST(idx AS BIGINT) AS chunk_idx,
           CAST(idx * {_AUDIO_SR} AS BIGINT) AS start_sample,
           CAST(least({_AUDIO_SR},
                      greatest(0, n_samples - idx * {_AUDIO_SR})) AS BIGINT)
               AS n_chunk_samples,
           md5(digest || '|' || CAST(idx AS VARCHAR)) AS chunk_key,
           CAST(('0x' || substr(md5(digest || '|' || CAST(idx AS VARCHAR)),
                                1, 4))::BIGINT % 1000 AS BIGINT) AS fake_rms
    FROM chunked
    """,
)
def multimodal_audio_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio chunking over binary media — the third modality's plumbing
    (image → feature/resize, video → frame sample, audio → fixed-window
    chunks): binaryFile scan → conditional decode spread → Arrow-batched
    ``mapInPandas`` exploding each blob into its bounded 1-second chunk
    rows with per-chunk keys and stub waveform stats.

    Scale shape: 1:N explode inside one narrow executor-side stage (no
    shuffle; partitioning inherits the decode spread), and per-row
    output is CAPPED — a 10 GB blob yields the same ≤6 chunk rows as a
    10 MB one here, standing in for the duration-bounded chunking a real
    decoder enforces.
    """
    binaries = _spread_for_decode(
        spark,
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.parquet")
        .load(sf_dir)
        .select(
            F.regexp_replace("path", _STRIP_SCHEME, "").alias("path"),
            "content",
        ),
    )
    return binaries.mapInPandas(_chunk_audio_batched, schema=_AUDIO_SCHEMA)


@query(
    "multimodal_dedup_binary",
    oracle="""
    WITH keyed AS (
        SELECT filename, size, md5(lower(hex(content))) AS content_key
        FROM read_blob('{sf_dir}/*.parquet'))
    SELECT content_key,
           COUNT(*) AS n_copies,
           MIN(filename) AS first_path,
           CAST(SUM(size) AS BIGINT) AS total_bytes
    FROM keyed GROUP BY content_key ORDER BY first_path
    """,
)
def multimodal_dedup_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over opaque media blobs: group the binary scan by a
    content digest, keep the lexically-first path as the representative
    and report reclaimable bytes. The media twin of dedup_exact — the
    first pass every multimodal ingest runs (identical images/audio
    re-crawled under different URLs collide on the digest, whatever the
    decode stack later does with them).

    Digest is computed JVM-side (md5 over lowercase hex of the bytes —
    the only form both engines can hash, see decode_media) so no Python
    stage runs: whole-stage codegen from scan to the single hash-key
    shuffle. binaryFile parallelizes per-file; content bytes stream
    through the digest and are dropped before the shuffle — only
    (digest, path, size) rows move.
    """
    scan = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.parquet")
        .load(sf_dir)
        .select(
            F.regexp_replace("path", _STRIP_SCHEME, "").alias("path"),
            "length",
            F.md5(F.lower(F.hex(F.col("content")))).alias("content_key"),
        )
    )
    return (
        scan.groupBy("content_key")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("path").alias("first_path"),
            F.sum("length").cast("long").alias("total_bytes"),
        )
        .orderBy("first_path")
    )


@query(
    "multimodal_size_histogram",
    oracle=f"""
    SELECT regexp_extract(filename, '\\.([A-Za-z0-9]+)$', 1) AS ext,
           {sql_octave('CAST(size AS BIGINT)')} AS size_bits,
           COUNT(*) AS n_files,
           CAST(SUM(size) AS BIGINT) AS total_bytes,
           CAST(MIN(size) AS BIGINT) AS min_bytes,
           CAST(MAX(size) AS BIGINT) AS max_bytes
    FROM read_blob('{{sf_dir}}/*.parquet')
    GROUP BY ext, size_bits ORDER BY ext, size_bits
    """,
)
def multimodal_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two blob-size histogram per media extension: the storage
    survey a multimodal ingest runs FIRST — it sizes the decode batch
    memory budget (see the feature-extract blob cap), exposes truncated/
    zero-byte objects, and decides the small-file compaction plan before
    any expensive per-blob work.

    The bucket is the byte count's binary digit count (floor(log2)+1),
    computed with integer/string built-ins on BOTH engines (length of
    the base-2 rendering) — no libm log2, whose rounding at exact powers
    of two could put 1024 in different buckets per engine. Scan-side
    projection drops content before the tiny (ext, bits) aggregate, so
    only metadata rows shuffle — same contract as multimodal_dedup_binary.
    """
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.parquet")
        .load(sf_dir)
        .select(
            F.regexp_extract(
                F.regexp_replace("path", _STRIP_SCHEME, ""),
                r"\.([A-Za-z0-9]+)$",
                1,
            ).alias("ext"),
            octave("length").alias("size_bits"),
            "length",
        )
        .groupBy("ext", "size_bits")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("length").cast("long").alias("total_bytes"),
            F.min("length").cast("long").alias("min_bytes"),
            F.max("length").cast("long").alias("max_bytes"),
        )
        .orderBy("ext", "size_bits")
    )


@query(
    "stream_binary_ingest",
    oracle="""
    SELECT filename AS path,
           CAST(size AS BIGINT) AS n_bytes,
           md5(lower(hex(content))) AS content_key,
           CAST(size <= 524288 AS BOOLEAN) AS decode_eligible
    FROM read_blob('{sf_dir}/*.parquet')
    """,
)
def stream_binary_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING multimodal ingest: the binaryFile source consumed as a
    file STREAM — the landing-zone shape where media blobs drop into a
    directory continuously and each micro-batch extracts typed metadata
    (size, content digest, decode-eligibility under the blob-size cap)
    without ever shuffling blob bytes. The drained sink is value-hashed
    against DuckDB's read_blob over the same files, so the streaming
    scan→digest→sink pipeline is verified end-to-end, not smoke-tested.

    Scale shape: file-stream sources parallelize per file and checkpoint
    progress by file name — a crashed ingest resumes where it stopped,
    never re-digesting processed blobs. Content bytes are dropped after
    the JVM-side digest projection; only (path, size, digest, flag) rows
    reach the sink. maxBytesPerTrigger would bound per-batch memory on a
    production landing zone; the blob-size cap here mirrors
    multimodal_feature_extract's decode screen.
    """
    import tempfile

    base = tempfile.mkdtemp(prefix="jorvik_spark_bining_")
    dst, cp = f"{base}/dst", f"{base}/cp"
    stream = (
        spark.readStream.format("binaryFile")
        # streaming sources need a DECLARED schema (A2 contract — no
        # inference pass on a stream); binaryFile's is fixed:
        .schema(
            "path string, modificationTime timestamp, "
            "length long, content binary"
        )
        .option("pathGlobFilter", "*.parquet")
        .load(sf_dir)
        .select(
            F.regexp_replace("path", _STRIP_SCHEME, "").alias("path"),
            F.col("length").alias("n_bytes"),
            F.md5(F.lower(F.hex(F.col("content")))).alias("content_key"),
            (F.col("length") <= _MAX_DECODE_BYTES).alias(
                "decode_eligible"
            ),
        )
    )
    q = (
        stream.writeStream.format("parquet")
        .option("path", dst)
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(300)
    finally:
        q.stop()
    return spark.read.parquet(dst)


@query(
    "multimodal_pair_manifest",
    oracle="""
    WITH blobs AS (
        SELECT filename AS path, CAST(size AS BIGINT) AS n_bytes,
               ROW_NUMBER() OVER (ORDER BY filename) - 1 AS blob_idx,
               COUNT(*) OVER () AS n_blobs
        FROM read_blob('{sf_dir}/*.parquet')),
    caps AS (
        SELECT doc_id, lang,
               CAST(len(string_split_regex(trim(text), '\\s+'))
                    AS INTEGER) AS caption_tokens
        FROM documents WHERE doc_id < 500 AND text IS NOT NULL
                         AND trim(text) <> '')
    SELECT c.doc_id, c.lang, c.caption_tokens,
           b.path, b.n_bytes,
           CAST(b.n_bytes <= 524288 AS BOOLEAN) AS decode_eligible
    FROM caps c JOIN blobs b ON c.doc_id % b.n_blobs = b.blob_idx
    """,
)
def multimodal_pair_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(caption, blob) TRAINING-PAIR assembly — the join that builds an
    image-text dataset manifest: text rows pair with media blobs by a
    deterministic assignment key, carrying the caption stats and blob
    metadata a loader needs, WITHOUT moving a single content byte (the
    binaryFile scan projects only path+length; Spark never reads blob
    content a query doesn't touch).

    The pairing key here (doc_id mod |blobs| onto a rank-ordered blob
    index) stands in for the production join key (a shared sample id or
    URL); what the oracle pins is the join plumbing — blob indexing is
    deterministic (lexicographic path rank), the caption side filters
    empties BEFORE pairing, and every surviving caption acquires exactly
    one blob row. The blob index is tiny metadata — broadcast side of
    the join; the caption side streams. Blob-size decode eligibility
    rides along (same cap as multimodal_feature_extract), so the
    downstream decode stage can partition-prune ineligible pairs.
    """
    blobs_raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.parquet")
        .load(sf_dir)
        .select(
            F.regexp_replace("path", _STRIP_SCHEME, "").alias("path"),
            F.col("length").alias("n_bytes"),
        )
    )
    # rank the blob index WITHOUT a global window (whose partitionless
    # sort Spark rightly warns about): the index is file METADATA (one
    # row per file), so a single sorted-array aggregate + posexplode
    # assigns lexicographic positions in one tiny reduction.
    blobs = (
        blobs_raw.agg(
            F.sort_array(
                F.collect_list(F.struct("path", "n_bytes"))
            ).alias("files")
        )
        .select(
            F.size("files").alias("n_blobs"),
            F.posexplode("files").alias("blob_idx", "f"),
        )
        .select("f.path", "f.n_bytes", "blob_idx", "n_blobs")
    )
    caps = (
        load_table(spark, sf_dir, "documents")
        .filter(
            (F.col("doc_id") < 500)
            & F.col("text").isNotNull()
            & (F.trim("text") != "")
        )
        .select(
            "doc_id",
            "lang",
            F.size(F.split(F.trim("text"), r"\s+")).alias("caption_tokens"),
        )
    )
    return caps.join(
        F.broadcast(blobs),
        caps.doc_id % F.col("n_blobs") == F.col("blob_idx"),
    ).select(
        "doc_id", "lang", "caption_tokens", "path", "n_bytes",
        (F.col("n_bytes") <= _MAX_DECODE_BYTES).alias("decode_eligible"),
    )


# WebDataset-style shard byte budget. Tiny here so every SF yields a
# multi-shard plan; a real export picks O(GB) shards.
_SHARD_BYTES = 2 * 1024 * 1024
_SHARD_CHUNK = 128  # prefix-sum cell width (same role as _PACK_CHUNK)


@query(
    "multimodal_shard_manifest",
    oracle="""
    WITH blobs AS (
        SELECT filename AS path, CAST(size AS BIGINT) AS n_bytes,
               ROW_NUMBER() OVER (ORDER BY filename) - 1 AS blob_idx,
               COUNT(*) OVER () AS n_blobs
        FROM read_blob('{sf_dir}/*.parquet')),
    caps AS (
        SELECT doc_id, lang,
               CAST(len(string_split_regex(trim(text), '\\s+'))
                    AS INTEGER) AS caption_tokens
        FROM documents WHERE doc_id < 500 AND text IS NOT NULL
                         AND trim(text) <> ''),
    pairs AS (
        SELECT c.doc_id, c.lang,
               b.n_bytes + c.caption_tokens AS sample_bytes
        FROM caps c JOIN blobs b ON c.doc_id % b.n_blobs = b.blob_idx),
    runs AS (
        SELECT doc_id, lang, sample_bytes,
               SUM(sample_bytes) OVER (PARTITION BY lang ORDER BY doc_id
                   ROWS UNBOUNDED PRECEDING) AS cum
        FROM pairs),
    assigned AS (
        SELECT lang, doc_id, sample_bytes,
               (cum - sample_bytes) // 2097152 AS shard_id
        FROM runs)
    SELECT lang, CAST(shard_id AS BIGINT) AS shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_samples,
           CAST(SUM(sample_bytes) AS BIGINT) AS total_bytes,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc_id,
           CAST(MAX(doc_id) AS BIGINT) AS last_doc_id
    FROM assigned GROUP BY lang, shard_id ORDER BY lang, shard_id
    """,
)
def multimodal_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset-style shard plan for the image-text pairs: samples are
    laid out in deterministic (lang, doc_id) order and cut into ~2 MiB
    tar shards by CUMULATIVE byte size (blob bytes + caption tokens as
    the caption-byte proxy) — the manifest a downstream writer consumes
    to emit one tar per row group, and the layout that makes multimodal
    training IO sequential instead of per-sample random reads.

    Shard assignment is exclusive-prefix-sum div budget — the same
    concat-then-chunk rule as ``pack_sequences``, and the same TWO-LEVEL
    prefix sum at scale: local running sums inside (lang, doc_id div
    128) cells, per-lang offsets windowed over the tiny cell aggregate
    and broadcast back, so no task ever sorts a whole language's
    manifest. The pair relation itself is the zero-content-byte join of
    ``multimodal_pair_manifest`` (blob index is metadata, broadcast).
    Per-shard output rows carry the doc_id span, so the tar writer for
    any shard range-prunes its slice of the manifest.
    """
    from pyspark.sql import Window

    pairs = multimodal_pair_manifest(spark, sf_dir).select(
        "doc_id",
        "lang",
        (F.col("n_bytes") + F.col("caption_tokens")).alias("sample_bytes"),
    )
    chunked = pairs.withColumn("chunk", F.expr(f"doc_id div {_SHARD_CHUNK}"))
    local_w = (
        Window.partitionBy("lang", "chunk")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local_start = (
        F.sum("sample_bytes").over(local_w) - F.col("sample_bytes")
    ).alias("local_start")
    offsets_w = (
        Window.partitionBy("lang")
        .orderBy("chunk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        chunked.groupBy("lang", "chunk")
        .agg(F.sum("sample_bytes").alias("cell_sum"))
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
        chunked.select("doc_id", "lang", "sample_bytes", "chunk", local_start)
        .join(F.broadcast(offsets), ["lang", "chunk"])
        .select(
            "lang",
            "doc_id",
            "sample_bytes",
            F.expr(
                f"CAST((local_start + chunk_offset) div {_SHARD_BYTES} "
                "AS BIGINT)"
            ).alias("shard_id"),
        )
        .groupBy("lang", "shard_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_samples"),
            F.sum("sample_bytes").cast("long").alias("total_bytes"),
            F.min("doc_id").cast("long").alias("first_doc_id"),
            F.max("doc_id").cast("long").alias("last_doc_id"),
        )
        .orderBy("lang", "shard_id")
    )


# Content-chunk width for the storage-dedup estimator, in HEX CHARS
# (8192 hex chars = 4096 raw bytes). Chunking runs in the hex domain
# because that is the one blob representation both engines slice
# identically (DuckDB's substring is VARCHAR-only); a Spark-only
# deployment would substring the raw binary and halve the width.
_CHUNK_HEX = 8192


@query(
    "multimodal_chunk_dedup",
    oracle=f"""
    WITH blobs AS (
        SELECT filename AS path, lower(hex(content)) AS h
        FROM read_blob('{{sf_dir}}/*.parquet')
        WHERE size <= {_MAX_DECODE_BYTES}),
    chunks AS (
        SELECT path,
               md5(substring(h, CAST(i * {_CHUNK_HEX} + 1 AS BIGINT),
                             {_CHUNK_HEX})) AS ck
        FROM (SELECT path, h,
                     unnest(range(0, (len(h) - 1) // {_CHUNK_HEX} + 1)) AS i
              FROM blobs)),
    owners AS (
        SELECT ck, COUNT(DISTINCT path) AS n_files FROM chunks GROUP BY ck)
    SELECT c.path,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(COUNT(DISTINCT c.ck) AS BIGINT) AS n_unique_in_file,
           CAST(SUM(CASE WHEN o.n_files >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_cross_file,
           CAST(((COUNT(*) - COUNT(DISTINCT c.ck)) * 1000000) // COUNT(*)
                AS BIGINT) AS within_dup_ppm
    FROM chunks c JOIN owners o ON o.ck = c.ck
    GROUP BY c.path ORDER BY c.path
    """,
)
def multimodal_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size content-chunk dedup estimator over the binary lake:
    every blob splits into 4 KiB chunks, and the report says — per file
    — how many chunks repeat WITHIN the file and how many also occur in
    OTHER files: the dedup-ratio estimate a content-addressed store
    (or a WebDataset re-shard) computes before committing to
    chunk-level storage (Venti/LBFS lineage; fixed-width chunking is
    the deterministic baseline the content-defined variant is measured
    against).

    Scale shape: blobs over the module's decode byte cap are pruned at
    the LISTING (same pushed length predicate as the decode path — the
    hex expansion never materializes for them); chunking is a narrow
    per-file explode (sequence + substring, codegen'd — no UDF); chunk
    identity is an md5 over the 8 KiB hex slice, so the only shuffles
    are the (chunk → owner count) aggregate and the per-file report
    agg, both map-side combinable. Chunk keys distribute uniformly —
    the dedup collisions ARE the skew, and they are the signal.
    """
    blobs = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.parquet")
        .load(sf_dir)
        .filter(F.col("length") <= _MAX_DECODE_BYTES)
        .select(
            F.regexp_replace("path", _STRIP_SCHEME, "").alias("path"),
            F.lower(F.hex("content")).alias("h"),
        )
    )
    chunks = blobs.select(
        "path",
        F.explode(
            F.expr(f"sequence(0L, (length(h) - 1) div {_CHUNK_HEX})")
        ).alias("i"),
        "h",
    ).select(
        "path",
        F.md5(
            F.expr(
                f"substring(h, CAST(i * {_CHUNK_HEX} + 1 AS INT),"
                f" {_CHUNK_HEX})"
            )
        ).alias("ck"),
    )
    owners = chunks.groupBy("ck").agg(
        F.countDistinct("path").alias("n_files")
    )
    return (
        chunks.join(owners, "ck")
        .groupBy("path")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.countDistinct("ck").cast("long").alias("n_unique_in_file"),
            F.sum(F.when(F.col("n_files") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_cross_file"),
            F.expr(
                "CAST(((COUNT(1) - COUNT(DISTINCT ck))"
                " * CAST(1000000 AS BIGINT)) div COUNT(1) AS BIGINT)"
            ).alias("within_dup_ppm"),
        )
        .orderBy("path")
    )
