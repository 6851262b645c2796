"""Multimodal columns: opaque binary payloads with typed metadata, and
the decode / feature-extract / frame-sample plumbing.

Beyond the reference's surface (its only binary handling is hex-encoded
tx blobs decoded on the display path, ``lib/utils.js:60-62``,
``data.js:2083-2084``): a 100 TB multimodal pipeline stores image/audio/
video as ``binary`` columns plus a typed metadata struct, and runs
decode/resize/frame-sample as Arrow-batched Pandas UDFs.

Round 12 retires the former PIL stub: ``decode_image`` and
``resize_image`` are REAL pure-Python kernels (functions/imaging.py --
PNG via stdlib zlib with all five scanline filters, binary PPM/PGM,
uncompressed 24-bit BMP, GIF 87a/89a with full variable-width LZW
(round 13), nearest-neighbor resample; JPEG's DCT decoder is the one
documented out-of-scope format).  Round 13 adds the audio analog:
``decode_audio`` over functions/audio.py's RIFF/WAVE PCM codec with
integer-exact frame-RMS/peak kernels.  The registered queries
keep their md5-derived deterministic metadata so they remain
DuckDB-oracle-checkable -- the md5 fake is a FIXTURE choice, not a
capability gap -- and everything Spark-side (the binary column, the
metadata schema, the mapInPandas batch iteration, the
explode-per-frame shape) is unchanged when a run swaps the fixture
for the real kernels.

Scale: payloads are opaque bytes; featurization is per-row (no shuffle)
and batch-size-bound (Arrow batches), so executor memory is governed by
``spark.sql.execution.arrow.maxRecordsPerBatch`` -- lower it for large
blobs.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.registry import register
from ..sources.catalog import load_table


def decode_image(payload: bytes) -> object:
    """Real image decode kernel, pure Python (functions/imaging.py;
    round 12 retires the former PIL stub): sniffs the payload magic and
    decodes PNG (8-bit gray/RGB/±alpha, all five scanline filters, via
    stdlib zlib), binary PPM/PGM, uncompressed 24-bit BMP, and GIF
    87a/89a first frames (full variable-width LZW, palettes,
    interlace) into an
    ``imaging.Image`` (row-major interleaved bytes).  JPEG remains the
    one documented out-of-scope format (a DCT entropy decoder is
    signal-processing code, not pipeline plumbing) and raises with a
    clear message.  The registered queries keep their md5-derived
    deterministic metadata so they stay DuckDB-oracle-checkable; this
    kernel is what a production run swaps in, and it is exercised
    end-to-end in tests/test_imaging.py."""
    from ..functions.imaging import (
        decode_bmp,
        decode_gif,
        decode_png,
        decode_ppm,
    )

    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        return decode_png(payload)
    if payload[:2] in (b"P6", b"P5"):
        return decode_ppm(payload)
    if payload[:2] == b"BM":
        return decode_bmp(payload)
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        return decode_gif(payload)
    if payload[:3] == b"\xff\xd8\xff":
        raise NotImplementedError(
            "JPEG decode (DCT) is out of scope for the pure-Python kernel"
        )
    raise ValueError(
        "unrecognized image payload (not PNG/PPM/PGM/BMP/GIF/JPEG)"
    )


def decode_audio(payload: bytes) -> object:
    """Real audio decode kernel, pure Python (functions/audio.py;
    round 13's counterpart to round 12's imaging codecs): RIFF/WAVE
    PCM (8/16-bit, any channel layout) into a ``functions.audio.Audio``
    with integer-exact frame-RMS/peak kernels -- what a production run
    swaps in for the md5-derived deterministic energies the registered
    audio queries use to stay DuckDB-oracle-checkable.  Compressed
    codecs and float WAV raise NotImplementedError (DSP, documented
    out of scope); the error contract matches the image kernels so one
    UDF quarantine covers both.  Exercised end-to-end (incl. a Spark
    mapInPandas drive) in tests/test_audio.py."""
    from ..functions.audio import decode_wav

    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return decode_wav(payload)
    raise ValueError("unrecognized audio payload (not RIFF/WAVE)")


def _fake_decode_meta(payload: bytes) -> tuple[int, int, int]:
    """Deterministic stand-in for decode: (width, height, luma) derived
    from md5(payload) -- matches the SQL-side md5 arithmetic exactly."""
    h = hashlib.md5(payload).hexdigest()
    width = int(h[:2], 16) + 16
    height = int(h[2:4], 16) + 16
    luma = int(h[4:6], 16)
    return width, height, luma


@register(
    "multimodal_metadata",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           CASE WHEN CAST('0x' || substr(md5(text), 32, 1) AS INT) % 2 = 0
                THEN 'png' ELSE 'jpeg' END AS format,
           CAST('0x' || substr(md5(text), 1, 2) AS INT) + 16 AS width,
           CAST('0x' || substr(md5(text), 3, 2) AS INT) + 16 AS height
    FROM documents
    ORDER BY doc_id
    """,
    doc="Typed metadata over an opaque binary column: documents.text "
        "re-encoded as the payload blob; format sniffing and dimensions "
        "are the md5-derived deterministic fixture (the real kernel, "
        "decode_image, is the pure-Python imaging module). Pure "
        "projection -- no shuffle.",
)
def multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    payload = F.col("text").cast("binary")
    h = F.md5(payload)
    nib = F.conv(F.substring(h, 32, 1), 16, 10).cast("int")
    return (
        d.select(
            "doc_id",
            F.octet_length(payload).alias("n_bytes"),
            F.when(nib % 2 == 0, "png").otherwise("jpeg").alias("format"),
            (F.conv(F.substring(h, 1, 2), 16, 10).cast("int") + 16).alias("width"),
            (F.conv(F.substring(h, 3, 2), 16, 10).cast("int") + 16).alias("height"),
        )
        .orderBy("doc_id")
    )


@register(
    "multimodal_feature_extract",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           CAST('0x' || substr(md5(text), 1, 2) AS INT) + 16 AS width,
           CAST('0x' || substr(md5(text), 3, 2) AS INT) + 16 AS height,
           CAST(CAST('0x' || substr(md5(text), 5, 2) AS INT) AS DOUBLE) / 255
             AS mean_luma
    FROM documents
    ORDER BY doc_id
    """,
    doc="Feature extraction via mapInPandas: Arrow batches of binary "
        "payloads through a Python kernel (here the deterministic fake "
        "decode metadata; the REAL pure-Python decode/resize kernels "
        "live in functions/imaging.py). The "
        "batch shape, schema contract, and per-partition iteration are "
        "the production plumbing.",
)
def multimodal_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("payload")
    )

    def extract(batches):
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                blob = bytes(payload)
                width, height, luma = _fake_decode_meta(blob)
                rows.append((doc_id, len(blob), width, height, luma / 255.0))
            yield pd.DataFrame(
                rows, columns=["doc_id", "n_bytes", "width", "height", "mean_luma"]
            )

    return d.mapInPandas(
        extract,
        schema="doc_id long, n_bytes int, width int, height int, mean_luma double",
    ).orderBy("doc_id")


@register(
    "multimodal_frame_sample",
    oracle="""
    WITH meta AS (
        SELECT doc_id,
               octet_length(encode(text)) AS n_bytes,
               octet_length(encode(text)) % 5 + 1 AS n_frames
        FROM documents
    )
    SELECT doc_id, n_bytes, f.i AS frame_index, f.i * 1024 AS frame_offset
    FROM meta, LATERAL (SELECT UNNEST(generate_series(0, n_frames - 1)) AS i) f
    ORDER BY doc_id, frame_index
    """,
    doc="Video/audio frame sampling plumbing: per-payload frame index "
        "explode (frame count derived from payload size; a real kernel "
        "reads container headers), one output row per sampled frame -- "
        "the explode shape that feeds per-frame featurization.",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    n_bytes = F.octet_length(F.col("text").cast("binary"))
    n_frames = n_bytes % 5 + 1
    return (
        d.select(
            "doc_id",
            n_bytes.alias("n_bytes"),
            F.explode(F.sequence(F.lit(0), n_frames - 1)).alias("frame_index"),
        )
        .withColumn("frame_offset", F.col("frame_index") * 1024)
        .orderBy("doc_id", "frame_index")
    )


# ----------------------------------------------------- resize planning

RESIZE_MAX_W = 224
RESIZE_MAX_H = 224


def resize_image(payload: bytes, w: int, h: int) -> bytes:
    """Real resize kernel, pure Python (round 12; formerly the PIL
    stub): decode (PNG/PPM/BMP via :func:`decode_image`), integer-exact
    nearest-neighbor resample to (w, h), re-encode as PNG -- a
    deterministic bytes->bytes transform with no native deps, safe
    inside Arrow-batched UDFs on any executor."""
    from ..functions.imaging import encode_png, resize_nearest

    return encode_png(resize_nearest(decode_image(payload), w, h))


@register(
    "multimodal_resize_plan",
    rotation_group=8,
    oracle=f"""
    WITH meta AS (
        SELECT doc_id,
               CAST('0x' || substr(md5(text), 1, 2) AS INT) + 16 AS width,
               CAST('0x' || substr(md5(text), 3, 2) AS INT) + 16 AS height
        FROM documents
    )
    SELECT doc_id,
           CAST(width AS BIGINT) AS width,
           CAST(height AS BIGINT) AS height,
           (width > {RESIZE_MAX_W} OR height > {RESIZE_MAX_H})
             AS needs_resize,
           CAST(CASE
               WHEN width <= {RESIZE_MAX_W} AND height <= {RESIZE_MAX_H}
                   THEN width
               WHEN width >= height THEN {RESIZE_MAX_W}
               ELSE GREATEST((width * {RESIZE_MAX_H}) // height, 1)
           END AS BIGINT) AS out_width,
           CAST(CASE
               WHEN width <= {RESIZE_MAX_W} AND height <= {RESIZE_MAX_H}
                   THEN height
               WHEN width >= height
                   THEN GREATEST((height * {RESIZE_MAX_W}) // width, 1)
               ELSE {RESIZE_MAX_H}
           END AS BIGINT) AS out_height
    FROM meta
    ORDER BY doc_id
    """,
    doc=f"Aspect-preserving resize planning over the opaque image "
        f"column: fit each payload's (width, height) into "
        f"{RESIZE_MAX_W}x{RESIZE_MAX_H} by scaling the LONG side to "
        "the cap and the short side by the same integer-exact ratio "
        "(floor((short * cap) // long), min 1) -- pure BIGINT "
        "arithmetic, so both engines agree with no float policy, and "
        "already-small images pass through untouched.  Dimensions "
        "come from the deterministic md5 fixture (the real kernel, "
        "resize_image, is the pure-Python imaging module); the planning "
        "is what a 100 TB preprocessing pass runs FIRST to size the "
        "Arrow batches and skip no-op payloads before any pixel "
        "work.  Pure projection -- zero shuffle.",
)
def multimodal_resize_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    md5 = F.md5(F.encode(F.col("text"), "UTF-8"))
    w = (F.conv(F.substring(md5, 1, 2), 16, 10).cast("int") + 16)
    h = (F.conv(F.substring(md5, 3, 2), 16, 10).cast("int") + 16)
    meta = d.select(
        "doc_id", w.alias("width"), h.alias("height")
    )
    small = (F.col("width") <= RESIZE_MAX_W) & (
        F.col("height") <= RESIZE_MAX_H
    )
    wide = F.col("width") >= F.col("height")
    return meta.select(
        "doc_id",
        F.col("width").cast("bigint").alias("width"),
        F.col("height").cast("bigint").alias("height"),
        (~small).alias("needs_resize"),
        F.when(small, F.col("width"))
        .when(wide, F.lit(RESIZE_MAX_W))
        .otherwise(
            F.greatest(
                F.expr(f"(width * {RESIZE_MAX_H}L) div height"),
                F.lit(1),
            )
        )
        .cast("bigint")
        .alias("out_width"),
        F.when(small, F.col("height"))
        .when(
            wide,
            F.greatest(
                F.expr(f"(height * {RESIZE_MAX_W}L) div width"),
                F.lit(1),
            ),
        )
        .otherwise(F.lit(RESIZE_MAX_H))
        .cast("bigint")
        .alias("out_height"),
    ).orderBy("doc_id")


# ------------------------------------------------ audio frame planning

FRAME_MS = 25     # analysis window (the standard 25 ms / 10 ms hop)
HOP_MS = 10
PLAN_FRAMES = 5   # frames exploded per clip (head sample; count is full)
AUDIO_RATES = (16000, 22050, 44100)

# The clip frame grid, defined ONCE for every audio op (framing plan,
# VAD segmentation): deterministic fake duration from the doc row, and
# the windowed frame count it implies.  Keeping these single-sourced
# couples the ops to the SAME grid -- a FRAME_MS/HOP_MS change cannot
# silently diverge them.
SQL_AUDIO_DURATION = "200 + (n_chars * 7) % 9800"
SQL_AUDIO_N_FRAMES = (
    f"CASE WHEN duration_ms < {FRAME_MS} THEN 0"
    f" ELSE (duration_ms - {FRAME_MS}) // {HOP_MS} + 1 END"
)


def audio_frame_plan(d: DataFrame) -> DataFrame:
    """(doc_id, duration_ms, n_frames) -- the shared grid relation."""
    return d.select(
        "doc_id",
        (F.lit(200) + (F.col("n_chars") * 7) % 9800).alias("duration_ms"),
    ).withColumn(
        "n_frames",
        F.when(F.col("duration_ms") < FRAME_MS, F.lit(0)).otherwise(
            F.expr(f"(duration_ms - {FRAME_MS}) div {HOP_MS} + 1")
        ),
    )


@register(
    "multimodal_audio_frames",
    rotation_group=8,
    oracle=f"""
    WITH meta AS (
        SELECT doc_id,
               CASE doc_id % 3 WHEN 0 THEN {AUDIO_RATES[0]}
                               WHEN 1 THEN {AUDIO_RATES[1]}
                               ELSE {AUDIO_RATES[2]} END AS sample_rate,
               {SQL_AUDIO_DURATION} AS duration_ms
        FROM documents
    ),
    plan AS (
        SELECT doc_id, sample_rate, duration_ms,
               (sample_rate * duration_ms) // 1000 AS total_samples,
               {SQL_AUDIO_N_FRAMES} AS n_frames
        FROM meta
    )
    SELECT doc_id,
           CAST(sample_rate AS BIGINT) AS sample_rate,
           CAST(duration_ms AS BIGINT) AS duration_ms,
           CAST(total_samples AS BIGINT) AS total_samples,
           CAST(n_frames AS BIGINT) AS n_frames,
           CAST(f AS BIGINT) AS frame_idx,
           CAST(f * {HOP_MS} AS BIGINT) AS start_ms,
           CAST((sample_rate * f * {HOP_MS}) // 1000 AS BIGINT)
               AS start_sample
    FROM plan, LATERAL (
        SELECT unnest(generate_series(
            0, LEAST(n_frames, {PLAN_FRAMES}) - 1)) AS f
    )
    WHERE n_frames > 0
    ORDER BY doc_id, frame_idx
    """,
    doc=f"Audio framing plan over opaque audio payloads: each clip's "
        f"(sample_rate, duration) -- deterministic fake metadata, "
        "like the image ops; the real decode kernel stays stubbed -- "
        f"expands to the standard {FRAME_MS} ms window / {HOP_MS} ms "
        f"hop frame grid: frame count, and the first {PLAN_FRAMES} "
        "frames' (start_ms, start_sample) offsets via explode of a "
        "bounded sequence.  All arithmetic is BIGINT multiply-then-"
        "integer-divide (22050 Hz never divides 1000 evenly; the "
        "product-first form is exact in both engines).  This is the "
        "batch-shaping pass a 100 TB ASR pipeline runs before any "
        "sample decode: pure projection + bounded explode, zero "
        "shuffle, and the frame grid prunes clips shorter than one "
        "window.",
)
def multimodal_audio_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    rate = (
        F.when(F.col("doc_id") % 3 == 0, AUDIO_RATES[0])
        .when(F.col("doc_id") % 3 == 1, AUDIO_RATES[1])
        .otherwise(AUDIO_RATES[2])
    )
    plan = audio_frame_plan(d).join(
        d.select("doc_id", rate.alias("sample_rate")), "doc_id"
    ).select(
        "doc_id",
        "sample_rate",
        "duration_ms",
        F.expr("sample_rate * duration_ms div 1000").alias("total_samples"),
        "n_frames",
    )
    return (
        plan.filter(F.col("n_frames") > 0)
        .select(
            "*",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.least(F.col("n_frames"), F.lit(PLAN_FRAMES)) - 1,
                )
            ).alias("f"),
        )
        .select(
            "doc_id",
            F.col("sample_rate").cast("bigint").alias("sample_rate"),
            F.col("duration_ms").cast("bigint").alias("duration_ms"),
            F.col("total_samples").cast("bigint").alias("total_samples"),
            F.col("n_frames").cast("bigint").alias("n_frames"),
            F.col("f").cast("bigint").alias("frame_idx"),
            (F.col("f") * HOP_MS).cast("bigint").alias("start_ms"),
            F.expr(f"sample_rate * f * {HOP_MS} div 1000")
            .cast("bigint")
            .alias("start_sample"),
        )
        .orderBy("doc_id", "frame_idx")
    )


# Shared by multimodal_phash_neardup and its incremental streaming
# twin (streaming/documents_stream.py stream_phash_registry).
SQL_PHASH_NEARDUP = """
    WITH ph AS (
        SELECT doc_id,
               CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) AS ph
        FROM documents
    ),
    bands AS (
        SELECT doc_id, ph, i AS band, (ph >> (15 * i)) & 32767 AS key
        FROM ph, UNNEST([0, 1, 2, 3]) AS t(i)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               a.ph AS pa, b.ph AS pb
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b,
           CAST(bit_count(xor(pa, pb)) AS INT) AS hamming
    FROM cand
    WHERE bit_count(xor(pa, pb)) <= 26
    ORDER BY id_a, id_b
    """


@register(
    "multimodal_phash_neardup",
    oracle=SQL_PHASH_NEARDUP,
    doc="Perceptual-hash image near-duplicate pairs -- the standard "
        "image-dedup path (pHash/dHash + Hamming) the dedup family "
        "lacked, over the same opaque-binary convention as the rest of "
        "the module: the 60-bit hash is the md5-derived deterministic "
        "fake standing in for a real pHash kernel (stubbed decode, "
        "module doc).  Candidate generation is Hamming LSH: split the "
        "hash into 4 x 15-bit bands and equi-join on (band, key) -- a "
        "near-dup within Hamming radius r collides on at least one "
        "band whenever its r flipped bits miss a band (the minhash "
        "banding argument verbatim), so TRUE near-dups are recalled "
        "without any all-pairs work; random pairs collide at ~4/2^15 "
        "and are killed by the exact bit_count(a ^ b) verify.  One "
        "shuffle (the band equi-join); candidates scale with near-dup "
        "density, not corpus^2.  Threshold 26/60 keeps the synthetic "
        "corpus's collision tail so the demo emits rows; a real "
        "pipeline sets ~6-10.",
)
def multimodal_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    payload = F.col("text").cast("binary")
    ph = (
        F.conv(F.substring(F.md5(payload), 1, 15), 16, 10)
        .cast("long")
        .alias("ph")
    )
    hashes = d.select("doc_id", ph)
    bands = hashes.select(
        "doc_id",
        "ph",
        F.explode(F.array(*[F.lit(i) for i in range(4)])).alias("band"),
    ).withColumn(
        # shiftright's bit count must be a literal in the DSL; the SQL
        # form takes a column expression
        "key",
        F.expr("shiftright(ph, band * 15) & 32767"),
    )
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("a.ph").alias("pa"),
            F.col("b.ph").alias("pb"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("pa").bitwiseXOR(F.col("pb")))
    return (
        cand.select(
            "id_a", "id_b", hamming.cast("int").alias("hamming")
        )
        .filter(F.col("hamming") <= 26)
        .orderBy("id_a", "id_b")
    )


# --------------------------------- voice-activity segmentation (VAD)

# Energy-threshold VAD over the frame grid: the batch-shaping pass an
# ASR pipeline runs between framing and transcription -- gate frames on
# energy, then merge consecutive speech frames into segments and keep
# the ones long enough to transcribe.  The per-frame energy kernel is a
# deterministic fake (like the family's decode stubs: integer hash of
# (doc_id, frame_idx) scaled to [0, 1)); the segmentation itself -- the
# run-length island merge, the min-duration gate, the ms bookkeeping --
# is the real Spark plumbing a production VAD keeps when the energy
# column starts coming from a decoded waveform.
VAD_THRESHOLD_MILLI = 550  # speech when energy >= 0.550 (integer gate)
VAD_MIN_FRAMES = 3         # >= 3 consecutive frames (45 ms) to keep


def _sql_vad_energy(doc: str, frame: str) -> str:
    """Deterministic fake per-frame energy in integer milli-units,
    md5-portable across engines (the minhash family's proven kernel).
    An affine integer hash would NOT do here: consecutive frames would
    step by a constant mod 1000, which makes runs of >= 3 high-energy
    frames structurally impossible -- md5 decorrelates neighbors."""
    return (
        f"(CAST('0x' || substr(md5(CAST({doc} AS VARCHAR) || ':' || "
        f"CAST({frame} AS VARCHAR)), 1, 6) AS BIGINT) % 1000)"
    )


@register(
    "multimodal_vad_segments",
    rotation_group=11,
    oracle=f"""
    WITH meta AS (
        SELECT doc_id,
               {SQL_AUDIO_DURATION} AS duration_ms
        FROM documents
    ),
    frames AS (
        SELECT doc_id, f AS frame_idx,
               {_sql_vad_energy('doc_id', 'f')} AS e_milli
        FROM (
            SELECT doc_id, {SQL_AUDIO_N_FRAMES} AS n_frames
            FROM meta
        ), LATERAL (
            SELECT unnest(generate_series(0, n_frames - 1)) AS f
        )
        WHERE n_frames > 0
    ),
    speech AS (
        SELECT doc_id, frame_idx, e_milli,
               frame_idx - ROW_NUMBER() OVER (
                   PARTITION BY doc_id ORDER BY frame_idx) AS island
        FROM frames WHERE e_milli >= {VAD_THRESHOLD_MILLI}
    ),
    segs AS (
        SELECT doc_id,
               MIN(frame_idx) AS start_frame,
               MAX(frame_idx) AS end_frame,
               COUNT(*) AS n_frames,
               SUM(e_milli) AS e_sum
        FROM speech GROUP BY doc_id, island
    )
    SELECT doc_id,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY doc_id ORDER BY start_frame) AS BIGINT)
             AS segment_idx,
           CAST(start_frame AS BIGINT) AS start_frame,
           CAST(end_frame AS BIGINT) AS end_frame,
           CAST(n_frames AS BIGINT) AS n_frames,
           CAST(start_frame * {HOP_MS} AS BIGINT) AS start_ms,
           CAST(end_frame * {HOP_MS} + {FRAME_MS} AS BIGINT) AS end_ms,
           CAST(e_sum AS DOUBLE) / (n_frames * 1000) AS mean_energy
    FROM segs
    WHERE n_frames >= {VAD_MIN_FRAMES}
    ORDER BY doc_id, segment_idx
    """,
    doc=f"Voice-activity segments over the {FRAME_MS} ms/{HOP_MS} ms "
        "frame grid: frames gated on an integer energy threshold "
        f"(>= 0.{VAD_THRESHOLD_MILLI}), consecutive speech frames "
        "merged by the run-length island trick (frame_idx minus the "
        "per-doc speech row_number is constant within a run), segments "
        f"shorter than {VAD_MIN_FRAMES} frames dropped, (start_ms, "
        "end_ms, mean_energy) emitted per kept segment.  The energy "
        "kernel is a deterministic integer-hash fake (family decode-"
        "stub convention); everything downstream of the energy column "
        "is the real production plumbing.  Scale shape: bounded "
        "per-clip frame explode, windows PARTITIONED per doc (never a "
        "global sort), one keyed shuffle on doc_id -- segment output "
        "is strictly smaller than the frame grid.",
)
def multimodal_vad_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    plan = audio_frame_plan(d).select("doc_id", "n_frames")
    frames = (
        plan.filter(F.col("n_frames") > 0)
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(0), F.col("n_frames") - 1)
            ).alias("frame_idx"),
        )
        .withColumn(
            "e_milli",
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("doc_id").cast("string"),
                            F.lit(":"),
                            F.col("frame_idx").cast("string"),
                        ).cast("binary")
                    ),
                    1,
                    6,
                ),
                16,
                10,
            ).cast("bigint")
            % 1000,
        )
    )
    w_run = Window.partitionBy("doc_id").orderBy("frame_idx")
    speech = frames.filter(
        F.col("e_milli") >= VAD_THRESHOLD_MILLI
    ).withColumn(
        "island", F.col("frame_idx") - F.row_number().over(w_run)
    )
    segs = speech.groupBy("doc_id", "island").agg(
        F.min("frame_idx").alias("start_frame"),
        F.max("frame_idx").alias("end_frame"),
        F.count("*").alias("n_frames"),
        F.sum("e_milli").alias("e_sum"),
    )
    w_seg = Window.partitionBy("doc_id").orderBy("start_frame")
    return (
        segs.filter(F.col("n_frames") >= VAD_MIN_FRAMES)
        .select(
            "doc_id",
            F.row_number().over(w_seg).cast("bigint").alias("segment_idx"),
            F.col("start_frame").cast("bigint"),
            F.col("end_frame").cast("bigint"),
            F.col("n_frames").cast("bigint"),
            (F.col("start_frame") * HOP_MS).cast("bigint").alias("start_ms"),
            (F.col("end_frame") * HOP_MS + FRAME_MS).cast("bigint")
            .alias("end_ms"),
            (
                F.col("e_sum").cast("double") / (F.col("n_frames") * 1000)
            ).alias("mean_energy"),
        )
        .orderBy("doc_id", "segment_idx")
    )
