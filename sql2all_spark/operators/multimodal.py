"""Multimodal-column operators: binary payloads with typed metadata, decode /
feature-extraction / frame-sampling as Arrow-batched pandas UDFs.

The container has no image/audio codecs, so the decode step is a STUB: a
deterministic fake that derives "media properties" from the md5 of the
payload (clearly marked below).  Everything around the stub is real and
load-bearing at 100 TB:

- media lives in an opaque ``binary`` column + typed metadata columns —
  the Spark-idiomatic layout for multimodal datasets (no codec in the plan);
- per-row transforms run through ``mapInPandas`` with Arrow batches
  (``spark.sql.execution.arrow.maxRecordsPerBatch`` bounds peak memory at
  wide binary rows);
- frame sampling fans out 1 input row → N frame rows *inside* the UDF
  iterator, the pattern for video → frame datasets;
- outputs are deterministic, so even the Python path is value-checked
  against the DuckDB oracle — the strongest correctness statement a UDF
  pipeline can make.

A real deployment swaps ``_fake_decode_props`` for PIL/ffmpeg calls; the
schema, batching, and partitioning do not change.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sql2all_spark.registry import register
from sql2all_spark.tables import load_table

FRAME_STEP = 7  # sample every 7th fake frame


def _fake_decode_props(payload: bytes) -> tuple[int, int, int]:
    """STUB decoder: derive (width, height, n_frames) from md5(payload).

    Stands in for an image/video codec (not installed in this container).
    Deterministic on purpose so the pipeline is oracle-checkable; replace
    with a real decoder without touching any Spark plumbing.
    """
    h = hashlib.md5(payload).hexdigest()
    width = int(h[0:4], 16) % 1920 + 1
    height = int(h[4:8], 16) % 1080 + 1
    n_frames = int(h[8:12], 16) % 240 + 1
    return width, height, n_frames


def _media_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.text encoded as the opaque binary payload column (the
    fixture set has no real media; the bytes are treated as opaque)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        "source",
        F.encode("text", "UTF-8").alias("payload"),
    )


@register(
    "mm_binary_metadata",
    oracle="""
SELECT doc_id, source,
       octet_length(encode(text)) AS n_bytes,
       substr(upper(md5(text)), 1, 8) AS content_key,
       CAST(('0x' || substr(md5(text), 1, 4)) AS INT) % 1920 + 1 AS width,
       CAST(('0x' || substr(md5(text), 5, 4)) AS INT) % 1080 + 1 AS height
FROM documents
""",
    doc="Binary column + typed metadata, pure JVM path: payload size, content"
    " key, and stub-decoded dimensions derived via the same md5 arithmetic"
    " the pandas-UDF decoder uses (so the two paths are cross-checkable).",
)
def mm_binary_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = _media_df(spark, sf_dir)
    md5hex = F.md5("payload")
    return m.select(
        "doc_id",
        "source",
        F.octet_length("payload").alias("n_bytes"),
        F.substring(F.upper(md5hex), 1, 8).alias("content_key"),
        (F.conv(F.substring(md5hex, 1, 4), 16, 10).cast("int") % 1920 + 1).alias(
            "width"
        ),
        (F.conv(F.substring(md5hex, 5, 4), 16, 10).cast("int") % 1080 + 1).alias(
            "height"
        ),
    )


_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("aspect_milli", T.IntegerType()),
    ]
)


@register(
    "mm_decode_features",
    oracle="""
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       CAST(('0x' || substr(md5(text), 1, 4)) AS INT) % 1920 + 1 AS width,
       CAST(('0x' || substr(md5(text), 5, 4)) AS INT) % 1080 + 1 AS height,
       CAST(('0x' || substr(md5(text), 9, 4)) AS INT) % 240 + 1 AS n_frames,
       CAST((CAST(('0x' || substr(md5(text), 1, 4)) AS INT) % 1920 + 1) * 1000
            // (CAST(('0x' || substr(md5(text), 5, 4)) AS INT) % 1080 + 1) AS INT)
         AS aspect_milli
FROM documents
""",
    doc="Decode + feature-extract through mapInPandas (Arrow batches): the"
    " stub decoder yields width/height/frames; integer feature arithmetic"
    " stays vectorized in pandas.  Oracle replays the same md5 arithmetic in"
    " SQL — a full value check OF the Python UDF path.",
)
def mm_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = _media_df(spark, sf_dir)

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            props = pdf["payload"].map(_fake_decode_props)
            out = pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": pdf["payload"].map(len).astype("int32"),
                    "width": props.map(lambda p: p[0]).astype("int32"),
                    "height": props.map(lambda p: p[1]).astype("int32"),
                    "n_frames": props.map(lambda p: p[2]).astype("int32"),
                }
            )
            out["aspect_milli"] = (out["width"] * 1000 // out["height"]).astype(
                "int32"
            )
            yield out

    return m.mapInPandas(decode_batches, schema=_FEATURES_SCHEMA)


@register(
    "mm_frame_sample",
    oracle=f"""
SELECT d.doc_id,
       CAST(f.frame_idx AS INT) AS frame_idx,
       d.doc_id || ':' || f.frame_idx AS frame_key
FROM documents d,
     LATERAL (
       SELECT UNNEST(range(0,
         CAST(('0x' || substr(md5(d.text), 9, 4)) AS INT) % 240 + 1,
         {FRAME_STEP})) AS frame_idx
     ) f
""",
    doc="Video-frame sampling plumbing: Python touches each media row ONCE"
    " (the stub decode yields n_frames, 1 row in → 1 row out through"
    " mapInPandas); the row-multiplying fan-out to every"
    f" {FRAME_STEP}th frame index is JVM-side explode(sequence(...)) inside"
    " whole-stage codegen.  That split — decode in Arrow-batched Python,"
    " multiplication in the engine — is the shape that scales: the Python"
    " boundary moves O(docs) rows, never O(frames).",
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = _media_df(spark, sf_dir)

    def decode_nframes(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_frames": pdf["payload"]
                    .map(lambda p: _fake_decode_props(p)[2])
                    .astype("int32"),
                }
            )

    counted = m.mapInPandas(decode_nframes, schema="doc_id long, n_frames int")
    # sequence() stop is inclusive, so n_frames - 1 reproduces the
    # exclusive-stop range(0, n_frames, step) of the oracle (n_frames >= 1
    # always: the stub decoder maps into [1, 240])
    return counted.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(FRAME_STEP))
        ).alias("frame_idx"),
    ).select(
        "doc_id",
        F.col("frame_idx").cast("int").alias("frame_idx"),
        F.concat_ws(":", "doc_id", "frame_idx").alias("frame_key"),
    )


RESIZE_BOX = 224  # fit-within target (e.g. vision-encoder input)

_RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("new_width", T.IntegerType()),
        T.StructField("new_height", T.IntegerType()),
        T.StructField("scale_milli", T.IntegerType()),
    ]
)


@register(
    "mm_resize",
    oracle=f"""
WITH dims AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(text), 1, 4)) AS INT) % 1920 + 1 AS width,
         CAST(('0x' || substr(md5(text), 5, 4)) AS INT) % 1080 + 1 AS height
  FROM documents
),
scaled AS (
  SELECT *, LEAST(CAST({RESIZE_BOX} AS DOUBLE) / width,
                  CAST({RESIZE_BOX} AS DOUBLE) / height, 1.0) AS s
  FROM dims
)
SELECT doc_id, width, height,
       CAST(GREATEST(CAST(FLOOR(width * s + 0.5) AS INT), 1) AS INT) AS new_width,
       CAST(GREATEST(CAST(FLOOR(height * s + 0.5) AS INT), 1) AS INT) AS new_height,
       CAST(FLOOR(s * 1000 + 0.5) AS INT) AS scale_milli
FROM scaled
""",
    doc=f"Image resize planning (fit-within {RESIZE_BOX}px box, aspect"
    " preserved, never upscale): the mapInPandas stage a vision pipeline"
    " runs before encoder ingestion.  The decode is the stub"
    " (md5-derived dims); the batch shape, schema, and scaling arithmetic"
    " are real — swap _fake_decode_props for PIL and add the resized"
    " bytes column without touching the Spark plumbing.  floor(x+0.5)"
    " rounding spelled out for cross-engine half-case agreement.",
)
def mm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = _media_df(spark, sf_dir)

    def resize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            props = pdf["payload"].map(_fake_decode_props)
            w = props.map(lambda p: p[0]).astype("int32")
            h = props.map(lambda p: p[1]).astype("int32")
            s = (RESIZE_BOX / w).combine(RESIZE_BOX / h, min).combine(
                pd.Series(1.0, index=w.index), min
            )
            out = pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": w,
                    "height": h,
                    "new_width": (w * s + 0.5).map(int).clip(lower=1).astype("int32"),
                    "new_height": (h * s + 0.5).map(int).clip(lower=1).astype("int32"),
                    "scale_milli": (s * 1000 + 0.5).map(int).astype("int32"),
                }
            )
            yield out

    return m.mapInPandas(resize_batches, schema=_RESIZE_SCHEMA)


AUDIO_WINDOW_MOD = 24  # stub decode: 1-24 RMS windows per clip
SILENCE_MILLI = 100  # energy_milli below this ⇒ silence


def _fake_audio_props(payload: bytes) -> tuple[int, int]:
    """STUB audio decoder: (sample_rate, n_windows) from md5(payload) —
    stands in for an ffmpeg/soundfile probe (not in this container), same
    contract as :func:`_fake_decode_props`: deterministic so the pipeline
    stays oracle-checkable; swap for a real decoder without touching the
    Spark plumbing."""
    h = hashlib.md5(payload).hexdigest()
    sample_rate = int(h[0:4], 16) % 32000 + 8000
    n_windows = int(h[4:8], 16) % AUDIO_WINDOW_MOD + 1
    return sample_rate, n_windows


@register(
    "mm_audio_energy",
    oracle=f"""
SELECT d.doc_id,
       CAST(('0x' || substr(md5(d.text), 1, 4)) AS INT) % 32000 + 8000
         AS sample_rate,
       CAST(w.window_idx AS INT) AS window_idx,
       CAST(CAST(('0x' || substr(md5(d.doc_id || ':' || w.window_idx), 1, 4))
                 AS INT) % 1000 AS INT) AS energy_milli,
       CASE WHEN CAST(('0x' || substr(md5(d.doc_id || ':' || w.window_idx), 1, 4))
                      AS INT) % 1000 < {SILENCE_MILLI}
            THEN 1 ELSE 0 END AS is_silence
FROM documents d,
     LATERAL (
       SELECT UNNEST(range(0,
         CAST(('0x' || substr(md5(d.text), 5, 4)) AS INT)
           % {AUDIO_WINDOW_MOD} + 1)) AS window_idx
     ) w
""",
    doc="Audio-clip energy profiling — the audio leg of the multimodal"
    " surface (image=mm_decode_features/mm_resize, video=mm_frame_sample)."
    " Python touches each clip ONCE (stub probe yields sample_rate +"
    " window count through mapInPandas); the per-window fan-out and the"
    " RMS-energy derivation (md5-hex arithmetic standing in for real PCM"
    " windows) run JVM-side in whole-stage codegen.  Silence flagging at"
    f" energy < {SILENCE_MILLI}/1000 is the standard pre-filter that drops"
    " dead air before transcription at 100 TB.",
)
def mm_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = _media_df(spark, sf_dir)

    def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            props = pdf["payload"].map(_fake_audio_props)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "sample_rate": props.map(lambda p: p[0]).astype("int32"),
                    "n_windows": props.map(lambda p: p[1]).astype("int32"),
                }
            )

    probed = m.mapInPandas(
        probe, schema="doc_id long, sample_rate int, n_windows int"
    )
    fanned = probed.select(
        "doc_id",
        "sample_rate",
        F.explode(
            F.sequence(F.lit(0), F.col("n_windows") - 1)
        ).alias("window_idx"),
    )
    whash = F.md5(F.concat_ws(":", "doc_id", "window_idx"))
    energy = (F.conv(F.substring(whash, 1, 4), 16, 10).cast("int") % 1000)
    return fanned.select(
        "doc_id",
        "sample_rate",
        F.col("window_idx").cast("int").alias("window_idx"),
        energy.cast("int").alias("energy_milli"),
        F.when(energy < SILENCE_MILLI, 1).otherwise(0).alias("is_silence"),
    )


# --- perceptual-hash near-dup: the multimodal twin of dedup_simhash ------

# Constants + the blocking-agnostic pair oracle live in
# multimodal_shared.py, shared with mm_cluster.py.
from sql2all_spark.operators.multimodal_shared import (  # noqa: E402
    PHASH_BANDS,
    PHASH_BAND_BITS,
    PHASH_BITS,
    PHASH_MAX_HAMMING,
    _PHASH_SALT,
    phash_pairs_oracle as _phash_oracle,
)


def _phash_pandas(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """STUB pHash "codec": decode payload → features → 60-bit signature.

    A real pHash is DCT-of-downscaled-image sign bits; the container has
    no image codec, so the stub "decodes" the payload as UTF-8, treats
    distinct tokens as the low-frequency features, and folds the SAME
    md5 bit-vote arithmetic as ``functions.hashing.base_hash`` (salted
    with ``ph:`` so signatures differ from dedup_simhash's) — locality-
    sensitive like a real pHash (similar payloads → small Hamming
    distance) AND bit-replayable in SQL, so even the Python path is
    value-checked by the oracle.  Swap this function for a PIL/DCT
    implementation without touching the Spark plumbing.

    Per-batch token memoization: a token's ±1 bit-vote vector is computed
    once per Arrow batch, not once per occurrence.
    """
    import numpy as np

    def _votes(tok: str, memo: dict) -> "np.ndarray":
        v = memo.get(tok)
        if v is None:
            h = int(
                hashlib.md5((_PHASH_SALT + tok).encode("utf-8")).hexdigest()[:15],
                16,
            )
            bits = np.fromiter(
                (((h >> (PHASH_BITS - 1 - j)) & 1) for j in range(PHASH_BITS)),
                dtype=np.int64,
                count=PHASH_BITS,
            )
            v = memo[tok] = bits * 2 - 1
        return v

    for pdf in batches:
        memo: dict = {}
        ids, hashes = [], []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            text = bytes(payload).decode("utf-8")
            acc = None
            for tok in set(text.split(" ")):
                bv = _votes(tok, memo)
                acc = bv.copy() if acc is None else acc + bv
            ph = 0
            for v in acc:
                ph = ph * 2 + (1 if v >= 0 else 0)
            ids.append(doc_id)
            hashes.append(ph)
        yield pd.DataFrame({"doc_id": ids, "phash": hashes})


@register(
    "mm_phash_neardup",
    oracle=_phash_oracle(),
    doc="Perceptual-hash near-dup over the binary media column — the"
    " multimodal twin of dedup_simhash: a 60-bit pHash per payload"
    " computed in an Arrow-batched mapInPandas codec stub (deterministic"
    " md5 bit-votes standing in for DCT sign bits; real plumbing, fake"
    f" decoder), then {PHASH_BANDS} bands of {PHASH_BAND_BITS} bits and"
    " an EQUI-join on the band key for candidates (pigeonhole: any pair"
    f" within Hamming {PHASH_MAX_HAMMING} agrees on >= 1 band), exact"
    " Hamming verification on candidates only.  Python touches each"
    " payload exactly once (signature extraction — where a real codec"
    " would run); banding, the candidate join, and verification are all"
    " JVM-side, so the shape at 100 TB is 4 slim (band_key, doc_id, sig)"
    " rows per image and candidate-density-bounded pairs, never"
    " all-pairs.  The blocking-agnostic oracle proves banded recall.",
)
def mm_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sql2all_spark.cache import persist_tracked

    m = _media_df(spark, sf_dir).select("doc_id", "payload")
    sigs = m.mapInPandas(_phash_pandas, schema="doc_id long, phash long")
    band_vals = [
        (
            F.shiftright(
                F.col("phash"), PHASH_BAND_BITS * (PHASH_BANDS - 1 - j)
            ).bitwiseAND(F.lit((1 << PHASH_BAND_BITS) - 1))
            + F.lit(j << PHASH_BAND_BITS)
        ).alias(f"b{j}")
        for j in range(PHASH_BANDS)
    ]
    banded = sigs.select(
        "doc_id", "phash", F.explode(F.array(*band_vals)).alias("band_key")
    ).transform(persist_tracked)
    a = banded.select(
        F.col("doc_id").alias("doc_a"), F.col("phash").alias("ph_a"), "band_key"
    )
    b = banded.select(
        F.col("doc_id").alias("doc_b"), F.col("phash").alias("ph_b"), "band_key"
    )
    hamming = F.bit_count(F.col("ph_a").bitwiseXOR(F.col("ph_b")))
    return (
        a.join(b, "band_key")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= PHASH_MAX_HAMMING)
        .dropDuplicates(["doc_a", "doc_b"])
    )
