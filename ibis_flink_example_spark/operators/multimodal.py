"""Multimodal columns (SURVEY.md §2.11 X5): image/audio/video as opaque
``binary`` payloads with typed metadata, plus decode / feature-extract /
resize / frame-sample stages as Arrow-batched ``mapInPandas`` operators.

Spark-side design (all REAL and tested): schema convention, partitioning,
UDF signatures, batch shapes. Pixel decode has TWO arms: a real
Pillow-backed branch (``use_real_decoder=True`` — open → convert("L") →
numpy channel stats + actual dims, used whenever PIL is importable on the
worker, per-row fallback on corrupt payloads) and a clearly-marked
deterministic fake derived from the payload bytes (used when no image
library is present, as in this container), so every downstream stage
(schema, batching, aggregation) is exercised for real either way.

Scale notes: payloads ride the scan as binary; metadata is a pruned struct
so metadata-only queries never touch bytes (columnar parquet). mapInPandas
streams Arrow batches — bound batch memory with
``spark.sql.execution.arrow.maxRecordsPerBatch`` when payloads are MBs.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# --- schema convention ------------------------------------------------------

MEDIA_METADATA_TYPE = T.StructType(
    [
        T.StructField("modality", T.StringType()),  # image | audio | video
        T.StructField("mime", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
    ]
)

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("metadata", MEDIA_METADATA_TYPE),
    ]
)


def image_metadata(width: Column, height: Column) -> Column:
    return F.struct(
        F.lit("image").alias("modality"),
        F.lit("image/fake").alias("mime"),
        width.cast("int").alias("width"),
        height.cast("int").alias("height"),
        F.lit(None).cast("int").alias("sample_rate"),
        F.lit(None).cast("int").alias("n_frames"),
    )


def documents_as_media(docs: DataFrame) -> DataFrame:
    """Deterministic media table derived from the documents fixture: the
    text bytes stand in for an encoded image; width/height derived from
    n_chars. Gives every multimodal stage a reproducible input."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.col("text").cast("binary").alias("payload"),
        image_metadata(
            (F.col("n_chars") % 64) + 1, (F.col("n_chars") % 48) + 1
        ).alias("metadata"),
    )


# --- decode stub ------------------------------------------------------------


def _decode_image_real(payload: bytes) -> tuple[float, int, int, int, int]:
    """Real image decode: grayscale channel stats + actual pixel dims.

    Returns ``(mean, min, max, width, height)``. Raises ImportError when no
    image library is present (callers choose fake-fallback vs strict) and
    lets decode errors (corrupt payload) propagate for per-row handling.
    """
    import io

    import numpy as np
    import PIL.Image

    with PIL.Image.open(io.BytesIO(payload)) as img:
        gray = img.convert("L")
        arr = np.asarray(gray, dtype=np.uint8)
        if arr.size == 0:
            return (0.0, 0, 0, int(img.width), int(img.height))
        return (
            float(arr.mean()),
            int(arr.min()),
            int(arr.max()),
            int(img.width),
            int(img.height),
        )


def real_decoder_available() -> bool:
    """True iff an image decode library is importable in THIS interpreter.
    Checked on the driver for the fail-fast ``strict`` path; workers
    re-check inside the UDF (a cluster can have heterogeneous images)."""
    try:
        import PIL.Image  # noqa: F401

        return True
    except ImportError:
        return False


# --- mapInPandas stages -----------------------------------------------------

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("mean_byte", T.DoubleType()),
        T.StructField("min_byte", T.IntegerType()),
        T.StructField("max_byte", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        # provenance: True iff the REAL pixel decode produced this row's
        # stats. Fake-path and per-row corrupt-payload fallbacks emit
        # byte stats in the same columns — without this flag downstream
        # aggregates silently mix incommensurable units (ADVICE r6 #3).
        T.StructField("decoded_real", T.BooleanType()),
    ]
)


def extract_features(
    media: DataFrame, use_real_decoder: bool = False, strict: bool = False
) -> DataFrame:
    """Arrow-batched feature extraction over payload bytes.

    ``mapInPandas``: each Arrow batch arrives as a pandas DataFrame; we
    return an iterator of result frames — constant memory per batch, no
    row-at-a-time Python overhead.

    ``use_real_decoder=True`` degrades GRACEFULLY when no image library is
    importable: a single warning per worker, then the deterministic
    fake-decode path — so the operator is runnable (not just declarable) in
    any environment. ``strict=True`` means fake features NEVER ship: it
    fails fast on the driver when no decoder is importable, AND raises on
    the worker for any individual payload the real decoder cannot handle
    (without strict, a corrupt payload degrades per-row to byte stats +
    declared metadata dims).
    """
    if use_real_decoder and strict and not real_decoder_available():
        raise NotImplementedError(
            "real image decode requires Pillow (strict=True); install an "
            "image library or drop strict to use the deterministic fake path"
        )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # The real decoder is the ONE module-level implementation
        # (_decode_image_real — the code the unit test pins), imported on
        # the worker: ship_package_to_workers (called by apply_session_conf)
        # makes the package importable there; if that import fails the
        # worker treats it as decoder-absent (warn or strict-raise).
        import numpy as np

        def fake_stats(p):
            if not p:
                return (0.0, 0, 0)
            arr = np.frombuffer(p, dtype=np.uint8)
            return (float(arr.mean()), int(arr.min()), int(arr.max()))

        real_stats = None
        if use_real_decoder:
            try:
                import PIL.Image  # noqa: F401

                from ibis_flink_example_spark.operators.multimodal import (
                    _decode_image_real as real_stats,
                )
            except ImportError:
                if strict:
                    raise NotImplementedError(
                        "strict real decode: Pillow or the package is not "
                        "importable on this worker"
                    )
                import warnings

                warnings.warn(
                    "real image decode requested but Pillow (or the "
                    "package) is not importable on this worker — degrading "
                    "to the deterministic fake-decode path",
                    RuntimeWarning,
                    stacklevel=2,
                )

        for pdf in batches:
            rows = []
            for mid, p, m in zip(pdf["media_id"], pdf["payload"], pdf["metadata"]):
                if real_stats is not None and p:
                    try:
                        mean, lo, hi, w, h = real_stats(p)
                        rows.append((mean, lo, hi, w, h, True))
                        continue
                    except Exception as exc:
                        if strict:
                            raise ValueError(
                                f"strict real decode failed for media_id={mid}"
                            ) from exc
                        # corrupt/undecodable payload: per-row fallback to
                        # byte stats + declared metadata dims — marked
                        # decoded_real=False so consumers can filter it
                mean, lo, hi = fake_stats(p)
                rows.append((mean, lo, hi, m["width"], m["height"], False))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_bytes": [len(p) if p is not None else 0 for p in pdf["payload"]],
                    "mean_byte": [r[0] for r in rows],
                    "min_byte": [r[1] for r in rows],
                    "max_byte": [r[2] for r in rows],
                    "width": [r[3] for r in rows],
                    "height": [r[4] for r in rows],
                    "decoded_real": [r[5] for r in rows],
                }
            )

    from ibis_flink_example_spark.catalog import fan_out

    # fan_out capped at 8: decode work is embarrassingly parallel and a
    # single-row-group input file otherwise feeds ONE Python worker — but
    # each extra partition forks+initializes an Arrow worker, which at small
    # row counts costs more than it buys beyond a handful of partitions
    return fan_out(media, min_partitions=8).mapInPandas(run, schema=FEATURES_SCHEMA)


def resize_metadata(media: DataFrame, max_side: int) -> DataFrame:
    """'Resize' stage: recompute target dims preserving aspect ratio (pure
    columns — the real pixel resample would live in the mapInPandas decode
    path; the metadata contract is what downstream stages consume)."""
    w, h = F.col("metadata.width"), F.col("metadata.height")
    scale = F.least(F.lit(max_side) / w, F.lit(max_side) / h, F.lit(1.0))
    return media.withColumn(
        "resized",
        F.struct(
            F.ceil(w * scale).cast("int").alias("width"),
            F.ceil(h * scale).cast("int").alias("height"),
        ),
    )


def frame_sample_plan(media: DataFrame, every_n: int = 10) -> DataFrame:
    """Frame-sampling stage for video payloads: emits one row per sampled
    frame index (explode of a sequence — the shuffle-free Spark shape for
    1:N expansion). Decode of the frame itself is the stubbed step."""
    n = F.coalesce(F.col("metadata.n_frames"), F.lit(1))
    return media.select(
        "media_id",
        F.explode(F.sequence(F.lit(0), n - 1, F.lit(every_n))).alias("frame_idx"),
    )


# --- perceptual-hash image near-dup (X5 x X2) --------------------------------


def payload_pixel_codes(payload_col: Column | str) -> Column:
    """Deterministic fake 'pixel stream' for a media payload: the decoded
    payload string's character code points as ``array<int>`` — the
    multimodal stand-in this container uses where a real pipeline would
    emit the grayscale pixel array from the mapInPandas decode stage
    (``extract_features``'s real arm). Scan-stage expression; empty
    payloads yield an EMPTY array (Spark's ``split('', '')`` returns
    ``['']``, which would otherwise fake one zero-valued pixel)."""
    s = (
        F.col(payload_col).cast("string")
        if isinstance(payload_col, str)
        else payload_col.cast("string")
    )
    # split('', '') is the ONLY input that yields an empty-string element
    # (Java String.split with a zero-width pattern never emits empties on
    # non-empty input), so the empty-payload case is handled by one
    # scalar length guard instead of an interpreted per-element filter
    # pass over every character (r15; one fewer HOF pass per row).
    # MINIMUM Spark 3.3.1 (SPARK-40194): older releases keep a trailing
    # empty element from a zero-width split, which this guard does NOT
    # filter — tests/test_plan_audits pins size(split('ab','')) == 2 on
    # the running engine so a version downgrade fails loudly (ADVICE r15).
    return F.when(
        F.length(s) == 0, F.array().cast("array<int>")
    ).otherwise(F.transform(F.split(s, ""), lambda c: F.ascii(c)))


def blockhash_signatures(
    df: DataFrame,
    *,
    id_col: str,
    pixels_col: str,
    bits: int = 64,
    sig_col: str = "__ph",
) -> DataFrame:
    """Block-mean perceptual hash (Yang et al.'s Block Mean Value hash /
    'blockhash', the pHash family member that is pure integer arithmetic):
    the pixel stream is cut into ``bits`` equal contiguous blocks and bit
    b is set iff block b's mean is >= the global mean. Robust to uniform
    brightness shifts and small local edits — two payloads differing in a
    few pixels differ in few blocks, so near-dup detection is a small
    Hamming distance over the signatures (pair generation via
    ``dedup.hamming_band_pairs``, the SimHash machinery reused verbatim).

    Exactness: the mean comparison is the cross-multiplication
    ``block_sum * n >= total_sum * block_len`` — all operands non-negative
    integers, so the bit vector (and the packed signed-64 signature) is
    engine-exact and SQL-mirrorable.

    Scale shape: a signature is a pure per-row function, so it is computed
    ENTIRELY in-row — zero shuffles, zero explodes, fully pipelined into
    the scan. Block b's positions are the closed-form ceil slice
    ``[ceil(b*n/64), ceil((b+1)*n/64) - 1]`` (the exact inverse image of
    ``pos*64 DIV n == b``), so block sums are 64 ``aggregate(slice(...))``
    higher-order passes — each pixel is added exactly once (the grand
    total is the 64-element sum of block sums, not a second n-length
    pass), ~n JVM adds per doc. This measured 6x faster at
    sf0.1 than the simhash-style posexplode + 130-conditional-sum
    scan-path formulation (whose per-pixel cost is 64 ``when`` probes, not
    1 add) — the opposite trade from simhash, where per-WORD rows are few
    and bit extraction is branchless. Docs with an EMPTY pixel array get
    signature 0 (explicit ``n = 0`` branch; slice math never divides by
    zero — DIV operands are products with n).

    Returns (id_col, sig_col): one signed-64 signature per input row.
    """
    if bits != 64:
        raise ValueError("blockhash_signatures: only 64-bit signatures")
    # Overflow contract, checked LAZILY per row (the pps raise_error
    # idiom): the cross-multiply sum*n <= max_code * n^2 (~2^21 * n^2 for
    # unicode code points) stays inside BIGINT only for n < ~2M pixels —
    # beyond that the comparison would wrap (ANSI: crash mid-query;
    # non-ANSI: silently flipped bits vs the HUGEINT oracle). Real
    # perceptual hashing resizes to a small grayscale raster BEFORE
    # hashing (the decode stage's job), so the bound is a contract, not a
    # limitation; a DECIMAL(38,0) variant measured 3x slower at sf0.1.
    n_guard = F.when(
        F.size(F.col(pixels_col)) > 2_000_000,
        F.raise_error(
            F.lit(
                "blockhash_signatures: > 2M pixels in one payload — "
                "resize/downsample before hashing (int64 overflow bound)"
            )
        ).cast("long"),
    ).otherwise(F.size(F.col(pixels_col)).cast("long"))
    base = df.select(
        F.col(id_col),
        F.col(pixels_col).alias("__px"),
        n_guard.alias("__n"),
    )
    staged = base.select(
        id_col,
        "__n",
        F.expr(
            f"transform(sequence(0, {bits - 1}), b -> "
            f"aggregate(slice(__px, CAST((b * __n + 63) DIV {bits} + 1 AS INT), "
            f"CAST(((b + 1) * __n + 63) DIV {bits} - (b * __n + 63) DIV {bits} AS INT)), "
            "0L, (a, x) -> a + CAST(x AS BIGINT)))"
        ).alias("__sums"),
        F.expr(
            f"transform(sequence(0, {bits - 1}), b -> "
            f"((b + 1) * __n + 63) DIV {bits} - (b * __n + 63) DIV {bits})"
        ).alias("__lens"),
    ).select(
        id_col,
        "__n",
        "__sums",
        "__lens",
        # The ceil slices partition the pixel array exactly (each block's
        # range is the inverse image of pos*bits DIV n == b), so the grand
        # total is the 64-element sum of block sums — identical BIGINT
        # value, one fewer n-length interpreted pass per row (r15).
        F.aggregate(
            F.col("__sums"), F.lit(0).cast("long"), lambda a, x: a + x
        ).alias("__total"),
    )
    sig = F.lit(0).cast("long")
    # BIGINT cross-multiplies — exact under the n <= 2M guard above
    for b in range(bits):
        mask = (1 << b) - (1 << 64) if b == 63 else (1 << b)
        blen = F.element_at("__lens", b + 1)
        sig = sig.bitwiseOR(
            F.when(
                (blen > 0)
                & (
                    F.element_at("__sums", b + 1) * F.col("__n")
                    >= F.col("__total") * blen
                ),
                F.lit(mask).cast("long"),
            ).otherwise(F.lit(0).cast("long"))
        )
    return staged.select(
        F.col(id_col),
        F.when(F.col("__n") == 0, F.lit(0).cast("long"))
        .otherwise(sig)
        .alias(sig_col),
    )


def phash_neardup_pairs(
    media: DataFrame,
    *,
    id_col: str = "media_id",
    payload_col: str = "payload",
    max_hamming: int = 7,
    n_chunks: int = 8,
    max_bucket_size: int | None = 50_000,
    log_dropped: bool = False,
) -> DataFrame:
    """Image near-dup candidate pairs over a media table: blockhash
    signature per payload, then Hamming-LSH banding + xor/popcount verify
    via ``dedup.hamming_band_pairs`` (8 chunks of 8 bits by default —
    lossless for Hamming <= 7, the standard pHash near-dup band). The
    signature table is materialized (localCheckpoint) because the bucket
    self-join consumes it twice; 8 bytes per image regardless of payload
    size. Returns (id_a, id_b, hamming), id_a < id_b."""
    from ibis_flink_example_spark.catalog import fan_out
    from ibis_flink_example_spark.operators.dedup import hamming_band_pairs

    # fan_out BEFORE the pixel-code projection: the signature scan is
    # CPU-bound interpreted-HOF work (per-char codes + 64 slice
    # aggregates) and a single-row-group fixture file otherwise runs it
    # all on ONE core; widening first shuffles the raw payload bytes, so
    # the per-char work lands post-exchange on every core (no-op at
    # scale — r15).
    sigd = blockhash_signatures(
        fan_out(media.select(id_col, payload_col)).select(
            F.col(id_col), payload_pixel_codes(payload_col).alias("__px")
        ),
        id_col=id_col,
        pixels_col="__px",
        sig_col="__ph",
    ).localCheckpoint(eager=True)
    out = hamming_band_pairs(
        sigd,
        id_col=id_col,
        sig_col="__ph",
        max_hamming=max_hamming,
        n_chunks=n_chunks,
        max_bucket_size=max_bucket_size,
        log_dropped=log_dropped,
        what="phash chunk bucket",
    )
    # release discipline: loop callers release via
    # checkpoints.release_eager_checkpoints(out) after consumption
    from ibis_flink_example_spark.operators.checkpoints import (
        attach_eager_checkpoints,
    )

    return attach_eager_checkpoints(out, handles=(sigd,))


def audio_metadata(sample_rate: Column, n_samples: Column) -> Column:
    return F.struct(
        F.lit("audio").alias("modality"),
        F.lit("audio/fake").alias("mime"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        sample_rate.cast("int").alias("sample_rate"),
        n_samples.cast("int").alias("n_frames"),  # raw samples for audio
    )


def documents_as_audio(docs: DataFrame) -> DataFrame:
    """Deterministic audio media derived from the documents fixture: text
    bytes stand in for PCM samples (1 byte = 1 sample), sample_rate
    8k/16k by doc parity — the audio twin of documents_as_media, giving
    the audio stages a reproducible input without any codec."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.col("text").cast("binary").alias("payload"),
        audio_metadata(
            F.when(F.col("doc_id") % 2 == 0, F.lit(16000)).otherwise(
                F.lit(8000)
            ),
            F.col("n_chars"),
        ).alias("metadata"),
    )


def audio_frame_plan(
    media: DataFrame,
    *,
    frame_samples: int = 400,
    hop_samples: int = 160,
) -> DataFrame:
    """Framing plan for audio payloads — the boundary math every
    feature-extraction stage (fbank/MFCC/ASR windows) needs, computed as
    pure metadata columns so the PLAN never touches payload bytes (the
    scan prunes to the metadata struct): with the classic 25 ms frame /
    10 ms hop at 16 kHz defaults,

    - ``n_frames`` = 1 + floor((n_samples - frame) / hop) — FULL frames
      only, a partial tail is dropped (the fbank convention); sub-frame
      clips get one right-padded frame; empty payloads get 0;
    - ``last_frame_start`` = (n_frames - 1) * hop (NULL when empty);
    - ``tail_padded`` = true exactly for the sub-frame-clip case (the
      one frame that must be right-padded to frame_samples).

    All integer arithmetic on non-negative operands — engine-exact. The
    actual per-frame slicing happens in the mapInPandas feature stage
    (media_features' shape); this plan is what sizes and partitions it.
    """
    ns = F.col("metadata.n_frames").cast("long")  # raw samples (audio)
    n_frames = (
        F.when(ns <= 0, F.lit(0))
        .when(ns < frame_samples, F.lit(1))
        .otherwise(
            F.lit(1) + F.expr(f"(metadata.n_frames - {frame_samples}) DIV {hop_samples}")
        )
        .cast("long")
    )
    last_start = F.when(
        n_frames > 0, (n_frames - 1) * hop_samples
    ).cast("long")
    tail_padded = F.when(ns <= 0, F.lit(False)).otherwise(
        last_start + frame_samples > ns
    )
    return media.select(
        "media_id",
        F.col("metadata.sample_rate").cast("long").alias("sample_rate"),
        ns.alias("n_samples"),
        n_frames.alias("n_frames"),
        last_start.alias("last_frame_start"),
        tail_padded.alias("tail_padded"),
    )
