"""Multimodal column plumbing: opaque binary payloads with typed
metadata, decoded / feature-extracted via Arrow-batched mapInPandas.

The image/audio codec libraries are not in this container, so the
actual decode is stubbed (``decode_image`` raises NotImplementedError
unless pillow appears) — but the Spark-side plumbing is real and
tested: binary column + metadata struct schema, Arrow batch transfer,
mapInPandas feature extraction with a deterministic fake decoder whose
output the DuckDB oracle reproduces exactly.

At scale: payloads stay columnar (parquet BYTE_ARRAY) until the Arrow
batch hands them to the extractor; partitioning is whatever the
upstream scan gives (no shuffle introduced); batch size is bounded by
``spark.sql.execution.arrow.maxRecordsPerBatch``.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)


def attach_binary(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Model a multimodal asset table: opaque binary payload + typed
    metadata struct (mime, n_chars). Here the payload is the utf-8
    encoding of the text column; in production it would be image/audio
    bytes read by `binaryFile` or a parquet BYTE_ARRAY column."""
    return docs.select(
        "doc_id",
        F.encode(F.col(text_col), "utf-8").alias("payload"),
        F.struct(
            F.lit("text/plain").alias("mime"), F.length(text_col).alias("n_chars")
        ).alias("meta"),
    )


FEATURES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("header_hex", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
    ]
)


def decode_image(payload: bytes):
    """Real decode path — stubbed: pillow is not in this container."""
    try:
        from PIL import Image  # noqa: F401
        import io

        return Image.open(io.BytesIO(payload))
    except ImportError as e:  # pragma: no cover - container has no PIL
        raise NotImplementedError(
            "image decode requires pillow; this container tests the Spark "
            "plumbing with extract_features' deterministic fake decoder"
        ) from e


def sample_frames(assets: DataFrame, every_n: int = 7) -> DataFrame:
    """Video-shape plumbing: fan each payload out to its sampled frame
    rows (frame count derived from payload length; a real pipeline
    reads it from container metadata). One input row explodes to
    ceil(n_frames / every_n) rows — the row-multiplying shape of frame
    extraction — with a deterministic per-frame fingerprint standing in
    for the decoded frame tensor.

    Pure column expressions (sequence + explode + md5): no Python, the
    fan-out happens JVM-side and scales with the scan.
    """
    n_frames = (F.length(F.col("payload")) / F.lit(100)).cast("int") + F.lit(1)
    idx = F.explode(
        F.sequence(F.lit(0), n_frames - F.lit(1), F.lit(every_n))
    ).alias("frame_idx")
    return assets.select("doc_id", n_frames.alias("n_frames"), idx).select(
        "doc_id",
        "n_frames",
        "frame_idx",
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":", F.col("doc_id").cast("string"), F.col("frame_idx").cast("string")
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        )
        .cast("long")
        .alias("frame_fp"),
    )


RESIZE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("out_width", IntegerType()),
        StructField("out_height", IntegerType()),
        StructField("thumb_fp", LongType()),
    ]
)


def resize_images(assets: DataFrame, max_side: int = 256) -> DataFrame:
    """Resize plumbing (decode -> scale -> re-encode slot): Arrow-batched
    mapInPandas with the deterministic fake decoder; output dimensions
    follow the real aspect-preserving rule, the thumb fingerprint
    stands in for re-encoded bytes. Swap `fake_decode` for a pillow
    decode on clusters that have it — the Spark plumbing is unchanged.
    """
    ms = int(max_side)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hl

        import pandas as _pd

        def fake_decode(payload: bytes):
            h = int(_hl.md5(payload).hexdigest()[:15], 16)
            return 320 + h % 1600, 240 + (h >> 20) % 840

        for pdf in batches:
            rows = []
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(p)
                w, h = fake_decode(b)
                scale = min(1.0, ms / max(w, h))
                ow, oh = int(w * scale), int(h * scale)
                fp = int(
                    _hl.md5(b + f":{ow}x{oh}".encode()).hexdigest()[:15], 16
                )
                rows.append((int(doc_id), w, h, ow, oh, fp))
            yield _pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "width", "height", "out_width", "out_height", "thumb_fp",
                ],
            )

    return assets.mapInPandas(fn, RESIZE_SCHEMA)


def real_decode_available() -> bool:
    """Feature probe: True when pillow is importable on the DRIVER.
    This is a pre-flight convenience only — on a heterogeneous
    cluster an executor may still lack pillow, in which case
    ``decoder='real'`` fails at task level with an explicit
    RuntimeError naming the missing dependency (raised inside the
    extraction closure, where the decode actually runs)."""
    try:
        import PIL  # noqa: F401

        return True
    except ImportError:
        return False


def extract_features(assets: DataFrame, decoder: str = "fake") -> DataFrame:
    """mapInPandas feature extraction over binary payloads (the decode
    / resize / frame-sample slot of a real pipeline).

    ``decoder='fake'`` (default, the oracle path) derives deterministic
    dimensions from the payload hash; ``decoder='real'`` decodes with
    pillow on the executors (raises there if pillow is absent — probe
    with :func:`real_decode_available` first). Both emit the same
    schema, so swapping decoders changes no downstream plumbing.

    The closure is self-contained (stdlib + pandas only) so executors
    never need this package importable — works on a bare cluster
    without shipping a wheel.
    """
    if decoder not in ("fake", "real"):
        raise ValueError(f"decoder must be 'fake' or 'real', got {decoder!r}")
    use_real = decoder == "real"

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hl

        import pandas as _pd

        if use_real:
            import io as _io

            try:
                from PIL import Image as _Image
            except ImportError as e:
                raise RuntimeError(
                    "extract_features(decoder='real') needs pillow on "
                    "THIS executor; it is importable on the driver but "
                    "missing here — install it cluster-wide or use the "
                    "deterministic fake decoder"
                ) from e

            def fake_decode(payload: bytes):
                im = _Image.open(_io.BytesIO(payload))
                return (
                    len(payload),
                    payload[:4].hex().upper(),
                    int(im.width),
                    int(im.height),
                )

        else:

            def fake_decode(payload: bytes):
                h = int(_hl.md5(payload).hexdigest()[:15], 16)
                return (
                    len(payload),
                    payload[:4].hex().upper(),
                    320 + h % 1600,
                    240 + (h >> 20) % 840,
                )

        for pdf in batches:
            feats = [fake_decode(bytes(p)) for p in pdf["payload"]]
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "n_bytes": _pd.Series([f[0] for f in feats], dtype="int64"),
                    "header_hex": [f[1] for f in feats],
                    "width": _pd.Series([f[2] for f in feats], dtype="int32"),
                    "height": _pd.Series([f[3] for f in feats], dtype="int32"),
                }
            )

    return assets.mapInPandas(fn, FEATURES_SCHEMA)
