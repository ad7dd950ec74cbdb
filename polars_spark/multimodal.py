"""Multimodal (image/audio/video) column support: opaque binary payloads +
typed metadata, processed with Arrow-batched mapInPandas.

Design (SURVEY-adjacent; the reference has no multimodal surface — this is
the training-data-pipeline extension the brief asks for):

- Media travels as a ``binary`` column next to typed metadata
  (width/height/codec/duration), exactly how parquet stores it at 100 TB:
  the bytes never pass through the driver, and column pruning means scans
  that don't touch pixels never read them.
- decode / feature-extract / resize / frame-sample are ``mapInPandas``
  stages: Arrow batches in, Arrow batches out, numpy inside.  Real codecs
  (PIL/ffmpeg) are NOT in this image, so ``decode_image`` raises
  NotImplementedError with the integration point documented, and
  ``extract_features`` ships a clearly-marked DETERMINISTIC FAKE decoder
  (byte-histogram features) so the Spark-side plumbing — schema, batching,
  partitioning — is real and testable end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from polars_spark.llm import _materialize

__all__ = [
    "attach_fake_image_bytes",
    "image_ahash",
    "image_ahash_pairs",
    "decode_image",
    "extract_features",
    "sample_frames",
    "resize_images",
    "extract_audio_features",
]

FEATURE_DIM = 16


def attach_fake_image_bytes(df: DataFrame, text_col: str, out_col: str = "image") -> DataFrame:
    """Stand-in media payload: the utf-8 bytes of a text column as `binary`,
    plus the metadata columns a real ingest would carry."""
    return (
        df.withColumn(out_col, F.encode(F.col(text_col), "utf-8"))
        .withColumn("media_type", F.lit("image/fake"))
        .withColumn("media_bytes", F.octet_length(F.col(out_col)))
    )


def decode_image(df: DataFrame, binary_col: str = "image"):
    """Real image decode requires a codec library on the executors (PIL /
    turbojpeg), which this container does not ship.  Integration point: a
    mapInPandas stage identical in shape to ``extract_features`` below,
    decoding each `bytes` value to HxWxC uint8."""
    raise NotImplementedError(
        "no image codec in this environment; see extract_features for the "
        "mapInPandas plumbing a real decoder plugs into"
    )


def extract_features(df: DataFrame, binary_col: str = "image", dim: int = FEATURE_DIM) -> DataFrame:
    """FAKE-decoder feature extraction (clearly marked): a deterministic
    byte-histogram 'embedding' per media payload.  Everything around the
    fake decode — Arrow batch transfer, output schema, per-partition
    execution — is exactly what a real CLIP/ResNet featurizer uses."""
    import numpy as np
    import pandas as pd

    other = [c for c in df.columns if c != binary_col]
    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema if f.name != binary_col)
    schema += f", features array<float>"

    def gen(batches):
        for pdf in batches:
            feats = []
            for payload in pdf[binary_col]:
                if payload is None:
                    feats.append(None)
                    continue
                arr = np.frombuffer(bytes(payload), dtype=np.uint8)
                hist, _ = np.histogram(arr, bins=dim, range=(0, 256))
                total = hist.sum() or 1
                feats.append((hist / total).astype("float32"))
            out = pdf[other].copy()
            out["features"] = feats
            yield out

    return df.mapInPandas(gen, schema)


def sample_frames(
    df: DataFrame,
    binary_col: str = "video",
    *,
    frame_bytes: int = 64,
    every_n: int = 2,
) -> DataFrame:
    """Frame sampling: one-to-many mapInPandas (each media row explodes into
    its sampled frames).  FAKE container format (clearly marked): the
    payload is treated as a sequence of fixed-size ``frame_bytes`` chunks —
    a real demuxer (ffmpeg on executors, not in this container) plugs into
    the same batch-in / multi-row-batch-out shape.  Keeps every
    ``every_n``-th frame; frames never pass through the driver."""
    import pandas as pd

    other = [c for c in df.columns if c != binary_col]
    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema if f.name != binary_col)
    schema += ", frame_idx int, frame binary"

    def gen(batches):
        for pdf in batches:
            out_rows = []
            for _, row in pdf.iterrows():
                payload = row[binary_col]
                if payload is None:
                    continue
                b = bytes(payload)
                n_frames = (len(b) + frame_bytes - 1) // frame_bytes
                for k in range(0, n_frames, every_n):
                    rec = {c: row[c] for c in other}
                    rec["frame_idx"] = k
                    rec["frame"] = b[k * frame_bytes : (k + 1) * frame_bytes]
                    out_rows.append(rec)
            yield pd.DataFrame(out_rows, columns=[*other, "frame_idx", "frame"])

    return df.mapInPandas(gen, schema)


def resize_images(df: DataFrame, binary_col: str = "image", *, out_side: int = 4) -> DataFrame:
    """Resize via mapInPandas.  FAKE decode (clearly marked): the payload is
    read as a square grayscale image of side floor(sqrt(len)) — a real
    decoder (PIL, absent here) yields HxWxC the same way.  The resize
    itself is real: nearest-neighbor index mapping src = (dst * side) //
    out_side done in numpy per Arrow batch.  Emits the pixel grid
    row-major as array<int> plus the decoded side, so results are
    engine-checkable."""
    import numpy as np
    import pandas as pd

    other = [c for c in df.columns if c != binary_col]
    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema if f.name != binary_col)
    schema += ", side int, pixels array<int>"

    def gen(batches):
        for pdf in batches:
            sides, pixels = [], []
            for payload in pdf[binary_col]:
                if payload is None:
                    sides.append(None)
                    pixels.append(None)
                    continue
                arr = np.frombuffer(bytes(payload), dtype=np.uint8)
                side = int(np.sqrt(len(arr)))
                if side == 0:
                    sides.append(0)
                    pixels.append([])
                    continue
                img = arr[: side * side].reshape(side, side)
                idx = (np.arange(out_side) * side) // out_side
                resized = img[np.ix_(idx, idx)]
                sides.append(side)
                pixels.append(resized.reshape(-1).astype("int32"))
            out = pdf[other].copy()
            out["side"] = pd.array(sides, dtype="Int32")
            out["pixels"] = pixels
            yield out

    return df.mapInPandas(gen, schema)


def extract_audio_features(df: DataFrame, binary_col: str = "audio", *, window: int = 100) -> DataFrame:
    """Windowed audio features via mapInPandas.  FAKE decode (clearly
    marked): payload bytes are read as a uint8 waveform centered at 128 —
    a real codec (soundfile/ffmpeg, absent here) yields PCM the same way.
    Per ``window``-sample window emits (win, n_samples, rms); one output
    row per window (one-to-many), all math in numpy float64 with
    floor-rounding so the value is engine-exact."""
    import numpy as np
    import pandas as pd

    other = [c for c in df.columns if c != binary_col]
    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema if f.name != binary_col)
    schema += ", win int, n_samples bigint, rms double"

    def gen(batches):
        for pdf in batches:
            out_rows = []
            for _, row in pdf.iterrows():
                payload = row[binary_col]
                if payload is None:
                    continue
                x = np.frombuffer(bytes(payload), dtype=np.uint8).astype("float64") - 128.0
                for w in range(0, len(x), window):
                    chunk = x[w : w + window]
                    rms = float(np.sqrt(np.mean(chunk * chunk)))
                    out_rows.append(
                        {
                            **{c: row[c] for c in other},
                            "win": w // window,
                            "n_samples": len(chunk),
                            "rms": np.floor(rms * 1e6 + 0.5) / 1e6,
                        }
                    )
            yield pd.DataFrame(out_rows, columns=[*other, "win", "n_samples", "rms"])

    return df.mapInPandas(gen, schema)


def image_ahash(df: DataFrame, binary_col: str = "image", *, id_cols=None) -> DataFrame:
    """Perceptual average-hash (aHash): resize to 8x8 (FAKE decode, real
    nearest-neighbor — see resize_images), threshold each pixel against
    the image mean, pack the 64 bits into four 16-bit band integers.

    Everything after the resize is pure column algebra (exact integer /
    one double mean), so the hash replays in any engine and the bands
    drop straight into a pigeonhole near-dup join (hamming <= 3 across 64
    bits guarantees at least one of 4 bands matches)."""
    out_side = 8
    resized = resize_images(df, binary_col, out_side=out_side)
    px = F.col("pixels")
    n = out_side * out_side
    mean = F.aggregate(px, F.lit(0.0), lambda a, v: a + v) / F.lit(float(n))
    bands = []
    for k in range(4):
        b = F.lit(0)
        for j in range(16):
            b = b + (F.get(px, k * 16 + j) > mean).cast("int") * F.lit(1 << j)
        bands.append(b.alias(f"b{k}"))
    keep = [c for c in resized.columns if c not in ("pixels", "side")]
    return resized.select(*keep, *bands)


def image_ahash_pairs(
    df: DataFrame,
    id_col: str,
    binary_col: str = "image",
    *,
    max_hamming: int = 3,
) -> DataFrame:
    """Image near-duplicate pairs by perceptual hash: pigeonhole band join
    (hamming <= 3 over 4 bands -> some band equal) then exact hamming
    verification via XOR popcounts.  The band joins shuffle only
    (id, band) pairs — never pixels; the classic bucketed shape, same as
    simhash_near_pairs for text."""
    hashed = image_ahash(df, binary_col).select(F.col(id_col).alias("doc"), "b0", "b1", "b2", "b3")
    hashed = _materialize(hashed, "image_ahash_pairs:hashes")  # eight join sides read it
    cands = None
    for k in range(4):
        a = hashed.select(F.col("doc").alias("d1"), F.col(f"b{k}").alias("bk"))
        b = hashed.select(F.col("doc").alias("d2"), F.col(f"b{k}").alias("bk"))
        c = a.join(b, "bk").filter(F.col("d1") < F.col("d2")).select("d1", "d2")
        cands = c if cands is None else cands.unionByName(c)
    cands = cands.dropDuplicates(["d1", "d2"])
    h1 = hashed.select(F.col("doc").alias("d1"), *[F.col(f"b{k}").alias(f"x{k}") for k in range(4)])
    h2 = hashed.select(F.col("doc").alias("d2"), *[F.col(f"b{k}").alias(f"y{k}") for k in range(4)])
    joined = cands.join(h1, "d1").join(h2, "d2")
    ham = None
    for k in range(4):
        t = F.bit_count(F.col(f"x{k}").bitwiseXOR(F.col(f"y{k}")))
        ham = t if ham is None else ham + t
    return (
        joined.withColumn("hamming", ham.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("d1", "d2", "hamming")
    )
