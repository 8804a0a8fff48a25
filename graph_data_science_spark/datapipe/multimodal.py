"""Multimodal column plumbing for training-data pipelines.

Images / audio / video ride through the engine as opaque ``binary`` columns
with typed metadata; decode / feature-extract / resize / frame-sample run as
Arrow-batched ``mapInPandas`` stages so payload bytes never round-trip
through per-row Python.

The actual codec step is import-gated: ``codec="fake"`` produces a
deterministic fake decode so the Spark-side plumbing — schema, batch shape,
partition sizing — is real and testable anywhere; ``codec="pil"`` decodes
real image bytes through Pillow WHEN it is importable on the executors and
raises NotImplementedError otherwise (this container ships no codec
libraries — the PIL path is exercised by a skip-marked test). The PIL calls
are necessarily per-image (the codec is a C library call); the batch
marshalling around them stays Arrow, and the fake path stays fully
vectorized. At 100 TB the knobs that matter are
``spark.sql.execution.arrow.maxRecordsPerBatch`` (bounds decoded-batch
memory) and pre-partitioning by size class so one giant video doesn't skew
a task.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

ASSET_SCHEMA = (
    "asset_id long, kind string, payload binary, width int, height int, "
    "duration_ms int, mime string"
)

DECODED_SCHEMA = "asset_id long, kind string, feat array<float>, decode_ok boolean"


def synthesize_assets(spark: SparkSession, n: int, seed: int = 42) -> DataFrame:
    """Deterministic fake asset table (binary payloads from hashes)."""
    return spark.range(n).select(
        F.col("id").alias("asset_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.pmod(F.xxhash64("id", F.lit(seed)), F.lit(3)) + 1).cast("int"),
        ).alias("kind"),
        F.sha2(F.concat(F.lit("payload-"), F.col("id").cast("string")), 256)
        .cast("binary")
        .alias("payload"),
        (F.pmod(F.xxhash64("id", F.lit(seed + 1)), F.lit(1920)) + 16).cast("int").alias("width"),
        (F.pmod(F.xxhash64("id", F.lit(seed + 2)), F.lit(1080)) + 16).cast("int").alias("height"),
        (F.pmod(F.xxhash64("id", F.lit(seed + 3)), F.lit(60000))).cast("int").alias("duration_ms"),
        F.lit("application/octet-stream").alias("mime"),
    )


def _require_pil():
    try:
        import PIL.Image  # noqa: F401
    except ImportError as exc:  # pragma: no cover - environment-dependent
        raise NotImplementedError(
            "codec 'pil' requires Pillow, which is not installed in this "
            "environment; use codec='fake' for the stubbed decode"
        ) from exc


def _pil_decode_fn(feat_dim: int):
    """mapInPandas kernel: Pillow decode per image (the codec call is
    inherently per-image C work), NumPy for the feature math."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io

        import numpy as np
        from PIL import Image

        for pdf in batches:
            feats, oks = [], []
            for payload in pdf["payload"]:
                try:
                    with Image.open(io.BytesIO(payload)) as im:
                        arr = np.asarray(im.convert("RGB"), dtype=np.float32) / 255.0
                    stats = np.concatenate(
                        [arr.mean(axis=(0, 1)), arr.std(axis=(0, 1))]
                    )
                    vec = np.zeros(feat_dim, dtype=np.float32)
                    vec[: min(feat_dim, stats.size)] = stats[:feat_dim]
                    feats.append(vec)
                    oks.append(True)
                except Exception:
                    feats.append(np.zeros(feat_dim, dtype=np.float32))
                    oks.append(False)
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "kind": pdf["kind"],
                    "feat": feats,
                    "decode_ok": oks,
                }
            )

    return decode


def _pil_resize_fn(tw: int, th: int):
    """mapInPandas kernel: Pillow decode + true resample to (th, tw),
    grayscale float32 in [0, 1]; failed decodes yield all-zero pixels."""

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io

        import numpy as np
        from PIL import Image

        for pdf in batches:
            pixels = []
            for payload in pdf["payload"]:
                try:
                    with Image.open(io.BytesIO(payload)) as im:
                        small = im.convert("L").resize((tw, th), Image.NEAREST)
                    pixels.append(
                        (np.asarray(small, dtype=np.float32) / 255.0).reshape(-1)
                    )
                except Exception:
                    pixels.append(np.zeros(tw * th, dtype=np.float32))
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "width": np.full(len(pdf), tw, dtype=np.int32),
                    "height": np.full(len(pdf), th, dtype=np.int32),
                    "pixels": pixels,
                }
            )

    return resize


def decode_images(assets: DataFrame, codec: str = "fake", feat_dim: int = 8) -> DataFrame:
    """Arrow-batched decode/feature-extract over the payload column.

    ``fake``: deterministic features folded from the payload bytes with
    whole-batch NumPy (real plumbing, stub math — no per-row Python
    arithmetic). ``pil``: real image decode via Pillow when importable —
    features are the per-channel mean/std of the decoded RGB image padded
    to ``feat_dim`` (decode failures → decode_ok False, zero features).
    Any other codec (or ``pil`` without Pillow installed) raises
    NotImplementedError.
    """
    if codec == "pil":
        _require_pil()
        return assets.mapInPandas(_pil_decode_fn(feat_dim), DECODED_SCHEMA)
    if codec != "fake":
        raise NotImplementedError(
            f"codec {codec!r} requires image/audio libraries not present in this environment"
        )
    # The prefix-fold constraint is specific to the fake codec's 64-byte
    # window; the PIL path pads to any feat_dim.
    assert 64 % feat_dim == 0, "feat_dim must divide the 64-byte prefix window"

    width = 64  # fixed prefix window: pad/truncate payloads to one matrix row

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            n = len(pdf)
            if n == 0:
                yield pd.DataFrame(
                    {"asset_id": pdf["asset_id"], "kind": pdf["kind"], "feat": [], "decode_ok": []}
                )
                continue
            # Whole-batch marshalling into an (n, width) byte matrix via the
            # Arrow binary layout: one values buffer + an int32 offsets
            # vector, gathered with a vectorized fancy-index — no per-row
            # Python anywhere in the kernel (north-rule contract). Nulls
            # have zero-length slots and decode as all-zero rows.
            import pyarrow as pa

            binarr = pa.array(pdf["payload"], type=pa.binary())
            offsets = np.frombuffer(binarr.buffers()[1], dtype=np.int32)
            offsets = offsets[binarr.offset : binarr.offset + n + 1].astype(np.int64)
            databuf = binarr.buffers()[2]
            data = (
                np.frombuffer(databuf, dtype=np.uint8)
                if databuf is not None
                else np.zeros(0, dtype=np.uint8)
            )
            lengths = np.clip(offsets[1:] - offsets[:-1], 0, width)
            idx = offsets[:-1, None] + np.arange(width, dtype=np.int64)[None, :]
            valid = np.arange(width, dtype=np.int64)[None, :] < lengths[:, None]
            mat = np.zeros((n, width), dtype=np.uint8)
            mat[valid] = data[idx[valid]]
            # Fake "features": fold the byte matrix into feat_dim lanes.
            folded = mat.reshape(n, feat_dim, width // feat_dim).astype(np.int64)
            weights = np.arange(1, width // feat_dim + 1, dtype=np.int64)
            feat = ((folded * weights).sum(axis=2) % 256).astype(np.float32) / 255.0
            ok = ~pdf["payload"].isna().to_numpy()
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "kind": pdf["kind"],
                    "feat": list(feat),
                    "decode_ok": ok,
                }
            )

    return assets.mapInPandas(decode, DECODED_SCHEMA)


RESIZED_SCHEMA = "asset_id long, width int, height int, pixels array<float>"


def resize_images(
    assets: DataFrame, target_w: int = 8, target_h: int = 8, codec: str = "fake"
) -> DataFrame:
    """Arrow-batched nearest-neighbor resize to (target_h, target_w).

    The resample itself — build the source-index grid once per batch, one
    vectorized fancy-index gather per image matrix — is the REAL kernel a
    PIL/torchvision decode would feed; only the pixel source is stubbed
    (``fake``: the payload byte matrix tiled to each asset's declared
    (height, width), since the container ships no codec libraries).
    Output pixels are row-major float32 in [0, 1]. ``codec="pil"`` decodes
    real image bytes and resamples through Pillow when importable.
    """
    tw, th = int(target_w), int(target_h)
    if codec == "pil":
        _require_pil()
        return assets.mapInPandas(_pil_resize_fn(tw, th), RESIZED_SCHEMA)
    if codec != "fake":
        raise NotImplementedError(
            f"codec {codec!r} requires image libraries not present in this environment"
        )

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np
        import pyarrow as pa

        for pdf in batches:
            n = len(pdf)
            if n == 0:
                yield pd.DataFrame({"asset_id": [], "width": [], "height": [], "pixels": []})
                continue
            # One broadcast index expression for the whole batch — the same
            # Arrow values-buffer/offsets gather as decode_images, no
            # per-image (let alone per-pixel) Python. Source pixel of
            # output (y, x) for image i (payload tiled to (h_i, w_i)):
            #   data[off_i + (⌊y·h_i/th⌋·w_i + ⌊x·w_i/tw⌋) mod len_i]
            binarr = pa.array(pdf["payload"], type=pa.binary())
            offsets = np.frombuffer(binarr.buffers()[1], dtype=np.int32)
            offsets = offsets[binarr.offset : binarr.offset + n + 1].astype(np.int64)
            databuf = binarr.buffers()[2]
            data = (
                np.frombuffer(databuf, dtype=np.uint8)
                if databuf is not None
                else np.zeros(1, dtype=np.uint8)
            )
            lens = offsets[1:] - offsets[:-1]
            safe_lens = np.maximum(lens, 1)
            widths = pdf["width"].to_numpy().astype(np.int64)
            heights = pdf["height"].to_numpy().astype(np.int64)
            ys = (np.arange(th, dtype=np.int64)[None, :] * heights[:, None]) // th  # (n, th)
            xs = (np.arange(tw, dtype=np.int64)[None, :] * widths[:, None]) // tw  # (n, tw)
            flat = (
                ys[:, :, None] * widths[:, None, None] + xs[:, None, :]
            ) % safe_lens[:, None, None]  # (n, th, tw)
            gathered = data[
                np.minimum(offsets[:-1, None, None] + flat, len(data) - 1)
            ].astype(np.float32) / 255.0
            gathered[lens == 0] = 0.0  # null/empty payloads decode to black
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "width": tw,
                    "height": th,
                    "pixels": list(gathered.reshape(n, th * tw)),
                }
            )

    return assets.filter(F.col("kind") == "image").mapInPandas(resize, RESIZED_SCHEMA)


def repartition_by_payload_budget(
    assets: DataFrame, target_partition_bytes: int = 128 * 1024 * 1024
) -> DataFrame:
    """Size the partition COUNT by payload bytes, not row count — the skew
    fix the module docstring promises: with hash spreading, each task's
    expected payload volume is ~``target_partition_bytes`` even when asset
    sizes span orders of magnitude (one agg + one hash repartition; at
    100 TB this is what keeps a few giant videos from serializing a
    stage). Rows stay hash-spread, so the odd giant lands beside small
    assets rather than beside other giants."""
    total = assets.agg(F.sum(F.length("payload")).alias("b")).collect()[0]["b"] or 0
    n_parts = max(1, int(total / max(1, int(target_partition_bytes))) + 1)
    return assets.repartition(n_parts, F.col("asset_id"))


def sample_frames(assets: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Frame-sampling plan for video assets: one output row per sampled
    timestamp (pure Catalyst explode — the decode of each frame would slot
    into ``decode_images``). Returns (asset_id, frame_ts_ms)."""
    return (
        assets.filter(F.col("kind") == "video")
        .select(
            "asset_id",
            F.explode(
                F.sequence(F.lit(0), F.greatest(F.col("duration_ms") - 1, F.lit(0)), F.lit(every_ms))
            ).alias("frame_ts_ms"),
        )
    )


FRAMES_SCHEMA = (
    "asset_id long, frame_ts_ms long, width int, height int, "
    "pixels array<float>, decode_ok boolean"
)


def _require_av():
    try:
        import av  # noqa: F401
    except ImportError as exc:  # pragma: no cover - environment-dependent
        raise NotImplementedError(
            "codec 'av' requires PyAV, which is not installed in this "
            "environment; use codec='fake' for the stubbed frame decode"
        ) from exc


def _require_imageio():
    try:
        import imageio.v3  # noqa: F401
    except ImportError as exc:  # pragma: no cover - environment-dependent
        raise NotImplementedError(
            "codec 'imageio' requires imageio, which is not installed in "
            "this environment; use codec='fake' for the stubbed frame decode"
        ) from exc


def _av_frames_fn(tw: int, th: int):
    """mapInPandas kernel: PyAV container decode (per-asset open, seek per
    sampled timestamp — the codec call is inherently per-frame C work,
    same position as the Pillow kernels); grayscale resample to (th, tw).
    Rows are grouped by asset within each Arrow batch so a container
    opens once per asset, not once per frame."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io

        import av
        import numpy as np
        from PIL import Image

        for pdf in batches:
            out_rows = {
                "asset_id": [], "frame_ts_ms": [], "width": [], "height": [],
                "pixels": [], "decode_ok": [],
            }
            for asset_id, grp in pdf.groupby("asset_id", sort=False):
                payload = grp["payload"].iloc[0]
                container = None
                try:
                    container = av.open(io.BytesIO(payload))
                    stream = container.streams.video[0]
                except Exception:
                    container = None
                for ts in grp["frame_ts_ms"]:
                    ok, px = False, np.zeros(tw * th, dtype=np.float32)
                    if container is not None:
                        try:
                            # With stream=, PyAV takes the offset in
                            # stream.time_base units, not microseconds.
                            container.seek(
                                int((ts / 1000.0) / stream.time_base),
                                backward=True, any_frame=False, stream=stream,
                            )
                            frame = next(container.decode(stream))
                            im = frame.to_image().convert("L").resize(
                                (tw, th), Image.NEAREST
                            )
                            px = (np.asarray(im, dtype=np.float32) / 255.0).reshape(-1)
                            ok = True
                        except Exception:
                            pass
                    out_rows["asset_id"].append(asset_id)
                    out_rows["frame_ts_ms"].append(int(ts))
                    out_rows["width"].append(tw)
                    out_rows["height"].append(th)
                    out_rows["pixels"].append(px)
                    out_rows["decode_ok"].append(ok)
                if container is not None:
                    container.close()
            yield pd.DataFrame(out_rows)

    return decode


def _imageio_frames_fn(tw: int, th: int, every_ms: int):
    """mapInPandas kernel: imageio.v3 frame decode (index = sampled frame
    ordinal — imageio addresses frames by index, so the ts→index mapping
    assumes the sampling cadence; containers that expose timestamps
    should prefer codec='av')."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io

        import imageio.v3 as iio
        import numpy as np
        from PIL import Image

        for pdf in batches:
            out_rows = {
                "asset_id": [], "frame_ts_ms": [], "width": [], "height": [],
                "pixels": [], "decode_ok": [],
            }
            for asset_id, grp in pdf.groupby("asset_id", sort=False):
                payload = grp["payload"].iloc[0]
                for ts in grp["frame_ts_ms"]:
                    ok, px = False, np.zeros(tw * th, dtype=np.float32)
                    try:
                        arr = iio.imread(
                            io.BytesIO(payload), index=int(ts) // max(1, every_ms)
                        )
                        im = Image.fromarray(arr).convert("L").resize(
                            (tw, th), Image.NEAREST
                        )
                        px = (np.asarray(im, dtype=np.float32) / 255.0).reshape(-1)
                        ok = True
                    except Exception:
                        pass
                    out_rows["asset_id"].append(asset_id)
                    out_rows["frame_ts_ms"].append(int(ts))
                    out_rows["width"].append(tw)
                    out_rows["height"].append(th)
                    out_rows["pixels"].append(px)
                    out_rows["decode_ok"].append(ok)
            yield pd.DataFrame(out_rows)

    return decode


def decode_frames(
    assets: DataFrame,
    every_ms: int = 1000,
    codec: str = "fake",
    tw: int = 8,
    th: int = 8,
) -> DataFrame:
    """Frame-sample + decode for video assets: ``sample_frames``'s explode
    with the payload carried along, then an Arrow-batched decode kernel to
    (th, tw) grayscale pixels in [0, 1].

    ``fake``: deterministic pixels folded whole-batch from the payload
    prefix and the frame timestamp (real plumbing — schema, explode,
    batch shape, per-asset grouping — with stub pixel math; no per-row
    Python). ``av``: real container decode via PyAV when importable
    (per-asset open, per-ts seek). ``imageio``: imageio.v3 frame decode
    when importable. Either real codec marks per-frame failures as
    ``decode_ok=false`` with zero pixels, mirroring the Pillow image
    path. Rows are repartitioned by asset so each container opens once
    per asset per batch.
    """
    frames = (
        assets.filter(F.col("kind") == "video")
        .select(
            "asset_id",
            "payload",
            F.explode(
                F.sequence(
                    F.lit(0), F.greatest(F.col("duration_ms") - 1, F.lit(0)), F.lit(every_ms)
                )
            ).alias("frame_ts_ms"),
        )
        .repartition(F.col("asset_id"))
    )
    if codec == "av":
        _require_av()
        _require_pil()
        return frames.mapInPandas(_av_frames_fn(tw, th), FRAMES_SCHEMA)
    if codec == "imageio":
        _require_imageio()
        _require_pil()
        return frames.mapInPandas(_imageio_frames_fn(tw, th, every_ms), FRAMES_SCHEMA)
    if codec != "fake":
        raise NotImplementedError(
            f"codec {codec!r} requires video libraries not present in this environment"
        )

    npx = tw * th

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np
        import pyarrow as pa

        for pdf in batches:
            n = len(pdf)
            if n == 0:
                yield pd.DataFrame(
                    {
                        "asset_id": pdf["asset_id"],
                        "frame_ts_ms": pdf["frame_ts_ms"],
                        "width": [], "height": [], "pixels": [], "decode_ok": [],
                    }
                )
                continue
            # Same Arrow-buffer gather as decode_images' fake codec: one
            # (n, 64) byte matrix, no per-row Python.
            width = 64
            binarr = pa.array(pdf["payload"], type=pa.binary())
            offsets = np.frombuffer(binarr.buffers()[1], dtype=np.int32)
            offsets = offsets[binarr.offset : binarr.offset + n + 1].astype(np.int64)
            databuf = binarr.buffers()[2]
            data = (
                np.frombuffer(databuf, dtype=np.uint8)
                if databuf is not None
                else np.zeros(0, dtype=np.uint8)
            )
            lengths = np.clip(offsets[1:] - offsets[:-1], 0, width)
            idx = offsets[:-1, None] + np.arange(width, dtype=np.int64)[None, :]
            valid = np.arange(width, dtype=np.int64)[None, :] < lengths[:, None]
            mat = np.zeros((n, width), dtype=np.uint8)
            mat[valid] = data[idx[valid]]
            ts = pdf["frame_ts_ms"].to_numpy(dtype=np.int64)
            # fake per-frame pixels: byte lanes tiled to npx, salted by ts
            lanes = mat[:, np.arange(npx) % width].astype(np.int64)
            px = (((lanes + 1) * (ts[:, None] + 1)) % 256).astype(np.float32) / 255.0
            ok = ~pdf["payload"].isna().to_numpy()
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "frame_ts_ms": ts,
                    "width": np.full(n, tw, dtype=np.int32),
                    "height": np.full(n, th, dtype=np.int32),
                    "pixels": list(px),
                    "decode_ok": ok,
                }
            )

    return frames.mapInPandas(decode, FRAMES_SCHEMA)
