"""PIL codec path for multimodal columns (r4): import-gated real
decode/resize, stub behavior unchanged when Pillow is absent."""


def test_pil_codec_requires_pillow_or_works(spark):
    """codec='pil' must either decode real bytes (Pillow present) or raise
    the documented NotImplementedError (Pillow absent) — never a silent
    fake result."""
    import pytest

    from graph_data_science_spark.datapipe.multimodal import (
        decode_images,
        synthesize_assets,
    )

    assets = synthesize_assets(spark, 4)
    try:
        import PIL  # noqa: F401
        has_pil = True
    except ImportError:
        has_pil = False
    if not has_pil:
        with pytest.raises(NotImplementedError):
            decode_images(assets, codec="pil")
        return
    # hash payloads are not valid images: decode must complete with
    # decode_ok=False everywhere rather than erroring the job
    out = decode_images(assets, codec="pil").collect()
    assert len(out) == 4 and all(not r["decode_ok"] for r in out)


def test_pil_codec_real_roundtrip(spark):
    """Real PNG bytes through the PIL decode + resize paths (skipped where
    Pillow is unavailable)."""
    import pytest

    PIL = pytest.importorskip("PIL")  # noqa: N806
    import io

    import numpy as np
    from PIL import Image

    from graph_data_science_spark.datapipe.multimodal import (
        decode_images,
        resize_images,
    )

    def png_bytes(v):
        arr = np.full((16, 16, 3), v, dtype=np.uint8)
        buf = io.BytesIO()
        Image.fromarray(arr).save(buf, format="PNG")
        return bytearray(buf.getvalue())

    rows = [(0, "image", png_bytes(0)), (1, "image", png_bytes(255))]
    assets = spark.createDataFrame(rows, "asset_id long, kind string, payload binary")
    dec = {r["asset_id"]: r for r in decode_images(assets, codec="pil", feat_dim=8).collect()}
    assert dec[0]["decode_ok"] and dec[1]["decode_ok"]
    assert abs(dec[0]["feat"][0] - 0.0) < 1e-6 and abs(dec[1]["feat"][0] - 1.0) < 1e-6
    res = {r["asset_id"]: r for r in resize_images(assets, 4, 4, codec="pil").collect()}
    assert len(res[1]["pixels"]) == 16 and abs(res[1]["pixels"][0] - 1.0) < 1e-6


def test_decode_frames_fake_codec(spark):
    """Fake video frame decode: sample cadence, schema, determinism, ts
    salting — real plumbing (explode + per-asset repartition + Arrow
    batch kernel), stubbed pixel math."""
    from graph_data_science_spark.datapipe.multimodal import (
        decode_frames,
        sample_frames,
        synthesize_assets,
    )

    assets = synthesize_assets(spark, 30)
    expected = sample_frames(assets, every_ms=7000).count()
    out = decode_frames(assets, every_ms=7000, codec="fake", tw=4, th=4)
    rows = out.collect()
    assert len(rows) == expected and expected > 0
    assert all(len(r["pixels"]) == 16 for r in rows)
    assert all(r["decode_ok"] for r in rows)
    assert all(0.0 <= v <= 1.0 for r in rows for v in r["pixels"])
    # frames of the same asset at different ts differ (ts salt), and the
    # whole result is deterministic across runs
    by_asset = {}
    for r in rows:
        by_asset.setdefault(r["asset_id"], []).append((r["frame_ts_ms"], tuple(r["pixels"])))
    multi = [v for v in by_asset.values() if len(v) > 1]
    assert multi and any(len({px for _, px in v}) > 1 for v in multi)
    rows2 = decode_frames(assets, every_ms=7000, codec="fake", tw=4, th=4).collect()
    key = lambda r: (r["asset_id"], r["frame_ts_ms"])  # noqa: E731
    assert sorted([(key(r), tuple(r["pixels"])) for r in rows]) == sorted(
        [(key(r), tuple(r["pixels"])) for r in rows2]
    )


def test_decode_frames_unknown_codec_raises(spark):
    import pytest

    from graph_data_science_spark.datapipe.multimodal import (
        decode_frames,
        synthesize_assets,
    )

    assets = synthesize_assets(spark, 4)
    with pytest.raises(NotImplementedError):
        decode_frames(assets, codec="h264")
    try:
        import av  # noqa: F401
    except ImportError:
        with pytest.raises(NotImplementedError, match="PyAV"):
            decode_frames(assets, codec="av")
    try:
        import imageio  # noqa: F401
    except ImportError:
        with pytest.raises(NotImplementedError, match="imageio"):
            decode_frames(assets, codec="imageio")


def test_av_codec_real_roundtrip(spark):
    """Real container bytes through the PyAV frame path (skipped where
    PyAV is unavailable — the import-gated video twin of the Pillow
    roundtrip)."""
    import pytest

    pytest.importorskip("av")
    pytest.importorskip("PIL")
    import io

    import av
    import numpy as np

    from graph_data_science_spark.datapipe.multimodal import decode_frames

    def mpeg_bytes(v):
        buf = io.BytesIO()
        container = av.open(buf, mode="w", format="mp4")
        stream = container.add_stream("mpeg4", rate=10)
        stream.width, stream.height = 32, 32
        stream.pix_fmt = "yuv420p"
        for _ in range(20):
            frame = av.VideoFrame.from_ndarray(
                np.full((32, 32, 3), v, dtype=np.uint8), format="rgb24"
            )
            for packet in stream.encode(frame):
                container.mux(packet)
        for packet in stream.encode():
            container.mux(packet)
        container.close()
        return bytearray(buf.getvalue())

    rows = [
        (0, "video", mpeg_bytes(0), 2000),
        (1, "video", mpeg_bytes(250), 2000),
    ]
    assets = spark.createDataFrame(
        rows, "asset_id long, kind string, payload binary, duration_ms int"
    )
    out = decode_frames(assets, every_ms=1000, codec="av", tw=4, th=4).collect()
    got = {}
    for r in out:
        got.setdefault(r["asset_id"], []).append(r)
    assert all(r["decode_ok"] for rs in got.values() for r in rs)
    assert np.mean([v for r in got[0] for v in r["pixels"]]) < 0.2
    assert np.mean([v for r in got[1] for v in r["pixels"]]) > 0.8


def test_av_kernel_seeks_in_stream_time_base(monkeypatch):
    """The PyAV kernel seeks with ``stream=``, so the offset must be in
    ``stream.time_base`` units, not microseconds. Driver-side: fake ``av``
    (and ``PIL``) modules, the kernel called on one pandas batch."""
    import sys
    import types
    from fractions import Fraction

    import numpy as np
    import pandas as pd

    from graph_data_science_spark.datapipe.multimodal import _av_frames_fn

    seeks = []

    class Image:
        def convert(self, mode):
            return self

        def resize(self, size, resample):
            return np.zeros(size[::-1], dtype=np.uint8)

    class Frame:
        def to_image(self):
            return Image()

    class Container:
        def __init__(self):
            stream = types.SimpleNamespace(time_base=Fraction(1, 12800))
            self.streams = types.SimpleNamespace(video=[stream])

        def seek(self, offset, backward, any_frame, stream):
            seeks.append((offset, stream.time_base))

        def decode(self, stream):
            return iter([Frame()])

        def close(self):
            pass

    fake_av = types.ModuleType("av")
    fake_av.open = lambda buf: Container()
    fake_pil = types.ModuleType("PIL")
    fake_pil.Image = types.SimpleNamespace(NEAREST=0)
    monkeypatch.setitem(sys.modules, "av", fake_av)
    monkeypatch.setitem(sys.modules, "PIL", fake_pil)

    batch = pd.DataFrame(
        {"asset_id": [7, 7, 7], "payload": [b"x"] * 3, "frame_ts_ms": [0, 1000, 2500]}
    )
    out = pd.concat(list(_av_frames_fn(4, 4)(iter([batch]))))
    assert out["decode_ok"].tolist() == [True, True, True]
    assert [o for o, _ in seeks] == [0, 12800, 32000]


def test_imageio_codec_real_roundtrip(spark):
    """Multi-frame GIF through the imageio frame path (skipped where
    imageio is unavailable)."""
    import pytest

    pytest.importorskip("imageio")
    pytest.importorskip("PIL")
    import io

    import numpy as np
    from PIL import Image

    from graph_data_science_spark.datapipe.multimodal import decode_frames

    def gif_bytes(values):
        frames = [Image.fromarray(np.full((16, 16), v, dtype=np.uint8)) for v in values]
        buf = io.BytesIO()
        frames[0].save(buf, format="GIF", save_all=True, append_images=frames[1:])
        return bytearray(buf.getvalue())

    rows = [(0, "video", gif_bytes([0, 255, 0]), 3000)]
    assets = spark.createDataFrame(
        rows, "asset_id long, kind string, payload binary, duration_ms int"
    )
    out = decode_frames(assets, every_ms=1000, codec="imageio", tw=4, th=4).collect()
    assert len(out) == 3 and all(r["decode_ok"] for r in out)
    mids = {r["frame_ts_ms"]: float(np.mean(r["pixels"])) for r in out}
    assert mids[0] < 0.2 and mids[1000] > 0.8 and mids[2000] < 0.2
