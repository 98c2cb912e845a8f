"""Multimodal plumbing tests (task-brief surface): schema, determinism,
dimension math, and 1→many frame explode — over real header bytes (PNG/GIF/
BMP/JPEG built by hand, sharing no code with the kernel's parsers)."""

from __future__ import annotations

import struct

import pytest

from universal_text_extractor_spark.operators import multimodal as M


def _png(w: int, h: int) -> bytes:
    return (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13)
        + b"IHDR"
        + struct.pack(">II", w, h)
        + b"\x08\x02\x00\x00\x00"
    )


def _gif(w: int, h: int) -> bytes:
    return b"GIF89a" + struct.pack("<HH", w, h) + b"\x00" * 6


def _bmp(w: int, h: int) -> bytes:
    return b"BM" + b"\x00" * 16 + struct.pack("<ii", w, h) + b"\x00" * 8


@pytest.fixture(scope="module")
def media_df(spark):
    rows = [
        ("u/png", _png(640, 480)),
        ("u/gif", _gif(320, 200)),
        ("u/bmp", _bmp(100, 4000)),
        ("u/txt", b"not an image at all"),
        ("u/empty", b""),
    ]
    return spark.createDataFrame(rows, "url string, payload binary")


def test_media_metadata(spark, media_df):
    out = {r["url"]: r for r in M.media_metadata(media_df).collect()}
    assert out["u/png"]["format"] == "PNG" and out["u/png"]["width"] == 640
    assert out["u/gif"]["height"] == 200
    assert out["u/bmp"]["width"] == 100 and out["u/bmp"]["height"] == 4000
    assert out["u/txt"]["format"] == "unknown"
    assert out["u/txt"]["width"] is None
    assert out["u/empty"]["n_bytes"] == 0
    assert [f.name for f in M.media_metadata(media_df).schema.fields] == [
        "url", "format", "width", "height", "n_bytes",
    ]


def test_image_features_deterministic(spark, media_df):
    a = {r["url"]: (r["decoded"], r["features"]) for r in M.image_features(media_df).collect()}
    b = {
        r["url"]: (r["decoded"], r["features"])
        for r in M.image_features(media_df.repartition(7)).collect()
    }
    assert a == b  # partitioning-invariant
    assert all(len(v) == M.IMAGE_FEATURE_DIM for _, v in a.values())
    # header-only formats can't decode here → digest fallback, flagged
    assert all(not dec for dec, _ in a.values())
    assert a["u/png"][1] != a["u/gif"][1]


def test_image_features_real_pixels(spark):
    """Decodable payloads must yield REAL pixel features (width, height,
    aspect, mean, std, ink/white fractions, edge density) — checked
    against an independent recomputation from the writer's pixel rows."""
    import numpy as np

    from universal_text_extractor_spark.sources.pages_gen import make_bmp

    rows_px = [[(x * 7 % 256, y * 11 % 256, (x * y) % 256) for x in range(20)] for y in range(10)]
    df = spark.createDataFrame([("u/real", make_bmp(rows_px))], "url string, payload binary")
    r = M.image_features(df).collect()[0]
    assert r["decoded"] is True
    f = r["features"]
    assert (f[0], f[1]) == (20.0, 10.0) and abs(f[2] - 2.0) < 1e-6
    gray = np.array(
        [[(p[0] * 299 + p[1] * 587 + p[2] * 114) // 1000 for p in row] for row in rows_px],
        dtype=np.uint8,
    )
    assert abs(f[3] - gray.mean()) < 1e-3
    assert abs(f[5] - (gray < 128).mean()) < 1e-6
    assert abs(f[6] - (gray >= 200).mean()) < 1e-6


def test_image_resize_dims(spark, media_df):
    out = {r["url"]: r for r in M.image_resize(media_df, max_side=64).collect()}
    # non-images dropped
    assert set(out) == {"u/png", "u/gif", "u/bmp"}
    r = out["u/png"]  # 640x480 → 64x48
    assert (r["width"], r["height"]) == (64, 48)
    assert len(r["thumb"]) == 64 * 48
    r = out["u/bmp"]  # 100x4000 → 2x64 (portrait)
    assert (r["width"], r["height"]) == (2, 64)
    # deterministic across runs
    again = {r["url"]: r for r in M.image_resize(media_df, max_side=64).collect()}
    assert out["u/gif"]["thumb"] == again["u/gif"]["thumb"]


def test_image_resize_real_pixels(spark):
    """A decodable BMP must produce a REAL nearest-neighbor grayscale
    thumbnail (src index = dst·src_dim // dst_dim), not a digest."""
    import numpy as np

    from universal_text_extractor_spark.sources.pages_gen import make_bmp

    rows_px = [[((x * 13) % 256,) * 3 for x in range(128)] for y in range(64)]
    df = spark.createDataFrame([("u/big", make_bmp(rows_px))], "url string, payload binary")
    r = M.image_resize(df, max_side=32).collect()[0]
    assert (r["width"], r["height"]) == (32, 16)
    gray = np.array([[p[0] for p in row] for row in rows_px], dtype=np.uint8)
    ys = (np.arange(16) * 64) // 16
    xs = (np.arange(32) * 128) // 32
    assert bytes(r["thumb"]) == gray[np.ix_(ys, xs)].tobytes()


def test_frame_sample_explode(spark):
    df = spark.createDataFrame(
        [("u/vid", b"\x00" * (1024 * 5)), ("u/short", b"\x01" * 10)],
        "url string, payload binary",
    )
    out = M.frame_sample(df, every_ms=1000, bytes_per_frame=64).collect()
    by_url: dict[str, list] = {}
    for r in out:
        by_url.setdefault(r["url"], []).append(r)
    # 5 KiB → 5000 ms "duration" → frames at 0..5000 ms = 6 frames
    assert len(by_url["u/vid"]) == 6
    assert sorted(r["ts_ms"] for r in by_url["u/vid"]) == [
        0, 1000, 2000, 3000, 4000, 5000,
    ]
    assert len(by_url["u/short"]) == 1  # sub-second clip → 1 frame
    assert all(not r["decoded"] and len(r["frame"]) == 64 for r in out)
    # distinct frames from the same clip
    frames = [bytes(r["frame"]) for r in by_url["u/vid"]]
    assert len(set(frames)) == len(frames)


def test_frame_sample_real_gif(spark):
    """Animated-GIF payloads demux REAL frames: timeline from the
    graphic-control delays, raw grayscale bytes per sample."""
    from universal_text_extractor_spark.sources.pages_gen import make_gif

    f_dark = [[10] * 8 for _ in range(6)]
    f_mid = [[128] * 8 for _ in range(6)]
    f_light = [[250] * 8 for _ in range(6)]
    # 3 frames x 1500 ms each → 4500 ms duration → samples at 0/1/2/3/4 s
    gif = make_gif([f_dark, f_mid, f_light], delays_ms=[1500, 1500, 1500])
    df = spark.createDataFrame([("u/anim.gif", gif)], "url string, payload binary")
    rows = sorted(M.frame_sample(df, every_ms=1000).collect(), key=lambda r: r["ts_ms"])
    assert [r["ts_ms"] for r in rows] == [0, 1000, 2000, 3000, 4000]
    assert all(r["decoded"] and (r["width"], r["height"]) == (8, 6) for r in rows)
    got = [bytes(r["frame"])[0] for r in rows]  # first gray byte per sample
    # frames cover [0,1500) [1500,3000) [3000,4500) → samples land on
    assert got == [10, 10, 128, 250, 250]


def test_frame_sample_real_avi(spark):
    """Uncompressed-AVI payloads demux REAL frames: fixed per-frame delay
    from the vids stream's scale/rate, pixel-exact (no codec loss), and a
    truncated payload falls back whole to the digest path (whole-payload
    strictness, same as GIF)."""
    import numpy as np

    from universal_text_extractor_spark.kernels.image_prep import to_grayscale
    from universal_text_extractor_spark.sources.pages_gen import make_avi

    levels = [20, 90, 200]
    frames = [[[(v, v, v)] * 10 for _ in range(7)] for v in levels]
    avi = make_avi(frames, fps=1)  # 1 fps → 1000 ms per frame
    df = spark.createDataFrame(
        [("u/clip.avi", avi), ("u/trunc.avi", avi[: len(avi) // 2])],
        "url string, payload binary",
    )
    rows = M.frame_sample(df, every_ms=1000).collect()
    by_url: dict[str, list] = {}
    for r in rows:
        by_url.setdefault(r["url"], []).append(r)
    good = sorted(by_url["u/clip.avi"], key=lambda r: r["ts_ms"])
    assert [r["ts_ms"] for r in good] == [0, 1000, 2000]
    assert all(r["decoded"] and (r["width"], r["height"]) == (10, 7) for r in good)
    want = [
        to_grayscale(np.full((7, 10, 3), v, np.uint8)).tobytes() for v in levels
    ]
    assert [bytes(r["frame"]) for r in good] == want
    assert all(not r["decoded"] for r in by_url["u/trunc.avi"])


def test_avi_corruption_fuzz_contained():
    """D2 containment for the AVI demux: a mutated payload either fails
    to open (None), or its iterator yields valid frames / raises AviError
    — never any other exception (frame_sample catches exactly AviError,
    so anything else would fail the Spark task)."""
    import random

    from universal_text_extractor_spark.kernels.video_kernel import AviError, open_avi
    from universal_text_extractor_spark.sources.pages_gen import make_avi

    frames = [[[(v, v, v)] * 9 for _ in range(6)] for v in (0, 120, 255)]
    base = make_avi(frames, fps=5)
    rng = random.Random(99)
    for _ in range(300):
        b = bytearray(base)
        for _k in range(rng.randint(1, 4)):
            b[rng.randrange(len(b))] = rng.randrange(256)
        opened = open_avi(bytes(b))
        if opened is None:
            continue
        w, h, it = opened
        try:
            for _delay, canvas in it:
                assert canvas.shape == (h, w, 3)
        except AviError:
            pass


def test_audio_features(spark, media_df):
    out = M.audio_features(media_df).collect()
    assert all(len(r["features"]) == M.AUDIO_FEATURE_DIM for r in out)
    assert all(not r["decoded"] for r in out)  # no WAV in this fixture set


def test_audio_features_real_wav(spark):
    """PCM WAV payloads yield REAL windowed RMS energy — checked against
    an independent per-window recomputation from the decoded samples."""
    import random

    import numpy as np

    from universal_text_extractor_spark.kernels.audio_kernel import decode_wav
    from universal_text_extractor_spark.sources.pages_gen import make_wav

    wav = make_wav(random.Random(13), n_samples=4000)
    df = spark.createDataFrame([("u/clip.wav", wav)], "url string, payload binary")
    r = M.audio_features(df).collect()[0]
    assert r["decoded"] is True
    _rate, samples = decode_wav(wav)
    for w in range(M.AUDIO_FEATURE_DIM):
        a = len(samples) * w // M.AUDIO_FEATURE_DIM
        z = len(samples) * (w + 1) // M.AUDIO_FEATURE_DIM
        want = float(np.sqrt((samples[a:z] ** 2).mean()))
        assert abs(r["features"][w] - want) < 1e-6


def test_no_shuffle_in_plan(spark, media_df):
    """Multimodal ops are map-only: no Exchange in the physical plan."""
    plan = (
        M.media_metadata(media_df)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan, plan


def test_audio_features_ima_adpcm(spark):
    """IMA-ADPCM WAV (a REAL compressed codec, format tag 0x11) decodes
    to real energy features — and they approximate the same clip's PCM
    features (lossy codec ⇒ tolerance, not equality)."""
    import random

    from universal_text_extractor_spark.sources.pages_gen import make_wav

    pcm = make_wav(random.Random(41), n_samples=6000)
    adp = make_wav(random.Random(41), n_samples=6000, codec="ima_adpcm")
    df = spark.createDataFrame(
        [("u/a.wav", pcm), ("u/b.wav", adp)], "url string, payload binary"
    )
    rows = {r["url"]: r for r in M.audio_features(df).collect()}
    assert rows["u/a.wav"]["decoded"] is True
    assert rows["u/b.wav"]["decoded"] is True
    got = rows["u/b.wav"]["features"]
    want = rows["u/a.wav"]["features"]
    assert any(x > 0 for x in want)
    for g, w in zip(got, want):
        assert abs(g - w) <= max(0.25 * w, 0.02), (g, w)


def test_interlaced_gif_decodes_like_plain():
    """GIF89a interlaced frames (appendix-E 4-pass row order) must decode
    identically to the non-interlaced twin, every frame, incl. edge
    heights where passes are empty."""
    import random

    import numpy as np

    from universal_text_extractor_spark.kernels.gif_kernel import decode_gif_frames
    from universal_text_extractor_spark.sources.pages_gen import make_gif

    rng = random.Random(3)
    frames = [
        [[rng.randint(0, 255) for _ in range(19)] for _ in range(13)]
        for _ in range(3)
    ]
    dp = decode_gif_frames(make_gif(frames), max_frames=10)
    di = decode_gif_frames(make_gif(frames, interlace=True), max_frames=10)
    assert dp and di
    n = 0
    for (d1, f1), (d2, f2) in zip(dp[2], di[2]):
        assert d1 == d2 and np.array_equal(f1, f2)
        n += 1
    assert n == 3
    for h in (1, 2, 3, 8, 9):
        fr = [[[rng.randint(0, 255) for _ in range(5)] for _ in range(h)]]
        a = next(iter(decode_gif_frames(make_gif(fr), max_frames=2)[2]))[1]
        b = next(iter(decode_gif_frames(make_gif(fr, interlace=True), max_frames=2)[2]))[1]
        assert np.array_equal(a, b), h


def test_avi_top_down_frames_not_mirrored():
    """r5 review batch 4: negative biHeight = TOP-DOWN DIB (rows stored
    top-first). The decoder flipped unconditionally, mirroring every
    frame of legal top-down AVIs. A top-down re-encoding of the same
    content must decode to identical frames."""
    import struct

    import numpy as np

    from universal_text_extractor_spark.kernels.video_kernel import open_avi
    from universal_text_extractor_spark.sources.pages_gen import make_avi

    frames = [
        [[(x * 16, y * 16, (x + y) * 8) for x in range(4)] for y in range(4)]
        for _ in range(2)
    ]
    bottom_up = make_avi(frames, fps=5)

    # transform into the equivalent top-down file: negate biHeight and
    # reverse the row order of every 00db frame payload
    h, w = 4, 4
    stride = (w * 3 + 3) & ~3
    buf = bytearray(bottom_up)
    strf = bottom_up.find(b"strf")
    assert strf > 0
    (bi_h,) = struct.unpack_from("<i", buf, strf + 8 + 8)
    assert bi_h == h
    struct.pack_into("<i", buf, strf + 8 + 8, -h)
    pos = 0
    patched = 0
    while True:
        pos = bottom_up.find(b"00db", pos)
        if pos < 0:
            break
        (sz,) = struct.unpack_from("<I", bottom_up, pos + 4)
        if sz == stride * h:  # a real frame chunk (idx1 entries differ)
            payload = np.frombuffer(
                bytes(buf[pos + 8 : pos + 8 + sz]), np.uint8
            ).reshape(h, stride)
            buf[pos + 8 : pos + 8 + sz] = payload[::-1].tobytes()
            patched += 1
        pos += 4
    assert patched == 2
    top_down = bytes(buf)

    def decode(b):
        opened = open_avi(b)
        assert opened is not None
        _, _, it = opened
        return [arr.tolist() for _, arr in it]

    assert decode(top_down) == decode(bottom_up)


# The six operators' outputs on an empty input and on a NULL payload
# (read as b""): (schema, rows). A NULL payload is no image, so
# image_resize drops it; the rest emit their undecodable-payload row.
_FRAME0 = bytes.fromhex(
    "51bfcee268426c9bc3dff4f1c548e4f76e50aa0f1b3cb3a5664fc655f20e47b1"
)
_EDGE_ROWS = {
    "media_metadata": (
        "url:string,format:string,width:int,height:int,n_bytes:bigint",
        [("u/null", "unknown", None, None, 0)],
    ),
    "image_features": (
        "url:string,decoded:boolean,features:array<float>",
        [("u/null", False, [
            -0.5543212890625, -0.582733154296875, 0.193267822265625,
            0.547821044921875, -0.46356201171875, -0.244842529296875,
            -0.720245361328125, 0.51702880859375,
        ])],
    ),
    "audio_features": (
        "url:string,decoded:boolean,features:array<float>",
        [("u/null", False, [
            0.510345458984375, -0.269775390625, 0.538330078125,
            -0.61053466796875, 0.292938232421875, -0.609161376953125,
            0.093902587890625, -0.2374267578125, -0.33660888671875,
            0.02471923828125, 0.059295654296875, 0.2396240234375,
            -0.472137451171875, -0.900665283203125, -0.18328857421875,
            0.501861572265625, 0.59088134765625, -0.312957763671875,
            -0.767364501953125, -0.65570068359375,
        ])],
    ),
    "image_resize": (
        "url:string,src_width:int,src_height:int,width:int,height:int,"
        "thumb:binary,decoded:boolean",
        [],
    ),
    "frame_sample": (
        "url:string,decoded:boolean,frame_no:int,ts_ms:bigint,width:int,"
        "height:int,frame:binary",
        [("u/null", False, 0, 0, None, None, _FRAME0 * 8)],
    ),
    "image_prep_profile": (
        "url:string,decoded:boolean,width:int,height:int,n_pix:bigint,"
        "sum_gray:bigint,ink0:bigint,edge_cnt:bigint,is_scanned:boolean,"
        "orientation:int",
        [("u/null", False, None, None, None, None, None, None, False, 0)],
    ),
}


def test_edge_rows_cross_the_arrow_boundary(spark):
    """Every operator keeps its schema on a zero-row input (and emits no
    rows), and turns a NULL payload into its literal undecodable row."""
    empty = spark.createDataFrame([], "url string, payload binary")
    null = spark.createDataFrame([("u/null", None)], "url string, payload binary")
    for name, (schema, rows) in _EDGE_ROWS.items():
        op = getattr(M, name)
        out = op(empty)
        assert out.schema.simpleString() == f"struct<{schema}>", name
        assert out.collect() == [], name
        got = [
            tuple(bytes(v) if isinstance(v, bytearray) else v for v in r)
            for r in op(null).collect()
        ]
        assert got == rows, name
