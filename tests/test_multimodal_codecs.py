"""decode_real contract: same DECODED_SCHEMA whichever codec backend is
present. In this container (no pillow/soundfile) the fallback path runs;
with SPARK_GRAFT_REAL_CODECS=1 + pillow installed the PIL path runs —
both are exercised by whichever environment executes this suite."""

from __future__ import annotations

import pytest

from event_data_etl_gcs_spark.operators.multimodal import (
    DECODED_SCHEMA,
    _real_codecs_available,
    decode_real,
    decode_stub,
    dhash_images,
    documents_as_media,
    real_codecs_enabled,
)
from event_data_etl_gcs_spark.sources.catalog import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def media(spark):
    return documents_as_media(load_table(spark, SF, "documents")).limit(50)


def test_decode_real_schema_stable(spark, media):
    out = decode_real(media)
    assert out.schema == DECODED_SCHEMA
    rows = out.collect()
    assert len(rows) == 50
    assert all(r["sha256"] is not None and r["n_bytes"] > 0 for r in rows)


def test_decode_real_matches_stub_when_no_codecs(spark, media):
    """Without real codecs the dispatch must be exactly decode_stub."""
    if real_codecs_enabled() and _real_codecs_available()["image"]:
        pytest.skip("real codecs active in this environment")
    got = {r["media_id"]: r["features"] for r in decode_real(media).collect()}
    want = {r["media_id"]: r["features"] for r in decode_stub(media).collect()}
    assert got == want


def test_decode_real_strict_raises_without_codecs(spark, media):
    if real_codecs_enabled() and _real_codecs_available()["image"]:
        pytest.skip("real codecs active in this environment")
    with pytest.raises(NotImplementedError):
        decode_real(media, strict=True)


def test_dhash_deterministic_and_perturbation_tolerant(spark):
    from pyspark.sql import functions as F

    from event_data_etl_gcs_spark.operators.multimodal import (
        dhash_dedup_groups,
        dhash_images,
        synthesize_ppm_images,
    )
    from event_data_etl_gcs_spark.sources.catalog import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").limit(100)
    media = synthesize_ppm_images(docs)
    a = {r["media_id"]: r["dhash"] for r in dhash_images(media).collect()}
    b = {
        r["media_id"]: r["dhash"]
        for r in dhash_images(media.repartition(7)).collect()
    }
    assert a == b and len(a) == 100  # partitioning-invariant

    # identical payloads -> identical hashes -> grouped
    dup = media.union(media.limit(5).withColumn(
        "media_id", F.col("media_id") + 1_000_000
    ))
    groups = dhash_dedup_groups(dup).collect()
    grouped_ids = {r["media_id"] for r in groups}
    for r in groups:
        assert r["n_images"] >= 2
    # the 5 duplicated payload pairs must be grouped together
    assert {1_000_000 + i for i in range(5)} & grouped_ids


# --- round 6: the vendored pure-Python codec executes the REAL branch ------

def _png_encode(w, h, rows, ctype, filters, palette=b""):
    """Tiny in-test PNG encoder (independent of the decoder under test):
    rows = list of per-row sample bytes; filters = per-row filter type
    actually APPLIED to the stored bytes, exercising unfilter paths."""
    import struct
    import zlib

    bpp = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[ctype]
    stride = w * bpp

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        if pa <= pb and pa <= pc:
            return a
        return b if pb <= pc else c

    raw = bytearray()
    prev = bytes(stride)
    for y, (row, f) in enumerate(zip(rows, filters)):
        assert len(row) == stride
        raw.append(f)
        for i in range(stride):
            a = row[i - bpp] if i >= bpp else 0
            b_ = prev[i]
            c = prev[i - bpp] if i >= bpp else 0
            if f == 0:
                v = row[i]
            elif f == 1:
                v = (row[i] - a) & 0xFF
            elif f == 2:
                v = (row[i] - b_) & 0xFF
            elif f == 3:
                v = (row[i] - (a + b_) // 2) & 0xFF
            else:
                v = (row[i] - paeth(a, b_, c)) & 0xFF
            raw.append(v)
        prev = row

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
    if palette:
        out += chunk(b"PLTE", palette)
    out += chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b"")
    return out


def test_pycodec_ppm_p6_p3_and_comments():
    from event_data_etl_gcs_spark._vendor.pycodec import (
        UnsupportedImageError,
        open_image,
    )

    body = bytes(range(2 * 2 * 3))
    w, h, px = open_image(b"P6\n# cam 1\n2 2\n255\n" + body)
    assert (w, h) == (2, 2)
    assert px == [(0, 1, 2), (3, 4, 5), (6, 7, 8), (9, 10, 11)]

    ascii_img = b"P3\n2 1\n255\n255 0 0  0 255 0\n"
    assert open_image(ascii_img) == (2, 1, [(255, 0, 0), (0, 255, 0)])

    # maxval scaling (round-half-up): 3/7 -> (3*255+3)//7 = 109
    assert open_image(b"P3\n1 1\n7\n7 0 3\n")[2] == [(255, 0, 109)]

    import pytest as _pytest

    with _pytest.raises(UnsupportedImageError):
        open_image(b"P6\n2 2\n255\n\x00\x00")  # truncated raster
    with _pytest.raises(UnsupportedImageError):
        open_image(b"GIF89a....")


def test_pycodec_png_all_filters_and_color_types():
    import random

    from event_data_etl_gcs_spark._vendor.pycodec import open_image

    rng = random.Random(42)
    w, h = 5, 5
    filters = [0, 1, 2, 3, 4]
    # RGB: every filter type must invert exactly
    rows = [bytes(rng.randrange(256) for _ in range(w * 3)) for _ in range(h)]
    gw, gh, px = open_image(_png_encode(w, h, rows, 2, filters))
    want = [
        tuple(rows[y][3 * x : 3 * x + 3]) for y in range(h) for x in range(w)
    ]
    assert (gw, gh) == (w, h) and px == want

    # gray -> replicated; RGBA -> alpha dropped; gray+alpha
    grows = [bytes(rng.randrange(256) for _ in range(w)) for _ in range(h)]
    assert open_image(_png_encode(w, h, grows, 0, filters))[2] == [
        (v, v, v) for r in grows for v in r
    ]
    arows = [bytes(rng.randrange(256) for _ in range(w * 4)) for _ in range(h)]
    assert open_image(_png_encode(w, h, arows, 6, filters))[2] == [
        tuple(arows[y][4 * x : 4 * x + 3]) for y in range(h) for x in range(w)
    ]
    garows = [bytes(rng.randrange(256) for _ in range(w * 2)) for _ in range(h)]
    assert open_image(_png_encode(w, h, garows, 4, filters))[2] == [
        (r[2 * x], r[2 * x], r[2 * x]) for r in garows for x in range(w)
    ]

    # palette
    pal = bytes(rng.randrange(256) for _ in range(3 * 4))
    prows = [bytes(rng.randrange(4) for _ in range(w)) for _ in range(h)]
    assert open_image(_png_encode(w, h, prows, 3, filters, palette=pal))[2] == [
        tuple(pal[3 * v : 3 * v + 3]) for r in prows for v in r
    ]


def test_decode_real_strict_executes_on_ppm_fixtures(spark, monkeypatch):
    """Round-4 directive closed: the NON-STUB branch runs in this
    container (strict=True, so any fallback would raise). Feature head
    must be true decoded pixel statistics, verified independently."""
    from pyspark.sql import functions as F

    from event_data_etl_gcs_spark.operators.multimodal import (
        synthesize_ppm_images,
    )

    monkeypatch.setenv("SPARK_GRAFT_REAL_CODECS", "1")
    assert _real_codecs_available()["image"]

    docs = load_table(spark, SF, "documents").limit(30)
    media = synthesize_ppm_images(docs).withColumn(
        "mime", F.lit("image/x-portable-pixmap")
    )
    out = decode_real(media, strict=True)
    assert out.schema == DECODED_SCHEMA
    got = {r["media_id"]: r for r in out.collect()}
    assert len(got) == 30

    for r in media.collect():
        b = bytes(r["payload"])
        magic, dims, maxval, body = b.split(b"\n", 3)
        w, h = (int(x) for x in dims.split())
        feats = got[r["media_id"]]["features"]
        assert feats[0] == float(w) and feats[1] == float(h)
        for c in range(3):
            mean_c = sum(body[c::3]) / (w * h)
            assert abs(feats[2 + c] - mean_c) < 1e-4


def test_decode_real_strict_executes_on_png(spark, monkeypatch):
    """PNG payloads through the Spark path: real inflate + unfilter on
    executors, channel means match the source array."""
    monkeypatch.setenv("SPARK_GRAFT_REAL_CODECS", "1")

    import random

    rng = random.Random(7)
    w, h = 6, 4
    payloads = []
    for mid in range(8):
        rows = [
            bytes(rng.randrange(256) for _ in range(w * 3)) for _ in range(h)
        ]
        png = _png_encode(w, h, rows, 2, [mid % 5] * h)
        flat = b"".join(rows)
        means = [sum(flat[c::3]) / (w * h) for c in range(3)]
        payloads.append((mid, png, means))

    media = spark.createDataFrame(
        [(mid, png, "image/png", None) for mid, png, _ in payloads],
        "media_id long, payload binary, mime string, meta map<string,string>",
    )
    got = {r["media_id"]: r["features"] for r in decode_real(media, strict=True).collect()}
    for mid, _, means in payloads:
        feats = got[mid]
        assert feats[0] == float(w) and feats[1] == float(h)
        for c in range(3):
            assert abs(feats[2 + c] - means[c]) < 1e-4


def test_decode_real_nonimage_payload_keeps_row_with_stub_features(
    spark, media, monkeypatch
):
    """Real branch, non-image payloads (utf-8 text): rows survive with
    stub features — quarantine-by-filter stays the caller's policy."""
    monkeypatch.setenv("SPARK_GRAFT_REAL_CODECS", "1")
    got = {r["media_id"]: r["features"] for r in decode_real(media, strict=True).collect()}
    want = {r["media_id"]: r["features"] for r in decode_stub(media).collect()}
    assert got == want and len(got) == 50


def test_dhash_rejects_malformed_ppm(spark):
    bad_magic = b"P5\n4 4\n255\n" + bytes(48)
    truncated = b"P6\n4 4\n255\n" + bytes(10)  # expects 48 raster bytes
    for payload in (bad_magic, truncated):
        media = spark.createDataFrame(
            [(1, bytearray(payload))], "media_id long, payload binary"
        )
        with pytest.raises(Exception, match="PPM"):
            dhash_images(media).collect()
