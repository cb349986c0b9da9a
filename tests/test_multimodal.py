"""Multimodal column tests: struct schema, byte stats, stubbed decode
through real mapInPandas plumbing, frame-sampling plan."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pandrs_spark.operators.multimodal import (
    attach_media_struct,
    decode_image_features,
    media_stats,
    sample_video_frames,
)
from pandrs_spark.operators.util import small_local_df


@pytest.fixture()
def media_df(spark):
    rows = [(1, b"fake-image-bytes-1"), (2, b"fake-image-bytes-22")]
    df = small_local_df(spark, rows, "id long, raw binary")
    return attach_media_struct(
        df, "raw", "image/fake", width=F.lit(32), height=F.lit(16)
    ).drop("raw")


def test_media_struct_schema(media_df):
    f = media_df.schema["media"]
    names = [x.name for x in f.dataType.fields]
    assert names == ["content", "mime", "meta"]


def test_media_stats_no_decode(media_df):
    rows = {r.n_bytes: r for r in media_stats(media_df).collect()}
    assert set(rows) == {18, 19}
    assert all(len(r.checksum) == 32 for r in rows.values())
    assert all(r.width == 32 and r.height == 16 for r in rows.values())


def test_decode_image_features_deterministic(media_df):
    out = {r.id: r for r in decode_image_features(media_df).collect()}
    assert set(out) == {1, 2}
    assert len(out[1].features) == 8
    again = {r.id: r for r in decode_image_features(media_df).collect()}
    assert out[1].features == again[1].features
    assert 1 <= out[1].width <= 64


def test_decode_rejects_real_images(spark):
    # JPEG stays honestly gated (DCT entropy coding needs libjpeg);
    # PNG decodes for real since round 8, so a malformed PNG payload
    # now surfaces ValueError instead of the old NotImplementedError
    df = small_local_df(
        spark, [(1, b"\xff\xd8\xffrest")], "id long, raw binary"
    )
    media = attach_media_struct(df, "raw", "image/jpeg")
    with pytest.raises(Exception, match="NotImplementedError|JPEG"):
        decode_image_features(media).collect()
    df2 = small_local_df(
        spark, [(1, b"\x89PNG\r\n\x1a\nrest")], "id long, raw binary"
    )
    media2 = attach_media_struct(df2, "raw", "image/png")
    with pytest.raises(Exception, match="ValueError|missing IHDR|truncated"):
        decode_image_features(media2).collect()


def test_sample_video_frames(spark):
    df = small_local_df(spark, [(7, b"vid")], "id long, raw binary")
    media = attach_media_struct(
        df, "raw", "video/fake", n_frames=F.lit(10)
    )
    out = sample_video_frames(media, every_n=3).collect()
    assert [r.frame_idx for r in out] == [0, 3, 6, 9]


def test_repartition_for_payload_parallelism_floor(spark):
    """A corpus that fits one byte-budget partition must still fan out
    to every core — the byte budget is an upper bound on partition
    SIZE, not a license to serialize the decode."""
    from pandrs_spark.operators.multimodal import repartition_for_payload

    df = small_local_df(
        spark, [(i, b"x" * 100) for i in range(200)], "id long, content binary"
    ).coalesce(1)
    out = repartition_for_payload(df, avg_payload_bytes=100)
    assert (
        out.rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )
    # and the byte budget still dominates for large corpora
    big = repartition_for_payload(
        df, avg_payload_bytes=512 * 1024 * 1024
    )  # 200 rows x 512MB >> 128MB target
    assert big.rdd.getNumPartitions() > spark.sparkContext.defaultParallelism


def test_bmp_roundtrip_and_stride_padding():
    """3-px-wide rows need 4-byte stride padding — the decoder must
    step over it; channel means match an independent computation."""
    from pandrs_spark.operators.multimodal import (
        _decode_bmp_bytes,
        encode_bmp_rgb24,
    )

    px = bytes(range(3 * 3 * 3))  # 3x3, values 0..26
    blob = encode_bmp_rgb24(3, 3, px)
    w, h, (mb, mg, mr) = _decode_bmp_bytes(blob)
    assert (w, h) == (3, 3)
    assert mb == sum(px[0::3]) / 9 / 255.0
    assert mg == sum(px[1::3]) / 9 / 255.0
    assert mr == sum(px[2::3]) / 9 / 255.0


def test_bmp_decoder_rejects_compressed_and_wrong_bpp():
    import struct

    import pytest

    from pandrs_spark.operators.multimodal import _decode_bmp_bytes

    # craft an 8-bpp header
    hdr = (
        struct.pack("<2sIHHI", b"BM", 100, 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 8, 0, 16, 2835, 2835, 0, 0)
        + b"\x00" * 46
    )
    with pytest.raises(NotImplementedError, match="24-bpp"):
        _decode_bmp_bytes(hdr)


def test_image_dispatch_bmp_vs_png_vs_fake():
    import pytest

    from pandrs_spark.operators.multimodal import (
        _decode_image_bytes,
        encode_bmp_rgb24,
    )

    # BMP: real decode
    w, h, feats = _decode_image_bytes(encode_bmp_rgb24(2, 2, bytes(12)))
    assert (w, h) == (2, 2) and feats == [0.0, 0.0, 0.0]
    # PNG decodes for real since round 8; garbage after the magic is a
    # malformed payload (ValueError), JPEG stays NotImplemented
    with pytest.raises(ValueError):
        _decode_image_bytes(b"\x89PNG\r\n\x1a\n" + b"x" * 16)
    with pytest.raises(NotImplementedError):
        _decode_image_bytes(b"\xff\xd8\xff" + b"x" * 16)
    # arbitrary bytes: deterministic fake (plumbing-testable)
    w2, h2, f2 = _decode_image_bytes(b"not an image")
    assert 1 <= w2 <= 64 and 1 <= h2 <= 64 and len(f2) == 8


def test_wav_roundtrip_and_gates():
    import pytest

    from pandrs_spark.operators.multimodal import (
        _decode_wav_bytes,
        encode_wav_pcm16,
    )

    samples = [0, 1000, -1000, 32767, -32768, 5, -5, 100]
    rate, nch, nfr, rms, peak = _decode_wav_bytes(
        encode_wav_pcm16(16000, samples)
    )
    assert (rate, nch, nfr) == (16000, 1, 8)
    assert peak == 32768
    assert rms == (sum(s * s for s in samples) / 8) ** 0.5
    with pytest.raises((NotImplementedError, ValueError)):
        _decode_wav_bytes(b"RIFFxxxxWAVEfmt garbage")


def test_decode_audio_features_distributed(spark):
    """The mapInPandas audio stage decodes real PCM16 WAVs partition-
    parallel and returns the narrow feature schema."""
    from pandrs_spark.operators.multimodal import (
        attach_media_struct,
        decode_audio_features,
        encode_wav_pcm16,
    )

    rows = [
        (1, encode_wav_pcm16(8000, [100, -100, 200, -200])),
        (2, encode_wav_pcm16(44100, [0, 0, 0, 0, 0, 0])),
    ]
    df = small_local_df(spark, rows, "id long, content binary").repartition(2)
    media = attach_media_struct(df, "content", "audio/wav")
    got = {r["id"]: r for r in decode_audio_features(media).collect()}
    assert got[1]["sample_rate"] == 8000 and got[1]["n_frames"] == 4
    assert got[1]["peak"] == 200
    assert got[2]["sample_rate"] == 44100 and got[2]["rms"] == 0.0


def test_bmp_decoder_rejects_truncated_payload():
    """A payload that parses a valid header but is cut short of
    off + (height-1)*stride + row bytes must raise ValueError, not
    silently average short scanlines; non-BMP bytes that merely start
    with 'BM' surface ValueError, never a raw struct.error."""
    import pytest

    from pandrs_spark.operators.multimodal import (
        _decode_bmp_bytes,
        _decode_image_bytes,
        encode_bmp_rgb24,
    )

    full = encode_bmp_rgb24(4, 3, bytes([10, 20, 30]) * 12)
    assert _decode_bmp_bytes(full)[0] == 4
    with pytest.raises(ValueError, match="truncated"):
        _decode_bmp_bytes(full[:-5])
    with pytest.raises(ValueError):
        _decode_image_bytes(b"BMshort")


def test_png_roundtrip_and_filters():
    """REAL PNG decode: writer roundtrip (filter 0) plus hand-built
    payloads exercising Sub/Up/Average/Paeth reconstruction; gates on
    interlace/palette; ValueError on truncation and corrupt zlib."""
    import struct
    import zlib

    import pytest

    from pandrs_spark.operators.multimodal import (
        _decode_png_bytes,
        encode_png_rgb,
    )

    px = bytes(range(48))
    blob = encode_png_rgb(4, 4, px)
    w, h, means = _decode_png_bytes(blob)
    assert (w, h) == (4, 4)
    for c in range(3):
        assert abs(means[c] - sum(px[c::3]) / 16 / 255.0) < 1e-12

    def chunk(tag, payload):
        return (
            struct.pack(">I", len(payload))
            + tag
            + payload
            + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
        )

    def png_with_filters(width, height, recon_rows, filters):
        nch, stride = 3, width * 3
        out, prior = b"", bytes(stride)
        for r, ft in zip(recon_rows, filters):
            line = bytearray(stride)
            for i in range(stride):
                a = r[i - nch] if i >= nch else 0
                b = prior[i]
                c = prior[i - nch] if i >= nch else 0
                if ft == 0:
                    pred = 0
                elif ft == 1:
                    pred = a
                elif ft == 2:
                    pred = b
                elif ft == 3:
                    pred = (a + b) // 2
                else:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = (
                        a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                    )
                line[i] = (r[i] - pred) & 0xFF
            out += bytes([ft]) + bytes(line)
            prior = r
        ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(out))
            + chunk(b"IEND", b"")
        )

    rows = [bytes((i * 7 + r * 13) % 256 for i in range(12)) for r in range(4)]
    w, h, m2 = _decode_png_bytes(png_with_filters(4, 4, rows, [1, 2, 3, 4]))
    for c in range(3):
        exp = sum(sum(r[c::3]) for r in rows) / 16 / 255.0
        assert abs(m2[c] - exp) < 1e-12

    with pytest.raises(ValueError):
        _decode_png_bytes(blob[:-20])
    # interlaced header must gate, not mis-decode
    ihdr_i = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 1)
    bad = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr_i)
        + chunk(b"IDAT", zlib.compress(b"\x00" * 14))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(NotImplementedError):
        _decode_png_bytes(bad)


def test_decode_image_features_png_distributed(spark):
    """The mapInPandas image stage decodes real zlib-compressed PNGs
    partition-parallel."""
    from pandrs_spark.operators.multimodal import (
        attach_media_struct,
        decode_image_features,
        encode_png_rgb,
    )

    rows = [
        (1, encode_png_rgb(2, 2, bytes([255, 0, 0] * 4))),
        (2, encode_png_rgb(3, 1, bytes([0, 128, 0] * 3))),
    ]
    df = small_local_df(spark, rows, "id long, content binary").repartition(2)
    media = attach_media_struct(df, "content", "image/png")
    got = {r["id"]: r for r in decode_image_features(media).collect()}
    assert got[1]["width"] == 2 and abs(got[1]["features"][0] - 1.0) < 1e-12
    assert got[2]["width"] == 3 and abs(got[2]["features"][1] - 128 / 255.0) < 1e-12
