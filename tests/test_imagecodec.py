"""Unit tests for the pure stdlib+numpy image codecs (r4 VERDICT item 3)
and the real (non-fake) paths of the multimodal mapInPandas kernels."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from embulk_input_marketo_spark.functions import imagecodec as ic

rng = np.random.RandomState(7)


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def _apply_filter(f: int, raw, prior, bpp: int):
    """Reference implementation of PNG scanline FILTERING (the encoder
    side, RFC 2083 §6) — used to build fixtures that exercise the decoder's
    unfiltering of every filter type."""
    out = np.empty_like(raw)
    for x in range(len(raw)):
        a = int(raw[x - bpp]) if x >= bpp else 0
        b = int(prior[x])
        c = int(prior[x - bpp]) if x >= bpp else 0
        if f == 1:
            pred = a
        elif f == 2:
            pred = b
        elif f == 3:
            pred = (a + b) >> 1
        else:
            q = a + b - c
            pa, pb, pc = abs(q - a), abs(q - b), abs(q - c)
            pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
        out[x] = (int(raw[x]) - pred) & 0xFF
    return out


class TestPnm:
    @pytest.mark.parametrize("c", [1, 3])
    def test_roundtrip(self, c):
        a = rng.randint(0, 256, (11, 7, c), dtype=np.uint8)
        assert (ic.decode_pnm(ic.encode_pnm(a)) == a).all()

    def test_header_comments_and_whitespace(self):
        a = np.arange(6, dtype=np.uint8).reshape(2, 3, 1)
        raw = b"P5 # comment\n# another\n 3\t2 \n255\n" + a.tobytes()
        assert (ic.decode_pnm(raw) == a).all()

    def test_16bit_rejected(self):
        with pytest.raises(ValueError):
            ic.decode_pnm(b"P5\n1 1\n65535\n\x00\x00")


class TestPng:
    @pytest.mark.parametrize("c", [1, 2, 3, 4])
    def test_encode_decode_roundtrip(self, c):
        a = rng.randint(0, 256, (9, 13, c), dtype=np.uint8)
        assert (ic.decode_png(ic.encode_png(a)) == a).all()

    @pytest.mark.parametrize("c", [1, 3, 4])
    def test_all_five_filters_unfilter(self, c):
        h, w = 6, 5
        a = rng.randint(0, 256, (h, w, c), dtype=np.uint8)
        rows = a.reshape(h, w * c)
        scan = bytearray()
        prior = np.zeros(w * c, dtype=np.uint8)
        for y in range(h):
            f = y % 5  # every filter type appears
            filt = rows[y] if f == 0 else _apply_filter(f, rows[y], prior, c)
            scan.append(f)
            scan += filt.tobytes()
            prior = rows[y]
        color = {1: 0, 3: 2, 4: 6}[c]
        png = (
            b"\x89PNG\r\n\x1a\n"
            + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0))
            + _png_chunk(b"IDAT", zlib.compress(bytes(scan)))
            + _png_chunk(b"IEND", b"")
        )
        assert (ic.decode_png(png) == a).all()

    def test_multiple_idat_chunks(self):
        a = rng.randint(0, 256, (4, 4, 3), dtype=np.uint8)
        png = ic.encode_png(a)
        # split the single IDAT into two consecutive chunks
        pre = png[: 8 + 25]  # signature + IHDR chunk (12 + 13 bytes)
        (ln,) = struct.unpack_from(">I", png, 8 + 25)
        idat = png[8 + 25 + 8 : 8 + 25 + 8 + ln]
        rest = png[8 + 25 + 12 + ln :]
        split = ln // 2
        rebuilt = (
            pre
            + _png_chunk(b"IDAT", idat[:split])
            + _png_chunk(b"IDAT", idat[split:])
            + rest
        )
        assert (ic.decode_png(rebuilt) == a).all()

    def test_unsupported_rejected(self):
        a = rng.randint(0, 256, (2, 2, 3), dtype=np.uint8)
        png = bytearray(ic.encode_png(a))
        png[8 + 8 + 8] = 16  # depth byte → 16-bit
        with pytest.raises(ValueError):
            ic.decode_png(bytes(png))


class TestBmp:
    def test_decode_bottom_up_with_padding(self):
        a = rng.randint(0, 256, (5, 3, 3), dtype=np.uint8)
        w, h = 3, 5
        stride = (w * 3 + 3) & ~3
        body = bytearray()
        for y in range(h - 1, -1, -1):
            row = a[y][:, ::-1].tobytes()  # RGB→BGR
            body += row + b"\x00" * (stride - len(row))
        bmp = (
            b"BM"
            + struct.pack("<IHHI", 54 + len(body), 0, 0, 54)
            + struct.pack(
                "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0
            )
            + bytes(body)
        )
        assert (ic.decode_bmp(bmp) == a).all()
        assert ic.sniff(bmp) == "bmp"

    def test_non_24bit_rejected(self):
        bmp = (
            b"BM"
            + struct.pack("<IHHI", 62, 0, 0, 62)
            + struct.pack("<IiiHHIIiiII", 40, 1, 1, 1, 8, 0, 4, 0, 0, 0, 0)
            + b"\x00" * 4
        )
        with pytest.raises(ValueError):
            ic.decode_bmp(bmp)


class TestDispatchAndTransforms:
    def test_seam_only_for_absent_codecs(self):
        with pytest.raises(NotImplementedError):
            ic.decode_image(b"\xff\xd8\xff\xe0jpegbytes")
        with pytest.raises(NotImplementedError):
            ic.decode_image(b"GIF89a....")
        with pytest.raises(ValueError):
            ic.decode_image(b"not an image at all")

    def test_resize_exact_integer_map(self):
        a = rng.randint(0, 256, (10, 6, 3), dtype=np.uint8)
        r = ic.resize_nearest(a, 16, 16)
        assert r.shape == (16, 16, 3)
        for y in (0, 7, 15):
            for x in (0, 5, 15):
                assert (r[y, x] == a[(y * 10) // 16, (x * 6) // 16]).all()

    def test_features_bounded_and_sized(self):
        a = rng.randint(0, 256, (8, 8, 3), dtype=np.uint8)
        f = ic.mean_channel_features(a, grid=2)
        assert len(f) == 2 * 2 * 3
        assert all(0.0 <= v <= 1.0 for v in f)


class TestRealKernels:
    """The multimodal mapInPandas kernels with deterministic_fake=False —
    the r4 'seam' paths, now decoding real bytes end to end in Spark."""

    def test_decode_and_featurize_real(self, spark):
        from embulk_input_marketo_spark.functions.multimodal import (
            decode_and_featurize_images,
        )

        imgs = [
            (1, ic.encode_png(rng.randint(0, 256, (6, 9, 3), dtype=np.uint8))),
            (2, ic.encode_pnm(rng.randint(0, 256, (4, 5, 1), dtype=np.uint8))),
            (3, None),
        ]
        df = spark.createDataFrame(imgs, "doc_id: long, payload: binary")
        out = {
            r.doc_id: r
            for r in decode_and_featurize_images(
                df, "payload", deterministic_fake=False
            ).collect()
        }
        assert (out[1].width, out[1].height, out[1].n_channels) == (9, 6, 3)
        assert (out[2].width, out[2].height, out[2].n_channels) == (5, 4, 1)
        assert len(out[1].features) == 12 and len(out[2].features) == 4
        assert out[3].width is None and out[3].features is None

    def test_resize_real_roundtrips_through_decoder(self, spark):
        from embulk_input_marketo_spark.functions.multimodal import resize_images

        src = rng.randint(0, 256, (10, 7, 4), dtype=np.uint8)  # RGBA PNG
        df = spark.createDataFrame(
            [(1, ic.encode_png(src))], "doc_id: long, payload: binary"
        )
        row = resize_images(
            df, "payload", target_w=8, target_h=8, deterministic_fake=False
        ).collect()[0]
        got = ic.decode_pnm(bytes(row.payload))
        expect = ic.resize_nearest(src[:, :, :3], 8, 8)  # alpha dropped
        assert (got == expect).all()

    def test_unsupported_codec_raises_in_kernel(self, spark):
        from embulk_input_marketo_spark.functions.multimodal import (
            decode_and_featurize_images,
        )

        df = spark.createDataFrame(
            [(1, b"\xff\xd8\xff\xe0jpeg")], "doc_id: long, payload: binary"
        )
        with pytest.raises(Exception, match="(?i)codec|NotImplemented"):
            decode_and_featurize_images(
                df, "payload", deterministic_fake=False
            ).collect()


# ---------------------------------------------------------------------------
# audio sibling (functions/audiocodec.py)
# ---------------------------------------------------------------------------

from embulk_input_marketo_spark.functions import audiocodec as ac  # noqa: E402


class TestWav:
    def test_roundtrip_mono16(self):
        s = rng.randint(-32768, 32768, (500, 1)).astype(np.int32)
        got, rate = ac.decode_wav(ac.encode_wav(s, 8000))
        assert rate == 8000 and (got == s).all()

    def test_roundtrip_stereo16_and_8bit(self):
        st = rng.randint(-32768, 32768, (100, 2)).astype(np.int32)
        got, rate = ac.decode_wav(ac.encode_wav(st, 44100))
        assert rate == 44100 and got.shape == (100, 2) and (got == st).all()
        s8 = rng.randint(-128, 128, (64, 1)).astype(np.int32)
        got8, _ = ac.decode_wav(ac.encode_wav(s8, 8000, bits=8))
        assert (got8 == s8).all()

    def test_agrees_with_stdlib_wave_writer(self):
        import io
        import wave

        s = rng.randint(-32768, 32768, 300).astype("<i2")
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(16000)
            w.writeframes(s.tobytes())
        got, rate = ac.decode_wav(buf.getvalue())
        assert rate == 16000 and (got[:, 0] == s.astype(np.int32)).all()

    def test_extra_chunks_skipped(self):
        s = np.arange(-5, 5).reshape(-1, 1).astype(np.int32)
        wav = bytearray(ac.encode_wav(s, 8000))
        # splice a LIST chunk between fmt and data
        insert_at = 12 + 8 + 16  # after fmt chunk
        extra = b"LIST" + (7).to_bytes(4, "little") + b"INFOxyz" + b"\x00"
        wav[insert_at:insert_at] = extra
        wav[4:8] = (len(wav) - 8).to_bytes(4, "little")
        got, rate = ac.decode_wav(bytes(wav))
        assert (got == s).all()

    def test_seams(self):
        with pytest.raises(NotImplementedError):
            ac.decode_audio(b"OggS....")
        with pytest.raises(NotImplementedError):
            ac.decode_audio(b"ID3\x04....")
        with pytest.raises(ValueError):
            ac.decode_audio(b"random noise bytes")
        # non-PCM WAV (IEEE float, format 3): recognized, not supported
        s = np.zeros((4, 1), dtype=np.int32)
        wav = bytearray(ac.encode_wav(s, 8000))
        wav[20] = 3  # audio_format byte
        with pytest.raises(NotImplementedError):
            ac.decode_audio(bytes(wav))

    def test_pcm_stats_integer_exact(self):
        s = np.array([[-32768], [100], [-3], [0]], dtype=np.int32)
        st = ac.pcm_stats(s, 16000)
        assert st == {
            "n_frames": 4, "sample_rate": 16000, "n_channels": 1,
            "duration_ms": 0, "peak": 32768, "sum_abs": 32871,
        }

    def test_kernel_null_passthrough(self, spark):
        from embulk_input_marketo_spark.functions.multimodal import (
            decode_audio_stats,
        )

        s = rng.randint(-1000, 1000, (32, 1)).astype(np.int32)
        df = spark.createDataFrame(
            [(1, ac.encode_wav(s, 16000)), (2, None)],
            "doc_id: long, payload: binary",
        )
        out = {r.doc_id: r for r in decode_audio_stats(df, "payload").collect()}
        assert out[1].n_frames == 32 and out[1].sample_rate == 16000
        assert out[1].sum_abs == int(np.abs(s).sum())
        assert out[2].n_frames is None and out[2].sum_abs is None


@pytest.mark.parametrize("builder", ["_pgm_fixture_batches", "_wav_fixture_batches"])
def test_fixture_builders_reject_negative_doc_ids(builder):
    """The image/audio fixture builders use Python ``%`` (sign of the
    divisor); the JVM and the DuckDB oracle take the sign of the dividend.
    They agree only for ``doc_id >= 0``, so a negative id must raise."""
    import pandas as pd

    from embulk_input_marketo_spark.plans import queries

    build = getattr(queries, builder)
    ok = list(build([pd.DataFrame({"doc_id": [0, 3, 40]})]))
    assert len(ok[0]) == 3
    with pytest.raises(ValueError, match="doc_id >= 0"):
        list(build([pd.DataFrame({"doc_id": [5, -3]})]))
