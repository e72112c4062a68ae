"""operators/webp — lossless WebP (VP8L) decode, literal-only
subset: RIFF walk, LSB-first bitstream, simple + code-length-coded
normal prefix codes, canonical assignment, zero-bit single-symbol
codes. The encoder is a real frequency-based writer, so round trips
pin real parsing (the GIF/TIFF/BMP/PDF fixture discipline)."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from flycatcher_spark.operators import multimodal
from flycatcher_spark.operators._bits import (
    BitReader,
    BitWriter,
    canonical_codes,
)
from flycatcher_spark.operators.webp import (
    _complete_codes,
    _huffman_lengths,
    encode_webp,
    parse_webp,
)


class TestBitIO:
    def test_lsb_first_roundtrip(self):
        bw = BitWriter("lsb")
        vals = [(5, 3), (0, 1), (16383, 14), (1, 1), (170, 8)]
        for v, n in vals:
            bw.write(v, n)
        br = BitReader(bw.bytes(), "lsb")
        assert [br.read(n) for _, n in vals] == [v for v, _ in vals]

    def test_code_bits_msb_first(self):
        # write_code emits MSB-of-code first (the DEFLATE convention)
        bw = BitWriter("lsb")
        bw.write_code(0b101, 3)
        br = BitReader(bw.bytes(), "lsb")
        assert [br.read(1) for _ in range(3)] == [1, 0, 1]

    def test_truncated_read_raises(self):
        br = BitReader(b"\xff", "lsb")
        br.read(8)
        with pytest.raises(ValueError):
            br.read(1)


class TestCanonicalCodes:
    def test_deflate_example(self):
        # RFC 1951 §3.2.2 worked example: lengths (3,3,3,3,3,2,4,4)
        codes = canonical_codes(enumerate([3, 3, 3, 3, 3, 2, 4, 4]))
        assert codes[5] == (0b00, 2)
        assert codes[0] == (0b010, 3)
        assert codes[6] == (0b1110, 4)
        assert codes[7] == (0b1111, 4)

    def test_incomplete_rejected(self):
        with pytest.raises(ValueError):
            _complete_codes(list(enumerate([2, 2, 2])))  # Kraft sum 3/4 < 1

    def test_oversubscribed_rejected(self):
        with pytest.raises(ValueError):
            canonical_codes(enumerate([1, 1, 1]))

    def test_huffman_lengths_kraft_equality(self):
        freqs = {i: (i % 7) + 1 for i in range(40)}
        lens = _huffman_lengths(freqs, 15)
        assert sum(2 ** -l for l in lens.values()) == pytest.approx(1.0)

    def test_depth_limit_fallback_is_complete(self):
        # fibonacci frequencies force depth > limit in pure Huffman
        fib = [1, 1]
        while len(fib) < 24:
            fib.append(fib[-1] + fib[-2])
        lens = _huffman_lengths(dict(enumerate(fib)), 7)
        assert max(lens.values()) <= 7
        assert sum(2 ** -l for l in lens.values()) == pytest.approx(1.0)


class TestRoundTrip:
    @pytest.mark.parametrize("channels", [3, 4])
    def test_dense_alphabet_normal_codes(self, channels):
        w, h = 17, 9
        px = (np.arange(w * h * channels, dtype=np.int64) * 13 + 5) % 256
        m = parse_webp(encode_webp(px, w, h, channels))
        assert (m["fmt"], m["width"], m["height"], m["n_channels"]) == (
            "webp", w, h, channels,
        )
        assert m["maxval"] == 255
        assert list(m["pixels"]) == list(px)

    def test_two_symbol_simple_codes(self):
        w, h = 8, 6
        px = 200 * (np.arange(w * h * 3) % 2)
        m = parse_webp(encode_webp(px, w, h, 3))
        assert list(m["pixels"]) == list(px)

    def test_two_symbol_descending_transmitted_order(self):
        # ADVICE r10: RFC 9649 assigns code 0 to the FIRST transmitted
        # symbol of a two-symbol simple code. The in-repo encoder
        # always transmits ascending, so hand-build a spec-valid
        # stream that transmits green symbols (200, 10) DESCENDING:
        # a canonical-order decoder would swap the two pixel values.
        from flycatcher_spark.operators.webp import _chunk, _riff

        bw = BitWriter("lsb")
        bw.write(2 - 1, 14)  # width 2
        bw.write(1 - 1, 14)  # height 1
        bw.write(0, 1)  # no alpha hint
        bw.write(0, 3)  # version
        bw.write(0, 1)  # no transforms
        bw.write(0, 1)  # no color cache
        bw.write(0, 1)  # no meta prefix
        # green: simple, 2 symbols, first 8-bit, 200 then 10
        bw.write(1, 1)
        bw.write(1, 1)
        bw.write(1, 1)
        bw.write(200, 8)
        bw.write(10, 8)
        # red/blue/alpha/dist: single-symbol const 0 (1-bit symbol)
        for _ in range(4):
            bw.write(1, 1)  # simple
            bw.write(0, 1)  # one symbol
            bw.write(0, 1)  # 1-bit symbol
            bw.write(0, 1)  # value 0
        # pixel data: green codes 0 (-> 200) then 1 (-> 10)
        bw.write_code(0, 1)
        bw.write_code(1, 1)
        buf = _riff(_chunk(b"VP8L", b"\x2f" + bw.bytes()))
        m = parse_webp(buf)
        assert m is not None and m["width"] == 2 and m["height"] == 1
        # greens in transmitted-code order, NOT numeric order
        assert list(m["pixels"]) == [0, 200, 0, 0, 10, 0]

    def test_constant_zero_bit_codes(self):
        # every channel constant: all five codes are single-symbol
        # (zero bits per pixel) — the whole raster costs only headers
        w, h = 30, 20
        px = np.full(w * h * 4, 77)
        buf = encode_webp(px, w, h, 4)
        assert len(buf) < 80  # headers only, no per-pixel bits
        m = parse_webp(buf)
        assert m["n_channels"] == 4 and set(m["pixels"]) == {77}

    def test_one_pixel_and_single_column(self):
        for w, h in ((1, 1), (1, 13), (13, 1)):
            px = (np.arange(w * h * 3) * 31) % 256
            m = parse_webp(encode_webp(px, w, h, 3))
            assert (m["width"], m["height"]) == (w, h)
            assert list(m["pixels"]) == list(px)

    def test_sparse_alphabet_long_zero_runs(self):
        # symbols spread across the range exercise the 17/18 repeat
        # operators in the code-length stream
        w, h = 11, 7
        px = np.random.default_rng(3).choice(
            [0, 3, 9, 64, 255], size=w * h * 3
        )
        m = parse_webp(encode_webp(px, w, h, 3))
        assert list(m["pixels"]) == list(px)

    @pytest.mark.parametrize("channels", [3, 4])
    def test_subtract_green_transform(self, channels):
        # the one in-subset transform (pure arithmetic, no tables):
        # red/blue stored minus green mod 256, decoder adds it back
        w, h = 13, 8
        rng = np.random.default_rng(5)
        px = rng.integers(0, 256, w * h * channels)
        buf = encode_webp(px, w, h, channels, subtract_green=True)
        m = parse_webp(buf)
        assert list(m["pixels"]) == [int(x) for x in px]
        # and the stream genuinely differs from the untransformed one
        assert buf != encode_webp(px, w, h, channels)

    def test_other_transform_types_rejected(self):
        # rewrite the subtract-green type bits (2) to predictor (0):
        # out-of-subset transforms must be honest None, not mis-decode
        base = encode_webp(np.zeros(12, dtype=np.int64), 2, 2, 3,
                           subtract_green=True)
        i = base.index(b"VP8L") + 8 + 1  # past the 0x2F signature
        # header is 32 bits; transform-present bit is bit 32 (byte 4
        # bit 0), the 2-bit type sits at bits 33-34 (LSB-first)
        mut = bytearray(base)
        assert mut[i + 4] & 0x01  # transform-present set
        mut[i + 4] &= ~0x06       # type 2 -> type 0
        assert parse_webp(bytes(mut)) is None

    def test_matrix(self):
        rng = np.random.default_rng(0)
        for trial in range(40):
            w = int(rng.integers(1, 50))
            h = int(rng.integers(1, 30))
            ch = int(rng.choice([3, 4]))
            px = rng.integers(0, 256, w * h * ch)
            m = parse_webp(encode_webp(px, w, h, ch))
            assert m is not None
            assert (m["width"], m["height"], m["n_channels"]) == (w, h, ch)
            assert list(m["pixels"]) == [int(x) for x in px]


class TestHonestNone:
    def test_rejections(self):
        assert parse_webp(None) is None
        assert parse_webp(b"") is None
        assert parse_webp(b"RIFF\x00\x00\x00\x00WAVEfmt ") is None
        # lossy flavor and extended container: out of subset
        assert parse_webp(
            b"RIFF\x10\x00\x00\x00WEBPVP8 \x04\x00\x00\x00\x00\x00\x00\x00"
        ) is None
        assert parse_webp(
            b"RIFF\x10\x00\x00\x00WEBPVP8X\x04\x00\x00\x00\x00\x00\x00\x00"
        ) is None

    def test_bad_signature_byte(self):
        buf = bytearray(encode_webp(np.zeros(12), 2, 2, 3))
        i = buf.index(b"VP8L") + 8
        buf[i] = 0x30  # not 0x2F
        assert parse_webp(bytes(buf)) is None

    def test_transform_bit_is_out_of_subset(self):
        # flip the first post-header bit (transform present)
        buf = bytearray(encode_webp(np.zeros(12), 2, 2, 3))
        i = buf.index(b"VP8L") + 8 + 1  # past the 0x2F signature
        # header = 14+14+1+3 = 32 bits; transform bit = bit 32 -> byte 4 bit 0
        buf[i + 4] |= 0x01
        assert parse_webp(bytes(buf)) is None

    def test_truncation_never_crashes(self):
        full = encode_webp((np.arange(600) * 7) % 256, 10, 20, 3)
        for k in range(0, len(full) - 1, 3):
            assert parse_webp(full[:k]) is None

    def test_bitflips_never_crash(self):
        full = encode_webp((np.arange(300) * 11) % 256, 10, 10, 3)
        for pos in range(12, len(full), 2):
            mut = bytearray(full)
            mut[pos] ^= 0x55
            parse_webp(bytes(mut))  # any outcome but an exception

    def test_writer_guards(self):
        with pytest.raises(ValueError):
            encode_webp([0, 0, 0], 1, 1, 2)
        with pytest.raises(ValueError):
            encode_webp([300, 0, 0], 1, 1, 3)


class TestSparkIntegration:
    def test_fixture_closed_form(self, spark):
        docs = spark.createDataFrame(
            [(i,) for i in range(24)], "doc_id long"
        )
        meta = multimodal.decode_image_meta(
            multimodal.make_webp_payload(docs)
        ).collect()
        assert len(meta) == 24
        for r in meta:
            i = r.doc_id
            w, h, ch = 4 + i % 13, 3 + i % 7, 3 + (i % 2)
            n = w * h * ch
            assert (r.fmt, r.width, r.height, r.n_channels) == (
                "webp", w, h, ch,
            )
            k = np.arange(n)
            arm = i % 3
            if arm == 0:
                want = float(((i * 7 + k * 13) % 256).mean())
            elif arm == 1:
                want = float((200 * ((i + k) % 2)).mean())
            else:
                want = float(i % 256)
            assert r.mean_pixel == pytest.approx(want, abs=1e-9)

    def test_dispatch_and_sniffer(self, spark):
        buf = encode_webp(np.zeros(12), 2, 2, 3)
        assert multimodal.sniff_format(buf) == "webp_lossless"
        assert multimodal.parse_image(buf)["fmt"] == "webp"

    def test_raster_bomb_header_returns_none_fast(self):
        # r11 guard: zero-bit const codes decode pixels for FREE, so a
        # ~28-byte header claiming 16384x16384 must hit the raster cap
        # (64 MiB RGBA), not allocate a 1 GB array
        from flycatcher_spark.operators.webp import _chunk, _riff

        bw = BitWriter("lsb")
        bw.write(16383, 14)
        bw.write(16383, 14)
        bw.write(0, 1)
        bw.write(0, 3)
        bw.write(0, 1)
        bw.write(0, 1)
        bw.write(0, 1)
        for _ in range(5):  # five zero-bit single-symbol codes
            bw.write(1, 1)
            bw.write(0, 1)
            bw.write(0, 1)
            bw.write(0, 1)
        assert parse_webp(_riff(_chunk(b"VP8L", b"\x2f" + bw.bytes()))) is None

    def test_animated_canvas_bomb_returns_none(self):
        from flycatcher_spark.operators.webp import (
            _VP8X_ANIM_FLAG,
            _chunk,
            _riff,
            _u24,
            parse_webp_frames,
        )

        vp8x = (
            bytes([_VP8X_ANIM_FLAG, 0, 0, 0])
            + _u24(16 * 1024 * 1024 - 1)
            + _u24(16 * 1024 * 1024 - 1)
        )
        buf = _riff(
            _chunk(b"VP8X", vp8x)
            + _chunk(b"ANIM", b"\x00" * 6)
            + _chunk(b"ANMF", b"\x00" * 24)
        )
        assert parse_webp_frames(buf) is None

    def test_sniffer_undersized_anmf_never_reads_next_chunk(self):
        # ADVICE r10: an ANMF body shorter than 20 bytes has no
        # sub-chunk tag to peek; the old unbounded slice read 12
        # bytes into the NEXT top-level chunk's body — plant "VP8 "
        # exactly there and require the sniffer NOT to see it
        from flycatcher_spark.operators.webp import _chunk, _riff

        bait = _chunk(b"META", b"xxxx" + b"VP8 " + b"pad!")
        buf = _riff(_chunk(b"ANMF", b"1234") + bait)
        assert multimodal.sniff_format(buf) == "webp_animated"

    def test_map_only_plan(self, spark):
        docs = spark.createDataFrame([(i,) for i in range(4)], "doc_id long")
        out = multimodal.decode_image_meta(multimodal.make_webp_payload(docs))
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan  # decode is map-only
        assert "BatchEvalPython" not in plan  # Arrow stages only


class TestAnimation:
    """VP8X/ANIM/ANMF composition (r10): blend/dispose semantics,
    even-offset container rule, sampling-aware decode, still-image
    passthrough."""

    def _anim(self, frames, w=4, h=4, **kw):
        from flycatcher_spark.operators.webp import (
            encode_webp_animation,
            parse_webp_frames,
        )

        return parse_webp_frames(encode_webp_animation(w, h, frames, **kw))

    def test_overwrite_composition_and_metadata(self):
        m = self._anim(
            [
                dict(x=0, y=0, width=4, height=4, channels=3,
                     pixels=[10, 20, 30] * 16, duration_ms=40),
                dict(x=2, y=2, width=2, height=2, channels=3,
                     pixels=[1, 2, 3] * 4, duration_ms=70),
            ]
        )
        assert (m["canvas_width"], m["canvas_height"], m["n_frames"]) == (
            4, 4, 2,
        )
        f0 = np.array(m["frames"][0]["pixels"]).reshape(4, 4, 4)
        f1 = np.array(m["frames"][1]["pixels"]).reshape(4, 4, 4)
        assert (f0[:, :, :3] == [10, 20, 30]).all()
        assert (f0[:, :, 3] == 255).all()
        assert (f1[2:, 2:, :3] == [1, 2, 3]).all()
        assert (f1[:2, :, :3] == [10, 20, 30]).all()
        assert m["frames"][1]["duration_ms"] == 70

    def test_alpha_blend_integer_src_over(self):
        # 50%-alpha gray over opaque gray: exact integer src-over
        m = self._anim(
            [
                dict(x=0, y=0, width=4, height=4, channels=3,
                     pixels=[100] * 48),
                dict(x=0, y=0, width=4, height=4, channels=4,
                     pixels=[200, 200, 200, 128] * 16),
            ]
        )
        f1 = np.array(m["frames"][1]["pixels"]).reshape(4, 4, 4)
        # oa = 128 + 255*(127)/255 = 255; rgb = (200*128*255 +
        # 100*255*127) / (255*255) = 150 (integer floor)
        assert (f1[:, :, :3] == 150).all()
        assert (f1[:, :, 3] == 255).all()

    def test_no_blend_overwrites_including_alpha(self):
        m = self._anim(
            [
                dict(x=0, y=0, width=4, height=4, channels=3,
                     pixels=[100] * 48),
                dict(x=0, y=0, width=4, height=4, channels=4,
                     pixels=[200, 200, 200, 128] * 16, blend=False),
            ]
        )
        f1 = np.array(m["frames"][1]["pixels"]).reshape(4, 4, 4)
        assert (f1[:, :, :3] == 200).all() and (f1[:, :, 3] == 128).all()

    def test_dispose_restores_background_rect(self):
        m = self._anim(
            [
                dict(x=0, y=0, width=4, height=4, channels=3,
                     pixels=[5] * 48, dispose=True),
                dict(x=0, y=0, width=2, height=2, channels=3,
                     pixels=[7] * 12),
            ],
            background=(9, 11, 13, 255),
        )
        f1 = np.array(m["frames"][1]["pixels"]).reshape(4, 4, 4)
        assert (f1[:2, :2, :3] == 7).all()          # new frame rect
        assert (f1[2:, 2:, :3] == [9, 11, 13]).all()  # disposed to bg

    def test_sampling_skips_past_window(self):
        frames = [
            dict(x=0, y=0, width=2, height=2, channels=3, pixels=[i] * 12)
            for i in range(5)
        ]
        from flycatcher_spark.operators.webp import (
            encode_webp_animation,
            parse_webp_frames,
        )

        buf = encode_webp_animation(2, 2, frames)
        m = parse_webp_frames(buf, every_n=2)
        assert [f["frame_idx"] for f in m["frames"]] == [0, 2, 4]
        assert m["n_frames"] == 5
        # frames PAST the last sampled index never entropy-decode:
        # corrupt the LAST frame's VP8L body of a 4-frame file and
        # sample every 3 — only frames 0..3? no: last sampled = 3,
        # so corrupt a 5th frame instead
        buf2 = encode_webp_animation(2, 2, frames)
        i = buf2.rindex(b"VP8L")
        mut = bytearray(buf2)
        mut[i + 10] ^= 0xFF  # corrupt frame 4's bitstream
        m2 = parse_webp_frames(bytes(mut), every_n=3)
        assert m2 is not None  # frame 4 beyond last sampled idx 3
        assert [f["frame_idx"] for f in m2["frames"]] == [0, 3]

    def test_still_image_is_one_frame(self):
        from flycatcher_spark.operators.webp import parse_webp_frames

        st = parse_webp_frames(encode_webp([7, 8, 9] * 4, 2, 2, 3))
        assert st["n_frames"] == 1
        assert list(st["frames"][0]["pixels"][:4]) == [7, 8, 9, 255]

    def test_odd_offset_rejected_by_writer(self):
        from flycatcher_spark.operators.webp import encode_webp_animation

        with pytest.raises(ValueError):
            encode_webp_animation(
                4, 4,
                [dict(x=1, y=0, width=2, height=2, channels=3,
                      pixels=[0] * 12)],
            )

    def test_lossy_frame_is_honest_none(self):
        from flycatcher_spark.operators.webp import (
            encode_webp_animation,
            parse_webp_frames,
        )

        buf = encode_webp_animation(
            2, 2,
            [dict(x=0, y=0, width=2, height=2, channels=3,
                  pixels=[0] * 12)],
        )
        mut = buf.replace(b"VP8L", b"VP8 ", 1)
        assert parse_webp_frames(mut) is None

    def test_truncation_never_crashes(self):
        from flycatcher_spark.operators.webp import (
            encode_webp_animation,
            parse_webp_frames,
        )

        full = encode_webp_animation(
            4, 4,
            [
                dict(x=0, y=0, width=4, height=4, channels=3,
                     pixels=list(range(48))),
                dict(x=2, y=2, width=2, height=2, channels=4,
                     pixels=[1, 2, 3, 200] * 4),
            ],
        )
        for k in range(0, len(full) - 1, 3):
            parse_webp_frames(full[:k])  # None or partial, never raise


class TestMediaFramesWebpArm:
    def test_mixed_corpus_dispatch(self, spark):
        # one corpus mixing animated WebP (even ids) and animated GIF
        # (odd ids) through the SAME media_frames stage
        from pyspark.sql import functions as F

        docs = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
        webp_rows = multimodal.media_frames(
            multimodal.make_webp_anim_payload(
                docs.where(F.col("doc_id") % 2 == 0)
            )
        )
        gif_rows = multimodal.media_frames(
            multimodal.make_gif_payload(docs.where(F.col("doc_id") % 2 == 1))
        )
        mixed = multimodal.media_frames(
            multimodal.make_webp_anim_payload(
                docs.where(F.col("doc_id") % 2 == 0)
            ).unionByName(
                multimodal.make_gif_payload(
                    docs.where(F.col("doc_id") % 2 == 1)
                )
            )
        )
        a = sorted(map(tuple, webp_rows.collect() + gif_rows.collect()))
        b = sorted(map(tuple, mixed.collect()))
        assert a == b
        fmts = {r.fmt for r in mixed.collect()}
        assert fmts == {"webp", "gif"}

    def test_webp_arm_closed_form(self, spark):
        docs = spark.createDataFrame([(i,) for i in range(12)], "doc_id long")
        rows = multimodal.media_frames(
            multimodal.make_webp_anim_payload(docs)
        ).collect()
        for r in rows:
            i = r.doc_id
            w, h = 4 + i % 13, 3 + i % 7
            nf = 2 + i % 2
            assert (r.fmt, r.width, r.height, r.n_frames_total) == (
                "webp", w, h, nf,
            )
            k = np.arange(w * h * 3)
            canvas = ((i * 7 + k * 13) % 256).reshape(h, w, 3)
            if r.frame_idx >= 1:
                canvas[2, 2:] = (
                    (i * 5 + np.arange((w - 2) * 3) * 11) % 256
                ).reshape(w - 2, 3)
            if r.frame_idx >= 2:
                canvas[0] = ((i * 3 + np.arange(w * 3) * 17) % 256).reshape(
                    w, 3
                )
            want = (canvas.sum() + 255 * w * h) / (4 * w * h)
            assert r.mean_pixel == pytest.approx(want, abs=1e-9)


class TestSniffSubclassing:
    def test_webp_flavors(self):
        from flycatcher_spark.operators.multimodal import sniff_format
        from flycatcher_spark.operators.webp import encode_webp_animation

        assert sniff_format(encode_webp([1, 2, 3] * 4, 2, 2, 3)) == (
            "webp_lossless"
        )
        anim = encode_webp_animation(
            2, 2,
            [dict(x=0, y=0, width=2, height=2, channels=3,
                  pixels=[0] * 12)],
        )
        assert sniff_format(anim) == "webp_animated"
        assert sniff_format(
            b"RIFF\x14\x00\x00\x00WEBPVP8 \x04\x00\x00\x00abcd"
        ) == "webp_lossy"
        # animated-but-lossy-frames: counted as undecodable here
        assert sniff_format(anim.replace(b"VP8L", b"VP8 ")) == "webp_other"
        assert sniff_format(b"RIFF\x04\x00\x00\x00WEBP") == "webp_other"


class TestPropertyRoundTrip:
    """Hypothesis: ANY in-range raster round-trips byte-exactly, and
    ANY single-byte mutation of a valid file never raises."""

    def test_random_rasters_roundtrip(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        @settings(max_examples=60, deadline=None)
        @given(
            w=st.integers(1, 24),
            h=st.integers(1, 16),
            ch=st.sampled_from([3, 4]),
            sg=st.booleans(),
            data=st.data(),
        )
        def check(w, h, ch, sg, data):
            px = data.draw(
                st.lists(
                    st.integers(0, 255),
                    min_size=w * h * ch,
                    max_size=w * h * ch,
                )
            )
            m = parse_webp(encode_webp(px, w, h, ch, subtract_green=sg))
            assert m is not None
            assert (m["width"], m["height"], m["n_channels"]) == (w, h, ch)
            assert list(m["pixels"]) == px

        check()

    def test_mutations_never_raise(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        base = encode_webp((np.arange(240) * 7) % 256, 10, 8, 3)

        @settings(max_examples=120, deadline=None)
        @given(
            pos=st.integers(0, len(base) - 1),
            val=st.integers(0, 255),
        )
        def check(pos, val):
            mut = bytearray(base)
            mut[pos] = val
            parse_webp(bytes(mut))  # any outcome but an exception

        check()
