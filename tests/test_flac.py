"""operators/flac — stdlib-only FLAC decode (RFC 9639 subset) and the
spec-conformant fixture encoder."""

from __future__ import annotations

import numpy as np
import pytest

from flycatcher_spark.operators import audio, multimodal
from flycatcher_spark.operators._bits import BitWriter
from flycatcher_spark.operators.flac import (
    crc8,
    crc16,
    encode_flac,
    parse_flac,
)

RNG = np.random.default_rng(11)


def _roundtrip(samples, **kw):
    meta = parse_flac(encode_flac(samples, **kw))
    assert meta is not None
    assert list(meta["samples"]) == [int(s) for s in samples]
    return meta


class TestRoundTrip:
    def test_every_subframe_type(self):
        s = list(RNG.integers(-3000, 3000, size=300))
        for mode in ["verbatim", "fixed0", "fixed1", "fixed2", "fixed3", "fixed4"]:
            _roundtrip(s, subframe=mode)
        _roundtrip([42] * 100, subframe="constant")

    def test_every_stereo_mode(self):
        st = list(RNG.integers(-2000, 2000, size=400))
        for cm in ["independent", "left_side", "right_side", "mid_side"]:
            m = _roundtrip(st, n_channels=2, channel_mode=cm, subframe="fixed1")
            assert m["n_channels"] == 2 and m["n_frames"] == 200

    def test_8bit_and_large_blocks(self):
        _roundtrip(list(RNG.integers(-100, 100, size=50)), bps=8,
                   subframe="fixed2")
        _roundtrip(list(RNG.integers(-3000, 3000, size=1000)),
                   subframe="fixed3")

    def test_metadata_fields(self):
        m = _roundtrip(list(range(-50, 50)), sample_rate=44100)
        assert (m["sample_rate"], m["n_channels"], m["bits_per_sample"]) == (
            44100, 1, 16,
        )

    def test_fixed_beats_verbatim_on_smooth_signals(self):
        # the point of fixed prediction: a ramp compresses
        ramp = list(range(2000))
        assert len(encode_flac(ramp, subframe="fixed2", rice_param=1)) < (
            len(encode_flac(ramp, subframe="verbatim")) / 4
        )


class TestCorruption:
    def test_flipped_bit_fails_crc16(self):
        b = bytearray(encode_flac(list(RNG.integers(-999, 999, size=200))))
        b[-10] ^= 0x40
        assert parse_flac(bytes(b)) is None

    def test_flipped_header_bit_fails_crc8(self):
        b = bytearray(encode_flac(list(range(100))))
        # frame starts right after 4 (magic) + 4 + 34 (streaminfo)
        b[4 + 4 + 34 + 2] ^= 0x01
        assert parse_flac(bytes(b)) is None

    def test_truncation_and_garbage(self):
        b = encode_flac(list(range(100)))
        assert parse_flac(b[: len(b) // 2]) is None
        assert parse_flac(b"RIFF" + b"\x00" * 60) is None
        assert parse_flac(None) is None

    def test_reserved_sample_size_code_rejected(self):
        # rewrite the frame-header sample-size bits to the reserved
        # 0b011: the decoder must return None rather than guess the
        # STREAMINFO bit depth
        b = bytearray(encode_flac(list(range(50))))
        hdr = 4 + 4 + 34
        b[hdr + 3] = (b[hdr + 3] & 0xF0) | (3 << 1)
        b[hdr + 6] = crc8(bytes(b[hdr : hdr + 6]))
        b[-2:] = crc16(bytes(b[hdr:-2])).to_bytes(2, "big")
        assert parse_flac(bytes(b)) is None


def _frame_bytes(bits_fn, n, bps=16, sr=8000):
    """Build a full single-frame FLAC stream whose subframe bits come
    from ``bits_fn(writer)`` — for decode paths the fixture encoder
    does not emit."""
    bw = BitWriter("msb")
    bw.write(0b11111111111110, 14); bw.write(0, 1); bw.write(0, 1)
    bw.write(6, 4); bw.write(0, 4); bw.write(0, 4)
    bw.write(4, 3); bw.write(0, 1); bw.write(0, 8); bw.write(n - 1, 8)
    hdr = bw.bytes()
    hdr += bytes([crc8(hdr)])
    body = BitWriter("msb")
    bits_fn(body)
    frame = hdr + body.bytes()
    frame += crc16(frame).to_bytes(2, "big")
    si = BitWriter("msb")
    si.write(n, 16); si.write(n, 16); si.write(0, 24); si.write(0, 24)
    si.write(sr, 20); si.write(0, 3); si.write(bps - 1, 5); si.write(n, 36)
    meta = si.bytes() + bytes(16)
    return b"fLaC" + bytes([0x80]) + len(meta).to_bytes(3, "big") + meta + frame


class TestHandBuiltStreams:
    def test_rice_escape_partition(self):
        # fixed0 subframe whose single partition uses the 0b1111
        # escape: residuals stored as raw 7-bit signed values
        vals = [-60, 5, 0, 63, -64, 17, 2, -9]

        def bits(bw):
            bw.write(0, 1); bw.write(8, 6); bw.write(0, 1)  # fixed0
            bw.write(0, 2); bw.write(0, 4)                   # method/order
            bw.write(0b1111, 4); bw.write(7, 5)              # escape, 7 bits
            for v in vals:
                bw.write(v, 7)

        m = parse_flac(_frame_bytes(bits, len(vals)))
        assert list(m["samples"]) == vals

    def test_wasted_bits_shift(self):
        # verbatim with 2 wasted bits: stored at bps-2, shifted back
        vals = [4, -8, 12, 0]

        def bits(bw):
            bw.write(0, 1); bw.write(1, 6); bw.write(1, 1)  # wasted flag
            bw.write(1, 2)                  # unary 1: wasted = 2
            for v in vals:
                bw.write(v >> 2, 14)

        m = parse_flac(_frame_bytes(bits, len(vals)))
        assert list(m["samples"]) == vals

    def test_multi_partition_residuals(self):
        # fixed1, partition order 2 over 16 samples: partitions of
        # 4/4/4/4 (first minus the warmup), different rice params
        samples = list(np.cumsum(RNG.integers(-5, 6, size=16)))

        def bits(bw):
            bw.write(0, 1); bw.write(9, 6); bw.write(0, 1)  # fixed1
            bw.write(int(samples[0]), 16)                    # warmup
            bw.write(0, 2); bw.write(2, 4)                   # 4 partitions
            res = [int(samples[i] - samples[i - 1]) for i in range(1, 16)]
            chunks = [res[:3], res[3:7], res[7:11], res[11:]]
            for param, chunk in zip([2, 3, 1, 4], chunks):
                bw.write(param, 4)
                for r in chunk:
                    u = (r << 1) if r >= 0 else ((-r) << 1) - 1
                    bw.write(1, (u >> param) + 1)  # unary
                    bw.write(u & ((1 << param) - 1), param)

        m = parse_flac(_frame_bytes(bits, 16))
        assert list(m["samples"]) == [int(s) for s in samples]


class TestLPC:
    """LPC subframes (RFC 9639 §9.2.4, r8): quantized coefficients +
    arithmetic right shift, integer-exact round-trips through the
    fixture encoder's real bit layout, CRC-verified by parse_flac."""

    def test_fixture_orders_roundtrip(self):
        s = list(RNG.integers(-3000, 3000, size=300))
        for mode in ["lpc1", "lpc2", "lpc3", "lpc4", "lpc8"]:
            _roundtrip(s, subframe=mode)

    def test_explicit_coeffs_and_zero_shift(self):
        s = list(RNG.integers(-2000, 2000, size=128))
        _roundtrip(s, subframe="lpc5", lpc_coeffs=[3, -2, 1, -1, 1],
                   lpc_shift=0)

    def test_order_32_max(self):
        s = list(RNG.integers(-1000, 1000, size=200))
        _roundtrip(s, subframe="lpc32", lpc_coeffs=[1] * 32, lpc_shift=5)

    def test_stereo_decorrelation_with_lpc(self):
        st = list(RNG.integers(-2000, 2000, size=400))
        for cm in ["left_side", "right_side", "mid_side"]:
            m = _roundtrip(st, n_channels=2, channel_mode=cm,
                           subframe="lpc2")
            assert m["n_channels"] == 2

    def test_lpc_compresses_smooth_signal(self):
        # the point of LPC: a tuned fractional predictor (63/64 ~
        # matches the 0.9^(1/10) decay) leaves tiny residuals where
        # verbatim stores every sample whole
        sig = [int(1500 * (0.9 ** (i / 10))) for i in range(1000)]
        lpc = encode_flac(sig, subframe="lpc1", lpc_coeffs=[63],
                          lpc_shift=6, rice_param=3)
        assert len(lpc) < len(encode_flac(sig, subframe="verbatim")) / 2

    def test_corrupt_coefficient_fails_crc(self):
        b = bytearray(encode_flac(list(RNG.integers(-999, 999, size=200)),
                                  subframe="lpc2"))
        b[60] ^= 0x40
        assert parse_flac(bytes(b)) is None

    def test_invalid_precision_code_rejected(self):
        # hand-built LPC order-1 subframe with the invalid 0b1111
        # coefficient-precision code
        def bits(bw):
            bw.write(0, 1); bw.write(32, 6); bw.write(0, 1)  # lpc order 1
            bw.write(10, 16)                                  # warmup
            bw.write(0b1111, 4)                               # invalid
            bw.write(0, 5)
            bw.write(1, 15)
            bw.write(0, 2); bw.write(0, 4); bw.write(2, 4)
            for _ in range(3):
                bw.write(1, 1); bw.write(0, 2)

        assert parse_flac(_frame_bytes(bits, 4)) is None

    def test_negative_shift_rejected(self):
        def bits(bw):
            bw.write(0, 1); bw.write(32, 6); bw.write(0, 1)
            bw.write(10, 16)
            bw.write(3, 4)                                    # precision 4
            bw.write(0b11111, 5)                              # shift -1
            bw.write(1, 4)
            bw.write(0, 2); bw.write(0, 4); bw.write(2, 4)
            for _ in range(3):
                bw.write(1, 1); bw.write(0, 2)

        assert parse_flac(_frame_bytes(bits, 4)) is None

    def test_handbuilt_known_prediction(self):
        # order-2, coeffs [5, 2], shift 2: s[i] = r[i] +
        # ((5*s[i-1] + 2*s[i-2]) >> 2) — state the expected samples
        # outright from the residuals
        warm = [100, -40]
        residuals = [7, -3, 0, 12]
        expect = list(warm)
        for r in residuals:
            expect.append(r + ((5 * expect[-1] + 2 * expect[-2]) >> 2))

        def bits(bw):
            bw.write(0, 1); bw.write(33, 6); bw.write(0, 1)  # lpc order 2
            for w in warm:
                bw.write(w, 16)
            bw.write(3, 4)                                    # precision 4
            bw.write(2, 5)                                    # shift 2
            bw.write(5, 4); bw.write(2, 4)
            bw.write(0, 2); bw.write(0, 4); bw.write(5, 4)
            for r in residuals:
                u = (r << 1) if r >= 0 else ((-r) << 1) - 1
                bw.write(1, (u >> 5) + 1); bw.write(u & 31, 5)

        m = parse_flac(_frame_bytes(bits, 6))
        assert list(m["samples"]) == expect


class TestSparkIntegration:
    def test_mixed_audio_corpus(self, spark):
        # one corpus mixing WAV, FLAC and garbage rows through the
        # same decode stage
        docs = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
        wav = multimodal.make_wav_payload(docs.where("doc_id % 2 = 0"))
        flc = multimodal.make_flac_payload(docs.where("doc_id % 2 = 1"))
        import pyspark.sql.functions as F

        bad = spark.createDataFrame(
            [(99, bytearray(b"garbage"))], "doc_id long, payload binary"
        )
        corpus = wav.unionByName(flc).unionByName(bad)
        out = {
            r.doc_id: r.fmt
            for r in multimodal.decode_audio_meta(corpus).collect()
        }
        assert out == {0: "wav", 2: "wav", 4: "wav",
                       1: "flac", 3: "flac", 5: "flac", 99: None}

    def test_flac_rms_equals_wav_rms(self, spark):
        # lossless: identical PCM -> identical statistics
        docs = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
        w = multimodal.decode_wav_meta(multimodal.make_wav_payload(docs))
        f = multimodal.decode_audio_meta(multimodal.make_flac_payload(docs))
        wr = {r.doc_id: r.rms for r in w.collect()}
        fr = {r.doc_id: r.rms for r in f.collect()}
        assert wr == fr

    def test_stft_accepts_flac(self, spark):
        # square-wave PCM compressed as FLAC flows through the STFT
        docs = spark.createDataFrame([(3,)], "doc_id long")
        pos = np.arange(256)
        s = np.where((pos % 16) < 8, 900, -900)
        pdf = spark.createDataFrame(
            [(3, bytearray(encode_flac(list(s), subframe="fixed1")))],
            "doc_id long, payload binary",
        )
        (row,) = audio.stft_frame_features(pdf).collect()
        assert row.dominant_bin == 16 and row.rms == 900.0
