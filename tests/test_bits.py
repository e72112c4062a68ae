"""operators/_bits — the codecs' shared bit reader/writer, canonical
prefix codes and LZW pair — plus md5 pins of one small output per
encoder, so a change to the bit layout that both sides of a round
trip share still shows."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from flycatcher_spark.operators import flac, gif, jpeg, tiff, webp
from flycatcher_spark.operators._bits import (
    BitReader,
    BitWriter,
    canonical_codes,
    lzw_decode,
    lzw_encode,
    prefix_lut,
)

FIELDS = st.lists(
    st.tuples(st.integers(0, 64), st.integers(0, 2**64 - 1)), max_size=40
)


class TestBitIO:
    @settings(max_examples=150, deadline=None)
    @given(order=st.sampled_from(["msb", "lsb"]), fields=FIELDS)
    def test_fields_roundtrip(self, order, fields):
        bw = BitWriter(order)
        for width, value in fields:
            bw.write(value, width)
        br = BitReader(bw.bytes(), order)
        for width, value in fields:
            assert br.read(width) == value & ((1 << width) - 1)
        assert br.nbits - br.pos < 8  # only the zero padding is left

    @settings(max_examples=40, deadline=None)
    @given(
        order=st.sampled_from(["msb", "lsb"]),
        runs=st.lists(st.integers(0, 400), min_size=1, max_size=8),
    )
    def test_unary_runs_wider_than_a_lane(self, order, runs):
        # a run of q zeros then a 1, written as one (q + 1)-bit field
        bw = BitWriter(order)
        for q in runs:
            if order == "msb":
                bw.write(1, q + 1)
            else:
                bw.write(1 << q, q + 1)
        br = BitReader(bw.bytes(), order)
        for q in runs:
            assert [br.read(1) for _ in range(q + 1)] == [0] * q + [1]

    def test_peek_pads_with_zeros_and_read_raises(self):
        br = BitReader(b"\xa5", "msb")
        br.skip(4)
        assert br.peek(8) == 0x50
        with pytest.raises(ValueError):
            br.read(5)


class TestCanonicalCodes:
    def test_rfc1951_worked_example(self):
        codes = canonical_codes(enumerate([3, 3, 3, 3, 3, 2, 4, 4]))
        assert [codes[s] for s in range(8)] == [
            (0b010, 3), (0b011, 3), (0b100, 3), (0b101, 3), (0b110, 3),
            (0b00, 2), (0b1110, 4), (0b1111, 4),
        ]

    def test_dht_table_order_is_kept(self):
        # a JPEG DHT lists symbols in table order, not ascending: codes
        # follow the listed order within each length
        codes = canonical_codes([(0x11, 2), (0x03, 2), (0x00, 3), (0xF0, 3)])
        assert codes == {
            0x11: (0b00, 2), 0x03: (0b01, 2),
            0x00: (0b100, 3), 0xF0: (0b101, 3),
        }
        sym_t, len_t = prefix_lut(codes, 4, "msb")
        assert sym_t[0b0111] == 0x03 and len_t[0b0111] == 2
        assert len_t[0b1100] == 0  # incomplete code: unused prefix

    def test_lsb_lut_is_indexed_by_reversed_codes(self):
        codes = canonical_codes(enumerate([1, 2, 2]))  # 0, 10, 11
        sym_t, len_t = prefix_lut(codes, 2, "lsb")
        assert sym_t == [0, 1, 0, 2] and len_t == [1, 2, 1, 2]

    def test_oversubscribed_raises_before_any_table(self):
        with pytest.raises(ValueError):
            canonical_codes([(s, 1) for s in range(3)])


class TestLzw:
    VARIANTS = {
        "gif": dict(order="lsb", early_change=False, clear_at=4096),
        "tiff": dict(order="msb", early_change=True, clear_at=4094),
    }

    @settings(max_examples=60, deadline=None)
    @given(
        variant=st.sampled_from(["gif", "tiff"]),
        mcs=st.integers(2, 8),
        data=st.lists(st.integers(0, 255), max_size=3000),
        repeat=st.integers(1, 6),
    )
    def test_roundtrip(self, variant, mcs, data, repeat):
        v = self.VARIANTS[variant]
        if variant == "tiff":
            mcs = 8
        raw = bytes(d % (1 << mcs) for d in data) * repeat
        enc = lzw_encode(raw, mcs, v["order"], v["early_change"],
                         v["clear_at"])
        n_out = len(raw) if variant == "gif" else None
        assert lzw_decode(enc, mcs, v["order"], v["early_change"],
                          n_out) == raw


def _md5(buf: bytes) -> str:
    return hashlib.md5(buf).hexdigest()


def _blocks(n: int, seed: int) -> list[list[int]]:
    out = []
    for b in range(n):
        c = [0] * 64
        c[0] = (b * 37 + seed) % 201 - 100
        for k in (1, 2, 5, 9, 20, 63):
            if (b + k + seed) % 3 == 0:
                c[k] = (b * k + seed) % 31 - 15
        out.append(c)
    return out


def _jpeg_args():
    comp = [_blocks(12, 1), _blocks(6, 2), _blocks(6, 3)]
    return (24, 19, comp), dict(sampling=[(2, 1), (1, 1), (1, 1)],
                                restart_interval=2)


def _signal() -> list[int]:
    return [int(v) for v in (np.sin(np.arange(64) * 0.2) * 3000).astype(int)]


def _stereo_with_large_residual() -> list[int]:
    sig = _signal()
    st_ = [v for pair in zip(sig, sig[::-1]) for v in pair]
    st_[40] = 30000  # a unary run far wider than 63 bits at rice 0
    return st_


_PAL8 = [((j * 37) % 256, (j * 59) % 256, (j * 83) % 256) for j in range(8)]

PINNED = {
    "jpeg": (
        lambda: jpeg.encode_jpeg(*_jpeg_args()[0], **_jpeg_args()[1]),
        "1b40f1b251b3ded3b003528057860b25",
    ),
    "jpeg_progressive": (
        lambda: jpeg.encode_jpeg_progressive(
            *_jpeg_args()[0], **_jpeg_args()[1]
        ),
        "6d202383dedb800054d418098478412f",
    ),
    "flac_constant": (
        lambda: flac.encode_flac(_signal(), subframe="constant"),
        "4f14579b3d51006bdc04cbe779c6cd05",
    ),
    "flac_verbatim": (
        lambda: flac.encode_flac(_signal(), subframe="verbatim"),
        "2b1f98e0c39a7ea39bd0cf8129fa8439",
    ),
    "flac_fixed2": (
        lambda: flac.encode_flac(_signal(), subframe="fixed2"),
        "6d69496232e1f9fba4cc0ff8fd8646e4",
    ),
    "flac_lpc8": (
        lambda: flac.encode_flac(_signal(), subframe="lpc8"),
        "a48b1b5a2022f50c9eaa4285216f4458",
    ),
    "flac_mid_side_rice0": (
        lambda: flac.encode_flac(
            _stereo_with_large_residual(), n_channels=2, subframe="fixed2",
            channel_mode="mid_side", rice_param=0,
        ),
        "21730be27b417d707f2366b6bd2e4b0e",
    ),
    "gif_interlaced_animated": (
        lambda: gif.encode_gif(
            11, 9, [(k * 5 + k // 7) % 8 for k in range(99)], _PAL8,
            interlaced=True, animated_copies=2,
        ),
        "fb61538d2893d58632a38ed50d8b262b",
    ),
    "gif_animation": (
        lambda: gif.encode_gif_animation(6, 4, [
            dict(width=6, height=4, indices=[(k * 3) % 8 for k in range(24)]),
            dict(left=1, top=1, width=3, height=2,
                 indices=[1, 2, 3, 4, 5, 6], disposal=2,
                 transparent_index=3, delay_cs=7),
        ], _PAL8),
        "60bd24b5f95e2ecdcc9d44aa5e23e3be",
    ),
    "tiff_lzw_table_resets": (
        lambda: tiff.encode_tiff(
            100, 80,
            np.random.default_rng(3).integers(0, 256, size=8000).tolist(),
            photometric="gray", compression="lzw",
        ),
        "10c4e685e345ca900a351af60155ddc1",
    ),
    "webp_subtract_green": (
        lambda: webp.encode_webp(
            (np.arange(252) * 13 + np.arange(252) // 5) % 256, 9, 7, 4,
            subtract_green=True,
        ),
        "13f67d22814f189144e48613f40cc5eb",
    ),
    "webp_animation": (
        lambda: webp.encode_webp_animation(4, 4, [
            dict(x=0, y=0, width=4, height=4,
                 pixels=[(i * 7) % 256 for i in range(48)], channels=3),
            dict(x=2, y=2, width=2, height=2, pixels=[9, 8, 7, 6] * 4,
                 channels=4, duration_ms=40),
        ]),
        "07bcae93117bf4a311d09d2a7aab4b11",
    ),
}


@pytest.mark.parametrize("name", sorted(PINNED))
def test_encoder_bytes_pinned(name):
    build, want = PINNED[name]
    assert _md5(build()) == want
