"""operators/tiff — stdlib-only baseline TIFF decode (IFD walk,
PackBits, early-change MSB-first LZW, predictor, palettes) and the
real fixture writer."""

from __future__ import annotations

import numpy as np
import pytest

from flycatcher_spark.operators import _bits, multimodal
from flycatcher_spark.operators.tiff import (
    _packbits_decode,
    _packbits_encode,
    encode_tiff,
    parse_tiff,
)

RNG = np.random.default_rng(41)


def _lzw_encode_tiff(data):
    """TIFF variant of the shared LZW encoder."""
    return _bits.lzw_encode(data, 8, "msb", True, 4094)


def _lzw_decode_tiff(data):
    """TIFF variant of the shared LZW decoder."""
    return _bits.lzw_decode(data, 8, "msb", True)

PAL8 = [((j * 37) % 256, (j * 59) % 256, (j * 83) % 256)
        for j in range(8)]


class TestPackBits:
    def test_spec_example_round_trip(self):
        # the TIFF 6.0 spec's worked example data
        data = (b"\xaa\xaa\xaa\x80\x00\x2a\xaa\xaa\xaa\xaa\x80\x00"
                b"\x2a\x22\xaa\xaa\xaa\xaa\xaa\xaa\xaa\xaa\xaa\xaa")
        assert _packbits_decode(_packbits_encode(data)) == data

    def test_spec_encoded_form_decodes(self):
        # the spec's canonical encoding of the example above
        enc = (b"\xfe\xaa\x02\x80\x00\x2a\xfd\xaa\x03\x80\x00\x2a"
               b"\x22\xf7\xaa")
        want = (b"\xaa\xaa\xaa\x80\x00\x2a\xaa\xaa\xaa\xaa\x80\x00"
                b"\x2a\x22\xaa\xaa\xaa\xaa\xaa\xaa\xaa\xaa\xaa\xaa")
        assert _packbits_decode(enc) == want

    def test_long_runs_and_literals(self):
        for data in (b"\x00" * 1000, bytes(range(256)) * 3,
                     b"ab" * 200 + b"c" * 400):
            assert _packbits_decode(_packbits_encode(data)) == data

    def test_noop_128_skipped(self):
        assert _packbits_decode(b"\x80\x00x") == b"x"

    def test_truncated_raises(self):
        with pytest.raises(ValueError):
            _packbits_decode(b"\x05ab")
        with pytest.raises(ValueError):
            _packbits_decode(b"\xfe")


class TestTiffLzw:
    def test_round_trips_across_sizes(self):
        for n in (1, 37, 511, 5000, 60000):
            data = bytes(RNG.integers(0, 256, size=n, dtype=np.uint8))
            assert _lzw_decode_tiff(_lzw_encode_tiff(data)) == data, n

    def test_repetitive_data_table_resets(self):
        data = b"\x00" * 30000 + b"\x01\x00" * 5000 + b"\x07" * 9000
        assert _lzw_decode_tiff(_lzw_encode_tiff(data)) == data

    def test_msb_first_packing_known_stream(self):
        # 'A': Clear(256) 'A'(65) EOI(257), all width 9, MSB-first
        bits = "".join(f"{b:08b}" for b in _lzw_encode_tiff(b"A"))
        assert bits.startswith("100000000" "001000001" "100000001")

    def test_early_change_boundary(self):
        # 253 distinct pairs push the table exactly across the
        # 511-entry early-change point; GIF-rule codecs misalign here
        data = bytes(
            v for i in range(260) for v in (i % 256, (i * 7) % 256)
        )
        assert _lzw_decode_tiff(_lzw_encode_tiff(data)) == data

    def test_bad_code_raises(self):
        with pytest.raises(ValueError):
            # width-9 code 300 with an empty table slot
            _lzw_decode_tiff(bytes([0b10010110, 0, 0]))


class TestRoundTrip:
    W, H = 9, 5
    GRAY = [(i * 13) % 256 for i in range(45)]
    RGB = [(i * 7) % 256 for i in range(135)]
    IDX = [(i * 3) % 8 for i in range(45)]

    @pytest.mark.parametrize("bo", ["<", ">"])
    @pytest.mark.parametrize("comp", ["none", "packbits", "lzw"])
    @pytest.mark.parametrize("pred", [False, True])
    @pytest.mark.parametrize("rps", [None, 2])
    def test_matrix(self, bo, comp, pred, rps):
        m = parse_tiff(
            encode_tiff(self.W, self.H, self.RGB, "rgb",
                        compression=comp, predictor=pred,
                        rows_per_strip=rps, byte_order=bo)
        )
        assert (m["width"], m["height"], m["n_channels"]) == (9, 5, 3)
        assert list(m["pixels"]) == self.RGB
        g = parse_tiff(
            encode_tiff(self.W, self.H, self.GRAY, "gray",
                        compression=comp, predictor=pred,
                        rows_per_strip=rps, byte_order=bo)
        )
        assert g["n_channels"] == 1 and list(g["pixels"]) == self.GRAY

    def test_white_is_zero_inverts(self):
        m = parse_tiff(encode_tiff(self.W, self.H, self.GRAY, "gray0"))
        assert list(m["pixels"]) == self.GRAY  # writer pre-inverts

    def test_palette_expands_through_colormap(self):
        m = parse_tiff(
            encode_tiff(self.W, self.H, self.IDX, "palette",
                        palette=PAL8, compression="lzw")
        )
        assert m["n_channels"] == 3
        assert list(m["pixels"]) == [
            v for i in self.IDX for v in PAL8[i]
        ]

    def test_rejections(self):
        assert parse_tiff(None) is None
        assert parse_tiff(b"") is None
        assert parse_tiff(b"II+\x00 bigtiff") is None
        assert parse_tiff(b"GIF89a") is None
        body = encode_tiff(2, 2, [1, 2, 3, 4], "gray")
        # 16-bit samples out of subset
        assert parse_tiff(body.replace(
            b"\x08\x00\x00\x00", b"\x10\x00\x00\x00", 1)) is None
        assert parse_tiff(body[:20]) is None


class TestSparkIntegration:
    def test_fixture_closed_form(self, spark):
        docs = spark.createDataFrame(
            [(i,) for i in range(20)], "doc_id long"
        )
        meta = multimodal.decode_image_meta(
            multimodal.make_tiff_payload(docs)
        ).collect()
        assert len(meta) == 20
        for r in meta:
            i = r.doc_id
            w, h = 4 + i % 13, 3 + i % 7
            assert r.fmt == "tiff"
            assert (r.width, r.height) == (w, h)
            if i % 3 == 0:
                want = sum(
                    (i * 13 + k * 7) % 256 for k in range(w * h)
                ) / (w * h)
                assert r.n_channels == 1
            elif i % 3 == 1:
                want = sum(
                    (i * 7 + k * 13) % 256 for k in range(3 * w * h)
                ) / (3 * w * h)
                assert r.n_channels == 3
            else:
                want = sum(
                    sum(PAL8[(i * 5 + k * 11) % 8])
                    for k in range(w * h)
                ) / (3 * w * h)
                assert r.n_channels == 3
            assert r.mean_pixel == pytest.approx(want, abs=1e-9)

    def test_mixed_corpus_dispatch(self, spark):
        docs = spark.createDataFrame([(i,) for i in range(4)], "doc_id long")
        tif = multimodal.make_tiff_payload(docs.where("doc_id < 2"))
        gif = multimodal.make_gif_payload(docs.where("doc_id >= 2"))
        out = {
            r.doc_id: r.fmt
            for r in multimodal.decode_image_meta(
                tif.unionByName(gif)
            ).collect()
        }
        assert out[0] == "tiff" and out[3] == "gif"

    def test_sniffer_labels_tiff_both_orders(self, spark):
        from flycatcher_spark.operators.tiff import encode_tiff as enc

        assert multimodal.sniff_format(
            enc(2, 1, [1, 2], "gray", byte_order="<")) == "tiff"
        assert multimodal.sniff_format(
            enc(2, 1, [1, 2], "gray", byte_order=">")) == "tiff"
