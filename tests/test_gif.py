"""operators/gif — stdlib-only GIF decode (LZW, palettes, interlace)
and the real-compressor fixture encoder."""

from __future__ import annotations

import numpy as np

from flycatcher_spark.operators import _bits, multimodal
from flycatcher_spark.operators.gif import (
    encode_gif,
    parse_gif,
)


def _lzw_encode(indices, mcs):
    """GIF variant of the shared LZW encoder."""
    return _bits.lzw_encode(bytes(indices), mcs, "lsb", False, 4096)


def _lzw_decode(data, mcs, n):
    """GIF variant of the shared LZW decoder, as a list of indices."""
    return list(_bits.lzw_decode(data, mcs, "lsb", False, n))

RNG = np.random.default_rng(31)

PAL4 = [(10, 0, 0), (0, 20, 0), (0, 0, 30), (40, 40, 40)]
PAL256 = [((i * 7) % 256, (i * 13) % 256, (i * 29) % 256)
          for i in range(256)]


def _rgb(indices, pal):
    return np.array([pal[i] for i in indices]).reshape(-1)


class TestLzw:
    def test_round_trips_across_sizes_and_code_widths(self):
        for mcs, n, hi in [(2, 1, 4), (2, 39, 4), (2, 5000, 4),
                           (8, 40000, 256), (4, 9000, 16)]:
            idx = list(RNG.integers(0, hi, size=n))
            assert _lzw_decode(_lzw_encode(idx, mcs), mcs, n) == idx

    def test_repetitive_data_deep_strings(self):
        # long runs drive deep table strings and the KwKwK case
        idx = [0] * 3000 + [1, 0] * 500 + [2] * 1000
        assert _lzw_decode(_lzw_encode(idx, 2), 2, len(idx)) == idx

    def test_table_reset_at_4096(self):
        # 40000 random bytes guarantee the table fills and the
        # encoder emits a mid-stream clear code
        idx = list(RNG.integers(0, 256, size=40000))
        enc = _lzw_encode(idx, 8)
        assert _lzw_decode(enc, 8, len(idx)) == idx

    def test_truncated_stream_raises(self):
        import pytest

        idx = list(RNG.integers(0, 4, size=100))
        enc = _lzw_encode(idx, 2)
        with pytest.raises(ValueError):
            _lzw_decode(enc[: len(enc) // 4], 2, 100)


class TestRoundTrip:
    def test_small_palette(self):
        idx = list(RNG.integers(0, 4, size=7 * 5))
        m = parse_gif(encode_gif(7, 5, idx, PAL4))
        assert (m["fmt"], m["width"], m["height"], m["n_channels"]) == (
            "gif", 7, 5, 3,
        )
        assert np.array_equal(np.array(m["pixels"]), _rgb(idx, PAL4))

    def test_full_256_palette_with_width_growth(self):
        idx = list(RNG.integers(0, 256, size=80 * 60))
        m = parse_gif(encode_gif(80, 60, idx, PAL256))
        assert np.array_equal(np.array(m["pixels"]), _rgb(idx, PAL256))

    def test_interlaced_rows_reordered(self):
        idx = list(RNG.integers(0, 4, size=13 * 11))
        plain = parse_gif(encode_gif(13, 11, idx, PAL4))
        inter = parse_gif(encode_gif(13, 11, idx, PAL4, interlaced=True))
        assert np.array_equal(
            np.array(inter["pixels"]), np.array(plain["pixels"])
        )

    def test_animated_reports_frames_decodes_first(self):
        idx = list(range(4)) * 4
        m = parse_gif(encode_gif(4, 4, idx, PAL4, animated_copies=3))
        assert m["n_frames"] == 3
        assert np.array_equal(np.array(m["pixels"]), _rgb(idx, PAL4))

    def test_rejections(self):
        assert parse_gif(None) is None
        assert parse_gif(b"GIF89a") is None
        assert parse_gif(b"\x89PNG\r\n\x1a\n") is None
        b = encode_gif(7, 5, [0] * 35, PAL4)
        assert parse_gif(b[: len(b) // 2]) is None


class TestSparkIntegration:
    def test_mixed_image_corpus_dispatch(self, spark):
        docs = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
        pnm = multimodal.make_pnm_payload(docs.where("doc_id % 4 = 0"))
        png = multimodal.make_png_payload(docs.where("doc_id % 4 = 1"))
        jpg = multimodal.make_jpeg_payload(docs.where("doc_id % 4 = 2"))
        gif = multimodal.make_gif_payload(docs.where("doc_id % 4 = 3"))
        corpus = pnm.unionByName(png).unionByName(jpg).unionByName(gif)
        out = {
            r.doc_id: r.fmt
            for r in multimodal.decode_image_meta(corpus).collect()
        }
        assert out[3] == "gif" and out[7] == "gif"
        assert out[1] == "png" and out[2] == "jpeg"

    def test_fixture_closed_form(self, spark):
        import pytest

        docs = spark.createDataFrame([(i,) for i in range(12)], "doc_id long")
        meta = multimodal.decode_image_meta(
            multimodal.make_gif_payload(docs)
        ).collect()
        for r in meta:
            i = r.doc_id
            w, h = 4 + i % 13, 3 + i % 7
            assert (r.width, r.height, r.n_channels) == (w, h, 3)
            js = [(i * 5 + k * 11) % 8 for k in range(w * h)]
            mean = sum(
                (j * 37) % 256 + (j * 59) % 256 + (j * 83) % 256 for j in js
            ) / (3 * w * h)
            assert r.mean_pixel == pytest.approx(mean, abs=1e-9)

    def test_sniffer_labels_gif(self, spark):
        docs = spark.createDataFrame([(1,)], "doc_id long")
        row = multimodal.payload_format(
            multimodal.make_gif_payload(docs)
        ).first()
        assert row.payload_fmt == "gif"


# ---------------------------------------------------------------------------
# r9: animated GIF — sampled-frame composition
# ---------------------------------------------------------------------------
from flycatcher_spark.operators.gif import (  # noqa: E402
    encode_gif_animation,
    parse_gif_frames,
)


def _reference_compose(screen_w, screen_h, frames, palette, bg_index=0):
    """Independent compositor: plain nested loops straight off the
    GIF89a disposal rules, composing from the frame DICTS (never the
    bytes) — the decoder must match it through a real encode/decode
    round trip."""
    pal_or_black = (
        list(palette[bg_index]) if bg_index < len(palette) else [0, 0, 0]
    )
    canvas = [
        [list(pal_or_black) for _ in range(screen_w)]
        for _ in range(screen_h)
    ]
    out = []
    for f in frames:
        left, top = f.get("left", 0), f.get("top", 0)
        pal = f.get("palette") or palette
        trans = f.get("transparent_index")
        before = [[list(px) for px in row] for row in canvas]
        for r in range(f["height"]):
            for c in range(f["width"]):
                y, x = top + r, left + c
                if not (0 <= y < screen_h and 0 <= x < screen_w):
                    continue
                j = f["indices"][r * f["width"] + c]
                if trans is not None and j == trans:
                    continue
                canvas[y][x] = list(pal[j])
        out.append(
            [v for row in canvas for px in row for v in px]
        )
        disposal = f.get("disposal", 0)
        if disposal == 2:
            for r in range(f["height"]):
                for c in range(f["width"]):
                    y, x = top + r, left + c
                    if 0 <= y < screen_h and 0 <= x < screen_w:
                        canvas[y][x] = list(pal_or_black)
        elif disposal == 3:
            canvas = before
    return out


class TestAnimation:
    def _frames_fixture(self):
        # every disposal mode, transparency, a local palette, an
        # interlaced frame, an offset frame, and an out-of-bounds
        # frame that must clip
        return [
            dict(width=6, height=8, disposal=1, delay_cs=7,
                 indices=[(k * 3) % 4 for k in range(48)]),
            dict(left=2, top=1, width=3, height=4, disposal=3,
                 indices=[1] * 12, delay_cs=2),
            dict(left=1, top=2, width=4, height=2, disposal=0,
                 transparent_index=2,
                 indices=[(k + 1) % 4 for k in range(8)]),
            dict(left=0, top=0, width=5, height=3, disposal=2,
                 palette=[(200, 1, 2), (3, 200, 4)],
                 indices=[(k % 2) for k in range(15)]),
            dict(left=3, top=5, width=6, height=6,  # clips right+bottom
                 indices=[(k * 5) % 4 for k in range(36)],
                 interlaced=True),
            dict(width=6, height=8,
                 indices=[0] * 48),
        ]

    def test_matches_independent_compositor_every_frame(self):
        pal = PAL4
        frames = self._frames_fixture()
        body = encode_gif_animation(6, 8, frames, pal, bg_index=3)
        got = parse_gif_frames(body, every_n=1)
        want = _reference_compose(6, 8, frames, pal, bg_index=3)
        assert got["n_frames"] == len(frames)
        assert [f["frame_idx"] for f in got["frames"]] == list(
            range(len(frames))
        )
        for k, f in enumerate(got["frames"]):
            assert list(f["pixels"]) == want[k], f"frame {k}"
        assert got["frames"][0]["delay_cs"] == 7
        assert got["frames"][0]["disposal"] == 1

    def test_sampling_composes_through_unsampled_frames(self):
        pal = PAL4
        frames = self._frames_fixture()
        body = encode_gif_animation(6, 8, frames, pal, bg_index=3)
        want = _reference_compose(6, 8, frames, pal, bg_index=3)
        got = parse_gif_frames(body, every_n=3)
        assert [f["frame_idx"] for f in got["frames"]] == [0, 3]
        assert list(got["frames"][1]["pixels"]) == want[3]

    def _manual_gif(self, frame1_disposal):
        # hand-assembled 3-frame GIF whose MIDDLE frame has a broken
        # LZW stream (first code out of table range): only a decoder
        # that genuinely skips it can survive
        pal = PAL4
        out = bytearray(b"GIF89a")
        out += (2).to_bytes(2, "little") + (2).to_bytes(2, "little")
        out += bytes([0x80 | 1, 0, 0])  # GCT of 4, bg 0
        for r, g, b in pal:
            out += bytes([r, g, b])

        def ok_frame(disposal):
            body = bytearray(
                bytes([0x21, 0xF9, 0x04, (disposal & 7) << 2, 0, 0, 0, 0])
            )
            body += b"\x2c" + bytes(8) + bytes([0, 2])
            lzw = _lzw_encode([0, 1, 2, 3], 2)
            body += bytes([len(lzw)]) + lzw + b"\x00"
            # descriptor says 2x2 at (0,0); rewrite w/h little-endian
            body[13:17] = (2).to_bytes(2, "little") + (2).to_bytes(
                2, "little"
            )
            return bytes(body)

        out += ok_frame(1)
        # broken middle frame: width-3 first code 7 > table size 6
        out += bytes([0x21, 0xF9, 0x04, (frame1_disposal & 7) << 2,
                      0, 0, 0, 0])
        out += b"\x2c" + bytes(4)
        out += (2).to_bytes(2, "little") + (2).to_bytes(2, "little")
        out += bytes([0, 2, 1, 0xFF, 0])
        out += ok_frame(0)
        out += b"\x3b"
        return bytes(out)

    def test_unsampled_restore_previous_frame_is_never_decoded(self):
        body = self._manual_gif(frame1_disposal=3)
        got = parse_gif_frames(body, every_n=2)
        assert got is not None and got["n_frames"] == 3
        assert [f["frame_idx"] for f in got["frames"]] == [0, 2]

    def test_unsampled_keep_frame_must_decode_so_corruption_fails(self):
        assert parse_gif_frames(
            self._manual_gif(frame1_disposal=1), every_n=2
        ) is None

    def test_frames_past_last_sampled_are_never_decoded(self):
        # corrupt LAST frame, sampled window stops before it
        pal = PAL4
        frames = self._frames_fixture()[:3]
        body = bytearray(
            encode_gif_animation(6, 8, frames, pal, bg_index=3)
        )
        assert body[-1] == 0x3B
        broken = (
            b"\x2c" + bytes(4)
            + (2).to_bytes(2, "little") + (2).to_bytes(2, "little")
            + bytes([0, 2, 1, 0xFF, 0])
        )
        body = bytes(body[:-1]) + broken + b"\x3b"
        assert parse_gif_frames(body, every_n=1) is None  # decodes it
        got = parse_gif_frames(body, every_n=3)  # samples 0, 3 -> but
        # frame 3 IS sampled here; choose every_n that stops earlier
        assert got is None
        got = parse_gif_frames(body, every_n=4)  # samples only frame 0
        assert got is not None and got["n_frames"] == 4

    def test_static_parse_still_first_frame_raw(self):
        pal = PAL4
        frames = self._frames_fixture()
        body = encode_gif_animation(6, 8, frames, pal, bg_index=3)
        m = parse_gif(body)
        assert (m["width"], m["height"], m["n_frames"]) == (6, 8, 6)
        assert list(m["pixels"]) == list(
            _rgb([(k * 3) % 4 for k in range(48)], pal)
        )

    def test_spark_gif_frames_closed_form(self, spark):
        import pytest

        docs = spark.createDataFrame(
            [(i,) for i in range(16)], "doc_id long"
        )
        rows = multimodal.gif_frames(
            multimodal.make_animated_gif_payload(docs), every_n=2
        ).collect()
        by_doc: dict[int, list] = {}
        for r in rows:
            by_doc.setdefault(r.doc_id, []).append(r)
        assert set(by_doc) == set(range(16))
        for i, rs in by_doc.items():
            rs.sort(key=lambda r: r.frame_idx)
            w, h = 4 + i % 13, 3 + i % 7
            c = 1 + i % 7
            assert [r.frame_idx for r in rs] == [0, 2]
            assert all(
                (r.n_frames_total, r.width, r.height) == (4, w, h)
                for r in rs
            )
            assert [r.delay_cs for r in rs] == [10 + i % 5, 30]
            ps = lambda j: (j * 37) % 256 + (j * 59) % 256 + (j * 83) % 256
            base = [(i * 5 + k * 11) % 8 for k in range(w * h)]
            m0 = sum(ps(j) for j in base) / (3 * w * h)
            eff = list(base)
            eff[0] = c
            eff[w] = c
            m2 = sum(ps(j) for j in eff) / (3 * w * h)
            assert rs[0].mean_pixel == pytest.approx(m0, abs=1e-9)
            assert rs[1].mean_pixel == pytest.approx(m2, abs=1e-9)

    def test_spark_null_and_corrupt_payloads(self, spark):
        df = spark.createDataFrame(
            [(1, None), (2, b"not a gif")],
            "doc_id long, payload binary",
        )
        rows = multimodal.gif_frames(df).collect()
        assert len(rows) == 2
        assert all(r.frame_idx is None for r in rows)
