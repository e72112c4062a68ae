"""Video frame extraction: MJPEG-in-AVI parsing + per-frame decode —
the stage that turns :func:`multimodal.frame_sample_plan` (the
byte-offset stand-in) into REAL frame sampling.

An AVI file is a RIFF container (the same chunk grammar as WAV); the
Motion-JPEG codec stores each frame as an independent baseline JPEG
in a ``00dc`` chunk under the ``movi`` LIST. With :mod:`.jpeg` in
the repo, the whole chain is decodable with stdlib + numpy:

    RIFF walk → movi LIST → 00dc chunks → per-frame
    :func:`jpeg.parse_jpeg` → pixel statistics / embeddings

Scope: AVI RIFF structure with ``00dc``/``00db`` video chunks
(MJPEG); other codecs' chunks decode to null frames (attributable,
never fatal); ``idx1``/header LISTs are walked over, not required.

Scale shape: :func:`video_frames` is one Arrow ``mapInPandas`` stage
over the payload scan — the archive bytes never shuffle, sampled
frames fan out row-local (posexplode shape), and only the small
per-frame metadata leaves the stage. ``every_n`` sampling happens
INSIDE the decoder, so unsampled frames are never JPEG-decoded —
at 100 TB the cost is the scan plus decode of the sampled subset.

The fixture encoder (:func:`make_avi_payload`) writes real AVI
headers (avih / strl / strh / strf) around DC-only fixture JPEGs, so
every sampled frame's statistics are closed-form (see :mod:`.jpeg`)
and the ``video_frames`` oracle states them outright.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ._payload import build_payloads, map_payloads
from .jpeg import encode_jpeg, parse_jpeg

__all__ = ["parse_avi_frames", "video_frames", "make_avi_payload"]


def parse_avi_frames(payload: bytes) -> list[bytes] | None:
    """Extract the video-frame payloads (``00dc``/``00db`` chunks in
    order) from an AVI container. Returns ``None`` for non-AVI /
    truncated payloads; frames are raw codec bytes (JPEGs for MJPEG).

    Examples
    --------
        >>> frames = [encode_jpeg(8, 8, [[[v] + [0] * 63]]) for v in (1, 2)]
        >>> out = parse_avi_frames(make_avi_bytes(frames, 8, 8))
        >>> [int(parse_jpeg(f)["pixels"][0]) for f in out]
        [129, 130]
    """
    if payload is None:
        return None
    buf = bytes(payload)
    if len(buf) < 12 or buf[:4] != b"RIFF" or buf[8:12] != b"AVI ":
        return None
    frames: list[bytes] = []

    def walk(start: int, end: int) -> None:
        pos = start
        while pos + 8 <= end:
            cid = buf[pos : pos + 4]
            (size,) = struct.unpack_from("<I", buf, pos + 4)
            body_start = pos + 8
            body_end = min(body_start + size, end)
            if cid == b"LIST":
                # list type is the first 4 bytes of the body
                walk(body_start + 4, body_end)
            elif cid in (b"00dc", b"00db"):
                frames.append(buf[body_start:body_end])
            pos = body_start + size + (size & 1)  # word-aligned

    try:
        walk(12, len(buf))
    except struct.error:
        return None
    return frames


VIDEO_FRAME_FIELDS = [
    T.StructField("frame_idx", T.LongType()),
    T.StructField("n_frames_total", T.LongType()),
    T.StructField("width", T.LongType()),
    T.StructField("height", T.LongType()),
    T.StructField("mean_pixel", T.DoubleType()),
]


def video_frames(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    every_n: int = 1,
) -> DataFrame:
    """REAL video frame sampling over an AVI binary column: one row
    per sampled frame (``frame_idx % every_n == 0``) with the frame's
    decoded dimensions and pixel mean. Unsampled frames are never
    decoded. Undecodable payloads yield one all-null row; an
    individually corrupt frame yields a null-stats row at its index
    (the archive stays attributable either way)."""
    if every_n < 1:
        raise ValueError("every_n must be >= 1")
    return map_payloads(
        df,
        id_col,
        payload_col,
        VIDEO_FRAME_FIELDS,
        lambda p: _avi_frame_rows(p, every_n),
    )


def _avi_frame_rows(payload: bytes, every_n: int) -> list[tuple] | None:
    """``VIDEO_FRAME_FIELDS`` rows for every ``every_n``-th frame of an
    MJPEG AVI, or ``None`` when the container does not parse."""
    frames = parse_avi_frames(payload)
    if frames is None:
        return None
    rows = []
    for fi in range(0, len(frames), every_n):
        img = parse_jpeg(frames[fi])
        if img is None:
            rows.append((fi, len(frames), None, None, None))
        else:
            px = img["pixels"]
            rows.append(
                (
                    fi,
                    len(frames),
                    img["width"],
                    img["height"],
                    float(px.mean()) if px.size else None,
                )
            )
    return rows


def make_avi_bytes(
    frames: list[bytes], width: int, height: int, fps: int = 10
) -> bytes:
    """Assemble JPEG frame payloads into a real AVI container:
    RIFF(AVI ) → LIST(hdrl){avih, LIST(strl){strh, strf}} →
    LIST(movi){00dc...}."""

    def chunk(cid: bytes, body: bytes) -> bytes:
        pad = b"\x00" if len(body) % 2 else b""
        return cid + struct.pack("<I", len(body)) + body + pad

    def lst(ltype: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", ltype + body)

    avih = struct.pack(
        "<14I",
        1000000 // fps,  # microseconds per frame
        0, 0, 0x10,      # max bytes/sec, padding, flags (HASINDEX off)
        len(frames), 0, 1, 0,
        width, height, 0, 0, 0, 0,
    )
    strh = (
        b"vids" + b"MJPG"
        + struct.pack("<IHHIIIIIIIII", 0, 0, 0, 0, 1, fps, 0,
                      len(frames), 0, 0, 0, 0)
    )
    strf = struct.pack(
        "<IiiHH4sIiiII",
        40, width, height, 1, 24, b"MJPG", width * height * 3, 0, 0, 0, 0,
    )
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih)
        + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    movi = lst(b"movi", b"".join(chunk(b"00dc", f) for f in frames))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def make_avi_payload(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Deterministic MJPEG AVI fixture per row: ``4 + id % 5`` frames
    of ``16x8`` grayscale DC-only JPEG (two blocks per frame), frame
    ``f``'s block ``b`` decoding flat to
    ``128 + ((id*11 + f*17 + b*23) % 160) - 80`` — the closed form
    the ``video_frames`` oracle states."""

    def build_one(i: int) -> bytes:
        n = 4 + i % 5
        frames = []
        for f in range(n):
            blocks = [
                [((i * 11 + f * 17 + b * 23) % 160) - 80] + [0] * 63
                for b in range(2)
            ]
            frames.append(encode_jpeg(16, 8, [blocks]))
        return make_avi_bytes(frames, 16, 8)

    return build_payloads(df, id_col, payload_col, build_one)
