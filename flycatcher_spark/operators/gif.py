"""GIF (87a/89a) static-image decoding with the standard library
only — the fourth real image format after PNM/PNG/JPEG
(:func:`multimodal.parse_image` dispatches all four), because GIFs
remain a meaningful share of any web crawl.

Scope (documented subset, honest about what it is):

- header + logical screen descriptor, global and local color tables;
- :func:`parse_gif` returns the FIRST image frame expanded through
  its palette (``n_frames`` reports how many image descriptors the
  file holds), skipping every extension structurally;
- :func:`parse_gif_frames` (r9) is the ANIMATION path: Graphic
  Control Extensions are parsed (delay, transparency, disposal) and
  sampled frames are composed onto the logical-screen canvas with
  real disposal semantics — keep, restore-to-background,
  restore-previous — decoding only the frames composition needs;
- full LZW decompression: variable code width (LSB-first packing),
  clear/end codes, table growth to 12 bits, the deferred-clear case
  — the GIF variant of the shared :func:`._bits.lzw_decode`;
- both row orders: sequential and the 4-pass GIF interlace.

The fixture encoder (:func:`encode_gif`) is a real LZW compressor
(greedy longest-match string table, the standard algorithm —
:func:`._bits.lzw_encode`, resetting at 4096 entries), so
pytest pins exact round-trips through genuine compression — table
growth, width bumps and clear-code resets included — and the
``gif_decode`` oracle states pixel statistics in closed form while
the decoder genuinely inflates its way there.

Runs inside the same Arrow ``mapInPandas`` stage as the other
decoders: payloads never shuffle, corrupt payloads yield null rows.
"""

from __future__ import annotations

import numpy as np

from ._bits import lzw_decode, lzw_encode

__all__ = [
    "parse_gif",
    "parse_gif_frames",
    "encode_gif",
    "encode_gif_animation",
]


_INTERLACE_PASSES = [(0, 8), (4, 8), (2, 4), (1, 2)]


def _walk_gif(buf: bytes):
    """Structural GIF walk (no LZW decode): header + logical screen
    descriptor, global color table, every extension block (Graphic
    Control Extensions are PARSED — ``(disposal, transparent_flag,
    delay_cs, transparent_index)`` — all other extensions skip by
    sub-block length), every image descriptor with its local color
    table and raw LZW sub-block bytes. Returns
    ``(screen_w, screen_h, gct, bg_index, frames)`` where each frame
    is ``(gce, left, top, w, h, lct, interlaced, mcs, data)``;
    raises ``ValueError`` on a malformed block sequence."""
    if len(buf) < 13 or buf[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    screen_w = int.from_bytes(buf[6:8], "little")
    screen_h = int.from_bytes(buf[8:10], "little")
    packed = buf[10]
    bg_index = buf[11]
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = np.frombuffer(
            buf, dtype=np.uint8, count=3 * n, offset=pos
        ).reshape(-1, 3)
        pos += 3 * n
    frames = []
    gce = None  # applies to the NEXT image descriptor only
    while pos < len(buf):
        b = buf[pos]
        pos += 1
        if b == 0x3B:  # trailer
            break
        if b == 0x21:  # extension: label + sub-blocks
            label = buf[pos]
            pos += 1
            if label == 0xF9 and pos < len(buf) and buf[pos] == 4:
                gpacked = buf[pos + 1]
                delay = int.from_bytes(buf[pos + 2 : pos + 4], "little")
                gce = (
                    (gpacked >> 2) & 0x07,
                    bool(gpacked & 0x01),
                    delay,
                    buf[pos + 4],
                )
            while pos < len(buf) and buf[pos] != 0:
                pos += 1 + buf[pos]
            pos += 1
            continue
        if b != 0x2C:  # image descriptor
            raise ValueError("unknown block")
        left = int.from_bytes(buf[pos : pos + 2], "little")
        top = int.from_bytes(buf[pos + 2 : pos + 4], "little")
        w = int.from_bytes(buf[pos + 4 : pos + 6], "little")
        h = int.from_bytes(buf[pos + 6 : pos + 8], "little")
        ipacked = buf[pos + 8]
        pos += 9
        lct = None
        if ipacked & 0x80:
            n = 2 << (ipacked & 0x07)
            lct = np.frombuffer(
                buf, dtype=np.uint8, count=3 * n, offset=pos
            ).reshape(-1, 3)
            pos += 3 * n
        interlaced = bool(ipacked & 0x40)
        mcs = buf[pos]
        pos += 1
        chunks = []
        while pos < len(buf) and buf[pos] != 0:
            ln = buf[pos]
            chunks.append(buf[pos + 1 : pos + 1 + ln])
            pos += 1 + ln
        pos += 1  # block terminator
        frames.append(
            (gce, left, top, w, h, lct, interlaced, mcs, b"".join(chunks))
        )
        gce = None
    return screen_w, screen_h, gct, bg_index, frames


def _decode_frame_indices(frame, gct) -> np.ndarray | None:
    """LZW-decode one walked frame to its palette-index grid
    (deinterlaced). None when the frame is out-of-subset."""
    _, _, _, w, h, lct, interlaced, mcs, data = frame
    pal = lct if lct is not None else gct
    if pal is None or w <= 0 or h <= 0 or not 2 <= mcs <= 8:
        return None
    raster = lzw_decode(data, mcs, "lsb", early_change=False, n_out=w * h)
    idx = np.frombuffer(raster, dtype=np.uint8).astype(np.int64).reshape(h, w)
    if interlaced:
        rows = np.empty_like(idx)
        src = 0
        for start, step in _INTERLACE_PASSES:
            n_rows = len(range(start, h, step))
            rows[start::step] = idx[src : src + n_rows]
            src += n_rows
        idx = rows
    if int(idx.max(initial=0)) >= pal.shape[0]:
        return None
    return idx


def parse_gif_frames(payload: bytes, every_n: int = 1) -> dict | None:
    """Animated-GIF sampled-frame decode (r9): compose the logical
    screen canvas through the frame sequence per GIF89a — Graphic
    Control Extension disposal (0/1 leave the frame in place, 2
    restores the frame rect to the BACKGROUND color, 3 restores the
    canvas to its pre-frame state) and transparency (transparent
    palette indices leave the canvas unchanged) — and snapshot the
    composed canvas at every ``every_n``-th frame.

    Decode cost follows the sampling: frames past the last sampled
    index are never LZW-decoded (the structural walk still counts
    them), and an UNSAMPLED frame whose own disposal is 3
    (restore-previous — its pixels are erased before anything
    observes them) skips decoding too. Everything else up to the last
    sampled frame must decode: disposal 0/1 frames stay visible under
    later frames.

    Canvas initialization and disposal-2 fills use the logical screen
    descriptor's background color (global palette at the background
    index; black when there is no global palette) — the literal
    GIF89a reading; renderers that composite onto page content treat
    both as transparent instead. Frame rects are clipped to the
    screen. Returns ``{"fmt", "screen_width", "screen_height",
    "n_frames", "frames": [{"frame_idx", "delay_cs", "disposal",
    "pixels"}, ...]}`` with full-canvas RGB pixel arrays, or ``None``
    for non-GIF / corrupt / out-of-subset payloads.

    Examples
    --------
        >>> body = encode_gif_animation(2, 1, [
        ...     dict(left=0, top=0, width=2, height=1, indices=[1, 0]),
        ...     dict(left=1, top=0, width=1, height=1, indices=[0],
        ...          delay_cs=5),
        ... ], palette=[(9, 8, 7), (1, 2, 3)])
        >>> m = parse_gif_frames(body)
        >>> (m["n_frames"], [list(f["pixels"]) for f in m["frames"]])
        (2, [[1, 2, 3, 9, 8, 7], [1, 2, 3, 9, 8, 7]])
    """
    if payload is None or every_n < 1:
        return None
    try:
        buf = bytes(payload)
        screen_w, screen_h, gct, bg_index, frames = _walk_gif(buf)
        if not frames or screen_w <= 0 or screen_h <= 0:
            return None
        if gct is not None and bg_index < gct.shape[0]:
            bg_rgb = gct[bg_index].astype(np.int64)
        else:
            bg_rgb = np.zeros(3, dtype=np.int64)
        canvas = np.empty((screen_h, screen_w, 3), dtype=np.int64)
        canvas[:, :] = bg_rgb
        last_sampled = ((len(frames) - 1) // every_n) * every_n
        out = []
        for i, frame in enumerate(frames):
            if i > last_sampled:
                break
            gce, left, top, w, h, lct, _, _, _ = frame
            disposal, trans_flag, delay_cs, trans_idx = gce or (
                0,
                False,
                0,
                0,
            )
            sampled = i % every_n == 0
            if not sampled and disposal == 3:
                continue  # erased before any sampled frame sees it
            idx = _decode_frame_indices(frame, gct)
            if idx is None:
                return None
            pal = (lct if lct is not None else gct).astype(np.int64)
            x0, y0 = max(left, 0), max(top, 0)
            x1, y1 = min(left + w, screen_w), min(top + h, screen_h)
            snapshot = canvas.copy() if disposal == 3 else None
            if x1 > x0 and y1 > y0:
                sub = idx[y0 - top : y1 - top, x0 - left : x1 - left]
                rgb = pal[sub]
                if trans_flag:
                    mask = sub != trans_idx
                    region = canvas[y0:y1, x0:x1]
                    region[mask] = rgb[mask]
                else:
                    canvas[y0:y1, x0:x1] = rgb
            if sampled:
                out.append(
                    {
                        "frame_idx": i,
                        "delay_cs": delay_cs,
                        "disposal": disposal,
                        "pixels": canvas.reshape(-1).copy(),
                    }
                )
            if disposal == 2:
                canvas[y0:y1, x0:x1] = bg_rgb
            elif disposal == 3:
                canvas = snapshot
        return {
            "fmt": "gif",
            "screen_width": screen_w,
            "screen_height": screen_h,
            "n_frames": len(frames),
            "frames": out,
        }
    except (IndexError, ValueError):
        return None


def parse_gif(payload: bytes) -> dict | None:
    """Decode a GIF payload's first frame. Returns the
    :func:`multimodal.parse_png` dict shape — ``fmt`` (``"gif"``),
    ``width``/``height`` (of the first frame), ``maxval`` (255),
    ``n_channels`` (3 — palette expanded to RGB), ``pixels``, plus
    ``n_frames`` (image descriptors in the file; >1 = animated) —
    or ``None`` for non-GIF / corrupt / out-of-subset payloads.

    Examples
    --------
        >>> body = encode_gif(2, 1, [1, 0],
        ...                   palette=[(9, 8, 7), (1, 2, 3)])
        >>> m = parse_gif(body)
        >>> (m["fmt"], m["width"], list(m["pixels"]))
        ('gif', 2, [1, 2, 3, 9, 8, 7])
        >>> parse_gif(b"\\x89PNG....") is None
        True
    """
    if payload is None:
        return None
    try:
        buf = bytes(payload)
        _, _, gct, _, frames = _walk_gif(buf)
        if not frames:
            return None
        first = frames[0]
        idx = _decode_frame_indices(first, gct)
        if idx is None:
            return None
        _, _, _, w, h, lct, _, _, _ = first
        pal = lct if lct is not None else gct
        flat = pal[idx.reshape(-1)].reshape(-1).astype(np.int64)
        return {
            "fmt": "gif",
            "width": w,
            "height": h,
            "maxval": 255,
            "n_channels": 3,
            "pixels": flat,
            "n_frames": len(frames),
        }
    except (IndexError, ValueError):
        return None


def encode_gif(
    width: int,
    height: int,
    indices,
    palette: list[tuple[int, int, int]],
    interlaced: bool = False,
    animated_copies: int = 1,
) -> bytes:
    """Spec-conformant GIF89a writer (fixture/oracle generator):
    global color table sized to the palette, one image descriptor per
    ``animated_copies`` (the extra frames repeat the first — enough
    to exercise the multi-frame walk), real LZW compression, optional
    4-pass interlace row order. ``indices`` is the row-major palette
    index raster of one frame."""
    indices = [int(i) for i in indices]
    if len(indices) != width * height:
        raise ValueError("indices must be width*height")
    n_pal = max(2, 1 << max(1, (max(len(palette), 2) - 1).bit_length()))
    if n_pal > 256:
        raise ValueError("palette too large")
    mcs = max(2, n_pal.bit_length() - 1)
    out = bytearray(b"GIF89a")
    out += width.to_bytes(2, "little") + height.to_bytes(2, "little")
    out += bytes([0x80 | (n_pal.bit_length() - 2), 0, 0])
    for i in range(n_pal):
        r, g, b = palette[i] if i < len(palette) else (0, 0, 0)
        out += bytes([r, g, b])
    grid = np.array(indices, dtype=np.int64).reshape(height, width)
    if interlaced:
        rows = [grid[s::st] for s, st in _INTERLACE_PASSES]
        stream = np.concatenate(rows).reshape(-1).tolist()
    else:
        stream = indices
    lzw = lzw_encode(bytes(stream), mcs, "lsb", early_change=False,
                     clear_at=4096)
    frame = bytearray(b"\x2c")
    frame += (0).to_bytes(2, "little") + (0).to_bytes(2, "little")
    frame += width.to_bytes(2, "little") + height.to_bytes(2, "little")
    frame += bytes([0x40 if interlaced else 0x00])
    frame += bytes([mcs])
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        frame += bytes([len(chunk)]) + chunk
    frame += b"\x00"
    for _ in range(animated_copies):
        out += frame
    out += b"\x3b"
    return bytes(out)


def _palette_block(palette) -> tuple[bytes, int]:
    """Pad a palette to the next power-of-two size (>= 2) and return
    (raw RGB bytes, size-field exponent-1 for the packed byte)."""
    n = max(2, 1 << max(1, (max(len(palette), 2) - 1).bit_length()))
    if n > 256:
        raise ValueError("palette too large")
    body = bytearray()
    for i in range(n):
        r, g, b = palette[i] if i < len(palette) else (0, 0, 0)
        body += bytes([r, g, b])
    return bytes(body), n.bit_length() - 2


def encode_gif_animation(
    screen_width: int,
    screen_height: int,
    frames: list[dict],
    palette: list[tuple[int, int, int]],
    bg_index: int = 0,
    loop: bool = True,
) -> bytes:
    """Spec-conformant ANIMATED GIF89a writer (fixture/oracle
    generator, r9): logical screen descriptor with a global color
    table and background index, an optional NETSCAPE2.0 loop
    application extension (so decoders must genuinely skip unknown
    extensions), and per frame a Graphic Control Extension followed
    by a positioned image descriptor with real LZW data.

    Each ``frames`` entry is a dict: ``left``/``top`` (default 0),
    ``width``/``height``, ``indices`` (row-major palette indices),
    and optionally ``palette`` (a LOCAL color table), ``delay_cs``
    (default 0), ``disposal`` (0 none / 1 keep / 2 restore-background
    / 3 restore-previous, default 0), ``transparent_index`` (None =
    opaque), ``interlaced``."""
    gct, gct_exp = _palette_block(palette)
    out = bytearray(b"GIF89a")
    out += screen_width.to_bytes(2, "little")
    out += screen_height.to_bytes(2, "little")
    out += bytes([0x80 | gct_exp, bg_index & 0xFF, 0])
    out += gct
    if loop:
        out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01\x00\x00\x00"
    for f in frames:
        w, h = int(f["width"]), int(f["height"])
        indices = [int(i) for i in f["indices"]]
        if len(indices) != w * h:
            raise ValueError("indices must be width*height")
        trans = f.get("transparent_index")
        disposal = int(f.get("disposal", 0))
        delay = int(f.get("delay_cs", 0))
        gpacked = ((disposal & 0x07) << 2) | (0x01 if trans is not None else 0)
        out += bytes([0x21, 0xF9, 0x04, gpacked])
        out += delay.to_bytes(2, "little")
        out += bytes([0 if trans is None else trans & 0xFF, 0])
        local = f.get("palette")
        lct, lct_exp = _palette_block(local) if local is not None else (b"", 0)
        pal_src = local if local is not None else palette
        n_pal = max(
            2, 1 << max(1, (max(len(pal_src), 2) - 1).bit_length())
        )
        mcs = max(2, n_pal.bit_length() - 1)
        interlaced = bool(f.get("interlaced", False))
        out += b"\x2c"
        out += int(f.get("left", 0)).to_bytes(2, "little")
        out += int(f.get("top", 0)).to_bytes(2, "little")
        out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
        out += bytes(
            [(0x80 | lct_exp if local is not None else 0)
             | (0x40 if interlaced else 0)]
        )
        out += lct
        if interlaced:
            grid = np.array(indices, dtype=np.int64).reshape(h, w)
            rows = [grid[s::st] for s, st in _INTERLACE_PASSES]
            stream = np.concatenate(rows).reshape(-1).tolist()
        else:
            stream = indices
        out += bytes([mcs])
        lzw = lzw_encode(bytes(stream), mcs, "lsb", early_change=False,
                     clear_at=4096)
        for i in range(0, len(lzw), 255):
            chunk = lzw[i : i + 255]
            out += bytes([len(chunk)]) + chunk
        out += b"\x00"
    out += b"\x3b"
    return bytes(out)
