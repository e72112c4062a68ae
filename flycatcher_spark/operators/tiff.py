"""TIFF (6.0 baseline subset) decoding with the standard library
only — the fifth real image format behind
:func:`multimodal.parse_image`'s magic-byte dispatch (scanned
documents and print assets in web crawls ship as TIFF).

Scope (documented subset, honest about what it is):

- both byte orders (``II`` little-endian, ``MM`` big-endian), the
  classic 8-byte header and a single linked IFD;
- tag subset: ImageWidth/ImageLength, BitsPerSample (8 only),
  Compression (1 = none, 5 = LZW, 32773 = PackBits), Photometric
  (0 = WhiteIsZero, 1 = BlackIsZero, 2 = RGB, 3 = Palette),
  StripOffsets/StripByteCounts with RowsPerStrip (each strip is an
  independent compression stream), SamplesPerPixel, Predictor
  (1 = none, 2 = horizontal differencing), ColorMap (16-bit planes,
  high byte taken — the writer stores ``v*257`` so round-trips are
  exact);
- REAL TIFF-flavor LZW: codes packed MSB-first (the opposite of
  GIF), initial width 9, Clear=256/EOI=257, table growth with the
  spec's EARLY-CHANGE width bump (at table size ``2^w - 1``, one
  code earlier than GIF) and deferred-clear handling — the TIFF
  variant of the shared :func:`._bits.lzw_decode` /
  :func:`._bits.lzw_encode` pair (the encoder resets at 4094
  entries);
- PackBits exactly per the spec: literal runs, repeat runs, the
  128 no-op;
- anything outside the subset (16-bit samples, tiles, other
  compressions, missing mandatory tags) returns ``None`` honestly.

The fixture encoder (:func:`encode_tiff`) is a real writer — correct
IFD offsets, external value arrays, multi-strip layout, a greedy
string-table LZW compressor with the early-change bump, a real
PackBits packer, and the horizontal-differencing predictor — so
pytest pins genuine decompression, not a parser reading its own
shortcuts.

Runs inside the same Arrow ``mapInPandas`` stages as the other
decoders (``multimodal.decode_image_meta`` dispatches by magic):
payloads never shuffle, corrupt payloads yield null rows.
"""

from __future__ import annotations

import numpy as np

from ._bits import lzw_decode, lzw_encode

__all__ = ["parse_tiff", "encode_tiff"]


# ---------------------------------------------------------------------------
# PackBits (TIFF 6.0 §9)
# ---------------------------------------------------------------------------
def _packbits_decode(data: bytes) -> bytes:
    out = bytearray()
    pos = 0
    n = len(data)
    while pos < n:
        c = data[pos]
        pos += 1
        if c == 128:  # no-op
            continue
        if c < 128:  # literal run of c+1 bytes
            if pos + c + 1 > n:
                raise ValueError("PackBits literal truncated")
            out += data[pos : pos + c + 1]
            pos += c + 1
        else:  # repeat next byte 257-c times
            if pos >= n:
                raise ValueError("PackBits repeat truncated")
            out += bytes([data[pos]]) * (257 - c)
            pos += 1
    return bytes(out)


def _packbits_encode(data: bytes) -> bytes:
    """Real PackBits: repeat runs of >= 3 compress, everything else
    rides in literal runs (<= 128 each)."""
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        # find run length at i
        j = i + 1
        while j < n and j - i < 128 and data[j] == data[i]:
            j += 1
        run = j - i
        if run >= 3:
            out += bytes([257 - run, data[i]])
            i = j
            continue
        # literal: extend until a >=3 run starts or 128 bytes
        k = i
        while k < n and k - i < 128:
            if k + 2 < n and data[k] == data[k + 1] == data[k + 2]:
                break
            k += 1
        out += bytes([k - i - 1]) + data[i:k]
        i = k
    return bytes(out)


# ---------------------------------------------------------------------------
# IFD walk
# ---------------------------------------------------------------------------
_TYPE_SIZES = {1: 1, 2: 1, 3: 2, 4: 4}


def _read_values(buf: bytes, bo: str, vtype: int, count: int, raw: bytes):
    import struct

    size = _TYPE_SIZES.get(vtype)
    if size is None:
        raise ValueError(f"unsupported tag type {vtype}")
    total = size * count
    if total > 4:
        off = struct.unpack(bo + "I", raw)[0]
        data = buf[off : off + total]
        if len(data) < total:
            raise ValueError("tag values truncated")
    else:
        data = raw[:total]
    if vtype == 3:
        return list(struct.unpack(bo + "H" * count, data))
    if vtype == 4:
        return list(struct.unpack(bo + "I" * count, data))
    return list(data)


def parse_tiff(payload: bytes) -> dict | None:
    """Decode a baseline TIFF payload. Returns the
    :func:`multimodal.parse_png` dict shape — ``fmt`` (``"tiff"``),
    ``width``/``height``, ``maxval`` (255), ``n_channels`` (1 for
    grayscale, 3 for RGB and palette-expanded), ``pixels`` — or
    ``None`` for non-TIFF / corrupt / out-of-subset payloads.

    Examples
    --------
        >>> body = encode_tiff(2, 1, [7, 250], photometric="gray")
        >>> m = parse_tiff(body)
        >>> (m["fmt"], m["width"], list(m["pixels"]))
        ('tiff', 2, [7, 250])
        >>> parse_tiff(b"II+\\x00 bigtiff") is None
        True
    """
    import struct

    if payload is None:
        return None
    try:
        buf = bytes(payload)
        if len(buf) < 8:
            return None
        if buf[:2] == b"II":
            bo = "<"
        elif buf[:2] == b"MM":
            bo = ">"
        else:
            return None
        magic, ifd_off = struct.unpack(bo + "HI", buf[2:8])
        if magic != 42:
            return None
        (n_entries,) = struct.unpack(
            bo + "H", buf[ifd_off : ifd_off + 2]
        )
        tags: dict[int, list] = {}
        for k in range(n_entries):
            e = ifd_off + 2 + 12 * k
            tag, vtype, count = struct.unpack(
                bo + "HHI", buf[e : e + 8]
            )
            tags[tag] = _read_values(
                buf, bo, vtype, count, buf[e + 8 : e + 12]
            )
        width = tags.get(256, [None])[0]
        height = tags.get(257, [None])[0]
        if not width or not height:
            return None
        photometric = tags.get(262, [None])[0]
        if photometric not in (0, 1, 2, 3):
            return None
        spp = tags.get(277, [3 if photometric == 2 else 1])[0]
        bps = tags.get(258, [8] * spp)
        if any(b != 8 for b in bps) or spp not in (1, 3):
            return None
        compression = tags.get(259, [1])[0]
        predictor = tags.get(317, [1])[0]
        if compression not in (1, 5, 32773) or predictor not in (1, 2):
            return None
        offsets = tags.get(273)
        counts = tags.get(279)
        if not offsets or not counts or len(offsets) != len(counts):
            return None
        rows_per_strip = tags.get(278, [height])[0]
        row_bytes = width * spp
        raw = bytearray()
        for si, (off, cnt) in enumerate(zip(offsets, counts)):
            strip = buf[off : off + cnt]
            if len(strip) < cnt:
                return None
            if compression == 5:
                strip = lzw_decode(strip, 8, "msb", early_change=True)
            elif compression == 32773:
                strip = _packbits_decode(strip)
            n_rows = min(rows_per_strip, height - si * rows_per_strip)
            if len(strip) < n_rows * row_bytes:
                return None
            raw += strip[: n_rows * row_bytes]
        arr = np.frombuffer(bytes(raw), dtype=np.uint8).astype(np.int64)
        arr = arr.reshape(height, width, spp)
        if predictor == 2:
            arr = np.cumsum(arr, axis=1) & 0xFF
        if photometric == 3:
            cmap = tags.get(320)
            if not cmap or len(cmap) < 3 * 256:
                return None
            planes = np.array(cmap[: 3 * 256], dtype=np.int64).reshape(
                3, 256
            )
            pal = (planes >> 8).T  # high byte of the 16-bit entries
            idx = arr[:, :, 0]
            if int(idx.max(initial=0)) > 255:
                return None
            flat = pal[idx.reshape(-1)].reshape(-1)
            n_channels = 3
        else:
            if photometric == 0:  # WhiteIsZero
                arr = 255 - arr
            flat = arr.reshape(-1)
            n_channels = spp
        return {
            "fmt": "tiff",
            "width": int(width),
            "height": int(height),
            "maxval": 255,
            "n_channels": n_channels,
            "pixels": flat,
        }
    except (IndexError, ValueError, struct.error):
        return None


# ---------------------------------------------------------------------------
# writer (fixture/oracle generator — the encode_gif discipline)
# ---------------------------------------------------------------------------
def encode_tiff(
    width: int,
    height: int,
    pixels,
    photometric: str = "rgb",
    palette: list[tuple[int, int, int]] | None = None,
    compression: str = "none",
    predictor: bool = False,
    rows_per_strip: int | None = None,
    byte_order: str = "<",
) -> bytes:
    """Spec-conformant baseline TIFF writer: classic header (either
    byte order), one IFD with correct external value arrays, strips
    of ``rows_per_strip`` rows each as INDEPENDENT compression
    streams (none / real PackBits / real early-change LZW), optional
    horizontal-differencing predictor, grayscale (``gray`` /
    inverted ``gray0``) / ``rgb`` / ``palette`` photometrics.
    ``pixels`` is the row-major raster (1 or 3 values per pixel;
    palette indices for ``palette``)."""
    import struct

    if byte_order not in ("<", ">"):
        raise ValueError("byte_order must be '<' or '>'")
    bo = byte_order
    px = [int(v) for v in pixels]
    spp = 3 if photometric == "rgb" else 1
    if len(px) != width * height * spp:
        raise ValueError("pixels must be width*height*samples")
    if photometric == "palette" and palette is None:
        raise ValueError("palette photometric needs a palette")
    comp_code = {"none": 1, "packbits": 32773, "lzw": 5}[compression]
    phot_code = {"gray0": 0, "gray": 1, "rgb": 2, "palette": 3}[
        photometric
    ]
    arr = np.array(px, dtype=np.int64).reshape(height, width, spp)
    if photometric == "gray0":
        arr = 255 - arr
    if predictor:
        diff = arr.copy()
        diff[:, 1:, :] = (arr[:, 1:, :] - arr[:, :-1, :]) & 0xFF
        arr = diff
    rps = rows_per_strip or height
    strips: list[bytes] = []
    for y0 in range(0, height, rps):
        raw = (
            arr[y0 : y0 + rps].astype(np.uint8).tobytes()
        )
        if comp_code == 5:
            raw = lzw_encode(raw, 8, "msb", early_change=True, clear_at=4094)
        elif comp_code == 32773:
            raw = _packbits_encode(raw)
        strips.append(raw)

    # layout: header | strip data | external arrays | IFD
    out = bytearray()
    out += (b"II" if bo == "<" else b"MM") + struct.pack(bo + "H", 42)
    out += struct.pack(bo + "I", 0)  # IFD offset patched below
    strip_offsets = []
    for s in strips:
        strip_offsets.append(len(out))
        out += s
    if len(out) % 2:
        out += b"\x00"

    entries: list[tuple[int, int, int, bytes]] = []

    def ext(fmt: str, values: list[int]) -> int:
        nonlocal out
        off = len(out)
        out += struct.pack(bo + fmt * len(values), *values)
        if len(out) % 2:
            out += b"\x00"
        return off

    def add(tag: int, vtype: int, values: list[int]) -> None:
        size = _TYPE_SIZES[vtype] * len(values)
        fmt = {3: "H", 4: "I"}[vtype]
        if size <= 4:
            raw = struct.pack(bo + fmt * len(values), *values)
            raw += b"\x00" * (4 - size)
        else:
            raw = struct.pack(bo + "I", ext(fmt, values))
        entries.append((tag, vtype, len(values), raw))

    add(256, 4, [width])
    add(257, 4, [height])
    add(258, 3, [8] * spp)
    add(259, 3, [comp_code])
    add(262, 3, [phot_code])
    add(273, 4, strip_offsets)
    add(277, 3, [spp])
    add(278, 4, [rps])
    add(279, 4, [len(s) for s in strips])
    if predictor:
        add(317, 3, [2])
    if photometric == "palette":
        cmap: list[int] = []
        for plane in range(3):
            for i in range(256):
                v = palette[i][plane] if i < len(palette) else 0
                cmap.append(v * 257)  # v*257 = (v<<8)|v, exact round-trip
        add(320, 3, cmap)
    ifd_off = len(out)
    entries.sort()
    out += struct.pack(bo + "H", len(entries))
    for tag, vtype, count, raw in entries:
        out += struct.pack(bo + "HHI", tag, vtype, count) + raw
    out += struct.pack(bo + "I", 0)  # no next IFD
    out[4:8] = struct.pack(bo + "I", ifd_off)
    return bytes(out)
