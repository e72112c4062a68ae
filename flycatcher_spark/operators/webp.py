"""WebP (VP8L lossless) decoding with the standard library only —
the seventh real image format behind :func:`multimodal.parse_image`'s
magic-byte dispatch (``sniff_format`` has labeled ``webp`` payloads
since r8; now the lossless flavor decodes).

Scope (documented subset, honest about what it is):

- RIFF container with a ``VP8L`` chunk (simple lossless files);
- the VP8L literal-only bitstream: 14-bit dimensions, LSB-first bit
  packing, the full prefix-code machinery — simple two/one-symbol
  codes AND normal codes transmitted through the 19-symbol
  code-length code (with the 16/17/18 repeat operators and the
  ``kCodeLengthCodeOrder`` transmission order), canonical code
  assignment, and per-pixel green/red/blue/alpha symbol streams;
- the subtract-green transform (the one transform that is pure
  arithmetic — no lookup tables — and therefore verifiable offline);
- NOT in the subset, all returning ``None`` honestly: the other
  transforms (predictor/color/palette), color cache, meta prefix
  codes (entropy-image segmentation), LZ77 backward references, the
  lossy ``VP8 `` flavor, and ``VP8X`` extended containers.

Why this boundary: the r9 blocker for WebP was the 120-entry LZ77
distance-to-neighbor remap table, which cannot be re-derived from
first principles and could not be verified offline — a
recalled-from-memory copy would silently mis-decode real files
(SCALE.md, r9). That table is consulted ONLY when decoding LZ77
distance codes, so a literal-only subset needs none of it: every
construct used here (header layout, prefix-code headers, canonical
assignment, repeat operators) is structural spec machinery whose
correctness the round trip genuinely pins. The fixture encoder
(:func:`encode_webp`) is a real writer of the same subset — actual
frequency-based Huffman code construction with the balanced-complete
fallback, real code-length-code emission with zero-run operators —
so round-trip tests pin real parsing, not a parser testing itself
against canned bytes (the GIF/TIFF/BMP/PDF discipline). Real-world
files that use transforms/LZ77/color-cache are sniffed and counted
by ``format_stats``, never silently mis-decoded.

Bit conventions (RFC 9649 — the WebP spec): the byte stream is read
LSB-first; prefix-code bits are the exception, read starting from the
most significant bit of the code (the DEFLATE convention — RFC 9649
§3.7.1 "in reverse order"). Canonical codes follow the DEFLATE
construction (RFC 1951 §3.2.2). Two-symbol simple codes assign code
0/1 in transmitted symbol order; the encoder always transmits them in
ascending symbol order, which makes transmitted order and canonical
order coincide.

The bit reader and writer and the canonical construction are the
shared ones of :mod:`._bits`. Decoding has one path: each prefix code
becomes flat ``(symbol, consumed_bits)`` tables indexed by the next
``max_len`` stream bits read LSB-first — bit-reversed codes, as in
libwebp — and both the header code-length walk and the pixel walk
probe them with ``BitReader.peek``.
"""

from __future__ import annotations

import struct

import numpy as np

from ._bits import BitReader, BitWriter, canonical_codes, prefix_lut

__all__ = [
    "parse_webp",
    "encode_webp",
    "parse_webp_frames",
    "encode_webp_animation",
]

#: transmission order of the code-length code's own lengths
#: (RFC 9649 §3.7.1.2, identical to libwebp's kCodeLengthCodeOrder)
_CODE_LENGTH_ORDER = (
    17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15
)

_GREEN_ALPHABET = 256 + 24  # literals + length codes (no color cache)
_ARGB_ALPHABET = 256
_DIST_ALPHABET = 40
_MAX_CODE_LEN = 15
_MAX_CL_LEN = 7  # code-length-code lengths are 3-bit fields

#: raster decompression-bomb cap (r11): zero-bit constant codes decode
#: pixels for free, so raster size must be bounded by policy, not by
#: input size — 64 MiB of RGBA, the same figure as warc.MAX_DECODED_BYTES
MAX_RASTER_BYTES = 64 * 1024 * 1024

def _complete_codes(pairs: list[tuple[int, int]]) -> dict[int, tuple[int, int]]:
    """Canonical codes for ``(symbol, length)`` pairs in symbol order,
    rejecting any code that is not complete (Kraft equality): VP8L
    allows no unused prefixes. Single-symbol codes are the callers'
    zero-bit special case and never reach here."""
    max_len = max(ln for _, ln in pairs)
    if sum(1 << (max_len - ln) for _, ln in pairs) != 1 << max_len:
        raise ValueError("prefix code not complete")
    return canonical_codes(pairs)


def _code_lut(codes: dict[int, tuple[int, int]]) -> tuple[list, list, int]:
    """Decode tables ``(sym_t, len_t, width)`` probed with
    ``BitReader.peek(width)``."""
    width = max(ln for _, ln in codes.values())
    return (*prefix_lut(codes, width, "lsb"), width)


def _huffman_lengths(freqs: dict[int, int], max_len: int) -> dict[int, int]:
    """Code lengths from symbol frequencies: real Huffman, with a
    balanced complete code as fallback if the optimal tree is deeper
    than ``max_len`` (possible with skewed counts; the balanced code
    is always valid and the subset favors simplicity over the last
    few bits of density)."""
    syms = sorted(freqs)
    if len(syms) == 1:
        return {syms[0]: 0}  # caller emits a single-symbol simple code
    # two-queue parent-pointer construction: leaves sorted by
    # (freq, insertion-index) in one queue, merged nodes appended in
    # nondecreasing weight order to the other, each merge popping the
    # two smallest heads — the same (freq, index) tie-break as the
    # r10 heapq version (leaf indices < internal indices, so equal
    # weights prefer leaves), so trees and therefore streams are
    # identical, with zero heap churn. Leaf depths fall out of one
    # descending pass since every parent index exceeds its children's.
    items = sorted(freqs.items())
    n = len(items)
    leaves = sorted(range(n), key=lambda j: (items[j][1], j))
    weight = [f for _, f in items] + [0] * (n - 1)
    parent = [0] * (2 * n - 1)
    internal: list[int] = []
    li = ii = 0
    nxt = n
    for _ in range(n - 1):
        picks = []
        for _ in range(2):
            take_leaf = li < n and (
                ii >= len(internal)
                or (weight[leaves[li]], leaves[li])
                <= (weight[internal[ii]], internal[ii])
            )
            if take_leaf:
                picks.append(leaves[li])
                li += 1
            else:
                picks.append(internal[ii])
                ii += 1
        parent[picks[0]] = parent[picks[1]] = nxt
        weight[nxt] = weight[picks[0]] + weight[picks[1]]
        internal.append(nxt)
        nxt += 1
    root = nxt - 1
    dep = [0] * (2 * n - 1)
    for i in range(root - 1, -1, -1):
        dep[i] = dep[parent[i]] + 1
    depth = {items[i][0]: dep[i] for i in range(n)}
    if max(dep[:n]) <= max_len:
        return depth
    # balanced complete code: a symbols at L-1, rest at L
    n = len(syms)
    bits = (n - 1).bit_length()
    n_short = (1 << bits) - n
    return {
        s: (bits - 1 if j < n_short else bits) for j, s in enumerate(syms)
    }


# ---------------------------------------------------------------------------
# prefix-code headers (RFC 9649 §3.7.1.1–3.7.1.2)
# ---------------------------------------------------------------------------
def _read_prefix_code(br: BitReader, alphabet_size: int) -> tuple:
    """Read one prefix-code header and return its decode tables
    ``(sym_t, len_t, width)`` (see :func:`_code_lut`). A zero-bit
    single-symbol code is ``([symbol], [0], 0)``: its probe reads no
    bits and consumes none."""
    if br.read(1):  # simple code
        num_symbols = br.read(1) + 1
        first_8bit = br.read(1)
        s0 = br.read(8 if first_8bit else 1)
        if num_symbols == 1:
            if s0 >= alphabet_size:
                raise ValueError("simple-code symbol out of range")
            return [s0], [0], 0
        s1 = br.read(8)
        if s0 >= alphabet_size or s1 >= alphabet_size or s0 == s1:
            raise ValueError("bad simple-code symbols")
        # code 0 -> first TRANSMITTED symbol (RFC 9649 §3.7.1.1), not
        # canonical ascending order (ADVICE r10: routing the pair
        # through canonical assignment would silently swap the two
        # pixel values for a spec-valid file that transmits them in
        # descending order)
        return [s0, s1], [1, 1], 1
    # normal code: lengths arrive through the code-length code
    num_cl = br.read(4) + 4
    if num_cl > len(_CODE_LENGTH_ORDER):
        raise ValueError("bad code-length count")
    cl_lengths = [0] * 19
    for i in range(num_cl):
        cl_lengths[_CODE_LENGTH_ORDER[i]] = br.read(3)
    if sum(cl_lengths) == 0:
        raise ValueError("empty code-length code")
    cl_sym, cl_len, cl_width = _code_lut(
        _complete_codes([(s, ln) for s, ln in enumerate(cl_lengths) if ln])
    )
    if br.read(1):  # explicit max_symbol cap
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
    else:
        max_symbol = alphabet_size
    lengths = [0] * alphabet_size
    prev_len = 8
    i = 0
    peek = br.peek
    while i < alphabet_size:
        if max_symbol == 0:
            break  # remaining symbols keep length 0
        max_symbol -= 1
        idx = peek(cl_width)
        s = cl_sym[idx]
        br.pos += cl_len[idx]
        if s < 16:
            lengths[i] = s
            i += 1
            if s:
                prev_len = s
        elif s == 16:  # repeat previous non-zero length 3-6 times
            rep = 3 + br.read(2)
            if i + rep > alphabet_size:
                raise ValueError("length repeat overflows alphabet")
            for _ in range(rep):
                lengths[i] = prev_len
                i += 1
        elif s == 17:  # short zero run 3-10
            i += 3 + br.read(3)
        else:  # 18: long zero run 11-138
            i += 11 + br.read(7)
    if i > alphabet_size:
        raise ValueError("length run overflows alphabet")
    if br.pos > br.nbits:
        # a probe that consumed zero-padding past the stream end
        # decodes garbage, never silently: pos lands beyond nbits
        raise ValueError("VP8L bitstream truncated")
    nonzero = [(s, ln) for s, ln in enumerate(lengths) if ln]
    if len(nonzero) == 1:
        return [nonzero[0][0]], [0], 0
    return _code_lut(_complete_codes(nonzero))


def _write_prefix_code(
    bw: BitWriter, lengths: dict[int, int], alphabet_size: int
) -> None:
    """Emit one prefix-code header for ``lengths`` (symbol -> length;
    a single entry means the zero-bit single-symbol code)."""
    syms = sorted(lengths)
    if len(syms) <= 2 and all(s <= 255 for s in syms):
        # simple code (ascending symbol order: transmitted order ==
        # canonical order, so both decoder conventions agree)
        bw.write(1, 1)
        bw.write(len(syms) - 1, 1)
        s0 = syms[0]
        if s0 <= 1:
            bw.write(0, 1)  # 1-bit first symbol
            bw.write(s0, 1)
        else:
            bw.write(1, 1)
            bw.write(s0, 8)
        if len(syms) == 2:
            bw.write(syms[1], 8)
        return
    bw.write(0, 1)  # normal code
    # RLE the per-symbol lengths into code-length symbols. Two lean
    # passes over plain lists (numpy segment slicing LOSES here —
    # the arrays are ~256 entries, small-array overhead dominates):
    # pass 1 collects the cl-symbol stream + the few run-op extras,
    # pass 2 maps symbols to codes via two 19-entry LUT listcomps.
    full = [0] * alphabet_size
    for s, ln in lengths.items():
        full[s] = ln
    # trailing zeros are dropped and the explicit max_symbol cap
    # (written below) tells the decoder how many code-length symbols
    # to read — the spec's trimmed-length mechanism
    # normal-code lengths are all nonzero (>2 symbols), so the last
    # transmitted symbol is just the largest key
    last = max(lengths)
    syms_l: list[int] = []  # cl symbols in emission order
    extras: list[tuple[int, int, int]] = []  # (pos in syms_l, extra, nbits)
    append = syms_l.append
    i = 0
    while i <= last:
        v = full[i]
        if v:
            append(v)
            i += 1
            continue
        j = i
        while j <= last and full[j] == 0:
            j += 1
        run = j - i
        while run >= 3:
            if run >= 11:
                r = min(run, 138)
                extras.append((len(syms_l), r - 11, 7))
                append(18)
            else:
                r = min(run, 10)
                extras.append((len(syms_l), r - 3, 3))
                append(17)
            run -= r
        for _ in range(run):
            append(0)
        i = j
    while len(syms_l) < 2:  # max_symbol cap floor is 2; pad with 0s
        append(0)
    # code-length code from the cl-symbol frequencies
    freqs = [0] * 19
    for s in syms_l:
        freqs[s] += 1
    cl_freq = {s: f for s, f in enumerate(freqs) if f}
    cl_lengths = _huffman_lengths(cl_freq, _MAX_CL_LEN)
    if len(cl_lengths) == 1:
        # the cl code needs >= 2 symbols to be a complete 1-bit code;
        # pad with an unused symbol (smallest absent one)
        pad = next(s for s in range(19) if s not in cl_lengths)
        only = next(iter(cl_lengths))
        cl_lengths = {only: 1, pad: 1}
    cl_codes = canonical_codes(sorted(cl_lengths.items()))
    # transmit cl lengths in _CODE_LENGTH_ORDER, covering every
    # nonzero entry (minimum 4 per spec)
    num_cl = max(
        4,
        1 + max(
            (i for i, s in enumerate(_CODE_LENGTH_ORDER) if s in cl_lengths),
            default=0,
        ),
    )
    bw.write(num_cl - 4, 4)
    for i in range(num_cl):
        bw.write(cl_lengths.get(_CODE_LENGTH_ORDER[i], 0), 3)
    # explicit max_symbol = number of code-length symbols transmitted
    # (each decoder iteration consumes one, literal or repeat op)
    bw.write(1, 1)
    k = len(syms_l) - 2
    length_nbits = 2
    while (1 << length_nbits) <= k:
        length_nbits += 2
    bw.write((length_nbits - 2) // 2, 3)
    bw.write(k, length_nbits)
    # pass 2: map the symbol stream to codes with two listcomps and
    # write it in bulk runs, each cut after a run op to append that
    # op's extra-bits field — no per-symbol method calls
    code_l = [0] * 19
    len_l = [0] * 19
    for s, (code, ln) in cl_codes.items():
        code_l[s] = code
        len_l[s] = ln
    vals = [code_l[s] for s in syms_l]
    lens_ = [len_l[s] for s in syms_l]
    start = 0
    for idx, extra, nbits in extras:
        bw.write_codes_bulk(vals[start : idx + 1], lens_[start : idx + 1])
        bw.write(extra, nbits)
        start = idx + 1
    bw.write_codes_bulk(vals[start:], lens_[start:])


# ---------------------------------------------------------------------------
# decode
# ---------------------------------------------------------------------------
def _decode_vp8l_body(data: bytes) -> tuple[int, int, int, np.ndarray]:
    """Decode one VP8L bitstream (the ``VP8L`` chunk body, signature
    byte included) to ``(width, height, alpha_hint, rgba)`` where
    ``rgba`` is an ``(npx, 4)`` uint8 array in row-major pixel order.
    Raises ValueError for malformed streams and for spec features
    outside the literal-only subset."""
    if not data or data[0] != 0x2F:
        raise ValueError("not a VP8L stream")
    br = BitReader(data[1:], "lsb")
    width = br.read(14) + 1
    height = br.read(14) + 1
    # raster bomb guard (r11): zero-bit constant codes decode a pixel
    # for FREE, so a ~22-byte crafted header claiming 16384x16384
    # would otherwise allocate a 1 GB raster out of nothing — the
    # VP8L analogue of the WARC gzip bomb, capped the same way
    if width * height * 4 > MAX_RASTER_BYTES:
        raise ValueError("VP8L raster exceeds the decode cap")
    alpha_hint = br.read(1)
    if br.read(3) != 0:
        raise ValueError("VP8L version must be 0")
    # transform chain: ONLY the subtract-green transform is in
    # the subset — it is pure arithmetic (add green back to red/
    # blue mod 256, RFC 9649 §3.5.3), carries no data and no
    # lookup tables, so it is verifiable offline; predictor(0),
    # color(1) and palette(3) transforms raise honestly.
    subtract_green = False
    while br.read(1):
        ttype = br.read(2)
        if ttype != 2 or subtract_green:  # 2 = subtract green
            raise ValueError("out-of-subset transform")
        subtract_green = True
    if br.read(1):
        raise ValueError("color cache: not in the subset")
    if br.read(1):
        raise ValueError("meta prefix codes: not in the subset")
    g_sym, g_len, g_w = _read_prefix_code(br, _GREEN_ALPHABET)
    r_sym, r_len, r_w = _read_prefix_code(br, _ARGB_ALPHABET)
    b_sym, b_len, b_w = _read_prefix_code(br, _ARGB_ALPHABET)
    a_sym, a_len, a_w = _read_prefix_code(br, _ARGB_ALPHABET)
    _read_prefix_code(br, _DIST_ALPHABET)  # distance code (unused)
    npx = width * height
    # hot loop: table-driven decode. Each channel's prefix code is two
    # flat lists (symbol, consumed-bits) indexed by the next `w`
    # stream bits, so a symbol costs one peek and two list probes (a
    # zero-bit code skips the peek: its tables have the one entry 0).
    # Zero bits read past the stream end cannot mis-decode silently:
    # any code that consumes one leaves pos > nbits, checked per pixel.
    g_vals: list[int] = []
    r_vals: list[int] = []
    b_vals: list[int] = []
    a_vals: list[int] = []
    peek = br.peek
    nbits = br.nbits
    for _ in range(npx):
        i = peek(g_w) if g_w else 0
        g = g_sym[i]
        br.pos += g_len[i]
        g_vals.append(g)
        i = peek(r_w) if r_w else 0
        r_vals.append(r_sym[i])
        br.pos += r_len[i]
        i = peek(b_w) if b_w else 0
        b_vals.append(b_sym[i])
        br.pos += b_len[i]
        i = peek(a_w) if a_w else 0
        a_vals.append(a_sym[i])
        br.pos += a_len[i]
        if br.pos > nbits:
            raise ValueError("VP8L bitstream truncated")
        if g >= 256:
            raise ValueError("LZ77 length code: not in the subset")
    out = np.empty((npx, 4), dtype=np.uint8)
    out[:, 1] = g_vals  # green
    out[:, 0] = r_vals  # red
    out[:, 2] = b_vals  # blue
    out[:, 3] = a_vals  # alpha
    if subtract_green:
        # inverse transform: red/blue had green subtracted mod 256
        g_col = out[:, 1].astype(np.int64)
        out[:, 0] = ((out[:, 0].astype(np.int64) + g_col) & 0xFF).astype(
            np.uint8
        )
        out[:, 2] = ((out[:, 2].astype(np.int64) + g_col) & 0xFF).astype(
            np.uint8
        )
    return width, height, alpha_hint, out


def _walk_riff(buf: bytes):
    """Yield ``(tag, body)`` for each top-level RIFF sub-chunk."""
    pos = 12
    while pos + 8 <= len(buf):
        tag = buf[pos : pos + 4]
        (size,) = struct.unpack_from("<I", buf, pos + 4)
        body = buf[pos + 8 : pos + 8 + size]
        if len(body) < size:
            raise ValueError("truncated RIFF chunk")
        yield tag, body
        pos += 8 + size + (size & 1)


def parse_webp(payload: bytes) -> dict | None:
    r"""Decode a lossless WebP payload (the literal-only VP8L subset
    — see the module docstring). Returns the
    :func:`multimodal.parse_png` dict shape — ``fmt`` (``"webp"``),
    ``width``/``height``, ``maxval`` (255), ``n_channels`` (3, or 4
    when the header's alpha hint is set), flat ``pixels`` — or
    ``None`` for malformed payloads and for spec features outside
    the subset (transforms, color cache, meta prefix, LZ77, lossy
    VP8, VP8X stills; for ANIMATED lossless files see
    :func:`parse_webp_frames`).

    Examples
    --------
        >>> import numpy as np
        >>> px = np.arange(2 * 2 * 3, dtype=np.uint8)
        >>> m = parse_webp(encode_webp(px, 2, 2, 3))
        >>> (m["fmt"], m["width"], m["height"], list(m["pixels"]))
        ('webp', 2, 2, [0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11])
        >>> parse_webp(b"RIFF....WEBPVP8 ") is None   # lossy: not in subset
        True
    """
    try:
        if payload is None or len(payload) < 21:
            return None
        buf = bytes(payload)
        if buf[:4] != b"RIFF" or buf[8:12] != b"WEBP":
            return None
        # chunk walk (plain container: VP8L should be first; tolerate
        # leading metadata chunks but reject VP8X/VP8 flavors)
        data = None
        for tag, body in _walk_riff(buf):
            if tag == b"VP8L":
                data = body
                break
            if tag in (b"VP8 ", b"VP8X"):
                return None  # lossy / extended: not in the subset
        if data is None:
            return None
        width, height, alpha_hint, out = _decode_vp8l_body(data)
        n_ch = 4 if alpha_hint else 3
        flat = out[:, :n_ch].reshape(-1).astype(np.int64)
        return {
            "fmt": "webp",
            "width": width,
            "height": height,
            "maxval": 255,
            "n_channels": n_ch,
            "pixels": flat,
        }
    except (ValueError, IndexError, struct.error, OverflowError):
        return None


# ---------------------------------------------------------------------------
# encode (fixture/oracle generator — same discipline as encode_gif /
# encode_bmp: a real writer of the documented subset)
# ---------------------------------------------------------------------------
def _encode_vp8l_body(
    pixels,
    width: int,
    height: int,
    channels: int = 3,
    subtract_green: bool = False,
) -> bytes:
    """Build one VP8L bitstream (signature byte + bits) for an RGB(A)
    raster — the shared engine behind :func:`encode_webp` (still
    images) and :func:`encode_webp_animation` (per-ANMF frames)."""
    if channels not in (3, 4):
        raise ValueError("channels must be 3 or 4")
    arr = np.asarray(pixels, dtype=np.int64).reshape(
        height * width, channels
    )
    if arr.min() < 0 or arr.max() > 255:
        raise ValueError("samples must be 0-255")
    return _encode_vp8l_from_arr(arr, width, height, channels, subtract_green)


def encode_webp(
    pixels,
    width: int,
    height: int,
    channels: int = 3,
    subtract_green: bool = False,
) -> bytes:
    """Encode an RGB(A) raster as a real lossless WebP (literal-only
    VP8L): per-channel frequency-based prefix codes, genuine
    code-length-code headers, LSB-first bit packing, RIFF container.
    ``pixels`` is the flat row-major raster (``width * height *
    channels`` values, 0-255); ``channels`` is 3 (alpha hint clear,
    constant-255 alpha coded as a zero-bit single-symbol code) or 4.
    ``subtract_green`` emits the subtract-green transform (the one
    transform in the decode subset): red/blue are stored minus green
    mod 256 — the form libwebp's lossless encoder emits almost
    always, so covering it meaningfully widens real-file decode.
    """
    body = _encode_vp8l_body(pixels, width, height, channels, subtract_green)
    return _riff(_chunk(b"VP8L", body))


def _encode_vp8l_from_arr(
    arr: np.ndarray,
    width: int,
    height: int,
    channels: int,
    subtract_green: bool,
) -> bytes:
    r = arr[:, 0]
    g = arr[:, 1]
    b = arr[:, 2]
    a = arr[:, 3] if channels == 4 else np.full(len(arr), 255, np.int64)
    if subtract_green:
        r = (r - g) & 0xFF
        b = (b - g) & 0xFF

    bw = BitWriter("lsb")
    bw.write(width - 1, 14)
    bw.write(height - 1, 14)
    bw.write(1 if channels == 4 else 0, 1)  # alpha hint
    bw.write(0, 3)  # version
    if subtract_green:
        bw.write(1, 1)  # one transform follows
        bw.write(2, 2)  # type 2 = subtract green (no payload)
    bw.write(0, 1)  # end of transform chain
    bw.write(0, 1)  # no color cache
    bw.write(0, 1)  # no meta prefix

    def lengths_of(vals: np.ndarray) -> dict[int, int]:
        counts = np.bincount(vals)  # vals are 0..255 by construction
        (nz,) = counts.nonzero()
        return _huffman_lengths(
            {int(s): int(counts[s]) for s in nz}, _MAX_CODE_LEN
        )

    planes = [
        (lengths_of(g), _GREEN_ALPHABET, g),
        (lengths_of(r), _ARGB_ALPHABET, r),
        (lengths_of(b), _ARGB_ALPHABET, b),
        (lengths_of(a), _ARGB_ALPHABET, a),
    ]
    code_cols = []
    len_cols = []
    n = len(arr)
    for lens, alphabet, vals in planes:
        _write_prefix_code(bw, lens, alphabet)
        if len(lens) == 1:  # zero-bit code: nothing per pixel
            code_cols.append(np.zeros(n, dtype=np.int64))
            len_cols.append(np.zeros(n, dtype=np.int64))
        else:
            table = canonical_codes(sorted(lens.items()))
            code_lut = np.zeros(256, dtype=np.int64)
            len_lut = np.zeros(256, dtype=np.int64)
            for s, (code, ln) in table.items():
                code_lut[s] = code
                len_lut[s] = ln
            code_cols.append(code_lut[vals])
            len_cols.append(len_lut[vals])
    _write_prefix_code(bw, {0: 0}, _DIST_ALPHABET)  # unused distance code

    # pixel-stream emission: per-pixel channel order is g,r,b,a
    # (column interleave); the buffered writer renders headers +
    # pixels in ONE vectorized expansion + packbits.
    code_seq = np.stack(code_cols, axis=1).reshape(-1)
    len_seq = np.stack(len_cols, axis=1).reshape(-1)
    bw.write_codes_bulk(code_seq.tolist(), len_seq.tolist())
    return b"\x2f" + bw.bytes()


def _chunk(tag: bytes, body: bytes) -> bytes:
    """One RIFF sub-chunk with the mandatory even-size padding."""
    out = tag + struct.pack("<I", len(body)) + body
    if len(body) & 1:
        out += b"\x00"
    return out


def _riff(chunks: bytes) -> bytes:
    riff = b"WEBP" + chunks
    return b"RIFF" + struct.pack("<I", len(riff)) + riff


# ---------------------------------------------------------------------------
# animated WebP (VP8X container, ANIM/ANMF chunks — RFC 9649 extended
# file format) over lossless literal-only frames
# ---------------------------------------------------------------------------
#: VP8X feature-flags byte, Animation bit. Decode NEVER reads these
#: flags — frames are detected by ANMF chunk presence, so a
#: mis-remembered bit cannot mis-decode real files; the writer sets it
#: for third-party-reader conformance only.
_VP8X_ANIM_FLAG = 0x02


def _u24(v: int) -> bytes:
    return struct.pack("<I", v)[:3]


def _r24(b: bytes, off: int) -> int:
    return b[off] | (b[off + 1] << 8) | (b[off + 2] << 16)


def encode_webp_animation(
    canvas_width: int,
    canvas_height: int,
    frames: list[dict],
    loop_count: int = 0,
    background: tuple[int, int, int, int] = (255, 255, 255, 255),
) -> bytes:
    """Encode an animated lossless WebP: ``VP8X`` + ``ANIM`` + one
    ``ANMF`` per frame, each frame a literal-only VP8L bitstream
    (:func:`_encode_vp8l_body`). Each ``frames`` entry:

    - ``x``, ``y`` — frame offset on the canvas (MUST be even: the
      container stores offsets divided by 2);
    - ``width``, ``height``, ``pixels`` — the frame raster (flat,
      RGBA when ``channels=4`` in the entry, else RGB);
    - ``duration_ms`` (default 100);
    - ``blend`` (default True) — alpha-blend onto the canvas; False
      overwrites the rect;
    - ``dispose`` (default False) — True restores the frame rect to
      the background color after display.

    ``background`` is the ANIM background color (stored B,G,R,A per
    spec §"ANIM chunk"). The ANMF flags byte packs disposal in bit 0
    and blending in bit 1 (1 = do NOT blend)."""
    chunks = []
    for f in frames:
        if f["x"] % 2 or f["y"] % 2:
            raise ValueError("ANMF frame offsets must be even")
        if f["x"] + f["width"] > canvas_width or (
            f["y"] + f["height"] > canvas_height
        ):
            raise ValueError("frame exceeds canvas")
        rgba = len(f["pixels"]) == f["width"] * f["height"] * 4
        ch = int(f.get("channels", 4 if rgba else 3))
        body = _encode_vp8l_body(
            f["pixels"], f["width"], f["height"], channels=ch
        )
        flags = (1 if f.get("dispose", False) else 0) | (
            0 if f.get("blend", True) else 2
        )
        anmf = (
            _u24(f["x"] // 2)
            + _u24(f["y"] // 2)
            + _u24(f["width"] - 1)
            + _u24(f["height"] - 1)
            + _u24(int(f.get("duration_ms", 100)))
            + bytes([flags])
            + _chunk(b"VP8L", body)
        )
        chunks.append(_chunk(b"ANMF", anmf))
    b, g, r, a = (
        background[2],
        background[1],
        background[0],
        background[3],
    )
    anim = bytes([b, g, r, a]) + struct.pack("<H", loop_count)
    vp8x = (
        bytes([_VP8X_ANIM_FLAG, 0, 0, 0])
        + _u24(canvas_width - 1)
        + _u24(canvas_height - 1)
    )
    return _riff(
        _chunk(b"VP8X", vp8x) + _chunk(b"ANIM", anim) + b"".join(chunks)
    )


def parse_webp_frames(payload: bytes, every_n: int = 1) -> dict | None:
    """Animated-WebP sampled-frame decode (r10, the GIF discipline
    applied to the VP8X/ANIM/ANMF container): compose the canvas
    through the frame sequence — alpha-blend or overwrite per the
    ANMF blending bit, dispose-to-background per the disposal bit —
    and snapshot the composed canvas at every ``every_n``-th frame.

    Frame payloads must be lossless literal-only VP8L (the decode
    subset); lossy ANMF frames (``VP8 ``/``ALPH``) return ``None``
    honestly. Frames PAST the last sampled index never entropy-decode
    (the structural ANMF walk still counts them). The canvas
    initializes to the ANIM background color — the literal spec
    reading, same choice as the GIF arm (renderers compositing onto
    page content treat it as transparent instead).

    A still lossless file (plain ``VP8L`` container, no ANMF)
    parses as a single-frame animation on its own canvas, so one
    media corpus can mix stills and animations row-by-row.

    Returns ``{"fmt": "webp", "canvas_width", "canvas_height",
    "n_frames", "frames": [{"frame_idx", "duration_ms", "dispose",
    "pixels"}, ...]}`` with full-canvas RGBA pixel arrays (flat,
    int64), or ``None`` for non-WebP / corrupt / out-of-subset
    payloads.

    Examples
    --------
        >>> buf = encode_webp_animation(2, 2, [
        ...     dict(x=0, y=0, width=2, height=2,
        ...          pixels=[9, 8, 7] * 4, channels=3),
        ...     dict(x=0, y=0, width=2, height=2,
        ...          pixels=[1, 2, 3] * 4, channels=3, duration_ms=40),
        ... ])
        >>> m = parse_webp_frames(buf)
        >>> (m["n_frames"], list(m["frames"][1]["pixels"][:4]))
        (2, [1, 2, 3, 255])
    """
    if payload is None or every_n < 1:
        return None
    try:
        buf = bytes(payload)
        if len(buf) < 21 or buf[:4] != b"RIFF" or buf[8:12] != b"WEBP":
            return None
        anmf = []
        vp8x = None
        anim = None
        still = None
        for tag, body in _walk_riff(buf):
            if tag == b"ANMF":
                anmf.append(body)
            elif tag == b"VP8X":
                vp8x = body
            elif tag == b"ANIM":
                anim = body
            elif tag == b"VP8L" and still is None:
                still = body
            elif tag in (b"VP8 ", b"ALPH"):
                return None  # lossy flavor: not in the subset
        if not anmf:
            # still image: a one-frame animation on its own canvas
            if still is None:
                return None
            w, h, _hint, rgba = _decode_vp8l_body(still)
            return {
                "fmt": "webp",
                "canvas_width": w,
                "canvas_height": h,
                "n_frames": 1,
                "frames": [
                    {
                        "frame_idx": 0,
                        "duration_ms": 0,
                        "dispose": False,
                        "pixels": rgba.reshape(-1).astype(np.int64),
                    }
                ],
            }
        if vp8x is None or len(vp8x) < 10:
            return None
        cw = _r24(vp8x, 4) + 1
        chh = _r24(vp8x, 7) + 1
        # canvas bomb guard (r11): VP8X dims are 24-bit, so a crafted
        # header could demand a 16M x 16M canvas — cap like the still
        # raster (attributable None, never an executor OOM)
        if cw * chh * 4 > MAX_RASTER_BYTES:
            return None
        if anim is None or len(anim) < 6:
            return None
        bg = np.array(
            [anim[2], anim[1], anim[0], anim[3]], dtype=np.uint8
        )  # stored B,G,R,A
        canvas = np.tile(bg, (chh, cw, 1)).reshape(chh, cw, 4)
        n_frames = len(anmf)
        last_sampled = ((n_frames - 1) // every_n) * every_n
        out_frames = []
        for idx, body in enumerate(anmf):
            if idx > last_sampled:
                break  # frames past the window never entropy-decode
            if len(body) < 16:
                return None
            fx = _r24(body, 0) * 2
            fy = _r24(body, 3) * 2
            fw = _r24(body, 6) + 1
            fh = _r24(body, 9) + 1
            dur = _r24(body, 12)
            flags = body[15]
            dispose = bool(flags & 1)
            no_blend = bool(flags & 2)
            # frame data sub-chunks start at offset 16
            sub = body[16:]
            frame_data = None
            pos = 0
            while pos + 8 <= len(sub):
                tag = sub[pos : pos + 4]
                (size,) = struct.unpack_from("<I", sub, pos + 4)
                cbody = sub[pos + 8 : pos + 8 + size]
                if len(cbody) < size:
                    return None
                if tag == b"VP8L":
                    frame_data = cbody
                    break
                if tag in (b"VP8 ", b"ALPH"):
                    return None  # lossy frame: not in the subset
                pos += 8 + size + (size & 1)
            if frame_data is None:
                return None
            w, h, _hint, rgba = _decode_vp8l_body(frame_data)
            if (w, h) != (fw, fh) or fx + fw > cw or fy + fh > chh:
                return None
            rect = rgba.reshape(h, w, 4)
            window = canvas[fy : fy + fh, fx : fx + fw]
            if no_blend:
                window[:] = rect
            else:
                # src-over alpha blending in integer arithmetic
                # (RFC 9649: blend = src + dst * (1 - src_alpha))
                sa = rect[:, :, 3:4].astype(np.int64)
                da = window[:, :, 3:4].astype(np.int64)
                oa = sa + da * (255 - sa) // 255
                num = rect[:, :, :3].astype(np.int64) * sa * 255 + (
                    window[:, :, :3].astype(np.int64) * da * (255 - sa)
                )
                safe = np.maximum(oa, 1)
                window[:, :, :3] = (num // (safe * 255)).astype(np.uint8)
                window[:, :, 3:4] = oa.astype(np.uint8)
            if idx % every_n == 0:
                out_frames.append(
                    {
                        "frame_idx": idx,
                        "duration_ms": dur,
                        "dispose": dispose,
                        "pixels": canvas.reshape(-1).astype(np.int64),
                    }
                )
            if dispose:
                canvas[fy : fy + fh, fx : fx + fw] = bg
        return {
            "fmt": "webp",
            "canvas_width": cw,
            "canvas_height": chh,
            "n_frames": n_frames,
            "frames": out_frames,
        }
    except (ValueError, IndexError, struct.error, OverflowError):
        return None
