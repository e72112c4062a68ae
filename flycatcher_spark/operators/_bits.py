"""Bit-level machinery shared by the codecs (``webp``, ``jpeg``,
``flac``, ``gif``, ``tiff``).

- :class:`BitReader` / :class:`BitWriter` — one reader and one
  writer for both bit orders. ``"msb"`` streams (JPEG, FLAC, TIFF
  LZW) fill each byte from its most significant bit and put a
  field's most significant bit first; ``"lsb"`` streams (VP8L, GIF
  LZW) fill each byte from bit 0 and put a field's bit 0 first.
- :func:`canonical_codes` / :func:`prefix_lut` — the canonical
  prefix-code construction of RFC 1951 §3.2.2 (JPEG's Annex C
  procedure is the same one) and the flat ``(symbol, consumed_bits)``
  tables its decoders probe with :meth:`BitReader.peek`.
- :func:`lzw_decode` / :func:`lzw_encode` — the GIF and TIFF LZW
  variants, which differ only in the data they take: bit order, the
  early code-width change, and when the encoder resets its table.
"""

from __future__ import annotations

from collections.abc import Iterable

import numpy as np

#: widest field :meth:`BitWriter.bytes` renders in one int64 lane
_FIELD_MAX = 62
#: zero bytes after the data, so a 17-bit peek never slices short
_PAD = b"\x00\x00\x00"
#: each byte with its bit order reversed
_REV8 = bytes(int(f"{i:08b}"[::-1], 2) for i in range(256))


class BitReader:
    """Bit cursor over ``buf`` in ``order`` (``"msb"`` or ``"lsb"``).

    :meth:`read` raises ``ValueError`` past the end. :meth:`peek`
    does not: it reads zero bits there, so a prefix decoder that
    consumed padding is caught by ``pos > nbits``, checked by the
    caller."""

    __slots__ = ("buf", "pos", "nbits", "msb")

    def __init__(self, buf: bytes, order: str) -> None:
        self.buf = bytes(buf) + _PAD
        self.nbits = len(buf) * 8
        self.pos = 0
        self.msb = order == "msb"

    def read(self, n: int) -> int:
        """The next ``n`` bits as an unsigned field."""
        pos = self.pos
        end = pos + n
        if end > self.nbits:
            raise ValueError("bitstream truncated")
        self.pos = end
        last = (end + 7) >> 3
        if self.msb:
            v = int.from_bytes(self.buf[pos >> 3 : last], "big")
            return (v >> ((last << 3) - end)) & ((1 << n) - 1)
        v = int.from_bytes(self.buf[pos >> 3 : last], "little")
        return (v >> (pos & 7)) & ((1 << n) - 1)

    def peek(self, n: int) -> int:
        """The next ``n <= 17`` bits without consuming them (zeros past
        the end): a 3-byte window, shifted and masked."""
        pos = self.pos
        b = pos >> 3
        if self.msb:
            v = int.from_bytes(self.buf[b : b + 3], "big")
            return (v >> (24 - (pos & 7) - n)) & ((1 << n) - 1)
        v = int.from_bytes(self.buf[b : b + 3], "little")
        return (v >> (pos & 7)) & ((1 << n) - 1)

    def skip(self, n: int) -> None:
        self.pos += n


class BitWriter:
    """Buffered bit writer in ``order`` (``"msb"`` or ``"lsb"``).

    Fields accumulate as (value, width, msb_first) triples and
    :meth:`bytes` renders them in one ``np.repeat`` expansion plus
    ``np.packbits``; the last byte is padded with zero bits. Fields
    wider than 62 bits (a long FLAC unary run) are split into chunks,
    so no lane overflows int64."""

    def __init__(self, order: str) -> None:
        self.order = order
        self.vals: list[int] = []
        self.lens: list[int] = []
        self.msb: list[bool] = []
        self.nbits = 0

    def _push(self, value: int, n: int, msb: bool) -> None:
        self.nbits += n
        value &= (1 << n) - 1
        while n > _FIELD_MAX:
            n -= _FIELD_MAX
            if msb:  # high chunk first
                self.vals.append(value >> n)
                value &= (1 << n) - 1
            else:  # low chunk first
                self.vals.append(value & ((1 << _FIELD_MAX) - 1))
                value >>= _FIELD_MAX
            self.lens.append(_FIELD_MAX)
            self.msb.append(msb)
        if n:
            self.vals.append(value)
            self.lens.append(n)
            self.msb.append(msb)

    def write(self, value: int, n: int) -> None:
        """An ``n``-bit field in the stream's bit order, masked to
        ``n`` bits (so a negative value writes its two's complement)."""
        self._push(value, n, self.order == "msb")

    def write_code(self, code: int, length: int) -> None:
        """A prefix code, MSB-of-code first in either order (the
        DEFLATE convention VP8L follows, RFC 9649 §3.7.1)."""
        self._push(code, length, True)

    def write_codes_bulk(self, codes: list[int], lengths: list[int]) -> None:
        """Append many prefix codes (MSB-of-code first each) in one
        go; each code must fit its length, which may be 0."""
        self.vals.extend(codes)
        self.lens.extend(lengths)
        self.msb.extend([True] * len(codes))
        self.nbits += sum(lengths)

    def bytes(self) -> bytes:
        if not self.vals:
            return b""
        vals = np.asarray(self.vals, dtype=np.int64)
        lens = np.asarray(self.lens, dtype=np.int64)
        msb = np.asarray(self.msb, dtype=bool)
        field = np.repeat(np.arange(len(lens)), lens)
        offs = np.arange(len(field)) - np.repeat(np.cumsum(lens) - lens, lens)
        shift = np.where(msb[field], lens[field] - 1 - offs, offs)
        bits = ((vals[field] >> shift) & 1).astype(np.uint8)
        order = "big" if self.order == "msb" else "little"
        return np.packbits(bits, bitorder=order).tobytes()


# ---------------------------------------------------------------------------
# canonical prefix codes
# ---------------------------------------------------------------------------
def canonical_codes(
    pairs: Iterable[tuple[int, int]],
) -> dict[int, tuple[int, int]]:
    """``symbol -> (code, length)`` for ``(symbol, length)`` pairs with
    ``length >= 1``, codes assigned in the order given within each
    length (RFC 1951 §3.2.2). The pairs are not sorted: a JPEG DHT
    lists its symbols in table order. Raises ``ValueError`` on an
    over-subscribed code. An incomplete code is returned as is."""
    pairs = list(pairs)
    max_len = max(ln for _, ln in pairs)
    bl_count = [0] * (max_len + 1)
    for _, ln in pairs:
        bl_count[ln] += 1
    next_code = [0] * (max_len + 1)
    code = 0
    for ln in range(1, max_len + 1):
        code = (code + bl_count[ln - 1]) << 1
        if code + bl_count[ln] > (1 << ln):
            raise ValueError("over-subscribed prefix code")
        next_code[ln] = code
    out: dict[int, tuple[int, int]] = {}
    for sym, ln in pairs:
        out[sym] = (next_code[ln], ln)
        next_code[ln] += 1
    return out


def prefix_lut(
    codes: dict[int, tuple[int, int]], width: int, order: str
) -> tuple[list[int], list[int]]:
    """Flat decode tables for ``codes`` indexed by ``peek(width)`` in
    ``order``: ``(sym_t, len_t)`` hold the decoded symbol and its
    length, and ``len_t[i] == 0`` marks an invalid prefix. In an
    ``"msb"`` stream a code owns the contiguous block under its top
    bits; in an ``"lsb"`` stream (codes sent MSB-first, peeked
    LSB-first) it owns every index whose low bits are the
    bit-reversed code, as in libwebp. ``codes`` must not be
    over-subscribed (:func:`canonical_codes` checks): a slice past
    the table's end would grow the lists."""
    sym_t = [0] * (1 << width)
    len_t = [0] * (1 << width)
    for sym, (code, ln) in codes.items():
        span = 1 << (width - ln)
        if order == "msb":
            where = slice(code * span, (code + 1) * span)
        else:
            rev = (_REV8[code & 0xFF] << 8 | _REV8[code >> 8]) >> (16 - ln)
            where = slice(rev, None, 1 << ln)
        sym_t[where] = [sym] * span
        len_t[where] = [ln] * span
    return sym_t, len_t


# ---------------------------------------------------------------------------
# LZW (GIF89a appendix F, TIFF 6.0 §13)
# ---------------------------------------------------------------------------
def lzw_decode(
    data: bytes,
    min_code_size: int,
    order: str,
    early_change: bool,
    n_out: int | None = None,
) -> bytes:
    """Decode an LZW stream: first width ``min_code_size + 1``, clear
    code ``2^min_code_size``, end code one above it. The table grows
    one entry per code after the first, up to 4096 entries, and the
    width grows (to at most 12 bits) when the table reaches
    ``2^width`` entries, or one entry earlier with ``early_change``
    (TIFF). A clear code resets table and width.

    With ``n_out`` (GIF) decoding stops after ``n_out`` symbols and a
    stream that runs out first raises ``ValueError``; without it
    (TIFF) a stream whose end code is missing returns what it
    decoded. An end code returns early in both cases."""
    clear = 1 << min_code_size
    fresh = [bytes([i]) for i in range(clear)] + [b"", b""]
    table = list(fresh)
    width = min_code_size + 1
    early = 1 if early_change else 0
    br = BitReader(data, order)
    out = bytearray()
    prev: bytes | None = None
    while n_out is None or len(out) < n_out:
        if n_out is None and br.pos + width > br.nbits:
            break
        code = br.read(width)
        if code == clear:
            table = list(fresh)
            width = min_code_size + 1
            prev = None
            continue
        if code == clear + 1:
            break
        if code < len(table):
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]  # the KwKwK case
        else:
            raise ValueError("bad LZW code")
        out += entry
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
        prev = entry
        if len(table) + early >= (1 << width) and width < 12:
            width += 1
    return bytes(out if n_out is None else out[:n_out])


def lzw_encode(
    data: bytes,
    min_code_size: int,
    order: str,
    early_change: bool,
    clear_at: int,
) -> bytes:
    """Greedy longest-match LZW, the inverse of :func:`lzw_decode`
    for the same variant: a leading clear code, then one code per
    longest known string, and a clear code with a fresh table once
    the decoder's table would hold ``clear_at`` entries (GIF 4096,
    TIFF 4094)."""
    clear = 1 << min_code_size
    singles = [bytes([i]) for i in range(256)]
    early = 1 if early_change else 0
    bw = BitWriter(order)
    table = {singles[i]: i for i in range(clear)}
    next_code = clear + 2
    width = min_code_size + 1
    bw.write(clear, width)
    run = b""
    for byte in data:
        cand = run + singles[byte]
        if cand in table:
            run = cand
            continue
        bw.write(table[run], width)
        # The decoder appends one table entry per code it consumes
        # (except the first after a clear), so ITS table length is
        # always next_code - 1 here: mirror its width bump and reset.
        table[cand] = next_code
        next_code += 1
        if next_code - 1 + early >= (1 << width) and width < 12:
            width += 1
        if next_code - 1 >= clear_at:
            bw.write(clear, width)
            table = {singles[i]: i for i in range(clear)}
            next_code = clear + 2
            width = min_code_size + 1
        run = singles[byte]
    if run:
        bw.write(table[run], width)
    bw.write(clear + 1, width)
    return bw.bytes()
