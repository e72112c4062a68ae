"""PDF text extraction with the standard library only — the web
crawl's biggest non-HTML text carrier (reference has no multimodal
surface; this is a §7 extension in the same discipline as
``operators/jpeg.py`` / ``operators/flac.py``: a REAL in-repo writer
produces spec-conformant fixtures and the decoder genuinely walks its
way back to closed-form text the oracle can state outright).

Scope (documented subset, honest about what it is):

- header check; classic cross-reference TABLES (``xref`` sections,
  ``/Prev`` chains from incremental updates — newer entries win) AND
  PDF 1.5 cross-reference STREAMS (r9: /Type /XRef with /W field
  widths, /Index subsections, FlateDecode + PNG/TIFF predictors),
  mixed freely in one /Prev chain, hybrid files' /XRefStm included;
  object STREAMS (/Type /ObjStm — type-2 entries resolve through the
  decoded pair table, one inflate per ObjStm). Encrypted PDFs
  (``/Encrypt`` in any trailer) return ``None`` honestly;
- a real COS object parser: dictionaries, arrays, names, numbers,
  booleans/null, indirect references, literal strings (balanced
  nested parens, all escape sequences incl. octal and
  line-continuation) and hex strings;
- page tree walk from ``/Root`` → ``/Pages`` through nested
  ``/Kids`` to ``/Type /Page`` leaves, ``/Contents`` as a single
  stream or an array of streams (concatenated per spec);
- content streams raw or ``/FlateDecode``-compressed (zlib inflate);
  any other filter → ``None`` for the whole payload;
- text operators inside BT/ET blocks: ``Tj``, ``'``, ``"``, and
  ``TJ`` arrays (a kerning adjustment below ``-100`` /1000-em units
  is rendered as a space — the standard word-gap heuristic); line
  moves ``Td``/``TD``/``T*``/``Tm`` start a new output line. Bytes
  are mapped through Latin-1 (font /Encoding and CMap handling are
  out of scope and documented so).

Runs inside the same Arrow ``mapInPandas`` stage as the other
decoders (:func:`extract_pdf_text`): payloads never shuffle and never
land on the driver; malformed payloads yield null rows.
"""

from __future__ import annotations

import re
import zlib

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ._payload import build_payloads, map_payloads

__all__ = ["parse_pdf", "encode_pdf", "extract_pdf_text", "make_pdf_payload"]


# ---------------------------------------------------------------------------
# COS object parser (the half of ISO 32000 §7.3 this subset needs)
# ---------------------------------------------------------------------------
class _Ref:
    __slots__ = ("num",)

    def __init__(self, num: int):
        self.num = num


_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"


class _Lexer:
    def __init__(self, buf: bytes, pos: int = 0):
        self.buf = buf
        self.pos = pos

    def _skip_ws(self) -> None:
        buf, n = self.buf, len(self.buf)
        while self.pos < n:
            c = self.buf[self.pos]
            if c in _WS:
                self.pos += 1
            elif c == 0x25:  # % comment to EOL
                while self.pos < n and buf[self.pos] not in b"\r\n":
                    self.pos += 1
            else:
                return

    def parse(self):
        """Parse one COS value at the cursor."""
        self._skip_ws()
        buf, pos = self.buf, self.pos
        c = buf[pos : pos + 1]
        if c == b"<":
            if buf[pos : pos + 2] == b"<<":
                return self._dict()
            return self._hex_string()
        if c == b"(":
            return self._literal_string()
        if c == b"[":
            return self._array()
        if c == b"/":
            return self._name()
        if buf[pos : pos + 4] == b"true":
            self.pos += 4
            return True
        if buf[pos : pos + 5] == b"false":
            self.pos += 5
            return False
        if buf[pos : pos + 4] == b"null":
            self.pos += 4
            return None
        return self._number_or_ref()

    def _name(self) -> str:
        self.pos += 1
        start = self.pos
        buf, n = self.buf, len(self.buf)
        while self.pos < n and buf[self.pos] not in _WS and buf[self.pos] not in _DELIM:
            self.pos += 1
        raw = buf[start : self.pos]
        # #xx hex escapes in names (rare but spec'd)
        if b"#" in raw:
            raw = re.sub(
                rb"#([0-9A-Fa-f]{2})",
                lambda m: bytes([int(m.group(1), 16)]),
                raw,
            )
        return "/" + raw.decode("latin-1")

    def _number_or_ref(self):
        buf = self.buf
        m = re.compile(rb"[+-]?\d*\.?\d+").match(buf, self.pos)
        if not m:
            raise ValueError(f"bad token at {self.pos}")
        self.pos = m.end()
        tok = m.group()
        if b"." in tok:
            return float(tok)
        val = int(tok)
        # `N G R` indirect reference lookahead
        save = self.pos
        self._skip_ws()
        m2 = re.compile(rb"(\d+)\s+R(?![A-Za-z0-9])").match(buf, self.pos)
        if m2 and val >= 0:
            self.pos = m2.end()
            return _Ref(val)
        self.pos = save
        return val

    def _array(self) -> list:
        self.pos += 1
        out = []
        while True:
            self._skip_ws()
            if self.buf[self.pos : self.pos + 1] == b"]":
                self.pos += 1
                return out
            out.append(self.parse())

    def _dict(self) -> dict:
        self.pos += 2
        out = {}
        while True:
            self._skip_ws()
            if self.buf[self.pos : self.pos + 2] == b">>":
                self.pos += 2
                return out
            key = self._name()
            out[key] = self.parse()

    def _hex_string(self) -> bytes:
        end = self.buf.index(b">", self.pos)
        hexed = re.sub(rb"\s", b"", self.buf[self.pos + 1 : end])
        self.pos = end + 1
        if len(hexed) % 2:
            hexed += b"0"
        return bytes.fromhex(hexed.decode("ascii"))

    _ESC = {
        ord("n"): b"\n",
        ord("r"): b"\r",
        ord("t"): b"\t",
        ord("b"): b"\b",
        ord("f"): b"\x0c",
        ord("("): b"(",
        ord(")"): b")",
        ord("\\"): b"\\",
    }

    def _literal_string(self) -> bytes:
        buf, n = self.buf, len(self.buf)
        self.pos += 1
        depth = 1
        out = bytearray()
        while self.pos < n:
            c = buf[self.pos]
            if c == 0x5C:  # backslash
                self.pos += 1
                e = buf[self.pos]
                if e in self._ESC:
                    out += self._ESC[e]
                    self.pos += 1
                elif 0x30 <= e <= 0x37:  # 1-3 octal digits
                    oct_digits = bytearray()
                    while (
                        len(oct_digits) < 3
                        and self.pos < n
                        and 0x30 <= buf[self.pos] <= 0x37
                    ):
                        oct_digits.append(buf[self.pos])
                        self.pos += 1
                    out.append(int(oct_digits.decode(), 8) & 0xFF)
                elif e in b"\r\n":  # line continuation
                    self.pos += 1
                    if e == 0x0D and buf[self.pos : self.pos + 1] == b"\n":
                        self.pos += 1
                else:  # unknown escape: the char stands for itself
                    out.append(e)
                    self.pos += 1
            elif c == 0x28:
                depth += 1
                out.append(c)
                self.pos += 1
            elif c == 0x29:
                depth -= 1
                if depth == 0:
                    self.pos += 1
                    return bytes(out)
                out.append(c)
                self.pos += 1
            else:
                out.append(c)
                self.pos += 1
        raise ValueError("unterminated literal string")


# ---------------------------------------------------------------------------
# stream decoding (filters + predictors), shared by the document walk
# and the xref-stream bootstrap
# ---------------------------------------------------------------------------
def _unpredict(data: bytes, parms: dict) -> bytes:
    """Undo a /DecodeParms predictor over decompressed stream bytes:
    1 = none, 2 = TIFF horizontal differencing (8-bit subset), >= 10 =
    the PNG row filters (each row is a filter-type byte + Columns
    sample bytes; the writer's declared value 10-15 only sets the
    family — the per-row byte picks the actual filter)."""
    pred = int(parms.get("/Predictor", 1))
    if pred == 1:
        return data
    colors = int(parms.get("/Colors", 1))
    bpc = int(parms.get("/BitsPerComponent", 8))
    cols = int(parms.get("/Columns", 1))
    if bpc != 8:
        raise ValueError("predictor bpc subset is 8")
    bpp = max(1, colors * bpc // 8)
    rowlen = (cols * colors * bpc + 7) // 8
    if pred == 2:  # TIFF differencing
        out = bytearray(data)
        for r in range(0, len(out) - rowlen + 1, rowlen):
            for j in range(bpp, rowlen):
                out[r + j] = (out[r + j] + out[r + j - bpp]) & 0xFF
        return bytes(out)
    if pred < 10:
        raise ValueError(f"unsupported predictor {pred}")
    out = bytearray()
    prev = bytearray(rowlen)
    pos = 0
    while pos + 1 + rowlen <= len(data) + 1 and pos < len(data):
        ft = data[pos]
        pos += 1
        row = bytearray(data[pos : pos + rowlen])
        if len(row) < rowlen:
            raise ValueError("short predictor row")
        pos += rowlen
        if ft == 1:  # Sub
            for j in range(bpp, rowlen):
                row[j] = (row[j] + row[j - bpp]) & 0xFF
        elif ft == 2:  # Up
            for j in range(rowlen):
                row[j] = (row[j] + prev[j]) & 0xFF
        elif ft == 3:  # Average
            for j in range(rowlen):
                left = row[j - bpp] if j >= bpp else 0
                row[j] = (row[j] + (left + prev[j]) // 2) & 0xFF
        elif ft == 4:  # Paeth
            for j in range(rowlen):
                a = row[j - bpp] if j >= bpp else 0
                b = prev[j]
                c = prev[j - bpp] if j >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                if pa <= pb and pa <= pc:
                    pr = a
                elif pb <= pc:
                    pr = b
                else:
                    pr = c
                row[j] = (row[j] + pr) & 0xFF
        elif ft != 0:
            raise ValueError(f"bad PNG filter type {ft}")
        out += row
        prev = row
    return bytes(out)


def _decode_stream(sdict: dict, data: bytes, resolve) -> bytes:
    """Apply a stream's /Filter chain (+ per-filter /DecodeParms) to
    its raw bytes. FlateDecode only — anything else raises (the whole
    payload then honestly returns None)."""
    filt = resolve(sdict.get("/Filter"))
    if filt is None:
        return data
    filters = filt if isinstance(filt, list) else [filt]
    parms = resolve(sdict.get("/DecodeParms"))
    if parms is None:
        parms_list: list = [None] * len(filters)
    elif isinstance(parms, list):
        parms_list = list(parms) + [None] * (len(filters) - len(parms))
    else:
        parms_list = [parms] + [None] * (len(filters) - 1)
    for f, pa in zip(filters, parms_list):
        f = resolve(f)
        pa = resolve(pa)
        if f == "/FlateDecode":
            # bounded inflate (r11): a ~1 MB crafted deflate stream
            # expands ~1000x — same 64 MiB policy cap as the WARC
            # gzip guard; over-cap decodes as a malformed stream
            from . import warc as _warc

            data = _warc._inflate_capped(
                data, wbits=15, cap=_warc.MAX_DECODED_BYTES
            )
            if data is None:
                raise ValueError("FlateDecode output exceeds cap")
            if isinstance(pa, dict):
                data = _unpredict(
                    data, {k: resolve(v) for k, v in pa.items()}
                )
        else:
            raise ValueError(f"unsupported filter {f}")
    return data


# ---------------------------------------------------------------------------
# document walk
# ---------------------------------------------------------------------------
_XREF_ENTRY_RE = re.compile(rb"\s*(\d+)\s+(\d+)\s*[\r\n]+")


def _parse_classic_section(buf: bytes, pos: int, offsets: dict) -> dict:
    """One classic ``xref`` table section + its trailer dict; entries
    setdefault into ``offsets`` (the chain walks newest → oldest, so
    first seen wins)."""
    cur = pos + 4
    while True:
        m = _XREF_ENTRY_RE.match(buf, cur)
        if not m:
            break
        first, count = int(m.group(1)), int(m.group(2))
        cur = m.end()
        for i in range(count):
            ent = buf[cur : cur + 20]
            if ent[17:18] == b"n":
                offsets.setdefault(first + i, ("c", int(ent[:10])))
            elif ent[17:18] == b"f":
                # free entries shadow too: the chain walks newest →
                # oldest, so an object freed by an incremental update
                # must NOT be resurrected from an older section
                # (ISO 32000 §7.5.4 — the newest entry wins, n or f)
                offsets.setdefault(first + i, None)
            cur += 20
    m = re.compile(rb"\s*trailer\s*").match(buf, cur)
    if not m:
        raise ValueError("missing trailer")
    return _Lexer(buf, m.end()).parse()


def _parse_xref_stream_at(buf: bytes, pos: int, offsets: dict) -> dict:
    """A PDF 1.5 cross-reference STREAM (ISO 32000 §7.5.8): an
    indirect stream object whose dict doubles as the trailer. Fields
    per entry are /W-sized big-endian ints over the decoded bytes
    (FlateDecode + optional PNG/TIFF predictor): type 0 = free,
    type 1 = (offset, gen), type 2 = (object-stream number, index
    within it). /Index defaults to [0 /Size]. Dict values must be
    direct (the spec forbids indirect refs here — there is no xref to
    resolve them through yet)."""
    m = _OBJ_RE.match(buf, pos)
    if not m:
        raise ValueError("startxref points at no object")
    lex = _Lexer(buf, m.end())
    sdict = lex.parse()
    if not isinstance(sdict, dict) or sdict.get("/Type") != "/XRef":
        raise ValueError("not a cross-reference stream")
    lex._skip_ws()
    if buf[lex.pos : lex.pos + 6] != b"stream":
        raise ValueError("xref stream without stream data")
    p = lex.pos + 6
    if buf[p : p + 2] == b"\r\n":
        p += 2
    elif buf[p : p + 1] == b"\n":
        p += 1
    length = sdict.get("/Length")
    if not isinstance(length, int):
        raise ValueError("xref stream /Length must be direct")
    data = _decode_stream(sdict, buf[p : p + length], lambda v: v)
    w = sdict.get("/W")
    if not (isinstance(w, list) and len(w) == 3):
        raise ValueError("bad /W")
    w1, w2, w3 = (int(x) for x in w)
    size = int(sdict.get("/Size", 0))
    index = sdict.get("/Index") or [0, size]
    ent_len = w1 + w2 + w3
    cur = 0
    for k in range(0, len(index), 2):
        first, count = int(index[k]), int(index[k + 1])
        for i in range(count):
            ent = data[cur : cur + ent_len]
            if len(ent) < ent_len:
                raise ValueError("xref stream data short")
            cur += ent_len
            etype = (
                int.from_bytes(ent[:w1], "big") if w1 else 1
            )  # w1=0 -> type 1 default per spec
            f2 = int.from_bytes(ent[w1 : w1 + w2], "big")
            f3 = int.from_bytes(ent[w1 + w2 :], "big")
            num = first + i
            if etype == 1:
                offsets.setdefault(num, ("c", f2))
            elif etype == 2:
                offsets.setdefault(num, ("s", f2, f3))
            elif etype == 0:
                # free: shadow older in-use entries (newest wins)
                offsets.setdefault(num, None)
            # unknown types: no entry (spec says treat as type 1-ish
            # null; absent is the tolerant reading)
    return sdict


def _parse_xref_chain(buf: bytes, start: int):
    """Walk the cross-reference chain from ``startxref`` — classic
    ``xref`` tables AND PDF 1.5 cross-reference streams, mixed freely
    via ``/Prev`` (hybrid files' ``/XRefStm`` side streams included).
    Returns (offsets: {obj_num: ("c", byte_offset) | ("s", objstm_num,
    idx)}, merged trailer dict) with NEWER sections winning
    (incremental updates prepend the chain)."""
    offsets: dict[int, tuple] = {}
    trailer: dict = {}
    seen: set[int] = set()
    pos = start
    while True:
        if pos in seen:
            break
        seen.add(pos)
        lex = _Lexer(buf, pos)
        lex._skip_ws()
        if buf[lex.pos : lex.pos + 4] == b"xref":
            tdict = _parse_classic_section(buf, lex.pos, offsets)
            # hybrid-reference file: the classic trailer points at a
            # side xref STREAM carrying the entries hidden from
            # table-only readers (ISO 32000 §7.5.8.4); the table's own
            # entries were setdefault'd first, so they keep precedence
            if "/XRefStm" in tdict:
                _parse_xref_stream_at(buf, int(tdict["/XRefStm"]), offsets)
        else:
            tdict = _parse_xref_stream_at(buf, lex.pos, offsets)
        for k, v in tdict.items():
            trailer.setdefault(k, v)
        if "/Prev" in tdict:
            pos = int(tdict["/Prev"])
        else:
            break
    return offsets, trailer


_OBJ_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b")


class _Doc:
    def __init__(self, buf: bytes, offsets: dict[int, tuple]):
        self.buf = buf
        self.offsets = offsets
        self._cache: dict[int, object] = {}
        self._objstm_cache: dict[int, tuple[list, bytes, int]] = {}

    def resolve(self, v):
        while isinstance(v, _Ref):
            v = self.get(v.num)
        return v

    def get(self, num: int):
        if num in self._cache:
            return self._cache[num]
        ent = self.offsets.get(num)
        if ent is None:
            return None
        if ent[0] == "s":
            val = self._objstm_member(ent[1], ent[2], num)
            self._cache[num] = val
            return val
        off = ent[1]
        m = _OBJ_RE.match(self.buf, off)
        if not m or int(m.group(1)) != num:
            raise ValueError(f"object {num} not at xref offset")
        lex = _Lexer(self.buf, m.end())
        val = lex.parse()
        lex._skip_ws()
        if self.buf[lex.pos : lex.pos + 6] == b"stream":
            p = lex.pos + 6
            if self.buf[p : p + 2] == b"\r\n":
                p += 2
            elif self.buf[p : p + 1] == b"\n":
                p += 1
            length = self.resolve(val.get("/Length"))
            data = self.buf[p : p + int(length)]
            val = ("stream", val, data)
        self._cache[num] = val
        return val

    def _objstm_member(self, stm_num: int, idx: int, want: int):
        """Object inside an object STREAM (ISO 32000 §7.5.7, /Type
        /ObjStm): the decoded stream opens with /N (objnum, offset)
        integer pairs, then the bodies start at /First. Members are
        direct values (no obj/endobj wrapper, never streams). The
        decoded stream + pair table cache per ObjStm, so N members
        cost one inflate."""
        cached = self._objstm_cache.get(stm_num)
        if cached is None:
            # cycle guard: the container itself must be a regular
            # (type-1) object. A crafted xref mapping an ObjStm's own
            # number to a type-2 entry (itself, or a mutual cycle)
            # would otherwise recurse get → _objstm_member → get
            # until RecursionError and crash the Spark task instead
            # of yielding the documented null row.
            cont = self.offsets.get(stm_num)
            if cont is not None and cont[0] == "s":
                raise ValueError("ObjStm container has a type-2 xref entry")
            stm = self.get(stm_num)
            if not (isinstance(stm, tuple) and stm[0] == "stream"):
                raise ValueError("ObjStm entry points at a non-stream")
            _, sdict, _ = stm
            if sdict.get("/Type") != "/ObjStm":
                raise ValueError("ObjStm entry points at a non-ObjStm")
            data = self.stream_bytes(stm)
            n = int(self.resolve(sdict.get("/N")))
            first = int(self.resolve(sdict.get("/First")))
            lex = _Lexer(data)
            pairs = []
            for _ in range(n):
                onum = lex.parse()
                ooff = lex.parse()
                pairs.append((int(onum), int(ooff)))
            cached = (pairs, data, first)
            self._objstm_cache[stm_num] = cached
        pairs, data, first = cached
        if not 0 <= idx < len(pairs):
            raise ValueError("ObjStm index out of range")
        onum, ooff = pairs[idx]
        if onum != want:
            raise ValueError("ObjStm pair table disagrees with xref")
        return _Lexer(data, first + ooff).parse()

    def stream_bytes(self, v) -> bytes:
        v = self.resolve(v)
        if not (isinstance(v, tuple) and v[0] == "stream"):
            raise ValueError("expected stream")
        _, sdict, data = v
        return _decode_stream(sdict, data, self.resolve)


def _walk_pages(doc: _Doc, node, out: list, depth: int = 0) -> None:
    if depth > 64:
        raise ValueError("page tree too deep")
    node = doc.resolve(node)
    if not isinstance(node, dict):
        raise ValueError("bad page tree node")
    if node.get("/Type") == "/Page" or (
        "/Kids" not in node and "/Contents" in node
    ):
        out.append(node)
        return
    for kid in doc.resolve(node.get("/Kids")) or []:
        _walk_pages(doc, kid, out, depth + 1)


# text-showing extraction over one page's (concatenated) content bytes
_TJ_SPACE_KERN = -100.0  # /1000-em units; below this a TJ gap is a word break


def _page_text(content: bytes) -> str:
    lex = _Lexer(content)
    n = len(content)
    stack: list = []
    lines: list[str] = []
    cur: list[str] = []

    def newline() -> None:
        if cur:
            lines.append("".join(cur))
            cur.clear()

    def show(raw: bytes) -> None:
        cur.append(raw.decode("latin-1"))

    op_re = re.compile(rb"[A-Za-z'\"*]+")
    while True:
        lex._skip_ws()
        if lex.pos >= n:
            break
        c = content[lex.pos : lex.pos + 1]
        if c in b"(<[/" or c.isdigit() or c in b"+-." or c == b"<":
            # `<<` inline dicts (e.g. BDC property lists) parse fine too
            stack.append(lex.parse())
            continue
        m = op_re.match(content, lex.pos)
        if not m:  # stray byte — skip it
            lex.pos += 1
            continue
        op = m.group().decode("latin-1")
        lex.pos = m.end()
        if op == "Tj" and stack and isinstance(stack[-1], bytes):
            show(stack[-1])
        elif op == "'" and stack and isinstance(stack[-1], bytes):
            newline()
            show(stack[-1])
        elif op == '"' and stack and isinstance(stack[-1], bytes):
            newline()
            show(stack[-1])
        elif op == "TJ" and stack and isinstance(stack[-1], list):
            for el in stack[-1]:
                if isinstance(el, bytes):
                    show(el)
                elif isinstance(el, (int, float)) and el < _TJ_SPACE_KERN:
                    cur.append(" ")
        elif op in ("Td", "TD", "T*", "Tm"):
            newline()
        stack.clear()
    newline()
    return "\n".join(lines)


def parse_pdf(payload: bytes) -> dict | None:
    """Extract text from a PDF payload. Returns ``{"n_pages", "text",
    "n_chars"}`` or ``None`` for non-PDF / corrupt / encrypted /
    out-of-subset (exotic filter) payloads. Both cross-reference
    flavors are real: classic tables and PDF 1.5 xref/object streams.

    Examples
    --------
        >>> body = encode_pdf([["Hello (world)", "second line"]])
        >>> m = parse_pdf(body)
        >>> (m["n_pages"], m["text"])
        (1, 'Hello (world)\\nsecond line')
        >>> parse_pdf(b"GIF89a....") is None
        True
    """
    if payload is None:
        return None
    try:
        buf = bytes(payload)
        if not buf.startswith(b"%PDF-"):
            return None
        tail = buf[-256:]
        m = None
        for m in re.finditer(rb"startxref\s+(\d+)", tail):
            pass
        if m is None:
            return None
        offsets, trailer = _parse_xref_chain(buf, int(m.group(1)))
        if "/Encrypt" in trailer:
            return None
        doc = _Doc(buf, offsets)
        root = doc.resolve(trailer.get("/Root"))
        if not isinstance(root, dict):
            return None
        pages: list[dict] = []
        _walk_pages(doc, root.get("/Pages"), pages)
        page_texts = []
        for pg in pages:
            contents = doc.resolve(pg.get("/Contents"))
            if contents is None:
                page_texts.append("")
                continue
            parts = contents if isinstance(contents, list) else [contents]
            # multiple /Contents streams concatenate with a separating
            # whitespace byte (ISO 32000 §7.8.2)
            raw = b"\n".join(doc.stream_bytes(p) for p in parts)
            page_texts.append(_page_text(raw))
        text = "\n".join(page_texts)
        return {"n_pages": len(pages), "text": text, "n_chars": len(text)}
    except (
        ValueError,
        KeyError,
        IndexError,
        TypeError,
        zlib.error,
        OverflowError,
        RecursionError,  # backstop: pathological nesting in crafted files
    ):
        return None


# ---------------------------------------------------------------------------
# writer (fixture/oracle generator — the encode_gif/encode_flac
# discipline: a spec-conformant producer so round-trip tests pin real
# parsing, not a parser testing itself against its own output)
# ---------------------------------------------------------------------------
def _esc_literal(s: bytes) -> bytes:
    return (
        s.replace(b"\\", b"\\\\").replace(b"(", b"\\(").replace(b")", b"\\)")
    )


def _show_ops(line: str, variant: int) -> bytes:
    """Encode one text line as a show operation, cycling the spec's
    representations so the extractor's full surface is exercised:
    0 = literal-string Tj, 1 = TJ array (the space nearest the middle
    becomes a -250 kern), 2 = hex-string Tj, 3 = literal Tj with the
    first byte as an octal escape. All four decode to ``line``."""
    raw = line.encode("latin-1")
    v = variant % 4
    if v == 1 and b" " in raw:
        spaces = [i for i, ch in enumerate(raw) if ch == 0x20]
        mid = min(spaces, key=lambda i: abs(i - len(raw) // 2))
        a, b = raw[:mid], raw[mid + 1 :]
        # a small kern (> -100) must NOT read as a space; plant one
        return (
            b"[("
            + _esc_literal(a)
            + b") -250 -40 ("
            + _esc_literal(b)
            + b")] TJ"
        )
    if v == 2:
        return b"<" + raw.hex().encode() + b"> Tj"
    if v == 3 and raw:
        first = ("\\%03o" % raw[0]).encode()
        return b"(" + first + _esc_literal(raw[1:]) + b") Tj"
    return b"(" + _esc_literal(raw) + b") Tj"


def encode_pdf(
    pages: list[list[str]],
    compress: bool = False,
    variant: int = 0,
    nest_kids: bool = False,
    split_contents: bool = False,
    incremental_title: str | None = None,
    encrypt_marker: bool = False,
    xref_stream: bool = False,
    objstm: bool = False,
    xref_predictor: int | None = None,
) -> bytes:
    """Spec-conformant PDF writer: catalog, page tree (optionally
    one nested /Pages level per page via ``nest_kids``), a Type1 font,
    one content stream per page (``split_contents`` halves it into a
    two-element /Contents array), BT/ET text objects positioned with
    Td line moves, show ops cycled per line by ``variant`` (see
    :func:`_show_ops`). ``compress`` deflates content streams
    (/FlateDecode). ``incremental_title`` appends a real incremental
    update (new /Info object + second classic xref section with
    /Prev — with ``xref_stream`` that makes a MIXED table→stream
    chain). ``encrypt_marker`` plants /Encrypt in the trailer
    (fixture for the honest-None path; no actual RC4/AES machinery).

    r9, the PDF 1.5 side: ``xref_stream`` replaces the classic table
    with a real cross-reference STREAM (/Type /XRef, /W [1 4 2],
    big-endian fields, always FlateDecode; ``xref_predictor`` wraps
    it in a PNG Up (12) or TIFF (2) predictor with /DecodeParms and a
    two-range /Index). ``objstm`` additionally packs every non-stream
    object into a /Type /ObjStm object STREAM referenced by type-2
    xref entries (implies ``xref_stream`` — classic tables cannot
    express type 2)."""
    if objstm:
        xref_stream = True
    objs: dict[int, bytes] = {}
    stream_nums: set[int] = set()
    next_num = 1

    def add(body: bytes) -> int:
        nonlocal next_num
        num = next_num
        next_num += 1
        objs[num] = body
        return num

    def stream_obj(data: bytes) -> int:
        if compress:
            data = zlib.compress(data)
            extra = b" /Filter /FlateDecode"
        else:
            extra = b""
        num = add(
            b"<< /Length %d%s >>\nstream\n%s\nendstream"
            % (len(data), extra, data)
        )
        stream_nums.add(num)
        return num

    cat_num = add(b"")  # placeholder; filled after pages exist
    pages_num = add(b"")
    font_num = add(
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
    )
    kid_refs: list[int] = []
    for p_idx, lines in enumerate(pages):
        ops = [b"BT /F1 12 Tf 72 720 Td"]
        for l_idx, line in enumerate(lines):
            if l_idx:
                ops.append(b"0 -14 Td")
            ops.append(_show_ops(line, variant + p_idx + l_idx))
        ops.append(b"ET")
        content = b"\n".join(ops)
        if split_contents and len(ops) > 3:
            # split between two BT/ET blocks — both halves are valid
            # standalone streams and concatenation restores the page
            half = len(ops) // 2
            # ensure the cut lands on a boundary between ops, keeping
            # BT...ET integrity per half
            first = b"\n".join(ops[:half]) + b"\nET"
            second = b"BT /F1 12 Tf 72 0 Td\n" + b"\n".join(ops[half:])
            c_refs = [stream_obj(first), stream_obj(second)]
            contents_val = b"[" + b" ".join(b"%d 0 R" % r for r in c_refs) + b"]"
        else:
            contents_val = b"%d 0 R" % stream_obj(content)
        page_num = add(b"")  # body set below once parent is known
        parent = pages_num
        if nest_kids:
            inner = add(b"")
            objs[inner] = (
                b"<< /Type /Pages /Parent %d 0 R /Kids [%d 0 R] /Count 1 >>"
                % (pages_num, page_num)
            )
            parent = inner
            kid_refs.append(inner)
        else:
            kid_refs.append(page_num)
        objs[page_num] = (
            b"<< /Type /Page /Parent %d 0 R /MediaBox [0 0 612 792] "
            b"/Resources << /Font << /F1 %d 0 R >> >> /Contents %s >>"
            % (parent, font_num, contents_val)
        )
    objs[cat_num] = b"<< /Type /Catalog /Pages %d 0 R >>" % pages_num
    objs[pages_num] = (
        b"<< /Type /Pages /Kids [%s] /Count %d >>"
        % (b" ".join(b"%d 0 R" % r for r in kid_refs), len(pages))
    )

    enc = b" /Encrypt 9999 0 R" if encrypt_marker else b""
    version = b"1.5" if xref_stream else b"1.4"
    out = bytearray(b"%PDF-" + version + b"\n%\xe2\xe3\xcf\xd3\n")
    entries: dict[int, tuple] = {}  # num -> ("c", off) | ("s", stm, idx)

    packed_nums: list[int] = []
    if objstm:
        packed_nums = [n for n in sorted(objs) if n not in stream_nums]
        offs: list[tuple[int, int]] = []
        bodies: list[bytes] = []
        cur = 0
        for n in packed_nums:
            b = objs[n] + b"\n"
            offs.append((n, cur))
            bodies.append(b)
            cur += len(b)
        header = (
            " ".join(f"{n} {o}" for n, o in offs).encode() + b"\n"
        )
        stm_data = header + b"".join(bodies)
        first = len(header)
        payload = zlib.compress(stm_data) if compress else stm_data
        filt = b" /Filter /FlateDecode" if compress else b""
        objstm_num = next_num
        next_num += 1
        objs[objstm_num] = (
            b"<< /Type /ObjStm /N %d /First %d /Length %d%s >>"
            b"\nstream\n%s\nendstream"
            % (len(offs), first, len(payload), filt, payload)
        )
        stream_nums.add(objstm_num)
        for idx, (n, _) in enumerate(offs):
            entries[n] = ("s", objstm_num, idx)

    for num in sorted(objs):
        if num in packed_nums:
            continue  # lives inside the ObjStm
        entries[num] = ("c", len(out))
        out += b"%d 0 obj\n" % num + objs[num] + b"\nendobj\n"

    if xref_stream:
        xref_num = next_num
        next_num += 1
        xref_pos = len(out)
        entries[xref_num] = ("c", xref_pos)
        size = next_num
        rows = []
        for n in range(size):
            e = entries.get(n)
            if e is None:
                rows.append((0, 0, 65535))  # free
            elif e[0] == "c":
                rows.append((1, e[1], 0))
            else:
                rows.append((2, e[1], e[2]))
        raw = b"".join(
            bytes([t]) + f2.to_bytes(4, "big") + f3.to_bytes(2, "big")
            for t, f2, f3 in rows
        )
        parms = b""
        index = b""
        if xref_predictor == 2:  # TIFF horizontal differencing, bpp=1
            body = bytearray()
            for r in range(0, len(raw), 7):
                row = raw[r : r + 7]
                body += bytes(
                    [row[0]]
                    + [(row[j] - row[j - 1]) & 0xFF for j in range(1, 7)]
                )
            raw = bytes(body)
            parms = b" /DecodeParms << /Predictor 2 /Columns 7 >>"
        elif xref_predictor is not None and xref_predictor >= 10:
            body = bytearray()
            prevrow = bytes(7)
            for r in range(0, len(raw), 7):
                row = raw[r : r + 7]
                body += bytes([2]) + bytes(  # PNG Up
                    (row[j] - prevrow[j]) & 0xFF for j in range(7)
                )
                prevrow = row
            raw = bytes(body)
            parms = (
                b" /DecodeParms << /Predictor %d /Columns 7 >>"
                % xref_predictor
            )
            # exercise multi-range /Index parsing while we're here
            mid = size // 2
            index = b" /Index [0 %d %d %d]" % (mid, mid, size - mid)
        payload = zlib.compress(raw)
        out += (
            b"%d 0 obj\n<< /Type /XRef /Size %d /W [1 4 2]%s%s"
            b" /Root %d 0 R%s /Filter /FlateDecode /Length %d >>"
            b"\nstream\n%s\nendstream\nendobj\n"
            % (
                xref_num,
                size,
                index,
                parms,
                cat_num,
                enc,
                len(payload),
                payload,
            )
        )
        out += b"startxref\n%d\n%%%%EOF\n" % xref_pos
    else:
        xref_pos = len(out)
        out += b"xref\n0 %d\n" % (next_num)
        out += b"0000000000 65535 f \n"
        for num in sorted(objs):
            out += b"%010d 00000 n \n" % entries[num][1]
        out += (
            b"trailer\n<< /Size %d /Root %d 0 R%s >>\nstartxref\n%d\n%%%%EOF\n"
            % (next_num, cat_num, enc, xref_pos)
        )

    if incremental_title is not None:
        # a REAL incremental update: append an /Info object and a
        # second CLASSIC xref section chaining back via /Prev — the
        # extractor must follow the chain (newest first) to find
        # every object; over an xref_stream base this exercises the
        # mixed table -> stream chain
        info_num = next_num
        info_off = len(out)
        out += (
            b"%d 0 obj\n<< /Title (%s) >>\nendobj\n"
            % (info_num, _esc_literal(incremental_title.encode("latin-1")))
        )
        xref2 = len(out)
        out += b"xref\n%d 1\n%010d 00000 n \n" % (info_num, info_off)
        out += (
            b"trailer\n<< /Size %d /Root %d 0 R /Info %d 0 R /Prev %d >>\n"
            b"startxref\n%d\n%%%%EOF\n"
            % (info_num + 1, cat_num, info_num, xref_pos, xref2)
        )
    return bytes(out)


# ---------------------------------------------------------------------------
# Spark plumbing
# ---------------------------------------------------------------------------
PDF_META_FIELDS = [
    T.StructField("n_pages", T.LongType()),
    T.StructField("n_chars", T.LongType()),
    T.StructField("text", T.StringType()),
]


def extract_pdf_text(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """REAL PDF text extraction over a binary column: xref walk, page
    tree, FlateDecode, BT/ET text operators (:func:`parse_pdf`) inside
    an Arrow ``mapInPandas`` stage — map-only, payloads stay on
    executors, corrupt/encrypted/out-of-subset payloads yield null
    metadata rather than failing the stage. At 100 TB this is the
    same embarrassingly-parallel shape as the image/audio decoders:
    per-payload CPU with zero shuffles."""

    def rows_of(p: bytes | None) -> list[tuple] | None:
        meta = parse_pdf(p)
        if meta is None:
            return None
        return [(meta["n_pages"], meta["n_chars"], meta["text"])]

    return map_payloads(df, id_col, payload_col, PDF_META_FIELDS, rows_of)


def make_pdf_payload(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Build a deterministic REAL PDF per row (fixture/oracle
    generator): ``1 + id % 3`` pages, each two closed-form lines —
    ``"Doc {id} page {p}"`` and ``"body {(id*7+p) % 97} (pdf)"``
    (parens exercise literal-string escaping) — with the show-op
    variant cycled by id+page+line, content streams deflated for even
    ids, a two-stream /Contents split every 5th id, a nested page
    tree every 7th, and a real incremental update every 3rd. Every
    ODD id stores its cross-references as a PDF 1.5 xref STREAM (r9):
    ids 1,3 mod 8 additionally pack the document objects into an
    /ObjStm, id 5 mod 8 wraps the xref stream in the PNG Up
    predictor, id 7 mod 8 in TIFF differencing, and odd multiples of
    3 chain a classic incremental section over the stream base (the
    mixed-chain walk). The text is identical across containers, so
    DuckDB states it outright while :func:`parse_pdf` genuinely
    inflates and walks whichever flavor it gets."""

    def build_one(i: int) -> bytes:
        pages = [
            [f"Doc {i} page {p}", f"body {(i * 7 + p) % 97} (pdf)"]
            for p in range(1 + i % 3)
        ]
        return encode_pdf(
            pages,
            compress=(i % 2 == 0),
            variant=i,
            nest_kids=(i % 7 == 0),
            split_contents=(i % 5 == 0),
            incremental_title=(f"rev{i}" if i % 3 == 0 else None),
            xref_stream=(i % 2 == 1),
            objstm=(i % 8 in (1, 3)),
            xref_predictor=(
                12 if i % 8 == 5 else (2 if i % 8 == 7 else None)
            ),
        )

    return build_payloads(df, id_col, payload_col, build_one)
