"""Baseline JPEG (ITU-T T.81) decoding with stdlib + numpy only —
the third real image format after PNM and PNG
(:func:`multimodal.parse_image` dispatches all three), because a real
100 TB web corpus is overwhelmingly JPEG.

Scope (documented subset, honest about what it is):

- baseline sequential DCT (SOF0) and 8-bit extended sequential
  (SOF1 — the same decode path with looser table limits), Huffman
  entropy coding — the majority of web JPEGs;
- progressive DCT (SOF2, r8) — spectral selection and successive
  approximation per T.81 Annex G: DC first/refinement scans, AC
  first scans with EOB runs, and AC refinement scans with buffered
  correction bits, accumulated across scans into per-component
  coefficient arrays and IDCT'd once at EOI. Progressive is the
  second-most-common web encoding; previously it silently decoded
  to ``None``;
- grayscale and YCbCr with arbitrary sampling factors (4:4:4, 4:2:0,
  4:2:2 ...), chroma upsampled by nearest-neighbor pixel replication
  (T.81 leaves the upsampling filter to the decoder; replication is
  the documented choice here);
- restart markers (DRI/RSTn) honored in both sequential and
  progressive scans;
- arithmetic coding, hierarchical/lossless frames, and 12-bit
  precision return ``None`` (unsupported, not wrong).

The decode is the real thing — marker walk, DHT canonical-Huffman
reconstruction, byte unstuffing per restart interval, DC prediction,
run/size AC coefficients, dequantization, dezigzag, orthonormal 2-D
IDCT, level shift, YCbCr→RGB — not a header sniff. The bit reader
and writer and the canonical code construction are the shared ones of
:mod:`._bits`; byte stuffing, the pad-with-1s flush and the RSTn
markers stay here, as transforms of each interval's bytes.

What makes it oracle-checkable without a reference codec in the
container: the fixture encoder (:func:`encode_jpeg`) is a
spec-conformant baseline writer that takes DCT-DOMAIN coefficient
blocks. A DC-only block with quantizer 8 decodes to the closed-form
flat value ``clip(128 + dc, 0, 255)`` (the orthonormal IDCT of a
DC-only block is exactly ``dc/8`` per pixel), so DuckDB states every
pixel statistic of the ``jpeg_decode`` fixtures outright while the
decoder genuinely Huffman-decodes and IDCTs its way there. The AC
and chroma paths are pinned by pytest against an independent IDCT of
the planted coefficients.

Runs inside the same Arrow ``mapInPandas`` stage as the other
decoders: payloads never shuffle, corrupt payloads yield null rows.
"""

from __future__ import annotations

import numpy as np

from ._bits import BitReader, BitWriter, canonical_codes, prefix_lut

__all__ = ["parse_jpeg", "encode_jpeg", "encode_jpeg_progressive", "ZIGZAG"]

#: zigzag scan order: ZIGZAG[i] = (row, col) of the i-th coefficient
ZIGZAG = []
#: coefficient-grid decompression-bomb cap (r11): SOF dims bound the
#: decoder's allocation, not the input size — 64 MiB, the same policy
#: figure as warc.MAX_DECODED_BYTES / webp.MAX_RASTER_BYTES
MAX_COEF_BYTES = 64 * 1024 * 1024

_r = _c = 0
for _i in range(64):
    ZIGZAG.append((_r, _c))
    if (_r + _c) % 2 == 0:  # moving up-right
        if _c == 7:
            _r += 1
        elif _r == 0:
            _c += 1
        else:
            _r -= 1
            _c += 1
    else:  # moving down-left
        if _r == 7:
            _c += 1
        elif _c == 0:
            _r += 1
        else:
            _r += 1
            _c -= 1
del _r, _c, _i

# orthonormal 8x8 DCT-II basis: A[u, x] = s(u) cos((2x+1) u pi / 16);
# IDCT is A.T @ F @ A
_A = np.zeros((8, 8))
for _u in range(8):
    s = np.sqrt(0.125) if _u == 0 else 0.5
    for _x in range(8):
        _A[_u, _x] = s * np.cos((2 * _x + 1) * _u * np.pi / 16)
del _u, _x, s


_HUFF_CACHE: dict = {}


def _dht_codes(counts, symbols) -> dict[int, tuple[int, int]]:
    """``symbol -> (code, length)`` for a DHT's 16 counts and its
    symbols in table order (T.81 Annex C)."""
    lengths = [ln for ln in range(1, 17) for _ in range(counts[ln - 1])]
    if len(symbols) < len(lengths):
        raise ValueError("DHT symbols truncated")
    return canonical_codes(zip(symbols, lengths))


def _huff_table(counts: list[int], symbols: bytes) -> tuple[list, list]:
    """Memoized decode tables ``(lut_sym, lut_len)`` indexed by the
    next 16 bits: the 65536-entry tables cost more to build than
    decoding a small image, and a corpus of fixture (or same-encoder)
    JPEGs reuses identical tables across payloads. The canonical
    builder rejects an over-subscribed DHT before any table is
    written; an incomplete one is valid, and its unused prefixes
    keep ``lut_len == 0``."""
    key = (bytes(counts), bytes(symbols))
    table = _HUFF_CACHE.get(key)
    if table is None:
        table = prefix_lut(_dht_codes(counts, symbols), 16, "msb")
        if len(_HUFF_CACHE) < 64:  # bound worker-side memory
            _HUFF_CACHE[key] = table
    return table


def _split_entropy(buf: bytes, pos: int) -> tuple[list[bytes], int]:
    """Split the entropy-coded data starting at ``pos`` into
    restart-interval segments (RSTn markers are the separators; any
    other marker, e.g. EOI or the next scan's DHT/SOS, terminates)
    and unstuff FF00 → FF in each. Returns ``(segments, end_pos)``
    where ``end_pos`` is the offset of the terminating marker's 0xFF
    (so a progressive decoder can continue the marker walk there).
    In entropy data 0xFF is ALWAYS followed by a stuffed 0x00 or a
    marker byte, so this scan cannot misfire on payload bytes."""
    segs: list[bytes] = []
    start = i = pos
    n = len(buf)
    while i < n - 1:
        if buf[i] == 0xFF:
            nxt = buf[i + 1]
            if nxt == 0x00:
                i += 2
                continue
            segs.append(buf[start:i].replace(b"\xff\x00", b"\xff"))
            if 0xD0 <= nxt <= 0xD7:  # restart: next segment follows
                i += 2
                start = i
                continue
            return segs, i  # real marker terminates the scan
        i += 1
    segs.append(buf[start:n].replace(b"\xff\x00", b"\xff"))
    return segs, n


def _huff(br: BitReader, table: tuple[list, list]) -> int:
    """Decode one Huffman symbol: peek a 16-bit window into the flat
    table and consume the decoded length."""
    if br.pos >= br.nbits:
        raise ValueError("entropy segment exhausted")
    window = br.peek(16)
    length = table[1][window]
    if length == 0:
        raise ValueError("invalid huffman code")
    br.skip(length)
    return table[0][window]


def _extend(v: int, size: int) -> int:
    """T.81 EXTEND: map ``size`` magnitude bits to a signed value."""
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def parse_jpeg(payload: bytes) -> dict | None:
    """Decode a baseline JPEG payload. Returns the
    :func:`multimodal.parse_png` dict shape — ``fmt`` (``"jpeg"``),
    ``width``, ``height``, ``maxval`` (255), ``n_channels``,
    ``pixels`` (row-major, interleaved) — or ``None`` for
    out-of-subset / corrupt payloads.

    Examples
    --------
        >>> blocks = [[[10] + [0] * 63]]       # one DC-only block
        >>> img = parse_jpeg(encode_jpeg(8, 8, blocks))
        >>> (img["width"], img["height"], set(img["pixels"].tolist()))
        (8, 8, {138})
        >>> parse_jpeg(b"\\x89PNG....") is None
        True
    """
    if payload is None:
        return None
    try:
        buf = bytes(payload)
        if len(buf) < 4 or buf[:2] != b"\xff\xd8":
            return None
        pos = 2
        qt: dict[int, np.ndarray] = {}
        huff_dc: dict[int, tuple] = {}
        huff_ac: dict[int, tuple] = {}
        frame = None
        progressive = False
        coefs: list[np.ndarray] | None = None
        restart_interval = 0
        while pos + 4 <= len(buf):
            if buf[pos] != 0xFF:
                return None
            marker = buf[pos + 1]
            if marker == 0xD9:  # EOI
                break
            seg_len = int.from_bytes(buf[pos + 2 : pos + 4], "big")
            seg = buf[pos + 4 : pos + 2 + seg_len]
            if marker == 0xDB:  # DQT
                i = 0
                while i < len(seg):
                    prec, tid = seg[i] >> 4, seg[i] & 15
                    if prec != 0:
                        return None  # 16-bit tables out of subset
                    qt[tid] = np.frombuffer(
                        seg[i + 1 : i + 65], dtype=np.uint8
                    ).astype(np.int64)
                    i += 65
            elif marker == 0xC4:  # DHT
                i = 0
                while i < len(seg):
                    cls, tid = seg[i] >> 4, seg[i] & 15
                    counts = list(seg[i + 1 : i + 17])
                    n_sym = sum(counts)
                    symbols = seg[i + 17 : i + 17 + n_sym]
                    table = _huff_table(counts, symbols)
                    (huff_dc if cls == 0 else huff_ac)[tid] = table
                    i += 17 + n_sym
            elif marker in (0xC0, 0xC1, 0xC2):
                # SOF0 baseline / SOF1 extended sequential (8-bit
                # extended sequential is the baseline decode path with
                # looser table limits; 12-bit rejected below) / SOF2
                # progressive
                if seg[0] != 8:
                    return None
                progressive = marker == 0xC2
                h = int.from_bytes(seg[1:3], "big")
                w = int.from_bytes(seg[3:5], "big")
                ncomp = seg[5]
                comps = []
                for c in range(ncomp):
                    cid, hv, tq = seg[6 + 3 * c : 9 + 3 * c]
                    comps.append(
                        {"id": cid, "h": hv >> 4, "v": hv & 15, "tq": tq}
                    )
                # allocation bomb guard (r11): SOF dims drive the
                # coefficient-grid allocation (~8 bytes per pixel per
                # component) regardless of how little entropy data
                # follows, so a ~300-byte payload claiming
                # 30000x30000 would allocate gigabytes. Same 64 MiB
                # policy cap as the WARC/VP8L bomb guards.
                if h * w * max(ncomp, 1) * 8 > MAX_COEF_BYTES:
                    return None
                frame = (h, w, comps)
                coefs = _alloc_coefs(h, w, comps)
            elif marker in (0xC3, 0xC5, 0xC6, 0xC7,
                            0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
                return None  # lossless/differential/arithmetic out of subset
            elif marker == 0xDD:  # DRI
                restart_interval = int.from_bytes(seg[:2], "big")
            elif marker == 0xDA:  # SOS
                if frame is None:
                    return None
                h, w, comps = frame
                ns = seg[0]
                scan_comps = []
                for c in range(ns):
                    cid, tt = seg[1 + 2 * c : 3 + 2 * c]
                    ci = next(
                        i_ for i_, cc in enumerate(comps) if cc["id"] == cid
                    )
                    scan_comps.append((ci, tt >> 4, tt & 15))
                ss, se, ahal = seg[1 + 2 * ns : 4 + 2 * ns]
                ah, al = ahal >> 4, ahal & 15
                data_pos = pos + 2 + seg_len
                if not progressive:
                    _decode_seq_scan(
                        buf, data_pos, h, w, comps, scan_comps, coefs,
                        huff_dc, huff_ac, restart_interval,
                    )
                    return _assemble(h, w, comps, qt, coefs)
                pos = _decode_prog_scan(
                    buf, data_pos, h, w, comps, scan_comps, coefs,
                    huff_dc, huff_ac, restart_interval, ss, se, ah, al,
                )
                continue
            pos += 2 + seg_len
        if progressive and frame is not None:
            h, w, comps = frame
            return _assemble(h, w, comps, qt, coefs)
        return None
    except (IndexError, ValueError, KeyError, StopIteration):
        return None


def _geometry(h, w, comps):
    """Shared frame geometry: max sampling factors, MCU grid, and per
    component both the PADDED (interleaved-MCU) block grid and the
    ACTUAL block counts used by non-interleaved scans (T.81 A.2.2)."""
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    dims = []
    for c in comps:
        cw = -(-w * c["h"] // hmax)  # component sample dimensions
        ch = -(-h * c["v"] // vmax)
        dims.append(
            {
                "pad_bx": mcus_x * c["h"],
                "pad_by": mcus_y * c["v"],
                "bx": -(-cw // 8),
                "by": -(-ch // 8),
            }
        )
    return hmax, vmax, mcus_x, mcus_y, dims


def _alloc_coefs(h, w, comps) -> list[np.ndarray]:
    """Per-component zigzag-order coefficient arrays sized for the
    padded interleaved grid (progressive scans accumulate into these
    across SOS segments; sequential fills them in one pass)."""
    _, _, _, _, dims = _geometry(h, w, comps)
    return [
        np.zeros((d["pad_by"], d["pad_bx"], 64), dtype=np.int64)
        for d in dims
    ]


def _decode_block_seq(br, dc_t, ac_t, pred, coeffs) -> int:
    """One sequential block: DC diff + run/size AC into ``coeffs``
    (a 64-slot zigzag list). Returns the new DC predictor."""
    size = _huff(br, dc_t)
    diff = _extend(br.read(size), size) if size else 0
    pred += diff
    coeffs[0] = pred
    k = 1
    while k < 64:
        rs = _huff(br, ac_t)
        if rs == 0x00:  # EOB
            break
        run, size = rs >> 4, rs & 15
        if rs == 0xF0:  # ZRL
            k += 16
            continue
        k += run
        if k > 63 or size == 0:
            raise ValueError("bad AC run")
        coeffs[k] = _extend(br.read(size), size)
        k += 1
    return pred


def _decode_seq_scan(
    buf, pos, h, w, comps, scan_comps, coefs, huff_dc, huff_ac, dri
):
    """Sequential (SOF0) interleaved scan into the coefficient
    arrays; the entropy pass is plain Python, dequant + IDCT run
    vectorized afterwards in :func:`_assemble`."""
    _, _, mcus_x, mcus_y, _ = _geometry(h, w, comps)
    segs, _ = _split_entropy(buf, pos)
    br = BitReader(segs[0], "msb")
    seg_idx = 0
    pred = [0] * len(comps)
    n_mcu = 0
    sel = {ci: (td, ta) for ci, td, ta in scan_comps}
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if dri and n_mcu and n_mcu % dri == 0:
                seg_idx += 1  # RSTn boundary: next unstuffed segment
                if seg_idx >= len(segs):
                    raise ValueError("missing restart segment")
                br = BitReader(segs[seg_idx], "msb")
                pred = [0] * len(comps)
            for ci, c in enumerate(comps):
                dc_t = huff_dc[sel[ci][0]]
                ac_t = huff_ac[sel[ci][1]]
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        coeffs = [0] * 64
                        pred[ci] = _decode_block_seq(
                            br, dc_t, ac_t, pred[ci], coeffs
                        )
                        coefs[ci][my * c["v"] + by, mx * c["h"] + bx] = coeffs
            n_mcu += 1


def _refine_nonzero(br, block, k, al) -> None:
    """AC-refinement correction bit for a history-nonzero coefficient
    (T.81 G.1.2.3 / libjpeg decode_mcu_AC_refine): if the bit is set
    and this scan's magnitude bit isn't already present, move the
    coefficient one quantum away from zero."""
    if br.read(1):
        p1 = 1 << al
        if (block[k] & p1) == 0:
            block[k] += p1 if block[k] >= 0 else -p1


def _decode_prog_scan(
    buf, pos, h, w, comps, scan_comps, coefs, huff_dc, huff_ac,
    dri, ss, se, ah, al,
) -> int:
    """One progressive (SOF2) scan, accumulated into ``coefs``.
    Handles all four scan kinds of T.81 Annex G: DC first (Ah=0) /
    DC refinement (Ah>0) — interleaved in MCU order when the scan
    holds several components, non-interleaved otherwise — and AC
    first / AC refinement, which are always single-component and walk
    the component's own block raster with EOB-run coding. Returns the
    buffer offset of the marker terminating the scan's entropy data.
    """
    if coefs is None:
        raise ValueError("SOS before SOF")
    hmax, vmax, mcus_x, mcus_y, dims = _geometry(h, w, comps)
    segs, end = _split_entropy(buf, pos)
    seg_iter = iter(segs)
    br = BitReader(next(seg_iter), "msb")

    if ss == 0:  # DC scan (Se must be 0 per spec)
        if se != 0:
            raise ValueError("DC scan with Se != 0")
        if len(scan_comps) > 1:  # interleaved, MCU order
            pred = [0] * len(comps)
            n_mcu = 0
            for my in range(mcus_y):
                for mx in range(mcus_x):
                    if dri and n_mcu and n_mcu % dri == 0:
                        br = BitReader(next(seg_iter), "msb")
                        pred = [0] * len(comps)
                    for ci, td, _ta in scan_comps:
                        c = comps[ci]
                        for by in range(c["v"]):
                            for bx in range(c["h"]):
                                blk = coefs[ci][
                                    my * c["v"] + by, mx * c["h"] + bx
                                ]
                                if ah == 0:
                                    size = _huff(br, huff_dc[td])
                                    diff = (
                                        _extend(br.read(size), size)
                                        if size
                                        else 0
                                    )
                                    pred[ci] += diff
                                    blk[0] = pred[ci] << al
                                else:  # refinement: one bit per block
                                    blk[0] |= br.read(1) << al
                    n_mcu += 1
            return end
        (ci, td, _ta) = scan_comps[0]
        d = dims[ci]
        pred0 = 0
        n_blk = 0
        for by in range(d["by"]):
            for bx in range(d["bx"]):
                if dri and n_blk and n_blk % dri == 0:
                    br = BitReader(next(seg_iter), "msb")
                    pred0 = 0
                blk = coefs[ci][by, bx]
                if ah == 0:
                    size = _huff(br, huff_dc[td])
                    diff = _extend(br.read(size), size) if size else 0
                    pred0 += diff
                    blk[0] = pred0 << al
                else:
                    blk[0] |= br.read(1) << al
                n_blk += 1
        return end

    # AC scan: always one component, non-interleaved block raster
    if len(scan_comps) != 1:
        raise ValueError("interleaved AC scan")
    (ci, _td, ta) = scan_comps[0]
    ac_t = huff_ac[ta]
    d = dims[ci]
    eobrun = 0
    n_blk = 0
    for by in range(d["by"]):
        for bx in range(d["bx"]):
            if dri and n_blk and n_blk % dri == 0:
                br = BitReader(next(seg_iter), "msb")
                eobrun = 0
            n_blk += 1
            blk = coefs[ci][by, bx]
            if ah == 0:  # AC first scan (G.1.2.2)
                if eobrun:
                    eobrun -= 1
                    continue
                k = ss
                while k <= se:
                    rs = _huff(br, ac_t)
                    r, size = rs >> 4, rs & 15
                    if size == 0:
                        if r == 15:  # ZRL
                            k += 16
                            continue
                        eobrun = (1 << r) - 1
                        if r:
                            eobrun += br.read(r)
                        break
                    k += r
                    if k > se:
                        raise ValueError("AC run past Se")
                    blk[k] = _extend(br.read(size), size) << al
                    k += 1
                continue
            # AC refinement scan (G.1.2.3)
            k = ss
            if eobrun == 0:
                while k <= se:
                    rs = _huff(br, ac_t)
                    r, size = rs >> 4, rs & 15
                    val = 0
                    if size == 0:
                        if r != 15:  # EOBn: run covers this block too
                            eobrun = 1 << r
                            if r:
                                eobrun += br.read(r)
                            break
                        # r == 15 (ZRL): pass over 16 zero-history
                        # coefficients below
                    else:
                        if size != 1:
                            raise ValueError("bad refinement size")
                        val = (1 << al) if br.read(1) else -(1 << al)
                    # advance over coefficients: correction bits for
                    # history-nonzero ones, counting down r zero-
                    # history positions
                    while k <= se:
                        if blk[k] != 0:
                            _refine_nonzero(br, blk, k, al)
                        else:
                            if r == 0:
                                break
                            r -= 1
                        k += 1
                    if val:
                        if k > se:
                            raise ValueError("refinement past Se")
                        blk[k] = val
                    k += 1
            if eobrun:
                # inside an EOB run, history-nonzero coefficients
                # still receive correction bits
                while k <= se:
                    if blk[k] != 0:
                        _refine_nonzero(br, blk, k, al)
                    k += 1
                eobrun -= 1
    return end


def _assemble(h, w, comps, qt, coefs):
    """Dequantize + dezigzag + batched IDCT the coefficient arrays,
    then upsample/crop/level-shift (and YCbCr→RGB for 3 components)."""
    hmax, vmax, _, _, dims = _geometry(h, w, comps)
    zz = np.array([r_ * 8 + c_ for (r_, c_) in ZIGZAG])
    out = []
    for ci, c in enumerate(comps):
        q = qt[c["tq"]]
        d = dims[ci]
        cf = coefs[ci].reshape(-1, 64).astype(np.float64)
        deq = np.zeros_like(cf)
        deq[:, zz] = cf * q  # dezigzag + dequant in one shot
        blocks = deq.reshape(-1, 8, 8)
        px = np.einsum("ua,nuv,vb->nab", _A, blocks, _A)  # batched IDCT
        plane = (
            px.reshape(d["pad_by"], d["pad_bx"], 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(d["pad_by"] * 8, d["pad_bx"] * 8)
        )
        plane = np.repeat(
            np.repeat(plane, vmax // c["v"], axis=0), hmax // c["h"], axis=1
        )
        out.append(plane[:h, :w] + 128.0)
    if len(out) == 1:
        px = np.clip(np.round(out[0]), 0, 255).astype(np.int64)
        flat = px.reshape(-1)
        n_ch = 1
    else:
        y, cb, cr = out[0], out[1] - 128.0, out[2] - 128.0
        r = y + 1.402 * cr
        g = y - 0.344136 * cb - 0.714136 * cr
        b = y + 1.772 * cb
        rgb = np.stack(
            [np.clip(np.round(x), 0, 255).astype(np.int64) for x in (r, g, b)],
            axis=-1,
        )
        flat = rgb.reshape(-1)
        n_ch = 3
    return {
        "fmt": "jpeg",
        "width": w,
        "height": h,
        "maxval": 255,
        "n_channels": n_ch,
        "pixels": flat,
    }


# ---------------------------------------------------------------------------
# fixture encoder
# ---------------------------------------------------------------------------
def _pad_ones(bw: BitWriter) -> None:
    """Pad to a byte boundary with 1-bits (T.81 F.1.2.3)."""
    bw.write(0xFF, -bw.nbits % 8)


def _emit_rst(bw: BitWriter, marks: list[int]) -> None:
    """Close a restart interval: pad it and record the byte offset
    where its RSTn marker goes."""
    _pad_ones(bw)
    marks.append(bw.nbits // 8)


def _entropy_bytes(bw: BitWriter, marks: list[int]) -> bytes:
    """One scan's entropy-coded data: pad the tail, stuff a 0x00
    after every 0xFF of each restart interval, and join the intervals
    with RST0..RST7 markers in turn (markers are never stuffed)."""
    _pad_ones(bw)
    data = bw.bytes()
    cuts = [0, *marks, len(data)]
    out = bytearray()
    for n, (lo, hi) in enumerate(zip(cuts, cuts[1:])):
        if n:
            out += bytes([0xFF, 0xD0 + (n - 1) % 8])
        out += data[lo:hi].replace(b"\xff", b"\xff\x00")
    return bytes(out)


def _category(v: int) -> int:
    v = int(v)
    return 0 if v == 0 else abs(v).bit_length()


def _enc_bits(v: int, size: int) -> int:
    return v if v >= 0 else v + (1 << size) - 1


# minimal valid Huffman tables (any conformant tables work — these
# are NOT the Annex K defaults, which a decoder must not assume):
# DC categories 0-11 as 4-bit codes; EOB/ZRL, every (run, size) pair,
# and (r8) the progressive EOBn run-length symbols (n<<4) as 8-bit
# codes — appended last so pre-existing code assignments (and thus
# baseline fixture bytes) are unchanged
_DC_SYMS = list(range(12))
_AC_SYMS = (
    [0x00, 0xF0]
    + [(run << 4) | size for run in range(16) for size in range(1, 11)]
    + [n << 4 for n in range(1, 15)]
)
_DC_COUNTS = [0, 0, 0, 12] + [0] * 12
_AC_COUNTS = [0, 0, 0, 0, 0, 0, 0, len(_AC_SYMS)] + [0] * 8


_DC_CODES = _dht_codes(_DC_COUNTS, _DC_SYMS)
_AC_CODES = _dht_codes(_AC_COUNTS, _AC_SYMS)


def encode_jpeg(
    width: int,
    height: int,
    comp_blocks: list[list[list[int]]],
    quant: int | list[int] = 8,
    sampling: list[tuple[int, int]] | None = None,
    restart_interval: int = 0,
) -> bytes:
    """Spec-conformant baseline JPEG writer over DCT-DOMAIN
    coefficients (fixture/oracle generator): ``comp_blocks[c]`` is
    the list of 64-coefficient zigzag-order blocks of component ``c``
    in MCU raster order. 1 component = grayscale, 3 = YCbCr.
    ``quant`` fills the (single) quantization table; with the default
    8, a DC-only block decodes to the flat value ``128 + dc`` — the
    closed form the ``jpeg_decode`` oracle states.
    """
    ncomp = len(comp_blocks)
    if sampling is None:
        sampling = [(1, 1)] * ncomp
    qvals = [quant] * 64 if isinstance(quant, int) else list(quant)

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big") + body

    out = bytearray(b"\xff\xd8")  # SOI
    out += seg(0xDB, bytes([0]) + bytes(qvals))  # DQT table 0
    sof = bytes([8]) + height.to_bytes(2, "big") + width.to_bytes(2, "big")
    sof += bytes([ncomp])
    for c in range(ncomp):
        h_, v_ = sampling[c]
        sof += bytes([c + 1, (h_ << 4) | v_, 0])
    out += seg(0xC0, sof)
    out += seg(0xC4, bytes([0x00]) + bytes(_DC_COUNTS) + bytes(_DC_SYMS))
    out += seg(0xC4, bytes([0x10]) + bytes(_AC_COUNTS) + bytes(_AC_SYMS))
    if restart_interval:
        out += seg(0xDD, restart_interval.to_bytes(2, "big"))
    sos = bytes([ncomp])
    for c in range(ncomp):
        sos += bytes([c + 1, 0x00])
    sos += bytes([0, 63, 0])
    out += seg(0xDA, sos)

    hmax = max(s[0] for s in sampling)
    vmax = max(s[1] for s in sampling)
    mcus = (-(-width // (8 * hmax))) * (-(-height // (8 * vmax)))
    bw = BitWriter("msb")
    marks: list[int] = []
    pred = [0] * ncomp
    idx = [0] * ncomp
    for m in range(mcus):
        if restart_interval and m and m % restart_interval == 0:
            _emit_rst(bw, marks)
            pred = [0] * ncomp
        for c in range(ncomp):
            for _b in range(sampling[c][0] * sampling[c][1]):
                coeffs = comp_blocks[c][idx[c]]
                idx[c] += 1
                diff = coeffs[0] - pred[c]
                pred[c] = coeffs[0]
                size = _category(diff)
                code, ln = _DC_CODES[size]
                bw.write(code, ln)
                if size:
                    bw.write(_enc_bits(diff, size), size)
                run = 0
                for k in range(1, 64):
                    if coeffs[k] == 0:
                        run += 1
                        continue
                    while run >= 16:
                        code, ln = _AC_CODES[0xF0]  # ZRL
                        bw.write(code, ln)
                        run -= 16
                    size = _category(coeffs[k])
                    code, ln = _AC_CODES[(run << 4) | size]
                    bw.write(code, ln)
                    bw.write(_enc_bits(coeffs[k], size), size)
                    run = 0
                if run:  # trailing zeros
                    code, ln = _AC_CODES[0x00]  # EOB
                    bw.write(code, ln)
    out += _entropy_bytes(bw, marks)
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def _default_scan_script(ncomp: int) -> list[dict]:
    """A libjpeg-flavored progressive scan script covering all four
    scan kinds: interleaved DC first at Al=1, DC refinement, per
    component two AC spectral bands at Al=1, then an AC refinement
    pass down to Al=0."""
    scans = [
        {"comps": list(range(ncomp)), "ss": 0, "se": 0, "ah": 0, "al": 1},
        {"comps": list(range(ncomp)), "ss": 0, "se": 0, "ah": 1, "al": 0},
    ]
    for c in range(ncomp):
        scans += [
            {"comps": [c], "ss": 1, "se": 5, "ah": 0, "al": 1},
            {"comps": [c], "ss": 6, "se": 63, "ah": 0, "al": 1},
            {"comps": [c], "ss": 1, "se": 63, "ah": 1, "al": 0},
        ]
    return scans


def encode_jpeg_progressive(
    width: int,
    height: int,
    comp_blocks: list[list[list[int]]],
    quant: int | list[int] = 8,
    sampling: list[tuple[int, int]] | None = None,
    scans: list[dict] | None = None,
    restart_interval: int = 0,
) -> bytes:
    """Spec-conformant PROGRESSIVE (SOF2) writer over the same
    DCT-domain coefficient input as :func:`encode_jpeg` (fixture /
    oracle generator, r8). ``scans`` is a list of
    ``{"comps": [ci...], "ss", "se", "ah", "al"}`` dicts executed in
    order (default: :func:`_default_scan_script`); each successive-
    approximation chain must step Al down by exactly 1 with matching
    Ah, ending at Al=0, or the decoder reconstructs a different
    image. Encodes DC first/refinement (interleaved MCU order for
    multi-component scans, component raster order otherwise) and AC
    first/refinement with EOB-run coding and buffered correction bits
    per T.81 G.1.2 — the bit-exact inverse of the progressive decode
    paths, which is what lets pytest pin progressive == baseline on
    identical coefficients. ``restart_interval`` (r8) emits a DRI
    segment and RSTn markers every N MCUs in EVERY scan (N blocks in
    non-interleaved scans, where the MCU is one block), flushing the
    EOB run / correction-bit buffer and resetting DC predictors at
    each boundary — exercising the decoder's progressive-DRI resets.
    """
    ncomp = len(comp_blocks)
    if sampling is None:
        sampling = [(1, 1)] * ncomp
    qvals = [quant] * 64 if isinstance(quant, int) else list(quant)
    hmax = max(s[0] for s in sampling)
    vmax = max(s[1] for s in sampling)
    mcus_x = -(-width // (8 * hmax))
    mcus_y = -(-height // (8 * vmax))
    if scans is None:
        scans = _default_scan_script(ncomp)

    def block_at(c: int, by: int, bx: int) -> list[int]:
        # comp_blocks are in MCU raster order (baseline layout);
        # non-interleaved scans walk the component's own block raster
        h_, v_ = sampling[c]
        mcu = (by // v_) * mcus_x + (bx // h_)
        local = (by % v_) * h_ + (bx % h_)
        return comp_blocks[c][mcu * h_ * v_ + local]

    def comp_grid(c: int) -> tuple[int, int]:
        cw = -(-width * sampling[c][0] // hmax)
        ch = -(-height * sampling[c][1] // vmax)
        return -(-ch // 8), -(-cw // 8)  # (by, bx)

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big") + body

    out = bytearray(b"\xff\xd8")
    out += seg(0xDB, bytes([0]) + bytes(qvals))
    sof = bytes([8]) + height.to_bytes(2, "big") + width.to_bytes(2, "big")
    sof += bytes([ncomp])
    for c in range(ncomp):
        h_, v_ = sampling[c]
        sof += bytes([c + 1, (h_ << 4) | v_, 0])
    out += seg(0xC2, sof)  # SOF2
    out += seg(0xC4, bytes([0x00]) + bytes(_DC_COUNTS) + bytes(_DC_SYMS))
    out += seg(0xC4, bytes([0x10]) + bytes(_AC_COUNTS) + bytes(_AC_SYMS))
    if restart_interval:
        out += seg(0xDD, restart_interval.to_bytes(2, "big"))

    for sc in scans:
        sos = bytes([len(sc["comps"])])
        for c in sc["comps"]:
            sos += bytes([c + 1, 0x00])
        sos += bytes([sc["ss"], sc["se"], (sc["ah"] << 4) | sc["al"]])
        out += seg(0xDA, sos)
        bw = BitWriter("msb")
        marks: list[int] = []
        if sc["ss"] == 0:
            _enc_dc_scan(bw, marks, sc, comp_blocks, sampling, mcus_x,
                         mcus_y, comp_grid, block_at, restart_interval)
        else:
            _enc_ac_scan(bw, marks, sc, comp_grid, block_at,
                         restart_interval)
        out += _entropy_bytes(bw, marks)
    out += b"\xff\xd9"
    return bytes(out)


def _enc_dc_scan(bw, marks, sc, comp_blocks, sampling, mcus_x, mcus_y,
                 comp_grid, block_at, dri=0):
    ah, al = sc["ah"], sc["al"]

    def mcus_in_order():
        """Yield one MCU's blocks at a time — the restart-interval
        unit (a single block in non-interleaved scans)."""
        if len(sc["comps"]) > 1:  # interleaved MCU order
            for my in range(mcus_y):
                for mx in range(mcus_x):
                    group = []
                    for c in sc["comps"]:
                        h_, v_ = sampling[c]
                        for by in range(v_):
                            for bx in range(h_):
                                group.append(
                                    (c, block_at(c, my * v_ + by,
                                                 mx * h_ + bx))
                                )
                    yield group
        else:
            c = sc["comps"][0]
            nby, nbx = comp_grid(c)
            for by in range(nby):
                for bx in range(nbx):
                    yield [(c, block_at(c, by, bx))]

    pred = {c: 0 for c in sc["comps"]}
    for m, group in enumerate(mcus_in_order()):
        if dri and m and m % dri == 0:
            _emit_rst(bw, marks)
            pred = {c: 0 for c in sc["comps"]}
        for c, blk in group:
            if ah == 0:  # first scan: diffs of the point-transformed DC
                v = blk[0] >> al  # arithmetic shift, like libjpeg
                diff = v - pred[c]
                pred[c] = v
                size = _category(diff)
                code, ln = _DC_CODES[size]
                bw.write(code, ln)
                if size:
                    bw.write(_enc_bits(diff, size), size)
            else:  # refinement: the next lower magnitude bit
                bw.write((blk[0] >> al) & 1, 1)


def _enc_ac_scan(bw, marks, sc, comp_grid, block_at, dri=0):
    """AC first/refinement scan with EOB-run coding (T.81 G.1.2.2-3,
    the jcphuff structure: EOBn emission is deferred until the run
    length is known; refinement correction bits that belong to a
    pending run are buffered and emitted right after its EOBn)."""
    c = sc["comps"][0]
    ss, se, ah, al = sc["ss"], sc["se"], sc["ah"], sc["al"]
    nby, nbx = comp_grid(c)
    state = {"eobrun": 0, "held": []}

    def flush_eob():
        if state["eobrun"]:
            n = state["eobrun"].bit_length() - 1
            code, ln = _AC_CODES[n << 4]
            bw.write(code, ln)
            if n:
                bw.write(state["eobrun"] & ((1 << n) - 1), n)
            state["eobrun"] = 0
        for b in state["held"]:
            bw.write(b, 1)
        state["held"] = []

    n_blk = 0
    for by in range(nby):
        for bx in range(nbx):
            if dri and n_blk and n_blk % dri == 0:
                # flush the pending EOB run + held correction bits
                # INTO the closing segment, then restart
                flush_eob()
                _emit_rst(bw, marks)
            n_blk += 1
            blk = block_at(c, by, bx)
            if ah == 0:  # AC first scan over point-transformed values
                r = 0
                for k in range(ss, se + 1):
                    t = abs(blk[k]) >> al
                    if t == 0:
                        r += 1
                        continue
                    flush_eob()
                    while r > 15:
                        code, ln = _AC_CODES[0xF0]
                        bw.write(code, ln)
                        r -= 16
                    size = t.bit_length()
                    code, ln = _AC_CODES[(r << 4) | size]
                    bw.write(code, ln)
                    bw.write(_enc_bits(t if blk[k] > 0 else -t, size), size)
                    r = 0
                if r:
                    state["eobrun"] += 1
                    if state["eobrun"] == 0x3FFF:
                        flush_eob()
                continue
            # AC refinement scan
            absv = [abs(blk[k]) >> al for k in range(ss, se + 1)]
            eob_pos = 0  # index AFTER the last newly-significant coef
            for i, t in enumerate(absv):
                if t == 1:
                    eob_pos = i + 1
            r = 0
            pend: list[int] = []
            for i, t in enumerate(absv):
                if t == 0:
                    r += 1
                    continue
                while r > 15 and i < eob_pos:
                    flush_eob()
                    code, ln = _AC_CODES[0xF0]
                    bw.write(code, ln)
                    r -= 16
                    for b in pend:
                        bw.write(b, 1)
                    pend = []
                if t > 1:  # history-nonzero: correction bit only
                    pend.append(t & 1)
                    continue
                flush_eob()
                code, ln = _AC_CODES[(r << 4) | 1]
                bw.write(code, ln)
                bw.write(1 if blk[ss + i] > 0 else 0, 1)
                for b in pend:
                    bw.write(b, 1)
                pend = []
                r = 0
            if r or pend:
                state["eobrun"] += 1
                state["held"].extend(pend)
                if state["eobrun"] == 0x3FFF:
                    flush_eob()
    flush_eob()
