"""Pure-numpy baseline JPEG decoder — no codec library.

JPEG (ITU-T T.81 / JFIF) is, with PNG, the dominant crawl image format;
its baseline profile needs only Huffman coding, 8x8 IDCT, and YCbCr
color math — all implementable exactly from the public spec, which makes
it the second *real* compressed-image path in this runtime (PNG's
DEFLATE came free from stdlib ``zlib``; JPEG's entropy coder is written
out here).

Decoder scope (raises ``ValueError`` outside it, never a wrong image):
baseline sequential DCT (SOF0/1) AND progressive DCT (SOF2 — spectral
selection, successive approximation, EOBn end-of-band runs, interleaved
DC scans, per T.81 Annex G), 8-bit samples, 1 or 3 components, chroma
subsampling 4:4:4 / 4:2:2 / 4:2:0 (any h/v factors 1-2), restart
intervals (DRI/RSTn), multi-table DQT/DHT segments (tables may be
redefined between progressive scans), APPn/COM skipped. Arithmetic
coding, lossless/hierarchical, 12-bit, and CMYK inputs are rejected
loudly. Output is (H, W, 3) uint8 RGB (grayscale replicated), matching
``decode_ppm``/``decode_png``'s contract so every downstream kernel is
format-agnostic.

Structure of the hot path: the per-scan Huffman decode is inherently
bit-serial, so it runs as a table-driven Python loop PER PAYLOAD — but
dequantization, dezigzag, the IDCT (one einsum over all blocks of a
component), upsampling, and color conversion are single vectorized
numpy passes. Payload decode runs inside Arrow-batched ``mapInPandas``
on executors, so at 100 TB the serial part parallelizes across images,
not within one.

Correctness evidence (tests/test_multimodal_jpeg.py): an INDEPENDENT
minimal encoder written from the spec's forward equations (direct
cosine-sum DCT, Annex K tables) round-trips through this decoder within
quantization error; constant-color images — whose DCT is exact — decode
bit-exactly; malformed/truncated/unsupported streams raise.
"""

from __future__ import annotations

import struct

import numpy as np

# zigzag order: index i holds the (row, col) linear position of the i-th
# coefficient in scan order (T.81 Figure A.6)
ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)

# orthonormal 8-point DCT-II basis: B[k, n] = c(k) cos((2n+1)k pi / 16);
# IDCT of block S is B.T @ S @ B
_B = np.zeros((8, 8))
for _k in range(8):
    _c = np.sqrt(0.125) if _k == 0 else 0.5
    for _n in range(8):
        _B[_k, _n] = _c * np.cos((2 * _n + 1) * _k * np.pi / 16)


class _HuffTable:
    """Canonical Huffman table from a DHT segment: decode by walking
    code lengths with a (min_code, max_code, value_offset) row per
    length — the T.81 Annex C construction."""

    def __init__(self, counts: list[int], symbols: bytes):
        self.symbols = symbols
        self.min_code = [0] * 17
        self.max_code = [-1] * 17
        self.val_ptr = [0] * 17
        code, k = 0, 0
        for length in range(1, 17):
            n = counts[length - 1]
            self.val_ptr[length] = k
            self.min_code[length] = code
            self.max_code[length] = code + n - 1 if n else -1
            code += n
            k += n
            code <<= 1


class _BitReader:
    """MSB-first bit reader over entropy-coded data with 0xFF00
    byte-unstuffing; stops at any real marker (RST handled by caller).

    Hot-path design: ``_ensure`` refills a bounded integer accumulator a
    byte at a time; ``_decode_block`` consumes whole bit-groups from a
    LOCAL copy of that state with shifts/masks — no per-bit Python call
    chain (measured ~2x JPEG throughput vs the read_bit formulation in
    the round-4 codec study; BASELINE.md round 4). Semantics match the
    per-bit version exactly: a real marker supplies 1-padding per T.81
    (legitimate end-of-scan fill); running off the end of the data with
    NO marker raises."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _ensure(self, n: int) -> None:
        d = self.data
        ln = len(d)
        while self.nbits < n:
            if self.pos >= ln:
                raise ValueError("truncated JPEG entropy stream")
            b = d[self.pos]
            if b == 0xFF:
                nxt = d[self.pos + 1] if self.pos + 1 < ln else None
                if nxt == 0x00:
                    self.pos += 2
                else:
                    # real marker: 1-padding, do not advance
                    self.acc = (self.acc << 8) | 0xFF
                    self.nbits += 8
                    continue
            else:
                self.pos += 1
            self.acc = (self.acc << 8) | b
            self.nbits += 8


    def align_to_marker(self) -> None:
        """Drop partial bits and any stuffing so ``pos`` sits at the next
        0xFF marker byte (used at restart intervals)."""
        self.acc = 0
        self.nbits = 0
        d = self.data
        while self.pos < len(d) and d[self.pos] != 0xFF:
            self.pos += 1

    # --- generic (non-inlined) reads for the progressive scan decoders;
    # the baseline hot path keeps its fused local-state loop below
    def receive(self, n: int) -> int:
        if n == 0:
            return 0
        self._ensure(n)
        self.nbits -= n
        v = (self.acc >> self.nbits) & ((1 << n) - 1)
        self.acc &= (1 << self.nbits) - 1
        return v

    def decode_huff(self, table: "_HuffTable") -> int:
        self._ensure(16)
        window = (self.acc >> (self.nbits - 16)) & 0xFFFF
        max_code = table.max_code
        length = 1
        while length <= 16:
            code = window >> (16 - length)
            if max_code[length] >= 0 and code <= max_code[length]:
                break
            length += 1
        else:
            raise ValueError("invalid JPEG Huffman code")
        self.nbits -= length
        self.acc &= (1 << self.nbits) - 1
        return table.symbols[
            table.val_ptr[length] + code - table.min_code[length]
        ]


def _extend(v: int, s: int) -> int:
    """T.81 EXTEND: map an s-bit magnitude read to its signed value."""
    return v - (1 << s) + 1 if v < (1 << (s - 1)) else v



def _decode_block(br, dc_tab, ac_tab, pred: int) -> tuple[list, int]:
    """Decode one 8x8 block's 64 zigzag coefficients (DC differential
    against ``pred``). Returns (coefficients in zigzag order, new pred).

    The entropy inner loop is fully inlined over LOCAL copies of the
    bit-reader state (acc/nbits) — attribute loads and per-symbol
    function calls are the measured hot cost at this layer; the reader
    object is only touched to refill and at block exit."""
    coeffs = [0] * 64
    acc, nbits = br.acc, br.nbits
    ensure = br._ensure

    # --- one fused huffman-code + magnitude read, repeated 1 + AC times
    k = 0
    while True:
        if nbits < 32:
            br.acc, br.nbits = acc, nbits
            ensure(32)
            acc, nbits = br.acc, br.nbits
        table = dc_tab if k == 0 else ac_tab
        window = (acc >> (nbits - 16)) & 0xFFFF
        max_code = table.max_code
        length = 1
        while length <= 16:
            code = window >> (16 - length)
            if max_code[length] >= 0 and code <= max_code[length]:
                break
            length += 1
        else:
            br.acc, br.nbits = acc, nbits
            raise ValueError("invalid JPEG Huffman code")
        nbits -= length
        sym = table.symbols[
            table.val_ptr[length] + code - table.min_code[length]
        ]
        if k == 0:  # DC: sym IS the magnitude size
            t = sym
            if t:
                nbits -= t
                v = (acc >> nbits) & ((1 << t) - 1)
                pred += v - (1 << t) + 1 if v < (1 << (t - 1)) else v
            coeffs[0] = pred
            k = 1
            continue
        r, s = sym >> 4, sym & 0xF
        if s == 0:
            if r == 15:  # ZRL: 16 zeros
                k += 16
                if k < 64:
                    continue
            break  # EOB (or ZRL landing exactly at 64)
        k += r
        if k > 63:
            br.acc, br.nbits = acc, nbits
            raise ValueError("JPEG AC run exceeds block")
        nbits -= s
        v = (acc >> nbits) & ((1 << s) - 1)
        coeffs[k] = v - (1 << s) + 1 if v < (1 << (s - 1)) else v
        k += 1
        if k >= 64:
            break
    acc &= (1 << nbits) - 1
    br.acc, br.nbits = acc, nbits
    return coeffs, pred


def _expect_restart(br: _BitReader) -> None:
    br.align_to_marker()
    d = br.data
    if br.pos + 2 > len(d) or d[br.pos] != 0xFF or not (
        0xD0 <= d[br.pos + 1] <= 0xD7
    ):
        raise ValueError("expected JPEG restart marker")
    br.pos += 2


def _decode_progressive_scan(
    data: bytes,
    pos: int,
    scan_comps: list[tuple[int, "_HuffTable | None", "_HuffTable | None"]],
    ss: int,
    se: int,
    ah: int,
    al: int,
    blocks: list[np.ndarray],
    comp_geo: list[tuple[int, int, int, int]],
    mcus_x: int,
    mcus_y: int,
    restart_interval: int,
) -> int:
    """Decode ONE progressive scan (T.81 Annex G), updating the
    per-component zigzag coefficient grids in place. Returns the stream
    position after the scan's entropy data.

    ``scan_comps``: (frame component index, DC table, AC table) per scan
    component; ``comp_geo``: per FRAME component (ch, cv, non-interleaved
    blocks_w, blocks_h). Four scan kinds, dispatched on (ss, ah):

    - DC first  (ss=0, ah=0): baseline DC diff coding, values << al;
      interleaved over MCUs when the scan has several components.
    - DC refine (ss=0, ah>0): one appended magnitude bit per block.
    - AC first  (ss>0, ah=0): runs + EOBn end-of-band runs over the
      ss..se band, single component, blocks in component raster order.
    - AC refine (ss>0, ah>0): the G.1.2.3 correction algorithm —
      newly-nonzero coefficients carry (run, ±1<<al) codes; every
      nonzero-history coefficient passed (in runs, ZRLs, and EOB-covered
      blocks) carries one inline correction bit.
    """
    br = _BitReader(data, pos)
    interleaved = len(scan_comps) > 1
    eobrun = 0
    preds = [0] * len(scan_comps)
    p1 = 1 << al

    def maybe_restart(unit_idx: int) -> None:
        nonlocal eobrun, preds
        if restart_interval and unit_idx and unit_idx % restart_interval == 0:
            _expect_restart(br)
            eobrun = 0
            preds = [0] * len(scan_comps)

    if ss == 0:  # ----------------------------------------------- DC scan
        if se != 0:
            raise ValueError("progressive DC scan with Se != 0")
        n_done = 0
        if interleaved:
            for my in range(mcus_y):
                for mx in range(mcus_x):
                    maybe_restart(n_done)
                    for si, (ci, dct, _) in enumerate(scan_comps):
                        ch, cv, _, _ = comp_geo[ci]
                        for by in range(cv):
                            for bx in range(ch):
                                blk = blocks[ci]
                                row, col = my * cv + by, mx * ch + bx
                                if ah == 0:
                                    t = br.decode_huff(dct)
                                    diff = _extend(br.receive(t), t) if t else 0
                                    preds[si] += diff
                                    blk[row, col, 0] = preds[si] << al
                                else:
                                    if br.receive(1):
                                        blk[row, col, 0] |= p1
                    n_done += 1
        else:
            ci, dct, _ = scan_comps[0]
            _, _, nbx, nby = comp_geo[ci]
            for row in range(nby):
                for col in range(nbx):
                    maybe_restart(n_done)
                    blk = blocks[ci]
                    if ah == 0:
                        t = br.decode_huff(dct)
                        diff = _extend(br.receive(t), t) if t else 0
                        preds[0] += diff
                        blk[row, col, 0] = preds[0] << al
                    else:
                        if br.receive(1):
                            blk[row, col, 0] |= p1
                    n_done += 1
        br.align_to_marker()
        return br.pos

    # --------------------------------------------------------- AC scans
    if interleaved:
        raise ValueError("progressive AC scan must be non-interleaved")
    ci, _, act = scan_comps[0]
    if act is None:
        raise ValueError("JPEG references missing Huffman table")
    _, _, nbx, nby = comp_geo[ci]
    grid = blocks[ci]
    m1 = -p1
    n_done = 0
    for row in range(nby):
        for col in range(nbx):
            maybe_restart(n_done)
            n_done += 1
            blk = grid[row, col]
            if ah == 0:  # ------------------------------------ AC first
                if eobrun > 0:
                    eobrun -= 1
                    continue
                k = ss
                while k <= se:
                    rs = br.decode_huff(act)
                    r, s = rs >> 4, rs & 0xF
                    if s == 0:
                        if r == 15:
                            k += 16
                            continue
                        eobrun = (1 << r) - 1
                        if r:
                            eobrun += br.receive(r)
                        break
                    k += r
                    if k > se:
                        raise ValueError("JPEG AC run exceeds band")
                    blk[k] = _extend(br.receive(s), s) << al
                    k += 1
            else:  # ----------------------------------------- AC refine
                k = ss
                if eobrun > 0:
                    eobrun -= 1
                    # EOB-covered block: every nonzero coeff in the band
                    # still takes one correction bit
                    while k <= se:
                        v = int(blk[k])
                        if v != 0 and br.receive(1) and not (v & p1):
                            blk[k] = v + (p1 if v >= 0 else m1)
                        k += 1
                    continue
                while k <= se:
                    rs = br.decode_huff(act)
                    r, s = rs >> 4, rs & 0xF
                    newval = 0
                    if s == 0:
                        if r != 15:  # EOBn
                            eobrun = (1 << r) - 1
                            if r:
                                eobrun += br.receive(r)
                            # refine the remainder of THIS block
                            while k <= se:
                                v = int(blk[k])
                                if v != 0 and br.receive(1) and not (v & p1):
                                    blk[k] = v + (p1 if v >= 0 else m1)
                                k += 1
                            break
                        # ZRL: pass 16 zero-history coefficients
                    elif s == 1:
                        newval = p1 if br.receive(1) else m1
                    else:
                        raise ValueError("invalid refinement magnitude")
                    # advance through the band: correction bits for
                    # nonzero-history coeffs, count down r zero-history
                    while k <= se:
                        v = int(blk[k])
                        if v != 0:
                            if br.receive(1) and not (v & p1):
                                blk[k] = v + (p1 if v >= 0 else m1)
                        else:
                            if r == 0:
                                break
                            r -= 1
                        k += 1
                    if newval and k <= se:
                        blk[k] = newval
                    k += 1
    if eobrun > 0:
        raise ValueError("JPEG EOB run extends past scan")
    br.align_to_marker()
    return br.pos


def decode_jpeg(payload: bytes) -> np.ndarray:
    """Decode a baseline (SOF0/1) or progressive (SOF2) JPEG payload to
    (H, W, 3) uint8 RGB. Pure numpy; raises ``ValueError`` on
    malformed, truncated, corrupt, or out-of-scope input (arithmetic,
    lossless/hierarchical, 12-bit, CMYK) — the crawl contract:
    ValueError or a valid image, never a stray struct/index error from
    a hostile byte stream."""
    try:
        return _decode_jpeg_impl(payload)
    except (struct.error, IndexError) as exc:
        raise ValueError(f"malformed JPEG structure: {exc}") from exc


def _frame_geometry(frame):
    """(hmax, vmax, mcus_x, mcus_y, comp_geo, blocks): shared frame
    layout. ``comp_geo[i] = (ch, cv, nbx, nby)`` where nbx/nby are the
    NON-INTERLEAVED block counts (ceil of the component's own sample
    dims / 8 — a strict subset of the MCU-padded grid, which is what a
    progressive single-component scan iterates per T.81 A.2.2)."""
    h, w, comps = frame
    if h == 0 or w == 0:
        raise ValueError("zero-dimension JPEG")
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    if hmax > 2 or vmax > 2:
        raise ValueError("JPEG sampling factors above 2 unsupported")
    # T.81 B.2.2: factors are 1-4; 0 is malformed (a bit-rot fuzz find:
    # a zeroed SOF byte otherwise reaches reconstruction and divides by
    # the component factor)
    if any(c[1] < 1 or c[2] < 1 for c in comps):
        raise ValueError("JPEG sampling factor must be >= 1")
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    comp_geo, blocks = [], []
    for cid, ch, cv, tq in comps:
        cw = -(-w * ch // hmax)
        chh = -(-h * cv // vmax)
        comp_geo.append((ch, cv, -(-cw // 8), -(-chh // 8)))
        blocks.append(
            np.zeros((mcus_y * cv, mcus_x * ch, 64), dtype=np.int32)
        )
    return hmax, vmax, mcus_x, mcus_y, comp_geo, blocks


def _reconstruct(blocks, comps, qtables, h, w, hmax, vmax) -> np.ndarray:
    """Vectorized reconstruction per component: dequant -> dezigzag ->
    one einsum IDCT over every block -> plane assembly -> color."""
    planes = []
    for ci, (cid, ch, cv, tq) in enumerate(comps):
        if tq not in qtables:
            raise ValueError("JPEG references missing quant table")
        bh, bw, _ = blocks[ci].shape
        deq = blocks[ci] * qtables[tq][None, None, :]
        sq = np.zeros((bh, bw, 64), dtype=np.float64)
        sq[:, :, ZIGZAG] = deq
        sq = sq.reshape(bh, bw, 8, 8)
        spatial = np.einsum("ki,yxkl,lj->yxij", _B, sq, _B, optimize=True)
        plane = spatial.transpose(0, 2, 1, 3).reshape(bh * 8, bw * 8) + 128.0
        # upsample to full MCU-padded resolution, then crop
        ry, rx = vmax // cv, hmax // ch
        if ry > 1 or rx > 1:
            plane = np.repeat(np.repeat(plane, ry, axis=0), rx, axis=1)
        planes.append(plane[:h, :w])

    if len(planes) == 1:
        y = np.clip(np.rint(planes[0]), 0, 255).astype(np.uint8)
        return np.repeat(y[:, :, None], 3, axis=2)
    y, cb, cr = planes
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r, g, b], axis=2)
    return np.clip(np.rint(rgb), 0, 255).astype(np.uint8)


def _decode_jpeg_impl(payload: bytes) -> np.ndarray:
    data = bytes(payload)
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], _HuffTable] = {}  # (class, id)
    frame = None
    progressive = False
    restart_interval = 0
    scan_sel = None  # baseline: the single scan's (cid, td, ta) list
    geo = None
    blocks = None
    n_scans = 0

    while True:
        if pos + 4 > len(data):
            if progressive and n_scans:
                break  # tolerate missing EOI after complete scans
            raise ValueError("truncated JPEG (no SOS)")
        if data[pos] != 0xFF:
            raise ValueError("JPEG marker sync lost")
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            if progressive and n_scans:
                break
            raise ValueError("JPEG has no scan data")
        (seglen,) = struct.unpack(">H", data[pos : pos + 2])
        seg = data[pos + 2 : pos + seglen]
        if len(seg) != seglen - 2:
            raise ValueError("truncated JPEG segment")
        body_start = pos + seglen
        if marker == 0xDB:  # DQT — may hold several tables
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 0xF
                if pq != 0:
                    raise ValueError("16-bit JPEG quant tables unsupported")
                qtables[tq] = np.frombuffer(
                    seg[p + 1 : p + 65], dtype=np.uint8
                ).astype(np.int32)
                p += 65
        elif marker == 0xC4:  # DHT — may hold several tables
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 0xF
                counts = list(seg[p + 1 : p + 17])
                n = sum(counts)
                htables[(tc, th)] = _HuffTable(
                    counts, seg[p + 17 : p + 17 + n]
                )
                p += 17 + n
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 baseline, SOF2 prog
            prec, h, w, nc = seg[0], *struct.unpack(">HH", seg[1:5]), seg[5]
            if prec != 8:
                raise ValueError("only 8-bit JPEG supported")
            if nc not in (1, 3):
                raise ValueError(f"unsupported JPEG component count {nc}")
            comps = []
            for i in range(nc):
                cid, hv, tq = seg[6 + 3 * i : 9 + 3 * i]
                comps.append((cid, hv >> 4, hv & 0xF, tq))
            frame = (h, w, comps)
            progressive = marker == 0xC2
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                "unsupported JPEG coding (arithmetic/lossless/hierarchical)"
            )
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", seg[:2])
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            ns = seg[0]
            sel = []
            for i in range(ns):
                cs, tdta = seg[1 + 2 * i : 3 + 2 * i]
                sel.append((cs, tdta >> 4, tdta & 0xF))
            if not progressive:
                scan_sel = sel
                pos = body_start
                break
            # ---- progressive scan: decode now, keep parsing after
            ss, se, a = seg[1 + 2 * ns : 4 + 2 * ns]
            ah, al = a >> 4, a & 0xF
            if not (0 <= ss <= se <= 63):
                raise ValueError("bad progressive spectral band")
            if geo is None:
                geo = _frame_geometry(frame)
            hmax, vmax, mcus_x, mcus_y, comp_geo, blocks = geo
            cid_index = {c[0]: i for i, c in enumerate(frame[2])}
            scan_comps = []
            for cs, td, ta in sel:
                if cs not in cid_index:
                    raise ValueError("JPEG scan names unknown component")
                dct = htables.get((0, td))
                act = htables.get((1, ta))
                if ss == 0 and ah == 0 and dct is None:
                    raise ValueError("JPEG references missing Huffman table")
                if ss > 0 and act is None:
                    raise ValueError("JPEG references missing Huffman table")
                scan_comps.append((cid_index[cs], dct, act))
            pos = _decode_progressive_scan(
                data, body_start, scan_comps, ss, se, ah, al,
                blocks, comp_geo, mcus_x, mcus_y, restart_interval,
            )
            n_scans += 1
            continue
        # APPn / COM / others: skip
        pos = body_start

    h, w, comps = frame
    if progressive:
        hmax, vmax, _, _, _, blocks = geo
        return _reconstruct(blocks, comps, qtables, h, w, hmax, vmax)

    # ------------------------------------------------ baseline (one scan)
    if len(scan_sel) != len(comps):
        raise ValueError("JPEG multi-scan files unsupported (baseline only)")
    hmax, vmax, mcus_x, mcus_y, comp_geo, blocks = _frame_geometry(frame)
    for cid, ch, cv, tq in comps:
        if tq not in qtables:
            raise ValueError("JPEG references missing quant table")

    sel_by_cid = {s[0]: s for s in scan_sel}
    tabs = []
    for cid, ch, cv, tq in comps:
        if cid not in sel_by_cid:
            raise ValueError("JPEG scan is missing a frame component")
        _, td, ta = sel_by_cid[cid]
        if (0, td) not in htables or (1, ta) not in htables:
            raise ValueError("JPEG references missing Huffman table")
        tabs.append((htables[(0, td)], htables[(1, ta)]))

    br = _BitReader(data, pos)
    preds = [0] * len(comps)
    mcu_count = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                _expect_restart(br)
                preds = [0] * len(comps)
            for ci, (cid, ch, cv, tq) in enumerate(comps):
                for by in range(cv):
                    for bx in range(ch):
                        coeffs, preds[ci] = _decode_block(
                            br, tabs[ci][0], tabs[ci][1], preds[ci]
                        )
                        blocks[ci][my * cv + by, mx * ch + bx] = coeffs
            mcu_count += 1

    return _reconstruct(blocks, comps, qtables, h, w, hmax, vmax)
