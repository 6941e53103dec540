"""Lossless JPEG (ITU-T T.81 SOF3) codec from scratch.

The third and last Huffman-entropy JPEG process: no DCT, no
quantization — each sample is DPCM-predicted from already-decoded
neighbors (T.81 Annex H's seven predictors) and the prediction error
is coded with the SAME magnitude-category + appended-bits scheme the
DC coefficients of the DCT modes use (SSSS 0..16, canonical Huffman
table transmitted in DHT). Because the mode is exactly lossless, the
certification story is the strongest of the codec family: decode must
reproduce EVERY input image bit-for-bit, and the catalog query's
DuckDB oracle computes pixel statistics of the closed-form input
pattern directly — no rounding pins, no tie analysis, any single-bit
defect anywhere in the pipeline changes the hash.

Scope: 8-bit precision, point transform 0 (true lossless), grayscale
and 3-component images (components coded independently in interleaved
1x1 MCUs — lossless JPEG applies NO color transform, so (h, w, 3)
arrays round-trip exactly as given), all seven predictors, restart
intervals. Higher precisions (the mode allows 2..16-bit) and point
transforms stay documented gates.

Restart semantics (T.81 H.1.2.1): at the start of the scan and after
each RSTn the DC-style prediction context resets — the next sample is
predicted by 2^(P-1) = 128, the remainder of THAT line uses predictor
Ra, and normal rules (first-of-line Rb, else the scan's selected
predictor) resume from the next line. Encoder and decoder share this
reading, and round-trip tests pin every (predictor, restart) pairing.
"""

from __future__ import annotations

import struct

import numpy as np

from economic_data_etl_spark.operators.jpeg import (
    _BitWriter,
    _bit_windows,
    _canonical_codes,
    _decode_table,
    _split_entropy,
    _JFIF_APP0,
    _seg,
)

# 17 difference categories (SSSS 0..16). Category 16 is the special
# "difference = 32768" symbol with no appended bits (T.81 H.1.2.2);
# with 8-bit samples it is unreachable but kept for spec shape.
_LL_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1]
_LL_VALS = [0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16]
# lengths: three 2-bit codes (0,1,2), then one code per length 3..16 —
# Kraft sum 3/4 + sum_{3..16} 2^-k < 1, canonical-complete
assert sum(_LL_BITS) == 17

_LL_ENC = _canonical_codes(_LL_BITS, _LL_VALS)
_LL_DEC = _decode_table(_LL_BITS, _LL_VALS)


def _predict(
    plane: np.ndarray,
    y: int,
    x: int,
    sel: int,
    seg_start: tuple[int, int],
) -> int:
    """T.81 Table H.1 prediction for sample (y, x) under selection
    value `sel`, with the restart-segment start at seg_start (the
    sample predicted by 128; its line continues with Ra)."""
    sy, sx = seg_start
    if (y, x) == (sy, sx):
        return 128  # 2^(P-1), scan/restart start
    if y == sy and x > sx:
        return int(plane[y, x - 1])  # first segment line: Ra
    if x == 0:
        return int(plane[y - 1, x])  # first sample of a line: Rb
    ra = int(plane[y, x - 1])
    rb = int(plane[y - 1, x])
    rc = int(plane[y - 1, x - 1])
    if sel == 1:
        return ra
    if sel == 2:
        return rb
    if sel == 3:
        return rc
    if sel == 4:
        return ra + rb - rc
    if sel == 5:
        return ra + ((rb - rc) >> 1)
    if sel == 6:
        return rb + ((ra - rc) >> 1)
    return (ra + rb) >> 1  # sel == 7


def _wrap_diff(d: int) -> int:
    """Prediction arithmetic is modulo 2^16 (T.81 H.1.2.1); keep the
    coded difference in [-32768, 32767]."""
    return ((d + 32768) & 0xFFFF) - 32768


def _encode_diff(writer: _BitWriter, diff: int) -> None:
    if diff == -32768:
        code, length = _LL_ENC[16]  # category 16: no appended bits
        writer.write(code, length)
        return
    if diff == 0:
        code, length = _LL_ENC[0]
        writer.write(code, length)
        return
    size = int(abs(diff)).bit_length()
    bits = diff if diff >= 0 else diff + (1 << size) - 1
    code, length = _LL_ENC[size]
    writer.write(code, length)
    writer.write(bits, size)


_LL_CODE_ARR = np.array([_LL_ENC[s][0] for s in range(17)], np.int64)
_LL_LEN_ARR = np.array([_LL_ENC[s][1] for s in range(17)], np.int64)


def _predictions_vec(
    plane: np.ndarray, predictor: int, segments: list[tuple[int, int]]
) -> np.ndarray:
    """Vectorized T.81 Table H.1 predictions for a WHOLE plane — legal
    only because the mode is lossless, so the decoder's reconstructed
    neighbors equal the original samples and every prediction is a
    pure shift of the input array. Bitwise-identical to the
    per-sample _predict walk (pinned in tests/test_jpeg_lossless.py).
    `segments` are the flat [start, end) restart segments."""
    h, w = plane.shape
    ra = np.zeros_like(plane)
    ra[:, 1:] = plane[:, :-1]
    rb = np.zeros_like(plane)
    rb[1:, :] = plane[:-1, :]
    rc = np.zeros_like(plane)
    rc[1:, 1:] = plane[:-1, :-1]
    if predictor == 1:
        pred = ra.copy()
    elif predictor == 2:
        pred = rb.copy()
    elif predictor == 3:
        pred = rc.copy()
    elif predictor == 4:
        pred = ra + rb - rc
    elif predictor == 5:
        pred = ra + ((rb - rc) >> 1)
    elif predictor == 6:
        pred = rb + ((ra - rc) >> 1)
    else:  # predictor == 7
        pred = (ra + rb) >> 1
    pred[:, 0] = rb[:, 0]  # first sample of a line: Rb
    flat = pred.reshape(-1)
    ra_flat = ra.reshape(-1)
    for s0, s1 in segments:
        sy = s0 // w
        flat[s0] = 128  # 2^(P-1) at the scan/restart start
        row_end = min(s1, (sy + 1) * w)
        if s0 + 1 < row_end:  # remainder of the segment's first line: Ra
            flat[s0 + 1 : row_end] = ra_flat[s0 + 1 : row_end]
    return pred


def _pack_tokens(values: np.ndarray, lengths: np.ndarray) -> bytearray:
    """MSB-first bit packing of (value, length) tokens with JPEG byte
    stuffing and 1-padding to the byte boundary — the vectorized twin
    of _BitWriter.write/_byte_align (bitwise-pinned in tests). Short
    runs (tiny restart segments) take the scalar big-int path, where
    numpy setup would dwarf the work."""
    if values.size < 48:
        from economic_data_etl_spark.operators.jpeg import (
            _pack_tokens_small,
        )

        return bytearray(_pack_tokens_small(values, lengths))
    k = np.arange(16)
    shifts = lengths[:, None] - 1 - k[None, :]
    bits_mat = (values[:, None] >> np.maximum(shifts, 0)) & 1
    mask = shifts >= 0
    bits = bits_mat[mask]  # row-major: token order, MSB-first
    pad = (-bits.size) % 8
    if pad:
        bits = np.concatenate([bits, np.ones(pad, np.int64)])
    raw = np.packbits(bits.astype(np.uint8))
    stuffed = np.insert(
        raw.astype(np.uint8),
        np.flatnonzero(raw == 0xFF) + 1,
        0,
    )
    return bytearray(stuffed.tobytes())


def encode_jpeg_lossless(
    img: np.ndarray,
    predictor: int = 1,
    restart_interval: int = 0,
) -> bytes:
    """Encode (h, w) or (h, w, 3) uint8 as a lossless (SOF3) JPEG.
    `predictor` selects T.81 Table H.1 (1..7); `restart_interval` is
    counted in MCUs (= sample positions, all components). No color
    transform: 3-channel input round-trips exactly as given.

    The hot path is fully vectorized (predictions are pure array
    shifts because reconstruction equals the input in a lossless
    mode; magnitude categories via frexp; one bit-matrix pack per
    restart segment) — bitwise-identical to the sequential
    _BitWriter walk, which tests keep as the reference."""
    if predictor not in range(1, 8):
        raise ValueError(f"predictor must be 1..7, got {predictor}")
    if img.ndim == 2:
        planes = [img.astype(np.int64)]
    elif img.ndim == 3 and img.shape[2] == 3:
        planes = [img[:, :, i].astype(np.int64) for i in range(3)]
    else:
        raise ValueError("expected (h, w) or (h, w, 3) image")
    h, w = planes[0].shape
    n = h * w
    ri = restart_interval
    segments = (
        [(s, min(s + ri, n)) for s in range(0, n, ri)]
        if ri
        else [(0, n)]
    )
    ncomp = len(planes)
    # interleaved diffs: position-major, component-minor (the MCU order)
    diffs = np.empty((n, ncomp), np.int64)
    for ci, plane in enumerate(planes):
        pred = _predictions_vec(plane, predictor, segments)
        diffs[:, ci] = (
            ((plane - pred + 32768) & 0xFFFF) - 32768
        ).reshape(-1)
    d = diffs.reshape(-1)
    absd = np.abs(d)
    size = np.frexp(absd.astype(np.float64))[1].astype(np.int64)
    size[d == -32768] = 16  # category 16: no appended bits
    appended = np.where(d >= 0, d, d + (1 << size) - 1)
    app_len = np.where(size == 16, 0, size)
    # token stream: (huff code, huff len) then (appended, app_len)
    values = np.empty(2 * d.size, np.int64)
    lengths = np.empty(2 * d.size, np.int64)
    values[0::2] = _LL_CODE_ARR[size]
    lengths[0::2] = _LL_LEN_ARR[size]
    values[1::2] = np.where(app_len > 0, appended, 0)
    lengths[1::2] = app_len
    tokens_per_mcu = 2 * ncomp
    out = bytearray()
    for si, (s0, s1) in enumerate(segments):
        if si:
            out += bytes([0xFF, 0xD0 + ((si - 1) & 7)])
        out += _pack_tokens(
            values[s0 * tokens_per_mcu : s1 * tokens_per_mcu],
            lengths[s0 * tokens_per_mcu : s1 * tokens_per_mcu],
        )
    entropy = bytes(out)
    ncomp = len(planes)
    sof = struct.pack(">BHHB", 8, h, w, ncomp) + b"".join(
        bytes([i + 1, 0x11, 0]) for i in range(ncomp)
    )
    dht = bytes([0x00]) + bytes(_LL_BITS) + bytes(_LL_VALS)
    # SOS: every component uses DC table 0; Ss = predictor selection,
    # Se = 0, Ah/Al = 0 (no point transform)
    sos = (
        bytes([ncomp])
        + b"".join(bytes([i + 1, 0x00]) for i in range(ncomp))
        + bytes([predictor, 0, 0])
    )
    dri = (
        _seg(0xFFDD, struct.pack(">H", restart_interval))
        if restart_interval
        else b""
    )
    return (
        b"\xff\xd8"
        + _seg(0xFFE0, _JFIF_APP0)
        + _seg(0xFFC3, sof)
        + _seg(0xFFC4, dht)
        + dri
        + _seg(0xFFDA, sos)
        + entropy
        + b"\xff\xd9"
    )


def decode_lossless(payload: bytes) -> np.ndarray:
    """Decode a lossless (SOF3) JPEG: (h, w) uint8 for one component,
    (h, w, 3) for three (no color transform — exact sample recovery).
    Raises ValueError on malformed bytes and NotImplementedError on
    the documented gates (non-8-bit precision, point transform,
    subsampled components)."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    pos = 2
    huff: dict[int, dict] = {}
    comps = None
    dims = None
    entropy = None
    predictor = None
    scan_tables = None
    restart_interval = 0
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("marker expected")
        marker = payload[pos + 1]
        if marker == 0xD9:
            break
        (ln,) = struct.unpack(">H", payload[pos + 2 : pos + 4])
        body = payload[pos + 4 : pos + 2 + ln]
        if len(body) != ln - 2:
            raise ValueError("truncated segment")
        if marker == 0xC3:
            precision, h, w, ncomp = struct.unpack(">BHHB", body[:6])
            if precision != 8:
                raise NotImplementedError(
                    "non-8-bit lossless precision"
                )
            comps = []
            for i in range(ncomp):
                cid, samp, _tq = body[6 + 3 * i : 9 + 3 * i]
                if samp != 0x11:
                    raise NotImplementedError(
                        "subsampled lossless components"
                    )
                comps.append(cid)
            dims = (h, w)
        elif marker == 0xC4:
            p = 0
            while p < len(body):
                tc_th = body[p]
                bits = list(body[p + 1 : p + 17])
                n = sum(bits)
                vals = list(body[p + 17 : p + 17 + n])
                if (tc_th >> 4) == 0:  # lossless scans use DC-class
                    huff[tc_th & 0x0F] = _decode_table(bits, vals)
                p += 17 + n
        elif marker == 0xDD:
            (restart_interval,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:
            ns = body[0]
            scan_tables = {}
            for i in range(ns):
                cid, tsel = body[1 + 2 * i], body[2 + 2 * i]
                scan_tables[cid] = tsel >> 4
            predictor = body[1 + 2 * ns]
            al = body[3 + 2 * ns] & 0x0F
            if al != 0:
                raise NotImplementedError("lossless point transform")
            entropy_start = pos + 2 + ln
            end = payload.rfind(b"\xff\xd9")
            if end < 0:
                raise ValueError("missing EOI")
            entropy = payload[entropy_start:end]
            break
        pos += 2 + ln
    if comps is None or dims is None or scan_tables is None:
        raise ValueError("missing SOF/SOS")
    if entropy is None:
        raise ValueError("missing entropy data")
    if predictor not in range(1, 8):
        raise ValueError("invalid lossless predictor selection")
    h, w = dims
    from economic_data_etl_spark.operators.codecs import (
        _check_pixel_budget,
    )

    _check_pixel_budget(w, h, frames=len(comps))
    tables = []
    for cid in comps:
        sel = scan_tables.get(cid)
        if sel is None or sel not in huff:
            raise ValueError("missing Huffman table")
        tables.append(huff[sel])
    n = h * w
    ri = restart_interval
    seg_ranges = (
        [(s, min(s + ri, n)) for s in range(0, n, ri)]
        if ri
        else [(0, n)]
    )
    diffs = _decode_diffs_fast(entropy, tables, seg_ranges, n)
    planes = [
        _undiff_plane(
            diffs[:, ci].reshape(h, w), predictor, seg_ranges
        )
        for ci in range(len(comps))
    ]
    if len(planes) == 1:
        return planes[0].astype(np.uint8)
    return np.stack(planes, axis=2).astype(np.uint8)


def _decode_diffs_fast(
    entropy: bytes,
    tables: list[dict],
    seg_ranges: list[tuple[int, int]],
    n: int,
) -> np.ndarray:
    """Entropy-decode the interleaved lossless diff stream: one 16-bit
    LUT hit per Huffman symbol over pre-unstuffed restart segments
    (jpeg._split_entropy), with the same ValueError conditions the
    per-bit reader raised. Returns (n, ncomp) int64 diffs. The
    sequential half of decode_lossless; prediction inversion is
    vectorized separately (_undiff_plane)."""
    segs, rst_nums = _split_entropy(entropy)
    ncomp = len(tables)
    tabs = [(t.lut_sym, t.lut_len) for t in tables]
    out: list[int] = [0] * (n * ncomp)
    oi = 0
    prev_tail_clean = True
    for si, (s0, s1) in enumerate(seg_ranges):
        if si:
            # boundary validation, mirroring _BitReader.sync_restart
            if si >= len(segs) or not prev_tail_clean:
                raise ValueError("missing restart marker")
            if rst_nums[si - 1] != (si - 1) % 8:
                raise ValueError("restart marker out of sequence")
        seg = segs[si] if si < len(segs) else b""
        win = _bit_windows(seg)
        total = 8 * len(seg)
        more = si + 1 < len(segs)
        p = 0
        # unroll the interleaved component cycle into one flat table
        # sequence (pointer repeats) so the hot loop has no nesting
        for lsym, llen in tabs * (s1 - s0):
            idx = (win[p >> 3] >> (16 - (p & 7))) & 0xFFFF
            length = llen[idx]
            if length == 0:
                raise ValueError("invalid Huffman code")
            p += length
            size = lsym[idx]
            if size == 0:
                v = 0
            elif size == 16:
                v = 32768  # category 16: no appended bits
            else:
                b = (win[p >> 3] >> (32 - (p & 7) - size)) & (
                    (1 << size) - 1
                )
                p += size
                if b < (1 << (size - 1)):
                    b += 1 - (1 << size)
                v = b
            out[oi] = v
            oi += 1
            if p > total:
                raise ValueError(
                    "unexpected marker in entropy data"
                    if more
                    else "truncated entropy data"
                )
        # only pad bits / unstuffed 0xFF pad bytes may remain before
        # the next restart marker
        prev_tail_clean = not seg[(p + 7) >> 3 :].strip(b"\xff")
    return np.array(out, dtype=np.int64).reshape(n, ncomp)


def _undiff_plane(
    d2: np.ndarray,
    predictor: int,
    seg_ranges: list[tuple[int, int]],
) -> np.ndarray:
    """Invert the T.81 Annex H DPCM prediction for one component given
    its decoded (h, w) diff plane — bitwise-identical to the
    per-sample _predict walk (pinned in tests/test_jpeg_lossless.py).
    Row structure: every row splits into a NORMAL prefix (cells whose
    segment started on an earlier row: x=0 is Rb, the rest the scan's
    predictor) and an Ra SUFFIX (cells whose segment starts within
    this row: 128 at the start, then a running Ra chain). Predictors
    1/4/5 and every Ra chain are mod-256 prefix sums (vectorized per
    row); 2/3 are pure shifts of the previous row; 6/7 carry the
    running value through a floor-shift and stay scalar per row."""
    h, w = d2.shape
    plane = np.zeros((h, w), dtype=np.int64)
    starts = [s0 for s0, _ in seg_ranges]
    si = 0
    for y in range(h):
        base = y * w
        row_starts: list[int] = []
        while si < len(starts) and starts[si] < base + w:
            if starts[si] >= base:
                row_starts.append(starts[si] - base)
            si += 1
        t = row_starts[0] if row_starts else w
        if t > 0:
            # normal prefix: y >= 1 here (row 0 always begins a segment)
            dr = d2[y, :t]
            rb = plane[y - 1, :t]
            if predictor == 2:
                plane[y, :t] = (rb + dr) & 0xFF
            elif predictor == 3:
                plane[y, 0] = (rb[0] + dr[0]) & 0xFF
                if t > 1:
                    plane[y, 1:t] = (
                        plane[y - 1, : t - 1] + dr[1:]
                    ) & 0xFF
            elif predictor == 1:
                c = dr.copy()
                c[0] += rb[0]
                plane[y, :t] = np.cumsum(c) & 0xFF
            elif predictor in (4, 5):
                rc = plane[y - 1, : t - 1]
                c = np.empty(t, dtype=np.int64)
                c[0] = rb[0] + dr[0]
                if t > 1:
                    delta = rb[1:] - rc
                    if predictor == 5:
                        delta >>= 1
                    c[1:] = delta + dr[1:]
                plane[y, :t] = np.cumsum(c) & 0xFF
            else:  # 6, 7: running value feeds a floor shift
                prevl = plane[y - 1, :t].tolist()
                drl = dr.tolist()
                cur = [0] * t
                v = (prevl[0] + drl[0]) & 0xFF
                cur[0] = v
                if predictor == 6:
                    for x in range(1, t):
                        v = (
                            prevl[x]
                            + ((v - prevl[x - 1]) >> 1)
                            + drl[x]
                        ) & 0xFF
                        cur[x] = v
                else:
                    for x in range(1, t):
                        v = (((v + prevl[x]) >> 1) + drl[x]) & 0xFF
                        cur[x] = v
                plane[y, :t] = cur
        for j, sx in enumerate(row_starts):
            ex = row_starts[j + 1] if j + 1 < len(row_starts) else w
            if ex - sx == 1:
                plane[y, sx] = (128 + d2[y, sx]) & 0xFF
            else:
                c = d2[y, sx:ex].copy()
                c[0] += 128
                plane[y, sx:ex] = np.cumsum(c) & 0xFF
    return plane
