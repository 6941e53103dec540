"""Progressive JPEG (ITU-T T.81 Annex G, Huffman) — from scratch.

Progressive mode is the SAME machinery as the baseline codec in
jpeg.py — canonical Huffman, zigzag, 8×8 orthonormal DCT, all-odd
quantization — reorganized so the quantized coefficients arrive over
MULTIPLE scans instead of one:

- **Spectral selection**: each AC scan carries one zigzag band
  [Ss, Se] of ONE component (AC scans are non-interleaved by spec);
  DC scans (Ss=Se=0) may interleave all components in MCU order.
- **Successive approximation**: a band can arrive high-bits-first.
  First scans (Ah=0) code the point-transformed values (DC: arithmetic
  shift right by Al; AC: magnitude shift, sign preserved — T.81
  G.1.2.1/G.1.2.2); refinement scans (Ah=Al+1) append ONE lower bit
  per coefficient — raw bits for DC, and for AC a run-length walk that
  interleaves newly-significant coefficients with correction bits for
  already-nonzero ones (G.1.2.3).
- **EOB runs**: AC scans may code a run of all-remaining-zero bands
  across blocks (EOBn symbols, r < 15, run = 2^r + appended bits).
- **Restart intervals**: DRI applies to every scan — RSTn markers
  every Ri MCUs (interleaved DC scans) or blocks (non-interleaved AC
  scans), byte-aligned, resetting DC predictors and EOB-run state,
  numbering restarting at RST0 per scan (T.81 E.2.4).

Both directions live here; the encoder exists to certify the decoder
(the codecs.py pattern): a progressive encode entropy-codes the exact
same quantized coefficient set as the baseline encoder, so
``decode_jpeg(encode_jpeg_progressive(img))`` must be BIT-IDENTICAL to
``decode_jpeg(encode_jpeg_gray/color(img))`` — the round-trip equality
tests in tests/test_jpeg_progressive.py pin that for gray + color,
4:4:4 + 4:2:0, spectral-selection-only and with successive
approximation.

The decoder accumulates dequantizable coefficients per component in
(blocks_y, blocks_x, 64) arrays across scans and runs the shared
dequantize → IDCT → assemble tail once at EOI, using the same
``_M.T @ (levels·q) @ _M`` per-block expression as the baseline path so
the closed-form DC certification (jpeg.py docstring) carries over
unchanged: on block-constant images every AC coefficient is exactly
zero in every scan, and the decoded value has the same closed form the
DuckDB oracle computes (catalog query multimodal_progressive_jpeg).

Reference scope note: the reference repo (pandas/requests ETL) has no
codecs at all — this module exists for the multimodal corpus-decode
surface, where progressive JPEGs are common in web-crawled images.
The arithmetic-coded sibling processes live in jpeg_arithmetic.py
(SOF9) and jpeg_arith_progressive.py (SOF10, which reuses this
module's scan orchestration); what remains genuinely out of scope
without a codec library is inter-frame-predictive video.
"""

from __future__ import annotations

import struct

import numpy as np

from economic_data_etl_spark.operators.jpeg import (
    _idct_pixels_batch,
    _AC_BITS,
    _ZIG_FLAT,
    _AC_BITS_C,
    _AC_ENC,
    _AC_ENC_C,
    _AC_VALS,
    _AC_VALS_C,
    _DC_BITS,
    _DC_BITS_C,
    _DC_ENC,
    _DC_ENC_C,
    _DC_VALS,
    _DC_VALS_C,
    _JFIF_APP0,
    _M,
    _ZIGZAG,
    _BitReader,
    _BitWriter,
    _TokenWriter,
    _decode_table,
    _dqt_payload,
    _extend,
    _magnitude,
    _pad_to,
    _round_half_up,
    _seg,
    QTAB,
    QTAB_CHROMA,
    _SUBSAMPLE_MODES,
    chroma_planes,
    rgb_to_ycbcr,
    ycbcr_to_rgb,
)

# --------------------------------------------------------------------------
# Shared helpers
# --------------------------------------------------------------------------


def _pt_ac(v: int, al: int) -> int:
    """AC point transform: sign(v) · floor(|v| / 2^Al) — truncation
    toward ZERO (T.81 G.1.2.2), unlike the DC transform's arithmetic
    shift."""
    m = abs(v) >> al
    return m if v >= 0 else -m


def _pt_ac_band(band: np.ndarray, al: int) -> np.ndarray:
    """Vectorized _pt_ac over a coefficient band (exact integer ops)."""
    return np.where(band >= 0, band >> al, -((-band) >> al))


def _quantize_blocks(plane: np.ndarray, qtab: np.ndarray) -> np.ndarray:
    """(H, W) float64 plane (H, W multiples of 8) → (bh, bw, 64) int32
    quantized coefficients in ZIGZAG order. ONE batched matmul over
    every block with the exact same expression as jpeg._encode_block —
    batched np.matmul runs the same 8×8 dgemm per slice, so the
    coefficient set (and therefore the decode) stays bit-identical to
    the baseline encoder's (identity pinned in tests/test_jpeg.py)."""
    bh, bw = plane.shape[0] // 8, plane.shape[1] // 8
    blocks = plane.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3)
    coeff = _M @ (blocks - 128.0) @ _M.T
    levels = _round_half_up(coeff / qtab).astype(np.int64)
    return levels.reshape(bh, bw, 64)[:, :, _ZIG_FLAT].astype(np.int32)


def _comp_grid(
    h: int, w: int, hi: int, vi: int, hmax: int, vmax: int
) -> tuple[int, int]:
    """Non-interleaved block grid of one component (T.81 A.2.2): blocks
    cover ceil(comp_dim / 8) where comp_dim = ceil(frame_dim · f/fmax)."""
    ch = (h * vi + vmax - 1) // vmax
    cw = (w * hi + hmax - 1) // hmax
    return (ch + 7) // 8, (cw + 7) // 8


# --------------------------------------------------------------------------
# Encoder — scan emitters
# --------------------------------------------------------------------------


def _mcu_units(mh, mw, comps):
    """Interleaved MCU order (T.81 A.2.3) as restartable UNITS: one
    list of (ci, by, bx) per MCU — restart intervals count MCUs in
    interleaved scans."""
    units = []
    for my in range(mh):
        for mx in range(mw):
            unit = []
            for ci, (_cid, hi, vi, _tq) in enumerate(comps):
                for vy in range(vi):
                    for vx in range(hi):
                        unit.append((ci, my * vi + vy, mx * hi + vx))
            units.append(unit)
    return units


def _restart_due(i: int, ri: int) -> int | None:
    """RSTn number before unit `i` (None if no restart falls here)."""
    if ri and i and i % ri == 0:
        return (i // ri - 1) % 8
    return None


def _enc_dc_first(coefs, units, n_comps, al, dc_encs, ri=0) -> bytes:
    w = _TokenWriter()
    preds = [0] * n_comps
    for i, unit in enumerate(units):
        n = _restart_due(i, ri)
        if n is not None:
            w.restart(n)
            preds = [0] * n_comps
        for ci, by, bx in unit:
            v = int(coefs[ci][by, bx, 0]) >> al  # arith shift (G.1.2.1)
            diff = v - preds[ci]
            preds[ci] = v
            size, bits = _magnitude(diff)
            code, length = dc_encs[ci][size]
            w.write(code, length)
            if size:
                w.write(bits, size)
    return w.flush()


def _enc_dc_refine(coefs, units, al, ri=0) -> bytes:
    """DC refinement: ONE raw bit per block, no Huffman (G.1.2.1)."""
    w = _TokenWriter()
    for i, unit in enumerate(units):
        n = _restart_due(i, ri)
        if n is not None:
            w.restart(n)
        for ci, by, bx in unit:
            w.write((int(coefs[ci][by, bx, 0]) >> al) & 1, 1)
    return w.flush()


def _enc_ac_first(coef, cbh, cbw, ss, se, al, ac_enc, ri=0) -> bytes:
    """AC first scan of one band: the baseline AC loop, band-limited and
    point-transformed, with a per-block EOB (eobrun = 1) for trailing
    zeros — a valid stream that trades a few bits for simplicity.
    Restart intervals count BLOCKS in non-interleaved scans."""
    w = _TokenWriter()
    blocks = [(by, bx) for by in range(cbh) for bx in range(cbw)]
    eob_code, eob_len = ac_enc[0x00]
    for i, (by, bx) in enumerate(blocks):
        n = _restart_due(i, ri)
        if n is not None:
            w.restart(n)
        raw = coef[by, bx, ss : se + 1]
        if not raw.any():  # all-zero band: lone EOB, skip the PT pass
            w.write(eob_code, eob_len)
            continue
        band = _pt_ac_band(raw, al)
        nz = np.flatnonzero(band)
        if nz.size == 0:  # all-zero band: lone EOB
            w.write(eob_code, eob_len)
            continue
        run = 0
        prev = -1
        for idx in nz:
            run = int(idx) - prev - 1
            prev = int(idx)
            while run >= 16:
                code, length = ac_enc[0xF0]  # ZRL
                w.write(code, length)
                run -= 16
            size, bits = _magnitude(int(band[idx]))
            code, length = ac_enc[(run << 4) | size]
            w.write(code, length)
            w.write(bits, size)
        if int(nz[-1]) < se - ss:
            w.write(eob_code, eob_len)  # trailing zeros: EOB (run of 1)
    return w.flush()


def _enc_ac_refine(coef, cbh, cbw, ss, se, ah, al, ac_enc, ri=0) -> bytes:
    """AC refinement scan (G.1.2.3). The emitter MIRRORS the decoder's
    walk exactly: correction bits for already-nonzero coefficients are
    placed where the decoder's advance-over loop will read them — after
    the Huffman symbol whose walk passes that position. Newly
    significant coefficients (|v|>>Al == 1) are coded as (run«4)|1 +
    sign bit, where run counts only ZERO-HISTORY positions; history
    coefficients passed contribute correction bits, not run length."""
    w = _TokenWriter()
    _blocks = [(by, bx) for by in range(cbh) for bx in range(cbw)]
    for _i, (by, bx) in enumerate(_blocks):
        n_rst = _restart_due(_i, ri)
        if n_rst is not None:
            w.restart(n_rst)
        band = coef[by, bx, ss : se + 1]
        if not band.any():
            # nothing in this block's band: lone EOB closes it
            # (skips the two point-transform passes on sparse blocks)
            code, length = ac_enc[0x00]
            w.write(code, length)
            continue
        now = _pt_ac_band(band, al)
        hist = _pt_ac_band(band, ah) != 0
        newly = np.flatnonzero(np.abs(now) == 1)
        if newly.size == 0 and not hist.any():
            # nothing in this block's band: lone EOB closes it
            code, length = ac_enc[0x00]
            w.write(code, length)
            continue
        corr = (np.abs(band) >> al) & 1

        def corr_bit(i: int) -> int:
            return int(corr[i])

        pos = 0  # index into the band (0 == Ss)
        for target in newly:
            # ZRLs: each consumes 16 zero-history positions; the
            # decoder refines history positions passed on the way,
            # so their bits follow the ZRL code in stream order.
            while (
                sum(1 for p in range(pos, target) if not hist[p]) >= 16
            ):
                code, length = ac_enc[0xF0]
                w.write(code, length)
                zeros = 0
                p = pos
                while zeros < 16:
                    if hist[p]:
                        w.write(corr_bit(p), 1)
                    else:
                        zeros += 1
                    p += 1
                pos = p
            run = sum(1 for p in range(pos, target) if not hist[p])
            code, length = ac_enc[(run << 4) | 1]
            w.write(code, length)
            w.write(1 if now[target] > 0 else 0, 1)
            for p in range(pos, target):
                if hist[p]:
                    w.write(corr_bit(p), 1)
            pos = target + 1
        if pos <= se - ss:
            # trailing positions remain: close the block with EOB
            # (eobrun = 1); the decoder then refines every history
            # coefficient left in the band, reading one bit each.
            code, length = ac_enc[0x00]
            w.write(code, length)
            for p in range(pos, se - ss + 1):
                if hist[p]:
                    w.write(corr_bit(p), 1)
    return w.flush()


def _sos(comps_in_scan, ss, se, ah, al) -> bytes:
    body = bytes([len(comps_in_scan)])
    for cid, dc_id, ac_id in comps_in_scan:
        body += bytes([cid, (dc_id << 4) | ac_id])
    return _seg(0xFFDA, body + bytes([ss, se, (ah << 4) | al]))


def encode_jpeg_progressive(
    img: np.ndarray,
    subsample: bool | str = False,
    al: int = 1,
    restart_interval: int = 0,
) -> bytes:
    """Encode (h, w) gray or (h, w, 3) RGB as a PROGRESSIVE JFIF JPEG
    (SOF2). Scan script: interleaved DC first at Al=`al`, DC refinement
    down to bit 0, then per component the AC bands (1..5) and (6..63)
    as first scans at Al=`al` followed by their refinement scans.
    ``al=0`` produces a spectral-selection-only stream (no refinement
    scans). `restart_interval` > 0 emits a DRI segment and RSTn markers
    in EVERY scan — every `restart_interval` MCUs in interleaved DC
    scans, blocks in non-interleaved AC scans, with DC predictors
    reset (the numbering restarts at RST0 per scan, per T.81 E.2.4).
    Quantized coefficients are computed with the exact baseline
    expression, so decode equals the baseline round-trip bitwise."""
    if not 0 <= al <= 3:
        raise ValueError("al must be in 0..3")
    ri = restart_interval
    gray = img.ndim == 2
    h, w = img.shape[:2]
    if gray:
        comps = [(1, 1, 1, 0)]
        mh, mw = (h + 7) // 8, (w + 7) // 8
        planes = [_pad_to(img.astype(np.float64), mh * 8, mw * 8)]
        qtabs = [QTAB]
        dc_encs, ac_encs = [_DC_ENC], [_AC_ENC]
    else:
        if subsample not in _SUBSAMPLE_MODES:
            raise ValueError(f"unknown subsample mode {subsample!r}")
        yh, yv = _SUBSAMPLE_MODES[subsample]
        ycc = rgb_to_ycbcr(img)
        y = ycc[:, :, 0].astype(np.float64)
        cb, cr = chroma_planes(ycc, yh, yv)
        cb, cr = cb.astype(np.float64), cr.astype(np.float64)
        comps = [(1, yh, yv, 0), (2, 1, 1, 1), (3, 1, 1, 1)]
        mcu_h, mcu_w = 8 * yv, 8 * yh
        mh = (h + mcu_h - 1) // mcu_h
        mw = (w + mcu_w - 1) // mcu_w
        planes = [
            _pad_to(y, mh * yv * 8, mw * yh * 8),
            _pad_to(cb, mh * 8, mw * 8),
            _pad_to(cr, mh * 8, mw * 8),
        ]
        qtabs = [QTAB, QTAB_CHROMA, QTAB_CHROMA]
        dc_encs = [_DC_ENC, _DC_ENC_C, _DC_ENC_C]
        ac_encs = [_AC_ENC, _AC_ENC_C, _AC_ENC_C]

    coefs = [_quantize_blocks(p, q) for p, q in zip(planes, qtabs)]
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)

    out = bytearray(b"\xff\xd8" + _seg(0xFFE0, _JFIF_APP0))
    out += _seg(0xFFDB, _dqt_payload(0, QTAB))
    if not gray:
        out += _seg(0xFFDB, _dqt_payload(1, QTAB_CHROMA))
    sof = struct.pack(">BHHB", 8, h, w, len(comps)) + b"".join(
        bytes([cid, (hi << 4) | vi, tq]) for cid, hi, vi, tq in comps
    )
    out += _seg(0xFFC2, sof)
    dht = bytes([0x00]) + bytes(_DC_BITS) + bytes(_DC_VALS)
    dht += bytes([0x10]) + bytes(_AC_BITS) + bytes(_AC_VALS)
    if not gray:
        dht += bytes([0x01]) + bytes(_DC_BITS_C) + bytes(_DC_VALS_C)
        dht += bytes([0x11]) + bytes(_AC_BITS_C) + bytes(_AC_VALS_C)
    out += _seg(0xFFC4, dht)

    if ri:
        out += _seg(0xFFDD, struct.pack(">H", ri))

    dc_ids = [0 if ci == 0 else 1 for ci in range(len(comps))]
    scan_comps = [
        (comps[ci][0], dc_ids[ci], dc_ids[ci]) for ci in range(len(comps))
    ]
    units = _mcu_units(mh, mw, comps)
    # DC first (interleaved), then refinements down to bit 0
    out += _sos(scan_comps, 0, 0, 0, al)
    out += _enc_dc_first(coefs, units, len(comps), al, dc_encs, ri)
    for a in range(al, 0, -1):
        out += _sos(scan_comps, 0, 0, a, a - 1)
        out += _enc_dc_refine(coefs, units, a - 1, ri)
    # AC bands per component (non-interleaved), first then refinement
    bands = [(1, 5), (6, 63)]
    for ci, (cid, hi, vi, _tq) in enumerate(comps):
        cbh, cbw = _comp_grid(h, w, hi, vi, hmax, vmax)
        for ss, se in bands:
            out += _sos([(cid, dc_ids[ci], dc_ids[ci])], ss, se, 0, al)
            out += _enc_ac_first(
                coefs[ci], cbh, cbw, ss, se, al, ac_encs[ci], ri
            )
    for a in range(al, 0, -1):
        for ci, (cid, hi, vi, _tq) in enumerate(comps):
            cbh, cbw = _comp_grid(h, w, hi, vi, hmax, vmax)
            for ss, se in bands:
                out += _sos(
                    [(cid, dc_ids[ci], dc_ids[ci])], ss, se, a, a - 1
                )
                out += _enc_ac_refine(
                    coefs[ci], cbh, cbw, ss, se, a, a - 1, ac_encs[ci], ri
                )
    out += b"\xff\xd9"
    return bytes(out)


# --------------------------------------------------------------------------
# Decoder — scan consumers
# --------------------------------------------------------------------------


def _entropy_segment(payload: bytes, start: int) -> tuple[bytes, int]:
    """Slice one scan's entropy-coded bytes: ends at the next real
    marker (0xFF followed by neither 0x00 stuffing nor 0xFF fill).
    Returns (entropy bytes incl. stuffing, position of the marker's
    0xFF)."""
    i = start
    n = len(payload)
    while True:
        j = payload.find(b"\xff", i)
        if j < 0 or j + 1 >= n:
            raise ValueError("unterminated entropy data")
        m = payload[j + 1]
        if m == 0x00:
            i = j + 2
            continue
        if m == 0xFF:  # fill byte before a marker
            i = j + 1
            continue
        if 0xD0 <= m <= 0xD7:  # RSTn: inside the scan's entropy data
            i = j + 2
            continue
        return payload[start:j], j


def _dec_dc_first(reader, coefs, units, dc_decs, preds, al, ri=0):
    for i, unit in enumerate(units):
        n = _restart_due(i, ri)
        if n is not None:
            reader.sync_restart(n)
            for j in range(len(preds)):
                preds[j] = 0
        for ci, by, bx in unit:
            size = reader.read_symbol(dc_decs[ci])
            if size > 15:
                raise ValueError("DC magnitude category out of range")
            preds[ci] += _extend(reader.read_bits(size), size)
            coefs[ci][by, bx, 0] = preds[ci] << al


def _dec_dc_refine(reader, coefs, units, al, ri=0):
    for i, unit in enumerate(units):
        n = _restart_due(i, ri)
        if n is not None:
            reader.sync_restart(n)
        for ci, by, bx in unit:
            if reader.read_bit():
                coefs[ci][by, bx, 0] = int(coefs[ci][by, bx, 0]) | (
                    1 << al
                )


def _dec_ac_first(reader, coef, cbh, cbw, ss, se, al, ac_dec, eobrun, ri=0):
    blocks = [(by, bx) for by in range(cbh) for bx in range(cbw)]
    for i, (by, bx) in enumerate(blocks):
        n = _restart_due(i, ri)
        if n is not None:
            reader.sync_restart(n)
            eobrun = 0  # EOB runs cannot cross a restart boundary
        if eobrun > 0:
            eobrun -= 1
            continue
        k = ss
        while k <= se:
            sym = reader.read_symbol(ac_dec)
            r, s = sym >> 4, sym & 0x0F
            if s:
                k += r
                if k > se:
                    raise ValueError("AC index overflow")
                coef[by, bx, k] = _extend(reader.read_bits(s), s) << al
                k += 1
            elif r == 15:
                k += 16  # ZRL
            else:
                eobrun = (1 << r) - 1  # current block included
                if r:
                    eobrun += reader.read_bits(r)
                break
    return eobrun


def _dec_ac_refine(
    reader, coef, cbh, cbw, ss, se, al, ac_dec, eobrun, ri=0
):
    """G.1.2.3 refinement walk, mirroring jdphuff/stb semantics: each
    symbol's advance-over loop refines already-nonzero coefficients
    (one correction bit each) while consuming `r` zero-history
    positions; EOB runs still refine the remaining band of every block
    they cover."""
    p1, m1 = 1 << al, -1 << al

    def refine(by, bx, k):
        v = int(coef[by, bx, k])
        if reader.read_bit() and (v & p1) == 0:
            coef[by, bx, k] = v + (p1 if v >= 0 else m1)

    blocks = [(by, bx) for by in range(cbh) for bx in range(cbw)]
    for i, (by, bx) in enumerate(blocks):
        n = _restart_due(i, ri)
        if n is not None:
            reader.sync_restart(n)
            eobrun = 0  # EOB runs cannot cross a restart boundary
        k = ss
        if eobrun == 0:
            while k <= se:
                sym = reader.read_symbol(ac_dec)
                r, s = sym >> 4, sym & 0x0F
                newval = 0
                if s:
                    if s != 1:
                        raise ValueError(
                            "refinement magnitude must be 1"
                        )
                    newval = p1 if reader.read_bit() else m1
                elif r != 15:
                    eobrun = 1 << r
                    if r:
                        eobrun += reader.read_bits(r)
                    break
                # advance: refine nonzero history, consume r zeros
                while k <= se:
                    if coef[by, bx, k] != 0:
                        refine(by, bx, k)
                    else:
                        if r == 0:
                            break
                        r -= 1
                    k += 1
                if newval and k <= se:
                    coef[by, bx, k] = newval
                k += 1
        if eobrun > 0:
            # refine every remaining nonzero coefficient in the band
            # (ascending — the same order the scalar walk took)
            for k2 in np.flatnonzero(coef[by, bx, k : se + 1]):
                refine(by, bx, k + int(k2))
            eobrun -= 1
    return eobrun


def decode_progressive(payload: bytes) -> np.ndarray:
    """Decode a progressive (SOF2, Huffman) JPEG — gray → (h, w),
    YCbCr 4:4:4 / 4:2:0 → (h, w, 3) RGB, same contracts as the
    baseline decoder. Accumulates coefficients across scans, then runs
    dequantize → IDCT → assemble once at EOI with the baseline's exact
    per-block expression."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    pos = 2
    qtabs: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}
    comps = None
    dims = None
    coefs = None
    mh = mw = hmax = vmax = 0
    preds: list[int] = []
    saw_scan = False
    restart_interval = 0
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("marker expected")
        marker = payload[pos + 1]
        if marker == 0xD9:
            break
        if marker == 0xFF:  # fill byte
            pos += 1
            continue
        (ln,) = struct.unpack(">H", payload[pos + 2 : pos + 4])
        body = payload[pos + 4 : pos + 2 + ln]
        if len(body) != ln - 2:
            raise ValueError("truncated segment")
        if marker == 0xDB:
            p = 0
            while p < len(body):
                pq_tq = body[p]
                if pq_tq & 0xF0:
                    raise NotImplementedError("16-bit quantization table")
                q = np.zeros((8, 8), dtype=np.int64)
                for i, (r, c) in enumerate(_ZIGZAG):
                    q[r, c] = body[p + 1 + i]
                qtabs[pq_tq & 0x0F] = q
                p += 65
        elif marker == 0xC4:
            p = 0
            while p < len(body):
                tc_th = body[p]
                bits = list(body[p + 1 : p + 17])
                n = sum(bits)
                vals = list(body[p + 17 : p + 17 + n])
                huff[(tc_th >> 4, tc_th & 0x0F)] = _decode_table(bits, vals)
                p += 17 + n
        elif marker == 0xC2:
            if comps is not None:
                raise ValueError("multiple SOF segments")
            precision, h, w, ncomp = struct.unpack(">BHHB", body[:6])
            if precision != 8:
                raise NotImplementedError("non-8-bit precision")
            comps = []
            for i in range(ncomp):
                cid, samp, tq = body[6 + 3 * i : 9 + 3 * i]
                comps.append((cid, samp >> 4, samp & 0x0F, tq))
            dims = (h, w)
            from economic_data_etl_spark.operators.codecs import (
                _check_pixel_budget,
            )

            _check_pixel_budget(w, h, frames=len(comps))
            factors = tuple((c[1], c[2]) for c in comps)
            chroma_111 = ((1, 1), (1, 1))
            if not (
                factors == ((1, 1),)
                or factors == ((1, 1), *chroma_111)
                or factors == ((2, 2), *chroma_111)
                or factors == ((2, 1), *chroma_111)  # 4:2:2
                or factors == ((1, 2), *chroma_111)  # 4:4:0
            ):
                raise NotImplementedError(f"sampling layout {factors}")
            hmax = max(c[1] for c in comps)
            vmax = max(c[2] for c in comps)
            mh = (h + 8 * vmax - 1) // (8 * vmax)
            mw = (w + 8 * hmax - 1) // (8 * hmax)
            coefs = [
                np.zeros((mh * vi, mw * hi, 64), dtype=np.int32)
                for _cid, hi, vi, _tq in comps
            ]
            preds = [0] * len(comps)
        elif marker in (
            0xC0, 0xC1, 0xC3, 0xC5, 0xC6, 0xC7,
            0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF,
        ):
            raise ValueError("mixed/unsupported frame in progressive stream")
        elif marker == 0xDD:
            (restart_interval,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:
            if comps is None or coefs is None:
                raise ValueError("SOS before SOF")
            ns = body[0]
            scan = []
            for i in range(ns):
                cid, tables = body[1 + 2 * i], body[2 + 2 * i]
                ci = next(
                    (j for j, c in enumerate(comps) if c[0] == cid), None
                )
                if ci is None:
                    raise ValueError("SOS/SOF component id mismatch")
                scan.append((ci, tables >> 4, tables & 0x0F))
            ss, se = body[1 + 2 * ns], body[2 + 2 * ns]
            ah_al = body[3 + 2 * ns]
            ah, al = ah_al >> 4, ah_al & 0x0F
            if not (ss <= se <= 63) or al > 13 or ah > 13:
                raise ValueError("bad spectral selection / approximation")
            entropy, pos = _entropy_segment(payload, pos + 2 + ln)
            reader = _BitReader(entropy)
            if ss == 0:
                if se != 0:
                    raise ValueError("DC scan must have Se = 0")
                if len(scan) > 1:
                    units = _mcu_units(
                        mh, mw, [comps[ci] for ci, _d, _a in scan]
                    )
                    # scan component index → frame component index
                    remap = [ci for ci, _d, _a in scan]
                    units = [
                        [(remap[ci], by, bx) for ci, by, bx in unit]
                        for unit in units
                    ]
                else:
                    ci = scan[0][0]
                    cbh, cbw = _comp_grid(
                        *dims, comps[ci][1], comps[ci][2], hmax, vmax
                    )
                    units = [
                        [(ci, by, bx)]
                        for by in range(cbh)
                        for bx in range(cbw)
                    ]
                if ah == 0:
                    dc_decs = {}
                    for ci, dc_id, _ac_id in scan:
                        t = huff.get((0, dc_id))
                        if t is None:
                            raise ValueError("missing Huffman table")
                        dc_decs[ci] = t
                    _dec_dc_first(
                        reader, coefs, units, dc_decs, preds, al,
                        restart_interval,
                    )
                else:
                    if ah != al + 1:
                        raise ValueError("bad successive approximation")
                    _dec_dc_refine(
                        reader, coefs, units, al, restart_interval
                    )
            else:
                if len(scan) != 1:
                    raise ValueError("AC scans must be non-interleaved")
                ci, _dc_id, ac_id = scan[0]
                ac_dec = huff.get((1, ac_id))
                if ac_dec is None:
                    raise ValueError("missing Huffman table")
                cbh, cbw = _comp_grid(
                    *dims, comps[ci][1], comps[ci][2], hmax, vmax
                )
                if ah == 0:
                    _dec_ac_first(
                        reader, coefs[ci], cbh, cbw, ss, se, al, ac_dec,
                        0, restart_interval,
                    )
                else:
                    if ah != al + 1:
                        raise ValueError("bad successive approximation")
                    _dec_ac_refine(
                        reader, coefs[ci], cbh, cbw, ss, se, al, ac_dec,
                        0, restart_interval,
                    )
            saw_scan = True
            continue
        pos += 2 + ln
    if comps is None or dims is None or not saw_scan:
        raise ValueError("missing SOF/SOS")
    h, w = dims

    planes = []
    for ci, (cid, hi, vi, tq) in enumerate(comps):
        if tq not in qtabs:
            raise ValueError("missing quantization table")
        q = qtabs[tq]
        nbh, nbw = coefs[ci].shape[:2]
        # batched dezigzag + IDCT (bitwise identical to per-block —
        # see jpeg._idct_pixels_batch)
        levels = np.zeros((nbh * nbw, 64), dtype=np.int64)
        levels[:, _ZIG_FLAT] = coefs[ci].reshape(nbh * nbw, 64)
        pix = _idct_pixels_batch(levels.reshape(nbh * nbw, 8, 8), q)
        plane = np.ascontiguousarray(
            pix.reshape(nbh, nbw, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(nbh * 8, nbw * 8)
        )
        planes.append(plane)
    if len(comps) == 1:
        return planes[0][:h, :w]
    out_planes = []
    for ci, (cid, hi, vi, tq) in enumerate(comps):
        ch = (h * vi + vmax - 1) // vmax
        cw = (w * hi + hmax - 1) // hmax
        plane = planes[ci][:ch, :cw]
        if (hi, vi) != (hmax, vmax):  # replicate-upsample chroma
            plane = np.repeat(
                np.repeat(plane, vmax // vi, axis=0), hmax // hi, axis=1
            )[:h, :w]
        out_planes.append(plane[:h, :w])
    ycc = np.stack(out_planes, axis=2)
    return ycbcr_to_rgb(ycc)
