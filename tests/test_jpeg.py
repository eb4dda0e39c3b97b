"""JPEG decoder tests: a test-side pure-Python ENCODER (same public T.81
spec, written independently as the inverse pipeline) produces bitstreams
from known pixels; the decoder must recover the luma plane to within DCT
rounding error (quant tables are all-ones, so loss is float rounding
only). Covers baseline 4:4:4 / 4:2:0 / grayscale, restart intervals,
16-bit quant tables, PROGRESSIVE scripts (spectral selection with
cross-block EOB runs; DC+AC successive approximation with correction
bits — progressive decode must equal the baseline decode of the same
pixels exactly), and the refusal contract for arithmetic-coded files."""

import numpy as np
import pytest

from fortissimo_spark.jpeg import ZIGZAG, decode_jpeg_luma

_M = np.zeros((8, 8))
for _u in range(8):
    _c = (1 / np.sqrt(2)) if _u == 0 else 1.0
    for _x in range(8):
        _M[_u, _x] = _c / 2 * np.cos((2 * _x + 1) * _u * np.pi / 16)


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int):
        for k in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((code >> k) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc = 0
                self.n = 0

    def flush(self):
        if self.n:
            self.write((1 << (8 - self.n)) - 1, 8 - self.n)  # pad with 1s


def _canonical(bits, vals):
    """symbol -> (code, length), canonical assignment (mirror of decoder)."""
    enc = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            enc[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return enc


# simple valid tables: DC = 12 categories at 4 bits; AC = 255 symbols at
# 9 bits + 1 at 10 (a DHT length count is a single byte, so max 255/length)
_DC_BITS = [0, 0, 0, 12] + [0] * 12
_DC_VALS = bytes(range(12))
_AC_BITS = [0] * 8 + [255, 1] + [0] * 6
_AC_VALS = bytes(range(256))
_DC_ENC = _canonical(_DC_BITS, _DC_VALS)
_AC_ENC = _canonical(_AC_BITS, _AC_VALS)


def _category(v: int) -> int:
    return 0 if v == 0 else int(abs(v)).bit_length()


def _encode_block(bw, samples, pred):
    """8x8 spatial samples (uint8) -> huffman-coded coefficients; q=1."""
    f = _M @ (samples.astype(np.float64) - 128.0) @ _M.T
    zz = [int(np.rint(f.flat[ZIGZAG[k]])) for k in range(64)]
    diff = zz[0] - pred
    s = _category(diff)
    code, ln = _DC_ENC[s]
    bw.write(code, ln)
    if s:
        bw.write(diff if diff > 0 else diff + (1 << s) - 1, s)
    run = 0
    for k in range(1, 64):
        v = zz[k]
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = _AC_ENC[0xF0]  # ZRL
            bw.write(code, ln)
            run -= 16
        s = _category(v)
        code, ln = _AC_ENC[(run << 4) | s]
        bw.write(code, ln)
        bw.write(v if v > 0 else v + (1 << s) - 1, s)
        run = 0
    if run:
        code, ln = _AC_ENC[0x00]  # EOB
        bw.write(code, ln)
    return zz[0]


def _seg(marker: int, body: bytes) -> bytes:
    return bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big") + body


def _prepare_planes(rgb, subsampling):
    """(h, w, comps[(id,hs,vs)], samp{id: padded plane}, mcux, mcuy)."""
    h, w = rgb.shape[:2]
    gray = rgb.ndim == 2 or rgb.shape[2] == 1
    r = rgb[..., 0].astype(np.float64) if not gray else rgb.astype(np.float64)
    if gray:
        comps = [(1, 1, 1)]  # id, hs, vs
        planes = {1: r}
    else:
        g = rgb[..., 1].astype(np.float64)
        b = rgb[..., 2].astype(np.float64)
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128
        if subsampling == "420":
            comps = [(1, 2, 2), (2, 1, 1), (3, 1, 1)]
        else:
            comps = [(1, 1, 1), (2, 1, 1), (3, 1, 1)]
        planes = {1: y, 2: cb, 3: cr}
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)

    # per-component padded planes at their sampled resolution
    samp = {}
    for cid, hs, vs in comps:
        p = planes[cid]
        if (hs, vs) != (hmax, vmax):  # downsample by box average
            fy, fx = vmax // vs, hmax // hs
            py = ((h + fy - 1) // fy), ((w + fx - 1) // fx)
            sm = np.zeros(py)
            for yy in range(py[0]):
                for xx in range(py[1]):
                    blk = p[yy * fy:min((yy + 1) * fy, h),
                            xx * fx:min((xx + 1) * fx, w)]
                    sm[yy, xx] = blk.mean()
            p = sm
        ph, pw = mcuy * 8 * vs, mcux * 8 * hs
        pad = np.zeros((ph, pw))
        pad[:p.shape[0], :p.shape[1]] = p
        pad[:p.shape[0], p.shape[1]:] = p[:, -1:]  # edge-extend
        pad[p.shape[0]:, :] = pad[p.shape[0] - 1:p.shape[0], :]
        samp[cid] = pad
    return h, w, comps, samp, mcux, mcuy


def encode_jpeg(rgb, subsampling="444", restart_interval=0,
                quant_precision=0):
    """rgb: H x W x 3 uint8 array -> baseline JFIF bytes (quality = lossless
    modulo DCT rounding: all-ones quant tables)."""
    h, w, comps, samp, mcux, mcuy = _prepare_planes(rgb, subsampling)

    out = bytearray(b"\xff\xd8")
    if quant_precision == 0:
        out += _seg(0xDB, bytes([0x00]) + bytes([1] * 64))
    else:  # 16-bit table, still all ones
        out += _seg(0xDB, bytes([0x10]) + b"\x00\x01" * 64)
    sof = bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big") \
        + bytes([len(comps)])
    for cid, hs, vs in comps:
        sof += bytes([cid, (hs << 4) | vs, 0])
    out += _seg(0xC0, sof)
    out += _seg(0xC4, bytes([0x00]) + bytes(_DC_BITS) + _DC_VALS)
    out += _seg(0xC4, bytes([0x10]) + bytes(_AC_BITS) + _AC_VALS)
    if restart_interval:
        out += _seg(0xDD, restart_interval.to_bytes(2, "big"))
    sos = bytes([len(comps)])
    for cid, _, _ in comps:
        sos += bytes([cid, 0x00])
    sos += bytes([0, 63, 0])
    out += _seg(0xDA, sos)

    bw = _BitWriter()
    preds = {cid: 0 for cid, _, _ in comps}
    mcu_n = 0
    rst = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_n and mcu_n % restart_interval == 0:
                bw.flush()
                out += bw.out
                out += bytes([0xFF, 0xD0 + (rst % 8)])
                rst += 1
                bw = _BitWriter()
                preds = {cid: 0 for cid, _, _ in comps}
            for cid, hs, vs in comps:
                for by in range(vs):
                    for bx in range(hs):
                        y0, x0 = (my * vs + by) * 8, (mx * hs + bx) * 8
                        preds[cid] = _encode_block(
                            bw, samp[cid][y0:y0 + 8, x0:x0 + 8], preds[cid])
            mcu_n += 1
    bw.flush()
    out += bw.out
    out += b"\xff\xd9"
    return bytes(out)


def _gradient(h, w):
    yy, xx = np.mgrid[0:h, 0:w]
    return np.stack([(xx * 37 + yy * 11) % 256,
                     (xx * 5 + yy * 93) % 256,
                     (xx * 201 + yy * 67) % 256], axis=-1).astype(np.uint8)


def _luma(rgb):
    return (0.299 * rgb[..., 0] + 0.587 * rgb[..., 1]
            + 0.114 * rgb[..., 2])


@pytest.mark.parametrize("size", [(16, 16), (24, 16), (13, 9)])
def test_jpeg_444_luma_roundtrip(size):
    w, h = size
    rgb = _gradient(h, w)
    jw, jh, plane = decode_jpeg_luma(encode_jpeg(rgb, "444"))
    assert (jw, jh) == (w, h)
    assert plane.shape == (h, w)
    # all-ones quant: error is DCT float rounding only
    assert np.abs(plane.astype(float) - _luma(rgb)).max() <= 2.0


def test_jpeg_420_and_restarts_and_16bit_quant():
    rgb = _gradient(32, 48)
    for kwargs in ({"subsampling": "420"},
                   {"subsampling": "420", "restart_interval": 2},
                   {"subsampling": "444", "restart_interval": 1},
                   {"subsampling": "444", "quant_precision": 1}):
        jw, jh, plane = decode_jpeg_luma(encode_jpeg(rgb, **kwargs))
        assert (jw, jh) == (48, 32)
        assert np.abs(plane.astype(float) - _luma(rgb)).max() <= 2.0, kwargs


def test_jpeg_grayscale_single_component():
    g = ((np.mgrid[0:16, 0:16][0] * 16 + np.mgrid[0:16, 0:16][1]) % 256
         ).astype(np.uint8)
    jw, jh, plane = decode_jpeg_luma(encode_jpeg(g))
    assert (jw, jh) == (16, 16)
    assert np.abs(plane.astype(float) - g).max() <= 2.0


def test_jpeg_refusals():
    rgb = _gradient(16, 16)
    good = encode_jpeg(rgb)
    # arithmetic coding: flip SOF0 -> SOF9
    arith = good.replace(b"\xff\xc0", b"\xff\xc9", 1)
    with pytest.raises(ValueError, match="unsupported JPEG process"):
        decode_jpeg_luma(arith)
    with pytest.raises(ValueError):
        decode_jpeg_luma(b"\x89PNG not a jpeg")


def test_jpeg_partial_scan_baseline_refused():
    """r4 ADVICE fix: a spec-legal multi-scan non-interleaved baseline
    (first SOS covers only some frame components) must surface as the
    unsupported-feature ValueError contract, not a KeyError masquerading
    as a corrupt payload."""
    good = encode_jpeg(_gradient(16, 16), "444")
    i = good.index(b"\xff\xda")
    # original SOS: 3 scan components (payload 10, length field 12);
    # rewrite to a 1-component scan (payload 6, length field 8)
    partial = (good[:i]
               + b"\xff\xda" + (8).to_bytes(2, "big")
               + bytes([1, 1, 0x00, 0, 63, 0])
               + good[i + 14:])
    with pytest.raises(ValueError, match="non-interleaved baseline"):
        decode_jpeg_luma(partial)


def test_jpeg_through_decode_image_and_kernel():
    from fortissimo_spark.modality import decode_image
    rgb = _gradient(16, 16)
    w, h, grid = decode_image(encode_jpeg(rgb))
    assert (w, h) == (16, 16)
    # grid vs the luma-derived expectation (4x4 block means)
    exp = _luma(rgb)
    cells = [exp[gy * 4:(gy + 1) * 4, gx * 4:(gx + 1) * 4].mean()
             for gy in range(4) for gx in range(4)]
    assert max(abs(a - b) for a, b in zip(grid, cells)) <= 3.0


def _dct_zz(samples):
    """8x8 spatial -> 64 quantized (q=1) coefficients in ZIGZAG order."""
    f = _M @ (samples.astype(np.float64) - 128.0) @ _M.T
    return [int(np.rint(f.flat[ZIGZAG[k]])) for k in range(64)]


def _emit_dc_first(bw, diff):
    s = _category(diff)
    code, ln = _DC_ENC[s]
    bw.write(code, ln)
    if s:
        bw.write(diff if diff > 0 else diff + (1 << s) - 1, s)


def _emit_ac_first_block(bw, zz, ss, se, al, eob_state):
    """AC first scan for one block; returns updated pending-EOB count.
    Fully-empty bands accumulate into a cross-block EOB run (exercises the
    decoder's eobrun>1 path); non-empty bands flush the run first."""
    band = [int(zz[k]) // (1 << al) if zz[k] >= 0
            else -((-int(zz[k])) >> al) for k in range(ss, se + 1)]
    # truncation toward zero == sign * (abs >> al)
    if not any(band):
        return eob_state + 1
    if eob_state:
        r = eob_state.bit_length() - 1
        code, ln = _AC_ENC[r << 4]
        bw.write(code, ln)
        if r:
            bw.write(eob_state - (1 << r), r)
        eob_state = 0
    run = 0
    for v in band:
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = _AC_ENC[0xF0]
            bw.write(code, ln)
            run -= 16
        s = _category(v)
        code, ln = _AC_ENC[(run << 4) | s]
        bw.write(code, ln)
        bw.write(v if v > 0 else v + (1 << s) - 1, s)
        run = 0
    if run:
        code, ln = _AC_ENC[0x00]
        bw.write(code, ln)
    return eob_state


def _flush_eob(bw, eob_state):
    if eob_state:
        r = eob_state.bit_length() - 1
        code, ln = _AC_ENC[r << 4]
        bw.write(code, ln)
        if r:
            bw.write(eob_state - (1 << r), r)
    return 0


def _emit_ac_refine_block(bw, zz, ss, se, al):
    """AC refinement (Ah=al+1 -> Al=al): corrections for old-nonzero
    coefficients, ±1<<al insertions for newly-nonzero, per T.81 G.1.2.3."""
    hi = 1 << (al + 1)
    pending = []
    r = 0
    # the last newly-nonzero coefficient: zero runs past it fold into EOB
    last_new = max((k for k in range(ss, se + 1) if 0 < abs(int(zz[k])) < hi),
                   default=-1)
    for k in range(ss, se + 1):
        v = int(zz[k])
        if v == 0:
            r += 1
            continue
        # a ZRL passes 16 zero-history coefficients and carries the
        # correction bits of the old-nonzero ones among them, so it goes
        # out before any later coefficient's bit (libjpeg encode_mcu_AC_refine)
        while r > 15 and k <= last_new:
            code, ln = _AC_ENC[0xF0]
            bw.write(code, ln)
            for b in pending:
                bw.write(b, 1)
            pending = []
            r -= 16
        if abs(v) >= hi:          # old-nonzero: correction bit
            pending.append((abs(v) >> al) & 1)
        else:                     # newly nonzero: must be ±(1<<al)
            code, ln = _AC_ENC[(r << 4) | 1]
            bw.write(code, ln)
            bw.write(1 if v > 0 else 0, 1)  # sign bit
            for b in pending:
                bw.write(b, 1)
            pending = []
            r = 0
    if r or pending:
        code, ln = _AC_ENC[0x00]  # EOB (run of 1)
        bw.write(code, ln)
        for b in pending:
            bw.write(b, 1)


def encode_jpeg_progressive(rgb, subsampling="444", successive=False):
    """Progressive JFIF (SOF2). successive=False: spectral selection only
    (DC scan + two AC band scans per component, cross-block EOB runs).
    successive=True: DC at Al=1 + DC refinement, AC band at Al=1 + AC
    refinement — the full Annex G bit-machinery."""
    h, w, comps, samp, mcux, mcuy = _prepare_planes(rgb, subsampling)
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)

    # precompute per-component zigzag coefficient blocks (padded dims)
    zz = {}
    for cid, hs, vs in comps:
        bw_full, bh_full = mcux * hs, mcuy * vs
        blocks = {}
        for by in range(bh_full):
            for bx in range(bw_full):
                blocks[(bx, by)] = _dct_zz(
                    samp[cid][by * 8:by * 8 + 8, bx * 8:bx * 8 + 8])
        zz[cid] = blocks

    out = bytearray(b"\xff\xd8")
    out += _seg(0xDB, bytes([0x00]) + bytes([1] * 64))
    sof = bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big") \
        + bytes([len(comps)])
    for cid, hs, vs in comps:
        sof += bytes([cid, (hs << 4) | vs, 0])
    out += _seg(0xC2, sof)
    out += _seg(0xC4, bytes([0x00]) + bytes(_DC_BITS) + _DC_VALS)
    out += _seg(0xC4, bytes([0x10]) + bytes(_AC_BITS) + _AC_VALS)

    def sos(comp_ids, ss, se, ah, al):
        head = bytes([len(comp_ids)])
        for cid in comp_ids:
            head += bytes([cid, 0x00])
        head += bytes([ss, se, (ah << 4) | al])
        return _seg(0xDA, head)

    def real_blocks(cid):
        hs, vs = next((hh, vv) for c, hh, vv in comps if c == cid)
        cw = (w * hs + hmax - 1) // hmax
        ch = (h * vs + vmax - 1) // vmax
        return (cw + 7) // 8, (ch + 7) // 8

    dc_al = 1 if successive else 0
    # --- DC first scan (interleaved over MCUs, dummy blocks included) ---
    out += sos([c for c, _, _ in comps], 0, 0, 0, dc_al)
    bw = _BitWriter()
    preds = {c: 0 for c, _, _ in comps}
    for my in range(mcuy):
        for mx in range(mcux):
            for cid, hs, vs in comps:
                for by in range(vs):
                    for bx in range(hs):
                        dc = zz[cid][(mx * hs + bx, my * vs + by)][0] >> dc_al
                        _emit_dc_first(bw, dc - preds[cid])
                        preds[cid] = dc
    bw.flush()
    out += bw.out
    if successive:
        # --- DC refinement: one raw bit per block, same MCU order ---
        out += sos([c for c, _, _ in comps], 0, 0, 1, 0)
        bw = _BitWriter()
        for my in range(mcuy):
            for mx in range(mcux):
                for cid, hs, vs in comps:
                    for by in range(vs):
                        for bx in range(hs):
                            bw.write(zz[cid][(mx * hs + bx, my * vs + by)][0] & 1, 1)
        bw.flush()
        out += bw.out

    # --- AC scans: non-interleaved, REAL block dims, per component ---
    for cid, hs, vs in comps:
        rbw, rbh = real_blocks(cid)
        bands = [(1, 63)] if successive else [(1, 5), (6, 63)]
        ac_al = 1 if successive else 0
        for ss, se in bands:
            out += sos([cid], ss, se, 0, ac_al)
            bw = _BitWriter()
            eob = 0
            for by in range(rbh):
                for bx in range(rbw):
                    eob = _emit_ac_first_block(bw, zz[cid][(bx, by)],
                                               ss, se, ac_al, eob)
            eob = _flush_eob(bw, eob)
            bw.flush()
            out += bw.out
        if successive:
            out += sos([cid], 1, 63, 1, 0)
            bw = _BitWriter()
            for by in range(rbh):
                for bx in range(rbw):
                    _emit_ac_refine_block(bw, zz[cid][(bx, by)], 1, 63, 0)
            bw.flush()
            out += bw.out
    out += b"\xff\xd9"
    return bytes(out)


@pytest.mark.parametrize("successive", [False, True])
@pytest.mark.parametrize("size,sub", [((16, 16), "444"), ((20, 24), "420"),
                                      ((13, 9), "444")])
def test_jpeg_progressive_roundtrip(size, sub, successive):
    """Progressive decode == the same pixels through the baseline path:
    spectral selection, cross-block EOB runs, and (successive=True) DC+AC
    successive approximation with correction bits. (20,24)/420 exercises
    real-vs-MCU-padded block dims in non-interleaved AC scans."""
    w, h = size
    rgb = _gradient(h, w)
    pj, ph_, plane_p = decode_jpeg_luma(
        encode_jpeg_progressive(rgb, sub, successive=successive))
    bj, bh_, plane_b = decode_jpeg_luma(encode_jpeg(rgb, sub))
    assert (pj, ph_) == (bj, bh_) == (w, h)
    assert np.array_equal(plane_p, plane_b), \
        f"max diff {np.abs(plane_p.astype(int) - plane_b.astype(int)).max()}"


def test_jpeg_progressive_grayscale():
    g = ((np.mgrid[0:24, 0:16][0] * 16 + np.mgrid[0:24, 0:16][1]) % 256
         ).astype(np.uint8)
    for successive in (False, True):
        jw, jh, plane = decode_jpeg_luma(
            encode_jpeg_progressive(g, successive=successive))
        assert (jw, jh) == (16, 24)
        assert np.abs(plane.astype(float) - g).max() <= 2.0
