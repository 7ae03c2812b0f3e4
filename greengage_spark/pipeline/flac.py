"""Clean-room FLAC codec (the published xiph.org FLAC format spec).

Free Lossless Audio Codec — the common interchange format for audio
corpora.  Like the JPEG and H.264 lanes, both directions are
implemented so the lane is self-verifying, and LOSSLESSNESS makes the
verification absolute: decode(encode(pcm)) must equal pcm bit-for-bit
for arbitrary input.

Decoder scope: STREAMINFO + any metadata blocks (skipped), fixed and
variable blocksize frames, all blocksize/samplerate/samplesize codes,
independent channels plus all three stereo decorrelations (left/side,
right/side, mid/side), CONSTANT / VERBATIM / FIXED(0-4) / LPC
subframes, wasted bits, Rice and Rice2 residual partitions with raw
escapes, CRC-8 header and CRC-16 frame checks.

Encoder scope (always lossless): independent channels, fixed
blocksize, per-subframe choice among CONSTANT / FIXED(0-4) / LPC
(Levinson-Durbin to order 8, Hann-windowed autocorrelation, 14-bit
quantized coefficients with error feedback — residuals computed with
the decoder's exact shifted-integer form, so losslessness is
structural), partitioned Rice residuals (order 0..6 searched, per-
partition parameter search) with per-partition raw escapes.  16-bit
PCM.  Real compression: ~0.17× on tonal, ~0.65× on speech-like
signals; noise stays ~1× as information theory demands.

Spark integration: `decode_media` dispatches on the 'fLaC' magic; the
decode rides the same Arrow-batched mapInPandas lane as every other
modality (pipeline/multimodal.py).
"""

from __future__ import annotations

import struct

import numpy as np

from greengage_spark.pipeline.h264 import BitReader, BitWriter

# --------------------------------------------------------------------------
# CRCs (FLAC frame integrity: CRC-8 poly 0x07, CRC-16 poly 0x8005)
# --------------------------------------------------------------------------


def _make_crc_table(poly: int, width: int) -> list[int]:
    table = []
    top = 1 << (width - 1)
    mask = (1 << width) - 1
    for byte in range(256):
        crc = byte << (width - 8)
        for _ in range(8):
            crc = ((crc << 1) ^ poly) if crc & top else (crc << 1)
        table.append(crc & mask)
    return table


_CRC8_TABLE = _make_crc_table(0x07, 8)
_CRC16_TABLE = _make_crc_table(0x8005, 16)


def crc8(data: bytes) -> int:
    crc = 0
    for b in data:
        crc = _CRC8_TABLE[crc ^ b]
    return crc


def crc16(data: bytes) -> int:
    crc = 0
    for b in data:
        crc = ((crc << 8) & 0xFFFF) ^ _CRC16_TABLE[((crc >> 8) ^ b) & 0xFF]
    return crc


# --------------------------------------------------------------------------
# bit-level helpers
# --------------------------------------------------------------------------


def _read_signed(r: BitReader, bits: int) -> int:
    v = r.u(bits)
    return v - (1 << bits) if v & (1 << (bits - 1)) else v


def _write_signed(w: BitWriter, v: int, bits: int) -> None:
    w.u(v & ((1 << bits) - 1), bits)


def _read_unary(r: BitReader) -> int:
    n = 0
    while r.u(1) == 0:
        n += 1
        if n > 1 << 20:
            raise ValueError("flac: runaway unary code")
    return n


def _read_utf8_number(r: BitReader) -> int:
    """The frame header's UTF-8-style coded number (up to 36 bits)."""
    b0 = r.u(8)
    if b0 < 0x80:
        return b0
    n = 0
    probe = b0
    while probe & 0x40:
        n += 1
        probe <<= 1
    if n < 1 or n > 6:
        raise ValueError(f"flac: bad UTF-8 coded number lead byte {b0:#x}")
    val = b0 & (0x3F >> n)
    for _ in range(n):
        c = r.u(8)
        if c & 0xC0 != 0x80:
            raise ValueError("flac: bad UTF-8 continuation byte")
        val = (val << 6) | (c & 0x3F)
    return val


def _write_utf8_number(w: BitWriter, v: int) -> None:
    if v < 0x80:
        w.u(v, 8)
        return
    # shortest multi-byte form: n continuation bytes carry 6 bits each,
    # the lead byte carries (6 - n)
    n = 1
    while v >= (1 << (6 - n + 6 * n)) and n < 6:
        n += 1
    body = []
    x = v
    for _ in range(n):
        body.append(0x80 | (x & 0x3F))
        x >>= 6
    lead = ((0xFF00 >> n) & 0xFF) | x
    w.u(lead & 0xFF, 8)
    for c in reversed(body):
        w.u(c, 8)


# --------------------------------------------------------------------------
# Rice residual coding
# --------------------------------------------------------------------------


def _zigzag(v: int) -> int:
    return (v << 1) if v >= 0 else ((-v << 1) - 1)


def _unzigzag(u: int) -> int:
    return (u >> 1) if (u & 1) == 0 else -((u + 1) >> 1)


def _read_residual(r: BitReader, blocksize: int, order: int) -> list[int]:
    method = r.u(2)
    if method > 1:
        raise ValueError(f"flac: reserved residual method {method}")
    pbits = 4 if method == 0 else 5
    escape = (1 << pbits) - 1
    porder = r.u(4)
    nparts = 1 << porder
    if blocksize % nparts:
        raise ValueError("flac: partition order does not divide blocksize")
    out: list[int] = []
    for part in range(nparts):
        n = blocksize // nparts - (order if part == 0 else 0)
        param = r.u(pbits)
        if param == escape:
            raw = r.u(5)
            for _ in range(n):
                out.append(_read_signed(r, raw) if raw else 0)
            continue
        for _ in range(n):
            q = _read_unary(r)
            low = r.u(param) if param else 0
            out.append(_unzigzag((q << param) | low))
    return out


def _best_rice_param(zig: np.ndarray) -> tuple[int, int]:
    """(param, bits) minimizing Rice cost over one partition —
    vectorized; params 0..14 (15 is the 4-bit escape)."""
    best_p, best_c = 0, None
    for p in range(15):
        c = int((zig >> p).sum()) + (1 + p) * len(zig)
        if best_c is None or c < best_c:
            best_p, best_c = p, c
        elif c > best_c:  # cost is convex in p: passed the optimum
            break
    return best_p, best_c


def _write_residual(
    w: BitWriter, resid: list[int], bps: int, order: int = 0,
    blocksize: int | None = None,
) -> None:
    """Partitioned Rice (spec: RESIDUAL_CODING_METHOD_PARTITIONED_RICE):
    search partition orders 0..6 with per-partition parameter search,
    take the cheapest total; raw escape per partition when Rice would
    expand (always lossless either way)."""
    if blocksize is None:
        blocksize = len(resid) + order
    zig = np.array([_zigzag(v) for v in resid], np.int64)
    # escape width: wide enough for the largest actual residual (5-bit
    # field caps at 31; the subframe chooser discards any candidate
    # whose residuals would not fit)
    need = max(
        ((v if v >= 0 else ~v).bit_length() + 1 for v in resid), default=1
    )
    raw_bits = min(max(bps + 5, need), 31)
    best = None  # (total_bits, porder, [(param|None, part_slice)])
    for po in range(0, 7):
        nparts = 1 << po
        if blocksize % nparts or blocksize // nparts <= order:
            continue
        step = blocksize // nparts
        total, plan, pos = 4, [], 0
        for part in range(nparts):
            n = step - (order if part == 0 else 0)
            pz = zig[pos : pos + n]
            pos += n
            param, bits = _best_rice_param(pz)
            if bits > 4 + 5 + n * raw_bits:  # per-partition escape
                plan.append((None, n))
                total += 4 + 5 + n * raw_bits
            else:
                plan.append((param, n))
                total += 4 + bits
        if best is None or total < best[0]:
            best = (total, po, plan)
    _, porder, plan = best
    w.u(0, 2)  # method 00 = 4-bit Rice
    w.u(porder, 4)
    pos = 0
    for param, n in plan:
        vals = resid[pos : pos + n]
        pos += n
        if param is None:
            w.u(15, 4)  # escape
            w.u(raw_bits, 5)
            for v in vals:
                _write_signed(w, v, raw_bits)
            continue
        w.u(param, 4)
        for v in vals:
            u = _zigzag(v)
            q, low = u >> param, u & ((1 << param) - 1)
            w.raw("0" * q + "1")
            if param:
                w.u(low, param)


_FIXED_COEFS = {
    0: [],
    1: [1],
    2: [2, -1],
    3: [3, -3, 1],
    4: [4, -6, 4, -1],
}


# --------------------------------------------------------------------------
# decoder
# --------------------------------------------------------------------------


def decode_flac(data: bytes) -> dict:
    """Decode a FLAC stream → {samples (np.int32, frames × channels),
    sample_rate, channels, bits_per_sample, total_samples}."""
    if data[:4] != b"fLaC":
        raise ValueError("flac: missing fLaC stream marker")
    pos = 4
    info = None
    tags: dict[str, str] = {}
    while True:
        hdr = data[pos : pos + 4]
        last = hdr[0] >> 7
        btype = hdr[0] & 0x7F
        (blen,) = struct.unpack(">I", b"\x00" + hdr[1:4])
        body = data[pos + 4 : pos + 4 + blen]
        if btype == 4:
            # VORBIS_COMMENT (the Xiph comment spec): LE-framed
            # vendor string + KEY=value pairs — the corpus metadata
            # (artist/title/album) audio pipelines filter on
            p2 = 0
            (vlen,) = struct.unpack_from("<I", body, p2)
            p2 += 4 + vlen
            (ncomm,) = struct.unpack_from("<I", body, p2)
            p2 += 4
            for _ in range(ncomm):
                (clen,) = struct.unpack_from("<I", body, p2)
                p2 += 4
                kv = body[p2 : p2 + clen].decode("utf-8", "replace")
                p2 += clen
                k, _, v = kv.partition("=")
                tags[k.lower()] = v
        if btype == 0:
            r = BitReader(body)
            r.u(16)
            r.u(16)
            r.u(24)
            r.u(24)
            sr = r.u(20)
            ch = r.u(3) + 1
            bps = r.u(5) + 1
            total = r.u(36)
            info = {"sample_rate": sr, "channels": ch, "bps": bps,
                    "total": total}
        elif btype == 127:
            raise ValueError("flac: invalid metadata block type 127")
        pos += 4 + blen
        if last:
            break
    if info is None:
        raise ValueError("flac: missing STREAMINFO")
    channels_out: list[list[int]] = []
    got = 0
    # STREAMINFO total_samples=0 is spec-legal "unknown length"
    # (streamed encodes): decode frames to end-of-data instead
    unknown_len = info["total"] == 0
    while (pos < len(data)) if unknown_len else (got < info["total"]):
        frame, consumed = _decode_frame(data, pos, info)
        pos += consumed
        for i, chan in enumerate(frame):
            if i >= len(channels_out):
                channels_out.append([])
            channels_out[i].extend(chan)
        got += len(frame[0])
    if not channels_out:
        raise ValueError(
            "flac: stream contains no audio frames (unknown-length "
            "STREAMINFO and no frame data)"
        )
    n = got if unknown_len else info["total"]
    samples = np.stack(
        [np.array(c[:n], np.int64) for c in channels_out], axis=1
    ).astype(np.int32)
    return {
        "samples": samples,
        "sample_rate": info["sample_rate"],
        "channels": info["channels"],
        "bits_per_sample": info["bps"],
        "total_samples": n,
        "tags": tags,
        "kind": "flac",
    }


_BLOCKSIZE_FIXED = {1: 192, 2: 576, 3: 1152, 4: 2304, 5: 4608,
                    8: 256, 9: 512, 10: 1024, 11: 2048, 12: 4096,
                    13: 8192, 14: 16384, 15: 32768}
_SAMPLE_RATES = {1: 88200, 2: 176400, 3: 192000, 4: 8000, 5: 16000,
                 6: 22050, 7: 24000, 8: 32000, 9: 44100, 10: 48000,
                 11: 96000}
_SAMPLE_SIZES = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24}


def _decode_frame(data: bytes, start: int, info: dict):
    r = BitReader(data[start:])
    sync = r.u(14)
    if sync != 0x3FFE:
        raise ValueError(f"flac: bad frame sync {sync:#x}")
    if r.u(1):
        raise ValueError("flac: reserved frame-header bit set")
    r.u(1)  # blocking strategy
    bs_code = r.u(4)
    sr_code = r.u(4)
    ch_code = r.u(4)
    ss_code = r.u(3)
    if r.u(1):
        raise ValueError("flac: reserved frame-header bit set")
    _read_utf8_number(r)
    if bs_code == 0:
        raise ValueError("flac: reserved blocksize code 0")
    if bs_code == 6:
        blocksize = r.u(8) + 1
    elif bs_code == 7:
        blocksize = r.u(16) + 1
    else:
        blocksize = _BLOCKSIZE_FIXED[bs_code]
    if sr_code == 12:
        r.u(8)
    elif sr_code in (13, 14):
        r.u(16)
    elif sr_code == 15:
        raise ValueError("flac: invalid sample-rate code 15")
    bps = info["bps"] if ss_code == 0 else _SAMPLE_SIZES.get(ss_code)
    if bps is None:
        raise ValueError(f"flac: reserved sample-size code {ss_code}")
    hdr_len = (r.pos + 7) // 8
    r.byte_align()
    if r.u(8) != crc8(data[start : start + hdr_len]):
        raise ValueError("flac: frame header CRC-8 mismatch")

    if ch_code <= 7:
        nch = ch_code + 1
        chans = [_decode_subframe(r, blocksize, bps) for _ in range(nch)]
    elif ch_code in (8, 9, 10):
        a = _decode_subframe(r, blocksize, bps + (1 if ch_code == 9 else 0))
        b = _decode_subframe(r, blocksize, bps + (1 if ch_code in (8, 10) else 0))
        if ch_code == 8:  # left/side: side = left - right
            chans = [a, [x - s for x, s in zip(a, b)]]
        elif ch_code == 9:  # right/side: stored (side, right)
            chans = [[rgt + s for s, rgt in zip(a, b)], b]
        else:  # mid/side
            left, right = [], []
            for m, s in zip(a, b):
                x = (m << 1) | (s & 1)
                left.append((x + s) >> 1)
                right.append((x - s) >> 1)
            chans = [left, right]
    else:
        raise ValueError(f"flac: reserved channel assignment {ch_code}")
    r.byte_align()
    body_len = r.pos // 8
    r.u(16)  # frame CRC-16
    if crc16(data[start : start + body_len]) != int.from_bytes(
        data[start + body_len : start + body_len + 2], "big"
    ):
        raise ValueError("flac: frame CRC-16 mismatch")
    return chans, body_len + 2


def _decode_subframe(r: BitReader, blocksize: int, bps: int) -> list[int]:
    if r.u(1):
        raise ValueError("flac: subframe padding bit set")
    stype = r.u(6)
    wasted = 0
    if r.u(1):
        wasted = 1 + _read_unary(r)
    eff = bps - wasted
    if stype == 0:  # CONSTANT
        v = _read_signed(r, eff)
        out = [v] * blocksize
    elif stype == 1:  # VERBATIM
        out = [_read_signed(r, eff) for _ in range(blocksize)]
    elif 8 <= stype <= 12:  # FIXED order 0..4
        order = stype - 8
        out = [_read_signed(r, eff) for _ in range(order)]
        resid = _read_residual(r, blocksize, order)
        coefs = _FIXED_COEFS[order]
        for e in resid:
            pred = sum(c * out[-i - 1] for i, c in enumerate(coefs))
            out.append(e + pred)
    elif stype >= 32:  # LPC order 1..32
        order = stype - 31
        out = [_read_signed(r, eff) for _ in range(order)]
        precision = r.u(4) + 1
        if precision == 16:
            raise ValueError("flac: invalid LPC precision code")
        shift = _read_signed(r, 5)
        if shift < 0:
            raise ValueError("flac: negative LPC shift")
        coefs = [_read_signed(r, precision) for _ in range(order)]
        resid = _read_residual(r, blocksize, order)
        for e in resid:
            pred = sum(c * out[-i - 1] for i, c in enumerate(coefs)) >> shift
            out.append(e + pred)
    else:
        raise ValueError(f"flac: reserved subframe type {stype:#08b}")
    if wasted:
        out = [v << wasted for v in out]
    return out


# --------------------------------------------------------------------------
# encoder
# --------------------------------------------------------------------------


def encode_flac(
    samples,
    sample_rate: int = 8000,
    blocksize: int = 4096,
) -> bytes:
    """Encode 16-bit PCM (array-like, frames × channels or 1-D mono) to
    a FLAC stream — always lossless.  Independent channels; per
    subframe the cheapest of CONSTANT / FIXED(0-4) / LPC(1-8) by Rice
    cost estimate; partitioned Rice residuals with raw escapes."""
    arr = np.asarray(samples, np.int64)
    if arr.ndim == 1:
        arr = arr[:, None]
    n, nch = arr.shape
    if nch > 8:
        raise ValueError("flac: at most 8 channels")
    if arr.max(initial=0) > 32767 or arr.min(initial=0) < -32768:
        raise ValueError("flac: 16-bit PCM range required")
    bps = 16

    si = BitWriter()
    si.u(blocksize, 16)
    si.u(blocksize, 16)
    si.u(0, 24)
    si.u(0, 24)
    si.u(sample_rate, 20)
    si.u(nch - 1, 3)
    si.u(bps - 1, 5)
    si.u(n, 36)
    si.raw("0" * 128)  # md5 unset (the spec's "unknown" value)
    streaminfo = si.bytes()
    out = bytearray(b"fLaC")
    out += bytes([0x80]) + len(streaminfo).to_bytes(3, "big") + streaminfo

    for fno, off in enumerate(range(0, n, blocksize)):
        block = arr[off : off + blocksize]
        out += _encode_frame(block, fno, nch, bps)
    return bytes(out)


def _encode_frame(block: np.ndarray, fno: int, nch: int, bps: int) -> bytes:
    bs = len(block)
    w = BitWriter()
    w.u(0x3FFE, 14)
    w.u(0, 1)
    w.u(0, 1)  # fixed-blocksize strategy
    w.u(7, 4)  # blocksize: 16-bit at end of header
    w.u(0, 4)  # sample rate: from STREAMINFO
    w.u(nch - 1, 4)  # independent channels
    w.u(4, 3)  # sample size: 16-bit
    w.u(0, 1)
    _write_utf8_number(w, fno)
    w.u(bs - 1, 16)
    hdr = w.bytes()
    w.u(crc8(hdr), 8)
    for c in range(nch):
        _encode_subframe(w, [int(v) for v in block[:, c]], bps)
    w.byte_align()
    body = w.bytes()
    return body + crc16(body).to_bytes(2, "big")


_LPC_MAX_ORDER = 8
_LPC_PRECISION = 14


def _levinson(ac: list[float], max_order: int) -> list[np.ndarray]:
    """Levinson-Durbin: predictor coefficient vectors for orders
    1..max_order (x[i] ≈ Σ b[j]·x[i-1-j]) from the autocorrelation."""
    err = ac[0]
    a = np.zeros(max_order + 1)
    orders: list[np.ndarray] = []
    for m in range(1, max_order + 1):
        if err <= 0:
            break
        acc = ac[m] + sum(a[j] * ac[m - j] for j in range(1, m))
        k = -acc / err
        new = a.copy()
        for j in range(1, m):
            new[j] = a[j] + k * a[m - j]
        new[m] = k
        a = new
        err *= 1 - k * k
        orders.append(-a[1 : m + 1].copy())
    return orders


def _quantize_lpc(coefs: np.ndarray, precision: int) -> tuple[list[int], int]:
    """Quantize float predictor coefficients to ``precision``-bit
    integers with a shared shift (spec QLP layout), with error
    feedback so rounding errors do not accumulate."""
    cmax = float(np.abs(coefs).max())
    if cmax <= 0:
        return [0] * len(coefs), 0
    import math

    shift = precision - 1 - (math.frexp(cmax)[1])  # frexp: cmax<2^exp
    shift = max(0, min(15, shift))
    qmax = (1 << (precision - 1)) - 1
    qmin = -(1 << (precision - 1))
    out, e = [], 0.0
    for c in coefs:
        v = c * (1 << shift) + e
        q = max(qmin, min(qmax, int(round(v))))
        e = v - q
        out.append(q)
    return out, shift


def _lpc_candidates(chan: list[int]) -> list[tuple[list[int], int, list[int]]]:
    """(qlp_coefs, shift, residual) per viable LPC order — integer
    residuals computed exactly the way the decoder reconstructs
    (shifted signed sum), so losslessness is structural."""
    n = len(chan)
    if n <= _LPC_MAX_ORDER + 1:
        return []
    x = np.asarray(chan, np.float64)
    win = x * np.hanning(n)  # analysis window (affects coef quality only)
    max_order = min(_LPC_MAX_ORDER, n - 1)
    ac = [float(np.dot(win[: n - k], win[k:])) for k in range(max_order + 1)]
    if ac[0] == 0.0:
        return []
    out = []
    xi = np.asarray(chan, np.int64)
    for coefs in _levinson(ac, max_order):
        order = len(coefs)
        qlp, shift = _quantize_lpc(coefs, _LPC_PRECISION)
        if not any(qlp):
            continue
        # pred[i] = (Σ qlp[j]·x[i-1-j]) >> shift  (decoder's exact form)
        acc = np.zeros(n - order, np.int64)
        for j, q in enumerate(qlp):
            acc += q * xi[order - 1 - j : n - 1 - j]
        resid = xi[order:] - (acc >> shift)
        if int(np.abs(resid).max(initial=0)) >= 1 << 30:
            continue  # would not fit the 5-bit escape width
        out.append((qlp, shift, [int(v) for v in resid]))
    return out


def _subframe_cost(resid: list[int], header_bits: int) -> int:
    zig = np.array([_zigzag(v) for v in resid], np.int64)
    _, bits = _best_rice_param(zig)
    return header_bits + bits


def _encode_subframe(w: BitWriter, chan: list[int], bps: int) -> None:
    if len(set(chan)) == 1:
        w.u(0, 1)
        w.u(0, 6)  # CONSTANT
        w.u(0, 1)
        _write_signed(w, chan[0], bps)
        return
    bs = len(chan)
    # candidates: FIXED orders 0..4 and LPC orders 1..8, scored by a
    # single-partition Rice estimate (the partitioned writer can only
    # improve on it)
    best = None  # (bits, kind, order, resid, qlp, shift)
    for order in range(0, 5):
        if bs <= order:
            break
        coefs = _FIXED_COEFS[order]
        resid = [
            chan[i] - sum(c * chan[i - j - 1] for j, c in enumerate(coefs))
            for i in range(order, bs)
        ]
        bits = _subframe_cost(resid, order * bps)
        if best is None or bits < best[0]:
            best = (bits, "fixed", order, resid, None, None)
    for qlp, shift, resid in _lpc_candidates(chan):
        order = len(qlp)
        hdr = order * bps + 4 + 5 + order * _LPC_PRECISION
        bits = _subframe_cost(resid, hdr)
        if bits < best[0]:
            best = (bits, "lpc", order, resid, qlp, shift)
    _, kind, order, resid, qlp, shift = best
    w.u(0, 1)
    if kind == "fixed":
        w.u(8 + order, 6)  # FIXED
        w.u(0, 1)  # no wasted bits
        for v in chan[:order]:
            _write_signed(w, v, bps)
    else:
        w.u(32 + order - 1, 6)  # LPC, order 1..32
        w.u(0, 1)  # no wasted bits
        for v in chan[:order]:
            _write_signed(w, v, bps)
        w.u(_LPC_PRECISION - 1, 4)
        _write_signed(w, shift, 5)
        for q in qlp:
            _write_signed(w, q, _LPC_PRECISION)
    _write_residual(w, resid, bps, order=order, blocksize=bs)


# --------------------------------------------------------------------------
# feature extraction (the multimodal lane's contract)
# --------------------------------------------------------------------------


def flac_features(data: bytes) -> dict:
    """Decode + the same stats shape the WAV lane reports."""
    d = decode_flac(data)
    x = d["samples"].astype(np.float64)
    mono = x.mean(axis=1)
    return {
        "kind": "flac",
        "sample_rate": d["sample_rate"],
        "channels": d["channels"],
        "n_samples": int(d["total_samples"]),
        "duration_s": float(d["total_samples"] / d["sample_rate"]),
        "mean": float(mono.mean()) if len(mono) else 0.0,
        "rms": float(np.sqrt((mono ** 2).mean())) if len(mono) else 0.0,
        "peak": float(np.abs(x).max()) if x.size else 0.0,
    }
