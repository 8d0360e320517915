"""Pure-stdlib FLAC audio codec (round-7).

Speech corpora (LibriSpeech, Common Voice exports, ...) ship FLAC, so
a training-data engine's audio path needs it the way the image path
needs PNG. FLAC is PNG-class machinery — MSB-first bit I/O, Rice
coding, small integer predictors — all tractable stdlib+numpy:

- ``decode_flac``: STREAMINFO + frame decode — CONSTANT / VERBATIM /
  FIXED (orders 0-4) / LPC subframes, Rice residual partitions (4- and
  5-bit params, escape-to-raw), wasted bits, UTF-8-style coded frame
  numbers, all blocksize/samplerate header encodings, independent and
  left-side / right-side / mid-side stereo decorrelation, CRC-8
  (header) and CRC-16 (frame) verification, and the STREAMINFO MD5
  check over the decoded PCM.
- ``encode_flac``: fixture-source encoder emitting real compressed
  streams: per-block best-of FIXED orders 0-2 with per-partition Rice
  params, CONSTANT detection, VERBATIM fallback, optional left-side
  stereo — every decoder path above is reachable via encoder knobs or
  hand-built streams in the tests.

Spec: the FLAC format specification (Xiph.Org; RFC 9639). Bit order
is MSB-first (like JPEG/TIFF-LZW, unlike WAV's byte-level RIFF).
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np


def is_flac(data: bytes) -> bool:
    return bytes(data[:4]) == b"fLaC"


# ------------------------------------------------------------------- bit IO


class _BitReader:
    """MSB-first bit reader."""

    def __init__(self, data: bytes, byte_pos: int = 0):
        self.data = data
        self.pos = byte_pos * 8  # bit position

    def read(self, n: int) -> int:
        v = 0
        p = self.pos
        data = self.data
        try:
            for i in range(n):
                byte = data[(p + i) >> 3]
                v = (v << 1) | ((byte >> (7 - ((p + i) & 7))) & 1)
        except IndexError:
            raise ValueError("FLAC: truncated stream") from None
        self.pos = p + n
        return v

    def read_signed(self, n: int) -> int:
        v = self.read(n)
        return v - (1 << n) if v >= (1 << (n - 1)) else v

    def read_unary(self) -> int:
        q = 0
        while self.read(1) == 0:
            q += 1
        return q

    def align(self) -> None:
        self.pos = (self.pos + 7) & ~7

    def byte_pos(self) -> int:
        return self.pos >> 3


class _BitWriter:
    """MSB-first bit writer."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, n: int) -> None:
        self.acc = (self.acc << n) | (value & ((1 << n) - 1))
        self.nbits += n
        while self.nbits >= 8:
            self.nbits -= 8
            self.out.append((self.acc >> self.nbits) & 0xFF)
        self.acc &= (1 << self.nbits) - 1

    def write_unary(self, q: int) -> None:
        while q >= 32:
            self.write(0, 32)
            q -= 32
        self.write(1, q + 1)  # q zeros then a one

    def align(self) -> None:
        if self.nbits:
            self.write(0, 8 - self.nbits)

    def bytes(self) -> bytes:
        assert self.nbits == 0
        return bytes(self.out)


# --------------------------------------------------------------------- CRC

_CRC8_POLY = 0x07
_CRC16_POLY = 0x8005


def _crc8(data: bytes) -> int:
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ _CRC8_POLY) & 0xFF if crc & 0x80 else (crc << 1) & 0xFF
    return crc


def _crc16(data: bytes) -> int:
    crc = 0
    for b in data:
        crc ^= b << 8
        for _ in range(8):
            crc = ((crc << 1) ^ _CRC16_POLY) & 0xFFFF if crc & 0x8000 \
                else (crc << 1) & 0xFFFF
    return crc


# ------------------------------------------------------------------- rice


def _zigzag(v: np.ndarray) -> np.ndarray:
    """signed residual -> unsigned rice symbol: 0,-1,1,-2,... ->
    0,1,2,3,..."""
    return np.where(v >= 0, v << 1, ((-v) << 1) - 1)


def _unzigzag(u: int) -> int:
    return (u >> 1) if (u & 1) == 0 else -((u + 1) >> 1)


def _rice_read(br: _BitReader, param: int) -> int:
    q = br.read_unary()
    r = br.read(param) if param else 0
    return _unzigzag((q << param) | r)


def _rice_write(bw: _BitWriter, value: int, param: int) -> None:
    u = (value << 1) if value >= 0 else (((-value) << 1) - 1)
    q = u >> param
    bw.write_unary(q)
    if param:
        bw.write(u & ((1 << param) - 1), param)


# ----------------------------------------------------------------- decode

_FIXED_COEFS = {
    0: [],
    1: [1],
    2: [2, -1],
    3: [3, -3, 1],
    4: [4, -6, 4, -1],
}

_BLOCKSIZE_CODES = {1: 192, 2: 576, 3: 1152, 4: 2304, 5: 4608,
                    8: 256, 9: 512, 10: 1024, 11: 2048, 12: 4096,
                    13: 8192, 14: 16384, 15: 32768}
_SAMPLE_SIZE_CODES = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24, 7: 32}


def _read_utf8_number(br: _BitReader) -> int:
    """FLAC's UTF-8-style variable-length coded frame/sample number."""
    first = br.read(8)
    if first < 0x80:
        return first
    n_extra = 0
    mask = 0x80
    while first & mask:
        n_extra += 1
        mask >>= 1
    n_extra -= 1
    v = first & (mask - 1) if mask > 1 else 0
    for _ in range(n_extra):
        b = br.read(8)
        if (b & 0xC0) != 0x80:
            raise ValueError("FLAC: bad UTF-8 coded number")
        v = (v << 6) | (b & 0x3F)
    return v


def _read_residual(br: _BitReader, blocksize: int, order: int) -> list[int]:
    method = br.read(2)
    if method > 1:
        raise ValueError("FLAC: reserved residual method")
    pbits = 4 if method == 0 else 5
    escape = (1 << pbits) - 1
    part_order = br.read(4)
    n_parts = 1 << part_order
    if blocksize % n_parts:
        raise ValueError("FLAC: partition order does not divide blocksize")
    out: list[int] = []
    for p in range(n_parts):
        n = (blocksize >> part_order) - (order if p == 0 else 0)
        param = br.read(pbits)
        if param == escape:
            raw_bits = br.read(5)
            for _ in range(n):
                out.append(br.read_signed(raw_bits) if raw_bits else 0)
        else:
            for _ in range(n):
                out.append(_rice_read(br, param))
    return out


def _read_subframe(br: _BitReader, blocksize: int, bps: int) -> np.ndarray:
    if br.read(1):
        raise ValueError("FLAC: subframe padding bit set")
    stype = br.read(6)
    wasted = 0
    if br.read(1):  # wasted bits flag: unary count - 1
        wasted = br.read_unary() + 1
    eff_bps = bps - wasted
    if stype == 0:  # CONSTANT
        v = br.read_signed(eff_bps)
        samples = np.full(blocksize, v, dtype=np.int64)
    elif stype == 1:  # VERBATIM
        samples = np.array(
            [br.read_signed(eff_bps) for _ in range(blocksize)],
            dtype=np.int64,
        )
    elif 8 <= stype <= 12:  # FIXED, order = stype - 8
        order = stype - 8
        warm = [br.read_signed(eff_bps) for _ in range(order)]
        resid = _read_residual(br, blocksize, order)
        coefs = _FIXED_COEFS[order]
        samples = np.empty(blocksize, dtype=np.int64)
        samples[:order] = warm
        for i in range(order, blocksize):
            pred = sum(c * int(samples[i - 1 - j]) for j, c in enumerate(coefs))
            samples[i] = resid[i - order] + pred
    elif stype >= 32:  # LPC, order = (stype & 31) + 1
        order = (stype & 31) + 1
        warm = [br.read_signed(eff_bps) for _ in range(order)]
        precision = br.read(4) + 1
        if precision == 16:
            raise ValueError("FLAC: invalid LPC precision")
        shift = br.read_signed(5)
        if shift < 0:
            raise ValueError("FLAC: negative LPC shift")
        coefs = [br.read_signed(precision) for _ in range(order)]
        resid = _read_residual(br, blocksize, order)
        samples = np.empty(blocksize, dtype=np.int64)
        samples[:order] = warm
        for i in range(order, blocksize):
            acc = sum(c * int(samples[i - 1 - j]) for j, c in enumerate(coefs))
            samples[i] = resid[i - order] + (acc >> shift)
    else:
        raise ValueError(f"FLAC: reserved subframe type {stype}")
    return samples << wasted if wasted else samples


def decode_flac(data: bytes, verify_md5: bool = True) -> tuple[np.ndarray, int]:
    """FLAC bytes -> (samples int32 (n_frames, channels), sample_rate).
    Verifies frame CRC-8/CRC-16 always and the STREAMINFO PCM MD5
    unless ``verify_md5=False``."""
    if not is_flac(data):
        raise ValueError("not a FLAC (bad fLaC magic)")
    pos = 4
    info = None
    while True:  # metadata blocks
        header = data[pos:pos + 4]
        last = header[0] & 0x80
        btype = header[0] & 0x7F
        (size,) = struct.unpack(">I", b"\x00" + bytes(header[1:4]))
        body = bytes(data[pos + 4:pos + 4 + size])
        if btype == 0:  # STREAMINFO
            br = _BitReader(body)
            br.read(16)  # min blocksize
            br.read(16)  # max blocksize
            br.read(24)
            br.read(24)
            rate = br.read(20)
            channels = br.read(3) + 1
            bps = br.read(5) + 1
            total = br.read(36)
            md5 = body[18:34]
            info = (rate, channels, bps, total, md5)
        pos += 4 + size
        if last:
            break
    if info is None:
        raise ValueError("FLAC: missing STREAMINFO")
    rate, channels, bps, total, md5 = info

    out: list[np.ndarray] = []
    got = 0
    while got < total:
        frame_start = pos
        br = _BitReader(data, pos)
        sync = br.read(14)
        if sync != 0x3FFE:
            raise ValueError(f"FLAC: lost frame sync at byte {pos}")
        br.read(1)  # reserved
        br.read(1)  # blocking strategy
        bs_code = br.read(4)
        rate_code = br.read(4)
        chan_code = br.read(4)
        size_code = br.read(3)
        br.read(1)  # reserved
        _read_utf8_number(br)
        if bs_code == 0:
            raise ValueError("FLAC: reserved blocksize code")
        elif bs_code == 6:
            blocksize = br.read(8) + 1
        elif bs_code == 7:
            blocksize = br.read(16) + 1
        else:
            blocksize = _BLOCKSIZE_CODES[bs_code]
        if rate_code == 12:
            br.read(8)
        elif rate_code in (13, 14):
            br.read(16)
        elif rate_code == 15:
            raise ValueError("FLAC: invalid sample rate code")
        frame_bps = _SAMPLE_SIZE_CODES.get(size_code, bps)
        header_end = br.byte_pos()
        crc8 = br.read(8)
        if _crc8(bytes(data[frame_start:header_end])) != crc8:
            raise ValueError("FLAC: frame header CRC-8 mismatch")

        if chan_code < 8:
            n_ch = chan_code + 1
            chans = [
                _read_subframe(br, blocksize, frame_bps) for _ in range(n_ch)
            ]
        elif chan_code == 8:  # left-side
            left = _read_subframe(br, blocksize, frame_bps)
            side = _read_subframe(br, blocksize, frame_bps + 1)
            chans = [left, left - side]
        elif chan_code == 9:  # right-side
            side = _read_subframe(br, blocksize, frame_bps + 1)
            right = _read_subframe(br, blocksize, frame_bps)
            chans = [right + side, right]
        elif chan_code == 10:  # mid-side
            mid = _read_subframe(br, blocksize, frame_bps)
            side = _read_subframe(br, blocksize, frame_bps + 1)
            left = ((mid << 1) | (side & 1)) + side
            chans = [left >> 1, (left - (side << 1)) >> 1]
        else:
            raise ValueError(f"FLAC: reserved channel assignment {chan_code}")
        if len(chans) != channels:
            raise ValueError("FLAC: frame channel count != STREAMINFO")
        br.align()
        crc_end = br.byte_pos()
        crc16 = br.read(16)
        if _crc16(bytes(data[frame_start:crc_end])) != crc16:
            raise ValueError("FLAC: frame CRC-16 mismatch")
        pos = br.byte_pos()
        out.append(np.stack(chans, axis=1))
        got += blocksize

    pcm = np.concatenate(out, axis=0)[:total] if out else \
        np.zeros((0, channels), dtype=np.int64)
    if verify_md5 and md5 != b"\x00" * 16:
        if _pcm_md5(pcm, bps) != md5:
            raise ValueError("FLAC: decoded PCM MD5 mismatch")
    return pcm.astype(np.int32), rate


def _pcm_md5(pcm: np.ndarray, bps: int) -> bytes:
    """MD5 over interleaved little-endian PCM, the STREAMINFO way."""
    nbytes = (bps + 7) // 8
    flat = pcm.reshape(-1).astype(np.int64)
    b = np.zeros((len(flat), nbytes), dtype=np.uint8)
    v = flat & ((1 << (8 * nbytes)) - 1)
    for i in range(nbytes):
        b[:, i] = (v >> (8 * i)) & 0xFF
    return hashlib.md5(b.tobytes()).digest()


# ----------------------------------------------------------------- encode


def _best_rice_param(resid: np.ndarray, pbits: int = 4) -> int:
    """Smallest-total-bits Rice parameter for a residual partition."""
    if len(resid) == 0:
        return 0
    u = _zigzag(resid.astype(np.int64))
    best_p, best_cost = 0, None
    for p in range((1 << pbits) - 1):
        cost = int((u >> p).sum()) + len(u) * (1 + p)
        if best_cost is None or cost < best_cost:
            best_p, best_cost = p, cost
    return best_p


def _write_residual(bw: _BitWriter, resid: np.ndarray, blocksize: int,
                    order: int, part_order: int) -> None:
    bw.write(0, 2)  # 4-bit rice params
    bw.write(part_order, 4)
    n_parts = 1 << part_order
    at = 0
    for p in range(n_parts):
        n = (blocksize >> part_order) - (order if p == 0 else 0)
        part = resid[at:at + n]
        at += n
        param = _best_rice_param(part)
        bw.write(param, 4)
        for v in part:
            _rice_write(bw, int(v), param)


def _encode_subframe(bw: _BitWriter, samples: np.ndarray, bps: int,
                     force_verbatim: bool, part_order: int) -> None:
    bw.write(0, 1)  # padding
    s = samples.astype(np.int64)
    if not force_verbatim and len(set(s.tolist())) == 1:
        bw.write(0, 6)  # CONSTANT
        bw.write(0, 1)  # no wasted bits
        bw.write(int(s[0]) & ((1 << bps) - 1), bps)
        return
    if force_verbatim:
        bw.write(1, 6)  # VERBATIM
        bw.write(0, 1)
        for v in s:
            bw.write(int(v) & ((1 << bps) - 1), bps)
        return
    # best-of FIXED orders 0..2 by zigzag magnitude sum
    best = None
    for order in range(3):
        if order >= len(s):
            continue
        r = s.copy()
        for _ in range(order):
            r = np.diff(r)
        cost = int(np.abs(r).sum())
        if best is None or cost < best[2]:
            best = (order, r, cost)
    order, resid, _ = best
    bw.write(8 + order, 6)  # FIXED
    bw.write(0, 1)  # no wasted bits
    for v in s[:order]:
        bw.write(int(v) & ((1 << bps) - 1), bps)
    po = part_order if (len(s) % (1 << part_order) == 0
                        and (len(s) >> part_order) > order) else 0
    _write_residual(bw, resid, len(s), order, po)


def encode_flac(
    samples: np.ndarray,
    rate: int,
    bps: int = 16,
    blocksize: int = 4096,
    *,
    left_side: bool = False,
    force_verbatim: bool = False,
    part_order: int = 2,
) -> bytes:
    """(n, channels) int samples -> FLAC bytes. left_side applies the
    left-side stereo decorrelation (2-channel input only);
    force_verbatim disables prediction (exercises the VERBATIM path);
    part_order sets the Rice partition order where it divides."""
    if samples.ndim == 1:
        samples = samples[:, None]
    n, channels = samples.shape
    lim = 1 << (bps - 1)
    if samples.min() < -lim or samples.max() >= lim:
        raise ValueError(f"samples exceed {bps}-bit range")
    if left_side and channels != 2:
        raise ValueError("left_side needs exactly 2 channels")
    md5 = _pcm_md5(samples.astype(np.int64), bps)
    si = _BitWriter()
    si.write(blocksize, 16)
    si.write(blocksize, 16)
    si.write(0, 24)
    si.write(0, 24)
    si.write(rate, 20)
    si.write(channels - 1, 3)
    si.write(bps - 1, 5)
    si.write(n, 36)
    streaminfo = si.bytes() + md5
    out = bytearray(b"fLaC")
    out += bytes([0x80]) + struct.pack(">I", len(streaminfo))[1:] + streaminfo

    frame_no = 0
    at = 0
    while at < n or (n == 0 and frame_no == 0):
        block = samples[at:at + blocksize].astype(np.int64)
        bs = len(block)
        if bs == 0:
            break
        bw = _BitWriter()
        bw.write(0x3FFE, 14)
        bw.write(0, 1)  # reserved
        bw.write(0, 1)  # fixed blocksize stream
        bw.write(7, 4)  # blocksize: 16-bit at end of header
        bw.write(0, 4)  # rate: from STREAMINFO
        chan_code = 8 if left_side else channels - 1
        bw.write(chan_code, 4)
        bw.write({8: 1, 12: 2, 16: 4, 20: 5, 24: 6, 32: 7}[bps], 3)
        bw.write(0, 1)  # reserved
        # UTF-8 coded frame number (framing strategy 0), full
        # multi-byte form: the spec encodes up to 31-bit frame numbers
        # in 1-6 bytes exactly like UTF-8 extended (lead byte carries
        # 7-(n_extra+1) payload bits, each continuation 6). The old
        # 2-byte-max form silently overflowed its lead byte at
        # frame_no >= 0x800 (long input / small blocksize), desyncing
        # the stream into a downstream CRC error (r7 ADVICE).
        fn = frame_no
        if fn < 0x80:
            bw.write(fn, 8)
        else:
            n_extra = 1
            while fn >= (1 << (6 - n_extra)) << (6 * n_extra):
                n_extra += 1
            if n_extra > 5:
                raise ValueError("FLAC: frame number exceeds 31 bits")
            lead_prefix = (0xFF << (7 - n_extra)) & 0xFF
            bw.write(lead_prefix | (fn >> (6 * n_extra)), 8)
            for i in range(n_extra - 1, -1, -1):
                bw.write(0x80 | ((fn >> (6 * i)) & 0x3F), 8)
        bw.write(bs - 1, 16)
        assert bw.nbits == 0  # header fields sum to whole bytes
        bw.write(_crc8(bytes(bw.out)), 8)
        if left_side:
            left = block[:, 0]
            side = block[:, 0] - block[:, 1]
            _encode_subframe(bw, left, bps, force_verbatim, part_order)
            _encode_subframe(bw, side, bps + 1, force_verbatim, part_order)
        else:
            for c in range(channels):
                _encode_subframe(bw, block[:, c], bps, force_verbatim,
                                 part_order)
        bw.align()
        bw.write(_crc16(bytes(bw.out)), 16)
        out += bw.bytes()
        frame_no += 1
        at += bs
    return bytes(out)
