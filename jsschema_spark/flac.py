"""Pure-NumPy FLAC (subset) encoder / decoder — no external audio library.

Implements the public FLAC bitstream format (RFC 9639 / xiph spec) for the
shape this engine's clips carry: **16-bit mono**. This replaces the
container-blocked ``NotImplementedError`` stub for ``codec='flac'`` in
``audio.decode_payload`` (the opus stub remains — a pure-NumPy opus decoder
is not realistic).

Decoder coverage (a strict superset of what the encoder emits, so foreign
subset-compliant streams decode too):

* STREAMINFO parse (+ optional MD5 verify of the decoded PCM), all other
  metadata blocks skipped,
* frame header parse with CRC-8 verify: fixed + variable blocking
  strategies, all block-size and sample-rate codes, UTF-8 coded numbers,
* subframe types CONSTANT, VERBATIM, FIXED orders 0-4, LPC orders 1-32,
* wasted-bits-per-sample,
* Rice residual methods 0 (4-bit params) and 1 (5-bit), any partition
  order, escape (raw) partitions,
* frame CRC-16 verify.

Encoder subset: fixed 4096-sample blocking; per block the best of
CONSTANT / FIXED order 0-2 / LPC (Levinson-Durbin, optional) / VERBATIM by
estimated size; single Rice partition; wasted-bits detection. Real
compression on real signals (~2-3x on speech-like PCM), bit-exact
round-trip always.

Everything is malformed-input-hardened: any structural problem raises
``ValueError`` (the same contract as ``audio.wav_decode``), so the
violation/quarantine paths upstream treat a truncated or bit-flipped FLAC
payload exactly like a truncated WAV.

Scale shape: this module is per-clip kernel code executed inside
Arrow-batched ``mapInPandas`` / iterator ``pandas_udf`` stages (see
``audio.py``) — no Spark imports here, no per-row Python UDF anywhere.
Hot loops are vectorized: Rice encode builds the whole bit array with
cumsum/repeat, decode extracts all remainder bits of a partition with one
gather; only the LPC feedback loop and per-code position walk are
sequential (bounded by block size, not clip size).

Reference parity note: the reference repo (lestrrat-go/jsschema) has no
audio surface at all — this file exists for the engine's audio-clip
invariant (BASELINE.json input_hint: decoded-PCM SNR >= 30 dB), where
``codec`` is one of pcm_s16le | flac | opus.
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np

__all__ = [
    "flac_encode",
    "flac_decode",
    "flac_stream_info",
]

_SYNC = 0b11111111111110

# ---------------------------------------------------------------- CRC tables

def _make_crc_table(poly: int, width: int) -> np.ndarray:
    top = 1 << (width - 1)
    mask = (1 << width) - 1
    tbl = np.zeros(256, dtype=np.uint32)
    for byte in range(256):
        crc = byte << (width - 8)
        for _ in range(8):
            crc = ((crc << 1) ^ poly) if (crc & top) else (crc << 1)
        tbl[byte] = crc & mask
    return tbl


_CRC8_TABLE = _make_crc_table(0x07, 8)
_CRC16_TABLE = _make_crc_table(0x8005, 16)


def _crc8_loop(data: bytes | memoryview) -> int:
    crc = 0
    tbl = _CRC8_TABLE
    for b in data:
        crc = int(tbl[crc ^ b])
    return crc


def _crc16_loop(data: bytes | memoryview) -> int:
    crc = 0
    tbl = _CRC16_TABLE
    for b in data:
        crc = (int(tbl[((crc >> 8) ^ b) & 0xFF]) ^ ((crc << 8) & 0xFFFF)) & 0xFFFF
    return crc


# Vectorized CRC via GF(2)-linear tree folding. A CRC with zero init/xorout
# is linear over GF(2): crc(A||B) = advance_{|B|}(crc(A)) ^ crc(B), and the
# "advance by N zero bytes" map is linear in the state, so it decomposes
# into per-byte lookup tables. We precompute advance-by-2^j tables by
# squaring and fold the per-byte states pairwise, log2(n) vectorized
# levels. Leading zero padding is free (state stays 0), so any length
# works. Bit-identical to the byte loop (asserted in tests); the loop
# remains for short inputs where numpy overhead dominates. The per-byte
# Python loop was 76% of flac_encode and 22% of flac_decode wall.

def _fold_tables(tbl: np.ndarray, width: int, levels: int) -> list:
    mask = (1 << width) - 1
    out = []
    if width == 16:
        hi = tbl[np.arange(256)].astype(np.uint16)          # state h<<8 advanced 1B
        lo = (np.arange(256, dtype=np.uint16) << 8) & mask  # state l advanced 1B
        out.append((hi, lo))
        for _ in range(levels - 1):
            h, l = out[-1]
            # advance-by-2^(j+1) = advance-by-2^j applied twice
            nh = h[h >> 8] ^ l[h & 0xFF]
            nl = h[l >> 8] ^ l[l & 0xFF]
            out.append((nh, nl))
    else:  # width == 8: single-table state
        t = tbl[np.arange(256)].astype(np.uint8)
        out.append(t)
        for _ in range(levels - 1):
            t = out[-1]
            out.append(t[t])
    return out


_CRC16_FOLD = _fold_tables(_CRC16_TABLE, 16, 26)
_CRC8_FOLD = _fold_tables(_CRC8_TABLE, 8, 26)


def _crc16(data: bytes | memoryview) -> int:
    n = len(data)
    if n < 256:
        return _crc16_loop(data)
    arr = np.frombuffer(data, dtype=np.uint8)
    m = 1 << (n - 1).bit_length()
    states = np.zeros(m, dtype=np.uint16)
    states[m - n:] = _CRC16_TABLE[arr].astype(np.uint16)
    lvl = 0
    while m > 1:
        h, l = _CRC16_FOLD[lvl]
        left = states[0::2]
        states = h[left >> 8] ^ l[left & 0xFF] ^ states[1::2]
        m >>= 1
        lvl += 1
    return int(states[0])


def _crc8(data: bytes | memoryview) -> int:
    n = len(data)
    if n < 256:
        return _crc8_loop(data)
    arr = np.frombuffer(data, dtype=np.uint8)
    m = 1 << (n - 1).bit_length()
    states = np.zeros(m, dtype=np.uint8)
    states[m - n:] = _CRC8_TABLE[arr].astype(np.uint8)
    lvl = 0
    while m > 1:
        t = _CRC8_FOLD[lvl]
        states = t[states[0::2]] ^ states[1::2]
        m >>= 1
        lvl += 1
    return int(states[0])


# ------------------------------------------------------------- bit plumbing

class _BitWriter:
    """MSB-first bit accumulator; bits kept as uint8 arrays, packed once."""

    def __init__(self) -> None:
        self._chunks: list[np.ndarray] = []
        self._nbits = 0

    def uint(self, value: int, nbits: int) -> None:
        if nbits == 0:
            return
        v = int(value) & ((1 << nbits) - 1)
        bits = (v >> np.arange(nbits - 1, -1, -1, dtype=np.int64)) & 1
        self._chunks.append(bits.astype(np.uint8))
        self._nbits += nbits

    def bits(self, arr: np.ndarray) -> None:
        self._chunks.append(arr.astype(np.uint8, copy=False))
        self._nbits += len(arr)

    def unary(self, q: int) -> None:
        """q zero bits terminated by a one bit (FLAC unary)."""
        a = np.zeros(q + 1, dtype=np.uint8)
        a[-1] = 1
        self.bits(a)

    def align(self) -> None:
        pad = (-self._nbits) % 8
        if pad:
            self._chunks.append(np.zeros(pad, dtype=np.uint8))
            self._nbits += pad

    def tobytes(self) -> bytes:
        self.align()
        if not self._chunks:
            return b""
        return np.packbits(np.concatenate(self._chunks)).tobytes()


class _BitReader:
    """MSB-first reader over an unpacked bit array, with a precomputed
    one-positions index for Rice unary scans."""

    def __init__(self, buf: bytes, bit_offset: int = 0) -> None:
        self.bits = np.unpackbits(np.frombuffer(buf, dtype=np.uint8))
        self.pos = bit_offset
        self.n = len(self.bits)
        self._ones = None
        self._cum = None

    @property
    def ones(self) -> np.ndarray:
        # lazy: header-only readers (flac_stream_info) never pay for it
        if self._ones is None:
            self._ones = np.flatnonzero(self.bits)
        return self._ones

    @property
    def cum(self) -> np.ndarray:
        """Inclusive prefix count of ones — lets rice_block turn its skip
        table into two gathers instead of a searchsorted per partition.
        int32: bit positions fit, and the narrower cumsum halves the pass."""
        if self._cum is None:
            self._cum = np.cumsum(self.bits, dtype=np.int32)
        return self._cum

    def _need(self, n: int) -> None:
        if self.pos + n > self.n:
            raise ValueError("flac: truncated bitstream")

    def uint(self, nbits: int) -> int:
        if nbits == 0:
            return 0
        self._need(nbits)
        chunk = self.bits[self.pos : self.pos + nbits]
        self.pos += nbits
        val = 0
        for b in chunk.tolist():
            val = (val << 1) | b
        return val

    def sint(self, nbits: int) -> int:
        v = self.uint(nbits)
        if v >= 1 << (nbits - 1):
            v -= 1 << nbits
        return v

    def uint_vec(self, nbits: int, count: int) -> np.ndarray:
        """count fixed-width unsigned ints, one reshape+dot (vectorized)."""
        if count == 0:
            return np.zeros(0, dtype=np.int64)
        if nbits == 0:
            return np.zeros(count, dtype=np.int64)
        total = nbits * count
        self._need(total)
        m = self.bits[self.pos : self.pos + total].reshape(count, nbits)
        self.pos += total
        pw = (1 << np.arange(nbits - 1, -1, -1, dtype=np.int64)).astype(np.int64)
        return m.astype(np.int64) @ pw

    def sint_vec(self, nbits: int, count: int) -> np.ndarray:
        v = self.uint_vec(nbits, count)
        half = 1 << (nbits - 1)
        return np.where(v >= half, v - (1 << nbits), v)

    def unary(self) -> int:
        """Zeros-then-one; returns the zero count."""
        j = int(np.searchsorted(self.ones, self.pos))
        if j >= len(self.ones):
            raise ValueError("flac: unterminated unary code")
        sep = int(self.ones[j])
        q = sep - self.pos
        self.pos = sep + 1
        return q

    def rice_block(self, count: int, k: int) -> np.ndarray:
        """count Rice(k) codes → signed residuals.

        The separator walk is resolved through a LOCAL skip table instead
        of a per-code Python scan: ``nxt[j]`` = index of the first one at
        or past ``ones[j] + 1 + k`` — i.e. the separator of the NEXT code
        given code ``j``'s separator — computed for the whole partition in
        one vectorized ``searchsorted`` (the walk touches at most
        ``count·(k+1)`` one-positions, so the table is size-bounded). The
        remaining orbit loop is one O(1) array lookup per code (~7× faster
        than the scan; this loop was 73% of decode wall). Remainder bits
        for the whole partition are gathered in a single vectorized pass."""
        if count == 0:
            return np.zeros(0, dtype=np.int64)
        ones, bits = self.ones, self.bits
        n_ones = len(ones)
        lo = int(np.searchsorted(ones, self.pos))
        # the walk consumes exactly `count` separator ones and skips at
        # most k remainder ones per code — everything it can touch lies
        # inside this slice
        hi = min(n_ones, lo + count * (k + 1) + 1)
        sub = ones[lo:hi]
        if len(sub) == 0:
            raise ValueError("flac: truncated rice partition")
        # nxt[j] = local index of the first one at/past sub[j]+1+k. The k
        # remainder bits after separator sub[j] occupy [sub[j]+1, sub[j]+k];
        # the ones-prefix-sum gives their one-count in two gathers — O(m)
        # with no searchsorted log factor.
        if k:
            win_hi = np.minimum(sub + k, self.n - 1)
            nxt = np.arange(1, len(sub) + 1) + (self.cum[win_hi] - self.cum[sub])
        else:
            nxt = np.arange(1, len(sub) + 1)
        m = len(sub)
        nxt_l = nxt.tolist()  # plain-int hops are ~2x faster than ndarray
        idx = [0] * count
        j = 0
        try:
            for i in range(count):
                idx[i] = j
                j = nxt_l[j]
        except IndexError:
            raise ValueError("flac: truncated rice partition") from None
        if idx[count - 1] >= m:
            raise ValueError("flac: truncated rice partition")
        seps = sub[idx]
        pos = int(seps[count - 1]) + 1 + k
        if pos > self.n:
            raise ValueError("flac: truncated rice partition")
        starts = np.concatenate(([self.pos], seps[:-1] + 1 + k))
        q = (seps - starts).astype(np.uint64)
        if k:
            idx = (seps[:, None] + 1 + np.arange(k, dtype=np.int64)[None, :])
            pw = (1 << np.arange(k - 1, -1, -1, dtype=np.int64)).astype(np.int64)
            rem = bits[idx].astype(np.int64) @ pw
        else:
            rem = np.zeros(count, dtype=np.int64)
        self.pos = int(pos)
        u = (q.astype(np.int64) << k) | rem
        return (u >> 1) ^ -(u & 1)  # un-zigzag

    def align(self) -> None:
        self.pos += (-self.pos) % 8


# ------------------------------------------------------- coded (UTF-8) number

def _utf8_encode_number(n: int) -> bytes:
    if n < 0x80:
        return bytes([n])
    for nbytes, maxbits in ((2, 11), (3, 16), (4, 21), (5, 26), (6, 31), (7, 36)):
        if n < (1 << maxbits):
            out = bytearray(nbytes)
            lead_mask = (0xFF << (8 - nbytes)) & 0xFF
            shift = 6 * (nbytes - 1)
            out[0] = lead_mask | (n >> shift)
            for i in range(1, nbytes):
                shift -= 6
                out[i] = 0x80 | ((n >> shift) & 0x3F)
            return bytes(out)
    raise ValueError("flac: coded number out of range")


def _utf8_decode_number(br: _BitReader) -> int:
    b0 = br.uint(8)
    if b0 < 0x80:
        return b0
    nbytes = 0
    for i in range(7):
        if not (b0 >> (7 - i)) & 1:
            nbytes = i
            break
    if nbytes < 2:
        raise ValueError("flac: malformed coded number")
    val = b0 & (0x7F >> nbytes)
    for _ in range(nbytes - 1):
        b = br.uint(8)
        if (b & 0xC0) != 0x80:
            raise ValueError("flac: malformed coded number continuation")
        val = (val << 6) | (b & 0x3F)
    return val


# ------------------------------------------------------------------ encoder

_BLOCKSIZE_CODES = {192: 1, 576: 2, 1152: 3, 2304: 4, 4608: 5,
                    256: 8, 512: 9, 1024: 10, 2048: 11, 4096: 12,
                    8192: 13, 16384: 14, 32768: 15}
_SAMPLE_RATE_CODES = {88200: 1, 176400: 2, 192000: 3, 8000: 4, 16000: 5,
                      22050: 6, 24000: 7, 32000: 8, 44100: 9, 48000: 10,
                      96000: 11}


def _rice_k(resid: np.ndarray) -> int:
    """Standard mean-based Rice parameter estimate."""
    n = len(resid)
    if n == 0:
        return 0
    u = np.abs(resid.astype(np.int64)) * 2
    total = int(u.sum())
    k = 0
    while (n << (k + 1)) < total and k < 30:
        k += 1
    return min(k, 14)


def _rice_encode_bits(resid: np.ndarray, k: int) -> np.ndarray:
    """Vectorized Rice(k): one uint8 bit array for the whole partition."""
    r = resid.astype(np.int64)
    u = (r << 1) ^ (r >> 63)
    q = (u >> k).astype(np.int64)
    total = int(q.sum()) + len(u) * (1 + k)
    out = np.zeros(total, dtype=np.uint8)
    # separator '1' positions: prefix-sums of per-code lengths
    lens = q + 1 + k
    ends = np.cumsum(lens)
    sep_pos = ends - k - 1
    out[sep_pos] = 1
    if k:
        rem_idx = (sep_pos[:, None] + 1 + np.arange(k, dtype=np.int64)[None, :])
        rem_bits = (u[:, None] >> np.arange(k - 1, -1, -1, dtype=np.int64)[None, :]) & 1
        out[rem_idx.ravel()] = rem_bits.astype(np.uint8).ravel()
    return out


def _fixed_residual(x: np.ndarray, order: int) -> np.ndarray:
    r = x.astype(np.int64)
    for _ in range(order):
        r = np.diff(r)
    return r


def _levinson_durbin(ac: np.ndarray, order: int) -> np.ndarray | None:
    """LPC coefficients from autocorrelation (float), standard recursion."""
    err = float(ac[0])
    if err <= 0:
        return None
    lpc = np.zeros(order)
    for i in range(order):
        acc = float(ac[i + 1])
        for j in range(i):
            acc -= lpc[j] * ac[i - j]
        k = acc / err
        lpc[i] = k
        for j in range(i // 2):
            t = lpc[j]
            lpc[j] = t + k * lpc[i - 1 - j]
            lpc[i - 1 - j] += k * t
        if i % 2:
            lpc[i // 2] += lpc[i // 2] * k
        err *= 1.0 - k * k
        if err <= 0:
            return None
    return lpc


def _quantize_lpc(lpc: np.ndarray, precision: int = 12) -> tuple[np.ndarray, int] | None:
    cmax = float(np.max(np.abs(lpc)))
    if cmax <= 0:
        return None
    # choose shift so max coefficient uses the full precision
    shift = precision - 1 - int(np.floor(np.log2(cmax))) - 1
    shift = max(0, min(15, shift))
    q = np.round(lpc * (1 << shift)).astype(np.int64)
    lim = (1 << (precision - 1)) - 1
    q = np.clip(q, -lim - 1, lim)
    if not q.any():
        return None
    return q, shift


def _encode_subframe(bw: _BitWriter, x: np.ndarray, bps: int, try_lpc: bool) -> None:
    n = len(x)
    xi = x.astype(np.int64)

    # wasted bits: common trailing zeros across the block
    wasted = 0
    if n and xi.any():
        orbits = int(np.bitwise_or.reduce(xi & ((1 << bps) - 1)))
        while wasted < bps - 1 and not (orbits >> wasted) & 1:
            wasted += 1
    eb = bps - wasted
    xs = xi >> wasted if wasted else xi

    def header(type_bits: int) -> None:
        bw.uint(0, 1)
        bw.uint(type_bits, 6)
        if wasted:
            bw.uint(1, 1)
            bw.unary(wasted - 1)
        else:
            bw.uint(0, 1)

    if n and np.all(xs == xs[0]):
        header(0b000000)
        bw.uint(int(xs[0]), eb)
        return

    # candidate predictors: fixed 0-2 (+ LPC when asked), scored by
    # estimated rice size; verbatim is the floor
    best: tuple[int, object] | None = None  # (est_bits, payload_writer)
    for order in range(0, 3):
        if n <= order:
            break
        res = _fixed_residual(xs, order)
        k = _rice_k(res)
        u = (res << 1) ^ (res >> 63)
        est = order * eb + 6 + int((u >> k).sum()) + len(res) * (1 + k)
        if best is None or est < best[0]:
            best = (est, ("fixed", order, res, k))
    if try_lpc and n >= 64:
        order = 8
        xf = xs.astype(np.float64)
        ac = np.array([float(np.dot(xf[: n - i], xf[i:])) for i in range(order + 1)])
        lpc = _levinson_durbin(ac, order)
        qz = _quantize_lpc(lpc) if lpc is not None else None
        if qz is not None:
            coefs, shift = qz
            # non-recursive prediction over known samples → vectorizable
            pred = np.zeros(n - order, dtype=np.int64)
            for j in range(order):
                pred += coefs[j] * xs[order - 1 - j : n - 1 - j]
            res = xs[order:] - (pred >> shift)
            k = _rice_k(res)
            u = (res << 1) ^ (res >> 63)
            est = (order * eb + 4 + 5 + order * 12 + 6
                   + int((u >> k).sum()) + len(res) * (1 + k))
            if best is None or est < best[0]:
                best = (est, ("lpc", order, res, k, coefs, shift))

    verb_bits = n * eb
    if best is None or best[0] >= verb_bits:
        header(0b000001)
        if n:
            bw.bits(
                ((xs[:, None] >> np.arange(eb - 1, -1, -1, dtype=np.int64)[None, :]) & 1)
                .astype(np.uint8).ravel()
            )
        return

    kind = best[1]
    if kind[0] == "fixed":
        _, order, res, k = kind
        header(0b001000 | order)
        for w in xs[:order]:
            bw.uint(int(w), eb)
    else:
        _, order, res, k, coefs, shift = kind
        header(0b100000 | (order - 1))
        for w in xs[:order]:
            bw.uint(int(w), eb)
        bw.uint(12 - 1, 4)          # qlp precision 12
        bw.uint(shift, 5)           # quantization shift (signed field, >=0)
        for c in coefs:
            bw.uint(int(c), 12)
    # residual: method 0 (4-bit rice), partition order 0
    bw.uint(0, 2)
    bw.uint(0, 4)
    bw.uint(k, 4)
    bw.bits(_rice_encode_bits(res, k))


def flac_encode(
    pcm: np.ndarray, sr_hz: int, block_size: int = 4096, use_lpc: bool = True,
) -> bytes:
    """Encode mono s16 PCM into a subset-compliant FLAC stream.

    Deterministic (pure function of input), bit-exact round-trip with
    :func:`flac_decode`; real compression via fixed/LPC prediction +
    Rice coding. ``block_size`` must fit STREAMINFO's 16-bit block-size
    fields and the format's 16-sample minimum (16..65535)."""
    if not 16 <= block_size <= 65535:
        raise ValueError(f"block_size must be in 16..65535, got {block_size}")
    x = np.asarray(pcm)
    if x.dtype != np.int16:
        x = x.astype(np.int16)
    n_total = len(x)
    bps = 16

    out = bytearray(b"fLaC")
    si = _BitWriter()
    si.uint(block_size, 16)
    si.uint(block_size, 16)
    si.uint(0, 24)
    si.uint(0, 24)
    si.uint(sr_hz, 20)
    si.uint(0, 3)            # channels - 1
    si.uint(bps - 1, 5)
    si.uint(n_total, 36)
    body = si.tobytes() + hashlib.md5(x.astype("<i2").tobytes()).digest()
    out += bytes([0x80 | 0x00]) + len(body).to_bytes(3, "big") + body

    sr_code = _SAMPLE_RATE_CODES.get(int(sr_hz), 0)
    frame_no = 0
    for start in range(0, n_total, block_size):
        blk = x[start : start + block_size]
        bs = len(blk)
        bs_code = _BLOCKSIZE_CODES.get(bs, 7)
        hdr = bytearray()
        hdr += bytes([0xFF, 0xF8])                    # sync + fixed blocking
        hdr.append((bs_code << 4) | sr_code)
        hdr.append((0 << 4) | (4 << 1) | 0)           # mono, 16-bit
        hdr += _utf8_encode_number(frame_no)
        if bs_code == 6:
            hdr.append(bs - 1)
        elif bs_code == 7:
            hdr += struct.pack(">H", bs - 1)
        hdr.append(_crc8(hdr))
        bw = _BitWriter()
        _encode_subframe(bw, blk, bps, use_lpc)
        frame = bytes(hdr) + bw.tobytes()
        out += frame + struct.pack(">H", _crc16(frame))
        frame_no += 1
    return bytes(out)


# ------------------------------------------------------------------ decoder

def flac_stream_info(payload: bytes) -> dict:
    """Parse just the STREAMINFO block (cheap metadata probe — the FLAC
    sibling of the PNG/JPEG header probes in ``multimodal.py``)."""
    if payload is None or len(payload) < 42 or payload[:4] != b"fLaC":
        raise ValueError("flac: not a fLaC stream")
    btype = payload[4] & 0x7F
    blen = int.from_bytes(payload[5:8], "big")
    if btype != 0 or blen < 34:
        raise ValueError("flac: first metadata block must be STREAMINFO")
    br = _BitReader(payload[8 : 8 + 34])
    info = {
        "min_blocksize": br.uint(16),
        "max_blocksize": br.uint(16),
        "min_framesize": br.uint(24),
        "max_framesize": br.uint(24),
        "sample_rate": br.uint(20),
        "channels": br.uint(3) + 1,
        "bits_per_sample": br.uint(5) + 1,
        "total_samples": br.uint(36),
        "md5": payload[8 + 18 : 8 + 34],
    }
    if info["sample_rate"] == 0 or info["min_blocksize"] < 16:
        raise ValueError("flac: invalid STREAMINFO")
    return info


_FIXED_ORDERS_OK = frozenset(range(5))


def _decode_subframe(br: _BitReader, bs: int, bps: int) -> np.ndarray:
    if br.uint(1) != 0:
        raise ValueError("flac: subframe header padding bit set")
    stype = br.uint(6)
    wasted = 0
    if br.uint(1):
        wasted = br.unary() + 1
    eb = bps - wasted
    if eb <= 0:
        raise ValueError("flac: wasted bits exceed sample size")

    if stype == 0b000000:
        x = np.full(bs, br.sint(eb), dtype=np.int64)
    elif stype == 0b000001:
        x = br.sint_vec(eb, bs)
    elif (stype >> 3) == 0b001 and (stype & 0x07) in _FIXED_ORDERS_OK:
        order = stype & 0x07
        if order > bs:
            raise ValueError("flac: fixed order exceeds block size")
        warm = br.sint_vec(eb, order)
        res = _decode_residual(br, bs, order)
        if order == 0:
            x = res
        else:
            cur = res
            for j in range(order, 0, -1):
                seed = int(np.diff(warm, j - 1)[-1]) if j > 1 else int(warm[-1])
                cur = seed + np.cumsum(cur)
            x = np.concatenate([warm, cur])
    elif stype >= 0b100000:
        order = (stype & 0x1F) + 1
        if order > bs:
            raise ValueError("flac: lpc order exceeds block size")
        warm = br.sint_vec(eb, order)
        prec = br.uint(4) + 1
        if prec == 16:
            raise ValueError("flac: invalid lpc precision")
        shift = br.sint(5)
        if shift < 0:
            raise ValueError("flac: negative lpc shift")
        coefs = [br.sint(prec) for _ in range(order)]
        res = _decode_residual(br, bs, order)
        # recursive feedback — the one sequential loop, bounded by block
        # size. A corrupted stream (garbage coefficients / residuals that
        # CRC-16 only catches AFTER subframe decode) can make this
        # recursion grow without bound — cap the magnitude well above any
        # legal bps so corruption surfaces as ValueError, not an
        # OverflowError escaping the quarantine path.
        x_list = [int(v) for v in warm]
        rl = res.tolist()
        lim = 1 << 40
        for i in range(len(rl)):
            base = len(x_list)
            acc = 0
            for j in range(order):
                acc += coefs[j] * x_list[base - 1 - j]
            v = rl[i] + (acc >> shift)
            if v > lim or v < -lim:
                raise ValueError("flac: lpc prediction diverged (corrupt stream)")
            x_list.append(v)
        x = np.array(x_list, dtype=np.int64)
    else:
        raise ValueError(f"flac: reserved subframe type {stype:#08b}")

    if wasted:
        x = x << wasted
    return x


def _decode_residual(br: _BitReader, bs: int, pred_order: int) -> np.ndarray:
    method = br.uint(2)
    if method > 1:
        raise ValueError("flac: reserved residual coding method")
    pbits = 4 if method == 0 else 5
    escape = (1 << pbits) - 1
    porder = br.uint(4)
    nparts = 1 << porder
    if bs % nparts or (bs >> porder) <= pred_order:
        raise ValueError("flac: invalid rice partition order")
    out = []
    for p in range(nparts):
        cnt = (bs >> porder) - (pred_order if p == 0 else 0)
        param = br.uint(pbits)
        if param == escape:
            raw = br.uint(5)
            out.append(br.sint_vec(raw, cnt) if raw else np.zeros(cnt, dtype=np.int64))
        else:
            out.append(br.rice_block(cnt, param))
    return np.concatenate(out) if out else np.zeros(0, dtype=np.int64)


def flac_decode(
    payload: bytes, verify_crc: bool = True, verify_md5: bool = True,
) -> tuple[int, np.ndarray]:
    """Decode a mono FLAC stream → ``(sr_hz, int16 samples)``.

    Raises ``ValueError`` on any malformed structure, failed CRC, or (when
    ``verify_md5``) an MD5 mismatch vs STREAMINFO — same error contract as
    ``wav_decode`` so upstream quarantine paths need no codec branches."""
    info = flac_stream_info(payload)
    if info["channels"] != 1 or info["bits_per_sample"] != 16:
        raise ValueError("flac: only mono 16-bit streams supported")
    sr = info["sample_rate"]
    total = info["total_samples"]

    # walk metadata blocks
    off = 4
    while True:
        if off + 4 > len(payload):
            raise ValueError("flac: truncated metadata")
        hdr = payload[off]
        blen = int.from_bytes(payload[off + 1 : off + 4], "big")
        off += 4 + blen
        if hdr & 0x80:
            break
    if off > len(payload):
        raise ValueError("flac: truncated metadata")

    br = _BitReader(payload, bit_offset=off * 8)
    chunks: list[np.ndarray] = []
    got = 0
    expect_frame_no = 0
    while (total == 0 and br.pos < br.n - 15) or (total and got < total):
        frame_start_byte = br.pos // 8
        sync = br.uint(14)
        if sync != _SYNC:
            raise ValueError("flac: lost frame sync")
        if br.uint(1):
            raise ValueError("flac: reserved bit set in frame header")
        variable = br.uint(1)
        bs_code = br.uint(4)
        sr_code = br.uint(4)
        chan = br.uint(4)
        ss_code = br.uint(3)
        if br.uint(1):
            raise ValueError("flac: reserved bit set in frame header")
        if chan != 0:
            raise ValueError("flac: only mono frames supported")
        coded_no = _utf8_decode_number(br)
        if not variable and coded_no != expect_frame_no:
            raise ValueError("flac: frame number discontinuity")
        if bs_code == 0:
            raise ValueError("flac: reserved block size code")
        elif bs_code == 1:
            bs = 192
        elif bs_code <= 5:
            bs = 576 << (bs_code - 2)
        elif bs_code == 6:
            bs = br.uint(8) + 1
        elif bs_code == 7:
            bs = br.uint(16) + 1
        else:
            bs = 256 << (bs_code - 8)
        if sr_code == 12:
            br.uint(8)
        elif sr_code in (13, 14):
            br.uint(16)
        elif sr_code == 15:
            raise ValueError("flac: invalid sample rate code")
        hdr_end_byte = br.pos // 8
        crc8_read = br.uint(8)
        if verify_crc and _crc8(memoryview(payload)[frame_start_byte:hdr_end_byte]) != crc8_read:
            raise ValueError("flac: frame header CRC-8 mismatch")
        if ss_code == 0:
            bps = info["bits_per_sample"]
        elif ss_code in (1, 2, 4, 5, 6, 7):
            bps = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24, 7: 32}[ss_code]
        else:
            raise ValueError("flac: reserved sample size code")

        x = _decode_subframe(br, bs, bps)
        br.align()
        crc_byte = br.pos // 8
        crc16_read = br.uint(16)
        if verify_crc and _crc16(memoryview(payload)[frame_start_byte:crc_byte]) != crc16_read:
            raise ValueError("flac: frame CRC-16 mismatch")
        chunks.append(x)
        got += len(x)
        expect_frame_no += 1
        if total and got > total:
            raise ValueError("flac: more samples than STREAMINFO declares")

    samples = (np.concatenate(chunks) if chunks else np.zeros(0, dtype=np.int64))
    if np.any(samples > 32767) or np.any(samples < -32768):
        raise ValueError("flac: decoded sample out of 16-bit range")
    out = samples.astype("<i2")
    if verify_md5 and info["md5"] != b"\x00" * 16:
        if hashlib.md5(out.tobytes()).digest() != info["md5"]:
            raise ValueError("flac: decoded PCM MD5 mismatch")
    return sr, out
