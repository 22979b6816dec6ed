"""FLAC subset codec: bit-exact round-trip, malformed-input rejection, and
decoder coverage beyond what the encoder emits (rice2, partitions, escape
partitions, variable blocking) via hand-crafted streams.

The reference repo has no audio surface; this codec exists for the engine's
clips invariant (BASELINE.json input_hint: codec ∈ pcm_s16le|flac|opus,
decoded-PCM SNR ≥ 30 dB)."""

from __future__ import annotations

import hashlib
import struct

import numpy as np
import pytest

from jsschema_spark.flac import (
    _BitWriter,
    _crc8,
    _crc16,
    _rice_encode_bits,
    _utf8_encode_number,
    flac_decode,
    flac_encode,
    flac_stream_info,
)


def _roundtrip(pcm: np.ndarray, sr: int = 16000, **kw) -> bytes:
    enc = flac_encode(pcm, sr, **kw)
    dec_sr, dec = flac_decode(enc)
    assert dec_sr == sr
    assert dec.dtype == np.dtype("<i2")
    assert np.array_equal(dec, pcm.astype(np.int16))
    return enc


def test_roundtrip_signal_shapes():
    rng = np.random.default_rng(7)
    t = np.arange(16000)
    cases = {
        "sine": np.clip(8000 * np.sin(2 * np.pi * 440 * t / 16000), -32768, 32767).astype(np.int16),
        "noise": rng.integers(-32768, 32768, 16000).astype(np.int16),
        "silence": np.zeros(5000, dtype=np.int16),
        "constant": np.full(4096, -123, dtype=np.int16),
        "ramp": (np.arange(10000) % 30000 - 15000).astype(np.int16),
        "short": np.array([5, -3, 7], dtype=np.int16),
        "empty": np.zeros(0, dtype=np.int16),
        "extremes": np.array([-32768, 32767, -32768, 32767, 0, 1, -1] * 100, dtype=np.int16),
    }
    for name, pcm in cases.items():
        _roundtrip(pcm)
        _roundtrip(pcm, use_lpc=False)


def test_roundtrip_matches_wav_path_and_compresses():
    """The flac path must produce the identical PCM the wav path carries,
    and actually compress a tonal signal (prediction is real, not
    verbatim-in-a-flac-wrapper)."""
    from jsschema_spark.audio import synth_pcm, wav_decode, wav_encode

    pcm = synth_pcm("clip-000000000042", 16000, 9000).copy()
    wav_sr, wav_pcm = wav_decode(wav_encode(pcm, 16000))
    enc = _roundtrip(pcm)
    assert np.array_equal(flac_decode(enc)[1], wav_pcm) and wav_sr == 16000

    tone = np.clip(
        12000 * np.sin(2 * np.pi * 300 * np.arange(44100) / 44100), -32768, 32767
    ).astype(np.int16)
    enc_tone = _roundtrip(tone, sr=44100)
    assert len(enc_tone) < tone.nbytes * 0.8


def test_wasted_bits_and_blocksizes():
    rng = np.random.default_rng(3)
    shifted = (rng.integers(-4000, 4000, 9000) * 8).astype(np.int16)  # 3 wasted bits
    enc = _roundtrip(shifted)
    # wasted-bits detection must beat encoding the raw width
    assert len(enc) < len(flac_encode((shifted // 8).astype(np.int16), 16000)) + 9000 * 3 // 8 + 64
    for bs in (192, 256, 1024, 4000, 4096):  # spec-coded and literal sizes
        _roundtrip(rng.integers(-2000, 2000, 5000).astype(np.int16), block_size=bs)


def test_block_size_outside_streaminfo_range_rejected():
    """STREAMINFO stores the block size in 16-bit fields and the format's
    minimum is 16 samples: out-of-range sizes raise instead of wrapping."""
    pcm = np.arange(-3000, 3000, 7, dtype=np.int16)
    for bs in (0, 15, 65536, 1 << 20):
        with pytest.raises(ValueError, match="block_size"):
            flac_encode(pcm, 16000, block_size=bs)
    for bs in (16, 65535):
        _roundtrip(pcm, block_size=bs)


def test_stream_info():
    pcm = np.arange(-500, 500, dtype=np.int16)
    info = flac_stream_info(flac_encode(pcm, 44100))
    assert info["sample_rate"] == 44100
    assert info["channels"] == 1
    assert info["bits_per_sample"] == 16
    assert info["total_samples"] == 1000
    assert info["md5"] == hashlib.md5(pcm.astype("<i2").tobytes()).digest()


def test_malformed_rejection():
    pcm = np.clip(
        8000 * np.sin(2 * np.pi * 500 * np.arange(8000) / 8000), -32768, 32767
    ).astype(np.int16)
    enc = flac_encode(pcm, 8000)
    with pytest.raises(ValueError):
        flac_decode(b"RIFF1234WAVE")
    with pytest.raises(ValueError):
        flac_decode(enc[: len(enc) // 2])
    corrupt = bytearray(enc)
    corrupt[len(corrupt) // 2] ^= 0x40
    with pytest.raises(ValueError):
        flac_decode(bytes(corrupt))
    # md5 tamper in STREAMINFO (byte 26 is inside the md5 field)
    md5bad = bytearray(enc)
    md5bad[30] ^= 0xFF
    with pytest.raises(ValueError):
        flac_decode(bytes(md5bad))
    flac_decode(bytes(md5bad), verify_md5=False)  # opt-out still decodes


# ------------------------- hand-crafted streams: decoder-only feature paths

def _craft_stream(
    sr: int, blocks: list[np.ndarray], subframe_bits, variable: bool = False,
) -> bytes:
    """Assemble a stream whose subframe payload comes from ``subframe_bits``
    (a callable (bw, block) -> None) — lets tests emit residual codings the
    encoder never produces."""
    total = sum(len(b) for b in blocks)
    out = bytearray(b"fLaC")
    si = _BitWriter()
    bs0 = len(blocks[0]) if blocks else 4096
    si.uint(bs0, 16)
    si.uint(bs0, 16)
    si.uint(0, 24)
    si.uint(0, 24)
    si.uint(sr, 20)
    si.uint(0, 3)
    si.uint(15, 5)
    si.uint(total, 36)
    allpcm = np.concatenate(blocks) if blocks else np.zeros(0, dtype=np.int16)
    body = si.tobytes() + hashlib.md5(allpcm.astype("<i2").tobytes()).digest()
    out += bytes([0x80]) + len(body).to_bytes(3, "big") + body

    sample_no = 0
    for i, blk in enumerate(blocks):
        hdr = bytearray([0xFF, 0xF8 | (1 if variable else 0)])
        hdr.append((7 << 4) | 0)          # explicit 16-bit blocksize, sr from streaminfo
        hdr.append((0 << 4) | (4 << 1))   # mono, 16-bit
        hdr += _utf8_encode_number(sample_no if variable else i)
        hdr += struct.pack(">H", len(blk) - 1)
        hdr.append(_crc8(hdr))
        bw = _BitWriter()
        subframe_bits(bw, blk)
        frame = bytes(hdr) + bw.tobytes()
        out += frame + struct.pack(">H", _crc16(frame))
        sample_no += len(blk)
    return bytes(out)


def _verbatim_subframe(bw: _BitWriter, blk: np.ndarray) -> None:
    bw.uint(0, 1)
    bw.uint(0b000001, 6)
    bw.uint(0, 1)
    for v in blk:
        bw.uint(int(v), 16)


def test_decoder_variable_blocking_and_uneven_blocks():
    rng = np.random.default_rng(11)
    blocks = [rng.integers(-100, 100, n).astype(np.int16) for n in (192, 77, 300)]
    enc = _craft_stream(8000, blocks, _verbatim_subframe, variable=True)
    sr, dec = flac_decode(enc)
    assert sr == 8000 and np.array_equal(dec, np.concatenate(blocks))


def test_decoder_rice2_and_partitions():
    """Fixed order-1 subframe, residual method 1 (5-bit rice2 params),
    partition order 2 — none of which the encoder emits."""
    rng = np.random.default_rng(5)
    blk = np.cumsum(rng.integers(-40, 40, 256)).astype(np.int16)
    res = np.diff(blk.astype(np.int64))

    def subframe(bw: _BitWriter, b: np.ndarray) -> None:
        bw.uint(0, 1)
        bw.uint(0b001000 | 1, 6)  # fixed order 1
        bw.uint(0, 1)
        bw.uint(int(b[0]), 16)    # warmup
        bw.uint(1, 2)             # method 1: rice2
        bw.uint(2, 4)             # partition order 2 -> 4 partitions of 64
        k = 7
        off = 0
        for p in range(4):
            cnt = 64 - (1 if p == 0 else 0)
            bw.uint(k, 5)
            bw.bits(_rice_encode_bits(res[off : off + cnt], k))
            off += cnt

    enc = _craft_stream(16000, [blk], subframe)
    sr, dec = flac_decode(enc)
    assert np.array_equal(dec, blk)


def test_decoder_escape_partition():
    """Raw (escape) partitions: param=11111 then 5-bit width raw residuals."""
    blk = np.array([10, 11, 13, 12, 10, 9, 8, 10] * 8, dtype=np.int16)
    res = np.diff(blk.astype(np.int64))

    def subframe(bw: _BitWriter, b: np.ndarray) -> None:
        bw.uint(0, 1)
        bw.uint(0b001000 | 1, 6)
        bw.uint(0, 1)
        bw.uint(int(b[0]), 16)
        bw.uint(1, 2)             # rice2 params so escape is 0b11111
        bw.uint(0, 4)
        bw.uint(0b11111, 5)       # escape
        bw.uint(6, 5)             # 6-bit raw residuals
        for r in res:
            bw.uint(int(r) & 0x3F, 6)

    enc = _craft_stream(16000, [blk], subframe)
    assert np.array_equal(flac_decode(enc)[1], blk)


def test_decoder_fixed_orders_3_4():
    """Encoder stops at order 2; the decoder must invert orders 3-4."""
    n = 300
    x = (np.arange(n, dtype=np.int64) ** 3 % 4000 - 2000).astype(np.int16)
    for order in (3, 4):
        res = x.astype(np.int64)
        for _ in range(order):
            res = np.diff(res)

        def subframe(bw: _BitWriter, b: np.ndarray, order=order, res=res) -> None:
            bw.uint(0, 1)
            bw.uint(0b001000 | order, 6)
            bw.uint(0, 1)
            for w in b[:order]:
                bw.uint(int(w), 16)
            bw.uint(0, 2)
            bw.uint(0, 4)
            k = 14
            bw.uint(k, 4)
            bw.bits(_rice_encode_bits(res, k))

        enc = _craft_stream(16000, [x], subframe)
        assert np.array_equal(flac_decode(enc)[1], x)


def test_decode_payload_dispatch():
    from jsschema_spark.audio import decode_payload, synth_pcm, wav_encode

    pcm = synth_pcm("clip-000000000099", 16000, 4000).copy()
    assert np.array_equal(decode_payload("flac", flac_encode(pcm, 16000))[1], pcm)
    assert np.array_equal(decode_payload("pcm_s16le", wav_encode(pcm, 16000))[1], pcm)
    with pytest.raises(NotImplementedError):
        decode_payload("opus", b"OggS")
    with pytest.raises(ValueError):
        decode_payload("flac", b"not a flac stream at all")


def test_codec_metadata_check_catalyst_parse(spark):
    """The pure-Catalyst WAV/FLAC header parse must agree field-for-field
    with the Python parsers (wav_decode / flac_stream_info) on real
    payloads, and classify planted inconsistencies."""
    import pandas as pd

    from jsschema_spark.audio import codec_metadata_check, synth_pcm, wav_encode

    sr = 16000
    rows = []
    for i, dur in enumerate((250, 375, 500, 625)):
        n = sr * dur // 1000
        pcm = synth_pcm(f"clip-{i:012d}", sr, n)
        rows.append((f"w{i}", "pcm_s16le", wav_encode(pcm, sr), sr, dur, "consistent", n))
        rows.append((f"f{i}", "flac", flac_encode(pcm, sr), sr, dur, "consistent", n))
    pcm = synth_pcm("clip-000000000099", sr, 4000)
    rows.append(("lie_sr", "pcm_s16le", wav_encode(pcm, sr), 44100, 250, "sr_mismatch", 4000))
    rows.append(("lie_dur", "flac", flac_encode(pcm, sr), sr, 1250, "duration_mismatch", 4000))
    rows.append(("opus", "opus", b"OggS" + bytes(28), sr, 250, "opaque_codec", None))
    rows.append(("junk", "flac", b"garbage bytes here padding padding padding junk!", sr, 250, "header_unreadable", None))
    rows.append(("nullp", "pcm_s16le", None, sr, 250, "header_unreadable", None))
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["clip_id", "codec", "bytes", "sr_hz", "dur_ms", "want", "want_n"]),
    )
    out = {r["clip_id"]: r for r in codec_metadata_check(df).collect()}
    for r in rows:
        cid, want, want_n = r[0], r[5], r[6]
        got = out[cid]
        assert got["meta_status"] == want, (cid, got["meta_status"], want)
        if want_n is not None:
            assert got["header_samples"] == want_n, (cid, got["header_samples"], want_n)
            assert got["header_sr"] == sr


def test_codec_metadata_check_flac_unknown_sample_count(spark):
    """A FLAC STREAMINFO total-sample count of 0 means "unknown": the
    decoder reads frames to the end, and the header screen reports
    ``duration_unknown`` instead of a 0 ms ``duration_mismatch``."""
    import pandas as pd

    from jsschema_spark.audio import codec_metadata_check, synth_pcm

    sr, n = 16000, 6000
    pcm = synth_pcm("clip-000000000007", sr, n).copy()
    enc = bytearray(flac_encode(pcm, sr))
    assert flac_stream_info(bytes(enc))["total_samples"] == n
    # 36-bit count: low nibble of stream byte 21 (0-based) + bytes 22-25
    enc[21] &= 0xF0
    enc[22:26] = bytes(4)
    enc = bytes(enc)
    assert flac_stream_info(enc)["total_samples"] == 0
    dec_sr, dec = flac_decode(enc)
    assert dec_sr == sr and np.array_equal(dec, pcm)

    df = spark.createDataFrame(
        pd.DataFrame(
            [("unknown", "flac", enc, sr, n * 1000 // sr),
             ("unknown_sr_lie", "flac", enc, 44100, n * 1000 // sr)],
            columns=["clip_id", "codec", "bytes", "sr_hz", "dur_ms"],
        )
    )
    out = {r["clip_id"]: r for r in codec_metadata_check(df).collect()}
    assert out["unknown"]["meta_status"] == "duration_unknown"
    assert out["unknown"]["header_samples"] == 0 and out["unknown"]["header_sr"] == sr
    # the rate is still known, so a rate lie is still reported first
    assert out["unknown_sr_lie"]["meta_status"] == "sr_mismatch"


def test_decoder_lpc_divergence_is_valueerror():
    """Corrupt LPC parameters can make the feedback recursion explode
    BEFORE the frame CRC is checked — the decoder must surface that as
    ValueError (quarantine path), never an OverflowError (found by the
    round-6 scale-step at 10x corpus size)."""
    n = 64
    blk = np.arange(n, dtype=np.int16)

    def subframe(bw: _BitWriter, b: np.ndarray) -> None:
        bw.uint(0, 1)
        bw.uint(0b100000 | 0, 6)   # LPC order 1
        bw.uint(0, 1)
        bw.uint(int(b[0]) + 7, 16)  # warmup (nonzero)
        bw.uint(12 - 1, 4)          # precision 12
        bw.uint(0, 5)               # shift 0
        bw.uint(2047, 12)           # coefficient 2047 -> x *= 2047 each step
        bw.uint(0, 2)
        bw.uint(0, 4)
        bw.uint(0, 4)               # rice k=0, all-zero residuals
        ones = np.zeros(n - 1, dtype=np.int64)
        bw.bits(_rice_encode_bits(ones, 0))

    enc = _craft_stream(16000, [blk], subframe)
    with pytest.raises(ValueError):
        flac_decode(enc)


def test_transcode_payload_roundtrip():
    """WAV->FLAC->WAV through the PCM interchange is bit-exact; opus is
    refused either side; malformed input is ValueError."""
    from jsschema_spark.audio import synth_pcm, transcode_payload, wav_decode, wav_encode

    pcm = synth_pcm("clip-000000000017", 16000, 5000).copy()
    wav = wav_encode(pcm, 16000)
    flac = transcode_payload("pcm_s16le", "flac", wav)
    assert flac[:4] == b"fLaC" and len(flac) != len(wav)
    back = transcode_payload("flac", "pcm_s16le", flac)
    assert back == wav  # byte-identical container round-trip
    assert np.array_equal(wav_decode(back)[1], pcm)
    with pytest.raises(NotImplementedError):
        transcode_payload("pcm_s16le", "opus", wav)
    with pytest.raises(NotImplementedError):
        transcode_payload("opus", "flac", b"OggS")
    with pytest.raises(ValueError):
        transcode_payload("flac", "pcm_s16le", b"garbage stream here!")


def test_opus_header_probe_catalyst(spark):
    """Pure-Catalyst OpusHead parse vs struct-packed ground truth."""
    import struct

    import pandas as pd

    from jsschema_spark.audio import opus_header_probe

    def page(input_sr, ch=1, pre_skip=312, version=1, bos=2, nsegs=1):
        pkt = (b"OpusHead" + bytes([version, ch])
               + struct.pack("<H", pre_skip) + struct.pack("<I", input_sr)
               + struct.pack("<h", 0) + bytes([0]))
        return (b"OggS" + bytes([0, bos]) + bytes(8)
                + struct.pack("<I", 7) + struct.pack("<I", 0) + bytes(4)
                + bytes([nsegs, len(pkt)]) + pkt)

    rows = [
        ("ok", page(16000), 16000, "header_ok", 1, 312, 16000),
        ("stereo48", page(48000, ch=2, pre_skip=3840), 48000, "header_ok", 2, 3840, 48000),
        ("lie", page(48000), 16000, "input_sr_mismatch", 1, 312, 48000),
        ("trunc", page(16000)[:30], 16000, "header_unreadable", None, None, None),
        ("notbos", page(16000, bos=0), 16000, "header_unreadable", None, None, None),
        ("badver", page(16000, version=2), 16000, "header_unreadable", None, None, None),
        ("nullp", None, 16000, "header_unreadable", None, None, None),
    ]
    df = spark.createDataFrame(
        pd.DataFrame(
            [(r[0], r[1], r[2]) for r in rows],
            columns=["clip_id", "bytes", "sr_hz"],
        )
    )
    got = {r["clip_id"]: r for r in opus_header_probe(df).collect()}
    for cid, _, _, status, ch, skip, sr in rows:
        r = got[cid]
        assert r["opus_status"] == status, (cid, r["opus_status"])
        assert r["opus_channels"] == ch and r["opus_pre_skip"] == skip
        assert r["opus_input_sr"] == sr


def test_vectorized_crc_matches_byte_loop():
    """The tree-folded CRC used above the 256-byte cutover must be
    bit-identical to the reference byte loop on every length class
    (below/at/above cutover, power-of-two and off-by-one paddings)."""
    from jsschema_spark.flac import _crc8, _crc8_loop, _crc16, _crc16_loop

    rng = np.random.default_rng(123)
    for n in (0, 1, 17, 255, 256, 257, 1023, 1024, 4097, 30000):
        data = rng.integers(0, 256, n, dtype=np.uint8).tobytes()
        assert _crc16(data) == _crc16_loop(data), n
        assert _crc8(data) == _crc8_loop(data), n


def test_rice_skip_walk_roundtrip_and_truncation():
    """The skip-table rice walk must reproduce the old per-code scan:
    round-trip residual-heavy streams (noise maximizes remainder ones —
    the case where separator ones interleave with remainder bits) and
    raise ValueError, never IndexError, on truncation at every byte
    boundary of the frame region."""
    from jsschema_spark.flac import flac_decode, flac_encode

    rng = np.random.default_rng(9)
    pcm = rng.integers(-32768, 32767, 12000, dtype=np.int16)
    payload = flac_encode(pcm, 16000)
    sr, out = flac_decode(payload)
    assert sr == 16000 and np.array_equal(out, pcm)
    for cut in range(len(payload) - 40, len(payload) - 1, 3):
        with pytest.raises(ValueError):
            flac_decode(payload[:cut])
