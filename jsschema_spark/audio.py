"""Audio payload synthesis, decode, and the per-row SNR invariant.

The engine's input table carries audio as an opaque ``binary`` WAV/PCM
column (BASELINE.json ``input_hint``). The per-row invariant —
"decoded-PCM allclose (SNR ≥ 30 dB) + transcript equality" — is the one
stage that genuinely needs Python; it runs as **Arrow-batched pandas UDFs**
(never row-at-a-time Python UDFs), kept in a separate column stage so the
Catalyst predicates around it still whole-stage-codegen.

Everything is deterministic per ``clip_id`` (seed = sha256(clip_id); no RNG
state shared across executors — SURVEY.md §7 hard-parts list), so any
executor can regenerate the reference signal for any row without I/O.

WAV container: standard 44-byte RIFF/PCM-s16le header, written and parsed
with ``struct`` + NumPy (no audio libraries in this container; the format
itself is trivial). ``codec='flac'`` decodes for real via the pure-NumPy
subset codec in ``jsschema_spark.flac`` (CRC-verified, bit-exact round
trip); only opus remains stubbed behind ``NotImplementedError`` — a
pure-NumPy opus decoder is not realistic — with the Spark-side plumbing
(schema, batching, UDF signatures) fully real. See ``decode_payload``.
"""

from __future__ import annotations

import glob
import hashlib
import os
import struct
from itertools import repeat
from typing import Iterator

import numpy as np

from jsschema_spark.localdf import local_df
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Per-process scratch buffers, grown to the largest clip seen and reused for
# every row. Rationale (measured on this sandbox): allocating multi-MB numpy
# temporaries per row makes glibc mmap/munmap each one — at 32 concurrent
# workers the kernel spent >60% of ALL cpu in mmap/page-fault/zeroing path,
# making the audio stage run SLOWER with more cores. Reuse removes the
# syscalls entirely.
_SCRATCH: dict[str, "np.ndarray"] = {}


def _scratch(n: int):
    idx = _SCRATCH.get("idx")
    if idx is None or len(idx) < n:
        cap = max(n, 2 * len(idx) if idx is not None else n)
        _SCRATCH["idx"] = np.arange(cap, dtype=np.float32)
        _SCRATCH["acc"] = np.empty(cap, dtype=np.float32)
        _SCRATCH["buf"] = np.empty(cap, dtype=np.float32)
    return _SCRATCH["idx"], _SCRATCH["acc"], _SCRATCH["buf"]


_VOCAB = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima "
    "mike november oscar papa quebec romeo sierra tango uniform victor whiskey "
    "xray yankee zulu zero one two three four five six seven eight nine north "
    "south east west river mountain valley forest ocean desert island harbor "
    "bridge tower garden market temple castle village city road trail storm "
    "cloud rain snow wind sun moon star"
).split()

SNR_CAP_DB = 99.0


def _seed64(clip_id: str, tag: str) -> int:
    return int.from_bytes(hashlib.sha256(f"{clip_id}|{tag}".encode()).digest()[:8], "big")


def synth_pcm(clip_id: str, sr_hz: int, n_samples: int) -> np.ndarray:
    """Deterministic reference signal: 3-sine mix, freqs/phases from the
    clip_id hash, int16 PCM.

    Implemented float32 + in-place (``out=``): the invariant regenerates
    this for every row, and with 32 concurrent Arrow workers on one box the
    float64 multi-temporary version saturates the memory bus (measured:
    throughput DROPPED from 8→32 cores). float32 halves the traffic and
    in-place ops cut the temporaries; determinism is preserved because
    generator and checker run the identical code path."""
    if n_samples <= 0:
        return np.zeros(0, dtype=np.int16)
    h = _seed64(clip_id, "pcm")
    nyquist = max(sr_hz // 2, 2)
    idx_full, acc_full, buf_full = _scratch(n_samples)
    idx = idx_full[:n_samples]
    acc = acc_full[:n_samples]
    acc.fill(0.0)
    buf = buf_full[:n_samples]
    inv_sr = 1.0 / max(sr_hz, 1)
    for i, amp in enumerate((0.30, 0.20, 0.10)):
        f = 100.0 + ((h >> (i * 16)) & 0xFFFF) % max(nyquist - 200, 100)
        phase = (((h >> (i * 8)) & 0xFF) / 255.0) * 2 * np.pi
        np.multiply(idx, np.float32(2 * np.pi * f * inv_sr), out=buf)
        buf += np.float32(phase)
        np.sin(buf, out=buf)
        buf *= np.float32(amp)
        acc += buf
    acc *= np.float32(32767.0 / 0.75)
    np.clip(acc, -32768, 32767, out=acc)
    i16 = _SCRATCH.get("i16")
    if i16 is None or len(i16) < n_samples:
        _SCRATCH["i16"] = np.empty(len(_SCRATCH["idx"]), dtype=np.int16)
        i16 = _SCRATCH["i16"]
    out = i16[:n_samples]
    np.copyto(out, acc, casting="unsafe")
    # NOTE: returns a VIEW into per-process scratch — valid until the next
    # synth_pcm call in this process; copy if you need to keep it
    return out


def synth_transcript(clip_id: str, max_tokens: int = 40) -> str:
    h = _seed64(clip_id, "txt")
    n = 1 + h % max_tokens
    toks = []
    x = h
    for _ in range(n):
        x = (x * 6364136223846793005 + 1442695040888963407) & 0xFFFFFFFFFFFFFFFF
        toks.append(_VOCAB[x % len(_VOCAB)])
    return " ".join(toks)


def wav_encode(pcm: np.ndarray, sr_hz: int) -> bytes:
    if pcm.dtype == np.dtype("<i2"):
        data = pcm.tobytes()  # one copy, not two
    else:
        data = pcm.astype("<i2").tobytes()
    hdr = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF", 36 + len(data), b"WAVE", b"fmt ", 16,
        1, 1, sr_hz, sr_hz * 2, 2, 16, b"data", len(data),
    )
    return hdr + data


def wav_decode(payload: bytes) -> tuple[int, np.ndarray]:
    """Parse a PCM-s16le mono WAV. Raises ValueError on malformed input."""
    if payload is None or len(payload) < 44 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    fmt = struct.unpack_from("<HHIIHH", payload, 20)
    codec_tag, channels, sr_hz = fmt[0], fmt[1], fmt[2]
    if codec_tag != 1 or channels != 1 or fmt[5] != 16:
        raise ValueError("unsupported WAV encoding (want PCM s16le mono)")
    data_len = struct.unpack_from("<I", payload, 40)[0]
    body = payload[44 : 44 + data_len]
    return sr_hz, np.frombuffer(body, dtype="<i2")


def decode_payload(codec: str, payload: bytes) -> tuple[int, np.ndarray]:
    """Codec dispatch. WAV/PCM parses inline; ``flac`` decodes via the
    pure-NumPy subset codec (``jsschema_spark.flac`` — CRC-8/16 verified,
    STREAMINFO MD5 checked, ``ValueError`` on any malformation, same error
    contract as ``wav_decode``). Only opus remains a clearly-marked stub —
    the engine plumbing (binary column in, (sr, samples) out, Arrow
    batching) is identical for all three."""
    if codec in ("pcm_s16le", "wav", None, ""):
        return wav_decode(payload)
    if codec == "flac":
        from jsschema_spark.flac import flac_decode

        return flac_decode(payload)
    raise NotImplementedError(f"codec {codec!r} decode requires an audio library")


def snr_db(ref: np.ndarray, actual: np.ndarray) -> float:
    """SNR of ``actual`` against the reference signal, in dB (capped)."""
    n = min(len(ref), len(actual))
    if n == 0 or len(ref) != len(actual):
        return float("-inf")
    # float32 accumulate in reused scratch (see _scratch note): magnitudes
    # ≤ ~6e14 are far inside float32 range, 7 significant digits give SNR to
    # ±0.001 dB, and no per-row multi-MB allocations hit the kernel
    _idx, acc, buf = _scratch(n)
    r = acc[:n]
    np.copyto(r, ref, casting="unsafe")
    noise = buf[:n]
    np.subtract(r, actual, out=noise, casting="unsafe")
    p_sig = float(np.dot(r, r))
    p_noise = float(np.dot(noise, noise))
    if p_noise == 0.0:
        return SNR_CAP_DB
    if p_sig == 0.0:
        return float("-inf")
    return min(10.0 * np.log10(p_sig / p_noise), SNR_CAP_DB)


# ---------------------------------------------------------------------------
# pandas UDFs (Arrow-batched; iterator form so per-batch overhead amortizes)

PAYLOAD_SCHEMA = T.StructType(
    [T.StructField("bytes", T.BinaryType()), T.StructField("transcript", T.StringType())]
)

INVARIANT_SCHEMA = T.StructType(
    [
        T.StructField("snr_db", T.DoubleType()),
        T.StructField("decode_ok", T.BooleanType()),
        T.StructField("n_samples", T.IntegerType()),
    ]
)


def _payload_batch(
    clip_ids: pd.Series, srs: pd.Series, durs: pd.Series,
    corrupt: pd.Series, mismatch: pd.Series,
) -> pd.DataFrame:
    out_bytes, out_txt = [], []
    for cid, sr, dur, bad_pcm, bad_txt in zip(clip_ids, srs, durs, corrupt, mismatch):
        sr_eff = int(sr) if sr and sr >= 1000 else 8000  # invalid sr rows still get a payload
        n = int(min(int(dur or 0), 15000) * sr_eff / 1000)
        pcm = synth_pcm(cid, sr_eff, n)
        if bad_pcm and n > 0:
            h = _seed64(cid, "noise")
            rng = np.random.default_rng(h)
            pcm = np.clip(
                pcm.astype(np.int32) + rng.integers(-16000, 16000, size=n), -32768, 32767
            ).astype(np.int16)
        txt = synth_transcript(cid)
        if bad_txt:
            txt = txt + " corrupted"
        out_bytes.append(wav_encode(pcm, sr_eff))
        out_txt.append(txt)
    return pd.DataFrame({"bytes": out_bytes, "transcript": out_txt})


@F.pandas_udf(PAYLOAD_SCHEMA)
def audio_payload_udf(
    it: Iterator[tuple[pd.Series, pd.Series, pd.Series, pd.Series, pd.Series]],
) -> Iterator[pd.DataFrame]:
    """(clip_id, sr_hz, dur_ms, corrupt_flag, mismatch_flag) → (bytes, transcript)."""
    for clip_ids, srs, durs, corrupt, mismatch in it:
        yield _payload_batch(clip_ids, srs, durs, corrupt, mismatch)


CODEC_INVARIANT_SCHEMA = T.StructType(
    [
        T.StructField("snr_db", T.DoubleType()),
        T.StructField("status", T.StringType()),
        T.StructField("n_samples", T.IntegerType()),
    ]
)


def _invariant_rows(cids, codecs, payloads) -> pd.DataFrame:
    """The SNR invariant, one row per clip: decode through
    ``decode_payload``, then compare the full decoded signal against the
    full regenerated reference. Three-valued ``status``:

    * ``decoded`` — payload parsed; ``snr_db`` vs the regenerated
      reference is meaningful (the ≥30 dB gate applies downstream),
    * ``malformed`` — structural failure (truncated/bit-flipped container,
      failed FLAC CRC/MD5, NULL payload); quarantine row,
    * ``unsupported_codec`` — the codec names a format this build cannot
      decode (opus); routed to a side channel, not conflated with
      corruption."""
    snrs, statuses, lens = [], [], []
    for cid, codec, payload in zip(cids, codecs, payloads):
        try:
            sr, samples = decode_payload(codec, payload)
            n = len(samples)
            snr, status = snr_db(synth_pcm(cid, sr, n), samples), "decoded"
        except NotImplementedError:
            snr, status, n = float("-inf"), "unsupported_codec", 0
        except (ValueError, TypeError):
            snr, status, n = float("-inf"), "malformed", 0
        snrs.append(snr)
        statuses.append(status)
        lens.append(n)
    return pd.DataFrame({"snr_db": snrs, "status": statuses, "n_samples": lens})


def _wav_invariant_rows(cids, payloads) -> pd.DataFrame:
    """WAV-only invariant rows ``(clip_id, snr_db, decode_ok, n_samples)``
    with ``decode_ok = status == "decoded"``."""
    cids = list(cids)
    r = _invariant_rows(cids, repeat(None), payloads)
    return pd.DataFrame(
        {
            "clip_id": cids, "snr_db": r["snr_db"],
            "decode_ok": r["status"] == "decoded", "n_samples": r["n_samples"],
        }
    )


@F.pandas_udf(INVARIANT_SCHEMA)
def audio_invariant_udf(
    it: Iterator[tuple[pd.Series, pd.Series]],
) -> Iterator[pd.DataFrame]:
    """(clip_id, bytes) → (snr_db, decode_ok, n_samples) for WAV payloads
    (the pytest gate / input_hint contract)."""
    for clip_ids, payloads in it:
        yield _wav_invariant_rows(clip_ids, payloads).drop(columns=["clip_id"])


@F.pandas_udf(CODEC_INVARIANT_SCHEMA)
def codec_invariant_udf(
    it: Iterator[tuple[pd.Series, pd.Series, pd.Series]],
) -> Iterator[pd.DataFrame]:
    """Codec-aware invariant: (clip_id, codec, bytes) → (snr_db, status,
    n_samples), WAV inline, FLAC via the pure-NumPy subset codec, opus
    ``unsupported_codec`` (see ``_invariant_rows``)."""
    for clip_ids, codecs, payloads in it:
        yield _invariant_rows(clip_ids, codecs, payloads)


@F.pandas_udf(T.StringType())
def expected_transcript_udf(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
    """clip_id → the deterministic reference transcript (equality against the
    table's transcript column is then a plain Catalyst compare)."""
    for clip_ids in it:
        yield clip_ids.map(synth_transcript)


# ---------------------------------------------------------------------------
# file-granular scans: the single-box / many-core scale path.
#
# Measured on this sandbox: shipping ~350KB WAV payloads JVM→Python through
# Arrow IPC tops out around 1 GB/s SHARED across all cores and degrades with
# concurrency (32 cores slower than 8 on the same input). The fix is to not
# move the bytes at all: distribute parquet FILE PATHS, and let each Python
# task read its split's payload column locally via pyarrow. Only tiny result
# rows (clip_id, snr, ok) cross the IPC boundary. On a real multi-node
# cluster both paths scale (each executor has its own IPC), but this one is
# strictly cheaper everywhere: one fewer copy of every payload byte.


def _file_scan(
    spark, parquet_dir: str, rows_fn, schema, clip_id_col: str, bytes_col: str
):
    """The one file-granular audio scan every ``audio_*_scan`` runs: the
    sorted ``*.parquet`` files of ``parquet_dir`` become one Spark task
    each (``ValueError`` if there are none), and ``mapInPandas`` reads
    each file's ``(clip_id_col, bytes_col)`` with pyarrow inside the task
    and yields ``rows_fn(clip_ids, payloads)`` — one pandas frame per file
    matching ``schema``. Payloads are zero-copy ``memoryview``s over the
    Arrow buffers (``None`` for NULL), so payload bytes never cross the
    JVM↔Python boundary and no per-clip ``bytes`` copy is made."""
    files = sorted(glob.glob(os.path.join(parquet_dir, "*.parquet")))
    if not files:
        raise ValueError(f"no parquet files under {parquet_dir!r}")
    files_df = local_df(spark, [(f,) for f in files], "path string").repartition(
        len(files)
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pyarrow.parquet as pq

        for pdf in batches:
            for path in pdf["path"]:
                table = pq.read_table(path, columns=[clip_id_col, bytes_col])
                payloads = (
                    memoryview(s.as_buffer()) if s.is_valid else None
                    for chunk in table.column(bytes_col).chunks
                    for s in chunk
                )
                yield rows_fn(table.column(clip_id_col).to_pylist(), payloads)

    return files_df.mapInPandas(gen, schema)


INVARIANT_ROW_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType()),
        T.StructField("snr_db", T.DoubleType()),
        T.StructField("decode_ok", T.BooleanType()),
        T.StructField("n_samples", T.IntegerType()),
    ]
)


def audio_invariant_scan(
    spark,
    parquet_dir: str,
    clip_id_col: str = "clip_id",
    bytes_col: str = "bytes",
):
    """Per-clip SNR invariant over a parquet directory of WAV payloads:
    DataFrame(clip_id, snr_db, decode_ok, n_samples)."""
    return _file_scan(
        spark, parquet_dir, _wav_invariant_rows, INVARIANT_ROW_SCHEMA, clip_id_col, bytes_col
    )


# ---------------------------------------------------------------------------
# per-clip audio profiling: decoded-PCM features for corpus curation
# (level/clipping/silence screens before a clip enters a training mix)

PROFILE_ROW_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType()),
        T.StructField("decode_ok", T.BooleanType()),
        T.StructField("sr_hz", T.IntegerType()),
        T.StructField("n_samples", T.IntegerType()),
        T.StructField("rms_dbfs", T.DoubleType()),
        T.StructField("peak", T.IntegerType()),
        T.StructField("clip_frac", T.DoubleType()),
        T.StructField("dc_offset", T.DoubleType()),
    ]
)


def pcm_profile(samples: np.ndarray) -> tuple[float, int, float, float]:
    """(rms_dbfs, peak, clip_frac, dc_offset) of an int16 PCM signal —
    one vectorized pass, float32 accumulation (same memory-bus argument as
    synth_pcm). Empty signal profiles as silence (-inf dBFS)."""
    n = len(samples)
    if n == 0:
        return float("-inf"), 0, 0.0, 0.0
    f = samples.astype(np.float32)
    rms = float(np.sqrt(np.mean(np.square(f, out=f))))  # square in-place
    rms_dbfs = 20.0 * float(np.log10(rms / 32768.0)) if rms > 0 else float("-inf")
    peak = int(np.max(np.abs(samples.astype(np.int32))))
    clip_frac = float(np.count_nonzero(np.abs(samples.astype(np.int32)) >= 32767) / n)
    dc_offset = float(np.mean(samples, dtype=np.float64))
    return rms_dbfs, peak, clip_frac, dc_offset


def _profile_rows(cids, payloads) -> pd.DataFrame:
    oks, srs, lens, rmss, peaks, clips, dcs = [], [], [], [], [], [], []
    for payload in payloads:
        try:
            sr, samples = wav_decode(payload)
            rms_dbfs, peak, clip_frac, dc = pcm_profile(samples)
            oks.append(True); srs.append(sr); lens.append(len(samples))
            rmss.append(rms_dbfs); peaks.append(peak)
            clips.append(clip_frac); dcs.append(dc)
        except (ValueError, TypeError):
            oks.append(False); srs.append(0); lens.append(0)
            rmss.append(float("-inf")); peaks.append(0); clips.append(0.0); dcs.append(0.0)
    return pd.DataFrame(
        {
            "clip_id": list(cids), "decode_ok": oks, "sr_hz": srs,
            "n_samples": lens, "rms_dbfs": rmss, "peak": peaks,
            "clip_frac": clips, "dc_offset": dcs,
        }
    )


def audio_profile_scan(
    spark,
    parquet_dir: str,
    clip_id_col: str = "clip_id",
    bytes_col: str = "bytes",
):
    """Per-clip audio profile over a parquet directory (``_file_scan``):
    DataFrame(clip_id, decode_ok, sr_hz, n_samples, rms_dbfs, peak,
    clip_frac, dc_offset). Join ``sr_hz``/``n_samples`` against the
    table's metadata columns for duration/rate consistency checks —
    that comparison is then a plain Catalyst filter."""
    return _file_scan(
        spark, parquet_dir, _profile_rows, PROFILE_ROW_SCHEMA, clip_id_col, bytes_col
    )


@F.pandas_udf(T.StructType([f for f in PROFILE_ROW_SCHEMA.fields if f.name != "clip_id"]))
def audio_profile_udf(
    it: Iterator[tuple[pd.Series, pd.Series]],
) -> Iterator[pd.DataFrame]:
    """Column form of the profile (payload bytes already in the table):
    (clip_id, bytes) → profile struct. Prefer ``audio_profile_scan`` on a
    single box — this form ships every payload byte through Arrow IPC."""
    for clip_ids, payloads in it:
        yield _profile_rows(clip_ids, payloads).drop(columns=["clip_id"])


# --------------------------------------------------------------------------
# spectral + silence analysis (numpy-only kernels — no codec libraries)

SPECTRAL_ROW_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType()),
        T.StructField("decode_ok", T.BooleanType()),
        T.StructField("zcr_hz", T.DoubleType()),
        T.StructField("centroid_hz", T.DoubleType()),
        T.StructField("rolloff85_hz", T.DoubleType()),
        T.StructField("active_ratio", T.DoubleType()),
        T.StructField("leading_silence_ms", T.DoubleType()),
        T.StructField("trailing_silence_ms", T.DoubleType()),
    ]
)

_SPECTRAL_MAX_FFT = 1 << 18  # cap the rFFT at ~262k samples (~16s @16k)


def spectral_profile(
    samples: "np.ndarray", sr_hz: int,
    silence_dbfs: float = -45.0, frame_ms: float = 20.0,
) -> "tuple[float, float, float, float, float, float]":
    """(zcr_hz, centroid_hz, rolloff85_hz, active_ratio,
    leading_silence_ms, trailing_silence_ms) of an int16 PCM signal.

    * zero-crossing rate in crossings/sec (a 1 kHz tone ⇒ ~2000/s);
    * spectral centroid + 85% energy rolloff from ONE whole-clip rFFT
      magnitude spectrum (capped at ~262k samples; DC bin excluded so a
      DC offset cannot masquerade as energy);
    * silence via 20 ms frame RMS against an absolute dBFS floor —
      active_ratio plus leading/trailing silence in ms (the
      trim-detection signal).

    All vectorized numpy; the FFT is the only superlinear step and is
    capped, so per-clip cost is O(n + F log F)."""
    n = len(samples)
    if n == 0 or sr_hz <= 0:
        return 0.0, 0.0, 0.0, 0.0, 0.0, 0.0
    f64 = samples.astype(np.float64)
    # ZCR: sign changes per second (zeros count as positive side)
    signs = np.signbit(f64)
    zcr_hz = float(np.count_nonzero(signs[1:] != signs[:-1])) * sr_hz / n

    m = min(n, _SPECTRAL_MAX_FFT)
    mag = np.abs(np.fft.rfft(f64[:m]))
    mag[0] = 0.0  # DC is offset, not spectrum
    freqs = np.fft.rfftfreq(m, d=1.0 / sr_hz)
    tot = float(mag.sum())
    if tot > 0:
        centroid_hz = float((freqs * mag).sum() / tot)
        energy = np.square(mag)
        cum = np.cumsum(energy)
        k = int(np.searchsorted(cum, 0.85 * cum[-1]))
        rolloff85_hz = float(freqs[min(k, len(freqs) - 1)])
    else:
        centroid_hz = 0.0
        rolloff85_hz = 0.0

    frame = max(1, int(sr_hz * frame_ms / 1000.0))
    n_frames = n // frame
    if n_frames == 0:
        rms = float(np.sqrt(np.mean(np.square(f64))))
        active = rms > 0 and 20.0 * np.log10(rms / 32768.0) > silence_dbfs
        ms = 1000.0 * n / sr_hz
        return zcr_hz, centroid_hz, rolloff85_hz, float(active), (0.0 if active else ms), (0.0 if active else ms)
    frames = f64[: n_frames * frame].reshape(n_frames, frame)
    rms = np.sqrt(np.mean(np.square(frames), axis=1))
    with np.errstate(divide="ignore"):
        dbfs = 20.0 * np.log10(rms / 32768.0)
    act = dbfs > silence_dbfs
    active_ratio = float(np.count_nonzero(act) / n_frames)
    frame_ms_actual = 1000.0 * frame / sr_hz
    idx = np.flatnonzero(act)
    if len(idx) == 0:
        lead = trail = n_frames * frame_ms_actual
    else:
        lead = float(idx[0]) * frame_ms_actual
        trail = float(n_frames - 1 - idx[-1]) * frame_ms_actual
    return zcr_hz, centroid_hz, rolloff85_hz, active_ratio, lead, trail


def _spectral_rows(cids, payloads) -> pd.DataFrame:
    cols: dict[str, list] = {k: [] for k in (
        "decode_ok", "zcr_hz", "centroid_hz", "rolloff85_hz",
        "active_ratio", "leading_silence_ms", "trailing_silence_ms",
    )}
    for payload in payloads:
        try:
            sr, samples = wav_decode(payload)
            vals = spectral_profile(samples, sr)
            cols["decode_ok"].append(True)
        except (ValueError, TypeError):
            vals = (0.0,) * 6
            cols["decode_ok"].append(False)
        for k, v in zip(
            ("zcr_hz", "centroid_hz", "rolloff85_hz", "active_ratio",
             "leading_silence_ms", "trailing_silence_ms"), vals,
        ):
            cols[k].append(float(v))
    return pd.DataFrame({"clip_id": list(cids), **cols})


def audio_spectral_scan(
    spark,
    parquet_dir: str,
    clip_id_col: str = "clip_id",
    bytes_col: str = "bytes",
):
    """Per-clip spectral/silence features over a parquet directory
    (``_file_scan``)."""
    return _file_scan(
        spark, parquet_dir, _spectral_rows, SPECTRAL_ROW_SCHEMA, clip_id_col, bytes_col
    )


# --------------------------------------------------------------------------
# gain-invariant spectral fingerprint → near-duplicate audio detection
#
# The audio twin of text SimHash: a 64-bit per-clip sketch whose bits are
# SIGNS of adjacent band-energy differences (Haitsma & Kalker's "robust
# audio hash" bit derivation, ISMIR 2002 — public literature), majority-
# voted across frames. Scaling PCM by any positive gain scales every band
# energy by gain², so every difference keeps its sign: re-encoded or
# volume-normalized copies of a clip land within a small hamming distance
# and are caught by the same pigeonhole chunk join the text path uses
# (functions/dedup.hamming_near_dups).

FP_ROW_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType()),
        T.StructField("fp", T.LongType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("decode_ok", T.BooleanType()),
    ]
)

_FP_BITS = 64
_FP_MAX_FRAMES = 256


def band_energy_fingerprint(
    samples: "np.ndarray", sr_hz: int,
    frame_len: int = 1024, hop: int = 512,
    f_lo: float = 100.0, f_hi: float = 4000.0,
) -> "tuple[int, int]":
    """(fp, n_frames): 64-bit gain-invariant spectral fingerprint of int16
    PCM. Per frame: 65 linear band energies on [f_lo, min(f_hi, 0.45·sr)],
    bit b = E[b] > E[b+1]; clip bits = per-bit majority across frames
    (strict >, so ties are 0 — deterministic). Frames beyond
    ``_FP_MAX_FRAMES`` are evenly subsampled, capping per-clip cost; the
    rFFT runs once over a (frames × frame_len) matrix. Returns fp as a
    SIGNED 64-bit int (bit 63 ⇒ negative) so it stores in a Spark LONG."""
    n = len(samples)
    if n == 0 or sr_hz <= 0:
        return 0, 0
    f64 = samples.astype(np.float64)
    if n < frame_len:
        f64 = np.concatenate([f64, np.zeros(frame_len - n)])
        n = frame_len
    starts = np.arange(0, n - frame_len + 1, hop)
    if len(starts) > _FP_MAX_FRAMES:
        starts = starts[
            np.linspace(0, len(starts) - 1, _FP_MAX_FRAMES).round().astype(int)
        ]
    frames = np.lib.stride_tricks.sliding_window_view(f64, frame_len)[starts]
    mag2 = np.square(np.abs(np.fft.rfft(frames, axis=1)))
    freqs = np.fft.rfftfreq(frame_len, d=1.0 / sr_hz)
    hi = min(f_hi, 0.45 * sr_hz)
    edges = np.linspace(f_lo, hi, _FP_BITS + 2)  # 65 bands -> 64 diffs
    bounds = np.searchsorted(freqs, edges)
    # reduceat yields mag2[:, bounds[i]] (not 0) for an empty segment; a
    # 1024-pt frame at 8 kHz has ~7.8 Hz bins vs ~54 Hz bands, so segments
    # are never empty for supported rates — assert instead of masking.
    if (np.diff(bounds) <= 0).any():
        raise ValueError(f"degenerate band layout for sr_hz={sr_hz}")
    energies = np.add.reduceat(mag2, bounds[:-1], axis=1)[:, : _FP_BITS + 1]
    bits = energies[:, :-1] > energies[:, 1:]  # (frames, 64)
    maj = bits.sum(axis=0) * 2 > len(bits)
    fp = np.uint64(0)
    packed = np.packbits(maj[::-1]).astype(np.uint64)
    for i, byte in enumerate(packed):
        fp |= byte << np.uint64(8 * (len(packed) - 1 - i))
    return int(fp.astype(np.int64)), len(bits)


def _fingerprint_rows(cids, payloads) -> pd.DataFrame:
    fps, nfs, oks = [], [], []
    for payload in payloads:
        try:
            sr, samples = wav_decode(payload)
            fp, nf = band_energy_fingerprint(samples, sr)
            oks.append(True)
        except (ValueError, TypeError):
            fp, nf = 0, 0
            oks.append(False)
        fps.append(fp)
        nfs.append(nf)
    return pd.DataFrame(
        {"clip_id": list(cids), "fp": pd.array(fps, dtype="Int64"),
         "n_frames": nfs, "decode_ok": oks}
    )


def audio_fingerprint_scan(
    spark,
    parquet_dir: str,
    clip_id_col: str = "clip_id",
    bytes_col: str = "bytes",
):
    """Per-clip spectral fingerprints over a parquet directory
    (``_file_scan``). Output: (clip_id, fp, n_frames, decode_ok). At
    10¹²-clip scale this is the ONE pass that touches audio bytes; the
    ~16 B/clip result is what shuffles."""
    return _file_scan(
        spark, parquet_dir, _fingerprint_rows, FP_ROW_SCHEMA, clip_id_col, bytes_col
    )


def fingerprint_near_dups(
    fp_df,
    id_col: str = "clip_id",
    fp_col: str = "fp",
    max_hamming: int = 7,
    max_bucket_size: int = 500,
):
    """Near-duplicate clip pairs by fingerprint hamming distance ≤
    ``max_hamming`` (gain-scaled / re-encoded copies). Delegates to the
    pigeonhole chunk join (``dedup.hamming_near_dups``): candidates are
    exact below the bucket cap, verification is one codegen
    ``bit_count(xor)``. Output: ({id}_a, {id}_b, hamming). 64 bits split
    into max_hamming+1 chunks, so max_hamming ∈ {1,3,7,15,31}."""
    from jsschema_spark.functions.dedup import hamming_near_dups

    return hamming_near_dups(
        fp_df.where(F.col("decode_ok")) if "decode_ok" in fp_df.columns else fp_df,
        id_col, fp_col, max_hamming=max_hamming,
        max_bucket_size=max_bucket_size, n_bits=_FP_BITS,
    )


def transcript_rate_check(
    df,
    transcript_col: str = "transcript",
    dur_ms_col: str = "dur_ms",
    min_tps: float = 0.5,
    max_tps: float = 8.0,
):
    """Transcript↔duration consistency: speaking rate in whitespace
    tokens/sec against a plausible-speech band — the cross-COLUMN audio
    sanity check that needs no decode (a 2-second clip claiming a
    60-token transcript is mislabeled no matter what the bytes say).
    Returns ONLY flagged rows: (original columns…, n_tokens,
    tokens_per_sec, reason ∈ bad_duration / empty_transcript / too_fast /
    too_slow). Pure Catalyst projection + filter — zero shuffle, scales as
    a scan; the rate uses ±·/ arithmetic only, so external SQL oracles
    reproduce it bit-for-bit."""
    from jsschema_spark.functions.text import token_count

    nt = token_count(F.col(transcript_col))
    dur = F.col(dur_ms_col)
    tps = nt.cast("double") * 1000.0 / dur.cast("double")
    reason = (
        F.when(dur.isNull() | (dur <= 0), F.lit("bad_duration"))
        .when(nt == 0, F.lit("empty_transcript"))
        .when(tps > max_tps, F.lit("too_fast"))
        .when(tps < min_tps, F.lit("too_slow"))
    )
    return (
        df.withColumn("n_tokens", nt.cast("long"))
        .withColumn(
            "tokens_per_sec",
            F.when(dur > 0, tps).otherwise(F.lit(None).cast("double")),
        )
        .withColumn("reason", reason)
        .where(F.col("reason").isNotNull())
    )


@F.pandas_udf(T.StructType([f for f in FP_ROW_SCHEMA.fields if f.name != "clip_id"]))
def audio_fingerprint_udf(
    it: Iterator[tuple[pd.Series, pd.Series]],
) -> Iterator[pd.DataFrame]:
    """Column-form fingerprint (clip_id kept only for signature symmetry
    with the invariant UDF; the fingerprint is a pure function of the
    bytes): (clip_id, bytes) → struct(fp long, n_frames int, decode_ok
    boolean). Use ``audio_fingerprint_scan`` for stored corpora (bytes
    never cross IPC); this form is for STREAMING micro-batches and ad-hoc
    columns where rows are already in flight."""
    for cids, payloads in it:
        yield _fingerprint_rows(cids, payloads).drop(columns=["clip_id"])


def write_fingerprint_index(fp_df, path: str, mode: str = "overwrite") -> None:
    """Persist ``(clip_id, fp)`` spectral fingerprints as the corpus audio
    dedup index (~16 B/clip — 10¹² clips ≈ 16 TB of index vs the corpus's
    payload petabytes). ``mode="append"`` admits a verified batch after
    ``incremental_fingerprint_pairs``. Decode failures are excluded: a
    clip with no decodable audio has no fingerprint."""
    cols = ["clip_id", "fp"]
    out = fp_df.where(F.col("decode_ok")) if "decode_ok" in fp_df.columns else fp_df
    out.select(*cols).write.mode(mode).parquet(path)


def incremental_fingerprint_pairs(
    new_fp, index,
    max_hamming: int = 7,
    max_bucket_size: int = 500,
):
    """Near-dup clip pairs of a new batch vs a persisted fingerprint index
    (plus within-batch pairs) — the corpus audio is NEVER re-decoded:
    stored 8-byte fingerprints are chunk-exploded with codegen bit ops.
    Delegates to ``dedup.incremental_hamming_pairs``. Output:
    (clip_id_a, clip_id_b, hamming)."""
    from jsschema_spark.functions.dedup import incremental_hamming_pairs

    new_fp = new_fp.where(F.col("decode_ok")) if "decode_ok" in new_fp.columns else new_fp
    return incremental_hamming_pairs(
        new_fp, index, "clip_id", "fp",
        max_hamming=max_hamming, max_bucket_size=max_bucket_size, n_bits=_FP_BITS,
    )


def clip_windows(
    df,
    win_ms: int = 1000,
    hop_ms: int = 500,
    clip_id_col: str = "clip_id",
    dur_col: str = "dur_ms",
):
    """Fixed-length training-window segmentation at the METADATA level:
    each clip yields rows ``(clip_id, win_idx, start_ms, end_ms)`` for
    every full ``win_ms`` window at stride ``hop_ms`` (clips shorter than
    one window yield nothing; the tail partial window is dropped — chunk
    upstream if it matters). The audio sibling of ``curate.chunk_documents``:
    the payload is untouched, so the 100-TB corpus never moves — this is a
    pure narrow ``sequence``+``explode`` projection (zero shuffle, zero
    Python) producing the frame manifest that a decode stage consumes
    file-granularly later."""
    if win_ms <= 0 or hop_ms <= 0:
        raise ValueError("win_ms and hop_ms must be positive")
    dur = F.col(dur_col)
    starts = F.sequence(F.lit(0), (dur - win_ms).cast("int"), F.lit(hop_ms))
    return (
        df.where(dur.isNotNull() & (dur >= win_ms))
        .select(
            F.col(clip_id_col).alias("clip_id"),
            F.explode(starts).alias("start_ms"),
        )
        .select(
            "clip_id",
            (F.col("start_ms") / hop_ms).cast("int").alias("win_idx"),
            F.col("start_ms").cast("int"),
            (F.col("start_ms") + win_ms).cast("int").alias("end_ms"),
        )
    )


# --------------------------------------------------------------------------
# energy-based voice-activity segmentation
#
# The segment-level sibling of spectral_profile's scalar silence stats:
# instead of summarizing "how much of the clip is active", emit the actual
# speech segments — the rows a transcription/training pipeline consumes.
# Pure frame-RMS thresholding (no model, no codec libs): deterministic,
# vectorized, and honest about being an ENERGY gate, not a phonetic VAD.

VAD_ROW_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType()),
        T.StructField("seg_idx", T.IntegerType()),
        T.StructField("start_ms", T.DoubleType()),
        T.StructField("end_ms", T.DoubleType()),
        T.StructField("decode_ok", T.BooleanType()),
    ]
)


def vad_segments(
    samples: "np.ndarray",
    sr_hz: int,
    silence_dbfs: float = -45.0,
    frame_ms: float = 20.0,
    min_speech_ms: float = 100.0,
    min_gap_ms: float = 150.0,
) -> "list[tuple[float, float]]":
    """Active (speech-like) segments of an int16 PCM signal as
    ``(start_ms, end_ms)`` frame-aligned spans: frame RMS against an
    absolute dBFS floor, gaps shorter than ``min_gap_ms`` bridged (a
    plosive pause does not split an utterance), spans shorter than
    ``min_speech_ms`` dropped (clicks are not speech). All vectorized
    numpy — one pass over frames, run-length via diff on the mask."""
    n = len(samples)
    if n == 0 or sr_hz <= 0:
        return []
    frame = max(1, int(sr_hz * frame_ms / 1000.0))
    n_frames = n // frame
    if n_frames == 0:
        return []
    f64 = samples[: n_frames * frame].astype(np.float64).reshape(n_frames, frame)
    rms = np.sqrt(np.mean(np.square(f64), axis=1))
    with np.errstate(divide="ignore"):
        dbfs = 20.0 * np.log10(rms / 32768.0)
    act = dbfs > silence_dbfs
    if not act.any():
        return []
    ms_per_frame = 1000.0 * frame / sr_hz
    # run starts/ends on the padded mask
    edges = np.diff(np.concatenate(([0], act.view(np.int8), [0])))
    starts = np.flatnonzero(edges == 1)
    ends = np.flatnonzero(edges == -1)  # exclusive frame index
    # bridge short gaps
    keep_gap = (starts[1:] - ends[:-1]) * ms_per_frame >= min_gap_ms
    seg_starts = starts[np.concatenate(([True], keep_gap))]
    seg_ends = ends[np.concatenate((keep_gap, [True]))]
    out = []
    for s, e in zip(seg_starts, seg_ends):
        dur = (e - s) * ms_per_frame
        if dur >= min_speech_ms:
            out.append((float(s * ms_per_frame), float(e * ms_per_frame)))
    return out


def _vad_rows(cids, payloads) -> pd.DataFrame:
    cols: dict[str, list] = {
        "clip_id": [], "seg_idx": [], "start_ms": [], "end_ms": [], "decode_ok": [],
    }
    for cid, payload in zip(cids, payloads):
        try:
            sr, samples = wav_decode(payload)
            segs = vad_segments(samples, sr)
            ok = True
        except (ValueError, TypeError):
            segs, ok = [], False
        if not segs:
            # one sentinel row per clip keeps "no speech" and "undecodable"
            # visible downstream instead of silently vanishing
            cols["clip_id"].append(cid)
            cols["seg_idx"].append(-1)
            cols["start_ms"].append(0.0)
            cols["end_ms"].append(0.0)
            cols["decode_ok"].append(ok)
            continue
        for i, (s, e) in enumerate(segs):
            cols["clip_id"].append(cid)
            cols["seg_idx"].append(i)
            cols["start_ms"].append(s)
            cols["end_ms"].append(e)
            cols["decode_ok"].append(ok)
    return pd.DataFrame(cols)


def audio_vad_scan(
    spark,
    parquet_dir: str,
    clip_id_col: str = "clip_id",
    bytes_col: str = "bytes",
):
    """Voice-activity segments over a parquet directory (``_file_scan``):
    the per-clip segment manifest ``(clip_id, seg_idx, start_ms, end_ms,
    decode_ok)`` with a ``seg_idx = -1`` sentinel for silent/undecodable
    clips."""
    return _file_scan(
        spark, parquet_dir, _vad_rows, VAD_ROW_SCHEMA, clip_id_col, bytes_col
    )


def payload_size_check(
    df: "DataFrame",
    bytes_col: str = "bytes",
    sr_col: str = "sr_hz",
    dur_col: str = "dur_ms",
    codec_col: str = "codec",
) -> "DataFrame":
    """Truncated/corrupt-payload screen WITHOUT decoding a single sample:
    for PCM-s16le mono WAV clips the byte length is fully determined by
    the metadata (44-byte RIFF header + ⌊sr·dur/1000⌋·2 data bytes — the
    exact layout ``wav_encode`` writes), so a cheap codegen comparison
    catches truncated uploads, doubled writes and header/metadata lies
    before any Arrow decode stage spends cycles on them. Compressed
    codecs have no metadata-derivable size → ``not_applicable`` (decode-
    stage checks own them); non-positive sr/dur → ``invalid_metadata``.

    Adds ``expected_bytes``, ``actual_bytes``, ``size_status`` ∈
    {ok, size_mismatch, not_applicable, invalid_metadata, null_payload}.
    Pure Catalyst projection: zero shuffle, zero Python, payloads never
    leave the JVM (only ``length()`` touches them)."""
    sr = F.col(sr_col)
    dur = F.col(dur_col)
    expected = (
        F.lit(44)
        + F.floor(sr.cast("long") * dur.cast("long") / F.lit(1000)) * F.lit(2)
    ).cast("long")
    actual = F.length(F.col(bytes_col)).cast("long")
    bad_meta = (
        sr.isNull() | dur.isNull() | (sr <= 0) | (dur <= 0)
    )
    status = (
        F.when(F.col(bytes_col).isNull(), F.lit("null_payload"))
        .when(bad_meta, F.lit("invalid_metadata"))
        .when(F.col(codec_col) != "pcm_s16le", F.lit("not_applicable"))
        .when(actual == expected, F.lit("ok"))
        .otherwise(F.lit("size_mismatch"))
    )
    applicable = ~bad_meta & (F.col(codec_col) == "pcm_s16le")
    return df.withColumns(
        {
            "expected_bytes": F.when(applicable, expected),
            "actual_bytes": actual,
            "size_status": status,
        }
    )


def codec_metadata_check(
    df: "DataFrame",
    bytes_col: str = "bytes",
    codec_col: str = "codec",
    sr_col: str = "sr_hz",
    dur_col: str = "dur_ms",
    tol_ms: int = 50,
) -> "DataFrame":
    """Container-header vs table-column consistency WITHOUT decoding one
    sample: parses the WAV fmt chunk (sample rate LE u32 at byte 25, data
    length LE u32 at byte 41 — the canonical 44-byte layout
    ``wav_encode`` writes) and the FLAC STREAMINFO (sample rate 20 bits at
    stream bytes 19-21, total samples 36 bits at 21-25) entirely with
    Catalyst byte arithmetic (``substring``/``hex``/``conv`` — the
    ``multimodal.image_dims`` pattern), then cross-checks the table's
    claimed ``sr_hz`` and ``dur_ms``. Catches the upload-pipeline lies a
    10^12-clip ingest actually sees — resampled-but-metadata-stale rows,
    duration columns computed from the wrong clock — as a zero-Python
    zero-shuffle projection, so it can run on EVERY row while decode-stage
    checks sample.

    Adds ``header_sr``, ``header_samples``, ``meta_status`` ∈
    {consistent, sr_mismatch, duration_unknown, duration_mismatch,
    header_unreadable, opaque_codec}. ``duration_unknown``: a FLAC
    STREAMINFO total-sample count of 0, which the format defines as
    "unknown" (``flac_decode`` then reads frames to the end), so there is
    no container duration to compare. Opaque codecs (opus) have readable
    containers but no cheap sample count — decode-stage checks own them."""
    from jsschema_spark.functions.multimodal import _be, _le

    b = F.col(bytes_col)
    is_wav = F.col(codec_col) == "pcm_s16le"
    is_flac = F.col(codec_col) == "flac"
    wav_ok = (
        (F.length(b) >= 44)
        & (F.substring(b, 1, 4) == F.lit(b"RIFF"))
        & (F.substring(b, 9, 4) == F.lit(b"WAVE"))
    )
    flac_ok = (F.length(b) >= 42) & (F.substring(b, 1, 4) == F.lit(b"fLaC"))
    header_sr = (
        F.when(is_wav & wav_ok, _le(b, 25, 4))
        .when(
            is_flac & flac_ok,
            _be(b, 19, 1) * F.lit(4096) + _be(b, 20, 1) * F.lit(16)
            + F.floor(_be(b, 21, 1) / F.lit(16)),
        )
        .cast("long")
    )
    # FLAC STREAMINFO bit layout from stream byte 19 (1-based): 20-bit
    # sample rate, 3-bit channels, 5-bit bps, then the 36-bit total-sample
    # count = low nibble of byte 22 + bytes 23-26
    header_samples = (
        F.when(is_wav & wav_ok, F.floor(_le(b, 41, 4) / F.lit(2)))
        .when(
            is_flac & flac_ok,
            F.pmod(_be(b, 22, 1), F.lit(16)) * F.lit(1 << 32) + _be(b, 23, 4),
        )
        .cast("long")
    )
    container_ms = F.round(header_samples * F.lit(1000.0) / header_sr).cast("long")
    status = (
        F.when(
            ~(is_wav | is_flac) | F.col(codec_col).isNull(), F.lit("opaque_codec")
        )
        .when(
            b.isNull() | (is_wav & ~wav_ok) | (is_flac & ~flac_ok) | (header_sr <= 0),
            F.lit("header_unreadable"),
        )
        .when(header_sr != F.col(sr_col).cast("long"), F.lit("sr_mismatch"))
        .when(is_flac & (header_samples == 0), F.lit("duration_unknown"))
        .when(
            F.abs(container_ms - F.col(dur_col).cast("long")) > tol_ms,
            F.lit("duration_mismatch"),
        )
        .otherwise(F.lit("consistent"))
    )
    return df.withColumns(
        {
            "header_sr": header_sr,
            "header_samples": header_samples,
            "meta_status": status,
        }
    )


def bandwidth_check(
    df: "DataFrame",
    sr_col: str = "sr_hz",
    rolloff_col: str = "rolloff85_hz",
    active_col: str = "active_ratio",
    decode_ok_col: str = "decode_ok",
    frac: float = 0.25,
    min_active: float = 0.05,
) -> "DataFrame":
    """Upsampled / fake-sample-rate detection: a clip whose 85%-energy
    rolloff sits far below the Nyquist frequency its header claims was
    band-limited at some lower native rate and resampled up — the audio
    twin of a decimal column stored as "high precision" zeros. Classic
    training-corpus fraud: "48 kHz studio audio" that is an 8 kHz
    telephone recording upsampled 6×.

    Consumes spectral-scan output (``audio_spectral_scan`` /
    ``_spectral_rows``) joined with the claimed sample rate; adds
    ``bandwidth_ratio`` = rolloff / (sr/2) and ``band_status`` ∈
    {undecodable, silent, band_limited, full_band} (silence is excluded
    first — an empty spectrum is not evidence of upsampling).

    Pure Catalyst over the already-reduced feature rows: the FFT cost
    lives in the one Arrow scan that produced them; this classifier adds
    zero Python and zero shuffle."""
    nyquist = F.col(sr_col).cast("double") / F.lit(2.0)
    ratio = F.col(rolloff_col) / nyquist
    status = (
        F.when(~F.col(decode_ok_col), F.lit("undecodable"))
        .when(F.col(active_col) < F.lit(min_active), F.lit("silent"))
        .when(ratio < F.lit(frac), F.lit("band_limited"))
        .otherwise(F.lit("full_band"))
    )
    return df.withColumns(
        {
            "bandwidth_ratio": F.when(
                F.col(decode_ok_col) & (nyquist > 0), ratio
            ),
            "band_status": status,
        }
    )


def profile_check(
    df: "DataFrame",
    rms_col: str = "rms_dbfs",
    clip_col: str = "clip_frac",
    dc_col: str = "dc_offset",
    decode_ok_col: str = "decode_ok",
    silence_dbfs: float = -60.0,
    max_clip_frac: float = 0.01,
    max_dc_offset: float = 100.0,
) -> "DataFrame":
    """Recording-quality gate over ``audio_profile_scan`` output: classify
    each clip from its one-pass PCM profile — ``clipped`` (saturated
    samples above ``max_clip_frac``: the distortion no downstream
    normalization can undo), ``dc_offset`` (mean sample magnitude above
    ``max_dc_offset``: a miswired or unfiltered capture chain),
    ``silent``, ``undecodable``, else ``ok``. Precedence: undecodable →
    silent → clipped → dc_offset — a clipped clip usually also has a
    skewed mean, and the actionable defect is the clipping.

    Pure Catalyst over the already-reduced profile rows; the PCM pass
    lives in the one Arrow scan that produced them."""
    status = (
        F.when(~F.col(decode_ok_col), F.lit("undecodable"))
        .when(F.col(rms_col) < F.lit(silence_dbfs), F.lit("silent"))
        .when(F.col(clip_col) > F.lit(max_clip_frac), F.lit("clipped"))
        .when(F.abs(F.col(dc_col)) > F.lit(max_dc_offset), F.lit("dc_offset"))
        .otherwise(F.lit("ok"))
    )
    return df.withColumn("profile_status", status)


def transcript_vad_consistency(
    df: "DataFrame",
    active_ms_col: str = "active_ms",
    tokens_col: str = "n_tokens",
    decode_ok_col: str = "decode_ok",
    min_speech_ms: float = 100.0,
    min_rate: float = 0.5,
    max_rate: float = 8.0,
) -> "DataFrame":
    """Transcript↔audio INTEGRITY gate, rate measured against VAD-active
    time, not container duration: a transcript over a silent clip
    (fabricated or misaligned text), speech with an empty transcript
    (dropped annotation), or a speech rate outside human plausibility
    when divided by the time someone was actually talking — a 10 s clip
    with 1 s of speech and 20 words is 2 words/s against the container
    but 20 words/s against reality, and only the second number exposes
    it. Complements ``transcript_rate_check`` (metadata-only, decode-
    free): this is the decode-grade sibling.

    Consumes per-clip VAD-aggregated rows; adds ``tokens_per_active_s``
    and ``vad_status`` ∈ {undecodable, transcript_without_speech,
    speech_without_transcript, too_slow, too_fast, ok} (silent clip with
    empty transcript is vacuous → ok). Pure Catalyst over the reduced
    rows; the VAD cost lives in the Arrow scan that produced them."""
    active_s = F.col(active_ms_col) / F.lit(1000.0)
    has_speech = F.col(active_ms_col) >= F.lit(min_speech_ms)
    has_text = F.col(tokens_col) > 0
    rate = F.try_divide(F.col(tokens_col), active_s)
    status = (
        F.when(~F.col(decode_ok_col), F.lit("undecodable"))
        .when(~has_speech & has_text, F.lit("transcript_without_speech"))
        .when(has_speech & ~has_text, F.lit("speech_without_transcript"))
        .when(has_speech & (rate < F.lit(min_rate)), F.lit("too_slow"))
        .when(has_speech & (rate > F.lit(max_rate)), F.lit("too_fast"))
        .otherwise(F.lit("ok"))
    )
    return df.withColumns(
        {
            "tokens_per_active_s": F.when(has_speech, rate),
            "vad_status": status,
        }
    )


def duration_check(
    df: "DataFrame",
    meta_sr_col: str = "sr_hz_meta",
    meta_dur_col: str = "dur_ms_meta",
    decoded_sr_col: str = "sr_hz",
    n_samples_col: str = "n_samples",
    decode_ok_col: str = "decode_ok",
    tol_ms: float = 50.0,
) -> "DataFrame":
    """Decode-grade metadata consistency — the header-lie detector
    ``payload_size_check`` cannot be: byte length only pins sr×dur for
    PCM, so a WAV whose HEADER claims a different rate than the catalog
    (every sample plays at the wrong speed) or whose decoded duration
    disagrees with the catalog's ``dur_ms`` passes the size screen and
    fails here. Consumes profile-scan rows (decoded ``sr_hz``,
    ``n_samples``) joined with catalog metadata; adds ``decoded_ms`` and
    ``dur_status`` ∈ {undecodable, sr_mismatch, duration_mismatch, ok}.
    Precedence: sr first — a wrong rate makes the duration comparison
    meaningless.

    Pure Catalyst over the reduced rows; decode cost lives in the Arrow
    scan."""
    decoded_ms = (
        F.col(n_samples_col).cast("double")
        * F.lit(1000.0)
        / F.col(decoded_sr_col).cast("double")
    )
    status = (
        F.when(~F.col(decode_ok_col), F.lit("undecodable"))
        .when(
            F.col(decoded_sr_col) != F.col(meta_sr_col), F.lit("sr_mismatch")
        )
        .when(
            F.abs(decoded_ms - F.col(meta_dur_col).cast("double"))
            > F.lit(tol_ms),
            F.lit("duration_mismatch"),
        )
        .otherwise(F.lit("ok"))
    )
    return df.withColumns(
        {
            "decoded_ms": F.when(
                F.col(decode_ok_col) & (F.col(decoded_sr_col) > 0), decoded_ms
            ),
            "dur_status": status,
        }
    )


def normalize_gain(
    samples: "np.ndarray", target_dbfs: float = -20.0
) -> "np.ndarray":
    """Gain-normalize int16 PCM to a target RMS level (dBFS): the fix
    path for the level spread ``audio_profile_scan`` reports — corpora
    mixing whisper-level and hot captures train badly even when every
    clip individually passes the gate. Pure vectorized numpy; silence
    (zero RMS) passes through unchanged; the scale is clipped back into
    int16 (a clip already at 0 dBFS cannot be boosted losslessly — the
    ``clip_frac`` screen owns that case)."""
    f = samples.astype(np.float64)
    rms = float(np.sqrt(np.mean(np.square(f)))) if len(f) else 0.0
    if rms <= 0.0:
        return samples
    target = 32768.0 * (10.0 ** (target_dbfs / 20.0))
    out = f * (target / rms)
    return np.clip(out, -32768, 32767).astype(np.int16)


def resample_linear(
    samples: "np.ndarray", sr_from: int, sr_to: int
) -> "np.ndarray":
    """Linear-interpolation resampler: the fix path for a rate-mixed
    corpus (every training pipeline wants ONE rate; ``duration_check``
    and ``bandwidth_check`` find the offenders, this converts them).
    Output length is ⌊n·sr_to/sr_from⌋, grid-aligned at t=0; linear
    interp is the honest container-free choice (no scipy in this
    environment) — band-limited sinc resampling is the documented
    upgrade where libs exist. Vectorized numpy (np.interp)."""
    if sr_from == sr_to or len(samples) == 0:
        return samples
    n_out = int(len(samples) * sr_to // sr_from)
    if n_out <= 0:
        return samples[:0]
    t_out = np.arange(n_out, dtype=np.float64) * (sr_from / sr_to)
    t_in = np.arange(len(samples), dtype=np.float64)
    out = np.interp(t_out, t_in, samples.astype(np.float64))
    return np.clip(np.rint(out), -32768, 32767).astype(np.int16)


def opus_header_probe(
    df: "DataFrame",
    bytes_col: str = "bytes",
    sr_col: str = "sr_hz",
) -> "DataFrame":
    """Opus ID-header (RFC 7845 OpusHead) probe — the metadata reach into
    the one codec this build cannot decode. The BOS Ogg page layout is
    fixed for a spec-compliant stream (the ID header must sit alone on the
    first page, one lacing segment), so channel count, pre-skip and the
    original-input sample rate parse with pure-Catalyst byte arithmetic:
    zero Python, zero shuffle, no decode — the same every-row screen shape
    as ``codec_metadata_check``. ``opus_status`` ∈ {header_ok,
    input_sr_mismatch, header_unreadable}: ``input_sr_mismatch`` flags
    rows whose catalog ``sr_hz`` disagrees with what the encoder said the
    source was — the stale-resample lie, visible even though the payload
    itself always plays at 48 kHz. Adds ``opus_channels``,
    ``opus_pre_skip``, ``opus_input_sr``."""
    from jsschema_spark.functions.multimodal import _be, _le

    b = F.col(bytes_col)
    # null payload makes every comparison NULL, and NULL would fall
    # through the when-chain to 'header_ok' (three-valued logic) — pin the
    # whole validity conjunction to a real boolean
    ok = b.isNotNull() & F.coalesce(
        (F.length(b) >= 47)
        & (F.substring(b, 1, 4) == F.lit(b"OggS"))
        & (_be(b, 5, 1) == 0)                      # stream structure v0
        & (_be(b, 6, 1).bitwiseAND(F.lit(2)) == 2)  # beginning-of-stream
        & (_be(b, 27, 1) == 1)                     # ID header alone on page
        & (F.substring(b, 29, 8) == F.lit(b"OpusHead"))
        & (_be(b, 37, 1) == 1),                    # OpusHead version 1
        F.lit(False),
    )
    channels = F.when(ok, _be(b, 38, 1)).cast("int")
    pre_skip = F.when(ok, _le(b, 39, 2)).cast("int")
    input_sr = F.when(ok, _le(b, 41, 4)).cast("long")
    status = (
        F.when(~ok, F.lit("header_unreadable"))
        .when(input_sr != F.col(sr_col).cast("long"), F.lit("input_sr_mismatch"))
        .otherwise(F.lit("header_ok"))
    )
    return df.withColumns(
        {
            "opus_channels": channels,
            "opus_pre_skip": pre_skip,
            "opus_input_sr": input_sr,
            "opus_status": status,
        }
    )


def transcode_payload(codec_from: str, codec_to: str, payload: bytes) -> bytes:
    """Container transcode through the PCM domain: decode with
    ``decode_payload`` (WAV inline, FLAC via the pure-NumPy codec),
    re-encode in the target container. Lossless both ways for the two
    implemented codecs (16-bit PCM is the interchange format), so
    WAV→FLAC→WAV is bit-exact — the archive-compression path for a
    100-TB clip corpus (tonal/speech-like payloads compress 2-5×, the
    codec-metadata and invariant checks all read FLAC natively). Raises
    ``ValueError`` on malformed input, ``NotImplementedError`` for opus
    either side."""
    sr, pcm = decode_payload(codec_from, payload)
    if codec_to in ("pcm_s16le", "wav"):
        return wav_encode(pcm, sr)
    if codec_to == "flac":
        from jsschema_spark.flac import flac_encode

        return flac_encode(pcm, sr)
    raise NotImplementedError(f"codec {codec_to!r} encode requires an audio library")


def _sinc_kernel(L: int, M: int, taps_per_phase: int) -> "np.ndarray":
    """Windowed-sinc lowpass for L/M rational resampling, designed in the
    ×L upsampled domain: cutoff at the tighter of the two Nyquists
    (1/(2·max(L,M)) normalized), Hann window, gain-normalized so the
    average polyphase branch has unit DC gain."""
    n_taps = taps_per_phase * L + 1
    c = n_taps // 2
    fc = 1.0 / (2.0 * max(L, M))
    k = np.arange(n_taps, dtype=np.float64) - c
    h = 2.0 * fc * np.sinc(2.0 * fc * k)
    h *= np.hanning(n_taps)
    h *= L / h.sum()
    return h


def resample_sinc(
    samples: "np.ndarray", sr_from: int, sr_to: int,
    taps_per_phase: int = 24, chunk: int = 1 << 16,
) -> "np.ndarray":
    """Band-limited polyphase windowed-sinc resampler — the documented
    upgrade over ``resample_linear``, pure NumPy (no scipy in this
    container). For the rational ratio L/M the full zero-stuff→filter→
    decimate chain collapses to ``taps_per_phase`` multiplies per OUTPUT
    sample regardless of L (phase-gathered polyphase form), so
    44100→16000 (L=160, M=441) costs the same per output sample as
    8000→16000. Output length ⌊n·L/M⌋, t=0 grid-aligned, int16 in/out.
    Memory is bounded by ``chunk`` output samples per gather (~25 MB at
    the defaults) independent of clip length. Measured on pure tones
    (test_resample_sinc_quality): ≥ 53 dB SNR vs the analytically ideal
    signal on every ordered pair of {8k, 16k, 44.1k} (best 80 dB), where
    linear interp falls to ~40 dB on the true-interpolation legs (its
    233 dB on 16k→8k is the grid-coincidence special case, not
    quality)."""
    import math as _math

    if sr_from == sr_to or len(samples) == 0:
        return samples
    g = _math.gcd(int(sr_from), int(sr_to))
    L, M = int(sr_to) // g, int(sr_from) // g
    h = _sinc_kernel(L, M, taps_per_phase)
    n_taps = len(h)
    c = n_taps // 2
    T = n_taps // L + 1
    hpad = np.concatenate([h, np.zeros(T * L + L - n_taps + L)])
    n_out = (len(samples) * L) // M
    if n_out <= 0:
        return samples[:0]
    pad = T + 2
    xpad = np.concatenate(
        [np.zeros(pad), samples.astype(np.float64), np.zeros(pad)]
    )
    t = np.arange(T, dtype=np.int64)
    out = np.empty(n_out, dtype=np.float64)
    for lo in range(0, n_out, chunk):
        hi = min(lo + chunk, n_out)
        u = np.arange(lo, hi, dtype=np.int64) * M + c
        p0 = u % L
        q0 = u // L
        J = p0[:, None] + t[None, :] * L
        Q = q0[:, None] - t[None, :] + pad
        out[lo:hi] = np.einsum("ij,ij->i", hpad[J], xpad[Q])
    return np.clip(np.rint(out), -32768, 32767).astype(np.int16)


NORMALIZE_ROW_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType()),
        T.StructField("bytes", T.BinaryType()),
        T.StructField("sr_hz", T.IntegerType()),
        T.StructField("n_samples", T.IntegerType()),
        T.StructField("decode_ok", T.BooleanType()),
    ]
)


def _normalize_rows(cids, payloads, resample, target_sr, target_dbfs) -> pd.DataFrame:
    """decode → ``resample`` → ``normalize_gain`` → re-encode, per clip."""
    out = {"clip_id": [], "bytes": [], "sr_hz": [], "n_samples": [], "decode_ok": []}
    for cid, payload in zip(cids, payloads):
        out["clip_id"].append(cid)
        try:
            sr, pcm = wav_decode(payload)
            pcm = resample(pcm, sr, target_sr)
            pcm = normalize_gain(pcm, target_dbfs)
            out["bytes"].append(wav_encode(pcm, target_sr))
            out["sr_hz"].append(target_sr)
            out["n_samples"].append(len(pcm))
            out["decode_ok"].append(True)
        except (ValueError, TypeError):
            out["bytes"].append(None)
            out["sr_hz"].append(0)
            out["n_samples"].append(0)
            out["decode_ok"].append(False)
    return pd.DataFrame(out)


def audio_normalize_scan(
    spark,
    parquet_dir: str,
    clip_id_col: str = "clip_id",
    bytes_col: str = "bytes",
    target_sr: int = 16000,
    target_dbfs: float = -20.0,
    resampler: str = "linear",
):
    """Corpus normalization TRANSFORM (the fix-path sibling of the audio
    gates): ``_normalize_rows`` over a parquet directory, file-granular
    (``_file_scan``). Output rows: ``clip_id, bytes (normalized WAV),
    sr_hz, n_samples, decode_ok`` — undecodable clips pass through with
    null bytes so the caller can route them to quarantine instead of
    silently dropping them. ``resampler``: ``"linear"`` (default — kept
    for bit-stable parity with the existing oracle) or ``"sinc"`` (the
    band-limited polyphase kernel, ``resample_sinc`` — ≥53 dB vs ~40 dB
    on true-interpolation legs, same ⌊n·L/M⌋ output grid, a few × the
    per-sample cost)."""
    if resampler not in ("linear", "sinc"):
        raise ValueError(f"unknown resampler: {resampler!r}")
    resample = resample_sinc if resampler == "sinc" else resample_linear

    def rows(cids, payloads) -> pd.DataFrame:
        return _normalize_rows(cids, payloads, resample, target_sr, target_dbfs)

    return _file_scan(spark, parquet_dir, rows, NORMALIZE_ROW_SCHEMA, clip_id_col, bytes_col)


def xcorr_offset(
    a: "np.ndarray", b: "np.ndarray"
) -> "tuple[int, float]":
    """Time-alignment between two PCM signals by FFT cross-correlation:
    returns ``(lag, score)`` where ``lag`` is the sample offset at which
    ``b`` best matches inside ``a`` (positive ⇒ ``b``'s content starts
    ``lag`` samples into ``a``) and ``score`` is the normalized peak
    (cosine of the aligned overlap, ≈1 for a genuine shifted copy,
    ≈0 for unrelated audio). The verification stage behind fingerprint
    near-dup pairs: hamming says "probably the same recording", the
    correlation peak says "same recording, offset by exactly k samples"
    — which is what dedup-with-trimmed-silence needs to pick the
    canonical clip.

    O(n log n) via rfft (zero-padded to the full linear-correlation
    length, so no circular aliasing); vectorized numpy end-to-end."""
    fa64 = a.astype(np.float64)
    fb64 = b.astype(np.float64)
    if len(fa64) == 0 or len(fb64) == 0:
        return 0, 0.0
    n = len(fa64) + len(fb64) - 1
    nfft = 1 << (n - 1).bit_length()
    cc = np.fft.irfft(
        np.fft.rfft(fa64, nfft) * np.conj(np.fft.rfft(fb64, nfft)), nfft
    )
    # linear lags: k in [-(len(b)-1), len(a)-1]; negative lags wrap to the
    # tail of the circular buffer
    lags = np.concatenate([cc[nfft - (len(fb64) - 1):], cc[: len(fa64)]]) if len(fb64) > 1 else cc[: len(fa64)]
    k = int(np.argmax(lags))
    lag = k - (len(fb64) - 1)
    # normalize by the energies of the actually-overlapping spans
    if lag >= 0:
        ov_a = fa64[lag: lag + len(fb64)]
        ov_b = fb64[: len(ov_a)]
    else:
        ov_b = fb64[-lag: -lag + len(fa64)]
        ov_a = fa64[: len(ov_b)]
    na = float(np.linalg.norm(ov_a))
    nb = float(np.linalg.norm(ov_b))
    score = float(lags[k] / (na * nb)) if na > 0 and nb > 0 else 0.0
    return lag, score


def payload_duplicates(
    df: "DataFrame",
    id_col: str = "clip_id",
    bytes_col: str = "bytes",
) -> "DataFrame":
    """Byte-identical payload dedup: group clips whose BINARY payloads
    hash equal (md5 over the blob, JVM-side) — the cheapest rung of the
    audio dedup ladder, below the gain-invariant fingerprint (re-encoded
    or re-gained copies) and xcorr alignment (shifted copies): a
    re-uploaded file is caught here for the price of one hash agg, no
    decode at all. Output: ``payload_md5, n_clips, clip_ids`` (ids
    sorted; only groups with n > 1). Null payloads are skipped — absent
    bytes are a payload_size_check finding, not a duplicate.

    Scale shape: one hash aggregation keyed by the 16-byte digest
    (map-side combine collapses same-partition copies before the
    shuffle); payload bytes never leave the JVM."""
    h = F.md5(F.col(bytes_col))
    return (
        df.where(F.col(bytes_col).isNotNull())
        .groupBy(h.alias("payload_md5"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clips"),
            F.sort_array(F.collect_list(F.col(id_col))).alias("clip_ids"),
        )
        .where(F.col("n_clips") > 1)
    )


def estimate_f0(
    samples: "np.ndarray",
    sr_hz: int,
    f_min: float = 60.0,
    f_max: float = 500.0,
) -> "tuple[float, float]":
    """Fundamental-frequency (pitch) estimate by FFT autocorrelation:
    ``(f0_hz, periodicity)`` where periodicity ∈ [0, 1] is the
    normalized autocorrelation peak at the chosen lag (≈1 for a clean
    periodic signal, ≈0 for noise/silence — the voiced/unvoiced
    decision). Search is restricted to lags for [f_min, f_max], the
    human-voice band by default. Pitch statistics are speech-corpus QA:
    a TTS farm shows unnaturally tight per-speaker F0 variance, a
    mislabeled music corpus shows F0 mass outside the voice band.

    O(n log n): one rfft-squared-irfft autocorrelation, vectorized
    numpy; returns (0, 0) for signals too short for one f_min period."""
    n = len(samples)
    lag_max = int(sr_hz / f_min)
    lag_min = max(1, int(sr_hz / f_max))
    if n < 2 * lag_max or sr_hz <= 0:
        return 0.0, 0.0
    f = samples.astype(np.float64)
    f = f - f.mean()
    nfft = 1 << (2 * n - 1).bit_length()
    spec = np.fft.rfft(f, nfft)
    ac = np.fft.irfft(spec * np.conj(spec), nfft)[: lag_max + 1]
    if ac[0] <= 0:
        return 0.0, 0.0
    window = ac[lag_min: lag_max + 1]
    k = int(np.argmax(window)) + lag_min
    return float(sr_hz / k), float(ac[k] / ac[0])


def crest_check(
    df: "DataFrame",
    rms_col: str = "rms_dbfs",
    peak_col: str = "peak",
    decode_ok_col: str = "decode_ok",
    min_crest_db: float = 6.0,
    silence_dbfs: float = -60.0,
) -> "DataFrame":
    """Over-compression (loudness-war) screen: crest factor = peak level
    minus RMS level in dB. Natural speech and music carry 10-20 dB of
    crest; a brickwall-limited or clipped-then-normalized clip sits
    under ~6 dB — dynamics a model never gets to hear, and a defect
    ``profile_check`` misses when the limiter stopped JUST short of the
    clip threshold. Adds ``crest_db`` and ``crest_status`` ∈
    {undecodable, silent, over_compressed, ok}.

    Pure Catalyst over the one-pass PCM profile's rows (peak and RMS
    are already there — this classifier costs nothing extra)."""
    peak_dbfs = F.lit(20.0) * F.log10(
        F.col(peak_col).cast("double") / F.lit(32768.0)
    )
    crest = peak_dbfs - F.col(rms_col)
    status = (
        F.when(~F.col(decode_ok_col), F.lit("undecodable"))
        .when(
            (F.col(rms_col) < F.lit(silence_dbfs)) | (F.col(peak_col) == 0),
            F.lit("silent"),
        )
        .when(crest < F.lit(min_crest_db), F.lit("over_compressed"))
        .otherwise(F.lit("ok"))
    )
    return df.withColumns(
        {
            "crest_db": F.when(
                F.col(decode_ok_col) & (F.col(peak_col) > 0), crest
            ),
            "crest_status": status,
        }
    )
