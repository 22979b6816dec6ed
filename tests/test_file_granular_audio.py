"""File-granular audio pipeline: payload bytes never cross JVM↔Python IPC
(the single-box scale path — see audio.py's bandwidth note)."""

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from jsschema_spark import audio
from jsschema_spark.audio import audio_invariant_scan, audio_invariant_udf
from jsschema_spark.synth import clips_audio_to_parquet

# one decodable WAV, one garbage payload, one NULL payload
_MIXED = [
    ("good", "pcm_s16le", audio.wav_encode(audio.synth_pcm("good", 16000, 8000), 16000)),
    ("garbage", "pcm_s16le", b"definitely not a RIFF/WAVE payload"),
    ("null", "pcm_s16le", None),
]


def _write_mixed(path, rows):
    path.mkdir()
    pq.write_table(
        pa.table({
            "clip_id": pa.array([c for c, _, _ in rows], pa.string()),
            "codec": pa.array([k for _, k, _ in rows], pa.string()),
            "bytes": pa.array([b for _, _, b in rows], pa.binary()),
        }),
        str(path / "part-0.parquet"),
    )
    return str(path)


_SCANS = [
    "audio_invariant_scan", "audio_profile_scan", "audio_spectral_scan",
    "audio_fingerprint_scan", "audio_vad_scan", "audio_normalize_scan",
]


@pytest.mark.parametrize("scan", _SCANS)
def test_scan_empty_dir_and_bad_payloads(spark, tmp_path, scan):
    """Every file-granular scan: an empty directory is a ValueError; a
    garbage and a NULL payload each give one undecodable row per clip
    beside the decodable one."""
    fn = getattr(audio, scan)
    (tmp_path / "empty").mkdir()
    with pytest.raises(ValueError, match="no parquet files"):
        fn(spark, str(tmp_path / "empty"))

    rows = fn(spark, _write_mixed(tmp_path / "mixed", _MIXED)).collect()
    by_clip = {}
    for r in rows:
        by_clip.setdefault(r.clip_id, []).append(r)
    assert set(by_clip) == {"good", "garbage", "null"}
    for cid, want_ok in (("good", True), ("garbage", False), ("null", False)):
        rs = by_clip[cid]
        assert [r.decode_ok for r in rs] == [want_ok] * len(rs), (scan, cid)
        if scan == "audio_vad_scan":
            seg_idx = [r.seg_idx for r in rs]
            assert min(seg_idx) >= 0 if want_ok else seg_idx == [-1], (cid, seg_idx)
        else:
            assert len(rs) == 1, (scan, cid)
        if scan == "audio_normalize_scan":
            assert (rs[0].bytes is not None) == want_ok


def test_invariant_forms_agree_on_bad_payloads(spark, tmp_path):
    """The one SNR-invariant loop behind the WAV UDF, the codec UDF and
    the file scan: equal SNRs, ``decode_ok == (status == "decoded")``,
    and a NULL payload is ``malformed`` like garbage, not an error."""
    rows = _MIXED + [("opus", "opus", b"OggS" + bytes(60))]
    df = spark.createDataFrame(
        [(c, k, bytearray(b) if b is not None else None) for c, k, b in rows],
        "clip_id string, codec string, bytes binary",
    )
    got = {
        r.clip_id: r
        for r in df.select(
            "clip_id",
            audio_invariant_udf("clip_id", "bytes").alias("w"),
            audio.codec_invariant_udf("clip_id", "codec", "bytes").alias("c"),
        ).collect()
    }
    stored = _write_mixed(tmp_path / "mixed", rows)
    scan = {r.clip_id: r for r in audio_invariant_scan(spark, stored).collect()}
    want = {
        "good": "decoded", "garbage": "malformed", "null": "malformed",
        "opus": "unsupported_codec",
    }
    assert {c: r.c.status for c, r in got.items()} == want
    for cid, r in got.items():
        assert r.w.snr_db == r.c.snr_db == scan[cid].snr_db, cid
        assert r.w.decode_ok == (r.c.status == "decoded") == scan[cid].decode_ok, cid
        assert r.w.n_samples == r.c.n_samples == scan[cid].n_samples, cid
    assert got["good"].c.snr_db == audio.SNR_CAP_DB and got["good"].c.n_samples == 8000
    assert got["null"].c.snr_db == float("-inf") and got["null"].c.n_samples == 0


def test_file_granular_matches_ipc_path(spark, tmp_path):
    out = str(tmp_path / "audio_fg")
    files = clips_audio_to_parquet(spark, 400, out, n_files=8)
    assert len(files) == 8

    fg = audio_invariant_scan(spark, out).cache()
    assert fg.count() == 400
    # every payload decodes; corrupted ones fail the SNR bar
    assert fg.where(~F.col("decode_ok")).count() == 0
    n_bad = fg.where(F.col("snr_db") < 30).count()
    assert 0 < n_bad < 40

    # agreement with the Arrow-IPC invariant on the same stored bytes
    ipc = (
        spark.read.parquet(out)
        .withColumn("inv", audio_invariant_udf(F.col("clip_id"), F.col("bytes")))
        .select("clip_id", F.col("inv.snr_db").alias("snr_db"))
    )
    joined = fg.alias("a").join(ipc.alias("b"), "clip_id").select(
        (F.abs(F.col("a.snr_db") - F.col("b.snr_db")) < 1e-6).alias("same")
    )
    assert joined.where(~F.col("same")).count() == 0
    fg.unpersist()


def test_file_granular_write_is_deterministic(spark, tmp_path):
    a = str(tmp_path / "a")
    b = str(tmp_path / "b")
    clips_audio_to_parquet(spark, 200, a, n_files=4)
    clips_audio_to_parquet(spark, 200, b, n_files=4)
    da = spark.read.parquet(a).select("clip_id", F.md5(F.col("bytes")).alias("h"))
    db = spark.read.parquet(b).select("clip_id", F.md5(F.col("bytes")).alias("h"))
    assert da.exceptAll(db).count() == 0 and db.exceptAll(da).count() == 0


def test_audio_profile_scan(spark, tmp_path):
    """audio_profile_scan: decoded-PCM level/clipping/duration features,
    numpy-verified per clip, with the column-UDF form in agreement."""
    import numpy as np

    from jsschema_spark.audio import (
        audio_profile_scan,
        make_audio_profile_udf,
        pcm_profile,
        wav_decode,
    )

    out = str(tmp_path / "audio_prof")
    clips_audio_to_parquet(spark, 120, out, n_files=4)

    prof = audio_profile_scan(spark, out).cache()
    rows = {r.clip_id: r for r in prof.collect()}
    assert len(rows) == 120
    assert all(r.decode_ok for r in rows.values())

    # spot-check three clips against a direct numpy profile of the stored bytes
    stored = spark.read.parquet(out).limit(3).collect()
    for s in stored:
        sr, samples = wav_decode(s.bytes)
        rms_dbfs, peak, clip_frac, dc = pcm_profile(samples)
        r = rows[s.clip_id]
        assert r.sr_hz == sr and r.n_samples == len(samples)
        assert abs(r.rms_dbfs - rms_dbfs) < 1e-9 and r.peak == peak
        assert abs(r.clip_frac - clip_frac) < 1e-12 and abs(r.dc_offset - dc) < 1e-9

    # signals are a 0.75-headroom sine mix: audible but unclipped
    ok = prof.where(F.col("n_samples") > 0)
    assert ok.where((F.col("rms_dbfs") > -40) & (F.col("rms_dbfs") < 0)).count() == ok.count()
    assert ok.where(F.col("clip_frac") > 0.01).count() == 0

    # duration consistency joins back to the metadata as a Catalyst filter
    meta = spark.read.parquet(out).select("clip_id", "sr_hz", "dur_ms")
    j = prof.select("clip_id", F.col("sr_hz").alias("dec_sr"), "n_samples").join(meta, "clip_id")
    mismatch = j.where(
        F.abs(F.col("n_samples") - F.col("dur_ms") * F.col("dec_sr") / 1000) > F.col("dec_sr") / 100
    )
    assert mismatch.count() == 0

    # column-UDF form agrees on the same stored bytes
    udf = make_audio_profile_udf()
    ipc = (
        spark.read.parquet(out)
        .withColumn("p", udf(F.col("clip_id"), F.col("bytes")))
        .select("clip_id", F.col("p.rms_dbfs").alias("rms2"), F.col("p.peak").alias("peak2"))
    )
    diff = prof.join(ipc, "clip_id").where(
        (F.abs(F.col("rms_dbfs") - F.col("rms2")) > 1e-9) | (F.col("peak") != F.col("peak2"))
    )
    assert diff.count() == 0
    prof.unpersist()

    # corrupted payload: decode_ok False, silence profile
    from jsschema_spark.audio import _profile_rows

    pdf = _profile_rows(["x"], [b"not a wav"])
    assert not pdf.decode_ok[0] and pdf.rms_dbfs[0] == float("-inf")


def test_audio_fingerprint_scan_and_near_dups(spark, tmp_path):
    """Gain-invariant fingerprints: volume-scaled copies pair up (and ONLY
    they do — pairs equal the brute-force O(n²) hamming set), corrupt
    payloads are excluded, the scan is deterministic."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from jsschema_spark.audio import (
        audio_fingerprint_scan,
        band_energy_fingerprint,
        fingerprint_near_dups,
        synth_pcm,
        wav_decode,
        wav_encode,
    )

    out = tmp_path / "audio_fp"
    out.mkdir()
    sr = 16000
    rows = []
    for i in range(60):
        pcm = synth_pcm(f"base-{i:04d}", sr, sr * 2)
        rows.append((f"base-{i:04d}", wav_encode(pcm, sr)))
        if i < 12:  # volume-scaled near-duplicate (re-quantized to int16)
            sc = np.clip(np.round(pcm.astype(np.float64) * 0.4), -32768, 32767)
            rows.append((f"dupl-{i:04d}", wav_encode(sc.astype(np.int16), sr)))
    rows.append(("corrupt-0000", b"\x00" * 50))
    for f in range(4):
        chunk = rows[f::4]
        pq.write_table(
            pa.table({
                "clip_id": pa.array([c for c, _ in chunk], pa.string()),
                "bytes": pa.array([b for _, b in chunk], pa.binary()),
            }),
            str(out / f"part-{f}.parquet"),
        )

    fp = audio_fingerprint_scan(spark, str(out)).cache()
    rows_fp = {r.clip_id: r for r in fp.collect()}
    assert len(rows_fp) == 73
    assert not rows_fp["corrupt-0000"].decode_ok
    assert all(r.decode_ok for c, r in rows_fp.items() if c != "corrupt-0000")

    # scan fp == driver-side kernel fp (same bytes, same result)
    b0 = dict(rows)["base-0003"]
    srx, pcmx = wav_decode(b0)
    assert rows_fp["base-0003"].fp == band_energy_fingerprint(pcmx, srx)[0]

    pairs = fingerprint_near_dups(fp, max_hamming=7).collect()
    got = {(r.clip_id_a, r.clip_id_b) for r in pairs}
    # brute-force ground truth over the decoded fingerprints
    ok = [(c, r.fp) for c, r in rows_fp.items() if r.decode_ok]
    brute = set()
    for i in range(len(ok)):
        for j in range(i + 1, len(ok)):
            h = bin((ok[i][1] ^ ok[j][1]) & (2**64 - 1)).count("1")
            if h <= 7:
                a, b = sorted((ok[i][0], ok[j][0]))
                brute.add((a, b))
    assert got == brute
    assert {(f"base-{i:04d}", f"dupl-{i:04d}") for i in range(12)} <= got
    assert all(r.hamming <= 7 for r in pairs)
    fp.unpersist()


def test_hamming_near_dups_generic(spark):
    """The signature-agnostic pigeonhole join on hand-built longs: exact
    pairs at distance ≤ 3, nothing at distance 4, custom id naming."""
    from jsschema_spark.functions.dedup import hamming_near_dups

    base = 0x0123456789ABCDEF
    data = [
        ("a", base),
        ("b", base ^ 0b111),            # hamming 3 from a
        ("c", base ^ 0b11110000),       # hamming 4 from a -> excluded
        ("d", -42),
        ("e", -42 ^ 1),                 # hamming 1 from d (negative longs)
    ]
    df = spark.createDataFrame(data, "clip_id string, sig long")
    got = {
        (r.clip_id_a, r.clip_id_b, r.hamming)
        for r in hamming_near_dups(df, "clip_id", "sig", max_hamming=3).collect()
    }
    assert got == {("a", "b", 3), ("d", "e", 1)}
