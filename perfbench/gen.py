"""Seeded input generators for every workload.

Every generator is a pure function of ``seed`` and its size arguments, and
returns, next to the inputs, what the generator knows the engine must find
(injected-violation counts, uncorrupted clip counts). Injection rates follow
FIXTURES.md §1: duplicate ids 0.1%, invalid sr_hz 0.2%, invalid dur_ms
0.2%, unknown codec 0.3%, empty or overlong transcript 0.2%, corrupted PCM
0.5%.
"""

from __future__ import annotations

import json
import os

import numpy as np

CLIPS_SCHEMA = {
    "type": "object",
    "required": ["clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript"],
    "properties": {
        "clip_id": {"type": "string", "pattern": "^clip-[0-9]{12}$"},
        "sr_hz": {"type": "integer", "minimum": 8000, "maximum": 48000},
        "dur_ms": {"type": "integer", "minimum": 1, "maximum": 60000},
        "codec": {"type": "string", "enum": ["pcm_s16le", "flac", "opus"]},
        "transcript": {"type": "string", "minLength": 1, "maxLength": 4096},
    },
}

CODECS = ["pcm_s16le", "flac", "opus"]

# (column, keyword) a clips row violates for each injected flag, keyed by
# the flag column the generator draws
CLIP_FLAG_KEYWORDS = {
    "f_sr_lo": ("sr_hz", "minimum"),
    "f_sr_hi": ("sr_hz", "maximum"),
    "f_dur_lo": ("dur_ms", "minimum"),
    "f_dur_hi": ("dur_ms", "maximum"),
    "f_codec": ("codec", "enum"),
    "f_txt_empty": ("transcript", "minLength"),
    "f_txt_long": ("transcript", "maxLength"),
}


def clips_struct():
    """The Spark schema of the clips table."""
    from pyspark.sql import types as T

    return T.StructType([
        T.StructField("clip_id", T.StringType()), T.StructField("bytes", T.BinaryType()),
        T.StructField("sr_hz", T.IntegerType()), T.StructField("dur_ms", T.IntegerType()),
        T.StructField("codec", T.StringType()), T.StructField("transcript", T.StringType()),
    ])


def make_clips(n: int, seed: int):
    """Typed clips table (FIXTURES.md §1 columns) as a pyarrow Table, and
    the generator's expectation: ``n_rows``, ``n_valid`` and
    ``keyword_counts`` {(column, keyword): rows}. ``bytes`` is an 8-byte
    placeholder: the typed path only checks that it is present."""
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    ids = np.arange(n)
    ids = np.where(rng.random(n) < 1 / 997, ids % 2, ids)  # hot keys (skew)
    dup = (rng.random(n) < 0.001) & (ids > 1)
    ids = np.where(dup, ids - 1, ids)
    flags = {}
    bad_sr, lo = rng.random(n) < 0.002, rng.random(n) < 0.5
    flags["f_sr_lo"], flags["f_sr_hi"] = bad_sr & lo, bad_sr & ~lo
    sr = np.where(bad_sr, np.where(lo, 0, 96001), np.array([8000, 16000, 44100])[rng.integers(3, size=n)])
    bad_dur, lo = rng.random(n) < 0.002, rng.random(n) < 0.5
    flags["f_dur_lo"], flags["f_dur_hi"] = bad_dur & lo, bad_dur & ~lo
    dur = np.where(bad_dur, np.where(lo, 0, 70000), 200 + rng.integers(14800, size=n))
    flags["f_codec"] = rng.random(n) < 0.003
    codec = np.where(flags["f_codec"], "unknown", np.array(CODECS)[rng.integers(3, size=n)])
    bad_txt, lo = rng.random(n) < 0.002, rng.random(n) < 0.5
    flags["f_txt_empty"], flags["f_txt_long"] = bad_txt & lo, bad_txt & ~lo
    words = rng.bytes(32 * n).hex()
    transcript = [
        "" if e else (words[64 * i: 64 * i + 64] * (65 if g else 1))  # 4160 chars > maxLength
        for i, (e, g) in enumerate(zip(flags["f_txt_empty"], flags["f_txt_long"]))
    ]
    payload = rng.bytes(8 * n)
    table = pa.table({
        "clip_id": pa.array([f"clip-{i:012d}" for i in ids], pa.string()),
        "bytes": pa.array([payload[8 * i: 8 * i + 8] for i in range(n)], pa.binary()),
        "sr_hz": pa.array(sr, pa.int32()),
        "dur_ms": pa.array(dur, pa.int32()),
        "codec": pa.array(codec, pa.string()),
        "transcript": pa.array(transcript, pa.string()),
    })
    counts: dict = {}
    for f, key in CLIP_FLAG_KEYWORDS.items():
        counts[key] = counts.get(key, 0) + int(flags[f].sum())
    any_flag = np.logical_or.reduce(list(flags.values()))
    return table, {"n_rows": n, "n_valid": int((~any_flag).sum()), "keyword_counts": counts}


def write_clips(n: int, seed: int, out_dir: str, n_files: int) -> dict:
    """Write the clips table as ``n_files`` parquet files; returns the
    generator's expectation (see ``make_clips``)."""
    import pyarrow.parquet as pq

    table, exp = make_clips(n, seed)
    os.makedirs(out_dir, exist_ok=True)
    for k in range(n_files):
        lo, hi = n * k // n_files, n * (k + 1) // n_files
        pq.write_table(table.slice(lo, hi - lo), os.path.join(out_dir, f"part-{k:05d}.parquet"))
    return exp


# --------------------------------------------------------------------------
# clip-shaped JSON documents (nested arrays and objects)

DOCS_SCHEMA = {
    "type": "object",
    "required": ["clip_id", "sr_hz", "dur_ms", "codec", "transcript", "segments", "meta"],
    "properties": {
        "clip_id": {"type": "string", "pattern": "^clip-[0-9]{12}$"},
        "sr_hz": {"type": "integer", "minimum": 8000, "maximum": 48000},
        "dur_ms": {"type": "integer", "minimum": 1, "maximum": 60000},
        "codec": {"type": "string", "enum": ["pcm_s16le", "flac", "opus"]},
        "transcript": {"type": "string", "minLength": 1, "maxLength": 4096},
        "tags": {"type": "array", "maxItems": 6, "items": {"type": "string", "minLength": 1}},
        "segments": {
            "type": "array",
            "minItems": 1,
            "items": {
                "type": "object",
                "required": ["start_ms", "end_ms"],
                "properties": {
                    "start_ms": {"type": "integer", "minimum": 0},
                    "end_ms": {"type": "integer", "minimum": 0},
                    "speaker": {"type": "string", "enum": ["a", "b", "c"]},
                },
            },
        },
        "meta": {
            "type": "object",
            "required": ["lang"],
            "properties": {
                "lang": {"type": "string", "pattern": "^[a-z]{2}$"},
                "snr_db": {"type": "number", "minimum": 0},
            },
        },
    },
}

_WORDS = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima "
    "mike november oscar papa quebec romeo sierra tango uniform victor"
).split()
_LANGS = ["en", "de", "fr", "es", "it", "nl", "pt", "sv"]

# injected defect -> keyword it violates; rates per 1000 documents. Defects
# inside objects that are array items are left out: there the Variant tier
# reports "items" where the pandas tier reports the inner keyword.
DOC_DEFECTS = {
    "sr_range": ("minimum", 2),
    "dur_range": ("maximum", 2),
    "codec": ("enum", 3),
    "transcript": ("minLength", 2),
    "sr_type": ("type", 2),
    "missing": ("required", 2),
    "tags": ("maxItems", 2),
    "lang": ("pattern", 2),
    "snr": ("minimum", 2),
}


def make_docs(n: int, seed: int) -> tuple[list[str], list[bool]]:
    """``n`` JSON documents and, per document, whether it is valid."""
    rng = np.random.default_rng(seed)
    texts, valid = [], []
    defects = list(DOC_DEFECTS)
    rates = np.array([DOC_DEFECTS[d][1] for d in defects])
    for i in range(n):
        n_seg = int(rng.integers(1, 4))
        starts = np.sort(rng.integers(0, 10000, size=n_seg))
        doc = {
            "clip_id": f"clip-{i:012d}",
            "sr_hz": int((8000, 16000, 44100)[rng.integers(3)]),
            "dur_ms": int(rng.integers(200, 15000)),
            "codec": CODECS[int(rng.integers(3))],
            "transcript": " ".join(_WORDS[j] for j in rng.integers(len(_WORDS), size=int(rng.integers(1, 12)))),
            "tags": [_WORDS[j] for j in rng.integers(len(_WORDS), size=int(rng.integers(0, 4)))],
            "segments": [
                {"start_ms": int(s), "end_ms": int(s + rng.integers(100, 3000)),
                 "speaker": "abc"[int(rng.integers(3))]}
                for s in starts
            ],
            "meta": {"lang": _LANGS[int(rng.integers(len(_LANGS)))],
                     "snr_db": round(float(rng.uniform(5, 60)), 3)},
        }
        hit = rng.integers(1000) < rates.sum()
        if hit:
            d = defects[int(rng.choice(len(defects), p=rates / rates.sum()))]
            if d == "sr_range":
                doc["sr_hz"] = 0
            elif d == "dur_range":
                doc["dur_ms"] = 70000
            elif d == "codec":
                doc["codec"] = "unknown"
            elif d == "transcript":
                doc["transcript"] = ""
            elif d == "sr_type":
                doc["sr_hz"] = str(doc["sr_hz"])
            elif d == "missing":
                del doc["codec"]
            elif d == "snr":
                doc["meta"]["snr_db"] = -1.0
            elif d == "tags":
                doc["tags"] = _WORDS[:7]
            elif d == "lang":
                doc["meta"]["lang"] = "EN1"
        texts.append(json.dumps(doc, separators=(",", ":")))
        valid.append(not hit)
    return texts, valid


def write_docs(n: int, seed: int, out_dir: str, n_files: int) -> dict:
    """Write the documents as ``n_files`` parquet files of (doc_id, doc)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    texts, valid = make_docs(n, seed)
    os.makedirs(out_dir, exist_ok=True)
    for k in range(n_files):
        lo, hi = n * k // n_files, n * (k + 1) // n_files
        pq.write_table(
            pa.table({"doc_id": pa.array(range(lo, hi), pa.int64()),
                      "doc": pa.array(texts[lo:hi], pa.string())}),
            os.path.join(out_dir, f"part-{k:05d}.parquet"),
        )
    return {"n_rows": n, "n_valid": int(sum(valid)), "sample": texts[:256]}


# --------------------------------------------------------------------------
# stored WAV clips

def make_clips_audio(n: int, seed: int, max_ms: int = 1000):
    """``n`` WAV clips: (clip_ids, sample rates, int16 PCM arrays, kinds).
    Every clip is its reference sine mix plus faint noise (about 40 dB
    below it, so its band-energy fingerprint is clip-specific). ``kind`` is
    ``ok``, ``corrupt`` (loud noise: SNR far below 30 dB) or ``copy`` (a
    gain-scaled copy of an earlier clip stored under a new id: a
    fingerprint near-duplicate whose own reference does not match)."""
    from jsschema_spark.audio import synth_pcm

    rng = np.random.default_rng(seed)
    cids, srs, pcms, kinds = [], [], [], []
    for i in range(n):
        cid = f"clip-{seed % 100000:05d}{i:07d}"
        draw = int(rng.integers(1000))
        if draw < 10 and i > 0:
            j = int(rng.integers(i))
            pcm = (pcms[j].astype(np.int32) // 2).astype(np.int16)
            cids.append(cid); srs.append(srs[j]); pcms.append(pcm); kinds.append("copy")
            continue
        sr = int((8000, 16000, 44100)[rng.integers(3)])
        n_samples = int(rng.integers(200, max_ms)) * sr // 1000
        corrupt = draw >= 995
        noise = (rng.integers(-16000, 16000, size=n_samples) if corrupt
                 else rng.normal(0, 100, size=n_samples).astype(np.int32))
        pcm = np.clip(synth_pcm(cid, sr, n_samples).astype(np.int32) + noise,
                      -32768, 32767).astype(np.int16)
        kind = "corrupt" if corrupt else "ok"
        cids.append(cid); srs.append(sr); pcms.append(pcm); kinds.append(kind)
    return cids, srs, pcms, kinds


def write_clips_audio(n: int, seed: int, out_dir: str, n_files: int) -> dict:
    """Write ``n`` WAV clips as ``n_files`` parquet files of
    (clip_id, bytes, sr_hz, dur_ms)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from jsschema_spark.audio import wav_encode

    cids, srs, pcms, kinds = make_clips_audio(n, seed)
    os.makedirs(out_dir, exist_ok=True)
    for k in range(n_files):
        lo, hi = n * k // n_files, n * (k + 1) // n_files
        pq.write_table(
            pa.table({
                "clip_id": pa.array(cids[lo:hi], pa.string()),
                "bytes": pa.array([wav_encode(p, s) for p, s in zip(pcms[lo:hi], srs[lo:hi])], pa.binary()),
                "sr_hz": pa.array(srs[lo:hi], pa.int32()),
                "dur_ms": pa.array([len(p) * 1000 // s for p, s in zip(pcms[lo:hi], srs[lo:hi])], pa.int32()),
            }),
            os.path.join(out_dir, f"part-{k:05d}.parquet"),
        )
    return {
        "n_rows": n,
        "n_snr_ok": sum(k == "ok" for k in kinds),
        "sample": list(zip(cids[:48], srs[:48], pcms[:48])),
    }
