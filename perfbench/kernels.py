"""Spark-free kernel microbench: the per-clip and per-document cost of the
NumPy audio kernels, the FLAC codec and the pure-Python draft-04 core, timed
on samples of a workload's own generated inputs.

Each kernel runs over the whole sample ``REPEATS`` times; the reported value
is the median pass divided by the sample size.
"""

from __future__ import annotations

import json
import statistics
import time

REPEATS = 3


def _per_item(fn, items) -> float:
    """Median seconds per item of ``fn`` over ``items``."""
    passes = []
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        for it in items:
            fn(it)
        passes.append(time.perf_counter() - t0)
    return statistics.median(passes) / max(len(items), 1)


def audio_kernels(clips) -> dict[str, float]:
    """``clips``: list of (clip_id, sr_hz, int16 PCM). Returns ms per clip."""
    from jsschema_spark import audio, flac

    wavs = [(cid, audio.wav_encode(pcm, sr)) for cid, sr, pcm in clips]
    decoded = [(cid, *audio.wav_decode(w)) for cid, w in wavs]
    refs = [audio.synth_pcm(cid, sr, len(x)).copy() for cid, sr, x in decoded]
    flacs = [flac.flac_encode(pcm, sr) for _cid, sr, pcm in clips]
    ms = 1e3
    return {
        "audio.decode_ms_per_clip": ms * _per_item(lambda w: audio.wav_decode(w[1]), wavs),
        "audio.synth_ms_per_clip": ms * _per_item(lambda d: audio.synth_pcm(d[0], d[1], len(d[2])), decoded),
        "audio.snr_ms_per_clip": ms * _per_item(lambda k: audio.snr_db(refs[k], decoded[k][2]), range(len(refs))),
        "audio.profile_ms_per_clip": ms * _per_item(lambda d: audio.pcm_profile(d[2]), decoded),
        "audio.fingerprint_ms_per_clip": ms * _per_item(
            lambda d: audio.band_energy_fingerprint(d[2], d[1]), decoded),
        "flac.encode_ms_per_clip": ms * _per_item(lambda c: flac.flac_encode(c[2], c[1]), clips),
        "flac.decode_ms_per_clip": ms * _per_item(flac.flac_decode, flacs),
    }


def pyvalidate_kernel(schema: dict, docs: list[str]) -> dict[str, float]:
    """``docs``: JSON texts. Times ``Validator.validate`` on parsed values
    (parsing excluded) and returns microseconds per document."""
    from jsschema_spark import parse_schema
    from jsschema_spark.pyvalidate import Validator

    v = Validator(parse_schema(schema))
    values = [json.loads(d) for d in docs]
    return {"pyvalidate.us_per_doc": 1e6 * _per_item(v.validate, values)}


def schema_kernels(schema: dict, df_schema) -> dict[str, float]:
    """Driver-side cost of parsing the draft-04 document and compiling it
    into Catalyst predicates for ``df_schema`` (a Spark StructType)."""
    from jsschema_spark import parse_schema
    from jsschema_spark.compiler import TableValidator

    text = json.dumps(schema)
    parse_s = _per_item(lambda _i: parse_schema(json.loads(text)), range(50))
    node = parse_schema(schema)
    compile_s = _per_item(lambda _i: TableValidator(node, df_schema), range(10))
    return {
        "schema.parse_s": parse_s,
        "compiler.compile_s": compile_s,
        "compiler.predicates": float(len(TableValidator(node, df_schema).predicates)),
    }
