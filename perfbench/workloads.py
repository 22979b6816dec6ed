"""The workloads. Each one generates its inputs from the seed, defines the
cycle of operations its closed-loop client repeats, checks every
operation's output, and names the per-layer metrics only it can measure.

There are two: ``clips_typed`` keeps the flagship typed path free of Python
workers, and ``engine_mix`` gathers every path that runs them. Sizes are
chosen so that one run, JVM start and a cold warm-up cycle included, takes
about a minute on two CPUs while every timed window holds at least 22
operations, the fewest for which ``trace.op_tail_s`` lies above the median.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import random
import shutil
import statistics
import time

import numpy as np

import gen
import kernels
from harness import Bench, spark_group_metrics

HERE = os.path.dirname(os.path.abspath(__file__))
GEN_REPEATS = 3  # set-up repeats input generation; setup_s takes the median


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(p) for p in glob.glob(os.path.join(path, "**", "*"), recursive=True)
               if os.path.isfile(p))


def _timed_generation(fn) -> tuple[list[float], object]:
    times, out = [], None
    for _ in range(GEN_REPEATS):
        t0 = time.perf_counter()
        out = fn()
        times.append(time.perf_counter() - t0)
    return times, out


def _clip_rows_as_docs(seed: int, n: int = 256) -> list[str]:
    rows = gen.make_clips(n, seed)[0].to_pylist()
    return [json.dumps({**r, "bytes": r["bytes"].hex()}) for r in rows]


class Workload:
    name = ""
    min_ops = 0  # timed operations at least, beyond harness.MIN_OPS

    def setup(self, b: Bench) -> list[float]:
        raise NotImplementedError

    def cycle(self, b: Bench) -> list:
        raise NotImplementedError

    def final_checks(self, b: Bench) -> None:
        pass

    def layer_metrics(self, b: Bench, ops, groups) -> dict:
        return spark_group_metrics(groups, [o.gid for o in ops])

    def kernel_metrics(self, b: Bench) -> dict:
        """Spark-free kernels on samples of this workload's own inputs
        (traced run); kernels its inputs never reach are left out."""
        raise NotImplementedError


# --------------------------------------------------------------------------

class ClipsTyped(Workload):
    """TableValidator over a typed clips parquet: valid-only count, per-keyword
    summary, violation detail count, violation samples, and a
    ResumableValidation with an output directory that crashes after
    ``CRASH_AFTER`` chunks (``fail_after_chunks``) and then resumes."""

    name = "clips_typed"
    min_ops = 25  # five cycles: fewer would put trace.op_tail_s below the median
    N = 100_000
    FILES = 8
    SAMPLE_K = 3
    BUCKETS = 4
    PER_JOB = 2
    CRASH_AFTER = 1

    def setup(self, b: Bench) -> list[float]:
        from jsschema_spark import parse_schema
        from jsschema_spark.compiler import TableValidator

        self.in_dir = os.path.join(b.run_dir, "in", "clips")
        times, self.exp = _timed_generation(
            lambda: gen.write_clips(self.N, b.seed, self.in_dir, self.FILES))
        self.df = b.spark.read.parquet(self.in_dir)
        self.in_bytes = _dir_bytes(self.in_dir)
        self.tv = TableValidator(parse_schema(gen.CLIPS_SCHEMA), self.df.schema)
        kw = self.exp["keyword_counts"]
        self.expected = {
            (p.path, p.keyword): kw.get((p.path.removeprefix("$."), p.keyword), 0)
            for p in self.tv.predicates
        }
        self.work = os.path.join(b.run_dir, "resume")
        return times

    def _rv(self, tag: str):
        from jsschema_spark.manifest import ResumableValidation

        return ResumableValidation(
            self.tv, os.path.join(self.work, tag, "manifest"),
            output_dir=os.path.join(self.work, tag, "out"), id_col="clip_id",
            n_buckets=self.BUCKETS, buckets_per_job=self.PER_JOB)

    def cycle(self, b: Bench) -> list:
        from pyspark.sql import functions as F

        from jsschema_spark.manifest import Manifest

        tv, df = self.tv, self.df

        def valid_count(_gid):
            with b.span("compiler"):
                q = tv.apply(df, with_violations=False).where(F.col("valid")).agg(F.count(F.lit(1)))
            return self.N, b.run_df(q)[0][0] == self.exp["n_valid"]

        def summary(_gid):
            with b.span("compiler"):
                q = tv.summary(df)
            rows = b.run_df(q)
            got = {(r["path"], r["keyword"]): r["n_violations"] for r in rows}
            return self.N, got == self.expected and all(r["n_rows"] == self.N for r in rows)

        def details(_gid):
            with b.span("compiler"):
                q = tv.violation_details(df, id_cols=["clip_id"]).agg(F.count(F.lit(1)))
            return self.N, b.run_df(q)[0][0] == sum(self.expected.values())

        def samples(_gid):
            with b.span("compiler"):
                q = tv.violation_samples(df, k=self.SAMPLE_K, id_cols=["clip_id"])
            rows = b.run_df(q)
            got: dict = {}
            for r in rows:
                got[(r["path"], r["keyword"])] = got.get((r["path"], r["keyword"]), 0) + 1
            want = {k: min(self.SAMPLE_K, v) for k, v in self.expected.items() if v}
            return self.N, got == want

        def crash_and_resume(gid):
            shutil.rmtree(self.work, ignore_errors=True)
            tag = gid.replace(":", "_")
            manifest = Manifest(os.path.join(self.work, tag, "manifest"))
            b.set_group(f"{gid}/crash")
            with b.span("manifest", "crash"):
                try:
                    self._rv(tag).run(df, fail_after_chunks=self.CRASH_AFTER)
                    crashed = False
                except RuntimeError:
                    crashed = True
            done_before = {r["bucket"] for r in manifest.records()}
            b.set_group(f"{gid}/resume")
            t0 = time.perf_counter()
            with b.span("manifest", "resume"):
                resumed = self._rv(tag).run(df)
            resume_s = time.perf_counter() - t0
            recs = manifest.records()
            revalidated = len({r.bucket for r in resumed} & done_before)
            b.op_extra[gid] = {"resume_s": resume_s, "revalidated": revalidated}
            ok = (
                crashed
                and revalidated == 0
                and len(done_before) == self.CRASH_AFTER * self.PER_JOB
                and sorted(r["bucket"] for r in recs) == list(range(self.BUCKETS))
                and sum(r["n_valid"] for r in recs) == self.exp["n_valid"]
                and sum(r["n_rows"] for r in recs) == self.N
            )
            return self.N, ok

        return [("valid_count", valid_count), ("summary", summary), ("violation_details", details),
                ("violation_samples", samples), ("crash_resume", crash_and_resume)]

    def final_checks(self, b: Bench) -> None:
        """A fixed 10% sample (about 10k rows) agrees with the pure-Python core
        row by row, on validity and on the set of violated keywords."""
        from pyspark.sql import functions as F

        from jsschema_spark import parse_schema
        from jsschema_spark.pyvalidate import Validator

        b.set_group("check:pyvalidate_sample")
        sample = self.df.where(F.pmod(F.xxhash64("clip_id", F.lit(b.seed)), F.lit(10)) == 0)
        rows = self.tv.apply(sample, with_violations=True).collect()
        v = Validator(parse_schema(gen.CLIPS_SCHEMA))
        bad = 0
        for r in rows:
            inst = {k: r[k] for k in ("clip_id", "sr_hz", "dur_ms", "codec", "transcript")}
            inst["bytes"] = bytes(r["bytes"]).hex()
            found = v.validate(inst)
            want = (not found, sorted({x.keyword for x in found}))
            got = (r["valid"], sorted({x["keyword"] for x in r["violations"]}))
            bad += want != got
        b.check("pyvalidate_sample", bad == 0 and len(rows) > self.N // 40,
                f"{bad} of {len(rows)} rows disagree with pyvalidate")

    def kernel_metrics(self, b: Bench) -> dict:
        out = kernels.schema_kernels(gen.CLIPS_SCHEMA, gen.clips_struct())
        out.update(kernels.pyvalidate_kernel(gen.CLIPS_SCHEMA, _clip_rows_as_docs(b.seed)))
        return out

    def layer_metrics(self, b: Bench, ops, groups) -> dict:
        out = super().layer_metrics(b, ops, groups)
        resumes = [o for o in ops if o.name == "crash_resume"]
        scans, written = [], []
        for o in resumes:
            resume, crash = groups.get(f"{o.gid}/resume"), groups.get(f"{o.gid}/crash")
            scans.append(sum(self.in_dir in p for p in resume.sql_plans.values()) if resume else 0)
            written.append(sum(g.output_bytes for g in (resume, crash) if g) / self.in_bytes)
        extra = [b.op_extra[o.gid] for o in resumes]
        out.update({
            "manifest.scan_passes": statistics.mean(scans),
            "manifest.write_bytes_per_input_byte": statistics.mean(written),
            "manifest.resume_s": statistics.mean(e["resume_s"] for e in extra),
            "manifest.buckets_revalidated": float(sum(e["revalidated"] for e in extra)),
        })
        return out


class JsonTiers:
    """The same clip-shaped JSON documents through the Variant tier
    (JsonColumnValidator) and the pandas tier (validate_json_column)."""

    N = 500
    FILES = 8

    def generate(self, b: Bench) -> None:
        self.in_dir = os.path.join(b.run_dir, "in", "docs")
        self.exp = gen.write_docs(self.N, b.seed, self.in_dir, self.FILES)

    def prepare(self, b: Bench) -> None:
        from jsschema_spark.variant import JsonColumnValidator

        self.df = b.spark.read.parquet(self.in_dir)
        self.jv = JsonColumnValidator.try_compile(gen.DOCS_SCHEMA)
        if self.jv is None:
            raise RuntimeError("the documents schema must compile to the Variant tier")
        self.reference = None  # (n_valid, row-result hash) both tiers must give

    @staticmethod
    def _digest(out):
        """(valid rows, order-independent hash of (doc_id, valid, keyword set))."""
        from pyspark.sql import functions as F

        kw = F.concat_ws(",", F.array_sort(F.array_distinct(
            F.transform(F.col("validation.violations"), lambda v: v["keyword"]))))
        h = F.xxhash64(F.col("doc_id"), F.col("validation.valid"), kw)
        return out.agg(
            F.sum(F.col("validation.valid").cast("long")).alias("n_valid"),
            F.sum(h.cast("decimal(38,0)")).cast("string").alias("h"),
        )

    def cycle(self, b: Bench) -> list:
        from jsschema_spark.generic import validate_json_column

        def run(layer):
            def op(_gid):
                with b.span(layer):
                    out = (self.jv.apply(self.df, "doc") if layer == "variant"
                           else validate_json_column(self.df, "doc", gen.DOCS_SCHEMA))
                    q = self._digest(out)
                row = b.run_df(q)[0]
                got = (row["n_valid"], row["h"])
                if self.reference is None:
                    self.reference = got
                return self.N, got == self.reference and got[0] == self.exp["n_valid"]
            return op

        return [("json_variant", run("variant")), ("json_pandas", run("generic"))]

    @staticmethod
    def layer_metrics(ops, groups) -> dict:
        variant = spark_group_metrics(groups, [o.gid for o in ops if o.name == "json_variant"])
        pandas = spark_group_metrics(groups, [o.gid for o in ops if o.name == "json_pandas"])
        return {
            "variant.exec_cpu_s": variant["spark.exec_cpu_s"],
            "generic.arrow_bytes_sent": pandas["generic.arrow_bytes_sent"],
            "generic.arrow_rows_returned": pandas["generic.arrow_rows_returned"],
        }


class AudioScans:
    """Stored WAV clips: SNR invariant, per-clip profile and fingerprint
    near-duplicate pairs, all file-granular scans."""

    N = 600
    FILES = 4
    MAX_HAMMING = 7

    def generate(self, b: Bench) -> None:
        self.in_dir = os.path.join(b.run_dir, "in", "audio")
        self.exp = gen.write_clips_audio(self.N, b.seed, self.in_dir, self.FILES)

    def _brute_force_pairs(self, b: Bench) -> int:
        """Pairs within MAX_HAMMING by an all-pairs NumPy scan of the
        fingerprints the scan produced."""
        from jsschema_spark.audio import audio_fingerprint_scan

        b.set_group("check:fingerprints")
        fps = np.array([r["fp"] for r in audio_fingerprint_scan(b.spark, self.in_dir)
                        .where("decode_ok").select("fp").collect()], dtype=np.int64)
        x = fps.view(np.uint64)
        pairs = 0
        for i in range(len(x) - 1):
            d = np.unpackbits((x[i + 1:] ^ x[i]).view(np.uint8).reshape(-1, 8), axis=1).sum(axis=1)
            pairs += int((d <= self.MAX_HAMMING).sum())
        return pairs

    def cycle(self, b: Bench) -> list:
        from pyspark.sql import functions as F

        from jsschema_spark import audio

        if not hasattr(self, "expected_pairs"):
            self.expected_pairs = self._brute_force_pairs(b)
            b.check("fingerprint_pairs_exist", self.expected_pairs > 0, "no near-duplicate pairs")

        def count(q):
            return b.run_df(q.agg(F.count(F.lit(1))))[0][0]

        def invariant(_gid):
            with b.span("audio"):
                q = audio.audio_invariant_scan(b.spark, self.in_dir).where(F.col("snr_db") >= 30.0)
            return self.N, count(q) == self.exp["n_snr_ok"]

        def profile(_gid):
            with b.span("audio"):
                q = audio.audio_profile_scan(b.spark, self.in_dir).where(F.col("decode_ok"))
            return self.N, count(q) == self.N

        def fingerprint(_gid):
            with b.span("audio"):
                q = audio.fingerprint_near_dups(
                    audio.audio_fingerprint_scan(b.spark, self.in_dir), max_hamming=self.MAX_HAMMING)
            return self.N, count(q) == self.expected_pairs

        return [("audio_invariant", invariant), ("audio_profile", profile),
                ("audio_fingerprint", fingerprint)]


# --------------------------------------------------------------------------
# engine queries

SF_DIR = os.path.join(HERE, "data", "sf0.01")
DIGESTS = os.path.join(HERE, "digests.json")
# queries() entries and the sf0.01 tables each one scans
QUERIES = {
    "validate_lineitem": ["lineitem"],
    "invalid_orders": ["orders"],
    "uniqueness_events_user": ["events"],
    "lang_id_documents": ["documents"],
    "exact_dup_documents": ["documents"],
    "crest_check_clips": ["documents"],
}


def _canon(v):
    if isinstance(v, float):
        return "%.6g" % v
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return repr(v)


def rows_digest(rows) -> dict:
    """Row count and an order-independent hash (sum of per-row SHA-256
    prefixes; doubles rounded to 6 significant digits)."""
    h = 0
    for r in rows:
        h += int.from_bytes(hashlib.sha256(_canon(list(r)).encode()).digest()[:8], "big")
    return {"rows": len(rows), "hash": f"{h % 2**64:016x}"}


class EngineMix(Workload):
    """Everything that runs Python workers or plans a fresh query per op: a
    fixed set of queries() entries over the sf0.01 tables, the three
    stored-WAV audio scans and the two JSON tiers, in an order shuffled by
    the seed. The memoised near-dup groups are cleared before every query."""

    name = "engine_mix"
    min_ops = 22  # two cycles: one sample per operation kind is too few

    def setup(self, b: Bench) -> list[float]:
        import pyarrow.parquet as pq

        self.audio, self.json = AudioScans(), JsonTiers()
        times, _ = _timed_generation(lambda: (self.audio.generate(b), self.json.generate(b)))
        self.json.prepare(b)
        with open(DIGESTS, encoding="utf-8") as f:
            self.digests = json.load(f)
        self.table_rows = {
            t: pq.ParquetFile(os.path.join(SF_DIR, f"{t}.parquet")).metadata.num_rows
            for ts in QUERIES.values() for t in ts
        }
        return times

    @staticmethod
    def run_query(b: Bench, name: str) -> list:
        import __spark_entry__ as entry

        # the near-dup groups memo would turn near_dup_groups into a dict hit
        entry._ND_GROUPS_MEMO.clear()
        with b.span("entry", name):
            df = entry.queries()[name](b.spark, SF_DIR)
        return b.run_df(df)

    def cycle(self, b: Bench) -> list:
        def make(name):
            def op(_gid):
                rows = self.run_query(b, name)
                n_in = sum(self.table_rows[t] for t in QUERIES[name])
                return n_in, rows_digest(rows) == self.digests[name]
            return op

        ops = {n: make(n) for n in QUERIES}
        ops.update(self.audio.cycle(b) + self.json.cycle(b))
        order = list(ops)
        random.Random(b.seed).shuffle(order)
        return [(n, ops[n]) for n in order]

    def layer_metrics(self, b: Bench, ops, groups) -> dict:
        out = super().layer_metrics(b, ops, groups)
        out.update(self.json.layer_metrics(ops, groups))
        queries = [o for o in ops if o.name in QUERIES]
        gids = {o.gid for o in queries}
        plan = sum(s.t1 - s.t0 for s in b.spans if s.layer == "spark.plan" and s.op in gids)
        out["entry.plan_s"] = plan / len(queries)
        out["entry.jobs_per_query"] = spark_group_metrics(groups, list(gids))["spark.jobs"]
        return out

    def kernel_metrics(self, b: Bench) -> dict:
        out = kernels.audio_kernels(self.audio.exp["sample"])
        out.update(kernels.pyvalidate_kernel(gen.DOCS_SCHEMA, self.json.exp["sample"]))
        return out


WORKLOADS = {w.name: w for w in (ClipsTyped, EngineMix)}
