"""Kill-and-resume: a failed run must restart without re-validating
completed buckets (north_rule checkpoint/lineage requirement)."""

import json
import os

import pytest
from pyspark.sql import functions as F

from jsschema_spark import parse_schema
from jsschema_spark.compiler import TableValidator
from jsschema_spark.manifest import Manifest, ResumableValidation
from jsschema_spark.synth import CLIPS_DRAFT04_SCHEMA, clips_table


def test_kill_and_resume(spark, tmp_path):
    # write a real parquet input so lineage has files
    src = str(tmp_path / "clips_src")
    clips_table(spark, 2000, with_audio=False).write.parquet(src)
    df = spark.read.parquet(src)

    tv = TableValidator(parse_schema(CLIPS_DRAFT04_SCHEMA), df.schema)
    mdir = str(tmp_path / "manifest")
    odir = str(tmp_path / "out")

    run1 = ResumableValidation(tv, mdir, odir, n_buckets=8, buckets_per_job=2)
    with pytest.raises(RuntimeError, match="injected failure"):
        run1.run(df, fail_after_chunks=2)

    done_after_crash = Manifest(mdir).completed_buckets()
    assert len(done_after_crash) == 4  # 2 chunks × 2 buckets

    # resume: only the remaining 4 buckets are processed
    run2 = ResumableValidation(tv, mdir, odir, n_buckets=8, buckets_per_job=2)
    pending = run2.pending_buckets()
    assert len(pending) == 4 and set(pending).isdisjoint(done_after_crash)
    results = run2.run(df)
    assert sorted(r.bucket for r in results) == sorted(pending)
    assert Manifest(mdir).completed_buckets() == set(range(8))

    # the union of all bucket outputs covers every input row exactly once
    out = spark.read.parquet(odir)
    assert out.count() == 2000
    assert out.select("clip_id").distinct().count() == df.select("clip_id").distinct().count()

    # manifest carries metrics + lineage
    recs = Manifest(mdir).records()
    assert sum(r["n_rows"] for r in recs) == 2000
    assert all(r["input_files"] for r in recs)
    assert all(r["engine_version"] for r in recs)
    n_valid_manifest = sum(r["n_valid"] for r in recs)
    n_valid_direct = tv.apply(df).where(F.col("valid")).count()
    assert n_valid_manifest == n_valid_direct


def test_manifest_counts_equal_committed_output(spark, tmp_path):
    """The per-bucket counts come from the write's observed metrics, not a
    re-read; they must still equal what the output directory holds."""
    src = str(tmp_path / "src")
    clips_table(spark, 3000, with_audio=False).write.parquet(src)
    df = spark.read.parquet(src)
    tv = TableValidator(parse_schema(CLIPS_DRAFT04_SCHEMA), df.schema)
    odir = str(tmp_path / "out")
    ResumableValidation(tv, str(tmp_path / "m"), odir, n_buckets=8, buckets_per_job=3).run(df)

    committed = {
        r["__bucket"]: (r["n_rows"], r["n_valid"])
        for r in spark.read.parquet(odir).groupBy("__bucket").agg(
            F.count(F.lit(1)).alias("n_rows"), F.count_if("valid").alias("n_valid")
        ).collect()
    }
    recs = Manifest(str(tmp_path / "m")).records()
    recorded = {r["bucket"]: (r["n_rows"], r["n_valid"]) for r in recs}
    assert recorded == committed
    assert 0 < sum(v for _, v in recorded.values()) < 3000  # both valid and invalid rows


@pytest.mark.parametrize("with_output", [True, False])
def test_bucket_without_rows_is_recorded_empty(spark, tmp_path, with_output):
    df = clips_table(spark, 3, with_audio=False)
    tv = TableValidator(parse_schema(CLIPS_DRAFT04_SCHEMA), df.schema)
    odir = str(tmp_path / "out") if with_output else None
    results = ResumableValidation(tv, str(tmp_path / "m"), odir, n_buckets=16,
                                  buckets_per_job=5).run(df)
    recs = Manifest(str(tmp_path / "m")).records()
    assert sorted(r["bucket"] for r in recs) == list(range(16))
    assert sum(r["n_rows"] for r in recs) == 3
    empty = [r for r in recs if r["n_rows"] == 0]
    assert len(empty) >= 13 and all(r["n_valid"] == 0 for r in empty)
    assert {(r.bucket, r.n_rows, r.n_valid) for r in results} == {
        (r["bucket"], r["n_rows"], r["n_valid"]) for r in recs
    }


def test_one_spark_job_per_chunk(spark, tmp_path):
    """With an output directory, a chunk's counts ride on its write job: no
    read-back of the output and no separate aggregation job."""
    src = str(tmp_path / "src")
    clips_table(spark, 1000, with_audio=False).write.parquet(src)
    df = spark.read.parquet(src)
    tv = TableValidator(parse_schema(CLIPS_DRAFT04_SCHEMA), df.schema)
    run = ResumableValidation(tv, str(tmp_path / "m"), str(tmp_path / "out"),
                              n_buckets=8, buckets_per_job=2)
    sc = spark.sparkContext
    sc.setJobGroup("resumable-one-job-per-chunk", "resumable run")
    try:
        run.run(df)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup("resumable-one-job-per-chunk")) == 4


def test_rerun_is_noop(spark, tmp_path):
    df = clips_table(spark, 500, with_audio=False)
    tv = TableValidator(parse_schema(CLIPS_DRAFT04_SCHEMA), df.schema)
    mdir = str(tmp_path / "m2")
    run = ResumableValidation(tv, mdir, None, n_buckets=4, buckets_per_job=4)
    first = run.run(df)
    assert len(first) == 4
    again = ResumableValidation(tv, mdir, None, n_buckets=4, buckets_per_job=4)
    assert again.pending_buckets() == []
    assert again.run(df) == []


def test_resume_revalidates_on_changed_input(spark, tmp_path):
    """A manifest recorded against one input must NOT satisfy a run over a
    different input — done buckets only count when lineage matches."""
    src_a = str(tmp_path / "in_a")
    src_b = str(tmp_path / "in_b")
    clips_table(spark, 500, with_audio=False).write.parquet(src_a)
    clips_table(spark, 800, with_audio=False).write.parquet(src_b)

    tv_a = TableValidator(parse_schema(CLIPS_DRAFT04_SCHEMA),
                          spark.read.parquet(src_a).schema)
    mdir = str(tmp_path / "manifest")
    run = ResumableValidation(tv_a, mdir, id_col="clip_id", n_buckets=8,
                              buckets_per_job=8)
    run.run(spark.read.parquet(src_a))
    assert run.pending_buckets(sorted(spark.read.parquet(src_a).inputFiles())) == []

    # same manifest dir, different input: everything is pending again
    df_b = spark.read.parquet(src_b)
    run_b = ResumableValidation(tv_a, mdir, id_col="clip_id", n_buckets=8,
                                buckets_per_job=8)
    assert len(run_b.pending_buckets(sorted(df_b.inputFiles()))) == 8
    results = run_b.run(df_b)
    assert sum(r.n_rows for r in results) == 800  # re-validated, not skipped


from jsschema_spark.manifest import ManifestStorage


class FakeObjectStoreStorage(ManifestStorage):
    """Rename-less storage pinning the object-store contract: single
    atomic PUT of the final key, list-by-prefix, NO rename (object stores
    implement rename as copy+delete — not atomic — so the manifest must
    never rely on it)."""

    def __init__(self):
        self._blobs: dict[str, str] = {}
        self.puts = 0

    def list(self):
        return [n for n in self._blobs if n.endswith(".jsonl")]

    def read(self, name):
        return self._blobs[name]

    def write(self, name, content):
        self.puts += 1
        self._blobs[name] = content  # one atomic PUT

    def rename(self, *_a, **_k):  # pragma: no cover - contract guard
        raise AssertionError("object stores have no atomic rename")


def test_manifest_on_object_store_backend(spark, tmp_path):
    """Kill-and-resume over a DFS/object-store manifest backend: same
    resume semantics as the local backend, zero rename calls."""
    src = str(tmp_path / "os_src")
    clips_table(spark, 1000, with_audio=False).write.parquet(src)
    df = spark.read.parquet(src)
    tv = TableValidator(parse_schema(CLIPS_DRAFT04_SCHEMA), df.schema)

    store = FakeObjectStoreStorage()
    manifest = Manifest(store)
    run1 = ResumableValidation(tv, manifest, None, n_buckets=8, buckets_per_job=2)
    with pytest.raises(RuntimeError):
        run1.run(df, fail_after_chunks=2)
    done = Manifest(store).completed_buckets()
    assert len(done) == 4 and store.puts == 2

    run2 = ResumableValidation(tv, manifest, None, n_buckets=8, buckets_per_job=2)
    results = run2.run(df)
    assert {r.bucket for r in results} == set(range(8)) - done
    assert Manifest(store).completed_buckets() == set(range(8))
    # every record readable through the backend
    assert len(Manifest(store).records()) == 8
