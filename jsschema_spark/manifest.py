"""Resumable validation runs: per-partition manifest with lineage + metrics.

north_rule: "checkpoints per-partition lineage and metrics to a resumable
manifest so a killed run restarts without re-validating completed
partitions". The reference has no execution engine — this is pure
engine-side design (SURVEY.md §4: application-level, not Spark streaming
checkpoints).

Design:

* The unit of resumability is a **stable hash bucket** of the id column
  (``pmod(xxhash64(id), n_buckets)``) — stable across cluster sizes, retries
  and input re-splits, unlike ``spark_partition_id``.
* Buckets are processed in chunks; each chunk is ONE Spark job: it writes
  the violation/valid output partitioned by bucket, and the per-bucket
  row/valid counts are observed metrics of that write (``DataFrame.observe``)
  — the output is never read back. It then appends one manifest JSON-lines
  file through a pluggable ``ManifestStorage`` whose write is all-or-nothing
  (local: temp+rename; object store: single PUT — rename-free, since
  object-store rename is copy+delete, not atomic), so a kill mid-append
  never leaves a half-recorded chunk.
* On restart, completed buckets are anti-filtered BEFORE the scan predicate
  (`bucket IN (pending)`), so Spark skips whole partitions of work; the
  output directory is idempotent per bucket (dynamic partition overwrite).
* Each manifest row: bucket id, row/valid counts, wall seconds, input files
  (lineage), engine version — enough to audit which inputs produced which
  verdicts.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import asdict, dataclass
from typing import Optional, Sequence

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

import jsschema_spark
from jsschema_spark.compiler import TableValidator


@dataclass
class BucketResult:
    bucket: int
    n_rows: int
    n_valid: int
    wall_s: float


def bucket_col(id_col: str, n_buckets: int):
    return F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_buckets)).cast("int")


class ManifestStorage:
    """Storage interface for manifest chunk files — lets the manifest live
    on whatever the driver can reach. Contract: ``write`` must be
    all-or-nothing per file (readers never see a partial chunk); ``list``
    returns completed chunk names. How each backend achieves atomicity is
    its own business:

    * POSIX/local (``LocalManifestStorage``): write a dot-temp file, then
      ``os.rename`` — atomic within a filesystem.
    * Object stores (S3/GCS-style): a single PUT is already atomic and
      RENAME IS NOT (copy+delete) — subclass by writing the final key
      directly and listing by prefix. ``FakeObjectStoreStorage`` in the
      tests pins this contract (it raises on any rename-style call).
    * HDFS: create + rename works, or write-final + ``.jsonl`` suffix
      filtering (in-progress files use a different suffix).
    """

    def list(self) -> list[str]:  # pragma: no cover - interface
        raise NotImplementedError

    def read(self, name: str) -> str:  # pragma: no cover - interface
        raise NotImplementedError

    def write(self, name: str, content: str) -> None:  # pragma: no cover - interface
        raise NotImplementedError


class LocalManifestStorage(ManifestStorage):
    """POSIX directory backend: temp-file + atomic rename."""

    def __init__(self, path: str):
        self.path = path
        os.makedirs(path, exist_ok=True)

    def list(self) -> list[str]:
        return [n for n in os.listdir(self.path) if n.endswith(".jsonl")]

    def read(self, name: str) -> str:
        with open(os.path.join(self.path, name), encoding="utf-8") as f:
            return f.read()

    def write(self, name: str, content: str) -> None:
        tmp = os.path.join(self.path, f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "w", encoding="utf-8") as f:
            f.write(content)
        os.rename(tmp, os.path.join(self.path, name))


class Manifest:
    """JSON-lines manifest (one file per completed chunk) over a pluggable
    ``ManifestStorage`` — pass a path for the local backend, or any storage
    implementation (object store, HDFS) for multi-node driver restarts."""

    def __init__(self, path_or_storage: "str | ManifestStorage"):
        if isinstance(path_or_storage, ManifestStorage):
            self.storage = path_or_storage
            self.path = getattr(path_or_storage, "path", None)
        else:
            self.path = path_or_storage
            self.storage = LocalManifestStorage(path_or_storage)

    def completed_buckets(
        self,
        lineage: Optional[list[str]] = None,
        engine_version: Optional[str] = None,
    ) -> set[int]:
        """Buckets recorded done. When ``lineage``/``engine_version`` are
        given, a done record only counts if it was produced from the same
        input files by the same engine version — a resumed run over changed
        input re-validates instead of silently reporting stale results."""
        done: set[int] = set()
        for name in self.storage.list():
            for line in self.storage.read(name).splitlines():
                if not line.strip():
                    continue
                rec = json.loads(line)
                if rec.get("status") != "done":
                    continue
                if lineage is not None and rec.get("input_files") != lineage:
                    continue
                if (
                    engine_version is not None
                    and rec.get("engine_version") != engine_version
                ):
                    continue
                done.add(rec["bucket"])
        return done

    def records(self) -> list[dict]:
        out = []
        for name in sorted(self.storage.list()):
            out.extend(
                json.loads(line)
                for line in self.storage.read(name).splitlines()
                if line.strip()
            )
        return out

    def append(self, records: list[dict]) -> None:
        name = f"chunk-{int(time.time()*1000)}-{uuid.uuid4().hex[:8]}.jsonl"
        content = "".join(json.dumps(r) + "\n" for r in records)
        self.storage.write(name, content)


class ResumableValidation:
    """Drive a TableValidator over a huge table in resumable bucket chunks."""

    def __init__(
        self,
        validator: TableValidator,
        manifest_dir: "str | Manifest",
        output_dir: Optional[str] = None,
        id_col: str = "clip_id",
        n_buckets: int = 64,
        buckets_per_job: int = 16,
    ):
        self.validator = validator
        self.manifest = (
            manifest_dir if isinstance(manifest_dir, Manifest) else Manifest(manifest_dir)
        )
        self.output_dir = output_dir
        self.id_col = id_col
        self.n_buckets = n_buckets
        self.buckets_per_job = buckets_per_job

    def pending_buckets(self, lineage: Optional[list[str]] = None) -> list[int]:
        done = self.manifest.completed_buckets(
            lineage=lineage, engine_version=jsschema_spark.__version__
        )
        return [b for b in range(self.n_buckets) if b not in done]

    def run(self, df: DataFrame, fail_after_chunks: Optional[int] = None) -> list[BucketResult]:
        """Process pending buckets. ``fail_after_chunks`` injects a crash
        after N chunks (kill-and-resume testing). Resume only skips buckets
        whose manifest record matches the current input lineage + engine
        version — changed input re-validates."""
        lineage = sorted(df.inputFiles())
        pending = self.pending_buckets(lineage=lineage)
        results: list[BucketResult] = []
        spark = df.sparkSession
        prev_overwrite = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        bucket = F.col("__bucket")
        bucketed = df.withColumn("__bucket", bucket_col(self.id_col, self.n_buckets))
        try:
            chunks = [
                pending[i : i + self.buckets_per_job]
                for i in range(0, len(pending), self.buckets_per_job)
            ]
            for ci, chunk in enumerate(chunks):
                if fail_after_chunks is not None and ci >= fail_after_chunks:
                    raise RuntimeError("injected failure for resume test")
                t0 = time.time()
                part = bucketed.where(bucket.isin(chunk))
                counts = [F.count_if(bucket == b).alias(f"rows_{b}") for b in chunk] + [
                    F.count_if((bucket == b) & F.col("valid")).alias(f"valid_{b}") for b in chunk
                ]
                applied = self.validator.apply(part, with_violations=bool(self.output_dir))
                if self.output_dir:
                    obs = Observation()
                    writer = applied.observe(obs, *counts).write.mode("overwrite")
                    writer.partitionBy("__bucket").parquet(self.output_dir)
                    stats = obs.get
                else:
                    stats = applied.agg(*counts).first()
                wall_s = (time.time() - t0) / len(chunk)
                done = [
                    BucketResult(b, stats[f"rows_{b}"], stats[f"valid_{b}"], wall_s)
                    for b in chunk
                ]
                results.extend(done)
                self.manifest.append([
                    {**asdict(r), "wall_s": round(wall_s, 4), "status": "done",
                     "input_files": lineage, "engine_version": jsschema_spark.__version__,
                     "ts": time.time()}
                    for r in done
                ])
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev_overwrite)
        return results
