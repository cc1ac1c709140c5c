"""Per-partition lineage + resumable checkpointed extraction.

North-rule requirement: "resumable from checkpoint with per-partition
lineage + triple-count metrics".  The reference has no analogue (a Node
stream dies with its process); this is distributed-systems design on top
of the extraction kernel:

- the corpus is split into ``n_buckets`` url-hash buckets
  (``pmod(xxhash64(url), n_buckets)``) — the unit of checkpointing,
  deterministic at any parallelism;
- each commit is ONE Spark job: filter the chunk's buckets,
  hash-repartition on the bucket into ``min(buckets in chunk, cores)``
  tasks, extract, and write ``triples/bucket=K/`` via **dynamic
  partition overwrite**, so a re-run of a bucket whose job died
  mid-write replaces partial output instead of duplicating it
  (idempotent restart).  Nothing is cached and nothing is counted in a
  job of its own: per-bucket page and triple counts are observed
  (``DataFrame.observe``) in the write job's result stage;
- only after a chunk's data is fully written is its lineage recorded in
  the ``_manifest`` table ``(run_id, bucket, n_pages, n_triples,
  commit_wall_sec, committed_at)``, written from a driver-local frame —
  write-ahead data, commit-behind metadata, exactly the Iceberg
  snapshot-commit ordering (data files first, metadata pointer last);
- ``run()`` anti-joins the manifest, so a restarted job processes only
  buckets without a committed manifest row.

``commit_chunk`` is the per-commit step, shared with
``sources/warc.WarcIngestion`` (whose checkpoint unit is the shard).
On a real cluster the parquet dirs become Iceberg tables and the
manifest a snapshot log; the control flow is identical.
"""

from __future__ import annotations

import time

import pyarrow as pa
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (LongType, StringType, StructField,
                               StructType, DoubleType)

from ..operators.extract import extract_triples

MANIFEST_SCHEMA = StructType([
    StructField("run_id", StringType()),
    StructField("bucket", LongType()),
    StructField("n_pages", LongType()),
    StructField("n_triples", LongType()),
    StructField("commit_wall_sec", DoubleType()),  # whole chunk's wall
    StructField("committed_at", DoubleType()),     # epoch sec of commit
])


def commit_chunk(chunk_pages: DataFrame, key: str, units: list,
                 triples_dir: str, manifest_dir: str,
                 manifest_schema: StructType, run_id: str,
                 **extract_kw) -> None:
    """Commit one chunk of checkpoint units: write its triples, then
    append one manifest row per unit (``key`` value in ``units``).

    The data write is the only action over the pages.  ``n_pages``
    and ``n_triples`` per unit are observed on ``chunk_pages`` and on
    the extracted triples inside that job's result stage, where a
    retried task's metrics count once.  Pages that yield zero triples,
    kernel-rejected ones included, still count in ``n_pages`` (it reads
    as "work done").  ``extract_kw`` goes to ``extract_triples``.
    """
    t0 = time.time()

    def observed(df: DataFrame, obs: Observation) -> DataFrame:
        return df.observe(obs, *(
            F.count_if(F.col(key) == F.lit(u)).alias(f"u{i}")
            for i, u in enumerate(units)))

    pages_obs, triples_obs = Observation(), Observation()
    triples = extract_triples(observed(chunk_pages, pages_obs),
                              passthrough=(key,), **extract_kw)
    # Data first: dynamic overwrite replaces any partial output of a
    # previously-failed attempt at these units.
    (observed(triples, triples_obs).write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy(key)
     .parquet(triples_dir))
    n_pages, n_triples = pages_obs.get, triples_obs.get
    # Metadata last: the manifest row IS the commit point.  An Arrow
    # table becomes a LocalRelation, so this write runs no Python task.
    n = len(units)
    cols = [[run_id] * n, units,
            [n_pages[f"u{i}"] for i in range(n)],
            [n_triples[f"u{i}"] for i in range(n)],
            [round(time.time() - t0, 3)] * n, [time.time()] * n]
    rows = pa.table(cols, names=manifest_schema.names)
    (chunk_pages.sparkSession.createDataFrame(rows, manifest_schema)
     .coalesce(1).write.mode("append").parquet(manifest_dir))


def url_bucket(n_buckets: int, url_col: str = "url") -> F.Column:
    """Deterministic corpus partition id — stable across restarts,
    parallelism levels, and input ordering."""
    return F.pmod(F.xxhash64(url_col), F.lit(n_buckets)).cast("long")


class CheckpointedExtraction:
    """Resumable bucket-at-a-time extraction with a lineage manifest."""

    def __init__(self, out_dir: str, n_buckets: int = 64):
        self.out_dir = out_dir.rstrip("/")
        self.n_buckets = n_buckets
        self.triples_dir = f"{self.out_dir}/triples"
        self.manifest_dir = f"{self.out_dir}/_manifest"

    # -- lineage ----------------------------------------------------------

    def manifest(self, spark: SparkSession) -> DataFrame:
        try:
            return spark.read.schema(MANIFEST_SCHEMA).parquet(
                self.manifest_dir)
        except Exception:
            return spark.createDataFrame([], MANIFEST_SCHEMA)

    def completed_buckets(self, spark: SparkSession) -> set[int]:
        return {r.bucket for r in
                self.manifest(spark).select("bucket").distinct().collect()}

    def metrics(self, spark: SparkSession) -> DataFrame:
        """Triple-count metrics per bucket — latest commit wins (by
        ``committed_at``), with the commit history length alongside."""
        from pyspark.sql import Window
        w = Window.partitionBy("bucket").orderBy(F.desc("committed_at"))
        latest = (self.manifest(spark)
                  .withColumn("rn", F.row_number().over(w)))
        counts = latest.groupBy("bucket").agg(
            F.count(F.lit(1)).alias("n_commits"))
        return (latest.filter(F.col("rn") == 1)
                .select("bucket", "n_pages", "n_triples")
                .join(counts, "bucket"))

    # -- data -------------------------------------------------------------

    def triples(self, spark: SparkSession) -> DataFrame:
        from ..operators.extract import TRIPLES_SCHEMA
        try:
            return spark.read.parquet(self.triples_dir)
        except Exception:  # empty corpus: no data files written yet
            return spark.createDataFrame(
                [], TRIPLES_SCHEMA + ", bucket int")

    # -- execution --------------------------------------------------------

    def run(self, pages: DataFrame, buckets_per_commit: int = 16,
            stop_after_commits: int | None = None,
            run_id: str | None = None) -> dict:
        """Extract all buckets not yet in the manifest.

        ``stop_after_commits`` simulates a mid-job failure for restart
        tests.  Returns counters for the work done by THIS invocation.
        """
        spark = pages.sparkSession
        run_id = run_id or f"run-{int(time.time() * 1000):x}"
        done = self.completed_buckets(spark)
        remaining = [b for b in range(self.n_buckets) if b not in done]
        bucketed = pages.withColumn(
            "bucket", url_bucket(self.n_buckets))

        commits = 0
        processed: list[int] = []
        for i in range(0, len(remaining), buckets_per_commit):
            if stop_after_commits is not None and commits >= stop_after_commits:
                break
            chunk = remaining[i:i + buckets_per_commit]
            # Repartition BEFORE extraction, hashed on bucket: extraction
            # parallelism must not be hostage to the input's file-split
            # count, and a bucket lands wholly in one task, so each
            # bucket=K/ dir gets exactly one file.  Tasks per commit ==
            # min(buckets in chunk, cores): every Python task carries a
            # fixed cost, so more tasks than cores only adds it.
            n_tasks = min(len(chunk), spark.sparkContext.defaultParallelism)
            chunk_pages = (bucketed.filter(F.col("bucket").isin(chunk))
                           .repartition(n_tasks, "bucket"))
            commit_chunk(chunk_pages, "bucket", chunk, self.triples_dir,
                         self.manifest_dir, MANIFEST_SCHEMA, run_id)
            commits += 1
            processed.extend(chunk)

        return {"run_id": run_id, "commits": commits,
                "buckets_processed": processed,
                "buckets_skipped": sorted(done)}
