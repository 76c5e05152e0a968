"""Per-stage lineage + idempotent staged execution (north rule:
"per-partition lineage rows (source split, counts, checksums)
checkpointed so any stage resumes idempotently via MERGE INTO").

Replaces the reference's mtime-based freshness checks
(/root/reference/multiomics_kg/download/resolve_paper_ids.py:460-466)
and its Schema_info build-stamp node
(/root/reference/scripts/post-import.cypher:1361-1375) with:

- ``lineage_rows``: one row per (stage, spark partition) with row
  count and an order-insensitive content checksum (xor-ish via sum
  of row hashes — computable distributed, no collect),
- ``StagedRunner``: runs the DAG stage by stage; each stage writes a
  parquet stage table + its lineage; a re-run with an existing,
  checksum-matching stage table is a no-op (resume), and stage
  writes go through merge_into (anti-join + union + atomic swap —
  the MERGE INTO emulation; on Iceberg this is the real statement).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from multiomics_biocypher_kg_spark.operators.materialize import merge_into


def content_checksum(df: DataFrame) -> tuple[int, int]:
    """Order-insensitive content checksum + row count in ONE job:
    sum of pmod(xxhash64(all columns), 2^31) reduced pmod 2^63 —
    unsigned at every step, so the value is stable across engines
    and re-partitionings (pure aggregation, no data to the driver).

    -> (checksum, n_rows)
    """
    row = (
        df.select(F.xxhash64(*df.columns).alias("h"))
        .agg(
            F.sum(F.pmod(F.col("h"), F.lit(2**31))).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()[0]
    )
    return int((row.s or 0) % (2**63)), int(row.n)


def lineage_rows(df: DataFrame, stage: str) -> DataFrame:
    """Per-spark-partition lineage: (stage, partition_id, n_rows,
    checksum) — the 'source split' accounting of the north rule."""
    return (
        df.withColumn("_pid", F.spark_partition_id())
        .withColumn("_h", F.xxhash64(*[c for c in df.columns]))
        .groupBy("_pid")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.pmod(F.col("_h"), F.lit(2**31))).alias("checksum"),
        )
        .select(
            F.lit(stage).alias("stage"),
            F.col("_pid").alias("partition_id"),
            "n_rows",
            "checksum",
        )
    )


class StagedRunner:
    """Materializes a stage DAG under ``workdir`` with resume.

    stage layout:  {workdir}/{stage}/data/   (parquet)
                   {workdir}/{stage}/lineage.json
    """

    def __init__(self, spark: SparkSession, workdir: str):
        self.spark = spark
        self.workdir = workdir
        os.makedirs(workdir, exist_ok=True)

    def _paths(self, stage: str) -> tuple[str, str]:
        d = os.path.join(self.workdir, stage)
        return os.path.join(d, "data"), os.path.join(d, "lineage.json")

    def is_complete(self, stage: str) -> bool:
        """A stage is complete only when its data AND lineage exist
        AND the recorded checksum matches a recompute over the stage
        table — a half-written or tampered table re-runs instead of
        resuming (the 'checksum-matching stage table is a no-op'
        contract). Costs one aggregation job per resumed stage."""
        data, lin = self._paths(stage)
        if not (os.path.isdir(data) and os.path.isfile(lin)):
            return False
        try:
            recorded = self.lineage(stage)
        except (OSError, ValueError):
            # torn/corrupt lineage.json (crash mid-write) -> rebuild,
            # never raise: the documented 'half-written stage re-runs'
            # contract
            return False
        checksum, n = content_checksum(self.spark.read.parquet(data))
        return checksum == recorded.get("checksum") and n == recorded.get("n_rows")

    def run_stage(
        self, stage: str, build: "callable[[], DataFrame]", keys: list[str]
    ) -> DataFrame:
        """Run (or resume) one stage. If the stage table exists with a
        recorded lineage, the build is skipped entirely (resume); else
        the DataFrame is upserted via merge_into on ``keys`` —
        re-running a crashed half-written stage converges to the same
        table (idempotence).

        The recorded totals come from the per-partition lineage rows
        (one job): n_rows = sum of n_rows, checksum = sum of checksums
        mod 2^63 — the value :func:`content_checksum` recomputes."""
        data, lin = self._paths(stage)
        if self.is_complete(stage):
            return self.spark.read.parquet(data)
        df = build()
        os.makedirs(os.path.dirname(data), exist_ok=True)
        merge_into(self.spark, data, df, keys)
        out = self.spark.read.parquet(data)
        per_part = [r.asDict() for r in lineage_rows(out, stage).collect()]
        n = sum(p["n_rows"] for p in per_part)
        checksum = sum(p["checksum"] for p in per_part) % (2**63)
        # write-then-rename: lineage.json appears atomically, so a
        # crash mid-dump leaves no torn file behind
        tmp = lin + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                {
                    "stage": stage,
                    "n_rows": n,
                    "checksum": checksum,
                    "completed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
                    "partitions": per_part,
                },
                f,
                indent=1,
            )
        os.replace(tmp, lin)
        return out

    def lineage(self, stage: str) -> dict:
        _, lin = self._paths(stage)
        with open(lin) as f:
            return json.load(f)
