"""Per-partition lineage + run metrics tables.

Reference analogs:
- `tries` table: one row per get_country call, later aggregated for grid
  tuning (sql/process/processPlanetNotes_25_createCountryTables.sql:125-130,
  test/queryBoundaries.sql) → here: assignment_metrics (spatial_join.py)
  plus the per-partition lineage below;
- `GET DIAGNOSTICS ROW_COUNT` per consolidation step
  (processPlanetNotes_42_consolidatePartitions.sql:43-67) and the
  before/after monitoring counts (processPlanetNotes_43_removeDuplicates.sql:8-10)
  → here: stage row counts written to a metrics store per run.

All metrics are explicit aggregations over the data — never side effects
from inside UDFs (a UDF may be retried/speculated; side-effect counters
double-count; aggregations don't).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..streaming.store import local_path


def partition_lineage(df: DataFrame, extra_keys: tuple[str, ...] = ()) -> DataFrame:
    """→ (partition_id, [extra_keys...], n_rows): which partition produced
    what. With a cell-sorted layout the partition↔cell-range mapping makes
    this the audit trail for 'which input slice produced these rows'."""
    return (
        df.withColumn("partition_id", F.spark_partition_id())
        .groupBy("partition_id", *extra_keys)
        .agg(F.count("*").alias("n_rows"))
    )


class MetricsLog:
    """Append-only run-metrics store (jsonl manifest + parquet tables) —
    the engine twin of the reference's logs/tries/data_gaps tables."""

    def __init__(self, root: str):
        self.root = local_path(root, "MetricsLog")
        os.makedirs(self.root, exist_ok=True)
        self.manifest = os.path.join(self.root, "runs.jsonl")

    def log_stage(self, run_id: str, stage: str, df_metrics: DataFrame) -> None:
        path = os.path.join(self.root, f"{run_id}-{stage}")
        df_metrics.write.mode("overwrite").parquet(path)
        with open(self.manifest, "a") as f:
            f.write(
                json.dumps(
                    {"run_id": run_id, "stage": stage, "path": path, "ts": time.time()}
                )
                + "\n"
            )

    def log_counters(self, run_id: str, stage: str, counters: dict) -> None:
        with open(self.manifest, "a") as f:
            f.write(
                json.dumps(
                    {"run_id": run_id, "stage": stage, "counters": counters, "ts": time.time()}
                )
                + "\n"
            )
