"""K3 — per-partition lineage + metrics (north_rule requirement).

Per stage we record one row per physical output partition:
(run_id, stage, partition_id, rows_out, wall_ms, status, ts). The census is
a JVM-side `groupBy(spark_partition_id())` — a map-side-combined count, no
extra Python. Stage wall time is measured around the stage's action by the
pipeline driver and stamped onto every partition row of that stage.

Without the census (`census=False`, the pipeline's lean mode) a stage gets one
row with `partition_id = -1`: the census is one extra full pass over the stage
output, while `df.count()` of a freshly written parquet table is answered from
footer statistics. The default keeps the census: K3 audit depth is a product
feature, not a bench feature.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def partition_census(df: DataFrame) -> list[dict]:
    rows = (
        df.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(F.count(F.lit(1)).alias("rows_out"))
        .collect()
    )
    return [{"partition_id": r["partition_id"], "rows_out": r["rows_out"]} for r in rows]


class LineageLog:
    """Append-only JSONL lineage sink (parquet/Iceberg `lineage` table on a
    cluster; JSONL locally keeps it readable and append-atomic)."""

    def __init__(self, warehouse: str, run_id: str, census: bool = True):
        self.run_id = run_id
        self.census = census
        self.path = os.path.join(warehouse, "_lineage", f"{run_id}.jsonl")
        os.makedirs(os.path.dirname(self.path), exist_ok=True)

    def record_stage(self, stage: str, df: DataFrame, wall_ms: float, status: str = "ok") -> int:
        """Append the stage's lineage rows; returns its row count."""
        parts = partition_census(df) if self.census else [{"partition_id": -1, "rows_out": df.count()}]
        ts, wall_ms = time.time(), round(wall_ms, 1)
        with open(self.path, "a") as f:
            for p in parts:
                row = {"run_id": self.run_id, "stage": stage, **p, "wall_ms": wall_ms, "status": status, "ts": ts}
                f.write(json.dumps(row) + "\n")
        return sum(p["rows_out"] for p in parts)

    def read(self) -> list[dict]:
        if not os.path.exists(self.path):
            return []
        with open(self.path) as f:
            return [json.loads(line) for line in f if line.strip()]
