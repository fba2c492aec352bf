"""End-to-end KG build (SURVEY.md §3.4), checkpoint-resumable with lineage: one
table of stages, `STAGES`, run by one loop in `build_kg`.

  S1 pages    raw_files -> B1 prefilter -> salted repartition -> mapInPandas convert
  S2 triples  H1-H4 extraction + I5 dedup
  S3 cmap     MinHash/LSH linking + connected components -> canonical map
  S4 edges    canonical triple rewrite (partitioned by pred on disk)
  S5 nodes    canonical page nodes + referenced obj nodes
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.canon import build_canonical_map, build_nodes, canonicalize_triples
from ..operators.convert import convert_pages, is_confluence_mime_col
from ..operators.mentions import extract_mentions
from ..operators.triples import extract_all_triples
from ..sources.catalog import load_table, write_table
from .checkpoint import CheckpointManager, input_fingerprint
from .lineage import LineageLog
from .skew import salted_repartition


@dataclass
class KgBuildResult:
    run_id: str
    warehouse: str
    stage_rows: dict = field(default_factory=dict)
    stage_wall_s: dict = field(default_factory=dict)
    resumed_stages: list = field(default_factory=list)

    @property
    def total_wall_s(self) -> float:
        return sum(self.stage_wall_s.values())


def pages_stage(raw_files: DataFrame, num_partitions: int) -> DataFrame:
    # Hot-repo skew is defused BEFORE the Python stage, but ONLY when the layout
    # needs it: reshuffling content that parquet splits already spread evenly would
    # double the stage's IO. The census reads a content-free projection in ONE job.
    from .skew import key_layout_census, needs_rebalance

    hot, census = key_layout_census(raw_files.select("repo"), "repo")
    # B1 prefilter under a pushdown barrier (r6): when `content` is DERIVED (the
    # synthetic corpus, or any view that computes payloads), Catalyst pushes the
    # deterministic filter below the spreading exchange, inlining the content
    # expression; at the bench corpus that is the single-partition crossJoin stage,
    # so detect runs on ONE core and the payload is synthesized twice (1.5 s -> 7-9 s
    # at sf1.0×8). A trivially-true non-deterministic guard keeps it above the
    # exchange, data-parallel in the conversion's stage (plans/r06/kg_pages_stage_*).
    # For STORED corpora the blocked scan pushdown would only re-read a column.
    guarded = F.when(F.monotonically_increasing_id() >= 0, is_confluence_mime_col(F.col("content")))
    conf = raw_files.filter(guarded.otherwise(F.lit(False)))
    if needs_rebalance(census, num_partitions):
        conf = salted_repartition(conf, "repo", num_partitions, hot=hot, salt_source="path")
    return convert_pages(conf, prefilter=False)


def canon_map_stage(out: dict) -> DataFrame:
    # Linking/CC operate on titles (tiny rows): partition by data volume, not
    # cluster width; oversizing costs more in task scheduling than the work (1.16M
    # titles on local[32]: 59 partitions 4.6-10.8 s vs 8-16 partitions 3.4-3.8 s).
    # ~100k title rows (~5 MB) per partition; 10^9 titles still fan out to 10k tasks.
    p_small = max(4, min(out["num_partitions"], out["rows"]["pages"] // 100_000 + 1))
    return build_canonical_map(out["pages"], threshold=out["link_threshold"], num_partitions=p_small)


class Stage(NamedTuple):
    name: str
    compute: Callable[[dict], DataFrame]  # reads earlier outputs by stage name
    default: str = "write"  # sink policy in default mode
    lean: str = "write"  # sink policy in lean mode
    partition_by: list | None = None


# Sink policies: `write` sinks the table and continues from its readback;
# `persist+write` sinks it and continues from the cached copy; `checkpoint` is a
# localCheckpoint (no table); `lazy` is a plan that runs only inside its consumer.
STAGES = (
    # Lean pages: the cached copy (MEMORY_AND_DISK) feeds canon_map, edges and nodes
    # instead of a re-read each. Edges scaled 1.3x from 2->8 cores (single-disk scan
    # bound): this trades disk bandwidth, flat in cores, for memory bandwidth.
    Stage("pages", lambda out: pages_stage(out["raw_files"], out["num_partitions"]), lean="persist+write"),
    # Mentions (SURVEY §1.2) audit linking recall, off the edges critical path.
    Stage("mentions", lambda out: extract_mentions(out["pages"]), lean="lazy"),
    # Lean: fused into the edges job (its dedup is subsumed by the canonical groupBy).
    Stage("triples_raw", lambda out: extract_all_triples(out["pages"]), lean="lazy"),
    # Lean: edges and nodes reuse the tiny relation instead of re-running its join.
    Stage("canon_map", canon_map_stage, lean="checkpoint"),
    Stage("edges", lambda out: canonicalize_triples(out["triples_raw"], out["canon_map"]), partition_by=["pred"]),
    Stage("nodes", lambda out: build_nodes(out["pages"], out["canon_map"], out["edges"])),
)


def build_kg(
    spark: SparkSession,
    raw_files: DataFrame,
    warehouse: str,
    run_id: str = "run0",
    num_partitions: int | None = None,
    link_threshold: float = 0.8,
    dry_run: bool = False,
    materialize_intermediates: bool = True,
) -> KgBuildResult:
    """Run `STAGES` under the sink policy each stage has in the selected mode. A
    stage resumes only when its policy writes a table and its manifest is
    complete; a manifest written from other input raises `ValueError`.

    Default mode: every stage is `write`, with the per-partition K3 census.
    `materialize_intermediates=False` (lean mode) sinks only the products and logs
    one stage-level lineage row instead of the census (a full pass per stage): the
    intermediate sink+readback traffic held N->4N scaling below the 0.8 gate on one
    shared disk (BASELINE.md); only pages/edges/nodes remain resume points.
    `dry_run=True` is the reference's --dry-run (main.go:204-207): every stage is
    `checkpoint` (status `dry_run`), computed and counted, and nothing is written."""
    # The one place the mode flags are read.
    lean = not (materialize_intermediates or dry_run)
    policies = {s.name: "checkpoint" if dry_run else s.lean if lean else s.default for s in STAGES}
    unwritten_status = "dry_run" if dry_run else "ephemeral"
    ckpt = CheckpointManager(warehouse, run_id, input_fingerprint(raw_files, link_threshold))
    lineage = LineageLog(warehouse, run_id, census=not lean)
    res = KgBuildResult(run_id=run_id, warehouse=warehouse)
    out = {"raw_files": raw_files, "link_threshold": link_threshold, "rows": res.stage_rows,
           "num_partitions": num_partitions or spark.sparkContext.defaultParallelism}
    for stage in STAGES:
        name, policy = stage.name, policies[stage.name]
        writes = policy.endswith("write")
        if writes and ckpt.is_complete(name):
            res.resumed_stages.append(name)
            out[name] = load_table(spark, warehouse, name)
            res.stage_rows[name], res.stage_wall_s[name] = out[name].count(), 0.0
            continue
        t0 = time.monotonic()
        df = stage.compute(out)
        if policy == "checkpoint":
            df = df.localCheckpoint()  # compute once; reuse downstream
        elif policy == "persist+write":
            df = df.persist()
        if writes:
            path = write_table(df, warehouse, name, partition_by=stage.partition_by)
            if policy == "write":
                df = load_table(spark, warehouse, name)
        out[name] = df
        if policy == "lazy":
            continue
        wall = time.monotonic() - t0
        res.stage_rows[name] = lineage.record_stage(name, df, wall * 1000, status="ok" if writes else unwritten_status)
        res.stage_wall_s[name] = wall
        if writes:
            ckpt.mark_complete(name, path)
    for name in (n for n, p in policies.items() if p == "persist+write"):
        out[name].unpersist()
    return res
