"""K2 — stage-granular checkpoint/resume.

Each completed stage writes its output table plus a manifest row
(stage, path, complete, fingerprint, ts). On restart with the same run_id,
completed stages are read back instead of recomputed — Spark has no cross-job
resume, so this lives at the orchestration layer (SURVEY.md §4.3). A manifest
whose input fingerprint differs from the current build's is refused, never
silently reused. Manifests are written atomically (tmp + rename). On a cluster
the warehouse dir is object storage and the same protocol applies (rename ->
conditional put).
"""

from __future__ import annotations

import hashlib
import json
import os
import time

from pyspark.sql import DataFrame


def input_fingerprint(raw_files: DataFrame, link_threshold: float) -> str:
    """Identity of a build's input: the canonicalized logical plan of
    `raw_files` (the plan `DataFrame.semanticHash()` hashes), its sorted input
    files and the link threshold. The plan enters as its full canonical text,
    not as `semanticHash()`: that hash differs between JVMs (file formats hash
    by class identity), so a restarted job could never resume its own run."""
    plan = raw_files._jdf.queryExecution().analyzed().canonicalized()
    text = plan.treeString(True, False, 2**31 - 1, False, False)
    ident = json.dumps([text, sorted(raw_files.inputFiles()), float(link_threshold)])
    return hashlib.sha256(ident.encode()).hexdigest()


class CheckpointManager:
    def __init__(self, warehouse: str, run_id: str, fingerprint: str):
        self.warehouse = warehouse
        self.run_id = run_id
        self.fingerprint = fingerprint
        self.dir = os.path.join(warehouse, "_manifests", run_id)
        os.makedirs(self.dir, exist_ok=True)

    def _manifest(self, stage: str) -> str:
        return os.path.join(self.dir, f"{stage}.json")

    def is_complete(self, stage: str) -> bool:
        """True when `stage` has a complete manifest for this build's input;
        raises ValueError when the manifest was written from other input."""
        p = self._manifest(stage)
        if not os.path.exists(p):
            return False
        with open(p) as f:
            manifest = json.load(f)
        if not manifest.get("complete"):
            return False
        if manifest.get("fingerprint") != self.fingerprint:
            raise ValueError(
                f"stage {stage!r} of run_id {self.run_id!r} was checkpointed from "
                f"different input or parameters ({p}); use a new run_id or delete "
                f"{self.dir} to rebuild"
            )
        return True

    def table_path(self, stage: str) -> str:
        with open(self._manifest(stage)) as f:
            return json.load(f)["path"]

    def mark_complete(self, stage: str, path: str) -> None:
        tmp = self._manifest(stage) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                {
                    "run_id": self.run_id,
                    "stage": stage,
                    "path": path,
                    "complete": True,
                    "fingerprint": self.fingerprint,
                    "ts": time.time(),
                },
                f,
            )
        os.replace(tmp, self._manifest(stage))
