"""Stage-boundary checkpointing + resume.

The reference checkpoints its global k-mer set to pickle every
``save_every`` files and can resume from it (code/dedup2.py:290-296,546,553).
Here every pipeline stage writes its output table to the run directory and
records completion in a manifest; a resumed run reuses any completed stage.

Format: plain Parquet stage tables with an atomically-renamed JSON manifest
as the completion marker — this is the implemented and tested mechanism.
Iceberg is a documented swap-in (replace the parquet write/read in
write_stage/read_stage with a DSv2 ``writeTo(...).createOrReplace()`` /
``read.format("iceberg")`` against a configured catalog, using the snapshot
id as the completion marker); the runtime jar is absent in this sandbox, so
no Iceberg code path is claimed as exercised here.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass
class RunContext:
    """A pipeline run rooted at ``run_dir`` (the config.json analogue,
    reference code/dedup2.py:513-515)."""

    spark: SparkSession
    run_dir: str
    config_json: str

    def __post_init__(self) -> None:
        os.makedirs(self.run_dir, exist_ok=True)
        cfg_path = os.path.join(self.run_dir, "config.json")
        if os.path.exists(cfg_path):
            with open(cfg_path) as f:
                existing = f.read()
            if existing != self.config_json:
                raise ValueError(
                    "run_dir holds a different config; refusing to resume "
                    "(matches the reference's overwrite guard, "
                    "code/dedup2.py:500-511)"
                )
        else:
            with open(cfg_path, "w") as f:
                f.write(self.config_json)

    # -- manifest ------------------------------------------------------------

    def _manifest_path(self, stage: str) -> str:
        return os.path.join(self.run_dir, f"_STAGE_{stage}.json")

    def _data_path(self, stage: str) -> str:
        return os.path.join(self.run_dir, f"stage_{stage}")

    def is_complete(self, stage: str) -> bool:
        return os.path.exists(self._manifest_path(stage))

    def write_stage(self, stage: str, df: DataFrame) -> DataFrame:
        """Materialize a stage: parquet write + completion manifest, then
        return the re-read DataFrame (cuts lineage like an Iceberg snapshot).

        Per-partition lineage: one aggregation job over the written files
        records (partition_id, rows) for every partition — the analogue of
        the reference's per-file accounting that downstream scripts re-read
        (code/dedup2.py:534-539). Replaces (not adds to) the plain count
        job: total rows = the histogram's sum."""
        from pyspark.sql import functions as F

        path = self._data_path(stage)
        df.write.mode("overwrite").parquet(path)
        out = self.spark.read.parquet(path)
        per_part = (
            out.groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(F.count(F.lit(1)).alias("rows"))
            .collect()
        )
        self._replace_stage_counters(
            stage,
            (
                {
                    "stage": stage,
                    "kind": "partition_rows",
                    "partition_id": int(r["partition_id"]),
                    "rows": int(r["rows"]),
                }
                for r in per_part
            ),
        )
        manifest = {
            "stage": stage,
            "path": path,
            "rows": int(sum(r["rows"] for r in per_part)),
            "n_partitions": len(per_part),
            "schema": out.schema.json(),
            "completed_at_unix": time.time(),
        }
        tmp = self._manifest_path(stage) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=2)
        os.replace(tmp, self._manifest_path(stage))  # atomic completion marker
        return out

    def stage_rows(self, stage: str) -> int:
        """Row total of a completed stage, from its manifest: write_stage's
        lineage job already counted it, so a metric needs no scan."""
        with open(self._manifest_path(stage)) as f:
            return int(json.load(f)["rows"])

    def read_stage(self, stage: str) -> DataFrame:
        return self.spark.read.parquet(self._data_path(stage))

    def stage(self, name: str, build) -> DataFrame:
        """Run ``build()`` unless the stage is already complete (resume)."""
        if self.is_complete(name):
            return self.read_stage(name)
        return self.write_stage(name, build())

    # -- lineage metrics -----------------------------------------------------

    def record_metrics(self, stage: str, metrics: dict[str, int | float]) -> None:
        """Record a stage's lineage metrics, replacing any earlier row for
        the same stage (atomic rewrite) so a redone stage cannot leave
        duplicate rows — the metrics.jsonl twin of _replace_stage_counters'
        exactly-once invariant."""
        path = os.path.join(self.run_dir, "metrics.jsonl")
        kept: list[str] = []
        if os.path.exists(path):
            with open(path) as f:
                kept = [
                    line
                    for line in f
                    if line.strip() and json.loads(line).get("stage") != stage
                ]
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            f.writelines(kept)
            f.write(json.dumps({"stage": stage, **metrics}) + "\n")
        os.replace(tmp, path)

    def read_metrics(self) -> list[dict]:
        path = os.path.join(self.run_dir, "metrics.jsonl")
        if not os.path.exists(path):
            return []
        with open(path) as f:
            return [json.loads(line) for line in f if line.strip()]

    # -- per-partition counters ------------------------------------------------

    def _counters_path(self) -> str:
        return os.path.join(self.run_dir, "counters.jsonl")

    def _replace_stage_counters(self, stage: str, rows) -> None:
        """Atomically replace this stage's counter rows (keep other stages').

        Counters land BEFORE the stage manifest; a crash between the two
        makes the resumed run redo the stage — a plain append would then
        leave two sets of rows and break the exactly-once invariant (sum ==
        manifest rows). Dropping the stage's old rows first makes the redo
        idempotent.

        Single-writer contract: a run_dir belongs to exactly one RunContext
        at a time (the config guard enforces same-config, not mutual
        exclusion) — this read-modify-write is unlocked by design, matching
        the reference's one-process-per-run checkpoint files
        (code/dedup2.py:290-296)."""
        path = self._counters_path()
        kept: list[str] = []
        if os.path.exists(path):
            with open(path) as f:
                kept = [
                    line
                    for line in f
                    if line.strip() and json.loads(line).get("stage") != stage
                ]
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            f.writelines(kept)
            for row in rows:
                f.write(json.dumps(row) + "\n")
        os.replace(tmp, path)

    def read_counters(self, stage: str | None = None) -> list[dict]:
        """Per-partition (stage, partition_id, rows) lineage rows; resumed
        runs skip completed stages so counters are written exactly once.
        Defensively dedupes by (stage, kind, partition_id), last write
        wins, in case an old-format file carries duplicates."""
        if not os.path.exists(self._counters_path()):
            return []
        with open(self._counters_path()) as f:
            out = [json.loads(line) for line in f if line.strip()]
        if stage is not None:
            out = [r for r in out if r["stage"] == stage]
        dedup: dict[tuple, dict] = {}
        for r in out:
            dedup[(r["stage"], r.get("kind"), r.get("partition_id"))] = r
        return list(dedup.values())
