"""Output sink: the training-shard exporter.

The pipeline's own tables (clusters / pairs / spans, README "Output model")
are returned as DataFrames and, in a checkpointed run, written as stage
tables with a completion manifest (sources/checkpoint.py). The one file
export on top of them is :func:`write_training_shards`: deterministic,
size-targeted shards plus a read-back manifest — the analogue of the
reference's per-input region-file dump (code/dedup2.py:280-310).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_training_shards(
    df: DataFrame,
    out_dir: str,
    *,
    rows_per_shard: int,
    key_col: str,
    fmt: str = "json",
    seed: int = 0,
) -> dict:
    """Export the final mixed/cleaned corpus as size-targeted training
    shards (the JSONL-shard convention of web-scale training sets) with a
    read-back manifest.

    Shard assignment is DETERMINISTIC and partitioning-invariant: rows
    are bucketed by a key-derived uniform (house rule, operators/split)
    into ceil(n / rows_per_shard) shards; `repartition(n_shards,
    shard_id)` puts each whole shard in exactly one task, so every shard
    directory holds ONE file with no second compaction pass. Shard sizes
    concentrate around rows_per_shard (multinomial, not exact); the
    manifest records per-shard counts so trainers can verify.

    Returns the manifest dict (also written to ``shards_manifest.json``).
    Reference analogue: the per-input region-file dump + config manifest,
    code/dedup2.py:280-310,513.
    """
    from ..operators.split import keyed_uniform

    n = df.count()
    if n == 0:  # read.json cannot infer schema from a fileless directory
        manifest = {
            "format": fmt, "rows": 0, "rows_read_back": 0, "n_shards": 0,
            "rows_per_shard_target": rows_per_shard, "per_shard_rows": {},
            "seed": seed, "key_col": key_col,
        }
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, "shards_manifest.json"), "w") as f:
            json.dump(manifest, f, indent=2)
        return manifest
    n_shards = max(1, -(-n // rows_per_shard))
    bucket = F.floor(
        keyed_uniform(seed, F.col(key_col)) * F.lit(n_shards)
    ).cast("int")
    data_dir = os.path.join(out_dir, "data")
    out = df.withColumn("shard_id", bucket).repartition(n_shards, "shard_id")
    w = out.write.mode("overwrite").partitionBy("shard_id")
    (w.json(data_dir) if fmt == "json" else w.parquet(data_dir))

    spark = df.sparkSession
    back = spark.read.format(fmt).load(data_dir)
    per_shard = {
        int(r["shard_id"]): r["cnt"]
        for r in back.groupBy("shard_id").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    manifest = {
        "format": fmt,
        "rows": n,
        "rows_read_back": int(sum(per_shard.values())),
        "n_shards": n_shards,
        "rows_per_shard_target": rows_per_shard,
        "per_shard_rows": {str(k): int(v) for k, v in sorted(per_shard.items())},
        "seed": seed,
        "key_col": key_col,
    }
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "shards_manifest.json"), "w") as f:
        json.dump(manifest, f, indent=2)
    return manifest
