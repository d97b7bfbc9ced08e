"""Checkpoint-resumable stage execution with per-partition lineage.

North_rule: the index build must be "resumable from checkpoint with
per-partition lineage + metrics".  The reference achieves restartability
by reloading its dedup-state line files on SIGTERM restart
(tse/Crawl.cpp:716-723, 1162-1167); here each stage persists its output
table plus a manifest entry carrying:

- ``fingerprint`` — hash of (stage params + upstream fingerprint), so
  any upstream change invalidates everything downstream;
- ``rows``, ``seconds`` — stage metrics;
- ``partitions`` — per-output-partition row counts (lineage: which
  partition produced how many rows, recorded from the written table).

``run_stage`` skips a stage when the manifest fingerprint matches and
the output exists (_SUCCESS), returning the persisted DataFrame.
"""

from __future__ import annotations

import hashlib
import json
import os
import time

from pyspark.sql import DataFrame, SparkSession


class Manifest:
    def __init__(self, out_dir: str):
        self.out_dir = out_dir
        self.path = os.path.join(out_dir, "_manifest.json")
        self.stages: dict[str, dict] = {}
        if os.path.exists(self.path):
            with open(self.path) as f:
                self.stages = json.load(f)

    def save(self) -> None:
        os.makedirs(self.out_dir, exist_ok=True)
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self.stages, f, indent=1, sort_keys=True)
        os.replace(tmp, self.path)

    def fingerprint_ok(self, name: str, fingerprint: str) -> bool:
        return self.stages.get(name, {}).get("fingerprint") == fingerprint


def fingerprint(*parts: object) -> str:
    h = hashlib.sha256()
    for p in parts:
        h.update(repr(p).encode())
        h.update(b"\x00")
    return h.hexdigest()[:16]


def _partition_lineage(path: str) -> dict[str, int]:
    """Per-output-partition row counts straight from the parquet footers
    (driver-side metadata reads — no Spark job; each part file is one
    writer partition, so file row counts ARE the partition lineage)."""
    import pyarrow.parquet as pq

    parts: dict[str, int] = {}
    for fname in sorted(os.listdir(path)):
        if not fname.endswith(".parquet"):
            continue
        parts[fname] = pq.ParquetFile(
            os.path.join(path, fname)
        ).metadata.num_rows
    return parts


def _write_parquet(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").parquet(path)


def run_stage(
    spark: SparkSession,
    manifest: Manifest,
    name: str,
    fp: str,
    build: "callable[[], DataFrame]",
    resume: bool = True,
    write: "callable[[DataFrame, str], None]" = _write_parquet,
) -> DataFrame:
    """Build-or-reload one stage.  ``build()`` returns the stage's
    DataFrame; ``write(df, path)`` stores it at <out_dir>/<name> as
    parquet."""
    path = os.path.join(manifest.out_dir, name)
    done = os.path.join(path, "_SUCCESS")
    if resume and manifest.fingerprint_ok(name, fp) and os.path.exists(done):
        df = spark.read.parquet(path)
        manifest.stages[name]["resumed"] = True
        manifest.save()
        return df
    t0 = time.time()
    write(build(), path)
    df = spark.read.parquet(path)
    parts = _partition_lineage(path)
    manifest.stages[name] = {
        "fingerprint": fp,
        "rows": int(sum(parts.values())),
        "seconds": round(time.time() - t0, 3),
        "partitions": parts,
        "resumed": False,
        "path": path,
    }
    manifest.save()
    return df
