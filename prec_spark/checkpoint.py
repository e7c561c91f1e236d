"""Checkpoint-resumable stage execution with per-file lineage.

BASELINE.json north_rule: "resumable from checkpoint with per-partition
lineage + metrics". Each stage writes its output as parquet under the
pipeline workdir; a stage whose output already exists (Spark's own
_SUCCESS marker) is NOT recomputed on resume — the parquet is read
back and downstream lineage continues from it.

Bookkeeping costs no Spark job:

* a freshly written stage is read back with the schema of the frame
  that was just written (no schema-inference job); a resumed stage
  keeps inference, since nothing in this run knows its schema
* ``per_partition`` has one entry per written part file (the writing
  task's partition id, the file, its rows), taken from the parquet
  footers; ``rows`` is their sum and ``partitions`` their number

Together with the stage wall time these are appended to
``metrics.jsonl``. The footers are read from the local filesystem,
like the ``_SUCCESS`` marker.

The reference has no counterpart (strictly in-memory batch,
SURVEY.md §2.9); this is pure scale infrastructure.
"""

from __future__ import annotations

import json
import os
import re
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

_PART_ID = re.compile(r"part-(\d+)")


@dataclass
class StageMetrics:
    stage: str
    rows: int
    partitions: int
    wall_ms: int
    resumed: bool
    per_partition: list[dict] = field(default_factory=list)


def part_file_rows(path: str) -> list[dict]:
    """One ``{partition_id, file, rows}`` per parquet part file under
    ``path`` (partition subdirectories included), from the footers."""
    out = []
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for name in sorted(files):
            if not name.endswith(".parquet") or name.startswith(("_", ".")):
                continue
            full = os.path.join(root, name)
            m = _PART_ID.match(name)
            out.append(
                {
                    "partition_id": int(m.group(1)) if m else None,
                    "file": os.path.relpath(full, path),
                    "rows": pq.read_metadata(full).num_rows,
                }
            )
    return out


class CheckpointedPipeline:
    def __init__(self, spark: SparkSession, workdir: str):
        self.spark = spark
        self.workdir = workdir
        self.metrics: list[StageMetrics] = []
        os.makedirs(workdir, exist_ok=True)

    def _path(self, stage: str) -> str:
        return os.path.join(self.workdir, stage)

    def _done(self, stage: str) -> bool:
        return os.path.exists(os.path.join(self._path(stage), "_SUCCESS"))

    def stage(self, name: str, build, partition_by: str | None = None) -> DataFrame:
        """Run (or resume) one stage. `build` is a thunk returning the
        stage's DataFrame; its output is persisted as parquet."""
        t0 = time.time()
        path = self._path(name)
        resumed = self._done(name)
        if resumed:
            out = self.spark.read.parquet(path)
        else:
            df = build()
            writer = df.write.mode("overwrite")
            if partition_by:
                writer = writer.partitionBy(partition_by)
            writer.parquet(path)
            out = self.spark.read.schema(df.schema).parquet(path)

        per_partition = part_file_rows(path)
        m = StageMetrics(
            stage=name,
            rows=sum(p["rows"] for p in per_partition),
            partitions=len(per_partition),
            wall_ms=int((time.time() - t0) * 1000),
            resumed=resumed,
            per_partition=per_partition,
        )
        self.metrics.append(m)
        with open(os.path.join(self.workdir, "metrics.jsonl"), "a") as f:
            f.write(json.dumps(m.__dict__) + "\n")
        return out
