"""Checkpoint / resume protocol (SURVEY §4.3; north_rule resumability).

Maps the reference's JSON caches + skip-if-exists guards
(src/linker.py:48-56, src/summarize.py:67-79 + 209-212,
src/pipeline.py:31-33, src/storage.py:283-285) onto per-stage checkpoint
tables:

    run_stage = load checkpoint -> anti-join remaining work -> compute the
    remainder only -> append output + done-key marker -> return full table.

Completion is tracked in a separate `<stage>__done` key table, NOT inferred
from output keys — a work unit legitimately producing zero output rows (a
document with no acronyms) must still count as done. Output is appended
before the marker; Spark's file committer makes each append atomic at job
granularity, so the only crash window is between output-commit and
marker-commit, which the full-row dropDuplicates in read() makes harmless
(stage outputs are row-distinct by construction).

A killed job re-runs the same driver program; every stage whose keys are
already marked contributes zero new computation. Storage is a table
directory per stage (Parquet here; the same code targets an Iceberg catalog
by swapping the writer — the sandbox has no Iceberg runtime jar, SURVEY
§7.3).
"""

from __future__ import annotations

import os
from typing import Callable, List

from pyspark.sql import DataFrame, SparkSession

from wbkg.io import hadoop_fs


class CheckpointManager:
    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base_dir = base_dir
        self.last_recomputed = 0

    def _path(self, stage: str) -> str:
        return os.path.join(self.base_dir, stage)

    def _exists(self, path: str) -> bool:
        # through the session's Hadoop FileSystem, so a URI base (file://,
        # hdfs://, s3a://) resumes exactly like a plain path
        fs, hpath = hadoop_fs(self.spark, path)
        return fs.exists(hpath) and any(
            name.endswith(".parquet") or name == "_SUCCESS"
            for name in (st.getPath().getName() for st in fs.listStatus(hpath))
        )

    def exists(self, stage: str) -> bool:
        return self._exists(self._path(stage))

    def read(self, stage: str) -> DataFrame:
        return self.spark.read.parquet(self._path(stage)).dropDuplicates()

    def append(self, stage: str, df: DataFrame) -> None:
        df.write.mode("append").parquet(self._path(stage))

    def pending(self, stage: str, work: DataFrame, keys: List[str]) -> DataFrame:
        """Left-anti join the work list against the stage's done-key marker —
        the relational form of 'skip if already done'."""
        done_path = self._path(stage + "__done")
        if not self._exists(done_path):
            return work
        done = self.spark.read.parquet(done_path).select(*keys).distinct()
        return work.join(done, keys, "left_anti")

    def run_stage(
        self,
        stage: str,
        work: DataFrame,
        compute: Callable[[DataFrame], DataFrame],
        keys: List[str],
    ) -> DataFrame:
        """Compute `compute(pending_work)` and append; returns the complete
        checkpointed table. self.last_recomputed reports how many work rows
        were actually recomputed (for the zero-recompute test)."""
        todo = self.pending(stage, work, keys).persist()
        n_todo = todo.count()
        self.last_recomputed = n_todo
        if n_todo > 0:
            self.append(stage, compute(todo))
            # marker AFTER output (see module docstring for the crash window)
            self.append(stage + "__done", todo.select(*keys).distinct())
        todo.unpersist()
        return self.read(stage)
