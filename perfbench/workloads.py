"""The workloads: seeded set-up, one timed operation, its checks.

A batch operation is one ``pipeline.dedup_pipeline`` call on the whole
images table, timed from the call until the assignments are written to
Parquet and read back into the driver.  A stream operation is a fresh
``IncrementalDedup`` fed every micro-batch through ``process_batch``, then
``compact()`` and an ``assignments()`` read.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field
from typing import Callable

import pandas as pd

import checks
import inputs

# 200 documents tile to ~2,670 images: the sf0.1 table (5,000 documents,
# 66,670 images) takes ~30 s per pipeline call on 4 cores, which no
# per-run time budget of this benchmark can hold
N_DOCS = 200
# stream: ~240 rows over 2 micro-batches.  Per-batch cost is set by the
# engine's per-job overhead, not by batch size (200-row batches measured
# 15-52 s each with the default 64 store partitions), so the stream uses 8
# store partitions to fit the run budget; batch 2 still runs against stored
# state, which is where per-batch cost grows
STREAM_ROWS = 240
STREAM_DOCS = 40  # tile to ~530 images, the table the stream samples
STREAM_BATCHES = 2
STREAM_STORE_PARTITIONS = 8
# an assignments read takes ~30 ms: the traced run's query time is the
# median of many reads
QUERY_REPS = 21


@dataclass
class Inputs:
    paths: list[str]  # one images table per micro-batch (one for batch)
    truth: pd.DataFrame  # image_id, true_cluster_id[, skew_group]
    sample: pd.DataFrame  # caption/phash rows for the kernel microbench


@dataclass
class OpResult:
    wall_s: float
    batch_s: list[float]
    assign: pd.DataFrame
    read: Callable  # () -> the stored assignments as a DataFrame
    extra: dict = field(default_factory=dict)


def query_seconds(df) -> float:
    """Median time to collect ``df`` to the driver, over QUERY_REPS reads."""
    times = []
    for _ in range(QUERY_REPS):
        t0 = time.perf_counter()
        df.toPandas()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


class BatchDedup:
    ops_per_run = 1
    # untimed full calls before timing.  After one, the next three calls
    # still sped up (e.g. 9.6, 8.7, 8.1 s) as the JVM warmed, and a run's
    # median sat on that slope
    warm_up_calls = 2
    # timed calls, at least.  Where calls took ~10 s, a 20 s window held 2,
    # whose median leaned on the first, slower one: runs fell into two
    # clusters (spread 0.25 over 10 seeds; 0.06 and 0.18 with at least 3)
    min_calls = 3

    def __init__(self, name: str, skewed: bool):
        self.name = name
        self.skewed = skewed

    def make_inputs(self, spark, work: str, seed: int) -> Inputs:
        pdf = inputs.tiled_images(spark, N_DOCS, seed)
        if self.skewed:
            pdf = inputs.inject_skew(pdf, seed)
        path = os.path.join(work, "images")
        inputs.write_images(spark, pdf, path, spark.sparkContext.defaultParallelism)
        truth_cols = ["image_id", "true_cluster_id"] + (
            ["skew_group"] if self.skewed else []
        )
        return Inputs([path], pdf[truth_cols], pdf[["caption", "phash"]])

    def run_op(self, spark, paths: list[str], work: str) -> OpResult:
        """Wall: the call until the assignments are written and read back."""
        from lsh_project_spark.pipeline import dedup_pipeline

        out = os.path.join(work, "assignments")
        t0 = time.perf_counter()
        res = dedup_pipeline(spark.read.parquet(paths[0]))
        res.assignments.write.mode("overwrite").parquet(out)
        t1 = time.perf_counter()
        assign = spark.read.parquet(out).toPandas()
        t2 = time.perf_counter()
        spark.catalog.clearCache()
        return OpResult(t2 - t0, [t2 - t0], assign, lambda: spark.read.parquet(out))

    def check(self, r: OpResult, inp: Inputs) -> list[str]:
        errs = checks.check_assignments(r.assign, inp.truth["image_id"])
        errs += checks.check_recall(checks.pair_recall(r.assign, inp.truth))
        if self.skewed:
            errs += checks.check_skew_groups(r.assign, inp.truth)
        return errs


class StreamDedup:
    name = "stream_incremental"
    ops_per_run = STREAM_BATCHES + 1  # each micro-batch, then compact + read
    # measured as a newly started stream runs it, on a fresh session: its
    # first pass is also the steadier one (spread 0.05 over seeds, against
    # 0.18 for a pass after a warm-up)
    warm_up_calls = 0
    min_calls = 1

    def make_inputs(self, spark, work: str, seed: int) -> Inputs:
        pdf = inputs.tiled_images(spark, STREAM_DOCS, seed)
        parts = inputs.stream_batches(pdf, seed, STREAM_ROWS, STREAM_BATCHES)
        paths = []
        for i, part in enumerate(parts):
            paths.append(os.path.join(work, f"batch-{i}"))
            inputs.write_images(spark, part, paths[-1], 1)
        rows = pd.concat(parts, ignore_index=True)
        return Inputs(
            paths, rows[["image_id", "true_cluster_id"]], rows[["caption", "phash"]]
        )

    def run_op(
        self, spark, paths: list[str], work: str, stage=None, on_batch=None
    ) -> OpResult:
        """Wall: every batch, compact() and the first assignments() read.
        ``stage(name)`` wraps each batch, the compaction and the read (the
        traced run sets job groups with it); ``on_batch()`` runs after each
        batch, outside the timings."""
        from lsh_project_spark.streaming.incremental import IncrementalDedup

        stage = stage or (lambda name: contextlib.nullcontext())
        state = os.path.join(work, "stream")
        shutil.rmtree(state, ignore_errors=True)
        inc = IncrementalDedup(
            spark,
            os.path.join(state, "state"),
            num_store_partitions=STREAM_STORE_PARTITIONS,
            pairs_table_root=os.path.join(state, "pairs"),
        )
        batch_s = []
        for i, path in enumerate(paths):
            tb = time.perf_counter()
            with stage(f"batch.{i}"):
                inc.process_batch(spark.read.parquet(path), i)
            batch_s.append(time.perf_counter() - tb)
            if on_batch is not None:
                on_batch()
        tc = time.perf_counter()
        with stage("compact"):
            inc.compact()
        tq = time.perf_counter()
        with stage("assignments"):
            assign = inc.assignments().toPandas()
        t2 = time.perf_counter()
        spark.catalog.clearCache()
        return OpResult(
            sum(batch_s) + t2 - tc, batch_s, assign, inc.assignments,
            {"compact_s": tq - tc, "inc": inc, "state": state},
        )

    def check(self, r: OpResult, inp: Inputs) -> list[str]:
        errs = checks.check_assignments(r.assign, inp.truth["image_id"])
        errs += checks.check_recall(checks.pair_recall(r.assign, inp.truth))
        return errs


WORKLOADS = {
    "dedup_tiled": BatchDedup("dedup_tiled", skewed=False),
    "dedup_skewed": BatchDedup("dedup_skewed", skewed=True),
    "stream_incremental": StreamDedup(),
}
