"""Per-layer metrics from a traced run (``--trace 1``).

The traced run first runs one untraced operation in a child process.  It
then sets up with the Spark event log on, exactly as an untraced run does
(warm-up included), and runs the workload's operation once as is.
``trace.overhead_ratio`` is that wall over the untraced wall.

- **Batch workloads.** The pipeline then runs layer by layer, in the order
  ``pipeline.dedup_pipeline`` composes it, with a persist-and-count barrier
  after each layer and one Spark job group per layer.  Parsing the event
  log gives task time, max task time, shuffle, spill and GC per group.  The
  staged total minus the traced barrier-free wall of the same session is
  ``pipeline.barrier_overhead_s``.  The staged run must yield the same
  assignments as the barrier-free call, and its total may not fall more
  than ``STAGED_NOISE`` below that call's wall.
- **Stream workload.** Each micro-batch, ``compact()`` and the
  ``assignments()`` read get their own job group.  State files and bytes
  are counted on disk after each batch.
- **Kernels.** The ``functions`` kernels run Spark-free, single-threaded, in
  this process, on the workload's own rows (at most one Arrow batch).
  ``profile.overhead_ratio`` is the profile stage's task time over the
  kernel time for the same rows.

A metric whose layer the workload does not run reads 0: the stream has no
staged batch layers, and the batch workloads have no incremental state.
"""

from __future__ import annotations

import glob
import inspect
import json
import os
import statistics
import time
from contextlib import contextmanager

import numpy as np

import checks
import workloads

S, N, B, R = "s", "count", "bytes", "ratio"
PER_LAYER = {
    "functions.shingle_hash_s": S,
    "functions.minhash_bands_s": S,
    "functions.simhash_s": S,
    "functions.cp_hash_s": S,
    "substring.lcs_kernel_s": S,
    "profile.wall_s": S,
    "profile.task_s": S,
    "profile.rows": N,
    "profile.overhead_ratio": R,
    "candidates.wall_s": S,
    "candidates.task_s": S,
    "candidates.max_task_s": S,
    "candidates.shuffle_bytes": B,
    "candidates.spill_bytes": B,
    "candidates.stages": N,
    "candidates.pairs": N,
    "candidates.hot_buckets": N,
    "candidates.max_bucket": N,
    "candidates.pairs_dropped": N,
    "verify.wall_s": S,
    "verify.task_s": S,
    "verify.shuffle_bytes": B,
    "verify.pairs_accepted": N,
    "verify.accept_ratio": R,
    "substring.wall_s": S,
    "substring.winnow_s": S,
    "substring.fingerprints": N,
    "substring.fp_pairs_s": S,
    "substring.fp_pairs": N,
    "substring.accepted_pairs": N,
    "substring.accept_ratio": R,
    "cluster.wall_s": S,
    "cluster.edges": N,
    "cluster.components": N,
    "cluster.largest_component": N,
    "cluster.distributed_path": N,
    "pipeline.mapback_s": S,
    "pipeline.staged_total_s": S,
    "pipeline.barrier_overhead_s": S,
    "pipeline.gc_s": S,
    "incremental.batch_s": S,
    "incremental.last_batch_s": S,
    "incremental.jobs_per_batch": N,
    "incremental.files_per_batch": N,
    "incremental.state_bytes": B,
    "incremental.compact_s": S,
    "table.snapshots": N,
    "table.data_files": N,
    "query.assignments_s": S,
    "trace.overhead_ratio": R,
}
KERNEL_REPS = 5
# the staged layers redo all of the barrier-free call's work, plus the
# barriers, so their total is at least its wall, less run-to-run noise
# (single calls vary by ~10%).  The substring sub-layers make up ~25% of
# it: a staged run that reused their caches would fall below this
STAGED_NOISE = 0.2


class Stages:
    """Job group per layer, with the layer's wall time."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.wall: dict[str, float] = {}

    @contextmanager
    def __call__(self, name: str):
        self.sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.wall[name] = self.wall.get(name, 0.0) + time.perf_counter() - t0
            self.sc.setLocalProperty("spark.jobGroup.id", None)


def parse_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: jobs, stages run, task time, max task time, GC,
    shuffle bytes written and bytes spilled, from the (stopped) session's
    event log."""
    (path,) = glob.glob(os.path.join(log_dir, "*"))
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}

    def g(name):
        return out.setdefault(name, {
            "jobs": 0, "stages": set(), "task_s": 0.0, "max_task_s": 0.0,
            "gc_s": 0.0, "shuffle_bytes": 0, "spill_bytes": 0,
        })

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                grp = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if grp:
                    g(grp)["jobs"] += 1
            elif kind == "SparkListenerStageSubmitted":
                grp = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if grp:
                    stage_group[ev["Stage Info"]["Stage ID"]] = grp
            elif kind == "SparkListenerTaskEnd":
                grp = stage_group.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if grp is None or not m:
                    continue
                rec = g(grp)
                run_s = m["Executor Run Time"] / 1000
                rec["stages"].add(ev["Stage ID"])
                rec["task_s"] += run_s
                rec["max_task_s"] = max(rec["max_task_s"], run_s)
                rec["gc_s"] += m["JVM GC Time"] / 1000
                rec["shuffle_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                rec["spill_bytes"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
    for rec in out.values():
        rec["stages"] = len(rec["stages"])
    return out


def _median_time(fn, reps: int = KERNEL_REPS) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def profile_kernels(sample, cfg) -> dict[str, float]:
    """The profile stage's numpy kernels, as ``multimodal_profile`` calls
    them (2,048-caption blocks), on the same rows; median of reps."""
    from lsh_project_spark.functions.hashing import minhash_params
    from lsh_project_spark.functions.textsig import (
        minhash_bands_from_block,
        shingle_hash_block,
        simhash_from_block,
    )
    from lsh_project_spark.operators.signatures import SIMHASH_SALT
    from lsh_project_spark.oracle.lsh_core import concat_hashes, cp_hash
    from lsh_project_spark.params import fold_rotations
    from lsh_project_spark.sources.codecs import phash_to_vector

    texts = sample["caption"].tolist()
    phash = sample["phash"].to_numpy()
    n = len(texts)
    rot = fold_rotations(cfg.cp)
    L, k, d, _ = rot.shape
    rot2d = np.ascontiguousarray(rot.transpose(3, 0, 1, 2).reshape(d, L * k * d))
    mh = cfg.minhash
    a, b, c = minhash_params(mh.num_perm, mh.seed)
    spans = [(lo, lo + 2048) for lo in range(0, n, 2048)]
    blocks = [shingle_hash_block(texts[lo:hi], mh.shingle_size) for lo, hi in spans]

    def cp():
        y = (phash_to_vector(phash) @ rot2d).reshape(n, L, k, d)
        concat_hashes(cp_hash(y), d)

    def shingles():
        for lo, hi in spans:
            shingle_hash_block(texts[lo:hi], mh.shingle_size)

    def minhash():
        for blk in blocks:
            minhash_bands_from_block(
                blk.h62, blk.inv, blk.starts, a, b, c, mh.num_bands, mh.rows_per_band
            )

    def simhash():
        for blk in blocks:
            simhash_from_block(blk.h62, blk.inv, blk.starts)
            simhash_from_block(blk.salted_h62(SIMHASH_SALT), blk.inv, blk.starts)

    return {
        "functions.shingle_hash_s": _median_time(shingles),
        "functions.minhash_bands_s": _median_time(minhash),
        "functions.simhash_s": _median_time(simhash),
        "functions.cp_hash_s": _median_time(cp),
    }


def lcs_kernel(pairs, min_len: int) -> float:
    """The substring verify kernel over the fingerprint candidate pairs the
    verify scans (equal texts are accepted without a scan), each document's
    gram hashes computed once, as the verify stage does."""
    from lsh_project_spark.operators.substring import (
        _kgram_hashes,
        lcs_len_via_diagonal_runs,
    )

    pairs = pairs[pairs["ta"] != pairs["tb"]]
    rows = list(zip(pairs["a"], pairs["b"], pairs["ta"], pairs["tb"]))

    def run():
        grams: dict = {}
        for a, b, ta, tb in rows:
            if a not in grams:
                grams[a] = _kgram_hashes(ta, min_len)
            if b not in grams:
                grams[b] = _kgram_hashes(tb, min_len)
            lcs_len_via_diagonal_runs(ta, tb, min_len, grams[a], grams[b])

    return _median_time(run, 3)


def staged_batch(spark, path: str, cfg, stage: Stages):
    """``dedup_pipeline``'s composition, one layer at a time.  Returns the
    layer counts, the final (image_id, cluster_id) frame and the substring
    candidate pairs with both texts (the LCS kernel's input)."""
    import pyspark.sql.functions as F
    from pyspark.storagelevel import StorageLevel

    from lsh_project_spark.operators.candidates import candidate_pairs
    from lsh_project_spark.operators.cluster import (
        DRIVER_CC_MAX_EDGES,
        assign_clusters,
    )
    from lsh_project_spark.operators.profile import (
        multimodal_profile,
        profile_signatures,
        verify_pairs_from_profile,
    )
    from lsh_project_spark.operators.substring import (
        substring_pairs,
        winnowed_fingerprints,
    )
    from lsh_project_spark.pipeline import map_back_assignments

    mem = StorageLevel.MEMORY_AND_DISK
    slim = spark.read.parquet(path).select("image_id", "caption", "phash")
    if slim.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism:
        slim = slim.repartition(spark.sparkContext.defaultParallelism)
    idmap = slim.select(F.xxhash64("image_id").alias("hid"), "image_id")
    slim = slim.select(F.xxhash64("image_id").alias("image_id"), "caption", "phash")
    docs = slim.select("image_id", F.col("caption").alias("text"))
    c = {}
    with stage("profile"):
        profile = multimodal_profile(slim, cfg).persist(mem)
        c["profile.rows"] = profile.count()
    with stage("candidates"):
        sigs = profile_signatures(profile, cfg).select(
            "image_id", F.xxhash64("modality", "band", "bucket").alias("bucket")
        )
        dstats: dict = {}
        cands = candidate_pairs(
            sigs, bucket_cols=("bucket",),
            hot_bucket_threshold=cfg.hot_bucket_threshold, drop_stats=dstats,
        ).persist(mem)
        c["candidates.pairs"] = cands.count()
        drops = dstats["df"].first()
    c["candidates.hot_buckets"] = drops["hot_buckets"]
    c["candidates.max_bucket"] = drops["max_bucket"]
    c["candidates.pairs_dropped"] = drops["pairs_dropped"]
    with stage("verify"):
        pairs = verify_pairs_from_profile(cands, profile, cfg).persist(mem)
        c["verify.pairs_accepted"] = pairs.count()
    # sub-layers of the substring modality, measured on their own first
    with stage("substring.winnow"):
        fps = winnowed_fingerprints(docs, cfg.substring, id_col="image_id").persist(mem)
        c["substring.fingerprints"] = fps.count()
    # the hot-fingerprint threshold the pipeline's substring_pairs call uses
    fp_hot = inspect.signature(substring_pairs).parameters["hot_threshold"].default
    with stage("substring.fp_pairs"):
        fp_pairs = candidate_pairs(
            fps, id_col="image_id", bucket_cols=("fp",), hot_bucket_threshold=fp_hot
        ).persist(mem)
        c["substring.fp_pairs"] = fp_pairs.count()
    # the LCS kernel's input, read before the sub-layers' caches are freed:
    # cached, they would serve the substring_pairs call below, which then
    # would not redo the winnow and the fingerprint join
    text = docs.withColumnRenamed("image_id", "_id")
    lcs_pairs = (
        fp_pairs.join(text.select(F.col("_id").alias("a"), F.col("text").alias("ta")), "a")
        .join(text.select(F.col("_id").alias("b"), F.col("text").alias("tb")), "b")
        .toPandas()
    )
    fp_pairs.unpersist(blocking=True)
    fps.unpersist(blocking=True)
    with stage("substring"):
        sub = substring_pairs(
            docs, cfg.substring, id_col="image_id", text_col="text"
        ).select("a", "b").persist(mem)
        c["substring.accepted_pairs"] = sub.count()
    with stage("cluster"):
        edges = pairs.unionByName(sub).dropDuplicates(["a", "b"]).persist(mem)
        c["cluster.edges"] = edges.count()
        labels = assign_clusters(profile, edges, id_col="image_id").persist(mem)
        sizes = labels.groupBy("cluster_id").count().toPandas()["count"]
    c["cluster.components"] = len(sizes)
    c["cluster.largest_component"] = int(sizes.max())
    c["cluster.distributed_path"] = int(c["cluster.edges"] > DRIVER_CC_MAX_EDGES)
    with stage("mapback"):
        assign = map_back_assignments(labels, idmap).toPandas()
    spark.catalog.clearCache()
    return c, assign, lcs_pairs


def _dir_stats(path: str) -> tuple[int, int]:
    files = size = 0
    for root, _, names in os.walk(path):
        for name in names:
            files += 1
            size += os.path.getsize(os.path.join(root, name))
    return files, size


def per_layer(wl, spark, log_dir, work, inp, untraced_wall, seed, tally):
    """Traced run of ``wl`` on ``spark`` (event log on, set up like an
    untraced run); stops the session, then returns {metric: (value, unit)}
    for every PER_LAYER metric."""
    from lsh_project_spark.config import PipelineConfig

    cfg = PipelineConfig()
    m = dict.fromkeys(PER_LAYER, 0.0)
    stage = Stages(spark)
    try:
        if wl.name == "stream_incremental":
            state = []  # (files, bytes) under the stream's dir after each batch
            r = wl.run_op(
                spark, inp.paths, work, stage=stage,
                on_batch=lambda: state.append(_dir_stats(os.path.join(work, "stream"))),
            )
            digest = checks.check_op(wl, r, inp, tally)
            files = [0] + [f for f, _ in state]
            m["incremental.batch_s"] = statistics.median(r.batch_s)
            m["incremental.last_batch_s"] = r.batch_s[-1]
            m["incremental.files_per_batch"] = statistics.median(np.diff(files))
            m["incremental.state_bytes"] = state[-1][1]
            m["incremental.compact_s"] = r.extra["compact_s"]
            m["table.snapshots"] = len(r.extra["inc"].pairs_table.snapshots())
            m["table.data_files"] = len(glob.glob(
                os.path.join(r.extra["state"], "pairs", "**", "*.parquet"), recursive=True
            ))
        else:
            with stage("e2e"):
                r = wl.run_op(spark, inp.paths, work)
            digest = checks.check_op(wl, r, inp, tally)
            counts, assign, lcs_pairs = staged_batch(spark, inp.paths[0], cfg, stage)
            m.update(counts)
            tally.record(1, [] if checks.digest(assign) == digest else [
                "staged run assignments differ from the barrier-free run"
            ])
            m["substring.lcs_kernel_s"] = lcs_kernel(lcs_pairs, cfg.substring.min_length)
        checks.check_seed_digest(work, wl.name, seed, digest, tally)
        m["trace.overhead_ratio"] = r.wall_s / untraced_wall
        m["query.assignments_s"] = workloads.query_seconds(r.read())
    finally:
        spark.stop()
    groups = parse_event_log(log_dir)
    m.update(profile_kernels(inp.sample, cfg))
    if wl.name == "stream_incremental":
        batch_groups = [groups.get(f"batch.{i}", {}) for i in range(len(inp.paths))]
        m["incremental.jobs_per_batch"] = statistics.median(
            gr.get("jobs", 0) for gr in batch_groups
        )
    else:
        layers = ["profile", "candidates", "verify", "substring", "cluster", "mapback"]
        for name in layers[:-1]:
            m[f"{name}.wall_s"] = stage.wall[name]
        for name in ("profile", "candidates", "verify"):
            m[f"{name}.task_s"] = groups[name]["task_s"]
        cg = groups["candidates"]
        m["candidates.max_task_s"] = cg["max_task_s"]
        m["candidates.shuffle_bytes"] = cg["shuffle_bytes"]
        m["candidates.spill_bytes"] = cg["spill_bytes"]
        m["candidates.stages"] = cg["stages"]
        m["verify.shuffle_bytes"] = groups["verify"]["shuffle_bytes"]
        m["verify.accept_ratio"] = m["verify.pairs_accepted"] / max(1, m["candidates.pairs"])
        m["substring.winnow_s"] = stage.wall["substring.winnow"]
        m["substring.fp_pairs_s"] = stage.wall["substring.fp_pairs"]
        m["substring.accept_ratio"] = m["substring.accepted_pairs"] / max(1, m["substring.fp_pairs"])
        m["pipeline.mapback_s"] = stage.wall["mapback"]
        m["pipeline.staged_total_s"] = sum(stage.wall[n] for n in layers)
        # against the barrier-free wall of the same (traced, warm) session
        m["pipeline.barrier_overhead_s"] = m["pipeline.staged_total_s"] - r.wall_s
        if m["pipeline.staged_total_s"] < (1 - STAGED_NOISE) * r.wall_s:
            tally.flag([
                f"staged total {m['pipeline.staged_total_s']:.2f} s is below the "
                f"barrier-free wall {r.wall_s:.2f} s: a layer was served from cache"
            ])
        m["pipeline.gc_s"] = sum(groups.get(n, {}).get("gc_s", 0.0) for n in layers)
        kernel_s = sum(m[k] for k in m if k.startswith("functions."))
        m["profile.overhead_ratio"] = m["profile.task_s"] / kernel_s
    return {k: (float(m[k]), u) for k, u in PER_LAYER.items()}
