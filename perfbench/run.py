"""Dedup engine benchmark: one workload per invocation, closed loop, one
caller, on a Spark session sized to the host.

    python3 perfbench/run.py --workload dedup_skewed --seed 1 --seconds 20 --trace 0

Run from the repository root.  It generates the workload's inputs from
``--seed`` (set-up, timed as ``setup_s``), repeats the workload's operation
until ``--seconds`` have passed and it has run the workload's minimum
number of times, checks every operation's output, and prints one JSON
object as its last stdout line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` runs one
untraced operation in a child process, then sets up again with the Spark
event log on and reports the per-layer metrics (see perfbench/layers.py).
Exits non-zero if any operation fails or any check does not hold.
Everything it writes stays under ``.perfbench_work/`` in the working
directory.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the heap is a quarter of host RAM, at most this: the workloads need
# well under 1 GB and the host's memory is shared
MAX_HEAP_GB = 2


def host_size() -> tuple[int, int]:
    """(cores, driver heap GB) from the CPU affinity mask and MemTotal."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = int(re.search(r"MemTotal:\s+(\d+)", f.read()).group(1))
    return cores, max(1, min(MAX_HEAP_GB, mem_kb // (4 << 20)))


def prepare_env(work: str, cores: int, heap_gb: int) -> None:
    """Host-sized Spark settings and in-checkout temp dirs; must run before
    numpy or pyspark is imported (BLAS reads its thread count on load)."""
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEM"] = f"{heap_gb}g"
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # Python workers import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)


def new_session(work: str, event_log: str | None = None):
    from lsh_project_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    extra = {
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed-size heap: no heap resizing between runs
        "spark.driver.extraJavaOptions": (
            f"-Xms{os.environ['SPARK_DRIVER_MEM']} -Djava.io.tmpdir={tmp} "
            "-XX:-UsePerfData"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app="perfbench", extra=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def descendants(root: int) -> list[int]:
    """Every live process below ``root``, read from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def ended(pid: int) -> bool:
    """The process is gone, or a zombie waiting to be reaped."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def stop_engine(spark, timeout: float = 30.0) -> None:
    """Stop Spark and the JVM it runs in, and wait until every process this
    run started has ended.  ``spark.stop()`` leaves the JVM running; it
    exits when its stdin closes, which otherwise happens only as this
    process exits, and it then outlives it by up to a second."""
    from pyspark import SparkContext

    try:
        if spark is not None:
            spark.stop()
    finally:
        left = descendants(os.getpid())
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()
                try:
                    proc.wait(timeout)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        deadline = time.monotonic() + timeout
        while left := [pid for pid in left if not ended(pid)]:
            if time.monotonic() > deadline:
                for pid in left:
                    with contextlib.suppress(OSError):
                        os.kill(pid, signal.SIGKILL)
                deadline = time.monotonic() + timeout
            time.sleep(0.05)


class MemSampler:
    """Peak memory the engine holds during each timed operation, sampled
    every ``period`` seconds: the JVM memory Spark's memory manager has
    handed out (cached blocks and broadcasts, plus the sort, aggregation
    and shuffle buffers of running tasks), plus the PSS of the Python
    workers, read from /proc.  ``end_op()`` closes an operation's window;
    ``peak_mb()`` is the median over the windows.

    Neither part is set by the session's configuration.  The heap is a
    fixed 2 GB, so the JVM's resident size stays near 2 GB whatever the
    engine holds, and its heap in use after a collection grows with garbage
    promoted since the last old-generation cycle.  Forked workers share
    most pages, so their plain RSS counted those once per worker.  This
    process (the benchmark itself) is not counted."""

    def __init__(self, spark, period: float = 0.5):
        self.memory_manager = (
            spark.sparkContext._jvm.org.apache.spark.SparkEnv.get().memoryManager()
        )
        self.period = period
        self.jvm_peak = 0
        self.py_peak_kb = 0
        self.windows: list[tuple[int, int]] = []  # (JVM bytes, worker kB)
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def workers_kb() -> int:
        """PSS of every Python process below this one.  Anything else is
        skipped: the JVM, and the short-lived children it forks to run
        commands, which share its address space until they exec (their PSS
        read as the JVM's 2-3 GB)."""
        total = 0
        for pid in descendants(os.getpid()):
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as f:
                    argv0 = f.read().split(b"\0", 1)[0]
                if not os.path.basename(argv0).startswith(b"python"):
                    continue
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    total += int(re.search(r"^Pss:\s+(\d+)", f.read(), re.M).group(1))
            except (OSError, AttributeError):
                pass  # the process ended between listing and reading
        return total

    def _loop(self) -> None:
        mm = self.memory_manager
        while not self._stop.wait(self.period):
            jvm = mm.storageMemoryUsed() + mm.executionMemoryUsed()
            py_kb = self.workers_kb()
            with self._lock:
                self.jvm_peak = max(self.jvm_peak, jvm)
                self.py_peak_kb = max(self.py_peak_kb, py_kb)

    def end_op(self) -> None:
        with self._lock:
            self.windows.append((self.jvm_peak, self.py_peak_kb))
            self.jvm_peak = self.py_peak_kb = 0

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def peak_mb(self) -> float:
        med = statistics.median
        jvm_mb = med(w[0] for w in self.windows) / (1 << 20)
        py_mb = med(w[1] for w in self.windows) / 1024
        print(f"memory (median of {len(self.windows)} operations): "
              f"Spark-managed {jvm_mb:.1f} MB, workers {py_mb:.1f} MB", flush=True)
        return med((j / (1 << 20) + k / 1024) for j, k in self.windows)


def set_up(wl, spark, work: str, seed: int):
    """Generate the inputs and write them to Parquet, then run the
    workload's warm-up, if it has one.  setup_s is the time of both."""
    t0 = time.perf_counter()
    inp = wl.make_inputs(spark, work, seed)
    t1 = time.perf_counter()
    for _ in range(wl.warm_up_calls):
        wl.run_op(spark, inp.paths, work)
    t2 = time.perf_counter()
    print(f"set-up: generate {t1 - t0:.2f} s, warm-up {t2 - t1:.2f} s", flush=True)
    return inp, t2 - t0


def measure(wl, spark, inp, work: str, seed: int, seconds: float, tally, mem):
    """Closed loop: run the operation back to back for ``seconds``, and at
    least ``wl.min_calls`` times; every result is checked, and all must
    carry one digest.  ``mem`` closes its window after each operation."""
    import checks

    results, digests, calls = [], set(), 0
    t_end = time.perf_counter() + seconds
    while calls < wl.min_calls or time.perf_counter() < t_end:
        calls += 1
        try:
            r = wl.run_op(spark, inp.paths, work)
        except Exception:  # a failed op is counted, and the loop goes on
            traceback.print_exc()
            tally.record(wl.ops_per_run, ["operation raised"])
            continue
        finally:
            mem.end_op()
        digests.add(checks.check_op(wl, r, inp, tally))
        if len(digests) > 1:
            tally.flag(["assignments differ between operations of one seed"])
        results.append(r)
    if digests:
        checks.check_seed_digest(work, wl.name, seed, digests.pop(), tally)
    return results


def end_to_end(results, n_images: int, setup_s: float, peak_mb: float) -> dict:
    med = statistics.median
    wall = med(r.wall_s for r in results)
    return {
        "setup_s": (setup_s, "s"),
        "wall_s": (wall, "s"),
        "images_per_s": (n_images / wall, "1/s"),
        "batch_p50_s": (med(med(r.batch_s) for r in results), "s"),
        "pair_recall": (med(r.extra["recall"] for r in results), "ratio"),
        "peak_mem_mb": (peak_mb, "MB"),
    }


def untraced_run(args, tally) -> float:
    """One untraced operation in a child process (its own fresh JVM, as the
    traced run gets): returns its wall_s and adds its operations to
    ``tally``."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", "0", "--trace", "0"]
    with subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True) as child:
        try:
            out, _ = child.communicate()
        except BaseException:
            child.terminate()  # it stops its own JVM on SIGTERM
            child.wait()
            raise
    lines = out.strip().splitlines()
    for line in lines[:-1]:
        print(f"untraced: {line}", flush=True)
    res = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    if res is None:
        raise RuntimeError(f"untraced run failed with exit code {child.returncode}")
    tally.attempted += res["attempted"]
    tally.failed += res["failed"]
    if not res["correct"]:
        tally.flag(["untraced run failed its checks"], count=False)
    return res["metrics"]["wall_s"]["value"]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops the processes it started (the finally
    # below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    base = os.path.join(os.getcwd(), ".perfbench_work")
    work = os.path.join(base, f"run-{os.getpid()}")
    cores, heap_gb = host_size()
    prepare_env(work, cores, heap_gb)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}")
    wl = workloads.WORKLOADS[args.workload]
    print(f"host: cores={cores} heap={heap_gb}g workload={wl.name} "
          f"seed={args.seed} seconds={args.seconds}", flush=True)

    import checks

    tally = checks.Tally()
    spark = None
    try:
        if args.trace:
            import layers

            untraced_wall = untraced_run(args, tally)
            log_dir = os.path.join(work, "eventlog")
            spark = new_session(work, event_log=log_dir)
            inp, _ = set_up(wl, spark, work, args.seed)
            metrics = layers.per_layer(
                wl, spark, log_dir, work, inp, untraced_wall, args.seed, tally
            )
        else:
            spark = new_session(work)
            inp, setup_s = set_up(wl, spark, work, args.seed)
            with MemSampler(spark) as mem:
                results = measure(
                    wl, spark, inp, work, args.seed, args.seconds, tally, mem
                )
            if not results:
                print("no operation succeeded", file=sys.stderr)
                return 1
            metrics = end_to_end(results, len(inp.truth), setup_s, mem.peak_mb())
    finally:
        stop_engine(spark)
        shutil.rmtree(work, ignore_errors=True)
    for name, (value, unit) in metrics.items():
        print(f"{name:32s} {value:14.4f} {unit}", flush=True)
    print(f"{'error_rate':32s} {tally.failed / max(1, tally.attempted):14.4f} "
          f"ratio ({tally.failed} of {tally.attempted} operations)", flush=True)
    ok = tally.failed == 0 and not tally.errors
    print(json.dumps({
        "correct": ok,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
