"""Correctness checks on one run's cluster assignments, and the tally of
operations attempted and failed.

Each check returns a list of failure messages (empty = pass), so a run can
report every broken property at once.
"""

from __future__ import annotations

import glob
import hashlib
import os
import sys

import pandas as pd

# planted duplicate pairs that must land in one cluster; the engine's
# measured recall on these inputs is 1.0
RECALL_FLOOR = 0.99


def digest(assign: pd.DataFrame) -> str:
    """Order-insensitive digest of (image_id, cluster_id)."""
    rows = assign.sort_values("image_id")
    h = hashlib.sha256()
    for i, c in zip(rows["image_id"], rows["cluster_id"]):
        h.update(f"{i}\t{c}\n".encode())
    return h.hexdigest()


def pair_recall(assign: pd.DataFrame, truth: pd.DataFrame) -> float:
    """Share of planted pairs (rows sharing true_cluster_id) whose members
    share a cluster label; counted per group without enumerating pairs."""
    m = truth[["image_id", "true_cluster_id"]].merge(assign, on="image_id")
    sizes = m.groupby("true_cluster_id").size()
    n_true = int((sizes * (sizes - 1) // 2).sum())
    if n_true == 0:
        return 1.0
    both = m.groupby(["true_cluster_id", "cluster_id"]).size()
    return int((both * (both - 1) // 2).sum()) / n_true


def check_assignments(assign: pd.DataFrame, ids: pd.Series) -> list[str]:
    """Every input id assigned exactly once; each label is its min member."""
    errs = []
    if assign["image_id"].duplicated().any():
        errs.append(f"{int(assign['image_id'].duplicated().sum())} ids assigned twice")
    missing = set(ids) - set(assign["image_id"])
    extra = set(assign["image_id"]) - set(ids)
    if missing or extra:
        errs.append(f"{len(missing)} input ids unassigned, {len(extra)} unknown ids")
    mins = assign.groupby("cluster_id")["image_id"].min()
    bad = int((mins.index != mins.to_numpy()).sum())
    if bad:
        errs.append(f"{bad} clusters not labelled by their min member id")
    return errs


def check_recall(recall: float) -> list[str]:
    if recall < RECALL_FLOOR:
        return [f"pair_recall {recall:.4f} below floor {RECALL_FLOOR}"]
    return []


def check_skew_groups(assign: pd.DataFrame, truth: pd.DataFrame) -> list[str]:
    """Each injected exact-duplicate group must form one cluster."""
    m = truth[truth["skew_group"] >= 0].merge(assign, on="image_id")
    split = m.groupby("skew_group")["cluster_id"].nunique()
    bad = split[split != 1]
    return [f"skew group {g} split over {n} clusters" for g, n in bad.items()]


class Tally:
    """Operations attempted and failed; a failed check fails its op."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def record(self, n_ops: int, errs: list[str]) -> None:
        """``n_ops`` operations attempted; all fail if ``errs``."""
        self.attempted += n_ops
        if errs:
            self.failed += n_ops
            self.flag(errs, count=False)

    def flag(self, errs: list[str], count: bool = True) -> None:
        """A failed check on an operation already recorded (it now fails)."""
        if count and errs:
            self.failed = min(self.attempted, self.failed + 1)
        self.errors.extend(errs)
        for e in errs:
            print(f"FAIL: {e}", file=sys.stderr, flush=True)


def check_op(wl, r, inp, tally: Tally) -> str:
    """Record one operation's checks; returns its assignments digest."""
    r.extra["recall"] = pair_recall(r.assign, inp.truth)
    tally.record(wl.ops_per_run, wl.check(r, inp))
    print(f"op: wall {r.wall_s:.3f} s, batches "
          f"{', '.join(f'{b:.3f}' for b in r.batch_s)} s", flush=True)
    return digest(r.assign)


def code_digest(root: str) -> str:
    """Digest of the engine's and the benchmark's source files: stored
    assignment digests are only compared between runs of the same code."""
    h = hashlib.sha256()
    for pkg in ("lsh_project_spark", "perfbench"):
        for path in sorted(glob.glob(os.path.join(root, pkg, "**", "*.py"), recursive=True)):
            h.update(os.path.relpath(path, root).encode() + b"\0")
            with open(path, "rb") as f:
                h.update(f.read() + b"\0")
    return h.hexdigest()[:16]


def check_seed_digest(work: str, name: str, seed: int, d: str, tally: Tally):
    """Assignments must also agree with earlier runs of the same seed on the
    same code in this checkout (kept next to the per-run work dirs, under
    the digest of the source files)."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(
        os.path.dirname(work), "digests", code_digest(root), f"{name}-{seed}"
    )
    if os.path.exists(path):
        with open(path) as f:
            if f.read() != d:
                tally.flag([f"assignments differ from an earlier run of seed {seed}"])
    else:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.write(d)
