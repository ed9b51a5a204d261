"""Seeded workload inputs.

Every table is a pure function of ``--seed``: a synthetic ``documents``
table (same shape as the sf0.1 driver table: 10-100 tokens over a 30-word
vocabulary, about 5% copies of an earlier document with a " dup" token
appended), tiled into planted-duplicate images by the engine's own
``sources.fixtures.images_from_documents``, then optionally skewed or split
into micro-batches.  The truth columns go to a side table; the engine only
ever reads the images tables.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

VOCAB = np.array(
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch".split()
)
TILES = 10
DUP_SHARE = 0.05
IMAGE_COLS = ["image_id", "bytes", "w", "h", "fmt", "caption", "phash"]
IMAGES_DDL = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "caption string, phash long"
)


def _rng(seed: int, purpose: int) -> np.random.Generator:
    return np.random.Generator(np.random.PCG64([seed, purpose]))


def documents(n_docs: int, seed: int) -> pd.DataFrame:
    """(doc_id, text) with uniform 10-100 token lengths; ~5% of documents
    copy an earlier one plus a trailing " dup" (natural near-duplicates)."""
    r = _rng(seed, 1)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 0 and r.random() < DUP_SHARE:
            texts.append(texts[int(r.integers(0, i))] + " dup")
        else:
            n_tok = int(r.integers(10, 101))
            texts.append(" ".join(VOCAB[r.integers(0, len(VOCAB), n_tok)]))
    return pd.DataFrame({"doc_id": np.arange(n_docs, dtype=np.int64), "text": texts})


def tiled_images(spark, n_docs: int, seed: int) -> pd.DataFrame:
    """Images tiled x10 from the seeded documents, with true_cluster_id,
    sorted by image_id (so the frame is independent of task order)."""
    from lsh_project_spark.sources.fixtures import images_from_documents

    docs = spark.createDataFrame(documents(n_docs, seed)).repartition(
        spark.sparkContext.defaultParallelism
    )
    pdf = images_from_documents(docs, seed=seed, tiles=TILES).toPandas()
    return pdf.sort_values("image_id", ignore_index=True)


def inject_skew(
    pdf: pd.DataFrame, seed: int, share: float = 0.1,
    weights: tuple[float, ...] = (0.4, 0.3, 0.2, 0.1),
) -> pd.DataFrame:
    """Move about ``share`` of the rows, whole planted clusters at a time,
    into ``len(weights)`` exact-duplicate groups: every member of group g
    gets the group's phash and the group's 40-token boilerplate caption
    suffix.  Adds ``skew_group`` (-1 outside the groups)."""
    r = _rng(seed, 2)
    out = pdf.copy()
    out["skew_group"] = -1
    cids = out["true_cluster_id"].unique()
    order = r.permutation(len(cids))
    sizes = out.groupby("true_cluster_id").size()
    target = share * len(out)
    bounds = np.cumsum(weights) / sum(weights) * target
    taken, g = 0, 0
    for cid in cids[order]:
        if taken >= target:
            break
        while g < len(bounds) - 1 and taken >= bounds[g]:
            g += 1
        out.loc[out["true_cluster_id"] == cid, "skew_group"] = g
        taken += int(sizes[cid])
    for g in range(len(weights)):
        sel = out["skew_group"] == g
        phash = int(r.integers(-(1 << 63), (1 << 63) - 1, dtype=np.int64))
        suffix = " ".join(VOCAB[r.integers(0, len(VOCAB), 40)])
        out.loc[sel, "phash"] = phash
        out.loc[sel, "caption"] = out.loc[sel, "caption"] + " " + suffix
    return out


def stream_batches(
    pdf: pd.DataFrame, seed: int, n_rows: int, n_batches: int
) -> list[pd.DataFrame]:
    """Whole planted clusters sampled until ``n_rows`` rows, shuffled and
    split into ``n_batches`` micro-batches (planted pairs may straddle
    batches, so new-vs-store matching is exercised)."""
    r = _rng(seed, 3)
    cids = pdf["true_cluster_id"].unique()
    sizes = pdf.groupby("true_cluster_id").size()
    picked, total = [], 0
    for cid in cids[r.permutation(len(cids))]:
        if total >= n_rows:
            break
        picked.append(cid)
        total += int(sizes[cid])
    rows = pdf[pdf["true_cluster_id"].isin(picked)]
    rows = rows.iloc[r.permutation(len(rows))].reset_index(drop=True)
    return [part.reset_index(drop=True) for part in np.array_split(rows, n_batches)]


def write_images(spark, pdf: pd.DataFrame, path: str, files: int) -> None:
    """Write the engine-facing columns only (no truth) as ``files`` Parquet
    files."""
    (
        spark.createDataFrame(pdf[IMAGE_COLS], IMAGES_DDL)
        .repartition(files)
        .write.mode("overwrite")
        .parquet(path)
    )
