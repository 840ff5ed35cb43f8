"""Seeded edge-list inputs and the independent NumPy oracles that check
what the package computed from them.

Inputs are text files in the reference's ``"<src> <dst>"`` format.
Duplicate edges, self-loops and dangling vertices are kept, as the
reference parser keeps them.
"""

from __future__ import annotations

import glob
import os

import numpy as np
from pyspark.sql import functions as F

from pagerank_mapreduce_spark.graph.rmat import rmat_edges

ALPHA = 0.85
CONVERGENCE = 1e-5
RANK_TOL = 1e-4  # the reference checker's per-vertex tolerance
GEN_TASKS = 4  # one R-MAT generator task per core


def write_rmat(spark, path: str, scale: int, edge_factor: int, seed: int) -> None:
    """Graph500 R-MAT edges from the package's generator, duplicates
    kept, written under the directory ``path`` as one text file per
    generator task."""
    (
        rmat_edges(spark, scale=scale, edge_factor=edge_factor, seed=seed,
                   n_tasks=GEN_TASKS, dedup=False)
        .select(F.concat_ws(" ", "src", "dst").alias("value"))
        .write.mode("overwrite")
        .text(path)
    )


def load_edges(path: str) -> tuple[np.ndarray, np.ndarray]:
    """Read an edge-list directory back with NumPy (not with Spark)."""
    parts = [
        np.fromfile(p, dtype=np.int64, sep=" ")
        for p in sorted(glob.glob(os.path.join(path, "part-*")))
    ]
    flat = np.concatenate(parts).reshape(-1, 2)
    return flat[:, 0].copy(), flat[:, 1].copy()


def pagerank_oracle(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, int]:
    """The reference recurrence (init e1, per-iteration normalisation,
    dangling mass spread uniformly, stop at L1 delta <= 1e-5)."""
    n = int(max(src.max(), dst.max())) + 1
    outdeg = np.bincount(src, minlength=n)
    dangling = outdeg == 0
    inv_deg = 1.0 / outdeg[src]
    pr = np.zeros(n)
    pr[0] = 1.0
    diff, it = 1.0, 0
    while diff > CONVERGENCE:
        old = pr if it == 0 else pr / pr.sum()
        one_av = ALPHA * pr[dangling].sum() / n
        h = np.bincount(dst, weights=old[src] * inv_deg, minlength=n)
        pr = ALPHA * h + one_av + (1.0 - ALPHA) / n
        diff = np.abs(pr - old).sum()
        it += 1
    return pr, it


def reverse_adjacency_checksums(df):
    """Aggregates that pin down a (dst, in_links) relation: rows, edge
    total, a src·dst checksum and a position-weighted one that only
    matches when every in-link list is sorted."""
    return df.agg(
        F.count(F.lit(1)),
        F.sum(F.size("in_links")),
        F.sum(
            (F.col("dst") + 1)
            * F.aggregate("in_links", F.lit(0).cast("bigint"), lambda a, x: a + x)
        ),
        F.sum(
            F.aggregate(
                F.transform("in_links", lambda x, i: x * (i + 1)),
                F.lit(0).cast("bigint"),
                lambda a, y: a + y,
            )
        ),
    )


def reverse_adjacency_oracle(src: np.ndarray, dst: np.ndarray) -> tuple:
    order = np.lexsort((src, dst))
    s, d = src[order], dst[order]
    starts = np.r_[0, np.flatnonzero(np.diff(d)) + 1]
    group = np.repeat(np.arange(len(starts)), np.diff(np.r_[starts, len(d)]))
    pos = np.arange(len(d)) - starts[group]
    return (
        len(starts),
        len(d),
        int((s * (d + 1)).sum()),
        int((s * (pos + 1)).sum()),
    )


def cc_oracle(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Connected components of the undirected graph without self-loops,
    each labelled by its least vertex id: min-label propagation with
    pointer jumping. Returns (ids, comps) over vertices with an edge."""
    keep = src != dst
    u, v = src[keep], dst[keep]
    ids = np.unique(np.concatenate([u, v]))
    label = np.arange(int(ids.max()) + 1 if len(ids) else 0)
    while True:
        new = label.copy()
        np.minimum.at(new, u, label[v])
        np.minimum.at(new, v, label[u])
        while True:  # jump each label to its own label's label
            jumped = new[new]
            if np.array_equal(jumped, new):
                break
            new = jumped
        if np.array_equal(new, label):
            return ids, label[ids]
        label = new


def kcore_oracle(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """The auto-k core of the undirected simple graph: k is the ceiling
    of the mean degree over vertices with an edge; vertices of degree
    below k are peeled until none is left. Returns (ids, degrees inside
    the core)."""
    keep = src != dst
    pairs = np.unique(
        np.stack([np.minimum(src[keep], dst[keep]),
                  np.maximum(src[keep], dst[keep])], axis=1),
        axis=0,
    )
    a, b = pairs[:, 0], pairs[:, 1]
    size = int(pairs.max()) + 1 if len(pairs) else 0
    deg = np.bincount(a, minlength=size) + np.bincount(b, minlength=size)
    n = int((deg > 0).sum())
    k = (2 * len(pairs) + n - 1) // n
    while True:
        deg = np.bincount(a, minlength=size) + np.bincount(b, minlength=size)
        alive = deg >= k
        keep = alive[a] & alive[b]
        if keep.all():
            ids = np.flatnonzero(deg > 0)
            return ids, deg[ids]
        a, b = a[keep], b[keep]


def read_rank_file(path: str) -> tuple[np.ndarray, np.ndarray, float]:
    """Parse the ``"<id> = <rank>"`` sink plus its ``"s = <sum>"``
    trailer; returns (ids in file order, ranks, trailer sum)."""
    (part,) = glob.glob(os.path.join(path, "part-*"))
    with open(part) as f:
        lines = f.read().splitlines()
    *body, trailer = lines
    if not trailer.startswith("s = "):
        raise ValueError(f"missing ranksum trailer in {part}")
    ids = np.array([int(line.split(" = ")[0]) for line in body], dtype=np.int64)
    ranks = np.array([float(line.split(" = ")[1]) for line in body])
    return ids, ranks, float(trailer[4:])
