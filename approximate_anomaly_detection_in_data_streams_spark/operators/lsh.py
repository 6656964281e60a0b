"""Seeded p-stable LSH candidate generation (J4/X3): the approximate join.

Reimplements the reference's LSH index semantics — m p-stable hashes
``h_i = floor((v . a_i + b_i) / w)`` per table, a_i ~ N(0,1)^d,
b_i ~ U[0, w), L tables, candidate set = union of colliding buckets
(reference src/core/lsh/HashFunction.java:13-40, HashTable.java:81-101,
LSHIndex.java:33-44) — inside the exact detector's banded block kernel
(operators/pairs.py): per window block, "collides in >= 1 table" is one
more boolean plane over the block's distance plane. The keys come from one NumPy function (``bucket_keys``)
shared with the stream engine; its explicit left-to-right dot-product
fold fixes the IEEE op order, so a SQL oracle re-deriving the keys from
the same float literals sees bit-identical keys, and the full LSHOD
detector carries an exact SQL oracle.

Differences from the reference, by design (SURVEY.md section 5):
  * the reference's RNG is unseeded and its buckets evict entries under
    pressure (/root/reference/src/core/lsh/HashTable.java:22-35), making
    results nondeterministic; we seed everything and, by default, skip
    eviction, so our candidate set is a superset of what a capped table
    would retain (``bucket_cap`` replays a seeded eviction);
  * missed collisions only *lower* neighbor counts, so the approximate
    outlier set is a superset of the exact one — recall of exact outliers
    is structurally 1.0 and precision is the quality metric (tested).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DetectorConfig
from .pairs import (
    COUNT_SCHEMA,
    _mask_bin_counts,
    block_partitions,
    count_batch,
    feature_matrix,
)


def make_projections(
    cfg: DetectorConfig, dim: int
) -> tuple[np.ndarray, np.ndarray]:
    """Seeded (L, m, d) Gaussian projections and (L, m) uniform biases."""
    rng = np.random.default_rng(cfg.seed)
    A = rng.normal(0.0, 1.0, size=(cfg.num_tables, cfg.num_hashes, dim))
    b = rng.uniform(0.0, cfg.lsh_bucket_width, size=(cfg.num_tables, cfg.num_hashes))
    return A, b


def bucket_keys(
    X: np.ndarray, A: np.ndarray, b: np.ndarray, width: float
) -> np.ndarray:
    """(L, m, n) bucket keys of the (n, d) points: floor((a . x + b) / w),
    the dot product folded left to right over dims (the op order the SQL
    oracles re-derive)."""
    acc = X[:, 0] * A[:, :, 0, None]
    for j in range(1, A.shape[2]):
        acc = acc + X[:, j] * A[:, :, j, None]
    return np.floor((acc + b[:, :, None]) / float(width))


def _survivors(
    labels: np.ndarray, home: np.ndarray, prio: np.ndarray, cap: int
) -> np.ndarray:
    """Bucket-cap survival of one table over one id-sorted block group:
    within each (bucket label, home/guest) group — i.e. per (key, own
    block) — keep the ``cap`` rows first in seeded-priority order (ties
    by id: lexsort is stable)."""
    n = len(labels)
    bucket = 2 * labels + ~home
    order = np.lexsort((prio, bucket))
    sb = bucket[order]
    starts = np.flatnonzero(np.concatenate(([True], sb[1:] != sb[:-1])))
    rank = np.arange(n) - np.repeat(starts, np.diff(np.append(starts, n)))
    keep = np.empty(n, dtype=bool)
    keep[order] = rank < cap
    return keep


def lsh_neighbor_counts(
    points_with_slide: DataFrame,
    cfg: DetectorConfig,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Slide-binned neighbor counts from LSH candidates — the detector's
    scalable input. Output: (i, slide_i, slide_j, c, c_arr) — like
    exact_neighbor_counts, the table may hold multiple rows per key
    (home- and guest-block contributions); consumers aggregate additively.

    Same banded block layout as the exact detector
    (operators/pairs.py::exact_neighbor_counts): group g holds all of
    window block g as home rows and all of block g+1 as guest rows. Per
    group the kernel hashes the rows (``bucket_keys``, dim read from the
    data), and a within-R pair counts only if it collides in >= 1 of the
    L tables: one exact label plane per table (structured-dtype np.unique
    over the table's m keys — equality, no hashing), OR-ed together. The
    candidate multiset never exists and the cross-table dedupe is
    structural.

    ``bucket_cap`` bounds each (table, key, block) bucket to its first
    ``bucket_cap`` members by seeded ``xxhash64(id, seed)`` order — the
    deterministic analog of the reference's bucket eviction
    (reference src/core/lsh/HashTable.java:22-35). Group g holds
    every member of block g's and block g+1's buckets, so the kernel ranks
    home rows within home and guest rows within guest, and a table's
    plane only joins co-surviving pairs: the reference's HashSet union
    over capped tables (HashTable.java:81-101 still finds a pair at a
    later table when one member was evicted from an earlier bucket).
    Dropped members can only lower neighbor counts.
    """
    L = cfg.num_tables
    max_gap = cfg.ws - 1
    r2 = float(cfg.r) ** 2
    width = float(cfg.lsh_bucket_width)

    n_parts = block_partitions(cfg, points_with_slide.sparkSession)
    pts = points_with_slide.select("id", "slide", "features")
    if bucket_cap is not None:
        pts = pts.withColumn("prio", F.xxhash64("id", F.lit(cfg.seed)))
    # home row in its own block; guest row fanned to the previous block —
    # cross-block pairs are counted in the lower block's group exactly once.
    # ONE explode, not a self-union: a union re-reads (and re-shuffles) the
    # shared subtree twice when exchange reuse fails to kick in.
    blk = ((F.col("slide") - 1) / F.lit(cfg.ws)).cast("long")
    fanned = (
        pts.select(
            *pts.columns,
            F.explode(
                F.array(
                    F.struct(blk.alias("g"), F.lit(True).alias("home")),
                    F.struct((blk - 1).alias("g"), F.lit(False).alias("home")),
                )
            ).alias("fan"),
        )
        .select(*pts.columns, "fan.g", "fan.home")
        .where(F.col("g") >= 0)
    )

    def emit(batches):
        import pyarrow as pa

        arrow_chunks = [b for b in batches if b.num_rows]
        if not arrow_chunks:
            return
        tbl = pa.Table.from_batches(arrow_chunks)
        if tbl.num_rows < 2:
            return
        feats_all = feature_matrix(tbl.column("features"))
        A, b = make_projections(cfg, feats_all.shape[1])
        g_arr = tbl.column("g").to_numpy(zero_copy_only=False)
        id_arr = tbl.column("id").to_numpy(zero_copy_only=False)
        order = np.lexsort((id_arr, g_arr))
        g_arr, id_arr = g_arr[order], id_arr[order]
        slides_all = tbl.column("slide").to_numpy(zero_copy_only=False)[order]
        home_all = tbl.column("home").to_numpy(zero_copy_only=False)[order]
        prio_all = (
            tbl.column("prio").to_numpy(zero_copy_only=False)[order]
            if bucket_cap is not None
            else None
        )
        feats_all = feats_all[order]
        bounds = np.flatnonzero(
            np.concatenate(([True], g_arr[1:] != g_arr[:-1]))
        )
        bounds = np.append(bounds, len(g_arr))
        parts: list[tuple[np.ndarray, ...]] = []
        eq = None
        for b0, b1 in zip(bounds[:-1], bounds[1:]):
            n = b1 - b0
            if n < 2:
                continue
            X = feats_all[b0:b1]
            home = home_all[b0:b1]
            # per-dimension (a-b)^2 accumulated left-to-right — the SAME
            # IEEE fold as the DuckDB oracle (ADVICE r2).
            diff = X[:, 0][:, None] - X[:, 0][None, :]
            D2 = diff * diff
            for d in range(1, X.shape[1]):
                diff = X[:, d][:, None] - X[:, d][None, :]
                D2 += diff * diff
            M = D2 <= r2
            M[np.arange(n), np.arange(n)] = False
            # collision mask: >= 1 table where all m keys are equal (and,
            # capped, both members survived that table's bucket cap).
            # One exact label plane per table (4x less plane traffic than
            # m component planes at the default m=4).
            K = bucket_keys(X, A, b, width)
            C = np.zeros((n, n), dtype=bool)
            if eq is None or eq.shape[0] < n:
                eq = np.empty((n, n), dtype=bool)
            e = eq[:n, :n]
            for t in range(L):
                keys = np.ascontiguousarray(K[t].T)
                void = keys.view([("", keys.dtype)] * keys.shape[1]).ravel()
                _, labels = np.unique(void, return_inverse=True)
                np.equal(labels[:, None], labels[None, :], out=e)
                if bucket_cap is not None:
                    s = _survivors(labels, home, prio_all[b0:b1], bucket_cap)
                    e &= s[:, None]
                    e &= s[None, :]
                C |= e
            M &= C
            n_home_g = int(home.sum())
            if n_home_g and not home[:n_home_g].all():
                raise AssertionError("home rows must form an id-sorted prefix")
            parts.extend(
                _mask_bin_counts(
                    M, id_arr[b0:b1], slides_all[b0:b1], n_home_g, max_gap
                )
            )
        if parts:
            yield count_batch(parts)

    # NO consolidating groupBy here: like exact_neighbor_counts, the table
    # may hold a home-block and a guest-block row per (i, slide_j), and
    # every consumer (the pivoted verdicts, batch_counts, arrival_counts)
    # aggregates additively — a groupBy at this seam would pay a full
    # extra exchange of the count table for nothing.
    return fanned.repartition(n_parts, "g").mapInArrow(emit, COUNT_SCHEMA)
