"""Exact neighbor counting: the windowed distance self-join (J1).

The reference answers "neighbors of p within R in the current window" with an
in-heap M-tree range query per point (/root/reference/src/core/mtree/MTree.java:413-415).
The Spark-native equivalent is a *banded blockwise self-join*:

  * two points can ever share a window iff their slides differ by < W/S
    (see operators/windows.py), so partition the stream into blocks of
    W/S consecutive slides (= W consecutive ids);
  * co-windowed pairs live in the same or adjacent blocks, so fan each
    block's points out to (own block as "home") and (previous block as
    "guest") — a 2x duplication, independent of n;
  * per block, compute pairwise Euclidean distances for <= 2W points in one
    Arrow batch with chunked NumPy matrix math (no per-row Python), and
    emit each point's count of neighbors (dist <= R) per neighbor slide.

Total work is O(n * W * d / block) spread over n/W independent tasks —
linear in n and embarrassingly parallel, which is what makes the two-cluster
scaling criterion attainable (the reference is single-threaded;
/root/reference/src/Executor.java:112-114).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DetectorConfig

# Chunk of left-hand rows per distance-matrix block: bounds peak memory at
# CHUNK * 2W doubles regardless of window size.
CHUNK = 1024

COUNT_SCHEMA = "i long, slide_i long, slide_j long, c long, c_arr long"


def feature_matrix(col) -> np.ndarray:
    """(n, d) float64 matrix of an Arrow list column, read from its flat
    value buffer — per-row list conversion would build n tiny object
    ndarrays, which cost more than the distance math (see
    ``exact_neighbor_counts``). Every row must hold ``d`` values."""
    col = col.combine_chunks()
    flat = col.flatten().to_numpy(zero_copy_only=False)
    widths = np.diff(col.offsets.to_numpy(zero_copy_only=False))
    if len(widths) and (widths != widths[0]).any():
        raise ValueError(
            f"feature vectors differ in length: {sorted(set(widths.tolist()))}"
        )
    d = int(widths[0]) if len(widths) else 0
    return flat.reshape(len(widths), d).astype(np.float64, copy=False)


def count_batch(parts: list[tuple[np.ndarray, ...]]):
    """One Arrow batch in ``COUNT_SCHEMA`` from a kernel's per-block
    (i, slide_i, slide_j, c, c_arr) ndarray tuples."""
    import pyarrow as pa

    cols = [np.concatenate([p[k] for p in parts]) for k in range(5)]
    return pa.RecordBatch.from_pydict(
        {
            name: pa.array(col, type=pa.int64())
            for name, col in zip(("i", "slide_i", "slide_j", "c", "c_arr"), cols)
        }
    )


def _mask_bin_counts(
    M: np.ndarray,
    ids: np.ndarray,
    slides: np.ndarray,
    n_home: int,
    max_gap: int,
) -> list[tuple[np.ndarray, ...]]:
    """Bin a boolean neighbor mask by neighbor slide — the slide-grouped
    slice-sum scheme of ``_counts_emit`` for callers that already hold a
    full n x n mask (the LSH block kernel): rows of one slide share
    their per-bin column ranges, guest rows (an id-sorted suffix — home
    rows are the prefix ``[:n_home]``) clamp their bins to the home
    prefix, and ``c_arr``'s strict id_j < id_i bound is full count /
    zero / short own-slide prefix for bins left / right / at the own
    slide. One read-only pass over the mask replaces two padded
    n x (n+1) int32 row-cumsums plus their gathers.
    Returns (i, slide_i, slide_j, c, c_arr) ndarray tuples.
    """
    n = len(ids)
    n_bins = 2 * max_gap + 1
    fp = np.searchsorted(ids, ids, side="left")
    out: list[tuple[np.ndarray, ...]] = []
    sg = np.flatnonzero(np.concatenate(([True], slides[1:] != slides[:-1])))
    sg = np.append(sg, n)
    for s0, s1 in zip(sg[:-1], sg[1:]):
        si = int(slides[s0])
        guest = s0 >= n_home
        edges = np.searchsorted(
            slides, np.arange(si - max_gap, si + max_gap + 2)
        )
        if guest:
            edges = np.minimum(edges, n_home)
        rows_m = M[s0:s1]
        m = s1 - s0
        c = np.zeros((m, n_bins), dtype=np.int64)
        for b in range(n_bins):
            b0, b1 = int(edges[b]), int(edges[b + 1])
            if b1 > b0:
                c[:, b] = rows_m[:, b0:b1].sum(axis=1, dtype=np.int64)
        c_arr = np.zeros_like(c)
        c_arr[:, :max_gap] = c[:, :max_gap]
        lo_own, hi_own = int(edges[max_gap]), int(edges[max_gap + 1])
        if hi_own > lo_own:
            own_cs = np.zeros((m, hi_own - lo_own + 1), dtype=np.int32)
            np.cumsum(
                rows_m[:, lo_own:hi_own], axis=1, out=own_cs[:, 1:],
                dtype=np.int32,
            )
            pos = np.clip(fp[s0:s1] - lo_own, 0, hi_own - lo_own)
            c_arr[:, max_gap] = own_cs[np.arange(m), pos]
        ri, bi = np.nonzero(c)
        out.append(
            (
                ids[s0:s1][ri],
                slides[s0:s1][ri],
                slides[s0:s1][ri] + (bi - max_gap),
                c[ri, bi],
                c_arr[ri, bi],
            )
        )
    return out


def _counts_emit(
    X: np.ndarray,
    ids: np.ndarray,
    slides: np.ndarray,
    home: np.ndarray,
    r2: float,
    max_slide_gap: int,
) -> list[tuple[np.ndarray, ...]]:
    """Per-point neighbor counts binned by the neighbor's slide.

    The downstream aggregations (A1/A2: count_after / preceding-neighbor
    counts) only consume counts per (owner, owner_slide, neighbor_slide) —
    never the pair identities — so emitting the ~(2*ws - 1) count bins per
    point instead of the O(W) raw pairs cuts the shuffle by ~W/ws (100x at
    W=400 on dense data). This is SURVEY.md section 7 hard part (a) taken
    to its conclusion.

    Ownership rule (each co-window pair counted once per owner):
      * home rows count neighbors among ALL block rows (home + guest);
      * guest rows count neighbors among HOME rows only (their guest-block
        pairs are home-home in the next block's group).
    ``c_arr`` bins the subset with neighbor id < owner id (arrival-moment
    counts, /root/reference/src/algorithms/MCOD.java:302-317).

    Returns a list of (i, slide_i, slide_j, c, c_arr) ndarray tuples — the
    caller concatenates ONCE per partition and emits one Arrow batch.
    Building a pandas DataFrame per W-sized block (2,500 of them per 1M
    points) was ~2/3 of the kernel's Python time, and the per-block
    allocation churn is exactly the concurrent-allocation pattern this
    guest anti-scales on (BENCH.md round-3 allocator forensics).
    """
    n = len(ids)
    # SLIDE-GROUPED bin counting: rows arrive sorted by id, and slide =
    # (id-1)//S + 1 is monotone in id, so (a) every row of one slide
    # shares the same per-bin column ranges [lo(sj), hi(sj)), and (b) the
    # home rows form a prefix of the id-sorted group (guest rows belong to
    # the NEXT block, whose ids are all larger). Per slide group the bins
    # partition a contiguous column span, so the counts are per-bin SLICE
    # SUMS — one read-only pass over the boolean plane — instead of the
    # former two padded m x (n+1) int32 row-cumsums (write+read traffic
    # that dominated the kernel, and the np.where(home) plane the
    # guest-row variant added on top). The distance plane itself is also
    # clamped to the group's bin span (guest groups: the home prefix
    # only), which keeps it cache-resident at typical slide sizes.
    order = np.argsort(ids, kind="stable")
    if not np.array_equal(order, np.arange(n)):
        X, ids, slides, home = X[order], ids[order], slides[order], home[order]
    sq = np.einsum("ij,ij->i", X, X)
    n_bins = 2 * max_slide_gap + 1
    out: list[tuple[np.ndarray, ...]] = []
    n_home = int(home.sum())
    if n_home and not home[:n_home].all():
        # structural invariant of the banded block layout (home = own
        # block, guest = next block's ids, blocks partition slides)
        raise AssertionError("home rows must form an id-sorted prefix")
    # first position of each row's own id (strict ids[j] < ids[i] bound —
    # NOT the row position: duplicate ids must exclude each other)
    fp_all = np.searchsorted(ids, ids, side="left")
    sg = np.flatnonzero(np.concatenate(([True], slides[1:] != slides[:-1])))
    sg = np.append(sg, n)
    for s0, s1 in zip(sg[:-1], sg[1:]):
        si = int(slides[s0])
        # a slide lives in exactly one block, so a slide group is purely
        # home or purely guest; guest rows count HOME neighbors only
        # (their guest-guest pairs are home-home in the next block's
        # group) — an edge clamp to the home prefix, not a masked pass
        guest = s0 >= n_home
        edges = np.searchsorted(
            slides, np.arange(si - max_slide_gap, si + max_slide_gap + 2)
        )
        if guest:
            edges = np.minimum(edges, n_home)
        col0, col1 = int(edges[0]), int(edges[-1])
        if col1 <= col0:
            continue
        lo_own = int(edges[max_slide_gap]) - col0
        hi_own = int(edges[max_slide_gap + 1]) - col0
        Xc = X[col0:col1]
        sqc = sq[col0:col1]
        for c0 in range(s0, s1, CHUNK):
            c1 = min(c0 + CHUNK, s1)
            rows = np.arange(c0, c1)
            m = len(rows)
            # exact (unchanged) distance arithmetic — the oracle twins
            # reproduce this identity bit-for-bit
            d2 = sq[rows, None] + sqc[None, :] - 2.0 * (X[rows] @ Xc.T)
            msk = d2 <= r2
            if not guest:  # guest rows' own column is outside the clamp
                msk[np.arange(m), rows - col0] = False  # no self-pairs
            c = np.zeros((m, n_bins), dtype=np.int64)
            for b in range(n_bins):
                b0, b1 = int(edges[b]) - col0, int(edges[b + 1]) - col0
                if b1 > b0:
                    c[:, b] = msk[:, b0:b1].sum(axis=1, dtype=np.int64)
            # c_arr (strict id_j < id_i): bins left of the own slide hold
            # only smaller ids (slide monotone in id) -> full count; bins
            # right hold only larger -> 0; the own-slide bin needs the
            # per-row prefix at fp (duplicate ids excluded via side=left)
            c_arr = np.zeros_like(c)
            c_arr[:, :max_slide_gap] = c[:, :max_slide_gap]
            if hi_own > lo_own:
                own_cs = np.zeros((m, hi_own - lo_own + 1), dtype=np.int32)
                np.cumsum(
                    msk[:, lo_own:hi_own], axis=1, out=own_cs[:, 1:],
                    dtype=np.int32,
                )
                pos = np.clip(fp_all[rows] - (lo_own + col0), 0, hi_own - lo_own)
                c_arr[:, max_slide_gap] = own_cs[np.arange(m), pos]
            ri, bi = np.nonzero(c)
            out.append(
                (
                    ids[rows[ri]],
                    slides[rows[ri]],
                    slides[rows[ri]] + (bi - max_slide_gap),
                    c[ri, bi],
                    c_arr[ri, bi],
                )
            )
    return out


def exact_neighbor_counts(
    points_with_slide: DataFrame, cfg: DetectorConfig
) -> DataFrame:
    """Per-(point, neighbor-slide) neighbor counts — the exact detector's
    scalable aggregate input. Output: (i, slide_i, slide_j, c, c_arr).

    Banded block layout of the module docstring (2x fan-out, <= 2W points
    per task); each task emits O(points x ws) count rows, never the
    O(points x W) pairs themselves.
    """
    ws = cfg.ws
    r2 = float(cfg.r) * float(cfg.r)
    max_gap = ws - 1

    block = ((F.col("slide") - 1) / F.lit(ws)).cast("long")
    base = points_with_slide.select("id", "features", "slide")
    fanned = base.withColumn("g", block).withColumn("is_home", F.lit(True)).unionByName(
        base.withColumn("g", block - 1)
        .withColumn("is_home", F.lit(False))
        .where(F.col("g") >= 0)
    )

    # partition-scan (mapInArrow over repartition+sort), not per-group
    # applyInPandas: a long stream has thousands of W-sized blocks and the
    # per-group Arrow round-trip overhead dominates the (small) per-block
    # math — one batch per partition amortizes it (same pattern as the
    # LSH counts kernel and the MinHash band kernel). mapInArrow rather
    # than mapInPandas because the feature column reads as ONE flat
    # float64 buffer reshaped (n, dim) — the pandas path materializes a
    # per-row object ndarray (300k tiny arrays) that costs more than the
    # distance math itself (measured ~8 s vs ~2 s at 300k x 12d).
    def emit(batches):
        import pyarrow as pa

        chunks = [b for b in batches if b.num_rows]
        if not chunks:
            return
        tbl = pa.Table.from_batches(chunks)
        if tbl.num_rows < 2:
            return
        g_arr = tbl.column("g").to_numpy(zero_copy_only=False)
        id_arr = tbl.column("id").to_numpy(zero_copy_only=False)
        slides_all = tbl.column("slide").to_numpy(zero_copy_only=False)
        home_all = tbl.column("is_home").to_numpy(zero_copy_only=False)
        X_all = feature_matrix(tbl.column("features"))
        order = np.lexsort((id_arr, g_arr))
        g_arr, id_arr = g_arr[order], id_arr[order]
        slides_all = slides_all[order]
        home_all = home_all[order]
        X_all = X_all[order]
        bounds = np.flatnonzero(np.concatenate(([True], g_arr[1:] != g_arr[:-1])))
        bounds = np.append(bounds, len(g_arr))
        parts: list[tuple[np.ndarray, ...]] = []
        for b0, b1 in zip(bounds[:-1], bounds[1:]):
            if b1 - b0 < 2:
                continue
            parts.extend(
                _counts_emit(
                    X_all[b0:b1], id_arr[b0:b1], slides_all[b0:b1],
                    home_all[b0:b1], r2, max_gap,
                )
            )
        if parts:
            yield count_batch(parts)

    # no sortWithinPartitions: the kernel lexsorts its whole partition by
    # (g, id) anyway, so a JVM sort before it is pure waste
    n_parts = block_partitions(cfg, points_with_slide.sparkSession)
    return fanned.repartition(n_parts, "g").mapInArrow(emit, COUNT_SCHEMA)


def block_partitions(cfg: DetectorConfig, spark) -> int:
    """Partitions for a banded block kernel's g-shuffle: one per W-block,
    at most one per core (one wave).

    Every Python task pays a fixed cost whatever its payload (an empty one
    included), so a tiny stream must not fan out to a fixed partition
    count; but the per-block distance work is compute-heavy, so a long
    stream must fill every core. AQE's byte rule cannot size this shuffle:
    narrow rows coalesce by bytes to a couple of tasks (100k dim-1 points:
    2 tasks at local[32]). The block count is ceil(n / W), known at plan
    time from ``cfg.n_total``; without it the stream length is unknown
    and the kernel takes one wave.
    """
    par = max(spark.sparkContext.defaultParallelism, 1)
    if not cfg.n_total:
        return par
    return max(1, min(-(-cfg.n_total // cfg.w), par))
