"""Streaming execution of the windowed outlier detector.

Two layers:

  * ``SlideDetector`` — an incremental engine processing one slide-sized
    batch at a time, mirroring the reference's driver loop
    (/root/reference/src/Executor.java:112-114: ingest S points, expire,
    re-evaluate). Each window point carries a neighbor-count vector of
    ``ws = W/S`` bins, one per window slide, ring-indexed by
    ``slide % ws`` — the slide-binned count contract of the batch kernel
    (operators/pairs.py::_counts_emit) and the reference's
    ``count_after``/``nn_before`` bookkeeping. A new slide costs one
    S x (n+S) distance plane, each pair's one distance credited to both
    ends; expiry zeroes one bin; the pre- and end-evaluation counts are
    row sums of the bins. Nothing is recounted.
  * ``run_structured_stream`` — Structured Streaming wrapper over the
    distributed keyed dataflow (streaming/keyed.py): state lives in
    Spark's state store via ``applyInPandasWithState``, one SlideDetector
    per key, no driver-side collect anywhere in the plan.

Verified equivalent to the batch detector (tests/test_streaming.py) and to
``oracle.brute.mcod_brute`` (tests/test_property.py): same pure-outlier set,
same lifetime stats.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from ..config import DetectorConfig

# Elements of one distance-plane chunk (new rows x window columns): bounds
# the plane's float64 temporaries at a few tens of MB at any window size.
PLANE_ELEMS = 1 << 21


@dataclass
class SlideDetector:
    """Incremental count-based sliding-window distance outlier detector."""

    cfg: DetectorConfig
    # window rows in arrival order (slides oldest first)
    _ids: np.ndarray = field(default_factory=lambda: np.empty(0, dtype=np.int64))
    _X: np.ndarray | None = None
    # rows per window slide, oldest first (at most ws entries)
    _slide_rows: list[int] = field(default_factory=list)
    # (n, ws) int32: neighbors of each row in window slide s, at column s % ws
    _bins: np.ndarray = field(init=False)
    _ever_inlier: np.ndarray = field(default_factory=lambda: np.empty(0, dtype=bool))
    _ever_outlier: np.ndarray = field(default_factory=lambda: np.empty(0, dtype=bool))
    _outliers: set[int] = field(default_factory=set)
    _batch: int = 0
    _finalized: dict[str, int] = field(
        default_factory=lambda: {"only_inlier": 0, "only_outlier": 0, "both": 0}
    )
    # per-batch diagnostics (the reference's DIAG prints, K3 in SURVEY.md:
    # /root/reference/src/algorithms/MCOD.java:320-332): one dict per
    # processed batch with window population and work counters
    diagnostics: list[dict] = field(default_factory=list)

    def __post_init__(self) -> None:
        self._bins = np.zeros((0, self.cfg.ws), dtype=np.int32)
        self._sq = np.empty(0)

    # -- keyed state: derivable arrays are rebuilt, not pickled ------------
    _DERIVED = ("_sq",)

    def __getstate__(self) -> dict:
        return {k: v for k, v in self.__dict__.items() if k not in self._DERIVED}

    def __setstate__(self, state: dict) -> None:
        self.__dict__.update(state)
        self._sq = self._norms(self._X) if self._X is not None else np.empty(0)

    @staticmethod
    def _norms(X: np.ndarray) -> np.ndarray:
        return np.einsum("ij,ij->i", X, X)

    # -- window rows ---------------------------------------------------------
    def _append(self, ids: np.ndarray, X: np.ndarray) -> None:
        """Add a slide's rows with empty bins and lifetime flags."""
        n = len(ids)
        self._ids = np.concatenate([self._ids, ids])
        self._X = X if self._X is None or not len(self._X) else np.vstack([self._X, X])
        self._sq = np.concatenate([self._sq, self._norms(X)])
        self._bins = np.vstack([self._bins, np.zeros((n, self.cfg.ws), dtype=np.int32)])
        self._ever_inlier = np.concatenate([self._ever_inlier, np.zeros(n, dtype=bool)])
        self._ever_outlier = np.concatenate([self._ever_outlier, np.zeros(n, dtype=bool)])

    def _retire(self, n: int) -> None:
        """Finalize the window's ``n`` oldest rows (lifetime counters and
        pure outliers, reference src/core/OutlierDetector.java:43-62) and
        drop them."""
        ei, eo = self._ever_inlier[:n], self._ever_outlier[:n]
        only_in = int(np.count_nonzero(ei & ~eo))
        only_out = int(np.count_nonzero(eo & ~ei))
        self._finalized["only_inlier"] += only_in
        self._finalized["only_outlier"] += only_out
        self._finalized["both"] += n - only_in - only_out
        self._outliers.update(self._ids[:n][~ei].tolist())
        self._ids = self._ids[n:]
        self._X = self._X[n:]
        self._sq = self._sq[n:]
        self._bins = self._bins[n:]
        self._ever_inlier = self._ever_inlier[n:]
        self._ever_outlier = self._ever_outlier[n:]

    def _prune(self, M: np.ndarray, r0: int) -> np.ndarray:
        """Candidate hook: ``M`` holds the within-R pairs of window rows
        ``r0 .. r0+len(M)`` against the whole window; return the pairs the
        detector may count. Exact MCOD counts all of them."""
        return M

    # -- one slide -----------------------------------------------------------
    def process_batch(self, ids: np.ndarray, X: np.ndarray) -> None:
        """Ingest one slide-sized batch (the reference's
        ProcessNewStreamObjects, /root/reference/src/algorithms/MCOD.java:302-317):
        expire, pre-re-evaluate survivors, arrival-evaluate new points,
        end-evaluate the full window."""
        cfg = self.cfg
        ws, k = cfg.ws, cfg.k
        self._batch += 1
        b = self._batch
        ids = np.asarray(ids, dtype=np.int64)
        X = np.asarray(X, dtype=np.float64)

        # expiry: the window after this batch holds slides [b-ws+1 .. b], so
        # slide b-ws leaves; its ring bin b % ws is reused for slide b
        if len(self._slide_rows) == ws:
            self._retire(self._slide_rows.pop(0))
        own = b % ws
        self._bins[:, own] = 0

        # pre re-evaluation of survivors (event-queue drain analog,
        # reference src/algorithms/MCOD.java:228-261)
        self._ever_outlier |= self._bins.sum(axis=1) < k

        # new slide: one distance per (new, window) pair, in row chunks
        n_old = len(self._ids)
        first = b - len(self._slide_rows)  # slide of the oldest survivor
        edges = np.cumsum([0] + self._slide_rows)
        self._slide_rows.append(len(ids))
        self._append(ids, X)
        n_new = len(ids)
        Xw, sq, bins = self._X, self._sq, self._bins
        r2 = float(cfg.r) ** 2
        new_own = np.zeros(n_new, dtype=np.int64)
        arrival = np.zeros(n_new, dtype=np.int64)
        step = max(1, PLANE_ELEMS // max(len(Xw), 1))
        for c0 in range(0, n_new, step):
            c1 = min(c0 + step, n_new)
            r0 = n_old + c0
            # same arithmetic as the batch kernel and oracle.brute
            d2 = sq[r0 : n_old + c1, None] + sq[None, : n_old + c1] - 2.0 * (
                Xw[r0 : n_old + c1] @ Xw[: n_old + c1].T
            )
            M = self._prune(d2 <= r2, r0)
            # survivors: new rows get a bin per survivor slide, survivors
            # add their column to the new slide's bin
            for g in range(len(edges) - 1):
                c = np.count_nonzero(M[:, edges[g] : edges[g + 1]], axis=1)
                bins[r0 : n_old + c1, (first + g) % ws] = c
                arrival[c0:c1] += c
            bins[:n_old, own] += np.count_nonzero(M[:, :n_old], axis=0).astype(np.int32)
            # same batch: the strict lower triangle (earlier arrivals) is the
            # one distance per pair, credited to both ends
            low = np.tril(M[:, n_old:], k=c0 - 1)
            prefix = np.count_nonzero(low, axis=1)
            arrival[c0:c1] += prefix
            new_own[c0:c1] += prefix
            new_own[:c1] += np.count_nonzero(low, axis=0)
        bins[n_old:, own] = new_own
        self._ever_outlier[n_old:] |= arrival < k

        # end evaluation of the whole window
        end = bins.sum(axis=1)
        self._ever_inlier |= end >= k
        self._ever_outlier |= end < k
        self.diagnostics.append(
            {
                "batch": b,
                "window_size": int(len(self._ids)),
                "n_new": n_new,
                "n_outliers_recorded": len(self._outliers),
            }
        )

    def finish(self) -> dict:
        """Stream exhausted: final flush (W4,
        /root/reference/src/core/OutlierDetector.java:43-47)."""
        if self._X is not None:
            self._retire(len(self._ids))
        self._slide_rows.clear()
        return {
            "outliers": sorted(self._outliers),
            "n_only_inlier": self._finalized["only_inlier"],
            "n_only_outlier": self._finalized["only_outlier"],
            "n_both_inlier_outlier": self._finalized["both"],
        }


@dataclass
class LSHSlideDetector(SlideDetector):
    """LSHOD variant of the incremental engine: neighbor counts are
    restricted to pairs that collide in >= 1 of the L seeded p-stable LSH
    tables (the reference's hash-table candidate union,
    /root/reference/src/algorithms/LSHOD.java:85-103,
    /root/reference/src/core/lsh/LSHIndex.java:33-44), with the exact
    distance predicate applied to candidates only. Projections come from
    the SAME ``make_projections(cfg, dim)`` seed as the batch path and
    keys from the same ``bucket_keys`` function the batch kernel calls,
    so bucket keys (and therefore the outlier set) are bit-equivalent to
    the batch LSHOD detector
    (tests/test_streaming.py::test_lshod_slide_loop_matches_batch).
    Keys are computed once per point, on arrival.
    """

    dim: int = 1

    _DERIVED = ("_sq", "_A", "_b", "_keys")

    def __post_init__(self) -> None:
        super().__post_init__()
        self._init_keys()

    def __setstate__(self, state: dict) -> None:
        super().__setstate__(state)
        self._init_keys()

    def _init_keys(self) -> None:
        from ..operators.lsh import make_projections

        self._A, self._b = make_projections(self.cfg, self.dim)
        self._keys = self._hash(self._X if self._X is not None else np.empty((0, self.dim)))

    def _hash(self, X: np.ndarray) -> np.ndarray:
        """(L, m, n) bucket keys of the (n, dim) points."""
        from ..operators.lsh import bucket_keys

        return bucket_keys(X, self._A, self._b, self.cfg.lsh_bucket_width)

    def _append(self, ids: np.ndarray, X: np.ndarray) -> None:
        super()._append(ids, X)
        self._keys = np.concatenate([self._keys, self._hash(X)], axis=2)

    def _retire(self, n: int) -> None:
        super()._retire(n)
        self._keys = self._keys[:, :, n:]

    def _prune(self, M: np.ndarray, r0: int) -> np.ndarray:
        # table by table, drop the within-R pairs that collide there; what
        # is left after the last table never collided
        ri, cj = np.nonzero(M)
        ri = ri + r0
        keys = self._keys
        for t in range(keys.shape[0]):
            same = keys[t, 0, ri] == keys[t, 0, cj]
            for i in range(1, keys.shape[1]):
                same &= keys[t, i, ri] == keys[t, i, cj]
            ri, cj = ri[~same], cj[~same]
        M[ri - r0, cj] = False
        return M


def make_slide_detector(cfg: DetectorConfig, dim: int) -> SlideDetector:
    """Algorithm-routed incremental engine (mcod exact | lshod bucketed)."""
    if cfg.algorithm == "lshod":
        return LSHSlideDetector(cfg, dim=dim)
    return SlideDetector(cfg)


def run_slide_loop(ids: np.ndarray, X: np.ndarray, cfg: DetectorConfig) -> dict:
    """Drive the incremental engine over a finite stream, slide by slide
    (the reference's Executor main loop); algorithm-routed via
    ``make_slide_detector``."""
    det = make_slide_detector(cfg, int(np.asarray(X).shape[1]))
    n = len(ids)
    for start in range(0, n, cfg.slide):
        det.process_batch(ids[start : start + cfg.slide], X[start : start + cfg.slide])
    return det.finish()


def run_structured_stream(
    spark,
    input_dir: str,
    cfg: DetectorConfig,
    checkpoint_dir: str,
) -> dict:
    """Structured Streaming driver for a single unkeyed point stream.

    Thin wrapper over the DISTRIBUTED keyed dataflow (streaming/keyed.py,
    ``applyInPandasWithState`` holding one SlideDetector per key in the
    state store — no ``collect()`` anywhere in the plan): the unkeyed
    stream becomes one key, a sentinel file (id = -n_total, derived from a
    batch scan of the same directory) marks the finite stream's end, and
    the keyed flush returns the same result dict the old driver-side loop
    produced. The key's dim comes from ``cfg.dim`` or from the stream.
    """
    import json as _json
    import os

    from pyspark.sql import functions as F

    from .keyed import INPUT_SCHEMA, run_keyed_structured_stream

    point_schema = "id long, features array<double>"
    # cfg.n_total skips the one-time directory scan; the agg fallback runs
    # once before the stream starts (never per micro-batch)
    n_total = cfg.n_total or (
        spark.read.schema(point_schema).json(input_dir).agg(F.max("id")).first()[0]
    )
    staged = os.path.join(checkpoint_dir, "_keyed_input")
    os.makedirs(staged, exist_ok=True)
    (
        spark.read.schema(point_schema)
        .json(input_dir)
        .select(F.lit("_").alias("key"), "id", "features")
        .write.mode("overwrite")
        .json(staged)
    )
    with open(os.path.join(staged, "zz_sentinel.json"), "w") as fh:
        fh.write(
            _json.dumps({"key": "_", "id": -int(n_total), "features": []}) + "\n"
        )
    res = run_keyed_structured_stream(
        spark, staged, cfg, os.path.join(checkpoint_dir, "ck")
    )
    return res["_"]
