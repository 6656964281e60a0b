"""Windowed distance-outlier detector: classification + violation assembly.

Re-expresses the MCOD semantics (/root/reference/src/algorithms/MCOD.java) as
per-batch recomputation over slide-binned neighbor counts instead of
incremental index maintenance. A point's status at any moment is fully
determined by the window content (count of neighbors within R >= k,
/root/reference/src/algorithms/MCOD.java:69-78); the reference's event queue,
micro-clusters and PD index (W3/J6/A9 in SURVEY.md) exist only to make
single-threaded incrementality fast and contribute nothing to the semantics.

Three kinds of evaluation moment reproduce the full status trajectory:

  * ``end``     — after batch b's ingestion: window = slides [b-ws+1 .. b].
                  Every point is evaluated in every batch it lives through.
  * ``pre``     — after batch b's expiry, before its ingestion: window =
                  slides [b-ws+1 .. b-1] (the event-queue re-check moment,
                  /root/reference/src/algorithms/MCOD.java:228-261).
  * ``arrival`` — when p itself is ingested: neighbors are the surviving
                  slides plus same-batch points with smaller id
                  (/root/reference/src/algorithms/MCOD.java:302-317 ingests
                  and classifies sequentially).

Counts only grow between ``pre`` and ``end`` of the same batch, so the
*violation* set (pure outliers: never inlier, nOutlier>0 && nInlier==0,
/root/reference/src/core/OutlierDetector.java:43-62) needs only ``end``
evaluations; ``pre`` and ``arrival`` matter for the lifetime statistics
{nOnlyInlier, nOnlyOutlier, nBothInlierOutlier}
(/root/reference/src/algorithms/MCODBase.java:205-227).

Known, deliberate deviation (stats only, never the violation set): when a
micro-cluster dissolves, the reference re-processes its members one at a
time (/root/reference/src/algorithms/MCOD.java:283-290); members not yet
reinserted are invisible to the rebuilding range queries, so a re-processed
member can transiently *undercount* and be spuriously classified OUTLIER,
inflating nBothInlierOutlier (observed: shuttle 5k, W=1000/S=100/R=45/k=30
— reference prints 4549/234/217 where the true status trajectory gives
4551/234/215). Transient *overcounts* are impossible, so spurious INLIER
events cannot occur and the pure-outlier violation set is identical under
both accountings — verified bit-exact against reference runs. We compute
the order-independent semantic truth; replicating the artifact would
require serializing the exact single-threaded reinsertion order.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import cached_property
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import DetectorConfig
from .pairs import exact_neighbor_counts
from .windows import n_batches, point_batches, with_slide


@dataclass
class DetectionResult:
    """Lazy DataFrames for every stage of one detection run.

    ``evaluations`` is planned on first read only: the verdict path never
    consumes it, and building its plan costs py4j round-trips (and, without
    ``cfg.n_total``, a ``max(id)`` job for the batch count)."""

    outliers: DataFrame  # (id) ascending — the violation set (K1 sink shape)
    per_point: DataFrame  # (id, ever_inlier, ever_outlier)
    stats: DataFrame  # single row of lifetime counters (K2 sink shape)
    build_evaluations: Callable[[], DataFrame] = field(repr=False)

    @cached_property
    def evaluations(self) -> DataFrame:
        """(id, b, kind, cnt, is_inlier) evaluation rows."""
        return self.build_evaluations()


def batch_counts(counts: DataFrame, cfg: DetectorConfig, b_total: int) -> DataFrame:
    """Per (point, batch) neighbor counts from the slide-binned count table
    (i, slide_i, slide_j, c, c_arr — see pairs.exact_neighbor_counts).

    A neighbor in slide sj counts toward i's ``end`` evaluation of every
    batch whose window contains both, b in [max(si,sj), min(B,
    min(si,sj)+ws-1)], and toward the ``pre`` evaluation of the same range
    minus its first batch. One explode + one aggregation produces both; the
    fan-out factor is <= W/S per count row and the input is already
    pre-aggregated to O(n x ws) rows.
    """
    ws = cfg.ws
    grouped = counts.groupBy("i", "slide_i", "slide_j").agg(
        F.sum("c").alias("c")
    )
    lo = F.greatest("slide_i", "slide_j")
    hi = F.least(F.lit(b_total), F.least("slide_i", "slide_j") + F.lit(ws - 1))
    exploded = grouped.select(
        F.col("i").alias("id"),
        lo.alias("lo"),
        F.explode(F.sequence(lo, hi)).alias("b"),
        "c",
    )
    return exploded.groupBy("id", "b").agg(
        F.sum("c").alias("cnt_end"),
        F.sum(F.when(F.col("b") > F.col("lo"), F.col("c")).otherwise(0)).alias("cnt_pre"),
    )


def arrival_counts(counts: DataFrame) -> DataFrame:
    """Neighbor count seen by each point at its own ingestion moment.

    Expiry of slides <= slide(i)-ws precedes ingestion of batch slide(i),
    and the count table already excludes slide gaps >= ws, so the arrival
    count is simply the total count of neighbors with smaller id (c_arr).
    """
    return (
        counts.groupBy(F.col("i").alias("id"))
        .agg(F.sum("c_arr").alias("cnt_arrival"))
        .where(F.col("cnt_arrival") > 0)
    )


def evaluations(
    points_with_slide: DataFrame,
    slide_counts: DataFrame,
    cfg: DetectorConfig,
    b_total: int,
) -> DataFrame:
    """All (id, b, kind, cnt, is_inlier) evaluation rows (A3 classification)."""
    k = cfg.k
    counts = batch_counts(slide_counts, cfg, b_total)

    pb = point_batches(points_with_slide, cfg, b_total)
    end_evals = (
        pb.join(counts, ["id", "b"], "left")
        .select(
            "id",
            "b",
            F.lit("end").alias("kind"),
            F.coalesce("cnt_end", F.lit(0)).alias("cnt"),
        )
    )
    pre_evals = (
        pb.where(F.col("b") > F.col("slide"))
        .join(counts, ["id", "b"], "left")
        .select(
            "id",
            "b",
            F.lit("pre").alias("kind"),
            F.coalesce("cnt_pre", F.lit(0)).alias("cnt"),
        )
    )
    arr_evals = (
        points_with_slide.select("id", F.col("slide").alias("b"))
        .join(arrival_counts(slide_counts), ["id"], "left")
        .select(
            "id",
            "b",
            F.lit("arrival").alias("kind"),
            F.coalesce("cnt_arrival", F.lit(0)).alias("cnt"),
        )
    )
    evals = end_evals.unionByName(pre_evals).unionByName(arr_evals)
    return evals.withColumn("is_inlier", F.col("cnt") >= F.lit(k))


def _with_zero_rows(
    slide_counts: DataFrame, points_with_slide: DataFrame, cfg: DetectorConfig
) -> DataFrame:
    """Union one zero-count row per id 1..cfg.n_total onto the count table.

    The count kernels emit only NONZERO bins, so a point with no
    neighbors anywhere is absent from ``slide_counts``; the zero rows
    enumerate every point (the contiguous-id contract behind
    ``cfg.n_total``) so the per-id aggregation needs no join back to the
    points table. The rows are generated in place by ``range`` (no scan,
    no IO) and merge in the aggregation's map-side combine.
    """
    from .windows import slide_of

    sl = slide_of(F.col("id"), cfg.slide)
    zeros = points_with_slide.sparkSession.range(1, cfg.n_total + 1).select(
        F.col("id").alias("i"),
        sl.alias("slide_i"),
        sl.alias("slide_j"),
        F.lit(0).cast("long").alias("c"),
        F.lit(0).cast("long").alias("c_arr"),
    )
    return slide_counts.select(
        "i", "slide_i", "slide_j", "c", "c_arr"
    ).unionByName(zeros)


def _with_last_batch(
    per_id: DataFrame,
    points_with_slide: DataFrame,
    cfg: DetectorConfig,
    b_total: int | None,
) -> tuple[DataFrame, Column]:
    """``per_id`` plus the total batch count B as a column expression.

    A known ``b_total`` (or ``cfg.n_total``) gives a literal. Otherwise
    B = ceil(max(id) / S) is computed in-plan from a one-row aggregate
    broadcast onto ``per_id``, so building the plan runs no job
    (``windows.n_batches`` would block on ``agg(max(id)).first()``)."""
    if b_total is None and cfg.n_total:
        b_total = n_batches(points_with_slide, cfg)
    if b_total is not None:
        return per_id, F.lit(b_total)
    last = points_with_slide.agg(
        F.expr(f"(max(id) + {cfg.slide - 1}) div {cfg.slide}").alias("_b_total")
    )
    return per_id.crossJoin(F.broadcast(last)), F.col("_b_total")


def per_point_verdicts(
    points_with_slide: DataFrame,
    slide_counts: DataFrame,
    cfg: DetectorConfig,
    b_total: int | None = None,
) -> DataFrame:
    """Fused per-point (ever_inlier, ever_outlier) — the scale path.

    Equivalent to aggregating ``evaluations`` (property-tested for
    equality) but with the shallowest possible DAG: ONE groupBy(id) over
    the slide-binned count table, then window arithmetic inside a JVM
    higher-order expression over each point's <= 2*ws-1 count bins.

    Derivation (si = slide(i), A[sj] = neighbor count in slide sj):

      * end count at batch b = si+t is the sliding-window sum
        sum(A[sj] for b-ws+1 <= sj <= b) — bins absent from the table
        contribute 0, so no present-row bookkeeping is needed;
      * pre count at b (b > si) = end(b) - A[b] (the batch-b arrivals are
        exactly what ingestion adds between the two moments);
      * arrival count = sum(c_arr).

    Counts only grow between pre and end of a batch, so these three cover
    the full status trajectory (module docstring). The per-id evaluation
    loop is a transform/aggregate over a tiny array (<= 2*ws-1 structs x
    <= ws batches) — whole-stage codegen, no explode, no extra shuffle.

    When ``cfg.n_total`` is set (the production contract: ids are the
    contiguous sequence 1..n_total, validated at the entry layer), the
    per-point frame is built JOIN-FREE: the count kernels emit only
    nonzero bins, so isolated points are enumerated by unioning one
    zero-count row per id from a ``range`` — generated in place, merged
    by the map-side combine of the aggregation shuffle that already
    exists. That removes the O(n) base-side shuffle + sort-merge join
    the fallback path pays to re-attach points with no count rows.

    ``b_total`` (the batch count B) may be None: B then comes from
    ``cfg.n_total``, or else from ``max(id)`` inside the plan (see
    ``_with_last_batch``).
    """
    ws, k = cfg.ws, cfg.k
    if ws <= 24:
        # UNROLLED flat-codegen path (the production regime): the 2*ws-1
        # slide-offset bins pivot into plain conditional-sum columns in ONE
        # groupBy (the higher-order formulation below needs two shuffles —
        # count-bin consolidation, then per-id collect_list — and its
        # transform/aggregate lambdas evaluate INTERPRETED per element
        # with per-row object churn: measured ~90 s of JVM CPU for 1M ids
        # at sf1 vs seconds for the pivoted form). Guarded by ws because
        # the expression tree grows O(ws^2); beyond the guard the array
        # path below keeps codegen-sized plans.
        return _per_point_verdicts_pivoted(
            points_with_slide, slide_counts, cfg, b_total
        )
    counts_src = (
        _with_zero_rows(slide_counts, points_with_slide, cfg)
        if cfg.n_total
        else slide_counts
    )
    grouped = counts_src.groupBy("i", "slide_i", "slide_j").agg(
        F.sum("c").alias("c"), F.sum("c_arr").alias("ca")
    )
    per_id = grouped.groupBy(F.col("i").alias("id")).agg(
        F.first("slide_i").alias("slide"),
        F.collect_list(
            F.struct((F.col("slide_j") - F.col("slide_i")).alias("off"), F.col("c"))
        ).alias("bins"),
        F.sum("ca").alias("cnt_arrival"),
    )
    if cfg.n_total:
        joined = per_id
    else:
        base = points_with_slide.select("id", "slide")
        joined = base.join(per_id.drop("slide"), "id", "left")
    joined, last = _with_last_batch(joined, points_with_slide, cfg, b_total)
    n_b = (
        F.least(last, F.col("slide") + F.lit(ws - 1))
        - F.col("slide")
        + 1
    ).cast("int")
    bins = F.coalesce("bins", F.array())
    # end_t for t in 0..n_b-1: window sum over offsets [t-ws+1, t]
    end_counts = F.transform(
        F.sequence(F.lit(0), n_b - 1),
        lambda t: F.aggregate(
            bins,
            F.lit(0).cast("long"),
            lambda acc, r: acc
            + F.when(
                (r["off"] >= t - F.lit(ws - 1)) & (r["off"] <= t), r["c"]
            ).otherwise(F.lit(0).cast("long")),
        ),
    )
    ever_inlier = F.exists(end_counts, lambda c: c >= k)
    ever_out_end = F.exists(end_counts, lambda c: c < k)
    # pre evaluations exist for batches t >= 1 only: window sum over
    # offsets [t-ws+1, t-1] (batch-t arrivals excluded). CaseWhen guards
    # the n_b == 1 case (sequence(1, 0) would run descending).
    pre_counts = F.transform(
        F.sequence(F.lit(1), n_b - 1),
        lambda t: F.aggregate(
            bins,
            F.lit(0).cast("long"),
            lambda acc, r: acc
            + F.when(
                (r["off"] >= t - F.lit(ws - 1)) & (r["off"] <= t - 1), r["c"]
            ).otherwise(F.lit(0).cast("long")),
        ),
    )
    ever_out_pre = F.when(
        n_b > 1, F.exists(pre_counts, lambda p: p < k)
    ).otherwise(F.lit(False))
    ever_outlier = (
        ever_out_end
        | ever_out_pre
        | (F.coalesce("cnt_arrival", F.lit(0)) < k)
    )
    return joined.select(
        "id",
        F.coalesce(ever_inlier, F.lit(False)).alias("ever_inlier"),
        ever_outlier.alias("ever_outlier"),
    )


def _per_point_verdicts_pivoted(
    points_with_slide: DataFrame,
    slide_counts: DataFrame,
    cfg: DetectorConfig,
    b_total: int | None,
) -> DataFrame:
    """Unrolled per-point verdicts (see per_point_verdicts): the 2*ws-1
    neighbor-count bins become conditional-sum columns in one groupBy and
    every window sum / threshold test is a flat whole-stage-codegen
    expression. Bit-identical semantics to the higher-order formulation
    (property-tested equal); the derivation in per_point_verdicts'
    docstring applies unchanged. Join-free under the ``cfg.n_total``
    contiguous-id contract (zero-row union, see per_point_verdicts)."""
    ws, k = cfg.ws, cfg.k
    off = F.col("slide_j") - F.col("slide_i")
    counts_src = (
        _with_zero_rows(slide_counts, points_with_slide, cfg)
        if cfg.n_total
        else slide_counts
    )
    per_id = counts_src.groupBy(F.col("i").alias("id")).agg(
        F.min("slide_i").alias("slide"),
        *[
            F.sum(
                F.when(off == o, F.col("c")).otherwise(F.lit(0).cast("long"))
            ).alias(f"_b{o + ws - 1}")
            for o in range(-(ws - 1), ws)
        ],
        F.sum("c_arr").alias("cnt_arrival"),
    )
    if cfg.n_total:
        joined = per_id
    else:
        base = points_with_slide.select("id", "slide")
        joined = base.join(per_id.drop("slide"), "id", "left")
    joined, last = _with_last_batch(joined, points_with_slide, cfg, b_total)
    n_b = (
        F.least(last, F.col("slide") + F.lit(ws - 1))
        - F.col("slide")
        + 1
    ).cast("int")

    def bin_col(o: int):
        return F.coalesce(F.col(f"_b{o + ws - 1}"), F.lit(0).cast("long"))

    def win_sum(lo: int, hi: int):
        total = None
        for o in range(max(lo, -(ws - 1)), min(hi, ws - 1) + 1):
            total = bin_col(o) if total is None else total + bin_col(o)
        return total if total is not None else F.lit(0).cast("long")

    # end count at batch offset t (t = 0 .. n_b-1): window sum over bin
    # offsets [t-ws+1, t]; pre count at t >= 1 excludes the batch-t
    # arrivals: offsets [t-ws+1, t-1]
    ever_inlier = None
    ever_out_end = None
    ever_out_pre = None
    for t in range(ws):
        in_range = F.lit(t) < n_b
        end_t = win_sum(t - ws + 1, t)
        e_in = in_range & (end_t >= F.lit(k))
        e_out = in_range & (end_t < F.lit(k))
        ever_inlier = e_in if ever_inlier is None else (ever_inlier | e_in)
        ever_out_end = e_out if ever_out_end is None else (ever_out_end | e_out)
        if t >= 1:
            p_out = in_range & (win_sum(t - ws + 1, t - 1) < F.lit(k))
            ever_out_pre = (
                p_out if ever_out_pre is None else (ever_out_pre | p_out)
            )
    ever_outlier = (
        ever_out_end
        | (ever_out_pre if ever_out_pre is not None else F.lit(False))
        | (F.coalesce("cnt_arrival", F.lit(0).cast("long")) < F.lit(k))
    )
    return joined.select(
        "id",
        F.coalesce(ever_inlier, F.lit(False)).alias("ever_inlier"),
        ever_outlier.alias("ever_outlier"),
    )


def batch_diagnostics(points: DataFrame, cfg: DetectorConfig) -> DataFrame:
    """Per-batch window diagnostics on the BATCH path — the analog of the
    reference's per-batch DIAG prints and work counters (K3/A7,
    /root/reference/src/algorithms/MCOD.java:320-332,
    /root/reference/src/algorithms/MCODBase.java:79): one row per batch b
    with the window population, arrivals, expiries, the end-evaluation
    outlier count, and the pairwise-distance evaluations the recompute
    kernel spends on that window (the batch analog of
    nRangeQueriesExecuted). Matches the streaming engine's per-batch
    diagnostics on (window_size, n_new) — tested in
    tests/test_profile_ops.py.
    """
    pts = with_slide(points, cfg)
    b_total = n_batches(points, cfg)
    slide_counts = exact_neighbor_counts(pts, cfg)
    counts = batch_counts(slide_counts, cfg, b_total)
    pb = point_batches(pts, cfg, b_total)
    evals = pb.join(counts, ["id", "b"], "left").select(
        "b",
        (F.coalesce("cnt_end", F.lit(0)) < F.lit(cfg.k)).cast("long").alias(
            "is_out"
        ),
    )
    per_b = evals.groupBy("b").agg(
        F.count(F.lit(1)).alias("window_size"),
        F.sum("is_out").alias("n_end_outliers"),
    )
    arrivals = pts.groupBy(F.col("slide").alias("b")).agg(
        F.count(F.lit(1)).alias("n_new")
    )
    expiries = (
        pts.groupBy((F.col("slide") + F.lit(cfg.ws)).alias("b"))
        .agg(F.count(F.lit(1)).alias("n_expired"))
        .where(F.col("b") <= b_total)
    )
    return (
        per_b.join(arrivals, "b", "left")
        .join(expiries, "b", "left")
        .select(
            "b",
            "window_size",
            F.coalesce("n_new", F.lit(0)).alias("n_new"),
            F.coalesce("n_expired", F.lit(0)).alias("n_expired"),
            "n_end_outliers",
            (F.col("window_size") * (F.col("window_size") - 1)).alias(
                "n_distance_evals"
            ),
        )
        .orderBy("b")
    )


def detect(
    points: DataFrame,
    cfg: DetectorConfig,
    slide_counts: DataFrame | None = None,
) -> DetectionResult:
    """Run the full detector.

    ``slide_counts`` may inject a pre-binned count table (the LSH
    variants' block kernel emits one — operators/lsh.py::
    lsh_neighbor_counts); without it the exact block kernel
    (operators/pairs.py::exact_neighbor_counts) bins the counts. No pair
    table is ever materialized. The verdict aggregation
    uses the fused per-point path; ``evaluations`` is planned on first
    read, for diagnostics and property tests. Building the result runs no
    Spark job: without ``cfg.n_total`` the batch count is derived in-plan."""
    pts = with_slide(points, cfg)
    if slide_counts is None:
        slide_counts = exact_neighbor_counts(pts, cfg)

    per_point = per_point_verdicts(pts, slide_counts, cfg)
    outliers = (
        per_point.where(~F.col("ever_inlier")).select("id").orderBy("id")
    )
    stats = per_point.agg(
        F.sum((F.col("ever_inlier") & ~F.col("ever_outlier")).cast("long")).alias(
            "n_only_inlier"
        ),
        F.sum((~F.col("ever_inlier") & F.col("ever_outlier")).cast("long")).alias(
            "n_only_outlier"
        ),
        F.sum((F.col("ever_inlier") & F.col("ever_outlier")).cast("long")).alias(
            "n_both_inlier_outlier"
        ),
        F.count(F.lit(1)).alias("n_points"),
    )
    return DetectionResult(
        outliers=outliers,
        per_point=per_point,
        stats=stats,
        build_evaluations=lambda: evaluations(
            pts, slide_counts, cfg, n_batches(points, cfg)
        ),
    )
