"""Exact-core parity: Spark detector == reference Java MCOD == brute oracle.

Golden files in tests/golden/ were produced by compiling and running the
actual reference (/root/reference/src/Executor.java) on the committed
gauss2d.csv fixture; the brute oracle (oracle/brute.py) has been verified to
match them exactly for every (W, S, R, k) below.
"""

from __future__ import annotations

import numpy as np
import pytest

from approximate_anomaly_detection_in_data_streams_spark.config import DetectorConfig
from approximate_anomaly_detection_in_data_streams_spark.operators.detector import detect
from approximate_anomaly_detection_in_data_streams_spark.oracle.brute import mcod_brute
from approximate_anomaly_detection_in_data_streams_spark.sources.stream_csv import (
    POINT_SCHEMA,
)

from .conftest import golden_outliers

GOLDEN_CASES = [
    ("mcod_W500_S50_R0.5_k10.txt", 500, 50, 0.5, 10),
    ("mcod_100_20_0.3_5.txt", 100, 20, 0.3, 5),
    ("mcod_500_100_0.8_20.txt", 500, 100, 0.8, 20),
    ("mcod_512_64_0.4_3.txt", 512, 64, 0.4, 3),
    ("mcod_2048_256_1.0_30.txt", 2048, 256, 1.0, 30),
]


def to_points_df(spark, X: np.ndarray):
    rows = [(i + 1, [float(v) for v in row]) for i, row in enumerate(np.atleast_2d(X))]
    return spark.createDataFrame(rows, POINT_SCHEMA)


@pytest.mark.parametrize("golden,w,s,r,k", GOLDEN_CASES)
def test_spark_matches_reference_golden(spark, gauss2d, golden, w, s, r, k):
    cfg = DetectorConfig(w=w, slide=s, r=r, k=k)
    result = detect(to_points_df(spark, gauss2d), cfg)
    got = [row.id for row in result.outliers.collect()]
    assert got == golden_outliers(golden)


def test_spark_stats_match_reference(spark, gauss2d):
    # Reference printed: 1427 always-inlier / 274 always-outlier / 299 both.
    cfg = DetectorConfig(w=500, slide=50, r=0.5, k=10)
    stats = detect(to_points_df(spark, gauss2d), cfg).stats.first()
    assert (
        stats.n_only_inlier,
        stats.n_only_outlier,
        stats.n_both_inlier_outlier,
        stats.n_points,
    ) == (1427, 274, 299, 2000)


@pytest.mark.parametrize(
    "n,d,w,s,r,k,seed",
    [
        (400, 1, 80, 20, 0.2, 3, 0),
        (500, 3, 100, 25, 0.9, 4, 1),
        (333, 2, 90, 30, 0.5, 2, 2),  # n not divisible by slide
        (60, 2, 200, 50, 0.6, 3, 3),  # window never fills (n < W)
        (250, 2, 50, 50, 0.5, 4, 4),  # tumbling window (S == W)
    ],
)
def test_spark_matches_brute_random(spark, n, d, w, s, r, k, seed):
    rng = np.random.default_rng(seed)
    X = rng.normal(0, 1, size=(n, d))
    X[rng.choice(n, size=max(1, n // 50), replace=False)] += 8.0
    cfg = DetectorConfig(w=w, slide=s, r=r, k=k)
    result = detect(to_points_df(spark, X), cfg)
    brute = mcod_brute(X, w=w, slide=s, r=r, k=k)
    got = [row.id for row in result.outliers.collect()]
    assert got == brute["outliers"]
    stats = result.stats.first()
    assert stats.n_only_inlier == brute["n_only_inlier"]
    assert stats.n_only_outlier == brute["n_only_outlier"]
    assert stats.n_both_inlier_outlier == brute["n_both_inlier_outlier"]


def test_stats_sum_to_n(spark, gauss2d):
    # Reference invariant: the three lifetime buckets partition all points
    # (/root/reference/src/Executor.java:239-255).
    cfg = DetectorConfig(w=200, slide=40, r=0.4, k=5)
    stats = detect(to_points_df(spark, gauss2d), cfg).stats.first()
    assert (
        stats.n_only_inlier + stats.n_only_outlier + stats.n_both_inlier_outlier
        == stats.n_points
        == 2000
    )


def test_fused_per_point_equals_evaluation_aggregation(spark, gauss2d):
    """per_point_verdicts (the fused scale path) must agree with the
    explicit evaluation-row aggregation on every point."""
    from approximate_anomaly_detection_in_data_streams_spark.operators.detector import (
        evaluations,
        per_point_verdicts,
    )
    from approximate_anomaly_detection_in_data_streams_spark.operators.pairs import (
        exact_neighbor_counts,
    )
    from approximate_anomaly_detection_in_data_streams_spark.operators.windows import (
        n_batches,
        with_slide,
    )
    from pyspark.sql import functions as F

    cfg = DetectorConfig(w=100, slide=20, r=0.5, k=8)
    points = to_points_df(spark, gauss2d)
    pts = with_slide(points, cfg)
    b_total = n_batches(points, cfg)
    counts = exact_neighbor_counts(pts, cfg)

    evals = evaluations(pts, counts, cfg, b_total)
    via_evals = {
        r.id: (r.ever_inlier, r.ever_outlier)
        for r in evals.groupBy("id")
        .agg(
            F.max(
                F.when(F.col("kind") == "end", F.col("is_inlier")).otherwise(
                    F.lit(False)
                )
            ).alias("ever_inlier"),
            F.max(~F.col("is_inlier")).alias("ever_outlier"),
        )
        .collect()
    }
    fused = {
        r.id: (r.ever_inlier, r.ever_outlier)
        for r in per_point_verdicts(pts, counts, cfg, b_total).collect()
    }
    assert fused == via_evals


def test_in_plan_batch_count_equals_known(spark, gauss2d):
    """per_point_verdicts without b_total derives the batch count in-plan
    from max(id); it must equal passing n_batches' value, on both the
    pivoted (ws <= 24) and higher-order paths, with a partial last slide
    (n not a multiple of S) where the clamp at B decides verdicts."""
    from approximate_anomaly_detection_in_data_streams_spark.operators.detector import (
        per_point_verdicts,
    )
    from approximate_anomaly_detection_in_data_streams_spark.operators.pairs import (
        exact_neighbor_counts,
    )
    from approximate_anomaly_detection_in_data_streams_spark.operators.windows import (
        n_batches,
        with_slide,
    )

    for w, s in ((100, 20), (120, 4)):  # ws=5 (pivoted), ws=30 (array path)
        cfg = DetectorConfig(w=w, slide=s, r=0.5, k=8)
        points = to_points_df(spark, gauss2d[: len(gauss2d) - s // 2 - 1])
        pts = with_slide(points, cfg)
        counts = exact_neighbor_counts(pts, cfg)
        known = per_point_verdicts(pts, counts, cfg, n_batches(points, cfg))
        in_plan = per_point_verdicts(pts, counts, cfg)
        assert sorted(map(tuple, in_plan.collect())) == sorted(
            map(tuple, known.collect())
        ), (w, s)


def test_pivoted_verdicts_equal_higher_order(spark, gauss2d):
    """The unrolled conditional-sum verdict path must agree with the
    higher-order array formulation on every point (same counts input).
    ws=25 routes per_point_verdicts to the higher-order path, so this
    compares the two implementations directly."""
    from approximate_anomaly_detection_in_data_streams_spark.operators.detector import (
        _per_point_verdicts_pivoted,
        per_point_verdicts,
    )
    from approximate_anomaly_detection_in_data_streams_spark.operators.pairs import (
        exact_neighbor_counts,
    )
    from approximate_anomaly_detection_in_data_streams_spark.operators.windows import (
        n_batches,
        with_slide,
    )

    cfg = DetectorConfig(w=50, slide=2, r=0.5, k=4)  # ws=25 > the guard
    points = to_points_df(spark, gauss2d)
    pts = with_slide(points, cfg)
    b_total = n_batches(points, cfg)
    counts = exact_neighbor_counts(pts, cfg)

    hof = {
        r.id: (r.ever_inlier, r.ever_outlier)
        for r in per_point_verdicts(pts, counts, cfg, b_total).collect()
    }
    piv = {
        r.id: (r.ever_inlier, r.ever_outlier)
        for r in _per_point_verdicts_pivoted(pts, counts, cfg, b_total).collect()
    }
    assert piv == hof


def test_join_free_verdicts_equal_join_path(spark):
    """per_point_verdicts with cfg.n_total (join-free zero-row union) must
    equal the base-join fallback, including ISOLATED points (no count
    rows anywhere) — the case the zero rows exist for. Exercises both the
    pivoted (ws <= 24) and higher-order formulations."""
    import dataclasses

    from approximate_anomaly_detection_in_data_streams_spark.operators.detector import (
        per_point_verdicts,
    )
    from approximate_anomaly_detection_in_data_streams_spark.operators.pairs import (
        exact_neighbor_counts,
    )
    from approximate_anomaly_detection_in_data_streams_spark.operators.windows import (
        n_batches,
        with_slide,
    )

    rng = np.random.default_rng(11)
    # dense cluster + far-flung isolated points sprinkled through the stream
    X = rng.normal(0, 0.2, size=(400, 2))
    iso = rng.integers(0, 400, size=25)
    X[iso] += 50.0 + np.arange(len(iso))[:, None] * 17.0  # mutually distant
    for w, s in ((100, 20), (120, 4)):  # ws=5 (pivoted) and ws=30 (array path)
        cfg = DetectorConfig(w=w, slide=s, r=0.5, k=4)
        points = to_points_df(spark, X)
        pts = with_slide(points, cfg)
        b_total = n_batches(points, cfg)
        counts = exact_neighbor_counts(pts, cfg)
        base = {
            r.id: (r.ever_inlier, r.ever_outlier)
            for r in per_point_verdicts(pts, counts, cfg, b_total).collect()
        }
        cfg_n = dataclasses.replace(cfg, n_total=len(X))
        fused = {
            r.id: (r.ever_inlier, r.ever_outlier)
            for r in per_point_verdicts(pts, counts, cfg_n, b_total).collect()
        }
        assert fused == base, (w, s)
