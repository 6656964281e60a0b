"""Capped-LSH semantics: the bucket_cap path must reproduce the
reference's HashSet union over CAPPED tables — a pair whose member was
evicted from its first-colliding bucket is still found at a later table
where both members survive (/root/reference/src/core/lsh/
HashTable.java:81-101, LSHIndex.java:33-44). The r3 review flagged that
a min-table dedupe used to suppress exactly those pairs; these tests pin
the survivor-restricted semantics of ``lsh_neighbor_counts``, capped and
uncapped, against an independent Python replay of keys + cap + union.
"""

from __future__ import annotations

import math
from collections import defaultdict

import pytest
from pyspark.sql import functions as F

from approximate_anomaly_detection_in_data_streams_spark.api import lshod_config
from approximate_anomaly_detection_in_data_streams_spark.operators.lsh import (
    lsh_neighbor_counts,
    make_projections,
)

N, W, S, R, K = 60, 20, 5, 1.0, 3
CAP = 4


@pytest.fixture(scope="module")
def fixture(spark):
    cfg = lshod_config(W, S, R, K, dim=1, n_total=N)
    # values spread across ~a bucket width so each table's random
    # projection splits the same points DIFFERENTLY — per-table survivor
    # sets then differ and CAP=4 thins some first-colliding buckets while
    # later tables keep both members (the regime the survivor restriction
    # exists for)
    rows = [
        (i, (i - 1) // S + 1, [float((i % 11) * 0.1)]) for i in range(1, N + 1)
    ]
    pts = spark.createDataFrame(
        rows, "id long, slide long, features array<double>"
    )
    return cfg, pts, rows


def _python_capped_union(spark, cfg, rows, cap):
    """Independent replay: scalar p-stable keys from ``make_projections``,
    per-(t, key, block) cap by seeded-hash order (``cap=None``: no cap),
    candidate = union over tables of co-surviving bucket pairs, then the
    exact slide-band + distance filters. Returns the DIRECTED pair set and
    the pairs the old first-collision predicate would have suppressed."""
    L, m = cfg.num_tables, cfg.num_hashes
    ws = cfg.ws
    A, b = make_projections(cfg, len(rows[0][2]))
    w = float(cfg.lsh_bucket_width)
    slide = {i: s for i, s, _ in rows}
    feats = {i: f for i, _, f in rows}
    prio = {
        r.id: r.xx
        for r in spark.createDataFrame([(i,) for i in slide], "id long")
        .select("id", F.xxhash64("id", F.lit(cfg.seed)).alias("xx"))
        .collect()
    }

    def h(i: int, t: int, j: int) -> int:
        dot = feats[i][0] * float(A[t, j, 0])
        for d in range(1, len(feats[i])):
            dot = dot + feats[i][d] * float(A[t, j, d])
        return math.floor((dot + float(b[t, j])) / w)

    keys = {(i, t): tuple(h(i, t, j) for j in range(m)) for i in slide for t in range(L)}

    def blk(i: int) -> int:
        return (slide[i] - 1) // ws

    surv: dict[tuple, set] = {}
    for t in range(L):
        groups = defaultdict(list)
        for i in slide:
            groups[(keys[(i, t)], blk(i))].append(i)
        for (k_, g), ids in groups.items():
            ids.sort(key=lambda i: (prio[i], i))
            surv[(t, k_, g)] = set(ids if cap is None else ids[:cap])

    expected = set()
    suppressed_by_old_predicate = set()
    for i in slide:
        for j in slide:
            if i >= j:
                continue
            if abs(slide[i] - slide[j]) > ws - 1:
                continue
            d2 = sum((x - y) ** 2 for x, y in zip(feats[i], feats[j]))
            if d2 > float(cfg.r) ** 2:
                continue
            found = None
            first_key_collision = None
            for t in range(L):
                if keys[(i, t)] != keys[(j, t)]:
                    continue
                if first_key_collision is None:
                    first_key_collision = t
                if (
                    i in surv[(t, keys[(i, t)], blk(i))]
                    and j in surv[(t, keys[(j, t)], blk(j))]
                ):
                    found = t
                    break
            if found is not None:
                expected.add((i, j))
                expected.add((j, i))
                if found != first_key_collision:
                    # a first-collision (unrestricted) predicate would
                    # have suppressed this pair at its first key collision
                    suppressed_by_old_predicate.add((i, j))
    return expected, suppressed_by_old_predicate


def _bin(pairs, slide) -> dict:
    """Directed pairs -> (i, slide_i, slide_j) -> (c, c_arr), the count
    contract of the detector's kernels (c_arr: neighbors with j < i)."""
    acc = defaultdict(lambda: [0, 0])
    for i, j in pairs:
        acc[(i, slide[i], slide[j])][0] += 1
        acc[(i, slide[i], slide[j])][1] += int(j < i)
    return {k: tuple(v) for k, v in acc.items()}


def _kernel_counts(pts, cfg, cap) -> dict:
    acc = defaultdict(lambda: [0, 0])
    for r in lsh_neighbor_counts(pts, cfg, bucket_cap=cap).collect():
        acc[(r.i, r.slide_i, r.slide_j)][0] += r.c
        acc[(r.i, r.slide_i, r.slide_j)][1] += r.c_arr
    return {k: tuple(v) for k, v in acc.items()}


def test_capped_pairs_match_reference_union(spark, fixture):
    cfg, pts, rows = fixture
    expected, regression_pairs = _python_capped_union(spark, cfg, rows, CAP)
    # the fixture must actually exercise the survivor restriction —
    # otherwise this test proves nothing about the capped path
    assert regression_pairs, "fixture never thins a first-colliding bucket"
    slide = {i: s for i, s, _ in rows}
    assert _kernel_counts(pts, cfg, CAP) == _bin(expected, slide)


def test_uncapped_unchanged(spark, fixture):
    """cap=None keeps the exact-union semantics: every within-R co-window
    pair colliding in >= 1 table, counted once."""
    cfg, pts, rows = fixture
    expected, _ = _python_capped_union(spark, cfg, rows, None)
    slide = {i: s for i, s, _ in rows}
    assert _kernel_counts(pts, cfg, None) == _bin(expected, slide)


def test_cap_only_lowers_counts(spark, fixture):
    """The cap can only drop candidates: every capped count is <= its
    uncapped count, and on this fixture the cap really thins something."""
    cfg, pts, rows = fixture
    capped = _kernel_counts(pts, cfg, CAP)
    uncapped = _kernel_counts(pts, cfg, None)
    assert set(capped) <= set(uncapped)
    for k, (c, c_arr) in capped.items():
        assert c <= uncapped[k][0] and c_arr <= uncapped[k][1]
    assert sum(c for c, _ in capped.values()) < sum(
        c for c, _ in uncapped.values()
    )
