"""Streaming mode: the incremental slide-loop engine and the Structured
Streaming driver must reproduce the batch detector exactly."""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

from approximate_anomaly_detection_in_data_streams_spark.api import run_detector
from approximate_anomaly_detection_in_data_streams_spark.config import DetectorConfig
from approximate_anomaly_detection_in_data_streams_spark.streaming.incremental import (
    run_slide_loop,
    run_structured_stream,
)

CFG = DetectorConfig(w=100, slide=20, r=0.5, k=8)


@pytest.fixture(scope="module")
def batch_result(spark, gauss2d):
    ids = np.arange(1, len(gauss2d) + 1)
    df = spark.createDataFrame(
        [(int(i), [float(a), float(b)]) for i, (a, b) in zip(ids, gauss2d)],
        "id long, features array<double>",
    )
    res = run_detector(df, CFG)
    outliers = [r.id for r in res.outliers.collect()]
    stats = res.stats.first().asDict()
    return outliers, stats


def test_slide_loop_matches_batch_detector(gauss2d, batch_result):
    outliers, stats = batch_result
    ids = np.arange(1, len(gauss2d) + 1)
    res = run_slide_loop(ids, gauss2d, CFG)
    assert res["outliers"] == outliers
    assert res["n_only_inlier"] == stats["n_only_inlier"]
    assert res["n_only_outlier"] == stats["n_only_outlier"]
    assert res["n_both_inlier_outlier"] == stats["n_both_inlier_outlier"]


def test_structured_stream_matches_batch_detector(
    spark, gauss2d, batch_result, tmp_path
):
    outliers, stats = batch_result
    src = tmp_path / "stream_in"
    src.mkdir()
    ids = np.arange(1, len(gauss2d) + 1)
    # one json file per slide, zero-padded so file order == arrival order
    for seq, start in enumerate(range(0, len(ids), CFG.slide)):
        with open(src / f"batch_{seq:06d}.json", "w") as fh:
            for i in range(start, min(start + CFG.slide, len(ids))):
                fh.write(
                    json.dumps(
                        {"id": int(ids[i]), "features": [float(x) for x in gauss2d[i]]}
                    )
                    + "\n"
                )
    res = run_structured_stream(spark, str(src), CFG, str(tmp_path / "ck"))
    assert res["outliers"] == outliers
    assert res["n_only_outlier"] == stats["n_only_outlier"]


LSHOD_CFG = DetectorConfig(
    w=100, slide=20, r=0.5, k=8, algorithm="lshod", dim=2, num_tables=4
)


@pytest.fixture(scope="module")
def batch_lshod_result(spark, gauss2d):
    """Batch LSHOD (uncapped bucket-collision candidates + exact distance
    filter) on the same stream — the equivalence target."""
    ids = np.arange(1, len(gauss2d) + 1)
    df = spark.createDataFrame(
        [(int(i), [float(a), float(b)]) for i, (a, b) in zip(ids, gauss2d)],
        "id long, features array<double>",
    )
    res = run_detector(df, LSHOD_CFG)
    outliers = [r.id for r in res.outliers.collect()]
    stats = res.stats.first().asDict()
    return outliers, stats


def test_lshod_slide_loop_matches_batch(gauss2d, batch_lshod_result):
    """The incremental LSH-bucketed engine (LSHSlideDetector: same seeded
    projections, same left-to-right dot-product fold as the batch JVM
    expressions) must reproduce the batch LSHOD detector exactly —
    outlier set and lifetime stats (VERDICT r4 #8)."""
    outliers, stats = batch_lshod_result
    ids = np.arange(1, len(gauss2d) + 1)
    res = run_slide_loop(ids, gauss2d, LSHOD_CFG)
    assert res["outliers"] == outliers
    assert res["n_only_inlier"] == stats["n_only_inlier"]
    assert res["n_only_outlier"] == stats["n_only_outlier"]
    assert res["n_both_inlier_outlier"] == stats["n_both_inlier_outlier"]


def test_lshod_structured_stream_matches_batch(
    spark, gauss2d, batch_lshod_result, tmp_path
):
    """LSHOD through the applyInPandasWithState state-store path: the
    keyed streaming dataflow carries the seeded-projection detector per
    key and must equal the batch LSHOD run on the same finite stream."""
    outliers, stats = batch_lshod_result
    src = tmp_path / "lshod_stream_in"
    src.mkdir()
    ids = np.arange(1, len(gauss2d) + 1)
    for seq, start in enumerate(range(0, len(ids), LSHOD_CFG.slide)):
        with open(src / f"batch_{seq:06d}.json", "w") as fh:
            for i in range(start, min(start + LSHOD_CFG.slide, len(ids))):
                fh.write(
                    json.dumps(
                        {"id": int(ids[i]), "features": [float(x) for x in gauss2d[i]]}
                    )
                    + "\n"
                )
    res = run_structured_stream(
        spark, str(src), LSHOD_CFG, str(tmp_path / "ck_lshod")
    )
    assert res["outliers"] == outliers
    assert res["n_only_outlier"] == stats["n_only_outlier"]


def test_keyed_stream_matches_batch_per_key(spark, gauss2d, tmp_path):
    """Distributed keyed streaming (applyInPandasWithState, one detector
    per key in the state store, no collect() in the dataflow): each key's
    outliers and lifetime stats must equal a standalone batch run on that
    key's stream — with files interleaved across keys and out of order."""
    from approximate_anomaly_detection_in_data_streams_spark.streaming.keyed import (
        run_keyed_structured_stream,
    )

    streams = {"a": gauss2d[:600], "b": gauss2d[600:1400]}
    src = tmp_path / "keyed_in"
    src.mkdir()
    # interleave keys and write slides out of order within each key
    seq = 0
    for key, X in streams.items():
        order = list(range(0, len(X), CFG.slide))
        order = order[1::2] + order[0::2]  # shuffle slide file order
        for start in order:
            with open(src / f"f_{seq:06d}_{key}.json", "w") as fh:
                for i in range(start, min(start + CFG.slide, len(X))):
                    fh.write(
                        json.dumps(
                            {
                                "key": key,
                                "id": i + 1,
                                "features": [float(x) for x in X[i]],
                            }
                        )
                        + "\n"
                    )
            seq += 1
    # sentinels (finite-stream markers), deliberately not last on disk
    with open(src / "a_sentinels.json", "w") as fh:
        for key, X in streams.items():
            fh.write(json.dumps({"key": key, "id": -len(X), "features": []}) + "\n")

    got = run_keyed_structured_stream(spark, str(src), CFG, str(tmp_path / "ck2"))
    assert set(got) == set(streams)
    for key, X in streams.items():
        ids = np.arange(1, len(X) + 1)
        exp = run_slide_loop(ids, X, CFG)
        assert got[key]["outliers"] == exp["outliers"]
        for kk in ("n_only_inlier", "n_only_outlier", "n_both_inlier_outlier"):
            assert got[key][kk] == exp[kk]


def test_lshod_keyed_stream_multi_key(spark, gauss2d, tmp_path):
    """Two independent LSHOD streams through one keyed state-store query:
    per-key results must equal standalone incremental runs (which the
    batch-equivalence test above ties to the batch detector)."""
    from approximate_anomaly_detection_in_data_streams_spark.streaming.keyed import (
        run_keyed_structured_stream,
    )

    streams = {"a": gauss2d[:500], "b": gauss2d[500:1200]}
    src = tmp_path / "lshod_keyed_in"
    src.mkdir()
    seq = 0
    for key, X in streams.items():
        for start in range(0, len(X), LSHOD_CFG.slide):
            with open(src / f"f_{seq:06d}_{key}.json", "w") as fh:
                for i in range(start, min(start + LSHOD_CFG.slide, len(X))):
                    fh.write(
                        json.dumps(
                            {"key": key, "id": i + 1,
                             "features": [float(x) for x in X[i]]}
                        ) + "\n"
                    )
            seq += 1
    with open(src / "zz_sentinels.json", "w") as fh:
        for key, X in streams.items():
            fh.write(json.dumps({"key": key, "id": -len(X), "features": []}) + "\n")

    got = run_keyed_structured_stream(
        spark, str(src), LSHOD_CFG, str(tmp_path / "ck_lshod_keyed")
    )
    assert set(got) == set(streams)
    for key, X in streams.items():
        ids = np.arange(1, len(X) + 1)
        exp = run_slide_loop(ids, X, LSHOD_CFG)
        assert got[key]["outliers"] == exp["outliers"]
        for kk in ("n_only_inlier", "n_only_outlier", "n_both_inlier_outlier"):
            assert got[key][kk] == exp[kk]


def test_keyed_stream_resumes_from_checkpoint(spark, gauss2d, tmp_path):
    """Kill/resume: a first availableNow run drains only the files present;
    a second run with the SAME checkpoint dir must restore the state-store
    detectors and source offsets — processing only the new files, emitting
    each outlier exactly once across the two runs, and finishing with the
    batch-equal result. Double emission (= state lost / files replayed)
    would break the merged equality."""
    from approximate_anomaly_detection_in_data_streams_spark.streaming.keyed import (
        run_keyed_structured_stream,
    )

    X = gauss2d[:800]
    src = tmp_path / "resume_in"
    src.mkdir()
    starts = list(range(0, len(X), CFG.slide))

    def write_file(seq, start):
        with open(src / f"f_{seq:06d}.json", "w") as fh:
            for i in range(start, min(start + CFG.slide, len(X))):
                fh.write(
                    json.dumps(
                        {"key": "a", "id": i + 1, "features": [float(x) for x in X[i]]}
                    )
                    + "\n"
                )

    half = len(starts) // 2
    for seq, start in enumerate(starts[:half]):
        write_file(seq, start)
    ck = str(tmp_path / "ck_resume")
    out_dir = str(tmp_path / "resume_out")
    run_keyed_structured_stream(
        spark, str(src), CFG, ck, query_name="resume1", output_dir=out_dir
    )

    for seq, start in enumerate(starts[half:], start=half):
        write_file(seq, start)
    with open(src / "zz_sentinel.json", "w") as fh:
        fh.write(json.dumps({"key": "a", "id": -len(X), "features": []}) + "\n")
    # the file sink accumulates across restarts, so got2 holds ALL rows
    got2 = run_keyed_structured_stream(
        spark, str(src), CFG, ck, query_name="resume2", output_dir=out_dir
    )

    merged = got2["a"]["outliers"]
    ids = np.arange(1, len(X) + 1)
    exp = run_slide_loop(ids, X, CFG)
    assert merged == exp["outliers"]
    assert len(set(merged)) == len(merged)  # exactly-once across the restart
    for kk in ("n_only_inlier", "n_only_outlier", "n_both_inlier_outlier"):
        assert got2["a"][kk] == exp[kk]


def test_keyed_state_size_flat():
    """State-store blob size must be bounded by W x dim + pending — NOT
    grow with stream length (recorded outliers and per-batch diagnostics
    are drained each trigger). Drives the applyInPandasWithState function
    directly with a fake state handle."""
    import pickle

    import numpy as np
    import pandas as pd

    from approximate_anomaly_detection_in_data_streams_spark.config import (
        DetectorConfig,
    )
    from approximate_anomaly_detection_in_data_streams_spark.streaming.keyed import (
        _keyed_func,
    )

    class FakeState:
        def __init__(self):
            self.blob = None

        @property
        def exists(self):
            return self.blob is not None

        @property
        def get(self):
            return (self.blob,)

        def update(self, t):
            self.blob = t[0]

    cfg = DetectorConfig(w=100, slide=25, r=0.5, k=60)  # k high: many outliers
    func = _keyed_func(cfg)
    state = FakeState()
    rng = np.random.default_rng(3)
    sizes = []
    n_out = 0
    for trig in range(40):
        ids = np.arange(trig * 25 + 1, trig * 25 + 26)
        pdf = pd.DataFrame(
            {
                "id": ids,
                "features": [rng.normal(size=4).tolist() for _ in ids],
            }
        )
        for out in func(("k",), iter([pdf]), state):
            n_out += (out["kind"] == "outlier").sum()
        sizes.append(len(state.blob))
    assert n_out > 100  # the stream really does record outliers steadily
    # after the window fills (trigger >= 4), blob size must be flat
    steady = sizes[5:]
    assert max(steady) - min(steady) <= 0.1 * min(steady), sizes[:8] + sizes[-3:]


class _FakeState:
    """The slice of Spark's GroupState that ``_keyed_func`` uses."""

    def __init__(self):
        self.blob = None

    @property
    def exists(self):
        return self.blob is not None

    @property
    def get(self):
        return (self.blob,)

    def update(self, t):
        self.blob = t[0]


def _dup_stream(n: int, seed: int) -> np.ndarray:
    """2-d stream where most rows repeat an earlier vector exactly."""
    rng = np.random.default_rng(seed)
    base = rng.normal(0, 1, size=(n // 4, 2))
    return base[rng.integers(0, len(base), n)]


def test_slide_bins_match_brute_recount(gauss2d):
    """After every batch, each window point's bin for window slide s holds
    exactly its neighbors among slide s (a brute-force recount of the
    current window) — so bin drift that never flips an outlier still
    fails. Streams: duplicate vectors and gauss2d, both ending in a
    partial slide."""
    from approximate_anomaly_detection_in_data_streams_spark.oracle.brute import _dist2
    from approximate_anomaly_detection_in_data_streams_spark.streaming.incremental import (
        SlideDetector,
    )

    cfg = DetectorConfig(w=60, slide=20, r=0.5, k=8)
    for X in (_dup_stream(250, 7), gauss2d[:250]):
        det = SlideDetector(cfg)
        ids = np.arange(1, len(X) + 1)
        for start in range(0, len(X), cfg.slide):
            det.process_batch(ids[start : start + cfg.slide], X[start : start + cfg.slide])
            wids = det._ids
            lo = max(0, (start // cfg.slide - cfg.ws + 1) * cfg.slide)
            assert wids.tolist() == ids[lo : start + cfg.slide].tolist()
            near = _dist2(X[wids - 1], X[wids - 1]) <= cfg.r**2
            np.fill_diagonal(near, False)
            slides = (wids - 1) // cfg.slide + 1
            for s in np.unique(slides):
                exp = near[:, slides == s].sum(axis=1)
                assert det._bins[:, s % cfg.ws].tolist() == exp.tolist()
            assert det._bins.sum(axis=1).tolist() == near.sum(axis=1).tolist()


@pytest.mark.parametrize("cfg", [CFG, LSHOD_CFG], ids=["mcod", "lshod"])
def test_detector_pickled_every_slide_finishes_identically(gauss2d, cfg):
    """Keyed streams pickle the detector into the state store every
    trigger; a detector round-tripped through pickle after every slide
    (derived arrays rebuilt on load) must finish exactly like one that
    never left memory."""
    import pickle

    from approximate_anomaly_detection_in_data_streams_spark.streaming.incremental import (
        make_slide_detector,
    )

    X = gauss2d[:330]  # ends in a partial slide
    ids = np.arange(1, len(X) + 1)
    kept, moved = make_slide_detector(cfg, 2), make_slide_detector(cfg, 2)
    for start in range(0, len(X), cfg.slide):
        sl = slice(start, start + cfg.slide)
        kept.process_batch(ids[sl], X[sl])
        moved.process_batch(ids[sl], X[sl])
        assert np.array_equal(moved._bins, kept._bins)
        moved = pickle.loads(pickle.dumps(moved))
    assert moved.finish() == kept.finish()
    assert moved.diagnostics == kept.diagnostics


@pytest.mark.parametrize("algorithm", ["mcod", "lshod"])
def test_keyed_dim_from_first_nonempty_vector(algorithm):
    """With ``cfg.dim = 0`` the key's dim comes from its first non-empty
    feature vector; a point of another length (an empty vector included)
    fails with a ValueError naming the key, the id and both lengths."""
    import pandas as pd

    from approximate_anomaly_detection_in_data_streams_spark.streaming.keyed import (
        _keyed_func,
    )

    cfg = DetectorConfig(w=20, slide=10, r=0.5, k=3, algorithm=algorithm)
    rng = np.random.default_rng(5)

    def trigger(func, state, ids, dims):
        pdf = pd.DataFrame(
            {"id": ids, "features": [rng.normal(size=d).tolist() for d in dims]}
        )
        return list(func(("k1",), iter([pdf]), state))

    # a sentinel-only trigger first, then a clean 3-slide stream
    func, state = _keyed_func(cfg), _FakeState()
    trigger(func, state, [-30], [0])
    out = trigger(func, state, list(range(1, 31)), [4] * 30)
    assert any((o["kind"] == "n_only_inlier").any() for o in out)

    # empty first vector: dim 4 comes from id 2, id 1 is the mismatch
    with pytest.raises(ValueError, match=r"'k1'.* id 1 has 0 features.*dim is 4"):
        trigger(_keyed_func(cfg), _FakeState(), list(range(1, 11)), [0] + [4] * 9)

    # a short vector in the second slide
    func, state = _keyed_func(cfg), _FakeState()
    trigger(func, state, list(range(1, 11)), [4] * 10)
    with pytest.raises(ValueError, match=r"'k1'.* id 13 has 3 features.*dim is 4"):
        trigger(func, state, list(range(11, 21)), [4, 4, 3] + [4] * 7)
