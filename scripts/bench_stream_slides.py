"""Per-slide latency of the incremental stream detector (no Spark).

Feeds an 8-dim ``sources.vectors`` stream (seed 1) slide by slide through
``streaming.incremental.make_slide_detector`` with r=0.5, k=10, S=W/10 and
the LSHOD defaults of ``api.lshod_config``. It fills the window untimed,
times ``steady`` slides, and prints one line per (W, algorithm): p50/p90 ms
per slide, the pickled detector's size (what a keyed stream stores per key)
and the finished lifetime counters, so two checkouts can be compared for
speed and for identical output.

Usage:
  OPENBLAS_NUM_THREADS=1 python scripts/bench_stream_slides.py \\
      [--repo PATH] [--algos mcod,lshod] W[:steady] ...

``--repo`` imports the package from another checkout (e.g. an older commit
for a before/after table); the default is this one. ``steady`` defaults
to 20.
"""

from __future__ import annotations

import os
import pickle
import sys
import time


def main(argv: list[str]) -> None:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    algos = ["mcod", "lshod"]
    sizes = []
    it = iter(argv)
    for a in it:
        if a == "--repo":
            repo = next(it)
        elif a == "--algos":
            algos = next(it).split(",")
        else:
            w, _, steady = a.partition(":")
            sizes.append((int(w), int(steady or 20)))
    sys.path.insert(0, repo)
    import numpy as np

    from approximate_anomaly_detection_in_data_streams_spark.api import lshod_config
    from approximate_anomaly_detection_in_data_streams_spark.config import DetectorConfig
    from approximate_anomaly_detection_in_data_streams_spark.sources.vectors import vector_values
    from approximate_anomaly_detection_in_data_streams_spark.streaming.incremental import (
        make_slide_detector,
    )

    dim, r, k = 8, 0.5, 10
    for w, steady in sizes:
        s = w // 10
        n = (10 + steady) * s
        X = np.array([vector_values(1, i, dim) for i in range(n)], dtype=np.float64)
        ids = np.arange(1, n + 1)
        for algo in algos:
            if algo == "mcod":
                cfg = DetectorConfig(w=w, slide=s, r=r, k=k)
            else:
                cfg = lshod_config(w, s, r, k, dim=dim)
            det = make_slide_detector(cfg, dim)
            lat = []
            for b in range(10 + steady):
                t0 = time.perf_counter()
                det.process_batch(ids[b * s : (b + 1) * s], X[b * s : (b + 1) * s])
                if b >= 10:
                    lat.append(time.perf_counter() - t0)
            state_bytes = len(pickle.dumps(det))
            res = det.finish()
            print(
                f"{algo} W={w} S={s} p50_ms={1e3 * np.median(lat):.2f} "
                f"p90_ms={1e3 * np.percentile(lat, 90):.2f} state_bytes={state_bytes} "
                f"outliers={len(res['outliers'])} counters=({res['n_only_inlier']},"
                f"{res['n_only_outlier']},{res['n_both_inlier_outlier']})",
                flush=True,
            )


if __name__ == "__main__":
    main(sys.argv[1:])
