"""Independent oracles for every workload, cached as JSON keyed by workload
parameters and seed. Oracles run before timing starts, so their compute time
is in no metric.

* validate_images: ``oracle.planted.image_truth`` (sequential scalar replay).
* stream_slides: ``oracle.brute.mcod_brute`` (per-window all-pairs NumPy
  loop); LSHOD outliers must be a superset of its outliers.
* dedup_documents: the DuckDB twins of ``__spark_entry__``, canonicalised and
  hashed the way ``scripts/oracle_check.py`` compares results.
"""

from __future__ import annotations

import hashlib
import json
import os
from collections import Counter


def _cached(work: str, key: str, compute):
    path = os.path.join(work, "oracles", key + ".json")
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    value = compute()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + f".tmp{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump(value, fh)
    os.replace(tmp, path)
    return value


# ---- validate_images -------------------------------------------------------


def image_truth(work: str, key: str, img_cfg, vcfg) -> dict:
    from approximate_anomaly_detection_in_data_streams_spark.oracle import planted

    def compute():
        t = planted.image_truth(img_cfg, vcfg)
        return {
            "violations": sorted([r["image_id"], r["kind"], r["detail"]] for r in t["violations"]),
            "verdicts": [[r["fmt"], r["n_rows"], r["n_row_violations"]] for r in t["verdicts"]],
            "drift": [[r["slide"], r["n_rows"], r["l1"]] for r in t["drift"]],
        }

    det = vcfg.drift
    full = (
        f"{key}_w{det.w}_s{det.slide}_r{det.r}_k{det.k}_d{vcfg.drift_slide_size}"
        f"_l{vcfg.drift_l1_limit}_p{vcfg.phash_dup_limit}"
    )
    return _cached(work, "image_truth_" + full, compute)


def check_image_report(truth: dict, vcfg, violations, verdicts, drift) -> list[str]:
    """Compare collected sink rows with the planted truth; returns the list
    of mismatching outputs (empty when everything matches)."""
    bad = []
    got_v = Counter((r["image_id"], r["kind"], r["detail"]) for r in violations)
    if got_v != Counter(tuple(v) for v in truth["violations"]):
        bad.append("violations")
    want_verdicts = [
        (fmt, n, nv, round(nv / n, 6), nv / n <= vcfg.max_violation_rate)
        for fmt, n, nv in truth["verdicts"]
    ]
    got_verdicts = [
        (r["fmt"], r["n_rows"], r["n_row_violations"], r["violation_rate"], r["passed"])
        for r in verdicts
    ]
    if got_verdicts != want_verdicts:
        bad.append("verdicts")
    # the sink rounds l1 to 4 places: equal up to that rounding step
    ok = len(drift) == len(truth["drift"]) and all(
        (r["slide"], r["n_rows"], r["drifted"]) == (s, n, l1 > vcfg.drift_l1_limit)
        and abs(r["l1"] - l1) <= 0.5e-4 + 1e-9
        for r, (s, n, l1) in zip(drift, truth["drift"])
    )
    if not ok:
        bad.append("drift")
    return bad


# ---- detector --------------------------------------------------------------


def mcod_truth(work: str, key: str, X, w: int, slide: int, r: float, k: int) -> dict:
    from approximate_anomaly_detection_in_data_streams_spark.oracle.brute import mcod_brute

    def compute():
        t = mcod_brute(X, w, slide, r, k)
        return {
            name: t[name]
            for name in ("outliers", "n_only_inlier", "n_only_outlier", "n_both_inlier_outlier")
        }

    return _cached(work, f"mcod_brute_{key}_n{len(X)}_w{w}_s{slide}_r{r}_k{k}", compute)


def check_mcod(truth: dict, outliers, counters: dict) -> bool:
    return list(outliers) == truth["outliers"] and all(
        counters[name] == truth[name]
        for name in ("n_only_inlier", "n_only_outlier", "n_both_inlier_outlier")
    )


def check_lshod(truth: dict, outliers) -> bool:
    """LSH can only hide neighbors, so every exact outlier stays an outlier."""
    return set(truth["outliers"]) <= set(outliers)


# ---- dedup_documents -------------------------------------------------------


def frame_digest(cols: list[str], rows) -> list:
    """[row count, md5] over rows canonicalised like scripts/oracle_check.py
    (columns sorted by name, floats to 9 significant digits, rows sorted)."""
    from scripts.oracle_check import canon_rows

    h = hashlib.md5()
    canon = canon_rows(cols, [tuple(r) for r in rows])
    for r in canon:
        h.update("|".join(r).encode())
        h.update(b"\n")
    return [len(canon), h.hexdigest()]


def dedup_truth(work: str, key: str, docs_dir: str, sqls: dict[str, str]) -> dict:
    def compute():
        import duckdb

        con = duckdb.connect()
        try:
            con.execute(
                "create view documents as select * from read_parquet("
                f"'{docs_dir}/documents.parquet/*.parquet')"
            )
            out = {}
            for name, sql in sqls.items():
                res = con.execute(sql)
                out[name] = frame_digest([d[0] for d in res.description], res.fetchall())
            return out
        finally:
            con.close()

    return _cached(work, "dedup_duckdb_" + key, compute)
