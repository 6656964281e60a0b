"""Image-table validator tests: codec invariants, planted-violation recall,
drift detection, and checkpoint/resume."""

from __future__ import annotations

import glob
import json
import os

import numpy as np
import pytest

from approximate_anomaly_detection_in_data_streams_spark.checkpoint import (
    load_ledger,
    run_validation,
)
from approximate_anomaly_detection_in_data_streams_spark.config import DetectorConfig
from approximate_anomaly_detection_in_data_streams_spark.functions import (
    image_codec as codec,
)
from approximate_anomaly_detection_in_data_streams_spark.sources.images import (
    ImageTableConfig,
    generate_images,
    generate_reference,
)
from approximate_anomaly_detection_in_data_streams_spark.validator import (
    ImageValidatorConfig,
    check_schema,
    validate_images,
)

CFG = ImageTableConfig(n=1200, seed=7, partitions=8)


# ---- codec unit tests (no Spark) ----


def test_raw_roundtrip_lossless():
    px = codec.synth_pixels(1, 2, 32, 16)
    assert np.array_equal(codec.decode(codec.encode_raw(px)), px)


def test_qnt_roundtrip_psnr_above_40db():
    for idx in range(20):
        px = codec.synth_pixels(3, idx, 64, 32)
        rec = codec.decode(codec.encode_qnt(px))
        assert codec.psnr(px, rec) >= 40.0


def test_decode_rejects_truncation_and_bad_magic():
    px = codec.synth_pixels(1, 1, 16, 16)
    data = codec.encode_raw(px)
    with pytest.raises(codec.DecodeError):
        codec.decode(data[: len(data) // 2])
    with pytest.raises(codec.DecodeError):
        codec.decode(b"XXXX" + data[4:])


def test_average_hash_stable_and_discriminative():
    a = codec.synth_pixels(5, 10, 32, 32)
    b = codec.synth_pixels(5, 11, 32, 32)
    assert codec.average_hash(a) == codec.average_hash(a.copy())
    assert codec.average_hash(a) != codec.average_hash(b)
    assert 0 <= codec.average_hash(a) < 2**63


# ---- generator + validator ----


@pytest.fixture(scope="module")
def labeled(spark):
    df = generate_images(spark, CFG, include_labels=True).cache()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def report(spark, labeled):
    ref = generate_reference(spark, CFG)
    vcfg = ImageValidatorConfig(
        drift=DetectorConfig(w=200, slide=50, r=40.0, k=6)
    )
    return validate_images(labeled.drop(*[c for c in labeled.columns if c.startswith("_")]), ref, vcfg), vcfg


def test_generator_schema_and_determinism(spark):
    df = generate_images(spark, CFG)
    ok, errors = check_schema(df)
    assert ok, errors
    a = sorted(
        (r.image_id, r.phash, len(r.bytes))
        for r in generate_images(spark, ImageTableConfig(n=50, seed=9)).collect()
    )
    b = sorted(
        (r.image_id, r.phash, len(r.bytes))
        for r in generate_images(spark, ImageTableConfig(n=50, seed=9)).collect()
    )
    assert a == b


def test_row_checks_catch_planted_violations(spark, labeled, report):
    rep, _ = report
    flagged = {r.image_id for r in rep.row_checks.where("is_violation").collect()}
    truth = labeled.select("image_id", "_is_corrupt", "_caption_bad").collect()
    corrupt = {r.image_id for r in truth if r._is_corrupt}
    caption_bad = {r.image_id for r in truth if r._caption_bad}
    assert corrupt, "generator must plant corrupt rows at this n"
    assert caption_bad
    # every planted corruption/caption error is flagged
    assert corrupt <= flagged
    assert caption_bad <= flagged
    # flagged rows beyond the planted ones can only come from ambiguous
    # duplicate image_ids (two rows share the id -> reference join is
    # ambiguous for both)
    dup_ids = {
        r.image_id
        for r in labeled.groupBy("image_id").count().where("count > 1").collect()
    }
    unexplained = flagged - corrupt - caption_bad - dup_ids
    assert not unexplained, f"false positives: {sorted(unexplained)[:5]}"


def test_phash_dups_catch_planted_copies(spark, labeled, report):
    rep, _ = report
    groups = rep.phash_dups.collect()
    dup_rows = labeled.where("_is_dup and not _is_corrupt").collect()
    assert dup_rows
    flagged_members = {m for g in groups for m in g.members}
    found = sum(1 for r in dup_rows if r.image_id in flagged_members)
    # most planted copies are found (copies of a *drifted* source stored
    # lossy may hash off by a bit; phash equality is the exact-dup check)
    assert found >= 0.7 * len(dup_rows)


def test_anomaly_outliers_catch_planted_anomalies(spark, labeled, report):
    rep, _ = report
    out = {r.image_id for r in rep.anomaly_outliers.collect()}
    assert out, "anomaly stage found nothing"
    anomalies = {
        r.image_id
        for r in labeled.where("_is_anomaly and not _is_corrupt").collect()
    }
    assert anomalies, "generator must plant anomalies at this n"
    found = len(anomalies & out)
    assert found / len(anomalies) >= 0.8, f"recall {found}/{len(anomalies)}"
    assert len(out & anomalies) / len(out) >= 0.6, (
        f"precision {len(out & anomalies)}/{len(out)}"
    )


def test_drift_slides_flag_sustained_shift(spark, labeled, report):
    rep, vcfg = report
    slides = {r.slide: r for r in rep.drift_slides.collect()}
    drifted_ords = [r._ordinal for r in labeled.where("_is_drifted").collect()]
    lo, hi = min(drifted_ords), max(drifted_ords)
    ss = vcfg.drift_slide_size
    fully_inside = {
        s for s in slides if s * ss >= lo and (s + 1) * ss - 1 <= hi
    }
    assert fully_inside, "drift segment must cover at least one full slide"
    for s in fully_inside:
        assert slides[s].drifted, f"slide {s} inside drift range not flagged"
    outside = {s for s in slides if (s + 1) * ss - 1 < lo or s * ss > hi}
    false_pos = [s for s in outside if slides[s].drifted]
    assert not false_pos, f"clean slides flagged: {false_pos}"


def test_partition_verdicts_cover_all_fmts(spark, report):
    rep, _ = report
    rows = {r.fmt: r for r in rep.partition_verdicts.collect()}
    assert set(rows) == {"raw", "qnt", "jpeg"}
    for r in rows.values():
        assert r.n_rows > 0
        assert 0.0 <= r.violation_rate <= 1.0


def test_schema_check_flags_missing_and_wrong_type(spark):
    df = generate_images(spark, ImageTableConfig(n=10))
    bad = df.drop("phash").withColumn("w", df.w.cast("string"))
    ok, errors = check_schema(bad)
    assert not ok
    assert any("phash" in e for e in errors)
    assert any("w" in e for e in errors)


# ---- checkpoint/resume ----


def test_run_validation_resumes_without_rework(spark, tmp_path):
    cfg = ImageTableConfig(n=400, seed=11, partitions=4)
    vcfg = ImageValidatorConfig(drift=DetectorConfig(w=100, slide=25, r=40.0, k=4))
    images = generate_images(spark, cfg)
    ref = generate_reference(spark, cfg)
    ck = str(tmp_path / "ck")

    persistent = spark.sparkContext._jsc.getPersistentRDDs().size()
    ledger1 = run_validation(spark, images, ck, reference=ref, cfg=vcfg)
    assert set(ledger1) == {"raw", "qnt", "jpeg"}
    # every validated partition released its cached stages
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == persistent
    stamps1 = {k: v.finished_at for k, v in ledger1.items()}

    # second run: everything skipped (markers + matching fingerprints)
    ledger2 = run_validation(spark, images, ck, reference=ref, cfg=vcfg)
    assert {k: v.finished_at for k, v in ledger2.items()} == stamps1

    # kill simulation: drop one partition's marker -> only it re-runs
    victim = "qnt"
    marker = glob.glob(os.path.join(ck, "partitions", "*", "_DONE.json"))
    target = [m for m in marker if json.load(open(m))["partition"] == victim]
    os.remove(target[0])
    ledger3 = run_validation(spark, images, ck, reference=ref, cfg=vcfg)
    assert ledger3[victim].finished_at > stamps1[victim]
    for k in ledger3:
        if k != victim:
            assert ledger3[k].finished_at == stamps1[k]
    # ledger reload from disk agrees
    assert set(load_ledger(ck)) == {"raw", "qnt", "jpeg"}


# ---- malformed-row robustness (decode failures are row verdicts, never
# task failures) ----


def test_average_hash_tiny_images_no_crash():
    for h, w in [(1, 1), (3, 5), (7, 64), (64, 2)]:
        px = codec.synth_pixels(2, h * 100 + w, w, h)
        v = codec.average_hash(px)
        assert 0 <= v < 2**63
        assert v == codec.average_hash(px.copy())


def test_decode_digests_tiny_null_and_empty_rows(spark):
    from approximate_anomaly_detection_in_data_streams_spark.operators.image_checks import (
        decode_digests,
    )

    tiny = codec.synth_pixels(9, 1, 5, 3)  # 5x3: below the 8x8 hash grid
    rows = [
        ("img_000001", bytearray(codec.encode_raw(tiny)), 5, 3, "raw",
         "cap", codec.average_hash(tiny)),
        ("img_000002", None, 8, 8, "raw", "cap", 0),
        ("img_000003", bytearray(b""), 8, 8, "raw", "cap", 0),
        ("img_000004", bytearray(b"AB"), 8, 8, "raw", "cap", 0),
    ]
    df = spark.createDataFrame(
        rows,
        "image_id string, bytes binary, w int, h int, fmt string, "
        "caption string, phash long",
    )
    got = {r.image_id: r for r in decode_digests(df).collect()}
    assert len(got) == 4
    ok = got["img_000001"]
    assert ok.decode_ok and ok.dims_ok and ok.phash_ok
    assert got["img_000002"].decode_ok is False
    assert got["img_000002"].decode_reason == "decode:null bytes"
    assert got["img_000003"].decode_ok is False
    assert got["img_000004"].decode_ok is False
    assert got["img_000004"].decode_reason == "decode:truncated header"


def test_decode_digests_all_null_batch(spark):
    from approximate_anomaly_detection_in_data_streams_spark.operators.image_checks import (
        decode_digests,
    )

    df = spark.createDataFrame(
        [("img_000001", None, 8, 8, "raw", "c", 0),
         ("img_000002", None, 8, 8, "raw", "c", 0)],
        "image_id string, bytes binary, w int, h int, fmt string, "
        "caption string, phash long",
    ).coalesce(1)
    out = decode_digests(df).collect()
    assert len(out) == 2
    assert all(not r.decode_ok for r in out)


def test_jpeg_dct_roundtrip_psnr_above_40db():
    """The jpeg fmt is a real 8x8 block-DCT codec: reconstruction PSNR
    must clear the validator's lossy gate on every image, including
    non-multiple-of-8 and tiny shapes."""
    worst = float("inf")
    for idx in range(30):
        w = 17 + (idx * 13) % 90
        h = 9 + (idx * 7) % 70
        px = codec.synth_pixels(3, idx, w, h)
        rec = codec.decode(codec.encode_jpeg(px))
        assert rec.shape == px.shape
        worst = min(worst, codec.psnr(px, rec))
    assert worst >= 40.0
    with pytest.raises(codec.DecodeError):
        codec.decode(codec.encode_jpeg(codec.synth_pixels(1, 1, 16, 16))[:-3])


def test_decode_rows_matches_scalar_decode():
    """The batched shape-grouped decode must be bit-identical to
    codec.decode across all three codecs, and classify malformed rows the
    same way (None <-> DecodeError)."""
    import numpy as np

    from approximate_anomaly_detection_in_data_streams_spark.operators.image_checks import (
        _decode_rows,
    )

    payloads = []
    for i in range(30):
        px = codec.synth_pixels(99, i, 24 + (i % 3) * 8, 16 + (i % 2) * 8)
        enc = [codec.encode_raw, codec.encode_qnt, codec.encode_jpeg][i % 3]
        payloads.append(enc(px))
    payloads += [None, b"", b"shrt", payloads[0][:10], b"XXXX" + payloads[1][4:]]
    got = _decode_rows(np.array(payloads, dtype=object))
    for v, g in zip(payloads, got):
        try:
            want = codec.decode(v) if v is not None else None
        except codec.DecodeError:
            want = None
        if want is None:
            assert g is None
        else:
            assert g is not None and np.array_equal(g, want)


def test_full_disagreement_psnr_is_batched(spark):
    """Adversarial corrupted reference snapshot: EVERY decode_ok row's
    digest disagrees, routing the whole table through psnr_verify. The
    batched kernel must classify every row exactly as the scalar
    codec.decode/codec.psnr path would."""
    import numpy as np
    from pyspark.sql import functions as F

    from approximate_anomaly_detection_in_data_streams_spark.operators.image_checks import (
        PSNR_MIN_DB,
        row_checks_and_features,
    )
    from approximate_anomaly_detection_in_data_streams_spark.sources.images import (
        ImageTableConfig,
        generate_images,
        generate_reference,
    )

    cfg = ImageTableConfig(n=300, seed=31, partitions=4)
    images = generate_images(spark, cfg)
    # corrupt the reference: flip every ref_phash so no digest ever matches
    reference = generate_reference(spark, cfg).withColumn(
        "ref_phash", F.col("ref_phash") + F.lit(1)
    )
    checks = row_checks_and_features(images, reference).collect()
    assert len(checks) == 300
    # every decodable row went through the exact PSNR pass: psnr is real
    # (not NaN) and pixels_ok reflects the >= 40 dB / equality invariant
    img_rows = {r["image_id"]: r for r in images.collect()}
    ref_rows = {}
    for r in generate_reference(spark, cfg).collect():
        # election: min (ref_phash, ref_caption, md5) — replicate worst-case
        cur = ref_rows.get(r["image_id"])
        key = (r["ref_phash"], r["ref_caption"])
        if cur is None or key < cur[0]:
            ref_rows[r["image_id"]] = (key, bytes(r["ref_bytes"]))
    n_checked = 0
    for row in checks:
        if not row["decode_ok"]:
            continue
        n_checked += 1
        assert not np.isnan(row["psnr"]), row["image_id"]
        want_px = codec.decode(bytes(img_rows[row["image_id"]]["bytes"]))
        ref_px = codec.decode(ref_rows[row["image_id"]][1])
        want_psnr = codec.psnr(want_px, ref_px)
        assert row["psnr"] == pytest.approx(want_psnr, abs=1e-9), row["image_id"]
        lossless = row["fmt"] == "raw"
        want_ok = (
            bool(np.array_equal(want_px, ref_px))
            if lossless
            else want_psnr >= PSNR_MIN_DB
        )
        # dup image_ids share the worst-case psnr across claimants; only
        # assert on unique ids for the exact per-row expectation
        if sum(1 for r2 in checks if r2["image_id"] == row["image_id"]) == 1:
            assert row["pixels_ok"] == want_ok, row["image_id"]
    assert n_checked > 250

def test_decode_digests_parquet_parity(spark, tmp_path):
    """The payload-local scan (decode_digests_parquet: pyarrow reads in
    the Python workers, bytes never cross the JVM) must be row-for-row
    identical to the JVM-scan path over the same parquet table —
    including planted violations, duplicate ids, and multi-file layout."""
    from approximate_anomaly_detection_in_data_streams_spark.operators.image_checks import (
        decode_digests,
        decode_digests_parquet,
    )

    path = str(tmp_path / "imgs.parquet")
    generate_images(spark, CFG).write.mode("overwrite").parquet(path)
    df = spark.read.parquet(path)
    key = ["image_id", "ordinal", "phash_dec"]
    a = sorted(decode_digests(df).collect(), key=lambda r: [r[k] for k in key])
    b = sorted(
        decode_digests_parquet(spark, path).collect(),
        key=lambda r: [r[k] for k in key],
    )
    assert len(a) == len(b) == CFG.n
    assert a == b


def test_validate_images_payload_path_matches_dataframe_path(spark, tmp_path):
    """validate_images(payload_path=...) produces the same verdicts,
    violations and drift rows as the DataFrame-scan path."""
    img_path = str(tmp_path / "vi.parquet")
    ref_path = str(tmp_path / "vr.parquet")
    generate_images(spark, CFG).write.mode("overwrite").parquet(img_path)
    generate_reference(spark, CFG).write.mode("overwrite").parquet(ref_path)
    images = spark.read.parquet(img_path)
    reference = spark.read.parquet(ref_path)
    vcfg = ImageValidatorConfig(drift=DetectorConfig(w=200, slide=50, r=40.0, k=6))
    ra = validate_images(images, reference, vcfg, persist=False)
    rb = validate_images(
        images, reference, vcfg, persist=False, payload_path=img_path
    )
    for stage in ("partition_verdicts", "violations", "drift_slides"):
        va = sorted(map(tuple, getattr(ra, stage).collect()))
        vb = sorted(map(tuple, getattr(rb, stage).collect()))
        assert va == vb, stage

    # cache-lifetime contract (ADVICE r4): persist=True surfaces every
    # persisted stage on the report, and unpersist_all releases them all
    rc = validate_images(images, reference, vcfg, persist=True)
    rc.partition_verdicts.collect()
    assert rc.persisted and all(
        df.storageLevel.useMemory or df.storageLevel.useDisk
        for df in rc.persisted
    )
    cached = list(rc.persisted)
    rc.unpersist_all()
    assert not rc.persisted
    assert all(
        not (df.storageLevel.useMemory or df.storageLevel.useDisk)
        for df in cached
    )


def test_decode_task_count_follows_bytes():
    """Payload-local decode sizing: one task per 128 MiB of row groups, at
    least one per core, at most one per row group; splits_per_task
    overrides."""
    from approximate_anomaly_detection_in_data_streams_spark.operators.image_checks import (
        DECODE_TASK_BYTES as MIB128,
        decode_task_count,
    )

    # tiny tables: fewer row groups than cores -> one task per row group
    assert decode_task_count(1, 10_000, 4) == 1
    assert decode_task_count(3, 3 * 1024, 8) == 3
    assert decode_task_count(0, 0, 4) == 1
    # small table, many small row groups: one wave (one task per core)
    assert decode_task_count(16, 40 << 20, 4) == 4
    assert decode_task_count(128, 500 << 20, 4) == 4
    # many production-size row groups: one 128 MiB group per task
    assert decode_task_count(64, 64 * MIB128, 4) == 64
    assert decode_task_count(200, 100 * MIB128, 4) == 100
    assert decode_task_count(10, 10 * MIB128 + 1, 4) == 10
    # oversized row groups never split below one task per group
    assert decode_task_count(5, 50 * MIB128, 4) == 5
    # explicit splits_per_task wins over the byte rule
    assert decode_task_count(16, 40 << 20, 4, splits_per_task=2) == 8
    assert decode_task_count(16, 40 << 20, 4, splits_per_task=1) == 16
    assert decode_task_count(3, 64 * MIB128, 4, splits_per_task=8) == 1


def test_decode_digests_parquet_multi_rowgroup(spark, tmp_path):
    """Row-group-granular splits: a file with many small row groups must
    produce the same digests as the single-group layout (split list is
    (file, row_group), so multi-group files fan out into more tasks)."""
    import pyarrow.parquet as pq
    from approximate_anomaly_detection_in_data_streams_spark.operators.image_checks import (
        decode_digests_parquet,
    )

    single = str(tmp_path / "one.parquet")
    multi = str(tmp_path / "many.parquet")
    generate_images(spark, CFG).coalesce(1).write.mode("overwrite").parquet(single)
    os.makedirs(multi)
    src = glob.glob(os.path.join(single, "*.parquet"))[0]
    pq.write_table(pq.read_table(src), os.path.join(multi, "p.parquet"),
                   row_group_size=100)
    assert pq.ParquetFile(os.path.join(multi, "p.parquet")).metadata.num_row_groups > 5
    key = ["image_id", "ordinal", "phash_dec"]
    a = sorted(decode_digests_parquet(spark, single).collect(),
               key=lambda r: [r[k] for k in key])
    b = sorted(decode_digests_parquet(spark, multi).collect(),
               key=lambda r: [r[k] for k in key])
    assert a == b and len(a) == CFG.n

    # Auto task sizing (splits_per_task=None bin-packs against
    # defaultParallelism) must be a pure re-binning: identical digest
    # ROWS as an explicitly pinned split layout on the same multi-group
    # table — only task granularity may differ (ADVICE r4).
    c = sorted(
        decode_digests_parquet(spark, multi, splits_per_task=1).collect(),
        key=lambda r: [r[k] for k in key],
    )
    assert b == c


def test_single_pass_sinks_match_direct_scan(spark, labeled, report):
    """uniqueness / phash_dups aggregate the persisted check rows (stored
    phash passed through the digest kernel) — they must equal the same
    aggregations computed directly over the source table, and the
    passthrough must be per-row identical to the stored column."""
    from pyspark.sql import functions as F

    from approximate_anomaly_detection_in_data_streams_spark.operators import (
        profile as profile_ops,
    )

    rep, vcfg = report
    images = labeled.drop(*[c for c in labeled.columns if c.startswith("_")])

    # multiset compare: duplicate image_ids are planted, so pair each
    # stored (image_id, phash) row with exactly one passthrough row
    stored = sorted((r.image_id, r.phash) for r in images.select("image_id", "phash").collect())
    passed = sorted(
        (r.image_id, r.phash)
        for r in rep.row_checks.select("image_id", "phash").collect()
    )
    assert stored == passed

    direct_uniq = profile_ops.uniqueness(images, ["image_id"]).collect()
    assert sorted(map(tuple, rep.uniqueness.collect())) == sorted(
        map(tuple, direct_uniq)
    )
    direct_dups = sorted(
        map(
            tuple,
            images.groupBy("phash")
            .agg(
                F.count(F.lit(1)).alias("n_dup"),
                F.sort_array(F.collect_set("image_id")).alias("members"),
            )
            .where(F.col("n_dup") > vcfg.phash_dup_limit)
            .collect(),
        )
    )
    got = sorted((r.phash, r.n_dup, tuple(r.members)) for r in rep.phash_dups.collect())
    assert got == [(p, n, tuple(m)) for p, n, m in direct_dups]
