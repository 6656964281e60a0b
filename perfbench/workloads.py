"""The workloads. Each one prepares its seeded inputs and oracle before any
timing, then runs closed-loop operations: the next operation starts when the
previous one has completed and been forced.

A workload exposes:

* ``prepare()`` — inputs and oracle results (cached, untimed);
* ``prime(spark)`` — run in every set-up cycle right after the session
  (re)starts: spins up the Python workers the operations will use;
* ``warm_up(spark)`` — once per session, untimed operations (JIT,
  codegen, worker imports), charged to ``setup_s``;
* ``measure(spark, seconds, tracer, min_ops)`` — the timed loop: operations
  until ``seconds`` have passed and at least ``min_ops`` were attempted;
* ``trace_layers(spark, tracer)`` — the per-layer calls of the traced run.
"""

from __future__ import annotations

import ctypes
import multiprocessing
import os
import pickle
import signal
import statistics
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import numpy as np

from . import inputs, oracles
from .tracing import peak_rss_kb


@dataclass
class Measured:
    """What one timed loop produced."""

    op_s: list[float] = field(default_factory=list)  # wall of each operation
    items: int = 0  # input items processed by the operations in op_s
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    # summed peak RSS of the processes the loop started, which exit inside it
    exited_rss_mb: float = 0.0
    # the workload's own named metrics: name -> (value, unit)
    detail: dict[str, tuple[float, str]] = field(default_factory=dict)

    def record_failure(self, what: str, n_ops: int = 1) -> None:
        self.failed += n_ops
        if len(self.failures) < 10:
            self.failures.append(what)


def median(xs) -> float:
    return float(statistics.median(xs))


def percentile(xs, q: float) -> float:
    return float(np.percentile(np.asarray(xs, dtype=np.float64), q))


def force(df, **extra_aggs) -> tuple[int, dict]:
    """Materialise every row of ``df`` through a no-op sink; the row count
    (and any extra aggregates) ride on the same job as an observation."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    aggs = [F.count(F.lit(1)).alias("rows")] + [c.alias(k) for k, c in extra_aggs.items()]
    df.observe(obs, *aggs).write.format("noop").mode("overwrite").save()
    got = obs.get
    return int(got["rows"]), got


def _import_engine(batches):
    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401

    import approximate_anomaly_detection_in_data_streams_spark.operators.dedup  # noqa: F401
    import approximate_anomaly_detection_in_data_streams_spark.operators.image_checks  # noqa: F401

    yield from batches


class Workload:
    name = ""
    uses_spark = True
    # set-up cycles per run, whose median is charged to setup_s
    SETUP_CYCLES = 3

    def __init__(self, work: str, seed: int, nproc: int) -> None:
        self.work, self.seed, self.nproc = work, seed, nproc

    def prime(self, spark) -> None:
        """Start one Python worker per core, each importing the engine."""
        n = self.nproc
        spark.range(0, n, 1, n).mapInPandas(_import_engine, "id long").count()

    def before_stop(self) -> None:
        """Release the MinHash tables ``minhash_lsh_pairs`` keeps persisted
        until its next call: that call would otherwise unpersist tables of a
        session that is already stopped, and fail."""
        from approximate_anomaly_detection_in_data_streams_spark.operators import dedup

        with dedup._LIVE_SIG_LOCK:
            while dedup._LIVE_SIG:
                dedup._LIVE_SIG.pop().unpersist()


# ---------------------------------------------------------------------------
# validate_images
# ---------------------------------------------------------------------------


class ValidateImages(Workload):
    """Full ``validate_images`` over a cached synthetic image+caption table,
    all six sinks materialised, violations/verdicts/drift checked against
    ``oracle.planted.image_truth``."""

    name = "validate_images"
    N = 1000
    SIZE_SCALE = 2
    # an operation takes ~8 s on 4 shared cores, mostly the latency of its
    # ~45 short jobs, and keeps speeding up for a few operations as the JIT
    # warms: the median of five is steady where one operation is not
    MIN_OPS = 5

    def __init__(self, work: str, seed: int, nproc: int) -> None:
        from approximate_anomaly_detection_in_data_streams_spark.config import DetectorConfig
        from approximate_anomaly_detection_in_data_streams_spark.validator import (
            ImageValidatorConfig,
        )

        super().__init__(work, seed, nproc)
        self.partitions = 4 * nproc
        # bench.py's validator shape: 10-dim digest features, W=400 stream
        self.vcfg = ImageValidatorConfig(drift=DetectorConfig(w=400, slide=100, r=40.0, k=6))

    def prepare(self) -> None:
        self.img, self.ref = inputs.image_tables(
            self.work, self.N, self.seed, self.partitions, self.SIZE_SCALE
        )
        cfg = inputs.image_config(self.N, self.seed, self.partitions, self.SIZE_SCALE)
        self.truth = oracles.image_truth(
            self.work, f"n{self.N}_s{self.seed}_x{self.SIZE_SCALE}", cfg, self.vcfg
        )

    def _validate(self, spark):
        """One operation: build the report, force every sink (at most nproc
        concurrent submissions) and return the three checked sinks."""
        from approximate_anomaly_detection_in_data_streams_spark.validator import validate_images

        report = validate_images(
            spark.read.parquet(self.img), spark.read.parquet(self.ref), self.vcfg,
            payload_path=self.img,
        )
        try:
            report.row_checks.count()
            report.features.count()

            def noop(df):
                df.write.format("noop").mode("overwrite").save()

            def collect(df):
                return [r.asDict() for r in df.collect()]

            sinks = [
                (noop, report.partition_stats),
                (noop, report.uniqueness),
                (noop, report.phash_dups),
                (collect, report.violations),
                (collect, report.drift_slides),
                (collect, report.partition_verdicts),
            ]
            with ThreadPoolExecutor(max_workers=min(self.nproc, len(sinks))) as pool:
                futures = [pool.submit(fn, df) for fn, df in sinks]
                results = [f.result() for f in futures]
            return results[3], results[5], results[4]
        finally:
            report.unpersist_all()

    def warm_up(self, spark) -> None:
        self._validate(spark)

    def measure(self, spark, seconds: float, tracer, min_ops: int) -> Measured:
        m = Measured()
        deadline = time.perf_counter() + seconds
        while time.perf_counter() < deadline or m.attempted < min_ops:
            m.attempted += 1
            t0 = time.perf_counter()
            try:
                with tracer.span("op.validate_images"):
                    violations, verdicts, drift = self._validate(spark)
            except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
                m.record_failure(f"raised {type(exc).__name__}: {exc}"[:300])
                continue
            m.op_s.append(time.perf_counter() - t0)
            m.items += self.N
            bad = oracles.check_image_report(self.truth, self.vcfg, violations, verdicts, drift)
            if bad:
                m.record_failure("oracle mismatch: " + ",".join(bad))
        if m.op_s:
            m.detail["validated_images_per_s"] = (self.N / median(m.op_s), "1/s")
        return m

    def trace_layers(self, spark, tracer) -> dict[str, float]:
        from pyspark import StorageLevel
        from pyspark.sql import functions as F

        from approximate_anomaly_detection_in_data_streams_spark.api import lshod_config
        from approximate_anomaly_detection_in_data_streams_spark.operators import (
            image_checks,
            profile,
        )
        from approximate_anomaly_detection_in_data_streams_spark.operators.detector import (
            detect,
            per_point_verdicts,
        )
        from approximate_anomaly_detection_in_data_streams_spark.operators.lsh import (
            lsh_neighbor_counts,
        )
        from approximate_anomaly_detection_in_data_streams_spark.operators.pairs import (
            exact_neighbor_counts,
        )
        from approximate_anomaly_detection_in_data_streams_spark.operators.windows import (
            n_batches,
            with_slide,
        )
        from approximate_anomaly_detection_in_data_streams_spark.validator import validate_images

        images, reference = spark.read.parquet(self.img), spark.read.parquet(self.ref)
        extras: dict[str, float] = {}

        digests = image_checks.decode_digests_parquet(spark, self.img)
        got: dict = {}

        def decode():
            rows, obs = force(digests, rejected=F.sum((~F.col("decode_ok")).cast("long")))
            got.update(obs)
            return rows

        decoded = tracer.layer_call(spark, "image_checks.decode_digests_parquet", decode)
        extras["image_checks.decode.rows_rejected"] = float(got["rejected"])

        # psnr_verify's input: the rows whose decoded digest disagrees with
        # the elected reference digest (the minimum ref_phash per image_id)
        ref_min = reference.groupBy("image_id").agg(F.min("ref_phash").alias("ref_phash"))
        disagreed = [
            r.image_id
            for r in digests.join(ref_min, "image_id")
            .where(F.col("decode_ok") & (F.col("phash_dec") != F.col("ref_phash")))
            .select("image_id")
            .distinct()
            .collect()
        ]
        ids = spark.createDataFrame([(i,) for i in disagreed], "image_id string")
        verified = tracer.layer_call(
            spark,
            "image_checks.psnr_verify",
            lambda: force(image_checks.psnr_verify(images, reference, ids))[0],
        )
        extras["image_checks.psnr_verify.share"] = verified["rows_out"] / max(
            decoded["rows_out"], 1
        )

        persisted: list = []
        tracer.layer_call(
            spark,
            "image_checks.row_checks_and_features",
            lambda: force(
                image_checks.row_checks_and_features(
                    images, reference, payload_path=self.img, persisted_out=persisted
                )
            )[0],
        )
        for df in persisted:
            df.unpersist()

        report = validate_images(images, reference, self.vcfg, payload_path=self.img)
        try:
            # materialise the shared persisted decode stage first, so each
            # sink below is timed on its own work
            force(report.features)
            checks = report.row_checks
            tracer.layer_call(
                spark,
                "profile.column_stats",
                lambda: force(profile.column_stats(checks, ["fmt"], ["w", "h", "n_bytes"]))[0],
            )
            tracer.layer_call(
                spark,
                "profile.uniqueness",
                lambda: force(profile.uniqueness(checks, ["image_id"]))[0],
            )
            for fn, df in (
                ("phash_dups", report.phash_dups),
                ("profile_drift_slides", report.drift_slides),
                ("violations", report.violations),
                ("verdicts", report.partition_verdicts),
            ):
                tracer.layer_call(spark, f"validator.{fn}", lambda df=df: force(df)[0])

            # the detector layers on the validator's feature stream: the
            # anomaly stage's exact MCOD, and LSHOD over the same points
            det = self.vcfg.drift
            points = report.features.select((F.col("ordinal") + 1).alias("id"), "features")
            pts = with_slide(points, det)
            tracer.layer_call(
                spark,
                "pairs.exact_neighbor_counts",
                lambda: force(exact_neighbor_counts(pts, det))[0],
            )
            counts = exact_neighbor_counts(pts, det).persist(StorageLevel.MEMORY_AND_DISK)
            try:
                counts.count()
                b_total = n_batches(points, det)
                tracer.layer_call(
                    spark,
                    "detector.per_point_verdicts",
                    lambda: force(per_point_verdicts(pts, counts, det, b_total))[0],
                )
            finally:
                counts.unpersist()
            tracer.layer_call(
                spark, "detector.detect", lambda: force(detect(points, det).per_point)[0]
            )
            dim = len(report.features.first()["features"])
            lsh_cfg = lshod_config(det.w, det.slide, det.r, det.k, dim=dim)
            tracer.layer_call(
                spark,
                "lsh.lsh_neighbor_counts",
                lambda: force(lsh_neighbor_counts(with_slide(points, lsh_cfg), lsh_cfg))[0],
            )
        finally:
            report.unpersist_all()
        # near-duplicate captions: the dedup layer on this table's text
        captions = images.select(
            F.monotonically_increasing_id().alias("doc_id"), F.col("caption").alias("text")
        )
        trace_dedup(spark, tracer, captions)
        return extras


# ---------------------------------------------------------------------------
# stream_slides
# ---------------------------------------------------------------------------

DIM = 8
RADIUS, K = 0.5, 10
PR_SET_PDEATHSIG = 1  # prctl option, from <linux/prctl.h>


class StreamSlides(Workload):
    """An 8-dim ``sources.vectors`` stream fed slide by slide through
    ``streaming.incremental`` (no Spark jobs): one operation is one
    steady-state slide through the MCOD detector plus one through the LSHOD
    detector. A pass fills the first window untimed, times ``STEADY``
    slides, then calls ``finish`` and checks the outliers: MCOD's (with its
    lifetime counters) must equal ``oracle.brute.mcod_brute`` on the same
    stream prefix, LSHOD's must contain the exact ones. Passes repeat until
    the run's time is used, in one process per core (see ``measure``)."""

    name = "stream_slides"
    uses_spark = False
    # a cycle takes ~0.4 s here, against seconds for a Spark session restart
    SETUP_CYCLES = 9
    STEADY = 60
    MIN_OPS = 110  # >= 10 samples beyond p90 per detector

    def __init__(self, work: str, seed: int, nproc: int) -> None:
        from approximate_anomaly_detection_in_data_streams_spark.api import lshod_config
        from approximate_anomaly_detection_in_data_streams_spark.config import DetectorConfig

        super().__init__(work, seed, nproc)
        self.cfgs = {
            "mcod": DetectorConfig(w=1000, slide=100, r=RADIUS, k=K),
            "lshod": lshod_config(500, 50, RADIUS, K, dim=DIM),
        }
        self.n = {a: (c.ws + self.STEADY) * c.slide for a, c in self.cfgs.items()}

    def prepare(self) -> None:
        # a fraction of a second to generate, so not cached
        X = self.X = inputs.vector_stream(max(self.n.values()), DIM, self.seed)
        self.truth = {
            a: oracles.mcod_truth(
                self.work, f"vec_d{DIM}_s{self.seed}", X[: self.n[a]], c.w, c.slide, c.r, c.k
            )
            for a, c in self.cfgs.items()
        }

    def _slide(self, algo: str, b: int):
        s = self.cfgs[algo].slide
        return np.arange(b * s + 1, (b + 1) * s + 1, dtype=np.int64), self.X[b * s : (b + 1) * s]

    def prime(self, spark=None) -> None:
        """No session to start: every set-up cycle is the warm-up, a short
        pass through fresh detectors, so ``setup_s`` is a median of several."""
        from approximate_anomaly_detection_in_data_streams_spark.streaming.incremental import (
            make_slide_detector,
        )

        for algo, cfg in self.cfgs.items():
            det = make_slide_detector(cfg, DIM)
            for b in range(cfg.ws + 3):
                det.process_batch(*self._slide(algo, b))
            det.finish()

    def warm_up(self, spark=None) -> None:
        """Nothing left to warm after ``prime``."""

    def _pass(self, on_slide) -> dict:
        """One pass over the stream: slide b goes to every detector in turn;
        ``on_slide(algo, steady, call)`` runs ``call()`` (one
        ``process_batch``) and may time it. Returns the detectors, unfinished."""
        from approximate_anomaly_detection_in_data_streams_spark.streaming.incremental import (
            make_slide_detector,
        )

        dets = {a: make_slide_detector(c, DIM) for a, c in self.cfgs.items()}
        for b in range(max(c.ws for c in self.cfgs.values()) + self.STEADY):
            for algo, det in dets.items():
                ws = self.cfgs[algo].ws
                if b < ws + self.STEADY:
                    on_slide(algo, b >= ws, lambda d=det, a=algo: d.process_batch(*self._slide(a, b)))
        return dets

    def _check(self, results: dict) -> str | None:
        m, lsh = results["mcod"], results["lshod"]
        if not oracles.check_mcod(self.truth["mcod"], m["outliers"], m):
            return "mcod differs from brute force"
        if not oracles.check_lshod(self.truth["lshod"], lsh["outliers"]):
            return "lshod misses an exact outlier"
        return None

    def _worker(self, conn, parent: int, cpu: int, deadline: float, min_passes: int, tracer) -> None:
        """One stream on one core: passes until ``deadline`` (and at least
        ``min_passes``); sends back what it measured, its slide latencies
        per detector and the spans it recorded."""
        # die with the benchmark, however it ends
        ctypes.CDLL(None).prctl(PR_SET_PDEATHSIG, signal.SIGKILL)
        if os.getppid() != parent:
            return
        os.sched_setaffinity(0, {cpu})
        first_span = len(tracer.spans)
        m = Measured()
        lat = {a: [] for a in self.cfgs}
        passes = 0
        while time.perf_counter() < deadline or passes < min_passes:
            passes += 1
            pass_lat = {a: [] for a in self.cfgs}

            def on_slide(algo, steady, call):
                t0 = time.perf_counter()
                call()
                if steady:
                    pass_lat[algo].append(time.perf_counter() - t0)

            m.attempted += self.STEADY
            try:
                with tracer.span("op.stream_pass", cpu=cpu):
                    dets = self._pass(on_slide)
                    results = {a: d.finish() for a, d in dets.items()}
            except Exception as exc:  # noqa: BLE001 - a failed pass is counted, not fatal
                m.record_failure(f"raised {type(exc).__name__}: {exc}"[:300], self.STEADY)
                continue
            for a in lat:
                lat[a] += pass_lat[a]
            m.op_s += [x + y for x, y in zip(pass_lat["mcod"], pass_lat["lshod"])]
            m.items += self.STEADY * sum(c.slide for c in self.cfgs.values())
            bad = self._check(results)
            if bad:
                m.record_failure(bad, self.STEADY)
        m.exited_rss_mb = peak_rss_kb() / 1024.0
        conn.send((m, lat, tracer.spans[first_span:]))
        conn.close()

    def measure(self, spark, seconds: float, tracer, min_ops: int) -> Measured:
        """Runs ``nproc`` streams at once, one forked process pinned to each
        core, like the keyed state store's one detector per key. Slowdowns
        of a shared host hit the cores largely independently, so pooling
        their slides steadies the run's median."""
        ctx = multiprocessing.get_context("fork")
        cpus = sorted(os.sched_getaffinity(0))[: self.nproc]
        min_passes = -(-min_ops // (self.STEADY * len(cpus)))
        deadline = time.perf_counter() + seconds
        procs, conns = [], []
        try:
            for cpu in cpus:
                recv, send = ctx.Pipe(duplex=False)
                p = ctx.Process(
                    target=self._worker,
                    args=(send, os.getpid(), cpu, deadline, min_passes, tracer),
                    daemon=True,
                )
                p.start()
                send.close()
                procs.append(p)
                conns.append(recv)
            got = [_receive(c, deadline + 60) for c in conns]
        finally:
            for p in procs:
                p.join(10)
                if p.is_alive():
                    p.kill()
                    p.join()
            for c in conns:
                c.close()

        m = Measured()
        lat = {a: [] for a in self.cfgs}
        for res in got:
            if res is None:
                m.attempted += min_passes * self.STEADY
                m.record_failure("a stream process died", min_passes * self.STEADY)
                continue
            w, w_lat, spans = res
            m.op_s += w.op_s
            m.items += w.items
            m.attempted += w.attempted
            m.failed += w.failed
            m.failures += w.failures[: 10 - len(m.failures)]
            m.exited_rss_mb += w.exited_rss_mb
            tracer.spans += spans
            for a in lat:
                lat[a] += w_lat[a]
        for a in lat:
            if lat[a]:
                m.detail[f"slide_{a}_p50_ms"] = (1e3 * percentile(lat[a], 50), "ms")
                m.detail[f"slide_{a}_p90_ms"] = (1e3 * percentile(lat[a], 90), "ms")
        return m

    def trace_layers(self, spark, tracer) -> dict[str, float]:
        extras: dict[str, float] = {}

        def on_slide(algo, steady, call):
            if not steady:
                call()
                return

            def run():
                call()
                return self.cfgs[algo].slide

            tracer.layer_call(None, f"incremental.process_batch_{algo}", run)

        dets = self._pass(on_slide)
        for algo, det in dets.items():
            extras[f"incremental.window_points_{algo}"] = float(len(det._ids))
            # what the keyed state store holds per key
            extras[f"incremental.state_bytes_{algo}"] = float(len(pickle.dumps(det)))
            tracer.layer_call(
                None, f"incremental.finish_{algo}", lambda d=det: len(d.finish()["outliers"])
            )
            rec = tracer.layers[f"incremental.process_batch_{algo}"]
            extras[f"incremental.process_batch_{algo}.cpu_util"] = rec["process_cpu_s"] / max(
                rec["wall_s"], 1e-9
            )
        return extras


def _receive(conn, deadline: float):
    """The one message a stream process sends, or None if it died: a pass
    takes a few seconds, so one silent far past the deadline has."""
    try:
        if conn.poll(max(deadline - time.perf_counter(), 0.0)):
            return conn.recv()
    except EOFError:
        pass
    return None


# ---------------------------------------------------------------------------
# dedup_documents
# ---------------------------------------------------------------------------

DEDUP_QUERIES = {
    # ``__spark_entry__`` query name -> name of its detail metric
    "minhash_pairs_documents": "minhash_pairs_s",
    "jaccard_pairs_capped": "jaccard_capped_s",
    "simhash_pairs_documents": "simhash_pairs_s",
}


class DedupDocuments(Workload):
    """``minhash_pairs_documents``, ``jaccard_pairs_capped`` and
    ``simhash_pairs_documents`` from ``__spark_entry__`` over a seeded
    near-duplicate corpus; one operation runs all three, and each result is
    hash-compared with its DuckDB twin."""

    name = "dedup_documents"
    N = 1000
    MIN_OPS = 1

    def prepare(self) -> None:
        import __spark_entry__ as entry

        self.docs = inputs.documents_dir(self.work, self.N, self.seed, self.nproc)
        # the DuckDB twins oracle_sql() maps these query names to
        sqls = {
            "minhash_pairs_documents": entry._jaccard_sql(),
            "jaccard_pairs_capped": entry._jaccard_sql(cap=entry.JACCARD_DF_CAP),
            "simhash_pairs_documents": entry._simhash_sql(),
        }
        self.truth = oracles.dedup_truth(self.work, f"n{self.N}_s{self.seed}", self.docs, sqls)

    def _query(self, spark, name: str):
        import __spark_entry__ as entry

        df = entry.queries()[name](spark, self.docs)
        return df.columns, df.collect()

    def warm_up(self, spark) -> None:
        for name in DEDUP_QUERIES:
            self._query(spark, name)

    def measure(self, spark, seconds: float, tracer, min_ops: int) -> Measured:
        m = Measured()
        walls = {name: [] for name in DEDUP_QUERIES}
        deadline = time.perf_counter() + seconds
        while time.perf_counter() < deadline or m.attempted < min_ops:
            m.attempted += 1
            got, op_walls = {}, {}
            try:
                for name in DEDUP_QUERIES:
                    t0 = time.perf_counter()
                    with tracer.span(f"op.{name}"):
                        got[name] = self._query(spark, name)
                    op_walls[name] = time.perf_counter() - t0
            except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
                m.record_failure(f"raised {type(exc).__name__}: {exc}"[:300])
                continue
            for name, wall in op_walls.items():
                walls[name].append(wall)
            m.op_s.append(sum(op_walls.values()))
            m.items += self.N
            bad = [
                n for n, (cols, rows) in got.items() if oracles.frame_digest(cols, rows) != self.truth[n]
            ]
            if bad:
                m.record_failure("differs from DuckDB: " + ",".join(bad))
        for name, metric in DEDUP_QUERIES.items():
            if walls[name]:
                m.detail[metric] = (median(walls[name]), "s")
        return m

    def trace_layers(self, spark, tracer) -> dict[str, float]:
        trace_dedup(spark, tracer, spark.read.parquet(f"{self.docs}/documents.parquet"))
        return {}


def trace_dedup(spark, tracer, docs) -> None:
    """The dedup layer's public functions over ``docs`` (doc_id long, text),
    with the parameters of the ``__spark_entry__`` dedup queries."""
    import __spark_entry__ as entry

    from approximate_anomaly_detection_in_data_streams_spark.operators import dedup

    n, t = entry.JACCARD_N, entry.JACCARD_T
    calls = {
        # the signature width and seed minhash_lsh_pairs uses by default
        "minhash_signatures": lambda: dedup.minhash_signatures(docs, "doc_id", "text", n, 384, 42),
        "minhash_lsh_pairs": lambda: dedup.minhash_lsh_pairs(docs, "doc_id", "text", n, threshold=t),
        "ngram_jaccard_pairs": lambda: dedup.ngram_jaccard_pairs(
            docs, "doc_id", "text", n, t, max_shingle_df=entry.JACCARD_DF_CAP
        ),
        "simhash_neardup_pairs": lambda: dedup.simhash_neardup_pairs(
            docs, "doc_id", "text", max_hamming=3
        ),
    }
    for fn, build in calls.items():
        tracer.layer_call(spark, f"dedup.{fn}", lambda b=build: force(b())[0])


WORKLOADS = {w.name: w for w in (ValidateImages, StreamSlides, DedupDocuments)}
