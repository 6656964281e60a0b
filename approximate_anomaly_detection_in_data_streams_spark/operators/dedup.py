"""Deduplication operators over document tables: exact, n-gram Jaccard,
MinHash+LSH, SimHash, embedding-cosine near-dup.

Training-data-pipeline superset (not present in the reference, which has no
string data at all — SURVEY.md section 1.2); the LSH band-join here turns a
theta-join (similarity >= t) into candidate equi-join + exact post-filter.

Scale notes (the 100 TB framing):
  * exact_duplicates — one shuffle keyed on a 128-bit content hash; map-side
    partial counts make the shuffle rows ~= #distinct texts;
  * ngram-Jaccard — the shingle self-join explodes |doc| x shingles rows;
    bounded by joining on shingle then pre-aggregating pair counts before
    the Jaccard filter (classic "similarity join via inverted index").
    Hot shingles (stop-shingles) are dropped via a document-frequency cap —
    the same skew discipline as the north_rule demands;
  * minhash — signatures are one map-only pass (packed-codepoint shingles,
    seeded multiply-shift perms); banding turns candidate generation into
    an equi-join on (band, hash) with 2-D block-splitting of giant buckets;
    candidate pairs shuffle as bare int pairs and the exact verify joins
    texts for candidate ids only (fully distributed, no driver structure);
  * simhash — 64-bit signature, near-dup iff hamming distance <= 3 via
    4-piece pigeonhole equi-join (each piece is an exact-match key);
  * embedding cosine — blockwise matmul inside applyInPandas for the
    all-pairs small case; LSH-bucketed variant in operators/knn.py scales.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Persisted MinHash tables of the most-recent call (the narrow membership
# table + the wide rep signature table — each has multiple consumers), and
# a lazily-built plan gives no hook to unpersist when the consumer
# finishes — so each new minhash_lsh_pairs call releases the previous
# call's tables at its start (bench reps / repeated notebook calls hold at
# most ONE call's tables, not a monotone leak). CONTRACT
# (ADVICE r3): execute a minhash_lsh_pairs plan before building the next
# one — a plan built while an earlier one is still unexecuted loses that
# plan's persist and recomputes its signature stage once per consumer
# (correct, just slower). The lock keeps the release itself safe under
# threaded callers (e.g. bench's ThreadPoolExecutor sinks).
import threading as _threading

_LIVE_SIG: list[DataFrame] = []
_LIVE_SIG_LOCK = _threading.Lock()


def _unique_pairs(ia: np.ndarray, ib: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Deduplicate (id_a, id_b) int64 pair arrays. Packs both ids into one
    uint64 key when they fit in 32 bits (the fast path at any realistic
    id range); falls back to a lexsort-based unique otherwise."""
    if len(ia) == 0:
        return ia, ib
    if ia.max() < (1 << 31) and ib.max() < (1 << 31) and ia.min() >= 0 and ib.min() >= 0:
        packed = (ia.astype(np.uint64) << np.uint64(32)) | ib.astype(np.uint64)
        u = np.unique(packed)
        return (u >> np.uint64(32)).astype(np.int64), (
            u & np.uint64(0xFFFFFFFF)
        ).astype(np.int64)
    order = np.lexsort((ib, ia))
    ia, ib = ia[order], ib[order]
    keep = np.concatenate(
        ([True], (ia[1:] != ia[:-1]) | (ib[1:] != ib[:-1]))
    )
    return ia[keep], ib[keep]


def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact duplicate groups by content hash (md5 — portable to the oracle).

    Output: (content_hash, n_dup, min_id) for groups with >1 member,
    ordered (n_dup desc, min_id) for determinism.
    """
    return (
        df.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col).alias("id"))
        .groupBy("content_hash")
        .agg(F.count(F.lit(1)).alias("n_dup"), F.min("id").alias("min_id"))
        .where(F.col("n_dup") > 1)
        .orderBy(F.desc("n_dup"), "min_id")
    )


def char_shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Distinct character n-gram shingles per document: (id, shingle).

    Pure JVM: sequence over start offsets + transform + explode; distinct
    per (id, shingle). No Python in the path.
    """
    c = F.col(text_col)
    # stop clamped to >=1: sequence(1,0) would run *descending* in Spark;
    # the too-short shingle a 1-length sequence yields is filtered below.
    starts = F.sequence(F.lit(1), F.greatest(F.length(c) - F.lit(n - 1), F.lit(1)))
    sh = F.transform(starts, lambda i: c.substr(i, F.lit(n)))
    return (
        df.select(F.col(id_col).alias("id"), F.explode(sh).alias("shingle"))
        .where(F.length("shingle") == n)
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Document pairs with n-gram-shingle Jaccard >= threshold (exact).

    Inverted-index similarity join: explode shingles, equi-join on shingle
    with i<j to halve work, pre-aggregate common-shingle counts, then
    |A ∪ B| = |A| + |B| - common. ``max_shingle_df`` drops shingles present
    in more than that many documents (stop-shingle skew cap) — exact only
    when left None; the capped variant is the at-scale path.
    Output: (id_a, id_b, jaccard) ordered by (id_a, id_b).
    """
    sh = char_shingles(df, id_col, text_col, n)
    if max_shingle_df is not None:
        rare = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") <= max_shingle_df)
            .select("shingle")
        )
        sh = sh.join(F.broadcast(rare), "shingle")
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.select(F.col("id").alias("id_a"), "shingle")
    b = sh.select(F.col("id").alias("id_b"), "shingle")
    common = (
        a.join(b, "shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sz_a = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    sz_b = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    jac = F.col("common") / (F.col("sz_a") + F.col("sz_b") - F.col("common"))
    return (
        common.join(sz_a, "id_a")
        .join(sz_b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(jac, 6).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
        .orderBy("id_a", "id_b")
    )


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, num_perm: int = 64, seed: int = 42
) -> DataFrame:
    """MinHash signatures: (id, sig ARRAY<BIGINT>[num_perm], n_sh INT) —
    MAP-ONLY. ``n_sh`` is the distinct-shingle count (the padded 1-shingle
    fallback for sub-n-char docs included — such docs can never verify at
    any threshold > 0, so size-based pruning on n_sh stays conservative).

    Runs as one mapInPandas pass over the raw documents: per doc, the
    distinct char n-gram shingles are derived in NumPy (codepoints via a
    utf-32 view, packed n-at-a-time into one int — an exact, collision-
    free shingle id for n <= 3), then the num_perm seeded multiply-shift
    permutations h_p(x) = a_p*x + b_p over uint64 (a_p odd => bijective)
    reduce to their minima in one small matrix op. No explode, no
    distinct, no shuffle — the signature stage costs one scan, which is
    the shape that survives a 100 TB corpus (the previous formulation
    shuffled ~300 shingle rows per document twice).

    Signatures only drive banding/estimates; the exact verify in
    ``minhash_lsh_pairs`` hashes shingles independently, so the shingle
    id scheme here needs determinism, not oracle portability. Seeded,
    deterministic, and per-doc buffers stay tiny (no fresh multi-MB
    allocations — BENCH.md).
    """
    if n > 3:
        raise ValueError("packed shingle ids support n <= 3 (21 bits/char)")
    rng = np.random.default_rng(seed)
    A = (rng.integers(0, 1 << 63, size=num_perm, dtype=np.uint64) << np.uint64(1)) | np.uint64(1)
    B = rng.integers(0, 1 << 63, size=num_perm, dtype=np.uint64)
    # mix the packed shingle id once (splitmix-style) so adjacent
    # shingles don't produce correlated permutation inputs
    MIX1, MIX2 = np.uint64(0xBF58476D1CE4E5B9), np.uint64(0x94D049BB133111EB)

    def emit(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["id"].to_numpy()
            texts = pdf["text"].to_numpy()
            sigs = np.empty((len(ids), num_perm), dtype=np.uint64)
            n_sh = np.empty(len(ids), dtype=np.int32)
            with np.errstate(over="ignore"):
                for i, t in enumerate(texts):
                    cp = np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32)
                    if len(cp) < n:
                        cp = np.frombuffer(
                            (t + "\0" * n).encode("utf-32-le"), dtype=np.uint32
                        )[:n]
                    packed = np.zeros(len(cp) - n + 1, dtype=np.uint64)
                    for j in range(n):
                        packed = (packed << np.uint64(21)) | cp[
                            j : len(cp) - n + 1 + j
                        ].astype(np.uint64)
                    h = np.unique(packed)
                    n_sh[i] = len(h)
                    h = (h ^ (h >> np.uint64(30))) * MIX1
                    h = (h ^ (h >> np.uint64(27))) * MIX2
                    h ^= h >> np.uint64(31)
                    sigs[i] = (h[:, None] * A[None, :] + B[None, :]).min(axis=0)
            yield pd.DataFrame(
                {"id": ids, "sig": list(sigs.view(np.int64)), "n_sh": n_sh}
            )

    return df.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("text")
    ).mapInPandas(emit, "id long, sig array<long>, n_sh int")


def _banded_fanout(
    sig: DataFrame,
    sk_expr,
    bands: int,
    rows: int,
    bucket_cap: int | None,
    block_size: int,
    seed: int,
) -> tuple[DataFrame, DataFrame]:
    """Banded-LSH fan-out (the large-corpus strategy of
    _minhash_candidate_pairs): signature table -> per-band bucket keys ->
    bucket sizes -> thin oversized buckets (bucket_cap) -> 2-D block split
    (block_size). Emits the kernel row shape
    (id, sk, bhs, sz, dmask, band, bh, bi, lo, hi).

    FIRST-BAND OWNERSHIP: a near-threshold pair collides in MANY bands
    (E[colliding bands] ~ bands * j^rows, ~7-10 here), so per-band
    emission used to produce a ~7x-duplicated pair multiset that only a
    global distinct() could dedupe (measured: 15M raw emissions for
    2.26M distinct pairs at sf0.1 — the distinct's shuffle+sort was the
    2nd-hottest stage). Instead, each row carries its id's full per-band
    bucket-hash vector ``bhs`` (map-side, below) plus a ``dmask`` bitmask
    of bands where the id was capped away, and the kernel emits a pair
    ONLY at the first band where both members are retained with equal
    hashes — a purely local decision that makes emission exactly-once
    GLOBALLY, so the distinct() disappears. Recall semantics are
    IDENTICAL to the distinct-based path, including under bucket_cap
    thinning: a pair is emitted iff some band retains both members in one
    bucket (the reference's union-across-hash-tables behavior,
    HashTable.java:81-101), because the ownership scan skips bands where
    either member was thinned."""
    band_hashes = F.array(
        *[
            F.xxhash64(*[F.col("sig")[bnd * rows + r] for r in range(rows)])
            for bnd in range(bands)
        ]
    )
    # wide: everything downstream needs of the signature, derived
    # MAP-SIDE so the num_perm*8-byte sig array itself never crosses a
    # shuffle (at 384 perms it is 3 KB/row):
    #   sk  — 1-byte/perm agreement sketch for the estimate kernel;
    #   bhs — the per-band FULL 64-bit bucket-hash vector, used both for
    #         the (band, bh) bucket explode and the kernel's first-band-
    #         ownership filter. Ownership MUST compare the same hash the
    #         bucket join keys on: a truncated view would let a
    #         partial-bit collision at an earlier band claim ownership of
    #         a pair that never meets there, silently dropping it
    #         (~(bands-1)/2^31 per pair with a 31-bit view — real pair
    #         loss at trillion-row scale);
    #   sz  — distinct-shingle count for the exact prefix-filter size
    #         prune (rep counts ARE member counts: grouping is by
    #         verbatim text, so the prune is exact at both levels).
    # persisted: wide feeds both the bucket-size aggregation and the
    # fan-out join — without the persist the map-only signature kernel
    # would run once per consumer. Registered in _LIVE_SIG; released at
    # the start of the next minhash_lsh_pairs call.
    wide = sig.select(
        "id",
        sk_expr.alias("sk"),
        band_hashes.alias("bhs"),
        F.col("n_sh").alias("sz"),
    ).persist()
    with _LIVE_SIG_LOCK:
        _LIVE_SIG.append(wide)
    # per-band fan-out explodes map-side off the persisted rep table
    banded = wide.select(
        "id",
        "sk",
        "bhs",
        "sz",
        F.posexplode("bhs").alias("band", "bh"),
    )
    cap = bucket_cap or (1 << 30)
    sizes = banded.groupBy("band", "bh").agg(F.count(F.lit(1)).alias("m"))
    keyed = banded.join(sizes, ["band", "bh"])
    if bucket_cap is not None:
        stride = F.ceil(F.col("m") / F.lit(cap)).cast("long")
        thinned = F.pmod(F.xxhash64("id", F.lit(seed)), stride) != 0
        # dmask: per-id bitmask of bands the id was thinned OUT of. Built
        # from a SLIM (id, band) projection so the wide sk/bhs payload
        # never rides the aggregation; empty whenever no bucket exceeds
        # the cap (the common case), in which case AQE turns the left
        # join below into a broadcast of an empty table.
        removed = (
            keyed.where((F.col("m") > cap) & thinned)
            .groupBy("id")
            .agg(F.sum(F.expr("shiftleft(1L, band)")).alias("dmask"))
        )
        keyed = keyed.where((F.col("m") <= cap) | ~thinned)
        keyed = keyed.join(removed, "id", "left").withColumn(
            "dmask", F.coalesce(F.col("dmask"), F.lit(0).cast("long"))
        )
    else:
        keyed = keyed.withColumn("dmask", F.lit(0).cast("long"))
    nb = F.greatest(F.ceil(F.col("m") / F.lit(block_size)).cast("int"), F.lit(1))
    keyed = keyed.withColumn(
        "bi", F.pmod(F.xxhash64("id", F.lit(seed + 1)), nb).cast("int")
    )
    block_pairs = F.transform(
        F.sequence(F.lit(0), nb - 1),
        lambda x: F.struct(
            F.least(F.col("bi"), x).alias("lo"),
            F.greatest(F.col("bi"), x).alias("hi"),
        ),
    )
    fanned = keyed.select(
        "id", "sk", "bhs", "sz", "dmask", "band", "bh", "bi",
        F.explode(block_pairs).alias("t"),
    ).select("id", "sk", "bhs", "sz", "dmask", "band", "bh", "bi", "t.lo", "t.hi")
    # touchable: ids retained in at least one m >= 2 bucket — the ONLY
    # ids a candidate pair can ever reference, known from the bucket-size
    # aggregation BEFORE the estimate kernel runs. The verify text fan
    # semi-joins on this (not on the emitted candidates: that would
    # serialize the text fan behind the whole kernel — measured 2x the
    # sf1 wall), so singleton-bucket reps — the vast majority of a
    # production corpus — never ship their text at all. No distinct():
    # the left-semi join dedupes its build side.
    touchable = keyed.where(F.col("m") >= 2).select("id")
    return fanned, touchable


def _minhash_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    num_perm: int,
    bands: int,
    threshold: float,
    seed: int,
    bucket_cap: int | None,
    est_margin: float,
    block_size: int,
    band_rows: int = 3,
    allpairs_max_reps: int = 24000,
) -> DataFrame:
    """Stage 1 of minhash_lsh_pairs: banded candidate generation down to
    globally-distinct bare (id_a, id_b) REP pairs. Split out so benchmarks
    and profiles can time candidate generation and exact verification
    independently; all semantics documented on minhash_lsh_pairs.

    Returns ``(rep_pairs, membership, reps, touchable)``:
      * ``rep_pairs`` — distinct (id_a, id_b) candidate pairs between group
        representatives, PLUS one (r, r) self pair per verbatim-duplicate
        group with >1 member (identical texts are candidates by
        construction — the exact verify scores a self pair 1.0, or drops
        it when the shared text has no shingles, exactly the oracle's
        semantics for identical texts);
      * ``membership`` — persisted narrow (id, rep_id, gm) table mapping
        every document to its verbatim-duplicate group;
      * ``reps`` — (id, text) of one representative per group, the only
        texts the verify stage needs;
      * ``touchable`` — banded path only (None on the screen path): the
        rep ids that can possibly appear in a candidate pair (retained
        in an m >= 2 bucket, or a verbatim-dup self-pair rep), derived
        from the bucket-size aggregation so the verify text fan can
        prune without waiting on the estimate kernel.

    Banding reads only the first ``bands * band_rows`` permutations; the
    agreement estimate reads ALL ``num_perm``. Decoupling them is the
    point: banding recall needs short rows (P[band collides] = j^rows),
    while the estimate's discriminating power needs many permutations
    (sd = sqrt(j(1-j)/num_perm)). Tying rows = num_perm/bands forced a
    96-perm estimate whose sd (0.047 at j=0.7) demanded a 0.25 safety
    margin — and on a near-threshold-heavy corpus the [threshold-0.25,
    threshold) mass is millions of pairs that all flow through distinct +
    expansion + exact verify (measured 4.78M candidate pairs for a
    905-pair answer at sf0.1). A 384-perm estimate (sd 0.023) holds the
    same 4.5-sigma recall bound at margin 0.105 and admits ~4x fewer.

    Banding/estimate run REP-LEVEL: verbatim-identical texts are grouped
    first (below) and one representative per group enters the signature /
    banding / kernel stages, so every id seen there stands for a whole
    exact-duplicate group. Pairs returned are rep pairs; expansion back
    to member pairs happens in minhash_lsh_pairs AFTER the exact verify
    (expanding unverified candidates would multiply the verify input by
    gm_a*gm_b — the 50k-doc/500-template stress corpus would expand
    ~125k near-threshold rep candidates to ~1.2e9 member pairs before
    verification; measured executor OOM)."""
    rows = band_rows
    if bands * rows > num_perm:
        raise ValueError(
            f"bands*band_rows = {bands * rows} exceeds num_perm = {num_perm}"
        )
    # a small-file corpus (test scale: one parquet footer) would otherwise
    # run the signature kernel and the doc-side text fan on ONE core —
    # measured ~3 s of serial time at sf0.1. At corpus scale the input is
    # already wide and this is a no-op.
    sp_width = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "64"))
    if df.rdd.getNumPartitions() < sp_width // 2:
        df = df.repartition(sp_width)
    docs = df.select(
        F.col(id_col).cast("long").alias("id"), F.col(text_col).alias("text")
    )
    # VERBATIM-DUPLICATE GROUPING: group by a content hash (null coalesced
    # to "" — both have zero shingles, so merging them never changes the
    # output), elect min(id) as the group representative, and run banding /
    # estimate / verify on REPS ONLY. The group-info aggregation shuffles
    # only (gh, id) — the text column is pruned map-side — and the rep
    # extraction is one id equi-join. On dup-heavy corpora (the 50k-doc /
    # 500-template stress test: 100 verbatim copies per template) this
    # collapses the m x m agreement planes 100x per axis AND removes the
    # duplicated docs from every bucket, which is what the round-3 verdict
    # item 2 asked for: identical texts => identical signatures => the
    # template buckets that dominated the kernel were mostly verbatim
    # copies re-compared against each other.
    idg = docs.select(
        "id", F.sha2(F.coalesce(F.col("text"), F.lit("")), 256).alias("gh")
    )
    ginfo = idg.groupBy("gh").agg(
        F.min("id").alias("rep_id"), F.count(F.lit(1)).alias("gm")
    )
    # persisted: feeds the self-pair scan here and the two expansion joins
    # in minhash_lsh_pairs; narrow (24 B/row). Registered in _LIVE_SIG;
    # released at the start of the next minhash_lsh_pairs call.
    membership = idg.join(ginfo, "gh").select("id", "rep_id", "gm").persist()
    with _LIVE_SIG_LOCK:
        _LIVE_SIG.append(membership)
    reps = docs.join(
        ginfo.select(F.col("rep_id").alias("id")), "id", "leftsemi"
    )
    # the signature kernel requires non-null text (it packs codepoints);
    # a null-text rep is legal input (its group hashed null as "" above),
    # so coalesce HERE only — the verify stage reads the original texts
    # and scores a null doc as zero shingles -> never a pair, exactly the
    # SQL oracle's semantics
    sig = minhash_signatures(
        reps.select("id", F.coalesce(F.col("text"), F.lit("")).alias("text")),
        "id",
        "text",
        n,
        num_perm,
        seed,
    )
    # The estimate kernel never needs the full 64-bit minima — only which
    # components AGREE. A 1-byte/perm sketch (low byte of each minimum,
    # shifted into tinyint range; equal minima => equal bytes, so sketch
    # agreement >= true agreement and recall is untouched) cuts the fanned
    # shuffle payload ~8x and the kernel's broadcast-compare read traffic
    # ~8x; the ~1/256-per-perm collision inflation only ever ADDS
    # candidates, which the exact verify then rejects.
    sk_expr = F.expr("transform(sig, x -> cast((x & 255) - 128 as tinyint))")
    # COST-BASED STRATEGY SWITCH (the choice a cost-based planner would
    # make; the count materializes the persisted membership table, which
    # every downstream consumer reads anyway):
    #
    #  * small rep counts (n_reps <= allpairs_max_reps): 2-D BLOCKED
    #    ALL-PAIRS SKETCH SCREEN. Every unordered block pair is one cell;
    #    each rep's sketch ships nb ~ n_reps/block_size times and each
    #    pair's tier-1 plane cell is computed EXACTLY ONCE. Banding at
    #    this size does strictly more plane work — a near-threshold pair
    #    collides in E ~ bands * j^rows ~ 7-10 bands, and its plane cell
    #    is recomputed in every colliding bucket until the ownership
    #    filter drops all but the first — plus a bands-times-larger
    #    fan-out shuffle (measured at sf0.1, 5k docs: banding 6.7 s vs
    #    0.9 s for the screen, identical candidates). Recall is strictly
    #    BETTER than banding: the band-miss term (1 - j^rows)^bands
    #    disappears, leaving only the estimate-cut tail.
    #  * large rep counts: banded LSH, the asymptotic path — the screen's
    #    plane is Theta(n_reps^2 * t1) bytes, which at 24k reps is ~28 GB
    #    of compare traffic (sub-second per core across a cluster) but at
    #    1M reps would be 48 TB; banding's bucket planes scale with
    #    collision mass instead.
    n_reps = membership.where(F.col("id") == F.col("rep_id")).count()
    if n_reps <= allpairs_max_reps:
        nb = max(-(-n_reps // block_size), 1)
        g = F.pmod(F.xxhash64("id", F.lit(seed + 1)), F.lit(nb)).cast("int")
        scr = sig.select(
            "id", sk_expr.alias("sk"), F.col("n_sh").alias("sz"), g.alias("g")
        )
        cell = (F.least("g", "o") * nb + F.greatest("g", "o")).cast("long")
        # same row shape as the banding path so ONE kernel serves both:
        # band=0 everywhere, bh = the cell id, bhs a 1-element vector (the
        # first-band ownership check degenerates to argmax over one
        # always-true column), dmask=0 (no capping — blocks are uniform
        # hash splits). Exactly-once emission holds structurally: the two
        # members of a pair with blocks (ga, gb) meet in the single cell
        # (min, max) and nowhere else.
        fanned = (
            scr.select(
                "id",
                "sk",
                "sz",
                "g",
                F.explode(F.array(*[F.lit(o) for o in range(nb)])).alias("o"),
            )
            .select(
                "id",
                "sk",
                "sz",
                F.lit(0).alias("band"),
                cell.alias("bh"),
                F.col("g").alias("bi"),
                F.least("g", "o").alias("lo"),
                F.greatest("g", "o").alias("hi"),
                F.array(cell).alias("bhs"),
                F.lit(0).cast("long").alias("dmask"),
            )
        )
        # screen regime: every rep shares a cell with every other, so
        # every rep is potentially touched — fan all texts (a semi-join
        # would save nothing on a small corpus)
        touchable = None
    else:
        fanned, touchable = _banded_fanout(
            sig, sk_expr, bands, rows, bucket_cap, block_size, seed
        )

    # Dataflow: strategy-specific fan-out above -> per-cell two-tier
    # signature-estimate kernel -> exactly-once candidate pairs -> exact
    # verify with candidate-only text joins. Load-bearing choices:
    #
    #  * the estimate kernel runs per PARTITION (mapInArrow over a keyed
    #    repartition; it lexsorts in-kernel), not per group — thousands of
    #    tiny buckets would pay per-group Arrow overhead otherwise — and
    #    giant buckets are block-split so no single task owns a quadratic
    #    straggler (measured: one 2524-member template bucket costs ~1.3 s
    #    of dense planes; a handful hashing into one partition dominated
    #    the stage wall);
    #  * candidate pairs cross the wire as BARE (id_a, id_b) int rows.
    #    The previous formulation joined two ~300-hash array payloads onto
    #    every candidate (~25 GB of Arrow traffic at sf0.1 for a
    #    905-row output — measured 3x the rest of the pipeline).
    #    First-band ownership / single-cell routing makes the emission
    #    exactly-once, so no global distinct is needed; the verify stage
    #    hash-balances its own input with its (gi, gj) repartition;
    #  * verification is DISTRIBUTED: texts for candidate ids only are
    #    repartition-joined onto the bare (id_a, id_b) rows, and each
    #    task recomputes shingle sets (memoized per task, packed
    #    codepoints exactly like minhash_signatures) — so the verified
    #    jaccard is EXACT string jaccard (collision-free shingle ids for
    #    n <= 3) with no driver-side text dictionary at any scale.
    cut = threshold - est_margin

    def emit(batches):
        import pyarrow as pa

        chunks = [b for b in batches if b.num_rows]
        if not chunks:
            return
        tbl = pa.Table.from_batches(chunks)
        band = tbl.column("band").to_numpy(zero_copy_only=False)
        bh = tbl.column("bh").to_numpy(zero_copy_only=False)
        lo = tbl.column("lo").to_numpy(zero_copy_only=False)
        hi = tbl.column("hi").to_numpy(zero_copy_only=False)
        order = np.lexsort((hi, lo, bh, band))
        band, bh, lo, hi = band[order], bh[order], lo[order], hi[order]
        ids_all = tbl.column("id").to_numpy(zero_copy_only=False)[order]
        bi_all = tbl.column("bi").to_numpy(zero_copy_only=False)[order]
        # retained-band bucket vectors as an (n, bands) int64 matrix —
        # the FULL hashes the bucket join keys on (see _banded_fanout:
        # ownership must use the same values or partial-bit collisions
        # at earlier bands silently drop pairs). Bands the id was capped
        # OUT of (dmask bit set) are tracked as a boolean mask and
        # And-ed out of the ownership equality below; a value sentinel
        # cannot work here because xxhash64 covers the whole int64 range.
        sz_all = tbl.column("sz").to_numpy(zero_copy_only=False)[order]
        bh_col = tbl.column("bhs").combine_chunks()
        n_rows = len(band)
        n_bands = len(bh_col[0]) if n_rows else 0
        bhs_all = (
            bh_col.flatten()
            .to_numpy(zero_copy_only=False)
            .astype(np.int64, copy=False)
            .reshape(n_rows, n_bands)[order]
        )
        dmask = tbl.column("dmask").to_numpy(zero_copy_only=False)[order]
        absent_all = None
        if dmask.any():
            absent_all = (
                dmask[:, None] >> np.arange(n_bands, dtype=np.int64)[None, :]
            ) & 1 > 0
        # sketches as ONE flat uint8 buffer reshaped (n, num_perm) — the
        # pandas path materialized a quarter-million per-row object arrays
        # and then copied them row-by-row into the kernel buffer (measured:
        # that conversion, not the agreement math, dominated the kernel).
        # uint8 keeps a 2524-row block's compare side in L2 (242 KB vs
        # 1.9 MB as int64) on the bandwidth-starved guest.
        sk_col = tbl.column("sk").combine_chunks()
        sk_flat = sk_col.flatten().to_numpy(zero_copy_only=False)
        sigs_all = sk_flat.view(np.uint8).reshape(len(band), num_perm)[order]
        changed = (
            (band[1:] != band[:-1])
            | (bh[1:] != bh[:-1])
            | (lo[1:] != lo[:-1])
            | (hi[1:] != hi[:-1])
        )
        bounds = np.flatnonzero(np.concatenate(([True], changed)))
        bounds = np.append(bounds, len(band))
        # TWO-TIER ESTIMATE: the m x m agreement PLANE reads only the
        # banded prefix (t1 = bands*band_rows perms, 96 by default) — the
        # plane's byte traffic is the kernel's cost center and scales with
        # m^2 * width, so widening it 4x for the 384-perm estimate would
        # undo the sharper cut's savings. Tier 1 prunes at a LOOSE margin
        # m1 (>= 4.5 sigma at t1 perms for any threshold, i.e. the r3
        # shipped bound); tier 2 then compares the REMAINING num_perm - t1
        # perms pairwise for tier-1 survivors only (a per-pair cost, not a
        # plane) and applies the full sharp cut. Recall bound is the sum
        # of two negligible tails; the admitted-candidate count is the
        # sharp 384-perm cut's.
        t1 = min(bands * rows, num_perm)
        m1 = max(est_margin, 4.5 * (0.25 / t1) ** 0.5)
        cut1 = (threshold - m1) * t1
        # preallocated scratch reused across groups: per-group fresh
        # allocation of the m x m planes would churn gigabytes
        max_m = int((bounds[1:] - bounds[:-1]).max())
        CH = 64  # rows per 3-D agreement chunk (CH x max_m x t1 bool)
        agree = np.empty((max_m, max_m), dtype=np.int16)
        eq = np.empty((max_m, max_m), dtype=bool)
        eq3 = np.empty((CH, max_m, t1), dtype=bool)

        def agreement(A: np.ndarray, B: np.ndarray, out: np.ndarray) -> np.ndarray:
            """out[i, j] = #perms of the t1 banded-prefix perms where
            A[i] == B[j] — chunked 3-D compare with ONE sum-reduce pass,
            instead of t1 separate m x m read-modify-write plane passes
            (the former hot loop: ~96 passes per template-bucket block
            pair)."""
            ma, mb = len(A), len(B)
            for r0 in range(0, ma, CH):
                r1 = min(r0 + CH, ma)
                buf = eq3[: r1 - r0, :mb]
                np.equal(A[r0:r1, None, :t1], B[None, :, :t1], out=buf)
                buf.sum(axis=2, dtype=np.int16, out=out[r0:r1, :mb])
            return out[:ma, :mb]

        out_a, out_b = [], []
        for b0, b1 in zip(bounds[:-1], bounds[1:]):
            m = b1 - b0
            if m < 2:
                continue
            ids = ids_all[b0:b1]
            S = sigs_all[b0:b1]
            H = bhs_all[b0:b1]
            sz = sz_all[b0:b1]
            if lo[b0] == hi[b0]:
                a = agreement(S, S, agree)
                e = eq[:m, :m]
                np.less(ids[:, None], ids[None, :], out=e)
                np.logical_and(a >= cut1, e, out=e)
                ai, bj = np.nonzero(e)
                pa_, pb_ = ai, bj
            else:
                side = bi_all[b0:b1] == lo[b0]
                xi = np.flatnonzero(side)
                yi = np.flatnonzero(~side)
                ma, mb = len(xi), len(yi)
                if ma == 0 or mb == 0:
                    continue
                a = agreement(S[xi], S[yi], agree)
                ai, bj = np.nonzero(a >= cut1)
                pa_, pb_ = xi[ai], yi[bj]
            if num_perm > t1 and len(pa_):
                # tier 2: pairwise rest-compare (num_perm - t1 perms) for
                # tier-1 survivors only, chunked so a dense block's
                # survivor set never materializes a large 2-D temp
                base = a[ai, bj].astype(np.int32)
                rest = S[:, t1:]
                extra = np.empty(len(pa_), dtype=np.int32)
                for c0 in range(0, len(pa_), 65536):
                    c1 = min(c0 + 65536, len(pa_))
                    extra[c0:c1] = (
                        rest[pa_[c0:c1]] == rest[pb_[c0:c1]]
                    ).sum(axis=1, dtype=np.int32)
                keep2 = base + extra >= cut * num_perm
                pa_, pb_ = pa_[keep2], pb_[keep2]
            elif len(pa_):
                keep2 = a[ai, bj] >= cut * num_perm
                pa_, pb_ = pa_[keep2], pb_[keep2]
            ha, hb = H[pa_], H[pb_]
            sa, sb = sz[pa_], sz[pb_]
            u, v = ids[pa_], ids[pb_]
            ia, ib = np.minimum(u, v), np.maximum(u, v)
            if len(ia):
                # first-band ownership: emit only where THIS band is the
                # pair's first mutually-retained colliding band. The
                # current band always matches (same bucket, both
                # retained), so argmax finds a True column. Combined with
                # the exact prefix-filter size bound (jaccard <=
                # min(|A|,|B|)/max(|A|,|B|)) — exact at the member level
                # too, since members share the rep's verbatim text. The
                # 5e-7 slack keeps pairs whose true jaccard sits just
                # under the threshold but rounds UP to it at 6 digits
                # (ROUND half-away) — the oracle emits those.
                eqm = ha == hb
                if absent_all is not None:
                    Aab = absent_all[b0:b1]
                    eqm &= ~(Aab[pa_] | Aab[pb_])
                first = np.argmax(eqm, axis=1)
                keep = (first == band[b0]) & (
                    np.minimum(sa, sb)
                    >= (threshold - 5e-7) * np.maximum(sa, sb)
                )
                ia, ib = ia[keep], ib[keep]
            out_a.append(ia)
            out_b.append(ib)
        if out_a:
            ia = np.concatenate(out_a)
            ib = np.concatenate(out_b)
            yield pa.RecordBatch.from_pydict(
                {
                    "id_a": pa.array(ia, type=pa.int64()),
                    "id_b": pa.array(ib, type=pa.int64()),
                }
            )

    sp = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "64")
    # No distinct(): first-band ownership makes kernel emission
    # exactly-once globally (each pair lives in exactly one block cell of
    # exactly one band's bucket after the ownership filter), so the
    # global pair dedupe that used to be the 2nd-hottest stage (15M raw
    # emissions -> 2.26M pairs at sf0.1) is free.
    # no sortWithinPartitions: the kernel lexsorts its partition on the
    # same (band, bh, lo, hi) keys anyway (same reasoning that removed
    # the pre-kernel JVM sort in lsh.py — a JVM sort before it is pure
    # duplicated work on the fanned table, the kernel's largest input)
    rep_cand = fanned.repartition(int(sp), "band", "bh", "lo", "hi").mapInArrow(
        emit, "id_a long, id_b long"
    )
    # verbatim-duplicate groups are candidates by construction (identical
    # texts => jaccard exactly 1.0, or zero shingles => no pair): ONE
    # (r, r) self pair per gm > 1 group stands in for all C(gm, 2)
    # within-group member pairs. The self pair rides the normal verify
    # (scored 1.0, or dropped when the shared text is shorter than n),
    # so no special-casing anywhere downstream.
    self_pairs = membership.where(
        (F.col("gm") > 1) & (F.col("id") == F.col("rep_id"))
    ).select(F.col("id").alias("id_a"), F.col("id").alias("id_b"))
    if touchable is not None:
        # self-pair reps may sit in singleton buckets in every band (a
        # verbatim-dup group whose text is unique among reps) — their
        # texts must still reach the verify fan to score the 1.0
        touchable = touchable.unionByName(
            self_pairs.select(F.col("id_a").alias("id"))
        )
    return rep_cand.unionByName(self_pairs), membership, reps, touchable


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_perm: int = 384,
    bands: int = 32,
    threshold: float = 0.5,
    seed: int = 42,
    bucket_cap: int | None = 4000,
    est_margin: float = 0.105,
    block_size: int = 512,
    band_rows: int = 3,
    allpairs_max_reps: int = 24000,
) -> DataFrame:
    """Near-dup candidate pairs via MinHash + exact Jaccard verify.

    Candidate generation is COST-BASED between two strategies (see
    _minhash_candidate_pairs): below ``allpairs_max_reps`` distinct texts,
    a 2-D blocked all-pairs sketch screen (strictly better recall, no
    banding machinery — each pair's two-tier estimate computed exactly
    once in exactly one block cell); above it, bands x band_rows banding
    over the signature's first bands*band_rows permutations — a pair is a
    candidate iff some band's row-slice hashes collide, an equi-join on
    (band, band_hash), which is the asymptotic path (no all-pairs).
    Three skew defenses keep hot bands bounded on corpora where many
    documents are mutually similar:

      * ``bucket_cap``: a (band, band_hash) bucket larger than the cap is
        deterministically thinned (member kept iff its seeded hash is 0 mod
        ceil(m/cap)) — the bounded-bucket approximation the reference
        applies under pressure (/root/reference/src/core/lsh/
        HashTable.java:22-35, made deterministic per SURVEY.md section 5);
        exact whenever no bucket exceeds the cap;
      * ``block_size``: buckets are 2-D block-split — members hash into
        ceil(m/block_size) blocks and every unordered block pair is an
        independent kernel group — so a giant template bucket becomes many
        bounded tasks instead of one quadratic straggler (the same grid as
        embedding_neardup_pairs). Work is unchanged; the wall clock stops
        being max-bucket-bound;
      * signature-estimate pre-filter: candidates whose fraction of equal
        minhash components (over all ``num_perm``, not just the banded
        prefix) falls below ``threshold - est_margin`` are dropped before
        the exact verification;
      * verbatim-duplicate shortcut: only one representative per
        identical-text group enters banding AND the exact verify; one
        (r, r) self pair per multi-member group rides the verify (scored
        1.0 exactly, or dropped when the text has no shingles), and the
        VERIFIED rep pairs are expanded back to member pairs by two
        narrow membership joins with the verified jaccard copied —
        identical texts have identical jaccard to every counterpart, so
        the expansion is exact. Expanding after the verify is
        load-bearing: expanding unverified candidates would multiply the
        verify input by gm_a*gm_b (the 50k-doc/500-template stress corpus
        would expand ~125k near-threshold rep candidates to ~1.2e9 member
        pairs before verification — measured OOM), while post-verify
        expansion is OUTPUT-bound (every expanded pair is a genuine
        near-dup this operator must emit).

    Surviving candidates are verified with the exact shingle Jaccard, so
    output precision is 1.0; banding/cap/estimate only affect recall.

    Default parameters (384 perms, 32 bands x 3 rows banded over the
    first 96, estimate cut at threshold - 0.105) are sized so recall at
    the default-and-driver threshold 0.7 is 1.0 up to negligible
    probability: a true pair at j = 0.7 misses every band with
    (1 - 0.7^3)^32 ~ 1.4e-6 and fails the estimate cut with
    P[Binom(384, 0.7) < 0.595*384] ~ 4e-6 (a 4.5-sigma margin; the
    1-byte sketch's ~1/256 false-agreement only inflates agreement, so
    it never costs recall) — which is what lets the exact-Jaccard SQL
    serve as this operator's oracle at test scale (uncapped buckets
    there). The margin stays >= 4.1 sigma for ANY threshold since
    sd <= sqrt(0.25/384) ~ 0.0255. Versus the previous 96-perm estimate
    (margin 0.25), the 4x-sharper cut admits ~4x fewer near-threshold
    false candidates into distinct + expansion + exact verify — the
    dominant cost on corpora whose pair-similarity mass sits just below
    the threshold (sf0.1 documents: 6.4M pairs in [0.45, 0.7) vs 905 at
    >= 0.7).
    Output: (id_a, id_b, jaccard) ordered.
    """
    # release the PREVIOUS call's persisted tables (membership + wide
    # signature table) — see the _LIVE_SIG contract at the top of the
    # module: plans must be executed before building the next one.
    with _LIVE_SIG_LOCK:
        while _LIVE_SIG:
            prev = _LIVE_SIG.pop()
            # a stopped session's frames hold nothing to release, and
            # unpersist() on them raises (its block manager is gone)
            if prev.sparkSession.sparkContext._jsc is not None:
                prev.unpersist()
    sp = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "64"))
    if df.rdd.getNumPartitions() < sp // 2:
        df = df.repartition(sp)
    cand, membership, reps, touchable = _minhash_candidate_pairs(
        df,
        id_col,
        text_col,
        n,
        num_perm,
        bands,
        threshold,
        seed,
        bucket_cap,
        est_margin,
        block_size,
        band_rows,
        allpairs_max_reps,
    )
    if n > 3:
        raise ValueError("packed shingle verify supports n <= 3")

    _EMPTY = np.empty(0, dtype=np.uint64)

    def _pack(t) -> np.ndarray:
        """Sorted unique packed-shingle ids of one document (uint64)."""
        if t is None or len(t) < n:
            # char_shingles (and the SQL oracle) give <n-char docs ZERO
            # shingles — the signature kernel's padding is for candidate
            # generation only, never for the verified jaccard
            return _EMPTY
        cp = np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32)
        packed = np.zeros(len(cp) - n + 1, dtype=np.uint64)
        for j in range(n):
            packed = (packed << np.uint64(21)) | cp[j : len(cp) - n + 1 + j].astype(
                np.uint64
            )
        return np.unique(packed)

    def verify(batches):
        # GROUP-VECTORIZED exact verify over the co-located (docs + bare
        # pairs) union. Two measured costs drove this shape (150
        # core-seconds for 5.2M sf0.1 candidates in the previous
        # join-texts-per-pair pandas loop):
        #   1. the text join shipped BOTH documents' bytes on every pair
        #      row through Arrow IPC (~pairs * 2|doc| — 3 GB at sf0.1);
        #      the block-union below ships each doc ``vb`` times total and
        #      pairs as bare ints;
        #   2. per-pair frozenset intersection burned ~38 us/pair of
        #      interpreter time; the candidate set is cluster-structured
        #      (each template doc pairs with ~10^3 neighbors), so sorting
        #      by id_a forms large per-A groups and each group does ONE
        #      searchsorted of the concatenated B-side shingle arrays
        #      against A's sorted array plus a reduceat for the per-pair
        #      counts.
        # STREAMED group-by-group: rows arrive sorted (gi, gj, kind), so
        # the kernel buffers only the CURRENT (gi, gj) group — never the
        # whole partition. A partition holds several verify cells, each
        # carrying ~2/vb of the candidate-touched corpus text; buffering
        # them all (the previous whole-partition Table.from_batches)
        # multiplied the worker's peak text residency by the per-
        # partition cell count. The shingle memo is released per group
        # for the same reason — a doc re-appearing in a later cell of
        # the same partition repacks, bounded by its vb total fan-outs
        # (each doc row is shipped once per cell anyway).
        import pyarrow as pa
        import pyarrow.compute as pc

        memo: dict[int, np.ndarray] = {}

        def score(tbl):
            """Score every (complete) group in ``tbl``; RecordBatch or
            None."""
            gi = tbl.column("gi").to_numpy(zero_copy_only=False)
            gj = tbl.column("gj").to_numpy(zero_copy_only=False)
            kind = tbl.column("kind").to_numpy(zero_copy_only=False)
            ida_all = pc.fill_null(tbl.column("id_a"), -1).to_numpy(
                zero_copy_only=False
            )
            idb_all = pc.fill_null(tbl.column("id_b"), -1).to_numpy(
                zero_copy_only=False
            )
            text_col = tbl.column("text").combine_chunks()
            # each group's doc rows precede its pair rows (kind sort key)
            changed_g = (gi[1:] != gi[:-1]) | (gj[1:] != gj[:-1])
            gb = np.flatnonzero(np.concatenate(([True], changed_g)))
            gb = np.append(gb, len(gi))
            out_a, out_b, out_j = [], [], []
            for p0, p1 in zip(gb[:-1], gb[1:]):
                k = kind[p0:p1]
                split = p0 + int(np.searchsorted(k, 1))
                for di in range(p0, split):  # doc rows: pack per group
                    did = int(ida_all[di])
                    if did not in memo:
                        memo[did] = _pack(text_col[di].as_py())
                # CELL-LOCAL DENSE REMAP (r5): translate every doc's packed
                # shingles to indices into the cell's sorted shingle union
                # ONCE (one searchsorted per DOC), so each pair's
                # intersection below is an O(1)-per-element membership-flag
                # gather instead of a per-element binary search into A —
                # the verify kernel's hot loop (~650M probes at sf0.1 for
                # 2.17M near-threshold candidates; measured ~4x on the
                # bench corpus). Exactness unchanged: arr ⊆ U, so the
                # U-index equality is the same membership predicate.
                imemo: dict[int, np.ndarray] = {}
                if split != p1:
                    cell_arrs = [
                        (int(ida_all[di]), memo[int(ida_all[di])])
                        for di in range(p0, split)
                    ]
                    nonempty = [a for _i, a in cell_arrs if len(a)]
                    U = (
                        np.unique(np.concatenate(nonempty))
                        if nonempty
                        else _EMPTY
                    )
                    flags = np.zeros(len(U), dtype=bool)
                    for i_, a_ in cell_arrs:
                        imemo[i_] = np.searchsorted(U, a_)
                if split != p1:
                    # global pair dedupe: cross-band/cross-task duplicates
                    # of one pair all land in THIS group (gi, gj is a pure
                    # function of the ids), so a per-group unique replaces
                    # the former distinct() shuffle upstream
                    ida, idb = _unique_pairs(
                        ida_all[split:p1], idb_all[split:p1]
                    )
                    m = len(ida)
                    # _unique_pairs returns (id_a, id_b)-sorted
                    ida_s, idb_s = ida, idb
                    jac = np.zeros(m, dtype=np.float64)
                    changed = ida_s[1:] != ida_s[:-1]
                    bounds = np.flatnonzero(np.concatenate(([True], changed)))
                    bounds = np.append(bounds, m)
                    for g0, g1 in zip(bounds[:-1], bounds[1:]):
                        iA = imemo.get(int(ida_s[g0]), _EMPTY)
                        la = len(iA)
                        if la == 0:
                            continue
                        Bs = [
                            imemo.get(int(idb_s[k2]), _EMPTY)
                            for k2 in range(g0, g1)
                        ]
                        lens = np.fromiter(
                            (len(b) for b in Bs), count=g1 - g0, dtype=np.int64
                        )
                        # same size bound as the kernel prune: intersection
                        # work only for pairs that can still reach the
                        # threshold (this also drops zero-shingle B docs,
                        # keeping reduceat segments non-empty). Same 5e-7
                        # slack as the kernel: a true jaccard in
                        # [threshold-5e-7, threshold) rounds up to the
                        # threshold at 6 digits and must be scored.
                        ok = np.minimum(lens, la) >= (
                            threshold - 5e-7
                        ) * np.maximum(lens, la)
                        if not ok.any():
                            continue
                        oki = np.flatnonzero(ok)
                        cat = np.concatenate([Bs[k2] for k2 in oki])
                        flags[iA] = True
                        hit = flags[cat].astype(np.int64)
                        flags[iA] = False
                        lens_ok = lens[oki]
                        offs = np.zeros(len(oki), dtype=np.int64)
                        np.cumsum(lens_ok[:-1], out=offs[1:])
                        inter = np.add.reduceat(hit, offs)
                        jac[g0 + oki] = inter / (la + lens_ok - inter)
                    jac = _round_half_away(jac)
                    keep = jac >= threshold
                    out_a.append(ida[keep])
                    out_b.append(idb[keep])
                    out_j.append(jac[keep])
                for di in range(p0, split):  # release the group's packs
                    memo.pop(int(ida_all[di]), None)
            if not out_a:
                return None
            return pa.RecordBatch.from_pydict(
                {
                    "id_a": pa.array(np.concatenate(out_a), type=pa.int64()),
                    "id_b": pa.array(np.concatenate(out_b), type=pa.int64()),
                    "jaccard": pa.array(
                        np.concatenate(out_j), type=pa.float64()
                    ),
                }
            )

        # pending buffers ONLY the trailing (possibly incomplete) group
        pending: list = []
        for b in batches:
            if not b.num_rows:
                continue
            if pending:
                lb = pending[-1]
                tail = (
                    lb.column("gi")[-1].as_py(),
                    lb.column("gj")[-1].as_py(),
                )
                head_key = (
                    b.column("gi")[0].as_py(),
                    b.column("gj")[0].as_py(),
                )
                if head_key != tail:
                    out = score(pa.Table.from_batches(pending))
                    pending = []
                    if out is not None:
                        yield out
            gi_n = b.column("gi").to_numpy(zero_copy_only=False)
            gj_n = b.column("gj").to_numpy(zero_copy_only=False)
            in_last = (gi_n == gi_n[-1]) & (gj_n == gj_n[-1])
            start_last = int(np.argmax(in_last))  # first row of final group
            if start_last > 0:
                out = score(
                    pa.Table.from_batches([*pending, b.slice(0, start_last)])
                )
                pending = [b.slice(start_last)]
                if out is not None:
                    yield out
            else:
                pending.append(b)
        if pending:
            out = score(pa.Table.from_batches(pending))
            if out is not None:
                yield out

    # Distributed exact verify WITHOUT per-pair text payload: the previous
    # formulation joined both texts onto every candidate row, and shipping
    # ~pair_count * 2 * |doc| bytes through Arrow IPC to the Python workers
    # dominated the operator (measured ~130 core-seconds for 5.2M sf0.1
    # candidates vs ~18 core-seconds of JVM work). Instead, ids hash into
    # ``vb`` blocks and every unordered block pair is one verify group (the
    # embedding_neardup_pairs grid): candidate pairs route to exactly ONE
    # group as bare (id_a, id_b) ints, and each document's text is fanned
    # to its ``vb`` groups — so text bytes cross the wire O(vb * corpus),
    # never O(pairs * |doc|), and the kernel packs each doc's shingles at
    # most once per task. Docs missing from the corpus simply never reach
    # the memo -> jaccard 0, the inner-join semantics this replaces.
    # The text fan costs O(vb * corpus) bytes — the verify stage's dominant
    # shuffle. vb=16 bounds per-cell text residency at 2/16 of the corpus
    # for the banded (large-corpus) regime; on the SCREEN regime
    # (touchable is None <=> n_reps <= allpairs_max_reps, a small corpus by
    # construction) the same bound is loose by orders of magnitude, so a
    # 4-block grid quarters the text shuffle and the per-cell group
    # overheads while per-cell text stays <= half of a <=24k-doc corpus
    # (r5; measured ~1 s at sf0.1 where the fan was 16x a 10 MB corpus).
    vb = 4 if touchable is None else 16
    # Rep texts fan to the verify groups: every candidate pair references
    # rep ids, and a rep's jaccard IS its members' jaccard. On the banded
    # (large-corpus) path only TOUCHABLE reps fan — ids retained in some
    # m >= 2 bucket, plus verbatim-dup self-pair reps (see
    # _minhash_candidate_pairs). At production scale singleton-bucket
    # reps are the vast majority, so this cuts the vb x corpus text
    # shuffle — the verify stage's dominant byte cost at 100 TB — to the
    # collision-touched fraction, and because touchable derives from the
    # bucket-size aggregation (an early, cheap stage), the text fan does
    # NOT serialize behind the estimate kernel (semi-joining on emitted
    # candidates instead measured 2x the sf1 wall). Screen path:
    # touchable is None and all reps fan (every rep shares a cell).
    texts = (
        reps if touchable is None else reps.join(touchable, "id", "leftsemi")
    )

    def _blk(c):
        return F.pmod(F.xxhash64(c, F.lit(seed + 2)), F.lit(vb)).cast("int")

    pair_rows = cand.select(
        "id_a",
        "id_b",
        F.lit(None).cast("string").alias("text"),
        F.least(_blk(F.col("id_a")), _blk(F.col("id_b"))).alias("gi"),
        F.greatest(_blk(F.col("id_a")), _blk(F.col("id_b"))).alias("gj"),
        F.lit(1).alias("kind"),
    )
    doc_groups = F.array(
        *[
            F.struct(
                F.least(F.lit(o), _blk(F.col("id"))).alias("gi"),
                F.greatest(F.lit(o), _blk(F.col("id"))).alias("gj"),
            )
            for o in range(vb)
        ]
    )
    doc_rows = texts.select(
        F.col("id").alias("id_a"),
        F.lit(None).cast("long").alias("id_b"),
        "text",
        F.explode(doc_groups).alias("g"),
        F.lit(0).alias("kind"),
    ).select("id_a", "id_b", "text", "g.gi", "g.gj", "kind")
    verified = (
        doc_rows.unionByName(pair_rows)
        .repartition(int(sp), "gi", "gj")
        .sortWithinPartitions("gi", "gj", "kind")
        .mapInArrow(verify, "id_a long, id_b long, jaccard double")
    )
    # lazy localCheckpoint before the expansion + global sort:
    # RangePartitioning's sampling job would otherwise re-execute the
    # verify lineage a second time. The checkpointed result is the tiny
    # VERIFIED REP pair set, materialized once; the expansion joins
    # (broadcast of the checkpointed pairs under AQE, scans of the
    # persisted narrow membership table) re-run cheaply for the sample.
    verified = verified.localCheckpoint(eager=False)
    # expand verified rep pairs to member pairs: two equi-joins on the
    # persisted (id, rep_id) membership table. No distinct needed —
    # rep pairs are globally distinct (first-band ownership + the verify
    # kernel's per-group unique), each member pair expands from exactly
    # one rep pair, and within-group (ra == rb, from the self pair) vs
    # cross-group expansions are disjoint. The (ida < idb) guard keeps
    # each unordered within-group pair once and drops the identity row.
    memb_a = membership.select(F.col("rep_id").alias("ra"), F.col("id").alias("ida"))
    memb_b = membership.select(F.col("rep_id").alias("rb"), F.col("id").alias("idb"))
    return (
        verified.join(memb_a, F.col("id_a") == F.col("ra"))
        .join(memb_b, F.col("id_b") == F.col("rb"))
        .where((F.col("ra") != F.col("rb")) | (F.col("ida") < F.col("idb")))
        .select(
            F.least("ida", "idb").alias("id_a"),
            F.greatest("ida", "idb").alias("id_b"),
            "jaccard",
        )
        .orderBy("id_a", "id_b")
    )


SIMHASH_BITS = 60  # 15 md5 hex chars -> portable to the DuckDB oracle


def simhash_signatures(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, hash_fn: str = "md5"
) -> DataFrame:
    """60-bit SimHash per document — MAP-ONLY (one mapInPandas scan).

    Bit b of the signature is 1 iff more of the document's distinct char
    n-gram shingles hash with bit b set than not. Two shingle-hash tiers:

      * ``hash_fn="md5"`` (default, the oracle tier): first 15 hex chars
        of md5 parsed as an integer — a *portable* hash every engine
        implements identically (Python: hashlib.md5; Spark:
        conv(substr(md5, 1, 15), 16, 10); DuckDB: ('0x' ||
        substr)::bigint), which is what lets the pigeonhole join carry an
        exact SQL oracle (xxhash64 seeds are Spark-private). Cost: a
        per-shingle Python generator — linear and map-only, but it burns
        Python CPU on every byte of the corpus.
      * ``hash_fn="fast"`` (the production tier): shingles packed to
        collision-free codepoint integers in NumPy (the minhash scheme,
        n <= 3) and mixed with a vectorized splitmix64 — zero per-shingle
        Python, ~20x less kernel CPU on long documents. A different (but
        equally uniform) member of the hash family, so signatures differ
        from the md5 tier while the hamming-distance GEOMETRY is
        preserved (property-tested: identical docs -> distance 0, planted
        near-dups collide under both tiers).

    Previous formulation exploded 1.5M (id, shingle) rows through a
    distinct and a 60-conditional-sum aggregation (two shuffles, ~8.7 s
    at sf0.1); the per-doc kernel computes the identical signature in one
    scan with zero shuffles — the shape that survives a 100 TB corpus.
    """
    import hashlib

    if hash_fn not in ("md5", "fast"):
        raise ValueError("hash_fn must be 'md5' or 'fast'")
    if hash_fn == "fast" and n > 3:
        raise ValueError("packed shingle ids support n <= 3")
    MIX1, MIX2 = np.uint64(0xBF58476D1CE4E5B9), np.uint64(0x94D049BB133111EB)
    MASK60 = np.uint64((1 << SIMHASH_BITS) - 1)

    def emit(batches):
        bit_idx = np.arange(SIMHASH_BITS, dtype=np.uint64)
        weights = (np.uint64(1) << bit_idx).astype(np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["id"].to_numpy()
            out = np.zeros(len(ids), dtype=np.int64)
            # zero-shingle docs (len < n) have NO signature row — matching
            # the exploded-aggregation semantics and the SQL oracle
            has_sig = np.zeros(len(ids), dtype=bool)
            for i, t in enumerate(pdf["text"]):
                if not t or len(t) < n:
                    continue
                if hash_fn == "md5":
                    sh = {t[j : j + n] for j in range(len(t) - n + 1)}
                    hs = np.fromiter(
                        (
                            int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)
                            for s in sh
                        ),
                        dtype=np.int64,
                    ).astype(np.uint64)
                else:
                    cp = np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32)
                    packed = np.zeros(len(cp) - n + 1, dtype=np.uint64)
                    for j in range(n):
                        packed = (packed << np.uint64(21)) | cp[
                            j : len(cp) - n + 1 + j
                        ].astype(np.uint64)
                    with np.errstate(over="ignore"):
                        hs = np.unique(packed)
                        hs = (hs ^ (hs >> np.uint64(30))) * MIX1
                        hs = (hs ^ (hs >> np.uint64(27))) * MIX2
                        hs ^= hs >> np.uint64(31)
                    hs &= MASK60
                bits = (hs[:, None] >> bit_idx) & np.uint64(1)
                s = 2 * bits.sum(axis=0).astype(np.int64) - len(hs)
                out[i] = int(((s > 0) * weights).sum())
                has_sig[i] = True
            yield pd.DataFrame({"id": ids[has_sig], "simhash": out[has_sig]})

    return df.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("text")
    ).mapInPandas(emit, "id long, simhash long")


def simhash_neardup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    seed: int = 42,
    bucket_cap: int | None = 500,
    hash_fn: str = "md5",
) -> DataFrame:
    """Pairs with SimHash hamming distance <= max_hamming.

    Pigeonhole: split 60 bits into (max_hamming+1) pieces; any pair within
    distance d must match exactly on >= one piece — candidates come from
    equi-joins on (piece_idx, piece_value), then exact popcount verify.

    ``bucket_cap`` bounds each (piece, value) bucket deterministically
    (seeded xxhash64 order, same discipline as ``minhash_lsh_pairs``): a
    heavily-duplicated corpus — exactly what dedup targets — concentrates
    one piece-value, and an uncapped self-join goes quadratic on that key.
    Capped members can only lose candidate pairs, so output stays a subset
    with exact hamming values; the result is exact whenever no bucket
    exceeds the cap (asserted by the oracle at test scale).
    Output: (id_a, id_b, hamming).
    """
    from pyspark.sql.window import Window

    pieces = max_hamming + 1
    width = SIMHASH_BITS // pieces
    sig = simhash_signatures(df, id_col, text_col, hash_fn=hash_fn)
    piece_arr = F.array(
        *[
            F.struct(
                F.lit(p).alias("p"),
                F.shiftrightunsigned(F.col("simhash"), p * width)
                .bitwiseAND(F.lit((1 << width) - 1))
                .alias("v"),
            )
            for p in range(pieces)
        ]
    )
    keyed = sig.select("id", "simhash", F.explode(piece_arr).alias("pk")).select(
        "id", "simhash", "pk.p", "pk.v"
    )
    if bucket_cap is not None:
        w = Window.partitionBy("p", "v").orderBy(
            F.xxhash64("id", F.lit(seed)), "id"
        )
        keyed = (
            keyed.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= bucket_cap)
            .drop("_rn")
        )
    cand = (
        keyed.alias("x")
        .join(keyed.alias("y"), ["p", "v"])
        .where(F.col("x.id") < F.col("y.id"))
        .select(
            F.col("x.id").alias("id_a"),
            F.col("y.id").alias("id_b"),
            F.col("x.simhash").alias("sa"),
            F.col("y.simhash").alias("sb"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))).cast("long")
    return (
        cand.select("id_a", "id_b", hamming.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
        .orderBy("id_a", "id_b")
    )


def _round_half_away(x: np.ndarray, decimals: int = 6) -> np.ndarray:
    """Round half away from zero (SQL ROUND semantics — np.round is
    half-to-even; the DuckDB oracle twin must see the identical value
    before the threshold comparison)."""
    scale = 10.0**decimals
    return np.sign(x) * np.floor(np.abs(x) * scale + 0.5) / scale


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    n_blocks: int = 8,
) -> DataFrame:
    """All pairs with cosine similarity >= threshold (exact, distributed
    2D block self-join).

    Ids hash into ``n_blocks`` blocks; every unordered block pair
    (bi <= bj) is one independent task whose kernel does a chunked NumPy
    matmul over its two blocks — n_blocks*(n_blocks+1)/2 parallel tasks,
    each bounded at (n/n_blocks)^2 work, instead of one driver-sized
    all-pairs group. Exact-threshold semantics are inherently O(n^2)
    work; the block grid distributes it evenly (no skew: blocks are
    hash-assigned) and each row is replicated exactly n_blocks times.
    For sub-quadratic *approximate* near-dup at corpus scale use the
    SRP-bucketed path (operators/knn.py srp_ann_topk) — this operator is
    the exact-semantics tier that backs the DuckDB oracle.

    The cosine is rounded to 6 decimals half-away-from-zero BEFORE the
    threshold test, matching the SQL twin's round()-then-filter exactly.
    Output: (id_a, id_b, cosine) with id_a < id_b, ordered.
    """
    pdf_schema = "id_a long, id_b long, cosine double"
    base = df.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(vec_col).alias("vec"),
        F.pmod(F.xxhash64(F.col(id_col).cast("long")), F.lit(n_blocks))
        .cast("int")
        .alias("blk"),
    )
    # fan each row out to the n_blocks tasks (its block paired with every
    # block, unordered): row count * n_blocks, bounded and uniform
    pair_keys = F.array(
        *[
            F.struct(
                F.least(F.lit(o), F.col("blk")).alias("gi"),
                F.greatest(F.lit(o), F.col("blk")).alias("gj"),
            )
            for o in range(n_blocks)
        ]
    )
    fanned = base.select(
        "id", "vec", "blk", F.explode(pair_keys).alias("t")
    ).select("id", "vec", "blk", "t.gi", "t.gj")

    def emit(key, pdf):
        gi, gj = int(key[0]), int(key[1])
        ids = pdf["id"].to_numpy()
        blk = pdf["blk"].to_numpy()
        X = np.stack(pdf["vec"].to_numpy()).astype(np.float64)
        norms = np.linalg.norm(X, axis=1)
        norms[norms == 0] = 1.0
        Xn = X / norms[:, None]
        if gi == gj:
            a_idx = np.arange(len(ids))
            b_idx = a_idx
        else:
            a_idx = np.flatnonzero(blk == gi)
            b_idx = np.flatnonzero(blk == gj)
        out_a, out_b, out_c = [], [], []
        chunk = 2048
        B = Xn[b_idx]
        ids_b = ids[b_idx]
        for s in range(0, len(a_idx), chunk):
            rows = a_idx[s : s + chunk]
            block = _round_half_away(Xn[rows] @ B.T)
            ai, bj = np.nonzero(block >= threshold)
            ia, ib = ids[rows][ai], ids_b[bj]
            keep = ia != ib
            ia, ib, c = ia[keep], ib[keep], block[ai[keep], bj[keep]]
            lo = np.minimum(ia, ib)
            hi = np.maximum(ia, ib)
            if gi == gj:  # each unordered pair appears twice in the diag task
                keep2 = ia < ib
                lo, hi, c = lo[keep2], hi[keep2], c[keep2]
            out_a.append(lo)
            out_b.append(hi)
            out_c.append(c)
        if not out_a:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cosine": "float64"}
            )
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a),
                "id_b": np.concatenate(out_b),
                "cosine": np.concatenate(out_c),
            }
        )

    return (
        fanned.groupBy("gi", "gj")
        .applyInPandas(emit, pdf_schema)
        .orderBy("id_a", "id_b")
    )


def dedup_groups(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_rounds: int = 50,
) -> DataFrame:
    """Connected components over a near-dup pair table: (id, group_id).

    group_id = the minimum member id of the component (the canonical
    document a training pipeline keeps). Each round does min-label
    propagation along edges followed by one pointer-jump (label <-
    label(label)) — the jump halves the distance any label still has to
    travel, so convergence is O(log diameter) rounds rather than
    O(diameter): a 200-node chain closes in ~8 rounds instead of 200.
    Every round's labels are ``localCheckpoint``-ed, truncating the
    iterative join lineage (unchecked growth would blow up planning time
    long before data size matters).

    Convergence is detected on the label sum (strictly decreasing while
    any label moves); exhausting ``max_rounds`` without a fixed point
    raises instead of silently returning non-converged groups.

    Only nodes that appear in ``pairs`` are emitted; singleton documents
    are their own group by definition and need no rows at scale.
    """
    edges = (
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        .unionByName(pairs.select(F.col(id_b).alias("u"), F.col(id_a).alias("v")))
        .distinct()
        .cache()
    )
    labels = (
        edges.select(F.col("u").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint()
    )
    prev_sum = labels.agg(F.sum("label")).first()[0]
    converged = prev_sum is None  # empty pair table
    for _ in range(max_rounds):
        if converged:
            break
        neighbor_min = (
            edges.join(labels, edges.v == labels.id)
            .groupBy("u")
            .agg(F.min("label").alias("nlabel"))
        )
        stepped = (
            labels.join(neighbor_min, labels.id == neighbor_min.u, "left")
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce("nlabel", F.col("label"))
                ).alias("label"),
            )
        )
        # pointer jump: adopt the label of the node my label points to —
        # labels always hold member ids, so the self-join is total
        lmap = stepped.select(
            F.col("id").alias("_lid"), F.col("label").alias("_llabel")
        )
        new_labels = (
            stepped.join(lmap, stepped.label == lmap._lid, "left")
            .select("id", F.coalesce("_llabel", "label").alias("label"))
            .localCheckpoint()
        )
        new_sum = new_labels.agg(F.sum("label")).first()[0]
        labels = new_labels
        if new_sum == prev_sum:
            converged = True
        prev_sum = new_sum
    edges.unpersist()
    if not converged:
        raise RuntimeError(
            f"dedup_groups did not converge within {max_rounds} rounds"
        )
    return labels.select("id", F.col("label").alias("group_id")).orderBy("id")
