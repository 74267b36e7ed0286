"""Deduplication operators for the training-data pipeline: exact hashing,
word-shingle Jaccard, MinHash+LSH banding, and SimHash — each as a
DataFrame-in/DataFrame-out transformer over the ``documents`` table, with an
exact DuckDB SQL oracle (the hash primitive — first hex chars of md5 cast to
bigint — is portable across both engines).

Scale design (the part that matters at 100 TB):
- exact dedup: one hash-groupBy; map-side combine makes it near-free.
- Jaccard/MinHash: the candidate generation NEVER does an all-pairs join —
  docs are joined only within LSH band buckets (or shared shingles), so the
  shuffle is keyed by band/shingle hash and skew is bounded by bucket size.
  A frequency cap on join keys (drop shingles appearing in > N docs) is the
  standard guard against degenerate buckets.
- SimHash: per-doc 60-bit signature computed via an explode over bit
  positions (pure column math, no UDF); pairs only within a 12-bit prefix
  bucket.
- All hashing is md5-based: deterministic, partition-order independent.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_journal_spark.functions.numeric import round6, round6_sql
from kafka_journal_spark.functions.text import (
    TOKS_SQL,
    _zip_grams_spark_sql,
    shingles_col,
    shingles_spark_sql,
    shingles_sql,
    tokens_col,
    tokens_spark_sql,
)

MINHASH_K = 16  # number of hash functions
LSH_BANDS = 4  # bands of 4 rows each
SIMHASH_BITS = 60  # fits a signed 64-bit in both engines (15 hex chars)
JACCARD_THRESHOLD = 0.5
#: shingles occurring in more than this many docs are excluded from the
#: Jaccard universe: a shingle shared by n docs generates O(n^2) candidate
#: pairs, and one appearing in thousands of documents carries no dedup
#: signal.  The similarity is defined over the capped universe (both the
#: intersection AND the per-doc sizes) so the estimator stays consistent.
SHINGLE_DOC_FREQ_CAP = 100

#: largest over-cap shingle set worth shipping as an explicit broadcast in
#: the ngram-Jaccard frequency cap (~8 MB of longs + object overhead per
#: executor at the limit); beyond it the anti-join falls back to a shuffle
#: join that AQE can skew-split
HOT_SHINGLE_BROADCAST_MAX = 1_000_000

# MinHash permutation family: one md5 per shingle, then K affine
# permutations h_i = (A[i]*h + B[i]) mod P — 16x fewer md5 calls than
# hashing (i || shingle) per function.  P is prime > 2^32 so the affine map
# genuinely permutes; A[i] < 2^30 keeps A[i]*h < 2^62 (no overflow in
# either engine's signed 64-bit arithmetic).
MINHASH_P = 4294967311
MINHASH_A = [((2 * i + 1) * 2654435761) % (1 << 30) | 1 for i in range(MINHASH_K)]
MINHASH_B = [(i * 40503 * 65537 + 17) % (1 << 30) for i in range(MINHASH_K)]


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_journal_spark.sources.tables import read_parquet_cached_schema

    return read_parquet_cached_schema(spark, os.path.join(sf_dir, "documents.parquet"))


def hash64(col: Column) -> Column:
    """Portable 32-bit-range hash: first 8 md5 hex chars as bigint."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def hash60(col: Column) -> Column:
    """Portable 60-bit hash: first 15 md5 hex chars as bigint."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


HASH64_SQL = "('0x' || substr(md5({x}), 1, 8))::BIGINT"
HASH60_SQL = "('0x' || substr(md5({x}), 1, 15))::BIGINT"

#: Spark-SQL twins of hash64/hash60 (the ::BIGINT forms above are DuckDB):
#: same substring(md5)->conv->cast tree as the Column builders, parity
#: pinned by the SQL-vs-Column tests in test_pipeline_ops.
HASH64_SPARK_SQL = "CAST(conv(substring(md5({x}), 1, 8), 16, 10) AS BIGINT)"
HASH60_SPARK_SQL = "CAST(conv(substring(md5({x}), 1, 15), 16, 10) AS BIGINT)"


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical assignment by normalized-text hash: every doc maps to the
    smallest doc_id sharing its fingerprint."""
    norm = F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))
    df = _docs(spark, sf_dir).select("doc_id", F.md5(norm).alias("fp"))
    canon = df.groupBy("fp").agg(
        F.min("doc_id").alias("canonical_id"), F.count("*").alias("group_size")
    )
    return df.join(canon, "fp").select("doc_id", "canonical_id", "group_size")


# ---------------------------------------------------------------------------
# shingle-based candidates + true Jaccard
# ---------------------------------------------------------------------------


def _doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingle) distinct pairs — the base relation for Jaccard and
    MinHash.  Column-pruned scan + one explode.

    The tokenize+shingle expressions are CPU-dense per row, so parallelism
    must not be bound by the input's file count (a single small parquet file
    = a single partition = one core doing all the work): repartition first.
    """
    par = spark.sparkContext.defaultParallelism
    # tokens hoisted into their own projection: shingles_col references its
    # input 2(n-1)+2 times, so passing `tokens_col()` textually evaluated
    # the split+filter ~6x per row (see _dup_gram_hits for the mechanism).
    # Expressions are SQL strings (r11 §4 pattern): the Column form cost
    # ~0.1 s of py4j churn per build — same tree through the parser.
    df = (
        _docs(spark, sf_dir)
        .select("doc_id", "text")
        .repartition(par, "doc_id")
        .selectExpr("doc_id", tokens_spark_sql() + " AS _tk")
        .selectExpr("doc_id", shingles_spark_sql("_tk", 3) + " AS sh")
    )
    return df.select("doc_id", F.explode("sh").alias("shingle"))


def ngram_jaccard_pairs(
    spark: SparkSession, sf_dir: str, threshold: float = JACCARD_THRESHOLD
) -> DataFrame:
    """All doc pairs sharing >= 1 shingle, with exact Jaccard similarity,
    filtered to >= threshold.

    Scale: the self-join is keyed by shingle — docs never meet unless they
    share a shingle.  At 100 TB add a shingle-frequency cap before the join
    (``having count < N``) to bound bucket fan-out.
    """
    # the shingle relation feeds both sides of the self-join plus the size
    # aggregation (3 uses).  The round-8 form eagerly localCheckpoint-ed
    # the 26M-row exploded relation TWICE (sf10) — pinned executor memory
    # that grows with the corpus, plus construction-time materialization
    # on the honest bench clock.  The first round-9 cut replaced it with a
    # COUNT WINDOW over the gh exchange — fastest on benign corpora
    # (the cap count rides the join exchange for free) but
    # partitionBy("gh") must co-locate EVERY row of a shingle in one task
    # before the cap filter can drop it, concentrating exactly the
    # degenerate boilerplate shingles the cap exists to guard against
    # (nav chrome / license text with doc-freq in the millions at web
    # scale) into one un-splittable straggler sort — window skew is
    # invisible to AQE, and that single task's sort+memory is unbounded in
    # the hot shingle's frequency.  The cap is now an OVER-CAP ANTI-JOIN:
    # ONE map-side-combined frequency aggregate (a hot shingle
    # pre-aggregates inside every map task — skew cannot concentrate)
    # yields the over-cap set, checkpointed at O(|hot|) (tiny by the
    # counting bound |hot| <= n_shingles/CAP; ZERO rows at every measured
    # SF up to sf100p), then three adaptive branches: no hot shingles ->
    # no join at all; |hot| <= HOT_SHINGLE_BROADCAST_MAX -> map-only
    # broadcast anti-join (hot rows never reach an exchange); beyond ->
    # shuffle anti-join that AQE CAN skew-split, which the window never
    # could.  Price, measured same-day interleaved A/B (median of 5):
    # sf1 5.9 vs 5.1 s, sf10 53.4 vs 40.4 s — the +15-32% is the one
    # EXTRA tokenize+shingle pass feeding the frequency aggregate
    # (O(corpus) CPU, zero residency), and is the cost of bounding the
    # worst case; pair sets verified identical at both SFs (2560 / 75208
    # pairs).  Exchange reuse does NOT fire across the three consumers
    # (join-pushed null/size filters make the subtrees canonically
    # different), so the tokenize+shingle pipeline recomputes per
    # consumer — affordable O(corpus) CPU with zero residency, unlike the
    # round-8 checkpoint's O(corpus) MEMORY.  (A no-self-join variant —
    # groupBy shingle into a capped sorted doc list, transform/slice/
    # flatten pair generation as in the embedding family — measured
    # SLOWER: 18.8 s sf1 / 63.5 s sf10; collect_list's object aggregate
    # loses codegen, and the pair volume is identical either way.)
    #
    # The relation exchanges a 64-BIT HASH of the shingle, never the
    # string: at sf100p (5M docs) the exploded relation is 260M rows and
    # the ~25-byte shingle text tripled every shuffle this op runs — the
    # same byte-width decision as the span family's gram hash, with the
    # same documented odds (two distinct shingles of one doc colliding at
    # ~52^2/2 * 2^-64; n_common/n_sh would drift by 1 — never observed,
    # and the oracle-graded SFs assert exact string semantics).
    gh_all = _doc_shingles(spark, sf_dir).select(
        "doc_id", F.xxhash64("shingle").alias("gh")
    )
    # the over-cap set is computed ONCE and checkpointed — the checkpoint
    # is O(|hot|) = tiny (NOT the corpus-sized residency the round-8
    # checkpoints pinned), and the lineage cut stops the three consumers
    # from re-running the frequency aggregate (measured: per-consumer
    # aggregates cost ~15% at sf10)
    # |hot| rides the checkpoint job (observe) — r10 paid a separate
    # count job per invocation for the branch decision below
    _hot_obs = Observation()
    hot = (
        gh_all.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") > SHINGLE_DOC_FREQ_CAP)
        .select("gh")
        .observe(_hot_obs, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    n_hot = int(_hot_obs.get["n"])
    if n_hot == 0:
        # every measured corpus up to sf100p lands here: no join at all
        sh = gh_all
    elif n_hot <= HOT_SHINGLE_BROADCAST_MAX:
        # map-only broadcast anti-join: hot rows never reach an exchange
        sh = gh_all.join(F.broadcast(hot), "gh", "left_anti")
    else:
        # pathological corpus (counting bound |hot| <= n_shingles/CAP
        # nearly met): shuffle anti-join, AQE skew-splits the SMJ — which
        # the count window this replaced never could
        sh = gh_all.join(hot, "gh", "left_anti")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(b, (F.col("a.gh") == F.col("b.gh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    raw = F.col("n_common").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_common")
    ).cast("double")
    # the ratio of small ints is bit-identical across engines, so the
    # threshold filter uses the raw value (rounding only for display)
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(raw >= F.lit(threshold))
        .select("doc_a", "doc_b", "n_common", round6(raw).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signatures(spark: SparkSession, sf_dir: str, k: int = MINHASH_K) -> DataFrame:
    """(doc_id, sig array<long>) — sig[i] = min over shingles of the i-th
    affine permutation of the shingle's base hash.

    Plan (the 100 TB shape, round 9): ZERO aggregation shuffles — the
    signature is a per-document ARRAY FOLD,
    ``aggregate(transform(shingles, md5-hash), [P]*K, zip_with least)``,
    so every document computes its own K minima inside the row and the
    only exchange left is the CPU-parallelism repartition of the raw text.
    The previous shape exploded ~52 shingle rows/doc and hash-aggregated
    them back into per-doc groups with K min-columns; at sf10 (500k docs,
    26M shingles) the explode+groupBy machinery cost 12.7 s noop-forced vs
    5.4 s for the fold (bit-identical output, full-join-verified), and at
    100 TB the explode multiplies the bytes entering the aggregate ~50x
    for no information gain.  Docs with fewer than 3 tokens have no
    shingle and are absent, exactly like the exploded form (the oracle's
    UNNEST+GROUP BY semantics).  The tokenize runs twice (filter + fold:
    CollapseProject inlines the alias) — measured cheaper than any barrier
    that would prevent it.
    """
    par = spark.sparkContext.defaultParallelism
    docs = (
        _docs(spark, sf_dir).select("doc_id", "text").repartition(par, "doc_id")
    )
    toks = docs.selectExpr("doc_id", tokens_spark_sql() + " AS _tk").filter(
        F.size("_tk") >= 3
    )
    # the fold as ONE SQL string (r11 §4 pattern): the Column form issued
    # ~100 py4j calls (~0.4 s per build, paid by d_minhash_lsh,
    # d_dedup_clusters and d_pipeline_e2e on every run); the parsed tree is
    # term-for-term the Column tree — parity pinned in test_pipeline_ops
    hs = (
        f"transform({shingles_spark_sql('_tk', 3)}, "
        f"s -> {HASH64_SPARK_SQL.format(x='s')})"
    )
    consts = "array(" + ", ".join(
        f"named_struct('a', {MINHASH_A[i]}, 'b', {MINHASH_B[i]})" for i in range(k)
    ) + ")"
    init = "array(" + ", ".join([f"CAST({MINHASH_P} AS BIGINT)"] * k) + ")"
    sig = (
        f"aggregate({hs}, {init}, (acc, h) -> "
        f"zip_with(acc, {consts}, (m, c) -> least(m, (c.a * h + c.b) % {MINHASH_P})))"
    )
    return toks.selectExpr("doc_id", sig + " AS sig")


def minhash_signatures_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate projection of :func:`minhash_signatures`: the signature array is
    serialized with ``to_json`` because the driver's pandas canonicalizer
    cannot sort list cells.  The engine API keeps the real array."""
    return minhash_signatures(spark, sf_dir).withColumn("sig", F.to_json("sig"))


def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding: docs agreeing on any band of the MinHash signature become
    candidate pairs; output with estimated Jaccard (signature agreement).

    Scale: candidates come from a groupBy on (band index, band hash) — the
    classic shingle->minhash->band->bucket-join pipeline; no all-pairs step.
    """
    return _band_candidates(spark, sf_dir).dropDuplicates(["doc_a", "doc_b"])


def _band_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-dedup LSH band candidates: one row per (band collision, pair),
    scored with the signature-agreement estimate.  ``minhash_lsh_pairs``
    dedups this to the pair set; ``dedup_clusters`` filters it by threshold
    BEFORE its dedup (``est_jaccard`` is deterministic per pair, so filter
    and dedup commute — the filter just shrinks the dedup exchange)."""
    # the band bucket-join is a self-join on identical subplans: AQE's
    # shuffle-stage reuse computes the band exchange ONCE and feeds both
    # sides from the same shuffle files (measured at sf10: checkpointed
    # 13.3 s vs reuse 12.9 s on the old signature shape — the eager
    # localCheckpoint bought nothing and pinned ~70 MB/500k docs of
    # signature blocks in executor memory, a liability at corpus scale)
    sigs = minhash_signatures(spark, sf_dir)
    bands = _band_relation(sigs)
    a = bands.alias("a")
    b = bands.alias("b")
    # signature agreement is computed BEFORE the pair dedup (perf lesson 4,
    # BASELINE.md round 7: dropDuplicates is an exchange of its full input
    # row — shrink wide rows map-side first; the estimate is deterministic
    # per pair, so deduping after scoring yields the identical set)
    est = (
        F.size(
            F.filter(
                F.zip_with(F.col("a.sig"), F.col("b.sig"), lambda x, y: x == y),
                lambda eq: eq,
            )
        ).cast("double")
        / F.lit(float(MINHASH_K))
    )
    return a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.band_hash") == F.col("b.band_hash"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        round6(est).alias("est_jaccard"),
    )


def _band_relation(sigs: DataFrame) -> DataFrame:
    """(doc_id, sig, band, band_hash) — the LSH banding of a signature set."""
    r = MINHASH_K // LSH_BANDS
    return sigs.select(
        "doc_id",
        "sig",
        F.explode(F.sequence(F.lit(0), F.lit(LSH_BANDS - 1))).alias("band"),
    ).select(
        "doc_id",
        "sig",
        "band",
        F.md5(
            F.concat_ws(
                ",",
                F.transform(
                    F.slice("sig", F.col("band") * r + 1, r), lambda x: x.cast("string")
                ),
            )
        ).alias("band_hash"),
    )


def _est_jaccard(sig_a, sig_b) -> Column:
    return (
        F.size(
            F.filter(F.zip_with(sig_a, sig_b, lambda x, y: x == y), lambda eq: eq)
        ).cast("double")
        / F.lit(float(MINHASH_K))
    )


def minhash_lsh_pairs_incremental(
    spark: SparkSession, sf_dir: str, n_batches: int = 3
) -> DataFrame:
    """INCREMENTAL near-dup detection: documents arrive in batches, each
    batch probes a persisted LSH band index of everything seen so far, then
    appends its own bands — the production shape (a crawl never re-runs
    dedup over the full corpus per increment).

    Invariant under test (the dedup ConsistencySpec): the union of
    per-batch discoveries equals the one-shot :func:`minhash_lsh_pairs`
    run, row for row — verified against the SAME DuckDB oracle.  Every
    unordered pair is found exactly once, in the later member's batch
    (within-batch self-join covers same-batch pairs; the index probe covers
    pairs with earlier batches).

    Scale: the index is an append-only parquet relation keyed by
    (band, band_hash) — bucket it by band_hash in production and the probe
    is a co-located join; a batch's cost is O(batch x bucket occupancy),
    never O(corpus^2).
    """
    import shutil
    import tempfile

    index_root = tempfile.mkdtemp(prefix="kjs-lshidx-")
    index_dir = index_root + "/bands"
    sigs = minhash_signatures(spark, sf_dir).withColumn(
        "_batch", F.pmod(F.col("doc_id"), F.lit(n_batches))
    ).localCheckpoint(eager=True)
    results = []
    wrote_any = False
    try:
        for b in range(n_batches):
            batch = _band_relation(sigs.filter(F.col("_batch") == b).drop("_batch"))
            # batch row count rides the checkpoint job (observe) — the
            # r10 form paid a separate isEmpty job per batch
            obs = Observation()
            batch = batch.observe(obs, F.count(F.lit(1)).alias("n")).localCheckpoint(
                eager=True
            )
            if int(obs.get["n"]) == 0:
                # an empty increment writes nothing — an all-empty-so-far index
                # dir would otherwise fail schema inference on the probe read
                continue
            # within-batch pairs
            a, bb = batch.alias("a"), batch.alias("b")
            within = a.join(
                bb,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.band_hash") == F.col("b.band_hash"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            ).select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                F.col("a.sig").alias("sig_a"),
                F.col("b.sig").alias("sig_b"),
            )
            cands = within
            if wrote_any:
                idx = spark.read.parquet(index_dir)
                probe = batch.alias("n").join(
                    idx.alias("o"),
                    (F.col("n.band") == F.col("o.band"))
                    & (F.col("n.band_hash") == F.col("o.band_hash")),
                ).select(
                    F.least(F.col("n.doc_id"), F.col("o.doc_id")).alias("doc_a"),
                    F.greatest(F.col("n.doc_id"), F.col("o.doc_id")).alias("doc_b"),
                    F.when(F.col("n.doc_id") < F.col("o.doc_id"), F.col("n.sig"))
                    .otherwise(F.col("o.sig"))
                    .alias("sig_a"),
                    F.when(F.col("n.doc_id") < F.col("o.doc_id"), F.col("o.sig"))
                    .otherwise(F.col("n.sig"))
                    .alias("sig_b"),
                )
                cands = cands.unionByName(probe)
            found = cands.dropDuplicates(["doc_a", "doc_b"]).select(
                "doc_a", "doc_b", round6(_est_jaccard(F.col("sig_a"), F.col("sig_b"))).alias("est_jaccard")
            )
            results.append(found.localCheckpoint(eager=True))
            batch.write.mode("append").parquet(index_dir)
            wrote_any = True
    finally:
        # per-batch results are checkpointed, so nothing downstream reads
        # the index files — drop them even when a Spark action throws
        # mid-build (in production the index is the durable artifact; here
        # it is scratch per invocation)
        shutil.rmtree(index_root, ignore_errors=True)
    if not results:
        return spark.createDataFrame(
            [], "doc_a long, doc_b long, est_jaccard double"
        )
    out = results[0]
    for r in results[1:]:
        out = out.unionByName(r)
    return out


CLUSTER_THRESHOLD = 0.5  # LSH pairs admitted to the cluster graph


#: edge-count ceiling for the driver-local label-propagation mirror.  The
#: rationale is Spark's own broadcast-join one: a BOUNDED relation that a
#: whole iterative stage sequence would otherwise re-shuffle per round is
#: cheaper to move to the driver once.  262144 symmetricized-input edges
#: collect to ~4 MB (two longs each) — under the default 10 MB broadcast
#: threshold — while each saved ROUND is a full driver-sequenced
#: checkpoint job (the part of an iterative algorithm no cluster can
#: parallelize).  Above the cap the distributed loop is unchanged; the
#: cap only ever applies when a caller PROVES the edge count by riding an
#: ``observe`` on its edge checkpoint (n_edges), so no counting job is
#: ever added to the distributed path.
CC_LOCAL_MAX_EDGES = 262_144

#: broadcast-hint the driver-local mirror's label relation (r12): True in
#: production; a module flag so the A/B probe can reconstruct the un-hinted
#: shape in the same session
CC_BROADCAST_LOCAL_LABELS = True


def _cc_label_local(
    edges: DataFrame, max_iter: int
) -> tuple[DataFrame | None, int, bool]:
    """Driver-local mirror of :func:`_cc_label` for bounded edge sets:
    collects the (pre-symmetrization) edge relation and simulates the
    EXACT synchronous min-label trajectory — init is the first
    propagation round, each later round takes the min over neighbours'
    labels, convergence is the changed-count-zero test — so ``rounds``,
    ``converged`` (and therefore the raise-on-non-convergence contract)
    and the fixed-point labels are bit-identical to the distributed loop.
    The returned DataFrame carries the distributed plan's exact schema
    (derived from the same lazy expression, analysis only)."""
    sym = edges.select("s", "d").unionByName(
        edges.select(F.col("d").alias("s"), F.col("s").alias("d"))
    )
    # schema parity with the distributed output: build (don't run) the
    # same aggregate the distributed init uses and take its schema
    schema = (
        sym.groupBy(F.col("s").alias("node"))
        .agg(F.least(F.col("s"), F.min("d")).alias("label"))
        .schema
    )
    adj: dict = {}
    for r in edges.select("s", "d").collect():
        s, d = r[0], r[1]
        if s is None or d is None:
            # NULL endpoints have no Python ordering; the distributed
            # loop owns that (never-observed) shape
            return None, 0, False
        adj.setdefault(s, []).append(d)
        adj.setdefault(d, []).append(s)
    labels = {n: min(n, min(ns)) for n, ns in adj.items()}
    rounds, converged = 1, False
    for _ in range(max_iter - 1):
        rounds += 1
        changed = 0
        nbr_min = {
            n: min(labels[m] for m in ns) for n, ns in adj.items()
        }
        for n, nl in nbr_min.items():
            if nl < labels[n]:
                labels[n] = nl
                changed += 1
        if changed == 0:
            converged = True
            break
    spark = edges.sparkSession
    if len(labels) >= 4096:
        # Arrow path: one columnar batch instead of a Python-RDD row scan
        import pandas as pd

        pdf = pd.DataFrame(
            {
                "node": list(labels.keys()),
                "label": list(labels.values()),
            }
        )
        out = spark.createDataFrame(pdf, schema)
    else:
        out = spark.createDataFrame(list(labels.items()), schema)
    return out, rounds, converged


def _cc_label(edges: DataFrame, max_iter: int) -> tuple[DataFrame, int, bool]:
    """Min-label propagation over a SYMMETRIC edge relation (s, d): each
    round every node takes the min label among itself and its neighbors.
    O(component diameter) rounds — right for shallow near-dup clusters.
    Returns (labels(node, label), rounds, converged)."""
    # init IS the first propagation round (r11 optimization): the original
    # form checkpointed label=self and spent a full round reaching
    # min(self, neighbors) — the same shuffle the distinct paid anyway.
    # Every node appears as `s` in the symmetric relation, so the groupBy
    # covers the node set exactly like the distinct did, and the
    # trajectory from here on is identical (labels_k == original
    # labels_{k+1}).
    # init stays LAZY: its lineage is one tiny aggregate over the (already
    # checkpointed) edge relation, so round 1's checkpoint absorbs it —
    # an eager init checkpoint was one more driver-sequenced job per call
    # for nothing (the aggregate recomputes in round 1's two consumers for
    # ~ms; job overhead is the bigger cost at every scale)
    labels = edges.groupBy(F.col("s").alias("node")).agg(
        F.least(F.col("s"), F.min("d")).alias("label")
    )
    rounds, converged = 1, False
    for _ in range(max_iter - 1):
        rounds += 1
        nbr_min = (
            edges.join(
                labels.select(F.col("node").alias("s"), F.col("label").alias("_sl")),
                "s",
            )
            .groupBy(F.col("d").alias("node"))
            .agg(F.min("_sl").alias("_nl"))
        )
        # the changed count rides the CHECKPOINT JOB itself (r11: an
        # ``observe`` aggregate is collected while the checkpoint
        # materializes), so each round is ONE driver-sequenced job — the
        # r10 form paid a second filter+count job per round, and the r9
        # form a join of new-vs-old labels on top of that
        obs = Observation()
        new = (
            labels.join(nbr_min, "node", "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce("_nl", F.col("label"))).alias(
                    "label"
                ),
                (F.coalesce("_nl", F.col("label")) < F.col("label")).alias("_ch"),
            )
            .observe(
                obs,
                F.coalesce(F.sum(F.col("_ch").cast("long")), F.lit(0)).alias("n"),
            )
            .localCheckpoint(eager=True)
        )
        changed = int(obs.get["n"])
        labels = new.drop("_ch")
        if changed == 0:
            converged = True
            break
    return labels, rounds, converged


def _checkpoint_with_checksum(edges_c: DataFrame) -> tuple[DataFrame, tuple[int, int]]:
    """Eagerly localCheckpoint a canonical edge set and return it together
    with its (count, order-independent hash-sum) convergence checksum —
    collected by an ``observe`` aggregate DURING the checkpoint job (r11:
    one driver-sequenced job instead of checkpoint + a separate collect;
    the probe itself has been O(1)-driver since r8 — a full set-equality
    check would cost an extra join per round)."""
    obs = Observation()
    out = edges_c.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")), F.lit(0)
        ).alias("h"),
    ).localCheckpoint(eager=True)
    m = obs.get
    return out, (int(m["n"]), int(m["h"]))


def _cc_star(edges: DataFrame, max_iter: int) -> tuple[DataFrame, int, bool]:
    """Alternating large-star/small-star contraction (Kiveris et al.,
    "Connected Components in MapReduce and Beyond") over a symmetric edge
    relation (s, d): converges in O(log^2 n) rounds on ANY graph — the
    adversarial-chain-safe alternative to min-label propagation (a crawl
    mirror chain of depth 10^4 is ~25 rounds here vs 10^4 there).

    Each round is two grouped joins keyed by node id (same shuffle shape
    as one label round); edges are kept canonical (a > b) and
    ``localCheckpoint`` cuts lineage per round.  Convergence is detected by
    an order-independent (count, hash-sum) checksum staying fixed across a
    full large+small cycle — collected during the checkpoint job itself
    (``observe``), so the probe costs zero extra jobs instead of a
    set-difference join — and then CONFIRMED with one exact set-equality
    join on the round the checksum first repeats, so an xxhash64-sum
    collision cannot silently return partial labels (the 'never return
    partial labels' contract is certain, not probabilistic; the exact
    check runs at most once per call on equal-count inputs).  Returns
    (labels(node, label), rounds, converged).

    The two-eager-checkpoints-per-round shape is MEASURED-BEST (r12, probe
    script last present at commit 39ec4b0): fusing the large-star checkpoint
    away — one checkpoint job per round, the small-star plan containing the
    whole large+small composition — was 1.03x SLOWER on a 1M-node chain (21
    rounds, the per-job-overhead-maximal shape) and 1.01x on the sf10 LSH
    near-dup graph (75k edges, 2 rounds): ``ls`` feeds two consumers, so the
    fused plan recomputes the large-star subtree and buys back exactly the
    saved job.  Labels exceptAll-equal both ways in both A/Bs.
    """
    # canonical undirected form: (a, b) with a > b
    edges_c, prev = _checkpoint_with_checksum(
        edges.filter(F.col("s") != F.col("d")).select(
            F.greatest("s", "d").alias("a"), F.least("s", "d").alias("b")
        ).distinct()
    )
    rounds, converged = 0, False
    for _ in range(max_iter):
        rounds += 1
        # large-star: every node u connects its LARGER neighbors to the min
        # of its neighborhood (incl. itself)
        sym = edges_c.select(F.col("a").alias("s"), F.col("b").alias("d")).unionByName(
            edges_c.select(F.col("b").alias("s"), F.col("a").alias("d"))
        )
        mins = sym.groupBy("s").agg(F.min("d").alias("_mn"))
        m = F.least(F.col("s"), F.col("_mn"))
        ls = (
            sym.join(mins, "s")
            .filter(F.col("d") > F.col("s"))
            .select(F.col("d").alias("a"), m.alias("b"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        # small-star: every node a connects its SMALLER neighbors (and
        # itself) to the min of those — path-halving toward the root
        smins = ls.groupBy("a").agg(F.min("b").alias("_m"))
        ss, cur = _checkpoint_with_checksum(
            ls.join(smins, "a")
            .select(F.col("b").alias("a"), F.col("_m").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .unionByName(smins.select("a", F.col("_m").alias("b")))
            .distinct()
        )
        prev_edges, edges_c = edges_c, ss
        if cur == prev:
            # the cheap probe matched — confirm the fixed point exactly:
            # counts already agree (part of the checksum) and both sides
            # are distinct, so one empty set-difference proves equality
            if prev_edges.exceptAll(edges_c).isEmpty():
                converged = True
                break
        prev = cur
    # at the fixed point the edge set is a union of stars rooted at each
    # component's min node: label = root for spokes, self for roots
    labels = (
        edges_c.select(F.col("a").alias("node"), F.col("b").alias("label"))
        .unionByName(edges_c.select(F.col("b").alias("node"), F.col("b").alias("label")))
        .groupBy("node")
        .agg(F.min("label").alias("label"))
    )
    return labels, rounds, converged


def connected_components(
    edges: DataFrame,
    algorithm: str = "label",
    max_iter: int = 20,
    n_edges: int | None = None,
) -> DataFrame:
    """Connected components over an edge DataFrame with columns (s, d)
    (direction-insensitive; self-loops ignored): returns (node, label)
    where label is the component's min node id.  ``algorithm='label'`` is
    min-label propagation (O(diameter) rounds, one shuffle per round —
    best for shallow graphs); ``'star'`` is alternating large-star/
    small-star (O(log^2 n) rounds on ANY graph — use for adversarial
    chains).  Raises if ``max_iter`` rounds pass without convergence —
    partial labels are WRONG labels and must never be returned silently.
    """
    sym = edges.select("s", "d").unionByName(
        edges.select(F.col("d").alias("s"), F.col("s").alias("d"))
    )
    if algorithm == "label":
        labels = None
        if (
            n_edges is not None
            and n_edges <= CC_LOCAL_MAX_EDGES
            and isinstance(
                edges.schema["s"].dataType, (T.LongType, T.IntegerType)
            )
            # BOTH endpoints must be integral: a mixed-type edge frame
            # would reach Python's min() in _cc_label_local and raise
            # TypeError instead of falling back to the distributed loop
            # (r11 advice)
            and isinstance(
                edges.schema["d"].dataType, (T.LongType, T.IntegerType)
            )
        ):
            # the caller PROVED the edge relation is bounded (count rode
            # its checkpoint's observe): run the exact driver-local
            # mirror — same trajectory, same fixed point, same
            # non-convergence raise, zero per-round driver jobs
            labels, rounds, converged = _cc_label_local(edges, max_iter)
            if labels is not None and CC_BROADCAST_LOCAL_LABELS:
                # the mirror ran ⟹ the label relation is ≤ 2 x 262,144
                # rows of two integral ids (~8 MB) — broadcastable by the
                # SAME bounded-collect rationale that admitted the mirror.
                # Without the hint the local relation has no size stats
                # (LogicalRDD defaults to "huge"), so consumers plan a
                # SortMergeJoin that shuffles + sorts the FULL document
                # corpus just to attach these labels; AQE only repairs it
                # after the corpus-side shuffle is already written.  Above
                # the cap the distributed loop's output stays un-hinted.
                labels = F.broadcast(labels)
        if labels is None:
            labels, rounds, converged = _cc_label(sym, max_iter)
    elif algorithm == "star":
        labels, rounds, converged = _cc_star(sym, max_iter)
    else:
        raise ValueError(f"unknown algorithm {algorithm!r} (label|star)")
    if not converged:
        raise RuntimeError(
            f"connected_components({algorithm!r}) did not converge in "
            f"{max_iter} rounds — raise max_iter (or use algorithm='star' "
            f"for deep-chain graphs)"
        )
    # contract: EVERY endpoint gets a row, including nodes touched only by
    # self-loops — star contraction drops self-loop edges up front and
    # would otherwise silently omit such nodes; a hypothesis counterexample
    # [(0,2),(1,1)] pinned this.  Label propagation needs NO closure join:
    # its init groups by ``s`` over the symmetric relation, where every
    # endpoint (self-loops included) appears as ``s``, so ``labels``
    # already carries exactly one non-null row per endpoint — the former
    # nodes-distinct + left-join was a full extra exchange, two extra
    # scans of the checkpointed edges and a SortMergeJoin per call for an
    # identity mapping (r11 optimization; the engine-parity property tests
    # pin label == star on random graphs with self-loops).
    if algorithm == "label":
        return labels
    nodes = sym.select(F.col("s").alias("node")).distinct()
    return nodes.join(labels, "node", "left").select(
        "node", F.coalesce("label", F.col("node")).alias("label")
    )


def dedup_clusters(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = CLUSTER_THRESHOLD,
    max_iter: int = 20,
    algorithm: str = "label",
) -> DataFrame:
    """Near-dup CLUSTERS: connected components over the MinHash-LSH pair
    graph, the step production dedup needs after candidate generation —
    pairs (a,b),(b,c) must collapse to ONE representative, which pairwise
    keep-lists get wrong.

    ``algorithm`` picks the component engine (see
    :func:`connected_components`): ``'label'`` for the shallow clusters
    near-dup graphs actually have, ``'star'`` when duplicate CHAINS (crawl
    mirrors) make component diameter adversarial.  Both produce identical
    labels (property-tested on random graphs) and both raise rather than
    return partial labels on non-convergence.  The driver only ever sees a
    per-round convergence probe (a count / checksum), never the data.

    Output: every document with its ``cluster_id`` (min doc_id of its
    component; singletons map to themselves) and the canonical
    ``keep`` decision.
    """
    labels = _cluster_labels(spark, sf_dir, threshold, max_iter, algorithm)
    return (
        _docs(spark, sf_dir)
        .select("doc_id")
        .join(labels.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("label", F.col("doc_id")).alias("cluster_id"),
        )
        .withColumn("keep", F.col("cluster_id") == F.col("doc_id"))
    )


def _cluster_labels(
    spark: SparkSession,
    sf_dir: str,
    threshold: float,
    max_iter: int,
    algorithm: str,
) -> DataFrame:
    """(node, label) over the thresholded LSH pair graph — the component
    relation :func:`dedup_clusters` and the fused pipeline projection
    attach to the document set (nodes absent here are singletons)."""
    # threshold BELOW the pair dedup (r11): est_jaccard is deterministic
    # per pair, so filtering the pre-dedup band candidates first is
    # set-identical to filtering minhash_lsh_pairs after — but the dedup
    # exchange now carries only above-threshold pairs, projected to the
    # bare 16-byte edge (the est column is dropped map-side too).  At
    # corpus scale the sub-threshold candidates LSH surfaces are the
    # majority of the band collisions; here they no longer shuffle twice.
    obs = Observation()
    edges = (
        _band_candidates(spark, sf_dir)
        .filter(F.col("est_jaccard") >= F.lit(threshold))
        .select(F.col("doc_a").alias("s"), F.col("doc_b").alias("d"))
        .dropDuplicates(["s", "d"])
        .observe(obs, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    # the edge count rides the checkpoint job (observe, zero extra jobs)
    # and unlocks the driver-local CC mirror for bounded graphs
    return connected_components(
        edges,
        algorithm=algorithm,
        max_iter=max_iter,
        n_edges=int(obs.get["n"]),
    )


# ---------------------------------------------------------------------------
# benchmark decontamination
# ---------------------------------------------------------------------------

#: decontamination shingle width: 5-gram overlap against the benchmark set
#: (13-gram is the published norm for web-scale corpora; the synthetic docs
#: are ~60 tokens, so 5 keeps the oracle-visible overlap non-trivial)
DECON_NGRAM = 5


def decontaminate(
    spark: SparkSession, sf_dir: str, benchmark: DataFrame | None = None
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    ``DECON_NGRAM``-gram with the benchmark/eval set.

    ``benchmark`` is an INDEPENDENT DataFrame with (doc_id, text) — a real
    eval suite plugs in here without touching the corpus scan.  The default
    (used by the gate oracle) is the deterministic ``doc_id % 97 == 0``
    corpus slice standing in for an eval suite; both paths run the same
    plan.  ``is_benchmark`` marks corpus documents that are themselves
    members of the benchmark (by doc_id).

    Plan (the 100 TB shape): the benchmark shingle set is tiny (an eval
    suite, not the corpus) — distinct it and BROADCAST it; the corpus side
    is a map-only shingle explode + broadcast semi-ish join + per-doc
    count.  The corpus never shuffles on shingle, which is what makes this
    viable where the full self-join of near-dup detection is not needed.
    """
    overlap, bench_ids = _decon_parts(spark, sf_dir, benchmark)
    return (
        _docs(spark, sf_dir)
        .select("doc_id")
        .join(overlap, "doc_id", "left")
        .join(F.broadcast(bench_ids), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"),
            F.coalesce("_isb", F.lit(False)).alias("is_benchmark"),
            (
                F.coalesce("n_overlap", F.lit(0)) > 0
            ).alias("contaminated"),
        )
    )


def _decon_parts(
    spark: SparkSession, sf_dir: str, benchmark: DataFrame | None
) -> tuple[DataFrame, DataFrame]:
    """(overlap(doc_id, n_overlap), bench_ids(doc_id, _isb)) — the two
    relations behind :func:`decontaminate`, shared with the fused pipeline
    projection so both attach the identical plan."""
    docs = _docs(spark, sf_dir)
    if benchmark is None:
        benchmark = docs.filter(F.col("doc_id") % 97 == 0).select("doc_id", "text")
    # tokens hoisted (one split per row, not ~10 — see _dup_gram_hits);
    # expressions as SQL strings (r11 §4 pattern, ~0.4 s of py4j churn per
    # build in the two Column shingle pipelines), same parsed tree
    bench_sh = (
        benchmark.selectExpr(tokens_spark_sql() + " AS _tk")
        .selectExpr(
            f"explode({shingles_spark_sql('_tk', DECON_NGRAM)}) AS shingle"
        )
        .distinct()
    )
    bench_ids = benchmark.select("doc_id").distinct().withColumn(
        "_isb", F.lit(True)
    )
    # the shingle expression is CPU-dense per row: spread it before it runs
    # (a single small parquet file = one partition = one core otherwise)
    par = spark.sparkContext.defaultParallelism
    sh = (
        docs
        .select("doc_id", "text")
        .repartition(par, "doc_id")
        .selectExpr("doc_id", tokens_spark_sql() + " AS _tk")
        .selectExpr(
            "doc_id",
            f"explode({shingles_spark_sql('_tk', DECON_NGRAM)}) AS shingle",
        )
    )
    overlap = (
        sh.join(F.broadcast(bench_sh), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    return overlap, bench_ids


DEDUP_EXTRA_ORACLES: dict[str, str] = {
    "d_decontaminate": f"""
        WITH __toks AS (SELECT doc_id, {TOKS_SQL} AS toks FROM documents),
        sh AS (
          SELECT doc_id, unnest({shingles_sql(n=DECON_NGRAM)}) AS shingle
          FROM __toks
        ),
        bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0),
        ov AS (
          SELECT doc_id, COUNT(*) AS n_overlap
          FROM sh JOIN bench USING (shingle)
          GROUP BY doc_id
        )
        SELECT d.doc_id,
               COALESCE(ov.n_overlap, 0) AS n_overlap,
               (d.doc_id % 97 = 0) AS is_benchmark,
               (COALESCE(ov.n_overlap, 0) > 0) AS contaminated
        FROM documents d LEFT JOIN ov ON d.doc_id = ov.doc_id
    """,
}


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


#: Packed-lane SimHash accumulator layout: 30 longs × 2 counters × 32 bits.
#: Per-bit popcounts live in disjoint 32-bit lanes of a long, so ONE sum
#: aggregates two bit-counters at once.  s_b = 2*c_b - n, so "weighted sum
#: positive" ⟺ ``2*c_b > n`` — no ±1 arithmetic needed at all.
#:
#: Why 32-bit lanes (not 16): the per-pack SUM must also stay under 2^63
#: in Spark's ANSI mode (overflow THROWS, it does not wrap).  Each row
#: contributes ≤ 2^32 + 1 to a pack, so the sum is safe for any document
#: under ~2^30 token occurrences — no realistic document is excluded,
#: where a 16-bit layout had to drop docs above 2^15 to keep the top lane's
#: sum from overflowing (a silent dedup-recall hole at corpus scale).
_SIMHASH_LANES = 2
_SIMHASH_LANE_BITS = 32
_SIMHASH_PACKS = SIMHASH_BITS // _SIMHASH_LANES  # 30
#: Per-doc token-occurrence cap that keeps the packed SUM under 2^63 in
#: ANSI mode.  ~10^9 — beyond any document; the in-plan guard makes the
#: packing provably safe rather than probabilistic.
SIMHASH_MAX_TOKENS = (1 << 30) - 1


def simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, simhash) — 60-bit SimHash over token hashes weighted by
    occurrence count; bit b is set when the weighted sum of (+1/-1) per
    token is positive (⟺ more than half the token occurrences have bit b
    set: s_b = 2*c_b − n).

    Plan (the 100 TB shape): scan → token explode → md5 (all codegen) →
    hash-aggregate per doc_id with 15 PACKED bit-count sums (4 counters per
    long, disjoint 16-bit lanes — see ``_SIMHASH_LANES``) → ONE exchange of
    ~17 longs per document → final aggregate → signature projection.  The
    partial aggregate runs map-side, so the only shuffle carries fixed-width
    counters, never tokens — and there is no per-bit row explosion (the old
    plan generated 60 bit-rows per (doc, token) and shuffled twice; pinned
    gone by ``test_plans.py::test_simhash_signatures_plan``).  No explicit
    repartition: input splits provide map-side parallelism at real scale,
    and shuffling raw text just to spread a tiny local file would be the
    wrong trade at 100 TB.

    Documents with more than ``SIMHASH_MAX_TOKENS`` (~10^9) token
    occurrences are excluded in-plan (sum-overflow guard — ANSI mode
    throws on long overflow rather than wrapping); no realistic document
    approaches it, so the oracle sees every doc.  Zero-token docs produce
    no explode rows, matching the oracle's UNNEST semantics.

    Round 9: the tokenizer runs ONCE (aliased column feeding both the
    size guard and the explode) — the old shape spelled ``tokens_col()``
    twice and Catalyst evaluated it twice (sf10 noop-forced: 6.3 s -> 5.3
    s).  The MinHash-style shuffle-free array fold was MEASURED AND
    REJECTED here: folding 15 packed lanes per token rebuilds a 16-long
    array per element in interpreted HOF code, 7.2 s for the fold alone vs
    5.3 s for this whole plan — the codegen'd partial hash-aggregate wins
    when the per-element state is this wide (the MinHash fold wins because
    its explode carried ~50x redundant doc_id/shingle bytes; here the
    exchange already carries only fixed-width counters)."""
    # The pack and signature expressions are generated as SQL STRINGS and
    # handed to the parser in a handful of F.expr calls (r11 optimization):
    # the Column-by-Column form issued ~600 py4j round-trips building the
    # same tree — 3.8 s of pure driver-side CONSTRUCTION per invocation at
    # sf0.1 (measured build/plan/exec split, OPTIMIZATION_r11.md §4) that
    # the bench clock pays on every run and every host.  The parsed
    # arithmetic is term-for-term identical (shifts, masks, 2*c > n), so
    # the analyzed plan and the signature bits are unchanged —
    # exceptAll-pinned against the Column form in test_pipeline_ops.
    # r12 negative result: spreading the monolithic driver corpus
    # (spread_unsplittable, the d_pii_scrub/pipeline fix) measured a WASH
    # here (interleaved 1.04x) — the packed partial aggregate collapses
    # each doc to ~17 longs map-side, so the one-core tokenize+explode is
    # already hidden behind the aggregate's own cost and the added
    # exchange of raw text buys nothing.  Left on the scan partitioning.
    docs = _docs(spark, sf_dir).select("doc_id", tokens_col().alias("_tk")).filter(
        F.size("_tk") <= SIMHASH_MAX_TOKENS
    )
    toks = docs.select("doc_id", F.explode("_tk").alias("token"))
    t = toks.select("doc_id", hash60(F.col("token")).alias("h"))
    packs = []
    for k in range(_SIMHASH_PACKS):
        terms = []
        for j in range(_SIMHASH_LANES):
            b = _SIMHASH_LANES * k + j
            terms.append(f"shiftleft(shiftright(h, {b}) & CAST(1 AS BIGINT), {_SIMHASH_LANE_BITS * j})")
        packs.append(F.expr(f"sum({' + '.join(terms)})").alias(f"p{k}"))
    sums = t.groupBy("doc_id").agg(F.count("*").alias("n"), *packs)
    lane_mask = (1 << _SIMHASH_LANE_BITS) - 1
    sig_terms = []
    for k in range(_SIMHASH_PACKS):
        for j in range(_SIMHASH_LANES):
            b = _SIMHASH_LANES * k + j
            c = f"(shiftright(p{k}, {_SIMHASH_LANE_BITS * j}) & {lane_mask})"
            sig_terms.append(
                f"CASE WHEN {c} * 2 > n THEN CAST({1 << b} AS BIGINT) "
                f"ELSE CAST(0 AS BIGINT) END"
            )
    sig = F.expr(" + ".join(sig_terms))
    return sums.select("doc_id", sig.alias("simhash"))


SIMHASH_PREFIX_BITS = 12
#: full-width Hamming cap shared by both simhash candidate generators and
#: the multiprobe oracle — keep them in lockstep
SIMHASH_MAX_HAMMING = 20


def simhash_pairs(
    spark: SparkSession, sf_dir: str, max_hamming: int = SIMHASH_MAX_HAMMING
) -> DataFrame:
    """Near-dup candidates: pairs within the same ``SIMHASH_PREFIX_BITS``
    SimHash prefix bucket with Hamming distance <= max_hamming."""
    sigs = simhash_signatures(spark, sf_dir).withColumn(
        "bucket", F.shiftright("simhash", SIMHASH_BITS - SIMHASH_PREFIX_BITS)
    )
    a = sigs.alias("a")
    b = sigs.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )




def simhash_multiprobe_pairs(
    spark: SparkSession, sf_dir: str, max_hamming: int = SIMHASH_MAX_HAMMING
) -> DataFrame:
    """Multi-probe SimHash candidates: each doc probes its own
    ``SIMHASH_PREFIX_BITS``-bit prefix bucket PLUS every Hamming-1 neighbor
    bucket (one prefix-bit flip) — the recall fix for near-dups whose
    signatures differ inside the prefix, which single-probe bucketing can
    never pair (same trade the embedding ANN makes in
    ``ann_multiprobe_topk``).

    Scale: one side explodes 13 probe rows; the join stays a bucket
    equi-join (shuffle keyed by bucket), never all-pairs.  Each qualifying
    pair is produced exactly once: the probing side's probe set contains
    the other side's bucket exactly once when their prefix distance is
    0 or 1.
    """
    sigs = simhash_signatures(spark, sf_dir).withColumn(
        "bucket", F.shiftright("simhash", SIMHASH_BITS - SIMHASH_PREFIX_BITS)
    )
    probes = sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                F.col("bucket"),
                *[
                    F.col("bucket").bitwiseXOR(F.lit(1 << i))
                    for i in range(SIMHASH_PREFIX_BITS)
                ],
            )
        ).alias("probe_bucket"),
    )
    b = sigs.alias("b")
    a = probes.alias("a")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.probe_bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

_SHINGLES_CTE = f"""
    __toks AS (SELECT doc_id, {TOKS_SQL} AS toks FROM documents),
    __sh AS (
        SELECT doc_id, unnest({shingles_sql()}) AS shingle FROM __toks
    )
"""

DEDUP_ORACLES: dict[str, str] = {
    "d_dedup_exact": """
        WITH f AS (
          SELECT doc_id,
                 md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
          FROM documents
        ), c AS (
          SELECT fp, MIN(doc_id) AS canonical_id, COUNT(*) AS group_size
          FROM f GROUP BY fp
        )
        SELECT f.doc_id, c.canonical_id, c.group_size
        FROM f JOIN c USING (fp)
    """,
    "d_ngram_jaccard": f"""
        WITH {_SHINGLES_CTE},
        __rare AS (
          SELECT shingle FROM __sh GROUP BY shingle
          HAVING COUNT(*) <= {SHINGLE_DOC_FREQ_CAP}
        ),
        __capped AS (SELECT s.* FROM __sh s JOIN __rare USING (shingle)),
        sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM __capped GROUP BY doc_id),
        common AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
          FROM __capped a JOIN __capped b
            ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        )
        SELECT doc_a, doc_b, n_common,
               {round6_sql("CAST(n_common AS DOUBLE)"
                           " / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE)")} AS jaccard
        FROM common
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE CAST(n_common AS DOUBLE)
              / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) >= {JACCARD_THRESHOLD}
    """,
    "d_minhash_sigs": f"""
        WITH {_SHINGLES_CTE},
        __bh AS (
          SELECT doc_id, {HASH64_SQL.format(x="shingle")} AS bh FROM __sh
        ),
        ex AS (
          SELECT doc_id, i,
                 ([{", ".join(map(str, MINHASH_A))}][i + 1] * bh
                  + [{", ".join(map(str, MINHASH_B))}][i + 1]) % {MINHASH_P} AS h
          FROM __bh, UNNEST(range({MINHASH_K})) AS _(i)
        ),
        mh AS (SELECT doc_id, i, MIN(h) AS mh FROM ex GROUP BY doc_id, i)
        SELECT doc_id, to_json(list(mh ORDER BY i)) AS sig
        FROM mh GROUP BY doc_id
    """,
    "d_minhash_lsh": f"""
        WITH {_SHINGLES_CTE},
        __bh AS (
          SELECT doc_id, {HASH64_SQL.format(x="shingle")} AS bh FROM __sh
        ),
        ex AS (
          SELECT doc_id, i,
                 ([{", ".join(map(str, MINHASH_A))}][i + 1] * bh
                  + [{", ".join(map(str, MINHASH_B))}][i + 1]) % {MINHASH_P} AS h
          FROM __bh, UNNEST(range({MINHASH_K})) AS _(i)
        ),
        mh AS (SELECT doc_id, i, MIN(h) AS mh FROM ex GROUP BY doc_id, i),
        sig AS (SELECT doc_id, list(mh ORDER BY i) AS sig FROM mh GROUP BY doc_id),
        bands AS (
          SELECT doc_id, sig, band,
                 md5(array_to_string(list_transform(
                     sig[band * {MINHASH_K // LSH_BANDS} + 1 : band * {MINHASH_K // LSH_BANDS} + {MINHASH_K // LSH_BANDS}],
                     x -> CAST(x AS VARCHAR)), ',')) AS band_hash
          FROM sig, UNNEST(range({LSH_BANDS})) AS _(band)
        ),
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                          a.sig AS sig_a, b.sig AS sig_b
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.band_hash = b.band_hash
               AND a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b,
               {round6_sql(f"CAST(len(list_filter(range(1, {MINHASH_K} + 1), "
                           f"i -> sig_a[i] = sig_b[i])) AS DOUBLE) / {MINHASH_K}.0")} AS est_jaccard
        FROM cand
    """,
    "d_simhash_sigs": f"""
        WITH __toks AS (SELECT doc_id, {TOKS_SQL} AS toks FROM documents),
        tok AS (SELECT doc_id, unnest(toks) AS token FROM __toks),
        tc AS (SELECT doc_id, token, COUNT(*) AS cnt FROM tok GROUP BY doc_id, token),
        th AS (SELECT doc_id, cnt, {HASH60_SQL.format(x="token")} AS h FROM tc),
        bits AS (
          SELECT doc_id, b,
                 CASE WHEN (h >> b) & 1 = 1 THEN cnt ELSE -cnt END AS w
          FROM th, UNNEST(range({SIMHASH_BITS})) AS _(b)
        ),
        pb AS (SELECT doc_id, b, SUM(w) AS s FROM bits GROUP BY doc_id, b)
        SELECT doc_id,
               CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS simhash
        FROM pb GROUP BY doc_id
    """,
}

# the curation oracle composes quality + lang-id + exact-dedup (built here
# because text.py's d_curation imports this module's dedup_exact at call
# time — module-level cross-import would cycle)
from kafka_journal_spark.functions.text import TEXT_ORACLES as _TEXT_ORACLES  # noqa: E402

DEDUP_ORACLES["d_curation"] = f"""
    WITH __q AS ({_TEXT_ORACLES["d_quality"]}),
         __l AS ({_TEXT_ORACLES["d_lang_id"]}),
         __c AS ({DEDUP_ORACLES["d_dedup_exact"]})
    SELECT __q.doc_id, __q.quality_score, __l.is_match,
           (__c.doc_id = __c.canonical_id) AS is_canonical,
           (__q.quality_score >= 0.5 AND __l.is_match
            AND __c.doc_id = __c.canonical_id) AS keep
    FROM __q
    JOIN __l ON __q.doc_id = __l.doc_id
    JOIN __c ON __q.doc_id = __c.doc_id
"""

# the cluster oracle computes the SAME components with a recursive CTE
# (transitive closure over the thresholded LSH pair graph) — an independent
# algorithm from the iterative label propagation under test
DEDUP_ORACLES["d_dedup_clusters"] = f"""
    WITH RECURSIVE __pairs AS (
      SELECT doc_a, doc_b FROM ({DEDUP_ORACLES["d_minhash_lsh"]})
      WHERE est_jaccard >= {CLUSTER_THRESHOLD}
    ),
    edges AS (
      SELECT doc_a AS s, doc_b AS d FROM __pairs
      UNION ALL
      SELECT doc_b AS s, doc_a AS d FROM __pairs
    ),
    reach(s, d) AS (
      SELECT s, d FROM edges
      UNION
      SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
    ),
    comp AS (SELECT s, LEAST(s, MIN(d)) AS cid FROM reach GROUP BY s)
    SELECT doc.doc_id,
           COALESCE(c.cid, doc.doc_id) AS cluster_id,
           (COALESCE(c.cid, doc.doc_id) = doc.doc_id) AS keep
    FROM documents doc LEFT JOIN comp c ON doc.doc_id = c.s
"""

def pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship end-to-end curation decision: one row per document with
    every pipeline verdict and the final ``keep`` — the composition a real
    pretraining data run executes (quality gate × language filter ×
    near-dup cluster representative × benchmark decontamination ×
    deterministic source mixing).

    Plan (r11 fused form): the three map-only verdicts (quality, lang,
    sampling) plus the span gate's token count are ONE projection over ONE
    docs scan — they were separate relations inner-joined on doc_id, which
    planned as a SortMergeJoin chain (two exchanges + a sort per stage)
    purely to re-associate columns that never left the row.  The
    expressions are the same builders the standalone operators use
    (``_quality_raw_cols``/``_quality_score_col``, ``_lang_hit_cols``/
    ``_lang_pred_col``, ``_sample_bucket_rate_cols``), so values are
    term-for-term identical, and every standalone join was 1:1 and total
    (each stage emits exactly one row per document), so the fused row set
    is identical too.  The genuinely relational stages keep their joins:
    cluster labels (iterative), decon overlap (aggregate), span removal
    (aggregate) attach by doc_id LEFT joins exactly as their standalone
    operators attach to the document set.  At 100 TB the fusion removes
    two full-corpus exchanges and three extra corpus scans from the
    composition.
    """
    from kafka_journal_spark.functions.numeric import round6_sql_spark
    from kafka_journal_spark.functions.text import (
        _lang_hit_sql,
        _lang_pred_sql,
        _quality_raw_sql,
        _quality_score_sql,
        _sample_bucket_rate_sql,
    )

    # SQL-string build over a HOISTED token column (r11 §4): the Column
    # form cost ~0.45 s of py4j churn per build AND inlined the tokenize
    # ~11x per row (score + 5 lang profiles + token count, each a full
    # split+filter re-evaluation — the same mechanism the span family
    # fixed); values are term-for-term identical (same shared SQL twins
    # the standalone operators build from)
    raw = _quality_raw_sql()
    hits = _lang_hit_sql("_tk")
    bucket, rate = _sample_bucket_rate_sql()
    # the five language hit counts are hoisted into their own projection
    # (like d_lang_id's _h_ columns): _lang_pred_sql inlines every hit
    # expression into each CASE branch AND the per-branch greatest(), so
    # building it over the raw size(filter(_tk, ...)) expressions would
    # re-evaluate the filters up to ~30x per row (interpreted HOFs get no
    # codegen subexpression elimination) — r11 advice.  Values are
    # term-for-term identical: the CASE tree is the same, its inputs are
    # the same expressions evaluated once behind an attribute.
    hoisted = {lang: f"_h_{lang}" for lang in sorted(hits)}
    # r12: the fused base and the whole BroadcastHashJoin chain above it
    # ride the docs scan's partitioning — with a monolithic row group that
    # is ONE task doing every tokenize/score/probe.  Spread exactly when
    # the layout cannot split (guide §2.5; no-op at real scale).
    from kafka_journal_spark.sources.tables import spread_unsplittable

    base = spread_unsplittable(
        spark,
        _docs(spark, sf_dir),
        os.path.join(sf_dir, "documents.parquet"),
        min_rows=2048,
    ).selectExpr(
        "doc_id", "lang", "source", "text", tokens_spark_sql() + " AS _tk"
    ).selectExpr(
        "doc_id",
        "lang",
        "source",
        "text",
        "_tk",
        *[f"({hits[lang]}) AS {hoisted[lang]}" for lang in sorted(hits)],
    ).selectExpr(
        "doc_id",
        f"({round6_sql_spark(_quality_score_sql(raw))} >= 0.5) AS quality_ok",
        f"(({_lang_pred_sql(hoisted)}) = lang) AS lang_ok",
        f"(({bucket}) < ({rate})) AS _sampled",
        "coalesce(size(_tk), 0) AS _nt",
    )
    labels = _cluster_labels(
        spark, sf_dir, CLUSTER_THRESHOLD, 20, "label"
    ).withColumnRenamed("node", "doc_id")
    overlap, bench_ids = _decon_parts(spark, sf_dir, None)
    # span-boilerplate gate (round 6): drop documents more than half
    # covered by corpus-duplicated passages — the substring-level verdict
    # doc-level near-dup cannot see.  Strict-policy removed-token count ==
    # sum of maximal span widths, so the gate derives from
    # duplicate_spans + one token-count column and skips the full text
    # rebuild (anti-join + collect_list + md5) remove_duplicate_spans pays.
    span_rm = (
        duplicate_spans(spark, sf_dir)
        .groupBy("doc_id")
        .agg(F.sum("span_tokens").alias("_rm"))
    )
    out = (
        base.join(labels, "doc_id", "left")
        .join(overlap, "doc_id", "left")
        .join(F.broadcast(bench_ids), "doc_id", "left")
        .join(span_rm, "doc_id", "left")
        .select(
            "doc_id",
            "quality_ok",
            "lang_ok",
            (F.coalesce("label", F.col("doc_id")) == F.col("doc_id")).alias(
                "canonical"
            ),
            (
                ~(F.coalesce("n_overlap", F.lit(0)) > 0)
                & ~F.coalesce("_isb", F.lit(False))
            ).alias("clean"),
            F.col("_sampled").alias("sampled"),
            (
                (F.coalesce("_rm", F.lit(0)) * 2 < F.col("_nt"))
                | (F.col("_nt") == 0)
            ).alias("span_ok"),
        )
    )
    return out.withColumn(
        "keep",
        F.col("quality_ok")
        & F.col("lang_ok")
        & F.col("canonical")
        & F.col("clean")
        & F.col("sampled")
        & F.col("span_ok"),
    )


DEDUP_ORACLES.update(DEDUP_EXTRA_ORACLES)

# the end-to-end curation oracle composes the INDEPENDENT oracles of every
# stage (each already verified on its own), so a pipeline bug cannot hide
# behind a matching bug in a shared implementation
DEDUP_ORACLES["d_pipeline_e2e"] = f"""
    WITH __q AS ({_TEXT_ORACLES["d_quality"]}),
         __l AS ({_TEXT_ORACLES["d_lang_id"]}),
         __c AS (SELECT * FROM ({DEDUP_ORACLES["d_dedup_clusters"]})),
         __dec AS (SELECT * FROM ({DEDUP_ORACLES["d_decontaminate"]})),
         __s AS ({_TEXT_ORACLES["d_sample_sources"]})
    SELECT __q.doc_id,
           (__q.quality_score >= 0.5) AS quality_ok,
           __l.is_match AS lang_ok,
           __c.keep AS canonical,
           (NOT __dec.contaminated AND NOT __dec.is_benchmark) AS clean,
           __s.keep AS sampled,
           ((__q.quality_score >= 0.5) AND __l.is_match AND __c.keep
            AND NOT __dec.contaminated AND NOT __dec.is_benchmark
            AND __s.keep) AS keep
    FROM __q
    JOIN __l ON __q.doc_id = __l.doc_id
    JOIN __c ON __q.doc_id = __c.doc_id
    JOIN __dec ON __q.doc_id = __dec.doc_id
    JOIN __s ON __q.doc_id = __s.doc_id
"""

# incremental == one-shot: the SAME oracle as d_minhash_lsh grades the
# batched index-probe implementation
DEDUP_ORACLES["d_lsh_incremental"] = DEDUP_ORACLES["d_minhash_lsh"]

# LSH candidate recall: the same division over the two already-verified
# pair definitions (exact capped-shingle Jaccard as truth, band candidates
# as hits)
DEDUP_ORACLES["d_lsh_recall"] = f"""
    WITH truth AS (
      SELECT doc_a, doc_b, jaccard FROM ({DEDUP_ORACLES["d_ngram_jaccard"]})
    ),
    cand AS (
      SELECT doc_a, doc_b, est_jaccard FROM ({DEDUP_ORACLES["d_minhash_lsh"]})
    ),
    t AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_true,
             CAST(COUNT(c.doc_a) AS BIGINT) AS n_hit,
             FLOOR((COUNT(c.doc_a)::DOUBLE / COUNT(*)) * 1000000.0 + 0.5)
               / 1000000.0 AS recall,
             CAST(COALESCE(SUM(CAST(FLOOR(t.jaccard * 1000000.0 + 0.5)
               AS BIGINT)), 0) AS BIGINT) AS truth_jac_e6
      FROM truth t LEFT JOIN cand c
        ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
    ),
    c2 AS (
      SELECT CAST(COALESCE(SUM(CAST(FLOOR(est_jaccard * 1000000.0 + 0.5)
               AS BIGINT)), 0) AS BIGINT) AS cand_est_e6
      FROM cand
    )
    SELECT t.n_true, t.n_hit, t.recall, t.truth_jac_e6, c2.cand_est_e6
    FROM t, c2
"""

# multiprobe simhash: sig CTE identical to d_simhash_sigs, then probe-set
# containment expressed as "prefix distance <= 1" (xor popcount on the
# prefix), plus the full-width hamming cap
DEDUP_ORACLES["d_simhash_multiprobe"] = f"""
    WITH sigs AS ({DEDUP_ORACLES["d_simhash_sigs"]})
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash >> {SIMHASH_BITS - SIMHASH_PREFIX_BITS},
                        b.simhash >> {SIMHASH_BITS - SIMHASH_PREFIX_BITS})) <= 1
      AND bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_HAMMING}
"""

# ---------------------------------------------------------------------------
# exact duplicate-SPAN detection (substring-level dedup): find maximal runs
# of tokens that occur verbatim more than once anywhere in the corpus —
# the repeated-passage removal of Lee et al. 2021 ("Deduplicating Training
# Data Makes Language Models Better"), whose doc-level cousins (MinHash,
# SimHash) cannot see a boilerplate paragraph pasted into otherwise-unique
# documents.
# ---------------------------------------------------------------------------

#: duplicated-span gram width: a span is reported when >= SPAN_L
#: consecutive tokens recur verbatim (Lee et al. use 50 BPE tokens at web
#: scale; the synthetic docs are ~60 tokens, so 8 keeps the signal rich)
SPAN_L = 8


def _pos_grams(toks: Column, n: int) -> Column:
    """ORDERED token n-grams (element i = gram starting at token i) — the
    positional, non-distinct sibling of :func:`shingles_col`, same
    O(n*len) zip_with fold (nulls only pad the tail, so filtering them
    preserves positions)."""
    sh = toks
    for k in range(1, n):
        shifted = F.slice(toks, k + 1, F.greatest(F.size(toks) - k, F.lit(0)))
        sh = F.zip_with(
            sh,
            shifted,
            lambda a, b: F.when(
                a.isNotNull() & b.isNotNull(), F.concat(a, F.lit(" "), b)
            ),
        )
    return F.when(
        F.size(toks) >= n, F.filter(sh, lambda x: x.isNotNull())
    ).otherwise(F.array().cast("array<string>"))


def _pos_grams_sql(tk: str, n: int) -> str:
    """Spark-SQL twin of :func:`_pos_grams` (same zip_with fold through the
    parser) — parity pinned by the SQL-vs-Column tests."""
    return (
        f"CASE WHEN size({tk}) >= {n} THEN "
        f"filter({_zip_grams_spark_sql(tk, n)}, x -> x IS NOT NULL) "
        "ELSE CAST(array() AS ARRAY<STRING>) END"
    )


def _dup_gram_hits(
    spark: SparkSession,
    sf_dir: str,
    l: int,
    docs: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, pos, gh) for every occurrence of a corpus-duplicated gram
    — the SINGLE implementation of the count-and-flag relation behind
    span detection AND the keep_first removal policy (a second copy here
    once let the two silently disagree about what counts as duplicated).

    ONE exchange, ZERO materialization: the corpus frequency is a count
    window over the gram-hash partition of the one gram relation — not a
    groupBy + self-join, which needs the relation twice and so either
    checkpoints it or recomputes the tokenize+gram+md5 pipeline.  The
    sf100p probe (5M docs, 236M grams) measured the checkpointed form at
    234 s for a 70 s compute — the eager materialization was 70% of the
    op and its pinned blocks degraded REPEAT runs 4x (47 -> 197 s at
    sf10) by squatting on executor storage until driver GC.  The window
    form shuffles narrow (doc_id, pos, gh) longs once and streams; the
    keep_first caller's canonical rank rides the same partitioning, so
    its second window adds a sort but no exchange."""
    par = spark.sparkContext.defaultParallelism
    from pyspark.sql import Window

    # tokens and the gram array are HOISTED into their own projections so
    # each is evaluated ONCE per row: passing `tokens_col()` textually into
    # `_pos_grams` inlined the split+filter ~15x per row (n shifted slices
    # + size guards — HOF expressions get no codegen subexpression
    # elimination inside Generate), measured as 16 `split(text)` nodes in
    # the physical plan vs 1 after the hoist (plans/r11/d_span_dedup_*).
    # Attribute references are cheap, so CollapseProject keeps the two
    # projections separate; InferFiltersFromGenerate is excluded in
    # session.py so no pushed-down filter re-inlines the expressions.
    # expressions as SQL strings (r11 §4 pattern — ~0.25 s of py4j churn
    # per build in the Column zip_with loop); same parsed tree, parity
    # pinned by the SQL-vs-Column tests
    grams = (
        (_docs(spark, sf_dir) if docs is None else docs)
        .select("doc_id", "text")
        .repartition(par, "doc_id")
        .selectExpr("doc_id", tokens_spark_sql() + " AS _tk")
        .selectExpr("doc_id", _pos_grams_sql("_tk", l) + " AS _pg")
        .select("doc_id", F.posexplode("_pg").alias("pos", "gram"))
        .selectExpr("doc_id", "pos", HASH60_SPARK_SQL.format(x="gram") + " AS gh")
    )
    return (
        grams.withColumn(
            "_n", F.count(F.lit(1)).over(Window.partitionBy("gh"))
        )
        .filter(F.col("_n") >= 2)
        .select("doc_id", "pos", "gh")
    )


def _gap_islands(hits: DataFrame, l: int) -> DataFrame:
    """Merge per-document gram-hit positions (each covering ``[pos,
    pos+l)``) into maximal ``[span_start, span_end)`` intervals — new
    island when a hit starts past the running max end (gap-island window).
    The interval set covers EXACTLY the union of the hits' positions, so
    downstream position explodes cost O(covered tokens), never
    O(hits * l)."""
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max(F.col("pos") + F.lit(l)).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = hits.withColumn(
        "_new", F.when(prev_end.isNull() | (F.col("pos") > prev_end), 1).otherwise(0)
    ).withColumn("_island", F.sum("_new").over(w))
    return islands.groupBy("doc_id", "_island").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + F.lit(l)).alias("span_end"),
        F.count(F.lit(1)).alias("n_dup_grams"),
    )


def duplicate_spans(
    spark: SparkSession,
    sf_dir: str,
    l: int = SPAN_L,
    docs: DataFrame | None = None,
) -> DataFrame:
    """Maximal duplicated token spans per document: every occurrence of a
    token run >= ``l`` long that appears verbatim more than once in the
    corpus (any document, including the same one), merged into maximal
    [span_start, span_end) intervals.

    Plan (the 100 TB shape):
    1. one scan -> positional gram explode -> 60-bit gram hash (the
       shuffle carries longs, never gram strings);
    2. ONE exchange by gram hash; a count window over the partition
       flags corpus-duplicated occurrences in place — a plain
       count-and-flag, so a gram shared by k documents costs k rows,
       never the O(k^2) pairing of similarity joins (and never a second
       pass or a checkpointed intermediate — see ``_dup_gram_hits``);
    4. one per-doc window merges overlapping/adjacent gram intervals into
       maximal spans (gap-island: new island when pos > running max end).
    Dedup POLICY (which copy to keep) is the caller's: canonical practice
    keeps the first occurrence by (doc_id, span_start).  The 60-bit hash
    admits a ~2^-61-per-pair false duplicate; swap in a 128-bit hash for
    adversarial corpora.
    """
    hits = _dup_gram_hits(spark, sf_dir, l, docs).select("doc_id", "pos")
    return (
        _gap_islands(hits, l)
        .select(
            "doc_id",
            F.col("span_start").cast("long").alias("span_start"),
            F.col("span_end").cast("long").alias("span_end"),
            (F.col("span_end") - F.col("span_start")).cast("long").alias("span_tokens"),
            "n_dup_grams",
        )
    )


def remove_duplicate_spans(
    spark: SparkSession,
    sf_dir: str,
    l: int = SPAN_L,
    policy: str = "strict",
    docs: DataFrame | None = None,
) -> DataFrame:
    """The removal POLICY over :func:`duplicate_spans`:

    - ``'strict'``: every occurrence of a duplicated span is excised — the
      conservative policy when a boilerplate passage must not appear even
      once.
    - ``'keep_first'``: Lee et al.'s keep-one variant — each duplicated
      gram's CANONICAL occurrence (first by (doc_id, pos) corpus-wide) is
      exempt: a token position is removed iff some duplicated gram covers
      it and NO canonical gram does, so exactly one contiguous copy of
      every duplicated passage survives.

    Per document: original/removed token counts and the md5 of the cleaned
    text — the hash makes the oracle compare entire reconstructed
    documents in O(1) row width.  Docs with no duplicated spans pass
    through verbatim (hash of the space-joined token stream, so
    whitespace normalization is part of the contract).

    Plan: duplicated-gram occurrences explode to covered positions (xL,
    dup hits only), tokens left-anti join removable positions per
    (doc_id, pos), then one per-doc sort_array + concat_ws rebuild —
    everything after span detection is keyed by doc_id only; the
    keep_first canonical rank is one window over the dup-hit relation.
    """
    assert policy in ("strict", "keep_first"), policy
    base = _docs(spark, sf_dir) if docs is None else docs
    par = spark.sparkContext.defaultParallelism
    toks = (
        base
        .select("doc_id", "text")
        .repartition(par, "doc_id")
        .select("doc_id", F.posexplode(tokens_col()).alias("pos", "tok"))
    )
    if policy == "strict":
        covered = (
            duplicate_spans(spark, sf_dir, l, docs=docs)
            .select(
                "doc_id",
                F.explode(
                    F.sequence(F.col("span_start"), F.col("span_end") - 1)
                ).alias("pos"),
            )
            .select("doc_id", F.col("pos").cast("int").alias("pos"))
        )
    else:
        from pyspark.sql import Window

        hits = _dup_gram_hits(spark, sf_dir, l, docs).withColumn(
            "_canon",
            F.row_number().over(
                Window.partitionBy("gh").orderBy("doc_id", "pos")
            )
            == 1,
        )
        # merge hits into maximal intervals BEFORE exploding to positions:
        # a boilerplate-heavy doc has ~every gram duplicated, and exploding
        # per HIT costs hits*l rows — per merged INTERVAL it costs exactly
        # the covered token count.  Canonical coverage merges separately
        # (its union of positions is what exempts a token), then ONE
        # explode over both interval sets feeds the same (doc, pos) vote.
        iv = _gap_islands(hits, l).select("doc_id", "span_start", "span_end")
        iv_canon = _gap_islands(hits.filter(F.col("_canon")), l).select(
            "doc_id", "span_start", "span_end"
        )
        cover = (
            iv.withColumn("_canon", F.lit(False))
            .unionByName(iv_canon.withColumn("_canon", F.lit(True)))
            .select(
                "doc_id",
                "_canon",
                F.explode(
                    F.sequence(F.col("span_start"), F.col("span_end") - 1)
                ).alias("pos"),
            )
        )
        covered = (
            cover.groupBy("doc_id", "pos")
            .agg(F.max("_canon").alias("_any_canon"))
            .filter(~F.col("_any_canon"))
            .select("doc_id", F.col("pos").cast("int").alias("pos"))
        )
    kept = toks.join(covered, ["doc_id", "pos"], "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s.tok,
            ),
        ).alias("_clean"),
    )
    # totals come from the DOCUMENTS frame, not the exploded tokens: a
    # zero-token document has no token rows and would silently vanish,
    # while both span-clean oracles emit (0, 0, md5('')) for it
    totals = base.select(
        "doc_id",
        F.coalesce(F.size(tokens_col()), F.lit(0)).cast("long").alias("n_tokens"),
    )
    return (
        totals.join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            (F.col("n_tokens") - F.coalesce("n_kept", F.lit(0)))
            .cast("long")
            .alias("n_removed"),
            F.md5(F.coalesce("_clean", F.lit(""))).alias("clean_md5"),
        )
    )


SPAN_CLEAN_ORACLE = f"""
    WITH spans AS ({{span_oracle}}),
    __toks AS (SELECT doc_id, {TOKS_SQL} AS toks FROM documents),
    tok AS (
      SELECT doc_id, u.i - 1 AS pos, u.tok
      FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(toks) + 1),
                      i -> {{{{'i': i, 'tok': toks[i]}}}})) AS u
        FROM __toks
      )
    ),
    covered AS (
      SELECT DISTINCT doc_id, unnest(range(span_start, span_end)) AS pos
      FROM spans
    ),
    kept AS (
      SELECT t.doc_id, t.pos, t.tok
      FROM tok t LEFT JOIN covered c
        ON t.doc_id = c.doc_id AND t.pos = c.pos
      WHERE c.pos IS NULL
    ),
    rebuilt AS (
      SELECT doc_id, COUNT(*) AS n_kept,
             string_agg(tok, ' ' ORDER BY pos) AS _clean
      FROM kept GROUP BY doc_id
    ),
    totals AS (SELECT doc_id, len(toks) AS n_tokens FROM __toks)
    SELECT t.doc_id,
           CAST(t.n_tokens AS BIGINT) AS n_tokens,
           CAST(t.n_tokens - COALESCE(r.n_kept, 0) AS BIGINT) AS n_removed,
           md5(COALESCE(r._clean, '')) AS clean_md5
    FROM totals t LEFT JOIN rebuilt r ON t.doc_id = r.doc_id
"""


def span_clean_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate wrapper: :func:`remove_duplicate_spans` under the keep-one
    policy (canonical copy survives)."""
    return remove_duplicate_spans(spark, sf_dir, policy="keep_first")


SPAN_CLEAN_KEEP1_ORACLE = f"""
    WITH __toks AS (SELECT doc_id, {TOKS_SQL} AS toks FROM documents),
    g AS (
      SELECT doc_id, u.i - 1 AS pos,
             {HASH60_SQL.format(x="u.gram")} AS gh
      FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(toks) - {SPAN_L} + 2),
                      i -> {{'i': i,
                            'gram': array_to_string(toks[i:i+{SPAN_L - 1}], ' ')}})) AS u
        FROM __toks WHERE len(toks) >= {SPAN_L}
      )
    ),
    dup AS (SELECT gh FROM g GROUP BY gh HAVING COUNT(*) >= 2),
    hits AS (
      SELECT doc_id, pos,
             ROW_NUMBER() OVER (PARTITION BY gh ORDER BY doc_id, pos) = 1
               AS _canon
      FROM g JOIN dup USING (gh)
    ),
    cover AS (
      SELECT doc_id, _canon, unnest(range(pos, pos + {SPAN_L})) AS cpos
      FROM hits
    ),
    covered AS (
      SELECT doc_id, cpos AS pos
      FROM cover GROUP BY doc_id, cpos HAVING NOT bool_or(_canon)
    ),
    tok AS (
      SELECT doc_id, u.i - 1 AS pos, u.tok
      FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(toks) + 1),
                      i -> {{'i': i, 'tok': toks[i]}})) AS u
        FROM __toks
      )
    ),
    kept AS (
      SELECT t.doc_id, t.pos, t.tok
      FROM tok t LEFT JOIN covered c
        ON t.doc_id = c.doc_id AND t.pos = c.pos
      WHERE c.pos IS NULL
    ),
    rebuilt AS (
      SELECT doc_id, COUNT(*) AS n_kept,
             string_agg(tok, ' ' ORDER BY pos) AS _clean
      FROM kept GROUP BY doc_id
    ),
    totals AS (SELECT doc_id, len(toks) AS n_tokens FROM __toks)
    SELECT t.doc_id,
           CAST(t.n_tokens AS BIGINT) AS n_tokens,
           CAST(t.n_tokens - COALESCE(r.n_kept, 0) AS BIGINT) AS n_removed,
           md5(COALESCE(r._clean, '')) AS clean_md5
    FROM totals t LEFT JOIN rebuilt r ON t.doc_id = r.doc_id
"""


SPAN_DEDUP_ORACLE = f"""
    WITH __toks AS (SELECT doc_id, {TOKS_SQL} AS toks FROM documents),
    g AS (
      SELECT doc_id, u.i - 1 AS pos,
             {HASH60_SQL.format(x="u.gram")} AS gh
      FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(toks) - {SPAN_L} + 2),
                      i -> {{'i': i,
                            'gram': array_to_string(toks[i:i+{SPAN_L - 1}], ' ')}})) AS u
        FROM __toks WHERE len(toks) >= {SPAN_L}
      )
    ),
    dup AS (SELECT gh FROM g GROUP BY gh HAVING COUNT(*) >= 2),
    hits AS (SELECT doc_id, pos FROM g JOIN dup USING (gh)),
    isl AS (
      SELECT doc_id, pos,
             CASE WHEN pos > COALESCE(MAX(pos + {SPAN_L}) OVER (
                    PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  -1) THEN 1 ELSE 0 END AS _new
      FROM hits
    ),
    num AS (
      SELECT doc_id, pos,
             SUM(_new) OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS _island
      FROM isl
    )
    SELECT doc_id,
           MIN(pos) AS span_start,
           CAST(MAX(pos) + {SPAN_L} AS BIGINT) AS span_end,
           CAST(MAX(pos) + {SPAN_L} - MIN(pos) AS BIGINT) AS span_tokens,
           COUNT(*) AS n_dup_grams
    FROM num GROUP BY doc_id, _island
"""

DEDUP_ORACLES["d_span_dedup"] = SPAN_DEDUP_ORACLE
DEDUP_ORACLES["d_span_clean"] = SPAN_CLEAN_ORACLE.format(
    span_oracle=SPAN_DEDUP_ORACLE
)
DEDUP_ORACLES["d_span_clean_keep1"] = SPAN_CLEAN_KEEP1_ORACLE

# round 6: the flagship gains the span-boilerplate gate — REDEFINED here
# (after the span oracles exist) with the sixth independently-derived
# per-stage oracle joined in
DEDUP_ORACLES["d_pipeline_e2e"] = f"""
    WITH __q AS ({_TEXT_ORACLES["d_quality"]}),
         __l AS ({_TEXT_ORACLES["d_lang_id"]}),
         __c AS (SELECT * FROM ({DEDUP_ORACLES["d_dedup_clusters"]})),
         __dec AS (SELECT * FROM ({DEDUP_ORACLES["d_decontaminate"]})),
         __s AS ({_TEXT_ORACLES["d_sample_sources"]}),
         __sp AS (SELECT * FROM ({DEDUP_ORACLES["d_span_clean"]}))
    SELECT __q.doc_id,
           (__q.quality_score >= 0.5) AS quality_ok,
           __l.is_match AS lang_ok,
           __c.keep AS canonical,
           (NOT __dec.contaminated AND NOT __dec.is_benchmark) AS clean,
           __s.keep AS sampled,
           (__sp.n_removed * 2 < __sp.n_tokens OR __sp.n_tokens = 0) AS span_ok,
           ((__q.quality_score >= 0.5) AND __l.is_match AND __c.keep
            AND NOT __dec.contaminated AND NOT __dec.is_benchmark
            AND __s.keep
            AND (__sp.n_removed * 2 < __sp.n_tokens OR __sp.n_tokens = 0))
             AS keep
    FROM __q
    JOIN __l ON __q.doc_id = __l.doc_id
    JOIN __c ON __q.doc_id = __c.doc_id
    JOIN __dec ON __q.doc_id = __dec.doc_id
    JOIN __s ON __q.doc_id = __s.doc_id
    JOIN __sp ON __q.doc_id = __sp.doc_id
"""


def lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate recall of MinHash-LSH banding against the exact
    capped-shingle Jaccard >= threshold pairs — the text-dedup family's
    QUALITY metric (the sibling of ``e_ann_recall`` for embeddings): the
    oracle checks prove the banding is deterministic; this grades how much
    of the true near-dup set the K/bands layout actually surfaces, and a
    signature or banding regression that silently tanks recall fails the
    pytest floor.

    One corpus-level row: both inputs are already-verified pair relations,
    so the extra cost is one join + one aggregate over O(near-dup pairs).

    The row also carries order-free integer checksums over BOTH relations'
    per-pair values (``sum(floor(v * 1e6 + 0.5))`` — exact long sums, so
    aggregation order can't perturb them): a regression that keeps the
    candidate/truth SETS identical but perturbs per-pair jaccard /
    est_jaccard values now fails this gate instead of passing on counts
    alone (round-8 advice)."""
    e6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)).cast("long")  # noqa: E731
    truth = ngram_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b", "jaccard")
    cand = minhash_lsh_pairs(spark, sf_dir).select(
        "doc_a", "doc_b", "est_jaccard"
    )
    hit = truth.join(
        cand.select("doc_a", "doc_b").withColumn("_hit", F.lit(1)),
        ["doc_a", "doc_b"],
        "left",
    ).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.coalesce("_hit", F.lit(0))).alias("_h"),
        F.coalesce(F.sum(e6(F.col("jaccard"))), F.lit(0).cast("long")).alias(
            "truth_jac_e6"
        ),
    )
    csum = cand.agg(
        F.coalesce(F.sum(e6(F.col("est_jaccard"))), F.lit(0).cast("long")).alias(
            "cand_est_e6"
        )
    )
    return hit.crossJoin(csum).select(
        F.col("_n").cast("long").alias("n_true"),
        F.col("_h").cast("long").alias("n_hit"),
        round6(F.col("_h") / F.col("_n")).alias("recall"),
        "truth_jac_e6",
        "cand_est_e6",
    )


DEDUP_QUERIES = {
    "d_lsh_recall": lsh_recall,
    "d_span_dedup": duplicate_spans,
    "d_span_clean": remove_duplicate_spans,
    "d_span_clean_keep1": span_clean_keep_first,
    "d_simhash_multiprobe": simhash_multiprobe_pairs,
    "d_lsh_incremental": minhash_lsh_pairs_incremental,
    "d_pipeline_e2e": pipeline_e2e,
    "d_decontaminate": decontaminate,
    "d_dedup_exact": dedup_exact,
    "d_ngram_jaccard": ngram_jaccard_pairs,
    "d_minhash_sigs": minhash_signatures_gate,
    "d_minhash_lsh": minhash_lsh_pairs,
    "d_dedup_clusters": dedup_clusters,
    "d_simhash_sigs": simhash_signatures,
}
