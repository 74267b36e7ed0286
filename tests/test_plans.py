"""Plan-property assertions: the physical plans the engine is designed
around must actually materialize — pushdown, broadcasts, bucketed-join
shuffle elimination, blob pruning.  These are the 100 TB guarantees; row
counts alone don't protect them."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q1_pushdown_and_pruning(spark):
    from kafka_journal_spark.operators.analytics import q1_pricing_summary

    p = _plan(q1_pricing_summary(spark, SF))
    assert "LessThanOrEqual(l_shipdate" in p  # filter reached the scan
    assert "l_comment" not in p
    # only needed columns scanned
    import re

    (schema,) = re.findall(r"ReadSchema: struct<([^>]*)", p)
    assert len(schema.split(",")) <= 7


def test_q3_q5_broadcast_dimensions(spark):
    from kafka_journal_spark.operators.analytics import q3_shipping_priority, q5_local_volume

    assert _plan(q3_shipping_priority(spark, SF)).count("BroadcastHashJoin") >= 2
    assert _plan(q5_local_volume(spark, SF)).count("BroadcastHashJoin") >= 3


def test_q7_q8_broadcast_all_dimensions(spark):
    from kafka_journal_spark.operators.analytics import q7_volume_shipping, q8_market_share

    # q7: supplier, customer, nation x2 all broadcast; only the fact chain shuffles
    assert _plan(q7_volume_shipping(spark, SF)).count("BroadcastHashJoin") >= 4
    # q8: part, supplier, customer, nation x2, region all broadcast
    assert _plan(q8_market_share(spark, SF)).count("BroadcastHashJoin") >= 5


def test_meta_expiry_reads_head_single_shuffle(spark):
    # x_meta_expiry is one head materialization: a single key-partitioned
    # aggregation, no join back to the action stream
    from kafka_journal_spark.operators.expiry import metajournal_expiry

    p = _plan(metajournal_expiry(spark, SF))
    assert "Join" not in p, p
    assert p.count("Exchange") <= 2, p  # key agg (+AQE final read)


def test_store_read_prunes_partitions_and_pushes_seq_nr(spark, tmp_path):
    from conftest import append, make_actions
    from kafka_journal_spark.sources.statestore import JournalStore
    from kafka_journal_spark.streaming.replicator import replicate_batch

    store = JournalStore(spark, str(tmp_path / "s"))
    replicate_batch(make_actions(spark, [append("a", 1), append("a", 2)]), store)
    p = _plan(store.read(topic="journal", key="a", from_seq_nr=2))
    # seq_nr range + id equality pushed into the parquet scan
    assert "GreaterThanOrEqual(seq_nr,2)" in p
    assert "EqualTo(id,a)" in p
    # topic is a partition directory: pruned, not filtered row-by-row
    assert "PartitionFilters" in p


def test_recovery_merge_plan_is_lean(spark):
    from kafka_journal_spark.operators.actions import journal_actions
    from kafka_journal_spark.operators.read import recovery_merge

    p = _plan(recovery_merge(journal_actions(spark, SF)))
    # round-11 single-pass shape: the events source is scanned exactly
    # TWICE — once for the merged stream, once (column-pruned) for the
    # split-point aggregate broadcast back.  All four per-key folds
    # (prefix/tail purge horizons + delete watermarks) are conditional
    # maxes in ONE Window node over the (topic, id) partitioning the
    # seq-nr derivation already established, so the round-10 form's
    # 8 scans / 8 Windows / 2 SortMergeJoins are gone (the r9 note
    # stands: the split point stays a map-side-combined max broadcast
    # back, never a window by (topic, partition) — 240.6 -> 55.4 s at
    # 100M actions)
    assert p.count("Scan parquet") <= 2
    assert "SortMergeJoin" not in p


def test_pack_chunks_single_shuffle(spark):
    """Concat-and-chunk packing must cost ONE exchange — the stream
    window's hash(lang, shard) — and the (lang, shard, chunk_id)
    aggregation reuses that partitioning via the subset rule rather than
    reshuffling.  The exchange key MUST include the shard column: keying
    by lang alone would serialize a whole language through one task."""
    import re

    from kafka_journal_spark.functions.text import pack_chunks

    p = _plan(pack_chunks(spark, SF))
    assert p.count("Exchange hashpartitioning") == 1, p
    assert re.search(r"Exchange hashpartitioning\(lang#\d+, shard#\d+", p), p


def test_quantize_int8_is_narrow(spark):
    """Per-vector quantization is a single narrow pass — no exchange, no
    Python node; everything rides higher-order column functions."""
    from kafka_journal_spark.functions.similarity import quantize_int8

    p = _plan(quantize_int8(spark, SF))
    assert "Exchange" not in p, p
    assert "ArrowEval" not in p and "BatchEval" not in p, p


def test_simhash_signatures_plan(spark):
    """SimHash costs ONE exchange carrying fixed-width packed counters and
    ONE Generate (the token explode — tokenization itself).  The old 60×
    per-bit row explosion is pinned gone: no ``sequence`` explode, exactly
    one Generate, exactly one Exchange (partial agg runs map-side), no
    Python node."""
    from kafka_journal_spark.functions.dedup import simhash_signatures

    p = _plan(simhash_signatures(spark, SF))
    assert p.count("Exchange hashpartitioning") == 1, p
    assert p.count("Generate") == 1, p
    assert "sequence(" not in p, p
    assert "ArrowEval" not in p and "BatchEval" not in p, p
    # partial (map-side) aggregation before the exchange: the shuffle
    # carries counters, not tokens
    assert "partial_sum" in p, p


def test_bm25_topk_uses_take_ordered(spark):
    """The global top-k must plan as TakeOrdered (per-partition top-k +
    k-row merge), never a single-partition global sort window."""
    from kafka_journal_spark.functions.text import bm25_topk

    p = _plan(bm25_topk(spark, SF))
    assert "TakeOrderedAndProject" in p, p


def test_tpch_full_plans(spark):
    """The round-5 TPC-H shapes plan the way the docstrings promise:
    dimensions broadcast, top-k as TakeOrdered (never a global sort),
    q21's quantifiers as semi/anti joins."""
    from kafka_journal_spark.operators import tpch_full as T

    p2 = _plan(T.q2_min_cost_supplier(spark, SF))
    assert p2.count("BroadcastHashJoin") >= 3  # nation, region, part, eu_supp
    assert "TakeOrderedAndProject" in p2

    p9 = _plan(T.q9_product_profit(spark, SF))
    assert p9.count("BroadcastHashJoin") >= 3  # part, supplier, nation

    p16 = _plan(T.q16_supplier_part_counts(spark, SF))
    assert "BroadcastHashJoin" in p16 and "LeftAnti" in p16
    assert "TakeOrderedAndProject" in p16

    p18 = _plan(T.q18_large_volume_customers(spark, SF))
    assert "TakeOrderedAndProject" in p18

    p21 = _plan(T.q21_waiting_orders(spark, SF))
    assert "LeftSemi" in p21 and "LeftAnti" in p21
    assert "TakeOrderedAndProject" in p21

    p22 = _plan(T.q22_global_sales_opportunity(spark, SF))
    assert "LeftAnti" in p22


def test_decontaminate_broadcasts_benchmark_side(spark):
    """The benchmark shingle set must broadcast (an eval suite is tiny);
    the corpus side must NOT shuffle on shingle."""
    from kafka_journal_spark.functions.dedup import decontaminate

    p = _plan(decontaminate(spark, SF))
    # the overlap join itself is a broadcast (corpus probes the tiny
    # benchmark set); the only shingle-keyed Exchange allowed is the
    # benchmark side's own distinct — the CORPUS never shuffles on shingle
    assert p.count("BroadcastHashJoin") >= 2  # shingle probe + doc_id left join
    assert p.count("hashpartitioning(shingle") <= 1


def test_pii_scrub_is_map_only(spark):
    """PII detect+scrub is a pure map pass: zero Exchange in the plan."""
    from kafka_journal_spark.functions.text import pii_scrub

    assert "Exchange" not in _plan(pii_scrub(spark, SF))


def test_sample_sources_is_map_only(spark):
    from kafka_journal_spark.functions.text import sample_sources

    assert "Exchange" not in _plan(sample_sources(spark, SF))


def test_window_funcs_single_window_node(spark):
    """All five window functions share one spec -> ONE Window node, one
    shuffle, one sort."""
    from kafka_journal_spark.operators.analytics import q_window_funcs

    p = _plan(q_window_funcs(spark, SF))
    assert p.count("Window") - p.count("WindowGroupLimit") == 1
    assert p.count("Exchange") == 1


def test_minhash_signatures_plan(spark):
    """MinHash signatures are a per-document ARRAY FOLD: no explode of
    shingle rows, no aggregation exchange — the only Exchange is the
    CPU-parallelism repartition of the raw text, and the K minima are
    computed inside the row (aggregate/transform/zip_with)."""
    from kafka_journal_spark.functions.dedup import minhash_signatures

    p = _plan(minhash_signatures(spark, SF))
    assert p.count("Generate explode") == 0, p  # nothing exploded, ever
    assert "HashAggregate" not in p, p  # minima fold in-row, no agg hop
    assert p.count("Exchange") <= 1, p  # the repartition only
    assert "ArrowEval" not in p and "BatchEval" not in p, p  # no Python


def test_ann_incremental_probe_gets_dynamic_partition_pruning(spark):
    """The bucket-partitioned ANN index scan must carry a
    dynamicpruningexpression on the bucket partition column: a query probe
    reads only the probed bucket directories, not the whole corpus."""
    from kafka_journal_spark.functions.similarity import ann_incremental_topk

    p = _plan(ann_incremental_topk(spark, SF, materialize=False))
    assert "dynamicpruningexpression(bucket_band" in p, p


def test_ann_index_width_cached_in_metadata(spark, monkeypatch):
    """The sign-bucket width is derived from the corpus ONCE, at index
    build (``ann_index_create``), and persisted in the index metadata —
    per-batch appends and the probe must NOT re-count the corpus (two
    driver actions per call in a maintenance loop otherwise)."""
    from kafka_journal_spark.functions import similarity as S

    calls = {"n": 0}
    real = S.adaptive_bucket_dims

    def counting(emb, *a, **kw):
        calls["n"] += 1
        return real(emb, *a, **kw)

    monkeypatch.setattr(S, "adaptive_bucket_dims", counting)
    out = S.ann_incremental_topk(spark, SF, n_batches=3)
    assert out.count() > 0
    assert calls["n"] == 1, calls


def test_read_journal_tvf_plans_like_store_read(spark, tmp_path):
    """The SQL table function body is inlined, so a call with literal
    topic/id/from must produce the SAME pruned scan the DataFrame path
    gets: id equality + seq_nr bound pushed into the parquet scan, topic
    pruned as a partition directory (the test_store_read assertions)."""
    from conftest import append, make_actions
    from kafka_journal_spark.sources.statestore import JournalStore
    from kafka_journal_spark.sql_surface import register_store_read_tvf
    from kafka_journal_spark.streaming.replicator import replicate_batch

    store = JournalStore(spark, str(tmp_path / "tvf"))
    replicate_batch(make_actions(spark, [append("a", 1), append("a", 2)]), store)
    register_store_read_tvf(spark, store)
    p = _plan(spark.sql("SELECT * FROM read_journal('journal', 'a', 2)"))
    assert "GreaterThanOrEqual(seq_nr,2)" in p
    assert "EqualTo(id,a)" in p
    assert "PartitionFilters" in p
    # results agree with the DataFrame path on the same store
    got = {
        (r.id, r.seq_nr)
        for r in spark.sql("SELECT * FROM read_journal('journal', 'a', 2)").collect()
    }
    want = {
        (r.id, r.seq_nr)
        for r in store.read(topic="journal", key="a", from_seq_nr=2).collect()
    }
    assert got == want == {("a", 2)}


def test_read_journal_tvf_resolves_heads_like_store_read(spark, tmp_path):
    """The table function reads the store through its manifests and the
    newest-wins resolved heads: after two narrow batches (append a 1..2,
    then delete_to a 2) the band holds two head rows of ``a``, and the
    function must return what ``store.read`` returns — nothing — also
    after a purge tombstones the key."""
    from conftest import append, delete, make_actions, purge
    from kafka_journal_spark.sources.statestore import JournalStore
    from kafka_journal_spark.sql_surface import register_store_read_tvf
    from kafka_journal_spark.streaming.replicator import replicate_batch

    def tvf():
        q = "SELECT seq_nr FROM read_journal('journal', 'a', 1)"
        return sorted(r.seq_nr for r in spark.sql(q).collect())

    def want():
        return sorted(r.seq_nr for r in store.read(topic="journal", key="a").collect())

    store = JournalStore(spark, str(tmp_path / "tvf"))
    replicate_batch(make_actions(spark, [append("a", 1), append("a", 2)]), store)
    replicate_batch(make_actions(spark, [delete("a", 2)], offset_base=10), store)
    register_store_read_tvf(spark, store)
    assert tvf() == want() == []

    replicate_batch(make_actions(spark, [append("a", 3)], offset_base=20), store)
    register_store_read_tvf(spark, store)
    assert tvf() == want() == [3]
    replicate_batch(make_actions(spark, [purge("a")], offset_base=30), store)
    register_store_read_tvf(spark, store)
    assert tvf() == want() == []
    # the function's snapshot stays pinned against this process's vacuum
    from kafka_journal_spark.sources.manifest import _snapshot_referenced

    live = store.tables["metajournal"].live_files()
    assert live and live <= _snapshot_referenced(store.root, "metajournal")


def test_duplicate_spans_plan_is_count_and_flag(spark):
    """Span detection must stay a count-and-flag shape with ONE pass over
    the gram relation: corpus frequency is a count window over the
    gram-hash exchange (no groupBy + join-back, which needs the relation
    twice and so either checkpoints ~grams-sized state or recomputes the
    tokenize+gram+md5 pipeline — the sf100p probe measured the
    checkpointed form at 3.4x the window form), and never a gram-keyed
    pair join."""
    from kafka_journal_spark.functions.dedup import duplicate_spans

    p = _plan(duplicate_spans(spark, SF))
    assert "Join" not in p, p  # no joins of any kind, no pairing
    assert p.count("Generate") == 1, p  # gram explode runs exactly once
    # exchanges: doc-balance repartition, gram-hash window, island window
    assert p.count("Exchange") - p.count("BroadcastExchange") <= 3, p
    assert "localCheckpoint" not in p.lower()  # nothing materialized


def test_span_keep_first_explodes_merged_intervals_once(spark):
    """The keep-first cover must explode MERGED intervals, not raw gram
    hits: per-hit explosion costs hits*l rows on boilerplate-heavy docs
    (every gram duplicated -> ~doc_len*l), per-interval it costs exactly
    the covered token count.  Plan shape: the token posexplode, ONE
    interval-sequence explode fed by span_start/span_end (never a raw
    hit position), and the gram posexplode — which appears twice
    statically (the all-hits and canonical-hits island branches) but
    sits under byte-identical gram-hash exchanges, so runtime exchange
    reuse executes it once (measured: keep_first = strict + 1.4% at
    sf100p, not + a full gram pass)."""
    from kafka_journal_spark.functions.dedup import remove_duplicate_spans

    p = _plan(remove_duplicate_spans(spark, SF, policy="keep_first"))
    assert p.count("Generate") == 4, p
    assert "explode(sequence(span_start" in p, p
    # the duplicated gram branches must stay exchange-reusable: exactly
    # two gram-hash exchanges with identical children (the count/rank
    # windows differ only ABOVE the exchange)
    assert p.count("hashpartitioning(gh") == 2, p


def test_load_events_schema_cache_is_mutation_safe(spark, tmp_path):
    """load_events caches the parquet footer schema keyed by a
    (relpath, mtime_ns, size) signature of the events dir: a warm read
    skips inference but must return identical rows, and ANY file change
    (a replicated store appending between micro-batches, gen_scale
    regenerating a dir) must invalidate the entry — a stale schema would
    silently mis-type the ts column.  Oversize dirs skip caching."""
    import os

    from kafka_journal_spark.operators import actions as A

    src = A.load_events(spark, SF)
    dst = str(tmp_path / "events.parquet")
    src.limit(40).repartition(2).write.parquet(dst)

    d1 = A.load_events(spark, str(tmp_path))
    key = os.path.abspath(dst)
    assert key in A._EVENTS_SCHEMA_CACHE
    sig0 = A._EVENTS_SCHEMA_CACHE[key][0]

    d2 = A.load_events(spark, str(tmp_path))  # warm: cache hit
    assert A._EVENTS_SCHEMA_CACHE[key][0] == sig0
    assert d1.schema == d2.schema
    assert sorted(map(tuple, d1.collect())) == sorted(map(tuple, d2.collect()))

    src.limit(3).repartition(1).write.mode("append").parquet(dst)
    d3 = A.load_events(spark, str(tmp_path))
    assert d3.count() == d1.count() + 3  # stale schema list would miss files
    assert A._EVENTS_SCHEMA_CACHE[key][0] != sig0

    for i in range(A._SIG_MAX_ENTRIES + 5):
        (tmp_path / "events.parquet" / f"_pad_{i}.crc").touch()
    assert A._events_dir_signature(dst) is None


def test_corpus_stats_cache_is_mutation_safe_and_tag_scoped(spark, tmp_path):
    """_corpus_stats serves (n, dim) from the signature-keyed metadata
    cache ONLY for the untouched corpus frame _emb returns: a warm call
    returns identical stats without recounting, any file change under the
    dataset invalidates the entry, and a derived frame (filter) always
    recomputes — a stale row count would mis-pick the sign-bucket width."""
    import os

    from kafka_journal_spark.functions import similarity as S

    src = S._emb(spark, SF)
    dst_dir = str(tmp_path)
    dst = os.path.join(dst_dir, "embeddings.parquet")
    # keep the raw column name the reader expects
    from kafka_journal_spark.sources.tables import read_parquet_cached_schema

    read_parquet_cached_schema(spark, os.path.join(SF, "embeddings.parquet")) \
        .limit(40).write.parquet(dst)

    emb = S._emb(spark, dst_dir)
    n1, d1 = S._corpus_stats(emb)
    assert n1 == 40
    key = os.path.abspath(dst)
    assert key in S._CORPUS_STATS_CACHE
    sig0 = S._CORPUS_STATS_CACHE[key][0]

    # warm: served from cache (pin by poisoning the cached value)
    S._CORPUS_STATS_CACHE[key] = (sig0, (n1 + 999, d1))
    assert S._corpus_stats(S._emb(spark, dst_dir)) == (n1 + 999, d1)
    S._CORPUS_STATS_CACHE[key] = (sig0, (n1, d1))

    # a DERIVED frame never touches the cache (no tag on the new object)
    filt = emb.filter("vec_id < 10")
    assert S._corpus_stats(filt)[0] == 10

    # mutation invalidates: append rows, stats recount
    read_parquet_cached_schema(spark, os.path.join(SF, "embeddings.parquet")) \
        .limit(5).write.mode("append").parquet(dst)
    n2, _ = S._corpus_stats(S._emb(spark, dst_dir))
    assert n2 == 45
    assert S._CORPUS_STATS_CACHE[key][0] != sig0


def test_spread_unsplittable_fires_only_on_monolithic_layouts(spark, tmp_path):
    """spread_unsplittable is split-repair for degenerate parquet layouts
    (guide §2.5), not a blanket repartition: it must fire only when the
    dataset's total row-group count is below the session parallelism AND
    the table clears the CPU-density floor — and be a no-op (same plan,
    no Exchange) for well-laid-out data, which is every real-scale input."""
    from kafka_journal_spark.sources.tables import spread_unsplittable

    par = spark.sparkContext.defaultParallelism
    mono = str(tmp_path / "mono.parquet")
    spark.range(300_000).selectExpr("id", "id * 2 AS v").coalesce(1).write.parquet(mono)

    df = spark.read.parquet(mono)
    out = spread_unsplittable(spark, df, mono, min_rows=100_000)
    assert "Exchange" in out._jdf.queryExecution().executedPlan().toString()
    assert sorted(r.id for r in out.collect()) == list(range(300_000))

    # below the density floor: no-op
    small = spread_unsplittable(spark, df, mono, min_rows=1_000_000)
    assert small is df

    # splittable layout (>= par row groups across files): no-op
    many = str(tmp_path / "many.parquet")
    spark.range(300_000).repartition(par + 1).write.parquet(many)
    df2 = spark.read.parquet(many)
    assert spread_unsplittable(spark, df2, many, min_rows=100_000) is df2
