"""Per-journal recovery-latency SLO harness: p50/p95 of single-key
``read()`` over sampled keys of a replicated store, graded against the
reference's recovery ceilings (``JournalPerfSpec.scala:116-117``: a
journal must recover in <= 1 s, <= 2 s under the slower shape).

The store is built once per sf dir and layout and cached under
``.scale/`` so repeat runs measure READS, not builds.  Two layouts sit on
either side of ``KEY_READ_SERIAL_FILES`` (the live-file count up to which
a key read scans a side in one task):

- ``compacted`` (default): 3-batch replication of the events action log,
  then ``compact()`` — one live journal file per topic;
- ``uncompacted``: 63-batch replication and no maintenance — 63 live
  journal files per topic, the most a topic holds under the standing
  replicator's 64-file compaction tier.

Usage: python tools/bench_read_slo.py [sf_dir] [n_keys] [layout]
Prints one JSON line:
  {"metric": "read_slo", "layout": ..., "journal_files": ...,
   "read": {"p50": ..., "p95": ..., ...}, "n_keys": N, "sf_dir": ...}
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


#: replicate batches per layout; the uncompacted one stops a batch short
#: of the standing replicator's compaction tier (``min_files=64``)
LAYOUT_BATCHES = {"compacted": 3, "uncompacted": 63}


def build_store(spark, sf_dir: str, root: str, layout: str = "compacted"):
    """Replicate sf_dir's action log into a store of the given layout at
    ``root`` (reused when already built)."""
    from kafka_journal_spark.operators.actions import journal_actions
    from kafka_journal_spark.sources.statestore import JournalStore
    from kafka_journal_spark.streaming.replicator import replicate_batch

    store = JournalStore(spark, root)
    done = os.path.join(root, "_slo_store_ready")
    if os.path.exists(done):
        return store
    acts = journal_actions(spark, sf_dir)
    hi = acts.agg(F.max("offset")).collect()[0][0] or 0
    n = LAYOUT_BATCHES[layout]
    cuts = [0, *(i * hi // n for i in range(1, n)), hi + 1]
    for lo, up in zip(cuts, cuts[1:]):
        replicate_batch(
            acts.filter((F.col("offset") >= lo) & (F.col("offset") < up)), store
        )
    if layout == "compacted":
        store.compact()  # fold: the steady-state layout reads hit
    with open(done, "w") as f:
        f.write("ok")
    return store


def sample_keys(store, n: int) -> list[tuple[str, str]]:
    """Deterministic sample: n (topic, id) pairs spread over the key
    space by hash order (not head/tail biased)."""
    rows = (
        store.metajournal()
        .select("topic", "id")
        .distinct()
        .orderBy(F.md5(F.concat_ws("|", "topic", "id")))
        .limit(n)
        .collect()
    )
    return [(r.topic, r.id) for r in rows]


def _pct(xs: list[float], q: float) -> float:
    ys = sorted(xs)
    return ys[min(len(ys) - 1, int(round(q * (len(ys) - 1))))]


def measure(
    spark, sf_dir: str, n_keys: int = 100, layout: str = "compacted"
) -> dict:
    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    if layout != "compacted":
        tag += f"_{layout}"
    root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".scale",
        f"slo_store_{tag}",
    )
    store = build_store(spark, sf_dir, root, layout)
    keys = sample_keys(store, n_keys)
    # one warm-up read pays one-time planning/listing costs
    store.read(*keys[0]).count()
    lat = []
    nonempty = 0
    for topic, key in keys:
        t0 = time.perf_counter()
        n = store.read(topic, key).count()
        lat.append(time.perf_counter() - t0)
        nonempty += n > 0
    # a key whose whole journal is deleted legitimately reads 0 rows
    # (head survives, events hidden) — but a mostly-empty sample would
    # mean the measurement isn't exercising real recoveries
    assert nonempty * 2 >= len(keys), (nonempty, len(keys))
    return {
        "metric": "read_slo",
        "unit": "sec",
        "sf_dir": sf_dir,
        "layout": layout,
        "journal_files": max(n for _, n, _ in store._journal_file_stats()),
        "n_keys": len(keys),
        "read": {
            "p50": round(_pct(lat, 0.50), 4),
            "p95": round(_pct(lat, 0.95), 4),
            "max": round(max(lat), 4),
            "mean": round(sum(lat) / len(lat), 4),
        },
        "ceilings": {"p50": 1.0, "p95": 2.0},
    }


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/repo/.scale/sf10"
    n_keys = int(sys.argv[2]) if len(sys.argv) > 2 else 100
    layout = sys.argv[3] if len(sys.argv) > 3 else "compacted"
    if layout not in LAYOUT_BATCHES:
        sys.exit(f"layout must be one of {sorted(LAYOUT_BATCHES)}")
    from kafka_journal_spark.session import get_spark

    spark = get_spark(
        "bench-read-slo", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    )
    res = measure(spark, sf_dir, n_keys, layout)
    print(json.dumps(res))
    spark.stop()
    # standalone runs assert the ceilings; a caller that owns the
    # assertion (tests/test_read_slo.py retries noisy attempts and asserts
    # the minimum) sets KJ_SLO_NO_ASSERT=1 — without this, one
    # over-ceiling attempt exits non-zero and the caller's retry logic
    # never runs (the exact flake the min-of-attempts fix was for)
    if os.environ.get("KJ_SLO_NO_ASSERT") != "1":
        v = res["read"]
        assert v["p50"] <= 1.0 and v["p95"] <= 2.0, v


if __name__ == "__main__":
    main()
