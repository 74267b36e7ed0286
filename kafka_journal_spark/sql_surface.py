"""The SQL entry point (SURVEY §4 optional nicety (a)): register the
materialized journal tables as temp views so users query with plain
``spark.sql`` — the recovery semantics become WHERE clauses the optimizer
can see, and everything Catalyst offers over SQL (grouping sets, subqueries,
CTEs) comes for free.
"""

from __future__ import annotations

import contextlib

from pyspark.sql import DataFrame, SparkSession

from kafka_journal_spark.operators.actions import journal_actions
from kafka_journal_spark.operators.replicate import (
    materialize_journal,
    materialize_metajournal,
    materialize_pointers,
)


def register_journal_views(spark: SparkSession, sf_dir: str) -> None:
    """Create kj_journal / kj_metajournal / kj_pointers temp views."""
    acts = journal_actions(spark, sf_dir)
    materialize_journal(acts).createOrReplaceTempView("kj_journal")
    materialize_metajournal(acts).createOrReplaceTempView("kj_metajournal")
    materialize_pointers(acts).createOrReplaceTempView("kj_pointers")


#: per registered read function name, the pins that keep the store
#: snapshot it reads registered against this process's vacuum for as long
#: as the function exists (a frame derived from ``store.metajournal()``
#: does not keep the weakref-scoped registration of its scan alive)
_TVF_PINS: dict[str, contextlib.ExitStack] = {}


def register_store_read_tvf(spark: SparkSession, store, name: str = "read_journal") -> None:
    """SURVEY §4 nicety (a) as a genuine SQL TABLE FUNCTION: expose the R2
    recovery read over a :class:`JournalStore` to pure SQL —
    ``SELECT * FROM read_journal('topic', 'key', from_seq_nr)`` — via a
    Spark 4 SQL UDF (``CREATE TEMPORARY FUNCTION ... RETURNS TABLE``).

    The body selects from two temp views over ``store.journal()`` and
    ``store.metajournal()``, so it reads the manifests' live files (never
    a retired file still inside the grace) and the newest-wins resolved
    heads (a delta's delete watermark or purge tombstone hides what it
    covers), exactly like ``store.read()``.  The function reads the store
    AS OF REGISTRATION: register again to see later commits.

    The body is INLINED into the calling plan, so Catalyst sees the final
    predicates exactly like the DataFrame path: a literal topic/id
    constant-folds the ``p IS NULL OR col = p`` guards down to pushed
    parquet filters and a pruned ``topic=`` partition scan (pinned by
    ``test_plans.py::test_read_journal_tvf_plans_like_store_read``);
    passing NULL means "all".  Semantics match ``store.read()`` defaults:
    orphan correlation on (incarnation match), delete watermark, seq_nr
    lower bound, and the R5 first-offset-wins dedup window.
    """
    pins = contextlib.ExitStack()
    pins.enter_context(store.pin_reads())
    store.journal().createOrReplaceTempView(f"_{name}_journal")
    store.metajournal().createOrReplaceTempView(f"_{name}_metajournal")
    old = _TVF_PINS.pop(name, None)
    _TVF_PINS[name] = pins
    if old is not None:
        old.close()
    spark.sql(
        f"""
        CREATE OR REPLACE TEMPORARY FUNCTION {name}(
            p_topic STRING, p_id STRING, p_from BIGINT)
        RETURNS TABLE (
            id STRING, topic STRING, seq_nr BIGINT, partition INT,
            offset BIGINT, timestamp TIMESTAMP, origin STRING,
            version STRING, payload_type STRING, payload_txt STRING)
        RETURN
        SELECT id, topic, seq_nr, partition, offset, timestamp, origin,
               version, payload_type, payload_txt
        FROM (
            SELECT j.id, j.topic, j.seq_nr, j.partition, j.offset,
                   j.timestamp, j.origin, j.version, j.payload_type,
                   j.payload_txt,
                   row_number() OVER (
                       PARTITION BY j.topic, j.id, j.seq_nr
                       ORDER BY j.offset) AS _rn
            FROM _{name}_journal j
            JOIN _{name}_metajournal m
              ON j.topic = m.topic AND j.id = m.id
             AND j.meta_record_id = m.record_id
            WHERE j.seq_nr > coalesce(m.delete_to, 0)
              AND j.seq_nr >= p_from
              AND (p_topic IS NULL OR j.topic = p_topic)
              AND (p_id IS NULL OR j.id = p_id)
        ) WHERE _rn = 1
        """
    )


def q_read_journal_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query for the TVF: replicate the action stream into a store,
    register ``read_journal``, and run the all-keys read from seq_nr 20 in
    pure SQL — the oracle is the existing ``j_read_from`` SQL, so the TVF
    must agree with the DataFrame read path row for row."""
    import tempfile

    from kafka_journal_spark.sources.statestore import JournalStore
    from kafka_journal_spark.streaming.replicator import replicate_batch

    import shutil

    acts = journal_actions(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="kjs-sqltvf-")
    store = JournalStore(spark, root)
    replicate_batch(acts, store)
    register_store_read_tvf(spark, store)
    out = spark.sql(
        "SELECT id, topic, seq_nr, partition, offset, timestamp, origin, "
        "version, payload_type, payload_txt FROM read_journal(NULL, NULL, 20)"
    )
    # materialize so the scratch store can be dropped (the lazy plan would
    # otherwise read removed files — same pattern as ann_incremental_topk);
    # repeated grading/bench invocations must not accumulate store copies
    out = out.localCheckpoint(eager=True)
    shutil.rmtree(root, ignore_errors=True)
    return out


def q_sql_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A pure-SQL recovery-style query over the registered views: per-topic
    journal stats with a correlated EXISTS (journals that still have rows)."""
    register_journal_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT m.topic,
               COUNT(*) AS n_journals,
               CAST(SUM(CASE WHEN EXISTS (
                   SELECT 1 FROM kj_journal j
                   WHERE j.topic = m.topic AND j.id = m.id
               ) THEN 1 ELSE 0 END) AS BIGINT) AS n_with_rows,
               CAST(MAX(m.seq_nr) AS BIGINT) AS max_seq_nr,
               CAST(SUM(m.seq_nr) AS BIGINT) AS total_seq
        FROM kj_metajournal m
        GROUP BY m.topic
        """
    )

