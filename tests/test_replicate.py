"""Model-level semantics tests for the replication fold, in the style of the
reference's JournalSpec (journal/src/test/.../JournalSpec.scala): hand-built
action sequences with exactly-known journal/metajournal/pointer outcomes.
"""

from __future__ import annotations

from conftest import append, delete, make_actions, mark, purge
from hypothesis import given, settings
from hypothesis import strategies as st

from kafka_journal_spark.operators.replicate import (
    java_hash_code,
    materialize_journal,
    materialize_metajournal,
    materialize_pointers,
)


def _journal_map(actions_df):
    rows = materialize_journal(actions_df).collect()
    out = {}
    for r in rows:
        out.setdefault(r.id, []).append(r.seq_nr)
    return {k: sorted(v) for k, v in out.items()}


def _meta_map(actions_df):
    return {
        r.id: (r.seq_nr, r.delete_to)
        for r in materialize_metajournal(actions_df).collect()
    }


def test_meta_segment_matches_java_hashcode(spark):
    # SegmentNr.scala:146-150: abs(id.toLowerCase.hashCode % segments) with
    # Java's String.hashCode — golden values computed with the JVM algorithm
    from pyspark.sql import functions as F

    from kafka_journal_spark import SEGMENTS_DEFAULT
    from kafka_journal_spark.operators.replicate import (
        java_string_hash,
        meta_segment,
        segment_of,
    )

    # java_hash_code is the exact JVM model: it folds over UTF-16 CODE
    # UNITS (surrogate pairs for supplementary-plane chars), not code points
    samples = [
        "user-42",
        "User-ABC",
        "polygenelubricants",
        "journal",
        "z" * 64,
        # supplementary plane: each is ONE code point but TWO UTF-16 units
        "\U0001d11e",  # musical G clef
        "id-\U0001f600-\U0001f680",  # emoji
        "\U0010fffd edge",  # top of plane 16
        "mixedé中\U0001f4a9",
    ]
    df = spark.createDataFrame([(s,) for s in samples], "id string").select(
        "id",
        java_string_hash(F.col("id")).alias("h"),
        meta_segment(F.col("id"), SEGMENTS_DEFAULT).alias("seg"),
    )
    got = {r.id: (r.h, r.seg) for r in df.collect()}
    # the classic JVM fixture: "polygenelubricants".hashCode() == Integer.MIN_VALUE
    assert java_hash_code("polygenelubricants") == -(2**31)
    for s in samples:
        assert got[s][0] == java_hash_code(s), s
        # abs of the Java remainder == abs(h) % segments for positive divisors
        assert got[s][1] == abs(java_hash_code(s.lower())) % SEGMENTS_DEFAULT, s
        # the driver-side twin answers for ASCII keys only, and then agrees
        if s.isascii():
            assert segment_of(s, SEGMENTS_DEFAULT) == got[s][1], s
        else:
            assert segment_of(s, SEGMENTS_DEFAULT) is None, s

    # the r11 SQL-string twin (one parser call instead of ~30 py4j calls;
    # used by materialize_metajournal) must agree term-for-term
    from kafka_journal_spark.operators.replicate import (
        java_string_hash_sql,
        meta_segment_sql,
    )

    df2 = spark.createDataFrame([(s,) for s in samples], "id string").selectExpr(
        "id",
        f"{java_string_hash_sql('id')} AS h",
        f"{meta_segment_sql('id', SEGMENTS_DEFAULT)} AS seg",
    )
    got2 = {r.id: (r.h, r.seg) for r in df2.collect()}
    assert got2 == got


@given(
    st.lists(
        st.text(alphabet=st.characters(max_codepoint=127)), min_size=1, max_size=40
    )
)
@settings(max_examples=25, deadline=None)
def test_segment_of_matches_meta_segment_on_ascii_ids(spark, ids):
    """Band-pruned head lookups compute a key's segment on the driver; for
    every ASCII id (control characters, mixed case, the empty id) it must
    be the segment the replicator's JVM-side ``meta_segment`` wrote."""
    from pyspark.sql import functions as F

    from kafka_journal_spark import SEGMENTS_DEFAULT
    from kafka_journal_spark.operators.replicate import meta_segment, segment_of

    rows = (
        spark.createDataFrame([(i, s) for i, s in enumerate(ids)], "i int, id string")
        .select("i", meta_segment(F.col("id"), SEGMENTS_DEFAULT).alias("seg"))
        .collect()
    )
    want = {i: segment_of(s, SEGMENTS_DEFAULT) for i, s in enumerate(ids)}
    assert {r.i: r.seg for r in rows} == want


def test_append_only(spark):
    df = make_actions(spark, [append("a", 1), append("a", 2), append("a", 3)])
    assert _journal_map(df) == {"a": [1, 2, 3]}
    assert _meta_map(df) == {"a": (3, None)}


def test_delete_prefix(spark):
    # delete(to=1) erases seq 1; later append continues
    df = make_actions(
        spark, [append("a", 1), append("a", 2), delete("a", 1), append("a", 3)]
    )
    assert _journal_map(df) == {"a": [2, 3]}
    assert _meta_map(df) == {"a": (3, 1)}


def test_delete_all(spark):
    # deleting to the last seq_nr empties the journal but keeps the head
    # ("fully deleted zero-state", FIXTURES.md §4)
    df = make_actions(spark, [append("a", 1), append("a", 2), delete("a", 2)])
    assert _journal_map(df) == {}
    assert _meta_map(df) == {"a": (2, 2)}


def test_delete_overshoot_clamped_to_head(spark):
    # a delete whose watermark exceeds the appended head is clamped to it
    # (ReplicatedCassandra.scala:309-316) — pointer() must not report
    # seq_nrs never appended
    df = make_actions(spark, [append("a", 1), append("a", 2), delete("a", 99)])
    assert _journal_map(df) == {}
    assert _meta_map(df) == {"a": (2, 2)}


def test_delete_only_journal_keeps_raw_watermark(spark):
    # a delete on a journal with no appends creates the head with the raw
    # watermark (ReplicatedCassandra.scala:298-307: seqNr = deleteTo)
    df = make_actions(spark, [delete("a", 7)])
    assert _journal_map(df) == {}
    assert _meta_map(df) == {"a": (7, 7)}


def test_delete_covers_delete(spark):
    # a delete covering an earlier delete replaces it (Batch.scala:94-155)
    df = make_actions(
        spark,
        [append("a", 1), append("a", 2), append("a", 3), delete("a", 2), delete("a", 1)],
    )
    assert _journal_map(df) == {"a": [3]}
    assert _meta_map(df) == {"a": (3, 2)}


def test_purge_erases_everything(spark):
    df = make_actions(spark, [append("a", 1), append("a", 2), purge("a")])
    assert _journal_map(df) == {}
    assert _meta_map(df) == {}


def test_purge_then_fresh_journal(spark):
    # journal restarts after purge; fresh head delete_to = first_seq - 1
    # (ReplicatedCassandra.scala:190-216 events.head.seqNr.prev)
    df = make_actions(
        spark, [append("a", 1), purge("a"), append("a", 2), append("a", 3)]
    )
    assert _journal_map(df) == {"a": [2, 3]}
    assert _meta_map(df) == {"a": (3, 1)}


def test_delete_before_purge_does_not_resurrect(spark):
    df = make_actions(
        spark, [append("a", 1), delete("a", 1), purge("a"), append("a", 2)]
    )
    assert _journal_map(df) == {"a": [2]}
    assert _meta_map(df) == {"a": (2, 1)}


def test_marks_ignored(spark):
    # marks are never replicated (Batch.scala ignores them) but advance pointers
    df = make_actions(spark, [append("a", 1), mark("a"), mark("b")])
    assert _journal_map(df) == {"a": [1]}
    assert _meta_map(df) == {"a": (1, None)}
    ptr = {(r.topic, r.partition): r.offset for r in materialize_pointers(df).collect()}
    assert ptr == {("journal", 0): 2}


def test_keys_are_independent(spark):
    df = make_actions(
        spark,
        [append("a", 1), append("b", 1), purge("a"), delete("b", 1), append("b", 2)],
    )
    assert _journal_map(df) == {"b": [2]}
    assert _meta_map(df) == {"b": (2, 1)}


def test_pointer_covers_all_partitions(spark):
    df = make_actions(
        spark,
        [
            append("a", 1, partition=0, offset=10),
            append("b", 1, partition=1, offset=5),
            mark("b", partition=1, offset=6),
        ],
    )
    ptr = {(r.topic, r.partition): r.offset for r in materialize_pointers(df).collect()}
    assert ptr == {("journal", 0): 10, ("journal", 1): 6}


def test_oracle_segment_fold_matches_spark_on_non_bmp_ids(spark):
    """The DuckDB oracle's Java-hashCode fold must agree with the Spark
    twin for ALL ids, not just BMP: a supplementary-plane character
    (emoji, U+1D11E) folds as its TWO UTF-16 surrogate units on the JVM,
    and the oracle's plain acc*31+codepoint step used to diverge there —
    a latent false-mismatch in every metajournal gate the moment test ids
    widen beyond 'user-<int>'."""
    import duckdb

    from pyspark.sql import functions as F

    from kafka_journal_spark.operators.replicate import meta_segment
    from kafka_journal_spark import SEGMENTS_DEFAULT

    ids = [
        "user-1", "naïve", "emoji-😀-id", "clef-𝄞",
        "mixed-😀𝄞-x", "polygenelubricants",
    ]
    got = {
        r.id: r.seg
        for r in spark.createDataFrame([(i,) for i in ids], "id string")
        .select("id", meta_segment(F.lower(F.col("id")), SEGMENTS_DEFAULT).alias("seg"))
        .collect()
    }
    duck_sql = f"""
    SELECT ABS(list_reduce(
      list_prepend(CAST(0 AS BIGINT),
                   list_transform(string_split(lower(?), ''),
                                  c -> CAST(ascii(c) AS BIGINT))),
      (acc, x) -> ((((CASE WHEN x < 65536 THEN acc * 31 + x
                      ELSE acc * 961 + 31 * (55296 + (x - 65536) // 1024)
                           + 56320 + (x - 65536) % 1024 END)
                     + 2147483648) % 4294967296 + 4294967296) % 4294967296)
                   - 2147483648
    ) % {SEGMENTS_DEFAULT})
    """
    con = duckdb.connect()
    for i in ids:
        d = con.execute(duck_sql, [i]).fetchone()[0]
        assert got[i] == d, (i, got[i], d)
