"""SparkSession factory tuned for this engine, and the one way driver-side
rows enter Spark (``local_frame``).

Local tests run on ``local[N]``; the configs below are the ones that matter at
cluster scale too (AQE, shuffle sizing, Arrow for the pandas-UDF paths).
"""

from __future__ import annotations

import os
from typing import Iterable, Union

from pyspark.sql import DataFrame, SparkSession


def get_spark(app_name: str = "kafka-journal-spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # AQE: runtime coalescing of shuffle partitions + skew-join splitting.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(max(cpus * 2, 16)))
        # Arrow for pandas UDF / toPandas paths (similarity & multimodal ops).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # let a join whose keys are a superset of its children's hash
        # partitioning reuse that partitioning: e_ann_recall joins the
        # exact and approximate top-k lists on (q_id, vec_id), each side
        # already hash-partitioned by q_id for its per-query top-k
        # window; with the default (true) its plan re-shuffles both sides
        # (3 more Exchanges; the other HEADLINE plans are identical)
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
        # split small-but-CPU-dense inputs across the cluster: a map-only
        # operator (e.g. PII scrub — deliberately zero-Exchange) is
        # otherwise serialized onto ONE core when the whole input is a
        # single file under maxPartitionBytes (the sf1 bench caught this:
        # 12.6x at 10x data).  At real scale inputs dwarf maxPartitionBytes
        # and this floor is a no-op; it only bites exactly when needed.
        # (Splitting still lands on row-group boundaries — writers must not
        # produce monolithic row groups; see tools/gen_scale.py.)
        .config("spark.sql.files.minPartitionNum", str(cpus))
        # the 4 MB default openCostInBytes floors split size, so a 6 MB
        # CPU-dense file still lands on 2 cores; 128 KB keeps small-file
        # packing sane while letting minPartitionNum actually take effect
        .config("spark.sql.files.openCostInBytes", str(128 * 1024))
        # InferFiltersFromGenerate adds `size(e)>0 AND isnotnull(e)` above
        # every explode; PushDownPredicates then substitutes the generator
        # input's aliases into that filter cost-blind, so an explode over a
        # computed array (every shingle/gram/probe explode in this engine)
        # re-evaluates the WHOLE array expression twice per row below the
        # scan — measured 33 tokenize evaluations per document on the
        # 8-gram span relation vs 1 after exclusion (plans/r11/
        # d_span_dedup_*).  The rule only ever adds redundant filters
        # (semantics unchanged); none of our generators read stored arrays
        # where the inferred filter could prune a scan.  Scale-independent:
        # this is per-row CPU on every executor at any corpus size.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        .config("spark.sql.session.timeZone", "UTC")
        # the SQL-string expression twins (tokens_spark_sql & co) spell
        # regexes as '\\s+' assuming the DEFAULT escape handling; an
        # environment enabling the legacy escapedStringLiterals flag would
        # silently change every parsed regex and break Column/SQL parity
        # (r11 advice) — pin the determinism-critical conf explicitly
        .config("spark.sql.parser.escapedStringLiterals", "false")
        # local-mode heap serves all executor threads: 8g across 32 tasks
        # is 250 MB each and the sf10 probe logged GCLocker retry warnings
        # under it; 16g keeps headroom while staying far under the
        # container's RAM (cluster deployments size executors explicitly)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def local_frame(
    spark: SparkSession, rows: Iterable[Union[dict, tuple]], ddl: str
) -> DataFrame:
    """A DataFrame of a handful of driver-side rows (dicts, or tuples in DDL
    order) with the exact schema of ``ddl``, built through a
    ``pyarrow.Table``.

    ``spark.createDataFrame(list, ddl)`` pickles the rows into a 4-slice
    Python RDD, so every job over the frame forks Python workers: an empty
    one collects as 1 job of 4 tasks, and a 1-row log append writes with 4
    tasks.  From Arrow the frame is a local relation: collecting it starts
    no job and writing it runs one task.

    Timestamps are instants: pass timezone-aware datetimes.  A naive one is
    read as UTC (Arrow's reading), where ``createDataFrame(list)`` reads it
    in the driver's local zone."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    struct = _parse_datatype_string(ddl)
    rows = list(rows)
    if rows and not isinstance(rows[0], dict):
        names = struct.fieldNames()
        rows = [dict(zip(names, r)) for r in rows]
    table = pa.Table.from_pylist(rows, schema=to_arrow_schema(struct))
    return spark.createDataFrame(table, struct)
