"""Settings KV store + schema migration (SURVEY.md §2.1 S13/S14).

- ``Settings``: the reference's tiny CRUD KV (``core/.../Settings.scala:9-21``,
  rows ``(key, value, timestamp, origin)`` per ``Setting.scala:5-15``) over a
  single parquet file with atomic swap.
- ``migrate_store``: the reference's SetupSchema flow
  (``SetupSchema.scala:34-100``): CREATE-IF-NOT-EXISTS plus an *ordered,
  idempotent* migration list gated by a ``schema-version`` setting — re-runs
  are no-ops, partial failure resumes at the recorded version.  Spark SQL
  DDL replaces CQL ALTERs; here migrations evolve the store's parquet
  schemas (add-column-with-default is a metadata-only operation in parquet:
  readers supply the default via explicit schema).
"""

from __future__ import annotations

import datetime as dt
import os
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_journal_spark.session import local_frame

SETTINGS_DDL = "key string, value string, timestamp timestamp, origin string"


class Settings:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.path = os.path.join(root, "settings")
        os.makedirs(root, exist_ok=True)

    def _df(self) -> DataFrame:
        from kafka_journal_spark.sources.statestore import _repair_dir

        _repair_dir(self.path)
        if os.path.exists(self.path):
            return self.spark.read.schema(SETTINGS_DDL).parquet(self.path)
        return local_frame(self.spark, [], SETTINGS_DDL)

    def all(self) -> dict[str, str]:
        return {r.key: r.value for r in self._df().collect()}

    def get(self, key: str) -> Optional[str]:
        return self.all().get(key)

    def _swap(self, df: DataFrame) -> None:
        from kafka_journal_spark.sources.statestore import safe_dir_swap

        safe_dir_swap(self.spark, self.path, df, coalesce=1)

    def set(self, key: str, value: str, origin: str = "local") -> None:
        # timezone-AWARE UTC now: the column is TIMESTAMP (instant
        # semantics), and a naive utcnow() would be re-interpreted in the
        # session timezone — off by the UTC offset on any non-UTC driver
        # (utcnow() is also deprecated in Python 3.12+)
        now = dt.datetime.now(dt.timezone.utc)
        new = local_frame(self.spark, [(key, value, now, origin)], SETTINGS_DDL)
        self._swap(self._df().filter(F.col("key") != key).unionByName(new))

    def remove(self, key: str) -> None:
        self._swap(self._df().filter(F.col("key") != key))


SCHEMA_VERSION_KEY = "schema-version"


def migrate_store(
    spark: SparkSession, root: str, migrations: list[Callable[[SparkSession, str], None]]
) -> int:
    """Apply the not-yet-applied suffix of ``migrations`` (ordered), gated by
    the recorded schema version; returns the resulting version.  Mirrors
    ``MigrateSchema.scala:16`` semantics: fresh store -> all migrations,
    partially migrated -> resume, up-to-date -> no-op."""
    settings = Settings(spark, root)
    current = int(settings.get(SCHEMA_VERSION_KEY) or "-1")
    for i, mig in enumerate(migrations):
        if i > current:
            mig(spark, root)
            settings.set(SCHEMA_VERSION_KEY, str(i))
            current = i
    return current
