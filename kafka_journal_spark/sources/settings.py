"""Settings KV store + schema migration (SURVEY.md §2.1 S13/S14).

- ``Settings``: the reference's tiny CRUD KV (``core/.../Settings.scala:9-21``,
  rows ``(key, value, timestamp, origin)`` per ``Setting.scala:5-15``) as a
  one-file manifest table (``sources/manifest.py``): every ``set`` /
  ``remove`` stages the whole table and swaps it in through the manifest,
  so a read planned before a write still scans its own snapshot.
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
from kafka_journal_spark.sources.manifest import ManifestTable

SETTINGS_DDL = "key string, value string, timestamp timestamp, origin string"


class Settings:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.table = ManifestTable(root, "settings")
        os.makedirs(root, exist_ok=True)

    def _df(self) -> DataFrame:
        return self.table.read(self.spark, SETTINGS_DDL)

    def all(self) -> dict[str, str]:
        return {r.key: r.value for r in self._df().collect()}

    def get(self, key: str) -> Optional[str]:
        return self.all().get(key)

    def _swap(self, df: DataFrame) -> None:
        self.table.commit_swap(self.table.stage(df, coalesce=1), None)

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
