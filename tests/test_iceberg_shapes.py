"""Iceberg call-shape tests (no Iceberg jar in the sandbox).

sources/tables.py dispatches to the Iceberg DataSourceV2 API when
``iceberg_available(spark)``; this sandbox never satisfies that, so the
branch had zero executed coverage (round-3 VERDICT "What's missing"
item 2). These tests force the branch with recording doubles and pin
the EXACT call shapes the Iceberg runtime expects:

- read: ``spark.read.option("snapshot-id", str(id))
  .option("as-of-timestamp", ts).format("iceberg").load(name)``
  (Iceberg Spark reader options; snapshot pinning is the north-rule
  reproducible-run requirement),
- overwrite: ``df.writeTo(name).createOrReplace()``,
- a name containing "/" is a filesystem path and must take the parquet
  branch even when the Iceberg runtime is present.

Pure-Python doubles — no SparkSession, so this file runs in
milliseconds and in any environment.
"""

from __future__ import annotations

import pytest

from hjsonschema_spark.sources import tables


class FakeReader:
    def __init__(self, calls):
        self.calls = calls

    def option(self, k, v):
        self.calls.append(("option", k, v))
        return self

    def format(self, fmt):
        self.calls.append(("format", fmt))
        return self

    def load(self, name):
        self.calls.append(("load", name))
        return "iceberg-df"

    def parquet(self, path):
        self.calls.append(("parquet", path))
        return "parquet-df"


class FakeSpark:
    def __init__(self):
        self.calls = []

    @property
    def read(self):
        return FakeReader(self.calls)


class FakeWriterV2:
    def __init__(self, calls, name):
        self.calls = calls
        self.name = name

    def createOrReplace(self):
        self.calls.append(("writeTo.createOrReplace", self.name))


class FakeWriterV1:
    def __init__(self, calls):
        self.calls = calls
        self._mode = None

    def mode(self, m):
        self._mode = m
        return self

    def parquet(self, path):
        self.calls.append(("write.parquet", self._mode, path))


class FakeDF:
    def __init__(self):
        self.sparkSession = FakeSpark()
        self.calls = self.sparkSession.calls

    def writeTo(self, name):
        return FakeWriterV2(self.calls, name)

    @property
    def write(self):
        return FakeWriterV1(self.calls)


@pytest.fixture
def iceberg_on(monkeypatch):
    monkeypatch.setattr(tables, "iceberg_available", lambda spark: True)


@pytest.fixture
def iceberg_off(monkeypatch):
    monkeypatch.setattr(tables, "iceberg_available", lambda spark: False)


def test_read_snapshot_pin_shape(iceberg_on):
    spark = FakeSpark()
    out = tables.read_table(spark, "catalog.db.transcripts", snapshot_id=4216)
    assert out == "iceberg-df"
    assert spark.calls == [
        ("option", "snapshot-id", "4216"),  # str() — Iceberg option is string-typed
        ("format", "iceberg"),
        ("load", "catalog.db.transcripts"),
    ]


def test_read_as_of_timestamp_shape(iceberg_on):
    spark = FakeSpark()
    tables.read_table(spark, "db.t", as_of="1787100000000")
    assert spark.calls == [
        ("option", "as-of-timestamp", "1787100000000"),
        ("format", "iceberg"),
        ("load", "db.t"),
    ]


def test_read_unpinned_shape(iceberg_on):
    spark = FakeSpark()
    tables.read_table(spark, "db.t")
    assert spark.calls == [("format", "iceberg"), ("load", "db.t")]


def test_read_path_takes_parquet_branch_even_with_iceberg(iceberg_on):
    spark = FakeSpark()
    out = tables.read_table(spark, "/data/transcripts", snapshot_id=1)
    assert out == "parquet-df"
    assert spark.calls == [("parquet", "/data/transcripts")]


def test_read_parquet_fallback_without_iceberg(iceberg_off):
    spark = FakeSpark()
    assert tables.read_table(spark, "db.t") == "parquet-df"
    assert spark.calls == [("parquet", "db.t")]


def test_overwrite_shape(iceberg_on):
    df = FakeDF()
    tables.overwrite_table(df, "db.violations")
    assert df.calls == [("writeTo.createOrReplace", "db.violations")]


def test_overwrite_path_parquet_even_with_iceberg(iceberg_on):
    df = FakeDF()
    tables.overwrite_table(df, "/out/violations")
    assert df.calls == [("write.parquet", "overwrite", "/out/violations")]
