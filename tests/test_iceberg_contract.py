"""Contract tests for the Iceberg branch of TableStore (VERDICT r3 #3).

No Iceberg jar exists in this sandbox, so the catalog code path
(`sources/tables.py` writeTo/createOrReplace/partitionedBy/append/
overwritePartitions/read.table/tableExists/DROP TABLE/ALTER TABLE RENAME/
DELETE FROM) could never run — the first user on a real catalog would be
the first execution. These tests pin the exact call
sequences and table names against recording fakes, so any signature drift
(a renamed method, a wrong catalog prefix, a lost partition column) fails
in CI instead of on a user's cluster. The parquet fallback is covered by
every other suite; `_have_iceberg` switching is covered here too.
"""

from __future__ import annotations

import pytest

from importtoneo4j_spark.sources.tables import TableStore, _have_iceberg


class Recorder:
    """Chainable method recorder: every call returns self and is logged as
    (method, args)."""

    def __init__(self, log, prefix=""):
        self.log = log
        self.prefix = prefix

    def __getattr__(self, item):
        def call(*args, **kwargs):
            self.log.append((f"{self.prefix}{item}", args, kwargs))
            return self

        return call


class FakeConf:
    def __init__(self, mapping):
        self.mapping = mapping

    def get(self, key, default=None):
        return self.mapping.get(key, default)


class FakeCatalog:
    def __init__(self, log, existing):
        self.log = log
        self.existing = existing

    def tableExists(self, name):
        self.log.append(("catalog.tableExists", (name,), {}))
        return name in self.existing


class FakeRead:
    def __init__(self, log):
        self.log = log

    def table(self, name):
        self.log.append(("read.table", (name,), {}))
        return f"df:{name}"


class FakeSpark:
    def __init__(self, existing=()):
        self.log = []
        self.conf = FakeConf({"spark.sql.catalog.kg": "org.apache.iceberg.spark.SparkCatalog"})
        self.catalog = FakeCatalog(self.log, set(existing))
        self.read = FakeRead(self.log)

    def sql(self, q):
        self.log.append(("sql", (q,), {}))


class FakeDF:
    def __init__(self, log):
        self.log = log

    def writeTo(self, name):
        self.log.append(("writeTo", (name,), {}))
        return Recorder(self.log, prefix="writeTo.")


def calls(log):
    return [c[0] for c in log]


def test_have_iceberg_detection():
    assert _have_iceberg(FakeSpark()) is True

    class NoCatalog:
        conf = FakeConf({})

    assert _have_iceberg(NoCatalog()) is False


def test_write_overwrite_is_create_or_replace():
    fs = FakeSpark()
    store = TableStore(fs, "ignored-root")
    assert store.iceberg is True
    store.write(FakeDF(fs.log), "triples")
    assert fs.log[0] == ("writeTo", ("kg.db.triples",), {})
    assert calls(fs.log)[1:] == ["writeTo.createOrReplace"]


def test_write_overwrite_partitioned(spark):
    # needs the real session only for Column construction in partitionedBy
    fs = FakeSpark()
    store = TableStore(fs, "ignored-root")
    store.write(FakeDF(fs.log), "triples", partition_by=["pred"])
    names = calls(fs.log)
    assert names == ["writeTo", "writeTo.partitionedBy", "writeTo.createOrReplace"]
    (pcols, _) = fs.log[1][1:]
    assert "pred" in str(pcols[0])


def test_write_append_never_replaces():
    fs = FakeSpark(existing=["kg.db.links"])
    store = TableStore(fs, "ignored-root")
    store.write(FakeDF(fs.log), "links", mode="append")
    assert calls(fs.log) == ["catalog.tableExists", "writeTo", "writeTo.append"]
    assert fs.log[1] == ("writeTo", ("kg.db.links",), {})
    assert "writeTo.createOrReplace" not in calls(fs.log)


def test_write_append_creates_missing_table(spark):
    """A rebuild appends onto an empty store: append to a missing table
    creates it with its partition spec (writeTo().append() would fail)."""
    fs = FakeSpark()
    store = TableStore(fs, "ignored-root")
    store.write(FakeDF(fs.log), "extracted", mode="append", partition_by=["_run"])
    assert calls(fs.log) == [
        "catalog.tableExists",
        "writeTo",
        "writeTo.partitionedBy",
        "writeTo.createOrReplace",
    ]
    assert fs.log[1] == ("writeTo", ("kg.db.extracted",), {})
    assert "_run" in str(fs.log[2][1][0])


def test_overwrite_partitions_existing_and_missing(spark):
    fs = FakeSpark(existing=["kg.db.nodes"])
    store = TableStore(fs, "ignored-root")
    store.overwrite_partitions(FakeDF(fs.log), "nodes", ["_bucket"])
    assert calls(fs.log) == ["catalog.tableExists", "writeTo", "writeTo.overwritePartitions"]

    fs = FakeSpark()
    store = TableStore(fs, "ignored-root")
    store.overwrite_partitions(FakeDF(fs.log), "lineage", ["run_id"])
    assert calls(fs.log) == [
        "catalog.tableExists",
        "writeTo",
        "writeTo.partitionedBy",
        "writeTo.createOrReplace",
    ]
    assert "run_id" in str(fs.log[2][1][0])


def test_promote_keeps_partition_spec():
    """promote renames the staged table (its partition spec travels with
    it); CREATE OR REPLACE ... AS SELECT would drop the spec, and the next
    overwritePartitions would then replace the whole table."""
    fs = FakeSpark()
    store = TableStore(fs, "ignored-root")
    store.promote("nodes_enriched", "nodes")
    assert fs.log == [
        ("sql", ("DROP TABLE IF EXISTS kg.db.nodes",), {}),
        ("sql", ("ALTER TABLE kg.db.nodes_enriched RENAME TO kg.db.nodes",), {}),
    ]


def test_drop_partitions_deletes_unkept_runs():
    """Orphan-run cleanup on Iceberg is a row delete on the run column (a
    metadata-only delete on a partition column); a missing table is left
    alone, and an empty keep list deletes every row."""
    fs = FakeSpark(existing=["kg.db.extracted", "kg.db.lineage"])
    store = TableStore(fs, "ignored-root")
    store.drop_partitions("extracted", "_run", ["r1", "it's"])
    store.drop_partitions("lineage", "run_id", [])
    store.drop_partitions("triples", "_run", ["r1"])
    assert [c for c in fs.log if c[0] == "sql"] == [
        ("sql", ("DELETE FROM kg.db.extracted WHERE _run NOT IN ('r1', 'it\\'s')",), {}),
        ("sql", ("DELETE FROM kg.db.lineage WHERE true",), {}),
    ]
    assert ("catalog.tableExists", ("kg.db.triples",), {}) in fs.log


def test_read_exists_drop_roundtrip():
    fs = FakeSpark(existing=["kg.db.nodes"])
    store = TableStore(fs, "ignored-root")
    assert store.read("nodes") == "df:kg.db.nodes"
    assert store.exists("nodes") is True
    assert store.exists("ghost") is False
    store.drop("nodes")
    assert ("read.table", ("kg.db.nodes",), {}) in fs.log
    assert ("catalog.tableExists", ("kg.db.nodes",), {}) in fs.log
    assert ("sql", ("DROP TABLE IF EXISTS kg.db.nodes",), {}) in fs.log


def test_parquet_fallback_unaffected(spark, tmp_path):
    """A session without the kg catalog conf stays on the parquet path."""
    store = TableStore(spark, str(tmp_path / "store"))
    assert store.iceberg is False
    df = spark.range(3).toDF("x")
    store.write(df, "t")
    assert store.exists("t")
    assert store.read("t").count() == 3
