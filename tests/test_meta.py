"""TableStore tests: scheme-qualified roots and schema-free reads."""

from __future__ import annotations


def test_tablestore_scheme_qualified_paths(spark, tmp_path):
    """TableStore must work through the Hadoop FileSystem API on
    scheme-qualified URIs (cluster analog: hdfs:// or s3a:// roots), not
    os.* — markers, exists, read/write/drop all through one scheme."""
    from importtoneo4j_spark.sources.tables import TableStore

    root = f"file://{tmp_path}/store"
    st = TableStore(spark, root)
    assert not st.exists("t1")
    df = spark.range(5).selectExpr("id", "id * 2 AS v")
    st.write(df, "t1")
    assert st.exists("t1")
    assert st.read("t1").count() == 5
    st.write_marker("stagex", {"run_id": "r1", "n": 5})
    assert st.read_marker("stagex") == {"run_id": "r1", "n": 5}
    st.clear_marker("stagex")
    assert st.read_marker("stagex") is None
    st.drop("t1")
    assert not st.exists("t1")


def test_tablestore_reads_skip_schema_inference(spark, spark_jobs, tmp_path):
    """Every table the store writes carries a _schema.json sidecar, so read
    runs 0 Spark jobs (no schema-inference job) and returns the rows of an
    inferred read: flat, partitioned by _run / pred / _bucket, appended to
    (in another column order), promoted, partition-overwritten, and empty.
    A directory without the sidecar still reads by inference."""
    import os

    from importtoneo4j_spark.sources.tables import SCHEMA_FILE, TableStore

    st = TableStore(spark, str(tmp_path / "store"))
    df = spark.createDataFrame(
        [(i, f"p{i % 3}", f"r{i % 2}", i % 4, [f"l{i}"]) for i in range(12)],
        "id long, pred string, _run string, _bucket int, labels array<string>",
    )

    def check(name, n_rows):
        assert os.path.exists(os.path.join(st.path(name), SCHEMA_FILE))
        before = spark_jobs()
        got = st.read(name)
        assert spark_jobs() == before
        # by name: inference takes its column order from whichever file
        # it opens, the sidecar from the write that created the table
        inferred = spark.read.parquet(st.path(name))
        assert sorted(got.columns) == sorted(inferred.columns)
        rows = sorted(got.collect())
        assert rows == sorted(inferred.select(*got.columns).collect())
        assert len(rows) == n_rows

    st.write(df, "flat")
    check("flat", 12)
    for col in ("_run", "pred", "_bucket"):
        st.write(df, f"by{col}", partition_by=[col])
        check(f"by{col}", 12)
    st.write(df, "appended", partition_by=["pred"])
    st.write(
        df.select(*reversed(df.columns)), "appended", mode="append", partition_by=["pred"]
    )
    check("appended", 24)
    st.write(df, "staged", partition_by=["_run"])
    st.promote("staged", "promoted")
    check("promoted", 12)
    st.write(df, "upserted", partition_by=["_bucket"])
    st.overwrite_partitions(
        df.filter("_bucket = 1").withColumn("id", df["id"] + 100), "upserted", ["_bucket"]
    )
    check("upserted", 12)
    assert st.read("upserted").filter("id >= 100").count() == 3
    st.write(df.limit(0), "empty")
    check("empty", 0)

    df.write.parquet(st.path("foreign"))  # written around the store
    assert not os.path.exists(os.path.join(st.path("foreign"), SCHEMA_FILE))
    assert sorted(st.read("foreign").collect()) == sorted(df.collect())
