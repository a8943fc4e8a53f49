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


def test_overwrite_partitions_may_read_its_own_table(spark, tmp_path):
    """A dynamic partition overwrite whose frame reads the table it
    overwrites (the node upsert's shape: a scan of the replaced buckets, a
    shuffle, the write) replaces just those partitions with the new rows
    and leaves every other partition's files byte-identical. The overwrite
    stages its output and swaps the partitions at job commit, after every
    read; a Spark that checked the read path again would fail here."""
    import hashlib
    import os

    from pyspark.sql import functions as F

    from importtoneo4j_spark.sources.tables import TableStore

    st = TableStore(spark, str(tmp_path / "store"))
    df = spark.range(40).selectExpr("id", "CAST(id % 4 AS INT) AS _bucket")
    st.write(df, "t", partition_by=["_bucket"])

    def files():
        root = st.path("t")
        return {
            os.path.relpath(os.path.join(d, f), root): hashlib.md5(
                open(os.path.join(d, f), "rb").read()
            ).hexdigest()
            for d, _, names in os.walk(root)
            for f in names
            if d != root
        }

    before = files()
    stored = st.read("t").filter(F.col("_bucket").isin(1, 2))
    st.overwrite_partitions(
        stored.withColumn("id", F.col("id") + 1000).repartition(3), "t", ["_bucket"]
    )
    got = {(r.id, r._bucket) for r in st.read("t").collect()}
    assert got == {(i + 1000 * (i % 4 in (1, 2)), i % 4) for i in range(40)}
    after = files()
    for bucket in (0, 3):
        kept = {k: v for k, v in before.items() if k.startswith(f"_bucket={bucket}/")}
        assert kept and kept == {k: v for k, v in after.items() if k.startswith(f"_bucket={bucket}/")}
    for bucket in (1, 2):
        prefix = f"_bucket={bucket}/"
        assert not {k for k in before if k.startswith(prefix)} & set(after)
