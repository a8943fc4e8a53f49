"""Thin table-store abstraction: Iceberg when a catalog is configured,
parquet directories otherwise (no Iceberg jar in the sandbox — SURVEY.md §7
hard part 4).

Replaces the reference's embedded-Neo4j store handle
(VariantDatabase.java:84-93 startDatabase / Main.java:47-55 destructive
re-create). The pipeline's stages only ever add to a table (``append``,
``overwrite_partitions``) or replace a table they fully recompute
(``overwrite``, ``promote``), and delete the partitions of runs that never
completed (``drop_partitions``); its rebuild — the reference's ``-n`` — is
``drop`` of every table followed by the same appends. Appending to, or
overwriting partitions of, a table that does not exist creates it.

All filesystem access goes through the Hadoop FileSystem API resolved from
the path's scheme (file://, hdfs://, s3a://, ...) — never ``os.*`` — so the
same store works against local disks in tests and object stores on a
cluster. Markers are small JSON objects written through FSDataOutputStream.

Every parquet table carries a schema sidecar, ``<table>/_schema.json``: the
schema a read of the table returns (the written frame's fields, partition
columns last). ``read`` hands it to
``spark.read.schema``, so opening a table runs no schema-inference job,
and a partitioned table that holds no rows (an empty write creates no
partition directory) still reads as an empty frame with its columns; a
table without the sidecar is read by inference. The sidecar cannot go
stale: an overwrite deletes the directory (sidecar included) before the new
data lands, appends and partition overwrites keep the schema, ``promote``
renames the directory with the sidecar inside, and Spark's file index skips
``_``-prefixed files.
"""

from __future__ import annotations

import json
import posixpath
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

SCHEMA_FILE = "_schema.json"


def _have_iceberg(spark: SparkSession) -> bool:
    try:
        return bool(spark.conf.get("spark.sql.catalog.kg", None))
    except Exception:
        return False


def _table_schema(df: DataFrame, partition_by: list[str] | None) -> StructType:
    """``df``'s fields in the order a parquet read of the written table
    returns them: partition columns last. (A file-source read makes every
    field nullable whatever the schema says, as an inferred read does.)"""
    pcols = partition_by or []
    return StructType(
        [f for f in df.schema if f.name not in pcols] + [df.schema[c] for c in pcols]
    )


class TableStore:
    """Named tables under a root directory (or an Iceberg catalog namespace)."""

    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.root = root
        self.iceberg = _have_iceberg(spark)
        if not self.iceberg:
            fs, hp = self._fs(root)
            fs.mkdirs(hp)

    # ------------------------------------------------------------- hadoop fs
    def _fs(self, path: str):
        """(FileSystem, Path) for ``path``, resolved by scheme — the
        cluster-safe replacement for os.path/os.listdir (VERDICT r1 §wrong 4:
        local-fs-only ``exists`` breaks under hdfs:///s3:// the moment the
        parquet fallback runs on a cluster)."""
        jvm = self.spark._jvm
        hp = jvm.org.apache.hadoop.fs.Path(path)
        fs = hp.getFileSystem(self.spark._jsc.hadoopConfiguration())
        return fs, hp

    def path(self, name: str) -> str:
        return posixpath.join(self.root, name)

    def exists(self, name: str) -> bool:
        if self.iceberg:
            return self.spark.catalog.tableExists(f"kg.db.{name}")
        fs, hp = self._fs(self.path(name))
        if not fs.exists(hp) or not fs.getFileStatus(hp).isDirectory():
            return False
        # the sidecar: a dynamic partition overwrite that creates a table
        # leaves no _SUCCESS at its root
        for meta in (SCHEMA_FILE, "_SUCCESS"):
            if fs.exists(self._fs(posixpath.join(self.path(name), meta))[1]):
                return True
        return any(st.getPath().getName().endswith(".parquet") for st in fs.listStatus(hp))

    def write(
        self,
        df: DataFrame,
        name: str,
        mode: str = "overwrite",
        partition_by: list[str] | None = None,
    ) -> None:
        if self.iceberg:
            if mode == "append" and self.exists(name):
                # append inherits the existing table's partition spec
                df.writeTo(f"kg.db.{name}").append()
                return
            w = df.writeTo(f"kg.db.{name}")
            if partition_by:
                from pyspark.sql.functions import col

                w = w.partitionedBy(*[col(c) for c in partition_by])
            w.createOrReplace()
            return
        w = df.write.mode(mode)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self.path(name))
        self._save_schema(df, name, partition_by, replace=mode == "overwrite")

    def drop(self, name: str) -> None:
        if self.iceberg:
            self.spark.sql(f"DROP TABLE IF EXISTS kg.db.{name}")
            return
        fs, hp = self._fs(self.path(name))
        fs.delete(hp, True)

    def promote(self, src: str, dst: str) -> None:
        """Install a staged sibling table as ``dst`` by DIRECTORY RENAME
        instead of a second full write (round 6): the old read-modify-rewrite
        staging paid the table's bytes twice per update AND could tear the
        destination if the process died mid-rewrite (ADVICE r5 medium: a
        torn 'extracted' still passed exists() and a resumed append silently
        dropped rows). Rename is atomic on HDFS and local filesystems; if a
        crash lands between delete and rename the destination is MISSING —
        a loud failure the resume path falls back from — never torn. (On
        object stores without atomic rename, S3A implements rename as
        copy+delete; the loud-failure property still holds because the
        destination only appears after the copy completes.)"""
        if self.iceberg:
            # a rename keeps the source's partition spec (CREATE OR REPLACE
            # ... AS SELECT would drop it, and a later overwritePartitions
            # on the unpartitioned table would replace the whole table)
            self.spark.sql(f"DROP TABLE IF EXISTS kg.db.{dst}")
            self.spark.sql(f"ALTER TABLE kg.db.{src} RENAME TO kg.db.{dst}")
            return
        fs, dst_hp = self._fs(self.path(dst))
        fs.delete(dst_hp, True)
        _, src_hp = self._fs(self.path(src))
        if not fs.rename(src_hp, dst_hp):
            raise IOError(f"promote: rename {src} -> {dst} failed")

    def overwrite_partitions(
        self, df: DataFrame, name: str, partition_by: list[str]
    ) -> None:
        """Partition-scoped upsert (round 6, VERDICT r5 #4): rewrite ONLY the
        partition directories present in ``df``; untouched partitions keep
        their files byte-identical (contract-tested). Parquet: Spark's
        dynamic partitionOverwriteMode stages the job output and swaps just
        the matched partition dirs at commit; the mode is a writer option,
        so it never leaks to writes running concurrently in the same
        session. Iceberg: overwritePartitions. A missing table is created
        partitioned by ``partition_by``.
        ``df`` may read ``name`` itself: the dynamic overwrite stages its
        output and replaces the partitions only at job commit, after every
        read (tests/test_meta.py pins this)."""
        if self.iceberg:
            if self.exists(name):
                df.writeTo(f"kg.db.{name}").overwritePartitions()
            else:
                self.write(df, name, partition_by=partition_by)
            return
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*partition_by)
            .parquet(self.path(name))
        )
        self._save_schema(df, name, partition_by, replace=False)

    def drop_partitions(self, name: str, col: str, keep: list[str]) -> None:
        """Delete every partition of ``name`` whose ``col`` value is not in
        ``keep``; a missing table is left missing. Parquet deletes the
        ``col=<value>`` directories, matching the DECODED value (Spark
        %-escapes special characters in partition directory names, so a
        run id with ':' is stored as ``%3A``). Iceberg deletes the rows,
        which on a partition column is a metadata-only delete."""
        if self.iceberg:
            if self.exists(name):
                lits = ", ".join(
                    "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'" for v in keep
                )
                where = f"{col} NOT IN ({lits})" if keep else "true"
                self.spark.sql(f"DELETE FROM kg.db.{name} WHERE {where}")
            return
        fs, hp = self._fs(self.path(name))
        if not fs.exists(hp):
            return
        prefix = f"{col}="
        for st in fs.listStatus(hp):
            part = st.getPath().getName()
            if part.startswith(prefix) and unquote(part[len(prefix):]) not in keep:
                fs.delete(st.getPath(), True)

    def read(self, name: str) -> DataFrame:
        if self.iceberg:
            return self.spark.read.table(f"kg.db.{name}")
        schema = self._read_json(self._schema_path(name))
        if schema is None:
            return self.spark.read.parquet(self.path(name))
        return self.spark.read.schema(StructType.fromJson(schema)).parquet(
            self.path(name)
        )

    # ---------------------------------------------------------- schema sidecar
    def _schema_path(self, name: str) -> str:
        return posixpath.join(self.path(name), SCHEMA_FILE)

    def _save_schema(
        self,
        df: DataFrame,
        name: str,
        partition_by: list[str] | None,
        replace: bool,
    ) -> None:
        """Record the table's read schema after a write. An append or a
        partition overwrite keeps the sidecar the table already has."""
        path = self._schema_path(name)
        if not replace:
            fs, hp = self._fs(path)
            if fs.exists(hp):
                return
        self._write_json(path, _table_schema(df, partition_by).jsonValue())

    # --------------------------------------------------------------- markers
    def marker_path(self, name: str) -> str:
        return posixpath.join(self.root, f"_{name}.COMPLETE.json")

    def write_marker(self, name: str, payload: dict) -> None:
        self._write_json(self.marker_path(name), payload)

    def read_marker(self, name: str) -> dict | None:
        return self._read_json(self.marker_path(name))

    def clear_marker(self, name: str) -> None:
        fs, hp = self._fs(self.marker_path(name))
        fs.delete(hp, False)

    # ------------------------------------------------------------ json files
    def _write_json(self, path: str, payload: dict) -> None:
        fs, hp = self._fs(path)
        out = fs.create(hp, True)
        try:
            out.write(bytearray(json.dumps(payload, sort_keys=True).encode("utf-8")))
        finally:
            out.close()

    def _read_json(self, path: str) -> dict | None:
        fs, hp = self._fs(path)
        if not fs.exists(hp):
            return None
        jvm = self.spark._jvm
        reader = jvm.java.io.BufferedReader(
            jvm.java.io.InputStreamReader(fs.open(hp), "UTF-8")
        )
        try:
            chunks = []
            while True:
                line = reader.readLine()
                if line is None:
                    break
                chunks.append(line)
        finally:
            reader.close()
        return json.loads("\n".join(chunks))
