"""Lifecycle tests: append-mode re-runs, mid-stage resume, streaming
incremental extraction (FIXTURES.md §4 rerun_idempotent / resume_mid_stage)."""

from __future__ import annotations

import glob
import os
import re
import shutil

import pytest
from pyspark.sql import functions as F

from importtoneo4j_spark.datagen import TranscriptGenerator
from importtoneo4j_spark.operators.materialize import row_hash_xor
from importtoneo4j_spark.plans.pipeline import RUN_TABLES, STAGES, KGPipeline


@pytest.fixture(scope="module")
def data(tmp_path_factory):
    gen = TranscriptGenerator(seed=7, n_entities=60)
    path = str(tmp_path_factory.mktemp("lcdata") / "t")
    gen.write_parquet(path, n_convs=30)
    return path


@pytest.fixture(scope="module")
def data_store(spark, data, tmp_path_factory):
    """(pipeline, metrics) of a run r1 over ``data``, built once. Tests
    only read it; one that writes works on a ``copy_store`` copy."""
    pipe = KGPipeline(spark, data, str(tmp_path_factory.mktemp("lcbase") / "kg"), run_id="r1")
    return pipe, pipe.run(resume=False)


@pytest.fixture(scope="module")
def superset(spark, tmp_path_factory):
    """The _superset_inputs corpora, by conversation count."""
    sizes = [0, 10, 20, 30]
    return dict(zip(sizes, _superset_inputs(spark, tmp_path_factory.mktemp("sup"), sizes)))


@pytest.fixture(scope="module")
def seeded_store(spark, superset, tmp_path_factory):
    """A run r1 over the 10-conversation superset input, built once."""
    work = str(tmp_path_factory.mktemp("seeded") / "kg")
    KGPipeline(spark, superset[10], work, run_id="r1").run(resume=False)
    return work


@pytest.fixture
def seeded(seeded_store, tmp_path):
    """The test's own copy of the seeded store."""
    return copy_store(seeded_store, tmp_path)


@pytest.fixture(scope="module")
def rebuilt(spark, superset, tmp_path_factory):
    """rebuilt(n) -> (pipeline, metrics) of a rebuild of the n-conversation
    superset input under run_id "fresh", built on first use. Read only."""
    built = {}

    def get(n):
        if n not in built:
            work = str(tmp_path_factory.mktemp(f"rebuild{n}") / "kg")
            pipe = KGPipeline(spark, superset[n], work, run_id="fresh")
            built[n] = pipe, pipe.run(resume=False)
        return built[n]

    return get


def copy_store(src, tmp_path, name="kg") -> str:
    """A private copy of a shared store, for a test that writes to it."""
    dst = str(tmp_path / name)
    shutil.copytree(src, dst)
    return dst


def global_checksum(df, cols) -> str:
    """Order-insensitive checksum of ``cols``, "<rows>:<row_hash_xor>"."""
    row = df.select(row_hash_xor(cols).alias("x"), F.count("*").alias("n")).first()
    return f"{row['n']}:{row['x']}"


def test_append_same_input_is_noop(spark, data, data_store, tmp_path):
    """Second run (new run_id, append mode) over the same input must leave
    the triple set unchanged — the anti-join delta is empty
    (Main.java:73-76 / delta sink semantics)."""
    p1, m1 = data_store
    work = copy_store(p1.workdir, tmp_path)
    n1 = m1["materialize"]["triples"]

    p2 = KGPipeline(spark, data, work, run_id="r2", mode="append")
    for s in ["ingest", "extract", "link", "canonicalize"]:
        p2.store.clear_marker(s)
    # the materialize marker stays: it carries imported_runs and the
    # imported assertion total the append builds on
    m2 = p2.run(resume=False)
    assert m2["materialize"]["triples"] == n1
    assert _run_triples(p2, "r2") == 0  # the run's delta partition is empty
    # the append extracts the (here empty) watermark delta only — yet the
    # inventory it reports is identical to the overwrite run's
    assert m2["extract"]["assertions"] == m1["extract"]["assertions"]


def _superset_inputs(spark, root, sizes):
    """Write one transcript input per size; the generator is prefix-stable,
    so larger inputs are supersets. Size 0 writes an empty input."""
    from importtoneo4j_spark.schemas import TRANSCRIPTS

    inputs = []
    for n in sizes:
        path = str(root / f"in{n}")
        if n:
            TranscriptGenerator(seed=11, n_entities=40).write_parquet(path, n_convs=n)
        else:
            spark.createDataFrame([], TRANSCRIPTS).write.parquet(path)
        inputs.append(path)
    return inputs


def _assert_unmixed_layout(work):
    """Every triples file sits in a _run=<id>/pred=<p> directory (partition
    directories next to flat files are a layout partition discovery
    rejects, or silently drops rows from). Returns the run ids that hold
    triples."""
    root = os.path.join(work, "triples")
    rels = [
        os.path.relpath(f, root)
        for f in glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)
    ]
    for rel in rels:
        assert re.fullmatch(r"_run=[^/]+/pred=[^/]+/[^/]+\.parquet", rel), rel
    return {rel.split(os.sep)[0][len("_run="):] for rel in rels}


def _run_triples(pipe, run_id):
    """Rows in one run's _run partition of triples: the triples that run
    added (the reference's new-keys delta sink)."""
    return pipe.store.read("triples").filter(F.col("_run") == run_id).count()


def _assert_lineage_per_run(pipe):
    """Each run's lineage row describes its own _run partition of triples,
    by count and checksum, and the rows sum (count) and xor (checksum) to
    the materialize marker's figures. Returns the runs that have a row:
    exactly the runs that hold triples."""
    rows = pipe.lineage().collect()
    runs = [r["run_id"] for r in rows]
    assert len(runs) == len(set(runs))  # one row per run
    triples = pipe.store.read("triples")
    held = {r[0] for r in triples.select("_run").distinct().collect()}
    assert set(runs) == held
    x = None
    for r in rows:
        part = triples.filter(F.col("_run") == r["run_id"])
        assert global_checksum(part, ["subj", "pred", "obj"]) == (
            f"{r['output_rows']}:{r['checksum']}"
        ), r["run_id"]
        x = int(r["checksum"]) ^ (x or 0)
    marker = pipe.store.read_marker("materialize")
    assert marker["checksum"] == f"{sum(r['output_rows'] for r in rows)}:{x}"
    assert marker["triples"] == sum(r["output_rows"] for r in rows)
    return set(runs)


def _assert_links_unique(pipe):
    """``links`` holds each surface once across every run's partition: a
    run appends only the surfaces the stored vocabulary lacks. The node
    aggregates rely on it (``canonical_nodes`` counts n_surfaces as rows,
    and a surface twice would double its n_mentions)."""
    dup = pipe._full("links").groupBy("surface").count().filter(F.col("count") > 1)
    assert dup.count() == 0, dup.limit(5).collect()


def test_append_layout_survives_new_session(spark, superset, rebuilt, tmp_path):
    """The triples layout does not depend on session state: an empty-input
    rebuild writes no triples file, and an append run in a new Spark
    session (its own catalog and SQL conf) onto it writes every triple into
    its own _run/pred directories — no flat files — with the materialize
    marker counting exactly the rows the table holds, and the graph equal
    to a rebuild of the same input."""
    full = superset[20]
    work = str(tmp_path / "kg")
    p1 = KGPipeline(spark, superset[0], work, run_id="r1")
    assert p1.run(resume=False)["materialize"]["triples"] == 0
    assert _assert_unmixed_layout(work) == set()

    p2 = KGPipeline(spark.newSession(), full, work, run_id="r2", mode="append")
    m = p2.run(resume=False)
    assert _assert_unmixed_layout(work) == {"r2"}
    marker = p2.store.read_marker("materialize")
    assert marker["triples"] == p2.triples().count() == _run_triples(p2, "r2") > 0

    want = rebuilt(20)[1]["materialize"]
    assert m["materialize"]["checksum"] == want["checksum"]
    assert m["materialize"]["nodes"] == want["nodes"]


def test_double_append_after_demotion_stays_flat(spark, superset, rebuilt, tmp_path):
    """Two appends onto an empty-input rebuild: each writes its triples
    into its own _run partition, unmixed with flat files, so the table
    holds exactly the sum of the two deltas (no row lost or counted twice)
    and base + two appends equals a rebuild over the union."""
    work = str(tmp_path / "kg")
    KGPipeline(spark, superset[0], work, run_id="r1").run(resume=False)
    n = 0
    for run_id, path in [("r2", superset[20]), ("r3", superset[30])]:
        pn = KGPipeline(spark, path, work, run_id=run_id, mode="append")
        m = pn.run(resume=False)
        n += _run_triples(pn, run_id)
        assert run_id in _assert_unmixed_layout(work)
    assert pn.triples().count() == n  # nothing silently dropped
    assert pn.store.read_marker("materialize")["triples"] == n

    want = rebuilt(30)[1]["materialize"]
    assert m["materialize"]["checksum"] == want["checksum"]
    assert m["materialize"]["nodes"] == want["nodes"] == pn.nodes().count()


def test_two_appends_match_rebuild(spark, superset, seeded, rebuilt):
    """A 10-conversation base plus two superset appends equals a rebuild
    over the union. Each run's triples land in its own _run partition,
    unmixed with flat files, and the materialize marker counts exactly the
    rows the table holds (nothing silently dropped). The empty-base case
    is test_double_append_after_demotion_stays_flat."""
    work = seeded
    runs = {"r1"}
    for run_id, path in [("r2", superset[20]), ("r3", superset[30])]:
        pn = KGPipeline(spark, path, work, run_id=run_id, mode="append")
        m = pn.run(resume=False)
        runs.add(run_id)
        assert _assert_unmixed_layout(work) == runs
        assert pn.store.read_marker("materialize")["triples"] == pn.triples().count()
        assert _assert_lineage_per_run(pn) == runs
        _assert_links_unique(pn)

    fresh, metrics = rebuilt(30)
    _assert_links_unique(fresh)
    want = metrics["materialize"]
    assert m["materialize"]["checksum"] == want["checksum"]
    assert m["materialize"]["nodes"] == want["nodes"] == pn.nodes().count()


def test_materialize_retry_same_run_id_reports_rebuild(spark, superset, seeded, rebuilt):
    """A crash after the append's lineage write but before its materialize
    marker, retried under the same run_id: only materialize reruns, it
    reports the checksum, node count and mention total of a rebuild of the
    superset, and lineage holds that run_id's row exactly once (a second
    append of it used to double the count and cancel the xor checksum to
    0). The retry folds, so its row is the only one, as its partition is
    the only one of triples."""
    full, work = superset[20], seeded
    _crashed_append(spark, full, work, "r2", "materialize")

    retry = KGPipeline(spark, full, work, run_id="r2", mode="append")
    m = retry.run()
    assert not m.get("skipped")
    assert all(m[s].get("resumed") for s in ("ingest", "extract", "link", "canonicalize"))
    fresh, want = rebuilt(20)
    want = want["materialize"]
    assert m["materialize"]["checksum"] == want["checksum"]
    assert m["materialize"]["nodes"] == want["nodes"] == retry.nodes().count()
    # the node upsert is not repeated: mention counts are not added twice
    mentions = F.sum("n_mentions")
    assert retry.nodes().agg(mentions).first() == fresh.nodes().agg(mentions).first()

    assert _assert_lineage_per_run(retry) == {"r2"}
    _assert_links_unique(retry)


def _crashed_append(spark, path, work, run_id, last, **kw):
    """An append of ``path`` that dies after stage ``last``: every stage up
    to it ran (after materialize: every write, but not its marker), and the
    materialize marker still names only the runs imported before it."""
    crashed = KGPipeline(spark, path, work, run_id=run_id, mode="append", **kw)
    pre_append = crashed.store.read_marker("materialize")
    for stage in STAGES[: STAGES.index(last) + 1]:
        getattr(crashed, f"stage_{stage}")()
    crashed.store.write_marker("materialize", pre_append)  # the crash


@pytest.mark.parametrize(
    "last, retry_id, resume",
    [
        pytest.param("link", "r3", True, id="after_link-new_run_id"),
        pytest.param("canonicalize", "r3", True, id="before_materialize-new_run_id"),
        pytest.param("materialize", "r3", True, id="after_materialize-new_run_id"),
        pytest.param("materialize", "r2", False, id="after_materialize-same_run_id_no_resume"),
    ],
)
def test_append_retry_matches_rebuild(spark, superset, seeded, rebuilt, last, retry_id, resume):
    """An append that dies after stage ``last`` (after materialize: after
    every write — watermarks, triples, the node upsert, lineage — but
    before its marker), retried under a new run_id or under the same run_id
    without resume. Its run never reached imported_runs, so the retry
    deletes its partitions: its watermarks do not hide its turns from the
    retry, its delta is not counted twice, and the retry does not merge
    onto its node upsert. Assertions, extracted rows, checksum, nodes,
    mention total equal a rebuild of the superset, each run's lineage row
    describes its own triples, every run-scoped table holds partitions of
    the imported runs only, and a later append of the same input adds
    nothing."""
    full, work = superset[20], seeded
    _crashed_append(spark, full, work, "r2", last)

    retry = KGPipeline(spark, full, work, run_id=retry_id, mode="append")
    m = retry.run(resume=resume)
    fresh, want = rebuilt(20)
    n = want["extract"]["assertions"]
    assert m["extract"]["assertions"] == retry._full("extracted").count() == n
    assert m["materialize"]["checksum"] == want["materialize"]["checksum"]
    assert m["materialize"]["nodes"] == want["materialize"]["nodes"] == retry.nodes().count()
    mentions = F.sum("n_mentions")
    assert retry.nodes().agg(mentions).first() == fresh.nodes().agg(mentions).first()
    runs = sorted({"r1", retry_id})
    assert retry.store.read_marker("materialize")["imported_runs"] == runs
    assert m["link"]["vocab"] == want["link"]["vocab"] == retry._full("vocab").count()
    # triples and lineage aside: a retry that folds rewrites them into its
    # own partition
    for name in RUN_TABLES.keys() - {"triples", "lineage"}:
        if name == "link_retractions" and not retry.store.exists(name):
            continue  # created by the first run that retracts an LSH edge
        got = retry.store.read(name).select(RUN_TABLES[name]).distinct().collect()
        assert sorted(r[0] for r in got) == runs, name
    lineage_runs = _assert_lineage_per_run(retry)
    assert retry_id in lineage_runs and lineage_runs <= set(runs)
    _assert_links_unique(retry)

    again = KGPipeline(spark, full, work, run_id="r4", mode="append")
    m4 = again.run()
    assert m4["extract"]["assertions"] == n
    assert m4["materialize"]["checksum"] == want["materialize"]["checksum"]
    assert _run_triples(again, "r4") == 0


def test_materialize_job_budget(spark, spark_jobs, superset, seeded, monkeypatch):
    """An append's materialize runs at most 19 Spark jobs on a small store:
    it writes the run's lineage row from its triples write and reads the
    totals back from the per-run rows, it neither rescans the whole
    triples table nor rebuilds a schema registry (that form ran 32), its
    node upsert takes no local checkpoint (that form ran 27), its
    exactly-once guard anti-joins the stored triple keys with no subject
    semi-join first, and n_surfaces is one aggregate, not a countDistinct
    (with both, it ran 25)."""
    full, work = superset[20], seeded
    _crashed_append(spark, full, work, "r2", "canonicalize")
    pipe = KGPipeline(spark, full, work, run_id="r2", mode="append")

    def refuse(*_a, **_k):
        raise AssertionError("materialize took a local checkpoint")

    monkeypatch.setattr(type(spark.range(0)), "localCheckpoint", refuse)
    before = spark_jobs()
    pipe.stage_materialize()
    assert spark_jobs() - before <= 19
    monkeypatch.undo()
    assert _assert_lineage_per_run(pipe) == {"r1", "r2"}


@pytest.mark.parametrize("threshold", [None, "-1"], ids=["default", "no_broadcast"])
def test_append_guard_never_regroups_stored_triples(
    spark, superset, seeded_store, rebuilt, tmp_path_factory, threshold
):
    """An append's exactly-once guard anti-joins the delta's triples to the
    stored keys straight from their scan. Under the default broadcast
    threshold the stored triples reach the anti-join as a broadcast, with
    no shuffle Exchange below it (a subject semi-join first used to shuffle
    every stored triple). With broadcasts off, one shuffle Exchange sits
    over the stored scan (the semi-join form took two), and the graph still
    equals a rebuild's."""
    # a short store path: the plan shows at most 100 characters of it
    full, work = superset[20], copy_store(seeded_store, tmp_path_factory.mktemp("guard"))
    _crashed_append(spark, full, work, "r2", "canonicalize")
    pipe = KGPipeline(spark, full, work, run_id="r2", mode="append")
    key = "spark.sql.autoBroadcastJoinThreshold"
    default = spark.conf.get(key)
    since = _last_execution(spark)
    try:
        if threshold is not None:
            spark.conf.set(key, threshold)
        pipe.stage_materialize()
    finally:
        spark.conf.set(key, default)
    (path,) = _paths_to_anti_join(spark, since, "triples")
    assert "Join" in path[-1], path
    if threshold is None:
        assert "BroadcastExchange" in path and "Exchange" not in path, path
    else:
        assert path.count("Exchange") == 1, path
    want = rebuilt(20)[1]["materialize"]
    assert pipe.metrics["materialize"]["checksum"] == want["checksum"]


def test_append_onto_store_without_layout_raises(spark, superset, seeded):
    """A store whose materialize marker records no layout (written before
    the marker carried one) cannot take an append: run() raises, naming
    the rebuild, before it writes any file."""
    work = seeded
    pipe = KGPipeline(spark, superset[20], work, run_id="r2", mode="append")
    marker = pipe.store.read_marker("materialize")
    del marker["layout"]
    pipe.store.write_marker("materialize", marker)

    def files():
        return {
            os.path.join(d, f): os.stat(os.path.join(d, f)).st_mtime_ns
            for d, _, names in os.walk(work)
            for f in names
        }

    before = files()
    with pytest.raises(ValueError, match='mode="overwrite"'):
        pipe.run()
    assert files() == before


def test_rebuild_onto_used_store_forgets_old_runs(spark, superset, seeded, tmp_path):
    """A rebuild (the reference's -n) into a workdir holding a base and an
    append first clears the store: checksum, node count and lineage equal
    a rebuild into a fresh directory, only the new run is imported, and
    re-importing the old base run_id afterwards is not skipped."""
    base, full, work = superset[10], superset[20], seeded
    KGPipeline(spark, full, work, run_id="r2", mode="append").run(resume=False)

    again = KGPipeline(spark, full, work, run_id="r3")
    m = again.run()
    fresh = KGPipeline(spark, full, str(tmp_path / "rebuild"), run_id="r3")
    want = fresh.run()["materialize"]
    assert m["materialize"]["checksum"] == want["checksum"]
    assert m["materialize"]["nodes"] == want["nodes"] == again.nodes().count()
    assert again.store.read_marker("materialize")["imported_runs"] == ["r3"]

    def lineage_totals(pipe):
        return pipe.lineage().agg(
            F.collect_set("run_id"),
            F.count(F.lit(1)),
            F.sum("output_rows"),
            F.expr("bit_xor(cast(checksum as bigint))"),
        ).first()

    assert lineage_totals(again) == lineage_totals(fresh)
    assert lineage_totals(again)[0] == ["r3"]

    old = KGPipeline(spark, base, work, run_id="r1", mode="append")
    m_old = old.run()
    assert not m_old.get("skipped")
    assert m_old["materialize"]["checksum"] == want["checksum"]  # base ⊂ superset
    assert old.store.read_marker("materialize")["imported_runs"] == ["r1", "r3"]


def test_resume_mid_stage_identical(spark, data, data_store, tmp_path):
    """Kill after stage k, resume -> identical final checksum."""
    want = data_store[0].store.read_marker("materialize")["checksum"]

    w_part = str(tmp_path / "kg")
    part = KGPipeline(spark, data, w_part, run_id="r1")
    part.stage_ingest()
    part.stage_extract()  # "killed" after extract

    resumed = KGPipeline(spark, data, w_part, run_id="r1")
    m = resumed.run(resume=True)
    assert m["ingest"].get("resumed") is True
    assert m["extract"].get("resumed") is True
    assert resumed.store.read_marker("materialize")["checksum"] == want


def test_streaming_incremental_matches_batch(spark, data, tmp_path_factory):
    """availableNow streaming extraction over the input dir == batch
    extraction (same assertion multiset)."""
    from importtoneo4j_spark.operators.extract import extract_assertions
    from importtoneo4j_spark.sources.transcripts import (
        read_transcripts,
        split_valid_rejects,
    )
    from importtoneo4j_spark.streaming.incremental import incremental_extract_stream

    out = str(tmp_path_factory.mktemp("stream") / "out")
    ckpt = str(tmp_path_factory.mktemp("stream") / "ckpt")
    q = incremental_extract_stream(spark, data, out, ckpt, trigger_once=True)
    q.awaitTermination(120)

    batch_valid, _ = split_valid_rejects(read_transcripts(spark, data))
    batch = extract_assertions(batch_valid)
    key = ["conv_id", "turn_idx", "subj_surface", "pred", "obj_surface"]
    got = sorted(map(tuple, spark.read.parquet(out).select(*key).collect()))
    want = sorted(map(tuple, batch.select(*key).collect()))
    assert got == want


def test_fold_epochs_matches_batch(spark, data, data_store, tmp_path_factory):
    """VERDICT r2 #4: the lambda fold is executable — stream the corpus,
    fold the epoch-partitioned extraction into the batch link ->
    canonicalize -> materialize stages, and the folded graph's triple
    checksum equals a plain batch run over the same corpus."""
    from importtoneo4j_spark.streaming.incremental import incremental_extract_stream

    out = str(tmp_path_factory.mktemp("fold") / "out")
    ckpt = str(tmp_path_factory.mktemp("fold") / "ckpt")
    q = incremental_extract_stream(spark, data, out, ckpt, trigger_once=True)
    q.awaitTermination(120)

    fold_work = str(tmp_path_factory.mktemp("fold") / "kg")
    folded = KGPipeline(spark, data, fold_work, run_id="fold")
    m_fold = folded.fold_epochs(out)

    m_batch = data_store[1]
    assert m_fold["materialize"]["triples"] > 0
    assert m_fold["materialize"]["checksum"] == m_batch["materialize"]["checksum"]

    # CLI wiring: --fold-epochs drives the same path (getOrCreate reuses
    # the active session, so this is in-process)
    from importtoneo4j_spark.__main__ import main as cli_main

    cli_work = str(tmp_path_factory.mktemp("fold") / "kg_cli")
    assert cli_main(["--workdir", cli_work, "--fold-epochs", out]) == 0
    cli_pipe = KGPipeline(spark, data, cli_work, run_id="unused")
    assert (
        cli_pipe.store.read_marker("materialize")["checksum"]
        == m_batch["materialize"]["checksum"]
    )


@pytest.fixture(scope="module")
def stale_store(spark, tmp_path_factory):
    """(half, full, store): the run-1 corpus names two 'acme' surfaces with
    no linking evidence (token Jaccard 1/3 < 0.6, no aka) -> two entities;
    the run-2 superset adds an aka bridge that merges them — evidence an
    append cannot apply. The store is a run r1 over the first, built
    once."""
    import datetime

    from importtoneo4j_spark.schemas import TRANSCRIPTS

    t0 = datetime.datetime(2025, 1, 1)
    base = [
        ("conv-a", 0, "user", "[[acme corp]] works_at [[big co]]", None, t0),
        ("conv-a", 1, "assistant", "[[acme incorporated]] uses [[big co]]", None, t0),
        ("conv-a", 2, "user", "[[big co]] located_in [[metropolis]]", None, t0),
    ]
    bridge = base + [
        ("conv-b", 0, "user", "[[acme corp]] aka [[acme incorporated]]", None, t0),
    ]
    root = tmp_path_factory.mktemp("stale")
    half, full, work = str(root / "half"), str(root / "full"), str(root / "kg")
    spark.createDataFrame(base, TRANSCRIPTS).write.parquet(half)
    spark.createDataFrame(bridge, TRANSCRIPTS).write.parquet(full)
    KGPipeline(spark, half, work, run_id="r1").run(resume=False)
    return half, full, work


def _append_run(spark, path, work, run_id, **kw):
    p = KGPipeline(spark, path, work, run_id=run_id, mode="append", **kw)
    for s in ["ingest", "extract", "link", "canonicalize"]:
        p.store.clear_marker(s)
    p.run(resume=False)
    return p


def test_append_staleness_detected(spark, stale_store, tmp_path):
    """VERDICT r3 #4 (detection half): an append whose new evidence would
    merge two existing entities reports stale_surfaces > 0 in the
    canonicalize metrics — riding the fresh-keys write's Observation, no
    extra counting job — while the graph itself (correctly, by the id
    stability contract) keeps the entities split."""
    half, full, base = stale_store
    work = copy_store(base, tmp_path)
    p1 = KGPipeline(spark, half, work, run_id="r1")
    assert p1.nodes().count() == 4  # acme x2, big co, metropolis

    p2 = _append_run(spark, full, work, "r2")
    assert p2.metrics["canonicalize"]["stale_surfaces"] >= 1
    assert "auto_folded" not in p2.metrics["canonicalize"]
    assert p2.nodes().count() == 4  # append cannot merge — documented


def test_append_auto_fold_reaches_fixpoint(spark, stale_store, tmp_path):
    """VERDICT r3 #4 (auto-fold half): with fold_threshold set, the same
    append trips the threshold, rebuilds at the full fixpoint, and the
    final checksum equals a fresh overwrite run over the same superset."""
    _, full, base = stale_store
    work = copy_store(base, tmp_path)

    p2 = _append_run(spark, full, work, "r2", fold_threshold=0)
    assert p2.metrics["canonicalize"]["auto_folded"] is True
    assert p2.metrics["canonicalize"]["stale_surfaces"] >= 1
    assert p2.nodes().count() == 3  # acme pair merged at the fixpoint
    _assert_links_unique(p2)

    fresh = KGPipeline(spark, full, str(tmp_path / "kg_fresh"), run_id="rf")
    fresh.run()
    assert (
        p2.store.read_marker("materialize")["checksum"]
        == fresh.store.read_marker("materialize")["checksum"]
    )
    # the fold rebuilt the graph into its own run's partition, and a later
    # append onto the folded graph adds nothing
    assert _assert_unmixed_layout(work) == {"r2"}
    p3 = _append_run(spark, full, work, "r3", fold_threshold=0)
    assert _run_triples(p3, "r3") == 0
    assert p3.metrics["canonicalize"]["stale_surfaces"] == 0
    _assert_links_unique(p3)


def test_append_retry_after_auto_fold_matches_clean_history(spark, stale_store, tmp_path):
    """An auto-folding append that dies after canonicalize, when its full
    assignment has already replaced links, retried under a new run_id: the
    retry finds the graph touched by a run that never completed and
    re-materializes from every run's extraction instead of merging its
    delta onto triples and nodes that still carry the pre-fold ids. The
    checksum and node count equal the same history without the crash."""
    _, full, base = stale_store
    work, clean = copy_store(base, tmp_path), copy_store(base, tmp_path, "clean")
    _crashed_append(spark, full, work, "r2", "canonicalize", fold_threshold=0)

    got, want = (
        KGPipeline(spark, full, w, run_id="r3", mode="append", fold_threshold=0).run(
            resume=False
        )["materialize"]
        for w in (work, clean)
    )
    assert got["checksum"] == want["checksum"]
    assert got["nodes"] == want["nodes"] == 3  # the acme pair merged


@pytest.fixture(scope="module")
def alias_store(spark, tmp_path_factory):
    """(base, aka, plain, store): a base naming "acme corp"; the input of an
    append that adds "acme corp aka acme corporation"; the input of a later
    append that names "acme corporation" with no aka; and a run r1 over the
    base, built once. The two acme keys share one of three tokens, so only
    the aka links them."""
    import datetime

    from importtoneo4j_spark.schemas import TRANSCRIPTS

    t0 = datetime.datetime(2025, 1, 1)
    base = [
        ("conv-a", 0, "user", "[[acme corp]] works_at [[big co]]", None, t0),
        ("conv-a", 1, "assistant", "[[big co]] located_in [[metropolis]]", None, t0),
    ]
    aka = ("conv-b", 0, "user", "[[acme corp]] aka [[acme corporation]]", None, t0)
    plain = ("conv-c", 0, "user", "[[acme corporation]] uses [[gizmo]]", None, t0)
    root = tmp_path_factory.mktemp("alias")
    paths = []
    for name, rows in [("base", base), ("aka", base + [aka]), ("plain", base + [plain])]:
        paths.append(str(root / name))
        spark.createDataFrame(rows, TRANSCRIPTS).write.parquet(paths[-1])
    paths.append(str(root / "kg"))
    KGPipeline(spark, paths[0], paths[-1], run_id="r1").run(resume=False)
    return paths


@pytest.mark.parametrize("last", ["link", "canonicalize"])
def test_crashed_append_link_evidence_not_kept(spark, alias_store, tmp_path, last):
    """An append that read an aka turn and died after ``last`` leaves no
    evidence behind: its retry under a new run_id, whose input lacks that
    turn, does not merge "acme corporation" into "acme corp". Its
    vocabulary, signatures, same_as edges and links were in its own
    partitions, which the retry deletes, so the checksum and the node set
    equal the same history without the crash."""
    _, aka, plain, base = alias_store
    work, clean = copy_store(base, tmp_path), copy_store(base, tmp_path, "clean")
    _crashed_append(spark, aka, work, "r2", last)

    got, want = (KGPipeline(spark, plain, w, run_id="r3", mode="append") for w in (work, clean))
    checksums = [p.run(resume=False)["materialize"]["checksum"] for p in (got, want)]
    assert checksums[0] == checksums[1]

    def node_ids(pipe):
        return sorted(r[0] for r in pipe.nodes().select("entity_id").collect())

    assert node_ids(got) == node_ids(want)
    assert len(node_ids(want)) == 5  # the two acme entities stay apart


def test_fold_epochs_watermarks_from_folded_extraction(spark, data, tmp_path_factory):
    """ADVICE r3 low: fold_epochs against a workdir holding a stale
    'ingested' table from an earlier batch run must source conv_watermarks
    from the FOLDED epochs, not that stale ingest — otherwise the next
    append mis-filters its mention delta."""
    from importtoneo4j_spark.streaming.incremental import incremental_extract_stream

    half_path = str(tmp_path_factory.mktemp("foldwm") / "half")
    spark.read.parquet(data).filter(
        F.col("conv_id") < "conv-0000010"
    ).write.parquet(half_path)
    work = str(tmp_path_factory.mktemp("foldwm") / "kg")
    KGPipeline(spark, half_path, work, run_id="old").run()  # stale ingest

    out = str(tmp_path_factory.mktemp("foldwm") / "out")
    ckpt = str(tmp_path_factory.mktemp("foldwm") / "ckpt")
    q = incremental_extract_stream(spark, data, out, ckpt, trigger_once=True)
    q.awaitTermination(120)
    folded = KGPipeline(spark, data, work, run_id="fold")
    folded.fold_epochs(out)

    wm = folded.store.read("conv_watermarks")
    folded_convs = spark.read.parquet(out).select("conv_id").distinct().count()
    stale_convs = spark.read.parquet(half_path).select("conv_id").distinct().count()
    n_wm = wm.count()
    assert n_wm >= folded_convs  # covers the full folded corpus...
    assert n_wm > stale_convs  # ...not just the stale batch ingest


def test_enrich_duplicate_attrs_guard(spark, data_store):
    """ADVICE r2: an attribute table with duplicate keys must not fan out
    node rows. Default aborts; on_duplicate='min_wins' pre-aggregates to one
    deterministic map per key."""
    from importtoneo4j_spark.operators.enrich import enrich_nodes

    nodes = data_store[0].nodes()
    some_id = nodes.select("entity_id").first()["entity_id"]
    attrs = spark.createDataFrame(
        [(some_id, "zeta"), (some_id, "alpha")],
        "entity_id string, ext_tag string",
    )
    with pytest.raises(ValueError, match="duplicate"):
        enrich_nodes(nodes, attrs)
    out = enrich_nodes(nodes, attrs, on_duplicate="min_wins")
    assert out.count() == nodes.count()  # no fan-out
    got = (
        out.filter(F.col("entity_id") == some_id)
        .select(F.col("properties")["ext_tag"].alias("t"))
        .first()["t"]
    )
    assert got == "alpha"  # min-wins determinism


def test_hot_entity_salting_consistency(spark, tmp_path_factory):
    """hot_entity fixture: 60% skew — salted aggregation result equals the
    logical (unsalted) result and the hot entity dominates mentions."""
    gen = TranscriptGenerator(seed=11, n_entities=40, hot_share=0.6)
    path = str(tmp_path_factory.mktemp("hot") / "t")
    gen.write_parquet(path, n_convs=40)
    work = str(tmp_path_factory.mktemp("hot") / "kg")
    pipe = KGPipeline(spark, path, work, run_id="hot")
    pipe.run()
    nodes = pipe.nodes()
    top = nodes.orderBy(F.col("n_mentions").desc()).first()
    total = nodes.agg(F.sum("n_mentions")).first()[0]
    assert top["n_mentions"] / total > 0.2  # skew is present
    # subject-side triples of the hot entity survived dedup correctly:
    hot_id = top["entity_id"]
    triples = pipe.triples().filter(F.col("subj") == hot_id)
    assert triples.count() == triples.dropDuplicates(["subj", "pred", "obj"]).count()


def test_fail_fast_duplicate_turns_aborts(spark, data, tmp_path_factory):
    """F4 wired in: a corpus with a duplicated (conv_id, turn_idx) must abort
    stage_ingest (reference constraint abort, Main.java:73-76); with
    fail_fast=False the same corpus first-wins through."""
    dup_path = str(tmp_path_factory.mktemp("dup") / "t")
    t = spark.read.parquet(data)
    one = t.limit(1)
    t.unionByName(one).write.parquet(dup_path)

    work = str(tmp_path_factory.mktemp("dup") / "kg")
    pipe = KGPipeline(spark, dup_path, work, run_id="r1")
    with pytest.raises(ValueError, match="duplicate"):
        pipe.run()
    assert pipe.store.read_marker("ingest") is None  # aborted pre-marker

    lax_work = str(tmp_path_factory.mktemp("dup") / "kg2")
    lax = KGPipeline(spark, dup_path, lax_work, run_id="r1", fail_fast=False)
    m = lax.run()
    assert m["materialize"]["triples"] > 0


def _ingested_runs(pipe):
    return {r[0] for r in pipe.store.read("ingested").select("_run").distinct().collect()}


def test_fail_fast_duplicate_new_turns_aborts_append(spark, superset, seeded, rebuilt, tmp_path):
    """The duplicate check covers the turns an append imports: a new turn
    repeated in the input aborts the append before its ingest marker, and
    its retry under a new run_id deletes the aborted run's ingested
    partition. A repeat of an already imported turn is not imported, so
    it is not checked: that retry, whose input repeats a base turn, equals
    a rebuild of the superset."""
    t = spark.read.parquet(superset[20])
    dup_new, dup_old = str(tmp_path / "dup_new"), str(tmp_path / "dup_old")
    valid = F.col("text").contains("[[")  # a valid turn, not a quarantined one
    new, old = F.col("conv_id") >= "conv-0000010", F.col("conv_id") < "conv-0000010"
    t.unionByName(t.filter(new & valid).limit(1)).write.parquet(dup_new)
    t.unionByName(t.filter(old & valid).limit(1)).write.parquet(dup_old)
    work = seeded

    bad = KGPipeline(spark, dup_new, work, run_id="r2", mode="append")
    with pytest.raises(ValueError, match="duplicate"):
        bad.run(resume=False)
    assert bad.store.read_marker("ingest")["run_id"] == "r1"  # aborted pre-marker
    assert _ingested_runs(bad) == {"r1", "r2"}

    retry = KGPipeline(spark, dup_old, work, run_id="r3", mode="append")
    m = retry.run(resume=False)
    assert _ingested_runs(retry) == {"r1", "r3"}
    assert m["materialize"]["checksum"] == rebuilt(20)[1]["materialize"]["checksum"]


def test_enrich_first_wins_and_idempotent(spark, data, data_store, tmp_path):
    """EP2: attrs join adds new property keys, never overwrites existing
    ones; re-applying the same attrs is a no-op (checksum-stable)."""
    pipe = KGPipeline(spark, data, copy_store(data_store[0].workdir, tmp_path), run_id="r1")
    # materialize attrs eagerly: a lazy plan over the nodes parquet would
    # dangle once enrich overwrites that table
    ids = [r["entity_id"] for r in pipe.nodes().select("entity_id").collect()]
    attrs = spark.createDataFrame(
        [(i, "ext", "LOSER") for i in ids],
        "entity_id string, source_db string, first_conv_id string",
    )  # source_db is a new key -> added; first_conv_id exists -> kept
    m = pipe.enrich(attrs)
    assert m["misses"] == 0
    enriched = pipe.nodes()
    row = enriched.select(
        F.col("properties")["source_db"].alias("sdb"),
        F.col("properties")["first_conv_id"].alias("fc"),
    ).first()
    assert row["sdb"] == "ext"
    assert row["fc"] != "LOSER"  # first-wins: original attribution kept
    c1 = global_checksum(enriched, ["entity_id", "n_mentions"])
    pipe.enrich(attrs)  # idempotent re-run
    assert global_checksum(pipe.nodes(), ["entity_id", "n_mentions"]) == c1
    again = pipe.nodes().select(F.col("properties")["source_db"].alias("s")).first()
    assert again["s"] == "ext"


def test_enrich_miss_aborts_or_counts(spark, data, data_store, tmp_path):
    """Crash-on-miss (VariantDatabase.java:336): an attribute keyed on a
    nonexistent node aborts under fail_fast and is counted otherwise."""
    pipe = KGPipeline(spark, data, copy_store(data_store[0].workdir, tmp_path), run_id="r1")
    ghost = spark.createDataFrame(
        [("__no_such_entity__", "x")], "entity_id string, source_db string"
    )
    with pytest.raises(ValueError, match="misses"):
        pipe.enrich(ghost)
    m = pipe.enrich(ghost, fail_on_miss=False)
    assert m["misses"] == 1


def test_streaming_retry_is_idempotent(spark, data, tmp_path_factory):
    """foreachBatch is at-least-once: re-running the same epoch (simulated
    sink retry) must not duplicate assertions, and rejects are quarantined."""
    from importtoneo4j_spark.streaming.incremental import make_process_batch

    out = str(tmp_path_factory.mktemp("retry") / "out")
    rej = str(tmp_path_factory.mktemp("retry") / "rej")
    batch = spark.read.parquet(data)
    pb = make_process_batch(out, rej)
    pb(batch, 0)
    n1 = spark.read.parquet(out).count()
    r1 = spark.read.parquet(rej).count()
    pb(batch, 0)  # retry of the same micro-batch
    assert spark.read.parquet(out).count() == n1
    assert spark.read.parquet(rej).count() == r1
    assert r1 > 0  # quarantined, not dropped
    pb(batch.limit(200), 1)  # a NEW epoch appends its own partition
    assert spark.read.parquet(out).count() > n1


def test_append_accumulates_node_attributes(spark, data, data_store, tmp_path_factory):
    """ADVICE r1: on append, existing nodes must gain new labels and mention
    counts from the new run (reference addNodeLabel accumulation), and
    surfaces keep their run-1 canonical ids."""
    full_path = data
    half_path = str(tmp_path_factory.mktemp("acc") / "half")
    spark.read.parquet(full_path).filter(
        F.col("conv_id") < "conv-0000015"
    ).write.parquet(half_path)

    work = str(tmp_path_factory.mktemp("acc") / "kg")
    p1 = KGPipeline(spark, half_path, work, run_id="r1")
    p1.run()
    before = {
        r["entity_id"]: (set(r["labels"]), r["n_mentions"])
        for r in p1.nodes().collect()
    }

    p2 = KGPipeline(spark, full_path, work, run_id="r2", mode="append")
    for s in ["ingest", "extract", "link", "canonicalize"]:
        p2.store.clear_marker(s)
    p2.run(resume=False)
    after = {
        r["entity_id"]: (set(r["labels"]), r["n_mentions"])
        for r in p2.nodes().collect()
    }
    assert set(before) <= set(after)  # run-1 ids survive (id stability)
    grew_mentions = sum(
        1 for e in before if after[e][1] > before[e][1]
    )
    assert grew_mentions > 0  # cumulative mention counts
    assert all(before[e][0] <= after[e][0] for e in before)  # labels accumulate
    # uniqueness invariant survives the upsert
    n = p2.nodes()
    assert n.count() == n.select("entity_id").distinct().count()
    # ADVICE r2: the append input is a SUPERSET of run 1, so without the
    # per-conversation watermark filter every run-1 mention would be counted
    # twice. Every mention lands on exactly one entity regardless of how
    # linking grouped surfaces, so sum(n_mentions) is an exact invariant:
    # append-total must equal a fresh full-corpus run's total.
    total_fresh = data_store[0].nodes().agg(F.sum("n_mentions")).first()[0]
    total_append = p2.nodes().agg(F.sum("n_mentions")).first()[0]
    assert total_append == total_fresh


def test_json_and_csv_sources_match_parquet(spark, tmp_path_factory):
    """The same corpus via JSONL and CSV wire formats produces the
    IDENTICAL graph checksum as parquet, and malformed rows quarantine
    instead of crashing (schema-enforced reads, warn-and-skip F3)."""
    import json as jsonlib

    gen = TranscriptGenerator(seed=23, n_entities=40)
    pq = str(tmp_path_factory.mktemp("fmt") / "pq")
    gen.write_parquet(pq, n_convs=15)
    rows = spark.read.parquet(pq).collect()

    jdir = tmp_path_factory.mktemp("fmt") / "jsonl"
    jdir.mkdir(exist_ok=True)
    with open(jdir / "part-0.jsonl", "w") as fh:
        for r in rows:
            d = r.asDict()
            d["ts"] = d["ts"].isoformat() if d["ts"] else None
            fh.write(jsonlib.dumps(d) + "\n")
        fh.write('{"conv_id": "bad-row", "turn_idx": "not_an_int"}\n')

    cdir = tmp_path_factory.mktemp("fmt") / "csv"
    spark.read.parquet(pq).coalesce(1).write.option("header", "true").csv(
        str(cdir), mode="overwrite"
    )

    checks = {}
    for name, path, fmt in [
        ("parquet", pq, None),
        ("json", str(jdir), "json"),
        ("csv", str(cdir), "csv"),
    ]:
        work = str(tmp_path_factory.mktemp("fmt") / f"kg_{name}")
        pipe = KGPipeline(spark, path, work, run_id="r1", input_format=fmt)
        m = pipe.run()
        checks[name] = m["materialize"]["checksum"]
    assert checks["json"] == checks["parquet"]
    assert checks["csv"] == checks["parquet"]


def test_caller_cache_survives(spark, data, tmp_path_factory):
    """Round 6 (VERDICT r5 nit): stage_link must release only its OWN LSH
    caches — a frame the caller cached before running the pipeline stays
    cached afterwards (the old catalog.clearCache() dropped it)."""
    mine = spark.range(100).withColumn("x", F.col("id") * 2).cache()
    assert mine.count() == 100  # materialize the cache entry
    work = str(tmp_path_factory.mktemp("cc") / "kg")
    KGPipeline(spark, data, work, run_id="cc-1").run(resume=False)
    assert mine.storageLevel.useMemory  # still registered as cached
    assert spark.catalog.isCached(  # and still in the cache manager
        mine.createOrReplaceTempView("_cc_probe") or "_cc_probe"
    )
    mine.unpersist()


def _prefix_cluster_input(spark, path, n_convs, alias_pair=False, hub=False):
    """``n_convs`` one-turn conversations; conversation i says "Acme Corp i"
    uses "Acme Corp i+1". The "acme corp <n>" keys share most of their char
    4-grams, so some LSH buckets pass the 64-member cap, and no two of them
    link (token Jaccard 1/2). ``alias_pair`` adds a conversation naming
    "Zeta Works" and its alias "Zeta Works Inc", which do. ``hub`` adds one
    naming "Acme Corp" and "Acme Corp Inc", which link to each other and to
    every "acme corp <n>" (token Jaccard 2/3). Prefix-stable: a larger
    ``n_convs`` writes a superset."""
    from datetime import datetime

    from importtoneo4j_spark.schemas import TRANSCRIPTS

    texts = [
        (f"conv-{i:04d}", f"note [[Acme Corp {i}]] uses [[Acme Corp {i + 1}]] .")
        for i in range(n_convs)
    ]
    if alias_pair:
        texts.append(("conv-zeta", "note [[Zeta Works]] uses [[Zeta Works Inc]] ."))
    if hub:
        texts.append(("conv-hub", "note [[Acme Corp]] uses [[Acme Corp Inc]] ."))
    rows = [(c, 0, "user", t, None, datetime(2026, 1, 1)) for c, t in texts]
    spark.createDataFrame(rows, TRANSCRIPTS).write.parquet(path)


def test_link_reports_hot_buckets_dropped(spark, tmp_path_factory):
    """The link stage's hot-bucket counter (metrics and marker) equals the
    buckets lsh_dropped_buckets finds on the stored signatures, after a
    rebuild and after an append onto it. The rebuild's LSH verifies no
    pair, and its count still reaches the write's Observation (the bucket
    counters ride the pair aggregate); the append's is the imported total
    plus the buckets its fresh keys push over the cap."""
    from importtoneo4j_spark.operators.link import lsh_dropped_buckets

    root = tmp_path_factory.mktemp("hotb")
    base, sup = str(root / "base"), str(root / "super")
    _prefix_cluster_input(spark, base, 100)
    _prefix_cluster_input(spark, sup, 140, alias_pair=True)
    work = str(root / "kg")
    counts = []
    for pipe in (
        KGPipeline(spark, base, work, run_id="b"),
        KGPipeline(spark, sup, work, run_id="a", mode="append"),
    ):
        m = pipe.run(resume=False)
        want = lsh_dropped_buckets(pipe.store.read("link_sig")).count()
        assert m["link"]["hot_buckets_dropped"] == want > 0
        assert pipe.store.read_marker("link")["hot_buckets_dropped"] == want
        counts.append(want)
    assert counts[1] > counts[0]  # the append counts stored and fresh keys


def _last_execution(spark) -> int:
    """The newest SQL execution id the driver's status store holds."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return max((execs.apply(i).executionId() for i in range(execs.size())), default=-1)


def _table_scans(spark, since: int, table: str):
    """Over the final plans of the SQL executions after ``since``: yields
    (scan id, plan nodes by id, parent ids by id) for every scan that reads
    ``table``. A plan shows the first 100 characters of a scan's location
    (spark.sql.maxMetadataStringLength), so the store needs a short path."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    for i in range(execs.size()):
        eid = execs.apply(i).executionId()
        if eid <= since:
            continue
        graph = store.planGraph(eid)
        seq = graph.allNodes()
        nodes = {n.id(): n for n in (seq.apply(j) for j in range(seq.size()))}
        parents: dict = {}
        for j in range(graph.edges().size()):
            e = graph.edges().apply(j)
            parents.setdefault(e.fromId(), []).append(e.toId())
        for nid, node in nodes.items():
            if "Scan" in node.name() and f"/{table}]" in node.desc():
                yield nid, nodes, parents


def _scans_under_shuffle(spark, since: int, table: str) -> tuple[int, int]:
    """How many scans of ``table`` the executions after ``since`` ran, and
    how many of them feed a shuffle Exchange. A scan that feeds a broadcast
    reaches what lies above it only as a hash relation, so the walk up
    stops there."""
    scans = shuffled = 0
    for nid, nodes, parents in _table_scans(spark, since, table):
        scans += 1
        seen, todo = set(), list(parents.get(nid, []))
        while todo:
            up = todo.pop()
            if up in seen or nodes[up].name() == "BroadcastExchange":
                continue
            seen.add(up)
            todo += parents.get(up, [])
        shuffled += any(nodes[up].name() == "Exchange" for up in seen)
    return scans, shuffled


def _paths_to_anti_join(spark, since: int, table: str) -> list[list[str]]:
    """For each scan of ``table`` in the executions after ``since``: the
    names of the plan nodes its rows pass on their way up, to the first
    left-anti join they meet (included)."""
    paths = []
    for nid, nodes, parents in _table_scans(spark, since, table):
        path = []
        while nid in parents:
            nid = parents[nid][0]
            path.append(nodes[nid].name())
            if "LeftAnti" in nodes[nid].desc():
                break
        paths.append(path)
    return paths


def test_append_without_new_surface_shuffles_no_signature(
    spark, spark_jobs, tmp_path_factory
):
    """An append whose new turns repeat known surfaces only: stage_link
    writes no signature and no LSH edge, runs at most 12 Spark jobs, and
    no plan it runs has a shuffle Exchange above a scan of the stored
    signatures (the grouped pass probes them with the fresh band keys
    instead of regrouping them). The run then ends at the graph of a
    rebuild."""
    root = tmp_path_factory.mktemp("no_surface")
    base, again = str(root / "base"), str(root / "again")
    TranscriptGenerator(seed=5, n_entities=60).write_parquet(base, n_convs=20)
    turns = spark.read.parquet(base)
    # the same conversations once more under new ids: new turns, known
    # surfaces
    turns.unionByName(
        turns.withColumn("conv_id", F.concat("conv_id", F.lit("-again")))
    ).write.parquet(again)
    work = str(root / "kg")
    KGPipeline(spark, base, work, run_id="r1").run(resume=False)
    pipe = KGPipeline(spark, again, work, run_id="r2", mode="append")
    pipe.stage_ingest()
    pipe.stage_extract()

    since, before = _last_execution(spark), spark_jobs()
    pipe.stage_link()
    assert spark_jobs() - before <= 12
    scans, shuffled = _scans_under_shuffle(spark, since, "link_sig")
    assert scans > 0 and shuffled == 0
    m = pipe.metrics["link"]
    assert m["fresh_keys"] == m["touched_buckets"] == 0
    assert pipe._delta("link_sig").count() == pipe._delta("link_edges").count() == 0

    got = pipe.run()["materialize"]
    want = KGPipeline(spark, again, str(root / "rebuild"), run_id="fresh").run(resume=False)
    assert got["checksum"] == want["materialize"]["checksum"]
    assert m["edges"] == want["link"]["edges"]
    assert m["hot_buckets_dropped"] == want["link"]["hot_buckets_dropped"]


def test_append_over_the_cap_retracts_to_rebuild(spark, tmp_path_factory):
    """An append whose fresh "acme corp <n>" keys push buckets of linked
    stored keys over the 64-member cap: it retracts their stored pairs, and
    its live evidence, edge count and hot-bucket count equal a rebuild of
    the same input, though some pairs keep the support of a bucket still
    under the cap and others lose all of theirs."""
    root = tmp_path_factory.mktemp("retract")
    base, sup = str(root / "base"), str(root / "super")
    _prefix_cluster_input(spark, base, 40, hub=True)
    _prefix_cluster_input(spark, sup, 140, hub=True)
    work = str(root / "kg")
    KGPipeline(spark, base, work, run_id="b").run(resume=False)
    pipe = KGPipeline(spark, sup, work, run_id="a", mode="append")
    m = pipe.run(resume=False)["link"]
    fresh = KGPipeline(spark, sup, str(root / "rebuild"), run_id="f")
    want = fresh.run(resume=False)["link"]
    assert (m["edges"], m["hot_buckets_dropped"]) == (want["edges"], want["hot_buckets_dropped"])

    def evidence(p):
        edges = p._full("same_as_edges").unionByName(p._live_link_edges(p._full("same_as_edges")))
        return {tuple(r) for r in edges.collect()}

    assert evidence(pipe) == evidence(fresh)
    assert len(evidence(fresh)) == want["edges"]
    retracted = {tuple(r) for r in pipe._delta("link_retractions").collect()}
    stored = {tuple(r) for r in pipe._full("link_edges").select("src", "dst").collect()}
    assert retracted & evidence(pipe) and retracted - evidence(pipe)
    assert retracted <= stored


def test_append_delta_scoped_and_rebuild_parity(spark, tmp_path_factory):
    """Round 6 (VERDICT r5 #1/#4): the O(delta) append must (a) produce a
    final graph bit-identical to a fresh overwrite run over the same
    superset, (b) leave the base extraction partitions byte-untouched
    (run-partitioned layout — no full-table rewrite per append), and
    (c) leave node _bucket partitions untouched by the delta byte-identical
    (bucket-scoped upsert contract)."""
    import glob
    import hashlib

    from importtoneo4j_spark.sources.transcripts import read_transcripts

    gen = TranscriptGenerator(seed=11, n_entities=60)
    base_p = str(tmp_path_factory.mktemp("dsc") / "base")
    gen.write_parquet(base_p, n_convs=24)
    gen2 = TranscriptGenerator(seed=11, n_entities=60)
    super_p = str(tmp_path_factory.mktemp("dsc") / "super")
    gen2.write_parquet(super_p, n_convs=25)  # prefix-stable superset: +1 conv
    # (a small delta, so most node buckets are untouched by the append)

    def fsig(root):
        out = {}
        for f in sorted(glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)):
            with open(f, "rb") as fh:
                out[os.path.relpath(f, root)] = hashlib.md5(fh.read()).hexdigest()
        return out

    work = str(tmp_path_factory.mktemp("dsc") / "kg")
    p1 = KGPipeline(spark, base_p, work, run_id="b")
    m1 = p1.run(resume=False)
    # a rebuild is an append onto an empty store: its delta is every triple
    assert _run_triples(p1, "b") == m1["materialize"]["triples"] > 0
    ext_before = fsig(os.path.join(work, "extracted"))
    ing_before = fsig(os.path.join(work, "ingested"))
    nodes_before = fsig(os.path.join(work, "nodes"))

    pa = KGPipeline(spark, super_p, work, run_id="a", mode="append")
    ma = pa.run(resume=False)

    # (b) base extraction partitions byte-identical; the delta landed in a
    # new _run=a partition
    ext_after = fsig(os.path.join(work, "extracted"))
    for rel, h in ext_before.items():
        assert ext_after[rel] == h, f"base extraction partition rewritten: {rel}"
    assert any("_run=a" in rel for rel in ext_after if rel not in ext_before)
    # ... and so are the base ingested partitions: the append's partition
    # holds exactly the superset's turns that the base lacks
    ing_after = fsig(os.path.join(work, "ingested"))
    for rel, h in ing_before.items():
        assert ing_after[rel] == h, f"base ingested partition rewritten: {rel}"
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    want = read_transcripts(spark, super_p).exceptAll(read_transcripts(spark, base_p))
    got = pa._delta("ingested").select(*cols)
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0 == want.exceptAll(got).count()

    # (c) node buckets untouched by the delta keep their exact files
    nodes_after = fsig(os.path.join(work, "nodes"))
    touched_dirs = {
        rel.split(os.sep)[0]
        for rel in nodes_after
        if nodes_before.get(rel) != nodes_after[rel]
    }
    untouched = [
        rel for rel in nodes_before
        if rel.split(os.sep)[0] not in touched_dirs
    ]
    assert untouched, "expected at least one untouched bucket partition"
    for rel in untouched:
        assert nodes_after[rel] == nodes_before[rel]

    # (a) final graph bit-identical to a fresh overwrite over the superset
    w2 = str(tmp_path_factory.mktemp("dsc") / "kg2")
    m2 = KGPipeline(spark, super_p, w2, run_id="fresh").run(resume=False)
    assert ma["materialize"]["checksum"] == m2["materialize"]["checksum"]
    assert ma["materialize"]["nodes"] == m2["materialize"]["nodes"]
    assert ma["extract"]["assertions"] == m2["extract"]["assertions"]


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


def test_append_of_new_turns_only_matches_superset_append(spark, superset, tmp_path):
    """An append's input may hold only the turns the store lacks: the
    imported turns are dropped at ingest either way. A base of 10 whole
    conversations and the first two turns of 5 more; the appends add the
    rest of those 5 and 5 new conversations, one as the superset and one
    as only those turns. Both report the same checksum, node count,
    assertion total and quarantine."""
    root, full = tmp_path, superset[20]
    t = spark.read.parquet(full)
    part = (F.col("conv_id") < "conv-0000010") | (
        (F.col("conv_id") < "conv-0000015") & (F.col("turn_idx") < 2)
    )
    base, delta = str(root / "base"), str(root / "delta")
    t.filter(part).write.parquet(base)
    t.filter(~part).write.parquet(delta)
    KGPipeline(spark, base, str(root / "kg_base"), run_id="r1").run(resume=False)
    got = []
    for name, path in (("superset", full), ("delta", delta)):
        work = copy_store(str(root / "kg_base"), root, f"kg_{name}")
        pipe = KGPipeline(spark, path, work, run_id="r2", mode="append")
        m = pipe.run(resume=False)
        got.append(
            (
                m["materialize"]["checksum"],
                m["materialize"]["nodes"],
                m["extract"]["assertions"],
                _rows(pipe.rejects()),
            )
        )
    assert got[0] == got[1]
    assert got[0][3]  # the corpus has rejects


def test_append_rejects_stored_once(spark, tmp_path_factory):
    """A base whose conversation ends in a quarantined turn: that turn
    counts toward the conversation's watermark, so a superset append does
    not quarantine it again. A row without a conversation id matches no
    watermark; it is marked by its row hash instead, so the append does
    not quarantine or count it again either. The append's rejects() equals
    a rebuild's, and every reject is stored once across the runs."""
    import datetime

    t0 = datetime.datetime(2025, 1, 1)
    base = [
        ("conv-a", 0, "user", "[[acme corp]] works_at [[big co]]", None, t0),
        ("conv-a", 1, "assistant", "[[big co]] located_in [[metropolis]]", None, t0),
        ("conv-a", 2, "user", ".", None, t0),
        (None, 0, "user", "[[nobody]] uses [[nothing]]", None, t0),
    ]
    more = [
        ("conv-a", 3, "user", "[[acme corp]] uses [[gizmo]]", None, t0),
        ("conv-b", 0, "user", "[[big co]] uses [[gadget]]", None, t0),
        ("conv-b", 1, "user", ".", None, t0),
    ]
    root = tmp_path_factory.mktemp("rej_once")
    base_p, full_p = str(root / "base"), str(root / "full")
    # a DDL schema, unlike TRANSCRIPTS, lets conv_id be null
    ddl = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    spark.createDataFrame(base, ddl).write.parquet(base_p)
    spark.createDataFrame(base + more, ddl).write.parquet(full_p)
    work = str(root / "kg")
    KGPipeline(spark, base_p, work, run_id="r1").run(resume=False)
    pipe = KGPipeline(spark, full_p, work, run_id="r2", mode="append")
    m = pipe.run(resume=False)
    # the append quarantines conv-b's sentinel turn only
    assert m["ingest"] == {"valid": 2, "rejected": 1}
    fresh = KGPipeline(spark, full_p, str(root / "rebuild"), run_id="fresh")
    fresh.run(resume=False)
    assert _rows(pipe.rejects()) == _rows(fresh.rejects())
    assert len(_rows(pipe.rejects())) == 3
    stored = (
        pipe.store.read("ingested")
        .filter(F.col("_ok").cast("string") == "false")
        .groupBy("conv_id", "turn_idx")
        .count()
    )
    assert stored.filter(F.col("count") > 1).count() == 0
    assert stored.count() == 3
