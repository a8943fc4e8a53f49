"""End-to-end KG pipeline vs the pure-Python reference-semantics oracle.

The headline correctness gate: triple-set precision & recall >= 0.95
(BASELINE.json metric; target 1.0 at small scale), plus the per-turn
text-equality invariant under stable ordering (input_hint)."""

from __future__ import annotations

import pandas as pd
import pytest

from importtoneo4j_spark.oracle import Oracle, precision_recall
from importtoneo4j_spark.plans.pipeline import KGPipeline
from importtoneo4j_spark.sources.transcripts import read_transcripts


@pytest.fixture(scope="module")
def run(spark, gen, small_transcripts_path, tmp_path_factory):
    work = str(tmp_path_factory.mktemp("work") / "kg")
    pipe = KGPipeline(spark, small_transcripts_path, work, run_id="run-001")
    metrics = pipe.run()
    return pipe, metrics


@pytest.fixture(scope="module")
def oracle(gen, small_transcripts_pdf):
    return Oracle(small_transcripts_pdf, gen.alias_truth())


def test_pipeline_produces_triples(run):
    pipe, metrics = run
    assert metrics["materialize"]["triples"] > 0
    assert metrics["materialize"]["nodes"] > 0


def test_triple_precision_recall(run, oracle):
    pipe, _ = run
    engine = {
        (r["subj"], r["pred"], r["obj"])
        for r in pipe.triples().select("subj", "pred", "obj").collect()
    }
    p, r = precision_recall(engine, oracle.triple_set())
    assert p >= 0.95, f"precision {p:.4f} < 0.95"
    assert r >= 0.95, f"recall {r:.4f} < 0.95"


def test_schema_registry_written(run):
    """Schema registry as data (SURVEY §1.1): the pipeline's type catalog,
    a view over the stored graph (no stored table), includes
    reserved-but-uninstantiated types (the reference declares 7 labels +
    7 rel-types it never creates, VariantDatabase.java:33-65)."""
    from importtoneo4j_spark.operators.registry import (
        DECLARED_NODE_LABELS,
        DECLARED_REL_TYPES,
    )

    pipe, _ = run
    assert not pipe.store.exists("schema_registry")
    reg = {(r["kind"], r["name"]): r for r in pipe.schema_registry().collect()}
    # every declared type is present; reserved ones are uninstantiated
    for name, key in DECLARED_NODE_LABELS:
        row = reg[("node_label", name)]
        assert row["declared"] and row["key_constraint"] == key
    for name in DECLARED_REL_TYPES:
        assert reg[("rel_type", name)]["declared"]
    for kind, name in [
        ("node_label", "Document"),
        ("node_label", "Session"),
        ("rel_type", "SAME_AS"),
        ("rel_type", "PART_OF"),
    ]:
        row = reg[(kind, name)]
        assert not row["instantiated"] and row["n_instances"] == 0
    # observed labels carry counts; data-derived rel types appear undeclared
    assert reg[("node_label", "Subject")]["instantiated"]
    assert reg[("node_label", "Subject")]["n_instances"] > 0
    observed_rels = [
        r for (k, _), r in reg.items() if k == "rel_type" and r["instantiated"]
    ]
    assert observed_rels and all(not r["declared"] for r in observed_rels)


def test_first_wins_attribution(run, oracle):
    """Earliest (conv_id, turn_idx) wins for every shared triple —
    reference Neo4j.java:230-242 first-writer-wins."""
    pipe, _ = run
    engine = {
        (r["subj"], r["pred"], r["obj"]): (r["conv_id"], r["turn_idx"], r["quality"])
        for r in pipe.triples().collect()
    }
    mismatches = 0
    shared = 0
    for key, (c, t, q) in oracle.triples.items():
        if key in engine:
            shared += 1
            ec, et, eq = engine[key]
            if (ec, et) != (c, t) or abs(eq - q) > 1e-6:
                mismatches += 1
    assert shared > 0
    assert mismatches == 0, f"{mismatches}/{shared} attribution mismatches"


def test_rejects_match_oracle(run, oracle):
    pipe, _ = run
    engine_rejects = {
        (r["conv_id"], r["turn_idx"], r["reject_reason"])
        for r in pipe.rejects().collect()
    }
    assert engine_rejects == set(oracle.rejects)


def test_turn_order_text_invariant(spark, small_transcripts_path, small_transcripts_pdf):
    """Per-turn text equality under stable (conv_id, turn_idx) ordering:
    the round-trip through Spark must not reorder or mutate text."""
    df = read_transcripts(spark, small_transcripts_path)
    got = (
        df.select("conv_id", "turn_idx", "text")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"], kind="stable")
        .reset_index(drop=True)
    )
    want = small_transcripts_pdf.sort_values(
        ["conv_id", "turn_idx"], kind="stable"
    ).reset_index(drop=True)
    assert len(got) == len(want)
    assert (got["text"].astype(str) == want["text"].astype(str)).all()


def test_idempotent_rerun(run, spark, small_transcripts_path):
    """Same run_id twice -> no-op (Main.java:73-76 exactly-once)."""
    pipe, _ = run
    before = pipe.store.read_marker("materialize")["checksum"]
    pipe2 = KGPipeline(
        spark, small_transcripts_path, pipe.workdir, run_id="run-001"
    )
    m2 = pipe2.run()
    assert m2.get("skipped") is True
    assert pipe2.store.read_marker("materialize")["checksum"] == before


def test_lineage_manifest(run):
    pipe, metrics = run
    lin = pipe.lineage().toPandas()
    assert (lin["stage"] == "materialize").all()
    assert lin["output_rows"].sum() == metrics["materialize"]["triples"]


def test_partitioned_layout_prunes_point_lookups(run):
    """Index-before-load analog (Main.java:69): rel-type traversals prune
    the pred-partitioned triples table; entity point lookups prune the
    bucket-partitioned nodes table — PartitionFilters must appear in the
    scan, so lookups touch 1/N of the files instead of all of them."""
    from importtoneo4j_spark.operators.graph import GraphView

    pipe, _ = run
    g = GraphView(pipe.nodes(), pipe.triples())

    pred = pipe.triples().select("pred").first()["pred"]
    scan = (
        g.find_neighbours(pred=pred)._jdf.queryExecution().sparkPlan().toString()
    )
    assert "PartitionFilters: [" in scan
    assert "pred" in scan.split("PartitionFilters")[1][:300]

    nid = pipe.nodes().select("entity_id").first()["entity_id"]
    nscan = (
        g.get_nodes(entity_id=nid)._jdf.queryExecution().sparkPlan().toString()
    )
    assert "_bucket" in nscan.split("PartitionFilters")[1][:300]
    # and the lookup itself still answers correctly through the pruning
    assert g.get_node_labels(nid)


def test_triples_files_are_sorted_within_partitions(run):
    """O1 sort-before-load (import.sh SortVcf analog): each written triples
    file is (subj, obj)-ordered so parquet row-group min/max stats can skip
    on subj point lookups, and the write sorts once: in the final plan of
    the triples write the only Sort between the writer and the aggregate is
    the (pred, subj, obj) one, so the writer added no re-sort of its own
    (round 6)."""
    import glob
    import re

    import pyarrow.parquet as pq

    pipe, _ = run
    files = glob.glob(pipe.store.path("triples") + "/_run=*/pred=*/*.parquet")
    assert files
    checked = 0
    for f in files[:5]:
        t = pq.read_table(f, columns=["subj", "obj"]).to_pydict()
        pairs = list(zip(t["subj"], t["obj"]))
        assert pairs == sorted(pairs), f
        checked += 1
    assert checked > 0

    execs = pipe.spark._jsparkSession.sharedState().statusStore().executionsList()
    target = f"Arguments: file:{pipe.store.path('triples')}, "
    writes = [
        d
        for d in (execs.apply(i).physicalPlanDescription() for i in range(execs.size()))
        if "InsertIntoHadoopFsRelationCommand" in d and target in d
    ]
    assert len(writes) == 1  # each triple is written once
    tree, details = writes[0].split("\n\n", 1)
    sort_args = dict(
        re.findall(r"^\((\d+)\) Sort[^\n]*\nInput[^\n]*\nArguments: \[([^\]]*)\]", details, re.M)
    )
    # the operators between the writer and the triples aggregate
    final = tree.split("== Initial Plan ==")[0].splitlines()
    below = final[next(i for i, line in enumerate(final) if "WriteFiles" in line) + 1 :]
    chain = []
    for line in below:
        name, node = re.search(r"(\w+) \((\d+)\)\s*$", line).groups()
        if name not in ("Project", "Sort"):
            break
        chain.append((name, node))
    sorts = [
        [key.split("#")[0] for key in sort_args[node].split(", ")]
        for name, node in chain
        if name == "Sort"
    ]
    assert sorts == [["pred", "subj", "obj"]]


def test_empty_input_yields_zero_triples(spark, tmp_path_factory):
    """Empty input -> 0 triples and checksum '0:None', not a read error."""
    from importtoneo4j_spark.schemas import TRANSCRIPTS

    empty = str(tmp_path_factory.mktemp("empty") / "t")
    spark.createDataFrame([], TRANSCRIPTS).write.parquet(empty)
    work = str(tmp_path_factory.mktemp("empty") / "kg")
    pipe = KGPipeline(spark, empty, work, run_id="r1")
    m = pipe.run()
    assert m["materialize"]["triples"] == 0
    assert m["materialize"]["checksum"] == "0:None"
    assert pipe.rejects().count() == 0
    assert pipe.lineage().count() == 0  # run_id-partitioned, still readable


def test_export_neo4j_admin_csv(run, tmp_path_factory):
    """The neo4j-admin bulk-import export: header files carry the exact
    tool convention, data parts are header-less and positionally aligned,
    counts match the graph, labels round-trip through the ';' array
    delimiter, and the manifest carries a runnable import command."""
    from importtoneo4j_spark.operators.export import (
        NODE_HEADER,
        REL_HEADER,
        export_neo4j_admin,
    )

    pipe, _ = run
    spark = pipe.spark
    out = str(tmp_path_factory.mktemp("n4j") / "export")
    manifest = export_neo4j_admin(pipe.nodes(), pipe.triples(), out)

    with open(manifest["nodes_header"]) as fh:
        assert fh.read().strip() == NODE_HEADER
    with open(manifest["relationships_header"]) as fh:
        assert fh.read().strip() == REL_HEADER

    # same quoting convention as the writer (and neo4j-admin): '"' quotes,
    # doubled-quote escape — JSON properties contain commas
    rd_opts = {"header": "false", "quote": '"', "escape": '"'}
    nd = spark.read.options(**rd_opts).csv(manifest["nodes_dir"])
    rd = spark.read.options(**rd_opts).csv(manifest["relationships_dir"])
    assert nd.count() == pipe.nodes().count()
    assert rd.count() == pipe.triples().count()
    assert len(nd.columns) == len(NODE_HEADER.split(","))
    assert len(rd.columns) == len(REL_HEADER.split(","))
    # labels round-trip through the ';' delimiter (position 3 = :LABEL)
    want = {
        r["entity_id"]: sorted(r["labels"])
        for r in pipe.nodes().select("entity_id", "labels").collect()
    }
    got = {
        r["_c0"]: (r["_c2"].split(";") if r["_c2"] else [])
        for r in nd.select("_c0", "_c2").collect()
    }
    assert got == want
    # rel types are UPPER_SNAKE and START/END ids reference exported nodes
    types = {r["_c2"] for r in rd.select("_c2").collect()}
    assert all(t == t.upper() for t in types)
    ids = set(got)
    endpoints = rd.select("_c0", "_c1").collect()
    assert all(r["_c0"] in ids and r["_c1"] in ids for r in endpoints)
    assert "neo4j-admin database import full" in manifest["import_command"]


def test_export_neo4j_admin_quoting_edge_cases(spark, tmp_path_factory):
    """VERDICT r4 missing #3: values carrying the tool's special characters
    — '"' (quote), ',' (field delimiter), newlines, ';' (array delimiter) —
    must round-trip through the documented neo4j-admin quoting rules
    (RFC 4180: quote fields containing specials, double embedded quotes;
    multiline fields flagged in the import command). A ';' inside a LABEL
    value is unrepresentable (no escape inside an array cell) and must
    fail the export loudly instead of importing as two labels."""
    import csv
    import glob

    from pyspark.sql import functions as F

    from importtoneo4j_spark.operators.export import export_neo4j_admin

    evil_surface = 'acme; "quoted", with\nnewline'
    evil_prop = 'k1="v,1"\nk2=v;2'
    nodes = spark.createDataFrame(
        [
            ("e1", evil_surface, ["Entity", "Org"], 3, 2, {"note": evil_prop}),
            ("e2", "plain", ["Entity"], 1, 1, None),
        ],
        "entity_id string, canonical_surface string, labels array<string>, "
        "n_mentions long, n_surfaces long, properties map<string,string>",
    )
    triples = spark.createDataFrame(
        [("e1", "e2", "works_with", 'conv,"7"', 1, 1.0, {"p": evil_prop})],
        "subj string, obj string, pred string, conv_id string, "
        "turn_idx int, quality double, properties map<string,string>",
    )
    out = str(tmp_path_factory.mktemp("n4jq") / "export")
    manifest = export_neo4j_admin(nodes, triples, out)
    assert "--multiline-fields=true" in manifest["import_command"]

    def read_parts(d):
        rows = []
        for part in sorted(glob.glob(f"{d}/part-*.csv")):
            with open(part, newline="") as fh:
                # RFC 4180: '"' quote char, doubled-quote escape — exactly
                # what neo4j-admin parses
                rows.extend(csv.reader(fh, quotechar='"', doublequote=True))
        return rows

    node_rows = {r[0]: r for r in read_parts(manifest["nodes_dir"])}
    assert node_rows["e1"][1] == evil_surface
    assert node_rows["e1"][2] == "Entity;Org"
    import json

    # the map flattens to a JSON property; decode to check payload survival
    assert json.loads(node_rows["e1"][5]) == {"note": evil_prop}
    rel_rows = read_parts(manifest["relationships_dir"])
    assert rel_rows[0][2] == "WORKS_WITH"
    assert rel_rows[0][3] == 'conv,"7"'

    # a ';' inside a label value fails the write, not the import
    bad = nodes.withColumn("labels", F.array(F.lit("A;B")))
    with pytest.raises(Exception, match="array delimiter"):
        export_neo4j_admin(bad, triples, str(tmp_path_factory.mktemp("n4jb")))
