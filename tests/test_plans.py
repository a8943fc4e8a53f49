"""Physical-plan assertions: the optimizations we rely on must actually
appear in the executed plans (SURVEY.md §4 — verify with explain)."""

from __future__ import annotations

import ast
import os
import pathlib
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_q6_filter_pushdown(spark):
    """Filters must reach the parquet scan as PushedFilters."""
    df = entry_mod.q6_forecast_revenue(spark, SF_DIR)
    scan = df._jdf.queryExecution().sparkPlan().toString()
    assert "PushedFilters: [" in scan
    assert "l_shipdate" in scan.split("PushedFilters")[1][:300]


def test_q1_column_pruning(spark):
    """The q1 scan must read only the needed columns, not all 11."""
    df = entry_mod.q1_pricing_summary(spark, SF_DIR)
    scan = df._jdf.queryExecution().sparkPlan().toString()
    read_schema = scan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" not in read_schema
    assert "l_partkey" not in read_schema
    assert "l_quantity" in read_schema


def test_q5_broadcasts_dims(spark):
    """Only the fixed-cardinality nation/region carry forced broadcast hints;
    supplier (grows with SF) must be AQE-chosen — and at sandbox scale AQE
    must still pick broadcast for all three from measured sizes."""
    df = entry_mod.q5_nation_revenue(spark, SF_DIR)
    optimized = optimized_of(df)
    # exactly the two safe-by-construction hints survive optimization
    # (hints print as ResolvedHint pre-elimination or strategy=broadcast
    # once folded into the Join node — count both spellings)
    n_hints = optimized.count("ResolvedHint") + optimized.count("strategy=broadcast")
    assert n_hints <= 2
    df.collect()  # AQE finalizes join strategies on execution
    assert plan_of(df).count("BroadcastHashJoin") >= 3


def test_kg_flagship_broadcasts(spark):
    """Scale guard (VERDICT r2 what's-wrong #2): customer/part grow linearly
    with SF, so kg_flagship must carry NO forced broadcast hint; AQE still
    picks broadcast-hash at sandbox scale from runtime-measured sizes."""
    df = entry_mod.kg_flagship(spark, SF_DIR)
    optimized = optimized_of(df)
    assert "ResolvedHint" not in optimized
    assert "strategy=broadcast" not in optimized
    df.collect()
    assert "BroadcastHashJoin" in plan_of(df)


def test_whole_stage_codegen_everywhere(spark):
    """Aggregation queries stay inside whole-stage codegen. AQE reports the
    final plan only after execution, so run the query first."""
    for name in ["q1_pricing_summary", "c8_dynamic_rel_type", "a6_guarded_ratio"]:
        df = entry_mod.queries()[name](spark, SF_DIR)
        df.collect()
        plan = plan_of(df)
        # '*(n)' prefixes mark whole-stage-codegen spans in the plan string
        assert "*(" in plan or "WholeStageCodegen" in plan, name
        assert "partial_" in plan, name  # map-side combine present


def test_no_python_udf_outside_extraction(spark):
    """Every driver query must compile to a plan free of Python evals."""
    for name, q in entry_mod.queries().items():
        plan = plan_of(q(spark, SF_DIR))
        for marker in ("BatchEvalPython", "ArrowEvalPython", "PythonUDF"):
            assert marker not in plan, f"{name} contains {marker}"


def test_extraction_is_arrow_batched(spark, gen):
    """Extraction runs entirely in the JVM (regexp_extract_all + explode):
    no Python node of any kind in the plan (guide §4.1: built-ins over
    UDFs)."""
    from importtoneo4j_spark.operators.extract import extract_assertions

    df = spark.createDataFrame(gen.turns_pandas(5))
    plan = plan_of(extract_assertions(df))
    for marker in ("MapInPandas", "BatchEvalPython", "ArrowEvalPython"):
        assert marker not in plan


def test_first_wins_has_partial_aggregation(spark):
    """The dedup aggregate must partial-merge map-side (skew defense)."""
    from importtoneo4j_spark.operators.merge import first_wins

    e = spark.read.parquet(f"{SF_DIR}/events.parquet")
    df = first_wins(e, ["user_id"], ["ts", "event_id"], ["value"], salt_buckets=1)
    plan = plan_of(df)
    assert "partial_min" in plan or plan.count("HashAggregate") >= 2


def test_anti_join_strategy(spark):
    df = entry_mod.u2_anti_join_delta(spark, SF_DIR)
    plan = plan_of(df)
    assert "LeftAnti" in plan


def _tiny_extracted_and_links(spark):
    extracted = spark.createDataFrame(
        [
            ("c1", 1, "triple", "Acme Corp", "ships", "Widget", 0.9, "assistant"),
            ("c1", 2, "triple", "Widget", "made_by", "Acme Corp", 0.8, "user"),
            ("c2", 1, "triple", "Acme Corp", "ships", "Gadget", 0.7, "assistant"),
        ],
        "conv_id string, turn_idx int, kind string, subj_surface string,"
        " obj_surface string, pred string, quality double, role string",
    )
    links = spark.createDataFrame(
        [("Acme Corp", "acme corp"), ("Widget", "widget"), ("Gadget", "gadget")],
        "surface string, canonical_id string",
    )
    return extracted, links


def test_materialize_joins_are_aqe_chosen(spark):
    """Scale guard: canonical_triples/canonical_nodes must NOT carry a forced
    broadcast hint (the vocabulary can be 10^9 rows at 100 TB); with a small
    links table AQE must still pick broadcast-hash at runtime from measured
    sizes — both directions asserted."""
    from importtoneo4j_spark.operators.materialize import (
        canonical_nodes,
        canonical_triples,
    )

    extracted, links = _tiny_extracted_and_links(spark)
    for df in (canonical_triples(extracted, links), canonical_nodes(extracted, links)):
        assert "ResolvedHint" not in optimized_of(df)  # no forced strategy
        df.collect()  # AQE finalizes the physical plan on execution
        assert "BroadcastHashJoin" in plan_of(df)  # ...and picks broadcast
        # when the runtime-measured vocabulary actually is small


def test_interval_join_is_equi_not_nested_loop(spark):
    """The bin-equi-join formulation must never plan a broadcast nested
    loop or cartesian product — the whole point of the binning
    (operators/temporal.py::point_in_interval_join)."""
    import __spark_entry__ as entry_mod

    df = entry_mod.queries()["t6_interval_join"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_triangle_count_all_equi_joins(spark):
    """Every join in the oriented triangle count is an equi-join (wedge
    build + closing-edge probe) — no nested loops at any scale."""
    import __spark_entry__ as entry_mod

    df = entry_mod.queries()["g4_triangles"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_hash_split_is_map_side_only(spark):
    """Split assignment adds no shuffle: the plan of hash_split over a
    scan contains no Exchange (stable under growth BECAUSE it is
    per-row)."""
    from importtoneo4j_spark.operators.sampling import hash_split

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = hash_split(d, "doc_id", {"train": 0.9, "test": 0.1})
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


# package definitions that no entry point references, kept on purpose
KEPT_UNREFERENCED = {
    "export_neo4j_admin": "the reference's product, a neo4j-admin import (SURVEY row EXP)",
    "brute_force_topk": "exact top-k that the ANN tests compare against",
    "token_shingles": "tokenizer that the LSH property test compares against",
    "embedding_dropped_buckets": "observability: the IVF buckets over the cap",
    "incremental_extract_stream": "writes the epochs that fold_epochs and --fold-epochs read",
    "turn_rate_stream": "streaming tumbling windows that README and SURVEY W4 claim",
    "session_window_stream": "streaming session windows that README and SURVEY W4 claim",
    "GraphView.get_node_labels": "Neo4j.getNodeLabels parity (operators/graph.py)",
    "GraphView.match_unique_node": "Neo4j.matchOrCreateUniqueNode lookup parity",
    "GraphView.has_relationship": "Neo4j.hasRelationship parity",
    "GraphView.is_neighbour_with_props": "Neo4j.isNeighbourNodeWithSuppliedProperties parity",
    "GraphView.run_sql": "Neo4j.runCypherQuery parity",
    "KGPipeline.lineage": "the store's per-run lineage rows, a public read of the store",
    "KGPipeline.stage_ingest": "called by name: getattr(self, f'stage_{stage}')",
    "KGPipeline.stage_extract": "called by name: getattr(self, f'stage_{stage}')",
    "KGPipeline.stage_link": "called by name: getattr(self, f'stage_{stage}')",
    "KGPipeline.stage_canonicalize": "called by name: getattr(self, f'stage_{stage}')",
    "KGPipeline.stage_materialize": "called by name: getattr(self, f'stage_{stage}')",
    "TranscriptGenerator.turns_pandas": "the rows write_parquet writes, as one in-memory frame",
}


def test_package_code_is_reached_outside_tests():
    """Every package function, class and method is referenced from code
    outside tests/: the package, __spark_entry__.py, the bench*.py scripts
    or kgbench/, unless KEPT_UNREFERENCED names it. A reference is a Name,
    Attribute or ImportFrom node of the AST, so a mention in a docstring or
    comment does not count, nor does a package __init__ re-export."""
    root = pathlib.Path(__file__).resolve().parent.parent
    pkg = root / "importtoneo4j_spark"
    defs = {}
    for path in pkg.rglob("*.py"):
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
                defs[node.name] = node.name
            if isinstance(node, ast.ClassDef):
                for m in node.body:
                    if isinstance(m, ast.FunctionDef) and not m.name.startswith("__"):
                        defs[f"{node.name}.{m.name}"] = m.name
    used = set()
    for path in [*pkg.rglob("*.py"), *root.glob("*.py"), *(root / "kgbench").rglob("*.py")]:
        for n in ast.walk(ast.parse(path.read_text())):
            if isinstance(n, ast.Name):
                used.add(n.id)
            elif isinstance(n, ast.Attribute):
                used.add(n.attr)
            elif isinstance(n, ast.ImportFrom) and path.name != "__init__.py":
                used.update(a.name for a in n.names)
    assert {q for q, name in defs.items() if name not in used} == set(KEPT_UNREFERENCED)
