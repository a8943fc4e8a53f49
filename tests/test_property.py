"""Property-based tests (SURVEY.md §5 item 4, FIXTURES.md §4)."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from importtoneo4j_spark.operators.canonicalize import connected_components


def union_find_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb

    for a, b in edges:
        union(a, b)
    comp = {}
    for x in list(parent):
        comp.setdefault(find(x), set()).add(x)
    return {frozenset(v) for v in comp.values()}


edge_lists = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=25), st.integers(min_value=0, max_value=25)
    ),
    min_size=1,
    max_size=40,
).filter(lambda es: any(a != b for a, b in es))


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(edges=edge_lists)
@example(edges=[(i + 1, i) for i in range(19)])  # 20-node chain, min at the end
@example(edges=[(12, i) for i in range(25) if i != 12])  # star
def test_cc_matches_union_find(spark, edges):
    """Spark hash-min CC == sequential union-find on arbitrary graphs, and
    component id == min member id."""
    rows = [(f"n{a:02d}", f"n{b:02d}") for a, b in edges if a != b]
    df = spark.createDataFrame(rows, ["src", "dst"])
    got = connected_components(df).collect()
    by_comp: dict[str, set[str]] = {}
    for r in got:
        by_comp.setdefault(r["comp"], set()).add(r["id"])
    # invariant 1: component id is the minimum member id
    for comp, members in by_comp.items():
        assert comp == min(members)
    # invariant 2: partition matches union-find
    want = union_find_components(rows)
    assert {frozenset(v) for v in by_comp.values()} == want


@pytest.mark.parametrize("seed", [7, 99])
def test_pr_holds_across_seeds(spark, tmp_path_factory, seed):
    """The P/R >= 0.95 gate is not seed-specific."""
    from importtoneo4j_spark.datagen import TranscriptGenerator
    from importtoneo4j_spark.oracle import Oracle, precision_recall
    from importtoneo4j_spark.plans.pipeline import KGPipeline

    gen = TranscriptGenerator(seed=seed, n_entities=100)
    path = str(tmp_path_factory.mktemp("prseed") / "t")
    gen.write_parquet(path, n_convs=60)
    work = str(tmp_path_factory.mktemp("prseed") / "kg")
    pipe = KGPipeline(spark, path, work, run_id="r")
    pipe.run()
    engine = {
        (r["subj"], r["pred"], r["obj"])
        for r in pipe.triples().select("subj", "pred", "obj").collect()
    }
    oracle = Oracle(gen.turns_pandas(60), gen.alias_truth())
    p, r = precision_recall(engine, oracle.triple_set())
    assert p >= 0.95 and r >= 0.95, f"seed={seed}: p={p:.4f} r={r:.4f}"


def test_every_mention_one_canonical(spark, gen, small_transcripts_path, tmp_path_factory):
    """FIXTURES invariant: every vocabulary surface maps to exactly one
    canonical id."""
    from importtoneo4j_spark.plans.pipeline import KGPipeline

    work = str(tmp_path_factory.mktemp("inv") / "kg")
    pipe = KGPipeline(spark, small_transcripts_path, work, run_id="r")
    pipe.run()
    links = pipe.store.read("links")
    from pyspark.sql import functions as F

    multi = (
        links.groupBy("surface")
        .agg(F.countDistinct("canonical_id").alias("n"))
        .filter(F.col("n") > 1)
    )
    assert multi.count() == 0


interval_cases = st.tuples(
    st.lists(st.integers(min_value=0, max_value=500), min_size=1, max_size=25),
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=500),
            st.integers(min_value=0, max_value=200),
        ),
        min_size=1,
        max_size=10,
    ),
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(case=interval_cases)
def test_interval_join_matches_naive(spark, case):
    """The bin-equi-join containment join == the naive quadratic
    definition on arbitrary point/interval sets (half-open [s, e),
    intervals spanning 0..N bins, empty intervals)."""
    import datetime as dt

    from importtoneo4j_spark.operators.temporal import point_in_interval_join

    minutes, ivs = case
    t0 = dt.datetime(2025, 1, 1)
    pts = spark.createDataFrame(
        [(i, t0 + dt.timedelta(minutes=m)) for i, m in enumerate(minutes)],
        "pid int, ts timestamp",
    )
    iv = spark.createDataFrame(
        [
            (j, t0 + dt.timedelta(minutes=s), t0 + dt.timedelta(minutes=s + ln))
            for j, (s, ln) in enumerate(ivs)
        ],
        "iid int, s timestamp, e timestamp",
    )
    got = {
        (r["pid"], r["iid"])
        for r in point_in_interval_join(
            pts, iv, ts_col="ts", start_col="s", end_col="e", bin_seconds=3600
        ).collect()
    }
    want = {
        (i, j)
        for i, m in enumerate(minutes)
        for j, (s, ln) in enumerate(ivs)
        if s <= m < s + ln
    }
    assert got == want


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(edges=edge_lists)
def test_triangle_count_matches_bruteforce(spark, edges):
    """Degree-oriented triangle counting == itertools brute force on
    arbitrary graphs (duplicates, both directions, self-loops)."""
    from itertools import combinations

    from importtoneo4j_spark.operators.graph import triangle_count

    rows = [(f"n{a:02d}", f"n{b:02d}") for a, b in edges]
    df = spark.createDataFrame(rows, "subj string, obj string")
    got = triangle_count(df).first()["n_triangles"]
    und = {frozenset((a, b)) for a, b in rows if a != b}
    verts = sorted({v for e in und for v in e})
    want = sum(
        1
        for t in combinations(verts, 3)
        if all(frozenset(p) in und for p in combinations(t, 2))
    )
    assert got == want


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(edges=edge_lists)
def test_pagerank_invariants(spark, edges):
    """Every rank >= the teleport floor (1-d)/N; total mass <= 1 (equality
    iff no dangling nodes); ranks match a sequential reference
    implementation."""
    from importtoneo4j_spark.operators.graph import pagerank

    rows = [(f"n{a:02d}", f"n{b:02d}") for a, b in edges if a != b]
    if not rows:
        return
    df = spark.createDataFrame(rows, "subj string, obj string")
    got = {r["entity_id"]: r["rank"] for r in pagerank(df, iters=3).collect()}
    nodes = sorted({v for e in rows for v in e})
    n = len(nodes)
    # sequential reference
    from collections import Counter, defaultdict

    out = Counter(a for a, _ in rows)
    inc = defaultdict(list)
    for a, b in rows:
        inc[b].append(a)
    ranks = {v: 1.0 / n for v in nodes}
    for _ in range(3):
        ranks = {
            v: 0.15 / n + 0.85 * sum(ranks[u] / out[u] for u in inc[v])
            for v in nodes
        }
    assert set(got) == set(nodes)
    for v in nodes:
        assert abs(got[v] - ranks[v]) < 1e-9
        assert got[v] >= 0.15 / n - 1e-12
    assert sum(got.values()) <= 1.0 + 1e-9


weighted_edge_lists = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=12),
        st.integers(min_value=0, max_value=12),
        st.integers(min_value=1, max_value=9),
    ),
    min_size=1,
    max_size=30,
).filter(lambda es: any(a != b for a, b, _ in es))


def bellman_ford_reference(edges, sources, max_iters):
    """Sequential bounded Bellman-Ford: dist after exactly max_iters
    synchronous relaxation rounds (paths of at most max_iters edges)."""
    dist = {s: 0 for s in sources}
    for _ in range(max_iters):
        new = dict(dist)
        for a, b, w in edges:
            if a in dist:
                cand = dist[a] + w
                if b not in new or cand < new[b]:
                    new[b] = cand
        dist = new
    return dist


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(edges=weighted_edge_lists)
def test_shortest_paths_matches_bellman_ford(spark, edges):
    """Spark bounded Bellman-Ford == the sequential reference on arbitrary
    weighted digraphs (round 5): same synchronous-relaxation semantics,
    integer-exact distances, bounded by edge count per path."""
    from importtoneo4j_spark.operators.graph import shortest_paths

    rows = [(f"n{a:02d}", f"n{b:02d}", w) for a, b, w in edges if a != b]
    df = spark.createDataFrame(rows, "subj string, obj string, w long")
    sources = ["n00", "n05"]
    srcs = spark.createDataFrame([(s,) for s in sources], "id string")
    got = {
        r["id"]: r["dist"]
        for r in shortest_paths(df, srcs, max_iters=3).collect()
    }
    want = bellman_ford_reference(
        [(f"n{a:02d}", f"n{b:02d}", w) for a, b, w in edges if a != b],
        sources,
        3,
    )
    assert got == want
