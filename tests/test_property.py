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


# letters that normalization lowercases, folds or splits on: Turkish dotted
# I (lowercases to i + a combining dot), final sigma, ligatures, CJK,
# non-ASCII digits
_ALPHABET = list("abcdeiklmnorstxyz") + list("ÄäÖöüßçéñøåłœİıΣσςДжﬁ日本٣Ⅻ")
_words = st.text(alphabet=_ALPHABET, min_size=1, max_size=6)
_surfaces = st.lists(_words, min_size=1, max_size=3).flatmap(
    lambda ws: st.sampled_from([" ", "-", ". ", "  ", "_"]).map(lambda sep: sep.join(ws))
)
lsh_cases = st.tuples(
    # each surface with or without a legal-form alias ("<surface> Inc"):
    # a two-token name and its alias link at token Jaccard 2/3
    st.lists(st.tuples(_surfaces, st.booleans()), max_size=12),
    # shared-prefix clusters: "<prefix> corp 0" .. "<prefix> corp n-1" share
    # most char 4-grams, so their band buckets overflow a small cap
    st.lists(st.tuples(_words, st.integers(min_value=2, max_value=9)), max_size=3),
    st.integers(min_value=2, max_value=4),  # max_bucket
    # where the keys, in order of appearance, are cut into 2-4 calls
    st.lists(st.integers(min_value=0, max_value=40), min_size=1, max_size=3),
)


def _reference_lsh_edges(sig_rows, max_bucket, threshold):
    """The LSH edges in plain Python from a signature frame: buckets of
    2..max_bucket members, pairs a < b, token Jaccard on ``key.split(" ")``."""
    buckets: dict[str, set[str]] = {}
    for r in sig_rows:
        buckets.setdefault(r["band_key"], set()).add(r["norm_key"])
    out = set()
    for members in buckets.values():
        if not 2 <= len(members) <= max_bucket:
            continue
        for a in members:
            for b in members:
                ta, tb = set(a.split(" ")), set(b.split(" "))
                if a < b and len(ta & tb) / len(ta | tb) >= threshold:
                    out.add((a, b))
    return out


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(case=lsh_cases)
@example(case=([("Acme Corp", True), ("acme-corp.", False)], [("acme", 8)], 3, [2]))
@example(case=([("İstanbul Ölçer", True), ("ΣΟΦΙΑ ς", True)], [("zz", 5)], 4, [0, 3]))
# the second call's key pushes the 6 buckets that "alpha beta" shares with
# "alpha beta two" (and with "alpha beta inc") over the cap of 3: the first
# pair has no other bucket and drops, the second keeps 2 buckets and stays
@example(
    case=(
        [(s, False) for s in ("alpha beta", "alpha beta inc", "alpha beta two", "alpha beta co")],
        [],
        3,
        [3],
    )
)
def test_lsh_candidate_edges_matches_reference(spark, case):
    """Successive lsh_candidate_edges calls, each fed the earlier calls'
    signatures as stored_sig, add up to one call over every key: the
    pairs whose summed support exceeds their retractions are its edges, and
    the summed hot-bucket counts its count; that call's edges equal a
    pure-Python recomputation from the signatures. No call MinHashes a
    stored key again, and the tokens the linker takes from a norm_key by
    splitting it equal token_shingles of that key."""
    from collections import Counter

    from pyspark.sql import functions as F

    from importtoneo4j_spark.functions.text import norm_key, token_shingles
    from importtoneo4j_spark.operators.link import (
        JACCARD_THRESHOLD,
        lsh_candidate_edges,
    )
    from importtoneo4j_spark.session import stage_unpersist

    surfaces, clusters, max_bucket, cuts = case
    texts = [t for s, alias in surfaces for t in ([s, f"{s} Inc"] if alias else [s])]
    texts += [f"{p} corp {j}" for p, n in clusters for j in range(n)]
    keyed = spark.createDataFrame([(t,) for t in texts], "text string").select(
        norm_key(F.col("text")).alias("k")
    )
    split_ok = keyed.select(
        (F.array_distinct(F.split("k", " ")) == token_shingles(F.col("k"))).alias("ok")
    )
    assert all(r["ok"] for r in split_ok.collect())

    keys = [k for k in dict.fromkeys(r["k"] for r in keyed.collect()) if k]
    bounds = [0, *sorted(min(c, len(keys)) for c in cuts), len(keys)]
    stored, stored_rows = None, []
    support, retractions, hot = Counter(), Counter(), 0
    for lo, hi in zip(bounds, bounds[1:]):
        vocab = spark.createDataFrame([(k,) for k in keys[lo:hi]], "norm_key string")
        lsh = lsh_candidate_edges(vocab, stored_sig=stored, max_bucket=max_bucket)
        for r in lsh.edges.collect():
            assert r["support"] > 0 and not support[(r["src"], r["dst"])]
            support[(r["src"], r["dst"])] = r["support"]
        hot += lsh.counts()["hot_buckets_dropped"]
        retractions.update((r["src"], r["dst"]) for r in lsh.retracted.collect())
        fresh_rows = lsh.sig.collect()
        stage_unpersist(lsh.sig)
        assert not {r["norm_key"] for r in fresh_rows} & {r["norm_key"] for r in stored_rows}
        stored_rows += fresh_rows
        if stored_rows:
            stored = spark.createDataFrame(stored_rows, "norm_key string, band_key string")
    live = {p for p, n in support.items() if n > retractions[p]}

    every = spark.createDataFrame([(k,) for k in keys], "norm_key string")
    whole = lsh_candidate_edges(every, max_bucket=max_bucket)
    got = {(r["src"], r["dst"]) for r in whole.edges.collect()}
    assert live == got
    assert hot == whole.counts()["hot_buckets_dropped"]
    assert set(whole.sig.collect()) == set(stored_rows)
    assert got == _reference_lsh_edges(stored_rows, max_bucket, JACCARD_THRESHOLD)
    stage_unpersist(whole.sig)
