"""Tests: graph query API, dedup family, similarity search, CLI entry
point."""

from __future__ import annotations

import json
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from importtoneo4j_spark.operators.dedup import (
    exact_dedup,
    minhash_near_dups,
    ngram_jaccard_pairs,
    simhash_near_dups,
)
from importtoneo4j_spark.operators.graph import GraphView
from importtoneo4j_spark.operators.similarity import (
    brute_force_topk,
    embedding_near_dups,
    ivf_topk,
)

SF = "/root/testdata/sf0.001"


# ------------------------------------------------------------------ GraphView

@pytest.fixture(scope="module")
def graph(spark):
    nodes = spark.createDataFrame(
        [
            ("a", "A Corp", ["Subject", "Org"], {"tier": "1"}, 5, 2),
            ("b", "B Inc", ["Object"], {"tier": "2"}, 3, 1),
            ("c", "C Ltd", ["Subject", "Object"], {"tier": "1"}, 1, 1),
        ],
        "entity_id string, canonical_surface string, labels array<string>, "
        "properties map<string,string>, n_mentions long, n_surfaces long",
    )
    triples = spark.createDataFrame(
        [
            ("a", "works_at", "b", "c1", 0, 1.0, {"source_role": "user"}),
            ("a", "uses", "c", "c1", 1, 1.0, {"source_role": "tool"}),
            ("b", "works_at", "c", "c2", 0, 1.0, {"source_role": "user"}),
        ],
        "subj string, pred string, obj string, conv_id string, turn_idx int, "
        "quality float, properties map<string,string>",
    )
    return GraphView(nodes, triples)


def test_get_nodes_label_and_prop(graph):
    got = {r["entity_id"] for r in graph.get_nodes("Subject", tier="1").collect()}
    assert got == {"a", "c"}


def test_match_unique_node(graph):
    assert graph.match_unique_node(entity_id="a").count() == 1
    with pytest.raises(ValueError, match="more than one"):
        graph.match_unique_node(tier="1")


def test_has_relationship(graph):
    assert graph.has_relationship("a", "b", "works_at")
    assert not graph.has_relationship("b", "a", "works_at")


def test_find_neighbours_directions(graph):
    out = {r["to_id"] for r in graph.find_neighbours("a", direction="out").collect()}
    assert out == {"b", "c"}
    inn = {r["to_id"] for r in graph.find_neighbours("c", direction="in").collect()}
    assert inn == {"a", "b"}
    lbl = {
        r["to_id"]
        for r in graph.find_neighbours("a", direction="out", end_label="Object").collect()
    }
    assert lbl == {"b", "c"}


def test_find_neighbours_with_params(graph):
    got = {r["to_id"] for r in graph.find_neighbours_with_params("a", tier="2").collect()}
    assert got == {"b"}


def test_is_neighbour_with_props(graph):
    assert graph.is_neighbour_with_props("a", "c", "uses", source_role="tool")
    assert not graph.is_neighbour_with_props("a", "c", "uses", source_role="user")


def test_run_sql_and_degree(spark, graph):
    df = graph.run_sql(
        spark, "SELECT pred, count(*) AS n FROM triples GROUP BY pred ORDER BY pred"
    )
    assert [tuple(r) for r in df.collect()] == [("uses", 1), ("works_at", 2)]
    deg = {r["entity_id"]: r["degree"] for r in graph.degree("out").collect()}
    assert deg == {"a": 2, "b": 1}


# ---------------------------------------------------------------- dedup family

@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_exact_dedup(spark):
    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other")], ["doc_id", "text"]
    )
    got = {r["keep_id"] for r in exact_dedup(df, "doc_id", "text").collect()}
    assert got == {1, 3}


def test_minhash_recall_vs_exact(spark, docs):
    """LSH candidates (verified >= 0.5) must equal the exact inverted-index
    pairs at this scale (recall at j >= 0.9 with 8 bands x 2 rows ~ 1.0)."""
    exact = {
        (r["a_id"], r["b_id"])
        for r in ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.5).collect()
    }
    lsh = {
        (r["a_id"], r["b_id"])
        for r in minhash_near_dups(docs, "doc_id", "text", threshold=0.5).collect()
    }
    assert lsh == exact
    assert len(exact) > 0  # planted near-dups exist in the testdata


def test_simhash_finds_planted_dups(spark, docs):
    """128-bit SimHash with 4x32-bit band blocking: perfect precision at
    hamming<=8 on this corpus (the nearest non-near-dup pair sits at
    hamming 24, random pairs at 46+), recall bounded by the banding
    probability curve — pigeonhole guarantees hamming<=3 only; the measured
    fixed-testdata operating point is 11 of 27 planted >=0.9-Jaccard pairs
    (MinHash-LSH is the recall-oriented near-dup path, asserted equal to
    exact above)."""
    got = simhash_near_dups(docs, "doc_id", "text", max_hamming=8)
    pairs = {(r["a_id"], r["b_id"]) for r in got.collect()}
    strict = {
        (r["a_id"], r["b_id"])
        for r in ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.9).collect()
    }
    loose = {
        (r["a_id"], r["b_id"])
        for r in ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.6).collect()
    }
    # perfect precision: every emitted pair is a true >=0.9 near-dup here
    assert pairs <= strict <= loose
    # measured blocking recall on the fixed testdata (11/27; margin 1)
    assert len(pairs & strict) >= 10


def test_ngram_hot_shingle_guard(spark):
    """Planted boilerplate skew: 200 docs share exactly one 5-gram. Without
    the df cap that shingle alone yields 19,900 candidate pairs; with the
    cap the hot shingle is dropped from blocking, so boilerplate-only pairs
    never become candidates even at a threshold their Jaccard would pass —
    while pairs blocked by non-hot shingles are still found and scored on
    their FULL shingle sets."""
    boiler = "alpha beta gamma delta epsilon"
    rows = [
        (i, f"{boiler} u{i}a u{i}b u{i}c u{i}d u{i}e u{i}f") for i in range(200)
    ]
    rows += [
        (1000, "one two three four five six seven eight"),
        (1001, "one two three four five six seven nine"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.01, max_df=50)
    pairs = {(r["a_id"], r["b_id"]) for r in got.collect()}
    assert (1000, 1001) in pairs  # low-df blocking still works
    # every boilerplate-boilerplate pair (jac = 1/13 >= 0.01) is absent:
    # their only shared shingle exceeded max_df and never generated candidates
    assert all(a >= 1000 for a, _ in pairs)


def test_simhash_hot_bucket_guard(spark):
    """Planted clone skew: 300 exact clones collide on all four simhash
    bands (B^2 = 44,850 candidates without the cap). The cap drops those
    buckets before the self-join; a small-bucket near-dup pair elsewhere in
    the corpus is still found."""
    clone = "the quick brown fox jumps over the lazy dog again and again " * 3
    base = (
        "distributed query engines partition relational data across many "
        "worker nodes and exchange intermediate results through shuffles "
        "while the optimizer prunes columns and pushes filters toward scans"
    )
    rows = [(i, clone) for i in range(300)]
    rows += [(1000, base + " final"), (1001, base + " last")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = simhash_near_dups(df, "doc_id", "text", max_hamming=16, max_bucket=64)
    pairs = {(r["a_id"], r["b_id"]) for r in got.collect()}
    assert (1000, 1001) in pairs
    assert all(a >= 1000 for a, _ in pairs)  # clone buckets were capped


# ------------------------------------------------------------------ similarity

@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_ivf_recall_vs_brute_force(spark, emb):
    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    bf = brute_force_topk(emb, q, k=3)
    ivf = ivf_topk(emb, q, k=3, n_centroids=16, nprobe=8)
    bf_set = {(r["qid"], r["vec_id"]) for r in bf.collect()}
    ivf_set = {(r["qid"], r["vec_id"]) for r in ivf.collect()}
    # approximate: with nprobe=8/16 expect >= 50% overlap of true top-3
    assert len(bf_set & ivf_set) >= int(0.5 * len(bf_set))
    assert len(ivf_set) == 8 * 3


def test_embedding_near_dups_self_consistency(spark, emb):
    # duplicate a vector under a new id -> must be found with sim ~ 1.0
    dup = emb.filter(F.col("vec_id") == 3).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding", "label"
    )
    got = embedding_near_dups(emb.unionByName(dup), threshold=0.999)
    pairs = {(r["a_id"], r["b_id"]) for r in got.collect()}
    assert (3, 100003) in pairs


def test_embedding_degenerate_bucket_capped(spark):
    """VERDICT r3 #1 skew guard: a degenerate corpus (every vector within a
    whisker of one direction) collapses the IVF assignment into one bucket
    ~ the corpus; the auto hot-bucket cap must drop it BEFORE the pair join
    (bounded work, no B^2 straggler) and the drop must be observable."""
    from importtoneo4j_spark.operators.similarity import embedding_dropped_buckets

    n = 600
    # fully degenerate: identical vectors -> every cosine ties -> the
    # argmax tiebreak sends ALL of them to centroid 0's bucket
    rows = [(i, [1.0, 0.5, 0.25]) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = embedding_near_dups(df, threshold=0.9, n_centroids=16)
    # auto cap = max(256, 8*600/16=300): the ~600-member bucket is dropped,
    # so the quadratic pair join never materializes
    assert got.count() == 0
    dropped = embedding_dropped_buckets(df, n_centroids=16)
    assert dropped.count() >= 1
    # explicit cap works too, and a healthy corpus is untouched
    healthy = spark.read.parquet(f"{SF}/embeddings.parquet")
    assert embedding_dropped_buckets(healthy, n_centroids=16).count() == 0
    # ADVICE r4: the twin observes the SAME assignment the cap ran on —
    # under nprobe=2 the identical vectors land in their TWO nearest
    # buckets (centroids 0 and 1), so two buckets exceed the cap, not one
    assert (
        embedding_dropped_buckets(df, n_centroids=16, max_bucket=500).count() == 1
    )
    assert (
        embedding_dropped_buckets(
            df, n_centroids=16, max_bucket=500, nprobe=2
        ).count() == 2
    )


def test_embedding_multiprobe_boundary_recall(spark):
    """A near-dup pair straddling a bucket boundary is invisible to the
    nprobe=1 blocking and found with nprobe=2 (documented recall/cost
    tradeoff, VERDICT r3 #1). Pairs surfacing in both shared buckets are
    deduplicated before scoring."""
    import math

    deg = math.pi / 180.0
    rows = [
        (0, [1.0, 0.0]),  # seed centroid A
        (1, [0.0, 1.0]),  # seed centroid B
        (2, [math.cos(44 * deg), math.sin(44 * deg)]),  # closest to A
        (3, [math.cos(46 * deg), math.sin(46 * deg)]),  # closest to B
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got1 = embedding_near_dups(df, threshold=0.99, n_centroids=2, nprobe=1)
    assert (2, 3) not in {(r["a_id"], r["b_id"]) for r in got1.collect()}
    got2 = embedding_near_dups(df, threshold=0.99, n_centroids=2, nprobe=2)
    rows2 = [(r["a_id"], r["b_id"]) for r in got2.collect()]
    assert (2, 3) in set(rows2)
    assert rows2.count((2, 3)) == 1  # deduped across shared buckets


def test_kmeans_refine_checkpointed_plan_stays_flat(spark):
    """VERDICT r3 minor #3: each Lloyd iteration localCheckpoints the
    centroid table, so the lineage does not nest per iteration — at
    refine_iters=8 the returned plan is a checkpoint scan, not an
    8-deep join tower."""
    from importtoneo4j_spark.operators.similarity import assign_buckets

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").limit(200)
    cents, assigned = assign_buckets(emb, n_centroids=8, refine_iters=8)
    assert cents.count() <= 8
    assert assigned.count() == 200
    plan = cents._jdf.queryExecution().optimizedPlan().toString()
    assert "ExistingRDD" in plan or "LogicalRDD" in plan  # truncated lineage


# ------------------------------------------------------------------------ CLI

def test_cli_end_to_end(tmp_path):
    work = str(tmp_path / "cliwork")
    out = subprocess.run(
        [
            sys.executable,
            "-m",
            "importtoneo4j_spark",
            "--workdir",
            work,
            "--gen-convs",
            "12",
            "--master",
            "local[2]",
        ],
        capture_output=True,
        text=True,
        cwd="/root/repo",
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    metrics = json.loads(out.stdout.strip().splitlines()[-1])
    assert metrics["materialize"]["triples"] > 0


def test_ivf_assignment_is_mapside_aggregate(spark, emb):
    """Scale guard (VERDICT r1 What's-wrong #3): bucket assignment must be a
    partial-aggregating min(struct) argmax (negated similarity, so the
    tiebreak is type-agnostic — ADVICE r2), never a window argmax that
    shuffles all N*K scored rows."""
    from importtoneo4j_spark.operators.similarity import assign_buckets

    _, assigned = assign_buckets(emb, n_centroids=8)
    assigned.collect()
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "partial_min" in plan or plan.count("HashAggregate") >= 2


def test_ivf_refined_recall_clustered(spark):
    """recall@k >= 0.9 on a synthetic clustered distribution after Lloyd
    refinement of the deterministic seed quantizer (k-means'' analog)."""
    import numpy as np

    rng = np.random.default_rng(7)
    d, n_clusters, per = 16, 8, 60
    centers = rng.normal(size=(n_clusters, d)) * 5.0
    rows = []
    vid = 0
    for i in range(per):
        for c in range(n_clusters):  # interleave: seeds spread over clusters
            v = centers[c] + rng.normal(size=d) * 0.3
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    bf = brute_force_topk(df, q, k=5)
    ivf = ivf_topk(df, q, k=5, n_centroids=8, nprobe=2, refine_iters=2)
    bf_set = {(r["qid"], r["vec_id"]) for r in bf.collect()}
    ivf_set = {(r["qid"], r["vec_id"]) for r in ivf.collect()}
    recall = len(bf_set & ivf_set) / len(bf_set)
    assert recall >= 0.9, f"recall@5 = {recall}"


def test_dedup_clusters_match_union_find(spark, docs):
    """dedup_clusters == python union-find over the verified MinHash pairs:
    transitive grouping with keep_id = component minimum."""
    from importtoneo4j_spark.operators.dedup import dedup_clusters

    pairs = [
        (r["a_id"], r["b_id"])
        for r in minhash_near_dups(docs, "doc_id", "text", threshold=0.5).collect()
    ]
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {x: find(x) for x in parent}
    got = {
        r["doc_id"]: r["keep_id"]
        for r in dedup_clusters(docs, "doc_id", "text", threshold=0.5).collect()
    }
    assert got == want and len(got) > 0


def test_exact_ngram_contamination_planted(spark):
    from importtoneo4j_spark.operators.dedup import exact_ngram_contamination

    window = "a b c d e f g h i j k l m"  # one exact 13-gram
    train = spark.createDataFrame(
        [(0, window + " trainpad1 trainpad2"), (2, "unrelated " * 14)],
        ["doc_id", "text"],
    )
    ev = spark.createDataFrame(
        [(1, "evalpad " + window), (3, "clean " * 15)], ["doc_id", "text"]
    )
    got = {
        r["eval_id"]: (r["n_shared_ngrams"], r["n_train_docs"])
        for r in exact_ngram_contamination(train, ev, "doc_id", "text", n=13).collect()
    }
    assert got == {1: (1, 1)}  # only the planted window, only one train doc
    # df cap: a boilerplate gram in every train doc is excluded from the index
    boiler_train = spark.createDataFrame(
        [(i, window) for i in range(0, 12, 2)], ["doc_id", "text"]
    )
    capped = exact_ngram_contamination(
        boiler_train, ev, "doc_id", "text", n=13, max_df=3
    )
    assert capped.count() == 0


def test_two_hop_partners_hub_cap(spark, graph):
    """2-hop shared-neighbour join + hub cap: pairs through a middle node
    hotter than max_fanout are dropped (accidental-cartesian guard)."""
    got = {(r["x"], r["y"]) for r in graph.two_hop_partners("works_at", "uses").collect()}
    # a -works_at-> b; a -uses-> c; b -works_at-> c: shared middle c pairs (b, a)
    assert got == {("b", "a")}
    triples = spark.createDataFrame(
        [("h%d" % i, "p1", "hub") for i in range(10)]
        + [("k%d" % i, "p2", "hub") for i in range(10)]
        + [("x", "p1", "m"), ("y", "p2", "m")],
        "subj string, pred string, obj string",
    )
    from importtoneo4j_spark.operators.graph import GraphView

    g = GraphView(None, triples)
    allp = g.two_hop_partners("p1", "p2")
    assert allp.count() == 101  # 10*10 hub pairs + (x, y)
    capped = g.two_hop_partners("p1", "p2", max_fanout=5)
    assert {(r["x"], r["y"]) for r in capped.collect()} == {("x", "y")}


def test_pagerank_cycle_and_star(spark):
    """Known closed forms: a directed 3-cycle is rank-uniform at every
    iteration (1/3 each); in a star all-leaves->center the center
    dominates and every leaf keeps only the teleport term."""
    from importtoneo4j_spark.operators.graph import pagerank

    cycle = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "subj string, obj string"
    )
    got = {r["entity_id"]: r["rank"] for r in pagerank(cycle, iters=4).collect()}
    assert all(abs(v - 1 / 3) < 1e-12 for v in got.values())

    star = spark.createDataFrame(
        [(f"leaf{i}", "hub") for i in range(4)], "subj string, obj string"
    )
    got = {r["entity_id"]: r["rank"] for r in pagerank(star, iters=2).collect()}
    assert got["hub"] > max(v for k, v in got.items() if k != "hub")
    assert abs(got["leaf0"] - 0.15 / 5) < 1e-12  # teleport only (dangling hub)
    # rank mass is sub-stochastic: the dangling hub's mass is not
    # redistributed (documented semantics, mirrored by the oracle)
    assert sum(got.values()) <= 1.0 + 1e-9


def test_triangle_count_known_graphs(spark):
    """K4 has 4 triangles; adding a pendant edge changes nothing; the
    degree cap drops triangles through capped hubs (undercount is the
    documented behavior)."""
    from importtoneo4j_spark.operators.graph import triangle_count

    k4 = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d")]
    edges = spark.createDataFrame(
        k4 + [("d", "e")], "subj string, obj string"
    )
    assert triangle_count(edges).first()["n_triangles"] == 4
    # direction / duplication invariance: reversed + duplicated edges
    noisy = spark.createDataFrame(
        k4 + [(b, a) for a, b in k4], "subj string, obj string"
    )
    assert triangle_count(noisy).first()["n_triangles"] == 4
    # cap below K4's degree (3) removes every vertex -> 0
    assert (
        triangle_count(edges, max_degree=2).first()["n_triangles"] == 0
    )


def test_bfs_distances_hand_graph(spark):
    """Path graph + disconnected node + multi-source minimum."""
    from importtoneo4j_spark.operators.graph import bfs_distances

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y")],
        "subj string, obj string",
    )
    one = spark.createDataFrame([("a",)], "id string")
    got = {r["id"]: r["dist"] for r in bfs_distances(edges, one, max_hops=2).collect()}
    assert got == {"a": 0, "b": 1, "c": 2}  # d beyond max_hops; x,y unreachable
    multi = spark.createDataFrame([("a",), ("c",)], "id string")
    got2 = {r["id"]: r["dist"] for r in bfs_distances(edges, multi, max_hops=2).collect()}
    assert got2 == {"a": 0, "c": 0, "b": 1, "d": 1}  # min over sources
    # early exit on an exhausted frontier (max_hops larger than the graph)
    got3 = {r["id"]: r["dist"] for r in bfs_distances(edges, one, max_hops=10).collect()}
    assert got3 == {"a": 0, "b": 1, "c": 2, "d": 3}


def test_label_propagation_hand_traced(spark):
    """Deterministic synchronous LPA: a 4-clique converges to the minimum
    member label within two rounds; the bridged two-triangle graph matches
    the hand-traced two-round state exactly."""
    from importtoneo4j_spark.operators.graph import label_propagation

    clique = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d")]
    got = {
        r["entity_id"]: r["community"]
        for r in label_propagation(
            spark.createDataFrame(clique, "subj string, obj string"), iters=2
        ).collect()
    }
    assert got == {v: "a" for v in "abcd"}

    bridged = [
        ("a", "b"), ("b", "c"), ("a", "c"),  # triangle 1
        ("x", "y"), ("y", "z"), ("x", "z"),  # triangle 2
        ("c", "x"),  # bridge
    ]
    got2 = {
        r["entity_id"]: r["community"]
        for r in label_propagation(
            spark.createDataFrame(bridged, "subj string, obj string"), iters=2
        ).collect()
    }
    # hand-traced synchronous rounds (most-frequent neighbour label, ties
    # to the smallest): r1 = {a:b, b:a, c:a, x:c, y:x, z:x}
    assert got2 == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "c", "z": "c"}


def test_iterative_analytics_release_persisted_state(spark):
    """VERDICT r4 wrong #2: repeated pagerank/BFS/LPA/CC calls in one session
    must not accumulate pinned blocks. Contract: every intermediate (the
    persisted edge table, per-iteration checkpoints) is released before
    return; the ONLY residual is the single checkpoint backing the
    returned frame, and stage_unpersist(result) releases that too."""
    from importtoneo4j_spark.operators.canonicalize import connected_components
    from importtoneo4j_spark.operators.graph import (
        bfs_distances,
        hits,
        k_core,
        label_propagation,
        pagerank,
        shortest_paths,
    )
    from importtoneo4j_spark.session import stage_unpersist

    sc = spark.sparkContext

    def n_blocks():
        return len(sc._jsc.sc().getRDDStorageInfo())

    edges = spark.createDataFrame(
        [(f"n{i}", f"n{(i * 7 + 1) % 50}") for i in range(200)],
        "subj string, obj string",
    )
    srcs = spark.createDataFrame([("n0",)], "id string")
    wedges = edges.withColumn("w", F.lit(1).cast("long"))
    for op in (
        lambda: pagerank(edges, iters=3),
        lambda: bfs_distances(edges, srcs, max_hops=3),
        lambda: label_propagation(edges, iters=2),
        lambda: shortest_paths(wedges, srcs, max_iters=3),
        lambda: k_core(edges, k=2, rounds=2),
        lambda: hits(edges, iters=2),
        lambda: connected_components(
            edges.select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
        ),
    ):
        for _ in range(2):
            # re-measure per call: the async ContextCleaner may reclaim
            # UNRELATED stale blocks at any point, so counts can only be
            # compared one-sided against a just-taken baseline
            before = n_blocks()
            res = op()
            res.count()
            assert n_blocks() <= before + 1  # result's own checkpoint only
            stage_unpersist(res)
            assert n_blocks() <= before


def test_shortest_paths_hand_graph(spark):
    """Bounded Bellman-Ford on a hand graph: a longer-hop lighter path
    wins over the direct heavy edge, the hop bound truncates, and
    unreachable nodes are absent."""
    from importtoneo4j_spark.operators.graph import shortest_paths

    edges = spark.createDataFrame(
        [
            ("a", "b", 10),  # direct, heavy
            ("a", "c", 1),
            ("c", "b", 2),   # a->c->b = 3 beats 10
            ("b", "d", 1),
            ("d", "e", 1),
            ("e", "f", 1),   # a..f needs 5 hops via light path
            ("x", "y", 1),   # disconnected from a
        ],
        "subj string, obj string, w long",
    )
    srcs = spark.createDataFrame([("a",)], "id string")
    got = {
        r["id"]: r["dist"]
        for r in shortest_paths(edges, srcs, max_iters=4).collect()
    }
    # a->c->b->d->e is 4 edges (dist 5); f needs 5 edges — truncated out...
    # except via the heavy direct edge a->b (1 hop), b->d->e->f = 4 hops
    # total dist 13. The bound is on EDGE COUNT per path, not hops from
    # the lightest tree.
    assert got == {"a": 0, "c": 1, "b": 3, "d": 4, "e": 5, "f": 13}
    with pytest.raises(ValueError, match="id column"):
        shortest_paths(edges, spark.createDataFrame([(1,)], "x int"))


def test_personalized_pagerank_hand_graph(spark):
    """Teleport mass restricted to the seed: unreachable components score
    exactly zero, the seed keeps the (1-d)*p floor, and one relaxation on
    a single edge is hand-checkable."""
    from importtoneo4j_spark.operators.graph import personalized_pagerank

    edges = spark.createDataFrame(
        [("s", "t"), ("x", "y")], "subj string, obj string"
    )
    srcs = spark.createDataFrame([("s",)], "id string")
    got = {
        r["entity_id"]: round(r["rank"], 6)
        for r in personalized_pagerank(edges, srcs, iters=1).collect()
    }
    # p = {s: 1.0}; r1(s) = 0.15*1, r1(t) = 0.85 * (1/1), x,y untouched = 0
    assert got == {"s": 0.15, "t": 0.85, "x": 0.0, "y": 0.0}
    with pytest.raises(ValueError, match="id column"):
        personalized_pagerank(edges, spark.createDataFrame([(1,)], "k int"))


def test_hits_hand_graph(spark):
    """Unnormalized HITS on a hand bipartite-ish graph: hub_0=1, one round
    gives auth = in-degree, hub = sum of neighbour auths; scores stay
    exact integers."""
    from importtoneo4j_spark.operators.graph import hits

    edges = spark.createDataFrame(
        [("h1", "a1"), ("h1", "a2"), ("h2", "a1"), ("a1", "h2")],
        "subj string, obj string",
    )
    one = {r["entity_id"]: (r["auth"], r["hub"]) for r in hits(edges, iters=1).collect()}
    # auth_1 = in-degree: a1<-h1,h2 =2; a2<-h1 =1; h2<-a1 =1; h1 =0
    # hub_1(u) = sum auth_1 over out-nbrs: h1->a1,a2 =3; h2->a1 =2; a1->h2 =1; a2=0
    assert one == {"h1": (0, 3), "h2": (1, 2), "a1": (2, 1), "a2": (1, 0)}
    two = {r["entity_id"]: (r["auth"], r["hub"]) for r in hits(edges, iters=2).collect()}
    # auth_2(v) = sum hub_1 over in-nbrs: a1: h1+h2=5; a2: h1=3; h2: a1=1; h1: 0
    # hub_2(u) = sum auth_2 over out-nbrs: h1: 5+3=8; h2: 5; a1: 1; a2: 0
    assert two == {"h1": (0, 8), "h2": (1, 5), "a1": (5, 1), "a2": (3, 0)}
    with pytest.raises(ValueError, match="iters"):
        hits(edges, iters=0)


def test_k_core_peeling(spark):
    """Hand graph: a triangle plus a pendant chain under k=2 — round 1
    removes the chain tip, round 2 the now-degree-1 middle, leaving the
    triangle with degree 2 each; rounds=1 shows the intermediate state."""
    from importtoneo4j_spark.operators.graph import k_core

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e")],
        "subj string, obj string",
    )
    final = {r["id"]: r["deg"] for r in k_core(edges, k=2, rounds=3).collect()}
    assert final == {"a": 2, "b": 2, "c": 2}
    # after ONE round only e is gone; d keeps a degree-1 edge to c
    one = {r["id"]: r["deg"] for r in k_core(edges, k=2, rounds=1).collect()}
    assert one == {"a": 2, "b": 2, "c": 3, "d": 1}


def test_link_prediction_common_neighbors(spark):
    """Hand graph: unconnected pair sharing two neighbours surfaces with
    the right count and Jaccard; an adjacent pair is excluded; the hub
    cap drops wedges THROUGH the hub but keeps full degrees."""
    from importtoneo4j_spark.operators.graph import (
        link_prediction_common_neighbors,
    )

    edges = spark.createDataFrame(
        [
            ("a", "n1"), ("a", "n2"), ("b", "n1"), ("b", "n2"),  # a,b share 2
            ("a", "b2"),                                        # extra degree on a
            ("c", "n1"), ("c", "d"), ("d", "n1"),               # c,d adjacent
        ],
        "subj string, obj string",
    )
    got = {
        (r["a"], r["b"]): (r["n_common"], r["n_union"], round(r["jaccard"], 4))
        for r in link_prediction_common_neighbors(edges, min_common=2).collect()
    }
    # a: deg 3 (n1,n2,b2); b: deg 2 (n1,n2); common 2 -> jac 2/(3+2-2).
    # The undirected view also surfaces (n1,n2) through shared {a,b}
    # (deg n1=4, n2=2 -> jac 2/4). c,d are adjacent -> excluded; every
    # other pair shares < 2 neighbours.
    assert got == {
        ("a", "b"): (2, 3, round(2 / 3, 4)),
        ("n1", "n2"): (2, 4, 0.5),
    }

    # hub cap: make n1 a hub (degree cap 3 drops wedges through it)
    hub_edges = edges.unionByName(
        spark.createDataFrame(
            [("e", "n1"), ("f", "n1")], "subj string, obj string"
        )
    )
    capped = {
        (r["a"], r["b"]): r["n_common"]
        for r in link_prediction_common_neighbors(
            hub_edges, min_common=2, max_degree=3
        ).collect()
    }
    # n1 now has degree 6 > 3: wedges THROUGH it vanish, so (a,b) drops to
    # one shared neighbour (n2) and disappears; n1 as an ENDPOINT still
    # pairs with n2 through the not-hot shared neighbours a and b
    assert capped == {("n1", "n2"): 2}


def test_stage_unpersist_none_mode_spares_caller_checkpoints(spark, monkeypatch):
    """Code-review round 5: under SPARK_GRAFT_PERSIST=none, stage_persist
    returns the caller's lazy frame, so the analytics' finally-release
    must NOT walk below joins/aggregates and unpersist a checkpoint the
    CALLER owns (local checkpoints cannot recompute — the caller's frame
    would die)."""
    from importtoneo4j_spark.operators.graph import bfs_distances, pagerank

    monkeypatch.setenv("SPARK_GRAFT_PERSIST", "none")
    edges = spark.createDataFrame(
        [(f"n{i}", f"n{(i * 3 + 1) % 20}") for i in range(60)],
        "subj string, obj string",
    ).localCheckpoint()
    pagerank(edges, iters=2).count()
    assert edges.count() == 60  # caller's checkpoint survived
    srcs = spark.createDataFrame([("n0",)], "id string")
    bfs_distances(edges, srcs, max_hops=2).count()
    assert edges.count() == 60


def test_bfs_distances_id_col_validated(spark):
    """ADVICE r4: a sources frame without the id column raises instead of
    silently using whatever column happens to be first."""
    from importtoneo4j_spark.operators.graph import bfs_distances

    edges = spark.createDataFrame([("a", "b")], "subj string, obj string")
    bad = spark.createDataFrame([(1, "a")], "weight int, node string")
    with pytest.raises(ValueError, match="id column"):
        bfs_distances(edges, bad, max_hops=1)
    got = {
        r["id"]: r["dist"]
        for r in bfs_distances(
            edges, bad.select("weight", F.col("node").alias("id")), max_hops=1
        ).collect()
    }
    assert got == {"a": 0, "b": 1}


def test_quantize_embeddings_roundtrip_bound(spark):
    """Reconstruction error bounded by (vmax - vmin)/(2*255) per element;
    a constant vector survives exactly; codes are ints in [0, 255]."""
    from importtoneo4j_spark.operators.similarity import (
        dequantize_embeddings,
        quantize_embeddings,
    )

    rows = [
        (1, [0.0, 1.0, 0.5, -1.0, 0.31415]),
        (2, [3.0, 3.0, 3.0]),  # constant vector: rng == 0
        (3, [-5.0, 5.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = {r["vec_id"]: r for r in quantize_embeddings(df).collect()}
    assert all(0 <= c <= 255 for r in q.values() for c in r["q"])
    assert q[2]["q"] == [0, 0, 0] and q[2]["vmin"] == 3.0
    deq = {
        r["vec_id"]: r["embedding"]
        for r in dequantize_embeddings(quantize_embeddings(df)).collect()
    }
    for vid, orig in rows:
        rng = max(orig) - min(orig)
        bound = rng / (2 * 255) + 1e-12
        assert all(abs(a - b) <= bound for a, b in zip(orig, deq[vid]))
    assert deq[2] == [3.0, 3.0, 3.0]  # constant vector exact


def test_ivf_topk_quantized_recall(spark, emb):
    """The int8-code search path loses little recall vs full precision:
    >= 80% overlap of the returned neighbour sets on the testdata."""
    from importtoneo4j_spark.operators.similarity import ivf_topk_quantized

    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    full = ivf_topk(emb, q, k=3, n_centroids=16, nprobe=8)
    quant = ivf_topk_quantized(emb, q, k=3, n_centroids=16, nprobe=8)
    fs = {(r["qid"], r["vec_id"]) for r in full.collect()}
    qs = {(r["qid"], r["vec_id"]) for r in quant.collect()}
    assert len(fs & qs) >= int(0.8 * len(fs))
    assert len(qs) == len(fs)


def _shuffle_outputs(df):
    """(node, [(attr, type), ...]) for every shuffle exchange in the
    EXECUTED physical plan (run the query first so AQE has finalized)."""

    def walk(jnode):
        yield jnode
        name = jnode.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            yield from walk(jnode.executedPlan())
            return
        if name.endswith("QueryStageExec"):  # AQE wraps exchanges; no children()
            yield from walk(jnode.plan())
            return
        ch = jnode.children()
        for i in range(ch.size()):
            yield from walk(ch.apply(i))

    out = []
    for node in walk(df._jdf.queryExecution().executedPlan()):
        if node.getClass().getSimpleName() == "ShuffleExchangeExec":
            attrs = node.output()
            out.append(
                [
                    (attrs.apply(i).name(), attrs.apply(i).dataType().simpleString())
                    for i in range(attrs.size())
                ]
            )
    return out


def test_ivf_topk_quantized_shuffles_int8_codes(spark, emb):
    """VERDICT r4 wrong #1: the quantized path must actually SHUFFLE the
    int8 codes. Every shuffle exchange in the executed plan carries
    array<int> codes or scalars — never a dequantized array<double>
    (dequantization is inline in the scoring projections; the only
    full-precision vectors crossing the wire ride the n_centroids-row
    broadcasts, which are exempt by construction)."""
    from importtoneo4j_spark.operators.similarity import ivf_topk_quantized

    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    out = ivf_topk_quantized(emb, q, k=3, n_centroids=16, nprobe=8)
    out.collect()
    shuffles = _shuffle_outputs(out)
    assert shuffles, "expected at least one shuffle exchange"
    flat = [t for attrs in shuffles for _, t in attrs]
    assert not any("array<double>" in t for t in flat), shuffles
    assert any("array<int>" in t for t in flat), shuffles
