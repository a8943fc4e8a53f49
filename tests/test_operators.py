"""Per-operator unit tests (SURVEY.md §5 item 1, FIXTURES.md §4 cases)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from importtoneo4j_spark.functions.text import (
    char_shingles,
    jaccard,
    minhash_bands_agg,
    normalize_text,
    nullify_sentinels,
)
from importtoneo4j_spark.operators.canonicalize import connected_components
from importtoneo4j_spark.operators.extract import extract_assertions
from importtoneo4j_spark.operators.merge import (
    assert_unique,
    first_wins,
    label_union,
    new_keys_only,
)


# ------------------------------------------------------- connected components

def _cc(spark, edges):
    df = spark.createDataFrame(edges, ["src", "dst"])
    return {
        (r["id"], r["comp"]) for r in connected_components(df).collect()
    }


def test_cc_chain(spark):
    got = _cc(spark, [("a", "b"), ("b", "c"), ("c", "d")])
    assert got == {("a", "a"), ("b", "a"), ("c", "a"), ("d", "a")}


def test_cc_star(spark):
    got = _cc(spark, [("m", "a"), ("m", "b"), ("m", "z")])
    assert got == {("m", "a"), ("a", "a"), ("b", "a"), ("z", "a")}


def test_cc_two_components(spark):
    got = _cc(spark, [("a", "b"), ("x", "y"), ("y", "z")])
    comps = {}
    for node, comp in got:
        comps.setdefault(comp, set()).add(node)
    assert set(map(frozenset, comps.values())) == {
        frozenset({"a", "b"}),
        frozenset({"x", "y", "z"}),
    }


def test_cc_self_loop(spark):
    got = _cc(spark, [("a", "a"), ("a", "b")])
    assert got == {("a", "a"), ("b", "a")}


def test_cc_two_node_components_job_budget(spark, spark_jobs, tmp_path):
    """A graph of only 2-node components (the alias shape of a wide
    vocabulary) converges in two rounds of one checkpoint each: round 1
    labels straight off the edges, round 2 finds no change through the
    Observation on its checkpoint. No distinct, label-seeding or count job
    on top — at most 6 Spark jobs in all. The edges are a parquet scan, as
    the pipeline's link_edges table is."""
    from importtoneo4j_spark.session import stage_unpersist

    path = str(tmp_path / "edges")
    spark.createDataFrame(
        [(f"b{i:03d}", f"a{i:03d}") for i in range(200)], ["src", "dst"]
    ).write.parquet(path)
    df = spark.read.schema("src string, dst string").parquet(path)
    before = spark_jobs()
    comp = connected_components(df)
    assert spark_jobs() - before <= 6
    got = {(r["id"], r["comp"]) for r in comp.collect()}
    stage_unpersist(comp)
    assert got == {
        (f"{side}{i:03d}", f"a{i:03d}") for i in range(200) for side in "ab"
    }


# ----------------------------------------------------------- first-wins merge

@pytest.fixture(scope="module")
def fw_df(spark):
    rows = [
        ("k1", "c2", 5, "late", 2.0),
        ("k1", "c1", 3, "early", 1.0),
        ("k1", "c1", 9, "mid", 3.0),
        ("k2", "c9", 0, "only", 4.0),
    ]
    return spark.createDataFrame(rows, ["k", "conv", "turn", "val", "num"])


def test_first_wins_deterministic(spark, fw_df):
    out = {
        r["k"]: (r["conv"], r["turn"], r["val"])
        for r in first_wins(fw_df, ["k"], ["conv", "turn"], ["val", "num"]).collect()
    }
    assert out == {"k1": ("c1", 3, "early"), "k2": ("c9", 0, "only")}


def test_first_wins_salted_equals_unsalted(spark, fw_df):
    a = sorted(
        map(tuple, first_wins(fw_df, ["k"], ["conv", "turn"], ["val"], salt_buckets=1).collect())
    )
    b = sorted(
        map(tuple, first_wins(fw_df, ["k"], ["conv", "turn"], ["val"], salt_buckets=32).collect())
    )
    assert a == b


def test_first_wins_shuffled_input_stable(spark, fw_df):
    shuffled = fw_df.orderBy(F.rand(seed=7)).repartition(5)
    a = sorted(map(tuple, first_wins(fw_df, ["k"], ["conv", "turn"], ["val"]).collect()))
    b = sorted(map(tuple, first_wins(shuffled, ["k"], ["conv", "turn"], ["val"]).collect()))
    assert a == b


def test_label_union_sorted(spark):
    df = spark.createDataFrame(
        [("k", "B"), ("k", "A"), ("k", "B"), ("j", "Z")], ["k", "lbl"]
    )
    out = {r["k"]: r["labels"] for r in label_union(df, ["k"], "lbl").collect()}
    assert out == {"k": ["A", "B"], "j": ["Z"]}


def test_new_keys_only(spark):
    new = spark.createDataFrame([("a", 1), ("b", 2)], ["k", "v"])
    snap = spark.createDataFrame([("a", 9)], ["k", "v"])
    assert [tuple(r) for r in new_keys_only(new, snap, ["k"]).collect()] == [("b", 2)]


def test_assert_unique_raises(spark):
    df = spark.createDataFrame([("a",), ("a",)], ["k"])
    with pytest.raises(ValueError, match="uniqueness violated"):
        assert_unique(df, ["k"])


# ------------------------------------------------------------ text functions

def test_nullify_sentinels(spark):
    df = spark.createDataFrame(
        [(".",), ("",), ("  ",), ("\t\n",), (" ok ",), (None,)], ["t"]
    )
    got = [r["o"] for r in df.select(nullify_sentinels(F.col("t")).alias("o")).collect()]
    assert got == [None, None, None, None, "ok", None]


def test_normalize_text(spark):
    df = spark.createDataFrame(
        [("Alpha-Systems.",), ("ALPHA  SYSTEMS",), ("alpha_systems",)], ["t"]
    )
    got = {r["o"] for r in df.select(normalize_text(F.col("t")).alias("o")).collect()}
    assert got == {"alpha systems"}


def test_char_shingles(spark):
    df = spark.createDataFrame([("abcd",), ("ab",)], ["t"])
    got = [r["s"] for r in df.select(char_shingles(F.col("t"), 3).alias("s")).collect()]
    assert got[0] == ["abc", "bcd"]
    assert got[1] == ["ab"]  # shorter than k: one truncated shingle


def test_jaccard(spark):
    df = spark.createDataFrame([(["a", "b", "c"], ["b", "c", "d"])], ["x", "y"])
    got = df.select(jaccard(F.col("x"), F.col("y")).alias("j")).first()["j"]
    assert abs(got - 0.5) < 1e-9


def test_minhash_identical_strings_collide_everywhere(spark):
    df = spark.createDataFrame([("a", ["x", "y"]), ("b", ["x", "y"])], ["id", "sh"])
    bands = minhash_bands_agg(df, "id", "sh", 8, 4, 2)
    per_key = (
        bands.groupBy("band_key").agg(F.countDistinct("id").alias("n")).collect()
    )
    assert all(r["n"] == 2 for r in per_key)
    assert len(per_key) == 4


# ---------------------------------------------------------------- extraction

def _extract(spark, texts):
    rows = [("c1", i, "user", t, None, None) for i, t in enumerate(texts)]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    ).withColumn("seq", F.col("turn_idx") + 1)
    return [
        (r["subj_surface"], r["pred"], r["obj_surface"], r["kind"], r["quality"])
        for r in extract_assertions(df).orderBy("turn_idx").collect()
    ]


def test_extract_triple_and_fanout(spark):
    got = _extract(
        spark, ["x [[A B]] works_at [[C D]] ; y [[E]] uses [[F]] .", "no mentions here"]
    )
    assert got == [
        ("A B", "works_at", "C D", "triple", 1.0),
        ("E", "uses", "F", "triple", 1.0),
    ]


def test_extract_same_as_and_dynamic_pred(spark):
    got = _extract(
        spark,
        ["[[A]] aka [[A Corp]] per registry", "[[A]] invoked:sql [[B]] returned 3 rows"],
    )
    assert got[0] == ("A", "same_as", "A Corp", "same_as", 1.0)
    assert got[1][1] == "invoked_sql"
    assert got[1][3] == "triple"
    assert abs(got[1][4] - 0.8) < 1e-6


def test_extract_empty_batch(spark):
    assert _extract(spark, ["plain text", "more text"]) == []


# -------------------------------------------------------- oracle/datagen sync

def test_oracle_extraction_agrees_with_udf(spark, gen):
    """The Spark extraction and the sequential oracle must parse
    identically, including on Unicode whitespace and word characters, which
    neither grammar copy accepts."""
    from importtoneo4j_spark.oracle import ASSERTION_RE

    pdf = gen.turns_pandas(n_convs=10)
    texts = [t for t in pdf["text"] if isinstance(t, str)] + [
        "[[A]]\u00a0works_at [[B]]",
        "[[A]] invoked:café [[B]]",
    ]
    n_oracle = sum(len(ASSERTION_RE.findall(t)) for t in texts)
    got = _extract(spark, texts)
    assert len(got) == n_oracle


def test_drop_hot_buckets_partial_agg_skew(spark):
    """Skew guard (SURVEY.md §7 hard part 3): a planted 10^5-member hot band
    key must be dropped by a plan with NO window over band_key — the count
    must partial-aggregate map-side so the hot bucket never lands whole in
    one task."""
    from importtoneo4j_spark.operators.link import drop_hot_buckets

    hot = spark.range(100_000).select(
        F.concat(F.lit("k"), F.col("id").cast("string")).alias("norm_key"),
        F.lit("HOT").alias("band_key"),
    )
    cold = spark.createDataFrame(
        [("a", "b1"), ("b", "b1"), ("c", "b2")], "norm_key string, band_key string"
    )
    out = drop_hot_buckets(hot.unionByName(cold), max_bucket=64)
    rows = out.collect()
    assert {r["band_key"] for r in rows} == {"b1", "b2"}
    assert len(rows) == 3
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "partial_count" in plan or plan.count("HashAggregate") >= 2


def test_lsh_grouped_pass_drops_planted_hot_bucket(spark):
    """Skew guard for the linker: a fresh key whose band keys hold a
    planted 10^5-member stored bucket and a planted bucket of exactly
    max_bucket stored members yields no pair. The first bucket was over
    the cap already; the second crosses it and counts as the one dropped
    bucket. The plan has no Window, and its only join on band_key is the
    broadcast semi-join that picks the touched buckets: no band self-join,
    each bucket is dropped after one groupBy, holding its member list
    (O(B)), never its pairs."""
    from importtoneo4j_spark.operators.link import MAX_BUCKET, lsh_candidate_edges
    from importtoneo4j_spark.session import stage_unpersist

    vocab = spark.createDataFrame([("acme corp",)], ["norm_key"])
    probe = lsh_candidate_edges(vocab)
    band_keys = sorted(r["band_key"] for r in probe.sig.collect())
    stage_unpersist(probe.sig)
    hot = spark.range(100_000 + MAX_BUCKET).select(
        F.concat(F.lit("k"), F.col("id").cast("string")).alias("norm_key"),
        F.when(F.col("id") < 100_000, F.lit(band_keys[0]))
        .otherwise(F.lit(band_keys[1]))
        .alias("band_key"),
    )
    lsh = lsh_candidate_edges(vocab, stored_sig=hot)
    plan = lsh.edges._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    band_joins = [line for line in plan.splitlines() if "Join" in line and "band_key" in line]
    assert band_joins and all("BroadcastHashJoin" in j and "LeftSemi" in j for j in band_joins)
    assert lsh.edges.collect() == []
    assert lsh.counts()["hot_buckets_dropped"] == 1
    assert lsh.retracted.collect() == []  # "k1" and "k2" share no token
    stage_unpersist(lsh.sig)


def test_link_edges_job_budget(spark, spark_jobs, tmp_path):
    """link_edges as the pipeline builds it — the LSH pairs, with the run's
    same_as edges riding the pair aggregate that counts the distinct edges
    — written from a parquet-scanned vocabulary runs at most 6 Spark jobs
    (the band self-join form ran 12). Only LSH pairs are written, each
    with its bucket support."""
    from importtoneo4j_spark.operators.link import lsh_candidate_edges
    from importtoneo4j_spark.session import stage_unpersist

    names = [
        f"{a} {b}"
        for a in ("alpha", "beta", "gamma", "delta")
        for b in ("labs", "systems", "works")
    ]
    spark.createDataFrame(
        [(n,) for n in names] + [(f"{n} inc",) for n in names], "norm_key string"
    ).write.parquet(str(tmp_path / "vocab"))
    spark.createDataFrame(
        [("alpha labs", "alpha labs ltd")], "src string, dst string"
    ).write.parquet(str(tmp_path / "same_as"))
    lsh = lsh_candidate_edges(
        spark.read.parquet(str(tmp_path / "vocab")),
        asserted=spark.read.parquet(str(tmp_path / "same_as")),
    )
    before = spark_jobs()
    lsh.edges.write.parquet(str(tmp_path / "edges"))
    assert spark_jobs() - before <= 6
    rows = spark.read.parquet(str(tmp_path / "edges")).collect()
    got = {(r["src"], r["dst"]): r["support"] for r in rows}
    assert got[("alpha labs", "alpha labs inc")] >= 1
    assert ("alpha labs", "alpha labs ltd") not in got
    assert lsh.counts()["pairs"] == len(got) + 1
    stage_unpersist(lsh.sig)


def test_stage_persist_modes(spark):
    """Cluster/local cache-discipline knob (SCALE.md §cache-discipline)."""
    from importtoneo4j_spark.session import stage_persist

    df = spark.range(10)
    assert stage_persist(df, "none") is df
    d = stage_persist(df, "disk")
    assert d.storageLevel.useDisk and not d.storageLevel.useMemory
    d.unpersist()
    m = stage_persist(df, "memory")
    assert m.storageLevel.useMemory
    m.unpersist()
    assert stage_persist(df, "local_checkpoint").count() == 10
    with pytest.raises(ValueError):
        stage_persist(df, "bogus")


def test_asof_join_semantics(spark):
    """As-of join: latest right <= left ts per key; equal ts matches;
    tolerance bounds lookback; inner drops unmatched; plan = one window,
    no cross join."""
    from importtoneo4j_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [("u1", "2024-01-01 10:00:00", 1),
         ("u1", "2024-01-01 12:00:00", 2),
         ("u2", "2024-01-01 09:00:00", 3)],
        "user string, ts string, lid int",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [("u1", "2024-01-01 09:30:00", 10, 1.0),
         ("u1", "2024-01-01 10:00:00", 11, 2.0),   # equal ts -> matches lid=1
         ("u1", "2024-01-01 11:59:00", 12, 3.0),
         ("u2", "2024-01-01 09:30:00", 13, 4.0)],  # after u2's left row
        "user string, ts string, rid int, v double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))

    out = {r["lid"]: r for r in asof_join(left, right, on="user").collect()}
    assert out[1]["r_rid"] == 11  # equal timestamp wins over 09:30
    assert out[2]["r_rid"] == 12
    assert out[3]["r_rid"] is None  # left join keeps unmatched

    inner = asof_join(left, right, on="user", how="inner")
    assert {r["lid"] for r in inner.collect()} == {1, 2}

    tol = asof_join(left, right, on="user", tolerance_sec=30.0)
    got = {r["lid"]: r["r_rid"] for r in tol.collect()}
    # lid=1 matches at 0s lag; lid=2's nearest click is 60s back (> 30s) -> NULL
    assert got == {1: 11, 2: None, 3: None}

    plan = asof_join(left, right, on="user")._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "Window" in plan


def test_lsh_dropped_buckets_on_persisted_signature(spark):
    """VERDICT r2 minor #4: the observability path consumes the signature
    frame lsh_candidate_edges already computed (the one the pipeline stores
    in link_sig; one MinHash computation total) and its dropped buckets are
    exactly the ones drop_hot_buckets removes. Fed that signature back as
    the stored one, the same composition MinHashes no key, touches no
    bucket and adds no edge (the pipeline's append of no new surface)."""
    from importtoneo4j_spark.operators.link import (
        drop_hot_buckets,
        lsh_candidate_edges,
        lsh_dropped_buckets,
    )
    from importtoneo4j_spark.session import stage_unpersist

    # shared-prefix keys: nearly identical shingle sets flood a few buckets
    vocab = spark.createDataFrame(
        [(f"acme corp {i}",) for i in range(40)], ["norm_key"]
    )
    first = lsh_candidate_edges(vocab)
    sig = first.sig
    dropped = lsh_dropped_buckets(sig, max_bucket=5)
    rows = dropped.collect()
    assert rows and all(r["bsz"] > 5 for r in rows)
    kept = drop_hot_buckets(sig, 5)
    assert kept.join(dropped, "band_key").count() == 0

    stored = spark.createDataFrame(sig.collect(), sig.schema)
    again = lsh_candidate_edges(vocab, stored_sig=stored)
    assert again.sig.count() == 0  # every key's signature is stored
    assert first.edges.collect() == again.edges.collect() == []
    assert first.counts()["touched_buckets"] > 0
    assert again.counts() == dict.fromkeys(again.counts(), 0)
    for lsh in (first, again):
        stage_unpersist(lsh.sig)


def test_asof_join_dedup_col_and_map_payload(spark):
    """ADVICE r2: a MapType payload column must not break asof_join (no
    orderable-struct tiebreak is forced), and dedup_col restores determinism
    among exact (key, ts) right duplicates."""
    from importtoneo4j_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [("u1", "2024-01-01 10:00:00", 1)], "user string, ts string, lid int"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [
            ("u1", "2024-01-01 09:00:00", 7, {"a": "x"}),
            ("u1", "2024-01-01 09:00:00", 9, {"a": "y"}),
        ],
        "user string, ts string, rid int, attrs map<string,string>",
    ).withColumn("ts", F.col("ts").cast("timestamp"))

    # unorderable payload + no dedup_col: plan must still analyze and run
    got = asof_join(left, right, on="user").collect()
    assert len(got) == 1 and got[0]["r_rid"] in (7, 9)
    # dedup_col: greatest rid deterministically wins
    got = asof_join(left, right, on="user", dedup_col="rid").collect()
    assert got[0]["r_rid"] == 9 and got[0]["r_attrs"]["a"] == "y"
    with pytest.raises(ValueError, match="dedup_col"):
        asof_join(left, right, on="user", dedup_col="nope")


def test_ivf_argmax_tiebreak_string_ids(spark):
    """ADVICE r2: the assignment argmax must stay deterministic for STRING
    centroid ids (the old -centroid_id negation silently nulled or threw
    under ANSI)."""
    from importtoneo4j_spark.operators.similarity import _argmax_assign

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id int, embedding array<double>"
    )
    # two identical centroids with string ids -> tie; lowest id must win
    cents = spark.createDataFrame(
        [("c_b", [1.0, 0.0]), ("c_a", [1.0, 0.0]), ("c_z", [0.0, 1.0])],
        "centroid_id string, ce array<double>",
    )
    got = {
        r["vec_id"]: r["bucket"]
        for r in _argmax_assign(emb, cents, "vec_id", "embedding").collect()
    }
    assert got == {1: "c_a", 2: "c_z"}


def test_group_percentiles_exact_vs_approx(spark):
    """VERDICT r3 #6: the engine offers both percentile variants. Exact
    interpolates (quantile_cont semantics, memory-unbounded per group);
    approx returns the exact DISCRETE percentile while the GK sketch is
    exhaustive (group size <= accuracy), degrading gracefully past it."""
    from importtoneo4j_spark.functions.stats import _col_name, group_percentiles

    df = spark.createDataFrame(
        [("a", float(i)) for i in range(1, 101)], "g string, v double"
    )
    ex = group_percentiles(df, "v", ["g"], probs=(0.5,), exact=True).first()
    ap = group_percentiles(df, "v", ["g"], probs=(0.5,), exact=False).first()
    assert ex["p50"] == 50.5  # interpolated between 50 and 51
    assert ap["p50"] == 50.0  # an actual element of the group
    # a sketch far smaller than the group still completes and lands close
    rough = group_percentiles(
        df, "v", ["g"], probs=(0.5,), exact=False, accuracy=10
    ).first()
    assert abs(rough["p50"] - 50.0) <= 10.0
    assert _col_name(0.999) == "p99_9"
    assert _col_name(0.95) == "p95"


def test_equi_width_histogram_edges(spark):
    """Closed-right top edge (max lands in the last bin), explicit bounds,
    constant column (width 0 -> everything in bin 0), nulls dropped."""
    from importtoneo4j_spark.functions.stats import equi_width_histogram

    df = spark.createDataFrame(
        [(0.0,), (2.5,), (5.0,), (7.5,), (10.0,), (None,)], "v double"
    )
    got = {
        r["bin"]: (r["lo"], r["hi"], r["n"])
        for r in equi_width_histogram(df, "v", bins=4).collect()
    }
    # width 2.5: 0->b0, 2.5->b1, 5->b2, 7.5->b3, 10 (max) -> clamped b3
    assert got == {
        0: (0.0, 2.5, 1),
        1: (2.5, 5.0, 1),
        2: (5.0, 7.5, 1),
        3: (7.5, 10.0, 2),
    }
    const = spark.createDataFrame([(3.0,), (3.0,)], "v double")
    cg = equi_width_histogram(const, "v", bins=4).collect()
    assert len(cg) == 1 and cg[0]["bin"] == 0 and cg[0]["n"] == 2
    fixed = {
        r["bin"]: r["n"]
        for r in equi_width_histogram(df, "v", bins=2, lo=0.0, hi=20.0).collect()
    }
    assert fixed == {0: 4, 1: 1}


def test_profile_table(spark):
    """Per-column profile: exact nulls/distincts, min/max as strings, one
    row per requested column."""
    from importtoneo4j_spark.functions.stats import profile_table

    df = spark.createDataFrame(
        [(1, "a", None), (2, "b", 5.0), (2, None, 7.5)],
        "k int, s string, v double",
    )
    got = {r["column"]: r for r in profile_table(df).collect()}
    assert set(got) == {"k", "s", "v"}
    assert (got["k"]["n_null"], got["k"]["n_distinct"]) == (0, 2)
    assert (got["s"]["n_null"], got["s"]["n_distinct"]) == (1, 2)
    assert (got["v"]["min_str"], got["v"]["max_str"]) == ("5.0", "7.5")
    assert all(r["n_rows"] == 3 for r in got.values())
    sub = profile_table(df, ["k"]).collect()
    assert len(sub) == 1 and sub[0]["column"] == "k"


def test_point_in_interval_join_semantics(spark):
    """Bin-equi-join containment == the naive inequality join: half-open
    [start, end), intervals crossing bin boundaries, multi-interval
    membership; left_semi returns each contained point once."""
    import datetime as dt

    from importtoneo4j_spark.operators.temporal import point_in_interval_join

    t0 = dt.datetime(2025, 1, 1, 0, 0, 0)

    def at(minutes):
        return t0 + dt.timedelta(minutes=minutes)

    pts = spark.createDataFrame(
        [(i, at(m)) for i, m in enumerate([0, 59, 60, 61, 119, 120, 300])],
        "pid int, ts timestamp",
    )
    iv = spark.createDataFrame(
        [("a", at(0), at(120)), ("b", at(50), at(70))],
        "owner string, s timestamp, e timestamp",
    )
    got = {
        (r["pid"], r["owner"])
        for r in point_in_interval_join(
            pts, iv, ts_col="ts", start_col="s", end_col="e", bin_seconds=3600
        ).collect()
    }
    # a: [0,120) -> minutes 0,59,60,61,119 (120 excluded); b: [50,70) -> 59,60,61
    want = {(0, "a"), (1, "a"), (2, "a"), (3, "a"), (4, "a"),
            (1, "b"), (2, "b"), (3, "b")}
    assert got == want
    semi = point_in_interval_join(
        pts, iv, ts_col="ts", start_col="s", end_col="e",
        bin_seconds=3600, how="left_semi",
    )
    assert sorted(r["pid"] for r in semi.collect()) == [0, 1, 2, 3, 4]
    # ADVICE r4: an unrecognized how (e.g. 'left', or a typo) must raise,
    # not silently run as an inner join
    with pytest.raises(ValueError, match="how"):
        point_in_interval_join(
            pts, iv, ts_col="ts", start_col="s", end_col="e", how="left"
        )


def test_hash_split_deterministic_and_stable(spark):
    """Same ids -> same assignment across calls and corpus growth; salt
    re-randomizes; proportions land near the weights."""
    from importtoneo4j_spark.operators.sampling import hash_split

    df = spark.range(2000).toDF("id")
    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    a = {r["id"]: r["split"] for r in hash_split(df, "id", w).collect()}
    b = {r["id"]: r["split"] for r in hash_split(df.limit(500), "id", w).collect()}
    assert all(a[i] == s for i, s in b.items())  # growth-stable
    from collections import Counter

    c = Counter(a.values())
    assert abs(c["train"] / 2000 - 0.8) < 0.05
    assert abs(c["val"] / 2000 - 0.1) < 0.03
    salted = {r["id"]: r["split"] for r in hash_split(df, "id", w, salt="x").collect()}
    assert any(a[i] != salted[i] for i in a)  # salt namespaces experiments


def test_tf_idf_hand_computed(spark):
    """Tiny corpus hand-check: a term in every doc scores lower than a
    rarer term with the same tf; tf multiplies."""
    import math

    from importtoneo4j_spark.functions.text import tf_idf

    docs = spark.createDataFrame(
        [(1, "apple banana apple"), (2, "apple cherry"), (3, "apple durian")],
        "doc_id int, text string",
    )
    got = {(r["doc_id"], r["term"]): (r["tf"], r["df"], r["tfidf"])
           for r in tf_idf(docs).collect()}
    idf_apple = math.log(4 / 4)  # (3+1)/(3+1) -> 0
    idf_banana = math.log(4 / 2)
    assert abs(got[(1, "apple")][2] - 2 * idf_apple) < 1e-12
    assert abs(got[(1, "banana")][2] - 1 * idf_banana) < 1e-12
    assert got[(1, "apple")][0] == 2 and got[(1, "apple")][1] == 3


def test_profile_table_approx_default_no_expand(spark):
    """Round 6 (VERDICT r5 #6): the default profile uses
    approx_count_distinct — no Expand node duplicating every input row per
    distinct aggregate; exact=True keeps the precise (o6-gate) path."""
    from importtoneo4j_spark.functions.stats import profile_table

    df = spark.range(100).selectExpr("id as k", "cast(id % 7 as string) as s")
    approx_plan = (
        profile_table(df)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Expand" not in approx_plan
    exact = {r["column"]: r for r in profile_table(df, exact=True).collect()}
    assert exact["k"]["n_distinct"] == 100 and exact["s"]["n_distinct"] == 7
