"""Entity linking: normalization + explicit same_as evidence + MinHash-LSH
candidate blocking + native-SQL verification.

The reference's node identity is exact-string MERGE on a natural key
(Neo4j.java:160-173). The north rule generalizes that to fuzzy linking:
* tier 1 — exact match on the normalized surface (norm_key): catches case /
  punctuation variants for free; this IS the reference semantics.
* tier 2 — explicit same_as assertions extracted from the text ("aka").
* tier 3 — MinHash-LSH over character 4-gram shingles of the *distinct*
  norm_key vocabulary (linking runs on vocabulary, never on mentions — at
  10^12 turns the vocabulary is orders of magnitude smaller), grouped by
  band key, each bucket's pairs enumerated and token-Jaccard verified inside
  its own reduce task with native array ops. Hot buckets are capped (skew
  mitigation — SURVEY.md §7 hard part 3) and counted on the same pass.

Linking is incremental: a call MinHashes only the keys its stored
signatures lack, and groups only the buckets those fresh keys touch, so an
append costs O(delta), not O(vocabulary). It emits the pairs with a fresh
member, with their bucket support, and retracts the stored pairs of a
bucket its fresh keys push over the cap; the pairs whose support exceeds
their retractions are the edges a run over every key finds.

Everything here is native Spark SQL expressions; the only shuffles after
the MinHash aggregate are the groupBy on band_key, a derived high-entropy
key, over the touched buckets, and the pair aggregate.
"""

from __future__ import annotations

from typing import Callable, NamedTuple

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from importtoneo4j_spark.session import stage_persist
from importtoneo4j_spark.functions.text import (
    char_shingles,
    jaccard,
    minhash_bands_agg,
    norm_key,
)

NUM_PERM = 32
BANDS = 16
ROWS_PER_BAND = 2
SHINGLE_K = 4  # char 4-grams for LSH *blocking* (recall: P(candidate) > 0.99
# down to char-Jaccard ~0.55, which covers every true alias variant)
JACCARD_THRESHOLD = 0.60  # verification on *token* Jaccard: a suffix-extended
# alias of an n-token name scores n/(n+1) >= 2/3, while two distinct entities
# share at most one content token (<= 1/2) — char-gram verification is
# fragile here (1-char-apart names like "meta/beta systems" score 0.8)
MAX_BUCKET = 64  # cap candidates per LSH bucket (hot-key guard)


def mention_vocabulary(extracted: DataFrame) -> DataFrame:
    """Distinct (surface, norm_key) over both mention positions.

    Round 6: ONE scan with a 2-element array explode instead of a union of
    two per-position scans — the union read the extracted table twice (row-
    identical output, exceptAll-checked; same branch-merge semantics as the
    reference's hom/het merge, VariantDatabase.java:201-221, with the merge
    done by explode instead of union)."""
    return (
        extracted.select(
            F.explode(F.array("subj_surface", "obj_surface")).alias("surface")
        )
        .distinct()
        .withColumn("norm_key", norm_key(F.col("surface")))
        .filter(F.col("norm_key") != "")
    )


def same_as_edges(extracted: DataFrame) -> DataFrame:
    """Explicit same_as evidence -> (src, dst) on norm_keys."""
    return (
        extracted.filter(F.col("kind") == "same_as")
        .select(
            norm_key(F.col("subj_surface")).alias("src"),
            norm_key(F.col("obj_surface")).alias("dst"),
        )
        .filter((F.col("src") != "") & (F.col("dst") != "") & (F.col("src") != F.col("dst")))
        .distinct()
    )


class LSH(NamedTuple):
    """What ``lsh_candidate_edges`` returns.

    ``edges``: (src, dst, support), src < dst: each verified pair with at
    least one fresh member, once, with ``support`` the number of buckets
    under the cap that emit it. ``retracted``: (src, dst), one row per
    verified pair of stored keys in each bucket the fresh keys push over
    the cap. ``sig``: the (norm_key, band_key) signatures of the fresh
    keys, the only frame it persists: the caller stores it and then
    releases it with ``session.stage_unpersist``. ``counts()``: read once
    ``edges`` has run and before ``sig`` is released; ``touched_buckets``
    (the buckets the grouped pass formed), ``hot_buckets_dropped`` (those
    the fresh keys pushed over the cap), ``retracting_buckets`` (those of
    them with two or more stored members, whose verified pairs are
    retracted) and ``pairs`` (the distinct pairs among ``edges`` and
    ``asserted``)."""

    edges: DataFrame
    retracted: DataFrame
    sig: DataFrame
    counts: Callable[[], dict]


def lsh_candidate_edges(
    vocab: DataFrame,
    stored_sig: DataFrame | None = None,
    asserted: DataFrame | None = None,
    max_bucket: int = MAX_BUCKET,
) -> LSH:
    """The similarity evidence that the keys of ``vocab`` absent from
    ``stored_sig`` (the fresh keys) add to a store holding ``stored_sig``.

    ``stored_sig``: the (norm_key, band_key) signatures of the keys linked
    earlier (the pipeline's ``link_sig`` table); without it every key is
    fresh. Only the fresh keys are shingled and MinHashed: a key's
    signature is a pure function of the key.

    Probe, don't regroup: the grouped pass takes the fresh signatures and
    the stored ones whose band_key some fresh key has, a left-semi join
    against a broadcast of the fresh band keys, so the stored signatures
    are scanned but never shuffled. One groupBy(band_key) then forms each
    touched bucket (``n`` members, ``n_old`` of them stored), and its pairs
    are enumerated and token-Jaccard verified inside its reduce task. A
    norm_key is already normalized, so ``array_distinct(split(key, " "))``
    equals its token_shingles (tests/test_property.py pins this). A bucket
    of B members lands whole in one reduce task: O(B) memory, never its
    O(B^2) pairs.

    * ``n <= max_bucket``: its verified pairs with a fresh member are
      emitted. A pair of two stored keys was emitted by the call that added
      the later of them: bucket membership only grows, so the bucket was
      under the cap then too.
    * ``n_old <= max_bucket < n``: the fresh keys push the bucket over the
      cap (a hot bucket yields no pair), so it emits nothing and retracts
      each verified pair of its stored members. Across calls, a pair is
      live while its support exceeds its retractions: a pair that another
      bucket still supports stays live, as in a run over every key.
    * ``n_old > max_bucket``: dropped by an earlier call already.

    So over successive calls, each fed the earlier calls' signatures, the
    live pairs and the summed ``hot_buckets_dropped`` equal one call over
    every key. On an empty store every key is fresh, the stored side folds
    out of the plan, and the pass is the one a run from scratch needs.

    ``asserted``: (src, dst) edges the caller holds from other evidence
    (the pipeline's same_as edges of the run). They join the pair
    aggregate with no support, so ``pairs`` counts the distinct edges among
    them and the emitted pairs at no extra job. The bucket counters ride
    the same aggregate as rows keyed (null, <counter>), so they reach the
    caller's write however many pairs survive; an Observation inside a
    shuffle stage that wrote no row would be dropped with that stage.
    """
    keys = lsh_keys(vocab)
    if stored_sig is None:
        # an empty relation with the signature columns: the anti-join, the
        # semi-join and the union below fold away (cheaper to analyze than
        # an empty MinHash)
        stored_sig = keys.select("norm_key", F.lit("").alias("band_key")).limit(0)
    stored_sig = stored_sig.select("norm_key", "band_key")
    fresh = keys.join(stored_sig.select("norm_key"), "norm_key", "left_anti")
    # read twice: by the grouped pass and by the caller's link_sig write.
    # memory, not localCheckpoint: a checkpoint hides the frame's size and
    # partitioning from AQE, which then planned fewer, longer tasks
    # (measured on wide_vocab, 4 vCPUs, with the band self-join this pass
    # replaced: 3.4-4.0 s vs 2.4-3.0 s per LSH)
    fresh_sig = stage_persist(
        minhash_bands_agg(fresh, "norm_key", "shingles", NUM_PERM, BANDS, ROWS_PER_BAND),
        mode="memory",
    )
    # a norm_key is trimmed, so a leading space marks a stored member
    touched = stored_sig.join(
        F.broadcast(fresh_sig.select("band_key")), "band_key", "left_semi"
    ).select("band_key", F.concat(F.lit(" "), "norm_key").alias("norm_key"))

    def stored(k: Column) -> Column:
        return k.startswith(" ")

    def row(src: Column, dst: Column, retract: Column) -> Column:
        return F.struct(
            src.alias("src"),
            dst.alias("dst"),
            F.lit(1).cast("long").alias("w"),
            retract.alias("retract"),
        )

    n = F.size("keys")
    over = n > max_bucket
    # only a bucket over the cap needs its stored members counted
    n_old = F.when(over, F.size(F.filter("keys", stored)))
    retracting = over & n_old.between(2, max_bucket)
    counters = {
        "touched": F.lit(True),
        "hot": over & (n_old <= max_bucket),
        "retracting": retracting,
    }
    # the members to pair: all of a bucket under the cap, the stored ones
    # of a bucket the fresh keys push over it, none of any other
    pool = (
        F.when(n.between(2, max_bucket), F.col("keys"))
        .when(retracting, F.filter("keys", stored))
        .otherwise(F.array().cast("array<string>"))
    )
    # the member list is a column of its own: the pair lambdas below read
    # it once per member, and an inlined expression would be re-evaluated
    # each time (SCALE.md, Round 6)
    buckets = (
        touched.unionByName(fresh_sig)
        .groupBy("band_key")
        .agg(F.collect_list("norm_key").alias("keys"))
        .select(
            over.alias("over"),
            F.array_compact(
                F.array(
                    *[
                        F.when(holds, row(F.lit(None).cast("string"), F.lit(name), F.lit(False)))
                        for name, holds in counters.items()
                    ]
                )
            ).alias("counters"),
            F.transform(
                pool,
                lambda k: F.struct(
                    F.ltrim(k).alias("k"),
                    stored(k).alias("old"),
                    F.array_distinct(F.split(F.ltrim(k), " ")).alias("t"),
                ),
            ).alias("m"),
        )
    )
    m, over = F.col("m"), F.col("over")
    # member i pairs with members i+1..n-1 (transform hands a two-argument
    # lambda the element's 0-based index); a retracting bucket keeps every
    # pair of its stored members, any other the pairs with a fresh member
    pairs = F.flatten(
        F.transform(
            m,
            lambda x, i: F.transform(
                F.slice(m, i + 2, F.size(m) - i - 1),
                lambda y: F.struct(
                    F.least(x["k"], y["k"]).alias("src"),
                    F.greatest(x["k"], y["k"]).alias("dst"),
                    (over | ~(x["old"] & y["old"])).alias("keep"),
                    x["t"].alias("ta"),
                    y["t"].alias("tb"),
                ),
            ),
        )
    )
    # src < dst also drops a key listed twice in one bucket
    verified = F.filter(
        pairs,
        lambda p: p["keep"]
        & (p["src"] < p["dst"])
        & (jaccard(p["ta"], p["tb"]) >= JACCARD_THRESHOLD),
    )
    emits = F.transform(verified, lambda p: row(p["src"], p["dst"], over))
    rows = buckets.select(F.inline(F.concat("counters", emits)))
    emitted = rows.filter(~F.col("retract")).select("src", "dst", "w")
    if asserted is not None:
        emitted = emitted.unionByName(
            asserted.select("src", "dst", F.lit(0).cast("long").alias("w"))
        )
    is_counter = F.col("src").isNull()
    obs = Observation()
    edges = (
        emitted.groupBy("src", "dst")
        .agg(F.sum("w").alias("support"))
        .observe(
            obs,
            F.count_if(~is_counter).alias("pairs"),
            *[
                F.sum(F.when(is_counter & (F.col("dst") == name), F.col("support"))).alias(name)
                for name in counters
            ],
        )
        .filter(~is_counter & (F.col("support") > 0))
    )
    retracted = rows.filter(F.col("retract")).select("src", "dst")

    def counts() -> dict:
        got = {k: int(v or 0) for k, v in obs.get.items()}
        return {
            "touched_buckets": got["touched"],
            "hot_buckets_dropped": got["hot"],
            "retracting_buckets": got["retracting"],
            "pairs": got["pairs"],
        }

    return LSH(edges, retracted, fresh_sig, counts)


def lsh_keys(vocab: DataFrame) -> DataFrame:
    """Distinct norm_keys with their blocking shingles."""
    return (
        vocab.select("norm_key")
        .distinct()
        .withColumn("shingles", char_shingles(F.col("norm_key"), SHINGLE_K))
        .filter(F.size("shingles") > 0)
    )


def drop_hot_buckets(
    sig: DataFrame, max_bucket: int = MAX_BUCKET, key: str = "band_key"
) -> DataFrame:
    """Hot-bucket cap in front of a blocking self-join (the dedup operators):
    a bucket with B members yields B^2 candidate pairs; the cap bounds
    worst-case blocking cost. The linker does not use it: its grouped pass
    drops hot buckets after one groupBy, holding O(B) per reducer.

    Two-phase on purpose: groupBy(key).count() partial-aggregates map-side,
    so a 10^5-member hot bucket collapses to one row per map task *before*
    any shuffle; the (tiny, hot-keys-only) result then removes members via a
    left_anti join that AQE broadcasts. The window-count alternative
    (count over partitionBy(key)) hauls the entire hot bucket — the exact
    pathology being guarded against — into a single task before the guard
    can drop it; at a 100x-skewed vocabulary that window IS the straggler.
    """
    hot = sig.groupBy(key).count().filter(F.col("count") > max_bucket).select(key)
    return sig.join(hot, key, "left_anti")


def lsh_dropped_buckets(sig: DataFrame, max_bucket: int = MAX_BUCKET) -> DataFrame:
    """Observability: which LSH buckets the hot-key cap skipped.

    Takes already-computed (norm_key, band_key) signatures — the pipeline's
    ``link_sig`` table, which every run appends its fresh keys' signatures
    to — instead of recomputing shingles+MinHash from the vocabulary
    (VERDICT r2 minor #4: the recompute doubled the MinHash cost of the
    observability path)."""
    return (
        sig.groupBy("band_key").agg(F.count("*").alias("bsz")).filter(F.col("bsz") > max_bucket)
    )
