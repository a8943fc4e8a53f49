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
  mitigation — SURVEY.md §7 hard part 3) and the dropped count is observed
  on the same pass.

Everything here is native Spark SQL expressions; the only shuffle after the
MinHash aggregate is the one groupBy on band_key, a derived high-entropy
key.
"""

from __future__ import annotations

from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, Observation
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

    ``edges``: the verified (src, dst) pairs, src < dst, once per shared
    bucket. ``sig``: the (norm_key, band_key) signatures of this call's
    fresh keys, the only frame it persists: the caller stores it and then
    releases it with ``session.stage_unpersist``. ``hot_buckets_dropped()``:
    how many buckets the cap skipped; it blocks until ``edges`` has run and
    is read before ``sig`` is released."""

    edges: DataFrame
    sig: DataFrame
    hot_buckets_dropped: Callable[[], int]


def lsh_candidate_edges(
    vocab: DataFrame,
    stored_sig: DataFrame | None = None,
    num_perm: int = NUM_PERM,
    bands: int = BANDS,
    rows_per_band: int = ROWS_PER_BAND,
    threshold: float = JACCARD_THRESHOLD,
    max_bucket: int = MAX_BUCKET,
) -> LSH:
    """Distinct norm_keys -> verified similarity edges (src < dst).

    shingle -> minhash signature -> band keys -> one groupBy(band_key) ->
    per bucket: sort members, enumerate pairs, exact token-Jaccard verify.
    Each bucket's pairs are enumerated inside its own reduce task: no band
    self-join and no pair ``distinct``. A pair that shares several buckets
    comes out once per shared bucket, so the caller dedups (the pipeline's
    union with same_as takes one ``distinct``).

    Each bucket's member list is sorted once, as (key, tokens): a norm_key
    is already normalized, so ``array_distinct(split(key, " "))`` equals its
    token_shingles (tests/test_property.py pins this), computed once per
    member rather than once per collision. The pairs i < j of the sorted
    list are the src < dst pairs.

    Hot buckets (more than ``max_bucket`` members) yield no pair. A bucket's
    member list lands whole in one reduce task: O(B) memory for a bucket of
    B members, never its O(B^2) pairs. The dropped-bucket count rides an
    Observation on the aggregate, above its shuffle, at no extra job.

    ``stored_sig``: (norm_key, band_key) signatures computed earlier (the
    pipeline's ``link_sig`` table). Only keys absent from it are MinHashed;
    candidate generation and verification run over stored ∪ fresh and are
    bit-identical to a run from scratch, because a key's signature is a pure
    function of the key. Without it every key is fresh.
    """
    keys = lsh_keys(vocab)
    if stored_sig is None:
        # an empty relation with the signature columns: the anti-join and
        # union below fold away (cheaper to analyze than an empty MinHash)
        stored_sig = keys.select("norm_key", F.lit("").alias("band_key")).limit(0)
    stored_sig = stored_sig.select("norm_key", "band_key")
    fresh = keys.join(stored_sig.select("norm_key").distinct(), "norm_key", "left_anti")
    # read twice: by the grouped pass and by the caller's link_sig write.
    # memory, not localCheckpoint: a checkpoint hides the frame's size and
    # partitioning from AQE, which then planned fewer, longer tasks
    # (measured on wide_vocab, 4 vCPUs, with the band self-join this pass
    # replaced: 3.4-4.0 s vs 2.4-3.0 s per LSH)
    fresh_sig = stage_persist(
        minhash_bands_agg(fresh, "norm_key", "shingles", num_perm, bands, rows_per_band),
        mode="memory",
    )
    sig = stored_sig.unionByName(fresh_sig)

    obs = Observation()
    buckets = (
        sig.groupBy("band_key")
        .agg(F.collect_list("norm_key").alias("keys"))
        .observe(obs, F.count_if(F.size("keys") > max_bucket).alias("hot"))
        .filter(F.size("keys").between(2, max_bucket))
        .select(
            F.array_sort(
                F.transform(
                    "keys",
                    lambda k: F.struct(
                        k.alias("k"), F.array_distinct(F.split(k, " ")).alias("t")
                    ),
                )
            ).alias("m")
        )
    )
    # member i pairs with members i+1..n-1 (transform hands a two-argument
    # lambda the element's 0-based index)
    m, n = F.col("m"), F.size("m")
    pairs = F.flatten(
        F.transform(
            m,
            lambda x, i: F.transform(
                F.slice(m, i + 2, n - i - 1),
                lambda y: F.struct(
                    x["k"].alias("src"),
                    y["k"].alias("dst"),
                    x["t"].alias("ta"),
                    y["t"].alias("tb"),
                ),
            ),
        )
    )
    # src < dst also drops a key listed twice in one bucket, as the self-join
    # did
    out = (
        buckets.select(F.inline(pairs))
        .filter((F.col("src") < F.col("dst")) & (jaccard(F.col("ta"), F.col("tb")) >= threshold))
        .select("src", "dst")
    )

    def hot() -> int:
        # AQE drops a shuffle stage that wrote no row from the final plan,
        # and the Observation inside it: its metrics row comes back empty.
        # The grouped pass then emitted no pair, and the dropped buckets are
        # counted on the signatures instead (two small jobs).
        if obs._jo.getRow().length() == 0:
            return lsh_dropped_buckets(sig, max_bucket).count()
        return int(obs.get["hot"])

    return LSH(out, fresh_sig, hot)


def lsh_keys(vocab: DataFrame, k: int = SHINGLE_K) -> DataFrame:
    """Distinct norm_keys with their blocking shingles."""
    return (
        vocab.select("norm_key")
        .distinct()
        .withColumn("shingles", char_shingles(F.col("norm_key"), k))
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
