"""Text/string column functions — all native Spark SQL expressions
(JVM-side, whole-stage codegen'd); no Python in the hot path.

Normalization is the distributed analog of the reference's canonical-form
value object (GenomeVariant.convertToMinimalRepresentation(), used at
VariantDatabase.java:204,211,218) and the canonical key format
"<contig>:<pos><ref>><alt>" (VariantDatabase.java:331-334): a deterministic
pure function from surface form to MERGE key.

MinHash here hashes each shingle once with ``md5`` and derives its
permutations by affine universal hashing (minhash_bands_agg). Key design
point: ``md5`` produces identical lowercase hex in Spark and DuckDB, so the
LSH pipeline is oracle-checkable end-to-end in plain SQL.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

NULL_SENTINELS = (".", "")


def nullify_sentinels(col: Column) -> Column:
    """'.' / empty / whitespace-only -> NULL (reference null-sentinel skip,
    VariantDatabase.java:339,490,497-499,511-518)."""
    # regexp trim, not F.trim: trim() strips only ASCII spaces, but the
    # sentinel test must agree with Python's str.strip() (tabs, newlines)
    t = F.regexp_replace(col, r"^\s+|\s+$", "")
    return F.when(t.isin(*NULL_SENTINELS), F.lit(None).cast("string")).otherwise(t)


def normalize_text(col: Column) -> Column:
    """Lowercase, strip punctuation to spaces, collapse whitespace, trim."""
    c = F.lower(col)
    c = F.regexp_replace(c, r"[^\p{L}\p{N}]+", " ")
    return F.trim(c)


def norm_key(col: Column) -> Column:
    """The exact-match MERGE key for a mention surface form (reference
    Neo4j.java:160-173 matchOrCreateUniqueNode, generalized)."""
    return normalize_text(col)


def token_shingles(col: Column) -> Column:
    """Distinct word tokens of a normalized string -> array<string>."""
    return F.array_distinct(F.split(normalize_text(col), " "))


def char_shingles(col: Column, k: int = 3) -> Column:
    """Distinct character k-grams of the normalized string -> array<string>.

    Built with a SQL sequence + transform (no UDF): shingle i = substr(s,i,k).
    """
    s = normalize_text(col)
    n = F.greatest(F.length(s) - F.lit(k - 1), F.lit(1))
    idx = F.sequence(F.lit(1), n)
    return F.array_distinct(F.transform(idx, lambda i: F.substring(s, i, k)))


# universal-hash MinHash family: one md5 per shingle, then num_perm affine
# permutations (a_k * h + b_k) mod MINHASH_PRIME. h is the first 7 hex chars
# of md5 (28 bits), so a_k * h stays < 2^59 — no int64 overflow in either
# Spark (wrapping) or DuckDB (checked), keeping the oracle bit-identical.
MINHASH_PRIME = 2147483647  # 2^31 - 1


def minhash_coeffs(k: int) -> tuple[int, int]:
    return 999983 * (k + 1), 1299721 * k + 7


def minhash_bands_agg(
    df,
    id_col: str,
    shingles_col: str,
    num_perm: int = 32,
    bands: int = 16,
    rows_per_band: int = 2,
):
    """(id, shingles array) DataFrame -> (id, band_key) DataFrame.

    Aggregation-based MinHash: explode shingles, hash each shingle ONCE
    (md5 -> 28-bit int), derive ``num_perm`` affine permutations, take
    per-id minimums map-side (partial aggregation), concatenate band keys.

    Why not a pure column expression: nesting the signature expression into
    each band key duplicates the whole signature tree per band (measured
    ~8x slower); and hashing once per shingle beats md5-per-(shingle, perm)
    by ~num_perm in hash cost.
    """
    from pyspark.sql import functions as F  # local to avoid cycle at import

    ex = df.select(F.col(id_col), F.explode(F.col(shingles_col)).alias("_sh"))
    h = F.conv(F.substring(F.md5(F.col("_sh")), 1, 7), 16, 10).cast("long")
    ex = ex.select(F.col(id_col), h.alias("_h"))
    aggs = []
    for p in range(num_perm):
        a, b = minhash_coeffs(p)
        aggs.append(
            F.min((F.lit(a) * F.col("_h") + F.lit(b)) % F.lit(MINHASH_PRIME)).alias(
                f"_m{p}"
            )
        )
    sig = ex.groupBy(id_col).agg(*aggs)
    band_cols = [
        F.concat_ws(
            "|",
            F.lit(str(b)),
            *[
                F.col(f"_m{b * rows_per_band + r}").cast("string")
                for r in range(rows_per_band)
            ],
        )
        for b in range(bands)
    ]
    return sig.select(F.col(id_col), F.explode(F.array(*band_cols)).alias("band_key"))


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard similarity of two string arrays (candidate verification —
    native array ops, no UDF)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union > 0, inter.cast("double") / union.cast("double")).otherwise(
        F.lit(0.0)
    )


def jaccard_counts(a: Column, b: Column) -> tuple[Column, Column]:
    """(|intersection|, |union|) of two arrays as exact integers — for
    consumers that must re-derive a cross-engine-stable display score:
    round(double, 4) on a small rational splits between engines at
    exactly-half shortest-decimal reprs (Spark rounds the decimal string
    HALF_UP, DuckDB the binary value — 278/1600 lands on 0.1738 vs
    0.1737), while (inter * 10000) div union is bit-identical everywhere
    (code-review round 5)."""
    return (
        F.size(F.array_intersect(a, b)).cast("long"),
        F.size(F.array_union(a, b)).cast("long"),
    )


def unigram_logprob(
    docs,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Per-document average unigram log-likelihood under the corpus's OWN
    unigram distribution (round 5) — the model-free fluency/outlier
    signal a training pipeline runs before it can afford a real LM:
    score(doc) = avg over tokens of ln(count(token) / total_tokens).
    Documents full of corpus-rare tokens (boilerplate noise, wrong
    language, mojibake) score far below the mode; OOV is impossible by
    construction (every token is in its own corpus). Returns
    (id, n_tokens, logprob).

    Scale shape: tokenize+explode (map-side) -> ONE partial-aggregating
    groupBy(doc, term) collapses repeated tokens to (doc, term, tf)
    BEFORE anything shuffles on term, so the term join and every ln
    evaluation run once per DISTINCT (doc, term) pairing, not once per
    token occurrence (a doc repeating one token 10^4 times contributes
    one join row); the frequency table is a second partial aggregate over
    the same frame, and the final doc score is the tf-weighted mean. The
    1-row total broadcasts. fan_out rescues a one-small-file corpus scan
    (round 6, guide §2.5): the tokenize+explode below is narrow, so with a
    single-partition input it all ran on one core."""
    from pyspark.sql import functions as F

    from importtoneo4j_spark.session import fan_out

    docs = fan_out(docs)
    toks = docs.select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.lower(F.col(text_col))), r"\s+")).alias("term"),
    ).filter(F.col("term") != "")
    tf = toks.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    freq = tf.groupBy("term").agg(F.sum("tf").alias("cnt"))
    tot = freq.agg(F.sum("cnt").cast("double").alias("total"))
    return (
        tf.join(freq, "term")
        .crossJoin(F.broadcast(tot))
        .groupBy(id_col)
        .agg(
            F.sum("tf").alias("n_tokens"),
            (
                F.sum(F.col("tf") * F.log(F.col("cnt") / F.col("total")))
                / F.sum("tf")
            ).alias("logprob"),
        )
    )


def tf_idf(
    docs,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Per-(doc, term) TF-IDF over a document table (round 4) — the
    term-weighting primitive behind keyword extraction / relevance
    filtering in a training-data pipeline. Smoothed IDF:
    tf * ln((N + 1) / (df + 1)).

    Scale shape: tokenize + explode (map-side), ONE groupBy(doc, term)
    for tf, ONE groupBy(term) for df (both partial-aggregating), and the
    1-row corpus size broadcast via crossJoin — no windows, no driver
    collect, no UDF. Output cardinality = total distinct (doc, term)
    pairs, i.e. bounded by the token count. fan_out as in
    unigram_logprob (round 6)."""
    from importtoneo4j_spark.session import fan_out

    docs = fan_out(docs)
    toks = docs.select(
        F.col(id_col),
        F.explode(
            F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
        ).alias("term"),
    ).filter(F.col("term") != "")
    tf = toks.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").cast("double").alias("n_docs"))
    return (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n))
        .select(
            id_col,
            "term",
            "tf",
            "df",
            (
                F.col("tf")
                * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0))
            ).alias("tfidf"),
        )
    )
