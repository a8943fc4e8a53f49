from importtoneo4j_spark.functions.text import (  # noqa: F401
    char_shingles,
    jaccard,
    norm_key,
    normalize_text,
    nullify_sentinels,
    token_shingles,
)
