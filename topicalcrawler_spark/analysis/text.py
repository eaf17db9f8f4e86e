"""Text analysis over the ``documents`` table (task brief surface):
language-ID (stopword n-gram heuristic), quality scoring, token
counting (whitespace + BPE-ish regex), document fingerprinting
(rolling-hash / bottom-k sketch).

Every formula is plain Catalyst arithmetic so the DuckDB oracle can
evaluate the identical expression — no model files, no Python UDFs.
At 100 TB all four are row-local map operations (zero shuffle) except
the corpus-level aggregates, which Catalyst partial-aggregates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .hashing import hash60_expr, shingles_expr, tokens_expr

# language -> characteristic stopword set (tiny n-gram heuristic).
# Deliberately deterministic + SQL-replicable; not a trained model.
LANG_STOPWORDS = {
    "en": ("the", "a", "of", "to", "and", "is", "in", "it"),
    "es": ("el", "la", "de", "que", "y", "los"),
    "fr": ("le", "la", "les", "de", "et", "un"),
    "de": ("der", "die", "das", "und", "ein", "zu"),
}

TOKEN_REGEX = "[a-z]+|[0-9]+"  # BPE-ish word/number pieces


def _ratio_for(toks: Column, words: tuple[str, ...]) -> Column:
    hits = F.size(F.filter(toks, lambda t: t.isin(*words)))
    return F.round(hits / F.greatest(F.size(toks), F.lit(1)).cast("double"), 6)


def _lang_ratio_cols(toks: Column) -> list[Column]:
    return [
        _ratio_for(toks, ws).alias(f"{lang}_ratio")
        for lang, ws in LANG_STOPWORDS.items()
    ]


def _with_pred_lang(scored: DataFrame) -> DataFrame:
    """Argmax language over the *_ratio columns (ties and all-zero
    fall to 'und', first-match-wins on ties in fixed dict order)."""
    best = F.greatest(*[F.col(f"{lang}_ratio") for lang in LANG_STOPWORDS])
    pred = F.when(best <= 0, F.lit("und"))
    for lang in LANG_STOPWORDS:
        pred = pred.when(F.col(f"{lang}_ratio") == best, F.lit(lang))
    return scored.withColumn("pred_lang", pred.otherwise(F.lit("und")))


def lang_quality_scores(docs: DataFrame) -> DataFrame:
    """Per-doc language and quality scores in ONE row-local
    projection over one token array.  Language: the stopword-hit ratio
    per language and the argmax prediction (ties and all-zero fall to
    'und').  Quality: heuristic features and a composite 0..1-ish
    score.  Output: (doc_id, en_ratio, es_ratio, fr_ratio, de_ratio,
    pred_lang, n_tokens, n_distinct, type_token_ratio, mean_token_len,
    stopword_ratio, quality)."""
    toks = tokens_expr("text")
    one = _with_pred_lang(
        docs.select(
            "doc_id", *_lang_ratio_cols(toks), *_quality_cols(toks)
        )
    )
    return one.select(
        "doc_id",
        *[f"{lang}_ratio" for lang in LANG_STOPWORDS],
        "pred_lang",
        "n_tokens",
        "n_distinct",
        "type_token_ratio",
        "mean_token_len",
        "stopword_ratio",
        "quality",
    )


def _quality_cols(toks: Column) -> list[Column]:
    n_tok = F.size(toks)
    n_dis = F.size(F.array_distinct(toks))
    ttr = F.round(n_dis / F.greatest(n_tok, F.lit(1)).cast("double"), 6)
    mean_len = F.round(
        F.aggregate(
            toks, F.lit(0.0), lambda acc, t: acc + F.length(t).cast("double")
        )
        / F.greatest(n_tok, F.lit(1)).cast("double"),
        6,
    )
    stop = _ratio_for(toks, LANG_STOPWORDS["en"])
    quality = F.round(
        F.least(n_tok.cast("double") / F.lit(50.0), F.lit(1.0)) * 0.4
        + ttr * 0.4
        + F.least(stop * F.lit(10.0), F.lit(1.0)) * 0.2,
        6,
    )
    return [
        n_tok.alias("n_tokens"),
        n_dis.alias("n_distinct"),
        ttr.alias("type_token_ratio"),
        mean_len.alias("mean_token_len"),
        stop.alias("stopword_ratio"),
        quality.alias("quality"),
    ]


def token_stats(docs: DataFrame) -> DataFrame:
    """Token counting both ways: whitespace split and the BPE-ish
    regex. Output: (doc_id, ws_tokens, re_tokens, n_chars_check)."""
    return docs.select(
        "doc_id",
        F.size(tokens_expr("text")).alias("ws_tokens"),
        F.size(F.expr(f"regexp_extract_all(text, '{TOKEN_REGEX}', 0)")).alias(
            "re_tokens"
        ),
        F.length("text").alias("n_chars_check"),
    )


def tfidf_top_terms(docs: DataFrame, k: int = 3) -> DataFrame:
    """Per-doc top-k terms by TF-IDF — corpus vocabulary profiling for
    training-data curation.  tf = term count within the doc (multiset),
    idf = ln(N / df) with df = docs containing the term; rank ties
    break lexicographically so the result is total-ordered and exactly
    SQL-replayable.  Output: (doc_id, term, tfidf, rnk), rnk 1..k.

    Scale shape: postings explode + two hash aggregates (term df is a
    corpus-wide agg Catalyst partial-aggregates map-side); the ranking
    window partitions by doc_id — never global."""
    from pyspark.sql.window import Window

    postings = docs.select(
        "doc_id", F.explode(tokens_expr("text")).alias("term")
    )
    tf = postings.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = (
        postings.select("doc_id", "term")
        .distinct()
        .groupBy("term")
        .agg(F.count("*").alias("df"))
    )
    n_docs = docs.select(F.countDistinct("doc_id").alias("n"))
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * F.log(F.col("n").cast("double") / F.col("df")),
                6,
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= k)
        .select("doc_id", "term", "tfidf", "rnk")
    )


def stratified_sample(
    docs: DataFrame, pct_by_bucket: dict[str, int] | None = None
) -> DataFrame:
    """Deterministic hash-mod stratified sampling — the reproducible
    corpus-mix primitive (training pipelines must be able to re-derive
    the exact sample).  Strata = document length buckets (short/
    medium/long); a doc is kept iff hash60(doc_id) % 100 < pct for its
    stratum.  Pure Catalyst, zero shuffle, exactly replayable in SQL.
    Output: (doc_id, bucket, h_mod)."""
    pct = pct_by_bucket or {"short": 50, "medium": 20, "long": 10}
    missing = {"short", "medium", "long"} - pct.keys()
    if missing:
        # element_at(map, absent_key) is NULL and `h_mod < NULL` is
        # NULL, so an omitted bucket would silently drop its whole
        # stratum — a corpus-mix misconfiguration must fail loudly
        # (pass an explicit 0 to exclude a stratum on purpose)
        raise ValueError(
            f"pct_by_bucket missing strata {sorted(missing)}; "
            "pass 0 to exclude a stratum explicitly"
        )
    bucket = (
        F.when(F.length("text") < 120, "short")
        .when(F.length("text") < 300, "medium")
        .otherwise("long")
    )
    rate = F.create_map(
        *[F.lit(x) for kv in pct.items() for x in kv]
    )
    h_mod = F.pmod(hash60_expr(F.col("doc_id").cast("string")), F.lit(100))
    return (
        docs.select(
            "doc_id", bucket.alias("bucket"), h_mod.cast("int").alias("h_mod")
        )
        .filter(F.col("h_mod") < F.element_at(rate, F.col("bucket")))
    )


def fingerprints(docs: DataFrame, k: int = 4, shingle_n: int = 3) -> DataFrame:
    """Bottom-k document fingerprint: the k smallest distinct 60-bit
    hashes of word shingles (a winnowing-style rolling sketch — two
    docs sharing content share small hashes). Output:
    (doc_id, fp:array<long>, fp_min:long)."""
    sh = F.array_distinct(shingles_expr("text", shingle_n))
    hashes = F.array_sort(F.transform(sh, hash60_expr))
    return docs.select(
        "doc_id",
        F.slice(hashes, 1, k).alias("fp"),
        F.element_at(hashes, 1).alias("fp_min"),
    )
