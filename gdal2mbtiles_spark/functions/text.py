"""Text analysis: language-ID, quality scoring, token counting,
document fingerprinting — pure Column-expression pipelines with
DuckDB-SQL twins (no Python in the data path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# keep the regex identical on both engines (RE2/Java compatible)
BPE_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9 ]"

STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is"],
    "fr": ["le", "la", "et", "de", "un", "est"],
    "de": ["der", "die", "und", "das", "ist"],
    "es": ["el", "los", "y", "de", "es"],
    "pt": ["o", "os", "e", "de", "em"],
}
LANG_ORDER = ["en", "fr", "de", "es", "pt"]  # tie-break order


def token_counts(docs: DataFrame) -> DataFrame:
    """(doc_id, ws_tokens, bpe_tokens): whitespace split + a BPE-ish
    regex segmentation count."""
    return docs.select(
        "doc_id",
        F.expr("size(split(lower(text), ' '))").cast("bigint")
        .alias("ws_tokens"),
        F.expr(f"size(regexp_extract_all(lower(text), "
               f"'{BPE_PATTERN}', 0))").cast("bigint")
        .alias("bpe_tokens"))


def token_counts_sql(source: str = "documents") -> str:
    return (f"SELECT doc_id, "
            f"len(string_split(lower(text), ' '))::BIGINT AS ws_tokens, "
            f"len(regexp_extract_all(lower(text), '{BPE_PATTERN}'))"
            f"::BIGINT AS bpe_tokens FROM {source}")


def _stop_count_spark(lang: str) -> str:
    arr = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return (f"size(filter(split(lower(text), ' '), "
            f"t -> array_contains(array({arr}), t)))")


def _stop_count_duck(lang: str) -> str:
    arr = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return (f"len(list_filter(string_split(lower(text), ' '), "
            f"t -> list_contains([{arr}], t)))")


def lang_id(docs: DataFrame) -> DataFrame:
    """(doc_id, pred_lang): argmax stopword-hit count, ties broken by
    LANG_ORDER — the n-gram/stopword heuristic language identifier."""
    score_cols = {lang: F.expr(_stop_count_spark(lang))
                  for lang in LANG_ORDER}
    scored = docs.select("doc_id", *[
        score_cols[lang].alias(f"s_{lang}") for lang in LANG_ORDER])
    best = F.greatest(*[F.col(f"s_{lang}") for lang in LANG_ORDER])
    pred = F.when(F.col(f"s_{LANG_ORDER[0]}") == best,
                  F.lit(LANG_ORDER[0]))
    for lang in LANG_ORDER[1:]:
        pred = pred.when(F.col(f"s_{lang}") == best, F.lit(lang))
    return scored.select("doc_id", pred.alias("pred_lang"))


def lang_id_sql(source: str = "documents") -> str:
    scores = ", ".join(f"{_stop_count_duck(lang)} AS s_{lang}"
                       for lang in LANG_ORDER)
    best = "greatest(" + ", ".join(f"s_{lang}"
                                   for lang in LANG_ORDER) + ")"
    case = "CASE " + " ".join(
        f"WHEN s_{lang} = {best} THEN '{lang}'"
        for lang in LANG_ORDER) + " END"
    return (f"WITH scored AS (SELECT doc_id, {scores} FROM {source}) "
            f"SELECT doc_id, {case} AS pred_lang FROM scored")


def quality_score(docs: DataFrame) -> DataFrame:
    """(doc_id, quality): deterministic [0,1] blend of length,
    lexical diversity and stopword ratio (the heuristic quality
    filters a pretraining pipeline applies)."""
    expr = ("0.4 * least(1.0, size(split(lower(text), ' ')) / 50.0) "
            "+ 0.3 * (size(array_distinct(split(lower(text), ' '))) "
            "/ cast(size(split(lower(text), ' ')) as double)) "
            f"+ 0.3 * least(1.0, 5.0 * {_stop_count_spark('en')} "
            "/ cast(size(split(lower(text), ' ')) as double))")
    return docs.select("doc_id", F.expr(expr).alias("quality"))


def quality_score_sql(source: str = "documents") -> str:
    return (
        f"SELECT doc_id, "
        f"0.4 * least(1.0, len(string_split(lower(text), ' ')) / 50.0) "
        f"+ 0.3 * (len(list_distinct(string_split(lower(text), ' '))) "
        f"/ len(string_split(lower(text), ' '))::DOUBLE) "
        f"+ 0.3 * least(1.0, 5.0 * {_stop_count_duck('en')} "
        f"/ len(string_split(lower(text), ' '))::DOUBLE) AS quality "
        f"FROM {source}")


FP_K = 4


def fingerprints(docs: DataFrame) -> DataFrame:
    """(doc_id, fp0..fp3): bottom-k sketch of 3-gram shingle hashes
    (winnowing-style document fingerprint)."""
    from ..operators.dedup import SHINGLES_SPARK, _h60_spark, with_tokens
    hashes = (f"array_sort(transform({SHINGLES_SPARK}, "
              f"s -> {_h60_spark('s', 'fp')}))")
    # the sorted hashes are one projected column, so each document is
    # hashed and sorted once for all FP_K picks; try_element_at: docs
    # with fewer than FP_K shingles yield NULL fps, matching DuckDB's
    # out-of-bounds list indexing
    return (with_tokens(docs)
            .select("doc_id", F.expr(hashes).alias("_fph"))
            .select("doc_id", *[
                F.expr(f"try_element_at(_fph, {i + 1})").alias(f"fp{i}")
                for i in range(FP_K)]))


def fingerprints_sql(source: str = "documents") -> str:
    from ..operators.dedup import SHINGLES_DUCK, _h60_duck
    hashes = (f"list_sort(list_transform({SHINGLES_DUCK}, "
              f"s -> {_h60_duck('s', 'fp')}))")
    cols = ", ".join(f"({hashes})[{i + 1}] AS fp{i}"
                     for i in range(FP_K))
    return f"SELECT doc_id, {cols} FROM {source}"
