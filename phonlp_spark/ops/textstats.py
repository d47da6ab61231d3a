"""Text analysis operators: quality scoring, language ID, token stats,
document fingerprinting.

Everything is integer-or-string valued built-in expressions (no floats
in outputs, no Python), so DuckDB oracles hash identically and the ops
stay inside WholeStageCodegen at any scale.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Minimal embedded stopword inventories (public common-word lists).
STOP_EN = ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"]
STOP_VI = ["và", "của", "là", "có", "không", "được", "trong", "cho", "với", "này"]

PUNCT_RE = r"[\.,;:!\?\(\)\[\]\"']"


def token_stats(docs: DataFrame) -> DataFrame:
    toks = F.split(F.col("text"), " ")
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.length(F.col("text")).alias("n_chars"),
    )


def quality_score(docs: DataFrame) -> DataFrame:
    """Per-doc quality features in integer permille (float-free):
    mean token length x100, stopword permille, punctuation permille,
    distinct-token permille (type/token ratio)."""
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    stops = F.array(*[F.lit(s) for s in STOP_EN + STOP_VI])
    n_stop = F.size(F.array_intersect(toks, stops))  # distinct-stopword hits
    n_stop_tok = F.size(F.filter(toks, lambda t: F.array_contains(stops, t)))
    n_punct = F.size(F.filter(toks, lambda t: t.rlike(PUNCT_RE)))
    nonspace = F.length(F.regexp_replace(F.col("text"), " ", ""))
    # ratios via integer DIV, never floor(double division): double
    # divides can floor differently across engines at exact boundaries
    raw = docs.select(
        "doc_id",
        n.alias("n_tokens"),
        nonspace.alias("_nonspace"),
        n_stop_tok.alias("_n_stop_tok"),
        n_punct.alias("_n_punct"),
        F.size(F.array_distinct(toks)).alias("_n_distinct"),
        n_stop.alias("n_stopword_types"),
    )
    return raw.select(
        "doc_id",
        "n_tokens",
        F.expr("CAST((_nonspace * 100) DIV greatest(n_tokens, 1) AS INT)")
        .alias("avg_token_len_x100"),
        F.expr("CAST((_n_stop_tok * 1000) DIV greatest(n_tokens, 1) AS INT)")
        .alias("stopword_permille"),
        F.expr("CAST((_n_punct * 1000) DIV greatest(n_tokens, 1) AS INT)")
        .alias("punct_permille"),
        F.expr("CAST((_n_distinct * 1000) DIV greatest(n_tokens, 1) AS INT)")
        .alias("ttr_permille"),
        "n_stopword_types",
    )


def lang_id(docs: DataFrame) -> DataFrame:
    """Stopword-count heuristic language ID (en / vi / unknown)."""
    toks = F.split(F.lower(F.col("text")), " ")
    en = F.size(F.filter(toks, lambda t: t.isin(*STOP_EN)))
    vi = F.size(F.filter(toks, lambda t: t.isin(*STOP_VI)))
    lang = (
        F.when((en > vi) & (en > 0), F.lit("en"))
        .when((vi > en) & (vi > 0), F.lit("vi"))
        .otherwise(F.lit("unknown"))
    )
    return docs.select("doc_id", lang.alias("lang_pred"),
                       en.alias("en_hits"), vi.alias("vi_hits"))


def fingerprint(docs: DataFrame) -> DataFrame:
    """Normalization-stable 60-bit content fingerprint."""
    normed = F.lower(F.regexp_replace(F.col("text"), r"\s+", " "))
    return docs.select(
        "doc_id",
        F.conv(F.substring(F.md5(normed), 1, 15), 16, 10).cast("bigint")
        .alias("fingerprint"),
    )


def profile(docs: DataFrame) -> DataFrame:
    """Full per-document text profile in ONE projection pass: token
    stats + quality features + language ID + content fingerprint.

    Composing the four single-purpose operators via doc_id joins would
    scan the corpus four times and shuffle three times; every column
    here is a pure expression over the same row, so the whole profile
    is one scan with zero shuffles at any scale (the 100-TB shape for
    "annotate every document with its stats").  Column semantics are
    identical to token_stats / quality_score / lang_id / fingerprint.

    fan_out is a no-op on wide (real-scale) scans, preserving the
    zero-shuffle story; on the sandbox's single-row-group fixtures it
    lifts the per-row expression work off the scan stage's 1-2 tasks.
    """
    from phonlp_spark.ops.fanout import fan_out
    docs = fan_out(docs)
    toks = F.split(F.col("text"), " ")
    ltoks = F.split(F.lower(F.col("text")), " ")
    stops = F.array(*[F.lit(s) for s in STOP_EN + STOP_VI])
    en_hits = F.size(F.filter(ltoks, lambda t: t.isin(*STOP_EN)))
    vi_hits = F.size(F.filter(ltoks, lambda t: t.isin(*STOP_VI)))
    normed = F.lower(F.regexp_replace(F.col("text"), r"\s+", " "))
    raw = docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("_n_distinct"),
        F.length(F.col("text")).alias("n_chars"),
        F.length(F.regexp_replace(F.col("text"), " ", "")).alias("_nonspace"),
        F.size(F.filter(toks, lambda t: F.array_contains(stops, t)))
        .alias("_n_stop_tok"),
        F.size(F.filter(toks, lambda t: t.rlike(PUNCT_RE))).alias("_n_punct"),
        F.size(F.array_intersect(toks, stops)).alias("n_stopword_types"),
        en_hits.alias("en_hits"),
        vi_hits.alias("vi_hits"),
        F.conv(F.substring(F.md5(normed), 1, 15), 16, 10).cast("bigint")
        .alias("fingerprint"),
    )
    return raw.select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("_n_distinct").cast("bigint").alias("n_distinct_tokens"),
        F.col("n_chars").cast("bigint").alias("n_chars"),
        F.expr("CAST((_nonspace * 100) DIV greatest(n_tokens, 1) AS INT)")
        .alias("avg_token_len_x100"),
        F.expr("CAST((_n_stop_tok * 1000) DIV greatest(n_tokens, 1) AS INT)")
        .alias("stopword_permille"),
        F.expr("CAST((_n_punct * 1000) DIV greatest(n_tokens, 1) AS INT)")
        .alias("punct_permille"),
        F.expr("CAST((_n_distinct * 1000) DIV greatest(n_tokens, 1) AS INT)")
        .alias("ttr_permille"),
        F.col("n_stopword_types").cast("bigint").alias("n_stopword_types"),
        F.when((F.col("en_hits") > F.col("vi_hits")) & (F.col("en_hits") > 0),
               F.lit("en"))
        .when((F.col("vi_hits") > F.col("en_hits")) & (F.col("vi_hits") > 0),
              F.lit("vi"))
        .otherwise(F.lit("unknown")).alias("lang_pred"),
        F.col("en_hits").cast("bigint").alias("en_hits"),
        F.col("vi_hits").cast("bigint").alias("vi_hits"),
        "fingerprint",
    )


def nfd_normalize(docs: DataFrame) -> DataFrame:
    """NFD unicode normalization (reference common/utils.py:124-125).

    Spark has no built-in unicode-normal-form expression, so this is an
    Arrow-batched pandas UDF over unicodedata — a pure scalar map (no
    shuffle) kept OFF the annotate hot path, exactly like the
    reference, which defines normalize_text but never calls it during
    annotation.
    """
    from pyspark.sql import types as T

    def _nfd(s: pd.Series) -> pd.Series:
        import unicodedata

        from phonlp_spark.kernel.runtime import drop_zip_importers
        drop_zip_importers()
        return s.map(lambda x: unicodedata.normalize("NFD", x)
                     if x is not None else None)

    nfd_udf = F.pandas_udf(_nfd, T.StringType())
    return docs.select("doc_id",
                       nfd_udf(F.col("text")).alias("text_nfd"))


def length_percentiles(docs: DataFrame, pcts: tuple[int, ...] = (50, 90, 99)) -> DataFrame:
    """(pct, n_tokens): EXACT token-count percentiles via the
    histogram-cumsum pattern — percentile p is the smallest length
    whose cumulative count reaches ceil(n * p / 100) (the inverted-CDF
    / percentile_disc definition, integer arithmetic only).

    Scale shape: one groupBy on the length (domain-bounded: distinct
    document lengths, thousands of rows at any corpus size) plus a
    window over that tiny histogram — never a global sort of the
    corpus, which is how NOT to compute a percentile at 100 TB.
    """
    from pyspark.sql.window import Window

    hist = (docs.select(F.size(F.split(F.col("text"), " ")).alias("len"))
            .groupBy("len").agg(F.count(F.lit(1)).alias("cnt")))
    w = Window.orderBy("len").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.withColumn("cum", F.sum("cnt").over(w)) \
        .crossJoin(hist.agg(F.sum("cnt").alias("n")))
    out = None
    for p in pcts:
        # target rank: ceil(n*p/100) in pure integers
        need = F.expr(f"CAST((n * {p} + 99) DIV 100 AS BIGINT)")
        row = (cum.filter(F.col("cum") >= need)
               .agg(F.min("len").alias("n_tokens"))
               .select(F.lit(p).alias("pct"),
                       F.col("n_tokens").cast("bigint").alias("n_tokens")))
        out = row if out is None else out.unionAll(row)
    return out
