"""CoNLL-U and tab-separated corpus IO.

Reference semantics (phonlp/utils/conll.py:24-50): 10-field rows,
blank-line-separated sentences, `#` comment lines skipped, gapped /
multi-word ids (`x.y`, `x-y`) skipped, exactly 10 fields asserted;
`head` is an int, missing values are `_`.  The token/tag two-column
format (phonlp/models/jointmodel/data.py:417-431) shares the
blank-line sentence grouping.

Spark-first implementation: `spark.read.text` + a per-file cumulative
blank-line counter gives sentence ids (window over the in-file line
id); field split and filters are built-in expressions.  Line order
inside a split follows `monotonically_increasing_id`, and split order
follows file offsets, so the (file, id) sort reconstructs document
order — the standard Spark pattern for line-structured corpora.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

CONLLU_FIELDS = ["id", "form", "lemma", "upos", "xpos", "feats",
                 "head", "deprel", "deps", "misc"]


def _lines_with_sentence_ids(spark: SparkSession, path: str) -> DataFrame:
    raw = (
        spark.read.text(path)
        .select(
            F.input_file_name().alias("file"),
            F.monotonically_increasing_id().alias("lid"),
            F.col("value"),
        )
    )
    w = Window.partitionBy("file").orderBy("lid")
    blank = (F.trim(F.col("value")) == "").cast("int")
    return raw.withColumn("sent_id", F.sum(blank).over(w).cast("int"))


def read_conllu(spark: SparkSession, path: str) -> DataFrame:
    """-> (file, sent_id, id, form, lemma, upos, xpos, feats, head,
    deprel, deps, misc); comments, blanks and gapped ids dropped;
    head cast to int (0 = root)."""
    lines = _lines_with_sentence_ids(spark, path)
    tok = (
        lines.filter((F.trim("value") != "") & ~F.col("value").startswith("#"))
        .withColumn("f", F.split("value", "\t"))
        .filter(F.size("f") == 10)
        .filter(~F.col("f")[0].rlike(r"[.\-]"))  # gapped / MWT ids
    )
    cols = [F.col("f")[i].alias(name) for i, name in enumerate(CONLLU_FIELDS)]
    out = tok.select("file", "sent_id", "lid", *cols)
    return (
        out.withColumn("id", F.col("id").cast("int"))
        .withColumn("head", F.nullif("head", F.lit("_")).cast("int"))
        .orderBy("file", "lid")
        .drop("lid")
    )


def read_token_tag(spark: SparkSession, path: str) -> DataFrame:
    """Two-column `token\\ttag` corpora (POS / NER shapes) ->
    (file, sent_id, token_id, token, tag)."""
    lines = _lines_with_sentence_ids(spark, path)
    tok = (
        lines.filter(F.trim("value") != "")
        .withColumn("f", F.split("value", "\t"))
        .filter(F.size("f") >= 2)
    )
    w = Window.partitionBy("file", "sent_id").orderBy("lid")
    return tok.select(
        "file", "sent_id",
        F.row_number().over(w).cast("int").alias("token_id"),
        F.col("f")[0].alias("token"),
        F.col("f")[1].alias("tag"),
    )


def annotations_to_tsv6(ann: DataFrame) -> DataFrame:
    """The reference's 6-column output (index, word, posTag, nerLabel,
    headIndex, depLabel — annotate_model.py:323-337), one sentence
    block per row."""
    line = F.concat_ws(
        "\t",
        F.col("token_id").cast("string"), F.col("word"), F.col("upos"),
        F.col("ner"), F.col("head").cast("string"), F.col("deprel"),
    )
    return (
        ann.withColumn("line", line)
        .groupBy("doc_id", "sent_id")
        .agg(F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("token_id", "line"))),
                lambda s: s["line"],
            ), "\n").alias("block"))
        .orderBy("doc_id", "sent_id")
    )
