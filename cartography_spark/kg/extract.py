"""Mention detection over exploded document spans.

Pure ``pyspark.sql.functions`` (split/explode/classify), fully inside
whole-stage codegen: at 10^12 docs the JVM path avoids Python transfer
entirely.

Output columns: doc_id, span_idx, offset, mention (the token),
mention_kind ('arn' | 'email').
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Identifier grammar (shared with the DuckDB oracle):
# a mention is a whitespace-delimited token that either starts with "arn:"
# or contains "@" (emails in this corpus are space-delimited, no trailing
# punctuation by construction of the synthesizer).
_ARN_PREFIX = "arn:"


def _classify(tok_col):
    return (
        F.when(tok_col.startswith(_ARN_PREFIX), F.lit("arn"))
        .when(tok_col.contains("@"), F.lit("email"))
        .otherwise(F.lit(None))
    )


def detect_mentions(spans: DataFrame) -> DataFrame:
    """JVM-side tokenizer: split -> explode -> classify."""
    text_spans = spans.where(F.col("kind") == "text").where(F.col("text").isNotNull())
    toks = text_spans.select(
        "doc_id",
        "span_idx",
        "offset",
        F.explode(F.split(F.col("text"), " ")).alias("mention"),
    )
    return (
        toks.withColumn("mention_kind", _classify(F.col("mention")))
        .where(F.col("mention_kind").isNotNull())
        .select("doc_id", "span_idx", "offset", "mention", "mention_kind")
    )
