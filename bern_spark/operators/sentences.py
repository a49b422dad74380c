"""Sentence/token index operator (SURVEY §2.5 W1-W3).

The reference builds a per-document sentence + token + offset index
(json_to_sent ops.py:8-34, input_form ops.py:37-63) feeding its NER
framing. The graft's extractor is n-gram based and doesn't need
sentences, but the index is part of the engine's queryable surface: it
drives chunking for any downstream model stage and the W4 30-word
windowing. One Arrow-batched UDF per turn; everything downstream is
relational.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bern_spark.functions.pytext import sentence_spans

_SENT_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("start", T.IntegerType()),
            T.StructField("end", T.IntegerType()),
        ]
    )
)


@F.pandas_udf(_SENT_TYPE)
def sentence_spans_udf(texts: Iterator[pd.Series]) -> Iterator[pd.Series]:
    for batch in texts:
        yield batch.map(lambda t: sentence_spans(t) if t else [])


def sentence_index(turns: DataFrame) -> DataFrame:
    """Exploded sentence index: (conv_id, turn_idx, sent_idx, start, end,
    sentence). Spans tile the text exactly (ops.py:94 lossless property,
    tested)."""
    s = turns.select(
        "conv_id",
        "turn_idx",
        "text",
        F.posexplode(sentence_spans_udf(F.col("text"))).alias("sent_idx", "s"),
    )
    return s.select(
        "conv_id",
        "turn_idx",
        "sent_idx",
        F.col("s.start").alias("start"),
        F.col("s.end").alias("end"),
        F.expr("substring(text, s.start + 1, s.end - s.start)").alias("sentence"),
    )


def word_windows(
    turns: DataFrame,
    window_tokens: int = 30,
    keys: tuple[str, ...] = ("conv_id", "turn_idx"),
    text_col: str = "text",
) -> DataFrame:
    """W4: fixed-size token windows per turn (the reference's 30-word NER
    example chunking, run_ner.py:157-190) — token offsets from the W2/W3
    tokenizer, windowing done relationally.

    ``keys`` are passed through unchanged (the export job windows
    SENTENCES and keeps ``(conv_id, turn_idx, sent_idx)``); ``text_col``
    names the column to window. Offsets are relative to ``text_col``."""
    from bern_spark.operators.extract import tokens_udf

    keys = list(keys)
    t = turns.withColumn("_toks", tokens_udf(F.col(text_col)))
    if text_col != "text":
        t = t.withColumn("text", F.col(text_col))
    n_win = F.ceil(F.size("_toks") / window_tokens).cast("int")
    wins = F.transform(
        F.sequence(F.lit(0), F.greatest(n_win - 1, F.lit(0))),
        lambda w: F.struct(
            w.alias("win_idx"),
            F.element_at(F.col("_toks"), w * window_tokens + 1)["start"].alias("start"),
            F.element_at(
                F.col("_toks"),
                F.least((w + 1) * window_tokens, F.size("_toks")),
            )["end"].alias("end"),
            # previous window's last-token end (null for the first
            # window) — row-local (the token array is at hand), so BIO
            # carry-in downstream needs no lag() shuffle to know where
            # the previous window's tokens stopped
            F.when(
                w > 0, F.element_at(F.col("_toks"), w * window_tokens)["end"]
            ).alias("prev_end"),
        ),
    )
    out = t.where(F.size("_toks") > 0).select(
        *keys, "text", F.explode(wins).alias("w")
    )
    return out.select(
        *keys,
        F.col("w.win_idx").alias("win_idx"),
        F.col("w.start").alias("start"),
        F.col("w.end").alias("end"),
        F.col("w.prev_end").alias("prev_end"),
        F.expr("substring(text, w.start + 1, w.end - w.start)").alias("chunk"),
    )
