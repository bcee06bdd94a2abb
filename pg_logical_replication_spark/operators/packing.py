"""Sequence packing — fill fixed-token context windows from a corpus.

The training-data step after curation: concatenate documents into bins of
at most ``budget`` tokens (one bin ≙ one training sequence). Exact greedy
packing is inherently sequential, so the operator makes the sequence
LOCAL: documents are bucketed (``doc_id // bucket_size``), each bucket is
packed greedily in doc_id order, and bin ids are globally unique as
``bucket * BIN_STRIDE + local_bin``. Buckets are independent → the pack
runs as one ``applyInPandas`` over a hash-partitioned groupBy, scaling
flat to any corpus size (packing quality loss vs a global greedy pass is
bounded by one under-filled bin per bucket).

No reference counterpart (it is a CDC client); this is a BASELINE.json
north-star (B) operator. The greedy rule — start a new bin when the
running total would exceed ``budget``; an oversized doc gets its own
bin — is deterministic, so a DuckDB recursive CTE replays it exactly
(the ``q_corpus_pack_sequences`` oracle).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pg_logical_replication_spark.operators.dedup import tokens_expr


def pack_sequences(
    df: DataFrame,
    budget: int = 512,
    bucket_size: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Assign every document to a packed bin of ≤ ``budget`` tokens.

    Output: (doc_id, n_tokens, bucket, bin_id, bin_seq) — ``bin_seq`` is
    the doc's position within its bin. Token counts use the engine's
    whitespace tokenization (``dedup.tokens_expr``) so the count itself
    is a JVM-side expression; only the tiny (doc_id, n_tokens) pairs
    enter Python, never the text.
    """
    # the greedy rule is the streaming operators' fold; imported here,
    # not at module top, because importing the streaming package imports
    # the sources package, which imports this module
    from pg_logical_replication_spark.streaming.folds import (
        PACK_COLUMNS,
        PACK_SCHEMA,
        pack_fold,
    )

    counted = df.select(
        F.col(id_col).alias("doc_id"),
        F.size(tokens_expr(text_col)).alias("n_tokens"),
        F.expr(f"{id_col} div {bucket_size}").alias("bucket"),
    )

    def _pack(key, pdf):
        rows = pdf.sort_values("doc_id").to_dict("records")
        out, _ = pack_fold(key, rows, None, budget)
        return pd.DataFrame(out, columns=PACK_COLUMNS)

    # groupBy().applyInPandas guarantees one pandas frame per bucket; the
    # greedy loop is O(bucket_size) pure-Python over two int columns.
    return counted.groupBy("bucket").applyInPandas(
        _pack,
        schema=PACK_SCHEMA,
    )
