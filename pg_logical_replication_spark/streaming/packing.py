"""Streaming sequence packing — fill training windows from a LIVE
document stream.

The batch operator (``operators/packing.py``) packs each doc_id bucket
greedily in doc_id order. A stream cannot re-sort across micro-batches,
so the streaming operator packs in ARRIVAL order (sorted by doc_id
WITHIN each micro-batch) and carries each bucket's open bin across
batches: state = (next local bin, tokens already in it, last seq) —
O(1) per bucket, evicted never (buckets are bounded by the id space,
and an idle bucket holds three longs). When arrival order equals doc_id
order the stream packs bit-identically to the batch operator.

The greedy rule is one fold, ``folds.pack_fold``, shared by the batch
operator and by both state backends: ``_pack`` is the input projection,
and the adapter argument picks ``applyInPandasWithState``
(``pack_sequences_stream``) or ``transformWithStateInPandas``
(``tws.pack_sequences_tws``).
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pg_logical_replication_spark.operators.dedup import tokens_expr
from pg_logical_replication_spark.streaming.folds import (
    PACK_COLUMNS,
    PACK_SCHEMA,
    doc_order,
    pack_fold,
)
from pg_logical_replication_spark.streaming.stateful import aip_value


def _pack(stream, budget, bucket_size, text_col, id_col, adapter) -> DataFrame:
    counted = stream.select(
        F.col(id_col).alias("doc_id"),
        F.size(tokens_expr(text_col)).cast("int").alias("n_tokens"),
        F.expr(f"{id_col} div {bucket_size}").alias("bucket"),
    )
    return adapter(
        counted, ["bucket"], partial(pack_fold, budget=budget), PACK_COLUMNS,
        PACK_SCHEMA, "nbin long, acc long, seq long", order=doc_order,
    )


def pack_sequences_stream(
    stream: DataFrame,
    budget: int = 512,
    bucket_size: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Streaming form of ``pack_sequences``: same greedy rule, same
    output schema; a bucket's open bin CONTINUES across micro-batches
    (a half-filled training window is not wasted at batch boundaries).
    """
    return _pack(stream, budget, bucket_size, text_col, id_col, aip_value)
