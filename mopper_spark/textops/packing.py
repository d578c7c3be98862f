"""Sequence packing: concat-and-chunk layout for LM training batches.

The standard pretraining data layout ("concat then chunk", as in GPT-2/3
style pipelines): documents are concatenated in a canonical order and the
token stream is sliced into fixed-length training sequences.  The hard part
distributed is the GLOBAL token offset of every document — a prefix sum
over a corpus-ordered sequence, which Spark has no native operator for.

The offset is ``scan.exclusive_scan`` over doc_id, bucketed by FIXED
id ranges (``doc_id div bucket_size``): unlike ``repartitionByRange``,
whose sampled boundaries differ run to run, the bucket is a pure
function of the id, and the bucket list has one row per occupied id
range, |corpus|/bucket_size for dense ids (for 10¹²-doc corpora,
raise ``bucket_size`` so it stays millions of rows).

Everything is integer arithmetic — bit-stable under any partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mopper_spark.scan import exclusive_scan


def pack_sequences(
    docs: DataFrame,
    seq_len: int = 2048,
    text_col: str = "text",
    id_col: str = "doc_id",
    bucket_size: int = 4096,
) -> DataFrame:
    """Per-document packing layout: ``(doc_id, n_tokens, start_tok,
    seq_first, seq_last)`` where ``start_tok`` is the document's offset in
    the doc_id-ordered concatenated token stream and ``seq_first..seq_last``
    are the training-sequence indices (length ``seq_len``) it lands in.
    Zero-token documents get NULL sequence bounds.

    Tokens = whitespace tokens (swap the expression for a real tokenizer
    count column; the layout logic is tokenizer-agnostic).
    """
    toks = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+"), lambda x: x != ""
    )
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(toks).cast("long").alias("n_tokens"),
    )
    placed = exclusive_scan(
        base,
        F.expr(f"doc_id div {int(bucket_size)}"),
        ["doc_id"],
        sums={"start_tok": "n_tokens"},
    )
    return placed.select(
        "doc_id",
        "n_tokens",
        "start_tok",
        # integer `div`, not floor(double /): stays exact past 2^53
        F.when(
            F.col("n_tokens") > 0, F.expr(f"start_tok div {seq_len}")
        ).alias("seq_first"),
        F.when(
            F.col("n_tokens") > 0,
            F.expr(f"(start_tok + n_tokens - 1) div {seq_len}"),
        ).alias("seq_last"),
    )
