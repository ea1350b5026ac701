"""Streaming web-text ingest — the CONTINUOUS form of
pipelines/webtext: Common Crawl drops land as file batches, and the
stateless prefix of the ingest (HTML→text extraction, language ID,
quality + repetition signals, token counts) is pure map work, so it
runs unchanged as a Structured Streaming query over a pages file
stream. The near-dup clustering stage is NOT streamable (iterative
connected components over a growing pair graph); it stays a periodic
batch pass over the continuously-appended signals table — the same
lambda split the streaming spatial join documents
(streaming/noise_stream.py).

The quality / n_tokens / rep_pass expressions are the batch
pipeline's own (pipelines/webtext.signal_columns); the stream keeps
its per-row Column-fold ``lang_pred`` and its extra ``dup_bi``.
Stream ≡ batch is pytest-asserted: the streamed signals must equal
run_webtext_ingest's signal columns row-for-row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hope_graph_builder_spark.operators import text as textops
from hope_graph_builder_spark.operators.extract import extract_text
from hope_graph_builder_spark.pipelines.webtext import signal_columns


def read_pages_stream(
    spark: SparkSession, path: str, glob: str = "*.parquet"
) -> DataFrame:
    """A pages-shaped parquet directory as a file stream (one file per
    trigger — the per-dump ingest unit)."""
    schema = spark.read.option("pathGlobFilter", glob).parquet(path).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", glob)
        .parquet(path)
    )


def streaming_webtext_signals(
    pages: DataFrame,
    id_col: str = "doc_id",
    profiles: dict[str, list[str]] | None = None,
) -> DataFrame:
    """The stateless ingest prefix over a (batch OR streaming) pages
    DataFrame: extraction + every per-document signal. No aggregation,
    no state — appends forever at any rate.

    ``profiles``: trained trigram profiles as {lang: [trigrams]}
    (textops.collect_profiles over a batch train_lang_profiles run) —
    the train-batch/serve-stream split: classification becomes a
    per-row Column fold over the literal profile lists, value-equal to
    the batch pipeline's broadcast-join classifier (pytest-pinned).
    Without profiles, the marker-word heuristic is used."""
    ex = extract_text(pages)
    t = F.col("extracted_text")
    if profiles:
        # hoist the trigram array (with_char_trigrams) — the inline
        # Column form is the measured O(len²) trap
        ex = textops.with_char_trigrams(ex, text="extracted_text", out="_tri")
        lang = textops.lang_pred_ngram_expr(F.col("_tri"), profiles)
    else:
        lang = textops.lang_id(t)
    toks = F.col("_toks")
    quality, n_tokens, rep_pass = signal_columns(t, toks)
    return ex.withColumn("_toks", textops._lower_tokens(t)).select(
        id_col,
        "url",
        lang.alias("lang_pred"),
        quality,
        n_tokens,
        textops.dup_ngram_ratio_from(toks, 2).alias("dup_bi"),
        rep_pass,
    )
