"""Continuous content-defined chunk-store intake: the streaming face
of operators/cdc.py (C66) — a crawl's shards arrive over many
epochs, and chunk-level dedup must hold across their UNION (a mirror
fetched this week dedups against the original fetched last month),
exactly the content-addressed-store ingestion problem.

Same architecture as the other intake loops (streaming/webcurate.py
domain cap / URL dedup, streaming/events.py near-dup): standing
state is a batch_id-partitioned parquet index of FIRST-SEEN chunk
fingerprints — 16 bytes per distinct chunk, never chunk text — and
each micro-batch

- chunks its documents with the batch operator's expression
  (operators/cdc.py fingerprinted_occurrences — identical
  boundaries, identical fingerprints),
- reads the standing index EXCLUDING its own epoch partition (an
  at-least-once replay recomputes the same result against the same
  prior state instead of seeing its own half-written output),
- marks an occurrence duplicate iff its fingerprint is in the prior
  store OR an earlier occurrence exists within the batch (the batch
  keep-first rule applied to prior ∪ batch),
- appends the batch's NEW first-seen fingerprints to its epoch
  partition and its per-document (n_chunks, n_dup, dup_chars) stats
  to a stats partition.

Semantics, stated: FIRST-ARRIVAL-wins across epochs. When arrival
order equals corpus order (epochs are contiguous id ranges — the
usual crawl-shard case), the unioned per-epoch stats equal batch
``cdc_dedup_stats`` over the whole corpus EXACTLY (pinned by test —
keep-first is prefix-stable, so the intake is not an approximation).
When arrival order differs, winners differ exactly where a later
epoch carries the lower corpus-order key; the intake contract is
"first seen never revoked", not "retroactive re-election".

100 TB: per-batch cost is the batch's own chunking (zero-shuffle
expressions) + one groupBy on fingerprints + one join against the
standing index (fingerprint-bucketable, D11); standing state grows
with DISTINCT chunks only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from umls2rdf_spark.operators.cdc import (
    DEFAULT_DIVISOR,
    DEFAULT_WINDOW,
    fingerprinted_occurrences,
)
from umls2rdf_spark.streaming.events import read_standing_state


def cdc_epoch(
    batch_df: DataFrame,
    batch_id: int,
    state_dir: str,
    id_col: str,
    text_col: str,
    window: int = DEFAULT_WINDOW,
    divisor: int = DEFAULT_DIVISOR,
) -> DataFrame:
    """ONE epoch's chunk-store ingestion: dedup the batch's chunks
    against the standing store (own partition excluded —
    replay-idempotent), overwrite the epoch's index + stats
    partitions, return the per-document stats frame."""
    spark = batch_df.sparkSession
    # both partition writes below read the fingerprints: chunk once
    fp = fingerprinted_occurrences(
        batch_df, id_col, text_col, window, divisor
    ).persist()
    prior = read_standing_state(spark, f"{state_dir}/chunkidx")
    if prior is not None:
        prior = (
            prior.where(F.col("batch_id") != batch_id)
            .select("__h1", "__h2")
        )
    win = fp.groupBy("__h1", "__h2").agg(F.min("__ok").alias("__win"))
    marked = fp.join(win, ["__h1", "__h2"])
    if prior is not None:
        marked = marked.join(
            prior.withColumn("__seen", F.lit(True)),
            ["__h1", "__h2"],
            "left",
        ).withColumn("__seen", F.coalesce("__seen", F.lit(False)))
    else:
        marked = marked.withColumn("__seen", F.lit(False))
    dup = F.col("__seen") | (F.col("__ok") != F.col("__win"))
    stats = (
        marked.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
            F.sum(dup.cast("bigint")).cast("bigint").alias("n_dup"),
            F.sum(
                F.when(dup, F.length("chunk")).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("dup_chars"),
        )
    )
    full = (
        batch_df.select(id_col)
        .join(stats, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_chunks", F.lit(0))
            .cast("bigint")
            .alias("n_chunks"),
            F.coalesce("n_dup", F.lit(0)).cast("bigint").alias("n_dup"),
            F.coalesce("dup_chars", F.lit(0))
            .cast("bigint")
            .alias("dup_chars"),
        )
    )
    fresh = (
        win.join(
            prior, ["__h1", "__h2"], "left_anti"
        ).select("__h1", "__h2")
        if prior is not None
        else win.select("__h1", "__h2")
    )
    try:
        fresh.write.mode("overwrite").parquet(
            f"{state_dir}/chunkidx/batch_id={batch_id}"
        )
        full.write.mode("overwrite").parquet(
            f"{state_dir}/stats/batch_id={batch_id}"
        )
    finally:
        fp.unpersist()
    return spark.read.parquet(f"{state_dir}/stats/batch_id={batch_id}")


def read_stats(spark: SparkSession, state_dir: str) -> DataFrame:
    """All epochs' per-document stats (the union the multi-epoch ==
    batch pin compares)."""
    return spark.read.parquet(f"{state_dir}/stats")


def run_cdc_intake(
    docs_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    id_col: str,
    text_col: str,
    window: int = DEFAULT_WINDOW,
    divisor: int = DEFAULT_DIVISOR,
) -> None:
    """Drive the stream to completion (availableNow), maintaining the
    chunk-fingerprint store and per-epoch stats."""

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        cdc_epoch(
            batch_df, batch_id, state_dir, id_col, text_col,
            window, divisor,
        )

    q = (
        docs_stream.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
