"""CONTINUOUS crawl curation: the full curate_crawl chain
(plans/crawl_pipeline.py) running as ONE foreachBatch intake — WARC
files land in a directory, each drop becomes a micro-batch epoch, and
the epoch flows through

    WARC parse → HTTP-200 → html_to_text → PII scrub → quality gates
    → canonical-URL dedup (vs standing index) → full-PSL domain cap
    (vs standing admissions) → incremental near-dup (vs standing
    corpus) → packing

with the three STATEFUL stages running the IDENTICAL per-epoch
admission logic as their standalone intake loops — literally the same
functions (streaming/webcurate.py url_dedup_epoch / domain_cap_epoch,
streaming/events.py minhash_epoch), composed over shared standing
state under one ``state_dir``:

    {state_dir}/urlidx   — admitted (url_norm, id), first-seen-wins
    {state_dir}/capidx   — admitted (domain, id), arrival-order cap
    {state_dir}/corpus   — admitted documents (near-dup base)
    {state_dir}/index    — their band-signature index
    {state_dir}/benchidx — staged benchmark shingles (decontam gate,
                           optional — streaming/decontam.py)
    {state_dir}/verdicts — per-epoch decontamination verdicts
    {state_dir}/packed   — per-epoch packed sequences
    {state_dir}/funnel   — per-epoch per-stage surviving-row counts

Semantics inherited from the constituent loops, now composed:

- **single-epoch == batch**: one epoch over a WARC with cold state
  produces exactly batch ``curate_crawl``'s admitted set, funnel
  counts, and packed output (pinned in tests);
- **multi-epoch**: URL first-seen-wins, domain cap holds across
  epochs (never exceeded, never revoked), near-dup admits only
  documents novel vs every earlier epoch — each exactly the
  standalone intake's pinned contract;
- **replay no-op**: every stateful stage reads standing state
  EXCLUDING its own epoch partition and overwrites that partition,
  so an at-least-once redelivery recomputes the same admissions; the
  packed/funnel writes are partition-overwrites too.

100 TB: per-epoch cost is the batch pipeline's cost on the epoch's
shard — stateless stages are Column-only scans; the stateful reads
are bounded (used-counts ≤ |domains| rows, URL index anti-join is a
shuffle on the epoch only, near-dup joins the banded index, never
all-pairs). Standing state grows only with ADMITTED documents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from umls2rdf_spark.functions.hashing import stable_hash40
from umls2rdf_spark.plans.crawl_pipeline import cached_relation
from umls2rdf_spark.streaming.events import minhash_epoch
from umls2rdf_spark.streaming.webcurate import (
    domain_cap_epoch,
    url_dedup_epoch,
)

#: funnel stage names, in pipeline order — identical to batch
#: curate_crawl's counts keys so the pins compare dicts directly
STAGES = (
    "ingest",
    "extract",
    "pii_scrub",
    "quality_gate",
    "url_dedup",
    "domain_cap",
    "near_dup",
)


def crawl_epoch(
    batch_df: DataFrame,
    batch_id: int,
    state_dir: str,
    psl_rules: tuple[str, ...],
    cap: int = 2,
    seq_len: int = 64,
    num_perm: int = 8,
    shingle_n: int = 3,
    min_jaccard: float | None = None,
    decontaminate: bool = False,
    decontam_min_jaccard: float = 0.5,
    decontam_min_containment: float = 0.8,
) -> dict[str, int]:
    """Run ONE crawl epoch. ``batch_df`` is the raw lineSep-framed
    WARC text frame (column ``value`` — what read_warc_stream's
    source emits per micro-batch, pre-parse). Returns the epoch's
    funnel counts and writes packed sequences + funnel rows under
    the epoch's partitions.

    ``decontaminate=True`` appends the C60 lexical-decontamination
    stage via streaming/decontam.py's per-epoch function (LITERALLY
    the composition discipline: the standalone intake's epoch logic,
    same standing state) — requires ``stage_benchmark`` to have
    staged ``{state_dir}/benchidx`` first; verdicts land under
    ``{state_dir}/verdicts`` per epoch."""
    from umls2rdf_spark.operators.corpus import pack_sequences
    from umls2rdf_spark.operators.htmlextract import html_to_text
    from umls2rdf_spark.operators.pii import pii_count_columns
    from umls2rdf_spark.operators.textstats import (
        char_profile,
        gopher_quality,
        token_count,
    )
    from umls2rdf_spark.operators.webcurate import registered_domain_psl
    from umls2rdf_spark.sources.warc import (
        parse_warc_chunks,
        warc_responses,
    )

    spark = batch_df.sparkSession
    counts: dict[str, int] = {}
    cached: list[DataFrame] = []

    def boundary(df: DataFrame, name: str) -> DataFrame:
        out = df.persist()
        counts[name] = out.count()
        cached.append(out)
        return cached_relation(out)

    # stateless front — the batch pipeline's stages 1-4, verbatim
    resp = warc_responses(parse_warc_chunks(batch_df))
    ingested = boundary(
        resp.where(F.col("http_status") == 200).select(
            stable_hash40(F.col("target_uri")).alias("doc_id"),
            F.col("target_uri").alias("url"),
            "html",
        ),
        "ingest",
    )
    extracted = boundary(
        html_to_text(ingested, "html").select("doc_id", "url", "text"),
        "extract",
    )
    _pii_counts, scrubbed_text = pii_count_columns("text")
    scrubbed = boundary(
        extracted.select("doc_id", "url", scrubbed_text.alias("text")),
        "pii_scrub",
    )
    g_pass = (
        gopher_quality(scrubbed, "doc_id", "text")
        .where("passes")
        .select("doc_id")
    )
    c_pass = (
        char_profile(scrubbed, "doc_id", "text")
        .where("mostly_ascii")
        .select("doc_id")
    )
    gated = boundary(
        scrubbed.join(g_pass, "doc_id", "left_semi").join(
            c_pass, "doc_id", "left_semi"
        ),
        "quality_gate",
    )

    # stateful stages — the standalone intakes' per-epoch functions,
    # composed over shared standing state
    kept_urls = url_dedup_epoch(
        gated, batch_id, state_dir, "doc_id", "url"
    ).select("doc_id")
    urled = boundary(
        gated.join(kept_urls, "doc_id", "left_semi"), "url_dedup"
    )

    host = F.regexp_extract(F.col("url"), r"^[a-z]+://([^/:?#]+)", 1)
    dom = registered_domain_psl(
        urled.withColumn("host", host), "host", psl_rules
    )
    capped_ids = domain_cap_epoch(
        dom, batch_id, state_dir, "doc_id", "reg_domain", cap
    ).select("doc_id")
    capped = boundary(
        urled.join(capped_ids, "doc_id", "left_semi"), "domain_cap"
    )

    admitted = boundary(
        minhash_epoch(
            capped, batch_id, state_dir, "doc_id", "text",
            num_perm=num_perm, shingle_n=shingle_n,
            min_jaccard=min_jaccard,  # batch curate_crawl's default
        ),
        "near_dup",
    )

    stages = list(STAGES)
    if decontaminate:
        from umls2rdf_spark.streaming.decontam import decontam_epoch

        clean = decontam_epoch(
            admitted, batch_id, state_dir, "doc_id", "text",
            shingle_n=shingle_n,
            min_jaccard=decontam_min_jaccard,
            min_bench_containment=decontam_min_containment,
        ).where("keep").select("doc_id")
        admitted = boundary(
            admitted.join(clean, "doc_id", "left_semi"), "decontam"
        )
        stages.append("decontam")

    # per-epoch packing + funnel persistence (partition overwrites —
    # replay-idempotent like the state writes)
    toks = token_count(admitted, "doc_id", "text").select(
        "doc_id", F.col("ws_tokens").alias("ntok")
    )
    pack_sequences(
        admitted.join(toks, "doc_id"), "doc_id", "ntok", seq_len
    ).write.mode("overwrite").parquet(
        f"{state_dir}/packed/batch_id={batch_id}"
    )
    spark.createDataFrame(
        [(i, s, counts[s]) for i, s in enumerate(stages)],
        "stage_idx int, stage string, n_rows bigint",
    ).write.mode("overwrite").parquet(
        f"{state_dir}/funnel/batch_id={batch_id}"
    )
    for f in cached:
        f.unpersist()
    return counts


def run_crawl_intake(
    spark: SparkSession,
    warc_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    psl_rules: tuple[str, ...],
    cap: int = 2,
    seq_len: int = 64,
    num_perm: int = 8,
    shingle_n: int = 3,
    min_jaccard: float | None = None,
    decontaminate: bool = False,
    decontam_min_jaccard: float = 0.5,
    decontam_min_containment: float = 0.8,
) -> None:
    """Drive the continuous crawl intake to completion over the WARC
    files currently in ``warc_dir`` (availableNow — each invocation
    consumes what has landed since the last, tracked by the stream
    checkpoint; files already processed are never re-read)."""
    raw = (
        spark.readStream.option("lineSep", "WARC/1.").text(warc_dir)
    )

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        crawl_epoch(
            batch_df, batch_id, state_dir, psl_rules,
            cap=cap, seq_len=seq_len,
            num_perm=num_perm, shingle_n=shingle_n,
            min_jaccard=min_jaccard,
            decontaminate=decontaminate,
            decontam_min_jaccard=decontam_min_jaccard,
            decontam_min_containment=decontam_min_containment,
        )

    q = (
        raw.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def read_epoch_table(
    spark: SparkSession, state_dir: str, table: str
) -> DataFrame | None:
    """A standing crawl-state table (``packed``, ``funnel``,
    ``corpus``, ``urlidx``, ``capidx``, ``index``) with its
    ``batch_id`` partition column — None before the first epoch,
    fail-closed on read errors."""
    from umls2rdf_spark.streaming.events import read_standing_state

    return read_standing_state(spark, f"{state_dir}/{table}")
