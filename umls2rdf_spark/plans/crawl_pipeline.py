"""End-to-end crawl-curation composition: WARC bytes in, packed
training sequences out, with a funnel observation at every stage —
the PRODUCT the individual operators exist for, composed exactly the
way a production run would chain them:

    WARC → responses → html_to_text → PII scrub → gopher/char
    quality gates → canonical-URL dedup → full-PSL domain cap →
    incremental MinHash near-dup (vs the standing corpus AND within
    the new shard) → token counts → sequence packing

Composition contracts this module pins (tests/test_crawl_pipeline.py):

- **One scan per stage boundary.** Every boundary materializes
  (persist + the observation action), so stage N+1's physical plan
  reads the materialized boundary — the raw WARC text is scanned by
  the ingest stage ONLY, and no later stage's plan contains a file
  scan of it. ``checkpoint_dir=`` selects the boundary medium:
  executor-memory persist (default) or parquet checkpoint tables
  (the 100 TB mode); the no-re-read shape is the same plan fact in
  both, and the audit test runs both.
- **Funnel counts are free.** Each stage's surviving-row count comes
  from the Observation API (operators/metrics.py, D9) riding the
  boundary action — zero extra jobs — and must equal the direct
  count of the same frame.
- **Stage semantics compose.** The per-operator tests verify each
  stage alone; the integration test verifies the hand-offs (column
  contracts, id stability, filter composition) by pinning which
  fixture documents survive each stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from umls2rdf_spark.functions.hashing import stable_hash40


def cached_relation(df: DataFrame) -> DataFrame:
    """A frame over ``df``'s cache entry alone: its logical plan is the
    cached relation (InMemoryRelation), not ``df``'s lineage. ``df``
    must be persisted and materialized.

    Persisting swaps the cached data in only at physical planning;
    every transformation still analyzes the full lineage. Later stages
    join each boundary with frames derived from it, so the lineage a
    stage analyzes doubles at each such self-join. Building downstream
    stages on this frame keeps their analysis at the size of one stage.
    The executed plan is the same InMemoryTableScan either way.
    Unpersist through ``df``: this frame's plan does not match the
    cache entry's key.
    """
    spark = df.sparkSession
    jss = spark._jsparkSession
    cached = jss.sharedState().cacheManager().lookupCachedData(df._jdf)
    if cached.isEmpty():
        raise ValueError("cached_relation needs a persisted frame")
    jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        jss, cached.get().cachedRepresentation()
    )
    return DataFrame(jdf, spark)


def curate_crawl(
    spark: SparkSession,
    warc_path: str,
    base_docs: DataFrame,
    psl_rules: tuple[str, ...],
    cap: int = 2,
    seq_len: int = 64,
    num_perm: int = 8,
    shingle_n: int = 3,
    checkpoint_dir: str | None = None,
    benchmark: DataFrame | None = None,
    decontam_min_jaccard: float = 0.5,
    decontam_min_containment: float = 0.8,
    normalize: bool = False,
    paragraph_dedup: bool = False,
    paragraph_sep: str = "\n",
    near_dup_min_jaccard: float | None = None,
) -> tuple[DataFrame, dict[str, dict[str, int]], dict[str, DataFrame]]:
    """Run the full curation chain over ``warc_path``.

    ``base_docs`` is the standing corpus (doc_id, text) the new crawl
    near-dedups against (pass an empty frame for a cold start).

    ``benchmark`` (optional; columns ``bench_id``, ``text``) adds the
    fuzzy lexical decontamination gate (C60) as stage ``decontam``
    between near-dup and packing — admitted docs whose Jaccard or
    bench-containment vs any benchmark item clears the thresholds
    are dropped before any sequence is packed.

    ``normalize=True`` adds the C65 auditable text normalization
    (mojibake/ctrl/zero-width/whitespace) as stage ``normalize``
    right after extraction, so the PII patterns and quality gates
    see clean bytes. ``paragraph_dedup=True`` adds the C64
    cross-document keep-first paragraph dedup as stage ``para_dedup``
    after near-dup admission (the RefinedWeb placement), dropping
    docs whose every paragraph was a duplicate; ``paragraph_sep``
    picks the split token — html_to_text collapses newlines, so
    sentence-ish separators like ``". "`` are the natural choice
    post-extraction. Both default OFF so existing funnel pins stay
    byte-stable; the integration test runs them on.

    ``near_dup_min_jaccard`` enables the exact-Jaccard verify stage
    of the near-dup intake: without it, an LSH band collision alone
    drops the doc (conservative — docs sharing one long boilerplate
    sentence can collide at real jaccard well under 0.5); with it,
    banded candidates are verified at exact shingle Jaccard ≥ the
    threshold before dropping. Combine with ``paragraph_dedup`` to
    strip the shared boilerplate WITHOUT losing the documents.

    ``checkpoint_dir`` picks the stage-boundary materialization:
    None (default) persists each boundary in executor memory — right
    for interactive/sf-scale runs; a path writes each boundary as a
    parquet table ``<dir>/<stage>`` and reads it back — the 100 TB
    mode, where boundaries outlive executors, survive preemption,
    and cost no cluster memory. BOTH modes keep the one-scan-per-
    boundary plan fact (no later stage re-reads the WARC) and the
    same funnel-count contract; the plan-audit test runs in both.

    Returns (packed, counts, frames): the packed-sequence frame, the
    per-stage ``{"observed": n, "direct": n}`` funnel counts, and the
    materialized per-stage frames (for audits; unpersist when done —
    a no-op in checkpoint mode).
    """
    from umls2rdf_spark.operators.dedup import incremental_minhash_dedupe
    from umls2rdf_spark.operators.corpus import pack_sequences
    from umls2rdf_spark.operators.htmlextract import html_to_text
    from umls2rdf_spark.operators.metrics import observe_stage
    from umls2rdf_spark.operators.pii import pii_count_columns
    from umls2rdf_spark.operators.textstats import (
        char_profile,
        gopher_quality,
        token_count,
    )
    from umls2rdf_spark.operators.webcurate import (
        cap_per_domain,
        dedup_by_url,
        registered_domain_psl,
    )
    from umls2rdf_spark.sources.warc import read_warc, warc_responses

    counts: dict[str, dict[str, int]] = {}
    frames: dict[str, DataFrame] = {}

    def boundary(df: DataFrame, name: str) -> DataFrame:
        obs_df, obs = observe_stage(df, name)
        if checkpoint_dir is None:
            persisted = obs_df.persist()
            # the one action: fills the observation
            direct = persisted.count()
            # frames[] keeps the persisted frame (the unpersist
            # handle); later stages build on the cached relation
            frames[name] = persisted
            out = cached_relation(persisted)
        else:
            path = f"{checkpoint_dir}/{name}"
            # the write is the action that fills the observation;
            # the re-read severs lineage (downstream plans scan the
            # checkpoint table, never the upstream stages)
            obs_df.write.mode("overwrite").parquet(path)
            out = spark.read.parquet(path)
            # metadata-only count on the freshly written table
            direct = out.count()
            frames[name] = out
        counts[name] = {
            "observed": int(obs.get["n_rows"]),
            "direct": int(direct),
        }
        return out

    # 1 — ingest: parse WARC framing, keep HTTP-200 responses,
    # assign the deterministic doc id (URI hash: re-crawls of the
    # same URI collide on purpose — url_dedup's key is downstream)
    resp = warc_responses(read_warc(spark, warc_path))
    ingested = boundary(
        resp.where(F.col("http_status") == 200).select(
            stable_hash40(F.col("target_uri")).alias("doc_id"),
            F.col("target_uri").alias("url"),
            "html",
        ),
        "ingest",
    )

    # 2 — visible-text extraction (zero-UDF codegen regex chain)
    extracted = boundary(
        html_to_text(ingested, "html").select("doc_id", "url", "text"),
        "extract",
    )

    # 2b — optional C65 normalization: PII patterns and quality
    # gates downstream see clean bytes (zero-shuffle select over the
    # extract boundary)
    if normalize:
        from umls2rdf_spark.operators.normalize import normalize_columns

        _n_counts, norm_text = normalize_columns("text")
        extracted = boundary(
            extracted.select(
                "doc_id", "url", norm_text.alias("text")
            ),
            "normalize",
        )

    # 3 — PII scrub, fused into the select (the expr-level builder,
    # same machinery quality_report fuses)
    _pii_counts, scrubbed_text = pii_count_columns("text")
    scrubbed = boundary(
        extracted.select(
            "doc_id", "url", scrubbed_text.alias("text")
        ),
        "pii_scrub",
    )

    # 4 — quality gates: Gopher composite AND mostly-ASCII charset,
    # both computed from the materialized boundary (no file re-read)
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

    # 5 — canonical-URL dedup (smallest id per normalized URL)
    kept_urls = dedup_by_url(gated, "doc_id", "url").select("doc_id")
    urled = boundary(
        gated.join(kept_urls, "doc_id", "left_semi"), "url_dedup"
    )

    # 6 — domain cap on the FULL-PSL registered domain
    host = F.regexp_extract(F.col("url"), r"^[a-z]+://([^/:?#]+)", 1)
    dom = registered_domain_psl(
        urled.withColumn("host", host), "host", psl_rules
    )
    capped_ids = cap_per_domain(
        dom, "doc_id", "reg_domain", cap=cap
    ).select("doc_id")
    capped = boundary(
        urled.join(capped_ids, "doc_id", "left_semi"), "domain_cap"
    )

    # 7 — incremental near-dup intake: vs the standing corpus AND
    # lower-id shard siblings (banded candidates, never all-pairs)
    admitted = boundary(
        incremental_minhash_dedupe(
            capped,
            base_docs,
            "doc_id",
            "text",
            num_perm=num_perm,
            shingle_n=shingle_n,
            min_jaccard=near_dup_min_jaccard,
        ),
        "near_dup",
    )

    # 7b — benchmark decontamination (optional): the C60 fuzzy
    # lexical gate over the admitted set, computed from the
    # materialized near_dup boundary (no file re-read; bench
    # broadcasts)
    if benchmark is not None:
        from umls2rdf_spark.operators.corpus import (
            decontaminate_lexical,
        )

        clean = (
            decontaminate_lexical(
                admitted, benchmark, "doc_id", "text",
                "bench_id", "text",
                shingle_n=shingle_n,
                min_jaccard=decontam_min_jaccard,
                min_bench_containment=decontam_min_containment,
            )
            .where("keep")
            .select("doc_id")
        )
        admitted = boundary(
            admitted.join(clean, "doc_id", "left_semi"), "decontam"
        )

    # 7c — optional C64 paragraph dedup (RefinedWeb placement:
    # after doc-level near-dup): strip cross-document repeated
    # paragraphs from the admitted text, drop empty shells
    if paragraph_dedup:
        from umls2rdf_spark.operators.paragraphs import (
            dedup_paragraphs,
        )

        deduped = dedup_paragraphs(
            admitted, "doc_id", "text", sep=paragraph_sep
        ).where(F.col("n_kept") > 0)
        admitted = boundary(
            admitted.drop("text").join(
                deduped.select(
                    "doc_id", F.col("text_clean").alias("text")
                ),
                "doc_id",
            ),
            "para_dedup",
        )

    # 8 — token counts + GPT-style packing
    toks = token_count(admitted, "doc_id", "text").select(
        "doc_id", F.col("ws_tokens").alias("ntok")
    )
    packed = pack_sequences(
        admitted.join(toks, "doc_id"), "doc_id", "ntok", seq_len
    )
    return packed, counts, frames
