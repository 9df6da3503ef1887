"""Ranked selection operators.

The reference picks one preferred atom per code either by the MRRANK
table (max rank wins, umls2rdf.py:320-326) or by a hand-written
tie-break cascade ISPREF→STT→TTY (umls2rdf.py:295-319). Both are the
same Spark shape: a window ``row_number() = 1`` over a per-group
ordering — one shuffle on the group key, no driver-side sorting of
whole groups like the reference's ``sorted(self.atoms, ...)``.

At scale: row_number over a window is a single shuffle; for heavily
skewed group keys AQE's skew handling applies because the window
exchange is hash-partitioned on the full partition key list.

Callers: the Turtle export (``rdf.ontology.pref_labels``) takes its
preferred label from :func:`ranked_top1` in code mode and from
:func:`top1_per_group` over :func:`cascade_order` in cuis mode.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def top1_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    order_by: Sequence[Column],
) -> DataFrame:
    """Keep exactly one row per group, the first under ``order_by``.

    ``order_by`` must be a total order (include a unique key last) or
    the result is nondeterministic — same caveat the reference hits
    with Python's stable sort on equal ranks.
    """
    w = Window.partitionBy(*group_cols).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def top1_per_group_agg(
    df: DataFrame,
    group_cols: Sequence[str],
    ordering: Column,
    use_max: bool = False,
) -> DataFrame:
    """:func:`top1_per_group` as an argmin/argmax AGGREGATION
    (guide §2.3 — aggregate before the exchange): ``min_by`` (or
    ``max_by``) of the whole row over a caller-built lexicographic
    ``ordering`` struct. The window form ships every row of every
    group through the group exchange and sorts it (WindowGroupLimit
    trims, but survivors still sort); this form collapses each group
    to at most one row per partition in the MAP-SIDE partial
    aggregation, so the exchange carries O(|groups| x partitions)
    rows — the asof_join_agg shape, applied to the reference's
    prefLabel selections.

    Ordering semantics: struct comparison is field-wise ascending
    with NULL fields first — identical to ``ORDER BY ... ASC`` — so
    an all-ascending order is the struct as-is under ``min_by``. A
    descending-major order passes ``use_max=True`` with ascending
    minor fields inverted by the caller (exact negation — numeric
    non-null minors only; NULL-first ascending minors are not
    representable under negation, use the window form there).

    Row-identical to :func:`top1_per_group` for total orders — the
    same caveat both forms share: a non-total order picks an
    arbitrary group member either way.
    """
    pick = F.max_by if use_max else F.min_by
    payload = F.struct(*[F.col(c) for c in df.columns])
    g = df.groupBy(*[F.col(c) for c in group_cols]).agg(
        pick(payload, ordering).alias("__r")
    )
    return g.select(
        *[F.col(f"__r.{c}").alias(c) for c in df.columns]
    )


def ranked_top1(
    df: DataFrame,
    rank_dim: DataFrame,
    group_cols: Sequence[str],
    join_on: str,
    rank_col: str,
    tiebreak: Sequence[Column] = (),
    tiebreak_agg: Sequence[Column] | None = None,
) -> DataFrame:
    """MRRANK-style preferred selection: broadcast-join a small rank
    dimension, take the max-rank row per group.

    Mirrors getPrefLabel's rank path (umls2rdf.py:322-326): rank
    lookup by TTY then ``sorted(..., reverse=True)[0]`` — here the
    dim join is a broadcast (MRRANK is ~100s of rows; never shuffle
    the fact side for it) and selection is a window top-1.
    """
    joined = df.join(F.broadcast(rank_dim), on=join_on, how="left")
    if tiebreak_agg is not None:
        # argmax form (top1_per_group_agg): max-rank-wins with a NULL
        # rank losing every tie is exactly max_by over a struct whose
        # first field is the rank (struct comparison puts NULL fields
        # first, i.e. smallest — desc_nulls_last under MAX). The
        # caller passes tiebreak columns pre-inverted so that LARGER
        # wins (e.g. price stays, an ascending key is negated).
        ordering = F.struct(
            F.col(rank_col).alias("__rk"),
            *[c.alias(f"__t{i}") for i, c in enumerate(tiebreak_agg)],
        )
        return top1_per_group_agg(
            joined, group_cols, ordering, use_max=True
        )
    order = [F.col(rank_col).desc_nulls_last(), *tiebreak]
    return top1_per_group(joined, group_cols, order)


def cascade_order(*levels: Column) -> list[Column]:
    """Build a window ordering from a preference cascade: each level
    is a boolean Column, earlier levels dominate.

    Re-expresses the reference's sequential filter-retry cascade
    (umls2rdf.py:304-319: ISPREF='Y', then STT='PF', then TTY
    startswith 'P') as one multi-key sort — a single pass instead of
    up to four list traversals per group.
    """
    return [F.when(level, 0).otherwise(1).asc() for level in levels]
