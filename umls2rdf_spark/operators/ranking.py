"""Ranked selection operators.

The reference picks one preferred atom per code either by the MRRANK
table (max rank wins, umls2rdf.py:320-326) or by a hand-written
tie-break cascade ISPREF→STT→TTY (umls2rdf.py:295-319). Both are one
Spark shape: ``min_by`` of the wanted value over a struct of
ascending order keys, aggregated per group — no driver-side sorting of
whole groups like the reference's ``sorted(self.atoms, ...)``, and no
window: the map-side partial aggregation keeps at most one candidate
per group and partition, so the group exchange carries
O(|groups| x partitions) rows instead of every row.

Order keys are ascending with NULL first, field by field (struct
comparison, i.e. ``ORDER BY ... ASC``); a caller wanting a descending
key negates it (numeric keys only).

Callers: the Turtle export (``rdf.ontology.term_blocks``) takes its
preferred label with :func:`top1_value` over :func:`rank_order`
(code mode) or :func:`cascade_order` (cuis mode), in the same
aggregation as the alt labels and CUIs.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def top1_value(value: Column, order_by: Sequence[Column]) -> Column:
    """Aggregate: ``value`` of the group's first row under
    ``order_by`` (ascending, NULL first per key).

    ``order_by`` must be a total order (include a unique key last) or
    the result is nondeterministic — same caveat the reference hits
    with Python's stable sort on equal ranks.
    """
    return F.min_by(
        value, F.struct(*[c.alias(f"__o{i}") for i, c in enumerate(order_by)])
    )


def top1_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    order_by: Sequence[Column],
) -> DataFrame:
    """Keep exactly one row per group, the first under ``order_by``
    (see :func:`top1_value`)."""
    payload = F.struct(*[F.col(c) for c in df.columns])
    picked = df.groupBy(*group_cols).agg(
        top1_value(payload, order_by).alias("__r")
    )
    return picked.select(*[F.col(f"__r.{c}").alias(c) for c in df.columns])


def rank_order(rank: Column, tiebreak: Sequence[Column] = ()) -> list[Column]:
    """Max-rank-wins order with a NULL rank losing to any rank:
    ``(rank IS NULL, -rank, *tiebreak)``."""
    return [rank.isNull(), -rank, *tiebreak]


def ranked_top1(
    df: DataFrame,
    rank_dim: DataFrame,
    group_cols: Sequence[str],
    join_on: str,
    rank_col: str,
    tiebreak: Sequence[Column] = (),
) -> DataFrame:
    """MRRANK-style preferred selection: broadcast-join a small rank
    dimension, take the max-rank row per group.

    Mirrors getPrefLabel's rank path (umls2rdf.py:322-326): rank
    lookup by TTY then ``sorted(..., reverse=True)[0]`` — here the
    dim join is a broadcast (MRRANK is ~100s of rows; never shuffle
    the fact side for it) and selection is :func:`top1_per_group`
    over :func:`rank_order`.
    """
    joined = df.join(F.broadcast(rank_dim), on=join_on, how="left")
    return top1_per_group(
        joined, group_cols, rank_order(F.col(rank_col), tiebreak)
    )


def cascade_order(*levels: Column) -> list[Column]:
    """Order keys for a preference cascade: each level is a boolean
    Column, earlier levels dominate; a row meeting a level gets 0,
    any other row (NULL included) 1.

    Re-expresses the reference's sequential filter-retry cascade
    (umls2rdf.py:304-319: ISPREF='Y', then STT='PF', then TTY
    startswith 'P') as one multi-key order — a single pass instead of
    up to four list traversals per group.
    """
    return [F.when(level, 0).otherwise(1) for level in levels]
