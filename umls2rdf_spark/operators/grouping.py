"""Group-and-collect operators.

The reference materializes per-key Python lists (atoms_by_code /
defs_by_aui / atts_by_code ... umls2rdf.py:545-557) and walks them on
the driver. Spark shape: ``groupBy(key).agg(collect_*)`` — partial
aggregation map-side, one shuffle on the key, arrays stay distributed.

Callers: the Turtle export (``rdf.ontology.term_blocks``) builds its
alt labels with :func:`alt_labels` and its definition, CUI, TUI and
mesh-tree parent arrays with :func:`collect_sorted_set`.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def collect_sorted_set(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str | Column,
    out_col: str = "values",
) -> DataFrame:
    """Distinct values per group as a sorted array (deterministic —
    the reference relies on ``sorted(set(...))`` the same way, e.g.
    altLabels at umls2rdf.py:410-412)."""
    value = F.col(value_col) if isinstance(value_col, str) else value_col
    return df.groupBy(*group_cols).agg(
        F.array_sort(F.collect_set(value)).alias(out_col)
    )


def string_agg_sorted(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str | Column,
    sep: str = ",",
    out_col: str = "agg",
    distinct: bool = True,
) -> DataFrame:
    """Sorted (optionally distinct) string aggregation per group —
    the join-ready form of collect_sorted_set (altLabel ' , ' lists,
    definition lists: umls2rdf.py:410-419)."""
    value = F.col(value_col) if isinstance(value_col, str) else value_col
    arr = F.collect_set(value) if distinct else F.collect_list(value)
    return df.groupBy(*group_cols).agg(
        F.concat_ws(sep, F.array_sort(arr)).alias(out_col)
    )


def alt_labels(
    atoms: DataFrame,
    pref: DataFrame,
    group_cols: Sequence[str],
    label_col: str,
    pref_label_col: str,
    out_col: str = "alt_labels",
) -> DataFrame:
    """altLabels = all labels per group except the preferred one
    (umls2rdf.py:291-293): join the pref row back and filter before
    collecting — the filter runs pre-shuffle."""
    joined = atoms.join(pref.select(*group_cols, pref_label_col), on=list(group_cols))
    filtered = joined.where(F.col(label_col) != F.col(pref_label_col))
    return collect_sorted_set(filtered, group_cols, label_col, out_col)
