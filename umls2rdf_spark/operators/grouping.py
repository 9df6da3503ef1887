"""Group-and-collect operators.

The reference materializes per-key Python lists (atoms_by_code /
defs_by_aui / atts_by_code ... umls2rdf.py:545-557) and walks them on
the driver. Spark shape: ``groupBy(key).agg(collect_*)`` — partial
aggregation map-side, one shuffle on the key, arrays stay distributed.

Callers: the Turtle export (``rdf.ontology.term_blocks``) takes a
class's labels and CUIs as :func:`sorted_set` aggregates in the same
per-code aggregation as its preferred label and derives the alt labels
from them with :func:`alt_labels`; its other per-class parts are rows
of one ``collect_list`` aggregation of its own. The ``queries()``
demos in ``plans.reference_demos`` use :func:`string_agg_sorted`.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def sorted_set(value: str | Column) -> Column:
    """Aggregate: the group's distinct non-NULL values as a sorted
    array (deterministic — the reference relies on ``sorted(set(...))``
    the same way, e.g. altLabels at umls2rdf.py:410-412)."""
    value = F.col(value) if isinstance(value, str) else value
    return F.array_sort(F.collect_set(value))


def string_agg_sorted(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str | Column,
    sep: str = ",",
    out_col: str = "agg",
) -> DataFrame:
    """:func:`sorted_set` per group joined into one string (altLabel
    ' , ' lists, definition lists: umls2rdf.py:410-419)."""
    return df.groupBy(*group_cols).agg(
        F.concat_ws(sep, sorted_set(value_col)).alias(out_col)
    )


def alt_labels(labels: Column, pref_label: Column) -> Column:
    """altLabels = a group's sorted label set without its preferred
    label (umls2rdf.py:291-293); NULL when ``pref_label`` is NULL."""
    return F.array_remove(labels, pref_label)
