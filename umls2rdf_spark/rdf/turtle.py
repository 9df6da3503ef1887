"""Turtle fragment rendering as Catalyst column expressions.

Mirrors the reference's string templates exactly (umls2rdf.py:
_append_object_triple:337, _append_literal_triple:346,
_append_subclass_triple:355, toRDF:391-490) so rendered blocks are
byte-comparable with the reference's output, but each fragment is a
JVM-side expression evaluated per row — the whole document render is
one distributed projection, no driver loop.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from umls2rdf_spark.functions.text import rdf_escape, url_term

PREFIXES = """
@prefix skos: <http://www.w3.org/2004/02/skos/core#> .
@prefix owl:  <http://www.w3.org/2002/07/owl#> .
@prefix rdfs:  <http://www.w3.org/2000/01/rdf-schema#> .
@prefix dcterms: <http://purl.org/dc/terms/> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
@prefix umls: <http://bioportal.bioontology.org/ontologies/umls/> .
"""

HAS_STY = "umls:hasSTY"
HAS_CUI = "umls:cui"
HAS_TUI = "umls:tui"


def tq(value: Column) -> Column:
    """Triple-quoted escaped literal: ``\"\"\"<escaped>\"\"\"``."""
    return F.concat(F.lit('"""'), rdf_escape(value), F.lit('"""'))


def object_triple(predicate_uri: Column, object_uri: Column) -> Column:
    """``\\t<p> <o> ;\\n`` (umls2rdf.py:344)."""
    return F.concat(
        F.lit("\t<"), predicate_uri, F.lit("> <"), object_uri, F.lit("> ;\n")
    )


def literal_triple(predicate_uri: Column, value: Column) -> Column:
    """``\\t<p> \"\"\"v\"\"\"^^xsd:string ;\\n`` (umls2rdf.py:353)."""
    return F.concat(
        F.lit("\t<"), predicate_uri, F.lit("> "), tq(value),
        F.lit("^^xsd:string ;\n"),
    )


def subclass_triple(object_ref: Column) -> Column:
    """``\\trdfs:subClassOf X ;\\n`` — object wrapped in <> iff it
    contains '://' (umls2rdf.py:362)."""
    rendered = F.when(
        object_ref.contains("://"),
        F.concat(F.lit("<"), object_ref, F.lit(">")),
    ).otherwise(object_ref)
    return F.concat(F.lit("\trdfs:subClassOf "), rendered, F.lit(" ;\n"))


def class_header(url: Column, pref_label: Column, code: Column, lang: str) -> Column:
    """Block opener: ``<url> a owl:Class ;`` + prefLabel + notation
    (umls2rdf.py:403-406)."""
    return F.concat(
        F.lit("<"), url, F.lit("> a owl:Class ;\n\tskos:prefLabel "),
        tq(pref_label), F.lit(f"@{lang} ;\n\tskos:notation "),
        tq(code), F.lit("^^xsd:string ;\n"),
    )


def lang_literal_list(values: Column, lang: str) -> Column:
    """``\"\"\"a\"\"\"@en , \"\"\"b\"\"\"@en`` from a sorted string array
    (altLabel/definition lists, umls2rdf.py:410-419)."""
    return F.concat_ws(
        " , ",
        F.transform(
            values, lambda v: F.concat(tq(v), F.lit(f"@{lang}"))
        ),
    )


def simple_literal(value: Column | str) -> Column:
    """Plain quoted turtle string with escape (turtle_string at
    umls2rdf.py:106 for values without newlines)."""
    v = F.lit(value) if isinstance(value, str) else value
    return F.concat(F.lit('"'), rdf_escape(v), F.lit('"'))


__all__ = [
    "PREFIXES", "HAS_STY", "HAS_CUI", "HAS_TUI",
    "tq", "object_triple", "literal_triple", "subclass_triple",
    "class_header", "lang_literal_list", "simple_literal", "url_term",
]
