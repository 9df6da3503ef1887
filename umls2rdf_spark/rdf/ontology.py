"""End-to-end UMLS ontology → Turtle export as one DataFrame plan.

This is the Spark rebuild of the reference's whole pipeline
(UmlsOntology at umls2rdf.py:536, UmlsClass.toRDF at umls2rdf.py:391):
the reference loads every table into driver RAM and loops over codes;
here each per-class component (labels, definitions, resolved
relations, attributes, semantic types, root flags) is an aggregation
keyed by the class code, joined on it, and the Turtle block is
rendered by a single projection.

Each UMLS rule is the ``operators/`` function whose ``queries()`` demo
is checked against DuckDB: the preferred label is the ``ranking``
top-1 (``top1_value`` over ``rank_order`` or ``cascade_order``), alt
labels and sorted sets are ``grouping``, the mesh tree, the STN parent
and the root flag are ``hierarchy``. The preferred label, the alt
labels and the CUIs come from one aggregation per code.
:func:`ontology_frames` builds an ontology's shared frames (atom scan,
AUI bridge, resolved rels, MRSAT rows, the object-property rule) once;
the class blocks and the property list both derive from them.

Plan shape, measured on a 4-core local session over a seeded
4000-concept SNOMEDCT_US release: the class-block plan holds 15 hash
Exchanges, 10 broadcast Exchanges, no Window and 14 CSV scans (8 of
MRCONSO, 1 of MRRANK) before AQE re-plans it.

Rendering mirrors the reference byte-for-byte where the reference is
deterministic; where it depends on MySQL row order (tie-breaks among
equally-ranked atoms), we use an explicit total order (documented on
each function).
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from umls2rdf_spark.functions.text import UMLS_LANGCODE_MAP, url_term
from umls2rdf_spark.operators.grouping import (
    alt_labels,
    collect_sorted_set,
    sorted_set,
)
from umls2rdf_spark.operators.hierarchy import (
    detect_roots,
    prefix_parent,
    tree_edges,
)
from umls2rdf_spark.operators.ranking import (
    cascade_order,
    rank_order,
    top1_value,
)
from umls2rdf_spark.rdf.turtle import (
    HAS_CUI,
    HAS_STY,
    HAS_TUI,
    PREFIXES,
    class_header,
    lang_literal_list,
    literal_triple,
    object_triple,
    subclass_triple,
    tq,
)

# Bogus hierarchy parents skipped by the reference (umls2rdf.py:438-446).
BOGUS_PARENTS = ("ICD-10-CM", "138875005", "V-HL7V3.0", "C1553931")

_OWL_THING_SUB = "\trdfs:subClassOf owl:Thing ;\n"

# Semantic-type IRIs: get_umls_url("STY") = UMLS_BASE_URI + "STY/"
# (umls2rdf.py:488, conf UMLS_BASE_URI), not the bioportal prefix.
STY_NS = "http://purl.bioontology.org/ontology/STY/"

# write_properties always declares hasSTY before the MRDOC-derived
# properties (umls2rdf.py:801-811); template is toRDFWithDesc
# (umls2rdf.py:501-508) byte-for-byte, including its "    \t" indent.
HASSTY_PROPERTY_BLOCK = (
    "umls:hasSTY a owl:ObjectProperty ;\n"
    '    \trdfs:label """Semantic type UMLS property""";\n'
    '    \trdfs:comment """Semantic type UMLS property""" .\n'
    "    \n"
)


def filter_atoms(
    mrconso: DataFrame, ont_code: str, lat: str, load_on_cuis: bool
) -> DataFrame:
    """MRCONSO scan for one ontology: SAB/LAT/SUPPRESS filters pushed
    to the source (load_tables at umls2rdf.py:598-605), plus the class
    key column (CODE or CUI, get_code at umls2rdf.py:142)."""
    # case-insensitive LAT match: the reference lowercases MRSAB.LAT
    # and relies on MySQL's case-insensitive collation
    # (umls2rdf.py:594-599); Spark compares case-sensitively.
    atoms = mrconso.where(
        (F.col("SAB") == ont_code)
        & (F.lower(F.col("LAT")) == lat.lower())
        & (F.col("SUPPRESS") == "N")
    )
    code = F.col("CUI") if load_on_cuis else F.col("CODE")
    return atoms.withColumn("code", code).where(
        F.col("code").isNotNull() & (F.col("code") != "")
    )


def root_cuis(mrconso: DataFrame, ont_code: str) -> DataFrame:
    """CUIs of the SRC 'V-<ont>' atoms (umls2rdf.py:612-617); may
    repeat — :func:`detect_roots` takes the distinct keys."""
    return mrconso.where(
        (F.col("SAB") == "SRC") & (F.col("CODE") == f"V-{ont_code}")
    ).select(F.col("CUI").alias("root_cui"))


@dataclass(frozen=True)
class OntologyFrames:
    """One ontology's frames, shared by :func:`term_blocks` and
    :func:`used_properties`."""

    tables: dict[str, DataFrame]
    ont_code: str
    lat: str
    load_on_cuis: bool
    # MSH (parent, child) code tree; None for every other ontology
    tree: DataFrame | None
    atoms: DataFrame
    # rels with only the SOURCE endpoint resolved: (code, REL, RELA,
    # CUI1, AUI1)
    src_rels: DataFrame
    # rels with both endpoints resolved: (code, REL, RELA, CUI1,
    # target_code)
    rels: DataFrame
    # MRSAT attribute rows (code, ATN, ATV); None without MRSAT
    atts: DataFrame | None
    # which rels render as object-property triples
    emit_obj: Column


def _join_bridge(
    rels: DataFrame, bridge: DataFrame, aui_col: str, code_col: str
) -> DataFrame:
    """Resolve ``rels[aui_col]`` to a class code through the AUI→code
    bridge (inner: unresolved endpoints drop out)."""
    side = bridge.select(
        F.col("AUI").alias("__aui"), F.col("code").alias(code_col)
    )
    return rels.join(side, rels[aui_col] == side["__aui"]).drop("__aui")


def ontology_frames(
    tables: dict[str, DataFrame],
    ont_code: str,
    lat: str = "eng",
    load_on_cuis: bool = False,
    tree: DataFrame | None = None,
) -> OntologyFrames:
    """Build the frames an ontology's export reads.

    Rels: code mode maps AUI2→source code, then AUI1→target code
    through the atom bridge and drops self-maps (terms() at
    umls2rdf.py:698-727); cuis mode reads CUI2/CUI1 as the codes
    (umls2rdf.py:692-697). ``src_rels`` is the stage at which the
    reference checks root-ness: terms() runs the cui_roots test
    before the target-code checks, so rels pointing at out-of-ontology
    atoms, e.g. the SRC hierarchy root, still count.
    """
    atoms = filter_atoms(tables["MRCONSO"], ont_code, lat, load_on_cuis)
    mrrel = tables["MRREL"].where(
        (F.col("SAB") == ont_code) & (F.col("SUPPRESS") == "N")
    )
    if load_on_cuis:
        src_rels = mrrel.select(
            F.col("CUI2").alias("code"), "REL", "RELA", "CUI1", "AUI1"
        )
        rels = src_rels.withColumn("target_code", F.col("CUI1"))
    else:
        bridge = atoms.select("AUI", "code").dropDuplicates(["AUI"])
        src_rels = _join_bridge(mrrel, bridge, "AUI2", "code")
        rels = _join_bridge(src_rels, bridge, "AUI1", "target_code").where(
            F.col("code") != F.col("target_code")
        )
    src_rels = src_rels.select("code", "REL", "RELA", "CUI1", "AUI1")
    rels = rels.select("code", "REL", "RELA", "CUI1", "target_code")

    mrsat = tables.get("MRSAT")
    atts = None
    if mrsat is not None:
        attkey = "CUI" if load_on_cuis else "CODE"
        # the reference filters CODE IS NOT NULL even when keying by
        # CUI (mrsat_filt at umls2rdf.py:643); the key column is
        # additionally non-null/non-empty so rows land on a class.
        atts = mrsat.where(
            (F.col("SAB") == ont_code)
            & F.col("CODE").isNotNull()
            & F.col(attkey).isNotNull()
            & (F.col(attkey) != "")
            & (F.col("ATN") != "AQ")
        ).select(F.col(attkey).alias("code"), "ATN", "ATV")

    # PAR rels are skipped; CHD rels are rdfs:subClassOf unless the MSH
    # tree supplies the hierarchy (toRDF at umls2rdf.py:427-452)
    emit_obj = F.col("REL") != "PAR"
    if tree is None:
        emit_obj = emit_obj & (F.col("REL") != "CHD")
    return OntologyFrames(
        tables, ont_code, lat, load_on_cuis, tree, atoms, src_rels, rels,
        atts, emit_obj,
    )


def _fragment() -> Column:
    """RELA if non-empty else REL (get_rel_fragment, umls2rdf.py:131)."""
    return F.when(
        F.col("RELA").isNotNull() & (F.col("RELA") != ""), F.col("RELA")
    ).otherwise(F.col("REL"))


def term_blocks(
    frames: OntologyFrames, ns: str, dedupe: bool = True
) -> DataFrame:
    """(code, ttl) — one rendered Turtle class block per code,
    byte-compatible with UmlsClass.toRDF (umls2rdf.py:391-490).

    With ``frames.tree`` (MSH), tree parents are emitted instead of
    CHD rels, and CHD rels render as object properties.
    """
    tables, atoms = frames.tables, frames.atoms
    ont_code, load_on_cuis = frames.ont_code, frames.load_on_cuis
    lang = UMLS_LANGCODE_MAP[frames.lat.lower()]
    mrconso = tables["MRCONSO"]

    # ── labels and CUIs: one aggregation per code ───────────────────
    # Preferred label. Cuis mode (umls2rdf.py:295-319): ISPREF='Y' →
    # STT='PF' → TTY starts with 'P' cascade. Code mode
    # (umls2rdf.py:320-332): max MRRANK rank wins, fallback 'P' in
    # TTY. AUI breaks the ties the reference leaves to MySQL row order.
    ranked = atoms
    if load_on_cuis:
        order = [
            *cascade_order(
                F.col("ISPREF") == "Y",
                F.col("STT") == "PF",
                F.col("TTY").startswith("P"),
            ),
            F.col("AUI"),
        ]
    else:
        mrrank = tables.get("MRRANK")
        if mrrank is None:
            ranked = atoms.withColumn("tty_rank", F.lit(None).cast("int"))
        else:
            rank_dim = (
                mrrank.where(F.col("SAB") == ont_code)
                .select(
                    F.col("TTY"), F.col("RANK").cast("int").alias("tty_rank")
                )
                # guard: a duplicated (SAB, TTY) rank row must not fan
                # out the atom side through the join (the reference
                # indexes rank_by_tty[tty][0], i.e. first row wins)
                .groupBy("TTY")
                .agg(F.max("tty_rank").alias("tty_rank"))
            )
            ranked = atoms.join(F.broadcast(rank_dim), on="TTY", how="left")
        order = rank_order(
            F.col("tty_rank"),
            [*cascade_order(F.col("TTY").contains("P")), F.col("AUI")],
        )
    per_code = ranked.groupBy("code").agg(
        top1_value(F.col("STR"), order).alias("pref_label"),
        sorted_set("STR").alias("labels"),
        sorted_set("CUI").alias("cuis"),
    ).select(
        "code", "pref_label",
        alt_labels(F.col("labels"), F.col("pref_label")).alias("alt_labels"),
        "cuis",
    )

    # ── definitions: join by AUI (code mode) / CUI (cuis mode) ─────
    mrdef = tables.get("MRDEF")
    defs = None
    if mrdef is not None:
        defkey = "CUI" if load_on_cuis else "AUI"
        defs = collect_sorted_set(
            mrdef.where(F.col("SAB") == ont_code).join(
                atoms.select(defkey, "code").dropDuplicates([defkey, "code"]),
                on=defkey,
            ),
            ["code"], "DEF", "defs",
        )

    # ── root detection (umls2rdf.py:692-713): CHD rel whose CUI1 is a
    # root CUI (code mode requires REL='CHD'; cuis mode any rel);
    # ICD10CM's patched root parent included ─────────────────────────
    flagged = detect_roots(
        frames.src_rels, root_cuis(mrconso, ont_code),
        on=("CUI1", "root_cui"), flag_col="__root",
    )
    root_cond = F.col("__root")
    if not load_on_cuis:
        root_cond = root_cond & (F.col("REL") == "CHD")
        if ont_code == "ICD10CM":
            root_cond = root_cond | (
                (F.col("CUI1") == "C3264380") & (F.col("REL") == "CHD")
            )
    is_root = flagged.where(root_cond).select("code").distinct().withColumn(
        "is_root", F.lit(True)
    )

    # ── relations: classified, ordered, rendered ────────────────────
    emit_sub = (
        (F.col("REL") == "CHD")
        & F.lit(frames.tree is None)
        & ~F.col("target_code").isin(*BOGUS_PARENTS)
    )
    rendered_rel = F.when(
        emit_sub, subclass_triple(url_term(ns, F.col("target_code")))
    ).when(
        frames.emit_obj,
        object_triple(
            url_term(ns, _fragment()), url_term(ns, F.col("target_code"))
        ),
    )
    rel_segments = (
        frames.rels.withColumn("__seg", rendered_rel)
        .where(F.col("__seg").isNotNull())
        .groupBy("code")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.when(F.col("REL") == "CHD", 0)
                            .otherwise(1)
                            .alias("k1"),
                            _fragment().alias("k2"),
                            F.col("target_code").alias("k3"),
                            F.col("code").alias("k4"),
                            F.col("__seg").alias("seg"),
                        )
                    )
                ),
                lambda s: s["seg"],
            ).alias("rel_segs")
        )
    )
    # ── tree parents (MSH mesh tree, umls2rdf.py:423-426) ──────────
    tree_segments = None
    if frames.tree is not None:
        tree_segments = collect_sorted_set(
            frames.tree.withColumnRenamed("child", "code"),
            ["code"], "parent", "parents",
        ).select(
            "code",
            F.transform(
                F.col("parents"), lambda p: subclass_triple(url_term(ns, p))
            ).alias("tree_segs"),
        )

    # ── attributes (umls2rdf.py:457-474) ────────────────────────────
    att_segments = None
    if frames.atts is not None:
        atts = frames.atts.join(
            atoms.select("code").distinct(), on="code", how="left_semi"
        )
        mn_root = (
            F.lit(frames.tree is not None)
            & (F.col("ATN") == "MN")
            & F.col("code").startswith("D")
            & (F.size(F.split(F.col("ATV"), "\\.")) == 1)
        )
        att_arr = F.when(
            mn_root,
            F.array(
                F.lit(_OWL_THING_SUB),
                literal_triple(url_term(ns, F.col("ATN")), F.col("ATV")),
            ),
        ).otherwise(
            F.array(literal_triple(url_term(ns, F.col("ATN")), F.col("ATV")))
        )
        att_segments = (
            atts.withColumn("__segs", att_arr)
            .groupBy("code")
            .agg(
                F.flatten(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct(
                                    F.col("ATN").alias("k1"),
                                    F.col("ATV").alias("k2"),
                                    F.col("__segs").alias("segs"),
                                )
                            )
                        ),
                        lambda s: s["segs"],
                    )
                ).alias("att_segs")
            )
        )

    # ── semantic types: TUIs per code (umls2rdf.py:477-488) ─────────
    mrsty = tables.get("MRSTY")
    tuis = None
    if mrsty is not None:
        tuis = collect_sorted_set(
            atoms.select("code", "CUI")
            .distinct()
            .join(mrsty.select("CUI", "TUI").distinct(), on="CUI"),
            ["code"], "TUI", "tuis",
        )

    # ── assemble one row per code ───────────────────────────────────
    arrays = {
        "defs": defs, "rel_segs": rel_segments, "tree_segs": tree_segments,
        "att_segs": att_segments, "tuis": tuis,
    }
    base = per_code
    for part in (*arrays.values(), is_root):
        if part is not None:
            base = base.join(part, on="code", how="left")
    empty_arr = F.array().cast("array<string>")
    base = base.select(
        "code",
        "pref_label",
        F.coalesce(F.col("alt_labels"), empty_arr).alias("alt_labels"),
        "cuis",
        *[
            (F.coalesce(F.col(c), empty_arr) if part is not None else empty_arr)
            .alias(c)
            for c, part in arrays.items()
        ],
        F.coalesce(F.col("is_root"), F.lit(False)).alias("is_root"),
    )

    url = url_term(ns, F.col("code"))
    header = class_header(url, F.col("pref_label"), F.col("code"), lang)

    def labels(pred: str, col: str) -> Column:
        return F.when(
            F.size(col) > 0,
            F.concat(
                F.lit(f"\t{pred} "), lang_literal_list(F.col(col), lang),
                F.lit(" ;\n"),
            ),
        ).otherwise(F.lit(""))

    def lines(col: str, render) -> Column:
        return F.concat_ws("", F.transform(F.col(col), render))

    root_arr = F.when(
        F.col("is_root"), F.array(F.lit(_OWL_THING_SUB))
    ).otherwise(empty_arr)
    all_segs = F.concat(
        root_arr, F.col("tree_segs"), F.col("rel_segs"), F.col("att_segs")
    )
    if dedupe:
        all_segs = F.array_distinct(all_segs)
    # the root segment renders between altLabels and defs; drop it
    # from the tail (dedupe keeps it at index 0 when present)
    tail = F.when(
        F.col("is_root"), F.slice(all_segs, 2, F.size(all_segs))
    ).otherwise(all_segs)
    root_part = F.when(F.col("is_root"), F.lit(_OWL_THING_SUB)).otherwise(
        F.lit("")
    )
    block = F.concat(
        header,
        labels("skos:altLabel", "alt_labels"),
        root_part,
        labels("skos:definition", "defs"),
        F.concat_ws("", tail),
        lines("cuis", lambda c: F.concat(
            F.lit(f"\t{HAS_CUI} "), tq(c), F.lit("^^xsd:string ;\n")
        )),
        lines("tuis", lambda t: F.concat(
            F.lit(f"\t{HAS_TUI} "), tq(t), F.lit("^^xsd:string ;\n")
        )),
        lines("tuis", lambda t: F.concat(
            F.lit(f"\t{HAS_STY} <{STY_NS}"), t, F.lit("> ;\n")
        )),
        F.lit(" .\n\n"),
    )
    return base.select("code", block.alias("ttl"))


def mesh_tree(mrrel: DataFrame, mrconso: DataFrame) -> DataFrame:
    """MSH parent/child code pairs (mesh_tree at umls2rdf.py:201-217):
    MRREL CHD rows joined through MRCONSO on both CUIs, D-codes only,
    distinct."""
    d_codes = mrconso.where(
        (F.col("SAB") == "MSH") & F.col("CODE").startswith("D")
    )
    return tree_edges(
        mrrel.where((F.col("SAB") == "MSH") & (F.col("REL") == "CHD")),
        d_codes.select(F.col("CUI").alias("__pcui"), F.col("CODE").alias("parent")),
        d_codes.select(F.col("CUI").alias("__ccui"), F.col("CODE").alias("child")),
        on_left=("CUI1", "__pcui"),
        on_right=("CUI2", "__ccui"),
        parent_out=F.col("parent"),
        child_out=F.col("child"),
    )


def semantic_types_lines(
    mrsty: DataFrame, with_roots: bool = False
) -> DataFrame:
    """STY hierarchy Turtle lines (generate_semantic_types,
    umls2rdf.py:153-189): one owl:Class block per TUI plus
    rdfs:subClassOf edges derived from the STN prefix tree.

    Returns (sort_key, line); order by sort_key for a deterministic
    document (the reference emits in DB scan order).
    """
    nodes = mrsty.select("TUI", "STN", "STY").distinct()
    term_line = F.concat(
        F.lit(f"<{STY_NS}"), F.col("TUI"),
        F.lit("> a owl:Class ;\n\tskos:notation \""), F.col("TUI"),
        F.lit("\"^^xsd:string ;\n\tskos:prefLabel \""), F.col("STY"),
        F.lit("\"@en .\n"),
    )
    terms = nodes.select(
        F.concat(F.lit("0:"), F.col("TUI")).alias("sort_key"),
        term_line.alias("line"),
    )
    child = nodes.select(
        F.col("TUI").alias("child_tui"),
        prefix_parent(F.col("STN")).alias("parent_stn"),
    )
    parent = nodes.select(
        F.col("TUI").alias("parent_tui"), F.col("STN").alias("p_stn")
    )
    pairs = child.join(parent, child["parent_stn"] == parent["p_stn"]).where(
        F.col("parent_tui") != F.col("child_tui")
    )
    edges = pairs.select(
        F.concat(
            F.lit("1:"), F.col("child_tui"), F.lit(":"), F.col("parent_tui")
        ).alias("sort_key"),
        F.concat(
            F.lit(f"<{STY_NS}"), F.col("child_tui"),
            F.lit(f"> rdfs:subClassOf <{STY_NS}"), F.col("parent_tui"),
            F.lit("> ."),
        ).alias("line"),
    )
    out = terms.unionByName(edges)
    if with_roots:
        has_parent = pairs.select(F.col("child_tui").alias("TUI")).distinct()
        root_lines = (
            nodes.join(has_parent, on="TUI", how="left_anti")
            .select(
                F.concat(F.lit("1:"), F.col("TUI"), F.lit(":~")).alias(
                    "sort_key"
                ),
                F.concat(
                    F.lit(f"<{STY_NS}"), F.col("TUI"),
                    F.lit("> rdfs:subClassOf owl:Thing ."),
                ).alias("line"),
            )
        )
        out = out.unionByName(root_lines)
    return out


def used_properties(frames: OntologyFrames) -> DataFrame:
    """Distinct property names an export will emit: object-property
    fragments from rels + datatype ATNs from atts (the ont_properties
    dict the reference accumulates per term, umls2rdf.py:453-474).
    Returns (att) one column."""
    frags = (
        frames.rels.where(frames.emit_obj)
        .select(_fragment().alias("att"))
        .distinct()
    )
    if frames.atts is None:
        return frags
    atns = frames.atts.select(F.col("ATN").alias("att")).distinct()
    return frags.unionByName(atns).distinct()


def property_blocks(
    mrdoc: DataFrame, props: DataFrame, ns: str
) -> DataFrame:
    """Rendered owl property declarations (UmlsAttribute.toRDF at
    umls2rdf.py:511-532 + MRDOC digestion at umls2rdf.py:853-864).

    ``props``: one 'att' column of property names used by the export.
    Properties lacking an expanded_form are dropped (the reference
    raises; at scale we surface them by anti-join instead of failing
    the export).
    """
    docs = mrdoc.groupBy("VALUE").agg(
        F.min("DOCKEY").alias("dockey"),
        F.max(
            F.when(F.col("TYPE") == "expanded_form", F.col("EXPL"))
        ).alias("expanded_form"),
        F.max(
            F.when(F.col("TYPE").contains("inverse"), F.col("EXPL"))
        ).alias("inverse"),
    )
    joined = props.join(
        F.broadcast(docs), props["att"] == docs["VALUE"], "inner"
    ).where(F.col("expanded_form").isNotNull())
    desc = F.when(
        F.col("inverse").isNotNull(),
        F.concat(F.lit("Inverse of "), F.col("inverse")),
    ).otherwise(F.col("expanded_form"))
    ptype = F.when(F.col("dockey").contains("REL"), F.lit("ObjectProperty")).when(
        F.col("dockey") == "ATN", F.lit("DatatypeProperty")
    )
    # label: att; if len(desc) < 20 use desc; if '_' in that label,
    # rebuild from att with spaces and capitalize (umls2rdf.py:522-527)
    label1 = F.when(F.length(desc) < 20, desc).otherwise(F.col("att"))
    spaced = F.concat_ws(" ", F.split(F.col("att"), "_"))
    label = F.when(
        label1.contains("_"),
        F.concat(
            F.upper(F.substring(spaced, 1, 1)), F.expr(
                "substring(concat_ws(' ', split(att, '_')), 2)"
            )
        ),
    ).otherwise(label1)
    uri = url_term(ns, F.col("att"))
    block = F.concat(
        F.lit("<"), uri, F.lit("> a owl:"), ptype, F.lit(" ;\n\trdfs:label "),
        tq(label), F.lit(";\n\trdfs:comment "), tq(desc), F.lit(" .\n\n"),
    )
    return joined.where(ptype.isNotNull()).select(
        F.col("att"), block.alias("ttl")
    )


def write_ontology(
    tables: dict[str, DataFrame],
    ont_code: str,
    ns: str,
    output_dir: str,
    mrsab_row: dict | None,
    lat: str = "eng",
    load_on_cuis: bool = False,
    umls_version: str = "2025AB",
    ordered: bool = True,
) -> None:
    """Full document export (write_into at umls2rdf.py:745-789):
    prefixes + ontology header + class blocks + property declarations
    + semantic types, written with ``df.write.text`` — per-partition
    streaming writes, no driver collect, so a 100 TB export writes at
    cluster width. Blocks are ordered by code (the reference emits in
    dict-insertion order, which is DB-scan order — not reproducible;
    RDF semantics are order-free).

    ``mrsab_row`` is the ontology's :func:`mrsab_record` (or None),
    rendered into the header.

    ``ordered=True`` (default) totally orders the document — stable
    byte-identical output, but a full range-partitioning Exchange
    purely for cosmetics. ``ordered=False`` is the scale mode: blocks
    are sorted only WITHIN partitions (no Sort Exchange at all), each
    part file is still internally tidy and the triple SET is
    identical; use it for 100 TB exports where a global sort of the
    document text would dominate the job."""
    spark = tables["MRCONSO"].sparkSession
    tree = (
        mesh_tree(tables["MRREL"], tables["MRCONSO"])
        if ont_code == "MSH"
        else None
    )
    frames = ontology_frames(tables, ont_code, lat, load_on_cuis, tree)
    head = PREFIXES + ontology_header(mrsab_row, ont_code, ns, umls_version)
    parts = [
        # hasSTY ObjectProperty declaration first in the property
        # section (write_properties, umls2rdf.py:801-811): "2" < "2:…"
        spark.createDataFrame(
            [("0", head), ("2", HASSTY_PROPERTY_BLOCK)],
            "sort string, ttl string",
        ),
        term_blocks(frames, ns).select(
            F.concat(F.lit("1:"), F.col("code")).alias("sort"), "ttl"
        ),
    ]
    if "MRDOC" in tables:
        parts.append(
            property_blocks(tables["MRDOC"], used_properties(frames), ns).select(
                F.concat(F.lit("2:"), F.col("att")).alias("sort"), "ttl"
            )
        )
    if "MRSTY" in tables:
        parts.append(
            semantic_types_lines(tables["MRSTY"], with_roots=False).select(
                F.concat(F.lit("3:"), F.col("sort_key")).alias("sort"),
                F.col("line").alias("ttl"),
            )
        )
    doc = reduce(DataFrame.unionByName, parts)
    assemble_document(doc, ordered).write.mode("overwrite").text(output_dir)


def assemble_document(doc: DataFrame, ordered: bool) -> DataFrame:
    """Final ordering stage of the export, factored out so plan
    audits can assert the scale mode introduces NO Sort Exchange
    (sortWithinPartitions = in-partition sort only; the ordered mode
    pays a rangepartitioning Exchange for byte-stable output)."""
    if ordered:
        doc = doc.orderBy("sort")
    else:
        doc = doc.sortWithinPartitions("sort")
    return doc.select("ttl")


def ontology_header(
    mrsab_row: dict | None,
    ont_code: str,
    ns: str,
    umls_version: str = "2025AB",
) -> str:
    """Ontology header block (ONTOLOGY_HEADER at umls2rdf.py:30,
    write_into at umls2rdf.py:750-762). MRSAB is a one-row lookup —
    driver-side string assembly, not a Spark job."""

    def esc(s: str) -> str:
        return s.replace("\\", "\\\\").replace('"', '\\"')

    def q(s: str) -> str:
        return f'"""{esc(s)}"""' if "\n" in s else f'"{esc(s)}"'

    row = mrsab_row or {}
    version = row.get("SVER") or umls_version
    label = row.get("SSN") or ont_code
    imeta = row.get("IMETA")
    source = f"UMLS {imeta}" if imeta else f"UMLS {umls_version}"
    alt = row.get("RSAB")
    comment = (
        f"RDF Version of the UMLS ontology {ont_code}; "
        "converted with the UMLS2RDF tool "
        "(https://github.com/ncbo/umls2rdf), "
        "developed by the NCBO project."
    )
    alt_line = f" ;\n    skos:altLabel {q(alt)}" if alt else ""
    return f"""
<{ns}>
    a owl:Ontology ;
    rdfs:comment {q(comment)} ;
    rdfs:label {q(label)} ;
    owl:imports <http://www.w3.org/2004/02/skos/core> ;
    owl:versionInfo {q(version)} ;
    dcterms:source {q(source)}{alt_line} .

"""


def mrsab_record(
    mrsab: DataFrame, ont_code: str
) -> dict | None:
    """Preferred MRSAB row: CURVER='Y' first (get_mrsab_record at
    umls2rdf.py:115-122), deterministic fallback by VSAB."""
    rows = (
        mrsab.where(F.col("RSAB") == ont_code)
        .orderBy(
            F.when(F.col("CURVER") == "Y", 0).otherwise(1), F.col("VSAB")
        )
        .limit(1)
        .collect()
    )
    return rows[0].asDict() if rows else None
