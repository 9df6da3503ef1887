"""Reference-parity tests for the UMLS→Turtle pipeline, mirroring
/root/reference/tests/test_umls2rdf.py case by case (same fixture
shapes, same expected Turtle fragments)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from umls2rdf_spark.rdf.ontology import (
    mesh_tree,
    mrsab_record,
    ontology_frames,
    ontology_header,
    property_blocks,
    semantic_types_lines,
    term_blocks,
)
from umls2rdf_spark.schemas import (
    MRCONSO, MRDEF, MRRANK, MRREL, MRSAB, MRSAT, MRSTY,
)

NS = "http://example.org/test"


def _row(schema, **kw):
    return tuple(kw.get(f.name, "") for f in schema.fields)


def make_atom(cui, label, ispref="", stt="", tty="", aui="", code=None):
    """Reference make_atom/make_code_atom: CODE defaults to the CUI."""
    return _row(
        MRCONSO, CUI=cui, LAT="eng", SAB="TEST", SUPPRESS="N",
        STR=label, ISPREF=ispref, STT=stt, TTY=tty, AUI=aui,
        CODE=code if code is not None else cui,
    )


def make_rel(source_cui, target_cui, rel, rela="", source_aui="", target_aui=""):
    """CUI1/AUI1 = target, CUI2/AUI2 = source (reference make_rel)."""
    return _row(
        MRREL, CUI1=target_cui, AUI1=target_aui, REL=rel,
        CUI2=source_cui, AUI2=source_aui, RELA=rela,
        SAB="TEST", SUPPRESS="N",
    )


def make_sty(cui, tui, stn="", sty_name=""):
    return _row(MRSTY, CUI=cui, TUI=tui, STN=stn, STY=sty_name)


def make_att(code, atn, atv, cui=""):
    return _row(MRSAT, CUI=cui, CODE=code, ATN=atn, ATV=atv, SAB="TEST")


def tables_from(spark, atoms=(), rels=(), stys=(), atts=(), defs=()):
    return {
        "MRCONSO": spark.createDataFrame(list(atoms) or [], MRCONSO),
        "MRREL": spark.createDataFrame(list(rels) or [], MRREL),
        "MRSTY": spark.createDataFrame(list(stys) or [], MRSTY),
        "MRSAT": spark.createDataFrame(list(atts) or [], MRSAT),
        "MRDEF": spark.createDataFrame(list(defs) or [], MRDEF),
    }


def render(spark, load_on_cuis=True, dedupe=True, tree=None, **fixtures):
    tables = tables_from(spark, **fixtures)
    blocks = term_blocks(
        ontology_frames(tables, "TEST", load_on_cuis=load_on_cuis, tree=tree),
        NS, dedupe=dedupe,
    )
    return {r["code"]: r["ttl"] for r in blocks.collect()}


# ── dedupe regression tests (reference lines 70-152) ────────────────
def test_dedupes_duplicate_literal_triples_in_load_on_codes_mode(spark):
    fixtures = dict(
        atoms=[make_atom("C0001", "Preferred label", tty="PT",
                         aui="A001", code="CODE1")],
        atts=[make_att("CODE1", "TH", "NLM (1994)"),
              make_att("CODE1", "TH", "NLM (1994)")],
        stys=[make_sty("C0001", "T001")],
    )
    expected = '<http://example.org/test/TH> """NLM (1994)"""^^xsd:string ;'
    without = render(spark, load_on_cuis=False, dedupe=False, **fixtures)
    withd = render(spark, load_on_cuis=False, dedupe=True, **fixtures)
    assert without["CODE1"].count(expected) == 2
    assert withd["CODE1"].count(expected) == 1


def test_dedupes_duplicate_subclass_triples_in_load_on_cuis_mode(spark):
    fixtures = dict(
        atoms=[make_atom("C0001", "Preferred label")],
        rels=[make_rel("C0001", "CParent", "CHD"),
              make_rel("C0001", "CParent", "CHD")],
        stys=[make_sty("C0001", "T001")],
    )
    expected = "rdfs:subClassOf <http://example.org/test/CParent> ;"
    without = render(spark, dedupe=False, **fixtures)
    withd = render(spark, dedupe=True, **fixtures)
    assert without["C0001"].count(expected) == 2
    assert withd["C0001"].count(expected) == 1


def test_dedupes_duplicate_object_triples_in_load_on_cuis_mode(spark):
    fixtures = dict(
        atoms=[make_atom("C0001", "Preferred label")],
        rels=[make_rel("C0001", "CTarget", "RO", rela="relatedTo"),
              make_rel("C0001", "CTarget", "RO", rela="relatedTo")],
        stys=[make_sty("C0001", "T001")],
    )
    expected = (
        "<http://example.org/test/relatedTo> "
        "<http://example.org/test/CTarget> ;"
    )
    without = render(spark, dedupe=False, **fixtures)
    withd = render(spark, dedupe=True, **fixtures)
    assert without["C0001"].count(expected) == 2
    assert withd["C0001"].count(expected) == 1


# ── ordering inside a class block (reference lines 154-207) ─────────
def test_sorts_entries_within_generated_class(spark):
    rdf = render(
        spark,
        atoms=[
            make_atom("C0001", "Preferred label", ispref="Y", stt="PF",
                      tty="PT", aui="A1"),
            make_atom("C0001", "Alpha synonym", aui="A2"),
            make_atom("C0001", "Zulu label", aui="A3"),
        ],
        rels=[make_rel("C0001", "CPARENT", "CHD")],
        atts=[make_att("", "IS_DRUG_CLASS", "Y", cui="C0001"),
              make_att("", "ATC_LEVEL", "5", cui="C0001")],
        stys=[make_sty("C0001", "T121"), make_sty("C0001", "T109")],
    )["C0001"]

    assert rdf.index('"""Alpha synonym"""@en') < rdf.index('"""Zulu label"""@en')
    assert rdf.index("rdfs:subClassOf <http://example.org/test/CPARENT> ;") < \
        rdf.index('<http://example.org/test/ATC_LEVEL> """5"""^^xsd:string ;')
    assert rdf.index('<http://example.org/test/ATC_LEVEL> """5"""^^xsd:string ;') < \
        rdf.index('<http://example.org/test/IS_DRUG_CLASS> """Y"""^^xsd:string ;')
    assert rdf.index('<http://example.org/test/IS_DRUG_CLASS> """Y"""^^xsd:string ;') < \
        rdf.index('umls:cui """C0001"""^^xsd:string ;')
    assert rdf.index('umls:tui """T109"""^^xsd:string ;') < \
        rdf.index('umls:tui """T121"""^^xsd:string ;')
    assert rdf.index(
        "umls:hasSTY <http://purl.bioontology.org/ontology/STY/T109> ;"
    ) < rdf.index(
        "umls:hasSTY <http://purl.bioontology.org/ontology/STY/T121> ;"
    )


def test_identical_output_for_equivalent_inputs_in_different_orders(spark):
    base = dict(
        rels=[make_rel("C0001", "CTargetB", "RO", rela="relatedToB"),
              make_rel("C0001", "CPARENT", "CHD"),
              make_rel("C0001", "CTargetA", "RO", rela="relatedToA")],
        atts=[make_att("", "IS_DRUG_CLASS", "Y", cui="C0001"),
              make_att("", "ATC_LEVEL", "5", cui="C0001")],
        stys=[make_sty("C0001", "T121"), make_sty("C0001", "T109")],
    )
    atoms_a = [
        make_atom("C0001", "Preferred label", ispref="Y", stt="PF",
                  tty="PT", aui="A1"),
        make_atom("C0001", "Alpha synonym", aui="A2"),
        make_atom("C0001", "Zulu label", aui="A3"),
    ]
    rdf_a = render(spark, atoms=atoms_a, **base)["C0001"]
    rdf_b = render(spark, atoms=list(reversed(atoms_a)),
                   rels=list(reversed(base["rels"])),
                   atts=list(reversed(base["atts"])),
                   stys=list(reversed(base["stys"])))["C0001"]
    assert rdf_a == rdf_b


# ── prefLabel cascade (reference lines 272-291) ─────────────────────
def test_pref_label_prefers_single_pf_atom_in_load_on_cuis_mode(spark):
    rdf = render(
        spark,
        atoms=[
            make_atom("C0001", "Later synonym", aui="A1"),
            make_atom("C0001", "Preferred label", ispref="Y", stt="PF",
                      tty="PT", aui="A2"),
            make_atom("C0001", "Other preferred", ispref="Y", stt="VC",
                      tty="SY", aui="A3"),
        ],
        stys=[make_sty("C0001", "T001")],
    )["C0001"]
    assert 'skos:prefLabel """Preferred label"""@en' in rdf


# ── bogus parents (reference lines 293-319) ─────────────────────────
def test_skips_known_bogus_parents_in_subclass_output(spark):
    rdf = render(
        spark,
        atoms=[make_atom("C0001", "Preferred label")],
        rels=[make_rel("C0001", "138875005", "CHD"),
              make_rel("C0001", "V-HL7V3.0", "CHD"),
              make_rel("C0001", "C1553931", "CHD"),
              make_rel("C0001", "VALID_PARENT", "CHD")],
        stys=[make_sty("C0001", "T001")],
    )["C0001"]
    assert "rdfs:subClassOf <http://example.org/test/VALID_PARENT> ;" in rdf
    assert "138875005" not in rdf
    assert "V-HL7V3.0" not in rdf
    assert "C1553931" not in rdf


# ── code-mode rel resolution (reference lines 323-350) ──────────────
def test_code_mode_resolves_rels_and_filters_self_maps(spark):
    rdf = render(
        spark,
        load_on_cuis=False,
        atoms=[
            make_atom("CUI_SOURCE", "Source preferred", tty="PT",
                      aui="AUI_SOURCE", code="CODE1"),
            make_atom("CUI_TARGET", "Target preferred", tty="PT",
                      aui="AUI_TARGET", code="CODE2"),
            make_atom("CUI_SELF", "Source synonym", tty="SY",
                      aui="AUI_SELF", code="CODE1"),
        ],
        rels=[
            make_rel("CUI_SOURCE", "CUI_TARGET", "RO", rela="mappedTo",
                     source_aui="AUI_SOURCE", target_aui="AUI_TARGET"),
            make_rel("CUI_SOURCE", "CUI_SELF", "RO", rela="selfMap",
                     source_aui="AUI_SOURCE", target_aui="AUI_SELF"),
        ],
        stys=[make_sty("CUI_SOURCE", "T001"), make_sty("CUI_TARGET", "T002")],
    )
    assert sorted(rdf.keys()) == ["CODE1", "CODE2"]
    assert (
        "<http://example.org/test/mappedTo> <http://example.org/test/CODE2> ;"
        in rdf["CODE1"]
    )
    assert "selfMap" not in rdf["CODE1"]


# ── ontology header metadata (reference lines 352-376) ──────────────
def test_header_metadata(spark):
    row = [""] * 25  # full MRSAB width (the reference fixture only
    # sizes to the highest index it reads, 23)
    row[3], row[6], row[9], row[23] = (
        "TEST-RSAB", "2025-test-version", "2025AB", "Test Ontology Title",
    )
    mrsab = spark.createDataFrame([tuple(row)], MRSAB)
    rec = mrsab_record(mrsab, "TEST-RSAB")
    header = ontology_header(rec, "TEST", NS)
    assert f"<{NS}>" in header
    assert 'rdfs:label "Test Ontology Title" ;' in header
    assert 'owl:versionInfo "2025-test-version" ;' in header
    assert 'dcterms:source "UMLS 2025AB"' in header
    assert 'skos:altLabel "TEST-RSAB" .' in header


# ── semantic type hierarchy (umls2rdf.py:153-189) ───────────────────
def test_semantic_types_prefix_hierarchy(spark):
    mrsty = spark.createDataFrame(
        [
            make_sty("C1", "T001", stn="A", sty_name="Entity"),
            make_sty("C2", "T002", stn="A1", sty_name="Thing"),
            make_sty("C3", "T003", stn="A1.1", sty_name="Organism"),
        ],
        MRSTY,
    )
    lines = {
        r["line"]
        for r in semantic_types_lines(mrsty, with_roots=True).collect()
    }
    sty = "http://purl.bioontology.org/ontology/STY/"
    assert (
        f"<{sty}T002> rdfs:subClassOf <{sty}T001> ." in lines
    )
    assert (
        f"<{sty}T003> rdfs:subClassOf <{sty}T002> ." in lines
    )
    assert f"<{sty}T001> rdfs:subClassOf owl:Thing ." in lines
    assert any('skos:prefLabel "Organism"@en' in ln for ln in lines)


# ── mesh tree (umls2rdf.py:201-217) + tree-mode export ──────────────
def test_mesh_tree_and_tree_mode_export(spark):
    atoms = [
        _row(MRCONSO, CUI="C1", LAT="eng", SAB="MSH", SUPPRESS="N",
             STR="Parent", TTY="MH", AUI="A1", CODE="D001"),
        _row(MRCONSO, CUI="C2", LAT="eng", SAB="MSH", SUPPRESS="N",
             STR="Child", TTY="MH", AUI="A2", CODE="D002"),
    ]
    rels = [
        _row(MRREL, CUI1="C1", AUI1="A1", REL="CHD", CUI2="C2", AUI2="A2",
             SAB="MSH", SUPPRESS="N"),
    ]
    mrconso = spark.createDataFrame(atoms, MRCONSO)
    mrrel = spark.createDataFrame(rels, MRREL)
    tree = mesh_tree(mrrel, mrconso)
    edges = {(r["parent"], r["child"]) for r in tree.collect()}
    assert edges == {("D001", "D002")}

    tables = {
        "MRCONSO": mrconso,
        "MRREL": mrrel,
        "MRSTY": spark.createDataFrame([make_sty("C1", "T001")], MRSTY),
        "MRSAT": spark.createDataFrame([], MRSAT),
        "MRDEF": spark.createDataFrame([], MRDEF),
    }
    blocks = {
        r["code"]: r["ttl"]
        for r in term_blocks(
            ontology_frames(tables, "MSH", load_on_cuis=False, tree=tree), NS
        ).collect()
    }
    # tree parent emitted as subclass on the child...
    assert "rdfs:subClassOf <http://example.org/test/D001> ;" in blocks["D002"]
    # ...and the CHD rel itself becomes an object property (hierarchy off)
    assert "<http://example.org/test/CHD>" in blocks["D002"]


# ── property docs rendering (umls2rdf.py:511-532, 853-864) ──────────
def test_property_blocks(spark):
    from umls2rdf_spark.schemas import MRDOC

    mrdoc = spark.createDataFrame(
        [
            _row(MRDOC, DOCKEY="REL", VALUE="RO", TYPE="expanded_form",
                 EXPL="has relationship other than synonymous"),
            _row(MRDOC, DOCKEY="ATN", VALUE="TH", TYPE="expanded_form",
                 EXPL="Thesaurus ID"),
            _row(MRDOC, DOCKEY="REL", VALUE="RB", TYPE="expanded_form",
                 EXPL="broader relationship"),
            _row(MRDOC, DOCKEY="REL", VALUE="RB", TYPE="inverse",
                 EXPL="RN"),
        ],
        MRDOC,
    )
    props = spark.createDataFrame([("RO",), ("TH",), ("RB",)], "att string")
    blocks = {
        r["att"]: r["ttl"] for r in property_blocks(mrdoc, props, NS).collect()
    }
    assert "a owl:ObjectProperty ;" in blocks["RO"]
    assert "a owl:DatatypeProperty ;" in blocks["TH"]
    assert 'rdfs:comment """Inverse of RN"""' in blocks["RB"]
    assert 'rdfs:label """Thesaurus ID"""' in blocks["TH"]


# ── full document writer (write_into, umls2rdf.py:745-789) ──────────
def test_write_ontology_document(spark, tmp_path):
    import glob

    from umls2rdf_spark.rdf.ontology import write_ontology
    from umls2rdf_spark.schemas import MRDOC, MRRANK, MRSAB

    row = [""] * 25
    row[3], row[6], row[9], row[21], row[23] = (
        "TEST", "v1", "2025AB", "Y", "Test Ontology",
    )
    tables = {
        "MRCONSO": spark.createDataFrame(
            [make_atom("C0001", "Preferred label", tty="PT", aui="A1",
                       code="CODE1")], MRCONSO),
        "MRREL": spark.createDataFrame([], MRREL),
        "MRSAT": spark.createDataFrame(
            [make_att("CODE1", "TH", "NLM (1994)")], MRSAT),
        "MRDEF": spark.createDataFrame([], MRDEF),
        "MRSTY": spark.createDataFrame(
            [make_sty("C0001", "T001", stn="A", sty_name="Entity")], MRSTY),
        "MRSAB": spark.createDataFrame([tuple(row)], MRSAB),
        "MRDOC": spark.createDataFrame(
            [_row(MRDOC, DOCKEY="ATN", VALUE="TH", TYPE="expanded_form",
                  EXPL="Thesaurus ID")], MRDOC),
        "MRRANK": spark.createDataFrame([], MRRANK),
    }
    out = str(tmp_path / "test_ont")
    write_ontology(
        tables, "TEST", NS, out, mrsab_record(tables["MRSAB"], "TEST")
    )
    text = "".join(
        open(f).read() for f in sorted(glob.glob(out + "/part-*"))
    )
    assert "@prefix skos:" in text
    assert 'rdfs:label "Test Ontology" ;' in text
    assert 'skos:prefLabel """Preferred label"""@en' in text
    assert '<http://example.org/test/TH> """NLM (1994)"""^^xsd:string ;' in text
    assert "a owl:DatatypeProperty ;" in text
    assert 'skos:prefLabel "Entity"@en' in text


# ── root via SRC atom whose AUI is outside the ontology (regression:
# the reference checks cui_roots BEFORE target-code resolution,
# umls2rdf.py:708 vs :715) ──────────────────────────────────────────
def test_root_detected_via_unresolvable_src_parent(spark):
    atoms = [
        make_atom("C1", "Root concept", tty="PT", aui="A1", code="R1"),
        _row(MRCONSO, CUI="CR", LAT="eng", SAB="SRC", SUPPRESS="N",
             STR="src root", TTY="RPT", AUI="A9", CODE="V-TEST"),
    ]
    rels = [
        # CHD rel: source R1 (A1), target = the SRC atom (A9) which is
        # NOT part of the TEST ontology's atom set
        _row(MRREL, CUI1="CR", AUI1="A9", REL="CHD", CUI2="C1", AUI2="A1",
             SAB="TEST", SUPPRESS="N"),
    ]
    tables = {
        "MRCONSO": spark.createDataFrame(atoms, MRCONSO),
        "MRREL": spark.createDataFrame(rels, MRREL),
        "MRSTY": spark.createDataFrame([make_sty("C1", "T001")], MRSTY),
        "MRSAT": spark.createDataFrame([], MRSAT),
        "MRDEF": spark.createDataFrame([], MRDEF),
    }
    blocks = {
        r["code"]: r["ttl"]
        for r in term_blocks(
            ontology_frames(tables, "TEST", load_on_cuis=False), NS
        ).collect()
    }
    assert "rdfs:subClassOf owl:Thing ;" in blocks["R1"]


# ── plan shape: the preferred label, alt labels and CUIs come from one
# min_by aggregation per code, so no window sorts the atoms ─────────
@pytest.mark.parametrize("load_on_cuis", [False, True])
def test_term_blocks_plan_has_no_window(spark, load_on_cuis):
    tables = tables_from(
        spark,
        atoms=[
            make_atom("C1", "Label 1", tty="PT", aui="A1", code="K1"),
            make_atom("C1", "Label 2", tty="SY", aui="A2", code="K1"),
            make_atom("C2", "Label 3", tty="PT", aui="A3", code="K2"),
        ],
        rels=[make_rel("C1", "C2", "CHD", source_aui="A1", target_aui="A3")],
        stys=[make_sty("C1", "T001")],
    )
    tables["MRRANK"] = spark.createDataFrame(
        [_row(MRRANK, RANK="2", SAB="TEST", TTY="PT"),
         _row(MRRANK, RANK="1", SAB="TEST", TTY="SY")],
        MRRANK,
    )
    blocks = term_blocks(
        ontology_frames(tables, "TEST", load_on_cuis=load_on_cuis), NS
    )
    assert len(blocks.collect()) == 2
    plan = blocks._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
