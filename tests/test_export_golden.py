"""Whole-document golden test for the UMLS→Turtle export.

Generates a small seeded release with the benchmark's RRF generator,
runs ``run_pipeline`` on it and pins the sha256 of every document
(part files concatenated in name order). The release covers the
three export paths: code mode (SNOMEDCT_US), ``load_on_cuis``
(HL7V3.0) and the MSH tree case, plus the semantic-types document.
Any byte change in any of them fails here, where the other export
tests only check fragments.
"""

from __future__ import annotations

import glob
import hashlib
import importlib.util
import os
import sys

from umls2rdf_spark.pipeline import load_umls_tables, run_pipeline

GEN_RRF = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "perfbench", "gen_rrf.py",
)
SEED, CONCEPTS = 1, 200
GOLDEN = {
    "SNOMEDCT_US.ttl":
        "8169ece549e47b83e2cd2e6e0ff2ded32dbf98b2b7cebef7e821c17c32654076",
    "HL7.ttl":
        "f3dcce0641c7c0a83509bbee04b5724df8ad39abf101c3099779812800913058",
    "MESH.ttl":
        "0f42b6330a3f2f1ebc9986085180fe91415ad42f3d71da3df1edc885acea311b",
    "umls_semantictypes.ttl":
        "bf1c36cf5a54fe540ee22b8c7f0b59e9742fc8df6ad82bd2c7746ce8905dd84f",
}


def _gen_rrf():
    spec = importlib.util.spec_from_file_location("gen_rrf", GEN_RRF)
    mod = importlib.util.module_from_spec(spec)
    # dataclasses resolve their module through sys.modules
    sys.modules[spec.name] = mod
    spec.loader.exec_module(mod)
    return mod


def _sha256(doc_dir: str) -> str:
    h = hashlib.sha256()
    for part in sorted(glob.glob(os.path.join(doc_dir, "part-*"))):
        with open(part, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def test_export_documents_match_golden_digests(spark, tmp_path):
    release = _gen_rrf().write_release(str(tmp_path / "rrf"), SEED, CONCEPTS)
    out = str(tmp_path / "out")
    exported = run_pipeline(
        load_umls_tables(spark, release.rrf_dir), release.conf, out,
        resume=False,
    )
    assert sorted(exported) == ["HL7V3.0", "MSH", "SNOMEDCT_US"]
    got = {doc: _sha256(os.path.join(out, doc)) for doc in GOLDEN}
    assert got == GOLDEN
