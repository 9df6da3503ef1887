"""Multi-ontology export pipeline — parity with the reference's
__main__ (umls2rdf.py:828-896) and umls.conf format.

The reference iterates umls.conf serially, loading each ontology into
driver RAM; here each ontology export is an independent Spark job over
the shared (cached) table scans. A user of the reference can point
this at the same conf text and RRF/parquet inputs and get the same
set of .ttl outputs.
"""

from __future__ import annotations

import json
import os
import tempfile
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from umls2rdf_spark.rdf.ontology import (
    assemble_document,
    mrsab_record,
    semantic_types_lines,
    write_ontology,
)
from umls2rdf_spark.rdf.turtle import PREFIXES
from umls2rdf_spark.sources.rrf import read_rrf

DEFAULT_BASE_URI = "http://purl.bioontology.org/ontology/"


@dataclass(frozen=True)
class ConfEntry:
    """One umls.conf line: ``CODE[;ALT_URI_CODE],file.ttl,load_on_X``
    (parsed exactly like umls2rdf.py:832-872)."""

    umls_code: str
    alt_uri_code: str | None
    file_out: str
    load_on_cuis: bool


def parse_conf(text: str) -> list[ConfEntry]:
    entries = []
    for line in text.splitlines():
        if not line or line.startswith("#"):
            continue
        parts = line.split(",")
        if len(parts) < 3:
            continue
        code, file_out, load_on = (p.strip() for p in parts[:3])
        alt = None
        if ";" in code:
            code, alt = code.split(";", 1)
        entries.append(
            ConfEntry(code, alt, file_out, load_on == "load_on_cuis")
        )
    return entries


def load_umls_tables(spark: SparkSession, rrf_dir: str) -> dict[str, DataFrame]:
    """All 8 UMLS tables from a directory of .RRF files — the
    replacement for the reference's MySQL staging (create_mysql_db.py
    + LOAD DATA): Spark reads the pipe-delimited files directly as
    splittable scans."""
    names = "MRCONSO MRREL MRDEF MRSAT MRSTY MRRANK MRSAB MRDOC".split()
    out = {}
    for name in names:
        path = os.path.join(rrf_dir, f"{name}.RRF")
        if os.path.exists(path):
            out[name] = read_rrf(spark, path, table=name)
    return out


STATE_VERSION = 1


def _state_path(output_dir: str) -> str:
    return os.path.join(output_dir, "pipeline_state.json")


def load_state(output_dir: str) -> dict:
    """Pipeline resume state — mirrors the reference's load_state
    (run_umls_pipeline.py:74-83): missing file → fresh state."""
    path = _state_path(output_dir)
    if not os.path.exists(path):
        return {"state_version": STATE_VERSION, "steps": {}}
    with open(path) as fh:
        state = json.load(fh)
    state.setdefault("state_version", STATE_VERSION)
    state.setdefault("steps", {})
    return state


def save_state(output_dir: str, state: dict) -> None:
    """Atomic write-temp-then-rename, like the reference's save_state
    (run_umls_pipeline.py:86-96) — a killed run never leaves a
    truncated state file."""
    path = _state_path(output_dir)
    os.makedirs(output_dir, exist_ok=True)
    with tempfile.NamedTemporaryFile(
        "w", dir=output_dir, delete=False
    ) as tmp:
        json.dump(state, tmp, indent=2, sort_keys=True)
        tmp.write("\n")
        tmp_path = tmp.name
    os.replace(tmp_path, path)


def mark_step_complete(
    output_dir: str, state: dict, step: str, details: dict
) -> None:
    """run_umls_pipeline.py:99-101: record + persist after each step."""
    state["steps"][step] = details
    save_state(output_dir, state)


def run_pipeline(
    tables: dict[str, DataFrame],
    conf_text: str,
    output_dir: str,
    umls_base_uri: str = DEFAULT_BASE_URI,
    umls_version: str = "2025AB",
    only_current_version: bool = False,
    resume: bool = True,
) -> dict[str, str]:
    """Export every configured ontology + the semantic-types file.

    Mirrors __main__ (umls2rdf.py:828-896): semantic types document
    first, then one .ttl per conf entry, honoring alt URI codes,
    load_on_cuis, the MSH tree special case (inside write_ontology)
    and the PROCESS_ONLY_CURRENT_UMLS_VERSION skip. Returns
    {ont_code: output_path} for what was exported or resumed.

    Staged-resume semantics (reference run_umls_pipeline.py:74-101):
    each completed export is recorded in ``pipeline_state.json``
    (atomic replace) keyed by step name; with ``resume=True`` a
    restarted run skips steps whose state entry exists AND whose
    output still exists — a 60-ontology export that dies at #40
    redoes only #40 onward, not the 39 finished Spark jobs.
    ``resume=False`` ignores and rewrites prior state.
    """
    spark = tables["MRCONSO"].sparkSession
    os.makedirs(output_dir, exist_ok=True)
    state = load_state(output_dir) if resume else {
        "state_version": STATE_VERSION, "steps": {}
    }

    def done(step: str, path: str) -> bool:
        return (
            resume
            and step in state["steps"]
            and os.path.exists(
                state["steps"][step].get("output", path)
            )
        )

    if "MRSTY" in tables:
        sem_path = os.path.join(output_dir, "umls_semantictypes.ttl")
        if not done("semantic_types", sem_path):
            sem = semantic_types_lines(tables["MRSTY"], with_roots=True)
            head = spark.createDataFrame(
                [("0", PREFIXES)], "sort string, ttl string"
            )
            doc = head.unionByName(
                sem.select(
                    F.col("sort_key").alias("sort"), F.col("line").alias("ttl")
                )
            )
            assemble_document(doc, ordered=True).write.mode(
                "overwrite"
            ).text(sem_path)
            mark_step_complete(
                output_dir, state, "semantic_types", {"output": sem_path}
            )

    exported: dict[str, str] = {}
    for entry in parse_conf(conf_text):
        rec = (
            mrsab_record(tables["MRSAB"], entry.umls_code)
            if "MRSAB" in tables
            else None
        )
        if only_current_version and (
            not rec or rec.get("IMETA") != umls_version
        ):
            continue
        out_path = os.path.join(output_dir, entry.file_out)
        step = f"ontology:{entry.umls_code}:{entry.file_out}"
        if done(step, out_path):
            exported[entry.umls_code] = state["steps"][step]["output"]
            continue
        lat = (rec or {}).get("LAT") or "ENG"
        # get_umls_url (umls2rdf.py:94) returns '<base><code>/' — the
        # trailing slash is part of the ontology resource IRI emitted
        # in the document header.
        ns = umls_base_uri + (entry.alt_uri_code or entry.umls_code) + "/"
        write_ontology(
            tables,
            entry.umls_code,
            ns,
            out_path,
            rec,
            lat=lat,
            load_on_cuis=entry.load_on_cuis,
            umls_version=umls_version,
        )
        mark_step_complete(
            output_dir, state, step, {"output": out_path}
        )
        exported[entry.umls_code] = out_path
    return exported
