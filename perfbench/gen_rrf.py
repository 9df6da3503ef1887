"""Seeded synthetic UMLS release (RRF) for the export workload.

Writes the eight Metathesaurus tables the exporter reads (MRCONSO,
MRREL, MRDEF, MRSAT, MRSTY, MRRANK, MRSAB, MRDOC) as pipe-delimited
rows with the trailing ``|`` of a real release, for three ontologies
that take the exporter's three paths:

- ``SNOMEDCT_US`` — code mode: several atoms per code ranked through
  MRRANK, CHD/PAR hierarchy and RO+RELA relations resolved through
  the AUI bridge.
- ``HL7V3.0`` (URI code ``HL7``) — ``load_on_cuis``: classes keyed
  by CUI, preferred label by ISPREF/STT/TTY.
- ``MSH`` (URI code ``MESH``) — the MeSH tree case: parents from MSH
  CHD rels over ``D`` codes and ``MN`` tree-number attributes.

Each ontology has an SRC ``V-<SAB>`` root atom with CHD rels to its
top concepts. Labels and definitions mix in Turtle-hostile text
(quotes, backslashes, non-ASCII). The same seed gives byte-identical
files; :func:`write_release` returns the class count each exported
document must hold.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass

from umls2rdf_spark.schemas import UMLS_SCHEMAS

UMLS_VERSION = "2025AB"
CONF = (
    "SNOMEDCT_US,SNOMEDCT_US.ttl,load_on_codes\n"
    "HL7V3.0;HL7,HL7.ttl,load_on_cuis\n"
    "MSH;MESH,MESH.ttl,load_on_codes\n"
)
SABS = ("SNOMEDCT_US", "HL7V3.0", "MSH")
TTY_RANKS = {"SNOMEDCT_US": ("PT", "FN", "SY"), "HL7V3.0": ("CSY", "PT", "SY"),
             "MSH": ("MH", "ET", "PEP")}
RELAS = ("associated_with", "finding_site_of", "has_component", "isa")
ATNS = {"SNOMEDCT_US": ("CASE_SIGNIFICANCE_ID", "CTV3ID"),
        "HL7V3.0": ("HL7AI", "HL7OR"), "MSH": ("MN", "DX")}
# semantic-type tree: (TUI, STN, STY)
SEM_TYPES = [
    ("T071", "A", "Entity"), ("T072", "A1", "Physical Object"),
    ("T001", "A1.1", "Organism"), ("T017", "A1.2", "Anatomical Structure"),
    ("T073", "A1.3", "Manufactured Object"), ("T167", "A1.4", "Substance"),
    ("T077", "A2", "Conceptual Entity"), ("T078", "A2.1", "Idea or Concept"),
    ("T169", "A2.1.1", "Functional Concept"), ("T170", "A2.3", "Intellectual Product"),
    ("T051", "B", "Event"), ("T052", "B1", "Activity"),
    ("T053", "B1.1", "Behavior"), ("T057", "B1.2", "Occupational Activity"),
    ("T067", "B2", "Phenomenon or Process"), ("T046", "B2.2", "Pathologic Function"),
    ("T047", "B2.2.1", "Disease or Syndrome"), ("T184", "A2.2", "Sign or Symptom"),
]
WORDS = (
    "acute chronic renal cardiac hepatic pulmonary neural vascular "
    "syndrome disorder lesion fracture infection carcinoma deficiency "
    "of the left right upper lower anterior posterior procedure "
    "finding structure agent"
).split()
HOSTILE = ('"quoted"', "back\\slash", "naïve", "café", "Größe", "α-β",
           "東京", "50% \"pure\"", "trailing\\", 'say ""hi""')


@dataclass(frozen=True)
class Release:
    rrf_dir: str
    conf: str
    classes: dict[str, int]  # output file name → class blocks
    n_sem_types: int
    rrf_bytes: int


def _label(rng: random.Random) -> str:
    words = rng.choices(WORDS, k=rng.randint(2, 5))
    if rng.random() < 0.08:
        words.insert(rng.randint(0, len(words)), rng.choice(HOSTILE))
    return " ".join(words)


class _Writer:
    def __init__(self, rrf_dir: str):
        self.rows: dict[str, list[str]] = {t: [] for t in UMLS_SCHEMAS}
        self.rrf_dir = rrf_dir

    def add(self, table: str, **cols: str) -> None:
        names = UMLS_SCHEMAS[table].names
        self.rows[table].append(
            "|".join(cols.get(n, "") for n in names) + "|\n"
        )

    def flush(self) -> int:
        total = 0
        for table, rows in self.rows.items():
            data = "".join(rows).encode("utf-8")
            with open(os.path.join(self.rrf_dir, f"{table}.RRF"), "wb") as fh:
                fh.write(data)
            total += len(data)
        return total


def write_release(rrf_dir: str, seed: int, concepts: int) -> Release:
    """Write a release with ``concepts`` concepts per ontology."""
    os.makedirs(rrf_dir, exist_ok=True)
    rng = random.Random(seed)
    w = _Writer(rrf_dir)
    ids = {"cui": 0, "aui": 0, "rui": 0, "atui": 0}

    def nid(kind: str, prefix: str) -> str:
        ids[kind] += 1
        return f"{prefix}{ids[kind]:07d}"

    classes: dict[str, int] = {}
    used_tuis: set[str] = set()
    for sab, out_file in zip(SABS, ("SNOMEDCT_US.ttl", "HL7.ttl", "MESH.ttl")):
        for rank, tty in enumerate(reversed(TTY_RANKS[sab]), start=1):
            w.add("MRRANK", RANK=f"{rank:04d}", SAB=sab, TTY=tty, SUPPRESS="N")
        for curver, ver in (("N", "2024"), ("Y", "2025")):
            w.add(
                "MRSAB", VCUI=nid("cui", "C"), RCUI=nid("cui", "C"),
                VSAB=f"{sab}_{ver}", RSAB=sab, SON=f"Synthetic {sab} {ver}",
                SF=sab, SVER=ver, IMETA=UMLS_VERSION, LAT="ENG",
                CURVER=curver, SSN=f'Synthetic "{sab}" source', SABIN="Y",
            )
        root_cui, root_aui = nid("cui", "C"), nid("aui", "A")
        w.add("MRCONSO", CUI=root_cui, LAT="ENG", ISPREF="Y", AUI=root_aui,
              SAB="SRC", TTY="RPT", CODE=f"V-{sab}",
              STR=f"{sab} root", SUPPRESS="N")
        # (cui, code, [aui, ...]); codes are what code mode emits
        concepts_rows = []
        for i in range(concepts):
            cui = nid("cui", "C")
            code = f"D{i + 1:06d}" if sab == "MSH" else str(100000 + i * 7)
            auis = []
            for j in range(rng.choice((1, 1, 2, 3))):
                aui = nid("aui", "A")
                auis.append(aui)
                tty = TTY_RANKS[sab][min(j, 2)]
                # ~5% extra atoms are suppressed or non-English and
                # must not make a class of their own
                lat, sup = "ENG", "N"
                if j > 0 and rng.random() < 0.1:
                    lat, sup = rng.choice((("FRE", "N"), ("ENG", "O")))
                w.add("MRCONSO", CUI=cui, LAT=lat, TS="P", LUI=nid("rui", "L"),
                      STT="PF" if j == 0 else "VO", SUI=nid("rui", "S"),
                      ISPREF="Y" if j == 0 else "N", AUI=aui, SCUI=code,
                      SAB=sab, TTY=tty, CODE=code, STR=_label(rng),
                      SUPPRESS=sup)
            concepts_rows.append((cui, code, auis))
            for tui, stn, sty in rng.sample(SEM_TYPES, rng.choice((1, 1, 2))):
                used_tuis.add(tui)
                w.add("MRSTY", CUI=cui, TUI=tui, STN=stn, STY=sty,
                      ATUI=nid("atui", "AT"))
            if rng.random() < 0.3:
                w.add("MRDEF", CUI=cui, AUI=auis[0], ATUI=nid("atui", "AT"),
                      SAB=sab, DEF=_label(rng) + " " + _label(rng),
                      SUPPRESS="N")
            for atn in ATNS[sab]:
                if atn == "MN":
                    depth = 1 + (i % 3)
                    atv = ".".join(f"{(i * 7 + d) % 997:03d}" for d in range(depth))
                    atv = f"C{i % 20:02d}" if depth == 1 else f"C{i % 20:02d}.{atv}"
                elif rng.random() < 0.5:
                    continue
                else:
                    atv = _label(rng)
                w.add("MRSAT", CUI=cui, METAUI=auis[0], STYPE="CODE",
                      CODE=code, ATUI=nid("atui", "AT"), ATN=atn, SAB=sab,
                      ATV=atv, SUPPRESS="N")
            if rng.random() < 0.1:
                w.add("MRSAT", CUI=cui, CODE=code, ATUI=nid("atui", "AT"),
                      ATN="AQ", SAB=sab, ATV="Q000000", SUPPRESS="N")
        # hierarchy: a random forest under the SRC root
        for i, (cui, _code, auis) in enumerate(concepts_rows):
            if i < max(concepts // 50, 1):
                parent_cui, parent_aui = root_cui, root_aui
            else:
                p = concepts_rows[rng.randrange(0, i)]
                parent_cui, parent_aui = p[0], p[2][0]
            w.add("MRREL", CUI1=parent_cui, AUI1=parent_aui, STYPE1="AUI",
                  REL="CHD", CUI2=cui, AUI2=auis[0], STYPE2="AUI",
                  RUI=nid("rui", "R"), SAB=sab, SUPPRESS="N")
            w.add("MRREL", CUI1=cui, AUI1=auis[0], STYPE1="AUI",
                  REL="PAR", CUI2=parent_cui, AUI2=parent_aui, STYPE2="AUI",
                  RUI=nid("rui", "R"), SAB=sab, SUPPRESS="N")
            if i and rng.random() < 0.4:
                o = concepts_rows[rng.randrange(0, len(concepts_rows))]
                w.add("MRREL", CUI1=o[0], AUI1=o[2][0], STYPE1="AUI",
                      REL=rng.choice(("RO", "RB", "RN")), CUI2=cui,
                      AUI2=auis[-1], STYPE2="AUI", RELA=rng.choice(RELAS),
                      RUI=nid("rui", "R"), SAB=sab,
                      SUPPRESS="N" if rng.random() < 0.95 else "O")
        classes[out_file] = len(concepts_rows)

    for rel, expl in (("CHD", "has child relationship in a Metathesaurus source vocabulary"),
                      ("PAR", "has parent relationship in a Metathesaurus source vocabulary"),
                      ("RO", "has relationship other than synonymous, narrower, or broader"),
                      ("RB", "has a broader relationship"),
                      ("RN", "has a narrower relationship")):
        w.add("MRDOC", DOCKEY="REL", VALUE=rel, TYPE="expanded_form", EXPL=expl)
    for rela in RELAS:
        w.add("MRDOC", DOCKEY="RELA", VALUE=rela, TYPE="expanded_form",
              EXPL=rela.replace("_", " "))
        w.add("MRDOC", DOCKEY="RELA", VALUE=rela, TYPE="rela_inverse",
              EXPL=f"inverse_{rela}")
    for atns in ATNS.values():
        for atn in atns:
            w.add("MRDOC", DOCKEY="ATN", VALUE=atn, TYPE="expanded_form",
                  EXPL=f"Attribute {atn.lower()}")
    rrf_bytes = w.flush()
    return Release(rrf_dir, CONF, classes, len(used_tuis), rrf_bytes)
