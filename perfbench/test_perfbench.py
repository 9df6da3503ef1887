"""Self-tests of the benchmark: input generators, declared metric
names, and failure accounting. Run with
``python3 -m pytest perfbench -q -p no:cacheprovider``."""

from __future__ import annotations

import json
import os
import sys

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import gen_rrf  # noqa: E402
import gen_tables  # noqa: E402
import run  # noqa: E402


def _dir_bytes(path: str) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as fh:
            out[name] = fh.read()
    return out


def test_rrf_release_deterministic_per_seed(tmp_path):
    a = gen_rrf.write_release(str(tmp_path / "a"), 7, 60)
    b = gen_rrf.write_release(str(tmp_path / "b"), 7, 60)
    c = gen_rrf.write_release(str(tmp_path / "c"), 8, 60)
    files_a = _dir_bytes(a.rrf_dir)
    assert set(files_a) == {f"{t}.RRF" for t in gen_rrf.UMLS_SCHEMAS}
    assert files_a == _dir_bytes(b.rrf_dir)
    assert files_a != _dir_bytes(c.rrf_dir)
    assert a.classes == {"SNOMEDCT_US.ttl": 60, "HL7.ttl": 60, "MESH.ttl": 60}
    assert a.rrf_bytes == sum(len(v) for v in files_a.values())


def test_rrf_rows_have_trailing_pipe_and_schema_width(tmp_path):
    rel = gen_rrf.write_release(str(tmp_path / "r"), 3, 40)
    for table, schema in gen_rrf.UMLS_SCHEMAS.items():
        with open(os.path.join(rel.rrf_dir, f"{table}.RRF"), encoding="utf-8") as fh:
            lines = fh.read().splitlines()
        assert lines, table
        assert all(line.endswith("|") for line in lines), table
        assert {line.count("|") for line in lines} == {len(schema.names)}, table
    with open(os.path.join(rel.rrf_dir, "MRCONSO.RRF"), encoding="utf-8") as fh:
        conso = fh.read()
    for sab in gen_rrf.SABS:
        assert f"|SRC|RPT|V-{sab}|" in conso


def test_query_tables_deterministic_per_seed(tmp_path):
    gen_tables.write_tables(str(tmp_path / "a"), 5, 0.001)
    gen_tables.write_tables(str(tmp_path / "b"), 5, 0.001)
    gen_tables.write_tables(str(tmp_path / "c"), 6, 0.001)
    a = _dir_bytes(str(tmp_path / "a"))
    assert set(a) == {f"{t}.parquet" for t in gen_tables.TABLES}
    assert a == _dir_bytes(str(tmp_path / "b"))
    assert a != _dir_bytes(str(tmp_path / "c"))


def test_metric_names_match_benchmark_json():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    assert sorted(w["name"] for w in bench["workloads"]) == sorted(run.WORKLOADS)


def _passes(ops):
    return run.run_passes(lambda i: (ops, lambda: None), seconds=0, min_passes=2)


def test_wrong_result_counts_as_failed():
    ok = run.Op("ok", lambda: 1, lambda v: v == 1)
    wrong = run.Op("wrong", lambda: 2, lambda v: v == 1)
    clean = _passes([ok, ok])
    assert (clean.attempted, clean.failed) == (4, 0)
    injected = _passes([ok, wrong])
    assert injected.attempted == 4
    assert injected.failed / injected.attempted == 0.5
    assert any("wrong result" in e for e in injected.errors)


def test_raising_op_counts_as_failed_and_is_not_retried():
    calls = []

    def boom():
        calls.append(1)
        raise RuntimeError("boom")

    out = _passes([run.Op("boom", boom, lambda v: True)])
    assert (out.attempted, out.failed, len(calls)) == (2, 2, 2)


def test_fingerprint_is_order_insensitive_and_value_sensitive():
    df = pd.DataFrame({"b": [2, 1, None], "a": ["x", "y", "z"]})
    shuffled = df.iloc[[2, 0, 1]][["a", "b"]]
    assert run.fingerprint(df) == run.fingerprint(shuffled)
    changed = df.copy()
    changed.loc[0, "a"] = "w"
    assert run.fingerprint(df) != run.fingerprint(changed)


def test_percentile_nearest_rank():
    values = [float(v) for v in range(1, 21)]
    assert run.percentile(values, 0.5) == 10.0
    assert run.percentile(values, 0.9) == 18.0



def test_export_op_latencies_are_the_warm_writes():
    wl = run.ExportWorkload()
    # pass 1's export raised after its first write_ontology call
    wl.write_s = {0: [1.0, 1.0, 1.0], 1: [2.0]}
    passes = run.Passes(op_s=[[9.0, 0.5], [0.25]])
    assert wl.op_latencies(passes, 1) == [2.0]
    assert sorted(wl.op_latencies(passes, 0)) == [1.0, 1.0, 1.0, 2.0]
