"""Benchmark for the UMLS→Turtle exporter and its Spark query plans.

Usage (from the repository root):

    python3 perfbench/run.py --workload umls_export --seed 1 --seconds 25 --trace 0

Workloads (one driver process, one closed-loop client thread,
``local[<cores>]`` with as many shuffle partitions as cores):

- ``umls_export`` — a seeded synthetic RRF release (gen_rrf.py) is
  loaded with ``pipeline.load_umls_tables`` and exported with
  ``pipeline.run_pipeline(resume=False)`` into a fresh directory per
  pass, then every document is checked with
  ``rdf.validate.validate_turtle``. Timed op: one ontology's
  ``write_ontology`` call (validations count in the pass time).
- ``query_mix`` — the TPC-H core and UMLS operator-demo plans of
  ``plans/`` over seeded TPC-H-style tables (gen_tables.py), every key
  once per pass in a seed-shuffled order. Op: one key's plan build
  plus collecting its result. The other plan modules stay out: the
  composed keys take minutes per pass, and ``llm_demos`` reads a fixed
  test-data path when imported.

A run generates its inputs from ``--seed`` (not timed), starts the
Spark session once in its fresh process (``setup_s``: JVM launch,
session start and one warm-up op), makes one cold pass
(``first_pass_s``) and then warm passes while the next is expected to
end within ``--seconds``, at least one (``pass_s`` and the op
percentiles cover warm passes).
Every op's output is checked outside its timed interval: query results
against a DuckDB pin of the same key's oracle SQL, documents by
``validate_turtle`` and their class count. An op that raises or fails
its check counts in ``failed``; nothing is retried.

The last stdout line is one JSON object: with ``--trace 0`` the
end-to-end metrics; with ``--trace 1`` the per-layer metrics of a run
with the Spark event log, job groups and spans on. A readable report
(every metric with its unit, the error rate with its counts, sample
counts, host load and a calibration probe) goes to stderr, and the
full result, spans with their self times included, to
``.perfbench_out/<workload>-seed<n>-trace<t>.json``. A traced run
reports its tracing overhead when the untraced result of the same
workload and seed is there.
"""
from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from collections.abc import Callable
from dataclasses import dataclass, field

from tracing import (
    NoTracer,
    Tracer,
    gc_log_peak_heap_mb,
    loadavg_1m,
    peak_rss_mb,
    stage_counters,
)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s",
    "first_pass_s": "s",
    "pass_s": "s",
    "op_p50_s": "s",
    "op_p90_s": "s",
    "peak_rss_mb": "MB",
}
EXPORT_SABS = ("SNOMEDCT_US", "HL7V3.0", "MSH")
PER_LAYER = {
    "session.start_s": "s",
    "sources.rrf.load_s": "s",
    "plans.build_s": "s",
    "exec.action_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.core_busy_ratio": "ratio",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.input_bytes": "bytes",
    "exec.gc_s": "s",
    **{f"rdf.ontology.write_s.{sab}": "s" for sab in EXPORT_SABS},
    "rdf.ontology.term_blocks_build_s": "s",
    "rdf.ontology.mrsab_record_s": "s",
    "rdf.ontology.mrsab_record_calls": "count",
    "rdf.ontology.output_bytes": "bytes",
    "rdf.validate.scan_s": "s",
    "pipeline.self_s": "s",
    "ttl_bytes_per_rrf_byte": "ratio",
    "jvm.heap_after_gc_peak_mb": "MB",
    "trace.pass_s": "s",
}

# one cold pass, then at least one warm one
MIN_PASSES = 2
# heap cap (-Xmx) of the driver JVM. No -Xms: the heap grows only as
# far as the run drives it, so peak RSS follows the program
DRIVER_MEMORY = "2g"
# concepts per ontology in the synthetic release (3 ontologies). A
# warm pass costs about 14 s of per-job work plus 0.16 ms per class on
# 4 cores, so at this size the per-job part dominates.
EXPORT_CONCEPTS = 4000
# scale of the generated query tables (sf 0.01: 60k lineitems)
QUERY_SF = 0.01


# ── closed-loop measurement ─────────────────────────────────────────


@dataclass
class Op:
    """One timed unit of work. ``run`` returns a value that
    ``check`` must accept; both raise or return False on failure."""

    name: str
    run: Callable[[], object]
    check: Callable[[object], bool]


@dataclass
class Passes:
    pass_s: list[float] = field(default_factory=list)
    op_s: list[list[float]] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)


def run_passes(
    make_pass: Callable[[int], tuple[list[Op], Callable[[], None]]],
    seconds: float,
    min_passes: int,
) -> Passes:
    """Closed loop: passes back to back while the next one is expected
    to end within ``seconds`` (a pass is expected to last as long as
    the last one), and at least ``min_passes``. ``make_pass(i)``
    returns the pass's ops and a cleanup called after the pass
    (untimed). Nothing is retried: an op that raises or fails its
    check counts as failed."""
    out = Passes()
    t_start = time.perf_counter()
    i = 0
    while i < min_passes or (
        time.perf_counter() - t_start + out.pass_s[-1] <= seconds
    ):
        ops, cleanup = make_pass(i)
        lat: list[float] = []
        pass_t0 = time.perf_counter()
        checked: list[tuple[Op, object]] = []
        for op in ops:
            out.attempted += 1
            t0 = time.perf_counter()
            try:
                value = op.run()
            except Exception as exc:  # noqa: BLE001 — any failure counts
                out.failed += 1
                out.errors.append(f"{op.name}: {type(exc).__name__}: {exc}"[:300])
                continue
            lat.append(time.perf_counter() - t0)
            checked.append((op, value))
        out.pass_s.append(time.perf_counter() - pass_t0)
        out.op_s.append(lat)
        for op, value in checked:
            try:
                ok = op.check(value)
            except Exception as exc:  # noqa: BLE001
                ok = False
                out.errors.append(f"{op.name}: check raised {exc!r}"[:300])
            if not ok:
                out.failed += 1
                out.errors.append(f"{op.name}: wrong result")
        cleanup()
        i += 1
    return out


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


# ── Spark session ───────────────────────────────────────────────────


class Session:
    """Spark sized to the machine: ``local[cores]``, shuffle
    partitions = cores, local dirs and warehouse under ``work``."""

    def __init__(self, work: str, traced: bool):
        self.cores = len(os.sched_getaffinity(0))
        self.gc_log = os.path.join(work, "gc.log")
        self.conf = {
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # the inputs are small; the 8g default lets the JVM heap
            # grow to several GB on a machine others share
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData "
                f"-Xlog:gc:file={self.gc_log}"
            ),
        }
        if traced:
            self.event_dir = os.path.join(work, "events")
            os.makedirs(self.event_dir)
            self.conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_dir,
                "spark.eventLog.compress": "false",
            })
        self.spark = None
        self.jvm_proc = None

    def start(self):
        from umls2rdf_spark.session import get_spark

        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{self.cores}]",
            shuffle_partitions=self.cores,
            extra_conf=self.conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_proc = self.spark.sparkContext._gateway.proc
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the context, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        self.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if self.jvm_proc is not None:
            self.jvm_proc.stdin.close()
            try:
                self.jvm_proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                self.jvm_proc.kill()
                self.jvm_proc.wait()

    def job_group(self, name: str) -> None:
        self.spark.sparkContext.setJobGroup(name, name)


def calibration_probe(spark) -> float:
    """Wall time of a fixed engine-independent job (host-speed context
    only; never used to adjust a metric)."""
    t0 = time.perf_counter()
    spark.range(1 << 26).selectExpr("sum(id * 3 + 1)").collect()
    return time.perf_counter() - t0


# ── workloads ───────────────────────────────────────────────────────


@dataclass
class Ctx:
    seed: int
    tracer: Tracer
    session: Session
    work: str


class ExportWorkload:
    """``run_pipeline`` over the synthetic release, then
    ``validate_turtle`` on each written document."""

    name = "umls_export"

    def prepare(self, ctx: Ctx) -> None:
        import gen_rrf

        self.release = gen_rrf.write_release(
            os.path.join(ctx.work, "rrf"), ctx.seed, EXPORT_CONCEPTS
        )
        # document → expected owl:Class/Ontology header lines: its
        # classes plus the semantic-type classes write_ontology appends
        self.expected = {
            f: n + self.release.n_sem_types
            for f, n in self.release.classes.items()
        }
        self.expected["umls_semantictypes.ttl"] = self.release.n_sem_types
        self.output_bytes: list[int] = []

    def warm_up(self, ctx: Ctx, spark) -> None:
        from umls2rdf_spark.pipeline import load_umls_tables

        load_umls_tables(spark, self.release.rrf_dir)["MRSAB"].count()

    def install(self, ctx: Ctx) -> Callable[[], None]:
        """Wrap the layer entry points run_pipeline calls, so each
        ontology export is timed as an op and (traced) spanned."""
        import umls2rdf_spark.pipeline as pipeline
        import umls2rdf_spark.rdf.ontology as ontology

        saved = {
            (pipeline, "write_ontology"): pipeline.write_ontology,
            (pipeline, "mrsab_record"): pipeline.mrsab_record,
            (ontology, "mrsab_record"): ontology.mrsab_record,
            (ontology, "term_blocks"): ontology.term_blocks,
        }
        tracer, session = ctx.tracer, ctx.session
        # pass index → seconds of each write_ontology call that returned
        self.write_s: dict[int, list[float]] = {}

        def write_ontology(tables, ont_code, *a, **kw):
            group = f"write:{ont_code}:{tracer.pass_}"
            if tracer.enabled:
                session.job_group(group)
            t0 = time.perf_counter()
            with tracer.span("rdf.ontology.write", sab=ont_code, group=group):
                saved[(pipeline, "write_ontology")](tables, ont_code, *a, **kw)
            self.write_s.setdefault(tracer.pass_, []).append(time.perf_counter() - t0)
            if tracer.enabled:
                session.job_group(self.pipeline_group)

        def spanned(key, name):
            fn = saved[key]

            def wrapper(*a, **kw):
                with tracer.span(name):
                    return fn(*a, **kw)

            return wrapper

        pipeline.write_ontology = write_ontology
        if tracer.enabled:
            pipeline.mrsab_record = spanned((pipeline, "mrsab_record"), "rdf.ontology.mrsab_record")
            ontology.mrsab_record = spanned((ontology, "mrsab_record"), "rdf.ontology.mrsab_record")
            ontology.term_blocks = spanned((ontology, "term_blocks"), "rdf.ontology.term_blocks_build")

        def restore():
            for (mod, attr), fn in saved.items():
                setattr(mod, attr, fn)

        return restore

    def make_pass(self, ctx: Ctx, i: int):
        from umls2rdf_spark.pipeline import load_umls_tables, run_pipeline
        from umls2rdf_spark.rdf.validate import validate_turtle

        spark, tracer, session = ctx.session.spark, ctx.tracer, ctx.session
        out_dir = os.path.join(ctx.work, "out", f"pass{i}")
        tracer.pass_ = i

        def export():
            self.pipeline_group = f"pipeline:{i}"
            if tracer.enabled:
                session.job_group(self.pipeline_group)
            with tracer.span("sources.rrf.load"):
                tables = load_umls_tables(spark, self.release.rrf_dir)
            with tracer.span("pipeline.run_pipeline"):
                return run_pipeline(
                    tables, self.release.conf, out_dir, resume=False
                )

        def validate(doc):
            def run():
                group = f"validate:{doc}:{i}"
                if tracer.enabled:
                    session.job_group(group)
                with tracer.span("rdf.validate.scan", doc=doc, group=group):
                    return validate_turtle(spark, os.path.join(out_dir, doc))

            def check(report):
                return bool(report["ok"]) and report["n_blocks"] == self.expected[doc]

            return Op(f"validate:{doc}", run, check)

        def check_export(exported):
            return sorted(exported) == sorted(EXPORT_SABS)

        ops = [Op("export", export, check_export)]
        ops += [validate(doc) for doc in sorted(self.expected)]

        def cleanup():
            self.output_bytes.append(_tree_bytes(out_dir, ".ttl"))
            shutil.rmtree(out_dir, ignore_errors=True)

        return ops, cleanup

    def extras(self) -> dict[str, float]:
        """Turtle output size; deterministic per seed."""
        out_bytes = statistics.median(self.output_bytes)
        return {
            "rdf.ontology.output_bytes": out_bytes,
            "ttl_bytes_per_rrf_byte": out_bytes / self.release.rrf_bytes,
        }

    def op_latencies(self, passes: Passes, first: int) -> list[float]:
        """Latencies of the write_ontology calls of passes ``first``
        on: one op is one ontology's export. Validations stay in
        ``pass_s`` only: a ~0.3 s validation next to ~5 s writes would
        make the median op the slowest validation, which is mostly
        scheduling jitter."""
        return [s for i, lat in self.write_s.items() if i >= first for s in lat]


class QueryWorkload:
    """The TPC-H core keys and the UMLS operator demos of ``plans/``
    (``tpch``, ``reference_demos``), each once per pass in a
    seed-shuffled order, each result checked against a DuckDB pin."""

    name = "query_mix"

    def prepare(self, ctx: Ctx) -> None:
        import gen_tables

        from umls2rdf_spark.plans import reference_demos, tpch

        self.data = os.path.join(ctx.work, "tables")
        gen_tables.write_tables(self.data, ctx.seed, QUERY_SF)
        self.queries = {
            "q1_pricing_summary": tpch.q1_pricing_summary,
            "q3_shipping_priority": tpch.q3_shipping_priority,
            "q5_local_supplier": tpch.q5_local_supplier,
            "order_priority_count": tpch.order_priority_count,
        }
        oracles = {
            "q1_pricing_summary": tpch.Q1_SQL,
            "q3_shipping_priority": tpch.Q3_SQL,
            "q5_local_supplier": tpch.Q5_SQL,
            "order_priority_count": tpch.ORDER_PRIORITY_SQL,
        }
        self.queries.update(reference_demos.QUERIES)
        oracles.update(reference_demos.ORACLES)
        self.pins = pin_oracles(self.data, oracles, gen_tables.TABLES)
        self.rng = random.Random(ctx.seed)

    def warm_up(self, ctx: Ctx, spark) -> None:
        self.queries["q1_pricing_summary"](spark, self.data).collect()

    def install(self, ctx: Ctx) -> Callable[[], None]:
        return lambda: None

    def make_pass(self, ctx: Ctx, i: int):
        spark, tracer, session = ctx.session.spark, ctx.tracer, ctx.session
        keys = sorted(self.queries)
        self.rng.shuffle(keys)
        tracer.pass_ = i

        def op(key):
            def run():
                group = f"{key}:{i}"
                if tracer.enabled:
                    session.job_group(group)
                with tracer.span("op", key=key, group=group):
                    with tracer.span("plans.build", key=key):
                        df = self.queries[key](spark, self.data)
                    with tracer.span("exec.action", key=key):
                        return df.toPandas()

            return Op(key, run, lambda pdf: fingerprint(pdf) == self.pins[key])

        return [op(k) for k in keys], lambda: None

    def extras(self) -> dict[str, float]:
        return {}

    def op_latencies(self, passes: Passes, first: int) -> list[float]:
        return [s for lat in passes.op_s[first:] for s in lat]


WORKLOADS = {w.name: w for w in (ExportWorkload, QueryWorkload)}


# ── output checks ───────────────────────────────────────────────────


def canon(pdf):
    """The project's comparison form (tools/drive_entry.py): columns
    sorted by name, values stringified, rows sorted."""
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        pdf[c] = pdf[c].map(
            lambda v: "<NULL>"
            if v is None or (isinstance(v, float) and math.isnan(v))
            else str(v)
        )
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)


def fingerprint(pdf) -> tuple[int, tuple[str, ...], str]:
    """(row count, sorted columns, sha256 of the canonical rows) —
    an order-insensitive checksum of a result."""
    c = canon(pdf)
    h = hashlib.sha256()
    for row in c.itertuples(index=False):
        h.update("\x1f".join(row).encode("utf-8"))
        h.update(b"\x1e")
    return len(c), tuple(c.columns), h.hexdigest()


def pin_oracles(data_dir: str, oracles: dict[str, str], tables) -> dict:
    import duckdb

    con = duckdb.connect()
    try:
        for t in tables:
            path = os.path.join(data_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        return {k: fingerprint(con.execute(sql).fetchdf()) for k, sql in oracles.items()}
    finally:
        con.close()


def _tree_bytes(path: str, suffix: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        if dirpath.endswith(suffix):
            total += sum(
                os.path.getsize(os.path.join(dirpath, f))
                for f in files if f.startswith("part-")
            )
    return total


# ── run ─────────────────────────────────────────────────────────────


def run(workload: str, seed: int, seconds: float, traced: bool) -> dict:
    wl = WORKLOADS[workload]()
    scratch = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(scratch, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{workload}-", dir=scratch)
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(work, sub))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    session = Session(work, traced)
    tracer = Tracer() if traced else NoTracer()
    ctx = Ctx(seed, tracer, session, work)
    try:
        t_prepare = time.perf_counter()
        wl.prepare(ctx)
        prepare_s = time.perf_counter() - t_prepare
        t0 = time.perf_counter()
        with tracer.span("session.start"):
            spark = session.start()
        start_s = time.perf_counter() - t0
        wl.warm_up(ctx, spark)
        setup_s = time.perf_counter() - t0
        meta = {
            "loadavg_start": loadavg_1m(),
            "calib_start_s": calibration_probe(spark),
            "cores": session.cores,
        }
        restore = wl.install(ctx)
        try:
            with tracer.span("run"):
                passes = run_passes(
                    lambda i: wl.make_pass(ctx, i), seconds, MIN_PASSES
                )
        finally:
            restore()
        meta["calib_end_s"] = calibration_probe(spark)
        meta["loadavg_end"] = loadavg_1m()
        rss = peak_rss_mb(session.jvm_proc.pid)
        session.stop()  # flushes the event log
        counters = stage_counters(session.event_dir) if traced else {}
    finally:
        session.shutdown()
        heap_mb = gc_log_peak_heap_mb(session.gc_log)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(scratch)  # only when no other run is using it

    warm_ops = wl.op_latencies(passes, 1)
    e2e = {
        "setup_s": setup_s,
        "first_pass_s": passes.pass_s[0],
        "pass_s": statistics.median(passes.pass_s[1:]),
        "op_p50_s": percentile(warm_ops, 0.5),
        "op_p90_s": percentile(warm_ops, 0.9),
        "peak_rss_mb": rss,
    }
    result = {
        "workload": workload,
        "seed": seed,
        "traced": traced,
        "end_to_end": e2e,
        "attempted": passes.attempted,
        "failed": passes.failed,
        "error_rate": passes.failed / passes.attempted,
        "errors": passes.errors[:20],
        "passes": len(passes.pass_s),
        "warm_ops": len(warm_ops),
        "ops_beyond_p90": sum(1 for s in warm_ops if s > e2e["op_p90_s"]),
        "extras": wl.extras(),
        "prepare_s": prepare_s,
        "pass_list_s": passes.pass_s,
        "heap_after_gc_peak_mb": heap_mb,
        **meta,
    }
    if traced:
        result["per_layer"] = per_layer(ctx, wl, passes, counters, start_s, heap_mb)
        result["spans"] = [
            {k: s[k] for k in ("id", "parent", "pass", "name", "attrs", "dur_s", "self_s")}
            for s in tracer.spans
        ]
    return result


def per_layer(ctx, wl, passes: Passes, counters, start_s, heap_mb) -> dict:
    """Per-layer figures: times and bytes per warm pass, Spark job
    counts per op. An op is a span that ran under its own job group."""
    warm = [s for s in ctx.tracer.spans if s["pass"] >= 1]
    n_warm = len(passes.pass_s) - 1

    def per_pass(name, field="dur_s", **match):
        return sum(
            s[field] for s in warm
            if s["name"] == name
            and all(s["attrs"].get(k) == v for k, v in match.items())
        ) / n_warm

    m: dict[str, float] = {name: 0.0 for name in PER_LAYER}
    m["session.start_s"] = start_s
    m["trace.pass_s"] = statistics.median(passes.pass_s[1:])
    m["sources.rrf.load_s"] = per_pass("sources.rrf.load")
    m["plans.build_s"] = per_pass("plans.build")
    m["exec.action_s"] = per_pass("exec.action")
    for sab in EXPORT_SABS:
        m[f"rdf.ontology.write_s.{sab}"] = per_pass("rdf.ontology.write", sab=sab)
    m["rdf.ontology.term_blocks_build_s"] = per_pass("rdf.ontology.term_blocks_build")
    m["rdf.ontology.mrsab_record_s"] = per_pass("rdf.ontology.mrsab_record")
    m["rdf.ontology.mrsab_record_calls"] = sum(
        1 for s in warm if s["name"] == "rdf.ontology.mrsab_record"
    ) / n_warm
    m["rdf.validate.scan_s"] = per_pass("rdf.validate.scan")
    m["pipeline.self_s"] = per_pass("pipeline.run_pipeline", "self_s")
    m.update(wl.extras())
    m["jvm.heap_after_gc_peak_mb"] = heap_mb

    op_spans = [s for s in warm if "group" in s["attrs"]]
    ops = [s["attrs"]["group"] for s in op_spans]
    # jobs outside any op (run_pipeline's own) still count in the totals
    groups = ops + [f"pipeline:{i}" for i in range(1, n_warm + 1)]

    def total(names, key):
        return sum(counters.get(g, {}).get(key, 0.0) for g in names)

    for key in ("jobs", "stages", "tasks"):
        m[f"exec.{key}"] = total(ops, key) / max(len(ops), 1)
    op_wall = sum(s["dur_s"] for s in op_spans)
    m["exec.core_busy_ratio"] = (
        total(ops, "task_run_s") / (op_wall * ctx.session.cores) if op_wall else 0.0
    )
    for key in ("shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
                "input_bytes", "gc_s"):
        m[f"exec.{key}"] = total(groups, key) / n_warm
    return m


def report(result: dict) -> None:
    """Readable summary on stderr: every end-to-end metric with its
    unit, error counts, sample counts and host context."""
    w = sys.stderr.write
    w(f"\n== perfbench {result['workload']} seed={result['seed']} "
      f"traced={int(result['traced'])} cores={result['cores']}\n")
    for name, unit in END_TO_END.items():
        w(f"  {name:16s} {result['end_to_end'][name]:12.4f} {unit}\n")
    w(f"  {'error_rate':16s} {result['error_rate']:12.4f} ratio "
      f"({result['failed']} failed / {result['attempted']} attempted)\n")
    for name, value in result["extras"].items():
        w(f"  {name:26s} {value:14.4f} {PER_LAYER[name]}\n")
    w(f"  {'jvm.heap_after_gc_peak_mb':26s} {result['heap_after_gc_peak_mb']:14.4f} MB\n")
    w(f"  passes={result['passes']} warm_ops={result['warm_ops']} "
      f"ops_beyond_p90={result['ops_beyond_p90']}\n")
    w(f"  loadavg {result['loadavg_start']:.2f} -> {result['loadavg_end']:.2f}; "
      f"calibration probe {result['calib_start_s']:.3f}s -> "
      f"{result['calib_end_s']:.3f}s\n")
    for err in result["errors"]:
        w(f"  ERROR {err}\n")
    if result["traced"]:
        for name, unit in PER_LAYER.items():
            w(f"  {name:36s} {result['per_layer'][name]:16.4f} {unit}\n")
        if "tracing_overhead_s" in result:
            w(f"  tracing overhead (traced pass_s - untraced pass_s): "
              f"{result['tracing_overhead_s']:+.4f} s\n")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))

    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}")
    if result["traced"] and os.path.exists(stem + "-trace0.json"):
        with open(stem + "-trace0.json") as fh:
            untraced = json.load(fh)
        result["tracing_overhead_s"] = (
            result["per_layer"]["trace.pass_s"] - untraced["end_to_end"]["pass_s"]
        )
    with open(f"{stem}-trace{args.trace}.json", "w") as fh:
        json.dump(result, fh, indent=1)
    report(result)

    declared = PER_LAYER if result["traced"] else END_TO_END
    values = result["per_layer"] if result["traced"] else result["end_to_end"]
    if set(values) != set(declared):
        raise RuntimeError(f"metrics differ from BENCHMARK.json: {sorted(set(values) ^ set(declared))}")
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {
            k: {"value": float(values[k]), "unit": declared[k]} for k in declared
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
