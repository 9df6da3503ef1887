#!/usr/bin/env python
"""Count Spark jobs / stages / tasks one warm execution of a declared
query schedules (guide §1: know whether time is compute or per-stage
overhead — at sf0.1 a query that runs 40 jobs of 8 ms tasks is
scheduler-bound, and the fix is fewer exchanges/jobs, which is also
what a 100 TB run wants).

``--export`` does the same for the Turtle export: it writes the
``perfbench/gen_rrf`` release (default seed 1, 4000 concepts per
ontology) to a temp dir and prints, per configured ontology, the Spark
jobs of one warm ``write_ontology`` call and the shape of its
``term_blocks`` plan before AQE re-plans it: hash Exchanges (and those
keyed by ``code`` alone), broadcast Exchanges and CSV scans per table.

Usage: python tools/job_counts.py key [key ...]
       python tools/job_counts.py --export [seed] [concepts]
"""
from __future__ import annotations

import os
import re
import sys
import tempfile
import time
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from umls2rdf_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

CODE_EXCHANGE = re.compile(r"Exchange hashpartitioning\(code#\d+, \d+\)")
CSV_SCAN = re.compile(
    r"FileScan csv .*?Location: \w+\(\d+ paths\)\[([^\]]+)\]"
)


def group_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) the job group ``group`` ran."""
    tracker = sc.statusTracker()
    job_ids = tracker.getJobIdsForGroup(group)
    stages = 0
    tasks = 0
    for j in job_ids:
        info = tracker.getJobInfo(j)
        if info is None:
            continue
        for s in info.stageIds:
            si = tracker.getStageInfo(s)
            if si is not None:
                stages += 1
                tasks += si.numTasks
    return len(job_ids), stages, tasks


def plan_shape(plan: str) -> str:
    """Exchange and CSV-scan counts of a physical plan's text."""
    scans = Counter(
        os.path.basename(p).removesuffix(".RRF")
        for p in CSV_SCAN.findall(plan)
    )
    per_table = " ".join(f"{t}={n}" for t, n in sorted(scans.items()))
    return (
        f"hash_exchanges={plan.count('Exchange hashpartitioning(')} "
        f"code_exchanges={len(CODE_EXCHANGE.findall(plan))} "
        f"broadcast_exchanges={plan.count('BroadcastExchange')} "
        f"csv_scans={sum(scans.values())} ({per_table})"
    )


def export_counts(spark, seed: int, concepts: int) -> None:
    """Run ``run_pipeline`` twice over the release with its
    ``write_ontology`` and ``term_blocks`` wrapped, so each ontology's
    jobs land in a job group of their own and its class-block plan is
    kept for inspection."""
    sys.path.insert(0, os.path.join(ROOT, "perfbench"))
    import gen_rrf

    from umls2rdf_spark import pipeline
    from umls2rdf_spark.rdf import ontology

    sc = spark.sparkContext
    write_ontology, term_blocks = pipeline.write_ontology, ontology.term_blocks
    built = []  # (build seconds, DataFrame) of each term_blocks call
    runs: dict[str, list] = {}  # code → (wall, jobs, stages, tasks) per pass

    def timed_term_blocks(*a, **kw):
        t0 = time.perf_counter()
        df = term_blocks(*a, **kw)
        built.append((time.perf_counter() - t0, df))
        return df

    def counted_write(tables, code, *a, **kw):
        group = f"jobcount-{code}-{len(runs.get(code, []))}"
        sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        write_ontology(tables, code, *a, **kw)
        wall = time.perf_counter() - t0
        sc.setJobGroup(None, None)
        runs.setdefault(code, []).append((wall, *group_counts(sc, group)))

    pipeline.write_ontology = counted_write
    ontology.term_blocks = timed_term_blocks
    try:
        with tempfile.TemporaryDirectory(prefix="job_counts_") as work:
            release = gen_rrf.write_release(
                os.path.join(work, "rrf"), seed, concepts
            )
            tables = pipeline.load_umls_tables(spark, release.rrf_dir)
            for run in ("cold", "warm"):
                pipeline.run_pipeline(
                    tables, release.conf, os.path.join(work, run),
                    resume=False,
                )
    finally:
        pipeline.write_ontology = write_ontology
        ontology.term_blocks = term_blocks

    # the warm pass's term_blocks calls, one per ontology in run order
    warm_built = built[len(runs):]
    for (code, (cold, warm)), (build, df) in zip(runs.items(), warm_built):
        plan = df._jdf.queryExecution().executedPlan().toString()
        wall, jobs, stages, tasks = warm
        print(
            f"== {code}: warm write_ontology {wall:.2f}s jobs={jobs} "
            f"stages={stages} tasks={tasks} (cold jobs={cold[1]})\n"
            f"   term_blocks build {build:.2f}s, plan: {plan_shape(plan)}"
        )


def main() -> None:
    args = sys.argv[1:]
    spark = get_spark(
        app_name="umls2rdf-spark-jobcounts",
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    if args[:1] == ["--export"]:
        seed = int(args[1]) if len(args) > 1 else 1
        concepts = int(args[2]) if len(args) > 2 else 4000
        export_counts(spark, seed, concepts)
        return

    import __spark_entry__ as entrymod

    keys = args or ["text_scoring"]
    sc = spark.sparkContext
    qs = entrymod.queries()
    qs["q1_pricing_summary"](spark, SF_DIR).count()

    for key in keys:
        fn = qs[key]
        fn(spark, SF_DIR).count()  # warmup (bench methodology)
        df = fn(spark, SF_DIR)     # build OUTSIDE the measured group:
        group = f"jobcount-{key}"  # build-time jobs counted separately
        sc.setJobGroup(group, key)
        t0 = time.perf_counter()
        df.count()
        wall = time.perf_counter() - t0
        sc.setJobGroup(None, None)
        jobs, stages, tasks = group_counts(sc, group)
        print(
            f"== {key}: exec {wall:.2f}s  jobs={jobs} "
            f"stages={stages} tasks={tasks}"
        )


if __name__ == "__main__":
    main()
