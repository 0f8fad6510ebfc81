"""KG-pipeline benchmark.

Run from the repository root:

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 18 --trace 0

Workloads (see ``workloads.py``): ``kg_build``, ``corpus_dedup``. Load
shape: one driver process running ``local[nproc]``, a closed loop of one
job at a time with no client threads.

A run:

1. generates the seeded inputs as multi-file parquet and computes the
   reference digest outside Spark (untimed);
2. starts a SparkSession sized from the host, makes the workload's
   warm-up pass and then ``warm_jobs`` untimed runs of the whole job
   (JIT, codegen and the Python workers warm); the wall time of all of
   it is ``setup_s``;
3. times at least ``MIN_JOBS`` warm jobs, and keeps starting jobs until
   ``--seconds`` have passed (the job in flight finishes); the timing
   metrics are medians over these jobs. Each job, warm-up ones included,
   is preceded by an untimed reset and followed by an output check
   against the reference;
4. prints a host line, then the result as one compact JSON object on the
   last line. Every per-job sample goes to a side file under
   ``perfbench/_work/results/``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` turns on
Spark's event log and a tracing Python worker daemon
(``tracing_daemon.py``), traces the first timed job, and reports its
per-layer metrics (``trace.py``); one more job, untraced, gives the
tracing overhead.

Exit code 2, with no result line, when the tree it runs in does not hold
the ``gliner_spark`` package.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
# the end-to-end line stays well inside a 2,000-char log tail; the
# per-layer line carries ~50 metrics and may run longer
LINE_LIMIT = {0: 1500, 1: 8000}
# timed jobs per untraced run, so the timing metrics are medians
MIN_JOBS = 2


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=["kg_build", "corpus_dedup"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def end_to_end(w, setup_s: float, samples: list, failed: int) -> dict:
    """``samples`` holds every job; the warm-up ones count only in
    ``ok_frac`` and ``output_match``."""
    ok = [s for s in samples if s["match"]]
    timed = [s for s in samples if not s.get("warm")]
    base = [s for s in timed if s["match"]] or timed
    job_s = statistics.median(s["job_s"] for s in base)
    return {
        "setup_s": (setup_s, "s"),
        "job_s": (job_s, "s"),
        "rows_per_s": (w.input_rows / job_s, "rows/s"),
        "cpu_s_per_krow": (
            statistics.median(s["cpu_s"] for s in base) / (w.input_rows / 1000.0), "s"
        ),
        "ok_frac": (1.0 - failed / len(samples), "ratio"),
        "output_match": (1.0 if len(ok) == len(samples) else 0.0, "0/1"),
    }


def compact(correct: bool, attempted: int, failed: int, metrics: dict) -> str:
    return json.dumps(
        {
            "correct": correct,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        },
        separators=(",", ":"),
    )


def failed_tasks(spark, group: str) -> int:
    st = spark.sparkContext.statusTracker()
    n = 0
    for jid in st.getJobIdsForGroup(group):
        job = st.getJobInfo(jid)
        for sid in job.stageIds if job else []:
            info = st.getStageInfo(sid)
            n += info.numFailedTasks if info else 0
    return n


def run_jobs(w, ctx, seconds: float, min_jobs: int, traced=None, warm=False) -> tuple:
    """The closed loop: at least ``min_jobs`` jobs, one after another,
    then more until ``seconds`` have passed; the job in flight finishes.

    ``traced(i)`` says whether job ``i`` runs with worker tracing on.
    ``warm`` marks the jobs as warm-up jobs (job group ``perfbench-warm-i``).
    """
    from perfbench import host

    samples, failed = [], 0
    t_start = time.perf_counter()
    pid = os.getpid()
    while True:
        i = len(samples)
        w.reset(ctx)
        # untimed: each job starts from a collected heap, the garbage of the
        # one before it gone and the heap shrunk back to what is live
        ctx.spark.sparkContext._jvm.System.gc()
        on = traced(i) if traced else False
        group = f"perfbench-{'warm' if warm else 'job'}-{i}"
        sc = ctx.spark.sparkContext
        sc.setJobGroup(group, group)
        sc.setLocalProperty("perfbench.trace", "1" if on else "0")
        ctx.spans = []
        error = None
        cpu0 = host.tree_cpu_s(pid)
        with host.RssSampler(pid) as rss:
            t0 = time.perf_counter()
            try:
                extra = w.job(ctx)
            except Exception:  # one failed run is counted, the loop goes on
                error = traceback.format_exc()
                extra = {}
            job_s = time.perf_counter() - t0
        cpu_s = host.tree_cpu_s(pid) - cpu0
        bad_tasks = failed_tasks(ctx.spark, group)
        match = False
        if error is None:
            try:
                match = w.digest() == w.expected
            except Exception:
                error = traceback.format_exc()
        if error or bad_tasks or not match:
            failed += 1
        samples.append(
            {
                "job": i, "warm": warm, "traced": on, "group": group, "job_s": job_s,
                "cpu_s": cpu_s, "peak_rss_mb": rss.peak_mb, "failed_tasks": bad_tasks,
                "match": match, "error": error, "spans": ctx.spans, **extra,
            }
        )
        if i + 1 >= min_jobs and time.perf_counter() - t_start >= seconds:
            return samples, failed


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "gliner_spark")):
        print(f"perfbench: no gliner_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    from perfbench import host, trace, workloads

    work = os.path.join(WORK, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")

    w = workloads.make(args.workload, work, args.seed)
    w.prepare()

    cores, mem_mb = host.nproc(), host.mem_total_mb()
    settings = host.session_settings(cores, mem_mb)
    extra_conf = trace.session_conf(work) if args.trace else {}
    facts = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": cores, "mem_total_mb": mem_mb, "loadavg": host.loadavg(),
        **host.versions(), "settings": settings,
    }

    t0 = time.perf_counter()
    spark = host.build_session(work, settings, extra_conf)
    try:
        ctx = workloads.Ctx(spark)
        w.warm_up(ctx)
        warm, warm_failed = run_jobs(w, ctx, 0, w.warm_jobs, warm=True)
        setup_s = time.perf_counter() - t0
        if args.trace:
            timed, failed = run_jobs(w, ctx, 0, 2, traced=lambda i: i == 0)
        else:
            timed, failed = run_jobs(w, ctx, args.seconds, MIN_JOBS)
        samples, failed = warm + timed, warm_failed + failed
        facts["loadavg_after"] = host.loadavg()
        if args.trace:
            # untimed funnel counts, in a job group of their own
            spark.sparkContext.setJobGroup("perfbench-counts", "perfbench-counts")
            spark.sparkContext.setLocalProperty("perfbench.trace", "0")
            counts = w.counts(ctx)
    finally:
        host.stop_session(spark)

    if args.trace:
        metrics = trace.per_layer(w, work, timed, counts)
    else:
        metrics = end_to_end(w, setup_s, samples, failed)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if args.trace else "end_to_end"]
    if {k: u for k, (_v, u) in metrics.items()} != {m["name"]: m["unit"] for m in spec}:
        raise RuntimeError("metrics differ from the names and units in BENCHMARK.json")
    correct = failed == 0
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    side = os.path.join(
        WORK, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    )
    with open(side, "w") as f:
        json.dump({"host": facts, "setup_s": setup_s, "samples": samples,
                   "metrics": metrics}, f, indent=1, default=str)
    print(json.dumps(facts, separators=(",", ":")))
    line = compact(correct, len(samples), failed, metrics)
    if len(line) > LINE_LIMIT[args.trace]:
        raise RuntimeError(f"result line is {len(line)} chars, over {LINE_LIMIT[args.trace]}")
    print(line)
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
