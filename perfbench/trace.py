"""Per-layer metrics of a traced run.

Three sources, all written by the traced session itself:

* the spans ``workloads.Ctx.layer`` records on the driver around each
  layer call (wall time per layer, and the residual of a job outside
  them);
* Spark's event log (uncompressed, not rolling): jobs carry their job
  group and layer as local properties, so task metrics and SQL operator
  metrics (the ``MapInPandas`` Python-runner timings, scan time, written
  files) are attributed to the jobs of the traced runs and to layers;
* the worker span files of ``tracing_daemon.py`` (per-task worker
  set-up, model and kernel self times and counts, summed over worker
  processes).

Every metric describes the run's first timed job, which is traced.
Worker-side times are summed over the parallel workers, so they are busy
time, not wall time. A metric of a layer the workload does
not call reads 0.

The end-to-end metric each layer metric should move, and on which
workload:

* ``operators.extract.*`` (``.boundary_s`` is the Python-runner time
  minus the model span total): ``job_s`` on kg_build;
  ``.worker_init_s`` also ``setup_s``;
* ``model.*``, ``kernel.*``: ``rows_per_s`` on kg_build, though only
  weakly: the ~100 documents a job extracts cost well under a second
  of worker time there, beside a job of over ten seconds that linking
  and the per-chunk jobs dominate; none of them should move corpus_dedup;
* ``plans.skew.*``, ``operators.linking.*``, ``sinks.graph.*``,
  ``sinks.ntriples.*``: ``job_s`` on kg_build;
* ``plans.manifest.*`` (``.chunk_s_p50`` and ``.chunk_s_p90`` are
  per-chunk commit latencies from ``ChunkResult.wall_ms``): ``job_s``
  on kg_build;
* ``operators.canonicalize.*``: ``job_s`` on both workloads;
  ``operators.dedup.*``: ``rows_per_s`` on corpus_dedup;
* ``sources.*``: ``job_s`` on both workloads;
* ``spark.task.cpu_s``: ``cpu_s_per_krow``; ``spark.task.gc_s``:
  ``job_s``; ``spark.peak_rss_mb`` (the JVM and its Python workers) is
  memory, which no end-to-end metric carries: the JVM sizes its heap
  adaptively, so its peak spreads by a fifth or more between runs of the
  same code; ``spark.exchange.*``: ``job_s`` on
  corpus_dedup; ``spark.jobs``: ``job_s`` on kg_build;
  ``spark.task.failed``: ``ok_frac``.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from collections import defaultdict
from typing import Dict, List

# the extraction runs in the per-chunk jobs of ``RunManifest.run``
EXTRACT_LAYER = "plans.manifest"
PY_RUN = "time to run Python workers"
PY_START = "time to start Python workers"
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
SCAN_TIME = "scan time"
FILES_WRITTEN = "number of written files"


def session_conf(work: str) -> Dict[str, str]:
    """Event log and tracing daemon settings for the traced session."""
    log_dir = os.path.join(work, "eventlog")
    span_dir = os.path.join(work, "spans")
    os.makedirs(log_dir, exist_ok=True)
    os.makedirs(span_dir, exist_ok=True)
    os.environ["PERFBENCH_TRACE_DIR"] = span_dir
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.python.daemon.module": "perfbench.tracing_daemon",
    }


def _plan_metrics(node: dict, out: Dict[int, tuple]) -> None:
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = (node.get("nodeName", ""), m["name"])
    for child in node.get("children", []):
        _plan_metrics(child, out)


class EventLog:
    """The parts of one application's event log the metrics need."""

    def __init__(self, path: str):
        self.jobs: Dict[int, dict] = {}  # job id -> props, stages, times
        self.tasks: Dict[int, List[dict]] = defaultdict(list)  # stage -> task ends
        self.stage_accums: Dict[int, Dict[int, float]] = defaultdict(dict)
        self.sql_accum: Dict[int, tuple] = {}  # accumulator -> (node, metric)
        self.sql_plans: Dict[int, str] = {}  # execution id -> physical plan text
        self.driver_accums: Dict[int, Dict[int, float]] = defaultdict(dict)
        with open(path) as f:
            for line in f:
                self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            self.jobs[e["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "layer": props.get("perfbench.layer"),
                "sql": int(props["spark.sql.execution.id"]) if "spark.sql.execution.id" in props else None,
                "start": e["Submission Time"] / 1000.0,
                "stages": e["Stage IDs"],
            }
        elif kind == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            self.tasks[e["Stage ID"]].append(e)
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            for a in info.get("Accumulables", []):
                try:
                    self.stage_accums[info["Stage ID"]][a["ID"]] = float(a["Value"])
                except (TypeError, ValueError):
                    pass
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            self.sql_plans[e["executionId"]] = e.get("physicalPlanDescription", "")
            _plan_metrics(e["sparkPlanInfo"], self.sql_accum)
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            _plan_metrics(e["sparkPlanInfo"], self.sql_accum)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc, value in e.get("accumUpdates", []):
                self.driver_accums[e["executionId"]][acc] = float(value)

    def jobs_where(self, groups, layers=None) -> List[int]:
        return [
            j for j, info in self.jobs.items()
            if info["group"] in groups and (layers is None or info["layer"] in layers)
        ]

    def stages(self, jobs) -> List[int]:
        return sorted({s for j in jobs for s in self.jobs[j]["stages"] if s in self.tasks})

    def sql_metric(self, stages, metric: str) -> float:
        return sum(
            value for s in stages for acc, value in self.stage_accums.get(s, {}).items()
            if self.sql_accum.get(acc, ("", ""))[1] == metric
        )

    def driver_metric(self, jobs, metric: str) -> float:
        execs = {self.jobs[j]["sql"] for j in jobs} - {None}
        return sum(
            v for e in execs for acc, v in self.driver_accums.get(e, {}).items()
            if self.sql_accum.get(acc, ("", ""))[1] == metric
        )

    def task_metric(self, stages, *path: str) -> float:
        total = 0.0
        for s in stages:
            for t in self.tasks[s]:
                v = t.get("Task Metrics") or {}
                for key in path:
                    v = v.get(key, 0) if isinstance(v, dict) else 0
                total += v or 0
        return total

    def failed_tasks(self, stages) -> int:
        return sum(1 for s in stages for t in self.tasks[s] if t["Task Info"].get("Failed"))

    def task_skew(self, stage: int) -> float:
        times = [
            t["Task Info"]["Finish Time"] - t["Task Info"]["Launch Time"]
            for t in self.tasks[stage] if not t["Task Info"].get("Failed")
        ]
        med = statistics.median(times) if times else 0
        return max(times) / med if med else 1.0


def worker_spans(span_dir: str, group: str) -> Dict[str, Dict[str, float]]:
    """Worker span totals of one traced job group, summed over processes."""
    out: Dict[str, Dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for path in glob.glob(os.path.join(span_dir, "worker-*.json")):
        with open(path) as f:
            per_group = json.load(f)
        for span, values in per_group.get(group, {}).items():
            for k, v in values.items():
                out[span][k] += v
    return out


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def quantile(values: List[float], q: float) -> float:
    """Inclusive quantile (``q`` in (0, 1)); 0 without samples."""
    if len(values) < 2:
        return values[0] if values else 0.0
    return statistics.quantiles(values, n=100, method="inclusive")[round(q * 100) - 1]


def per_layer(w, work: str, samples: List[dict], counts: Dict[str, float]) -> Dict[str, tuple]:
    """Every per-layer metric, as {name: (value, unit)}.

    ``samples[0]`` is the traced job the metrics describe: like the timed
    jobs of an untraced run, it runs after the warm-up jobs.
    ``samples[1]`` repeats it untraced: their difference is the tracing
    overhead.
    """
    job = samples[0]
    groups = {job["group"]}
    logs = glob.glob(os.path.join(work, "eventlog", "*"))
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log, found {logs}")
    log = EventLog(logs[0])
    jobs = log.jobs_where(groups)
    stages = log.stages(jobs)
    ex_jobs = log.jobs_where(groups, (EXTRACT_LAYER,))
    ex_stages = [s for s in log.stages(ex_jobs) if log.sql_metric([s], PY_RUN) > 0]
    ws = worker_spans(os.path.join(work, "spans"), job["group"])

    def span_wall(layer: str) -> float:
        return sum(b - a for name, a, b in job["spans"] if name == layer)

    def wsum(span: str, key: str) -> float:
        return ws.get(span, {}).get(key, 0.0)

    # SQL "timing" metrics are milliseconds
    python_s = log.sql_metric(ex_stages, PY_RUN) / 1e3
    pipeline_total = wsum("model.pipeline", "total_s")
    chunk_walls = job.get("chunk_walls_s", [])
    n_chunks = len(chunk_walls)
    # wall of the Spark jobs that run the extraction's Python stages
    extraction_job_s = sum(
        log.jobs[j]["end"] - log.jobs[j]["start"] for j in ex_jobs
        if any(log.sql_metric([s], PY_RUN) > 0 for s in log.jobs[j]["stages"])
    )
    scans = {
        log.jobs[j]["sql"] for j in ex_jobs
        if w.src in log.sql_plans.get(log.jobs[j]["sql"], "")
    }
    graph_jobs = log.jobs_where(groups, ("sinks.graph",))
    all_spans = sum(b - a for _n, a, b in job["spans"])
    m = {
        "operators.extract.s": (extraction_job_s, "s"),
        "operators.extract.python_s": (python_s, "s"),
        # getting a worker (daemon fork, or an idle one) plus its per-task set-up
        "operators.extract.worker_init_s": (
            log.sql_metric(ex_stages, PY_START) / 1e3
            + wsum(f"worker.init.{EXTRACT_LAYER}", "total_s"),
            "s",
        ),
        "operators.extract.arrow_bytes_in": (log.sql_metric(ex_stages, PY_SENT), "bytes"),
        "operators.extract.arrow_bytes_out": (log.sql_metric(ex_stages, PY_RECV), "bytes"),
        "operators.extract.boundary_s": (python_s - pipeline_total if ex_stages else 0.0, "s"),
        "model.pipeline.self_s": (wsum("model.pipeline", "self_s"), "s"),
        "model.pipeline.docs": (wsum("model.pipeline", "docs"), "count"),
        "model.pipeline.empty_docs": (wsum("model.pipeline", "empty_docs"), "count"),
        "model.encoder.score_s": (wsum("model.encoder.score", "self_s"), "s"),
        "model.encoder.spans_scored": (wsum("model.encoder.score", "spans_scored"), "count"),
        "model.encoder.relex_s": (wsum("model.encoder.relex", "self_s"), "s"),
        "model.encoder.pairs_scored": (wsum("model.encoder.relex", "pairs_scored"), "count"),
        "kernel.tokenization.s": (wsum("kernel.tokenization", "self_s"), "s"),
        "kernel.tokenization.words": (wsum("kernel.tokenization", "words"), "count"),
        "kernel.tokenization.truncated_docs": (wsum("kernel.tokenization", "truncated_docs"), "count"),
        "kernel.decoding.s": (wsum("kernel.decoding", "self_s"), "s"),
        "kernel.decoding.span_keep_ratio": (
            _ratio(wsum("kernel.decoding", "entities_kept"), wsum("model.encoder.score", "spans_scored")),
            "ratio",
        ),
        "kernel.decoding.pair_keep_ratio": (
            _ratio(wsum("kernel.decoding", "triples_out"), wsum("model.encoder.relex", "pairs_scored")),
            "ratio",
        ),
        "kernel.charmap.s": (wsum("kernel.charmap", "self_s"), "s"),
        "plans.skew.shuffle_bytes": (
            log.task_metric(log.stages(ex_jobs), "Shuffle Write Metrics", "Shuffle Bytes Written"),
            "bytes",
        ),
        "plans.skew.task_skew": (
            statistics.median(log.task_skew(s) for s in ex_stages) if ex_stages else 0.0, "ratio"
        ),
        "plans.manifest.s": (span_wall(EXTRACT_LAYER), "s"),
        "plans.manifest.jobs_per_chunk": (_ratio(len(ex_jobs), n_chunks), "count"),
        "plans.manifest.source_scans": (_ratio(len(scans), n_chunks), "count"),
        "plans.manifest.chunk_s_p50": (quantile(chunk_walls, 0.5), "s"),
        "plans.manifest.chunk_s_p90": (quantile(chunk_walls, 0.9), "s"),
        "plans.manifest.overhead_s": (
            _ratio(sum(chunk_walls) - extraction_job_s, n_chunks), "s"
        ),
        "sinks.graph.write_s": (span_wall("sinks.graph"), "s"),
        "sinks.graph.bytes_written": (
            log.task_metric(log.stages(graph_jobs), "Output Metrics", "Bytes Written"), "bytes"
        ),
        "sinks.graph.files_written": (log.driver_metric(graph_jobs, FILES_WRITTEN), "count"),
        "sinks.ntriples.write_s": (span_wall("sinks.ntriples"), "s"),
        "operators.linking.s": (span_wall("operators.linking"), "s"),
        "operators.linking.candidate_pairs": (counts.get("link_candidates", 0.0), "count"),
        "operators.linking.match_ratio": (
            _ratio(counts.get("link_matches", 0.0), counts.get("link_candidates", 0.0)), "ratio"
        ),
        "operators.canonicalize.cc_s": (span_wall("operators.canonicalize"), "s"),
        "operators.canonicalize.edges": (counts.get("cc_edges", 0.0), "count"),
        "operators.dedup.exact_s": (span_wall("operators.dedup.exact"), "s"),
        "operators.dedup.minhash_s": (span_wall("operators.dedup.minhash"), "s"),
        "operators.dedup.lsh_candidates": (counts.get("lsh_candidates", 0.0), "count"),
        "operators.dedup.verify_ratio": (
            _ratio(counts.get("lsh_pairs", 0.0), counts.get("lsh_candidates", 0.0)), "ratio"
        ),
        "operators.dedup.substring_s": (span_wall("operators.dedup.substring"), "s"),
        "operators.dedup.resolve_s": (span_wall("operators.dedup.resolve"), "s"),
        "sources.scan_s": (log.sql_metric(stages, SCAN_TIME) / 1e3, "s"),
        "sources.bytes_read": (log.task_metric(stages, "Input Metrics", "Bytes Read"), "bytes"),
        "spark.task.cpu_s": (log.task_metric(stages, "Executor CPU Time") / 1e9, "s"),
        "spark.task.gc_s": (log.task_metric(stages, "JVM GC Time") / 1e3, "s"),
        "spark.exchange.shuffle_bytes": (
            log.task_metric(stages, "Shuffle Write Metrics", "Shuffle Bytes Written"), "bytes"
        ),
        "spark.exchange.fetch_wait_s": (
            log.task_metric(stages, "Shuffle Read Metrics", "Fetch Wait Time") / 1e3, "s"
        ),
        "spark.exchange.spill_bytes": (log.task_metric(stages, "Disk Bytes Spilled"), "bytes"),
        "spark.jobs": (len(jobs), "count"),
        "spark.task.failed": (log.failed_tasks(stages), "count"),
        # summed PSS of the JVM and its Python workers, sampled from /proc
        "spark.peak_rss_mb": (job["peak_rss_mb"], "MB"),
        "trace.job_s": (job["job_s"], "s"),
        "trace.overhead_s": (job["job_s"] - samples[1]["job_s"], "s"),
        "trace.residual_s": (job["job_s"] - all_spans, "s"),
    }
    return m
