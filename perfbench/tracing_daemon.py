"""Tracing Python worker daemon for the benchmark's traced run.

Configured as ``spark.python.daemon.module``. Before serving workers it
wraps the public ``model.*`` and ``kernel.*`` functions of the
extraction path, and the task set-up steps of ``pyspark.worker``, so
every forked worker inherits the wrappers. A wrapper records a span
(self time = duration minus the time of the spans it encloses) and the
counts at that boundary, keyed by the Spark job group of the running
task. Tracing is on only for tasks whose local property
``perfbench.trace`` is ``"1"``, so one session can alternate untraced and
traced jobs.

Worker set-up is timed here rather than read from Spark's "time to
initialize Python workers" metric: a reused worker starts that clock
when it begins waiting for its next task, so the metric counts idle
time between tasks.

Totals stay in memory. A forked worker leaves through ``os._exit``, so
no exit hook would run: the worker rewrites its totals file
(``$PERFBENCH_TRACE_DIR/worker-<pid>.json``) after each task instead.
"""

from __future__ import annotations

import functools
import json
import os
import time
from typing import Callable, Dict, List


class Recorder:
    """Per-process span totals: {group: {span: {"total_s", "self_s", "calls", counters...}}}."""

    def __init__(self, out_dir: str):
        self.out_dir = out_dir
        self.totals: Dict[str, Dict[str, Dict[str, float]]] = {}
        self.group = None  # job group of the traced task in flight, else None
        self.layer = None  # the task's ``perfbench.layer`` property
        self._stack: List[List[float]] = []  # [start, child_s] per open span

    def begin_task(self) -> None:
        from pyspark import TaskContext

        tc = TaskContext.get()
        on = tc is not None and tc.getLocalProperty("perfbench.trace") == "1"
        self.group = tc.getLocalProperty("spark.jobGroup.id") if on else None
        self.layer = tc.getLocalProperty("perfbench.layer") if on else None

    def count(self, span: str, **counts: float) -> None:
        entry = self.totals.setdefault(self.group, {}).setdefault(span, {})
        for k, v in counts.items():
            entry[k] = entry.get(k, 0) + v

    def wrap(
        self, span: str, fn: Callable, counter: Callable = None, per_layer: bool = False
    ) -> Callable:
        """``fn`` recorded as ``span`` (``span.<layer>`` if ``per_layer``);
        ``counter(args, result)`` returns the counts to add."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if self.group is None:
                return fn(*args, **kwargs)
            frame = [time.perf_counter(), 0.0]
            self._stack.append(frame)
            try:
                result = fn(*args, **kwargs)
            finally:
                self._stack.pop()
                dur = time.perf_counter() - frame[0]
                if self._stack:
                    self._stack[-1][1] += dur
                name = f"{span}.{self.layer}" if per_layer else span
                self.count(name, total_s=dur, self_s=dur - frame[1], calls=1)
            if counter is not None:
                self.count(name, **counter(args, result))
            return result

        return traced

    def flush(self) -> None:
        path = os.path.join(self.out_dir, f"worker-{os.getpid()}.json")
        with open(path + ".tmp", "w") as f:
            json.dump(self.totals, f)
        os.replace(path + ".tmp", path)


def _blank(t) -> bool:
    return not isinstance(t, str) or not t.strip()


def install(rec: Recorder) -> None:
    """Wrap the task set-up steps and the extraction path's model and
    kernel entry points."""
    import pyspark.worker as pw

    from gliner_spark.model import encoder, pipeline

    # pyspark.worker.main calls these by their module-global names, in
    # this order, once per task, after it has read the task's local
    # properties
    spark_files = rec.wrap("worker.init", pw.setup_spark_files, per_layer=True)

    @functools.wraps(spark_files)
    def setup_spark_files(*args, **kwargs):
        rec.begin_task()
        return spark_files(*args, **kwargs)

    pw.setup_spark_files = setup_spark_files
    pw.setup_broadcasts = rec.wrap("worker.init", pw.setup_broadcasts, per_layer=True)
    pw.read_udfs = rec.wrap("worker.init", pw.read_udfs, per_layer=True)

    P = pipeline.GLiNERPipeline
    max_len = pipeline.PipelineConfig().max_len
    P.predict_triples_batch = rec.wrap(
        "model.pipeline", P.predict_triples_batch,
        lambda a, r: {"docs": len(a[1]), "empty_docs": sum(map(_blank, a[1]))},
    )
    pipeline.tokenize_with_offsets = rec.wrap(
        "kernel.tokenization", pipeline.tokenize_with_offsets,
        lambda a, r: {"words": len(r[0]), "truncated_docs": int(len(r[0]) > max_len)},
    )
    pipeline.decode_span_probs = rec.wrap(
        "kernel.decoding", pipeline.decode_span_probs, lambda a, r: {"entities_kept": len(r)}
    )
    pipeline.decode_relations = rec.wrap(
        "kernel.decoding", pipeline.decode_relations, lambda a, r: {"triples_out": len(r)}
    )
    pipeline.map_spans_to_char = rec.wrap("kernel.charmap", pipeline.map_spans_to_char)
    pipeline.format_relations = rec.wrap("kernel.charmap", pipeline.format_relations)
    E = encoder.DeterministicEncoder
    E.score_spans_tokens = rec.wrap(
        "model.encoder.score", E.score_spans_tokens, lambda a, r: {"spans_scored": len(a[2])}
    )
    E.span_representations_tokens = rec.wrap("model.encoder.relex", E.span_representations_tokens)
    E.adjacency_probs = rec.wrap("model.encoder.relex", E.adjacency_probs)
    E.pair_relation_logits_packed = rec.wrap(
        "model.encoder.relex", E.pair_relation_logits_packed,
        lambda a, r: {"pairs_scored": len(a[2])},
    )


def main() -> None:
    import pyspark.daemon as daemon

    rec = Recorder(os.environ["PERFBENCH_TRACE_DIR"])
    install(rec)
    serve = daemon.worker_main

    def worker_main(infile, outfile):
        try:
            serve(infile, outfile)
        finally:
            if rec.totals:
                rec.flush()
            rec.group = None

    daemon.worker_main = worker_main
    daemon.manager()


if __name__ == "__main__":
    main()
