"""Scaling-efficiency evidence for the north rule.

The rule demands throughput scaling efficiency ≥ 0.8 from N to 4N
executors. No real cluster exists in this sandbox, so (as the driver
prescribes) we run the SAME job on the SAME input at two parallelism
levels — local[8] vs local[32] — in separate JVMs, warm up each, and
report docs/sec plus efficiency = tput(4N) / (4 · tput(N)).

Jobs measured:
* kg_triples_zeroshot — the flagship extraction (CPU-bound kernel,
  embarrassingly parallel; the one the scaling criterion targets)
* dedup_minhash_lsh   — shuffle-heavy representative
* ann_topk_cosine     — broadcast-join representative

Usage: python scripts/scaling_bench.py  → prints JSON, appends BENCH.md
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:  # mp.Pool children inherit this (fork)
    sys.path.insert(0, REPO)
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SCALED_DIR = os.environ.get("SPARK_GRAFT_SCALED_DIR", "/tmp/sfscale")
REPLICAS = int(os.environ.get("SPARK_GRAFT_REPLICAS", "8"))
JOBS = [
    j
    for j in os.environ.get(
        "SPARK_GRAFT_JOBS", "kg_triples_zeroshot,dedup_minhash_lsh"
    ).split(",")
    if j
]


def build_scaled_input() -> None:
    """Deterministically scale the sf tables REPLICAS× so the measured
    jobs are compute-bound rather than job-overhead-bound. Both
    parallelism levels read this same input. Idempotent across runs.

    NON-DEGENERATE by construction (round-2 fix): plain replication
    made every doc an exact duplicate of its siblings, inflating
    minhash candidate pairs REPLICAS× (an interim salt-token variant
    instead left every sibling pair at shingle-jaccard ~0.33 — inside
    LSH's band-collision range, so candidate verification grew with
    the replica count: another artifact). Now each replica applies a
    deterministic word PERMUTATION keyed by (replica, position):
    vocabulary, word counts, length distribution and entity surface
    forms are all preserved (the extraction workload is unchanged) and
    exact duplicates engineered inside the base corpus remain exact
    duplicates within every replica, but cross-replica shingle overlap
    is destroyed — siblings are unrelated documents to every dedup
    operator, the realistic web-corpus shape."""
    marker = os.path.join(SCALED_DIR, f".built_r{REPLICAS}_perm_v3")
    if os.path.exists(marker):
        return
    import shutil

    import duckdb

    os.makedirs(SCALED_DIR, exist_ok=True)
    con = duckdb.connect()
    # One part-file PER REPLICA (FILE_SIZE_BYTES proved unreliable —
    # duckdb emitted 14 MB files for a 512 KB request, so the whole
    # corpus arrived as ≤3 scan splits and every map-only job ran its
    # parquet decode on ≤3 cores at EITHER parallelism level — a flat
    # 0.26-0.33 "efficiency" that measured the input layout, not the
    # plan). ≥REPLICAS files means the scan itself fans out and the
    # operators' defensive repartition is a no-op (no extra shuffle on
    # the measured path) — the file-count shape a real corpus has.
    docs_dir = os.path.join(SCALED_DIR, "documents.parquet")
    shutil.rmtree(docs_dir, ignore_errors=True)
    os.makedirs(docs_dir)
    # ≥32 files TOTAL even at small REPLICAS: a bare scan's partition
    # count is its file count to _ensure_parallelism, so with fewer
    # files than the larger parallelism level it would add a
    # round-robin shuffle at local[32] but not at local[8] —
    # asymmetric overhead inside the very ratio being measured.
    shards = max(1, -(-32 // REPLICAS))  # ceil
    for i in range(REPLICAS):
        for s in range(shards):
            con.sql(
                f"""
                COPY (
                  SELECT doc_id + {i} * 1000000 AS doc_id,
                         array_to_string(
                           list_transform(
                             list_sort(list_transform(string_split(text, ' '),
                               (w, j) -> md5('r' || CAST({i} AS VARCHAR) || 'p' || CAST(j AS VARCHAR)) || '|' || w)),
                             x -> x[34:]),
                           ' ') AS text,
                         lang, source, n_chars
                  FROM '{SF_DIR}/documents.parquet'
                  WHERE doc_id % {shards} = {s}
                ) TO '{docs_dir}/part_{i:04d}_{s:02d}.parquet' (FORMAT PARQUET)
                """
            )
    con.sql(
        f"""
        COPY (
          SELECT vec_id + r.i * 1000000 AS vec_id, embedding, label
          FROM '{SF_DIR}/embeddings.parquet', (VALUES {', '.join(f'({i})' for i in range(4))}) r(i)
        ) TO '{SCALED_DIR}/embeddings.parquet' (FORMAT PARQUET)
        """
    )
    con.sql(
        f"COPY (SELECT * FROM '{SF_DIR}/events.parquet') TO '{SCALED_DIR}/events.parquet' (FORMAT PARQUET)"
    )
    open(marker, "w").close()
RUNNER = r"""
import json, sys, time
sys.path.insert(0, {repo!r})
import bench, __spark_entry__ as entry
cpus = int(sys.argv[1])
spark = bench.build_session(cpus)
n_docs = spark.read.parquet({sf_dir!r} + "/documents.parquet").count()
out = {{}}
for name in {jobs!r}:
    fn = entry.queries()[name]
    bench.force(fn(spark, {sf_dir!r}))          # warmup (JIT, code cache)
    samples = []
    for _ in range(3):                          # min-of-3: C2 compilation of
        t0 = time.perf_counter()                # 30+ codegen stages lands on
        bench.force(fn(spark, {sf_dir!r}))      # random early runs at high
        samples.append(time.perf_counter() - t0)  # core counts (measured:
    out[name] = min(samples)                    # 23/16/20 s then steady 4.3)
print("RESULT " + json.dumps({{"cpus": cpus, "n_docs": n_docs, "secs": out}}))
spark.stop()
"""


def _ceiling_work(args):
    texts = args
    from gliner_spark.model.pipeline import GLiNERPipeline, PipelineConfig
    from __spark_entry__ import ENT_LABELS, GAZ_FULL, PATTERNS, RELATIONS

    pipe = GLiNERPipeline(
        ENT_LABELS, RELATIONS, PipelineConfig(threshold=0.5),
        gazetteer=GAZ_FULL, patterns=PATTERNS,
    )
    for t in texts:
        pipe.predict_triples(t)
    return len(texts)


def measure_ceiling(n_small: int, n_big: int) -> dict:
    """Hardware-scaling control: the SAME extraction kernel via plain
    multiprocessing (no Spark at all) at both process counts. On this
    box all-core turbo < few-core turbo, so even a perfect scheduler
    cannot reach 4× — this measures the reachable ceiling that the
    Spark numbers should be judged against."""
    import multiprocessing as mp
    import time

    import duckdb

    con = duckdb.connect()
    texts = [
        r[0]
        for r in con.sql(
            f"SELECT text FROM '{SF_DIR}/documents.parquet'"
        ).fetchall()
    ] * 4
    out = {}
    for nproc in (n_small, n_big):
        chunks = [texts[i::nproc] for i in range(nproc)]
        with mp.Pool(nproc) as pool:
            pool.map(_ceiling_work, [c[:5] for c in chunks])  # warm imports
            t0 = time.time()
            pool.map(_ceiling_work, chunks)
            out[nproc] = len(texts) / (time.time() - t0)
    out["efficiency"] = round(out[n_big] / (out[n_small] * (n_big / n_small)), 3)
    return out


def measure_streaming_neardup(n_epochs: int | None = None) -> list:
    """State-growth evidence for the incremental cross-epoch near-dup
    (streaming/neardup.py) — the 100 TB question the batch runs don't
    answer: does the persisted band state stay linear in SURVIVORS
    (not in processed docs), and does per-epoch wall time stay flat as
    the state accumulates?

    Protocol: the first half of the epochs feed DISTINCT permuted
    replicas (everything should survive → state grows linearly); the
    second half REPLAYS the first half's text under fresh doc ids
    (everything should drop → state stays flat, proving the cross-epoch
    probe works and dropped docs add nothing to state)."""
    import shutil
    import time as _time

    import bench
    from pyspark.sql import functions as F

    from gliner_spark.streaming.neardup import (
        STATE_SCHEMA,
        incremental_minhash_dedup,
    )

    state = os.path.join(SCALED_DIR, "neardup_state")
    shutil.rmtree(state, ignore_errors=True)
    spark = bench.build_session(8)
    docs = spark.read.parquet(f"{SCALED_DIR}/documents.parquet")
    E = n_epochs or min(REPLICAS, 8)
    # ceil: with odd E, every replay index e-half stays < half, so the
    # second half only ever REPLAYS fresh epochs (floor would feed a
    # never-seen replica labeled replay=True, falsifying the table)
    half = (E + 1) // 2
    rows = []
    for e in range(E):
        r = e if e < half else e - half  # second half replays first half
        batch = docs.where(
            (F.col("doc_id") / 1000000).cast("int") == r
        ).select(
            (F.col("doc_id") + F.lit(e * 100_000_000)).cast("string").alias("url"),
            "text",
        )
        n_batch = batch.count()
        t0 = _time.perf_counter()
        kept = incremental_minhash_dedup(batch, state, epoch=e)
        n_kept = kept.count()
        wall = _time.perf_counter() - t0
        n_state = spark.read.schema(STATE_SCHEMA).parquet(state).count()
        n_bytes = sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _dn, fs in os.walk(state)
            for f in fs
        )
        rows.append(
            {
                "epoch": e,
                "replay": e >= half,
                "batch_docs": n_batch,
                "kept": n_kept,
                "state_rows": n_state,
                "state_mb": round(n_bytes / 1e6, 2),
                "sec": round(wall, 2),
            }
        )
    spark.stop()
    return rows


def run_at(cpus: int) -> dict:
    code = RUNNER.format(repo=REPO, sf_dir=SCALED_DIR, jobs=JOBS)
    proc = subprocess.run(
        [sys.executable, "-c", code, str(cpus)],
        capture_output=True,
        text=True,
        cwd=REPO,
    )
    for line in proc.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    raise RuntimeError(f"no RESULT from cpus={cpus}:\n{proc.stderr[-2000:]}")


def main():
    build_scaled_input()
    n_small, n_big = 8, 32
    ceiling = measure_ceiling(n_small, n_big)
    small = run_at(n_small)
    big = run_at(n_big)
    n_docs = big["n_docs"]
    rows = []
    report = {
        "sf_dir": SF_DIR,
        "replicas": REPLICAS,
        "n_docs": n_docs,
        "n": n_small,
        "4n": n_big,
        "hardware_ceiling": {
            "docs_per_sec_n": round(ceiling[n_small], 1),
            "docs_per_sec_4n": round(ceiling[n_big], 1),
            "efficiency": ceiling["efficiency"],
        },
        "jobs": {},
    }
    for name in JOBS:
        t_s, t_b = small["secs"][name], big["secs"][name]
        tput_s, tput_b = n_docs / t_s, n_docs / t_b
        eff = tput_b / (4 * tput_s)
        eff_vs_hw = eff / ceiling["efficiency"]
        report["jobs"][name] = {
            "sec_n": round(t_s, 3),
            "sec_4n": round(t_b, 3),
            "docs_per_sec_n": round(tput_s, 1),
            "docs_per_sec_4n": round(tput_b, 1),
            "scaling_efficiency": round(eff, 3),
            "efficiency_vs_hw_ceiling": round(eff_vs_hw, 3),
        }
        rows.append(
            f"| {name} | {t_s:.2f} | {t_b:.2f} | {tput_s:.0f} | {tput_b:.0f} | {eff:.2f} | {eff_vs_hw:.2f} |"
        )
    if os.environ.get("SPARK_GRAFT_STREAMING", "1") == "1":
        report["streaming_neardup"] = measure_streaming_neardup()
    print(json.dumps(report))
    md = [
        "",
        f"## Scaling run (local[{n_small}] vs local[{n_big}], {SF_DIR} ×{REPLICAS}, {n_docs} docs)",
        "",
        "Same job, same input, two parallelism levels (separate JVMs,",
        "warmed up, min of 3). efficiency = tput(4N) / (4 · tput(N)).",
        "",
        f"Hardware control (same kernel, plain multiprocessing, no Spark):",
        f"{ceiling[n_small]:.0f} docs/s @{n_small}p → {ceiling[n_big]:.0f} docs/s @{n_big}p"
        f" = ceiling efficiency {ceiling['efficiency']:.2f} (all-core turbo < few-core"
        " turbo on this box — 4× is physically unreachable). `eff/hw` is the",
        "pipeline's efficiency relative to that reachable ceiling.",
        "",
        "| job | sec @N | sec @4N | docs/s @N | docs/s @4N | efficiency | eff/hw |",
        "|---|---|---|---|---|---|---|",
        *rows,
    ]
    if "streaming_neardup" in report:
        srows = report["streaming_neardup"]
        md += [
            "",
            "### Streaming near-dup state growth (incremental_minhash_dedup)",
            "",
            "First half: distinct permuted replicas (state should grow",
            "linearly with survivors). Second half: REPLAYS the first",
            "half's text under fresh ids (everything should drop; state",
            "flat — dropped docs contribute nothing).",
            "",
            "| epoch | replay | batch | kept | state rows | state MB | sec |",
            "|---|---|---|---|---|---|---|",
            *[
                f"| {r['epoch']} | {'yes' if r['replay'] else 'no'} | "
                f"{r['batch_docs']} | {r['kept']} | {r['state_rows']} | "
                f"{r['state_mb']} | {r['sec']} |"
                for r in srows
            ],
        ]
    with open(os.path.join(REPO, "BENCH.md"), "a") as f:
        f.write("\n".join(md) + "\n")


if __name__ == "__main__":
    main()
