"""Graph-table sink: partitioned triple tables with per-partition lineage.

The north rule's output contract: extracted (subj, pred, obj) triples
land in partitioned Iceberg graph tables, with per-partition lineage
rows and idempotent (checkpoint-resumable) writes. This module is that
sink, and it holds the one partitioned commit of the package:

* ``commit_partitions`` — dynamic partition overwrite (a rerun REPLACES
  the partitions it writes, never appends duplicates — the parquet
  analog of an Iceberg ``REPLACE WHERE``; with an Iceberg catalog the
  same writer commits through ``writeTo(table).overwritePartitions()``)
  returning the row count and the partition values written, both
  observed on the write job itself. ``RunManifest`` commits its chunks
  through it as well;
* ``write_graph_table`` — drop exact duplicate triples, commit
  partitioned by ``pred`` (the natural query key of a KG edge table:
  "give me all works_at edges" prunes to one directory), then append
  lineage AFTER the data commit (write-ahead ordering: a kill between
  the two reruns the write, which is idempotent);
* ``append_lineage`` — one row (run_id, pred, n_rows, wall_ms,
  written_ts) per predicate of the partitions a run owns;
* ``read_graph_table`` — a ``pred`` filter prunes to its partition
  directories (PartitionFilters — asserted by tests/test_graph_sink.py).

Observation placement: ``commit_partitions`` observes the DataFrame it
writes, at the top of the written plan, never a transform's input. An
observed node under an operator the optimizer prunes (a ``limit(0)`` or
``where(False)`` downstream) is removed with it and ``Observation.get``
fails; at the top nothing is downstream, so an empty output reports 0
rows and no partitions. Per-predicate counts cannot ride the same
observation (``observe`` takes no grouped aggregate): they come from a
read-back of the owned partitions only, so lineage records what is on
disk.

Composition with plans/manifest.RunManifest: the manifest chunks the
CORPUS (resume unit = input chunk); this sink partitions the OUTPUT
(query unit = predicate). ``run_kg_job.py --partition-by-pred`` commits
(chunk, pred) partitions through the manifest, then ``append_lineage``
over the chunks that run committed.
"""

from __future__ import annotations

import time
from typing import List, Optional, Sequence, Tuple

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

LINEAGE_SCHEMA = (
    "run_id string, pred string, n_rows long, wall_ms long, written_ts timestamp"
)


def commit_partitions(
    out: DataFrame, path: str, part_cols: Sequence[str]
) -> Tuple[int, List[tuple]]:
    """Write ``out`` as parquet partitioned by ``part_cols`` with
    dynamic partition overwrite; return ``(n_rows, partitions)`` —
    the rows written and the distinct ``part_cols`` value tuples,
    observed on the write job (no second evaluation of ``out``)."""
    obs = Observation()
    out.sparkSession.conf.set(
        "spark.sql.sources.partitionOverwriteMode", "dynamic"
    )
    out.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.collect_set(F.struct(*part_cols)).alias("partitions"),
    ).write.mode("overwrite").partitionBy(*part_cols).parquet(path)
    got = obs.get
    return got["n_rows"], [tuple(p) for p in got["partitions"]]


def append_lineage(
    committed: DataFrame,
    owned: Sequence[tuple],
    part_cols: Sequence[str],
    run_id: str,
    wall_ms: int,
    lineage_path: str,
) -> DataFrame:
    """Append one lineage row per ``pred`` of ``committed`` restricted
    to the ``owned`` value tuples of ``part_cols``; return the rows
    this call appended.

    Sibling partitions left by earlier runs are not this run_id's. The
    owned set is tiny, so a per-column ``isin`` prunes the read-back
    scan to the owned directories (a bare semi-join would read every
    partition first); a semi-join then refines to exact combinations."""
    spark = committed.sparkSession
    for i, c in enumerate(part_cols):
        vals = {p[i] for p in owned}
        # NULL-aware: a NULL partition value lands in the hive default
        # partition and reads back as NULL; isin() never matches NULL,
        # so without the explicit isNull branch those committed rows
        # would be excluded and the audit row would under-count.
        cond = F.col(c).isin([v for v in vals if v is not None])
        if None in vals:
            cond = cond | F.col(c).isNull()
        committed = committed.where(cond)
    if len(part_cols) > 1:
        own = spark.createDataFrame(owned, committed.select(*part_cols).schema)
        cond = None
        for c in part_cols:
            eq = committed[c].eqNullSafe(own[c])
            cond = eq if cond is None else (cond & eq)
        committed = committed.join(F.broadcast(own), cond, "left_semi")
    lineage = committed.groupBy("pred").agg(
        F.count(F.lit(1)).alias("n_rows")
    ).select(
        F.lit(run_id).alias("run_id"),
        F.col("pred").cast("string"),
        F.col("n_rows").cast("long"),
        F.lit(wall_ms).cast("long").alias("wall_ms"),
        F.current_timestamp().alias("written_ts"),
    )
    # observed on the append itself (one row per predicate), so the
    # returned rows are exactly the ones written, timestamps included
    obs = Observation()
    lineage.observe(
        obs, F.collect_list(F.struct(*lineage.columns)).alias("rows")
    ).write.mode("append").parquet(lineage_path)
    return spark.createDataFrame(obs.get["rows"], LINEAGE_SCHEMA)


def write_graph_table(
    triples: DataFrame,
    path: str,
    run_id: str,
    extra_partition_cols: Sequence[str] = (),
) -> DataFrame:
    """Write a triples DataFrame as a graph table partitioned by
    ``pred`` (plus ``extra_partition_cols``), lineage to
    ``<path>_lineage``.

    Exact duplicate triples (same doc, same offsets, same labels)
    collapse before the write, so extraction replays and multi-source
    unions stay idempotent at the ROW level too. Returns the lineage
    rows this call appended (one per predicate it wrote). Idempotent
    per partition: rerunning the same input replaces the partitions it
    owns and appends fresh lineage rows — consumers take the latest
    ``written_ts`` per (run_id, pred) as authoritative.
    """
    t0 = time.time()
    part_cols = ["pred", *extra_partition_cols]
    out = triples.dropDuplicates()
    _n_rows, owned = commit_partitions(out, path, part_cols)
    committed = out.sparkSession.read.schema(out.schema).parquet(path)
    wall_ms = int((time.time() - t0) * 1000)
    return append_lineage(
        committed, owned, part_cols, run_id, wall_ms, f"{path}_lineage"
    )


def read_graph_table(
    spark: SparkSession, path: str, pred: Optional[str] = None
) -> DataFrame:
    """Read the graph table; a ``pred`` filter prunes partitions (the
    scan touches only that predicate's directories)."""
    df = spark.read.parquet(path)
    if pred is not None:
        df = df.where(F.col("pred") == pred)
    return df


def read_lineage(spark: SparkSession, path: str) -> DataFrame:
    """Lineage rows for a graph table written by write_graph_table."""
    return spark.read.schema(LINEAGE_SCHEMA).parquet(f"{path}_lineage")
