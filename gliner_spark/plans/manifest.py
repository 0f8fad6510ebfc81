"""Checkpointed resumability: per-chunk lineage manifest + idempotent writes.

The north rule demands restart-safe runs with per-partition lineage and
no duplicated triples. Without an Iceberg catalog in this environment,
the same guarantee is built from parquet primitives:

* the corpus is split into deterministic chunks by
  ``pmod(hash(url), n_chunks)`` — stable across reruns;
* each chunk erases ``<out>/chunk=<k>/`` and commits its outputs there
  through ``sinks.graph.commit_partitions`` (dynamic partition
  overwrite: rerunning a chunk REPLACES its directory, never appends —
  idempotent);
* a manifest row ``(run_id, chunk, n_docs, n_rows, wall_ms, status,
  finished_ts)`` is appended only AFTER the chunk's data commit;
* resume = skip chunks whose manifest row exists. A kill between data
  write and manifest append reruns that chunk and overwrites it.

Counts are observed, never read back: ``n_rows`` is observed on the
chunk's write job, at the top of the written plan; ``n_docs`` comes
from one ``groupBy(chunk).count()`` over the pending chunks before the
first write. ``n_docs`` is not observed on the transform's input: a
transform that prunes its input (``limit(0)``, ``where(False)``) lets
the optimizer remove the observed node, and the observation then fails
instead of reporting the chunk's documents.

On Iceberg this maps 1:1 to MERGE INTO + a lineage table in one
transaction; the chunk loop and manifest schema stay identical.
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from typing import Callable, List

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..sinks.graph import commit_partitions

MANIFEST_SCHEMA = (
    "run_id string, chunk int, n_docs long, n_rows long, "
    "wall_ms long, status string, finished_ts timestamp"
)


def _chunk_id(key_col: str, n_chunks: int):
    return F.pmod(F.hash(F.col(key_col)), F.lit(n_chunks))


@dataclass
class ChunkResult:
    chunk: int
    n_docs: int
    n_rows: int
    wall_ms: int
    skipped: bool


class RunManifest:
    """Chunked, resumable, idempotent pipeline runner."""

    def __init__(self, spark: SparkSession, manifest_path: str, run_id: str):
        self.spark = spark
        self.manifest_path = manifest_path
        self.run_id = run_id

    def completed_chunks(self, run_id_only: bool = False) -> set:
        """Chunks with an ok manifest row — from any run by default;
        ``run_id_only=True`` restricts to THIS run_id (incremental
        refreshes must not treat another run's chunks as done — those
        hold data from a previous snapshot by definition)."""
        try:
            df = (
                self.spark.read.schema(MANIFEST_SCHEMA)
                .parquet(self.manifest_path)
                .where(F.col("status") == "ok")
            )
            if run_id_only:
                df = df.where(F.col("run_id") == self.run_id)
            return {r.chunk for r in df.select("chunk").collect()}
        except Exception:
            return set()  # no manifest yet

    def _delete_chunk_dir(self, out_path: str, chunk: int) -> None:
        """Remove ``<out>/chunk=<k>/`` via the Hadoop FS API (works for
        any supported filesystem, not just local). On Iceberg this is
        the DELETE half of the MERGE this layer emulates."""
        jvm = self.spark._jvm
        path = jvm.org.apache.hadoop.fs.Path(f"{out_path}/chunk={chunk}")
        fs = path.getFileSystem(
            self.spark._jsc.hadoopConfiguration()
        )
        fs.delete(path, True)

    def _layout_path(self):
        # underscore prefix: Spark data sources treat _-files as
        # hidden, so the sidecar never pollutes the manifest scan
        jvm = self.spark._jvm
        return jvm.org.apache.hadoop.fs.Path(
            f"{self.manifest_path}/_layout.json"
        )

    def _check_layout(
        self, n_chunks: int, key_col: str, extra_partition_cols: tuple = ()
    ) -> None:
        """Record the chunking layout beside the manifest on first run
        and REFUSE to run under a different one. Chunk membership is
        ``pmod(hash(key), n_chunks)``: rerunning (and especially
        incrementally refreshing) with a different n_chunks or key
        column would rewrite a different partition of the key space
        than the directories on disk hold — unchanged docs would
        appear in two chunk dirs and gone docs would survive in
        never-deleted ones, silently breaking refresh ≡ from-scratch.
        ``extra_partition_cols`` is part of the layout too: a resume
        that writes chunk=k flat next to chunk=j/pred=x/ nested dirs
        makes partition discovery fail (or silently drop the column).
        """
        import json

        want = {
            "n_chunks": n_chunks,
            "key_col": key_col,
            "extra_partition_cols": list(extra_partition_cols),
        }
        path = self._layout_path()
        fs = path.getFileSystem(self.spark._jsc.hadoopConfiguration())
        if fs.exists(path):
            stream = fs.open(path)
            try:
                raw = bytes(
                    self.spark._jvm.org.apache.commons.io.IOUtils.toByteArray(
                        stream
                    )
                )
            finally:
                stream.close()
            saved = json.loads(raw.decode("utf-8"))
            saved.setdefault("extra_partition_cols", [])
            if saved != want:
                raise ValueError(
                    f"manifest at {self.manifest_path} was built with "
                    f"layout {saved}; refusing to run with {want} — "
                    "chunk membership / directory structure would no "
                    "longer match what is on disk (delete the output "
                    "+ manifest to re-chunk)"
                )
            return
        stream = fs.create(path, True)
        try:
            stream.write(bytearray(json.dumps(want).encode("utf-8")))
        finally:
            stream.close()

    def _append_manifest(self, chunk: int, n_docs: int, n_rows: int, wall_ms: int):
        row = [(self.run_id, chunk, n_docs, n_rows, wall_ms, "ok")]
        (
            self.spark.createDataFrame(
                row, "run_id string, chunk int, n_docs long, n_rows long, wall_ms long, status string"
            )
            .withColumn("finished_ts", F.current_timestamp())
            .write.mode("append")
            .parquet(self.manifest_path)
        )

    def _run_chunks(
        self, source, transform, out_path, chunk_id, part_cols, chunks, done
    ) -> List[ChunkResult]:
        """Run ``transform`` on each chunk of ``chunks`` not in ``done``
        (``chunk_id`` assigns source rows to chunks); one ChunkResult per
        chunk of ``chunks``."""
        chunked = source.withColumn("__chunk", chunk_id)
        pending = [k for k in chunks if k not in done]
        n_docs = dict(
            chunked.where(F.col("__chunk").isin(pending))
            .groupBy("__chunk")
            .count()
            .collect()  # bounded by n_chunks — driver-safe
        ) if pending else {}
        results: List[ChunkResult] = []
        for k in chunks:
            if k in done:
                results.append(ChunkResult(k, 0, 0, 0, skipped=True))
                continue
            t0 = time.time()
            chunk_df = chunked.where(F.col("__chunk") == k).drop("__chunk")
            out = transform(chunk_df).withColumn("chunk", F.lit(k))
            # dynamic overwrite can't ERASE a partition whose new content
            # is zero rows, so a refreshed chunk whose urls all vanished
            # would keep its stale triples — delete the chunk directory
            # first. A chunk without a manifest row was never committed;
            # a crash after the delete just reruns the chunk.
            self._delete_chunk_dir(out_path, k)
            n_rows, _parts = commit_partitions(out, out_path, part_cols)
            wall_ms = int((time.time() - t0) * 1000)
            docs = n_docs.get(k, 0)
            self._append_manifest(k, docs, n_rows, wall_ms)
            results.append(ChunkResult(k, docs, n_rows, wall_ms, skipped=False))
        return results

    def run(
        self,
        source: DataFrame,
        transform: Callable[[DataFrame], DataFrame],
        out_path: str,
        key_col: str = "url",
        n_chunks: int = 8,
        extra_partition_cols: tuple = (),
    ) -> List[ChunkResult]:
        """Process ``source`` chunk-by-chunk with resume.

        ``transform`` maps a chunk DataFrame to an output DataFrame.
        Outputs are written parquet-partitioned by ``chunk`` (plus any
        ``extra_partition_cols`` — e.g. ``("pred",)`` materializes the
        north rule's predicate-partitioned graph table, with predicate
        scans pruning to their directories); a chunk replay owns every
        (chunk, pred) partition it rewrites, so retries replace rather
        than duplicate.
        """
        self._check_layout(n_chunks, key_col, extra_partition_cols)
        return self._run_chunks(
            source, transform, out_path, _chunk_id(key_col, n_chunks),
            ["chunk", *extra_partition_cols], range(n_chunks),
            self.completed_chunks(),
        )

    def run_incremental(
        self,
        prev_source: DataFrame,
        source: DataFrame,
        transform: Callable[[DataFrame], DataFrame],
        out_path: str,
        key_col: str = "url",
        text_col: str = "text",
        n_chunks: int = 8,
        extra_partition_cols: tuple = (),
    ) -> List[ChunkResult]:
        """Refresh an existing output for a NEW corpus snapshot by
        re-running ``transform`` only on the chunks that contain an
        added / changed / gone url (``operators.crawldelta``).

        Because chunk ids are ``pmod(hash(url), n_chunks)`` — a pure
        function of the url, identical across snapshots — rewriting an
        affected chunk from the NEW snapshot simultaneously refreshes
        changed docs, inserts added ones, and erases gone ones (their
        chunk directory is replaced wholesale). Untouched chunks are
        never read, transformed, or rewritten, so the expensive stage
        (NER extraction) costs O(changed fraction), not O(corpus):
        at 10^12 docs with a 0.1% daily delta and n_chunks sized so a
        chunk ≈ the blast radius you accept (e.g. 4096), a refresh
        touches ~4 chunks per thousand. The delta itself is two narrow
        (url, md5) scans and one hash join.

        Resume semantics: a rerun with the SAME run_id skips affected
        chunks already recorded by this run_id (crash-safe, like
        ``run``); chunks completed by OTHER run_ids do not satisfy an
        incremental run — they hold stale data by definition.

        Returns one ChunkResult per AFFECTED chunk (unaffected chunks
        are not represented — nothing about them changed).
        """
        from ..operators.crawldelta import crawl_delta

        # guard FIRST: a layout mismatch must refuse before the delta
        # pays its two corpus scans + join (minutes at real scale)
        self._check_layout(n_chunks, key_col, extra_partition_cols)
        delta = crawl_delta(
            prev_source, source, id_col=key_col, text_col=text_col
        )
        chunk_id = _chunk_id(key_col, n_chunks)
        affected = sorted(
            r.c
            for r in delta.where(F.col("status") != "unchanged")
            .select(chunk_id.alias("c"))
            .distinct()
            .collect()  # bounded by n_chunks — driver-safe at any scale
        )
        return self._run_chunks(
            source, transform, out_path, chunk_id,
            ["chunk", *extra_partition_cols], affected,
            self.completed_chunks(run_id_only=True),
        )
