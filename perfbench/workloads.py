"""The workloads, built only from the package's public layer functions.

Each workload has the same life cycle, driven by ``run.py``:

``prepare``  generate the seeded inputs (multi-file parquet) and the
             reference digest; untimed, before Spark starts.
``warm_up``  the warm-up pass inside ``setup_s``: the state the job
             starts from (kg_build: the committed half of the chunks,
             which also spawns the Python workers and builds the
             pipeline singleton; corpus_dedup: a scan of the input).
``reset``    untimed per-job reset: outputs removed, cached DataFrames
             dropped, manifest state restored.
``job``      one run, from input scan to committed output. The first
             ``warm_jobs`` runs of a session are untimed warm-up (inside
             ``setup_s``): a session's first jobs are slower and spread
             more, while JIT, codegen and the Python workers warm.
``digest``   order-independent digest of the committed output, compared
             with the reference.

Every call into a layer runs inside ``Ctx.layer(name)``, which records a
wall-clock span and tags the Spark jobs it starts with the local property
``perfbench.layer``, so the event log of a traced run attributes jobs to
layers. Lazy layer calls are materialized inside their own span, so each
span holds the work of its layer.
"""

from __future__ import annotations

import contextlib
import datetime
import os
import random
import shutil
import time
from typing import Dict, List, Optional, Tuple

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from . import gen, reference

LAYER_PROP = "perfbench.layer"


class Ctx:
    """The session plus the spans recorded around layer calls."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: List[Tuple[str, float, float]] = []

    @contextlib.contextmanager
    def layer(self, name: str):
        sc = self.spark.sparkContext
        sc.setLocalProperty(LAYER_PROP, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append((name, t0, time.perf_counter()))
            sc.setLocalProperty(LAYER_PROP, None)


def _rm(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


def _read_rows(path: str, columns: List[str]) -> List[tuple]:
    """Rows of a committed parquet directory (hive partitions included)."""
    table = ds.dataset(path, format="parquet", partitioning="hive").to_table(columns=columns)
    return list(zip(*[table.column(c).to_pylist() for c in columns]))


# -- kg_build ------------------------------------------------------------------

TRIPLE_COLS = [
    "url", "subj_start", "subj_end", "subj_text", "subj_label", "pred",
    "obj_start", "obj_end", "obj_text", "obj_label", "score",
]
SALT_PARTITIONS_PER_CORE = 2


def _extract(ctx: Ctx, pages):
    from gliner_spark.operators.extract import extract_triples
    from gliner_spark.plans.skew import length_bucketed, salted_repartition

    n = SALT_PARTITIONS_PER_CORE * ctx.spark.sparkContext.defaultParallelism
    return extract_triples(
        length_bucketed(salted_repartition(pages, num_partitions=n)),
        labels=gen.LABELS,
        relations=gen.RELATIONS,
        threshold=0.5,
        gazetteer=gen.GAZETTEER,
        patterns=gen.PATTERNS,
        min_partitions=0,  # the salted repartition owns the layout
    )


def _manifest_schema():
    """``plans.manifest.MANIFEST_SCHEMA`` as an Arrow schema."""
    return pa.schema(
        [
            ("run_id", pa.string()), ("chunk", pa.int32()), ("n_docs", pa.int64()),
            ("n_rows", pa.int64()), ("wall_ms", pa.int64()), ("status", pa.string()),
            ("finished_ts", pa.timestamp("us")),
        ]
    )


def _write_manifest(path: str, chunks: List[int], rows: Optional[List[dict]] = None) -> None:
    """Replace the manifest's data files with ``rows`` (default: one
    ok row per chunk in ``chunks``); the ``_layout.json`` sidecar stays."""
    os.makedirs(path, exist_ok=True)
    for n in os.listdir(path):
        if not n.startswith("_"):
            os.remove(os.path.join(path, n))
    if rows is None:
        now = datetime.datetime(2026, 1, 1)
        rows = [
            {"run_id": "marker", "chunk": k, "n_docs": 0, "n_rows": 0, "wall_ms": 0,
             "status": "ok", "finished_ts": now}
            for k in chunks
        ]
    pq.write_table(
        pa.Table.from_pylist(rows, schema=_manifest_schema()),
        os.path.join(path, "part-00000.parquet"),
    )


def _keep_manifest_chunks(path: str, keep: List[int]) -> None:
    table = ds.dataset(path, format="parquet", schema=_manifest_schema()).to_table()
    rows = [r for r in table.to_pylist() if r["chunk"] in keep]
    _write_manifest(path, keep, rows)


class KgBuild:
    """The flagship KG build, run the way ``run_kg_job.py`` runs it:
    chunked ``RunManifest.run`` over salted, length-bucketed extraction,
    resumed from a manifest in which a seeded half of the chunks is
    already committed; then linking, canonicalization, the graph table
    and the N-Triples export over every committed triple."""

    name = "kg_build"
    n_docs = 200
    warm_jobs = 1
    n_chunks = 4

    def __init__(self, work: str, seed: int):
        self.seed = seed
        self.src = os.path.join(work, "input", "pages")
        self.state = os.path.join(work, "state")  # what a resume starts from
        self.triples = os.path.join(self.state, "triples")
        self.manifest = os.path.join(self.state, "manifest")
        self.snapshot = os.path.join(work, "committed")
        self.out = os.path.join(work, "out")
        chunks = list(range(self.n_chunks))
        random.Random(seed).shuffle(chunks)
        self.committed = sorted(chunks[: self.n_chunks // 2])

    def prepare(self) -> None:
        rows = gen.pages_rows(self.n_docs, self.seed)
        gen.write_parquet(rows, gen.PAGES_SCHEMA, self.src, n_files=8)
        self.input_rows = len(rows)
        self.expected = reference.kg_build_digest(rows, self.n_chunks)

    def _manifest_run(self, ctx: Ctx) -> list:
        from gliner_spark.plans.manifest import RunManifest
        from gliner_spark.sources.pages import read_pages

        pages = read_pages(ctx.spark, self.src)
        manifest = RunManifest(ctx.spark, self.manifest, f"seed{self.seed}")
        with ctx.layer("plans.manifest"):
            return manifest.run(
                pages,
                lambda chunk: _extract(ctx, chunk),
                self.triples,
                n_chunks=self.n_chunks,
                extra_partition_cols=("pred",),
            )

    def warm_up(self, ctx: Ctx) -> None:
        """Commit the seeded half of the chunks and snapshot that state.

        The other chunks are marked done beforehand so the pass runs only
        the seeded half; those marker rows are then dropped again.
        """
        _rm(self.state)
        skip = [k for k in range(self.n_chunks) if k not in self.committed]
        _write_manifest(self.manifest, skip)
        ran = sorted(r.chunk for r in self._manifest_run(ctx) if not r.skipped)
        if ran != self.committed:
            raise RuntimeError(f"pre-commit ran chunks {ran}, wanted {self.committed}")
        _keep_manifest_chunks(self.manifest, self.committed)
        _rm(self.snapshot)
        shutil.copytree(self.state, self.snapshot)

    def reset(self, ctx: Ctx) -> None:
        ctx.spark.catalog.clearCache()
        _rm(self.out)
        _rm(self.state)
        shutil.copytree(self.snapshot, self.state)

    def job(self, ctx: Ctx) -> Dict[str, float]:
        ran = [r for r in self._manifest_run(ctx) if not r.skipped]
        if sorted(r.chunk for r in ran) != [k for k in range(self.n_chunks) if k not in self.committed]:
            raise RuntimeError("resume did not run exactly the uncommitted chunks")
        walls = [r.wall_ms / 1000.0 for r in ran]
        self._graph(ctx)
        return {"chunk_walls_s": walls}

    def _graph(self, ctx: Ctx) -> None:
        from pyspark.sql import functions as F

        from gliner_spark.operators.canonicalize import (
            canonical_entities,
            canonicalize_triples,
        )
        from gliner_spark.operators.linking import link_mentions, normalize_mentions
        from gliner_spark.sinks.graph import write_graph_table
        from gliner_spark.sinks.ntriples import write_ntriples

        spark, out = ctx.spark, self.out
        triples = spark.read.parquet(self.triples).drop("chunk")
        mentions = triples.select(F.col("subj_text").alias("text")).unionByName(
            triples.select(F.col("obj_text").alias("text"))
        )
        with ctx.layer("operators.linking"):
            link_mentions(mentions).write.mode("overwrite").parquet(f"{out}/match_edges")
        with ctx.layer("operators.canonicalize"):
            canonical_entities(
                spark.read.parquet(f"{out}/match_edges"), normalize_mentions(mentions)
            ).write.mode("overwrite").parquet(f"{out}/entities")
        with ctx.layer("sinks.graph"):
            write_graph_table(
                canonicalize_triples(triples, spark.read.parquet(f"{out}/entities")),
                f"{out}/graph",
                run_id=f"seed{self.seed}",
            )
        with ctx.layer("sinks.ntriples"):
            write_ntriples(spark.read.parquet(f"{out}/graph"), f"{out}/nt")

    def counts(self, ctx: Ctx) -> Dict[str, float]:
        """Linking funnel of the last job: LSH candidates vs matches."""
        from pyspark.sql import functions as F

        from gliner_spark.operators.linking import (
            add_lsh_signature,
            embed_mentions,
            lsh_candidate_pairs,
            normalize_mentions,
        )

        t = ctx.spark.read.parquet(self.triples)
        m = normalize_mentions(
            t.select(F.col("subj_text").alias("text")).unionByName(
                t.select(F.col("obj_text").alias("text"))
            )
        )
        uniq = m.where(F.col("norm") != "").select("norm").distinct()
        sig = add_lsh_signature(embed_mentions(uniq))
        matches = ctx.spark.read.parquet(f"{self.out}/match_edges").count()
        return {
            "link_candidates": float(lsh_candidate_pairs(sig, sim_threshold=-2.0).count()),
            "link_matches": float(matches),
            "cc_edges": float(matches),
        }

    def digest(self) -> str:
        rows = _read_rows(f"{self.out}/graph", TRIPLE_COLS + ["subj_id", "obj_id"])
        lines = []
        for root, _d, names in os.walk(f"{self.out}/nt"):
            for n in names:
                if n.startswith("part-"):
                    with open(os.path.join(root, n), encoding="utf-8") as f:
                        lines.extend(f.read().split("\n")[:-1])
        done = sorted({r[0] for r in _read_rows(self.manifest, ["chunk"])})
        return reference.kg_digest(rows, lines, done)


class CorpusDedup:
    """The dedup chain over a documents table: exact + MinHash-LSH edges,
    connected components, cluster resolution, then substring dedup of the
    survivors."""

    name = "corpus_dedup"
    n_docs = 2000
    warm_jobs = 2
    jaccard = 0.5
    num_hashes = 8
    bands = 4
    substring_k = 12

    def __init__(self, work: str, seed: int):
        self.seed = seed
        self.src = os.path.join(work, "input", "documents")
        self.out = os.path.join(work, "out")

    def prepare(self) -> None:
        rows = gen.documents_rows(self.n_docs, self.seed)
        gen.write_parquet(rows, gen.DOCS_SCHEMA, self.src, n_files=8)
        self.input_rows = len(rows)
        self.expected = reference.dedup_digest(
            rows, self.jaccard, self.num_hashes, self.bands, self.substring_k
        )

    def warm_up(self, ctx: Ctx) -> None:
        ctx.spark.read.parquet(self.src).count()

    def reset(self, ctx: Ctx) -> None:
        ctx.spark.catalog.clearCache()
        _rm(self.out)

    def job(self, ctx: Ctx) -> Dict[str, float]:
        self._chain(ctx)
        return {}

    def _chain(self, ctx: Ctx) -> None:
        from pyspark.sql import functions as F

        from gliner_spark.operators.canonicalize import connected_components
        from gliner_spark.operators.dedup import (
            exact_duplicates,
            minhash_lsh_pairs,
            resolve_duplicate_clusters,
            substring_dedup,
        )

        spark, out = ctx.spark, self.out
        docs = spark.read.parquet(self.src)
        with ctx.layer("operators.dedup.exact"):
            exact_duplicates(docs).where("is_duplicate").select(
                F.col("canonical_id").alias("src"), F.col("doc_id").alias("dst")
            ).write.mode("overwrite").parquet(f"{out}/exact_edges")
        with ctx.layer("operators.dedup.minhash"):
            minhash_lsh_pairs(
                docs, threshold=self.jaccard, num_hashes=self.num_hashes, bands=self.bands
            ).select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")).write.mode(
                "overwrite"
            ).parquet(f"{out}/minhash_edges")
        edges = spark.read.parquet(f"{out}/exact_edges").unionByName(
            spark.read.parquet(f"{out}/minhash_edges")
        )
        with ctx.layer("operators.canonicalize"):
            connected_components(edges).write.mode("overwrite").parquet(
                f"{out}/components"
            )
        with ctx.layer("operators.dedup.resolve"):
            resolve_duplicate_clusters(
                docs, spark.read.parquet(f"{out}/components"), prefer_col="n_chars"
            ).write.mode("overwrite").parquet(f"{out}/clusters")
        clusters = spark.read.parquet(f"{out}/clusters")
        survivors = docs.join(
            clusters.where("is_survivor").select("doc_id"), "doc_id", "left_semi"
        )
        with ctx.layer("operators.dedup.substring"):
            clusters.join(
                substring_dedup(survivors, k=self.substring_k), "doc_id", "left"
            ).write.mode("overwrite").parquet(f"{out}/deduped")

    def counts(self, ctx: Ctx) -> Dict[str, float]:
        """MinHash funnel of the last job: LSH candidates vs verified pairs."""
        from gliner_spark.operators.dedup import minhash_lsh_pairs

        read = ctx.spark.read.parquet
        pairs = read(f"{self.out}/minhash_edges").count()
        candidates = minhash_lsh_pairs(
            read(self.src), threshold=0.0, num_hashes=self.num_hashes, bands=self.bands
        ).count()
        return {
            "lsh_candidates": float(candidates),
            "lsh_pairs": float(pairs),
            "cc_edges": float(pairs + read(f"{self.out}/exact_edges").count()),
        }

    def digest(self) -> str:
        rows = _read_rows(
            f"{self.out}/deduped",
            ["doc_id", "cluster_id", "cluster_size", "is_survivor", "clean_text", "n_dup_words"],
        )
        return reference.rows_digest(rows)


WORKLOADS = {w.name: w for w in (KgBuild, CorpusDedup)}


def make(name: str, work: str, seed: int):
    return WORKLOADS[name](work, seed)
