"""Cluster entrypoint: KG construction over a pages table, resumable.

Submit (the north-rule invocation shape — multi-executor, --py-files):

    python scripts/package_pyfiles.py
    spark-submit --master <cluster> \\
        --py-files dist/gliner_spark.zip \\
        scripts/run_kg_job.py \\
        --pages  <path or iceberg table> \\
        --out    <output dir/table> \\
        --manifest <manifest dir> \\
        --labels person,organization,location \\
        --relations works_at,located_in \\
        [--gazetteer gaz.json] [--patterns patterns.json] \\
        [--run-id r1] [--chunks 64] [--salt 64] [--threshold 0.5]

Dataflow (SURVEY.md §7.1): pruned scan → salted repartition +
length-bucket sort (skew plan) → Arrow-batched extract_triples →
chunked idempotent writes with per-chunk lineage rows (resume = rerun
with the same --manifest; completed chunks are skipped).
"""

from __future__ import annotations

import argparse
import json


def parse_args():
    p = argparse.ArgumentParser()
    p.add_argument("--pages", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--manifest", required=True)
    p.add_argument("--labels", required=True)
    p.add_argument("--relations", default="")
    p.add_argument("--gazetteer", default=None)
    p.add_argument("--patterns", default=None)
    p.add_argument("--run-id", default="run-0")
    p.add_argument("--chunks", type=int, default=64)
    p.add_argument("--salt", type=int, default=64)
    p.add_argument("--threshold", type=float, default=0.5)
    p.add_argument(
        "--prev-pages", default=None,
        help="previous corpus snapshot: switch to INCREMENTAL refresh — "
        "diff urls/text-md5 vs --pages and re-extract only the chunks "
        "containing an added/changed/gone url (gone chunks erased); "
        "cost is O(changed fraction), not O(corpus)",
    )
    p.add_argument(
        "--warc", action="store_true",
        help="treat --pages as a directory of raw WARC archives "
        "(*.warc / *.warc.gz) instead of a parquet pages table; text "
        "is derived from each response record's html",
    )
    p.add_argument(
        "--from-html", action="store_true",
        help="raw-crawl input: derive text from the html binary column "
        "for rows whose text is NULL/blank (pre-extracted text is kept "
        "byte-identical; the html column never crosses a shuffle)",
    )
    p.add_argument(
        "--partition-by-pred", action="store_true",
        help="materialize the graph table partitioned by (chunk, pred) "
        "and append per-predicate lineage rows (sinks.graph contract)",
    )
    p.add_argument(
        "--export-ntriples", action="store_true",
        help="after the (resumed) run, export the committed triples "
        "as RDF N-Triples text to <out>_nt (relation statements + "
        "lossless surface-form labels)",
    )
    p.add_argument(
        "--analytics", action="store_true",
        help="after the (resumed) run, write degree stats and integer "
        "PageRank over the FULL committed triple table to <out>_degrees "
        "and <out>_pagerank (overwrite — derived tables, recompute is "
        "the idempotent story)",
    )
    return p.parse_args()


def main():
    args = parse_args()
    from pyspark.sql import SparkSession

    from gliner_spark.operators.extract import extract_triples
    from gliner_spark.plans.manifest import RunManifest
    from gliner_spark.plans.skew import length_bucketed, salted_repartition
    from gliner_spark.sources.pages import read_pages

    spark = SparkSession.builder.appName("gliner-spark-kg").getOrCreate()
    labels = [s for s in args.labels.split(",") if s]
    relations = [s for s in args.relations.split(",") if s]
    gazetteer = json.load(open(args.gazetteer)) if args.gazetteer else None
    patterns = (
        [tuple(p) for p in json.load(open(args.patterns))] if args.patterns else None
    )

    if args.warc:
        from gliner_spark.sources.warc import read_warc

        pages = read_warc(spark, args.pages)
    else:
        pages = read_pages(
            spark, args.pages, derive_text_from_html=args.from_html
        )

    def transform(chunk):
        shaped = length_bucketed(
            salted_repartition(chunk, num_partitions=args.salt)
        )
        return extract_triples(
            shaped,
            labels=labels,
            relations=relations,
            threshold=args.threshold,
            gazetteer=gazetteer,
            patterns=patterns,
            min_partitions=0,  # the salted repartition above owns layout
        )

    extra = ("pred",) if args.partition_by_pred else ()
    manifest = RunManifest(spark, args.manifest, args.run_id)
    if args.prev_pages:
        prev = read_pages(
            spark, args.prev_pages, derive_text_from_html=args.from_html
        )
        results = manifest.run_incremental(
            prev, pages, transform, args.out, n_chunks=args.chunks,
            extra_partition_cols=extra,
        )
    else:
        results = manifest.run(
            pages, transform, args.out, n_chunks=args.chunks,
            extra_partition_cols=extra,
        )
    done = sum(1 for r in results if not r.skipped)
    skipped = sum(1 for r in results if r.skipped)
    rows = sum(r.n_rows for r in results)
    summary = {"chunks_run": done, "chunks_skipped": skipped, "new_rows": rows}
    if args.partition_by_pred and done:
        # per-predicate lineage over the chunks THIS run committed (audit
        # rows the north rule asks for alongside the chunk-level manifest)
        from gliner_spark.sinks.graph import append_lineage

        summary["preds"] = append_lineage(
            spark.read.parquet(args.out),
            [(r.chunk,) for r in results if not r.skipped],
            ["chunk"], args.run_id, sum(r.wall_ms for r in results),
            f"{args.out}_lineage",
        ).count()
    if args.analytics:
        # derived graph tables over EVERYTHING committed so far (this
        # run's chunks + resumed history): integer math, so a re-run
        # overwrites with identical bytes at any parallelism
        from pyspark.sql import functions as F

        from gliner_spark.operators.graph_stats import degree_stats, pagerank

        triples = spark.read.parquet(args.out)
        deg = degree_stats(triples)
        deg.write.mode("overwrite").parquet(f"{args.out}_degrees")
        pr = pagerank(
            triples.select(
                F.col("subj_text").alias("src"), F.col("obj_text").alias("dst")
            )
        )
        pr.write.mode("overwrite").parquet(f"{args.out}_pagerank")
        # count the WRITTEN derived table (small, metadata-cheap) —
        # deg.count() would re-execute the whole degree aggregation
        # over the full triple table a second time
        summary["analytics_entities"] = spark.read.parquet(
            f"{args.out}_degrees"
        ).count()
    if args.export_ntriples:
        from gliner_spark.sinks.ntriples import write_ntriples

        write_ntriples(spark.read.parquet(args.out), f"{args.out}_nt")
        summary["ntriples_lines"] = spark.read.text(
            f"{args.out}_nt"
        ).count()
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
