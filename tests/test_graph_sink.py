"""Graph-table sink (north rule: partitioned triple tables +
per-partition lineage + idempotent replays)."""

import pytest

from pyspark.sql import functions as F

from gliner_spark.operators.extract import extract_triples
from gliner_spark.sinks import (
    read_graph_table,
    read_lineage,
    write_graph_table,
)
from gliner_spark.sources.pages import pages_df

LABELS = ["person", "organization", "location"]
RELS = ["works_at", "located_in"]
GAZ = {
    "john smith": "person", "acme corporation": "organization",
    "globex": "organization", "paris": "location", "tokyo": "location",
}
PATTERNS = [
    ("person", "works_at", "organization"),
    ("organization", "located_in", "location"),
]


@pytest.fixture(scope="module")
def triples(spark):
    return extract_triples(
        pages_df(spark, 80), LABELS, RELS,
        threshold=0.5, gazetteer=GAZ, patterns=PATTERNS,
        scoring="gazetteer",
    ).persist()


class TestGraphSink:
    def test_partitioned_write_and_lineage(self, spark, triples, tmp_path):
        path = str(tmp_path / "graph")
        lineage = write_graph_table(triples, path, run_id="r1")
        rows = {r.pred: r.n_rows for r in lineage.collect()}
        # one lineage row per predicate partition, counts match content
        assert set(rows) == {p for (p,) in triples.select("pred").distinct().collect()}
        back = read_graph_table(spark, path)
        for pred, n in rows.items():
            assert back.where(F.col("pred") == pred).count() == n
        assert back.count() == triples.dropDuplicates().count()

    def test_replay_is_idempotent(self, spark, triples, tmp_path):
        path = str(tmp_path / "graph")
        write_graph_table(triples, path, run_id="r1")
        first = read_graph_table(spark, path).count()
        write_graph_table(triples, path, run_id="r1-retry")  # full replay
        assert read_graph_table(spark, path).count() == first  # no dupes
        # both runs' lineage rows are retained (audit trail)
        lin = read_lineage(spark, path)
        assert {r.run_id for r in lin.collect()} == {"r1", "r1-retry"}

    def test_pred_filter_prunes_partitions(self, spark, triples, tmp_path):
        from tests.test_plans_quality import formatted_plan

        path = str(tmp_path / "graph")
        write_graph_table(triples, path, run_id="r1")
        some_pred = triples.select("pred").first()[0]
        df = read_graph_table(spark, path, pred=some_pred)
        plan = formatted_plan(df)
        pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
        assert pf and some_pred in pf[0]
        assert df.count() > 0
        assert df.select("pred").distinct().collect()[0][0] == some_pred

    def test_lineage_counts_only_owned_preds(self, spark, triples, tmp_path):
        """Default pred-only case: a run writing a SUBSET of predicates
        to a path that already holds other predicates must not
        attribute the sibling partitions' rows to its own run_id (r3
        only applied the owned-partition filter when
        extra_partition_cols was non-empty)."""
        path = str(tmp_path / "graph")
        # guarantee ≥2 predicates regardless of the fixture's natural
        # distribution: union a relabeled copy
        both = triples.union(triples.withColumn("pred", F.lit("synth_pred")))
        write_graph_table(both, path, run_id="r-all")
        one = triples.where(F.col("pred") != "synth_pred")
        pred0 = one.select("pred").first()[0]
        one = one.where(F.col("pred") == pred0)
        lineage = write_graph_table(one, path, run_id="r-one")
        rows = {r.pred: r.n_rows for r in lineage.collect()}
        # lineage covers ONLY the predicate this run wrote, with its count
        assert set(rows) == {pred0}
        assert rows[pred0] == one.dropDuplicates().count()

    def test_chunked_replay_replaces_only_own_partitions(
        self, spark, triples, tmp_path
    ):
        """RunManifest composition: chunk replays must replace exactly
        their own (chunk, pred) partitions."""
        path = str(tmp_path / "graph")
        t0 = triples.withColumn(
            "chunk", F.pmod(F.hash("url"), F.lit(2)).cast("int")
        )
        c0 = t0.where(F.col("chunk") == 0)
        c1 = t0.where(F.col("chunk") == 1)
        write_graph_table(c0, path, run_id="r1", extra_partition_cols=("chunk",))
        write_graph_table(c1, path, run_id="r1", extra_partition_cols=("chunk",))
        total = read_graph_table(spark, path).count()
        # replay chunk 0 only — total unchanged, chunk-1 rows untouched
        lineage = write_graph_table(
            c0, path, run_id="r1-replay", extra_partition_cols=("chunk",)
        )
        assert read_graph_table(spark, path).count() == total
        # lineage of the replay covers only chunk-0's rows
        replay_rows = sum(r.n_rows for r in lineage.collect())
        assert replay_rows == c0.dropDuplicates().count()

    def test_returns_only_lineage_rows_it_appended(
        self, spark, triples, tmp_path
    ):
        """Two writes under one run_id: the second call returns its own
        lineage rows, not the first call's as well."""
        path = str(tmp_path / "graph")
        t0 = triples.withColumn(
            "chunk", F.pmod(F.hash("url"), F.lit(2)).cast("int")
        )
        c0 = t0.where(F.col("chunk") == 0)
        c1 = t0.where(F.col("chunk") == 1)
        write_graph_table(c0, path, run_id="r1", extra_partition_cols=("chunk",))
        second = write_graph_table(
            c1, path, run_id="r1", extra_partition_cols=("chunk",)
        ).collect()
        preds = {p for (p,) in c1.select("pred").distinct().collect()}
        assert sorted(r.pred for r in second) == sorted(preds)
        assert sum(r.n_rows for r in second) == c1.dropDuplicates().count()
        # both calls' rows are on disk
        assert read_lineage(spark, path).count() == len(second) + len(
            {p for (p,) in c0.select("pred").distinct().collect()}
        )

    def test_input_evaluated_once(self, spark, triples, tmp_path):
        """The owned partitions come from the write job itself: the
        input plan runs once per write."""
        rows_seen = spark.sparkContext.accumulator(0)

        def passthrough(batches):
            for pdf in batches:
                rows_seen.add(len(pdf))
                yield pdf

        src = triples.mapInPandas(passthrough, triples.schema)
        n = triples.count()
        write_graph_table(src, str(tmp_path / "graph"), run_id="r1")
        assert rows_seen.value == n


def test_null_pred_partition_counted(spark, triples, tmp_path):
    """A NULL predicate lands in the hive default partition and reads
    back as NULL; the owned-partition filter must be null-aware or the
    audit row under-counts (isin() never matches NULL)."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "g")
    with_null = triples.withColumn(
        "pred",
        F.when(F.col("subj_start") % 2 == 0, F.col("pred")).otherwise(
            F.lit(None)
        ),
    )
    n_null = with_null.where(F.col("pred").isNull()).count()
    assert n_null > 0
    lineage = write_graph_table(with_null, path, run_id="rn")
    rows = {r.pred: r.n_rows for r in lineage.collect()}
    assert rows.get(None) == n_null
    assert sum(rows.values()) == with_null.count()
