"""Distributed extraction: Spark output ≡ local kernel output.

The parity standard mirrors the reference's packing bench
(bench/bench_gliner_e2e.py:241-248): the distributed path must produce
byte-identical decoded output to the single-process path on the same
input and weights.
"""

import pytest

from pyspark.sql import functions as F

from gliner_spark.model.encoder import DeterministicEncoder
from gliner_spark.model.pipeline import GLiNERPipeline, PipelineConfig
from gliner_spark.operators.extract import (
    _ensure_parallelism,
    extract_entities,
    extract_triples,
)
from gliner_spark.plans.skew import salted_repartition, length_bucketed
from gliner_spark.sources.pages import pages_df, synth_pages

LABELS = ["person", "organization", "location"]
RELS = ["works_at", "located_in"]
N_PAGES = 120


@pytest.fixture(scope="module")
def pages(spark):
    return pages_df(spark, N_PAGES).cache()


def local_entities():
    pipe = GLiNERPipeline(LABELS, RELS, PipelineConfig(threshold=0.5))
    out = {}
    for r in synth_pages(N_PAGES):
        out[r["url"]] = pipe.predict_entities(r["text"], r["lang"])
    return out


class TestEntityExtraction:
    def test_spark_matches_local_exactly(self, spark, pages):
        expected = local_entities()
        got = extract_entities(pages, LABELS, threshold=0.5).collect()
        got_by_url = {}
        for row in got:
            got_by_url.setdefault(row.url, []).append(row)
        exp_total = sum(len(v) for v in expected.values())
        assert len(got) == exp_total
        for url, ents in expected.items():
            rows = sorted(got_by_url.get(url, []), key=lambda r: (r.start, r.end, r.label))
            exp = sorted(ents, key=lambda e: (e["start"], e["end"], e["label"]))
            assert len(rows) == len(exp), url
            for row, e in zip(rows, exp):
                assert (row.start, row.end, row.text, row.label) == (
                    e["start"], e["end"], e["text"], e["label"],
                )
                assert row.score == pytest.approx(e["score"])

    def test_byte_identical_text_invariant(self, spark, pages):
        ents = extract_entities(pages, LABELS)
        joined = ents.alias("e").join(pages.alias("p"), "url")
        bad = joined.where(
            F.expr("substring(p.text, e.start + 1, e.end - e.start) != e.text")
        )
        assert bad.count() == 0

    def test_empty_and_blank_rows_produce_no_entities(self, spark, pages):
        ents = extract_entities(pages, LABELS)
        blank_urls = [
            r["url"] for r in synth_pages(N_PAGES) if not r["text"].strip()
        ]
        assert len(blank_urls) > 0  # fixture must include them
        hits = ents.where(F.col("url").isin(blank_urls)).count()
        assert hits == 0

    def test_skew_plan_preserves_results(self, spark, pages):
        plain = extract_entities(pages, LABELS)
        salted = extract_entities(
            length_bucketed(salted_repartition(pages, num_partitions=8)), LABELS
        )
        assert plain.count() == salted.count()
        assert (
            plain.exceptAll(salted).count() == 0
            and salted.exceptAll(plain).count() == 0
        )


class TestTripleExtraction:
    def test_spark_matches_local(self, spark, pages):
        pipe = GLiNERPipeline(LABELS, RELS, PipelineConfig(threshold=0.5))
        expected = []
        for r in synth_pages(N_PAGES):
            _e, rels = pipe.predict_triples(r["text"], r["lang"])
            for rel in rels:
                expected.append(
                    (r["url"], rel["head"]["text"], rel["relation"], rel["tail"]["text"])
                )
        got = [
            (row.url, row.subj_text, row.pred, row.obj_text)
            for row in extract_triples(pages, LABELS, RELS, threshold=0.5).collect()
        ]
        assert sorted(got) == sorted(expected)

    def test_triple_schema(self, spark, pages):
        df = extract_triples(pages, LABELS, RELS)
        assert set(df.columns) == {
            "url", "subj_start", "subj_end", "subj_text", "subj_label",
            "pred", "obj_start", "obj_end", "obj_text", "obj_label", "score",
        }


class TestFactoryCacheKey:
    """pipeline cache: two lambdas with identical qualnames but
    different closures must NOT share a cached pipeline (ADVICE #2)."""

    def test_distinct_closures_distinct_keys(self):
        from gliner_spark.operators.extract import _factory_key

        def make(path):
            return lambda: path  # same qualname for every `path`

        k1 = _factory_key(make("model_a.onnx"))
        k2 = _factory_key(make("model_b.onnx"))
        assert k1 != k2
        # and identical closures agree (the cache still hits)
        assert _factory_key(make("model_a.onnx")) == k1

    def test_explicit_key_wins(self):
        from gliner_spark.operators.extract import _factory_key

        f = lambda: None  # noqa: E731
        assert _factory_key(f, encoder_key="prod-v3") == ("explicit", "prod-v3")

    def test_distinct_pipelines_from_colliding_lambdas(self):
        from gliner_spark.operators.extract import _get_pipeline

        def make(seed):
            return lambda: DeterministicEncoder(dim=8, seed=seed)

        p1 = _get_pipeline(["x"], [], {"threshold": 0.5}, encoder_factory=make(1))
        p2 = _get_pipeline(["x"], [], {"threshold": 0.5}, encoder_factory=make(2))
        assert p1.encoder.seed == 1 and p2.encoder.seed == 2


class TestEnsureParallelismFallback:
    """non-file sources: probe actual partitions instead of forcing a
    repartition that could SHRINK a many-partition source (ADVICE #5)."""

    def test_many_partition_memory_source_untouched(self, spark):
        from gliner_spark.operators.extract import _ensure_parallelism

        par = spark.sparkContext.defaultParallelism
        df = spark.range(1000).repartition(par + 8)
        out = _ensure_parallelism(df, None)
        assert out.rdd.getNumPartitions() == par + 8  # no forced shrink

    def test_small_memory_source_fanned_out(self, spark):
        from gliner_spark.operators.extract import _ensure_parallelism

        df = spark.range(100).coalesce(1)
        out = _ensure_parallelism(df, None)
        assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


class TestPlanProbeGuardRails:
    def test_shuffle_repartition_on_spine_stands_down(self, spark):
        par = spark.sparkContext.defaultParallelism
        df = spark.range(100).repartition(par).selectExpr("id", "id * 2 AS y")
        out = _ensure_parallelism(df, None)
        assert out is df  # no second exchange

    def test_dimension_side_repartition_does_not_count(self, spark):
        """A repartition on the broadcast/dimension side of a join says
        nothing about THIS input's parallelism — the probe must stop at
        the Join and still fan out the 1-partition fact side."""
        par = spark.sparkContext.defaultParallelism
        fact = spark.range(100).coalesce(1).withColumn("k", F.col("id") % 5)
        dim = (
            spark.range(5)
            .repartition(4)
            .select(F.col("id").alias("k"), F.lit("x").alias("meta"))
        )
        joined = fact.join(F.broadcast(dim), "k")
        out = _ensure_parallelism(joined, None)
        assert out is not joined
        assert out.rdd.getNumPartitions() == par

    def test_narrow_shuffle_repartition_still_fans_out(self, spark):
        """df.repartition(1) IS a shuffle repartition but an explicit
        shrink — the width check must not mistake it for a fan-out."""
        par = spark.sparkContext.defaultParallelism
        df = spark.range(100).repartition(1)
        out = _ensure_parallelism(df, None)
        assert out.rdd.getNumPartitions() == par

    def test_keyed_repartition_stands_down(self, spark):
        """A caller's salted/keyed repartition (RepartitionByExpression)
        at full width is the canonical 'already handled' case."""
        par = spark.sparkContext.defaultParallelism
        df = spark.range(100).repartition(par, "id")
        out = _ensure_parallelism(df, None)
        assert out is df

    def test_coalesce_still_fans_out(self, spark):
        """Regression pin for the first round-5 probe bug: coalesce
        prints Repartition(shuffle=false) and must NOT stand down."""
        par = spark.sparkContext.defaultParallelism
        df = spark.range(100).coalesce(1)
        out = _ensure_parallelism(df, None)
        assert out.rdd.getNumPartitions() == par

    def test_sort_merge_join_reads_its_planned_width(self, spark):
        """A sort-merge join's count is read with its exchanges planned
        (hash-partitioned to the shuffle width), so unequal sides
        neither fan out again nor fail planning."""
        fact = spark.range(100).coalesce(1)
        joined = fact.join(spark.range(100).repartition(3).hint("merge"), "id")
        assert "SortMergeJoin" in joined._jdf.queryExecution().executedPlan().toString()
        assert _ensure_parallelism(joined, None) is joined
