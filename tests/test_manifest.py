"""Checkpointed resumability: kill/resume loses no partitions and
duplicates no rows (north-rule requirement)."""

import pytest

from pyspark.sql import functions as F

from gliner_spark.operators.extract import extract_entities
from gliner_spark.plans.manifest import RunManifest
from gliner_spark.sources.pages import pages_df

LABELS = ["person", "organization"]


@pytest.fixture()
def pages(spark):
    return pages_df(spark, 60).cache()


def transform(df):
    return extract_entities(df, LABELS)


class TestManifestResume:
    def test_full_run_then_noop_rerun(self, spark, pages, tmp_path):
        out = str(tmp_path / "triples")
        man = str(tmp_path / "manifest")
        m = RunManifest(spark, man, run_id="r1")
        res1 = m.run(pages, transform, out, n_chunks=3)
        assert [r.skipped for r in res1] == [False, False, False]

        direct = transform(pages).count()
        written = spark.read.parquet(out).count()
        assert written == direct

        res2 = RunManifest(spark, man, run_id="r2").run(
            pages, transform, out, n_chunks=3
        )
        assert all(r.skipped for r in res2)
        assert spark.read.parquet(out).count() == direct  # no dupes

    def test_crash_mid_run_resumes_without_loss_or_dupes(
        self, spark, pages, tmp_path
    ):
        out = str(tmp_path / "triples")
        man = str(tmp_path / "manifest")
        calls = {"n": 0}

        def flaky(df):
            calls["n"] += 1
            if calls["n"] == 2:
                raise RuntimeError("simulated executor loss")
            return transform(df)

        with pytest.raises(RuntimeError):
            RunManifest(spark, man, "r1").run(pages, flaky, out, n_chunks=3)

        # chunk 0 committed, chunks 1-2 missing
        done = RunManifest(spark, man, "r1").completed_chunks()
        assert done == {0}

        res = RunManifest(spark, man, "r1b").run(pages, transform, out, n_chunks=3)
        assert [r.skipped for r in res] == [True, False, False]
        assert spark.read.parquet(out).count() == transform(pages).count()
        # lineage rows carry per-chunk metrics
        mf = spark.read.parquet(man)
        assert mf.where(F.col("status") == "ok").count() == 3
        assert mf.where(F.col("wall_ms") <= 0).count() == 0


class TestIncrementalRefresh:
    """run_incremental: refresh == from-scratch, touches only affected
    chunks, erases all-gone chunks, resumes within its run_id."""

    def snapshots(self, spark):
        old = pages_df(spark, 60).cache()
        urls = [r.url for r in old.select("url").orderBy("url").collect()]
        changed, gone = urls[3], urls[7]
        new = (
            old.where(F.col("url") != gone)
            .withColumn(
                "text",
                F.when(
                    F.col("url") == changed,
                    F.concat(F.col("text"), F.lit(" john smith arrives")),
                ).otherwise(F.col("text")),
            )
        )
        added = old.limit(1).select(
            F.lit("https://new.example/just-added").alias("url"),
            *[F.col(c) for c in old.columns if c != "url"],
        ).withColumn("text", F.lit("acme corporation opens office"))
        return old, new.unionByName(added).cache()

    def test_refresh_equals_from_scratch_and_skips_untouched(
        self, spark, tmp_path
    ):
        old, new = self.snapshots(spark)
        out = str(tmp_path / "triples")
        man = str(tmp_path / "manifest")
        RunManifest(spark, man, "base").run(old, transform, out, n_chunks=6)

        calls = {"n": 0}

        def counting(df):
            calls["n"] += 1
            return transform(df)

        res = RunManifest(spark, man, "inc1").run_incremental(
            old, new, counting, out, n_chunks=6
        )
        affected = {r.chunk for r in res}
        assert 0 < len(affected) < 6  # strictly partial refresh
        assert calls["n"] == len(affected)

        got = sorted(
            map(tuple, spark.read.parquet(out).drop("chunk").collect())
        )
        scratch = str(tmp_path / "scratch")
        RunManifest(spark, str(tmp_path / "m2"), "s").run(
            new, transform, scratch, n_chunks=6
        )
        want = sorted(
            map(tuple, spark.read.parquet(scratch).drop("chunk").collect())
        )
        assert got == want  # byte-for-byte the from-scratch result

        # idempotent replay under the same run_id: no work, no change
        res2 = RunManifest(spark, man, "inc1").run_incremental(
            old, new, transform, out, n_chunks=6
        )
        assert all(r.skipped for r in res2)
        assert {r.chunk for r in res2} == affected
        assert sorted(
            map(tuple, spark.read.parquet(out).drop("chunk").collect())
        ) == want

    def test_all_gone_chunk_is_erased(self, spark, tmp_path):
        old = pages_df(spark, 40).cache()
        out = str(tmp_path / "triples")
        man = str(tmp_path / "manifest")
        RunManifest(spark, man, "base").run(old, transform, out, n_chunks=4)
        # new snapshot: chunk 2's urls all vanish
        chunk2 = old.withColumn(
            "c", F.pmod(F.hash(F.col("url")), F.lit(4))
        ).where(F.col("c") == 2)
        assert chunk2.count() > 0
        new = (
            old.join(chunk2.select("url"), "url", "left_anti").cache()
        )
        RunManifest(spark, man, "inc").run_incremental(
            old, new, transform, out, n_chunks=4
        )
        left = spark.read.parquet(out)
        assert left.where(F.col("chunk") == 2).count() == 0
        assert left.count() == transform(new).count()

    def test_no_delta_no_work(self, spark, tmp_path):
        old = pages_df(spark, 30).cache()
        out = str(tmp_path / "triples")
        man = str(tmp_path / "manifest")
        RunManifest(spark, man, "base").run(old, transform, out, n_chunks=3)
        before = sorted(
            map(tuple, spark.read.parquet(out).drop("chunk").collect())
        )
        res = RunManifest(spark, man, "inc").run_incremental(
            old, old, transform, out, n_chunks=3
        )
        assert res == []
        assert sorted(
            map(tuple, spark.read.parquet(out).drop("chunk").collect())
        ) == before


class TestManifestCounts:
    """A committed chunk's ``n_docs`` is its source rows and ``n_rows``
    its written rows, in the returned ChunkResult and in the manifest
    row alike; a chunk without documents records 0/0."""

    @staticmethod
    def _counts(spark, man, run_id, results, source, out, n_chunks):
        docs = {
            r.c: r.n
            for r in source.groupBy(
                F.pmod(F.hash("url"), F.lit(n_chunks)).alias("c")
            ).agg(F.count(F.lit(1)).alias("n")).collect()
        }
        written = {
            r.chunk: r["count"]
            for r in spark.read.parquet(out).groupBy("chunk").count().collect()
        }
        recorded = {
            r.chunk: (r.n_docs, r.n_rows)
            for r in spark.read.parquet(man).where(F.col("run_id") == run_id).collect()
        }
        got = {r.chunk: (r.n_docs, r.n_rows) for r in results if not r.skipped}
        assert got == {k: (docs.get(k, 0), written.get(k, 0)) for k in got}
        assert recorded == got
        return got

    def test_run_counts(self, spark, tmp_path):
        pages = pages_df(spark, 5).cache()
        out, man = str(tmp_path / "t"), str(tmp_path / "m")
        res = RunManifest(spark, man, "r1").run(pages, transform, out, n_chunks=8)
        got = self._counts(spark, man, "r1", res, pages, out, 8)
        assert len(got) == 8
        assert (0, 0) in got.values()  # 5 documents leave a chunk empty
        assert any(n_rows > 0 for _n_docs, n_rows in got.values())

    def test_run_incremental_counts(self, spark, tmp_path):
        old = pages_df(spark, 40).cache()
        out, man = str(tmp_path / "t"), str(tmp_path / "m")
        RunManifest(spark, man, "base").run(old, transform, out, n_chunks=4)
        chunked = old.withColumn("c", F.pmod(F.hash("url"), F.lit(4)))
        changed = chunked.where(F.col("c") != 2).orderBy("url").first().url
        new = (
            old.join(chunked.where(F.col("c") == 2).select("url"), "url", "left_anti")
            .withColumn(
                "text",
                F.when(
                    F.col("url") == changed,
                    F.concat(F.col("text"), F.lit(" john smith arrives")),
                ).otherwise(F.col("text")),
            )
            .cache()
        )
        res = RunManifest(spark, man, "inc").run_incremental(
            old, new, transform, out, n_chunks=4
        )
        got = self._counts(spark, man, "inc", res, new, out, 4)
        assert got[2] == (0, 0)  # every url of chunk 2 is gone
        assert any(n_docs > 0 for n_docs, _n_rows in got.values())


    @staticmethod
    def _pruned_counts(spark, man, run_id, results, source, n_chunks):
        """Counts under an input-pruning transform: ``n_docs`` is still
        the chunk's source rows and ``n_rows`` is 0."""
        docs = {
            r.c: r.n
            for r in source.groupBy(
                F.pmod(F.hash("url"), F.lit(n_chunks)).alias("c")
            ).agg(F.count(F.lit(1)).alias("n")).collect()
        }
        got = {r.chunk: (r.n_docs, r.n_rows) for r in results if not r.skipped}
        assert got and got == {k: (docs.get(k, 0), 0) for k in got}
        recorded = {
            r.chunk: (r.n_docs, r.n_rows)
            for r in spark.read.parquet(man).where(F.col("run_id") == run_id).collect()
        }
        assert recorded == got
        return got

    def test_run_counts_input_pruning_transform(self, spark, tmp_path):
        pages = pages_df(spark, 20).cache()
        out, man = str(tmp_path / "t"), str(tmp_path / "m")
        res = RunManifest(spark, man, "r1").run(
            pages, lambda c: c.limit(0), out, n_chunks=3
        )
        got = self._pruned_counts(spark, man, "r1", res, pages, 3)
        assert len(got) == 3 and sum(d for d, _ in got.values()) == 20

    def test_run_incremental_counts_input_pruning_transform(self, spark, tmp_path):
        old = pages_df(spark, 20).cache()
        new = old.withColumn(
            "text",
            F.when(F.col("url") == old.orderBy("url").first().url, F.lit("edited"))
            .otherwise(F.col("text")),
        ).cache()
        out, man = str(tmp_path / "t"), str(tmp_path / "m")
        res = RunManifest(spark, man, "inc").run_incremental(
            old, new, lambda c: c.limit(0), out, n_chunks=3
        )
        got = self._pruned_counts(spark, man, "inc", res, new, 3)
        assert len(got) == 1 and list(got.values())[0][0] > 0


class TestLayoutGuard:
    """Chunk membership is pmod(hash(key), n_chunks): a rerun (or
    incremental refresh) under a different layout would rewrite a
    different partition of the key space than the directories hold —
    the manifest records its layout and refuses a mismatch."""

    def test_rerun_with_different_chunking_refuses(self, spark, pages, tmp_path):
        out = str(tmp_path / "t")
        man = str(tmp_path / "m")
        RunManifest(spark, man, "r1").run(pages, transform, out, n_chunks=3)
        with pytest.raises(ValueError, match="refusing to run"):
            RunManifest(spark, man, "r2").run(
                pages, transform, out, n_chunks=5
            )
        with pytest.raises(ValueError, match="key_col"):
            RunManifest(spark, man, "r3").run_incremental(
                pages, pages, transform, out, n_chunks=3, key_col="text"
            )
        # partition-column set is part of the layout too: a flat rerun
        # against a pred-partitioned table would mix directory shapes
        with pytest.raises(ValueError, match="extra_partition_cols"):
            RunManifest(spark, man, "r5").run(
                pages, transform, out, n_chunks=3,
                extra_partition_cols=("pred",),
            )
        # same layout still resumes fine
        res = RunManifest(spark, man, "r4").run(
            pages, transform, out, n_chunks=3
        )
        assert all(r.skipped for r in res)


class TestIncrementalWithPredPartitions:
    def test_refresh_equals_from_scratch_pred_partitioned(
        self, spark, tmp_path
    ):
        """Incremental refresh with extra_partition_cols=("pred",): the
        chunk-dir delete must erase every pred subdirectory of an
        affected chunk, and the rewrite must land pred-partitioned —
        refresh ≡ from-scratch on the predicate-partitioned layout."""
        from gliner_spark.operators.extract import extract_triples

        def tri(df):
            return extract_triples(
                df,
                labels=["person", "organization"],
                relations=["works_at"],
                gazetteer={
                    "john smith": "person",
                    "acme corporation": "organization",
                },
                patterns=[("person", "works_at", "organization")],
            )

        old = pages_df(spark, 40).cache()
        gone = old.select("url").orderBy("url").limit(1).collect()[0].url
        new = old.where(F.col("url") != gone).withColumn(
            "text",
            F.concat(
                F.col("text"), F.lit(" john smith works at acme corporation")
            ),
        ).cache()
        out = str(tmp_path / "t")
        man = str(tmp_path / "m")
        RunManifest(spark, man, "base").run(
            old, tri, out, n_chunks=3, extra_partition_cols=("pred",)
        )
        RunManifest(spark, man, "inc").run_incremental(
            old, new, tri, out, n_chunks=3, extra_partition_cols=("pred",)
        )
        got = sorted(
            map(tuple, spark.read.parquet(out).drop("chunk").collect())
        )
        scratch = str(tmp_path / "s")
        RunManifest(spark, str(tmp_path / "m2"), "s").run(
            new, tri, scratch, n_chunks=3, extra_partition_cols=("pred",)
        )
        want = sorted(
            map(tuple, spark.read.parquet(scratch).drop("chunk").collect())
        )
        assert got == want and len(got) > 0
        # pred subdirectories exist under a chunk dir
        import os

        chunk_dirs = [
            d for d in os.listdir(out) if d.startswith("chunk=")
        ]
        assert any(
            any(p.startswith("pred=") for p in os.listdir(os.path.join(out, d)))
            for d in chunk_dirs
        )
