"""Dedup operator semantics on planted duplicates."""

import pytest

from pyspark.sql import functions as F

from gliner_spark.operators.dedup import (
    embedding_cosine_pairs,
    exact_duplicates,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)

BASE = "alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu"


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE),
        (1, BASE),  # exact dup of 0
        (2, BASE.replace("theta", "XXXX")),  # near dup of 0
        (3, "totally different content about ships and oceans and tides sailing far"),
        (4, "totally different content about ships and oceans and tides sailing near"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestExactDedup:
    def test_canonical_and_flags(self, docs):
        got = {r.doc_id: r for r in exact_duplicates(docs).collect()}
        assert got[0].canonical_id == 0 and not got[0].is_duplicate
        assert got[1].canonical_id == 0 and got[1].is_duplicate
        assert got[2].canonical_id == 2 and not got[2].is_duplicate
        assert got[0].content_hash == got[1].content_hash != got[2].content_hash


class TestJaccard:
    def test_planted_pairs_found(self, docs):
        pairs = {
            (r.id_a, r.id_b): r.jaccard
            for r in ngram_jaccard_pairs(docs, threshold=0.3).collect()
        }
        assert pairs[(0, 1)] == 1.0
        assert (0, 2) in pairs and 0.3 <= pairs[(0, 2)] < 1.0
        assert (3, 4) in pairs
        assert (0, 3) not in pairs

    def test_max_df_caps_boilerplate(self, spark):
        # one shingle shared by every doc; with max_df=2 it can't
        # generate pairs
        rows = [(i, f"common shingle here unique{i} word{i} tail{i}") for i in range(6)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        uncapped = ngram_jaccard_pairs(df, threshold=0.01).count()
        capped = ngram_jaccard_pairs(df, threshold=0.01, max_df=2).count()
        assert uncapped > 0 and capped == 0


class TestMinHashLSH:
    def test_verified_pairs_subset_of_exact_jaccard(self, docs):
        exact = {
            (r.id_a, r.id_b) for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()
        }
        lsh = {
            (r.id_a, r.id_b) for r in minhash_lsh_pairs(docs, threshold=0.5).collect()
        }
        # LSH may miss (probabilistic recall) but never invents: verified
        # candidates are a subset of the exact result.
        assert lsh <= exact
        assert (0, 1) in lsh  # identical docs always collide in every band

    def test_jaccard_values_match_exact_route(self, docs):
        exact = {
            (r.id_a, r.id_b): r.jaccard
            for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()
        }
        for r in minhash_lsh_pairs(docs, threshold=0.5).collect():
            assert exact[(r.id_a, r.id_b)] == r.jaccard


class TestSimHash:
    def test_exact_dups_distance_zero(self, docs):
        pairs = {
            (r.id_a, r.id_b): r.hamming
            for r in simhash_pairs(docs, max_hamming=16).collect()
        }
        assert pairs[(0, 1)] == 0

    def test_band_pigeonhole_guarantee(self, docs):
        """Banded blocking guarantees candidate generation for hamming
        ≤ bands−1; doc pair (0,2) has hamming 7, so 8 bands (4-bit
        bands over 32 bits) must surface it."""
        pairs = {
            (r.id_a, r.id_b): r.hamming
            for r in simhash_pairs(docs, bands=8, max_hamming=16).collect()
        }
        assert pairs[(0, 2)] == 7
        assert pairs[(0, 1)] == 0

    def test_threshold_filters(self, docs):
        tight = {
            (r.id_a, r.id_b) for r in simhash_pairs(docs, max_hamming=0).collect()
        }
        assert tight == {(0, 1)}


class TestEmbeddingCosine:
    @pytest.fixture(scope="class")
    def vecs(self, spark):
        rows = [
            (0, [1.0, 0.0, 0.0, 0.0]),
            (1, [0.999, 0.04, 0.0, 0.0]),  # near dup of 0
            (2, [0.0, 1.0, 0.0, 0.0]),
            (3, [0.0, 0.0, 1.0, 0.0]),
        ]
        return spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def test_threshold_pairs(self, vecs):
        pairs = {
            (r.id_a, r.id_b)
            for r in embedding_cosine_pairs(vecs, threshold=0.9).collect()
        }
        assert pairs == {(0, 1)}

    def test_blocked_variant_subset(self, vecs):
        from gliner_spark.functions.vectors import sign_bucket

        blocked = vecs.withColumn("bucket", sign_bucket(F.col("embedding"), 4))
        got = {
            (r.id_a, r.id_b)
            for r in embedding_cosine_pairs(
                blocked, threshold=0.9, block_col="bucket"
            ).collect()
        }
        full = {
            (r.id_a, r.id_b)
            for r in embedding_cosine_pairs(vecs, threshold=0.9).collect()
        }
        assert got <= full


class TestEmbeddingCosineRoutes:
    """Round-2 regressions: the default route is distributed (chunked),
    id types survive every route, and simhash guards bits % 4."""

    @pytest.fixture(scope="class")
    def many_vecs(self, spark):
        # 40 vectors in 4D with a few engineered near-dup clusters,
        # spread over more rows than chunks so the chunked route
        # exercises diagonal AND off-diagonal groups.
        import numpy as np

        rng = np.random.default_rng(7)
        rows = []
        for i in range(30):
            v = rng.standard_normal(4)
            v /= np.linalg.norm(v)
            rows.append((i, [float(x) for x in v]))
        for j, base in enumerate([0, 5, 9]):  # near dups of 3 existing rows
            v = np.array(rows[base][1]) + 0.02 * rng.standard_normal(4)
            v /= np.linalg.norm(v)
            rows.append((100 + j, [float(x) for x in v]))
        return spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def test_chunked_matches_expression_fallback(self, many_vecs):
        chunked = {
            (r.id_a, r.id_b)
            for r in embedding_cosine_pairs(many_vecs, threshold=0.9, chunks=4).collect()
        }
        exact = {
            (r.id_a, r.id_b)
            for r in embedding_cosine_pairs(
                many_vecs, threshold=0.9, vectorized=False
            ).collect()
        }
        assert chunked == exact
        assert {(0, 100), (5, 101), (9, 102)} <= chunked

    def test_string_ids_all_routes(self, spark):
        rows = [
            ("docA", [1.0, 0.0, 0.0, 0.0]),
            ("docB", [0.999, 0.04, 0.0, 0.0]),
            ("docC", [0.0, 1.0, 0.0, 0.0]),
        ]
        vecs = spark.createDataFrame(rows, "vec_id string, embedding array<float>")
        for kwargs in ({}, {"vectorized": False}):
            out = embedding_cosine_pairs(vecs, threshold=0.9, **kwargs)
            assert dict(out.dtypes)["id_a"] == "string"
            assert {(r.id_a, r.id_b) for r in out.collect()} == {("docA", "docB")}

    def test_no_driver_collect_on_default_route(self, many_vecs, monkeypatch):
        # The default route must never call DataFrame.toPandas (the old
        # driver-OOM path). Patch it to explode if touched.
        from pyspark.sql import DataFrame as SparkDF

        def boom(self):  # pragma: no cover - should never run
            raise AssertionError("default route collected the corpus to the driver")

        monkeypatch.setattr(SparkDF, "toPandas", boom)
        n = embedding_cosine_pairs(many_vecs, threshold=0.9).count()
        assert n >= 3

    def test_simhash_bits_guard(self, spark):
        from gliner_spark.functions.text import simhash_column
        from gliner_spark.operators.dedup import simhash_table

        with pytest.raises(ValueError, match="multiple of 4"):
            simhash_column(F.col("text"), bits=61)
        docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
        with pytest.raises(ValueError, match="multiple of 4"):
            simhash_table(docs, bits=62)


class TestSegmentDedup:
    """Sub-document (C4-style) dedup: repeated k-word segments survive
    only at their first (doc_id, pos) occurrence."""

    def test_first_occurrence_wins(self, spark):
        from gliner_spark.operators.dedup import segment_dedup

        df = spark.createDataFrame(
            [
                (1, "a b c x y z"),        # segs: "a b c", "x y z"... k=3
                (2, "a b c q r s"),        # "a b c" seen in doc 1 → dropped
                (3, "q r s q r s"),        # "q r s" seen in doc 2; repeat within doc too
            ],
            "doc_id long, text string",
        )
        out = {r.doc_id: r for r in segment_dedup(df, k=3).collect()}
        assert out[1].clean_text == "a b c x y z" and out[1].n_kept == 2
        assert out[2].clean_text == "q r s" and out[2].n_kept == 1
        assert out[3].clean_text == "" and out[3].n_kept == 0
        assert out[3].n_segments == 2

    def test_within_doc_repeat_dropped(self, spark):
        from gliner_spark.operators.dedup import segment_dedup

        df = spark.createDataFrame(
            [(7, "p q r p q r tail end x")], "doc_id long, text string"
        )
        row = segment_dedup(df, k=3).first()
        assert row.clean_text == "p q r tail end x"
        assert row.n_segments == 3 and row.n_kept == 2

    def test_order_preserved_after_drops(self, spark):
        from gliner_spark.operators.dedup import segment_dedup

        df = spark.createDataFrame(
            [(1, "dup seg"), (2, "first bit dup seg last bit")],
            "doc_id long, text string",
        )
        out = {r.doc_id: r for r in segment_dedup(df, k=2).collect()}
        assert out[2].clean_text == "first bit last bit"  # middle seg gone, order kept

    def test_string_ids(self, spark):
        """String ids (e.g. 'url', the canonical page key) must work:
        the r3 first-occurrence key cast ids to long, which raises
        under ANSI mode (CAST_INVALID_INPUT) or silently nulls out and
        drops EVERY segment under non-ANSI configs."""
        from gliner_spark.operators.dedup import segment_dedup

        df = spark.createDataFrame(
            [
                ("http://a.example/1", "a b c x y z"),
                ("http://b.example/2", "a b c q r s"),
            ],
            "url string, text string",
        )
        out = {r.url: r for r in segment_dedup(df, k=3, id_col="url").collect()}
        assert out["http://a.example/1"].clean_text == "a b c x y z"
        assert out["http://b.example/2"].clean_text == "q r s"

    def test_every_doc_gets_a_row(self, spark):
        from gliner_spark.operators.dedup import segment_dedup

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        out = segment_dedup(docs, k=10)
        assert out.count() == docs.count()
        dropped = out.where("n_kept < n_segments").count()
        assert dropped > 0  # the corpus genuinely contains repeated segments


class TestSubstringDedup:
    """Exact substring dedup (Lee et al. 2022 style): OVERLAPPING
    k-word windows, so repeated runs are caught at any alignment;
    non-first occurrences merge into maximal spans."""

    def test_misaligned_boilerplate_caught(self, spark):
        """The motivating case: a shared k-word run that straddles the
        disjoint-segment grid is invisible to segment_dedup but flagged
        here."""
        from gliner_spark.operators.dedup import duplicated_spans, segment_dedup

        df = spark.createDataFrame(
            [
                (1, "b1 b2 b3 tail1 tail2"),   # boilerplate at pos 0
                (2, "pre b1 b2 b3 post"),      # same run at pos 1 (misaligned)
            ],
            "doc_id long, text string",
        )
        seg = {r.doc_id: r for r in segment_dedup(df, k=3).collect()}
        assert seg[2].n_kept == seg[2].n_segments  # segment pass misses it
        spans = duplicated_spans(df, k=3).collect()
        assert len(spans) == 1
        (row,) = spans
        assert (row.doc_id, row.span_start, row.span_end, row.span_n_words) == (2, 1, 4, 3)

    def test_overlapping_windows_merge_to_maximal_span(self, spark):
        from gliner_spark.operators.dedup import duplicated_spans

        df = spark.createDataFrame(
            [
                (1, "s1 s2 s3 s4 s5"),
                (2, "pre s1 s2 s3 s4 s5 post"),
            ],
            "doc_id long, text string",
        )
        spans = duplicated_spans(df, k=3).collect()
        assert len(spans) == 1  # three overlapping hits, ONE maximal span
        (row,) = spans
        assert (row.doc_id, row.span_start, row.span_end, row.span_n_words) == (2, 1, 6, 5)

    def test_within_doc_repeat_and_clean(self, spark):
        from gliner_spark.operators.dedup import duplicated_spans, substring_dedup

        df = spark.createDataFrame(
            [(7, "a b c Z a b c")], "doc_id long, text string"
        )
        spans = duplicated_spans(df, k=3).collect()
        assert [(r.span_start, r.span_end) for r in spans] == [(4, 7)]
        row = substring_dedup(df, k=3).first()
        assert row.clean_text == "a b c Z"
        assert row.n_words == 7 and row.n_dup_words == 3

    def test_touching_spans_coalesce(self, spark):
        """Two distinct duplicated runs that ABUT in a later doc form
        one contiguous duplicated region — a single maximal span."""
        from gliner_spark.operators.dedup import duplicated_spans

        df = spark.createDataFrame(
            [
                (1, "a1 a2 a3"),
                (2, "b1 b2 b3"),
                (3, "a1 a2 a3 b1 b2 b3"),
            ],
            "doc_id long, text string",
        )
        spans = [r for r in duplicated_spans(df, k=3).collect() if r.doc_id == 3]
        assert [(r.span_start, r.span_end) for r in spans] == [(0, 6)]

    def test_short_and_unique_docs_untouched(self, spark):
        from gliner_spark.operators.dedup import duplicated_spans, substring_dedup

        df = spark.createDataFrame(
            [
                (1, "too short"),                       # < k words: no windows
                (2, "every word here is globally unique today"),
            ],
            "doc_id long, text string",
        )
        assert duplicated_spans(df, k=3).count() == 0
        out = {r.doc_id: r for r in substring_dedup(df, k=3).collect()}
        assert out[1].clean_text == "too short" and out[1].n_dup_words == 0
        assert out[2].clean_text == "every word here is globally unique today"

    def test_full_duplicate_doc_emptied(self, spark):
        from gliner_spark.operators.dedup import substring_dedup

        text = "w1 w2 w3 w4 w5 w6 w7"
        df = spark.createDataFrame(
            [(1, text), (2, text)], "doc_id long, text string"
        )
        out = {r.doc_id: r for r in substring_dedup(df, k=3).collect()}
        assert out[1].clean_text == text            # first occurrence intact
        assert out[2].clean_text == ""              # later copy fully spliced
        assert out[2].n_dup_words == out[2].n_words == 7

    def test_string_ids(self, spark):
        from gliner_spark.operators.dedup import duplicated_spans

        df = spark.createDataFrame(
            [
                ("http://a.example/1", "c1 c2 c3 x"),
                ("http://b.example/2", "y c1 c2 c3"),
            ],
            "url string, text string",
        )
        spans = duplicated_spans(df, k=3, id_col="url").collect()
        assert [(r.url, r.span_start) for r in spans] == [("http://b.example/2", 1)]

    def test_corpus_has_misaligned_dups(self, spark):
        """The synthetic corpus genuinely contains overlapping-window
        duplicates, and every doc keeps a row in the removal form."""
        from gliner_spark.operators.dedup import duplicated_spans, substring_dedup

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        assert duplicated_spans(docs, k=12).count() > 0
        out = substring_dedup(docs, k=12)
        assert out.count() == docs.count()
        assert out.where("n_dup_words > 0").count() > 0

    def test_null_text_cleans_to_empty(self, spark):
        """Real crawl tables carry null text; it must come back as
        clean_text='' (the segment_dedup/oracle convention), never a
        NULL row."""
        from gliner_spark.operators.dedup import substring_dedup

        df = spark.createDataFrame(
            [(1, "a b c d"), (2, None)], "doc_id long, text string"
        )
        got = {r.doc_id: r for r in substring_dedup(df, k=3).collect()}
        assert got[2].clean_text == ""
        assert got[2].n_dup_words == 0
        assert got[1].clean_text == "a b c d"

    def test_many_alternating_spans_merge_linearly(self, spark):
        """Stress the linear interval merge: a doc where dup runs and
        unique gaps alternate hundreds of times must produce exactly
        one span per run with the right bounds (the shape that made
        the old accumulator-rebuilding fold quadratic per doc)."""
        from gliner_spark.operators.dedup import duplicated_spans

        k, runs = 3, 300
        boiler = [f"b{i}_{j}" for i in range(runs) for j in range(k)]
        words, expected = [], []
        for i in range(runs):
            words.extend([f"u{i}_0", f"u{i}_1"])  # unique gap
            expected.append((len(words), len(words) + k))
            words.extend(boiler[i * k : (i + 1) * k])  # dup run i
        df = spark.createDataFrame(
            [(1, " ".join(boiler)), (2, " ".join(words))],
            "doc_id long, text string",
        )
        spans = sorted(
            (r.span_start, r.span_end)
            for r in duplicated_spans(df, k=k).where("doc_id = 2").collect()
        )
        assert spans == expected


class TestResolveDuplicateClusters:
    """Terminal dedup step: components → one survivor per cluster
    (largest prefer_col, min-id tie-break)."""

    def test_survivor_selection_and_sizes(self, spark):
        from gliner_spark.operators.canonicalize import connected_components
        from gliner_spark.operators.dedup import resolve_duplicate_clusters

        docs = spark.createDataFrame(
            [(1, 10), (2, 30), (3, 30), (4, 5)],
            "doc_id long, n_chars long",
        )
        edges = spark.createDataFrame(
            [(1, 2), (2, 3)], "src long, dst long"
        )
        comps = connected_components(edges)
        out = {
            r.doc_id: r
            for r in resolve_duplicate_clusters(docs, comps).collect()
        }
        # cluster {1,2,3}: 2 and 3 tie on n_chars=30 → min id 2 wins
        assert [out[i].cluster_id for i in (1, 2, 3)] == [1, 1, 1]
        assert [out[i].is_survivor for i in (1, 2, 3)] == [False, True, False]
        assert out[1].cluster_size == 3
        # doc 4 never appears in the edge set → its own singleton
        assert out[4].cluster_id == 4 and out[4].is_survivor
        assert out[4].cluster_size == 1

    def test_null_prefer_loses(self, spark):
        """A doc with NULL prefer_col must NOT win its cluster: Spark's
        struct ordering sorts a null field FIRST, so without the
        NULLS-LAST sentinel the null-prefer doc would beat a 10k-char
        copy (the inverse of keep-the-longest, and the opposite of the
        oracle's ORDER BY ... DESC which puts NULLs last)."""
        from gliner_spark.operators.canonicalize import connected_components
        from gliner_spark.operators.dedup import resolve_duplicate_clusters

        docs = spark.createDataFrame(
            [(1, None), (2, 10_000), (3, None), (4, None)],
            "doc_id long, n_chars long",
        )
        comps = connected_components(
            spark.createDataFrame([(1, 2), (3, 4)], "src long, dst long")
        )
        out = {
            r.doc_id: r.is_survivor
            for r in resolve_duplicate_clusters(docs, comps).collect()
        }
        assert out == {1: False, 2: True, 3: True, 4: False}
        # {3,4}: both null → tie falls through to min id (3)

    def test_extreme_integer_preferences(self, spark):
        """The descending key for integral prefer types is bitwise-NOT
        (order-reversing, no overflow): Long.MIN/MAX preferences must
        rank correctly — plain negation of MIN raises under ANSI (and
        silently crowns the smallest preference without it), and a
        double-cast key would collapse values above 2^53."""
        from gliner_spark.operators.canonicalize import connected_components
        from gliner_spark.operators.dedup import resolve_duplicate_clusters

        lo, hi = -(2**63), 2**63 - 1
        docs = spark.createDataFrame(
            [(1, lo), (2, hi), (3, hi - 1), (4, 2**53 + 1), (5, 2**53)],
            "doc_id long, n_chars long",
        )
        comps = connected_components(
            spark.createDataFrame(
                [(1, 2), (2, 3), (4, 5)], "src long, dst long"
            )
        )
        out = {
            r.doc_id: r.is_survivor
            for r in resolve_duplicate_clusters(docs, comps).collect()
        }
        # {1,2,3}: MAX wins, MIN loses; {4,5}: 2^53+1 > 2^53 must hold
        # exactly (a double key would tie them and fall to min id = 4,
        # which happens to match — so also check the MIN/MAX cluster)
        assert out == {1: False, 2: True, 3: False, 4: True, 5: False}

    def test_exactly_one_survivor_per_cluster(self, spark):
        from gliner_spark.operators.canonicalize import connected_components
        from gliner_spark.operators.dedup import resolve_duplicate_clusters

        docs = spark.createDataFrame(
            [(i, (i * 7) % 13) for i in range(20)],
            "doc_id long, n_chars long",
        )
        edges = spark.createDataFrame(
            [(0, 5), (5, 10), (1, 2), (7, 8), (8, 9), (9, 7)],
            "src long, dst long",
        )
        out = resolve_duplicate_clusters(docs, connected_components(edges))
        per_cluster = (
            out.groupBy("cluster_id")
            .agg(
                F.sum(F.col("is_survivor").cast("int")).alias("n_surv"),
                F.count(F.lit(1)).alias("n"),
                F.max("cluster_size").alias("sz"),
            )
            .collect()
        )
        assert all(r.n_surv == 1 for r in per_cluster)
        assert all(r.n == r.sz for r in per_cluster)
        assert out.count() == 20

    def test_corpus_gate_drops_near_dups(self, spark):
        """The sf0.001 corpus has real near-dup clusters: the verdict
        drops at least one doc and keeps exactly one per cluster."""
        import __spark_entry__ as e

        out = e.queries()["dedup_resolve"](spark, "/root/testdata/sf0.001")
        assert out.count() == 500
        assert out.where("NOT is_survivor").count() > 0
        bad = (
            out.groupBy("cluster_id")
            .agg(F.sum(F.col("is_survivor").cast("int")).alias("n_surv"))
            .where("n_surv != 1")
            .count()
        )
        assert bad == 0
