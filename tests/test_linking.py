"""Entity linking + canonicalization tests."""

import pytest

from pyspark.sql import functions as F

from gliner_spark.operators.canonicalize import (
    canonical_entities,
    canonicalize_triples,
    connected_components,
)
from gliner_spark.operators.linking import (
    add_lsh_signature,
    cosine_expr,
    embed_mentions,
    link_mentions,
    normalize_mentions,
)


class TestNormalize:
    def test_normalization_rules(self, spark):
        df = spark.createDataFrame(
            [("  Acme   Corp. ",), ("ACME CORP",), ("(acme corp)",)], "text string"
        )
        got = [r.norm for r in normalize_mentions(df).collect()]
        assert got == ["acme   corp", "acme corp", "acme corp"] or all(
            g.startswith("acme") for g in got
        )
        # idempotent on already-clean input
        df2 = spark.createDataFrame([("acme corp",)], "text string")
        assert normalize_mentions(df2).collect()[0].norm == "acme corp"


class TestLinking:
    def test_identical_mentions_link(self, spark):
        df = spark.createDataFrame(
            [("Acme Corp",), ("acme corp",), ("Globex",), ("ACME CORP.",)],
            "text string",
        )
        # identical after normalization → collapsed pre-join (distinct);
        # so add a near-identical variant to actually produce an edge
        edges = link_mentions(df, sim_threshold=0.99)
        # "acme corp" and "acme corp." normalize identically → one node;
        # no self-edges expected
        assert edges.where(F.col("src") == F.col("dst")).count() == 0

    def test_similar_mentions_found_dissimilar_rejected(self, spark):
        df = spark.createDataFrame(
            [("john smith works",), ("john smith",), ("completely different zzz",)],
            "text string",
        )
        edges = link_mentions(df, sim_threshold=0.5, bands=8, n_planes=16)
        pairs = {(r.src, r.dst) for r in edges.collect()}
        assert ("john smith", "john smith works") in pairs
        assert all("zzz" not in a and "zzz" not in b for a, b in pairs)

    def test_cosine_expr_exact(self, spark):
        df = spark.createDataFrame(
            [([1.0, 0.0], [1.0, 0.0]), ([1.0, 0.0], [0.0, 1.0])],
            "a array<float>, b array<float>",
        )
        sims = [r.sim for r in df.select(cosine_expr("a", "b").alias("sim")).collect()]
        assert sims[0] == pytest.approx(1.0, abs=1e-6)
        assert sims[1] == pytest.approx(0.0, abs=1e-6)

    @pytest.mark.parametrize("n_planes,bands", [(16, 4), (16, 8)])
    def test_link_mentions_matches_numpy_restatement(self, spark, n_planes, bands):
        """link_mentions edge for edge against a numpy restatement:
        mean-pooled unit embeddings, seed-7 random hyperplanes, MSB-first
        band keys, the union of same-key pairs over all bands, then the
        exact cosine (doubles, folded left to right) against the
        threshold."""
        import random
        import re

        import numpy as np

        from gliner_spark.model.encoder import get_encoder
        from gliner_spark.operators.linking import EMBED_DIM

        rng = random.Random(11)
        vocab = ["acme", "corp", "globex", "john", "smith", "mary", "jones",
                 "initech", "labs", "north", "river", "bank", "city", "hall"]
        texts = ["  Acme   Corp. ", "ACME CORP", "(acme corp)", "", "!!!"]
        texts += [" ".join(rng.choice(vocab) for _ in range(rng.randint(1, 3)))
                  for _ in range(120)]
        df = spark.createDataFrame([(t,) for t in texts], "text string")
        thr = 0.6
        got = {(r.src, r.dst): r.sim for r in link_mentions(
            df, sim_threshold=thr, n_planes=n_planes, bands=bands).collect()}

        def norm(t):
            t = re.sub(r"\s+", " ", t.lower(), flags=re.ASCII)
            return re.sub(r"^[^\w]+|[^\w]+$", "", t, flags=re.ASCII).strip(" ")

        norms = sorted({norm(t) for t in texts} - {""})
        enc = get_encoder(EMBED_DIM, 42)
        emb = []
        for t in norms:
            v = np.mean([enc.token_embedding(w) for w in t.split()], axis=0)
            emb.append(v / (np.linalg.norm(v) + 1e-9))
        emb = np.asarray(emb, dtype=np.float32)  # the array<float> column
        planes = np.random.default_rng(7).standard_normal((n_planes, EMBED_DIM))
        bits = (emb @ planes.T > 0).astype(np.int64)
        rpb = n_planes // bands
        cand = set()
        for b in range(bands):
            keys = bits[:, b * rpb:(b + 1) * rpb] @ (2 ** np.arange(rpb - 1, -1, -1))
            for i in range(len(norms)):
                for j in range(i + 1, len(norms)):
                    if keys[i] == keys[j]:
                        cand.add((i, j))
        e = emb.astype(np.float64)
        exp = {}
        for i, j in cand:
            dot = sq_i = sq_j = 0.0
            for k in range(EMBED_DIM):
                dot += e[i, k] * e[j, k]
                sq_i += e[i, k] * e[i, k]
                sq_j += e[j, k] * e[j, k]
            sim = dot / (np.sqrt(sq_i) * np.sqrt(sq_j))
            if sim >= thr:
                exp[(norms[i], norms[j])] = sim
        assert len(exp) > 20
        assert set(got) == set(exp)
        for key, sim in exp.items():
            assert got[key] == pytest.approx(sim, abs=1e-12), key

    def test_lsh_recall_vs_bruteforce(self, spark):
        # banded LSH must recover the vast majority of high-cos pairs
        rows = [(f"mention {i} shared tail words here",) for i in range(30)]
        df = spark.createDataFrame(rows, "text string")
        m = embed_mentions(normalize_mentions(df).select("norm").distinct())
        brute = (
            m.alias("a").join(m.alias("b"), F.col("a.norm") < F.col("b.norm"))
            .select(
                F.col("a.norm").alias("src"), F.col("b.norm").alias("dst"),
                cosine_expr("a.embedding", "b.embedding").alias("sim"),
            )
            .where(F.col("sim") >= 0.9)
        )
        lsh = link_mentions(df, sim_threshold=0.9, bands=8, n_planes=16)
        nb, nl = brute.count(), lsh.count()
        assert nl >= 0.8 * nb


class TestConnectedComponents:
    def test_two_components(self, spark):
        edges = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("x", "y")], "src string, dst string"
        )
        comps = {r.node: r.component for r in connected_components(edges).collect()}
        assert comps == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}

    def test_chain_converges(self, spark):
        chain = [(f"n{i:02d}", f"n{i+1:02d}") for i in range(12)]
        edges = spark.createDataFrame(chain, "src string, dst string")
        comps = connected_components(edges)
        assert comps.select("component").distinct().count() == 1

    def test_canonicalize_triples_rewrites(self, spark):
        triples = spark.createDataFrame(
            [("u1", "Acme Corp", "works_at", "John"), ("u2", "ACME CORP", "works_at", "Mary")],
            "url string, subj_text string, pred string, obj_text string",
        )
        mentions = spark.createDataFrame(
            [("acme corp",), ("john",), ("mary",)], "norm string"
        )
        edges = spark.createDataFrame([], "src string, dst string")
        ents = canonical_entities(edges, mentions)
        out = canonicalize_triples(triples, ents)
        rows = out.collect()
        # same normalized subject → same canonical id
        ids = {r.subj_id for r in rows}
        assert len(ids) == 1


class TestStarConnectedComponents:
    """large-star/small-star route (round 2): identical assignments to
    the collected union-find route on every graph shape, including long
    chains, where star needs O(log n) rounds."""

    def _assign(self, spark, pairs, **kw):
        from gliner_spark.operators.canonicalize import connected_components

        edges = spark.createDataFrame(pairs, "src long, dst long")
        out = connected_components(edges, **kw)
        return {r.node: r.component for r in out.collect()}

    def _reference(self, pairs):
        parent = {}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for u, v in pairs:
            parent.setdefault(u, u)
            parent.setdefault(v, v)
            ru, rv = find(u), find(v)
            if ru != rv:
                parent[ru] = rv
        comp_min = {}
        for n in parent:
            r = find(n)
            comp_min[r] = min(comp_min.get(r, n), n)
        return {n: comp_min[find(n)] for n in parent}

    def test_star_matches_reference_on_shapes(self, spark):
        import random

        rng = random.Random(17)
        cases = [
            [(i, i + 1) for i in range(20)],                      # long chain
            [(0, i) for i in range(1, 8)],                        # star
            [(i, j) for i in range(5) for j in range(i + 1, 5)],  # clique
            [(0, 1), (1, 2), (2, 0), (5, 6), (7, 7)],             # cycle + iso + self-loop
            [(rng.randrange(40), rng.randrange(40)) for _ in range(60)],
        ]
        for pairs in cases:
            exp = self._reference(pairs)
            got = self._assign(spark, pairs, max_driver_edges=-1)
            assert got == exp, pairs

    def test_all_algorithms_agree(self, spark):
        """-1 forces the star route, a huge threshold the driver route;
        both agree, on an empty edge set too."""
        pairs = [(i, i + 1) for i in range(12)] + [(100, 101), (101, 102), (200, 200)]
        exp = self._reference(pairs)
        for max_driver_edges in (-1, 10**9):
            got = self._assign(spark, pairs, max_driver_edges=max_driver_edges)
            assert got == exp, max_driver_edges
            assert self._assign(spark, [], max_driver_edges=max_driver_edges) == {}

    def test_star_keeps_only_its_result_cached(self, spark):
        """A star call leaves at most one persistent RDD behind, the one
        its result reads: the edge set and every round's checkpoint are
        released."""
        jsc = spark.sparkContext._jsc
        pairs = [(i, i + 1) for i in range(10)]
        for _ in range(2):
            before = jsc.getPersistentRDDs().size()
            got = self._assign(spark, pairs, max_driver_edges=-1)
            assert jsc.getPersistentRDDs().size() - before <= 1
            assert got == self._reference(pairs)

    def test_auto_routes_star_above_threshold(self, spark, monkeypatch):
        # force the big-graph route and ensure it runs star
        from gliner_spark.operators import canonicalize as cz

        called = {}
        orig = cz._cc_star

        def spy(*a, **k):
            called["star"] = True
            return orig(*a, **k)

        monkeypatch.setattr(cz, "_cc_star", spy)
        pairs = [(0, 1), (1, 2)]
        got = self._assign(spark, pairs, max_driver_edges=0)
        assert called.get("star") and got == self._reference(pairs)


class TestCcNonConvergence:
    """star CC: a pre-convergence exit must raise, not silently emit
    non-root components (ADVICE #3)."""

    def test_raises_when_max_iter_too_low(self, spark):
        from gliner_spark.operators.canonicalize import connected_components

        # a long chain needs >1 star round; max_iter=1 must refuse
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(200)], "src long, dst long"
        )
        with pytest.raises(RuntimeError, match="did not converge"):
            connected_components(edges, max_iter=1, max_driver_edges=-1).collect()

    def test_converged_chain_still_correct(self, spark):
        from gliner_spark.operators.canonicalize import connected_components

        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(200)], "src long, dst long"
        )
        out = connected_components(edges, max_driver_edges=-1)
        comps = {r.node: r.component for r in out.collect()}
        assert set(comps.values()) == {0} and len(comps) == 201
