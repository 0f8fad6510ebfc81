"""M4 RNN smoothing + M9 cross-fusion analogs (reference layers.py:9-64,
298-404) — the last two missing §2 operators from round 1 — and the
DeterministicEncoder's bounded span/score caches."""

import numpy as np
import pytest

from gliner_spark.model.encoder import DeterministicEncoder
from gliner_spark.model.pipeline import GLiNERPipeline, PipelineConfig

TEXT = "maria runs the acme data platform in lisbon with spark"


@pytest.fixture(scope="module")
def enc():
    return DeterministicEncoder(dim=32, seed=42)


class TestRnnSmooth:
    def test_shape_and_determinism(self, enc):
        h = enc.embed_tokens(TEXT.split())
        out = enc.rnn_smooth(h, 1)
        assert out.shape == h.shape
        assert np.array_equal(out, enc.rnn_smooth(h, 1))
        assert not np.allclose(out, h)

    def test_contextual_not_positionwise(self, enc):
        # changing a distant token changes the smoothed rep of token 0
        # (the bidirectional pass propagates context both ways)
        a = enc.rnn_smooth(enc.embed_tokens(["alpha", "beta", "gamma"]), 1)
        b = enc.rnn_smooth(enc.embed_tokens(["alpha", "beta", "delta"]), 1)
        assert not np.allclose(a[0], b[0])

    def test_layers_stack(self, enc):
        h = enc.embed_tokens(TEXT.split())
        assert not np.allclose(enc.rnn_smooth(h, 1), enc.rnn_smooth(h, 2))

    def test_empty(self, enc):
        assert enc.rnn_smooth(np.zeros((0, 32)), 1).shape == (0, 32)


class TestCrossFuse:
    def test_schema_steps_update_states(self, enc):
        labels = enc.embed_labels(["person", "place"])
        tokens = enc.embed_tokens(TEXT.split())
        l1, t1 = enc.cross_fuse(labels, tokens, "l2t")
        assert not np.allclose(l1, labels)  # labels updated
        assert np.array_equal(t1, tokens)  # text untouched by l2t
        l2, t2 = enc.cross_fuse(labels, tokens, "l2t-t2l")
        assert not np.allclose(t2, tokens)  # t2l updates text
        l3, t3 = enc.cross_fuse(labels, tokens, "t2t")
        assert np.array_equal(l3, labels)

    def test_deterministic(self, enc):
        labels = enc.embed_labels(["person", "place"])
        tokens = enc.embed_tokens(TEXT.split())
        a = enc.cross_fuse(labels, tokens, "l2t-t2l")
        b = enc.cross_fuse(labels, tokens, "l2t-t2l")
        assert np.array_equal(a[0], b[0]) and np.array_equal(a[1], b[1])

    def test_bad_schema_raises(self, enc):
        labels = enc.embed_labels(["person"])
        tokens = enc.embed_tokens(["w"])
        with pytest.raises(ValueError, match="post_fusion_schema"):
            enc.cross_fuse(labels, tokens, "x2y")


class TestPipelineWiring:
    def test_rnn_and_fusion_run_end_to_end(self):
        pipe = GLiNERPipeline(
            ["person", "place"],
            config=PipelineConfig(
                threshold=0.4, num_rnn_layers=1, post_fusion_schema="l2t-t2l"
            ),
        )
        ents = pipe.predict_entities(TEXT)
        for e in ents:
            assert TEXT[e["start"] : e["end"]] == e["text"]
        # deterministic across fresh pipelines
        again = GLiNERPipeline(
            ["person", "place"],
            config=PipelineConfig(
                threshold=0.4, num_rnn_layers=1, post_fusion_schema="l2t-t2l"
            ),
        ).predict_entities(TEXT)
        assert ents == again

    def test_defaults_off_bit_exact(self):
        base = GLiNERPipeline(
            ["person", "place"], config=PipelineConfig(threshold=0.4)
        ).predict_entities(TEXT)
        explicit = GLiNERPipeline(
            ["person", "place"],
            config=PipelineConfig(threshold=0.4, num_rnn_layers=0, post_fusion_schema=""),
        ).predict_entities(TEXT)
        assert base == explicit

    def test_rnn_changes_predictions_somewhere(self):
        texts = [
            "alpha beta gamma delta epsilon zeta eta theta",
            TEXT,
            "spark reads the customer table while maria sorts results",
        ]
        cfg_on = PipelineConfig(threshold=0.4, num_rnn_layers=1)
        cfg_off = PipelineConfig(threshold=0.4)
        on = [GLiNERPipeline(["person", "place"], config=cfg_on).predict_entities(t) for t in texts]
        off = [GLiNERPipeline(["person", "place"], config=cfg_off).predict_entities(t) for t in texts]
        assert on != off


class TestCacheEvictionOrder:
    """encoder caches: a clear AFTER computing `missing` evicted this
    call's cache hits and KeyError'd the fill loop (ADVICE #1)."""

    def test_span_cache_overflow_mid_call(self):
        enc = DeterministicEncoder(dim=8)
        sidx = np.array([[0, 0], [1, 1], [0, 1]])
        first = enc.span_representations_tokens(["aa", "bb"], sidx)
        # simulate a full cache containing this call's hit keys: the old
        # code computed `missing` (empty), then cleared, then KeyError'd
        class _Full(dict):
            def __len__(self):
                return 3_000_000

        enc._span_cache = _Full(enc._span_cache)
        again = enc.span_representations_tokens(["aa", "bb"], sidx)
        np.testing.assert_array_equal(first, again)

    def test_score_cache_overflow_mid_call(self):
        enc = DeterministicEncoder(dim=8)
        labels = enc.embed_labels(["x", "y"])
        sidx = np.array([[0, 0], [0, 1], [1, 1]])
        first = enc.score_spans_tokens(["aa", "bb"], sidx, labels, "k")

        class _Full(dict):
            def __len__(self):
                return 3_000_000

        # wrap the per-label-set sub-dict (the level the bound guards)
        enc._score_cache["k"] = _Full(enc._score_cache["k"])
        again = enc.score_spans_tokens(["aa", "bb"], sidx, labels, "k")
        np.testing.assert_array_equal(first, again)


class TestScoreCacheLabelKeyBound:
    """_score_cache is a dict of per-label-key sub-caches; r3 bounded
    each sub-cache at 2M entries but never the number of label keys —
    every distinct label set (incl. predict_with_embeds digests) added
    another unbounded-count sub-cache on a long-lived executor
    singleton (ADVICE #4)."""

    def test_label_key_count_is_capped(self):
        enc = DeterministicEncoder(dim=8)
        labels = enc.embed_labels(["x", "y"])
        sidx = np.array([[0, 0], [0, 1]])
        for i in range(100):
            enc.score_spans_tokens(["aa", "bb"], sidx, labels, f"key-{i}")
        assert len(enc._score_cache) <= 32

    def test_eviction_is_fifo_and_values_stable(self):
        enc = DeterministicEncoder(dim=8)
        labels = enc.embed_labels(["x", "y"])
        sidx = np.array([[0, 0], [0, 1], [1, 1]])
        first = enc.score_spans_tokens(["aa", "bb"], sidx, labels, "k0")
        for i in range(1, 40):  # push k0 out of the FIFO
            enc.score_spans_tokens(["aa", "bb"], sidx, labels, f"k{i}")
        assert "k0" not in enc._score_cache
        # recompute after eviction: bit-identical (cache is transparent)
        again = enc.score_spans_tokens(["aa", "bb"], sidx, labels, "k0")
        np.testing.assert_array_equal(first, again)
