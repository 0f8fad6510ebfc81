"""KGE interaction functions (M14): algebraic laws + operator wiring."""

import numpy as np
import pytest

from gliner_spark.model.kge import (
    ALL_METHODS,
    INTERACTIONS,
    STATEFUL_METHODS,
    complex_,
    distma,
    distmult,
    get_stateful,
    hole,
    pair_re,
    quate,
    score_triples_np,
    se,
    simple,
    transe,
    um,
)
from gliner_spark.operators.extract import extract_triples
from gliner_spark.operators.kge_scores import score_triples


@pytest.fixture(scope="module")
def hrt():
    rng = np.random.default_rng(3)
    return (
        rng.standard_normal((32, 16)),
        rng.standard_normal((32, 16)),
        rng.standard_normal((32, 16)),
    )


class TestInteractionLaws:
    def test_transe_perfect_translation_scores_zero(self, hrt):
        h, r, _ = hrt
        assert np.allclose(transe(h, r, h + r), 0.0)
        # and any perturbation strictly lowers the (non-positive) score
        assert (transe(h, r, h + r + 0.1) < 0).all()

    def test_distmult_symmetric_in_head_tail(self, hrt):
        h, r, t = hrt
        assert np.allclose(distmult(h, r, t), distmult(t, r, h))

    def test_complex_asymmetric_in_head_tail(self, hrt):
        h, r, t = hrt
        assert not np.allclose(complex_(h, r, t), complex_(t, r, h))

    def test_pair_re_zero_when_projections_match(self):
        rng = np.random.default_rng(5)
        h = rng.standard_normal((8, 16))
        r = np.concatenate([np.ones((8, 8)), np.ones((8, 8))], axis=1)
        # rH == rT == 1 → score 0 iff h[:8] == t[:8]
        t = h.copy()
        assert np.allclose(pair_re(h, r, t), 0.0)

    def test_registry_and_unknown_method(self, hrt):
        h, r, t = hrt
        for name in ALL_METHODS:
            assert score_triples_np(h, r, t, name).shape == (32,), name
        with pytest.raises(ValueError):
            score_triples_np(h, r, t, "no_such_interaction")

    def test_batch_independence(self, hrt):
        """Per-row scores must not depend on batch composition (the
        Arrow-batch invariant)."""
        h, r, t = hrt
        full = score_triples_np(h, r, t, "complex")
        parts = np.concatenate(
            [score_triples_np(h[i : i + 5], r[i : i + 5], t[i : i + 5], "complex")
             for i in range(0, 32, 5)]
        )
        assert np.array_equal(full, parts)


class TestOperator:
    def test_appends_deterministic_scores(self, spark):
        pages = spark.createDataFrame(
            [("u0", "john smith works at acme corporation daily", "en")],
            "url string, text string, lang string",
        )
        triples = extract_triples(
            pages, ["person", "organization"], ["works_at"],
            gazetteer={"john smith": "person", "acme corporation": "organization"},
            patterns=[("person", "works_at", "organization")],
            scoring="gazetteer",
        )
        a = score_triples(triples, method="transe").collect()
        b = score_triples(triples, method="transe").collect()
        assert len(a) >= 1
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))
        assert all(r.kge_score <= 0 for r in a)  # TransE is a -distance
        c = {tuple(r)[:-1]: r.kge_score for r in score_triples(triples, "distmult").collect()}
        assert c  # different method runs end to end


class TestExtendedInteractionLaws:
    """Algebraic laws for the round-2 scorer family (reference factory
    triples_layers.py:557-664 — all 17 interaction modes)."""

    def test_um_zero_iff_head_equals_tail(self, hrt):
        h, r, _ = hrt
        assert np.allclose(um(h, r, h), 0.0)
        assert (um(h, r, h + 0.1) < 0).all()

    def test_se_is_relation_scaled_um(self, hrt):
        h, _, t = hrt
        ones = np.ones_like(h)
        assert np.allclose(se(h, ones, t), um(h, ones, t))
        assert np.allclose(se(h, np.zeros_like(h), t), 0.0)

    def test_distma_symmetric_in_head_tail(self, hrt):
        h, r, t = hrt
        assert np.allclose(distma(h, r, t), distma(t, r, h))

    def test_simple_inverse_pair_symmetry(self, hrt):
        # swapping (h, t) AND swapping the forward/backward halves of r
        # leaves the score unchanged: s1 and s2 exchange roles.
        h, r, t = hrt
        d = r.shape[-1] // 2
        r_swapped = np.concatenate([r[..., d:], r[..., :d]], axis=-1)
        assert np.allclose(simple(h, r, t), simple(t, r_swapped, h))

    def test_quate_identity_quaternion_reduces_to_dot(self, hrt):
        h, _, t = hrt
        q = h.shape[-1] // 4
        r_id = np.concatenate(
            [np.ones((len(h), q)), np.zeros((len(h), 3 * q))], axis=-1
        )
        assert np.allclose(quate(h, r_id, t), (h * t).sum(-1))

    def test_hole_matches_naive_circular_correlation(self):
        rng = np.random.default_rng(11)
        h, r, t = (rng.standard_normal((4, 8)) for _ in range(3))
        naive = np.zeros((4, 8))
        for k in range(8):
            for i in range(8):
                naive[:, k] += h[:, i] * t[:, (i + k) % 8]
        assert np.allclose(hole(h, r, t), (naive * r).sum(-1))

    def test_tucker_linear_in_head(self, hrt):
        h, r, t = hrt
        s1 = score_triples_np(h, r, t, "tucker")
        s2 = score_triples_np(2 * h, r, t, "tucker")
        assert np.allclose(s2, 2 * s1)

    def test_transh_projection_invariant_to_normal_component(self, hrt):
        # adding any multiple of the hyperplane normal w(r) to h leaves
        # the projected score unchanged
        h, r, t = hrt
        st = get_stateful(h.shape[-1])
        base = st.transh(h, r, t)
        wv = np.einsum("ij,jk->ik", r, st.w_w) + st.b_w
        wv = wv / (np.linalg.norm(wv, axis=-1, keepdims=True) + 1e-12)
        shifted = st.transh(h + 3.0 * wv, r, t)
        assert np.allclose(base, shifted)

    def test_norm_clamp_bounds_scores(self):
        h = np.full((2, 16), 100.0)
        t = -h
        r = np.zeros_like(h)
        assert (score_triples_np(h, r, t, "um") == -10.0).all()

    def test_stateful_batch_independence_and_determinism(self, hrt):
        h, r, t = hrt
        for name in STATEFUL_METHODS:
            full = score_triples_np(h, r, t, name)
            parts = np.concatenate(
                [
                    score_triples_np(h[i : i + 7], r[i : i + 7], t[i : i + 7], name)
                    for i in range(0, 32, 7)
                ]
            )
            assert np.array_equal(full, parts), name
            assert np.array_equal(full, score_triples_np(h, r, t, name)), name


def test_kge_surface_cache_key_count_bounded():
    """The per-(dim, seed) sub-cache dict must not grow without bound on
    a long-lived executor (same class of leak as the round-3
    encoder._score_cache advice)."""
    from types import SimpleNamespace

    import numpy as np

    from gliner_spark.operators import kge_scores as K

    K._SURFACE_CACHE.clear()
    for seed in range(K._SURFACE_CACHE_KEYS_MAX + 8):
        enc = SimpleNamespace(
            dim=4, seed=seed, token_embedding=lambda w: np.ones(4)
        )
        K._embed_batch(enc, ["alpha"])
    assert len(K._SURFACE_CACHE) <= K._SURFACE_CACHE_KEYS_MAX
    K._SURFACE_CACHE.clear()
