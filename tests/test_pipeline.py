"""End-to-end pipeline kernel tests (no Spark): determinism, shape,
invariants, relex dataflow."""

import pytest

from gliner_spark.model.pipeline import GLiNERPipeline, PipelineConfig
from gliner_spark.model.encoder import DeterministicEncoder


LABELS = ["person", "organization", "location"]
RELS = ["works_at", "located_in"]
TEXT = (
    "John Smith works at Acme Corporation in New York. "
    "Mary Jones leads the Paris office of Globex."
)


@pytest.fixture(scope="module")
def pipe():
    return GLiNERPipeline(LABELS, RELS, PipelineConfig(threshold=0.6))


class TestDeterminism:
    def test_same_input_same_output(self, pipe):
        a = pipe.predict_entities(TEXT)
        b = pipe.predict_entities(TEXT)
        assert a == b

    def test_fresh_encoder_same_output(self):
        # Cross-process determinism stand-in: two independent encoders.
        p1 = GLiNERPipeline(LABELS, RELS, encoder=DeterministicEncoder())
        p2 = GLiNERPipeline(LABELS, RELS, encoder=DeterministicEncoder())
        assert p1.predict_triples(TEXT) == p2.predict_triples(TEXT)


class TestInvariants:
    def test_byte_identical_text(self, pipe):
        for ent in pipe.predict_entities(TEXT):
            assert TEXT[ent["start"]: ent["end"]] == ent["text"]

    def test_empty_and_blank_filtered(self, pipe):
        assert pipe.predict_entities("") == []
        assert pipe.predict_entities("   \n\t ") == []
        assert pipe.predict_triples(None) == ([], [])  # type: ignore[arg-type]

    def test_labels_deduped(self):
        p = GLiNERPipeline(["person", "person", "org"])
        assert p.labels == ["person", "org"]
        assert p.id_to_class == {1: "person", 2: "org"}

    def test_truncation_to_max_len(self):
        cfg = PipelineConfig(max_len=10)
        p = GLiNERPipeline(LABELS, config=cfg)
        long_text = " ".join(f"w{i}" for i in range(100))
        ents = p.predict_entities(long_text)
        # nothing may reference text beyond the 10th word
        limit_char = long_text.index("w10")
        for e in ents:
            assert e["end"] <= limit_char + len("w10")

    def test_flat_ner_no_overlaps(self, pipe):
        ents = pipe.predict_entities(TEXT)
        ordered = sorted(ents, key=lambda e: e["start"])
        for a, b in zip(ordered, ordered[1:]):
            assert a["end"] <= b["start"]

    def test_scores_above_threshold(self, pipe):
        for ent in pipe.predict_entities(TEXT):
            assert ent["score"] > 0.6


class TestRelex:
    def test_triples_reference_entities(self, pipe):
        ents, rels = pipe.predict_triples(TEXT)
        for r in rels:
            assert r["relation"] in RELS
            for side in ("head", "tail"):
                idx = r[side]["entity_idx"]
                assert 0 <= idx < len(ents)
                assert TEXT[r[side]["start"]: r[side]["end"]] == r[side]["text"]

    def test_no_relations_without_rel_labels(self):
        p = GLiNERPipeline(LABELS, [])
        ents, rels = p.predict_triples(TEXT)
        assert rels == []

    def test_entities_nonempty_on_rich_text(self, pipe):
        # The deterministic encoder fires on a fraction of spans; this
        # guards against degenerate all-or-nothing scoring.
        ents = pipe.predict_entities(TEXT)
        assert 0 < len(ents) < 40


class TestGazetteerTokenizedWidths:
    """Round-2 regression (ADVICE): gazetteer candidate widths must come
    from the REAL tokenizer, not whitespace split — terms with internal
    punctuation ('u.s.', 'at&t') span multiple regex tokens."""

    def test_punctuated_term_matches(self):
        pipe = GLiNERPipeline(
            ["org"],
            config=PipelineConfig(scoring="gazetteer"),
            gazetteer={"at&t": "org", "u.s.": "org"},
        )
        ents = pipe.predict_entities("call AT&T in the U.S. today")
        got = {(e["text"].lower(), e["label"]) for e in ents}
        assert ("at&t", "org") in got
        assert ("u.s.", "org") in got

    def test_plain_terms_still_match(self):
        pipe = GLiNERPipeline(
            ["actor"],
            config=PipelineConfig(scoring="gazetteer"),
            gazetteer={"customer": "actor", "big table": "actor"},
        )
        ents = pipe.predict_entities("the customer saw a big table")
        got = {e["text"] for e in ents}
        assert {"customer", "big table"} <= got


class TestTokenModeArgThreading:
    """Round-2 regression (ADVICE): token mode must honor input_spans
    (D9) and return_class_probs instead of silently dropping them."""

    def _find_token_span(self, pipe, text):
        ents = pipe.predict_entities(text, threshold=0.3)
        assert ents, "need at least one token-mode span for the fixture"
        return ents

    def test_input_spans_restricts_token_mode(self):
        pipe = GLiNERPipeline(
            ["thing", "place"], config=PipelineConfig(mode="token")
        )
        text = "alpha beta gamma delta epsilon zeta"
        ents = self._find_token_span(pipe, text)
        target = ents[0]
        only = pipe.predict_entities(
            text, threshold=0.3, input_spans=[(target["start"], target["end"])]
        )
        assert all(
            (e["start"], e["end"]) == (target["start"], target["end"]) for e in only
        )
        assert any(
            (e["start"], e["end"]) == (target["start"], target["end"]) for e in only
        )
        # a restriction to an empty span list decodes nothing
        assert pipe.predict_entities(text, threshold=0.3, input_spans=[]) == []

    def test_return_class_probs_token_mode(self):
        pipe = GLiNERPipeline(
            ["thing", "place"], config=PipelineConfig(mode="token")
        )
        text = "alpha beta gamma delta epsilon zeta"
        ents = pipe.predict_entities(text, threshold=0.3, return_class_probs=True)
        assert ents
        for e in ents:
            assert e.get("class_probs"), "token mode must attach class_probs"
            assert all(0.0 <= v <= 1.0 for v in e["class_probs"].values())


# ---------------------------------------------------------------------------
# golden route digests
# ---------------------------------------------------------------------------


def _golden_routes():
    """name -> (kind, pipeline kwargs, call kwargs) for every extraction
    route: the 16 ``KERNEL_GATES`` rows of ``__spark_entry__`` as their
    kernel oracle builds them, plus variants of them for ``kg_triples``'
    gazetteer scoring, ``return_class_probs``, ``input_spans`` and the
    generative ``decoder_mode="prompt"``."""
    import __spark_entry__ as entry
    from tests.test_kernel_oracle import kernel_route

    routes = {name: kernel_route(gate) for name, gate in entry.KERNEL_GATES.items()}

    def variant(name, call, **pipe_kw):
        kind, kw, gate_call = routes[name]
        return kind, dict(kw, **pipe_kw), dict(gate_call, **call)

    gaz = dict(gazetteer=entry.GAZ_FULL)
    probs, spans = dict(return_class_probs=True), dict(input_spans=True)
    prompt = dict(decoder_mode="prompt")
    routes.update({
        "kg_triples": variant(
            "kg_triples_zeroshot", {},
            config=PipelineConfig(threshold=0.5, scoring="gazetteer"),
        ),
        "class_probs_span": variant("kg_entities_zeroshot", probs, **gaz),
        "class_probs_token": variant("kg_entities_tokenmode", probs),
        "class_probs_onnx": variant("kg_entities_onnx", probs),
        "input_spans_span": variant("kg_entities_zeroshot", spans, **gaz),
        "input_spans_token": variant("kg_entities_tokenmode", spans),
        "input_spans_onnx": variant("kg_entities_onnx", spans),
        "genlabels_prompt": variant("kg_entities_genlabels", prompt),
        "genlabels_prompt_token": variant("kg_entities_genlabels_token", prompt),
    })
    return routes


# (sha256 of json.dumps(per-doc outputs, sort_keys=True, default=repr),
#  gate rows: entities for entity routes, relations for triple routes)
# over the first 100 sf0.001 documents.
GOLDEN = {
    "kg_entities_zeroshot": ("b1c3f12c9b945049c884b36a49cd8702bdf10eb7dcddc98b64b4c2e71c3aaa19", 840),
    "kg_entities_tokenmode": ("0c70a38d5161c201321f0c1f6d326320847009bdc21db83f979939ab1b21c6ad", 925),
    "kg_entities_convspan": ("6bf86c26ad1c8a23637d90dac933634be7e78c8612126fabe1a890e24fe2732f", 468),
    "kg_entities_rnn": ("c6f6f009a162167c122d2fc3d61392c443da5a6f76fef9deb4cfc23f018fb3fa", 665),
    "kg_entities_biencoder_token": ("0c70a38d5161c201321f0c1f6d326320847009bdc21db83f979939ab1b21c6ad", 925),
    "kg_entities_onnx": ("6070337cc02e6b4cfafd9a91312d61f46a91a9c03910be5f740d3b5fea58c2b8", 618),
    "kg_entities_tokenmode_onnx": ("c7c439c13e61f3a34bc244a67d8fc3a1faef1b0a033a0e6fa6b4aba16532f805", 547),
    "kg_entities_biencoder_onnx": ("eac7cba30f4c3219072ee48aec5d2a4aca2207398cf57d415d553dae1bb448cd", 728),
    "kg_entities_biencoder_token_onnx": ("78b1ceb48b95253d5bc4ba4b0344d561adce93ca26e9c99c4eee76df03f65f5f", 848),
    "kg_entities_genlabels": ("d1fd44df4fbdbf637bff2b6fff72bee80fed06efcbf25e95adfa1696f6b5bb63", 2351),
    "kg_entities_genlabels_token": ("337d41bfd14871259b406ff7c2c613c59c5d140a2f07291fd92238236d1c8240", 577),
    "kg_triples_zeroshot": ("34d7d8db46f4d549636c5992b857567bea605c431276cb7a011e38a84dddd647", 5858),
    "kg_triples_adjmode_gcn": ("75d670e0cb66d7f7972d305a551d6545e2dd7f0ed63dfa831c443a062f6ee9f9", 5705),
    "kg_triples_onnx": ("c7953ca50ad4d493fe3d9d1aa7f18850d222ba5b210fa7ff893d48713bbc1e21", 2018),
    "kg_triples_tokenmode": ("fe11b951fdffce9afe8ab73c58a71bac52027f120301b6a26d659450ac78f581", 756),
    "kg_triples_tokenmode_onnx": ("94e161fde0b989f815b64f7166629f7c810b2c1f2eaedd3882f7e28a9ff4358a", 4884),
    "kg_triples": ("506e1fe781e4ed8c4b18209747db2ee690ead97169cc1707c9a7a0512e46ea6a", 825),
    "class_probs_span": ("88d63105159a0663b590a5510dcfafc81e1f6a944de868150f2cb4e850ce6f56", 2351),
    "class_probs_token": ("c37dc4c2a0184af9ba3ca469d560fa9c179f9c289f1bf10d327b3b9ec503a707", 925),
    "class_probs_onnx": ("cff6b5b2aa0937e6b534f588fba40a91ed19d140d592a9c048240c9ff2c9fe77", 618),
    "input_spans_span": ("034b887f8a82840b15f63e6f30f8ea454f51bbb7c3675c79d5ad52cdac1b3106", 842),
    "input_spans_token": ("3f9003e453664f1d7c6d67ad15893e9db42c96c794f4c7d4418da58e38b5f911", 305),
    "input_spans_onnx": ("9c14172702acbc23e2d6a920cb0250c3ab7e3d34a257f4dc032f356748d24b6c", 189),
    "genlabels_prompt": ("0081d7661e29eb70da2f29b050c89ff94502db39a342d3b031a38913dbaa03c8", 2351),
    "genlabels_prompt_token": ("6ad8eb1218ddd9b60d68b604bb89d4bb594e7aa75edc76cdbc990bde0ef190c0", 577),
}


@pytest.fixture(scope="module")
def golden_routes():
    return _golden_routes()


@pytest.fixture(scope="module")
def golden_docs():
    import pandas as pd

    from tests.test_kernel_oracle import SF_DIRS

    pdf = pd.read_parquet(f"{SF_DIRS[0]}/documents.parquet", columns=["text"])
    return list(pdf["text"][:100])


def _input_spans(text):
    """Char spans for ``input_spans``: word-aligned unigrams and bigrams
    plus one span that starts mid-word (dropped, P6)."""
    from gliner_spark.kernel.tokenization import tokenize_with_offsets

    _tokens, starts, ends = tokenize_with_offsets(text)
    spans = [(starts[j], ends[min(j + 1, len(ends) - 1)]) for j in range(0, len(starts), 3)]
    spans += [(starts[j], ends[j]) for j in range(1, len(starts), 3)]
    if starts and ends[0] - starts[0] > 1:
        spans.append((starts[0] + 1, ends[0]))
    return spans


def _golden_run(route, docs):
    import hashlib
    import json

    kind, pipe_kw, call = route
    pipe = GLiNERPipeline(**pipe_kw)
    call = dict(call)
    if kind == "generative":
        out = [pipe.predict_entities_generative(t, "en", **call) for t in docs]
        rows, batch = sum(map(len, out)), None
    elif kind == "triples":
        out = [pipe.predict_triples(t, "en") for t in docs]
        rows = sum(len(r) for _e, r in out)
        batch = [tuple(x) for x in pipe.predict_triples_batch(docs, ["en"] * len(docs))]
    else:
        spans = [_input_spans(t) for t in docs] if call.pop("input_spans", False) else None
        out = [
            pipe.predict_entities(t, "en", input_spans=spans[k] if spans else None, **call)
            for k, t in enumerate(docs)
        ]
        rows = sum(map(len, out))
        batch = pipe.predict_entities_batch(
            docs, ["en"] * len(docs), input_spans_list=spans, **call
        )
    digest = hashlib.sha256(
        json.dumps(out, sort_keys=True, default=repr).encode()
    ).hexdigest()
    return digest, rows, out, batch


@pytest.mark.parametrize("name", sorted(GOLDEN))
def test_golden_route(name, golden_routes, golden_docs):
    """Every extraction route's absolute output over 100 documents is
    pinned (floats included, through repr), and per-document calls
    equal batched calls row for row."""
    digest, rows, out, batch = _golden_run(golden_routes[name], golden_docs)
    assert (digest, rows) == GOLDEN[name]
    if batch is not None:
        assert batch == out


def test_golden_covers_every_route(golden_routes):
    assert set(GOLDEN) == set(golden_routes)


def test_span_only_session_triples_are_entities_only():
    """A span-only session graph with no relations returns its entities
    and no relations, per document and batched, like the deterministic
    backend does."""
    from gliner_spark.model.ort_testing import fake_span_encoder_factory

    pipe = GLiNERPipeline(
        LABELS, [], PipelineConfig(threshold=0.5), encoder=fake_span_encoder_factory()
    )
    texts = [TEXT, "", "Mary Jones leads the Paris office of Globex."]
    want = [(pipe.predict_entities(t), []) for t in texts]
    assert any(ents for ents, _ in want)
    assert [pipe.predict_triples(t) for t in texts] == want
    assert pipe.predict_triples_batch(texts) == want


def test_batch_lengths_must_match_texts(pipe):
    """A per-document argument with a length other than ``len(texts)``
    is an error naming both lengths, not a silently empty document."""
    texts = [TEXT, TEXT]
    with pytest.raises(ValueError, match="langs has 1 entries for 2 texts"):
        pipe.predict_entities_batch(texts, ["en"])
    with pytest.raises(ValueError, match="langs has 3 entries for 2 texts"):
        pipe.predict_triples_batch(texts, ["en"] * 3)
    with pytest.raises(ValueError, match="input_spans_list has 1 entries for 2 texts"):
        pipe.predict_entities_batch(texts, input_spans_list=[None])


def test_token_route_honours_label_embeddings(golden_docs):
    """Deterministic token mode scores against the caller's label
    matrix: with its rows rotated, every entity's label maps through the
    rotation and nothing else changes."""
    import __spark_entry__ as entry
    from gliner_spark.model.encoder import get_encoder

    labels = entry.ENT_LABELS
    cfg = PipelineConfig(threshold=0.4, mode="token")
    perm = [*range(1, len(labels)), 0]
    embs = get_encoder(64, 42).embed_labels(labels)[perm]
    rotated = GLiNERPipeline(labels, config=cfg, label_embeddings=embs)
    relabel = {labels[i]: labels[p] for i, p in enumerate(perm)}
    want = GLiNERPipeline(labels, config=cfg).predict_entities_batch(golden_docs)
    got = [
        [dict(e, label=relabel[e["label"]]) for e in ents]
        for ents in rotated.predict_entities_batch(golden_docs)
    ]
    assert sum(map(len, want)) > 100
    assert got == want
