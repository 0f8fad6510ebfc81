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


# (sha256 of json.dumps(per-doc outputs, floats rounded to 9 decimals,
#  sort_keys=True), gate rows: entities for entity routes, relations for
#  triple routes) over the first 100 sf0.001 documents.
GOLDEN = {
    "kg_entities_zeroshot": ("a26df361ac086b107ed9a1ad1d48aa4f8c1713d33fb58968c42cde6ceab511a5", 840),
    "kg_entities_tokenmode": ("a5bbaa91c7496bd69e31030e4723211f26f9e5fa08f3bcec0f48f17fe336b061", 925),
    "kg_entities_convspan": ("9e2e86d5adbb4aa9a335a12b2851b4f43c72ace3c94366f8a576f48231bdfb0d", 468),
    "kg_entities_rnn": ("d3257eb036142a035d5411ff7d190686fb6a958e7276c5cc9e35cd1bcc1747e2", 665),
    "kg_entities_biencoder_token": ("a5bbaa91c7496bd69e31030e4723211f26f9e5fa08f3bcec0f48f17fe336b061", 925),
    "kg_entities_onnx": ("4f004d08f4a25a9c349ec25cc479205047b6149941b27b52f3d2b5d07edc1463", 618),
    "kg_entities_tokenmode_onnx": ("6470631b437c3a9de858aaa9234ac310aa90c51de281fb9fa23e94b85982b384", 547),
    "kg_entities_biencoder_onnx": ("c83c1591e4902592dd91642be11a86f7274ae325d6e94f62ec2b0a0186424b9e", 728),
    "kg_entities_biencoder_token_onnx": ("5068ae92d00a18a15ab413f9bd2a46816a3bdb97848a2b8c70a96c60acf7c483", 848),
    "kg_entities_genlabels": ("3e757143e3e042418356de428113a120317a94e82cd7891e38ad544392494930", 2351),
    "kg_entities_genlabels_token": ("ae9d0876a92f99b80d4e6ae89b18770f28b76deef2f8715fe788ddecd8994f71", 577),
    "kg_triples_zeroshot": ("d2947596fcfe3d9f4965aa7a0a4410d23ec4d39d2ede65671fc664987ddf2b62", 5858),
    "kg_triples_adjmode_gcn": ("6132457d780102de764d75cbcbf110d231eea7203a63449da955c3bf9f85c0a8", 5705),
    "kg_triples_onnx": ("1606ad436f313f697e8eb6b5bde6867615228ef5b4678ba948c9998b285a3683", 2018),
    "kg_triples_tokenmode": ("e772e64b2a4ab21f1940fc34c2dee5571f7d89880fa3a5b734d4aaa8421a90a5", 756),
    "kg_triples_tokenmode_onnx": ("2843ec8c6d145a37019dbcf6e904a60ac2a4c0bf1ae0809f3eabf9b5be372f88", 4884),
    "kg_triples": ("1a091356d261a3ab146d8532ee73dac96a1e3773424db2db2b73dd0e8924a44e", 825),
    "class_probs_span": ("34c2432eb51a70d79d934b1fca0f012bd49ae622fe38241dd8681dc5e9f280a6", 2351),
    "class_probs_token": ("b7aa43b3ad6b548857cd15fb25fefdf7eb47c9b1806a62a292717df4917ce029", 925),
    "class_probs_onnx": ("2bdf5fe4eb9f1c8f48fc12870e73a38e51ed2c98b7c801576a643cbc480e90d6", 618),
    "input_spans_span": ("56860d702417b102b062605a59059d668aecc13e603c69e1f0690011ae3861e4", 842),
    "input_spans_token": ("ed4faa5a83fd7d0dec9fbf4e0d5f6bacf78110c5899a887804ec27f492e4038d", 305),
    "input_spans_onnx": ("2c221a3ede4a784942b21b61eb7176de48a58b34d80294bbb18aa68034c33ab1", 189),
    "genlabels_prompt": ("4e0df32e28c0571e476f238cdb4b1ebb82482de639eab6676fd4fa417c79af34", 2351),
    "genlabels_prompt_token": ("ce5c89e3461ff88ef1e922ba9a96e9cb53f7f4cc58902e6c9551ce788b01ea53", 577),
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


def _rounded(x):
    """``x`` with every float rounded to 9 decimals; strings, offsets
    and structure stay exact. Score bits follow numpy's SIMD dispatch
    (AVX2 / AVX-512 kernels sum in different orders), so unrounded
    digests differ between hosts that decode identically."""
    if isinstance(x, float):
        return round(x, 9)
    if isinstance(x, dict):
        return {k: _rounded(v) for k, v in x.items()}
    if isinstance(x, (list, tuple)):
        return [_rounded(v) for v in x]
    return x


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
        json.dumps(_rounded(out), sort_keys=True).encode()
    ).hexdigest()
    return digest, rows, out, batch


@pytest.mark.parametrize("name", sorted(GOLDEN))
def test_golden_route(name, golden_routes, golden_docs):
    """Every extraction route's absolute output over 100 documents is
    pinned (floats to 9 decimals), and per-document calls equal batched
    calls exactly, row for row."""
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
