"""End-to-end inference pipeline (the per-batch kernel).

This is the body that runs inside every Arrow batch on executors — the
direct analog of the reference's ``inference`` flow
(gliner/model.py:1384-1491) and the relex flow
(gliner/model.py:2404-2613). Every extraction route is the same three
stages, each written once:

1. **Prepare** (``_prepare_batch``): filter valid text (P1) → word
   tokenize with offset maps → truncate to ``max_len`` (P3).
2. **Score** (``_score_batch``): a session backend makes one call per
   length-sorted ``_session_chunks`` chunk (span, token, relex and
   token-relex graphs; the relex graphs select spans and score pairs
   in-graph). The deterministic backend scores one document at a time:
   the span grid plus the gazetteer, or BIO token probabilities; for
   triples it then selects confident spans (span mode) or proposes
   candidates from the BIO flags (token mode) and runs the relex tail,
   adjacency → directed pairs → pair×relation scoring.
3. **Decode** (``_decode``): ``decode_span_probs`` or
   ``decode_token_scores`` by ``config.mode`` → ``map_spans_to_char``;
   triples add ``decode_relations`` (the pre-greedy/post-greedy
   index-alignment quirk, decoder.py:822) → ``format_relations``.

``predict_entities`` / ``predict_triples`` are one-document calls of
the batch methods. The generative routes reuse stages 1 and 2 and the
confident-span selection and add their own label-generation step.

Pure Python/numpy — no Spark imports — so the identical code path is
unit-testable off-cluster and callable from ``mapInPandas``.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Dict, List, Optional, Sequence, Tuple

import numpy as np

from ..kernel.tokenization import tokenize_with_offsets
from ..kernel.spans import make_mapping, span_idx_array
from ..kernel.decoding import (
    decode_relations,
    decode_span_probs,
    decode_token_scores,
    extract_spans_from_token_probs,
    sigmoid,
)
from ..kernel.charmap import format_relations, map_spans_to_char
from .encoder import DeterministicEncoder, get_encoder


@dataclass
class PipelineConfig:
    """Knobs pinned to the reference defaults (gliner/config.py:17,27,28)."""

    max_width: int = 12
    max_len: int = 384
    threshold: float = 0.5
    flat_ner: bool = True
    multi_label: bool = False
    adjacency_threshold: Optional[float] = None  # defaults to threshold (model.py:2457-2461)
    relation_threshold: Optional[float] = None
    dim: int = 64
    seed: int = 42
    # "encoder" = zero-shot span×label scoring (the GLiNER path);
    # "gazetteer" = dictionary-only annotation: encoder scores are
    # skipped and only exact gazetteer matches fire. The gazetteer mode
    # is closed-form (no learned weights), which makes the distributed
    # operator checkable against a plain-SQL oracle end to end.
    scoring: str = "encoder"
    # "span" = (L,K,C) span×label scoring (default GLiNER mode);
    # "token" = (W,C,3) start/end/inside scoring decoded by span
    # assembly with the min-score rule (scorers.py:45-81 + decoder.py:
    # 975-1028) — the token-mode model family.
    mode: str = "span"
    # dependency-lite proximity: a predicate pattern only fires when the
    # head and tail spans are within this many words of each other.
    max_pattern_distance: int = 10
    # M4: bidirectional recurrent smoothing of word embeddings before
    # span representation (LstmSeq2SeqEncoder, layers.py:9-64; active
    # when > 0 — the reference's num_rnn_layers contract).
    num_rnn_layers: int = 0
    # M9: CrossFuser label↔text attention schema (layers.py:298-404),
    # e.g. "l2t-t2l"; empty = off (the reference default).
    post_fusion_schema: str = ""
    # Span representation mode — one of the reference's SpanRepLayer
    # family (span_rep.py:687-760): markerV0 (production default, the
    # bit-exact pre-round-2 path), marker, markerV1, query, mlp, cat,
    # conv_conv, conv_max, conv_mean, conv_sum, conv_share.
    span_mode: str = "markerV0"
    # Adjacency predictor mode for the joint relex head — one of
    # bilinear / dot / mlp / attention / gcn / gat, mirroring the
    # reference's RelationsRepLayer dispatch
    # (relations_layers.py:315-406). Default preserves the bit-exact
    # pre-round-2 bilinear scores.
    relations_mode: str = "bilinear"
    # Documents per model forward on the batched path (the reference's
    # inference DataLoader default, gliner/model.py:1391). Only the
    # ONNX-session backend truly batches; the deterministic analog is
    # per-document either way.
    batch_size: int = 8


def _check_batch_len(name: str, per_doc: Optional[Sequence], texts: Sequence[str]) -> None:
    """A per-document argument must have one entry per text."""
    if per_doc is not None and len(per_doc) != len(texts):
        raise ValueError(f"{name} has {len(per_doc)} entries for {len(texts)} texts")


class GLiNERPipeline:
    """Zero-shot span NER + joint relation extraction over raw strings."""

    def __init__(
        self,
        labels: Sequence[str],
        relations: Sequence[str] = (),
        config: Optional[PipelineConfig] = None,
        encoder: Optional[DeterministicEncoder] = None,
        gazetteer: Optional[Dict[str, str]] = None,
        patterns: Optional[Sequence[Tuple[str, str, str]]] = None,
        label_embeddings=None,
    ):
        """``gazetteer`` maps lowercased surface forms → entity label: any
        candidate span whose exact text slice matches gets a confident
        score for that label (a deterministic stand-in for trained span
        recall; the zero-shot scoring still runs underneath).

        ``patterns`` are dependency-lite predicate patterns
        (head_label, relation, tail_label): a confident-entity pair
        whose argmax labels match a pattern gets a confident adjacency
        and relation score — the pattern-based triple-extraction route
        the north star names alongside the learned relex head.

        ``label_embeddings`` (C, dim) overrides the bi-encoder label
        precompute — the reference's ``predict_with_embeds`` surface
        (gliner/model.py:1659-1728): callers embed the label set once
        (``encoder.embed_labels`` / the facade's ``encode_labels``) and
        reuse it across many pipelines/jobs. Only meaningful on
        bi-encoder backends; session (uni-encoder ONNX) graphs embed
        labels in-graph via the prompt and reject the override.
        """
        self.config = config or PipelineConfig()
        self.encoder = encoder or get_encoder(self.config.dim, self.config.seed)
        # Order-preserving de-dup + 1-indexed maps (utils.py:182-212).
        self.labels = list(dict.fromkeys(labels))
        self.relations = list(dict.fromkeys(relations))
        _, self.id_to_class = make_mapping(self.labels)
        _, self.rel_id_to_class = make_mapping(self.relations)
        self.gazetteer = {k.lower(): v for k, v in (gazetteer or {}).items()}
        # Candidate widths derived from the REAL tokenizer, not
        # whitespace split: a term like "u.s." is 1 split-word but 4
        # regex tokens, so len(term.split())-1 would skip the only
        # width that can match it (silent recall loss). Width = number
        # of word tokens - 1 under the same splitter the documents get.
        self._gaz_widths = sorted(
            {
                len(toks) - 1
                for term in self.gazetteer
                if (toks := tokenize_with_offsets(term)[0])
            }
        )
        self.patterns = {
            (h, r, t) for (h, r, t) in (patterns or []) if r in self.relations
        }
        self._label_pos = {lab: i for i, lab in enumerate(self.labels)}
        # inference packing (reference model.py:217-227): None = fixed
        # batch_size sub-batches; a config switches the session path to
        # token-budget batching (see _session_chunks)
        self._packing_config = None
        # stable identity of this label set for the encoder's score
        # cache (the encoder singleton is shared across pipelines)
        self._label_key = "\x1f".join(self.labels)
        # ONNX-session backends (model/onnx_backend.OnnxSpanEncoder /
        # OnnxRelexEncoder) score whole batches through session.run and
        # embed labels inside the graph via the <<ENT>> prompt — the
        # uni-encoder architecture. The deterministic analog exposes
        # embed_labels for the bi-encoder-style driver precompute.
        self.is_session_backend = hasattr(self.encoder, "span_probs")
        if self.is_session_backend:
            # Session backends build the span grid from THEIR max_width
            # (it's baked into the exported graph feed); a silently
            # diverging PipelineConfig.max_width would change span-width
            # coverage without anyone noticing — fail loudly instead.
            enc_width = getattr(self.encoder, "max_width", None)
            if enc_width is not None and int(enc_width) != self.config.max_width:
                raise ValueError(
                    f"PipelineConfig.max_width={self.config.max_width} != "
                    f"session encoder max_width={enc_width}; the exported "
                    f"graph's span grid wins — construct the encoder with "
                    f"the configured width or align the config"
                )
            if label_embeddings is not None and not getattr(
                self.encoder, "accepts_label_embeddings", False
            ):
                raise ValueError(
                    "label_embeddings override is a bi-encoder surface; "
                    "uni-encoder session graphs embed labels in-graph via "
                    "the <<ENT>> prompt (gliner/model.py:1875-1901). Use "
                    "OnnxBiEncoderSpanEncoder for graphs exported with the "
                    "labels_embeddings input (model.py:1746)"
                )
            if label_embeddings is not None:
                # bi-encoder SESSION graph (labels_embeddings input,
                # onnx/model.py:160-220): the precomputed matrix rides
                # every feed; shape-checked against the label count
                # (the graph's hidden size is its own business)
                embs = np.asarray(label_embeddings, dtype=np.float64)
                if embs.ndim != 2 or embs.shape[0] != len(self.labels):
                    raise ValueError(
                        f"label_embeddings shape {embs.shape} != "
                        f"({len(self.labels)}, D)"
                    )
                self.label_embs = embs
            else:
                self.label_embs = None
            self.rel_embs = None
            if self.relations and not getattr(self.encoder, "supports_relations", False):
                raise ValueError(
                    "relations require a relex-capable backend "
                    "(OnnxRelexEncoder / DeterministicEncoder), got a "
                    "span-only session encoder"
                )
        else:
            # Bi-encoder style precompute: label embeddings once per job
            # (gliner/model.py:1627-1656). In Spark these live inside the
            # broadcast pipeline object. ``label_embeddings`` short-
            # circuits the precompute (predict_with_embeds surface).
            if label_embeddings is not None:
                embs = np.asarray(label_embeddings, dtype=np.float64)
                if embs.shape != (len(self.labels), self.config.dim):
                    raise ValueError(
                        f"label_embeddings shape {embs.shape} != "
                        f"({len(self.labels)}, {self.config.dim})"
                    )
                self.label_embs = embs
                # the cross-document score cache is keyed by the LABEL
                # STRINGS; custom embeddings for the same strings would
                # poison it — salt the key with a content digest
                # (blake2b, not hash(): PYTHONHASHSEED randomizes the
                # latter across workers)
                import hashlib

                digest = hashlib.blake2b(embs.tobytes(), digest_size=8).hexdigest()
                self._label_key = "\x1f".join(self.labels) + "\x1f#embs:" + digest
            else:
                self.label_embs = self.encoder.embed_labels(self.labels)
            self.rel_embs = (
                self.encoder.embed_labels(self.relations) if self.relations else None
            )

    # ------------------------------------------------------------------
    def configure_inference_packing(self, config) -> None:
        """Set the default packing behavior for batched session calls
        (reference model.py:217-227; ``None`` disables).

        With a config, sub-batches are formed by TOKEN BUDGET
        (max_length × streams_per_batch) over the length-sorted docs
        instead of a fixed document count — short docs batch wide, long
        docs batch narrow, so every ``session.run`` sees a bounded
        padded area (the padding-elimination win packing exists for,
        infer_packing.py:164-208, within the longest-padding feed the
        exported graphs accept). Output-identical to unpacked calls:
        per-document logits are independent of batch composition
        (proven by the feed-consuming fake-session tests).
        """
        self._packing_config = config

    def _session_chunks(self, order, prepared):
        """Yield index-chunks of ``order`` (length-sorted positions into
        ``prepared``) for one session call each."""
        bs = max(1, self.config.batch_size)
        pc = self._packing_config
        if pc is None:
            for at in range(0, len(order), bs):
                yield order[at : at + bs]
            return
        budget = max(1, int(pc.max_length) * max(1, int(pc.streams_per_batch)))
        chunk: list = []
        used = 0
        for j in order:
            n = len(prepared[j][1])
            if chunk and used + n > budget:
                yield chunk
                chunk, used = [], 0
            chunk.append(j)
            used += n
        if chunk:
            yield chunk

    def _prepare(self, text: str, lang: str):
        """Tokenize, truncate, build offset maps (model.py:1181-1208 +
        truncation processor.py:489-493)."""
        tokens, starts, ends = tokenize_with_offsets(text, lang)
        if len(tokens) > self.config.max_len:
            tokens = tokens[: self.config.max_len]
            starts = starts[: self.config.max_len]
            ends = ends[: self.config.max_len]
        return tokens, starts, ends

    def _prepare_batch(self, texts: Sequence[str], langs: Optional[Sequence[str]]):
        """Stage 1: ``(doc index, tokens, starts, ends)`` for every
        document with text and at least one token."""
        _check_batch_len("langs", langs, texts)
        lang_list = list(langs) if langs is not None else ["en"] * len(texts)
        prepared = []
        for i, (text, lang) in enumerate(zip(texts, lang_list)):
            if not isinstance(text, str) or not text.strip():
                continue  # _filter_valid_texts (model.py:1222-1241)
            tokens, starts, ends = self._prepare(text, lang or "en")
            if tokens:
                prepared.append((i, tokens, starts, ends))
        return prepared

    def _thresholds(self, threshold: Optional[float]) -> Tuple[float, float, float]:
        """(span, adjacency, relation) thresholds; the last two default
        to the span threshold (model.py:2457-2461)."""
        cfg = self.config
        thr = cfg.threshold if threshold is None else threshold
        adj = cfg.adjacency_threshold if cfg.adjacency_threshold is not None else thr
        rel = cfg.relation_threshold if cfg.relation_threshold is not None else thr
        return thr, adj, rel

    def _session_call(self, relex: bool) -> Optional[str]:
        """Name of the session method that scores this route one chunk
        at a time, or None when the deterministic backend scores it one
        document at a time."""
        enc = self.encoder
        if self.config.mode == "token":
            if relex:
                if not self.is_session_backend:
                    return None
                if not hasattr(enc, "token_relex_outputs"):
                    raise ValueError(
                        "token-mode triples on a session backend need a token-relex "
                        "graph (logits/rel_idx/rel_logits/rel_mask, no span grid — "
                        "gliner/model.py:2916-2952); this session exports "
                        f"{type(enc).__name__} outputs only"
                    )
                return "token_relex_outputs"
            if hasattr(enc, "token_probs"):
                return "token_probs"
            if not hasattr(enc, "token_label_scores"):
                raise ValueError(
                    "token mode needs a token-scoring backend (DeterministicEncoder "
                    "or OnnxTokenEncoder); a span-mode ONNX session cannot produce "
                    "(W,C,3) start/end/inside scores — export the token-mode graph "
                    "(gliner/model.py:1941-1989)"
                )
            return None
        if not self.is_session_backend or self.config.scoring == "gazetteer":
            return None
        if relex and getattr(enc, "supports_relations", False):
            return "relex_outputs"
        # entities, or triples on a span-only graph: the constructor
        # rejects relations there, so its triples are entities only
        return "span_probs"

    def _score_batch(self, prepared, texts, relex=False, thr=None, adj_thr=None):
        """Stage 2: yield ``(prepared item, probs, rel_idx, rel_probs)``
        per document, in any order. ``probs`` is (L, K, C) in span mode
        (gazetteer applied) and (W, C, 3) start/end/inside in token
        mode; ``rel_idx``/``rel_probs`` are None unless ``relex`` scored
        at least one pair."""
        if not prepared:
            return
        call = self._session_call(relex)
        span_mode = self.config.mode != "token"
        if call is None:
            for item in prepared:
                i, tokens, starts, ends = item
                probs, span_reps = self._score_doc(tokens, texts[i], starts, ends)
                rel_idx = rel_probs = None
                if relex and span_mode:
                    packed_idx, cand, label_idx = self._confident_spans(probs, tokens, thr)
                    reps = None if span_reps is None else span_reps[packed_idx]
                    rel_idx, rel_probs = self._relex_tail(
                        tokens, cand, adj_thr, reps, label_idx
                    )
                elif relex:
                    # token-mode joint relex (UniEncoderTokenRelexGLiNER,
                    # gliner/model.py:2902): the BIO flags propose the
                    # candidate list (represent_spans override,
                    # base.py:2497-2514), not the L×K grid
                    rel_idx, rel_probs = self._relex_tail(
                        tokens, self._token_candidates(probs, thr), adj_thr
                    )
                yield item, probs, rel_idx, rel_probs
            return
        run = getattr(self.encoder, call)
        # documents length-sorted first so each padded session feed is
        # length-homogeneous (the cheap 80% of the reference's packing
        # win, infer_packing.py:164-208)
        order = sorted(range(len(prepared)), key=lambda j: -len(prepared[j][1]))
        for idx_chunk in self._session_chunks(order, prepared):
            chunk = [prepared[j] for j in idx_chunk]
            batch = [c[1] for c in chunk]
            if call.endswith("relex_outputs"):
                # the graph runs confident-span selection (or candidate
                # proposal), adjacency and pair scoring itself at the
                # export-default thresholds (gliner/model.py:2871-2900,
                # 2916-2952); the forward signature takes no threshold
                outs = run(batch, self.labels, self.relations)
            elif getattr(self.encoder, "accepts_label_embeddings", False):
                # bi-encoder graphs take the precomputed label matrix
                # (labels_embeddings input, gliner/model.py:1746)
                outs = [
                    (p, None, None)
                    for p in run(batch, self.labels, label_embeddings=self.label_embs)
                ]
            else:
                outs = [(p, None, None) for p in run(batch, self.labels)]
            for item, (probs, rel_idx, rel_probs) in zip(chunk, outs):
                i, _tokens, starts, ends = item
                if span_mode:
                    probs = self._apply_gazetteer(probs, texts[i], starts, ends)
                yield item, probs, rel_idx, rel_probs

    def _score_doc(self, tokens, text, starts, ends):
        """Deterministic scoring of one document: span mode gives
        ``(probs (L, K, C), span_reps)`` with the gazetteer applied;
        token mode gives ``((W, C, 3) start/end/inside probs, None)``
        (M7)."""
        if self.config.mode == "token":
            token_embs = self.encoder.embed_tokens(tokens)
            logits = self.encoder.token_label_scores(token_embs, self.label_embs)
            return sigmoid(logits), None
        probs, span_reps = self._score_spans(tokens)
        return self._apply_gazetteer(probs, text, starts, ends), span_reps

    def _score_spans(self, tokens: Sequence[str]) -> Tuple[np.ndarray, Optional[np.ndarray]]:
        """Enumerate spans and score them against label embeddings.

        Returns (probs (L,K,C), span_reps (L*K, D) or None on the
        score-cache path). The deterministic encoder consumes the
        precomputed label embeddings directly — the bi-encoder dataflow;
        the <<ENT>>/<<SEP>> prompt (processor.py:179-197) is built only
        for session feeds (onnx_backend.build_span_feed).
        """
        L = len(tokens)
        K = self.config.max_width
        cfg = self.config
        if cfg.scoring == "gazetteer":
            # Dictionary-only mode: no encoder scores; spans light up via
            # _apply_gazetteer alone. Reps stay zero (relex patterns
            # drive adjacency in this mode).
            return np.zeros((L, K, len(self.labels))), np.zeros((L * K, cfg.dim))
        sidx = span_idx_array(L, K)
        label_embs = self.label_embs
        contextual = (
            cfg.span_mode != "markerV0"
            or cfg.num_rnn_layers > 0
            or bool(cfg.post_fusion_schema)
        )
        if not contextual:
            # token-pair-keyed SCORE cache (Zipf vocabularies repeat
            # pairs heavily): a hit skips both the rep gather and the
            # score einsum; bit-identical to the uncached path. Span
            # reps are not materialized here — the relex path builds
            # them lazily for the (few) confident spans only.
            logits = self.encoder.score_spans_tokens(
                tokens, sidx, label_embs, self._label_key
            )
            return sigmoid(logits).reshape(L, K, len(self.labels)), None
        # contextual paths (alt span modes, M4 RNN smoothing, M9
        # cross-fusion) depend on the whole token sequence →
        # per-document compute, no pair cache
        h = self.encoder.embed_tokens(tokens)
        if cfg.num_rnn_layers > 0:
            h = self.encoder.rnn_smooth(h, cfg.num_rnn_layers)
        if cfg.post_fusion_schema:
            label_embs, h = self.encoder.cross_fuse(label_embs, h, cfg.post_fusion_schema)
        span_reps = self.encoder.span_representations_mode(h, sidx, K, cfg.span_mode)
        logits = self.encoder.score_spans(span_reps, label_embs)  # (L*K, C)
        return sigmoid(logits).reshape(L, K, len(self.labels)), span_reps

    def _apply_gazetteer(
        self,
        probs: np.ndarray,
        text: str,
        starts: Sequence[int],
        ends: Sequence[int],
    ) -> np.ndarray:
        """Boost (span, label) scores for exact gazetteer matches.

        The score is a deterministic function of the surface form (so
        outputs stay reproducible across processes); matching is done on
        the char-slice of the original text, preserving the
        byte-identical-text invariant.
        """
        if not self.gazetteer:
            return probs
        L, K, _C = probs.shape
        n = len(starts)
        # Only span widths that can match a gazetteer term need scanning
        # (a k-token surface only matches k-token terms) — typically 1-2
        # widths instead of all K. Widths come from the real tokenizer
        # (computed once in __init__), so punctuated terms still match.
        for k in (w for w in self._gaz_widths if 0 <= w < K):
            for s in range(min(L, n - k)):
                surface = text[starts[s]: ends[s + k]].lower()
                label = self.gazetteer.get(surface)
                if label is not None:
                    pos = self._label_pos.get(label)
                    if pos is not None:
                        # deterministic high score in [0.90, 0.99]
                        h = sum(surface.encode("utf-8")) % 90
                        probs[s, k, pos] = 0.90 + h / 1000.0
        return probs

    @staticmethod
    def _confident_spans(probs: np.ndarray, tokens: Sequence[str], thr: float):
        """Confident-span selection: valid spans whose max-class prob >
        ``thr``, packed in ascending flat L*K order (base.py:2051-2074;
        the generative keep rule, base.py:1356-1374, is the same).
        Returns (packed flat indices, (E, 2) word spans, argmax label
        index per span)."""
        L, K, _C = probs.shape
        flat_probs = probs.reshape(L * K, -1)
        sidx = span_idx_array(L, K)
        valid = sidx[:, 1] < len(tokens)  # span_mask
        packed_idx = np.nonzero((flat_probs.max(axis=1) > thr) & valid)[0]
        return packed_idx, sidx[packed_idx], flat_probs[packed_idx].argmax(axis=1)

    @staticmethod
    def _token_candidates(probs: np.ndarray, thr: float) -> np.ndarray:
        """(E, 2) candidate spans proposed from the BIO flags
        (extract_spans_from_tokens, modeling/utils.py:299-379): every
        (start-flag, end-flag) pair of one class whose inside positions
        are all flagged."""
        return extract_spans_from_token_probs(
            probs[:, :, 0], probs[:, :, 1], probs[:, :, 2], thr
        )

    def _relex_tail(self, tokens, cand, adj_thr, reps=None, label_idx=None):
        """The relex tail over a packed candidate list (base.py:2216-2256):
        adjacency (mode-dispatched, relations_layers.py:315-406) → all
        directed pairs (i, j), i≠j, with prob > ``adj_thr`` in row-major
        order (modeling/utils.py:209-296) → pair×relation scoring
        (base.py:2243-2246). ``label_idx`` (span mode only) enables the
        predicate patterns. Returns (rel_idx, rel_probs), None when no
        pair is scored."""
        E = len(cand)
        if E < 2 or self.rel_embs is None or not len(self.rel_embs):
            return None, None
        if reps is None:
            # score-cache path: build reps ONLY for the candidates
            # (E ≪ L·K); same per-row math as the full matrix
            reps = self.encoder.span_representations_tokens(tokens, cand)
        adj = self.encoder.adjacency_probs(reps, self.config.relations_mode)
        patterns = self.patterns if label_idx is not None else ()
        if patterns:
            # dependency-lite predicate patterns: a typed pair that
            # matches any (head_label, *, tail_label) pattern AND sits
            # within max_pattern_distance words is a confident
            # adjacency candidate. Vectorized over the E×E grid
            # (the reference's O(E²) Python loop is its bottleneck,
            # modeling/utils.py:254-258 — SURVEY.md §4.3).
            lab_arr = np.asarray(self.labels)[label_idx]
            st, en = cand[:, 0], cand[:, 1]
            # word gap: gap[i,j] = max(start_j - end_i, start_i - end_j)
            gap_mat = np.maximum(st[None, :] - en[:, None], st[:, None] - en[None, :])
            near_mat = gap_mat <= self.config.max_pattern_distance
            typed = np.zeros((E, E), dtype=bool)
            for h, _r, t in patterns:
                typed |= (lab_arr[:, None] == h) & (lab_arr[None, :] == t)
            np.fill_diagonal(typed, False)
            adj = np.where(typed & near_mat, np.maximum(adj, 0.95), adj)
        rows, cols = np.nonzero(~np.eye(E, dtype=bool))  # row-major (i, j), i != j
        sel = adj[rows, cols] > adj_thr
        pairs = np.stack([rows[sel], cols[sel]], axis=1)
        if not len(pairs):
            return None, None
        # packed form: span-level projections once, pair-level adds
        rel_probs = sigmoid(
            self.encoder.pair_relation_logits_packed(reps, pairs, self.rel_embs)
        )
        if patterns:
            hl = lab_arr[pairs[:, 0]]
            tl = lab_arr[pairs[:, 1]]
            near = near_mat[pairs[:, 0], pairs[:, 1]]
            # __init__ keeps only patterns whose relation is known
            rel_pos = {r: c for c, r in enumerate(self.relations)}
            for h, r, t in patterns:
                mask = near & (hl == h) & (tl == t)
                c = rel_pos[r]
                rel_probs[mask, c] = np.maximum(rel_probs[mask, c], 0.93)
        return pairs, rel_probs

    def _decode(
        self, probs, tokens, text, starts, ends, thr,
        input_spans=None, return_class_probs=False, id_to_class=None,
    ):
        """Stage 3 (entities): greedy decode of one document's scores →
        (post-greedy spans, char-mapped entities). Token mode assembles
        spans with the BIO min rule (decoder.py:975-1028);
        ``input_spans`` are WORD spans (D9) and ``return_class_probs``
        attaches the top-k per-class scores (D4) in both modes."""
        cfg = self.config
        id_to_class = self.id_to_class if id_to_class is None else id_to_class
        kw = dict(
            threshold=thr, flat_ner=cfg.flat_ner, multi_label=cfg.multi_label,
            input_spans=input_spans, return_class_probs=return_class_probs,
        )
        if cfg.mode == "token":
            spans = decode_token_scores(
                probs[:, :, 0], probs[:, :, 1], probs[:, :, 2], id_to_class, **kw
            )
        else:
            spans = decode_span_probs(probs, tokens, id_to_class, **kw)
        return spans, map_spans_to_char(spans, text, starts, ends)

    # ------------------------------------------------------------------
    def predict_entities(
        self,
        text: str,
        lang: str = "en",
        threshold: Optional[float] = None,
        input_spans: Optional[Sequence[Tuple[int, int]]] = None,
        return_class_probs: bool = False,
    ) -> List[Dict[str, Any]]:
        """Entities with char offsets for one document (model.py:1493-1520).

        ``input_spans`` restricts decoding to user-provided CHAR spans
        (D9, decoder.py:258-266): each is converted to word indices via
        the exact-boundary reverse maps and silently dropped when it
        doesn't align to token boundaries (P6, model.py:1243-1279).
        ``return_class_probs`` attaches the top-k per-class
        probabilities per span (D4, decoder.py:159-188).
        """
        return self.predict_entities_batch(
            [text], [lang], threshold=threshold, input_spans_list=[input_spans],
            return_class_probs=return_class_probs,
        )[0]

    def predict_entities_batch(
        self,
        texts: Sequence[str],
        langs: Optional[Sequence[str]] = None,
        threshold: Optional[float] = None,
        input_spans_list: Optional[Sequence] = None,
        return_class_probs: bool = False,
    ) -> List[List[Dict[str, Any]]]:
        """Batched prediction — the ``_process_batches`` analog
        (gliner/model.py:1333-1381).

        Session (ONNX) backends run ONE ``session.run`` per sub-batch of
        ``config.batch_size`` documents (or per token budget, see
        ``configure_inference_packing``), documents length-sorted first;
        see also plans/packing for the full block-diagonal variant.
        Output order follows the input order and is identical to
        per-document ``predict_entities`` calls.
        """
        thr = self._thresholds(threshold)[0]
        _check_batch_len("input_spans_list", input_spans_list, texts)
        spans_list = list(input_spans_list) if input_spans_list is not None else None
        results: List[List[Dict[str, Any]]] = [[] for _ in texts]
        prepared = self._prepare_batch(texts, langs)
        for (i, tokens, starts, ends), probs, _ri, _rp in self._score_batch(prepared, texts):
            word_spans = None
            if spans_list is not None:
                word_spans = self._to_word_spans(spans_list[i], starts, ends)
            results[i] = self._decode(
                probs, tokens, texts[i], starts, ends, thr, word_spans, return_class_probs
            )[1]
        return results

    # ------------------------------------------------------------------
    def predict_triples(
        self, text: str, lang: str = "en", threshold: Optional[float] = None
    ) -> Tuple[List[Dict[str, Any]], List[Dict[str, Any]]]:
        """(entities, relations) for one document; see
        ``predict_triples_batch``."""
        return self.predict_triples_batch([text], [lang], threshold=threshold)[0]

    def predict_triples_batch(
        self,
        texts: Sequence[str],
        langs: Optional[Sequence[str]] = None,
        threshold: Optional[float] = None,
    ) -> List[Tuple[List[Dict[str, Any]], List[Dict[str, Any]]]]:
        """(entities, relations) per document.

        Mirrors UniEncoderSpanRelexGLiNER.inference (model.py:2404-2613):

        1. span scoring as in entity mode;
        2. confident-span selection: flat-index-ordered packed list of
           valid spans whose max-class prob > threshold
           (base.py:2051-2074) — in token mode the candidate list comes
           from the BIO flags instead (UniEncoderTokenRelexGLiNER,
           gliner/model.py:2902);
        3. adjacency over the packed list, sigmoid, then all directed
           pairs (i,j), i≠j, with prob > adjacency_threshold, in
           row-major order (modeling/utils.py:209-296);
        4. pair×relation scoring (base.py:2243-2246);
        5. entity decode (greedy) + relation decode — head/tail indices
           from the PRE-greedy packed list validated against the
           POST-greedy span list (decoder.py:822, and by bounds check
           only in token mode, decoder.py:1305-1310), ported verbatim.

        Relex session backends run steps 2-4 in-graph, one
        ``session.run`` per length-sorted sub-batch; a span-only session
        (no relations) returns its entities and no relations.
        """
        thr, adj_thr, rel_thr = self._thresholds(threshold)
        results: List[Tuple[list, list]] = [([], []) for _ in texts]
        prepared = self._prepare_batch(texts, langs)
        for (i, tokens, starts, ends), probs, rel_idx, rel_probs in self._score_batch(
            prepared, texts, relex=True, thr=thr, adj_thr=adj_thr
        ):
            text = texts[i]
            spans, entities = self._decode(probs, tokens, text, starts, ends, thr)
            rel_tuples = decode_relations(
                spans, rel_idx, rel_probs, None, self.rel_id_to_class, threshold=rel_thr
            )
            results[i] = (entities, format_relations(rel_tuples, spans, text, starts, ends))
        return results

    # ------------------------------------------------------------------
    def _generative_decoder(self, constraints):
        """Lazily-built deterministic generative head, cached per
        constraint set (the decoder tokenizer's closed vocabulary is
        labels ∪ constraints)."""
        from .generative import GenerativeLabelDecoder, LabelTokenizer

        key = tuple(constraints or ())
        cache = getattr(self, "_gen_decoders", None)
        if cache is None:
            cache = self._gen_decoders = {}
        dec = cache.get(key)
        if dec is None:
            vocab_labels = list(self.labels) + list(constraints or ())
            dec = GenerativeLabelDecoder(self.encoder, LabelTokenizer(vocab_labels))
            cache[key] = dec
        return dec

    def predict_entities_generative(
        self,
        text: str,
        lang: str = "en",
        threshold: Optional[float] = None,
        decoder_mode: str = "span",
        gen_constraints: Optional[Sequence[str]] = None,
        num_gen_sequences: int = 1,
        max_new_tokens: int = 15,
    ) -> List[Dict[str, Any]]:
        """Entities with GENERATED type labels (M15/D10) — the
        encoder-decoder family's inference (model.py:2166-2321).

        ``decoder_mode`` follows config.decoder_mode semantics
        (decoding/decoder.py:403-614):

        * ``"span"``  — confident spans (the select_span_decoder_embedding
          keep rule, base.py:1356-1374: sigmoid(score).max > threshold,
          flat L*K packing order) each get ``num_gen_sequences``
          generated label strings attached as ``generated_labels``;
        * ``"prompt"`` — one label is generated per PROMPT CLASS from
          its label embedding and REPLACES the class name in
          id_to_classes (decoder.py:415-444); entities carry the
          generated name as their ``label``.

        Token mode is the token-decoder family
        (UniEncoderTokenDecoderGLiNER, gliner/model.py:2346-2358; model
        side base.py:1608-1900; decode side TokenGenerativeDecoder,
        decoder.py:1427-1533): candidate spans are proposed FROM the BIO
        token flags (the span grid is never enumerated) and re-scored
        against the label embeddings (``span_logits =
        einsum('BND,BCD->BNC')``, base.py:1836); entity decode runs over
        THESE span probs, not the BIO min rule; the decoder keeps
        candidates with ``sigmoid(span_logits).max(-1) > 0.5`` — the
        reference HARD-CODES 0.5 here (base.py:1700-1702), independent
        of the user threshold (upstream also writes ``& span_mask.bool``
        without calling it — our candidate list is packed so the mask is
        all-true) — and generated labels attach by CANDIDATE POSITION
        (decoder.py:1490-1531) before greedy overlap resolution.

        ``gen_constraints`` builds the labels trie (model.py:2107-2131)
        so every generated string is a member of the constraint set.
        This family is ONNX-incompatible in the reference too
        (model.py:2322-2345) — session backends are rejected.
        """
        from ..kernel.decoding import decode_candidate_span_probs
        from .generative import build_span_label_map, updated_id_to_classes

        if self.is_session_backend:
            raise NotImplementedError(
                "generative label decoding is ONNX-incompatible "
                "(reference model.py:2322-2345 raises on export); use the "
                "deterministic bi-encoder backend"
            )
        prepared = self._prepare_batch([text], [lang])
        if not prepared:
            return []
        thr = self._thresholds(threshold)[0]
        _i, tokens, starts, ends = prepared[0]
        probs, span_reps = self._score_doc(tokens, text, starts, ends)
        token_mode = self.config.mode == "token"
        if token_mode:
            cand = self._token_candidates(probs, thr)
            if len(cand) == 0:
                return []
            cand_reps = self.encoder.span_representations_tokens(tokens, cand)
            span_probs = sigmoid(
                self.encoder.score_spans(cand_reps, self.label_embs)
            )  # (E, C)
            keep_idx = np.nonzero(span_probs.max(axis=1) > 0.5)[0]  # base.py:1702
        else:
            keep_idx, kept_spans, _label_idx = self._confident_spans(probs, tokens, thr)
        dec = self._generative_decoder(gen_constraints)
        id_to_class = self.id_to_class
        span_label_map: Dict[int, List[str]] = {}
        if decoder_mode == "prompt":
            # decoder input = prompt (class) embeddings, one generated
            # name per class, num_return_sequences=1 (decoder.py:452)
            gen = dec.generate_labels(
                self.label_embs,
                constraints=gen_constraints,
                num_return_sequences=1,
                max_new_tokens=max_new_tokens,
            )
            id_to_class = updated_id_to_classes(self.id_to_class, gen)
        elif decoder_mode == "span":
            if len(keep_idx):
                if token_mode:
                    kept_reps = cand_reps[keep_idx]
                elif span_reps is None:
                    kept_reps = self.encoder.span_representations_tokens(tokens, kept_spans)
                else:
                    kept_reps = span_reps[keep_idx]
                gen = dec.generate_labels(
                    kept_reps,
                    constraints=gen_constraints,
                    num_return_sequences=num_gen_sequences,
                    max_new_tokens=max_new_tokens,
                )
                span_label_map = build_span_label_map(keep_idx, gen, num_gen_sequences)
        else:
            raise ValueError(f"unknown decoder_mode: {decoder_mode!r}")

        if token_mode:
            spans = decode_candidate_span_probs(
                span_probs,
                cand,
                id_to_class,
                span_label_map=span_label_map,
                threshold=thr,
                flat_ner=self.config.flat_ner,
                multi_label=self.config.multi_label,
            )
            entities = map_spans_to_char(spans, text, starts, ends)
            generated = [span.generated_labels for span in spans]
        else:
            spans, entities = self._decode(
                probs, tokens, text, starts, ends, thr, id_to_class=id_to_class
            )
            # flat_idx = start * K + width addresses the pre-greedy
            # packed list (decoder.py:492-527 _build_span_tuple)
            K = probs.shape[1]
            generated = [
                span_label_map.get(span.start * K + (span.end - span.start))
                for span in spans
            ]
        for ent, labels in zip(entities, generated):
            if labels is not None:
                ent["generated_labels"] = labels
        return entities

    @staticmethod
    def _to_word_spans(input_spans, starts, ends):
        """CHAR spans → WORD spans via exact-boundary reverse maps,
        silently dropping non-aligned spans (P6, model.py:1243-1279)."""
        if input_spans is None:
            return None
        start_map = {cs: i for i, cs in enumerate(starts)}
        end_map = {ce: i for i, ce in enumerate(ends)}
        return [
            (start_map[cs], end_map[ce])
            for cs, ce in input_spans
            if cs in start_map and ce in end_map  # silent drop (P6)
        ]
