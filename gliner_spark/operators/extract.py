"""Distributed entity/triple extraction operators.

The whole reference model becomes two Arrow-batched ``mapInPandas``
operators (SURVEY.md §2.10). Dataflow per executor python worker:

  Arrow batch (url, text, lang)
    → pipeline singleton (labels broadcast once; mirrors the
      bi-encoder precompute, gliner/model.py:1627-1656, and the
      executor-singleton ORT session, model.py:682)
    → per-doc kernel: tokenize → enumerate spans → score → greedy
      decode → char map                     (gliner/model.py:1333-1381)
    → exploded rows (one per entity / per triple)

No per-row Python UDFs; no driver-side collect. Output rows carry the
source ``url`` so downstream joins (eval, linking) are equi-joins.

Scale notes (100 TB design point):
* the operator is embarrassingly parallel — zero shuffles by itself;
  callers add one salted exchange up front (plans.skew) to break
  domain/language skew, then ``sortWithinPartitions(length(text))`` for
  length-homogeneous Arrow batches (the cheap 80% of the reference's
  sequence-packing win, infer_packing.py:164-208);
* per-batch memory is bounded by
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` × max_len;
* label/relation lists ride the closure (tiny), the encoder weights are
  rebuilt deterministically per worker (hash-seeded) — with the ONNX
  backend they'd ship via ``spark-submit --files`` + SparkFiles.
"""

from __future__ import annotations

from typing import Iterator, List, Optional, Sequence

import pandas as pd

from pyspark.sql import DataFrame

from ..model.pipeline import GLiNERPipeline, PipelineConfig

ENTITY_SCHEMA = (
    "url string, start int, end int, text string, label string, score double"
)
TRIPLE_SCHEMA = (
    "url string, "
    "subj_start int, subj_end int, subj_text string, subj_label string, "
    "pred string, "
    "obj_start int, obj_end int, obj_text string, obj_label string, "
    "score double"
)

_PIPELINE_CACHE: dict = {}


def _ensure_parallelism(df: DataFrame, min_partitions: Optional[int]) -> DataFrame:
    """Round-robin repartition when the input under-partitions.

    A small/compacted parquet file arrives as ONE input split, which
    serializes the whole extraction onto one core — the inverse of the
    skew problem. Default: bring partitions up to the cluster's
    defaultParallelism when the input has fewer (callers doing their
    own salted repartition pass ``min_partitions=0`` to opt out; a
    positive ``min_partitions`` repartitions to it unconditionally).

    One count decides: the output partitioning of the prepared physical
    plan (exchanges in place, planned without running a job). An
    upstream repartition, rebalance, keyed exchange, aggregate or
    sort-merge join reports its width, and a coalesce, a shrink-to-1
    repartition or a broadcast join over a 1-partition side reports 1.
    A bare scan reports 0 (unknown); then the scan's file count stands
    in, so a 1-file parquet fans out and a 100 TB scan does not. An
    input with neither (an in-memory source) is left as it is.
    """
    if min_partitions == 0:
        return df
    if min_partitions:
        return df.repartition(min_partitions)
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()  # AQE's initial plan, before any stage runs
    n = plan.outputPartitioning().numPartitions() or len(df.inputFiles())
    target = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(target) if 0 < n < target else df


def _factory_key(encoder_factory, encoder_key=None):
    """Cache identity of an encoder factory.

    (module, qualname) alone collides for two lambdas with identical
    qualnames closing over different model paths — the exact usage the
    docstring recommends — silently reusing the wrong cached pipeline.
    So the key is the blake2b of the factory's cloudpickle bytes (the
    closure's captured values are part of the pickle, so two lambdas
    over different paths hash differently). Callers that want a stable,
    human-readable identity (or have an unpicklable factory) pass
    ``encoder_key`` explicitly.
    """
    if encoder_factory is None:
        return None
    if encoder_key is not None:
        return ("explicit", str(encoder_key))
    import hashlib

    try:
        from pyspark import cloudpickle

        blob = cloudpickle.dumps(encoder_factory)
    except Exception:
        import pickle

        try:
            blob = pickle.dumps(encoder_factory)
        except Exception:
            # Unpicklable factory with no explicit key: never share.
            return ("id", id(encoder_factory))
    return ("pickle", hashlib.blake2b(blob, digest_size=16).hexdigest())


def _get_pipeline(
    labels, relations, cfg_kwargs, gazetteer=None, patterns=None,
    encoder_factory=None, encoder_key=None, label_embeddings=None,
) -> GLiNERPipeline:
    """Process-level pipeline singleton keyed by (labels, relations, cfg).

    ``encoder_factory`` is a zero-arg callable returning a scoring
    backend (e.g. ``lambda: OnnxSpanEncoder(model_path=SparkFiles.get(
    "model.onnx"))``); it runs once per worker process per key — the
    executor-singleton pattern, so production factories should load the
    ORT session via the module-level session cache (onnx_backend keeps
    one session per model path). ``encoder_key`` overrides the derived
    factory identity (see _factory_key).
    """
    factory_key = _factory_key(encoder_factory, encoder_key)
    if label_embeddings is not None:
        import hashlib
        import numpy as _np

        emb_key = hashlib.blake2b(
            _np.asarray(label_embeddings, dtype=_np.float64).tobytes(),
            digest_size=8,
        ).hexdigest()
    else:
        emb_key = None
    key = (
        tuple(labels),
        tuple(relations),
        tuple(sorted(cfg_kwargs.items())),
        tuple(sorted((gazetteer or {}).items())),
        tuple(sorted(patterns or [])),
        factory_key,
        emb_key,
    )
    pipe = _PIPELINE_CACHE.get(key)
    if pipe is None:
        pipe = GLiNERPipeline(
            labels,
            relations,
            PipelineConfig(**cfg_kwargs),
            encoder=encoder_factory() if encoder_factory is not None else None,
            gazetteer=gazetteer,
            patterns=patterns,
            label_embeddings=label_embeddings,
        )
        if len(_PIPELINE_CACHE) >= 128:  # bound memory; prompt-mode relex
            _PIPELINE_CACHE.pop(next(iter(_PIPELINE_CACHE)))  # cycles label sets
        _PIPELINE_CACHE[key] = pipe
    return pipe


def extract_entities(
    df: DataFrame,
    labels: Sequence[str],
    threshold: float = 0.5,
    flat_ner: bool = True,
    multi_label: bool = False,
    url_col: str = "url",
    text_col: str = "text",
    lang_col: Optional[str] = "lang",
    gazetteer: Optional[dict] = None,
    min_partitions: Optional[int] = None,
    spans_col: Optional[str] = None,
    return_class_probs: bool = False,
    encoder_factory=None,
    encoder_key: Optional[str] = None,
    label_embeddings=None,
    **cfg_kwargs,
) -> DataFrame:
    """pages(url, text[, lang]) → entities(url, start, end, text, label, score).

    One output row per detected entity; char offsets; ``text`` is the
    byte-identical slice of the source text (the per-row invariant,
    gliner/model.py:1316-1322).

    ``spans_col`` names an ``array<struct<start int, end int>>`` column
    of user-provided char spans: decoding is restricted to those spans
    (D9), with non-token-aligned spans silently dropped (P6).
    ``return_class_probs`` appends a ``class_probs map<string,double>``
    column with the top-k class probabilities per span (D4).
    ``encoder_factory`` selects the scoring backend per worker (e.g. an
    ``OnnxSpanEncoder`` over a session loaded from SparkFiles); the
    default is the deterministic analog.
    ``label_embeddings`` is the bi-encoder precompute (a (C, D) matrix
    from ``encode_labels``, reference model.py:1627-1656): computed once
    on the driver, it ships inside the task closure and — on a
    bi-encoder session backend (OnnxBiEncoderSpanEncoder) — rides every
    ONNX feed as the ``labels_embeddings`` input, so the label encoder
    never runs on the executors at all.
    """
    labels = list(labels)
    cfg = dict(threshold=threshold, flat_ner=flat_ner, multi_label=multi_label)
    cfg.update(cfg_kwargs)
    has_lang = lang_col is not None and lang_col in df.columns
    cols = [url_col, text_col] + ([lang_col] if has_lang else [])
    if spans_col is not None:
        cols.append(spans_col)
    out_cols = ["url", "start", "end", "text", "label", "score"]
    schema = ENTITY_SCHEMA
    if return_class_probs:
        out_cols.append("class_probs")
        schema += ", class_probs map<string,double>"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pipe = _get_pipeline(
            labels, [], cfg, gazetteer=gazetteer,
            encoder_factory=encoder_factory, encoder_key=encoder_key,
            label_embeddings=label_embeddings,
        )
        for pdf in batches:
            rows: List[tuple] = []
            langs = list(pdf[lang_col]) if has_lang else ["en"] * len(pdf)
            span_lists = (
                [
                    [(int(s["start"]), int(s["end"])) for s in spans]
                    if spans is not None
                    else None
                    for spans in pdf[spans_col]
                ]
                if spans_col is not None
                else None
            )
            urls = list(pdf[url_col])
            per_doc = pipe.predict_entities_batch(
                list(pdf[text_col]),
                langs,
                input_spans_list=span_lists,
                return_class_probs=return_class_probs,
            )
            for url, ents in zip(urls, per_doc):
                for e in ents:
                    row = (
                        url, e["start"], e["end"], e["text"], e["label"],
                        float(e["score"]),
                    )
                    if return_class_probs:
                        row = row + (e.get("class_probs"),)
                    rows.append(row)
            yield pd.DataFrame(rows, columns=out_cols)

    return _ensure_parallelism(df.select(*cols), min_partitions).mapInPandas(
        run, schema
    )


def extract_entities_generative(
    df: DataFrame,
    labels: Sequence[str],
    threshold: float = 0.5,
    decoder_mode: str = "span",
    gen_constraints: Optional[Sequence[str]] = None,
    num_gen_sequences: int = 1,
    max_new_tokens: int = 15,
    url_col: str = "url",
    text_col: str = "text",
    lang_col: Optional[str] = "lang",
    gazetteer: Optional[dict] = None,
    min_partitions: Optional[int] = None,
    **cfg_kwargs,
) -> DataFrame:
    """Entity extraction with GENERATED type labels (M15/D10 — the
    encoder-decoder family, reference model.py:2066-2345).

    ``decoder_mode="span"`` appends ``generated_labels array<string>``
    (``num_gen_sequences`` strings per confident span, trie-constrained
    to ``gen_constraints`` when given); ``decoder_mode="prompt"``
    REPLACES each entity's ``label`` with the label generated for its
    prompt class (``generated_labels`` stays null — the reference's
    prompt mode keeps span_label_map empty, decoder.py:577-581).

    Same distribution story as ``extract_entities``: zero shuffles, one
    Arrow-batched mapInPandas; the generative head is a per-worker
    deterministic singleton and the labels trie is rebuilt from the
    (tiny) constraint list inside the pipeline cache, not shipped as
    state. This family is ONNX-incompatible in the reference
    (model.py:2322-2345) — there is deliberately no encoder_factory
    knob here.
    """
    labels = list(labels)
    gen_constraints = list(gen_constraints) if gen_constraints else None
    cfg = dict(threshold=threshold)
    cfg.update(cfg_kwargs)
    has_lang = lang_col is not None and lang_col in df.columns
    cols = [url_col, text_col] + ([lang_col] if has_lang else [])
    out_cols = [
        "url", "start", "end", "text", "label", "score", "generated_labels",
    ]
    schema = ENTITY_SCHEMA + ", generated_labels array<string>"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pipe = _get_pipeline(labels, [], cfg, gazetteer=gazetteer)
        for pdf in batches:
            rows: List[tuple] = []
            langs = list(pdf[lang_col]) if has_lang else ["en"] * len(pdf)
            for url, text, lang in zip(pdf[url_col], pdf[text_col], langs):
                for e in pipe.predict_entities_generative(
                    text,
                    lang,
                    decoder_mode=decoder_mode,
                    gen_constraints=gen_constraints,
                    num_gen_sequences=num_gen_sequences,
                    max_new_tokens=max_new_tokens,
                ):
                    rows.append(
                        (
                            url, e["start"], e["end"], e["text"], e["label"],
                            float(e["score"]), e.get("generated_labels"),
                        )
                    )
            yield pd.DataFrame(rows, columns=out_cols)

    return _ensure_parallelism(df.select(*cols), min_partitions).mapInPandas(
        run, schema
    )


def extract_triples(
    df: DataFrame,
    labels: Sequence[str],
    relations: Sequence[str],
    threshold: float = 0.5,
    adjacency_threshold: Optional[float] = None,
    relation_threshold: Optional[float] = None,
    flat_ner: bool = True,
    url_col: str = "url",
    text_col: str = "text",
    lang_col: Optional[str] = "lang",
    gazetteer: Optional[dict] = None,
    patterns: Optional[Sequence] = None,
    min_partitions: Optional[int] = None,
    encoder_factory=None,
    encoder_key: Optional[str] = None,
    **cfg_kwargs,
) -> DataFrame:
    """pages → triples(url, subj_*, pred, obj_*, score).

    The joint relex route (SURVEY.md §3.2): entity scoring → confident-
    span selection → adjacency → pair scoring → relation decode with
    the reference's post-greedy index-alignment semantics.
    ``encoder_factory`` may return an ``OnnxRelexEncoder`` for the
    session-backed production path.
    """
    labels = list(labels)
    relations = list(relations)
    cfg = dict(
        threshold=threshold,
        adjacency_threshold=adjacency_threshold,
        relation_threshold=relation_threshold,
        flat_ner=flat_ner,
    )
    cfg.update(cfg_kwargs)
    has_lang = lang_col is not None and lang_col in df.columns
    cols = [url_col, text_col] + ([lang_col] if has_lang else [])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pipe = _get_pipeline(
            labels, relations, cfg,
            gazetteer=gazetteer, patterns=[tuple(p) for p in (patterns or [])],
            encoder_factory=encoder_factory, encoder_key=encoder_key,
        )
        for pdf in batches:
            rows: List[tuple] = []
            langs = list(pdf[lang_col]) if has_lang else ["en"] * len(pdf)
            per_doc = pipe.predict_triples_batch(list(pdf[text_col]), langs)
            for url, (_ents, rels) in zip(pdf[url_col], per_doc):
                for r in rels:
                    h, t = r["head"], r["tail"]
                    rows.append(
                        (
                            url,
                            h["start"], h["end"], h["text"], h["type"],
                            r["relation"],
                            t["start"], t["end"], t["text"], t["type"],
                            float(r["score"]),
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "url",
                    "subj_start", "subj_end", "subj_text", "subj_label",
                    "pred",
                    "obj_start", "obj_end", "obj_text", "obj_label",
                    "score",
                ],
            )

    return _ensure_parallelism(df.select(*cols), min_partitions).mapInPandas(
        run, TRIPLE_SCHEMA
    )
