"""Migration facade: the reference's ``GLiNER`` surface over Spark.

A user of the reference writes

    model = GLiNER.from_pretrained(...)
    model.predict_entities(text, labels, threshold=0.5)
    model.inference(texts, labels)
    model.evaluate(test_data)

This class keeps those verbs (gliner/model.py:1384-1608) while routing
batch work through the distributed operators — single strings run the
kernel in-process (no Spark job for one document), DataFrames fan out.
"""

from __future__ import annotations

from typing import Any, Dict, List, Optional, Sequence, Tuple

from pyspark.sql import DataFrame

from .pipeline import GLiNERPipeline, PipelineConfig

# NOTE: operator modules import model.pipeline; importing them here at
# module scope would make gliner_spark.model.__init__ circular when an
# executor worker unpickles a UDF closure. They are imported lazily
# inside the table verbs instead.


class SparkGLiNER:
    """Drop-in-shaped facade over the Spark-native pipeline."""

    def __init__(
        self,
        labels: Sequence[str],
        relations: Sequence[str] = (),
        config: Optional[PipelineConfig] = None,
        gazetteer: Optional[Dict[str, str]] = None,
        patterns: Optional[Sequence[Tuple[str, str, str]]] = None,
    ):
        self.labels = list(labels)
        self.relations = list(relations)
        self.config = config or PipelineConfig()
        self.gazetteer = gazetteer
        self.patterns = list(patterns) if patterns else None
        self._pipe = GLiNERPipeline(
            self.labels, self.relations, self.config,
            gazetteer=gazetteer, patterns=patterns,
        )

    @classmethod
    def from_config(cls, labels, relations=(), **cfg) -> "SparkGLiNER":
        gaz = cfg.pop("gazetteer", None)
        pat = cfg.pop("patterns", None)
        return cls(labels, relations, PipelineConfig(**cfg), gaz, pat)

    # ---- artifact round-trip (reference model.py:259-311, 559-657) ----

    def save_pretrained(self, path: str) -> str:
        """Persist the configured model to a directory.

        The reference saves weights + config + tokenizer; in this build
        the learned state IS the config (labels, relations, every
        PipelineConfig knob, gazetteer, patterns — weights are derived
        deterministically from ``seed``), so one ``gliner_spark_config
        .json`` round-trips the whole model. The directory is the unit
        you ship to a cluster with ``spark-submit --files`` and load
        from ``SparkFiles.get`` on workers. Returns the config path.
        """
        import dataclasses
        import json
        import os

        os.makedirs(path, exist_ok=True)
        blob = {
            "format_version": 1,
            "labels": self.labels,
            "relations": self.relations,
            "config": dataclasses.asdict(self.config),
            "gazetteer": self.gazetteer,
            "patterns": [list(p) for p in self.patterns] if self.patterns else None,
        }
        cfg_path = os.path.join(path, "gliner_spark_config.json")
        with open(cfg_path, "w") as f:
            json.dump(blob, f, indent=2, sort_keys=True)
        return cfg_path

    @classmethod
    def from_pretrained(cls, path: str) -> "SparkGLiNER":
        """Load a model saved by :meth:`save_pretrained` (directory or
        the config file itself)."""
        import json
        import os

        cfg_path = (
            path
            if path.endswith(".json")
            else os.path.join(path, "gliner_spark_config.json")
        )
        with open(cfg_path) as f:
            blob = json.load(f)
        if blob.get("format_version") != 1:
            raise ValueError(f"unsupported model format: {blob.get('format_version')}")
        patterns = (
            [tuple(p) for p in blob["patterns"]] if blob.get("patterns") else None
        )
        return cls(
            blob["labels"], blob.get("relations") or (),
            PipelineConfig(**blob["config"]),
            gazetteer=blob.get("gazetteer"), patterns=patterns,
        )

    # ---- single-document verbs (reference model.py:1493-1561) --------

    def predict_entities(
        self, text: str, labels: Optional[Sequence[str]] = None,
        threshold: Optional[float] = None, **kw,
    ) -> List[Dict[str, Any]]:
        pipe = self._pipe_for(labels)
        return pipe.predict_entities(text, threshold=threshold, **kw)

    def predict_relations(
        self, text: str, threshold: Optional[float] = None
    ) -> List[Dict[str, Any]]:
        _ents, rels = self._pipe.predict_triples(text, threshold=threshold)
        return rels

    def inference(
        self, texts: Sequence[str], labels: Optional[Sequence[str]] = None,
        threshold: Optional[float] = None,
    ) -> List[List[Dict[str, Any]]]:
        pipe = self._pipe_for(labels)
        return pipe.predict_entities_batch(list(texts), threshold=threshold)

    def configure_inference_packing(self, config) -> None:
        """Default packing for batched session inference (reference
        model.py:217-227). Pass kernel.packing.InferencePackingConfig
        or None to disable."""
        self._pipe.configure_inference_packing(config)

    # ---- bi-encoder precompute verbs (model.py:1627-1728) ------------

    def encode_labels(self, labels: Sequence[str], batch_size: int = 8):
        """Label set → (C, dim) embedding matrix, computed once and
        reusable across predict_with_embeds calls / jobs (the M8
        precompute, reference model.py:1627-1656). ``batch_size`` is
        accepted for signature parity; the deterministic encoder embeds
        per label either way."""
        return self._pipe.encoder.embed_labels(list(labels))

    def predict_with_embeds(
        self, text: str, labels_embeddings, labels: Sequence[str],
        threshold: Optional[float] = None, **kw,
    ) -> List[Dict[str, Any]]:
        """Single-text prediction with precomputed label embeddings
        (model.py:1706-1728)."""
        return self.batch_predict_with_embeds(
            [text], labels_embeddings, labels, threshold=threshold, **kw
        )[0]

    def batch_predict_with_embeds(
        self, texts: Sequence[str], labels_embeddings, labels: Sequence[str],
        threshold: Optional[float] = None, **kw,
    ) -> List[List[Dict[str, Any]]]:
        """Batched prediction with precomputed label embeddings
        (model.py:1659-1704). Bi-encoder only — session (uni-encoder)
        backends embed labels in-graph and reject the override."""
        pipe = GLiNERPipeline(
            list(labels), (), self.config,
            gazetteer=self.gazetteer, label_embeddings=labels_embeddings,
        )
        return pipe.predict_entities_batch(
            list(texts), threshold=threshold, **kw
        )

    # ---- table verbs (the Spark-native path) --------------------------

    def batch_predict_entities(self, pages: DataFrame, **kw) -> DataFrame:
        from ..operators.extract import extract_entities

        return extract_entities(
            pages, self.labels, threshold=self.config.threshold,
            gazetteer=self.gazetteer, scoring=self.config.scoring,
            mode=self.config.mode, flat_ner=self.config.flat_ner, **kw,
        )

    def batch_predict_triples(self, pages: DataFrame, **kw) -> DataFrame:
        from ..operators.extract import extract_triples

        return extract_triples(
            pages, self.labels, self.relations,
            threshold=self.config.threshold, gazetteer=self.gazetteer,
            patterns=self.patterns, scoring=self.config.scoring,
            flat_ner=self.config.flat_ner, **kw,
        )

    def evaluate(self, pred: DataFrame, gold: DataFrame) -> DataFrame:
        """Micro P/R/F1 on exact (url, span, label) match (model.py:
        1564-1608 → join-based A2-A4)."""
        from ..operators.evaluation import micro_prf

        return micro_prf(pred, gold)

    def evaluate_relations(self, pred: DataFrame, gold: DataFrame) -> DataFrame:
        from ..operators.evaluation import relex_micro_prf

        return relex_micro_prf(pred, gold)

    # ------------------------------------------------------------------

    def _pipe_for(self, labels: Optional[Sequence[str]]) -> GLiNERPipeline:
        if labels is None or list(labels) == self.labels:
            return self._pipe
        return GLiNERPipeline(
            list(labels), self.relations, self.config,
            gazetteer=self.gazetteer, patterns=self.patterns,
        )
