"""Entity linking: LSH-blocked candidate generation + similarity join.

Net-new capability per the north rule (the reference supplies only the
ingredients: span representations M5/M8 and KGE similarity M14 —
SURVEY.md §4.2.5). Dataflow:

  mentions(url, text, label)
    → normalize (built-in column fns — JVM-side, codegen'd)
    → embed (Arrow-batched pandas UDF over the deterministic encoder;
       mean-pooled token vectors, the M8 representation)
    → SimHash-style random-hyperplane LSH signatures, banded
    → candidate pairs = the band columns exploded into (band_idx,
       band_key) rows and ONE self-equi-join on them, carrying the
       embedding (dedup.banded_candidate_pairs, shared with MinHash
       and SimHash) — this is the scale move: candidate generation is
       a hash shuffle on short keys, NEVER an O(n²) cross join, and the
       embed/sign Python subtree is built once per join side
    → exact cosine on candidates only; keep pairs ≥ threshold.

At 10^12 docs the bucket join is the only shuffle; bucket sizes are
bounded by band width (tune n_planes/bands), and AQE's skew-join
splitting handles hot buckets (identical frequent mentions).
"""

from __future__ import annotations

from typing import Iterator, List

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F

from ..model.encoder import get_encoder
from .dedup import banded_candidate_pairs

EMBED_DIM = 64


def normalize_mentions(mentions: DataFrame, text_col: str = "text") -> DataFrame:
    """Add a ``norm`` key column: lowercase, collapse whitespace, strip
    edge punctuation. Pure built-in expressions (whole-stage codegen)."""
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col(text_col)), r"[\s]+", " "),
            r"^[^\w]+|[^\w]+$",
            "",
        )
    )
    return mentions.withColumn("norm", norm)


def embed_mentions(
    mentions: DataFrame, text_col: str = "norm", dim: int = EMBED_DIM, seed: int = 42
) -> DataFrame:
    """Append ``embedding array<float>`` — mean-pooled token vectors
    (the M8 label/mention representation) via Arrow-batched UDF."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        enc = get_encoder(dim, seed)
        for pdf in batches:
            embs: List[List[float]] = []
            for t in pdf[text_col]:
                words = [w for w in str(t).split() if w] or [str(t)]
                v = np.mean([enc.token_embedding(w) for w in words], axis=0)
                v = v / (np.linalg.norm(v) + 1e-9)
                embs.append([float(x) for x in v])
            out = pdf.copy()
            out["embedding"] = embs
            yield out

    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in mentions.schema)
    return mentions.mapInPandas(run, schema + ", embedding array<float>")


def add_lsh_signature(
    df: DataFrame,
    n_planes: int = 16,
    bands: int = 4,
    emb_col: str = "embedding",
    seed: int = 7,
) -> DataFrame:
    """Random-hyperplane LSH: sign bits of (emb · plane), grouped into
    ``bands`` band-signatures. Cosine-similar vectors collide in ≥1 band
    with high probability."""
    rows_per_band = n_planes // bands

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rng = np.random.default_rng(seed)
        planes = rng.standard_normal((n_planes, EMBED_DIM))
        for pdf in batches:
            embs = np.stack(pdf[emb_col].to_list()) if len(pdf) else np.zeros((0, EMBED_DIM))
            bits = (embs @ planes.T > 0).astype(np.int64)  # (n, planes)
            out = pdf.copy()
            for b in range(bands):
                chunk = bits[:, b * rows_per_band : (b + 1) * rows_per_band]
                sig = np.zeros(len(pdf), dtype=np.int64)
                for i in range(chunk.shape[1]):
                    sig = sig * 2 + chunk[:, i]
                out[f"band_{b}"] = sig
            yield out

    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema)
    schema += ", " + ", ".join(f"band_{b} long" for b in range(bands))
    return df.mapInPandas(run, schema)


def cosine_expr(a: str, b: str):
    """Exact cosine similarity as a built-in Column expression — the
    shared implementation from functions.vectors (fixed-order fold)."""
    from ..functions.vectors import cosine_similarity

    return cosine_similarity(F.col(a), F.col(b))


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str = "norm",
    bands: int = 4,
    sim_threshold: float = 0.85,
) -> DataFrame:
    """Rows keyed by ``id_col`` with ``embedding`` and ``band_0..`` →
    distinct candidate pairs sharing a band → exact cosine →
    matches(src, dst, sim), ``src < dst`` canonical orientation."""
    band_rows = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.array(*[F.col(f"band_{b}") for b in range(bands)])).alias(
            "band_idx", "band_key"
        ),
        "embedding",
    )
    return (
        banded_candidate_pairs(band_rows, "embedding")
        .select(
            F.col("id_a").alias("src"),
            F.col("id_b").alias("dst"),
            cosine_expr("embedding_a", "embedding_b").alias("sim"),
        )
        .where(F.col("sim") >= sim_threshold)
    )


def link_mentions(
    mentions: DataFrame,
    sim_threshold: float = 0.85,
    n_planes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """mentions(text, ...) → match edges (src, dst, sim) over normalized
    mention strings. Full linking stage: normalize → embed → LSH → join."""
    m = normalize_mentions(mentions)
    m = m.where(F.col("norm") != "")
    uniq = m.select("norm").distinct()
    emb = embed_mentions(uniq)
    sig = add_lsh_signature(emb, n_planes=n_planes, bands=bands)
    return lsh_candidate_pairs(sig, bands=bands, sim_threshold=sim_threshold)
