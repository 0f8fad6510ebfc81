"""Reference outputs, computed outside Spark, and order-independent digests.

* kg_build: ``GLiNERPipeline.predict_triples_batch`` in this
  single process, over the same generated texts; then the linking chain
  restated over those triples (mention normalization, the deterministic
  encoder's mean-pooled embeddings, seed-7 random-hyperplane LSH at the
  operator's default planes and bands, exact cosine in the operator's
  left-to-right fold order, union-find components with minimum ids) and
  the N-Triples lines of the export.
* corpus_dedup: a pure-Python restatement of the dedup chain (exact md5
  groups, salted-md5 MinHash with banded LSH and exact Jaccard verify,
  union-find components, keep-the-longest resolution, keep-first
  substring dedup).

A digest is the sha256 of the sorted row representations, so it does not
depend on partitioning or row order.
"""

from __future__ import annotations

import hashlib
import re
from typing import Dict, Iterable, List, Optional, Sequence

import numpy as np

from . import gen


def rows_digest(rows: Iterable[Sequence], extra=None) -> str:
    h = hashlib.sha256()
    for line in sorted(repr(tuple(r)) for r in rows):
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    h.update(repr(extra).encode("utf-8"))
    return h.hexdigest()


def reference_triples(rows: List[dict]) -> List[tuple]:
    """One row per triple, in the extraction operator's column order."""
    from gliner_spark.model.pipeline import GLiNERPipeline, PipelineConfig

    pipe = GLiNERPipeline(
        gen.LABELS,
        gen.RELATIONS,
        PipelineConfig(threshold=0.5, flat_ner=True),
        gazetteer=gen.GAZETTEER,
        patterns=gen.PATTERNS,
    )
    per_doc = pipe.predict_triples_batch([r["text"] for r in rows], [r["lang"] for r in rows])
    out = []
    for r, (_ents, rels) in zip(rows, per_doc):
        for t in rels:
            h, o = t["head"], t["tail"]
            out.append(
                (
                    r["url"], h["start"], h["end"], h["text"], h["type"],
                    t["relation"], o["start"], o["end"], o["text"], o["type"],
                    float(t["score"]),
                )
            )
    return out


def normalize(text: Optional[str]) -> Optional[str]:
    """``linking.normalize_mentions``: lowercase, collapse whitespace,
    strip edge punctuation (Java regex classes are ASCII)."""
    if text is None:
        return None
    t = re.sub(r"\s+", " ", text.lower(), flags=re.ASCII)
    return re.sub(r"^[^\w]+|[^\w]+$", "", t, flags=re.ASCII).strip(" ")


def _embeddings(norms: List[str]) -> np.ndarray:
    """``linking.embed_mentions`` rows, as the ``array<float>`` column
    stores them."""
    from gliner_spark.model.encoder import get_encoder
    from gliner_spark.operators.linking import EMBED_DIM

    enc = get_encoder(EMBED_DIM, 42)
    out = []
    for t in norms:
        words = [w for w in t.split() if w] or [t]
        v = np.mean([enc.token_embedding(w) for w in words], axis=0)
        out.append(v / (np.linalg.norm(v) + 1e-9))
    return np.asarray(out, dtype=np.float32).reshape(len(norms), EMBED_DIM)


def link_edges(norms: List[str], sim_threshold=0.85, n_planes=16, bands=4):
    """``linking.link_mentions`` at its defaults over the sorted distinct
    non-empty ``norms``: matched (src, dst) index pairs, ``src < dst``."""
    from gliner_spark.operators.linking import EMBED_DIM

    emb = _embeddings(norms)
    planes = np.random.default_rng(7).standard_normal((n_planes, EMBED_DIM))
    bits = (emb @ planes.T > 0).astype(np.int64)
    rpb = n_planes // bands
    weights = 2 ** np.arange(rpb - 1, -1, -1, dtype=np.int64)
    keys = set()
    for b in range(bands):
        sig = bits[:, b * rpb:(b + 1) * rpb] @ weights
        for s in np.unique(sig):
            idx = np.flatnonzero(sig == s)  # ascending, so src < dst
            i, j = np.triu_indices(len(idx), k=1)
            keys.update((idx[i] * len(norms) + idx[j]).tolist())
    pairs = np.array(sorted(keys), dtype=np.int64)
    src, dst = pairs // max(len(norms), 1), pairs % max(len(norms), 1)
    # functions.vectors.cosine_similarity: doubles, folded left to right
    e = emb.astype(np.float64)
    sq = np.zeros(len(norms))
    dot = np.zeros(len(pairs))
    for k in range(EMBED_DIM):
        sq = sq + e[:, k] * e[:, k]
        dot = dot + e[src, k] * e[dst, k]
    norm = np.sqrt(sq)
    keep = dot / (norm[src] * norm[dst]) >= sim_threshold
    return list(zip(src[keep].tolist(), dst[keep].tolist()))


def canonical_ids(texts: Iterable[Optional[str]]) -> Dict[Optional[str], Optional[str]]:
    """mention text -> canonical id: ``link_mentions`` ->
    ``canonical_entities`` -> ``canonicalize_triples`` (the minimum norm
    of the mention's match component, else its own norm)."""
    texts = set(texts)
    norm_of = {t: normalize(t) for t in texts}
    norms = sorted({n for n in norm_of.values() if n})
    comp = components((norms[a], norms[b]) for a, b in link_edges(norms))
    return {t: comp.get(n, n) for t, n in norm_of.items()}


NT_BASE = "http://kg.example/"
NT_LABEL = "<http://www.w3.org/2000/01/rdf-schema#label>"


def _escape(t: str) -> str:
    for a, b in (("\\", "\\\\"), ('"', '\\"'), ("\n", "\\n"), ("\r", "\\r"), ("\t", "\\t")):
        t = t.replace(a, b)
    return t


def ntriples_lines(spo: Iterable[tuple]) -> List[str]:
    """Lines ``sinks.ntriples`` writes: one per distinct (s, p, o)
    statement plus one label per distinct entity and predicate surface."""

    def iri(kind: str, t: str) -> str:
        return f"<{NT_BASE}{kind}/{hashlib.md5(t.encode('utf-8')).hexdigest()}>"

    spo = {t for t in spo if None not in t}
    labels = {("e", s) for s, _p, _o in spo} | {("e", o) for _s, _p, o in spo}
    labels |= {("p", p) for _s, p, _o in spo}
    lines = [f"{iri('e', s)} {iri('p', p)} {iri('e', o)} ." for s, p, o in spo]
    lines += [f'{iri(k, t)} {NT_LABEL} "{_escape(t)}" .' for k, t in labels]
    return lines


def kg_build_digest(rows: List[dict], n_chunks: int) -> str:
    """The graph table's distinct rows (triple columns plus the canonical
    subject and object ids), the N-Triples lines, and every chunk
    committed in the manifest."""
    triples = set(reference_triples(rows))
    ids = canonical_ids([t[3] for t in triples] + [t[8] for t in triples])
    graph = {t + (ids[t[3]], ids[t[8]]) for t in triples}
    nt = ntriples_lines((t[3], t[5], t[8]) for t in triples)
    return kg_digest(graph, nt, list(range(n_chunks)))


def kg_digest(graph_rows: Iterable[tuple], nt_lines: Iterable[str], chunks: List[int]) -> str:
    return rows_digest(set(graph_rows), extra=(rows_digest((x,) for x in nt_lines), chunks))


# -- corpus_dedup ---------------------------------------------------------------


def _shingles(text: str, n: int = 3) -> set:
    ws = text.split(" ")
    return {" ".join(ws[i:i + n]) for i in range(len(ws) - n + 1)}


def minhash_pairs(texts: dict, threshold: float, num_hashes: int, bands: int) -> set:
    """(id_a, id_b) pairs sharing a band signature whose exact Jaccard
    over word 3-gram sets reaches ``threshold``."""
    rpb = num_hashes // bands
    sh = {i: _shingles(t) for i, t in texts.items()}
    buckets: dict = {}
    for i, s in sh.items():
        if not s:
            continue
        mins = [
            min(hashlib.md5(f"{j}|{g}".encode("utf-8")).digest() for g in s)
            for j in range(num_hashes)
        ]
        for b in range(bands):
            buckets.setdefault((b, tuple(mins[b * rpb:(b + 1) * rpb])), []).append(i)
    cand = set()
    for ids in buckets.values():
        ids = sorted(ids)
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                cand.add((ids[x], ids[y]))
    out = set()
    for a, b in cand:
        inter = len(sh[a] & sh[b])
        if inter / (len(sh[a]) + len(sh[b]) - inter) >= threshold:
            out.add((a, b))
    return out


def components(edges: Iterable[tuple]) -> dict:
    """node -> minimum node id of its connected component."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {n: find(n) for n in parent}


def substring_clean(texts: dict, k: int) -> dict:
    """id -> (clean_text, n_dup_words): every k-word window seen at a
    smaller (id, pos) is removed; flagged windows merge into maximal spans."""
    first: dict = {}
    words = {i: t.split(" ") for i, t in texts.items()}
    for i in sorted(words):
        ws = words[i]
        for p in range(len(ws) - k + 1):
            first.setdefault(tuple(ws[p:p + k]), (i, p))
    out = {}
    for i, ws in words.items():
        dups = [p for p in range(len(ws) - k + 1) if first[tuple(ws[p:p + k])] != (i, p)]
        spans: List[list] = []
        for p in dups:
            if spans and p <= spans[-1][2] + k:
                spans[-1][2] = p
            else:
                spans.append([p, p, p])
        cut = [(s, last + k) for s, _p, last in spans]
        kept = [w for x, w in enumerate(ws) if not any(s <= x < e for s, e in cut)]
        out[i] = (" ".join(kept), sum(e - s for s, e in cut))
    return out


def dedup_rows(
    rows: List[dict], threshold: float, num_hashes: int, bands: int, k: int
) -> List[tuple]:
    """(doc_id, cluster_id, cluster_size, is_survivor, clean_text, n_dup_words)."""
    texts = {r["doc_id"]: r["text"] for r in rows}
    first_by_hash: dict = {}
    edges = []
    for i in sorted(texts):
        h = hashlib.md5(texts[i].encode("utf-8")).digest()
        if h in first_by_hash:
            edges.append((first_by_hash[h], i))
        else:
            first_by_hash[h] = i
    edges.extend(minhash_pairs(texts, threshold, num_hashes, bands))
    comp = components(edges)
    cluster = {i: comp.get(i, i) for i in texts}
    best: dict = {}
    size: dict = {}
    n_chars = {r["doc_id"]: r["n_chars"] for r in rows}
    for i, c in cluster.items():
        size[c] = size.get(c, 0) + 1
        key = (-n_chars[i], i)
        if c not in best or key < best[c]:
            best[c] = key
    survivors = {c: key[1] for c, key in best.items()}
    clean = substring_clean({i: texts[i] for i in survivors.values()}, k)
    out = []
    for i, c in cluster.items():
        alive = survivors[c] == i
        text, nd = clean[i] if alive else (None, None)
        out.append((i, c, size[c], alive, text, nd))
    return out


def dedup_digest(rows, threshold, num_hashes, bands, k) -> str:
    return rows_digest(dedup_rows(rows, threshold, num_hashes, bands, k))

