"""Seeded input generators for the benchmark workloads.

Every table is a pure function of its seed: the same seed gives the same
rows, byte for byte, and the rows are written as multi-file parquet
before any timing starts. The program under test only ever sees these
files. The mix of roles and document lengths depends on the table size
only; the seed places them and draws the words, so the amount of input
does not vary from seed to seed.

Two corpora:

* ``pages`` (kg_build) — the production pages schema
  ``(url, warc_ts, html, text, lang)``. Heavy-tailed document length
  with ~2% of documents over the 384-word ``max_len``, per-document
  gazetteer-mention density, one hot domain/lang owning more than half
  the rows, and ~1% null, empty or whitespace-only text.
* ``documents`` (corpus_dedup) — ``(doc_id, text, lang, source,
  n_chars)`` with planted exact duplicates, edited near-duplicate
  clusters, one hub cluster (a template page copied with small edits
  into ~1% of documents) and shared boilerplate runs.
"""

from __future__ import annotations

import datetime as _dt
import os
import random
from typing import Dict, List

import pyarrow as pa
import pyarrow.parquet as pq

# The flagship extraction configuration: entity labels are the values
# of the gazetteer, relations come from the predicate patterns.
GAZETTEER: Dict[str, str] = {
    "spark": "technology",
    "customer": "actor",
    "table": "object",
    "query": "workload",
    "stream": "workload",
    "join": "operation",
    "merge": "operation",
    "filter": "operation",
    "sort": "operation",
    "scan": "operation",
}
LABELS = sorted(set(GAZETTEER.values()))
PATTERNS = [
    ("actor", "runs", "workload"),
    ("workload", "reads", "object"),
    ("technology", "executes", "operation"),
]
RELATIONS = [p[1] for p in PATTERNS]

_FILLER = (
    "the a of and to in for on with by key agg row slow fast value part "
    "hash batch line window order data column small big group vector "
    "plan cost node task stage shuffle driver worker cache memory disk "
    "file index page record field schema type count rate time"
).split()
_GAZ_TERMS = sorted(GAZETTEER)
_HOT_DOMAIN = "big-portal.example"
_COLD_DOMAINS = [f"site{i}.example" for i in range(40)]
_LANGS = ["de", "es", "fr", "zh", "en"]

PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)
DOCS_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)


def _roles(rng: random.Random, n: int, shares: Dict[str, float], rest: str) -> List[str]:
    """Exactly ``round(share * n)`` rows of each role, in seeded order,
    so the mix of work does not vary from seed to seed."""
    roles = [r for r, share in shares.items() for _ in range(round(share * n))]
    roles += [rest] * (n - len(roles))
    rng.shuffle(roles)
    return roles


def pages_rows(n: int, seed: int) -> List[dict]:
    """``n`` page records, a pure function of ``seed``."""
    rng = random.Random(seed)
    base_ts = _dt.datetime(2026, 1, 1)
    kinds = _roles(rng, n, {"null": 0.004, "empty": 0.003, "blank": 0.003, "long": 0.02}, "doc")
    hot = _roles(rng, n, {"hot": 0.55}, "cold")
    densities = [(0.02, 0.08, 0.25)[i % 3] for i in range(n)]
    rng.shuffle(densities)
    # heavy-tailed length; the "long" 2% exceed the 384-word max_len
    shape = random.Random(n)  # the length mix depends on the size only
    lengths = {
        "doc": [max(3, min(380, int(shape.lognormvariate(3.4, 0.6)))) for _ in range(kinds.count("doc"))],
        "long": [shape.randint(400, 700) for _ in range(kinds.count("long"))],
    }
    for ls in lengths.values():
        rng.shuffle(ls)
    rows = []
    for i in range(n):
        if hot[i] == "hot":
            domain, lang = _HOT_DOMAIN, "en"
        else:
            domain, lang = rng.choice(_COLD_DOMAINS), rng.choice(_LANGS)
        kind = kinds[i]
        if kind == "null":
            text = None
        elif kind == "empty":
            text = ""
        elif kind == "blank":
            text = " \n\t "
        else:
            words = [
                rng.choice(_GAZ_TERMS) if rng.random() < densities[i]
                else rng.choice(_FILLER)
                for _ in range(lengths[kind].pop())
            ]
            text = " ".join(words)
        rows.append(
            {
                "url": f"https://{domain}/s{seed}/p{i}",
                "warc_ts": base_ts + _dt.timedelta(seconds=37 * i),
                "html": ("<html>" + (text or "")[:64] + "</html>").encode(),
                "text": text,
                "lang": lang,
            }
        )
    return rows


_SYLLABLES = [a + b for a in "bdfgklmnprstvz" for b in "aeiou"]


def _word_pool(rng: random.Random, size: int) -> List[str]:
    pool = set()
    while len(pool) < size:
        pool.add("".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 3))))
    return sorted(pool)


def _edit(words: List[str], rng: random.Random, pool: List[str], n: int) -> List[str]:
    out = list(words)
    for _ in range(n):
        out[rng.randrange(len(out))] = rng.choice(pool)
    return out


def documents_rows(n: int, seed: int) -> List[dict]:
    """``n`` documents with planted duplicate structure."""
    rng = random.Random(seed)
    pool = _word_pool(rng, 800)
    boiler = [rng.choice(pool) for _ in range(24)]
    template = [rng.choice(pool) for _ in range(60)]
    roles = ["random"] + _roles(
        rng, n - 1, {"exact": 0.05, "near": 0.10, "hub": 0.01, "boiler": 0.15}, "random"
    )
    shape = random.Random(n)  # the length mix depends on the size only
    lengths = [shape.randint(20, 120) for r in roles if r in ("random", "boiler")]
    rng.shuffle(lengths)
    texts: List[List[str]] = []
    for role in roles:
        if role == "exact":
            words = list(rng.choice(texts))
        elif role == "near":
            src = rng.choice(texts)
            words = _edit(src, rng, pool, max(1, len(src) // 40))
        elif role == "hub":
            # the template page with a small edit: one large cluster
            words = _edit(template, rng, pool, 1)
        else:
            words = [rng.choice(pool) for _ in range(lengths.pop())]
            if role == "boiler":
                at = rng.randint(0, len(words))
                words = words[:at] + boiler + words[at:]
        texts.append(words)
    rows = []
    for i, words in enumerate(texts):
        text = " ".join(words)
        rows.append(
            {
                "doc_id": i,
                "text": text,
                "lang": "en" if i % 3 else rng.choice(_LANGS),
                "source": f"src{i % 7}",
                "n_chars": len(text),
            }
        )
    return rows


def write_parquet(rows: List[dict], schema: pa.Schema, path: str, n_files: int) -> None:
    """Write ``rows`` as ``n_files`` parquet files under ``path``."""
    os.makedirs(path, exist_ok=True)
    per = -(-len(rows) // n_files)
    for f in range(n_files):
        part = rows[f * per:(f + 1) * per]
        table = pa.Table.from_pylist(part, schema=schema)
        pq.write_table(table, os.path.join(path, f"part-{f:05d}.parquet"))
