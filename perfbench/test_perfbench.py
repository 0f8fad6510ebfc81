"""Self-tests of the benchmark (no Spark needed).

Run from the repository root: ``python -m pytest perfbench -q``.
"""

from __future__ import annotations

import json
import os
import re

import pytest

from perfbench import gen, reference, run

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def perturbed(rows):
    """A copy of ``rows`` with the last field of one row changed."""
    rows = list(rows)
    r = list(rows[len(rows) // 2])
    r[-1] = r[-1] + "x" if isinstance(r[-1], str) else (r[-1] or 0) + 1
    rows[len(rows) // 2] = tuple(r)
    return rows


@pytest.fixture(scope="module")
def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_generators_are_deterministic_per_seed():
    assert gen.pages_rows(300, 5) == gen.pages_rows(300, 5)
    assert gen.pages_rows(300, 5) != gen.pages_rows(300, 6)
    assert gen.documents_rows(300, 5) == gen.documents_rows(300, 5)
    assert gen.documents_rows(300, 5) != gen.documents_rows(300, 6)


def test_pages_mix_is_fixed_per_size():
    for seed in (1, 2):
        rows = gen.pages_rows(1000, seed)
        blank = [r for r in rows if not (r["text"] or "").strip()]
        long_docs = [r for r in rows if r["text"] and len(r["text"].split(" ")) > 384]
        hot = [r for r in rows if "big-portal" in r["url"]]
        assert (len(blank), len(long_docs), len(hot)) == (10, 20, 550)


def test_metric_names_and_units_use_the_allowed_charset(spec):
    names = [m["name"] for key in ("end_to_end", "per_layer") for m in spec[key]]
    names += [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names), [n for n in names if not NAME.match(n)]
    units = [m["unit"] for key in ("end_to_end", "per_layer") for m in spec[key]]
    assert all(UNIT.match(u) for u in units)
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])


def test_end_to_end_metrics_match_the_spec_and_fit_the_line(spec):
    class W:
        input_rows = 123456

    samples = [
        {"job_s": 12.345678901234567 + i, "cpu_s": 98.76543210987654, "match": True,
         "peak_rss_mb": 4321.123456789012}
        for i in range(5)
    ]
    warm = dict(samples[0], job_s=1e6, warm=True)
    metrics = run.end_to_end(W(), 23.456789012345678, [warm] + samples, failed=0)
    assert metrics["job_s"][0] == samples[2]["job_s"], "warm-up jobs are not timed"
    assert {k: u for k, (_v, u) in metrics.items()} == {
        m["name"]: m["unit"] for m in spec["end_to_end"]
    }
    assert all(v != 0 for v, _u in metrics.values())
    line = run.compact(True, 5, 0, metrics)
    assert len(line) <= run.LINE_LIMIT[0] < 2000
    assert set(json.loads(line)) == {"correct", "attempted", "failed", "metrics"}


def test_digest_is_order_independent_and_fails_on_a_perturbed_output():
    docs = gen.documents_rows(120, 3)
    rows = reference.dedup_rows(docs, 0.5, 8, 4, 12)
    good = reference.rows_digest(rows)
    assert reference.rows_digest(list(reversed(rows))) == good
    assert reference.rows_digest(perturbed(rows)) != good

    pages = gen.pages_rows(40, 3)
    triples = reference.reference_triples(pages)
    assert triples, "the flagship configuration extracts triples"
    digest = reference.rows_digest(triples)
    assert reference.rows_digest(perturbed(triples)) != digest


def test_kg_digest_covers_canonical_ids_and_ntriples_lines():
    triples = set(reference.reference_triples(gen.pages_rows(40, 3)))
    ids = reference.canonical_ids([t[3] for t in triples] + [t[8] for t in triples])
    graph = [t + (ids[t[3]], ids[t[8]]) for t in triples]
    nt = reference.ntriples_lines((t[3], t[5], t[8]) for t in triples)
    good = reference.kg_digest(graph, nt, [0, 1])
    assert reference.kg_digest(list(reversed(graph)), list(reversed(nt)), [0, 1]) == good
    merged = [t[:-2] + ("x", "x") for t in graph]
    assert reference.kg_digest(merged, nt, [0, 1]) != good
    edited = [r[0] for r in perturbed([(x,) for x in nt])]
    assert reference.kg_digest(graph, edited, [0, 1]) != good


def test_dedup_reference_finds_the_planted_structure():
    docs = gen.documents_rows(400, 9)
    rows = reference.dedup_rows(docs, 0.5, 8, 4, 12)
    sizes = sorted({(r[1], r[2]) for r in rows}, key=lambda x: -x[1])
    assert sizes[0][1] >= 4, "the hub cluster groups the template copies"
    assert sum(1 for r in rows if not r[3]) >= 0.1 * len(docs)
    assert any(r[5] for r in rows if r[3]), "boilerplate runs are cut from survivors"


def test_tracing_recorder_splits_self_time_and_keys_by_group_and_layer():
    from perfbench.tracing_daemon import Recorder

    rec = Recorder(out_dir="")
    inner = rec.wrap("inner", lambda: sum(range(10000)), lambda a, r: {"n": 1})
    outer = rec.wrap("outer", lambda: inner() + inner(), per_layer=True)
    outer()  # untraced: nothing is recorded
    assert rec.totals == {}
    rec.group, rec.layer = "g", "plans.manifest"
    outer()
    spans = rec.totals["g"]
    assert set(spans) == {"inner", "outer.plans.manifest"}
    o, i = spans["outer.plans.manifest"], spans["inner"]
    assert (o["calls"], i["calls"], i["n"]) == (1, 2, 2)
    assert o["self_s"] == pytest.approx(o["total_s"] - i["total_s"])
