"""Driver-contract tests: queries()/oracle_sql() consistency + a fast
Spark-vs-DuckDB parity subset (the full sweep lives in
scripts/oracle_check.py and the driver's own gate)."""

import math

import duckdb
import pytest

import __spark_entry__ as entry

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

# cheap queries checked in CI; heavier ones covered by scripts/oracle_check.py
FAST_SUBSET = [
    "dedup_exact",
    "text_token_count",
    "text_quality",
    "text_lang_id",
    "text_fingerprint",
    "media_metadata",
    "kg_linking_exact",
    "kg_degree_stats",
    "kg_pagerank",
    "corpus_skew_salts",
    "events_sessionize",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return str(v)


def _normalize(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


class TestContract:
    def test_oracle_keys_subset_of_queries(self):
        assert set(entry.oracle_sql()) <= set(entry.queries())

    def test_rows_only_queries_documented(self):
        rows_only = set(entry.queries()) - set(entry.oracle_sql())
        # only the learned-weight analogs (deterministic encoder + the
        # hash-seeded fake ONNX session) are exempt from SQL oracles
        assert rows_only == {*entry.KERNEL_GATES, "kg_triples_kge_ranked"}
        # contractual ordering (round-4 verdict #3): every exact-oracle
        # gate precedes every rows-only gate, so a driver sampling a
        # prefix of queries() verifies all hash-exact oracles
        names = list(entry.queries())
        first_rows_only = min(names.index(n) for n in rows_only)
        assert all(
            names.index(k) < first_rows_only for k in entry.oracle_sql()
        )

    def test_no_gate_is_vacuous(self, spark):
        """Every gated query must emit rows at the driver's correctness
        SF — a 0-row gate asserts nothing (the round-2 gcn lesson, and
        round-3's dedup_cosine_blocked found the same way). sf0.001
        keeps this cheap; every gate that was ever 0-row at sf0.01 was
        also 0-row at sf0.001."""
        empty = []
        for name, fn in entry.queries().items():
            if fn(spark, "/root/testdata/sf0.001").limit(1).count() == 0:
                empty.append(name)
        assert not empty, f"vacuous gates (0 rows): {empty}"

    def test_entry_runs_and_has_stable_schema(self, spark):
        df = entry.entry(spark)
        assert set(df.columns) == {
            "doc_id",
            "subj_start", "subj_end", "subj_text", "subj_label",
            "pred",
            "obj_start", "obj_end", "obj_text", "obj_label",
            "score",
        }
        assert df.count() >= 0


class TestOracleParityFast:
    @pytest.mark.parametrize("name", FAST_SUBSET)
    def test_query_matches_duckdb(self, spark, duck, name):
        sdf = entry.queries()[name](spark, SF_DIR)
        rel = duck.sql(entry.oracle_sql()[name])
        assert sorted(sdf.columns) == sorted(rel.columns)
        a = _normalize(sdf.columns, [tuple(r) for r in sdf.collect()])
        b = _normalize(rel.columns, rel.fetchall())
        assert a == b
