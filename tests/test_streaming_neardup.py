"""Incremental cross-epoch MinHash near-dup dedup (streaming LSH)."""

import pytest

from gliner_spark.streaming.neardup import incremental_minhash_dedup

BASE = (
    "alpha beta gamma delta epsilon zeta eta theta iota kappa "
    "lam mu nu xi omicron pi rho sigma tau upsilon"
)
NEAR = BASE.replace("theta", "thete")  # one-word edit → near-dup
OTHER = (
    "one two three four five six seven eight nine ten eleven twelve "
    "thirteen fourteen fifteen sixteen seventeen eighteen nineteen twenty"
)


def _batch(spark, rows):
    return spark.createDataFrame(rows, "url string, text string")


class TestIncrementalNearDup:
    def test_cross_epoch_near_dup_dropped(self, spark, tmp_path):
        state = str(tmp_path / "state")
        b0 = _batch(spark, [("u1", BASE), ("u2", OTHER)])
        kept0 = incremental_minhash_dedup(b0, state, epoch=0)
        assert sorted(r.url for r in kept0.collect()) == ["u1", "u2"]

        # epoch 1: a near-duplicate of u1 and a genuinely new doc
        b1 = _batch(spark, [("u3", NEAR), ("u4", "totally different words " * 5)])
        kept1 = incremental_minhash_dedup(b1, state, epoch=1)
        assert sorted(r.url for r in kept1.collect()) == ["u4"]

    def test_within_epoch_min_id_wins(self, spark, tmp_path):
        state = str(tmp_path / "state")
        b = _batch(spark, [("u9", BASE), ("u2", BASE), ("u5", OTHER)])
        kept = incremental_minhash_dedup(b, state, epoch=0)
        assert sorted(r.url for r in kept.collect()) == ["u2", "u5"]

    def test_replay_is_idempotent(self, spark, tmp_path):
        """Replaying an epoch must not self-collide with its own prior
        state write, and must not duplicate state rows."""
        state = str(tmp_path / "state")
        b0 = _batch(spark, [("u1", BASE), ("u2", OTHER)])
        first = sorted(
            r.url for r in incremental_minhash_dedup(b0, state, epoch=0).collect()
        )
        replay = sorted(
            r.url for r in incremental_minhash_dedup(b0, state, epoch=0).collect()
        )
        assert first == replay == ["u1", "u2"]
        from gliner_spark.streaming.neardup import STATE_SCHEMA

        st = spark.read.schema(STATE_SCHEMA).parquet(state)
        # one partition for epoch 0, no duplicated band rows
        assert st.count() == st.distinct().count()
        assert {r.epoch for r in st.select("epoch").distinct().collect()} == {0}

    def test_state_grows_only_with_survivors(self, spark, tmp_path):
        state = str(tmp_path / "state")
        incremental_minhash_dedup(
            _batch(spark, [("u1", BASE)]), state, epoch=0
        ).count()
        incremental_minhash_dedup(
            _batch(spark, [("u3", NEAR)]), state, epoch=1
        ).count()
        from gliner_spark.streaming.neardup import STATE_SCHEMA

        st = spark.read.schema(STATE_SCHEMA).parquet(state)
        # the dropped near-dup contributed nothing to the state
        assert {r.owner for r in st.select("owner").distinct().collect()} == {"u1"}

    def test_short_docs_survive(self, spark, tmp_path):
        """UNIQUE docs shorter than the shingle width must always
        survive (the r3 bug silently dropped every short/empty doc);
        since r4 they carry a synthetic exact-text band, so only a
        byte-IDENTICAL short text is dropped as a duplicate."""
        state = str(tmp_path / "state")
        b = _batch(
            spark,
            [("u1", "only two"), ("u2", "one two three four"), ("u3", BASE), ("u4", "")],
        )
        kept = incremental_minhash_dedup(b, state, epoch=0, n=3)
        assert sorted(r.url for r in kept.collect()) == ["u1", "u2", "u3", "u4"]
        # unique short text keeps surviving across epochs
        b1 = _batch(spark, [("u5", "two only"), ("u6", BASE)])
        kept1 = incremental_minhash_dedup(b1, state, epoch=1, n=3)
        got = sorted(r.url for r in kept1.collect())
        assert "u5" in got and "u6" not in got  # u6 near-dups epoch-0's u3

    def test_identical_short_text_is_dropped(self, spark, tmp_path):
        """Byte-identical short/empty texts ARE duplicates: min id wins
        within an epoch, earlier owner wins across epochs, and a REPLAY
        of the same doc id stays idempotent (owner check)."""
        state = str(tmp_path / "state")
        b0 = _batch(spark, [("a1", "only two"), ("a2", "only two"), ("a3", "")])
        kept0 = incremental_minhash_dedup(b0, state, epoch=0, n=3)
        assert sorted(r.url for r in kept0.collect()) == ["a1", "a3"]
        # cross-epoch: same text under a NEW id drops; empty matches empty
        b1 = _batch(spark, [("b1", "only two"), ("b2", "")])
        kept1 = incremental_minhash_dedup(b1, state, epoch=1, n=3)
        assert [r.url for r in kept1.collect()] == []
        # replay of epoch 0 (same ids): survivors unchanged — no
        # self-collision with their own prior state
        keptR = incremental_minhash_dedup(b0, state, epoch=0, n=3)
        assert sorted(r.url for r in keptR.collect()) == ["a1", "a3"]

    def test_agrees_with_batch_lsh_candidates(self, spark, tmp_path):
        """The streaming drop set must equal the batch operator's LSH
        candidate pairs when everything arrives in one epoch order."""
        from gliner_spark.operators.dedup import minhash_lsh_pairs

        docs = [("1", BASE), ("2", NEAR), ("3", OTHER)]
        ddf = spark.createDataFrame(
            [(int(i), t) for i, t in docs], "doc_id long, text string"
        )
        batch_pairs = {
            (r.id_a, r.id_b)
            for r in minhash_lsh_pairs(ddf, threshold=0.0).collect()
        }
        state = str(tmp_path / "state")
        kept = incremental_minhash_dedup(
            _batch(spark, docs), state, epoch=0
        )
        kept_ids = sorted(int(r.url) for r in kept.collect())
        dropped = sorted(set(int(i) for i, _ in docs) - set(kept_ids))
        # every dropped doc is the larger side of some batch candidate pair
        for d in dropped:
            assert any(b == d for (_a, b) in batch_pairs)


def test_epochs_release_previous_checkpoint(spark, tmp_path):
    """Each epoch releases the previous epoch's survivor checkpoint for
    the same state path: the persistent-RDD count stays flat."""
    state = str(tmp_path / "state")
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    kept = []  # hold every epoch's frame so no checkpoint is collected
    for epoch, text in enumerate([BASE, OTHER, NEAR, "fresh words " * 6]):
        kept.append(incremental_minhash_dedup(
            _batch(spark, [(f"e{epoch}", text)]), state, epoch=epoch
        ))
        kept[-1].collect()
    assert jsc.getPersistentRDDs().size() - before <= 1
