"""Incremental NEAR-dup dedup across epochs (streaming MinHash-LSH).

``streaming/stateful.py`` drops exact re-crawls (content-hash state);
this module drops *near*-duplicates of anything seen in earlier epochs
— the boilerplate-rewrite case exact hashing misses — using persisted
MinHash band signatures as the cross-run state:

  epoch N: batch → minhash band signatures → drop docs whose ANY band
  collides with the persisted state → append the survivors' bands
  under ``epoch=<id>`` (dynamic partition overwrite)

Design points:

* **Approximate by construction**: a band collision is an LSH
  candidate, not a verified near-dup — the standard streaming
  compromise (verification would need the historical shingle sets).
  Tune precision/recall with (num_hashes, bands) exactly like the
  batch operator; the batch ``minhash_lsh_pairs`` remains the exact
  route for offline passes. A second, measured consequence: no
  TRANSITIVE closure is chased. In a within-epoch chain A~B~C (bands
  link A-B and B-C only), the min-id rule can drop both B and C while
  persisting only A; a later re-crawl of the same texts under new ids
  can then re-admit C (its bands match nothing persisted, and the new
  ids may flip the within-epoch minimum). Measured at 1 doc in 5000
  (0.02%) per replayed epoch on the scaling-bench corpus — see
  BENCH.md "Replay-epoch survivor diagnosis". Component-closed dedup
  is the batch route (minhash_lsh_pairs → connected_components).
* **Replay-safe**: state rows carry the owning doc id, and a doc is
  dropped only when the colliding band belongs to a DIFFERENT doc —
  so a replayed epoch's docs never self-collide with their own
  previously-written state. State writes are partitioned by epoch
  with dynamic overwrite: a replay REPLACES its epoch's partition
  instead of appending duplicates.
* **Within-epoch dedup**: among this batch's docs, same-band
  collisions keep the minimum doc id (deterministic).
* Scale: the state table stores ``bands`` rows per surviving doc —
  linear, tiny rows, partitioned by epoch; the collision probe is one
  equi-join on (band_idx, band_sig).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..functions.text import shingles
from ..operators.canonicalize import _release

STATE_SCHEMA = "band_idx int, band_sig string, owner string, epoch long"

# state_path -> the keep_ids checkpoint of its latest epoch
_LAST_KEEP_IDS: dict = {}


def _band_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    num_hashes: int,
    bands: int,
) -> DataFrame:
    """(id, band_idx, band_sig) — the same salted-md5 minhash bands as
    the batch operator (operators/dedup.minhash_lsh_pairs).

    Docs shorter than the shingle width get ONE synthetic band
    ``(-1, md5(text))``: they can't participate in minhash, but a
    byte-identical short text IS the strongest possible duplicate, and
    at web scale identical stub/boilerplate pages recur endlessly — with
    no band at all they would be kept every single epoch. band_idx -1
    can never collide with a real band (those are 0..bands-1), so this
    only ever matches exact text."""
    assert num_hashes % bands == 0, "bands must divide num_hashes"
    rpb = num_hashes // bands
    shingle_arr = shingles(F.col(text_col), n)
    short_bands = df.where(F.size(shingle_arr) == 0).select(
        F.col(id_col).alias("_id"),
        F.lit(-1).alias("band_idx"),
        F.md5(F.coalesce(F.col(text_col), F.lit(""))).alias("band_sig"),
    )
    sh = df.select(
        F.col(id_col).alias("_id"),
        F.explode(shingle_arr).alias("shingle"),
    )
    hash_cols = [
        F.md5(F.concat(F.lit(f"{j}|"), F.col("shingle"))).alias(f"h{j}")
        for j in range(num_hashes)
    ]
    sig = sh.select("_id", *hash_cols).groupBy("_id").agg(
        *[F.min(f"h{j}").alias(f"m{j}") for j in range(num_hashes)]
    )
    band_structs = []
    for bidx in range(bands):
        parts = [F.col(f"m{j}") for j in range(bidx * rpb, (bidx + 1) * rpb)]
        band_structs.append(
            F.struct(
                F.lit(bidx).alias("band_idx"),
                F.md5(F.concat_ws("|", *parts)).alias("band_sig"),
            )
        )
    return sig.select(
        "_id", F.explode(F.array(*band_structs)).alias("b")
    ).select("_id", "b.band_idx", "b.band_sig").unionByName(short_bands)


def incremental_minhash_dedup(
    batch_df: DataFrame,
    state_path: str,
    epoch: int,
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    id_col: str = "url",
    text_col: str = "text",
) -> DataFrame:
    """Return the batch rows that near-duplicate NOTHING seen before,
    and persist their band signatures under ``epoch=<epoch>``.

    Use inside ``foreachBatch`` with ``epoch=batch_id``; callers chain
    the extraction transform on the returned survivors. The survivors
    read a checkpoint that the next call for the same ``state_path``
    releases, so consume them before starting the next epoch.
    """
    spark = batch_df.sparkSession
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    my_bands = _band_rows(
        batch_df, id_col, text_col, n, num_hashes, bands
    ).persist()
    try:
        state = spark.read.schema(STATE_SCHEMA).parquet(state_path)
        # a replayed epoch must not collide with its own prior write:
        # drop the rows this epoch owns before probing (the dynamic
        # overwrite below rewrites them anyway)
        state = state.where(F.col("epoch") != F.lit(epoch))
    except Exception:  # first epoch: no state yet
        state = spark.createDataFrame([], STATE_SCHEMA)

    # cross-run collisions: a band seen under a DIFFERENT owner
    hist_dirty = (
        my_bands.join(
            state.withColumnRenamed("owner", "_owner"),
            ["band_idx", "band_sig"],
        )
        .where(F.col("_id").cast("string") != F.col("_owner"))
        .select("_id")
        .distinct()
    )
    survivors1 = my_bands.join(hist_dirty, "_id", "left_anti")

    # within-epoch collisions: min id per band wins (deterministic)
    w = Window.partitionBy("band_idx", "band_sig")
    intra_dirty = (
        survivors1.withColumn("_keep", F.min("_id").over(w))
        .where(F.col("_id") != F.col("_keep"))
        .select("_id")
        .distinct()
    )
    # Survivors start from the BATCH id set, not the band rows, so any
    # doc that produces no rows still survives by default. (Short docs
    # now carry a synthetic exact-text band — see _band_rows — so a
    # byte-identical short text CAN be dropped as a dup; a UNIQUE short
    # doc still always survives, which is what the r3 fix guaranteed.)
    batch_ids = batch_df.select(F.col(id_col).alias("_id")).distinct()
    keep_ids = (
        batch_ids
        .join(hist_dirty, "_id", "left_anti")
        .join(intra_dirty, "_id", "left_anti")
    )
    # Materialize NOW and truncate lineage: keep_ids' plan reads the
    # state path this function is about to overwrite — without the
    # eager checkpoint, the state write (and any later consumption of
    # the returned frame) would read and overwrite the same path in
    # one job. Stays distributed (no driver collect); size = surviving
    # doc ids of one micro-batch.
    keep_ids = keep_ids.localCheckpoint(eager=True)
    prev = _LAST_KEEP_IDS.pop(state_path, None)
    if prev is not None:
        _release(prev)
    _LAST_KEEP_IDS[state_path] = keep_ids

    # persist the survivors' bands for future epochs (idempotent: this
    # epoch's partition is replaced wholesale)
    out_state = (
        my_bands.join(keep_ids, "_id")
        .select(
            "band_idx", "band_sig",
            F.col("_id").cast("string").alias("owner"),
            F.lit(epoch).cast("long").alias("epoch"),
        )
    )
    out_state.write.mode("overwrite").partitionBy("epoch").parquet(state_path)
    my_bands.unpersist()

    return batch_df.join(
        keep_ids.withColumnRenamed("_id", id_col), id_col, "left_semi"
    )
