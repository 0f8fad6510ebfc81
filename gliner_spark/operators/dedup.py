"""Deduplication operators for web-scale corpora.

Five routes, cheapest-first — the standard large-corpus dedup ladder:

  exact (hash groupBy) → SimHash (hamming bands) → MinHash+LSH
  (shingle→minhash→band→bucket join) → n-gram Jaccard (verify) →
  embedding cosine (semantic near-dup)

All are pure DataFrame compositions (no UDFs): set-similarity math is
int/int division, and every pair-generating join is an equi-join on a
blocking key so Catalyst/AQE handle skew. Hashing is two-tier: ``md5``
where a DuckDB oracle must reproduce the hash VALUES engine-side
(exact dedup's content hash, minhash's salted permutation family,
simhash's bit votes), and allocation-free ``xxhash64`` composition
where only hash EQUALITY matters (jaccard/verify shingles, substring
window keys — the oracle checks the OUTPUT, which is hash-family-
independent; building md5-of-gram strings per position is the
memory-bandwidth wall documented in BENCH.md). The
reference repo has no dedup (single-process NER library); these are the
net-new training-data-pipeline components the 100 TB target requires.

Scale notes:
* every self-join here is *blocked* — on md5(text), a SimHash band, an
  LSH band bucket, or a shared shingle — never an unblocked O(n²)
  cross join;
* hot blocks (boilerplate shingles that appear in millions of docs)
  quadratically blow up pair generation, so ``max_df`` drops shingles
  with document frequency above a cap — the standard stop-shingle
  trick. The cap is part of the operator's contract (the SQL oracle
  applies the same cap);
* outputs are id pairs (a < b) plus exact rational scores — no float
  aggregations, so results are engine-reproducible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import shingle_hashes, shingles
from ..functions.vectors import cosine_similarity


def exact_duplicates(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup: (id, content_hash, canonical_id, is_duplicate).

    canonical_id = min id sharing md5(text). One shuffle, keyed by the
    hash (uniformly distributed — no skew by construction).
    """
    hashed = df.select(
        F.col(id_col), F.md5(F.col(text_col)).alias("content_hash")
    )
    w = Window.partitionBy("content_hash")
    return (
        hashed.withColumn("canonical_id", F.min(id_col).over(w))
        .withColumn("is_duplicate", F.col(id_col) != F.col("canonical_id"))
        .select(id_col, "content_hash", "canonical_id", "is_duplicate")
    )


def _shingle_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    max_df: int | None,
    shingle_fn=shingles,
) -> DataFrame:
    """(id, shingle) rows, distinct per doc, optionally dropping
    shingles with document frequency > max_df (stop-shingles).

    ``shingle_fn`` picks the gram representation: :func:`shingles`
    (strings — needed when the gram text is read downstream, or when
    an oracle pins an md5-of-gram family) or :func:`shingle_hashes`
    (64-bit hashes, allocation-free — for callers that only join or
    count; the cap then counts hashes, equal counts modulo the same
    collision odds the hashed join already accepts)."""
    rows = df.select(
        F.col(id_col).alias("_id"),
        F.explode(shingle_fn(F.col(text_col), n)).alias("shingle"),
    )
    if max_df is not None:
        # Stop-shingle guard WITHOUT creating the hot key it guards
        # against: a Window.partitionBy("shingle") would colocate a
        # 10^7-doc boilerplate shingle on ONE task (plus a window sort)
        # before it could be dropped. Instead: partial-aggregated
        # groupBy count (map-side combine caps per-task rows at the
        # distinct-shingle count), keep only the over-cap shingles —
        # tiny by definition — and broadcast anti-join them away.
        stop = (
            rows.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("_df"))
            .where(F.col("_df") > F.lit(max_df))
            .select("shingle")
        )
        rows = rows.join(F.broadcast(stop), "shingle", "left_anti")
    return rows


def _shingle_hash_rows(
    df: DataFrame, id_col: str, text_col: str, n: int, max_df: int | None
) -> DataFrame:
    """:func:`_shingle_rows` with the hashed gram representation."""
    return _shingle_rows(
        df, id_col, text_col, n, max_df, shingle_fn=shingle_hashes
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df: int | None = None,
) -> DataFrame:
    """Candidate pairs with word-n-gram Jaccard ≥ threshold.

    shingle-explode → self-equi-join on shingle (the blocking key) →
    per-pair intersection count → |A∪B| = |A|+|B|−|A∩B|. Jaccard is
    int/int, exact. Output: (id_a, id_b, jaccard), id_a < id_b.

    ``max_df`` caps pair generation on boilerplate shingles; when set,
    Jaccard is computed over the *capped* shingle sets (the oracle
    matches this semantics exactly).

    The shingle rows feed several branches but are deliberately NOT
    cached: recomputing a projection+explode is cheaper than
    materializing the ~50× row-multiplied shingle table, and at corpus
    scale that table could never be cached anyway.
    """
    # Shingles live as 64-bit hashes end to end: the gram string is
    # never output, so it is never BUILT — hashes combine from
    # per-word hashes with zero per-gram allocation (the string form's
    # gram garbage is what capped multi-core scaling of the substring
    # op at 0.26; see duplicated_spans). The self-join also shuffles
    # every (id, shingle) row twice, and a 3-word gram string is
    # 20-40 bytes vs 8 for the hash. An xxhash64 collision
    # (P ≈ pairs/2^64) would count one phantom shared shingle for one
    # doc pair — far below the jaccard threshold's resolution; the
    # minhash route is the explicitly-approximate one, this stays the
    # "exact" route to within hash-collision odds.
    sh_j = _shingle_hash_rows(df, id_col, text_col, n, max_df)
    if max_df is None:
        # per-doc shingle count is computable NARROWLY from the row
        # (|distinct shingle array|) — no explode, no shuffle; same
        # value as counting the exploded rows. With max_df the capped
        # count needs the exploded + filtered rows, so fall through.
        sizes = df.select(
            F.col(id_col).alias("_id"),
            F.size(shingle_hashes(F.col(text_col), n)).alias("n_sh"),
        )
    else:
        sizes = sh_j.groupBy("_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh_j.alias("a")
    b = sh_j.alias("b")
    inter = (
        a.join(b, on="shingle")
        .where(F.col("a._id") < F.col("b._id"))
        .groupBy(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("_id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("_id").alias("id_b"), F.col("n_sh").alias("n_b"))
    out = (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"),
        )
        .where(F.col("jaccard") >= F.lit(float(threshold)))
        .select("id_a", "id_b", "jaccard")
    )
    return out


def banded_candidate_pairs(bands: DataFrame, *carry: str) -> DataFrame:
    """The banded-LSH blocking join shared by MinHash, SimHash and
    mention linking.

    ``bands`` holds one row per (item, band): ``(_id, band_idx,
    band_key, *carry)``. Two items are candidates iff they share a key
    in at least one band, so candidate generation is ONE self-equi-join
    on (band_idx, band_key) — a hash shuffle on short keys, never an
    O(n²) cross join — with ``a._id < b._id``, then one drop of the id
    pairs that collide in several bands. Output: ``(id_a, id_b)`` plus
    ``<c>_a, <c>_b`` for every carried column ``c``; carried values are
    assumed to be a function of ``_id``.
    """
    a, b = bands.alias("a"), bands.alias("b")
    sides = [F.col(f"a.{c}").alias(f"{c}_a") for c in carry]
    sides += [F.col(f"b.{c}").alias(f"{c}_b") for c in carry]
    return (
        a.join(b, on=["band_idx", "band_key"])
        .where(F.col("a._id") < F.col("b._id"))
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"), *sides)
        .dropDuplicates(["id_a", "id_b"])
    )


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df: int | None = None,
) -> DataFrame:
    """MinHash+LSH near-dup pairs, verified by exact Jaccard.

    shingle → ``num_hashes`` salted-md5 min-hashes (min over the
    16-byte md5 BINARIES; unsigned byte order equals the hex-string
    lexicographic order, so this is the same min-wise permutation
    family the DuckDB oracle mirrors with hex-string mins — identical
    argmins, identical candidates, at half the aggregate width) →
    ``bands`` band signatures (the band's min-vector as a STRUCT key,
    not another md5 — signature equality IS min-vector equality, so
    hashing it buys nothing and costs an allocation per band) →
    ``banded_candidate_pairs`` → exact-Jaccard verification of
    the candidates only, over HASHED shingles (the gram text is never
    read there; see ``shingle_hashes``).

    At scale this is the route that avoids ngram_jaccard_pairs'
    shared-shingle join entirely: candidate generation touches only
    band buckets (tiny), and the expensive exact verify runs on the few
    surviving candidates. Output: (id_a, id_b, jaccard), id_a < id_b.
    """
    assert num_hashes % bands == 0, "bands must divide num_hashes"
    rows_per_band = num_hashes // bands
    sh = _shingle_rows(df, id_col, text_col, n, max_df)

    # num_hashes min-aggregations in ONE shuffle: per-shingle salted
    # hashes as columns, then groupBy(_id).min each.
    hash_cols = [
        F.unhex(F.md5(F.concat(F.lit(f"{j}|"), F.col("shingle")))).alias(
            f"h{j}"
        )
        for j in range(num_hashes)
    ]
    sig = sh.select("_id", *hash_cols).groupBy("_id").agg(
        *[F.min(f"h{j}").alias(f"m{j}") for j in range(num_hashes)]
    )

    # Band signatures → (_id, band_idx, band_key) rows.
    band_structs = []
    for bidx in range(bands):
        parts = [
            F.col(f"m{j}").alias(f"p{i}")
            for i, j in enumerate(
                range(bidx * rows_per_band, (bidx + 1) * rows_per_band)
            )
        ]
        band_structs.append(
            F.struct(
                F.lit(bidx).alias("band_idx"),
                F.struct(*parts).alias("band_key"),
            )
        )
    cand = banded_candidate_pairs(
        sig.select("_id", F.explode(F.array(*band_structs)).alias("band"))
        .select("_id", "band.band_idx", "band.band_key")
    )

    # Exact verify on candidates only (semi-join-sized work), over
    # HASHED shingles — the verify never reads gram text, so it never
    # builds it (same contract as ngram_jaccard_pairs).
    sh_v = _shingle_hash_rows(df, id_col, text_col, n, max_df)
    if max_df is None:
        # narrow per-row count — no explode/shuffle (see ngram_jaccard)
        sizes = df.select(
            F.col(id_col).alias("_id"),
            F.size(shingle_hashes(F.col(text_col), n)).alias("n_sh"),
        )
    else:
        sizes = sh_v.groupBy("_id").agg(F.count(F.lit(1)).alias("n_sh"))
    pair_sh = (
        cand.join(sh_v.alias("sa"), F.col("id_a") == F.col("sa._id"))
        .join(
            sh_v.alias("sb"),
            (F.col("id_b") == F.col("sb._id"))
            & (F.col("sa.shingle") == F.col("sb.shingle")),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    out = (
        pair_sh.join(
            sizes.select(F.col("_id").alias("id_a"), F.col("n_sh").alias("n_a")),
            "id_a",
        )
        .join(
            sizes.select(F.col("_id").alias("id_b"), F.col("n_sh").alias("n_b")),
            "id_b",
        )
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"),
        )
        .where(F.col("jaccard") >= F.lit(float(threshold)))
        .select("id_a", "id_b", "jaccard")
    )
    return out


def simhash_table(
    df: DataFrame,
    bits: int = 32,
    ngram: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(_id, sh): per-doc SimHash via explode + one hash-aggregate.

    Each feature's md5 is computed ONCE and all ``bits`` bit-votes are
    derived from it as integer arithmetic inside a single groupBy —
    bits× cheaper than per-bit array aggregation, and the one shuffle is
    keyed by doc id (uniform). This is the scale path; the array-only
    ``functions.text.simhash_column`` (zero-shuffle) remains for
    narrow-pipeline use.
    """
    if bits > 62:
        raise ValueError("bits must be <= 62 to fit a signed 64-bit simhash")
    if bits % 4 != 0:
        # same guard as functions.text.simhash_column: ndigits hex
        # chars parse exactly 4·(bits//4) bits, so a non-multiple of 4
        # would leave the top bits permanently 0 — degenerate bands
        raise ValueError("bits must be a multiple of 4 (one md5 hex digit per 4 bits)")
    ndigits = bits // 4
    # ONE string op per feature: the md5's leading ndigits hex chars
    # parse to an integer whose bit b is exactly the old
    # digit-position/instr lookup's bit (digit at 1-based position p
    # holds bits 4·(ndigits−p)..+3, so hex[ndigits−b//4] bit b%4 IS
    # bit b of the parsed value) — identical votes, identical oracle,
    # at integer-shift cost instead of 32 substring+instr per feature.
    feats = df.select(
        F.col(id_col).alias("_id"),
        F.explode(
            F.array_distinct(F.split(F.col(text_col), " "))
            if ngram == 1
            else shingles(F.col(text_col), ngram)
        ).alias("feat"),
    ).withColumn(
        "h",
        F.conv(F.substring(F.md5("feat"), 1, ndigits), 16, 10).cast("long"),
    )
    votes = []
    for b in range(bits):
        bit = F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)).cast("long")
        votes.append(F.sum(bit * 2 - 1).alias(f"v{b}"))
    agg = feats.groupBy("_id").agg(*votes)
    sh = None
    for b in range(bits):
        term = F.when(F.col(f"v{b}") > 0, F.lit(2**b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sh = term if sh is None else sh + term
    return agg.select("_id", sh.alias("sh"))


def simhash_pairs(
    df: DataFrame,
    bits: int = 32,
    bands: int = 4,
    max_hamming: int = 3,
    ngram: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """SimHash near-dup pairs: (id_a, id_b, hamming), id_a < id_b.

    Per-doc ``bits``-bit SimHash (``simhash_table``), then banded
    blocking: two docs within hamming ≤ bands−1 must agree on ≥1 of
    ``bands`` equal-width bit bands (pigeonhole), so the candidates
    come from ``banded_candidate_pairs`` keyed by each band's value,
    carrying the SimHash. Final filter by exact popcount(xor).
    """
    assert bits % bands == 0
    band_bits = bits // bands
    hashed = simhash_table(df, bits=bits, ngram=ngram, id_col=id_col, text_col=text_col)
    band_structs = [
        F.struct(
            F.lit(bidx).alias("band_idx"),
            (
                F.floor(F.col("sh") / F.lit(2 ** (bidx * band_bits))).cast("long")
                % F.lit(2**band_bits)
            ).alias("band_key"),
        )
        for bidx in range(bands)
    ]
    banded = hashed.select(
        "_id", "sh", F.explode(F.array(*band_structs)).alias("band")
    ).select("_id", "band.band_idx", "band.band_key", "sh")
    return (
        banded_candidate_pairs(banded, "sh")
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hamming"),
        )
        .where(F.col("hamming") <= F.lit(max_hamming))
    )


def segment_dedup(
    df: DataFrame,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sub-document dedup: drop repeated k-word segments, keep first
    occurrence (the C4-style "remove duplicated spans" pass — exact
    dedup misses boilerplate shared by otherwise-distinct pages;
    paragraph/segment-level removal is the standard fix in web-corpus
    training pipelines).

    Semantics: each doc splits into consecutive disjoint k-word
    segments; a segment survives only at its globally FIRST occurrence
    under the total order (doc_id, position) — later docs (and later
    repeats within one doc) lose it. Output one row per input doc:
    (id, clean_text, n_segments, n_kept); clean_text re-joins the
    surviving segments in position order ('' when everything was seen
    before).

    Scale shape: segment explode → map-side-combined groupBy(seg) min
    → equi-join back → groupBy(doc) reassembly. The first-occurrence
    key is ``min(struct(doc_id, pos))`` — struct min orders
    lexicographically by field, so it works for BOTH numeric ids
    (identical order to the packed-int64 key the SQL oracle uses) and
    string ids like ``url`` (lexicographic; a cast-to-long key would
    fail under ANSI mode or silently null out and drop every
    segment).

    One explicit seg-keyed shuffle feeds both the first-key aggregate
    and the join probe via AQE stage reuse, so the segment build runs
    once. THE TRADE (same as ``duplicated_spans``): skew-join splitting
    only matches ENSURE_REQUIREMENTS exchanges, so the
    REPARTITION_BY_COL partition holding a pathological hot segment
    cannot be split — one straggler task sorts all its occurrences
    (spilling, not OOMing: the min aggregate over it is a single hash
    entry and a linear scan).
    """
    # stage the split as a projection first: each expression embedding
    # the token array would otherwise hold (and evaluate, per row) its
    # own copy of the split subtree; as a materialized column every
    # reference is a cheap attribute read
    ws = F.col("_ws")
    n_seg = F.ceil(F.size(ws) / F.lit(k)).cast("int")
    seg_expr = F.transform(
        F.sequence(F.lit(1), n_seg),
        lambda i: F.array_join(F.slice(ws, (i - F.lit(1)) * k + F.lit(1), k), " "),
    )
    base = df.select(
        F.col(id_col).alias("_id"),
        F.split(F.col(text_col), " ").alias("_ws"),
    ).select("_id", seg_expr.alias("_segs"))
    # one seg-keyed exchange shared by the aggregate and the join probe,
    # so the segment build runs once (skew trade in the docstring)
    segs = base.select(
        "_id", F.posexplode(F.col("_segs")).alias("pos", "seg")
    ).repartition(F.col("seg"))
    firsts = segs.groupBy("seg").agg(
        F.min(F.struct("_id", "pos")).alias("fk")
    )
    kept = segs.join(firsts, "seg").where(
        (F.col("_id") == F.col("fk._id")) & (F.col("pos") == F.col("fk.pos"))
    )
    agg = kept.groupBy("_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "seg"))),
                lambda s: s["seg"],
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).cast("int").alias("n_kept"),
    )
    # n_segments = the length of the SAME segment array the explode
    # consumed — one source of truth with the staged projection above
    # (a re-derived split here could silently diverge from _segs if
    # the segmentation ever changes)
    totals = base.select(
        "_id", F.size("_segs").alias("n_segments")
    )
    return (
        totals.join(agg, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            "n_segments",
            F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
        )
    )


def duplicated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 12,
) -> DataFrame:
    """Exact substring dedup, span detection (the Lee et al. 2022
    "Deduplicating Training Data" pass): find maximal word ranges that
    repeat verbatim anywhere in the corpus, at ANY alignment.

    ``segment_dedup`` hashes *disjoint* k-word segments, so a shared
    sentence that starts mid-segment in one of the two docs is
    invisible to it. This operator slides an *overlapping* k-word
    window over every position, flags each window whose content was
    already seen at a smaller (id, pos) — the global first occurrence
    survives, exactly segment_dedup's keep-first rule — and merges the
    flagged windows per doc into maximal spans (touching-or-overlapping
    intervals coalesce).

    Output: one row per merged span — (id, span_start, span_end,
    span_n_words), word offsets, end exclusive. Docs shorter than k
    words emit no windows and no spans.

    Scale shape: windows explode to ~n_words rows keyed by a 128-bit
    hash (two independently-seeded ``xxhash64`` values; collision odds
    at 10^12 windows ≈ 10^24/2^129 ≈ 2e-15 — the same
    treat-the-hash-as-identity contract md5 keying gives). The key is
    built WITHOUT allocating anything per window: words hash to longs
    ONCE per doc, then each window key is one variadic
    ``xxhash64(seed, wh[p+1..p+k])`` over O(1) ``element_at`` reads.
    The naive build (``md5(array_join(slice(...)))``) allocates a
    slice array plus a joined string per window — measured on a
    320k-doc input that garbage saturates memory bandwidth and caps
    8→32-core scaling at 0.37 while this form reaches ~0.7 and runs
    3× faster absolute (the shuffle also shrinks: 16-byte struct key
    vs 32-char hex). Flow: map-side-combined groupBy(h) keeps only
    hashes with count>1 (the duplicate fraction — tiny next to the
    corpus) → equi-join back tags non-first occurrences → one
    groupBy(id) + a LINEAR index scan does the interval merge: window
    ends p+k are
    monotone in sorted p, so position i opens a new span iff
    ``ps[i] > ps[i-1] + k`` — break indices via one
    filter-over-sequence pass, span bounds via one transform over the
    breaks, every array access O(1). (A fold that rebuilds the
    accumulator array would be O(spans·positions) per doc and turn a
    boilerplate-riddled 100k-word page into a single-task straggler.)
    Same min(struct(id,pos)) first-key trick as segment_dedup, so
    string AND numeric ids both work. No Window over the corpus.

    One explicit h-keyed shuffle feeds both the firsts aggregate and
    the join probe via AQE stage reuse — without it each consumer
    re-derives its own exchange above a differently-shaped subtree and
    the whole window build runs TWICE (measured 7.5 → 4.6 s on a ×64
    input). THE TRADE: Spark's skew-join splitter only matches
    ENSURE_REQUIREMENTS exchanges, so the explicit REPARTITION_BY_COL
    partition holding a pathological hot window (one identical k-gram
    in ~10^7+ docs) cannot be split — that one task sorts all its
    occurrences (it spills rather than OOMs, but it is a straggler).
    """
    base = df.select(
        F.col(id_col).alias("_id"),
        F.split(F.col(text_col), " ").alias("_ws"),
    )
    # staged select: `_wh` must be a materialized attribute — inlined
    # into the window transform, every element_at would re-run the
    # whole word-hash pass (CollapseProject declines because the alias
    # is non-cheap and multiply-consumed)
    hashed = base.select(
        "_id",
        F.transform(F.col("_ws"), lambda w: F.xxhash64(w)).alias("_wh"),
    )
    wh = F.col("_wh")
    npos = F.size(wh) - F.lit(k - 1)

    def winkey(p, seed: int):
        return F.xxhash64(
            F.lit(seed), *[F.element_at(wh, p + j) for j in range(1, k + 1)]
        )

    # sequence(1, 0) would count DOWN in Spark — guard short docs
    win = F.when(
        npos >= 1,
        F.transform(
            F.sequence(F.lit(0), npos - 1),
            lambda p: F.struct(
                winkey(p, 1).alias("h1"), winkey(p, 2).alias("h2")
            ),
        ),
    ).otherwise(F.expr("CAST(array() AS array<struct<h1:long,h2:long>>)"))
    # one h-keyed exchange shared by the aggregate and the join probe,
    # so the window build runs once; the lost map-side combine costs
    # nothing: window keys are near-unique
    sh = hashed.select("_id", F.posexplode(win).alias("pos", "h")).repartition(
        F.col("h")
    )
    firsts = (
        sh.groupBy("h")
        .agg(
            F.min(F.struct("_id", "pos")).alias("fk"),
            F.count(F.lit(1)).alias("c"),
        )
        .where(F.col("c") > 1)
        .select("h", "fk")
    )
    dups = (
        sh.join(firsts, "h")
        .where(
            ~(
                (F.col("_id") == F.col("fk._id"))
                & (F.col("pos") == F.col("fk.pos"))
            )
        )
        .select("_id", "pos")
    )
    # linear interval merge (see docstring). Staged select so `_bs` is
    # a materialized attribute — inlining it into the span transform
    # would re-evaluate the whole break scan per span.
    merged = dups.groupBy("_id").agg(
        F.array_sort(F.collect_list("pos")).alias("_ps")
    )
    ps = F.col("_ps")
    breaks = F.filter(
        F.sequence(F.lit(1), F.size(ps)),
        # sequential whens: the i==1 branch must not evaluate
        # element_at(ps, 0), which throws
        lambda i: F.when(i == 1, F.lit(True)).otherwise(
            F.element_at(ps, i) > F.element_at(ps, i - 1) + F.lit(k)
        ),
    )
    staged = merged.select("_id", "_ps", breaks.alias("_bs"))
    ps2, bs = F.col("_ps"), F.col("_bs")
    spans_arr = F.transform(
        bs,
        # group j (0-based) runs from 1-based ps index bs[j] to
        # bs[j+1]-1 (or the last position for the final group)
        lambda b, j: F.struct(
            F.element_at(ps2, b).cast("int").alias("s"),
            (
                F.when(
                    j + 2 <= F.size(bs),
                    F.element_at(ps2, F.element_at(bs, j + 2) - 1),
                ).otherwise(F.element_at(ps2, -1))
                + F.lit(k)
            )
            .cast("int")
            .alias("e"),
        ),
    )
    spans = staged.select("_id", F.explode(spans_arr).alias("sp"))
    return spans.select(
        F.col("_id").alias(id_col),
        F.col("sp.s").alias("span_start"),
        F.col("sp.e").alias("span_end"),
        (F.col("sp.e") - F.col("sp.s")).cast("int").alias("span_n_words"),
    )


def substring_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 12,
) -> DataFrame:
    """Exact substring dedup, removal form: splice the
    ``duplicated_spans`` ranges out of each doc.

    Output: one row per input doc — (id, clean_text, n_words,
    n_dup_words). clean_text re-joins the surviving words in order (''
    when the whole doc was seen before); first occurrences keep their
    text byte-for-byte (modulo the single-space re-join both this and
    segment_dedup use).

    Scale shape: the span table is the *duplicate* fraction of the
    corpus, so the join back to docs is small-side (broadcastable);
    the splice itself is a pure array expression — no shuffle beyond
    the one equi-join, and the corpus text never crosses it twice.
    """
    empty_spans = F.expr("CAST(array() AS array<struct<s:int,e:int>>)")
    sp = (
        duplicated_spans(df, id_col=id_col, text_col=text_col, k=k)
        .groupBy(id_col)
        .agg(
            F.collect_list(
                F.struct(
                    F.col("span_start").alias("s"),
                    F.col("span_end").alias("e"),
                )
            ).alias("_sp"),
            F.sum("span_n_words").alias("_nd"),
        )
    )
    base = df.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("_ws")
    )
    joined = base.join(sp, id_col, "left").select(
        id_col,
        "_ws",
        F.coalesce(F.col("_sp"), empty_spans).alias("_sp"),
        F.coalesce(F.col("_nd"), F.lit(0)).cast("int").alias("n_dup_words"),
    )
    kept = F.filter(
        "_ws",
        lambda w, i: ~F.exists(
            F.col("_sp"), lambda q: (i >= q["s"]) & (i < q["e"])
        ),
    )
    return joined.select(
        F.col(id_col),
        # null text propagates NULL through split/filter/array_join —
        # coalesce to '' like segment_dedup (and the gate oracle) does
        F.coalesce(F.array_join(kept, " "), F.lit("")).alias("clean_text"),
        F.size("_ws").cast("int").alias("n_words"),
        F.col("n_dup_words"),
    )


def resolve_duplicate_clusters(
    docs: DataFrame,
    assignments: DataFrame,
    id_col: str = "doc_id",
    prefer_col: str = "n_chars",
) -> DataFrame:
    """Terminal step of the dedup ladder: turn near-dup components
    into a per-doc keep/drop verdict.

    ``assignments`` is ``connected_components`` output (node,
    component) over the near-dup edge set; docs absent from it are
    their own singleton cluster. Within each cluster exactly one doc
    survives: the one with the largest ``prefer_col`` (keep the
    longest/highest-quality copy — the standard web-pipeline choice),
    ties broken by the smallest id. ``prefer_col`` must be numeric
    (its negation is the min-struct sort key); NULL prefer values LOSE
    (sort last, SQL ``DESC NULLS LAST``, via an explicit null-rank
    field) — without it a null field would sort FIRST in Spark's
    struct ordering and a null-prefer doc would beat every real copy.

    Output: one row per input doc — (id, cluster_id, cluster_size,
    is_survivor). Filtering ``is_survivor`` yields the deduplicated
    corpus; ¬is_survivor rows carry their cluster's id for lineage.

    Scale shape: one left equi-join against the (tiny, duplicate-
    fraction-sized) assignment table, one map-side-combined
    groupBy(cluster) min-struct + count, one join back keyed by
    cluster id. The corpus text never moves — only (id, prefer, cluster)
    triples cross the shuffles.
    """
    a = (
        docs.select(F.col(id_col), F.col(prefer_col))
        .join(
            assignments.withColumnRenamed("node", id_col),
            id_col,
            "left",
        )
        .select(
            id_col,
            prefer_col,
            F.coalesce(F.col("component"), F.col(id_col)).alias("cluster_id"),
        )
    )
    # sort key (null_rank, descending-prefer, id): null_rank puts NULL
    # prefer values LAST without casting prefer to another type (a
    # double cast would silently collapse int64 preferences above
    # 2^53); within the null group np is NULL on every row, so the id
    # field alone breaks the tie — same as the oracle's NULLS LAST,
    # id ASC. For integral prefer types the descending key is
    # bitwise-NOT (~x = -x-1: an order-REVERSING bijection with no
    # overflow — plain negation of the type's MIN value raises under
    # ANSI and silently wraps to itself otherwise, crowning the
    # SMALLEST preference); fractional types have no NOT, and their
    # negation is exact and total.
    prefer_type = dict(docs.dtypes).get(prefer_col, "")
    desc_prefer = (
        F.bitwise_not(F.col(prefer_col))
        if prefer_type in ("tinyint", "smallint", "int", "bigint")
        else -F.col(prefer_col)
    )
    best = a.groupBy("cluster_id").agg(
        F.min(
            F.struct(
                F.when(F.col(prefer_col).isNull(), F.lit(1))
                .otherwise(F.lit(0))
                .alias("nr"),
                desc_prefer.alias("np"),
                F.col(id_col).alias("i"),
            )
        ).alias("bk"),
        F.count(F.lit(1)).alias("cluster_size"),
    )
    return a.join(best, "cluster_id").select(
        F.col(id_col),
        "cluster_id",
        "cluster_size",
        (F.col(id_col) == F.col("bk.i")).alias("is_survivor"),
    )


def embedding_cosine_pairs(
    df: DataFrame,
    threshold: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = None,
    vectorized: bool = True,
    chunks: int = 8,
) -> DataFrame:
    """Semantic near-dup pairs by embedding cosine ≥ threshold.

    Output: (id_a, id_b) only, a < b — pair membership is float-noise
    robust as long as no cosine sits within BLAS rounding (~1e-12) of
    the threshold (real margins are ~1e-4; tests check this).

    Routes:
    * ``block_col`` — equi-join per blocking key (LSH sign bucket,
      cluster id): THE 100 TB path; candidate work ∝ bucket sizes.
    * ``vectorized`` (default, no block) — exact all-pairs via a
      CHUNKED block-nested-loop: rows hash into ``chunks`` buckets,
      every (ci ≤ cj) bucket pair becomes one ``applyInPandas`` task
      doing a single BLAS matmul. Fully distributed — per-task memory
      is 2·(n/chunks)·dim, NO driver-side collect of the corpus, and
      the shuffle volume is (chunks+1)·n vectors. Exact all-pairs is
      inherently O(n²) compute; above ~10⁷ rows use ``block_col`` (LSH
      sign buckets) for the sub-quadratic scale path.
    * expression fallback (``vectorized=False``) — pure built-in
      crossJoin + zip_with/aggregate; the slow-but-dependency-free
      correctness baseline the others are tested against.
    """
    if block_col is None and vectorized:
        return _cosine_pairs_chunked(df, threshold, id_col, vec_col, chunks)
    cols = [F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")]
    if block_col is not None:
        cols.append(F.col(block_col).alias("_blk"))
    vecs = df.select(*cols)
    a, b = vecs.alias("a"), vecs.alias("b")
    cond = F.col("a._id") < F.col("b._id")
    joined = (
        a.join(b, on="_blk").where(cond)
        if block_col is not None
        else a.crossJoin(b).where(cond)
    )
    return (
        joined.where(
            cosine_similarity(F.col("a._v"), F.col("b._v")) >= F.lit(float(threshold))
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
    )


def _pair_schema(df: DataFrame, id_col: str) -> str:
    """Output schema with id_a/id_b typed like the source id column
    (string doc ids survive every route, not just the blocked one)."""
    id_type = df.schema[id_col].dataType.simpleString()
    return f"id_a {id_type}, id_b {id_type}"


def _norm_matrix(values) -> "object":
    import numpy as np

    mat = np.stack(list(values)).astype(np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True) + 1e-12
    return mat


def _cosine_pairs_chunked(
    df: DataFrame, threshold: float, id_col: str, vec_col: str, chunks: int
) -> DataFrame:
    """Exact all-pairs cosine, distributed: chunked block-nested-loop.

    Rows hash into ``chunks`` buckets by id; each unordered bucket pair
    (ci ≤ cj) is one ``applyInPandas`` group that matmuls chunk ci
    against chunk cj and emits (min(id), max(id)) for sims ≥ threshold.
    Every unordered row pair lands in exactly one group, so no DISTINCT
    is needed. Work is the same O(n²·dim) flops exactness requires, but
    spread over chunks·(chunks+1)/2 tasks with bounded memory — the
    default route never collects the corpus to the driver.
    """
    import numpy as np
    import pandas as pd

    schema = _pair_schema(df, id_col)
    thr = float(threshold)
    rows = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(chunks)).cast("int").alias("_ck"),
    )
    spark = df.sparkSession
    chunk_pairs = spark.createDataFrame(
        [(ci, cj) for ci in range(chunks) for cj in range(ci, chunks)],
        "ci int, cj int",
    )
    # Replicate each row into every group where its chunk is a side:
    # as side a when _ck == ci, as side b when _ck == cj. A row goes to
    # (chunks + 1) groups total — the shuffle is linear in n.
    a_side = rows.join(F.broadcast(chunk_pairs), rows["_ck"] == chunk_pairs["ci"]).select(
        "ci", "cj", F.lit(0).alias("_side"), "_id", "_v"
    )
    b_side = rows.join(F.broadcast(chunk_pairs), rows["_ck"] == chunk_pairs["cj"]).select(
        "ci", "cj", F.lit(1).alias("_side"), "_id", "_v"
    )
    both = a_side.unionByName(b_side)

    def compute(key, pdf):
        ci, cj = key  # noqa: F841 — group key, kept for debuggability
        part_a = pdf[pdf["_side"] == 0]
        part_b = pdf[pdf["_side"] == 1]
        if len(part_a) == 0 or len(part_b) == 0:
            return pd.DataFrame({"id_a": [], "id_b": []})
        ids_a = part_a["_id"].to_numpy()
        ids_b = part_b["_id"].to_numpy()
        sims = _norm_matrix(part_a["_v"]) @ _norm_matrix(part_b["_v"]).T
        ii, jj = np.nonzero(sims >= thr)
        left, right = ids_a[ii], ids_b[jj]
        keep = left != right  # drops self-pairs in diagonal groups
        left, right = left[keep], right[keep]
        lt = left < right
        return pd.DataFrame(
            {"id_a": np.where(lt, left, right), "id_b": np.where(lt, right, left)}
        ).drop_duplicates()  # diagonal group sees (x,y) and (y,x) once each

    return both.groupBy("ci", "cj").applyInPandas(compute, schema)

