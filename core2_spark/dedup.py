"""Deduplication operators for training-data pipelines (SURVEY.md
§2.12) — exact, MinHash+LSH, SimHash, n-gram Jaccard.

Design for 100 TB:
- exact dedup: hash-groupBy on a fingerprint column — one shuffle,
  map-side partial aggregation, no driver state;
- near dedup: MinHash signatures per document (linear scan), banded
  into LSH buckets, candidate pairs only *within* a bucket (equi-join
  on bucket id — a shuffle join on a high-cardinality key), exact
  Jaccard verification only on candidates.  Never an all-pairs cross
  join.

The MinHash here is md5-based and lexicographic-min over hex digests —
deliberately expressible in ANSI SQL so the DuckDB oracle can verify
the *whole pipeline* (signature → bands → candidate pairs → verified
duplicates), not just row counts.
"""

from __future__ import annotations

from functools import reduce
from operator import and_

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from core2_spark.functions.text import fingerprint, tokens
from core2_spark.plans import spread_partitions


def exact_dedup_groups(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Groups of exact duplicates by normalized-text fingerprint."""
    return (
        df.withColumn("fp", fingerprint(F.col(text_col)))
        .groupBy("fp")
        .agg(F.count("*").alias("n_copies"), F.min("doc_id").alias("keep_doc_id"))
        .filter(F.col("n_copies") > 1)
    )


def exact_dedup_keep_first(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Survivors of exact dedup: lowest doc_id per fingerprint —
    one fingerprint-partitioned window pass (a single shuffle; the
    groupBy-then-semi-join alternative costs two)."""
    from pyspark.sql import Window

    w = Window.partitionBy("fp").orderBy(F.col("doc_id").asc())
    return (
        df.withColumn("fp", fingerprint(F.col(text_col)))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("fp", "_rn")
    )


def assert_bounded_blocks(
    df: DataFrame,
    block_cols: tuple[str, ...],
    max_block_rows: int = 20_000,
    lsh_twin: str = "minhash_near_duplicates",
) -> None:
    """Refuse a quadratic within-block pair join when any block is too
    big: an O(block²) join over a b-row block is b²/2 comparisons, and
    blocks grow linearly with data — at 100 TB a 'small' blocking key
    silently becomes a cartesian.  The check itself is one cheap
    map-side-combined aggregation (O(N)), nothing next to the O(N²) it
    prevents."""
    top = (
        df.groupBy(*[F.col(c) for c in block_cols])
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    if top is not None and top > max_block_rows:
        raise ValueError(
            f"quadratic pair join refused: largest {block_cols} block has "
            f"{top} rows (> {max_block_rows}), i.e. ~{top * top // 2:,} "
            f"comparisons for that block alone. Use the LSH-banded twin "
            f"({lsh_twin}) which bounds candidate buckets, or raise "
            "max_block_rows deliberately."
        )


PAIR_SALT = 32


def block_pairs(
    df: DataFrame,
    id_col: str,
    block_cols: tuple[str, ...],
    cols: tuple[str, ...],
    b_hint: str | None = None,
) -> DataFrame:
    """Every unordered pair of ``df`` rows that share all
    ``block_cols`` values, once, as ``(a_id, b_id, a_<c>, b_<c>)`` for
    each ``c`` in ``cols``, with ``a_id < b_id``.  A NULL block key
    pairs with nothing, as in SQL.  ``b_hint`` is a join hint for the
    replicated side (``"shuffle_hash"``/``"shuffle_merge"``).

    The join is SALTED: a block-keyed self-join hashes each block to
    ONE shuffle partition, so a single task owns the whole block's
    O(block²) comparisons — the sf1 sweep caught one (lang, source)
    block running ~20 minutes on one core while 15 sat idle.  The
    a-side is hash-salted once (``_ps_a``), the b-side replicated
    across every salt value (``_ps_b``), and ``_ps_a == _ps_b`` joins
    with the block keys.  Each ordered pair still meets exactly once —
    at a's salt — while one block's pairs spread over ``PAIR_SALT``
    tasks.
    The b-side shuffle grows ``PAIR_SALT``×, which is the point: pair
    CPU, not shuffle bytes, is the binding cost.

    The a-side is explicitly ``repartition(PAIR_SALT, blocks + salt)``'d
    because AQE's SIZE-based partition coalescing otherwise collapses
    this CPU-heavy but byte-light shuffle right back to a handful of
    tasks (duplicated trigram strings compress ~30×; observed: the
    salted sf1 join re-coalesced to 3 partitions).  A user-specified
    partition count is not coalescible, and the b-side exchange must
    co-partition with it, so the join genuinely runs at ``PAIR_SALT``
    tasks.

    Callers filter and project the result, and Catalyst folds their
    filters into the join condition.  ``a_id < b_id`` is a filter, not
    a join conjunct, so that a caller's ONE filter (prune & similarity
    in a single ``filter``) lands after it: the per-pair similarity
    then runs once per unordered pair instead of once per ordered
    meeting (tests/test_plans.py pins the order)."""

    def side(s: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(f"{s}_id"),
            *[F.col(c).alias(f"{s}_{c}") for c in (*block_cols, *cols)],
        )

    a = side("a").withColumn(
        "_ps_a", F.pmod(F.xxhash64(F.col("a_id")), F.lit(PAIR_SALT)).cast("int")
    ).repartition(
        PAIR_SALT, *[F.col(f"a_{c}") for c in block_cols], F.col("_ps_a")
    )
    b = side("b").withColumn(
        "_ps_b", F.explode(F.sequence(F.lit(0), F.lit(PAIR_SALT - 1)))
    )
    if b_hint is not None:
        b = b.hint(b_hint)
    conds = [F.col(f"a_{c}") == F.col(f"b_{c}") for c in block_cols]
    conds.append(F.col("_ps_a") == F.col("_ps_b"))
    return (
        a.join(b, reduce(and_, conds))
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", *[f"{s}_{c}" for c in cols for s in ("a", "b")])
    )


def token_set(text_col: Column) -> Column:
    """Distinct whitespace tokens — the MinHash item set."""
    return F.array_distinct(tokens(text_col))


def _seeded_min_hash(items: Column, seed: int) -> Column:
    # Single-parameter lambda on purpose: F.transform passes the
    # element index as a second argument, which would clobber a
    # default-bound seed.
    prefix = F.lit(f"{seed}:")
    return F.array_min(F.transform(items, lambda x: F.md5(F.concat(prefix, x))))


def minhash_signature(items: Column, k: int = 8) -> list[Column]:
    """k MinHash components: for seed i, min over items of
    md5(i || ':' || item) — lexicographic min over hex digests is a
    uniform random min, and both engines share md5."""
    return [_seeded_min_hash(items, i).alias(f"mh{i}") for i in range(k)]


def minhash_bands(sig_cols: list[str], rows_per_band: int = 2) -> list[Column]:
    """Band the signature: one bucket id per band (md5 of the
    concatenated band slice)."""
    out = []
    for b in range(0, len(sig_cols), rows_per_band):
        band = sig_cols[b : b + rows_per_band]
        out.append(
            F.md5(F.concat_ws("|", *[F.col(c) for c in band])).alias(
                f"band{b // rows_per_band}"
            )
        )
    return out


def minhash_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    rows_per_band: int = 2,
    block_cols: tuple[str, ...] = (),
    items_fn=token_set,
    max_bucket_rows: int | None = None,
) -> DataFrame:
    """LSH candidate pairs (a < b): documents sharing ≥1 band bucket
    (and every ``block_cols`` blocking key, e.g. language).

    Plan shape: linear signature scan → explode to (band, bucket) →
    self-equi-join on (band_idx, bucket, *blocks) → distinct pairs.
    Bucket ids are md5 strings (high cardinality), so the join shuffles
    evenly; no cross join at any scale.  Blocking keys additionally cap
    the worst case when the corpus vocabulary is tiny and every
    signature collides.

    ``max_bucket_rows``: a bucket's all-pairs output is O(bucket²),
    and real crawls contain mega-cliques (boilerplate, mirrored
    pages, a collapsed vocabulary) whose TRUE pair set is quadratic —
    measured here: 40M verified pairs from 50k synthetic docs over a
    30-word vocabulary.  With the cap set, buckets larger than the
    cap emit STAR linkage (every member paired with the bucket's min
    id) instead of all pairs: candidate volume becomes O(bucket),
    connectivity for downstream connected-components survives, and
    what's traded away is only the explicit enumeration of clique
    edges (pair-level recall inside oversized buckets).  Default None
    keeps the exact all-pairs contract."""
    # signature construction is the pipeline's linear CPU wall —
    # spread it across cores regardless of the scan's split count.
    # Materialize the item set ONCE in its own projection: passing
    # items_fn(text) straight into minhash_signature embeds the
    # shingling expression in every one of the k seed columns — k
    # recomputations per document, which the skewed-corpus mega-doc
    # turned from overhead into a wall.  CollapseProject will not
    # inline a non-cheap alias referenced k times, so the two-step
    # select is a real materialization barrier.
    itemized = spread_partitions(df).select(
        F.col(id_col),
        *[F.col(c) for c in block_cols],
        items_fn(F.col(text_col)).alias("_items"),
    )
    sigs = itemized.select(
        F.col(id_col),
        *[F.col(c) for c in block_cols],
        *minhash_signature(F.col("_items"), k),
    )
    n_bands = k // rows_per_band
    banded = sigs.select(
        id_col, *block_cols, *minhash_bands([f"mh{i}" for i in range(k)], rows_per_band)
    )
    buckets = banded.select(
        id_col,
        *block_cols,
        F.posexplode(F.array(*[F.col(f"band{b}") for b in range(n_bands)])).alias(
            "band_idx", "bucket"
        ),
    )
    join_keys = ["band_idx", "bucket", *block_cols]
    if max_bucket_rows is not None:
        from pyspark.sql import Window

        # one count-window shuffle on the same key the pair join uses;
        # oversized buckets divert to linear star linkage
        w = Window.partitionBy(*join_keys)
        counted = buckets.withColumn("_bsz", F.count(F.lit(1)).over(w))
        small = counted.filter(F.col("_bsz") <= max_bucket_rows).drop("_bsz")
        big = counted.filter(F.col("_bsz") > max_bucket_rows).drop("_bsz")
        star = (
            big.withColumn(
                "_ctr", F.min(id_col).over(Window.partitionBy(*join_keys))
            )
            .filter(F.col(id_col) != F.col("_ctr"))
            .select(
                F.col("_ctr").alias("a_id"), F.col(id_col).alias("b_id")
            )
        )
    else:
        small, star = buckets, None
    # explicit-count co-partitioning on the join key: the bucket join
    # is byte-light (md5 strings, heavily compressed) but its
    # per-bucket pair expansion is the CPU wall, and AQE would
    # coalesce a size-based layout back to a couple of tasks
    left = spread_partitions(
        small.select(F.col(id_col).alias("a_id"), *join_keys), *join_keys
    )
    right = small.select(F.col(id_col).alias("b_id"), *join_keys)
    pairs = (
        left.join(right, join_keys)
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
    )
    if star is not None:
        pairs = pairs.unionByName(star)
    return pairs.distinct()


def jaccard(a_items: Column, b_items: Column) -> Column:
    """Exact Jaccard similarity of two distinct-item arrays.

    |A∪B| comes from |A|+|B|−|A∩B| instead of materializing the
    union — the concat+distinct alternative costs ~2.5× more per pair
    (measured at sf0.1: 41s → 16s over 160k trigram-set pairs)."""
    inter = F.size(F.array_intersect(a_items, b_items)).cast("double")
    union = (F.size(a_items) + F.size(b_items)).cast("double") - inter
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    rows_per_band: int = 2,
    threshold: float = 0.5,
    block_cols: tuple[str, ...] = (),
    items_fn=token_set,
    max_bucket_rows: int | None = None,
    verify_join: str = "fast",
) -> DataFrame:
    """Full near-dup pipeline: LSH candidates verified by exact Jaccard
    ≥ threshold (raw value, rounded only for display).  Returns
    (a_id, b_id, jaccard_sim).  ``max_bucket_rows`` bounds degenerate
    LSH buckets via star linkage — see minhash_candidate_pairs.

    ``verify_join`` picks the set-join strategy by SHINGLE WIDTH, the
    axis the r11 memory-pressure tier measured: "fast" lets AQE
    broadcast the item-set sides when their shuffle bytes look small —
    right for narrow sets (word tokens: ~50 items/doc; completed the
    sf5 4 GB tier), but AQE judges on COMPRESSED bytes and shingle
    arrays compress ~30×, so WIDE sets (character trigrams: ~250
    hashed longs/doc) deserialize a "small" broadcast into GBs and
    OOM a tight heap.  "merge" bounds memory at any heap and scale:
    join 1 is a shuffled-hash join building on the candidate PAIRS
    (two longs per row — SHJ builds cannot spill, so build on the
    smallest side), join 2 a merge join whose sorts spill; the price
    is sorting the array-carrying rows (~+55% at sf1 for trigram
    sets), which is the honest trade against an unsalvageable OOM."""
    pairs = minhash_candidate_pairs(
        df, id_col, text_col, k, rows_per_band, block_cols, items_fn,
        max_bucket_rows,
    )
    # the verify join's per-pair set intersection dominates: spread
    # the shingle-array construction and the join probe side
    sets_df = spread_partitions(df).select(
        F.col(id_col), items_fn(F.col(text_col)).alias("items")
    )
    a_sets = sets_df.select(F.col(id_col).alias("a_id"), F.col("items").alias("a_items"))
    b_sets = sets_df.select(F.col(id_col).alias("b_id"), F.col("items").alias("b_items"))
    # Join strategy: see the verify_join docstring.  In "fast" mode
    # the candidate pairs stay ROUND-ROBIN spread on purpose: AQE's
    # runtime stats demote both set joins to broadcasts, which
    # preserves the spread's partitioning, while pre-keying on a_id
    # would lock in a sort-merge that re-sorts the array side
    # (measured at sf0.1: keyed 48 s vs round-robin 2.6 s).
    if verify_join == "merge":
        # BOTH joins merge: a shuffled-hash build looked attractive for
        # the pairs side (two longs per row), but Spark allocates the
        # hash relation's INITIAL page at 256 MB regardless of build
        # content ("Can't acquire 268435456 bytes ... got 163634001"
        # at 4g×8 tasks, reproduced) — SHJ is unusable at tight heap
        # whatever the data.  Sort-merge spills on both sides.
        joined = (
            spread_partitions(pairs).join(a_sets.hint("shuffle_merge"), "a_id")
            .join(b_sets.hint("shuffle_merge"), "b_id")
        )
    else:
        joined = spread_partitions(pairs).join(a_sets, "a_id").join(b_sets, "b_id")
    return verified_jaccard(joined, threshold)


def verified_jaccard(pairs: DataFrame, threshold: float) -> DataFrame:
    """The verify step of every Jaccard pair operator: ``(a_id, b_id,
    a_items, b_items)`` pairs → ``(a_id, b_id, jaccard_sim)`` for the
    pairs whose exact Jaccard is ≥ ``threshold`` (compared raw, rounded
    only for output).

    Size-ratio prune: Jaccard ≤ min(|A|,|B|)/max(|A|,|B|) exactly
    (|A∩B| ≤ min, |A∪B| ≥ max), so pairs whose set sizes differ by
    more than the threshold ratio are dropped by two O(1) length reads
    before the O(|A|+|B|) array_intersect — LSH false positives are
    often exactly such cross-length boilerplate pairs.  The -1e-9
    slack keeps borderline-exact ratios (double(0.55) rounds UP) from
    being falsely pruned, so the kept pairs are unchanged.

    +1e-9 before rounding: Jaccard is a small-denominator rational
    that can sit exactly on the 6-decimal boundary, where engines'
    ROUND implementations disagree."""
    sa, sb = F.size(F.col("a_items")), F.size(F.col("b_items"))
    prune = F.least(sa, sb).cast("double") >= (
        F.lit(threshold) - F.lit(1e-9)
    ) * F.greatest(sa, sb)
    return (
        pairs.withColumn("_raw_jac", jaccard(F.col("a_items"), F.col("b_items")))
        .filter(prune & (F.col("_raw_jac") >= threshold))
        .select(
            "a_id", "b_id", F.round(F.col("_raw_jac") + 1e-9, 6).alias("jaccard_sim")
        )
    )


def char_shingles(text_col: Column, n: int) -> Column:
    """All length-``n`` character shingles of the text (one per start
    position, L−n+1 of them; a string shorter than ``n`` yields its
    own suffix-clipped self, matching ``substr`` semantics), computed
    in O(L·log n) — NEVER via per-position ``substr``.

    Why not the obvious ``transform(sequence(1, L-n+1), i ->
    substr(text, i, n))``: two independent quadratic walls, both found
    by the r11 skewed-corpus probe's mega-doc (power-law doc lengths
    are production-normal).  (1) ``UTF8String.substr`` scans from the
    string head to locate char i (variable-width encoding), so
    whole-document shingling is O(L²) char scans — measured 0.8 s at
    5k chars, 15.6 s at 80k, ~25 min at 1.3 MB.  (2) The workaround of
    materializing a char array and indexing it inside the lambda is
    ALSO O(L²): higher-order-function lambdas are interpreted, and
    every evaluation of an outer array/column reference inside the
    lambda re-materializes the whole array (measured: even
    ``transform(idx, i -> element_at(chars, 5))`` — a constant index —
    costs 59 s on a 40k-char doc).  Outer SCALAR refs are fine; outer
    ARRAY refs in a lambda are the trap.

    The linear construction keeps every array strictly a zip_with
    INPUT (zip_with iterates its operands directly, no outer refs):
    split once to a char array, then length-double shingles with a
    shifted self-zip — shingle_2k(i) = shingle_k(i) || shingle_k(i+k)
    — composing ``n`` from its binary representation in O(log n)
    passes.  Trailing positions zip against null padding and
    concat_ws skips nulls, which reproduces substr's end-of-string
    clipping exactly (differential-tested against the old form).
    Measured: 1.3 MB doc in 2.5 s vs ~25 min."""
    chars = F.split(text_col, "")
    length = F.length(text_col)

    def shifted(arr: Column, s: int) -> Column:
        return F.slice(arr, s + 1, F.greatest(length - s, F.lit(1)))

    pows: dict[int, Column] = {1: chars}
    k = 1
    while k * 2 <= n:
        pows[k * 2] = F.zip_with(
            pows[k], shifted(pows[k], k), lambda a, b: F.concat_ws("", a, b)
        )
        k *= 2
    acc, span = None, 0
    for p in sorted(pows, reverse=True):
        if span + p > n:
            continue
        if acc is None:
            acc = pows[p]
        else:
            acc = F.zip_with(
                acc, shifted(pows[p], span), lambda a, b: F.concat_ws("", a, b)
            )
        span += p
        if span == n:
            break
    return F.slice(acc, 1, F.greatest(length - (n - 1), F.lit(1)))


def ngram_set(text_col: Column, n: int = 3) -> Column:
    """Distinct character n-gram shingles of the text (see
    char_shingles for why this is zip_with-laddered, not substr)."""
    return F.array_distinct(char_shingles(text_col, n))


def simhash64(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """64-bit SimHash per document via an Arrow-batched Pandas UDF
    (the per-bit majority vote isn't worth expressing as 64 column
    aggregates).  Deterministic: md5-derived per-token hashes."""
    @F.pandas_udf("long")
    def _simhash(texts: pd.Series) -> pd.Series:
        import hashlib

        import numpy as np

        # r11 (guide §4.2): the per-bit majority vote is numpy column
        # algebra, not a Python loop.  The pre-r11 form ran
        # |tokens|×64 interpreted-Python operations per document
        # (measured: 7.1 s/10k docs of 1-120 tokens); here md5 stays
        # in hashlib's C core and the bit unpack / vote / pack are
        # three vectorized expressions per document (measured: 1.4
        # s/10k docs, 5.0× — signatures bit-for-bit identical, and
        # the oracle re-derives them in DuckDB).
        shifts = np.arange(64, dtype=np.uint64)
        out = np.zeros(len(texts), dtype=np.int64)
        for row, text in enumerate(texts):
            toks = set((text or "").strip().lower().split())
            if not toks:
                continue
            digests = b"".join(
                hashlib.md5(t.encode("utf-8")).digest()[:8] for t in toks
            )
            h = np.frombuffer(digests, dtype=">u8")  # == int.from_bytes(..,"big")
            ones = ((h[:, None] >> shifts) & np.uint64(1)).sum(axis=0)
            # acc[j] = ones[j] - zeros[j] = 2*ones[j] - |toks|; bit set iff > 0
            sig_bits = (2 * ones > len(toks)).astype(np.uint64)
            sig = int((sig_bits << shifts).sum(dtype=np.uint64))
            # two's-complement fold into int64
            if sig >= 1 << 63:
                sig -= 1 << 64
            out[row] = sig
        return pd.Series(out)

    # Arrow-batch parallelism = input partition count; a single-split
    # scan would md5-hash the whole corpus in one Python worker
    return spread_partitions(df).select(
        F.col(id_col), _simhash(F.col(text_col)).alias("simhash")
    )


def simhash_near_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 8,
    n_blocks: int | None = None,
) -> DataFrame:
    """SimHash near-dup: band the 64-bit signature into blocks; a pair
    within Hamming distance d is GUARANTEED to share ≥1 exact block
    only when n_blocks > d (pigeonhole), so the block count defaults to
    max_hamming+1.  Fewer, wider blocks trade recall for a sparser
    candidate join; callers with huge corpora lower n_blocks and accept
    probabilistic recall beyond n_blocks-1.
    """
    if n_blocks is None:
        n_blocks = min(max_hamming + 1, 16)
    band_bits = 64 // n_blocks
    sigs = simhash64(df, id_col, text_col)
    mask = F.lit((1 << band_bits) - 1)
    blocks = sigs.select(
        id_col,
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), band_bits * i).bitwiseAND(mask)
                    for i in range(n_blocks)
                ]
            )
        ).alias("block_idx", "block"),
    )
    a = blocks.select(
        F.col(id_col).alias("a_id"), F.col("simhash").alias("a_sig"), "block_idx", "block"
    )
    b = blocks.select(
        F.col(id_col).alias("b_id"), F.col("simhash").alias("b_sig"), "block_idx", "block"
    )
    hamming = F.bit_count(F.col("a_sig").bitwiseXOR(F.col("b_sig")))
    return (
        a.join(b, ["block_idx", "block"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", hamming.alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "v",
    n_clusters: int = 8,
    threshold: float = 0.95,
    max_cell_rows: int = 20_000,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    near-duplicate removal over an embedding column.  Clusters are the
    Voronoi cells of ``n_clusters`` fixed seed embeddings (the lowest
    ids — the IVF coarse quantizer, i.e. SemDeDup's k-means step with
    zero Lloyd iterations, so the math is deterministic across engines
    and runs); within each cell an item is dropped when a
    cosine-above-threshold neighbor sits closer to the seed (ties by
    id).  Returns the surviving ``(id_col, cluster)`` rows.

    ``vec_col`` must already be ``array<double>`` (cast float
    embeddings with ``functions.vectors.as_double`` first).

    Scale: assignment is a broadcast cross join with the n_clusters
    seeds; pairwise cosine runs ONLY inside a cell (equi-join on the
    cell id).  The quadratic term is (N/k)² per cell — grow
    ``n_clusters`` ~√N so total work stays ~N^1.5.  A cell exceeding
    ``max_cell_rows`` refuses the pair join with the same guard as the
    n-gram dedup path (raise n_clusters, don't eat the cartesian)."""
    from pyspark.sql import Window

    from core2_spark.functions import vectors as vec

    seeds = (
        df.orderBy(id_col)
        .limit(n_clusters)
        .select(
            (F.row_number().over(Window.orderBy(id_col)) - 1).alias("cid"),
            F.col(vec_col).alias("sv"),
        )
    )
    d2 = (
        vec.dot(F.col(vec_col), F.col(vec_col))
        - 2 * vec.dot(F.col(vec_col), F.col("sv"))
        + vec.dot(F.col("sv"), F.col("sv"))
    )
    w = Window.partitionBy(id_col).orderBy(F.col("d2").asc(), F.col("cid").asc())
    assigned = (
        df.select(id_col, vec_col)
        .crossJoin(F.broadcast(seeds))
        .withColumn("d2", d2)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(id_col, vec_col, "cid", "d2")
        # materialized once: the plan is consumed FOUR times below
        # (guard aggregation, both self-join sides, final anti-join) —
        # without this the full N×k assignment recomputes each time
        .localCheckpoint(eager=True)
    )
    assert_bounded_blocks(
        assigned, ("cid",), max_cell_rows, lsh_twin="knn_lsh_bucketed"
    )
    # within a cell, of each close pair the item farther from the seed
    # (ties: the higher id) is dominated — (d2, id) is a strict total
    # order and the cosine is symmetric, so each a < b pair is scored
    # once
    pairs = block_pairs(assigned, id_col, ("cid",), (vec_col, "d2"))
    cos = vec.cosine(F.col(f"a_{vec_col}"), F.col(f"b_{vec_col}"))
    dominated = (
        pairs.filter(cos > threshold)
        .select(
            F.when(F.col("b_d2") < F.col("a_d2"), F.col("a_id"))
            .otherwise(F.col("b_id"))
            .alias(id_col)
        )
        .distinct()
    )
    return assigned.join(dominated, id_col, "left_anti").select(
        id_col, F.col("cid").alias("cluster")
    )
