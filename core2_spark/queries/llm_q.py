"""LLM-training-data operators as driver-checked queries (SURVEY.md
§2.12): dedup (exact, MinHash LSH, SimHash), similarity search, text
analysis.  Beyond the reference's surface — required by the build
contract's north star.

The MinHash/LSH oracle is the interesting part: the signature uses
md5-hex lexicographic minima, which BOTH engines can compute, so the
DuckDB oracle verifies the entire near-dup pipeline (shingle →
signature → bands → candidate join → Jaccard verify), not just counts.

Where the fixtures have no true duplicates (all 500 doc texts are
distinct), queries plant them deterministically inside the query
(UNION ALL of a mutated copy) identically on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from core2_spark import dedup, similarity
from core2_spark.catalog import load_tables
from core2_spark.functions import text as tx
from core2_spark.functions import vectors as vec
from core2_spark.plans import spread_partitions
from core2_spark.queries.registry import query
from core2_spark.queries.util import fround, pround


def _augmented_docs(d: DataFrame) -> DataFrame:
    """documents ∪ planted duplicates: ids shifted by 100000, text
    mutated with a trailing marker token (near-dup, not exact)."""
    clones = d.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzduplicate")).alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    return d.select("doc_id", "text", "lang", "source", "n_chars").unionByName(clones)


_AUG_SQL = """
    aug AS (
        SELECT doc_id, text, lang, source, n_chars FROM documents
        UNION ALL
        SELECT doc_id + 100000, text || ' zzduplicate', lang, source, n_chars
        FROM documents
    )
"""


@query(
    "dedup_exact_groups",
    oracle="""
    WITH aug AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 100000, text FROM documents
    )
    SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
           COUNT(*) AS n_copies,
           MIN(doc_id) AS keep_doc_id
    FROM aug
    GROUP BY 1
    HAVING COUNT(*) > 1
    """,
)
def dedup_exact_groups_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups on normalized-text fingerprint (hash-groupBy;
    one shuffle, map-side combine)."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    aug = d.select("doc_id", "text").unionByName(
        d.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    )
    return dedup.exact_dedup_groups(aug)


@query(
    "dedup_exact_survivors",
    oracle="""
    WITH aug AS (
        SELECT doc_id, text, lang FROM documents
        UNION ALL
        SELECT doc_id + 100000, text, lang FROM documents
    )
    SELECT lang, COUNT(*) AS n_docs
    FROM (SELECT * FROM aug
          QUALIFY ROW_NUMBER() OVER (
            PARTITION BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
            ORDER BY doc_id) = 1)
    GROUP BY lang
    """,
)
def dedup_exact_survivors_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-first exact dedup, summarized per language."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    aug = d.select("doc_id", "text", "lang").unionByName(
        d.select((F.col("doc_id") + 100000).alias("doc_id"), "text", "lang")
    )
    return (
        dedup.exact_dedup_keep_first(aug)
        .groupBy("lang")
        .agg(F.count("*").alias("n_docs"))
    )


def _minhash_oracle(
    items_expr: str = "list_distinct(string_split(trim(text), ' '))",
    threshold: float = 0.5,
    sim_alias: str = "jaccard_sim",
) -> str:
    """Build the DuckDB twin of dedup.minhash_near_duplicates with
    k=8 seeds, 4 bands of 2 rows, over any SQL item-set expression
    (word tokens by default, trigram shingles for the n-gram variant)."""
    mh_cols = ",\n          ".join(
        "list_aggregate(list_transform(items, x -> md5('{i}:' || x)), 'min') AS mh{i}".format(
            i=i
        )
        for i in range(8)
    )
    bands = "\n      UNION ALL ".join(
        "SELECT doc_id, lang, source, {b} AS band_idx,"
        " md5(mh{i} || '|' || mh{j}) AS bucket FROM sigs".format(
            b=b, i=2 * b, j=2 * b + 1
        )
        for b in range(4)
    )
    return f"""
    WITH {_AUG_SQL.strip()},
    toks AS (
        SELECT doc_id, lang, source,
               {items_expr} AS items
        FROM aug
    ),
    sigs AS (
        SELECT doc_id, lang, source,
          {mh_cols}
        FROM toks
    ),
    bands AS (
      {bands}
    ),
    pairs AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM bands a JOIN bands b USING (band_idx, bucket, lang, source)
        WHERE a.doc_id < b.doc_id
    )
    SELECT p.a_id, p.b_id,
           ROUND(CAST(len(list_intersect(ta.items, tb.items)) AS DOUBLE) /
                 len(list_distinct(list_concat(ta.items, tb.items)))
                 + 0.000000001, 6) AS {sim_alias}
    FROM pairs p
    JOIN toks ta ON ta.doc_id = p.a_id
    JOIN toks tb ON tb.doc_id = p.b_id
    WHERE CAST(len(list_intersect(ta.items, tb.items)) AS DOUBLE) /
          len(list_distinct(list_concat(ta.items, tb.items))) >= {threshold}
    """


@query("dedup_minhash_lsh", oracle=_minhash_oracle())
def dedup_minhash_lsh_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pipeline, fully oracle-verified: md5-based
    signatures → 4 LSH bands → bucket equi-join candidates (blocked by
    lang+source against the fixture's tiny shared vocabulary) → exact
    Jaccard ≥ 0.5.  No cross join at any stage."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    return dedup.minhash_near_duplicates(
        _augmented_docs(d),
        k=8,
        rows_per_band=2,
        threshold=0.5,
        block_cols=("lang", "source"),
    )


@query(
    "dedup_simhash",
    oracle="""
    WITH aug AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 100000 AS doc_id, text || ' zzduplicate' AS text
        FROM documents
    ),
    toks AS (
        SELECT doc_id,
               unnest(list_distinct(list_filter(
                   regexp_split_to_array(lower(trim(text)), '\\s+'),
                   x -> x <> ''))) AS t
        FROM aug
    ),
    th AS (
        SELECT doc_id, ('0x' || substr(md5(t), 1, 16))::UBIGINT AS h
        FROM toks
    ),
    bits AS (
        SELECT doc_id, j,
               CASE WHEN SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END)
                         > 0
                    THEN 1 ELSE 0 END AS bit
        FROM th, range(64) r(j)
        GROUP BY doc_id, j
    ),
    sigs AS (
        SELECT doc_id,
               CAST(CASE WHEN s >= 9223372036854775808::HUGEINT
                         THEN s - 18446744073709551616::HUGEINT
                         ELSE s END AS BIGINT) AS sig
        FROM (
            SELECT doc_id,
                   SUM(CASE WHEN bit = 1
                            THEN CAST(1::UBIGINT << j AS HUGEINT)
                            ELSE 0::HUGEINT END) AS s
            FROM bits GROUP BY doc_id
        )
    )
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
    FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sig, b.sig)) <= 8
    """,
)
def dedup_simhash_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (banded 64-bit signatures, Hamming ≤ 8).
    Upgraded from rows-only to a full value oracle in r9: the md5
    per-token hashes and the per-bit majority vote are exactly
    re-derivable in SQL (DuckDB parses the digest's first 8 bytes via
    a hex cast; 64-way range join votes each bit; a HUGEINT fold
    recovers the two's-complement int64), and with n_blocks=9 >
    max_hamming the banded candidate join is COMPLETE by pigeonhole —
    so the banding must return exactly the all-pairs Hamming ≤ 8 set
    the oracle computes.  Quadratic-oracle note: like
    dedup_ngram_jaccard, the ORACLE is all-pairs (fine at the driver's
    sf0.01; excluded from the sf1 sweep) while the ENGINE side stays
    banded-linear."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    return dedup.simhash_near_duplicates(_augmented_docs(d), max_hamming=8)


@query(
    "dedup_ngram_jaccard",
    oracle="""
    WITH grams AS (
        SELECT doc_id, lang, source,
               list_distinct(list_transform(
                 generate_series(1, greatest(length(text) - 2, 1)),
                 i -> substr(text, CAST(i AS INT), 3))) AS g3
        FROM documents
    )
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           ROUND(CAST(len(list_intersect(a.g3, b.g3)) AS DOUBLE) /
                 len(list_distinct(list_concat(a.g3, b.g3)))
                 + 0.000000001, 6) AS trigram_jaccard
    FROM grams a JOIN grams b
      ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.g3, b.g3)) AS DOUBLE) /
          len(list_distinct(list_concat(a.g3, b.g3))) >= 0.55
    """,
)
def dedup_ngram_jaccard_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-trigram Jaccard near-dup, blocked by (lang, source) —
    the quadratic LSH-free variant for small blocks.  Guarded: the
    block-size check refuses to run when any (lang, source) block
    exceeds the cap, pointing at the dedup_ngram_jaccard_lsh twin."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    dedup.assert_bounded_blocks(
        d, ("lang", "source"), lsh_twin="dedup_ngram_jaccard_lsh"
    )
    # trigrams are hashed to 64-bit ints ONCE per doc before the pair
    # join: the per-pair array_intersect then compares longs instead
    # of UTF8 strings — measured 1.85× faster at sf1 (320s → 173s).
    # xxhash64 keeps distinct trigrams distinct (collision odds across
    # all ~21M sf1 pairs ~1e-7), so |A∩B| and the Jaccard value are
    # unchanged — the DuckDB string-set oracle still hash-matches.
    g3h = F.transform(dedup.ngram_set(F.col("text"), 3), lambda s: F.xxhash64(s))
    grams = d.select("doc_id", "lang", "source", g3h.alias("items"))
    # salted within-block pair join; shuffle_hash: sort-merge would
    # sort the 32×-replicated array-carrying side, a hash build skips
    # it (~9% at sf1)
    pairs = dedup.block_pairs(
        grams, "doc_id", ("lang", "source"), ("items",), "shuffle_hash"
    )
    return dedup.verified_jaccard(pairs, 0.55).withColumnRenamed(
        "jaccard_sim", "trigram_jaccard"
    )


@query(
    "text_quality_stats",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))
                AS BIGINT) AS n_bpe_tokens,
           ROUND(
             0.4 * (CASE WHEN len(string_split(trim(text), ' ')) BETWEEN 5 AND 1000
                         THEN 1.0 ELSE 0.3 END)
           + 0.3 * (CASE WHEN length(text) > 0
                         THEN CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
                              / length(text)
                         ELSE 0.0 END)
           + 0.3 * (CASE WHEN len(string_split(trim(text), ' ')) > 0
                          AND CAST(length(text) AS DOUBLE)
                              / len(string_split(trim(text), ' ')) BETWEEN 3 AND 12
                         THEN 1.0 ELSE 0.5 END)
             + 0.000000001, 4) AS quality
    FROM documents
    """,
)
def text_quality_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace + BPE-ish regex) and heuristic
    quality scoring — pure column algebra over documents."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    return d.select(
        "doc_id",
        tx.token_count(F.col("text")).alias("n_tokens"),
        tx.bpe_token_count(F.col("text")).alias("n_bpe_tokens"),
        pround(tx.quality_score(F.col("text"))).alias("quality"),
    )


def _langid_oracle() -> str:
    hits = {
        lang: "len(list_filter(string_split(lower(trim(text)), ' '), x -> x IN ({})))".format(
            ", ".join(f"'{w}'" for w in tx.STOPWORDS[lang])
        )
        for lang in ("en", "es", "fr", "de")
    }
    return f"""
    WITH scored AS (
        SELECT doc_id, lang AS labeled_lang,
               {hits['en']} AS en_hits,
               {hits['es']} AS es_hits,
               {hits['fr']} AS fr_hits,
               {hits['de']} AS de_hits
        FROM documents
    )
    SELECT doc_id, labeled_lang,
           CAST(en_hits AS BIGINT) AS en_hits,
           CAST(es_hits AS BIGINT) AS es_hits,
           CAST(fr_hits AS BIGINT) AS fr_hits,
           CAST(de_hits AS BIGINT) AS de_hits,
           CASE WHEN en_hits >= es_hits AND en_hits >= fr_hits AND en_hits >= de_hits
                THEN 'en'
                WHEN es_hits >= fr_hits AND es_hits >= de_hits THEN 'es'
                WHEN fr_hits >= de_hits THEN 'fr'
                ELSE 'de' END AS predicted_lang
    FROM scored
    """


@query("text_language_id", oracle=_langid_oracle())
def text_language_id_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-hit language ID heuristic (deterministic tie-break
    en > es > fr > de), oracle-replicated exactly."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    scored = d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        *[
            tx.stopword_hits(F.col("text"), lang).alias(f"{lang}_hits")
            for lang in ("en", "es", "fr", "de")
        ],
    )
    en, es, fr, de = (F.col(f"{m}_hits") for m in ("en", "es", "fr", "de"))
    predicted = (
        F.when((en >= es) & (en >= fr) & (en >= de), "en")
        .when((es >= fr) & (es >= de), "es")
        .when(fr >= de, "fr")
        .otherwise("de")
    )
    return scored.withColumn("predicted_lang", predicted)


@query(
    "text_fingerprint",
    oracle="""
    SELECT source,
           COUNT(DISTINCT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')))
             AS n_unique_fp,
           COUNT(*) AS n_docs
    FROM documents
    GROUP BY source
    """,
)
def text_fingerprint_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting rolled up per source."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    return (
        d.withColumn("fp", tx.fingerprint(F.col("text")))
        .groupBy("source")
        .agg(
            F.countDistinct("fp").alias("n_unique_fp"),
            F.count("*").alias("n_docs"),
        )
    )


_KNN_ORACLE = """
    WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
    scored AS (
        SELECT vec_id,
               ROUND(list_dot_product(embedding::DOUBLE[], qv) /
                     (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                      * sqrt(list_dot_product(qv, qv))), 6) AS cosine_sim
        FROM embeddings, q
    )
    SELECT vec_id, cosine_sim FROM scored
    ORDER BY cosine_sim DESC, vec_id
    LIMIT 10
"""


@query("knn_brute_force_cosine", oracle=_KNN_ORACLE)
def knn_brute_force_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 for the vec_id=0 query embedding — the
    similarity-search correctness baseline (query vector folded into
    the plan as literals; single scan + TakeOrderedAndProject)."""
    e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    qv = similarity.query_vector(e, "vec_id", "embedding", 0)
    return similarity.brute_force_knn(e, qv, k=10)


@query(
    "knn_top3_per_label",
    oracle="""
    WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
    scored AS (
        SELECT vec_id, label,
               ROUND(list_dot_product(embedding::DOUBLE[], qv) /
                     (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                      * sqrt(list_dot_product(qv, qv))), 6) AS cosine_sim
        FROM embeddings, q
    )
    SELECT vec_id, label, cosine_sim FROM scored
    QUALIFY ROW_NUMBER() OVER
      (PARTITION BY label ORDER BY cosine_sim DESC, vec_id) <= 3
    """,
)
def knn_top3_per_label_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 nearest per label: similarity + grouped window ranking."""
    e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    qv = similarity.query_vector(e, "vec_id", "embedding", 0)
    q = F.array(*[F.lit(float(x)) for x in qv])
    sim = F.round(vec.cosine(vec.as_double(F.col("embedding")), q), 6)
    w = Window.partitionBy("label").orderBy(F.col("cosine_sim").desc(), F.col("vec_id"))
    return (
        e.select("vec_id", "label", sim.alias("cosine_sim"))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 3)
        .select("vec_id", "label", "cosine_sim")
    )


@query(
    "embedding_norm_stats",
    oracle="""
    SELECT label,
           COUNT(*) AS n,
           ROUND(AVG(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))), 4)
             AS avg_norm,
           ROUND(MAX(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))), 4)
             AS max_norm
    FROM embeddings
    GROUP BY label
    """,
)
def embedding_norm_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label L2-norm statistics over the embedding column."""
    e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    norm = vec.l2_norm(vec.as_double(F.col("embedding")))
    return (
        e.select("label", norm.alias("nrm"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n"),
            fround(F.avg("nrm")).alias("avg_norm"),
            fround(F.max("nrm")).alias("max_norm"),
        )
    )


@query("knn_lsh_bucketed")  # rows-only: approximate result set is engine-specific
def knn_lsh_bucketed_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate kNN (sign random projection,
    multi-probe) — the 100 TB scale path for similarity search.
    Probe radius scales with the plane count (auto_multiprobe_bits),
    so recall holds flat as auto_n_planes grows with the corpus."""
    e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    qv = similarity.query_vector(e, "vec_id", "embedding", 0)
    return similarity.lsh_bucketed_knn(e, qv, k=10)


@query("knn_lsh_full_probe_exact", oracle=_KNN_ORACLE)
def knn_lsh_full_probe_exact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactness oracle for the LSH kNN machinery: with the probe
    radius covering the whole Hamming space (n_planes=4,
    multiprobe_bits=4 → every bucket probed) the bucketed search MUST
    return the exact cosine top-k, hash-checked against DuckDB's
    independent list_dot_product oracle.  Same code path as
    knn_lsh_bucketed — any bug in plane hashing, bucket assignment,
    probe filtering, or scoring surfaces as a value mismatch; the
    partial-probe siblings stay rows-only because their result is
    legitimately engine-specific."""
    e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    qv = similarity.query_vector(e, "vec_id", "embedding", 0)
    return similarity.lsh_bucketed_knn(
        e, qv, k=10, n_planes=4, multiprobe_bits=4
    )


@query("knn_ivf_full_probe_exact", oracle=_KNN_ORACLE)
def knn_ivf_full_probe_exact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF twin of the LSH exactness pin: probing EVERY cell
    (nprobe = n_clusters = 8) must return the exact cosine top-k —
    the full path (seed-row centroids, Arrow-batched cell_assigner
    pandas UDF, probe filter, scoring) hash-checked against DuckDB.
    Together with knn_lsh_full_probe_exact, both ANN families carry a
    value oracle over their machinery; only the probe-pruned results
    remain legitimately engine-specific."""
    e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    qv = similarity.query_vector(e, "vec_id", "embedding", 0)
    return similarity.ivf_knn(e, qv, k=10, n_clusters=8, nprobe=8)


def _recall_contract(
    exact: DataFrame, approx: DataFrame, *, config: str, k: int, min_hits: int
) -> DataFrame:
    """Recall-floor contract for a probe-pruned ANN config: one row
    (config, k, min_hits, meets_floor) where meets_floor ⇔
    |approx ∩ exact-top-k| ≥ min_hits.

    The pruned result set is legitimately engine-specific (so the
    members can't be SQL-oracled), but the RECALL of a fixed
    deterministic config against exact brute-force is a pure function
    of the data — hashable, so the driver value-checks it against a
    constant-literal oracle asserting TRUE.  Floors are pinned with
    ≥1-hit margin from measured recall across 500→100k-vector tiers
    (scripts/probe_ann_recall.py); probe depth scales with corpus size
    (auto plane count / ~√N cells), which is exactly how a deployment
    holds recall as the corpus grows."""
    # Materialize the exact top-k ONCE (r12, guide §1.2): the contract
    # is consumed by several actions (the driver's rows+hash oracle
    # passes, the bench's noop), and each re-ran the full brute-force
    # scan+top-k for 10 rows of ids; an eager localCheckpoint pays that
    # scan exactly once per contract build and every downstream action
    # joins against the 10 materialized rows.  Intra-query, dies with
    # the DataFrame — no cross-run reuse.
    exact_ids = exact.select("vec_id").localCheckpoint(eager=True)
    hits = exact_ids.join(approx.select("vec_id"), "vec_id")
    return hits.agg(F.count("*").alias("_h")).select(
        F.lit(config).alias("config"),
        F.lit(k).cast("long").alias("k"),
        F.lit(min_hits).cast("long").alias("min_hits"),
        (F.col("_h") >= min_hits).alias("meets_floor"),
    )


def _recall_oracle(config: str, k: int, min_hits: int) -> str:
    return (
        f"SELECT '{config}' AS config, CAST({k} AS BIGINT) AS k, "
        f"CAST({min_hits} AS BIGINT) AS min_hits, TRUE AS meets_floor"
    )


@query(
    "knn_lsh_recall_contract",
    oracle=_recall_oracle("lsh_auto_probe", 10, 8),
)
def knn_lsh_recall_contract_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall floor for the LSH scale path (auto planes, probe radius
    scaled with the plane count via auto_multiprobe_bits — VERDICT r10
    task 4): ≥8 of the exact top-10 at every tier.  The r10 fixed
    radius (multiprobe_bits=4) measured 10/10/10/9/7 across the
    20→100k-vector ladder — decaying with N; the scaled radius
    measures 10/10/10/9/10 on the same ladder
    (scripts/probe_ann_recall.py), so the floor rises 6 → 8 with a
    1-hit margin under the measured minimum."""
    e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    qv = similarity.query_vector(e, "vec_id", "embedding", 0)
    return _recall_contract(
        similarity.brute_force_knn(e, qv, k=10),
        similarity.lsh_bucketed_knn(e, qv, k=10),
        config="lsh_auto_probe",
        k=10,
        min_hits=8,
    )


@query(
    "knn_ivf_recall_contract",
    oracle=_recall_oracle("ivf_nprobe3", 10, 6),
)
def knn_ivf_recall_contract_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall floor for the IVF scale path (~√N cells, nprobe=3): ≥6
    of the exact top-10 at every tier (measured 7–10 across
    500→100k vectors)."""
    e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    qv = similarity.query_vector(e, "vec_id", "embedding", 0)
    return _recall_contract(
        similarity.brute_force_knn(e, qv, k=10),
        similarity.ivf_knn(e, qv, k=10, nprobe=3),
        config="ivf_nprobe3",
        k=10,
        min_hits=6,
    )


@query("knn_ivf_probe")  # rows-only: approximate result set is engine-specific
def knn_ivf_probe_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat approximate kNN: deterministic coarse quantizer cells
    (count derived ~sqrt(N)), nprobe=2 — the partition-pruning scale
    path beside LSH."""
    e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    qv = similarity.query_vector(e, "vec_id", "embedding", 0)
    return similarity.ivf_knn(e, qv, k=10, nprobe=2)


@query(
    "embedding_label_near_dup",
    oracle="""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           ROUND(list_dot_product(a.v, b.v) /
                 (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
                 + 0.000000001, 6) AS cosine_sim
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_dot_product(a.v, b.v) /
          (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.35
    """,
)
def embedding_label_near_dup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup with label blocking — the
    oracle-checkable twin of the LSH variant (blocking key stands in
    for the bucket; at scale the key is the LSH bucket itself)."""
    e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    base = e.select("vec_id", "label", vec.as_double(F.col("embedding")).alias("v"))
    # salted within-label pair join: ~10 labels means ~10 shuffle
    # partitions would own ALL O(block²) cosines (sf1: one task ran
    # 10+ min while 15 cores idled); hash build beats sorting the
    # 32×-replicated vector side
    pairs = dedup.block_pairs(base, "vec_id", ("label",), ("v",), "shuffle_hash")
    sim = vec.dot(F.col("a_v"), F.col("b_v")) / (
        vec.l2_norm(F.col("a_v")) * vec.l2_norm(F.col("b_v"))
    )
    return (
        pairs
        # one filter: it folds into the join condition after a_id < b_id
        .withColumn("_raw_sim", sim)
        .filter(F.col("_raw_sim") >= 0.35)
        .select(
            "a_id", "b_id", F.round(F.col("_raw_sim") + 1e-9, 6).alias("cosine_sim")
        )
    )


@query(
    "corpus_curation_pipeline",
    oracle="""
    WITH aug AS (
        SELECT doc_id, text, lang, source FROM documents
        UNION ALL
        SELECT doc_id + 100000, text, lang, source FROM documents
    ),
    scored AS (
        SELECT doc_id, text, lang, source,
               len(string_split(trim(text), ' ')) AS n_tokens,
               CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
                 / length(text) AS alpha_ratio
        FROM aug
    ),
    filtered AS (
        SELECT * FROM scored
        WHERE n_tokens BETWEEN 12 AND 95 AND alpha_ratio > 0.7
          AND lang IN ('en', 'es', 'fr', 'de')
    ),
    deduped AS (
        SELECT * FROM filtered
        QUALIFY ROW_NUMBER() OVER (
          PARTITION BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
          ORDER BY doc_id) = 1
    )
    SELECT lang, source, COUNT(*) AS n_docs,
           CAST(SUM(CAST(n_tokens AS BIGINT)) AS BIGINT) AS total_tokens
    FROM deduped
    GROUP BY lang, source
    """,
)
def corpus_curation_pipeline_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capstone composition: the full training-corpus curation DAG —
    quality gates (token-count band, alpha ratio) → language selection
    → exact dedup keep-first — summarized per (lang, source).  One
    declarative plan: Catalyst fuses the gates into the scan and the
    dedup is a single fingerprint-partitioned window."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    aug = d.select("doc_id", "text", "lang", "source").unionByName(
        d.select(
            (F.col("doc_id") + 100000).alias("doc_id"), "text", "lang", "source"
        )
    )
    n_tokens = tx.token_count(F.col("text"))
    alpha_ratio = (
        F.length(F.regexp_replace("text", "[^A-Za-z]", "")).cast("double")
        / F.length("text")
    )
    filtered = (
        aug.withColumn("n_tokens", n_tokens)
        .withColumn("alpha_ratio", alpha_ratio)
        .filter(
            F.col("n_tokens").between(12, 95)
            & (F.col("alpha_ratio") > 0.7)
            & F.col("lang").isin("en", "es", "fr", "de")
        )
    )
    deduped = dedup.exact_dedup_keep_first(filtered)
    return deduped.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
    )


@query("multimodal_feature_extract")  # rows-only: Pandas-UDF decode stage
def multimodal_feature_extract_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real decode through the driver surface: doc_ids become
    deterministic PPM/BMP/WAV payloads (executor-side generation), then
    the mapInPandas codec layer decodes each format and extracts
    fixed-width features — no stubs on this path."""
    from core2_spark import multimodal

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    media = multimodal.generate_media(
        d.filter(F.col("doc_id") < 120).select(F.col("doc_id").alias("media_id"))
    )
    feats = multimodal.extract_features(media)
    # The driver's rows-only canonicalizer sorts result values in pandas,
    # which requires hashable (scalar) cells — explode the fixed-width
    # feature vector into named doubles (rounded: fp determinism) instead
    # of returning array<double> (the round-5 red row).
    return feats.select(
        "media_id",
        "mime",
        "n_bytes",
        *[
            F.round(F.col("feature")[i], 6).alias(f"f{i}")
            for i in range(multimodal.FEATURE_WIDTH)
        ],
    )


@query("multimodal_image_resize")  # rows-only: binary-out transform stage
def multimodal_image_resize_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode → nearest-neighbor resize → re-encode (PPM) over the
    generated image payloads; returns sizes + payload checksums so the
    rows-only check pins the transform deterministically."""
    from core2_spark import multimodal

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    images = multimodal.generate_media(
        d.filter(F.col("doc_id") < 120).select(F.col("doc_id").alias("media_id"))
    ).filter(F.col("mime").startswith("image/"))
    resized = multimodal.resize_images(images, 8, 8)
    return resized.select(
        "media_id",
        "width",
        "height",
        F.length("payload").alias("n_bytes"),
        F.md5("payload").alias("payload_md5"),
    )


@query("multimodal_jpeg_features")  # rows-only: real JPEG decode stage
def multimodal_jpeg_features_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round 6: the format real corpora are in — deterministic JPEG
    payloads (pure-Python baseline encoder) decoded by the pure-Python
    baseline decoder (Huffman + IDCT) under mapInPandas, features
    exploded to scalar columns (driver-canonicalizable)."""
    from core2_spark import multimodal

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    media = multimodal.generate_media(
        d.filter(F.col("doc_id") < 150).select(F.col("doc_id").alias("media_id"))
    ).filter(F.col("mime") == multimodal.MIME_JPEG)
    feats = multimodal.extract_features(media)
    return feats.select(
        "media_id",
        "n_bytes",
        *[
            F.round(F.col("feature")[i], 6).alias(f"f{i}")
            for i in range(multimodal.FEATURE_WIDTH)
        ],
    )


@query("multimodal_video_frames")  # rows-only: REAL video frame decode
def multimodal_video_frames_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round 6: MJPEG-AVI payloads decoded frame-by-frame (RIFF walk →
    baseline JPEG per frame) under mapInPandas; each sampled frame is
    re-encoded as PPM and pinned by md5 — scalar columns only."""
    from core2_spark import multimodal

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    videos = multimodal.generate_media(
        d.filter(F.col("doc_id") < 120).select(F.col("doc_id").alias("media_id"))
    ).filter(F.col("mime") == multimodal.MIME_AVI)
    return multimodal.extract_frames(videos, every_ms=200)


@query("multimodal_audio_features")  # rows-only: real audio decode
def multimodal_audio_features_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio legs under mapInPandas: PCM WAV and losslessly-compressed
    FLAC decode to signal features (round 6); MPEG-1 Layer III (round
    8) flows through the real frame parser to STREAM features —
    duration/rate/bitrate/framing, PCM decode being the documented
    native-codec boundary.  All three ride the same 8-wide feature
    contract, exploded to scalar columns."""
    from core2_spark import multimodal

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    audio = multimodal.generate_media(
        d.filter(F.col("doc_id") < 180).select(F.col("doc_id").alias("media_id"))
    ).filter(F.col("mime").startswith("audio/"))
    feats = multimodal.extract_features(audio)
    return feats.select(
        "media_id",
        "mime",
        "n_bytes",
        *[
            F.round(F.col("feature")[i], 6).alias(f"f{i}")
            for i in range(multimodal.FEATURE_WIDTH)
        ],
    )


@query(
    "multimodal_frame_sampling",
    oracle="""
    WITH m AS (
        SELECT doc_id AS media_id,
               CAST(FLOOR(n_chars * 10 / 1000.0) AS INT) AS n_frames
        FROM documents WHERE doc_id < 50
    ),
    f AS (
        SELECT media_id,
               unnest(generate_series(0, GREATEST(n_frames - 1, 0))) AS fi
        FROM m
    )
    SELECT media_id,
           CAST(fi AS INT) AS frame_idx,
           CAST(fi * 1000 AS INT) AS frame_ts_ms
    FROM f
    """,
)
def multimodal_frame_sampling_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plan: metadata → frame timestamp rows.
    Pure column algebra (sequence + explode), so unlike the decode
    stages it IS SQL-expressible — full value-hash oracle via DuckDB
    generate_series (FLOOR before the int cast: DuckDB's double→int
    cast rounds where Spark's truncates).  The frame grab itself is
    the stubbed decode."""
    from core2_spark import multimodal

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    media = d.filter(F.col("doc_id") < 50).select(
        F.col("doc_id").alias("media_id"),
        F.struct(
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            (F.col("n_chars") * 10).cast("long").alias("duration_ms"),
        ).alias("meta"),
    )
    return multimodal.frame_sample_plan(media, every_ms=1000)


@query("embedding_cosine_near_dup")  # rows-only: LSH bucketing stage
def embedding_cosine_near_dup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via LSH bucket equi-join
    — no cross join.  Threshold 0.4 suits the fixture's random
    embeddings (max pairwise cosine ≈ 0.51); real corpora use ≥0.9."""
    e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    return similarity.embedding_cosine_near_duplicates(e, threshold=0.4)


@query(
    "text_doc_frequency_idf",
    oracle="""
    WITH terms AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents
    ),
    stats AS (
        SELECT term,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df,
               CAST(COUNT(*) AS BIGINT) AS tf_total
        FROM terms WHERE term <> '' GROUP BY term
    )
    SELECT term, df, tf_total,
           ROUND(ln((SELECT CAST(COUNT(*) AS DOUBLE) FROM documents) / df)
                 + 0.000000001, 4) AS idf
    FROM stats
    ORDER BY df DESC, term
    LIMIT 30
    """,
)
def text_doc_frequency_idf_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus document-frequency / IDF table — the global statistics
    pass of every TF-IDF / quality-filter pipeline.  explode + two
    exact integer aggregates; at 100 TB this is the canonical
    map-side-combined token count (partial aggregation shrinks each
    partition's term list before the single shuffle)."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    n_docs = d.count()  # scalar: one job over parquet row-group stats
    terms = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    ).filter(F.col("term") != "")
    return (
        terms.groupBy("term")
        .agg(
            F.countDistinct("doc_id").alias("df"),
            F.count("*").alias("tf_total"),
        )
        .select(
            "term",
            "df",
            "tf_total",
            F.round(F.log(F.lit(float(n_docs)) / F.col("df")) + 1e-9, 4).alias("idf"),
        )
        .orderBy(F.col("df").desc(), F.col("term"))
        .limit(30)
    )


@query(
    "text_tfidf_distinctive_term_per_doc",
    oracle="""
    WITH terms AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents
    ),
    tf AS (
        SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM terms WHERE term <> '' GROUP BY doc_id, term
    ),
    df AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
    )
    SELECT doc_id, term, tf, df
    FROM (
        SELECT tf.doc_id, tf.term, tf.tf, df.df,
               ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                                  ORDER BY df.df ASC, tf.tf DESC, tf.term)
                 AS rn
        FROM tf JOIN df ON tf.term = df.term
    ) WHERE rn = 1
    ORDER BY doc_id
    """,
)
def text_tfidf_distinctive_term_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most distinctive term per document: argmax of TF-IDF expressed
    with an all-integer ordering (rarest df, then highest tf, then
    term) — exact in both engines, no float ordering ties.  The df
    side is a small broadcast; the window partitions by doc_id."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    terms = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    ).filter(F.col("term") != "")
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("df").asc(), F.col("tf").desc(), F.col("term")
    )
    return (
        tf.join(F.broadcast(df.withColumnRenamed("term", "df_term")),
                F.col("df_term") == F.col("term"))
        .select("doc_id", "term", "tf", "df")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
        .orderBy("doc_id")
    )


_TRIGRAM_ITEMS_SQL = (
    "list_distinct(list_transform("
    "generate_series(1, greatest(length(text) - 2, 1)), "
    "i -> substr(text, CAST(i AS INT), 3)))"
)


@query(
    "dedup_ngram_jaccard_lsh",
    oracle=_minhash_oracle(
        items_expr=_TRIGRAM_ITEMS_SQL, threshold=0.55, sim_alias="trigram_jaccard"
    ),
)
def dedup_ngram_jaccard_lsh_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale path for `dedup_ngram_jaccard` (SURVEY §8 trade-off,
    now closed): MinHash signatures over the SAME trigram shingles
    prefilter candidates through LSH bucket equi-joins, and the exact
    trigram Jaccard runs only on candidates — linear signature scan +
    bucket join instead of quadratic pairs within every block.  Same
    ≥0.55 verification threshold; fully oracle-verified end-to-end."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    return dedup.minhash_near_duplicates(
        _augmented_docs(d),
        k=8,
        rows_per_band=2,
        threshold=0.55,
        block_cols=("lang", "source"),
        items_fn=lambda c: dedup.ngram_set(c, 3),
        # trigram sets are ~250 hashed longs per doc — the wide-shingle
        # case where the fast plan's broadcast deserializes to GBs and
        # OOMs a tight heap (r11 memory tier); merge spills instead
        verify_join="merge",
    ).withColumnRenamed("jaccard_sim", "trigram_jaccard")


# -- training-data pipeline: splits, mixtures, packing -----------------
#
# Deterministic bucket in [0, 100): Knuth multiplicative hash —
# bit-identical in Spark and DuckDB (no engine hash involved), so
# splits are reproducible across engines and runs.  The multiply runs
# in scale-0 DECIMAL(28,0) — wide enough that any int64 doc_id times
# the 32-bit constant stays exact (plain BIGINT would silently wrap
# in non-ANSI Spark but ERROR in DuckDB once doc_id > ~3.5e9; r9
# advisor finding), and ANSI-portable so the SAME text runs in Spark
# SQL, keeping the triple-agreement check (oracle text executed by
# both engines) intact.
_BUCKET_SQL = (
    "CAST((CAST(doc_id AS DECIMAL(28,0)) * 2654435761) % 4294967296"
    " AS BIGINT) % 100"
)


def _hkey_col() -> F.Column:
    return (
        (F.col("doc_id").cast("decimal(28,0)") * F.lit(2654435761))
        % F.lit(4294967296)
    ).cast("long")


def _bucket_col() -> F.Column:
    return F.pmod(_hkey_col(), F.lit(100))


@query(
    "split_train_val_test",
    oracle=f"""
    WITH b AS (
        SELECT lang, {_BUCKET_SQL} AS bucket, n_chars FROM documents
    )
    SELECT CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split,
           lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM b GROUP BY 1, 2 ORDER BY split, lang
    """,
)
def split_train_val_test_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split: assignment is a
    pure function of doc_id (multiplicative hash bucket), so re-runs,
    engines, and partitionings all agree — the reproducibility property
    a training pipeline needs from its split, with no shuffle beyond
    the final aggregate."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    split = (
        F.when(_bucket_col() < 80, "train")
        .when(_bucket_col() < 90, "val")
        .otherwise("test")
    )
    return (
        d.select(split.alias("split"), "lang", "n_chars")
        .groupBy("split", "lang")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars"))
        .orderBy("split", "lang")
    )


@query(
    "sample_stratified_topk",
    oracle="""
    WITH h AS (
        SELECT doc_id, source, lang,
               CAST((CAST(doc_id AS DECIMAL(28,0)) * 2654435761) % 4294967296
                    AS BIGINT) AS hkey
        FROM documents
    ), r AS (
        SELECT doc_id, source, lang,
               ROW_NUMBER() OVER (PARTITION BY source, lang
                                  ORDER BY hkey, doc_id) AS rank
        FROM h
    )
    SELECT source, lang, doc_id, CAST(rank AS BIGINT) AS rank
    FROM r WHERE rank <= 5
    ORDER BY source, lang, rank
    """,
)
def sample_stratified_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: exactly 5 docs per
    (source, lang) stratum, chosen by multiplicative-hash order of
    doc_id — the balanced eval-set construction step of a training
    pipeline.  Unlike rand()-based sampling the choice is a pure
    function of the data (engines, re-runs, and partitionings agree),
    and unlike reservoir sampling the per-stratum quota is exact.  One
    window over (source, lang); output bounded by strata count at any
    corpus size."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    from pyspark.sql.window import Window

    w = Window.partitionBy("source", "lang").orderBy(
        _hkey_col().asc(), F.col("doc_id").asc()
    )
    return (
        d.select("doc_id", "source", "lang")
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
        .select("source", "lang", "doc_id", "rank")
        .orderBy("source", "lang", "rank")
    )


@query(
    "corpus_weighted_mixture",
    oracle=f"""
    WITH b AS (
        SELECT source, lang, n_chars, {_BUCKET_SQL} AS bucket
        FROM documents
    )
    SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM b
    WHERE bucket < CASE WHEN source IN ('src0', 'src1') THEN 100
                        WHEN lang = 'en' THEN 50
                        ELSE 25 END
    GROUP BY source ORDER BY source
    """,
)
def corpus_weighted_mixture_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted corpus mixture: per-(source, lang) keep-rates applied
    via the same deterministic bucket — the up/down-sampling step of a
    training-data recipe (e.g. keep all curated sources, half of
    English web, a quarter of the rest), as one pushed-down filter."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    rate = (
        F.when(F.col("source").isin("src0", "src1"), 100)
        .when(F.col("lang") == "en", 50)
        .otherwise(25)
    )
    return (
        d.filter(_bucket_col() < rate)
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars"))
        .orderBy("source")
    )


@query(
    "pack_sequences_boundaries",
    oracle="""
    WITH c AS (
        SELECT lang, doc_id, n_chars,
               SUM(n_chars) OVER (PARTITION BY lang ORDER BY doc_id
                                  ROWS UNBOUNDED PRECEDING) AS cum
        FROM documents
    )
    SELECT lang,
           CAST(FLOOR((cum - n_chars) / 4096) AS BIGINT) AS pack_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS pack_chars
    FROM c GROUP BY 1, 2 ORDER BY lang, pack_id
    """,
)
def pack_sequences_boundaries_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-packing plan: concatenate documents per language in
    doc_id order and assign each to the 4096-char pack where it starts
    (running-sum window → floor-divide).  This is the shuffle-once
    distributed form of greedy context packing: one window per
    partition key, no driver loop, deterministic pack boundaries."""
    from pyspark.sql import Window

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        d.select("lang", "doc_id", "n_chars", F.sum("n_chars").over(w).alias("cum"))
        .select(
            "lang",
            F.floor((F.col("cum") - F.col("n_chars")) / 4096)
            .cast("long")
            .alias("pack_id"),
            "n_chars",
        )
        .groupBy("lang", "pack_id")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("pack_chars"))
        .orderBy("lang", "pack_id")
    )


@query(
    "text_unigram_logprob_score",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok
        FROM documents
    ),
    freq AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok),
    total AS (SELECT SUM(cnt) AS n FROM freq)
    SELECT t.doc_id,
           COUNT(*) AS n_toks,
           ROUND(AVG(LN(f.cnt / total.n)) + 0.000000001, 4) AS avg_logprob
    FROM toks t JOIN freq f ON t.tok = f.tok CROSS JOIN total
    GROUP BY t.doc_id
    ORDER BY t.doc_id
    """,
)
def text_unigram_logprob_score_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical quality score: per-document mean unigram
    log-probability under the corpus's own unigram model — the
    cheapest perplexity proxy a curation pipeline runs (rare-token-
    heavy docs score low).  Two shuffles total (token counts, per-doc
    mean); the vocabulary aggregate broadcasts."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    toks = d.select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), " ")).alias("tok")
    )
    freq = toks.groupBy("tok").agg(F.count("*").alias("cnt"))
    total = freq.agg(F.sum("cnt").alias("n"))
    return (
        toks.join(F.broadcast(freq), "tok")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_toks"),
            F.round(F.avg(F.log(F.col("cnt") / F.col("n"))) + 1e-9, 4).alias(
                "avg_logprob"
            ),
        )
        .orderBy("doc_id")
    )


@query(
    "dedup_cluster_canonical",
    oracle=f"""
    WITH RECURSIVE vpairs AS (
        {_minhash_oracle()}
    ),
    und AS (
        SELECT a_id AS a, b_id AS b FROM vpairs
        UNION ALL
        SELECT b_id, a_id FROM vpairs
    ),
    reach AS (
        SELECT DISTINCT a AS node, a AS label FROM und
        UNION
        SELECT u.b, r.label FROM reach r JOIN und u ON u.a = r.node
    ),
    comp AS (SELECT node, MIN(label) AS component FROM reach GROUP BY node)
    SELECT component, COUNT(*) AS n_members, MAX(node) AS max_member
    FROM comp GROUP BY component ORDER BY component
    """,
)
def dedup_cluster_canonical_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full dedup pipeline: MinHash-LSH verified near-dup PAIRS →
    connected components → one canonical cluster row (component = min
    doc_id = the survivor a curation pipeline keeps).  Oracle runs the
    same pipeline in SQL: the banded-MinHash CTE feeding a WITH
    RECURSIVE reachability closure."""
    from core2_spark.operators.components import connected_components

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    pairs = dedup.minhash_near_duplicates(
        _augmented_docs(d),
        k=8,
        rows_per_band=2,
        threshold=0.5,
        block_cols=("lang", "source"),
    ).localCheckpoint(eager=True)  # pairs feed an iterative fixpoint
    comp = connected_components(pairs, "a_id", "b_id")
    return (
        comp.groupBy("component")
        .agg(F.count("*").alias("n_members"), F.max("node").alias("max_member"))
        .orderBy("component")
    )


@query(
    "embedding_quantize_int8",
    oracle="""
    WITH q AS (
        SELECT vec_id,
               list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) / 127.0
                   AS q_scale,
               embedding::DOUBLE[] AS v
        FROM embeddings
    ),
    qq AS (
        SELECT vec_id, q_scale,
               list_transform(v, x -> CAST(round(x / q_scale + 0.000000001) AS INT))
                   AS q_vec,
               v
        FROM q
    )
    SELECT COUNT(*) AS n_vectors,
           CAST(SUM(list_sum(list_transform(q_vec, x -> CAST(x AS BIGINT))))
                AS BIGINT) AS q_checksum,
           ROUND(MAX(list_max(list_transform(
               list_zip(v, q_vec),
               p -> abs(p[1] - p[2] * q_scale)))) + 0.000000001, 6) AS max_abs_err
    FROM qq
    """,
)
def embedding_quantize_int8_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 embedding quantization summary: vector count, checksum of
    all quantized components (pins the exact quantized values), and the
    corpus-wide max reconstruction error — the storage-compression step
    of a 100 TB similarity pipeline, verified value-exact against the
    oracle."""
    e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    q = similarity.quantize_int8(e)
    err = F.array_max(
        F.zip_with(
            vec.as_double(F.col("embedding")),
            F.col("q_vec"),
            lambda x, qv: F.abs(x - qv.cast("double") * F.col("q_scale")),
        )
    )
    return q.agg(
        F.count("*").alias("n_vectors"),
        F.sum(F.aggregate("q_vec", F.lit(0).cast("bigint"), lambda a, x: a + x))
        .cast("bigint")
        .alias("q_checksum"),
        F.round(F.max(err) + 1e-9, 6).alias("max_abs_err"),
    )


@query(
    "text_chunk_windows_udtf",
    oracle="""
    SELECT d.doc_id,
           CAST(s.i AS INT) AS chunk_idx,
           substr(d.text, CAST(s.i * 150 + 1 AS INT), 200) AS chunk,
           length(substr(d.text, CAST(s.i * 150 + 1 AS INT), 200)) AS n_chars
    FROM documents d,
         LATERAL (
            SELECT unnest(generate_series(
                0, CAST(floor((length(d.text) - 1) / 150.0) AS BIGINT))) AS i
         ) s
    WHERE d.doc_id < 50
    ORDER BY d.doc_id, chunk_idx
    """,
)
def text_chunk_windows_udtf_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context chunking via a Python UDTF (LATERAL table function):
    200-char windows every 150 chars (50 overlap) — the row-expanding
    chunking step of a RAG/training pipeline, exercising Spark's UDTF
    surface; the oracle derives the same windows with sequence
    arithmetic."""
    from core2_spark.functions.chunking import make_chunk_udtf

    spark.udtf.register("chunk_text", make_chunk_udtf(200, 150))
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    d.filter(F.col("doc_id") < 50).createOrReplaceTempView("_chunk_docs")
    return spark.sql(
        """
        SELECT d.doc_id, c.chunk_idx, c.chunk, c.n_chars
        FROM _chunk_docs d, LATERAL chunk_text(d.text) AS c
        ORDER BY d.doc_id, c.chunk_idx
        """
    )


@query("knn_quantized_lsh")  # rows-only: approximate result set is engine-specific
def knn_quantized_lsh_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production ANN stack end-to-end: int8-quantize the corpus
    (4× storage), bucket by size-scaled sign-projection LSH, search the
    dequantized vectors in the probed buckets only — compression and
    candidate pruning composed, the shape a 100 TB deployment runs."""
    e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    # zip_with binds q_scale per ROW (see quantize_int8's r11 note:
    # an outer F.col ref in a transform lambda re-evaluates the
    # inlined scale expression per element once pushdown collapses
    # the projections).
    deq = similarity.quantize_int8(e).select(
        "vec_id",
        F.zip_with(
            F.col("q_vec"),
            F.array_repeat(F.col("q_scale"), F.size(F.col("q_vec"))),
            lambda x, s: x.cast("double") * s,
        ).alias("embedding"),
    )
    qv = similarity.query_vector(e, "vec_id", "embedding", 0)
    # n_rows from the RAW table (r12): auto_n_planes needs only the
    # corpus row count, but counting `deq` executes the whole
    # quantize+dequantize pipeline as an extra eager job (measured
    # ~12 s of the sweep's build time); |deq| == |e| by construction
    # (row-preserving selects), and count(e) is a parquet metadata job.
    return similarity.lsh_bucketed_knn(deq, qv, k=10, n_rows=e.count())


@query(
    "knn_quantized_lsh_recall_contract",
    oracle=_recall_oracle("quantized_lsh_auto_probe", 10, 8),
)
def knn_quantized_lsh_recall_contract_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Recall floor for the composed int8-quantize → LSH stack (auto
    planes, probe radius scaled with plane count), against UNQUANTIZED
    exact brute-force — so the floor bounds quantization loss AND
    probe pruning together: ≥8 of the exact top-10 at every tier
    (measured 10/9/10/9/10 across the 20→100k-vector ladder,
    scripts/probe_ann_recall.py; floor has a 1-hit margin)."""
    e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    # zip_with binds q_scale per ROW (see quantize_int8's r11 note:
    # an outer F.col ref in a transform lambda re-evaluates the
    # inlined scale expression per element once pushdown collapses
    # the projections).
    deq = similarity.quantize_int8(e).select(
        "vec_id",
        F.zip_with(
            F.col("q_vec"),
            F.array_repeat(F.col("q_scale"), F.size(F.col("q_vec"))),
            lambda x, s: x.cast("double") * s,
        ).alias("embedding"),
    )
    qv = similarity.query_vector(e, "vec_id", "embedding", 0)
    return _recall_contract(
        similarity.brute_force_knn(e, qv, k=10),
        # n_rows from the raw table — counting deq would execute the
        # quantize pipeline as an extra eager job (|deq| == |e|)
        similarity.lsh_bucketed_knn(deq, qv, k=10, n_rows=e.count()),
        config="quantized_lsh_auto_probe",
        k=10,
        min_hits=8,
    )


@query(
    "knn_ivf_layout_recall_contract",
    oracle=_recall_oracle("ivf_layout_nprobe4", 10, 8),
)
def knn_ivf_layout_recall_contract_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Recall floor for the Hive-partitioned IVF layout path (8 cells,
    nprobe=4, PartitionFilters pruning): ≥8 of the exact top-10 at
    every tier (measured 10/10 across 500→100k vectors)."""
    import os
    import shutil
    import tempfile
    import uuid

    e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    cents = similarity._centroids_from_seed_rows(e, 8, "vec_id", "embedding")
    qv = similarity.query_vector(e, "vec_id", "embedding", 0)
    path = os.path.join(
        tempfile.gettempdir(), "core2_spark_ivf_rc", uuid.uuid4().hex[:8]
    )
    shutil.rmtree(path, ignore_errors=True)
    similarity.write_ivf_partitioned(e, path, cents)
    return _recall_contract(
        similarity.brute_force_knn(e, qv, k=10),
        similarity.ivf_knn_partitioned(spark, path, qv, cents, k=10, nprobe=4),
        config="ivf_layout_nprobe4",
        k=10,
        min_hits=8,
    )


@query(
    "curation_decontaminate_ngram",
    oracle="""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS w
        FROM documents
    ),
    grams AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                   generate_series(1, greatest(len(w) - 4, 0)),
                   i -> array_to_string(w[CAST(i AS INT):CAST(i + 4 AS INT)], ' ')
               ))) AS g
        FROM toks
    ),
    eval_grams   AS (SELECT doc_id AS eval_id,   g FROM grams WHERE doc_id % 7 = 0),
    corpus_grams AS (SELECT doc_id AS corpus_id, g FROM grams WHERE doc_id % 7 <> 0)
    SELECT corpus_id, eval_id, COUNT(*) AS n_shared_grams
    FROM corpus_grams JOIN eval_grams USING (g)
    GROUP BY corpus_id, eval_id
    HAVING COUNT(*) >= 3
    """,
)
def curation_decontaminate_ngram_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — the training-data curation step that
    finds corpus documents sharing verbatim word 5-grams with a held-out
    eval set (here: every 7th doc_id stands in for the benchmark).

    Scale shape: explode DISTINCT grams on both sides and EQUI-JOIN on
    the gram string (hash join; eval grams are tiny and broadcast), then
    count collisions per (corpus, eval) pair — never an all-pairs
    document comparison.  At 100 TB the eval-gram side stays a
    broadcast-sized benchmark corpus while the corpus side streams
    through one shuffle-free map + broadcast probe."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    toks = F.split(F.lower(F.col("text")), r"\s+")
    n = F.size(toks)
    idx = F.when(n >= 5, F.sequence(F.lit(1), n - 4)).otherwise(
        F.array().cast("array<int>")
    )
    grams5 = F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, F.lit(5))))
    )
    # r11 (guide §2.5 input skew): the gram construction is the CPU
    # wall and a compact corpus scans as ONE parquet split, so without
    # an explicit spread the whole explode ran on one core.
    g = spread_partitions(d).select("doc_id", F.explode(grams5).alias("g"))
    eval_g = g.filter(F.col("doc_id") % 7 == 0).select(
        F.col("doc_id").alias("eval_id"), "g"
    )
    corpus_g = g.filter(F.col("doc_id") % 7 != 0).select(
        F.col("doc_id").alias("corpus_id"), "g"
    )
    return (
        corpus_g.join(F.broadcast(eval_g), "g")
        .groupBy("corpus_id", "eval_id")
        .agg(F.count("*").alias("n_shared_grams"))
        .filter(F.col("n_shared_grams") >= 3)
    )


@query(
    "curation_decontaminate_substring",
    oracle="""
    WITH t AS (SELECT doc_id, lower(text) AS s FROM documents),
    grams_eval AS (
        SELECT doc_id AS eval_id,
               unnest(list_distinct(list_transform(
                   generate_series(1, greatest(length(s) - 39, 0)),
                   i -> substr(s, CAST(i AS INT), 40)))) AS g
        FROM t WHERE doc_id % 7 = 0
    ),
    grams_corpus AS (
        SELECT doc_id AS corpus_id,
               unnest(list_distinct(list_transform(
                   generate_series(1, greatest(length(s) - 39, 0), 10),
                   i -> substr(s, CAST(i AS INT), 40)))) AS g
        FROM t WHERE doc_id % 7 <> 0
    )
    SELECT corpus_id, eval_id, COUNT(*) AS n_hits
    FROM grams_corpus JOIN grams_eval USING (g)
    GROUP BY corpus_id, eval_id
    """,
)
def curation_decontaminate_substring_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Character-shingle decontamination — the substring-overlap twin
    of ``curation_decontaminate_ngram``: word n-grams miss benchmark
    text that was re-tokenized or re-punctuated, so production recipes
    also sweep raw character windows.  The eval side (every 7th doc_id
    stands in for the benchmark) takes EVERY overlapping 40-char
    shingle; the corpus side takes shingles at stride 10 — any shared
    substring of length >= 49 therefore aligns at least one pair
    exactly, at a tenth of the corpus-side explode cost (the classic
    strided-shingle trade).

    Scale shape: identical to the word-gram sweep — distinct shingles
    per side, one EQUI-JOIN on the shingle string with the benchmark
    side broadcast, never an all-pairs comparison.  At 100 TB the
    corpus side is one map + broadcast probe, no shuffle."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    # r11 (guide §2.5): 40-char shingling is minutes-of-CPU per MB and
    # the compact corpus scans as one split — spread before the map
    # work or both sides' shingle explodes serialize on one core
    # (measured single-task at sf0.1 in the r11 sweep).
    t = spread_partitions(d).select("doc_id", F.lower(F.col("text")).alias("s"))
    n = F.length(F.col("s"))

    def shingles(step: int):
        # zip_with-laddered shingling (dedup.char_shingles): the old
        # substr-per-start form is O(doc²) — see char_shingles'
        # docstring; the mega-doc in the skewed corpus took minutes.
        all40 = dedup.char_shingles(F.col("s"), 40)
        strided = (
            all40
            if step == 1
            else F.filter(all40, lambda x, i: i % F.lit(step) == 0)
        )
        return F.when(n >= 40, F.array_distinct(strided)).otherwise(
            F.array().cast("array<string>")
        )

    eval_g = (
        t.filter(F.col("doc_id") % 7 == 0)
        .select(F.col("doc_id").alias("eval_id"), F.explode(shingles(1)).alias("g"))
    )
    corpus_g = (
        t.filter(F.col("doc_id") % 7 != 0)
        .select(
            F.col("doc_id").alias("corpus_id"), F.explode(shingles(10)).alias("g")
        )
    )
    return (
        corpus_g.join(F.broadcast(eval_g), "g")
        .groupBy("corpus_id", "eval_id")
        .agg(F.count("*").alias("n_hits"))
    )


@query("knn_ivf_partitioned_layout")  # rows-only: physical-layout path
def knn_ivf_partitioned_layout_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The at-ingest IVF layout end-to-end: assign centroid cells once,
    write the corpus Hive-partitioned by cell, probe only the nprobe
    nearest cells (PartitionFilters file pruning — see
    tests/test_dedup_semantics.py for the plan audit and the
    equality-with-inline-IVF check).  Rows-only: the probed result is
    layout-dependent and not SQL-expressible."""
    import os
    import shutil
    import tempfile
    import uuid

    e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    cents = similarity._centroids_from_seed_rows(e, 8, "vec_id", "embedding")
    qv = similarity.query_vector(e, "vec_id", "embedding", 0)
    path = os.path.join(
        tempfile.gettempdir(), "core2_spark_ivf_q", uuid.uuid4().hex[:8]
    )
    shutil.rmtree(path, ignore_errors=True)
    similarity.write_ivf_partitioned(e, path, cents)
    return similarity.ivf_knn_partitioned(spark, path, qv, cents, k=10, nprobe=4)


def _pii_augmented_text():
    """Deterministic PII injection (both engines build the IDENTICAL
    string): the fixture corpus is synthetic prose with no reliable
    PII, so the detector queries plant emails / phone numbers / IPv4
    addresses derived from doc_id — guaranteed-present matches make
    the regex machinery itself the thing under test."""
    base = F.col("text")
    return (
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                base,
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com or admin@test.org"),
            ),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(base, F.lit(" call 555-123-4567 or 555-987-6543")),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(
                base,
                F.lit(" from host 10.0."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit(".25"),
            ),
        )
        .otherwise(base)
    )


_PII_AUG_SQL = """
    CASE doc_id % 4
      WHEN 0 THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com or admin@test.org'
      WHEN 1 THEN text || ' call 555-123-4567 or 555-987-6543'
      WHEN 2 THEN text || ' from host 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                  || '.25'
      ELSE text
    END
"""

# regexes chosen for identical semantics in Java regex (Spark) and
# RE2 (DuckDB): character classes, bounded repetition and \b only —
# no lookaround (RE2 has none)
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"\b\d{3}-\d{3}-\d{4}\b"
_PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


@query(
    "curation_pii_detect",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all({_PII_AUG_SQL}, '{_PII_EMAIL}')) AS BIGINT)
               AS n_emails,
           CAST(len(regexp_extract_all({_PII_AUG_SQL}, '{_PII_PHONE}')) AS BIGINT)
               AS n_phones,
           CAST(len(regexp_extract_all({_PII_AUG_SQL}, '{_PII_IPV4}')) AS BIGINT)
               AS n_ips,
           (len(regexp_extract_all({_PII_AUG_SQL}, '{_PII_EMAIL}')) > 0
            OR len(regexp_extract_all({_PII_AUG_SQL}, '{_PII_PHONE}')) > 0
            OR len(regexp_extract_all({_PII_AUG_SQL}, '{_PII_IPV4}')) > 0)
               AS has_pii
    FROM documents
    ORDER BY doc_id
    """,
)
def curation_pii_detect_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection — the curation gate every large-scale training
    pipeline runs before release: per-document counts of emails,
    phone numbers and IPv4 addresses plus a has_pii flag, all via
    built-in regexp_extract_all (JVM-side, whole-stage codegen; no
    UDFs), so one projection pass over the corpus scales linearly."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    aug = _pii_augmented_text()
    n = lambda r: F.size(F.regexp_extract_all(aug, F.lit(r), 0)).cast("long")
    return (
        d.select(
            "doc_id",
            n(_PII_EMAIL).alias("n_emails"),
            n(_PII_PHONE).alias("n_phones"),
            n(_PII_IPV4).alias("n_ips"),
        )
        .withColumn(
            "has_pii",
            (F.col("n_emails") > 0) | (F.col("n_phones") > 0) | (F.col("n_ips") > 0),
        )
        .orderBy("doc_id")
    )


@query(
    "curation_pii_redact",
    oracle=f"""
    WITH aug AS (SELECT doc_id, {_PII_AUG_SQL} AS t FROM documents),
    red AS (
      SELECT doc_id,
             regexp_replace(
               regexp_replace(
                 regexp_replace(t, '{_PII_EMAIL}', '<EMAIL>', 'g'),
                 '{_PII_PHONE}', '<PHONE>', 'g'),
               '{_PII_IPV4}', '<IP>', 'g') AS redacted,
             t
      FROM aug
    )
    SELECT doc_id,
           CAST(len(t) - len(redacted) AS BIGINT) AS chars_removed,
           md5(redacted) AS redacted_md5
    FROM red
    WHERE redacted <> t
    ORDER BY doc_id
    """,
)
def curation_pii_redact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction: replace detected emails/phones/IPs with typed
    placeholder tags and emit (doc_id, chars_removed, md5 of the
    redacted text) for every document that changed — the md5 makes
    the two engines agree on every redacted BYTE, not just counts.
    Chained built-in regexp_replace; linear scan, no shuffle until
    the final order."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    aug = _pii_augmented_text()
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(aug, _PII_EMAIL, "<EMAIL>"),
            _PII_PHONE,
            "<PHONE>",
        ),
        _PII_IPV4,
        "<IP>",
    )
    return (
        d.select(
            "doc_id",
            aug.alias("t"),
            redacted.alias("redacted"),
        )
        .filter(F.col("redacted") != F.col("t"))
        .select(
            "doc_id",
            (F.length("t") - F.length("redacted")).cast("long").alias("chars_removed"),
            F.md5(F.col("redacted")).alias("redacted_md5"),
        )
        .orderBy("doc_id")
    )


@query(
    "text_repetition_filter",
    oracle="""
    WITH w AS (
      SELECT doc_id,
             string_split(text, ' ') AS words
      FROM documents
    ),
    g AS (
      SELECT doc_id,
             CAST(len(words) AS BIGINT) AS n_words,
             CAST(len(list_distinct(words)) AS BIGINT) AS n_uniq_words,
             CASE WHEN len(words) >= 2
                  THEN list_transform(range(1, len(words)),
                                      i -> words[i] || ' ' || words[i + 1])
                  ELSE [] END AS grams
      FROM w
    )
    SELECT doc_id, n_words,
           ROUND(CAST(n_uniq_words AS DOUBLE) / n_words, 6) AS uniq_word_frac,
           ROUND(CASE WHEN len(grams) > 0
                 THEN CAST(len(grams) - len(list_distinct(grams)) AS DOUBLE)
                      / len(grams)
                 ELSE 0.0 END, 6) AS dup_2gram_frac,
           (CASE WHEN len(grams) > 0
                 THEN CAST(len(grams) - len(list_distinct(grams)) AS DOUBLE)
                      / len(grams)
                 ELSE 0.0 END) > 0.35 AS flag_repetitive
    FROM g
    ORDER BY doc_id
    """,
)
def text_repetition_filter_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition scoring — the Gopher/RefinedWeb
    curation rule family: documents dominated by repeated n-grams are
    boilerplate/spam and get filtered before training.  Per doc:
    unique-word fraction and duplicate word-2-gram fraction, plus the
    filter flag at the classic ~0.35 threshold.  Pure higher-order
    column functions (split/zip_with/array_distinct) — JVM-side, one
    projection pass, no explode and no shuffle until the final order.

    Scale note (round 7, caught by the sf1 sweep): higher-order
    functions fall out of whole-stage codegen, so the projection runs
    INTERPRETED with no common-subexpression elimination — every
    reference to the gram array re-builds it, and the original
    ``transform(sequence, i -> element_at(words, i))`` shape re-split
    the whole text per ELEMENT (O(doc²) CPU; one sf1 scan partition ran
    6+ minutes single-core).  The gram array is therefore built with
    ``zip_with`` over two slices (argument arrays evaluate once, the
    lambda never touches the source text) and referenced exactly ONCE
    — the gram COUNT is just ``n_words - 1``, no array needed."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    words = F.split(F.col("text"), " ")
    n = F.size(words)
    # bigrams via zip_with(words[0:n-1], words[1:n-1], concat): no
    # per-element element_at/re-split, single materialization
    grams = F.zip_with(
        F.slice(words, 1, n - 1),
        F.slice(words, 2, n - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    n_grams = n - 1  # size(grams), without evaluating grams
    dup_frac = F.when(
        n >= 2,
        (n_grams - F.size(F.array_distinct(grams))).cast("double")
        / n_grams,
    ).otherwise(F.lit(0.0))
    return (
        d.select(
            "doc_id",
            n.cast("long").alias("n_words"),
            F.round(
                F.size(F.array_distinct(words)).cast("double") / n, 6
            ).alias("uniq_word_frac"),
            F.round(dup_frac, 6).alias("dup_2gram_frac"),
            (dup_frac > 0.35).alias("flag_repetitive"),
        )
        .orderBy("doc_id")
    )


@query(
    "dedup_exact_substring_spans",
    oracle="""
    WITH t AS (SELECT doc_id, lower(text) AS s FROM documents),
    grams AS (
        SELECT doc_id, unnest(list_distinct(list_transform(
            generate_series(1, greatest(length(s) - 39, 0)),
            i -> substr(s, CAST(i AS INT), 40)))) AS g
        FROM t
    ),
    anchored AS (
        SELECT doc_id, g FROM grams WHERE substr(md5(g), 1, 1) = '0'
    ),
    dup AS (
        SELECT g FROM anchored GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2
    )
    SELECT a.doc_id, COUNT(DISTINCT a.g) AS n_dup_shingles
    FROM anchored a JOIN dup USING (g)
    GROUP BY a.doc_id
    """,
)
def dedup_exact_substring_spans_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-corpus exact-substring duplication (round 6) — the
    Spark-native shape of ExactSubstr dedup ("Deduplicating Training
    Data Makes Language Models Better": cut exact spans repeated
    across documents).  Suffix arrays are sequential; the distributed
    equivalent: every overlapping 40-char shingle, CONTENT-ANCHORED to
    1/16 volume (keep shingles whose md5 starts '0' — both copies of a
    shared substring sample the SAME positions, unlike fixed-stride
    sampling which misses unaligned copies), then one groupBy to find
    shingles in >= 2 docs and a per-doc count of duplicated anchors.

    Scale shape: one linear explode + two hash aggregations on the
    shingle — no all-pairs join, no skew (anchor hashes are uniform);
    at 100 TB this is the standard linear-shuffle job, and the 1/16
    anchor rate is the volume knob.  Per-task memory is bounded by the
    CHUNK size, not the document size (see _exact_substring_spans)."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    return _exact_substring_spans(d)


def _exact_substring_spans(
    d: DataFrame, chunk: int = 256, k: int = 40
) -> DataFrame:
    """Count content-anchored duplicated k-gram shingles per document.

    Round 7 fix (memory AND time): the r6 shape materialized the FULL
    per-doc shingle array (``transform(sequence(1, n-k+1), substr)``)
    before the anchor filter — ~k× document length in one task
    allocation (a 1 GB document peaked at ~40 GB), and worse,
    ``substr(s, i, k)`` walks bytes from position 0 to find the i-th
    code point (UTF8String is variable-width), so whole-document
    shingling is O(doc²) CPU — measured 10× slower at 65 KB windows
    than at 256.  Documents now split into overlapping windows of
    ``chunk`` shingle-start positions FIRST (the window text is
    ``chunk + k - 1`` chars, so every global shingle start lands in
    exactly one window and no shingle is lost at a boundary), and the
    shingle array materializes per-window: peak per-row allocation is
    ~k×chunk (~10 KB at the defaults) and substr offsets stay small,
    so CPU is linear in document size.  Within-doc duplicate shingles
    need no dedup — both downstream aggregations are DISTINCT."""
    t = d.select("doc_id", F.lower(F.col("text")).alias("s"))
    n = F.length(F.col("s"))
    # one entry per window of `chunk` consecutive shingle starts; the
    # transform output totals ~|s| + (k-1)*n_windows chars — O(doc),
    # never O(k*doc)
    starts = F.when(n >= k, F.sequence(F.lit(1), n - (k - 1), F.lit(chunk)))
    windows = F.transform(
        starts, lambda cs: F.col("s").substr(cs, F.lit(chunk + k - 1))
    )
    chunks = t.select(
        "doc_id",
        F.explode(
            F.coalesce(windows, F.array().cast("array<string>"))
        ).alias("w"),
    )
    # r11 (guide §2.5): the k-gram explode + md5 anchor below is the
    # CPU wall, and without a spread it runs inside the SCAN task (a
    # compact corpus is one parquet split; both explodes fuse into one
    # stage).  Spreading the WINDOW rows — not the doc rows — is also
    # skew-proof: a mega-doc is already ~|s|/chunk windows here, so
    # its grams spread across every core instead of serializing on
    # one (measured at sf0.1: 5.1 s single-task → 1.0 s spread).
    chunks = spread_partitions(chunks)
    wn = F.length(F.col("w"))
    idx = F.when(wn >= k, F.sequence(F.lit(1), wn - (k - 1))).otherwise(
        F.array().cast("array<int>")
    )
    grams = chunks.select(
        "doc_id",
        F.explode(
            F.transform(idx, lambda i: F.col("w").substr(i, F.lit(k)))
        ).alias("g"),
    )
    anchored = grams.filter(F.substring(F.md5(F.col("g")), 1, 1) == "0")
    dup = (
        anchored.groupBy("g")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("g")
    )
    return (
        anchored.join(dup, "g")
        .groupBy("doc_id")
        .agg(F.countDistinct("g").alias("n_dup_shingles"))
    )


_SEMDEDUP_ORACLE = """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    seeds AS (
        SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, v AS sv
        FROM e ORDER BY vec_id LIMIT 8
    ),
    assigned AS (
        SELECT vec_id, v, cid, d2 FROM (
            SELECT e.vec_id, e.v, s.cid,
                   list_dot_product(e.v, e.v)
                     - 2 * list_dot_product(e.v, s.sv)
                     + list_dot_product(s.sv, s.sv) AS d2,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY list_dot_product(e.v, e.v)
                                  - 2 * list_dot_product(e.v, s.sv)
                                  + list_dot_product(s.sv, s.sv) ASC,
                                s.cid ASC) AS rn
            FROM e CROSS JOIN seeds s
        ) WHERE rn = 1
    ),
    dominated AS (
        SELECT DISTINCT x.vec_id
        FROM assigned x JOIN assigned y
          ON x.cid = y.cid AND x.vec_id <> y.vec_id
        WHERE list_dot_product(x.v, y.v)
                / (sqrt(list_dot_product(x.v, x.v))
                   * sqrt(list_dot_product(y.v, y.v))) > 0.4
          AND (y.d2 < x.d2 OR (y.d2 = x.d2 AND y.vec_id < x.vec_id))
    )
    SELECT a.vec_id, a.cid AS cluster
    FROM assigned a
    WHERE a.vec_id NOT IN (SELECT vec_id FROM dominated)
    ORDER BY a.vec_id
"""


@query("dedup_semantic_embedding_clusters", oracle=_SEMDEDUP_ORACLE)
def dedup_semantic_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540) — see ``dedup.semantic_dedup`` for the full
    algorithm and its 100 TB shape (broadcast seed assignment,
    cell-bounded pairwise cosine with the quadratic-join guard).
    Threshold 0.4 suits the fixture's random embeddings (max pairwise
    cosine ~0.51); real corpora use ~0.95+.  Deterministic by
    construction (fixed Voronoi seeds, no Lloyd averaging), so the
    DuckDB oracle replays the identical float math."""
    from core2_spark import dedup

    e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"].select(
        "vec_id", vec.as_double(F.col("embedding")).alias("v")
    )
    return dedup.semantic_dedup(
        e, id_col="vec_id", vec_col="v", n_clusters=8, threshold=0.4
    ).orderBy("vec_id")



@query(
    "curation_gopher_quality_rules",
    oracle="""
    WITH w AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS words
        FROM documents
    ),
    m AS (
        SELECT doc_id,
               len(words) AS word_count,
               CAST(list_sum(list_transform(words, x -> len(x))) AS DOUBLE)
                   / len(words) AS mwl,
               CAST(len(list_distinct(words)) AS DOUBLE)
                   / len(words) AS uniq_ratio,
               CAST(list_contains(words, 'the') AS INT)
                 + CAST(list_contains(words, 'and') AS INT)
                 + CAST(list_contains(words, 'of') AS INT)
                 + CAST(list_contains(words, 'to') AS INT)
                 + CAST(list_contains(words, 'a') AS INT)
                 + CAST(list_contains(words, 'in') AS INT) AS n_stop
        FROM w
    )
    SELECT doc_id, word_count, ROUND(mwl, 4) AS mean_word_len,
           ROUND(uniq_ratio, 4) AS uniq_ratio, n_stop,
           (word_count >= 30 AND word_count <= 100000
            AND mwl >= 3 AND mwl <= 10
            AND n_stop >= 2 AND uniq_ratio >= 0.5) AS passes
    FROM m
    ORDER BY doc_id
    """,
)
def curation_gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021,
    arXiv:2112.11446 — the MassiveText filters): word-count bounds,
    mean-word-length window, stopword floor, and a repetition guard
    (unique-word ratio), with per-rule observables so thresholds can
    be re-tuned downstream and one composite `passes` flag.  All
    higher-order array functions over a single scan — JVM-side, no
    UDF, no shuffle at all until the final ORDER BY; at 100 TB this is
    a pure map-side pipeline that composes with any later filter
    pushdown.  Thresholds compare on raw doubles computed by identical
    integer-sum/length arithmetic in both engines; ROUND only touches
    the reported columns."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    words = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    base = d.select("doc_id", words.alias("words"))
    mwl = F.aggregate(
        F.transform("words", lambda x: F.length(x)),
        F.lit(0),
        lambda acc, x: acc + x,
    ).cast("double") / F.size("words")
    uniq = F.size(F.array_distinct("words")).cast("double") / F.size("words")
    n_stop = sum(
        F.array_contains("words", s).cast("int")
        for s in ("the", "and", "of", "to", "a", "in")
    )
    m = base.select(
        "doc_id",
        F.size("words").cast("long").alias("word_count"),
        mwl.alias("mwl"),
        uniq.alias("uniq_ratio_raw"),
        n_stop.cast("int").alias("n_stop"),
    )
    return m.select(
        "doc_id",
        "word_count",
        F.round("mwl", 4).alias("mean_word_len"),
        F.round("uniq_ratio_raw", 4).alias("uniq_ratio"),
        "n_stop",
        (
            (F.col("word_count") >= 30)
            & (F.col("word_count") <= 100000)
            & (F.col("mwl") >= 3)
            & (F.col("mwl") <= 10)
            & (F.col("n_stop") >= 2)
            & (F.col("uniq_ratio_raw") >= 0.5)
        ).alias("passes"),
    ).orderBy("doc_id")
