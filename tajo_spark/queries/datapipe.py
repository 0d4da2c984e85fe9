"""Beyond-reference data-pipeline queries: dedup, similarity search,
text analysis, sessionization, multimodal metadata (BASELINE.json
north star). Spark side = tajo_spark.operators.*; oracle side =
equivalent DuckDB SQL generated here (shared hash family: md5 hex, so
both engines reproduce signatures bit-for-bit).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tajo_spark.catalog import load_parquet, load_table
from tajo_spark.operators import dedup, similarity, text
from tajo_spark.operators.sessionize import sessionize, tumbling_window_agg
from tajo_spark.queries.registry import query

# DuckDB fragment: normalized text (must mirror text.normalize_for_fingerprint)
_NORM = (
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),"
    " '\\s+', ' ', 'g'))"
)
# DuckDB fragment: whitespace tokens of raw text (mirror text.tokens)
_TOKS = "string_split_regex(trim(lower(text)), '\\s+')"
_STOPS = ", ".join(f"'{w}'" for w in text.EN_STOPWORDS)


# --------------------------------------------------------------------------
# Deduplication
# --------------------------------------------------------------------------


@query(
    "dedup_exact",
    "datapipe",
    doc="Exact dedup groups via md5 hash-groupBy; survivor = min doc_id. "
    "Null-text docs are UNKNOWN, not equal: each keeps itself (fp NULL) "
    "instead of SQL GROUP BY's all-nulls-one-group collapse.",
    oracle="""
        SELECT md5(text) AS fp, min(doc_id) AS keep_doc_id,
               count(*) AS dup_count
        FROM documents WHERE text IS NOT NULL GROUP BY md5(text)
        UNION ALL
        SELECT NULL AS fp, doc_id AS keep_doc_id, 1 AS dup_count
        FROM documents WHERE text IS NULL
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.exact_dedup_groups(docs).select("fp", "keep_doc_id", "dup_count")


@query(
    "dedup_fingerprint",
    "datapipe",
    doc="Near-identical dedup on normalized-text md5 fingerprint "
    "(document fingerprinting operator). Same null-text invariant as "
    "dedup_exact: unknown text never groups.",
    oracle=f"""
        SELECT md5({_NORM}) AS fp, min(doc_id) AS keep_doc_id,
               count(*) AS dup_count
        FROM documents WHERE text IS NOT NULL GROUP BY md5({_NORM})
        UNION ALL
        SELECT NULL AS fp, doc_id AS keep_doc_id, 1 AS dup_count
        FROM documents WHERE text IS NULL
    """,
)
def dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.fingerprint_dedup_groups(docs).select(
        "fp", "keep_doc_id", "dup_count"
    )


def _minhash_pairs_cte() -> str:
    """CTE chain ending in ``pairs(doc_a, doc_b)`` — the LSH candidate
    pairs; shared by the minhash query and the Jaccard verify stage."""
    nh, nb = dedup.NUM_HASHES, dedup.NUM_BANDS
    rpb = nh // nb
    # hash s = 8-hex-char slice (s % 4) of md5 seeded with (s // 4) —
    # mirror of dedup.minhash_signatures' one-digest-four-subhash scheme
    sig_cols = ",\n               ".join(
        f"list_min(list_transform(s, x -> "
        f"substr(md5('{s // 4}:' || x), {1 + 8 * (s % 4)}, 8))) AS h{s}"
        for s in range(nh)
    )
    band_cols = ",\n               ".join(
        "md5("
        + " || '|' || ".join(f"h{b * rpb + r}" for r in range(rpb))
        + f") AS band{b}"
        for b in range(nb)
    )
    unions = "\n            UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_id, band{b} AS bh FROM banded"
        for b in range(nb)
    )
    return f"""
        mh_norm AS (SELECT doc_id, {_NORM} AS t FROM documents),
        mh_tk AS (SELECT doc_id, string_split(t, ' ') AS w FROM mh_norm),
        mh_sh AS (SELECT doc_id,
                      CASE WHEN len(w) >= {dedup.SHINGLE_K}
                           THEN list_transform(range(1, len(w) - {dedup.SHINGLE_K - 2}),
                                i -> {" || ' ' || ".join(f"w[i+{j}]" for j in range(dedup.SHINGLE_K))})
                           ELSE [array_to_string(w, ' ')] END AS s
               FROM mh_tk),
        sig AS (SELECT doc_id,
               {sig_cols}
               FROM mh_sh),
        banded AS (SELECT doc_id,
               {band_cols}
               FROM sig),
        long AS (
            {unions}),
        pairs AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM long a JOIN long b
              ON a.band_id = b.band_id AND a.bh = b.bh
             AND a.doc_id < b.doc_id)"""


_MINHASH_PAIRS_CTE = _minhash_pairs_cte()


def _minhash_oracle() -> str:
    return f"""
        WITH {_MINHASH_PAIRS_CTE}
        SELECT doc_a, doc_b FROM pairs
    """


@query(
    "dedup_minhash_pairs",
    "datapipe",
    doc="MinHash+LSH near-duplicate candidate pairs: 3-word shingles → "
    "8 minhashes (32-bit slices of 2 seeded md5s) → 4 bands → band-key "
    "bucketing. Banding replaces the quadratic all-pairs scan (the "
    "web-scale dedup shape).",
    oracle=_minhash_oracle(),
)
def dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.minhash_candidate_pairs(docs)


def _simhash_oracle() -> str:
    bits = dedup.SIMHASH_BITS
    nibs = ",\n               ".join(
        f"strpos('0123456789abcdef', substr(h, {i + 1}, 1)) - 1 AS c{i}"
        for i in range(bits // 4)
    )
    votes = ",\n               ".join(
        f"sum(CASE WHEN (c{bit // 4} & {1 << (bit % 4)}) > 0 THEN 1 ELSE -1 END)"
        f" AS v{bit}"
        for bit in range(bits)
    )
    fp = " + ".join(
        f"(CASE WHEN v{bit} > 0 THEN {1 << bit} ELSE 0 END)" for bit in range(bits)
    )
    return f"""
        WITH norm AS (SELECT doc_id, {_NORM} AS t FROM documents),
        tok AS (SELECT doc_id, unnest(string_split(t, ' ')) AS tok FROM norm),
        hashed AS (SELECT doc_id, md5(tok) AS h FROM tok),
        nib AS (SELECT doc_id,
               {nibs}
               FROM hashed),
        votes AS (SELECT doc_id,
               {votes}
               FROM nib GROUP BY doc_id)
        SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM votes
    """


@query(
    "dedup_simhash",
    "datapipe",
    doc="SimHash fingerprints (16-bit, md5-nibble votes) for Hamming-"
    "distance near-dup; explode→partial-agg keeps shuffle at |docs|.",
    oracle=_simhash_oracle(),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash_table(docs)


# --------------------------------------------------------------------------
# Similarity search
# --------------------------------------------------------------------------

_COS = (
    "round(list_dot_product(e, qv)"
    " / (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(qv, qv))), 4)"
)
_BUCKET_SQL = " + ".join(
    f"(CASE WHEN e[{d + 1}] >= 0 THEN {1 << i} ELSE 0 END)"
    for i, d in enumerate(similarity.LSH_DIMS)
)


@query(
    "sim_cosine_topk",
    "datapipe",
    doc="Exact brute-force cosine top-10 for a query vector (vec_id=0): "
    "broadcast 1-row query side + zip_with/aggregate dot product "
    "(JVM-side) + TakeOrderedAndProject — single scan, zero shuffle.",
    oracle=f"""
        WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
                   FROM embeddings WHERE vec_id = 0),
        c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
              FROM embeddings WHERE vec_id <> 0)
        SELECT vec_id, {_COS} AS cos_sim
        FROM c, q
        ORDER BY cos_sim DESC, vec_id LIMIT 10
    """,
)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.cosine_topk(emb, query_vec_id=0, k=10)


@query(
    "sim_lsh_bucket_topk",
    "datapipe",
    doc="Approximate top-10 via sign-LSH bucketing (16 buckets from sign "
    "bits of dims 0-3): probe scans only the query's bucket — the "
    "IVF/LSH scale path for ANN at 100 TB.",
    oracle=f"""
        WITH all_b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
                              CAST({_BUCKET_SQL} AS INT) AS bucket
                       FROM embeddings),
        q AS (SELECT e AS qv, bucket AS qbucket FROM all_b WHERE vec_id = 0)
        SELECT vec_id, bucket, {_COS} AS cos_sim
        FROM (SELECT * FROM all_b WHERE vec_id <> 0) c, q
        WHERE bucket = qbucket
        ORDER BY cos_sim DESC, vec_id LIMIT 10
    """,
)
def sim_lsh_bucket_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.lsh_bucket_topk(emb, query_vec_id=0, k=10)


@query(
    "sim_near_dup_pairs",
    "datapipe",
    doc="Embedding-cosine near-dup pairs ≥0.3 within sign-LSH buckets — "
    "bucketed equi-join bounds the quadratic term per bucket.",
    oracle=f"""
        WITH all_b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
                              CAST({_BUCKET_SQL} AS INT) AS bucket
                       FROM embeddings)
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               round(list_dot_product(a.e, b.e)
                 / (sqrt(list_dot_product(a.e, a.e))
                    * sqrt(list_dot_product(b.e, b.e))), 4) AS cos_sim
        FROM all_b a JOIN all_b b
          ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        WHERE round(list_dot_product(a.e, b.e)
                 / (sqrt(list_dot_product(a.e, a.e))
                    * sqrt(list_dot_product(b.e, b.e))), 4) >= 0.3
    """,
)
def sim_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.pairwise_similar(emb, threshold=0.3)


@query(
    "dedup_semantic",
    "datapipe",
    doc="SemDeDup-style semantic dedup: assign each embedding to its "
    "max-cosine seed vector (deterministic seeds = 16 lowest vec_ids, "
    "broadcast as one row; zero-shuffle map-only assignment), then mark "
    "vectors ≥0.3 cosine to a lower-id cluster-mate as removed "
    "(operators/similarity.py::semantic_dedup).",
    oracle="""
        WITH seeds AS (
            SELECT vec_id AS seed_id, CAST(embedding AS DOUBLE[]) AS sv
            FROM embeddings WHERE vec_id < 16),
        vecs AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings),
        scored AS (
            SELECT e.vec_id, s.seed_id,
                   list_dot_product(e.v, s.sv)
                     / (sqrt(list_dot_product(e.v, e.v))
                        * sqrt(list_dot_product(s.sv, s.sv))) AS cos
            FROM vecs e CROSS JOIN seeds s),
        assigned AS (
            SELECT vec_id, seed_id AS cluster_id FROM (
                SELECT vec_id, seed_id,
                       row_number() OVER (
                           PARTITION BY vec_id
                           ORDER BY round(cos, 6) DESC, seed_id) AS rn
                FROM scored) t
            WHERE rn = 1),
        withv AS (
            SELECT a.vec_id, a.cluster_id, v.v
            FROM assigned a JOIN vecs v USING (vec_id)),
        removed AS (
            SELECT DISTINCT a.vec_id
            FROM withv a JOIN withv b
              ON a.cluster_id = b.cluster_id AND a.vec_id > b.vec_id
            WHERE round(list_dot_product(a.v, b.v)
                     / (sqrt(list_dot_product(a.v, a.v))
                        * sqrt(list_dot_product(b.v, b.v))), 4) >= 0.3)
        SELECT a.vec_id, a.cluster_id,
               (r.vec_id IS NULL) AS is_kept
        FROM assigned a LEFT JOIN removed r ON a.vec_id = r.vec_id
    """,
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.semantic_dedup(emb, n_seeds=16, threshold=0.3)


@query(
    "dedup_semantic_coarse",
    "datapipe",
    doc="SemDeDup at production seed counts: two-level coarse-quantized "
    "assignment (64 seeds quantized against 8 coarse seeds, forced "
    "self-membership; a corpus row scores 8 coarse + its group's seeds "
    "instead of all 64 — O(n*sqrt(k)) vs the flat path's measured "
    "quadratic ladder, SCALE.md) then greedy keep-lowest-id removal "
    "(operators/similarity.py::seeded_cluster_assign_two_level).",
    oracle="""
        WITH seeds AS (
            SELECT vec_id AS seed_id, CAST(embedding AS DOUBLE[]) AS sv
            FROM embeddings WHERE vec_id < 64),
        coarse AS (
            SELECT seed_id AS coarse_id, sv AS cv
            FROM seeds WHERE seed_id < 8),
        seed_grp AS (
            SELECT seed_id, sv,
                   CASE WHEN seed_id < 8 THEN seed_id
                        ELSE coarse_id END AS coarse_id
            FROM (
                SELECT s.seed_id, s.sv, c.coarse_id,
                       row_number() OVER (
                           PARTITION BY s.seed_id
                           ORDER BY round(list_dot_product(s.sv, c.cv)
                                 / (sqrt(list_dot_product(s.sv, s.sv))
                                    * sqrt(list_dot_product(c.cv, c.cv))), 6)
                                 DESC, c.coarse_id) AS rn
                FROM seeds s CROSS JOIN coarse c) t
            WHERE rn = 1),
        vecs AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings),
        pt_coarse AS (
            SELECT vec_id, v, coarse_id FROM (
                SELECT e.vec_id, e.v, c.coarse_id,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY round(list_dot_product(e.v, c.cv)
                                 / (sqrt(list_dot_product(e.v, e.v))
                                    * sqrt(list_dot_product(c.cv, c.cv))), 6)
                                 DESC, c.coarse_id) AS rn
                FROM vecs e CROSS JOIN coarse c) t
            WHERE rn = 1),
        assigned AS (
            SELECT vec_id, seed_id AS cluster_id FROM (
                SELECT p.vec_id, g.seed_id,
                       row_number() OVER (
                           PARTITION BY p.vec_id
                           ORDER BY round(list_dot_product(p.v, g.sv)
                                 / (sqrt(list_dot_product(p.v, p.v))
                                    * sqrt(list_dot_product(g.sv, g.sv))), 6)
                                 DESC, g.seed_id) AS rn
                FROM pt_coarse p JOIN seed_grp g USING (coarse_id)) t
            WHERE rn = 1),
        withv AS (
            SELECT a.vec_id, a.cluster_id, v.v
            FROM assigned a JOIN vecs v USING (vec_id)),
        removed AS (
            SELECT DISTINCT a.vec_id
            FROM withv a JOIN withv b
              ON a.cluster_id = b.cluster_id AND a.vec_id > b.vec_id
            WHERE round(list_dot_product(a.v, b.v)
                     / (sqrt(list_dot_product(a.v, a.v))
                        * sqrt(list_dot_product(b.v, b.v))), 4) >= 0.3)
        SELECT a.vec_id, a.cluster_id,
               (r.vec_id IS NULL) AS is_kept
        FROM assigned a LEFT JOIN removed r ON a.vec_id = r.vec_id
    """,
)
def dedup_semantic_coarse(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.semantic_dedup(
        emb, n_seeds=64, threshold=0.3, two_level=True
    )


# --------------------------------------------------------------------------
# Text analysis
# --------------------------------------------------------------------------


@query(
    "text_metrics",
    "datapipe",
    doc="Token count / char count / punctuation count / stopword ratio / "
    "avg token length per document — C4-style quality signals, pure "
    "projection (no shuffle).",
    oracle=f"""
        WITH t AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents)
        SELECT doc_id,
               CAST(len(toks) AS BIGINT) AS token_count,
               CAST(length(text) AS BIGINT) AS char_count,
               CAST(length(text)
                    - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
                 AS BIGINT) AS punct_count,
               round(len(list_filter(toks, x -> x IN ({_STOPS})))
                     / greatest(len(toks), 1), 4) AS stop_ratio,
               round(list_aggregate(list_transform(toks, x -> length(x)), 'sum')
                     / greatest(len(toks), 1), 4) AS avg_tok_len
        FROM t
    """,
)
def text_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    c = F.col("text")
    return docs.select(
        "doc_id",
        text.token_count(c).alias("token_count"),
        text.char_count(c).alias("char_count"),
        text.punct_count(c).alias("punct_count"),
        F.round(text.stopword_ratio(c), 4).alias("stop_ratio"),
        F.round(text.avg_token_len(c), 4).alias("avg_tok_len"),
    )


@query(
    "text_quality_langid",
    "datapipe",
    doc="Composite quality score + stopword-heuristic language ID, "
    "aggregated by source (the corpus-filtering rollup).",
    oracle=f"""
        WITH t AS (SELECT doc_id, source, text, {_TOKS} AS toks FROM documents),
        m AS (SELECT doc_id, source,
               len(list_filter(toks, x -> x IN ({_STOPS})))
                 / greatest(len(toks), 1) AS sw,
               (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))
                 / greatest(length(text), 1) AS pr,
               CAST(len(toks) BETWEEN 20 AND 100000 AS DOUBLE) AS len_ok
              FROM t)
        SELECT source,
               count(*) AS n_docs,
               round(avg(round(least(1.0, sw * 4) * 0.5 + len_ok * 0.3
                     + (1 - least(1.0, pr * 10)) * 0.2, 4)), 4) AS avg_quality,
               CAST(sum(CASE WHEN sw > 0.05 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_english
        FROM m GROUP BY source
    """,
)
def text_quality_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    c = F.col("text")
    scored = docs.select(
        "source",
        text.quality_score(c).alias("q"),
        text.lang_id(c).alias("lang_guess"),
    )
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("q"), 4).alias("avg_quality"),
        F.sum(F.when(F.col("lang_guess") == "en", 1).otherwise(0))
        .cast("long")
        .alias("n_english"),
    )


@query(
    "text_pii_stats",
    "datapipe",
    doc="Rule-based PII scrub (emails / IPv4 / SSN-shaped spans → fixed "
    "tags) with per-document match counts and the redacted-text "
    "fingerprint — the standard pre-training scrub pass. Pure per-row "
    "regexp chain, no shuffle; patterns restricted to constructs whose "
    "semantics agree between Java regex and RE2.",
    oracle=f"""
        WITH r AS (SELECT doc_id, text,
               regexp_replace(regexp_replace(regexp_replace(text,
                   '{text.PII_EMAIL}', '<EMAIL>', 'g'),
                   '{text.PII_IPV4}', '<IP>', 'g'),
                   '{text.PII_SSN}', '<SSN>', 'g') AS red
              FROM documents)
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '{text.PII_EMAIL}')) AS BIGINT)
                 AS n_emails,
               CAST(len(regexp_extract_all(text, '{text.PII_IPV4}')) AS BIGINT)
                 AS n_ips,
               CAST(len(regexp_extract_all(text, '{text.PII_SSN}')) AS BIGINT)
                 AS n_ssns,
               CAST(length(red) AS BIGINT) AS redacted_len,
               md5(red) AS redacted_fp
        FROM r
    """,
)
def text_pii_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    c = F.col("text")
    n_emails, n_ips, n_ssns = text.pii_counts(c)
    red = text.pii_redact(c)
    return docs.select(
        "doc_id",
        n_emails.alias("n_emails"),
        n_ips.alias("n_ips"),
        n_ssns.alias("n_ssns"),
        F.length(red).cast("long").alias("redacted_len"),
        F.md5(red.cast("binary")).alias("redacted_fp"),
    )


@query(
    "text_repetition_signals",
    "datapipe",
    doc="Gopher-style repetition/diversity signals per document: token "
    "count, distinct-token count, type-token ratio, most-frequent-token "
    "share. Plan: explode tokens → two-phase count on (doc_id, token) "
    "(map-side combine collapses the fan-out before the shuffle) → "
    "per-doc rollup; shuffle volume is |doc × distinct token|, not "
    "|tokens|.",
    oracle=f"""
        WITH t AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
        f AS (SELECT doc_id, tok, count(*) AS c FROM t
              WHERE tok <> '' GROUP BY doc_id, tok)
        SELECT doc_id,
               CAST(sum(c) AS BIGINT) AS n_tokens,
               CAST(count(*) AS BIGINT) AS n_types,
               round(count(*) / sum(c), 4) AS ttr,
               round(max(c) / sum(c), 4) AS top_frac
        FROM f GROUP BY doc_id
    """,
)
def text_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = (
        dedup.spread_by(docs, "doc_id")
        .select("doc_id", F.explode(text.tokens(F.col("text"))).alias("tok"))
        .filter(F.col("tok") != "")
    )
    freq = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    return freq.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.round(F.count(F.lit(1)) / F.sum("c"), 4).alias("ttr"),
        F.round(F.max("c") / F.sum("c"), 4).alias("top_frac"),
    )


@query(
    "text_contamination",
    "datapipe",
    doc="Benchmark-contamination check: flag corpus documents sharing "
    "any 3-word shingle with a held-out benchmark set (doc_id % 97 = 0 "
    "stands in for the eval suite). The benchmark shingle set is tiny "
    "by construction, so Spark broadcasts it — the corpus side is a "
    "single map-side semi-join scan, no corpus shuffle; the per-doc "
    "hit count then aggregates on doc_id.",
    oracle=f"""
        WITH cn_n AS (SELECT doc_id, {_NORM} AS t FROM documents),
        cn_tk AS (SELECT doc_id, string_split(t, ' ') AS w FROM cn_n),
        cn_sh AS (SELECT doc_id, unnest(list_distinct(
                      CASE WHEN len(w) >= {dedup.SHINGLE_K}
                           THEN list_transform(range(1, len(w) - {dedup.SHINGLE_K - 2}),
                                i -> {" || ' ' || ".join(f"w[i+{j}]" for j in range(dedup.SHINGLE_K))})
                           ELSE [array_to_string(w, ' ')] END)) AS sh
               FROM cn_tk),
        bench AS (SELECT DISTINCT sh FROM cn_sh
                  WHERE doc_id % 97 = 0 AND sh <> '')
        SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_hit_shingles
        FROM cn_sh s JOIN bench b USING (sh)
        WHERE s.doc_id % 97 <> 0 AND s.sh <> ''
        GROUP BY s.doc_id
    """,
)
def text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sh = dedup.fingerprint_tokens(docs).select(
        "doc_id",
        F.explode(
            F.array_distinct(dedup.shingles_from_tokens(F.col("w")))
        ).alias("sh"),
    ).filter(F.col("sh") != "")
    bench = (
        sh.filter(F.col("doc_id") % 97 == 0).select("sh").distinct()
    )
    corpus = sh.filter(F.col("doc_id") % 97 != 0)
    return (
        corpus.join(F.broadcast(bench), "sh")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hit_shingles"))
    )


@query(
    "text_tfidf_topk",
    "datapipe",
    doc="Top-3 keywords per document by TF-IDF (keyword extraction / "
    "quality signal). Two-phase tf on (doc_id, token); document "
    "frequency reuses the tf output so the raw token fan-out is never "
    "shuffled twice; corpus size joins as a broadcast scalar; scores "
    "rounded before ranking so libm ulp drift can't flip orders "
    "across engines.",
    oracle=f"""
        WITH tok AS (SELECT doc_id, unnest(string_split({_NORM}, ' '))
                       AS tok FROM documents),
        tf AS (SELECT doc_id, tok, count(*) AS c FROM tok
               WHERE tok <> '' GROUP BY doc_id, tok),
        dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
        n AS (SELECT count(*) AS n FROM documents),
        scored AS (SELECT tf.doc_id, tf.tok,
                          round(tf.c * ln((n.n + 1.0) / (dfreq.df + 1.0)),
                                6) AS score
                   FROM tf JOIN dfreq USING (tok) CROSS JOIN n)
        SELECT doc_id, tok, score FROM (
            SELECT scored.*, row_number() OVER (
                PARTITION BY doc_id ORDER BY score DESC, tok) AS rn
            FROM scored) t
        WHERE rn <= 3
    """,
)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.tfidf_topk(docs, k=3)


@query(
    "text_chunk_overlap",
    "datapipe",
    doc="Fixed-window document chunking with overlap (64-token chunks, "
    "stride 48 → 16-token overlap): long-document → training-context "
    "preprocessing. Pure projection + explode, zero shuffle "
    "(operators/text.py::chunk_documents).",
    oracle="""
        WITH toked AS (
            SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w
            FROM documents WHERE text IS NOT NULL),
        starts AS (
            SELECT doc_id, w, unnest(range(0, greatest(len(w), 1), 48))
                   AS start
            FROM toked)
        SELECT doc_id,
               CAST(start / 48 AS BIGINT) AS chunk_id,
               CAST(len(list_slice(w, start + 1, start + 64)) AS BIGINT)
                   AS n_tokens,
               array_to_string(list_slice(w, start + 1, start + 64), ' ')
                   AS chunk_text
        FROM starts
    """,
)
def text_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.chunk_documents(docs, chunk_tokens=64, stride=48)


@query(
    "multimodal_binary_meta",
    "datapipe",
    doc="Opaque-binary column plumbing: byte length + content key over "
    "text-as-blob (decode stubs for image/audio live in "
    "operators/multimodal.py; the Spark-side schema/partition shape "
    "is what's exercised here).",
    oracle="""
        SELECT doc_id,
               CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
               substr(md5(text), 1, 8) AS content_key
        FROM documents
    """,
)
def multimodal_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    blob = F.col("text").cast("binary")
    return docs.select(
        "doc_id",
        F.octet_length(blob).cast("long").alias("n_bytes"),
        F.substring(F.md5(blob), 1, 8).alias("content_key"),
    )


# --------------------------------------------------------------------------
# Event-time operators (batch form; streaming twins in streaming/)
# --------------------------------------------------------------------------


@query(
    "events_sessionize",
    "datapipe",
    doc="Sessionization (30-min gap) via lag + running-sum windows; one "
    "shuffle on user_id. Reference has zero stateful operators "
    "(SURVEY.md §2.10) — beyond-reference. Streaming twins: "
    "session_windows (native gap-merge, late-data + crash-restart "
    "bit-exact pin in tests/test_streaming.py) and "
    "stateful_sessionize (applyInPandasWithState).",
    oracle="""
        WITH flagged AS (
            SELECT user_id, event_id, ts, value,
                   CASE WHEN epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 1800000
                        THEN 1
                        WHEN lag(epoch_ms(ts)) OVER w IS NULL THEN 1
                        ELSE 0 END AS is_new
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        sess AS (
            SELECT user_id, event_id, ts, value,
                   CAST(sum(is_new) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id) AS BIGINT) AS session_id
            FROM flagged)
        SELECT user_id, session_id, count(*) AS n_events,
               sum(CAST(round(value * 10000) AS BIGINT)) / 10000.0
                 AS session_value,
               min(ts) AS session_start, max(ts) AS session_end
        FROM sess GROUP BY user_id, session_id
    """,
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return sessionize(events)


@query(
    "events_tumbling_window",
    "datapipe",
    doc="Tumbling 1-hour window aggregation by event_type (batch twin of "
    "the streaming windowed agg in streaming/pipeline.py).",
    oracle="""
        SELECT date_trunc('hour', ts) AS window_start, event_type,
               count(*) AS n,
               sum(CAST(round(value * 10000) AS BIGINT)) / 10000.0
                 AS total_value,
               floor(sum(CAST(round(value * 10000) AS BIGINT)) / count(*))
                 / 10000.0 AS avg_value
        FROM events GROUP BY date_trunc('hour', ts), event_type
    """,
)
def events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return tumbling_window_agg(events, "hour")


@query(
    "dedup_ngram_jaccard",
    "datapipe",
    doc="Exact n-gram Jaccard verification of the LSH candidate pairs — "
    "the standard two-stage near-dup shape: cheap banding join proposes, "
    "exact set-similarity disposes. The expensive token-set intersection "
    "runs only on |candidates| pairs, never all-pairs.",
    oracle=f"""
        WITH norm AS (SELECT doc_id, {_NORM} AS t FROM documents),
        tk AS (SELECT doc_id, string_split(t, ' ') AS w FROM norm),
        sh AS (SELECT doc_id,
                      CASE WHEN len(w) >= 3
                           THEN list_distinct(list_transform(
                                range(1, len(w) - 1),
                                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
                           ELSE [array_to_string(w, ' ')] END AS s
               FROM tk),
        {_MINHASH_PAIRS_CTE}
        SELECT p.doc_a, p.doc_b,
               round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                     / len(list_distinct(a.s || b.s)), 4) AS jaccard
        FROM pairs p, sh a, sh b
        WHERE a.doc_id = p.doc_a AND b.doc_id = p.doc_b
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(docs)


@query(
    "dedup_containment_pairs",
    "curation",
    doc="Asymmetric containment over the LSH candidates "
    "(operators/dedup.py::containment_pairs): C(A in B) = |A∩B|/|A| "
    "per 3-gram shingle set, both directions + Jaccard — the "
    "quote/subsumption detector a symmetric Jaccard gate misses (a "
    "short doc wrapped verbatim in a long one has Jaccard ~ |A|/|B| "
    "but containment ~ 1.0; the set-level screen for Lee et al.'s "
    "failure mode). Exact math on |candidates| pairs only; the "
    "banding-recall caveat for extreme size ratios is documented on "
    "the operator.",
    oracle=f"""
        WITH norm AS (SELECT doc_id, {_NORM} AS t FROM documents),
        tk AS (SELECT doc_id, string_split(t, ' ') AS w FROM norm),
        sh AS (SELECT doc_id,
                      CASE WHEN len(w) >= 3
                           THEN list_distinct(list_transform(
                                range(1, len(w) - 1),
                                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
                           ELSE [array_to_string(w, ' ')] END AS s
               FROM tk),
        {_MINHASH_PAIRS_CTE}
        SELECT p.doc_a, p.doc_b,
               round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                     / len(list_distinct(a.s || b.s)), 4) AS jaccard,
               round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                     / greatest(len(a.s), 1), 4) AS cont_a_in_b,
               round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                     / greatest(len(b.s), 1), 4) AS cont_b_in_a
        FROM pairs p, sh a, sh b
        WHERE a.doc_id = p.doc_a AND b.doc_id = p.doc_b
    """,
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.containment_pairs(docs)


@query(
    "dedup_containment_asym",
    "curation",
    doc="Asymmetric CONTAINMENT dedup with rarest-k shingle banding "
    "(operators/dedup.py::containment_pairs_asym): each doc probes the "
    "posting lists of its k rarest shingles, so a snippet wrapped in a "
    "10x larger page is PROPOSED (not just verifiable) even though its "
    "Jaccard is far below MinHash banding reach — closing the r06 "
    "blind spot. Fixture plants exactly that pair: the corpus's "
    "longest document plus a 9-word snippet of it (Jaccard ~0.08, "
    "containment 1.0). Proposal join bounded by k*max_df per doc; "
    "exact set math on candidates only; gate cont>=0.9 either "
    "direction.",
    oracle=f"""
        WITH big AS (SELECT doc_id, text FROM documents
                     ORDER BY n_chars DESC, doc_id LIMIT 1),
        snip AS (SELECT 1000000000 + doc_id AS doc_id,
                        array_to_string((string_split({_NORM}, ' '))[1:9],
                                        ' ') AS text
                 FROM big),
        docs_aug AS (SELECT doc_id, text FROM documents
                     UNION ALL SELECT doc_id, text FROM snip),
        ac_norm AS (SELECT doc_id, {_NORM} AS t FROM docs_aug),
        ac_tk AS (SELECT doc_id, string_split(t, ' ') AS w FROM ac_norm),
        ac_sh AS (SELECT doc_id,
                      CASE WHEN len(w) >= 3
                           THEN list_distinct(list_transform(
                                range(1, len(w) - 1),
                                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
                           ELSE [array_to_string(w, ' ')] END AS s
               FROM ac_tk),
        post AS (SELECT doc_id, unnest(s) AS sh FROM ac_sh),
        dfc AS (SELECT sh, count(*) AS df FROM post GROUP BY sh
                HAVING count(*) >= 2 AND count(*) <= {dedup.RARE_MAX_DF}),
        rare AS (SELECT doc_id, sh FROM (
                    SELECT p.doc_id, p.sh,
                           row_number() OVER (PARTITION BY p.doc_id
                                              ORDER BY d.df, p.sh) AS rk
                    FROM post p JOIN dfc d USING (sh))
                 WHERE rk <= {dedup.RARE_K}),
        apairs AS (SELECT DISTINCT
                        least(r.doc_id, p.doc_id) AS doc_a,
                        greatest(r.doc_id, p.doc_id) AS doc_b
                   FROM rare r JOIN post p USING (sh)
                   WHERE r.doc_id <> p.doc_id)
        SELECT * FROM (
            SELECT p.doc_a, p.doc_b,
                   round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                         / len(list_distinct(a.s || b.s)), 4) AS jaccard,
                   round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                         / greatest(len(a.s), 1), 4) AS cont_a_in_b,
                   round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                         / greatest(len(b.s), 1), 4) AS cont_b_in_a
            FROM apairs p, ac_sh a, ac_sh b
            WHERE a.doc_id = p.doc_a AND b.doc_id = p.doc_b)
        WHERE cont_a_in_b >= 0.9 OR cont_b_in_a >= 0.9
    """,
)
def dedup_containment_asym(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    snip = (
        docs.orderBy(F.col("n_chars").desc(), "doc_id")
        .limit(1)
        .select(
            (F.col("doc_id") + 1000000000).alias("doc_id"),
            F.array_join(
                F.slice(
                    F.split(
                        dedup.normalize_for_fingerprint(F.col("text")), " "
                    ),
                    1,
                    9,
                ),
                " ",
            ).alias("text"),
        )
    )
    aug = docs.select("doc_id", "text").unionByName(snip)
    return dedup.containment_pairs_asym(aug)


@query(
    "text_bpe_token_count",
    "datapipe",
    doc="BPE-ish tokenization: regex token classes (letters / digits / "
    "single punctuation) counted per doc — the pre-tokenizer shape of "
    "GPT-style BPE, pure JVM-side regexp_extract_all projection.",
    oracle="""
        SELECT doc_id,
               CAST(len(regexp_extract_all(text,
                    '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT)
                 AS bpe_tokens,
               CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT)
                 AS word_tokens,
               CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT)
                 AS num_tokens
        FROM documents
    """,
)
def text_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        text.bpe_piece_count(t).alias("bpe_tokens"),
        F.size(F.regexp_extract_all(t, F.lit(r"[A-Za-z]+"), F.lit(0)))
        .cast("long")
        .alias("word_tokens"),
        F.size(F.regexp_extract_all(t, F.lit(r"[0-9]+"), F.lit(0)))
        .cast("long")
        .alias("num_tokens"),
    )


@query(
    "pack_sequences",
    "datapipe",
    doc="Sequence packing: greedy next-fit binning of documents into "
    "512-token training sequences (operators/packing.py) — one "
    "doc-id-hash shuffle, then each partition packs independently with "
    "O(1) state via mapInPandas; pack ids are partition-prefixed so no "
    "coordination is needed. The exact pack assignment depends on the "
    "engine's hash partitioning (not SQL-expressible), so the query "
    "returns the packing's INVARIANT summary, every term of which the "
    "oracle derives from the corpus alone: each doc packed exactly "
    "once, token totals preserved, zero budget violations, oversize "
    "docs (token estimate > 512) isolated as singleton packs, and "
    "pack_pos dense 0..members-1 within every pack. Per-row assignment "
    "is exercised by tests/test_packing.py and the bench.",
    oracle="""
        SELECT CAST(count(*) AS BIGINT)                     AS n_docs,
               CAST(count(DISTINCT doc_id) AS BIGINT)       AS n_distinct_docs,
               CAST(SUM(CAST(FLOOR(n_chars / 4.0 + 1) AS BIGINT)) AS BIGINT)
                                                            AS total_tokens,
               CAST(SUM(CASE WHEN CAST(FLOOR(n_chars / 4.0 + 1) AS BIGINT)
                                  > 512 THEN 1 ELSE 0 END) AS BIGINT)
                                                            AS oversize_docs,
               CAST(0 AS BIGINT) AS budget_violations,
               CAST(0 AS BIGINT) AS oversize_nonsingleton,
               CAST(0 AS BIGINT) AS sparse_position_packs
        FROM documents
    """,
)
def pack_sequences_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tajo_spark.operators.packing import pack_sequences

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        # whitespace-token budget estimate: chars/4 (BPE-ish density)
        (F.col("n_chars") / 4 + 1).cast("long").alias("n_tokens"),
    )
    packed = pack_sequences(docs, max_tokens=512, num_partitions=32)
    per_pack = packed.groupBy("pack_id").agg(
        F.sum("n_tokens").alias("fill"),
        F.count(F.lit(1)).alias("members"),
        F.max(F.col("oversize").cast("int")).alias("has_oversize"),
        F.sum("pack_pos").alias("pos_sum"),
        F.max("pack_pos").alias("max_pos"),
        F.sum("n_tokens").alias("tok"),
        F.count_distinct("doc_id").alias("distinct_docs"),
    )
    return per_pack.agg(
        F.sum("members").cast("long").alias("n_docs"),
        F.sum("distinct_docs").cast("long").alias("n_distinct_docs"),
        F.sum("tok").cast("long").alias("total_tokens"),
        F.sum(
            F.when(F.col("has_oversize") == 1, F.col("members")).otherwise(0)
        )
        .cast("long")
        .alias("oversize_docs"),
        F.sum(
            F.when(
                (F.col("fill") > 512) & (F.col("has_oversize") == 0), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("budget_violations"),
        F.sum(
            F.when(
                (F.col("has_oversize") == 1) & (F.col("members") > 1), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("oversize_nonsingleton"),
        F.sum(
            F.when(
                (
                    F.col("pos_sum")
                    != (F.col("members") * (F.col("members") - 1) / 2)
                )
                | (F.col("max_pos") != F.col("members") - 1),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("sparse_position_packs"),
    )


@query(
    "agg_approx_distinct",
    "datapipe",
    doc="approx_count_distinct (HLL++) per event_type — no reference "
    "analogue (Tajo has no approximate aggregates, SURVEY.md §2.4); "
    "sketch-mergeable so the shuffle carries sketches, not values. The "
    "HLL estimate itself is engine-specific, so the driver-checked "
    "output is the exact count (hash-matched) plus the sketch's "
    "accuracy contract: estimate within 10% of exact (HLL++ default "
    "rsd is 5%).",
    oracle="""
        SELECT event_type,
               CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
               TRUE AS approx_ok
        FROM events GROUP BY event_type
    """,
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.count_distinct(F.col("user_id")).alias("exact_users"),
        (
            F.abs(
                F.approx_count_distinct("user_id")
                - F.count_distinct(F.col("user_id"))
            )
            <= 0.10 * F.count_distinct(F.col("user_id"))
        ).alias("approx_ok"),
    )


@query(
    "agg_approx_percentile",
    "datapipe",
    doc="approx_percentile (mergeable quantile sketch) per return flag — "
    "the 100 TB companion to agg_percentiles: exact percentile buffers "
    "every group value, the sketch ships constant-size partials through "
    "the shuffle. Sketch estimates are engine-specific, so the driver "
    "hash-checks the exact percentiles and the sketch's accuracy "
    "contract (within 1% of exact at accuracy=10000). Percentiles are "
    "computed over integer CENTS so interpolated midpoints are exact "
    "binary halves (k/2) — rounding a dollar midpoint like .245 is a "
    "float-representation coin flip between engines.",
    oracle="""
        SELECT l_returnflag,
               CAST(quantile_cont(CAST(round(l_extendedprice * 100, 0)
                                       AS BIGINT), 0.5) AS DOUBLE)
                   AS exact_p50_cents,
               CAST(quantile_cont(CAST(round(l_extendedprice * 100, 0)
                                       AS BIGINT), 0.9) AS DOUBLE)
                   AS exact_p90_cents,
               TRUE AS approx_ok
        FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "__cents", F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    )
    approx = F.percentile_approx(
        "__cents", F.array(F.lit(0.5), F.lit(0.9)), F.lit(10000)
    )
    exact = F.percentile("__cents", F.array(F.lit(0.5), F.lit(0.9)))
    return li.groupBy("l_returnflag").agg(
        exact[0].alias("exact_p50_cents"),
        exact[1].alias("exact_p90_cents"),
        (
            (F.abs(approx[0] - exact[0]) <= 0.01 * F.abs(exact[0]))
            & (F.abs(approx[1] - exact[1]) <= 0.01 * F.abs(exact[1]))
        ).alias("approx_ok"),
    )


@query(
    "sim_ivf_topk",
    "datapipe",
    doc="IVF ANN probe: KMeans centroids (seeded, distributed fit) + "
    "nprobe nearest-centroid candidate scan — the learned-partition "
    "scale path for ANN. The KMeans partition is not reproducible in "
    "SQL, so the query returns the probe's QUALITY CONTRACT instead of "
    "raw neighbors: the exact top-k leg is hash-checked numerically "
    "(count + mean cosine vs the oracle's brute-force SQL) and the IVF "
    "leg must recall >= 5 of the exact 10 at nprobe=2/8 (the full-probe "
    "== exact identity is pinned in tests/test_skew_ivf.py; raw "
    "neighbor output is exercised by sim_cosine_topk, which shares the "
    "scoring expressions).",
    oracle="""
        WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        scored AS (
            SELECT e.vec_id,
                   round(list_cosine_similarity(e.embedding, q.qv), 4)
                       AS cos_sim
            FROM embeddings e, q WHERE e.vec_id <> 0
        ),
        topk AS (
            SELECT vec_id, cos_sim FROM scored
            ORDER BY cos_sim DESC, vec_id LIMIT 10
        )
        SELECT CAST(count(*) AS BIGINT) AS n_exact,
               round(avg(cos_sim), 4)   AS exact_mean_cos,
               TRUE                     AS ivf_recall_ok
        FROM topk
    """,
)
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    ivf = similarity.ivf_topk(
        emb, query_vec_id=0, k=10, n_centroids=8, nprobe=2
    ).select(F.col("vec_id").alias("ivf_id"))
    exact = similarity.cosine_topk(emb, query_vec_id=0, k=10)
    hits = exact.join(ivf, exact["vec_id"] == ivf["ivf_id"], "left")
    return hits.agg(
        F.count(F.lit(1)).cast("long").alias("n_exact"),
        F.round(F.avg("cos_sim"), 4).alias("exact_mean_cos"),
        (F.count("ivf_id") >= 5).alias("ivf_recall_ok"),
    )


@query(
    "dedup_apply",
    "datapipe",
    doc="End-to-end dedup application: return the corpus with exact "
    "duplicates removed, keeping the lowest doc_id per content hash — "
    "the materialization step after candidate analysis. One shuffle on "
    "the fingerprint; survivors join back broadcast-free via semi-join "
    "on (fp, doc_id).",
    oracle="""
        WITH ranked AS (
            SELECT doc_id, source, lang, n_chars,
                   row_number() OVER (PARTITION BY md5(text)
                                      ORDER BY doc_id) AS rn
            FROM documents)
        SELECT doc_id, source, lang, CAST(n_chars AS BIGINT) AS n_chars
        FROM ranked WHERE rn = 1
    """,
)
def dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    ranked = docs.select(
        "doc_id",
        "source",
        "lang",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.row_number()
        .over(
            W.partitionBy(F.md5(F.col("text").cast("binary"))).orderBy("doc_id")
        )
        .alias("rn"),
    )
    return ranked.filter(F.col("rn") == 1).drop("rn")


@query(
    "sample_hash_split",
    "datapipe",
    doc="Reproducible train/val/test split from an md5-prefix bucket of "
    "the stable doc_id (operators/sampling.py::split_column) — pure "
    "per-row projection, no shuffle beyond the audit groupBy, identical "
    "membership on every engine/run/partitioning (unlike RNG sampling).",
    oracle="""
        WITH labeled AS (
            SELECT CASE
                     WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc'
                       THEN 'train'
                     WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
                       THEN 'val'
                     ELSE 'test' END AS split,
                   n_chars
            FROM documents)
        SELECT split, count(*) AS n_docs,
               round(avg(n_chars), 2) AS avg_chars
        FROM labeled GROUP BY split
    """,
)
def sample_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tajo_spark.operators import sampling

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            sampling.split_column(F.col("doc_id")).alias("split"), "n_chars"
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        )
    )


@query(
    "sample_deterministic_rows",
    "datapipe",
    doc="Row-level deterministic ~10% sample via 16-bit md5-prefix "
    "threshold (operators/sampling.py::deterministic_sample) — "
    "filter-only plan, reproducible row membership across engines.",
    oracle="""
        SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars
        FROM documents
        WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '1999'
    """,
)
def sample_deterministic_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tajo_spark.operators import sampling

    docs = load_table(spark, sf_dir, "documents")
    assert sampling.sample_threshold_hex(0.1) == "1999"
    return sampling.deterministic_sample(docs, "doc_id", 0.1).select(
        "doc_id", "source", F.col("n_chars").cast("long").alias("n_chars")
    )


@query(
    "sample_mixture",
    "datapipe",
    doc="Corpus-mixture construction: per-language keep rates (the "
    "Dolma/Pile mixing step — keep all English, half German/French, a "
    "quarter Spanish/Chinese) via the shared md5-prefix recipe "
    "(operators/sampling.py::mixture_sample). Pure per-row filter, no "
    "shuffle, reproducible membership across engines.",
    oracle="""
        SELECT doc_id, lang, source
        FROM documents
        WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
              CASE lang WHEN 'en' THEN 'g'
                        WHEN 'de' THEN '8000'
                        WHEN 'fr' THEN '8000'
                        WHEN 'es' THEN '4000'
                        WHEN 'zh' THEN '4000'
                        ELSE '028f' END
    """,
)
def sample_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tajo_spark.operators import sampling

    docs = load_table(spark, sf_dir, "documents")
    rates = {"en": 1.0, "de": 0.5, "fr": 0.5, "es": 0.25, "zh": 0.25}
    assert sampling.mixture_thresholds(rates) == {
        "en": "g", "de": "8000", "fr": "8000",
        "es": "4000", "zh": "4000",
    }
    return sampling.mixture_sample(
        docs, "doc_id", "lang", rates, default_rate=0.01
    ).select("doc_id", "lang", "source")


@query(
    "sample_global_shuffle",
    "datapipe",
    doc="Deterministic global shuffle: every document's position in the "
    "md5(seed:doc_id) permutation — reproducible epoch ordering for "
    "training (operators/sampling.py::global_shuffle_position). Scale "
    "path: per-hash-prefix-bucket row_number (parallel windows) + "
    "broadcast cumulative bucket offsets, never a single-partition "
    "global window.",
    oracle="""
        SELECT doc_id, lang,
               row_number() OVER (
                   ORDER BY md5('42:' || CAST(doc_id AS VARCHAR)), doc_id
               ) AS shuffle_pos
        FROM documents
    """,
)
def sample_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tajo_spark.operators import sampling

    docs = load_table(spark, sf_dir, "documents")
    return sampling.global_shuffle_position(docs, "doc_id", seed=42).select(
        "doc_id", "lang", "shuffle_pos"
    )


@query(
    "sample_weighted_reservoir",
    "curation",
    doc="Weighted sampling WITHOUT replacement (Efraimidis-Spirakis "
    "2006, operators/sampling.py::weighted_reservoir_sample): "
    "r = -ln(u)/w from the shared md5(seed:id) recipe (13 hex digits "
    "-> 52-bit uniform), k smallest r win — the quality/length-"
    "weighted subset selection a plain ORDER BY weight LIMIT k gets "
    "wrong (argmax has zero diversity). Key rounded to 9 dp before "
    "ranking on BOTH engines so libm ln() ulps can't flip the cut. "
    "Zero-shuffle projection + TakeOrderedAndProject; no global sort.",
    oracle="""
        SELECT doc_id, n_chars AS w,
               ROUND(-ln((CAST(concat('0x',
                        substr(md5('42:' || CAST(doc_id AS VARCHAR)),
                               1, 13)) AS BIGINT) + 1.0)
                         / 4503599627370496.0)
                     / n_chars, 9) AS es_key
        FROM documents
        WHERE n_chars IS NOT NULL AND n_chars > 0
        ORDER BY es_key, doc_id LIMIT 50
    """,
)
def sample_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tajo_spark.operators import sampling

    docs = load_table(spark, sf_dir, "documents")
    return sampling.weighted_reservoir_sample(
        docs, k=50, weight_col="n_chars", seed=42
    )


@query(
    "sample_weighted_reservoir_by",
    "curation",
    doc="Per-stratum weighted sampling without replacement "
    "(operators/sampling.py::weighted_reservoir_by): the Efraimidis-"
    "Spirakis key ranked WITHIN each language — 10 docs per lang, "
    "length-weighted; the stratified form a mixture pipeline wants "
    "(global sampling lets a dominant stratum crowd out the tail). "
    "Zero-shuffle key projection + ONE lang-keyed window shuffle, "
    "k rows out per group.",
    oracle="""
        WITH keyed AS (
            SELECT doc_id, lang AS grp, n_chars AS w,
                   ROUND(-ln((CAST(concat('0x',
                            substr(md5('42:' || CAST(doc_id AS VARCHAR)),
                                   1, 13)) AS BIGINT) + 1.0)
                             / 4503599627370496.0)
                         / n_chars, 9) AS es_key
            FROM documents
            WHERE n_chars IS NOT NULL AND n_chars > 0),
        ranked AS (
            SELECT *, row_number() OVER (
                       PARTITION BY grp ORDER BY es_key, doc_id) AS rn
            FROM keyed)
        SELECT doc_id, grp, w, es_key FROM ranked WHERE rn <= 10
    """,
)
def sample_weighted_reservoir_by(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from tajo_spark.operators import sampling

    docs = load_table(spark, sf_dir, "documents")
    return sampling.weighted_reservoir_by(
        docs, k_per_group=10, weight_col="n_chars", group_col="lang",
        seed=42,
    )


@query(
    "pipeline_corpus_prep_v6",
    "curation",
    doc="Round-6 composed curation pipeline: per-source boilerplate "
    "strip (all occurrences, reassembly) -> character-entropy gate on "
    "the CLEANED text (>= 3.0 bits) -> length-weighted Efraimidis-"
    "Spirakis reservoir (k=100, without replacement) with lang "
    "manifest columns. Stage economics: one chunk census + reassembly "
    "(the strip), one zero-shuffle entropy projection, one survivor "
    "localCheckpoint feeding both the sampler and the final "
    "projection, one TakeOrdered — nothing pairwise, no global sort. "
    "Every stage is individually hash-verified "
    "(text_boilerplate_strip / text_char_entropy / "
    "sample_weighted_reservoir); this pins their COMPOSITION.",
    oracle="""
        WITH toked AS (
            SELECT doc_id, source,
                   string_split_regex(trim(lower(text)), '\\s+') AS w
            FROM documents WHERE text IS NOT NULL),
        chunks AS (
            SELECT doc_id, source,
                   CAST(s / 10 AS BIGINT) AS chunk_id,
                   array_to_string(list_slice(w, s + 1, s + 10), ' ')
                       AS chunk_text
            FROM (SELECT doc_id, source, w,
                         unnest(range(0, greatest(len(w), 1), 10)) AS s
                  FROM toked)),
        boiler AS (
            SELECT source, md5(chunk_text) AS h
            FROM chunks GROUP BY source, md5(chunk_text)
            HAVING count(DISTINCT doc_id) >= 2),
        flagged AS (
            SELECT c.doc_id, c.chunk_id, c.chunk_text,
                   b.h IS NOT NULL AS is_b
            FROM chunks c LEFT JOIN boiler b
              ON c.source = b.source AND md5(c.chunk_text) = b.h),
        rebuilt AS (
            SELECT doc_id,
                   coalesce(array_to_string(
                       list(chunk_text ORDER BY chunk_id)
                           FILTER (WHERE NOT is_b), ' '), '')
                       AS clean_text
            FROM flagged GROUP BY doc_id),
        clean AS (
            SELECT r.doc_id, d.lang, r.clean_text
            FROM rebuilt r JOIN documents d USING (doc_id)
            WHERE length(r.clean_text) > 0),
        ent AS (
            SELECT doc_id,
                   ROUND(-list_aggregate(
                       list_transform(
                           uq,
                           ch -> (CAST(len(list_filter(cs, x -> x = ch))
                                       AS DOUBLE) / n)
                                 * log2(CAST(len(list_filter(cs,
                                             x -> x = ch))
                                             AS DOUBLE) / n)),
                       'sum'), 4) AS char_entropy
            FROM (SELECT doc_id, cs, list_sort(list_distinct(cs)) AS uq,
                         CAST(len(cs) AS DOUBLE) AS n
                  FROM (SELECT doc_id, string_split(clean_text, '') AS cs
                        FROM clean))),
        good AS (
            SELECT c.doc_id, c.lang,
                   CAST(length(c.clean_text) AS BIGINT) AS n_clean_chars,
                   e.char_entropy
            FROM clean c JOIN ent e USING (doc_id)
            WHERE e.char_entropy >= 3.0),
        keyed AS (
            SELECT *,
                   ROUND(-ln((CAST(concat('0x',
                            substr(md5('7:' || CAST(doc_id AS VARCHAR)),
                                   1, 13)) AS BIGINT) + 1.0)
                             / 4503599627370496.0)
                         / n_clean_chars, 9) AS es_key
            FROM good)
        SELECT doc_id, lang, n_clean_chars, char_entropy, es_key
        FROM keyed ORDER BY es_key, doc_id LIMIT 100
    """,
)
def pipeline_corpus_prep_v6(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tajo_spark.operators import sampling
    from tajo_spark.operators.dedup import boilerplate_strip
    from tajo_spark.operators.text import char_entropy

    docs = load_table(spark, sf_dir, "documents")
    stripped = boilerplate_strip(docs, chunk_tokens=10, min_docs=2)
    # stage boundary #1: the cleaned corpus feeds TWO subtrees (the
    # entropy scorer and the survivor join) — without materialization
    # the join is a self-join of the whole strip lineage and Catalyst's
    # project collapse inlines the reassembled text into the entropy
    # lambdas, re-evaluating them per element (measured: 124 s vs ~2 s
    # at sf0.01 for this one checkpoint)
    clean = (
        stripped.filter(F.length("clean_text") > 0)
        .join(docs.select("doc_id", "lang"), "doc_id")
        .select("doc_id", "lang", F.col("clean_text").alias("text"))
        .localCheckpoint()
    )
    # stage boundary #2: the entropy frame is FILTERED below — without
    # materialization, predicate pushdown substitutes the whole
    # entropy expression into the pushed condition (alias inlining is
    # unconditional on that path, unlike CollapseProject's use-once
    # rule), re-evaluating the interpreted HOF lambdas per element:
    # measured 133 s vs 2 s at sf0.01.  The frame is doc-count-sized
    # (4 narrow columns), so the checkpoint is cheap at any corpus.
    ent = char_entropy(clean).localCheckpoint()
    # stage boundary #3: the survivor table feeds BOTH the sampler's
    # key projection and the final manifest join.  Projected to its 4
    # consumed columns before materializing — an RDD checkpoint gets
    # no downstream column pruning, and `text` (the wide column) is
    # never read past this point (r13, the v7 treatment; guide §2.3)
    good = (
        clean.join(
            ent.filter(F.col("char_entropy") >= 3.0).select(
                "doc_id", "char_entropy"
            ),
            "doc_id",
        )
        .withColumn("n_clean_chars", F.length("text").cast("long"))
        .select("doc_id", "lang", "char_entropy", "n_clean_chars")
        .localCheckpoint()
    )
    sample = sampling.weighted_reservoir_sample(
        good, k=100, weight_col="n_clean_chars", seed=7
    )
    return (
        sample.join(
            good.select("doc_id", "lang", "char_entropy"), "doc_id"
        )
        .select(
            "doc_id",
            "lang",
            F.col("w").cast("long").alias("n_clean_chars"),
            "char_entropy",
            "es_key",
        )
        .orderBy("es_key", "doc_id")
    )


@query(
    "text_unigram_logprob",
    "datapipe",
    doc="Unigram-LM quality score: per-document average token "
    "log-probability under the corpus unigram distribution — the "
    "perplexity-style filter of LM data pipelines (low avg_logp = "
    "gibberish / rare-token soup). One corpus scan: per-doc term "
    "counts, corpus term frequencies aggregated FROM that lineage "
    "(never a re-scan), corpus total as a broadcast 1-row aggregate; "
    "the scoring join shuffles |distinct (doc,term)| rows, not "
    "|tokens|.",
    oracle="""
        WITH tok AS (
            SELECT doc_id,
                   unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
            FROM documents),
        dtf AS (SELECT doc_id, term, count(*) AS c
                FROM tok WHERE term <> '' GROUP BY doc_id, term),
        tf AS (SELECT term, sum(c) AS tf FROM dtf GROUP BY term),
        tot AS (SELECT sum(tf) AS n FROM tf)
        SELECT dtf.doc_id,
               round(sum(dtf.c * ln(tf.tf * 1.0 / tot.n)) / sum(dtf.c), 3)
                   AS avg_logp,
               CAST(sum(dtf.c) AS BIGINT) AS n_tokens
        FROM dtf JOIN tf USING (term) CROSS JOIN tot
        GROUP BY dtf.doc_id
    """,
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = dedup.spread_by(docs, "doc_id").select(
        "doc_id", F.explode(text.tokens(F.col("text"))).alias("term")
    ).filter(F.col("term") != "")
    dtf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("c"))
    tf = dtf.groupBy("term").agg(F.sum("c").alias("tf"))
    tot = tf.agg(F.sum("tf").alias("n"))
    return (
        dtf.join(tf, "term")
        .join(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(F.col("c") * F.log(F.col("tf") * 1.0 / F.col("n")))
                / F.sum("c"),
                3,
            ).alias("avg_logp"),
            F.sum("c").cast("long").alias("n_tokens"),
        )
    )


@query(
    "text_term_topk",
    "datapipe",
    doc="Corpus vocabulary: top-100 terms by term frequency with "
    "document frequency — explode tokens, one groupBy shuffle with "
    "map-side partial agg, TakeOrderedAndProject top-k (never a global "
    "sort). The vocab-building step of a tokenizer pipeline.",
    oracle="""
        WITH tok AS (
            SELECT doc_id,
                   unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
            FROM documents)
        SELECT term, count(*) AS tf, count(DISTINCT doc_id) AS df
        FROM tok WHERE term <> ''
        GROUP BY term ORDER BY tf DESC, term LIMIT 100
    """,
)
def text_term_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(text.tokens(F.col("text"))).alias("term")
    ).filter(F.col("term") != "")
    return (
        toks.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.countDistinct("doc_id").alias("df"),
        )
        .orderBy(F.desc("tf"), F.asc("term"))
        .limit(100)
    )


@query(
    "dedup_components",
    "datapipe",
    doc="Duplicate clusters: connected components over the MinHash+LSH "
    "candidate pairs (operators/graph.py::connected_components — "
    "iterative min-label propagation, lineage truncated per round). "
    "Cluster id = min doc_id, the canonical survivor. Oracle: DuckDB "
    "recursive CTE transitive closure (tractable at gate scale; the "
    "Spark loop is the 100 TB path).",
    oracle=f"""
        WITH RECURSIVE {_MINHASH_PAIRS_CTE},
        cc_edges AS (
            SELECT doc_a AS a, doc_b AS b FROM pairs
            UNION
            SELECT doc_b AS a, doc_a AS b FROM pairs),
        reach(node, label) AS (
            SELECT a, a FROM cc_edges
            UNION
            SELECT e.b, r.label FROM reach r JOIN cc_edges e ON e.a = r.node)
        SELECT node AS doc_id, min(label) AS component
        FROM reach GROUP BY node
    """,
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tajo_spark.operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_candidate_pairs(docs)
    return connected_components(pairs, assume_distinct=True).select(
        F.col("node").alias("doc_id"), "component"
    )


@query(
    "sketch_hist_quantiles",
    "curation",
    doc="Mergeable fixed-bin histogram -> distributed quantile "
    "estimates (operators/sketch.py::hist_build/hist_quantiles): the "
    "quantile member of the sketch family (Bloom: membership, CMS: "
    "frequency) — 64 equi-width cells over documents.n_chars, ONE "
    "bounded-key groupBy (map-side combined, fixed state regardless "
    "of corpus), then p25/p50/p90/p99 by cumulative window over the "
    "<= 64 AGGREGATE rows + within-bin linear interpolation. The "
    "two-phase idiom: the window never sees data rows. Estimator "
    "error bounded by one bin width; whole sketch oracle-replayable.",
    oracle="""
        WITH h AS (
            SELECT CAST(least(63, greatest(0, floor(n_chars / 10.0)))
                        AS INT) AS bin,
                   CAST(count(*) AS BIGINT) AS n
            FROM documents WHERE n_chars IS NOT NULL GROUP BY 1),
        c AS (SELECT bin, n, sum(n) OVER (ORDER BY bin) AS cum FROM h),
        t AS (SELECT sum(n) AS total FROM h),
        qs AS (SELECT unnest([0.25, 0.5, 0.9, 0.99]) AS q),
        tg AS (SELECT q, q * t.total AS rank FROM qs CROSS JOIN t),
        sp AS (
            SELECT tg.q, tg.rank, c.bin, c.cum, c.n,
                   row_number() OVER (PARTITION BY tg.q ORDER BY c.bin)
                       AS rn
            FROM tg JOIN c ON c.cum >= tg.rank)
        SELECT q,
               ROUND((bin + (rank - (cum - n)) / greatest(n, 1)) * 10.0,
                     4) AS est
        FROM sp WHERE rn = 1 ORDER BY q
    """,
)
def sketch_hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tajo_spark.operators.sketch import hist_build, hist_quantiles

    docs = load_table(spark, sf_dir, "documents")
    h = hist_build(docs, "n_chars", lo=0.0, hi=640.0, bins=64)
    return hist_quantiles(
        h, [0.25, 0.5, 0.9, 0.99], lo=0.0, hi=640.0, bins=64
    )


@query(
    "corpus_length_drift",
    "curation",
    doc="Distribution-level drift per language (operators/sketch.py::"
    "hist_build_by/hist_l1_drift): L1 distance between two snapshots' "
    "normalized length histograms — the regression count-level drift "
    "misses (same doc counts, shifted distribution = a parser/chunker "
    "bug). The per-bin terms sum as INTEGERS (|n_a*N_b - n_b*N_a|, "
    "one division at the end), so the metric is cross-engine "
    "hash-exact BY CONSTRUCTION, no rounding discipline needed on the "
    "sum. Bounded cell tables end to end. Demonstration snapshots "
    "match corpus_drift_report: doc_id%3!=0 (old) vs doc_id%2!=0 "
    "(new).",
    oracle="""
        WITH o AS (
            SELECT lang AS grp,
                   CAST(least(63, greatest(0, floor(n_chars / 10.0)))
                        AS INT) AS bin,
                   CAST(count(*) AS BIGINT) AS n
            FROM documents
            WHERE doc_id % 3 <> 0 AND n_chars IS NOT NULL
            GROUP BY 1, 2),
        nn AS (
            SELECT lang AS grp,
                   CAST(least(63, greatest(0, floor(n_chars / 10.0)))
                        AS INT) AS bin,
                   CAST(count(*) AS BIGINT) AS n
            FROM documents
            WHERE doc_id % 2 <> 0 AND n_chars IS NOT NULL
            GROUP BY 1, 2),
        ta AS (SELECT grp, sum(n) AS na_tot FROM o GROUP BY grp),
        tb AS (SELECT grp, sum(n) AS nb_tot FROM nn GROUP BY grp),
        cells AS (
            SELECT coalesce(o.grp, nn.grp) AS grp,
                   coalesce(o.bin, nn.bin) AS bin,
                   coalesce(o.n, 0) AS na, coalesce(nn.n, 0) AS nb
            FROM o FULL OUTER JOIN nn
              ON o.grp = nn.grp AND o.bin = nn.bin)
        SELECT c.grp AS lang,
               CAST(any_value(ta.na_tot) AS BIGINT) AS old_docs,
               CAST(any_value(tb.nb_tot) AS BIGINT) AS new_docs,
               ROUND(CAST(sum(abs(c.na * tb.nb_tot - c.nb * ta.na_tot))
                          AS DOUBLE)
                     / (any_value(ta.na_tot) * any_value(tb.nb_tot)), 6)
                   AS l1_drift
        FROM cells c JOIN ta ON ta.grp = c.grp JOIN tb ON tb.grp = c.grp
        GROUP BY c.grp ORDER BY lang
    """,
)
def corpus_length_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tajo_spark.operators.sketch import hist_build_by, hist_l1_drift

    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 3 != 0)
    new = docs.filter(F.col("doc_id") % 2 != 0)
    a = hist_build_by(old, "lang", "n_chars", lo=0.0, hi=640.0, bins=64)
    b = hist_build_by(new, "lang", "n_chars", lo=0.0, hi=640.0, bins=64)
    return (
        hist_l1_drift(a, b)
        .select(F.col("grp").alias("lang"), "old_docs", "new_docs",
                "l1_drift")
        .orderBy("lang")
    )


@query(
    "profile_user_skew",
    "curation",
    doc="Shuffle-key skew diagnostic (operators/skew.py::"
    "key_skew_report): head shares + exact Gini over events.user_id "
    "group sizes — the measurement that decides between plain "
    "groupBy, salted_agg, and AQE skew handling BEFORE a 100 TB job "
    "runs. ONE groupBy(key) shuffle; everything after runs on "
    "aggregate rows (one per distinct key). Gini via the sorted-rank "
    "identity, exact not sampled.",
    oracle="""
        WITH counts AS (
            SELECT user_id AS k, CAST(count(*) AS BIGINT) AS x
            FROM events GROUP BY user_id),
        ranked AS (
            SELECT x,
                   row_number() OVER (ORDER BY x ASC, k ASC) AS i,
                   row_number() OVER (ORDER BY x DESC, k ASC) AS r_desc
            FROM counts)
        SELECT CAST(count(*) AS BIGINT) AS n_keys,
               CAST(sum(x) AS BIGINT) AS n_rows,
               ROUND(sum(CASE WHEN r_desc = 1 THEN x ELSE 0 END)
                     * 1.0 / sum(x), 4) AS top1_share,
               ROUND(sum(CASE WHEN r_desc <= 10 THEN x ELSE 0 END)
                     * 1.0 / sum(x), 4) AS top10_share,
               ROUND(2.0 * sum(i * x) / (count(*) * sum(x))
                     - (count(*) + 1.0) / count(*), 4) AS gini
        FROM ranked
    """,
)
def profile_user_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tajo_spark.operators.skew import key_skew_report

    events = load_table(spark, sf_dir, "events")
    return key_skew_report(events, "user_id")


@query(
    "multimodal_jpeg_roundtrip",
    "curation",
    doc="REAL JPEG bytes through the production metadata pass: each "
    "doc synthesizes a deterministic image (dims derived from doc_id, "
    "odd ids gray, even ids RGB 4:2:0), encodes it with the stdlib "
    "baseline encoder (operators/jpeg.py) inside one Arrow "
    "mapInPandas stage, and image_metadata(fake=False) parses the "
    "bytes back via the sniff-dispatched header path — so the driver "
    "hash-checks the encoder's headers against the decoder's parse at "
    "200 distinct geometries, not just pytest fixtures. The oracle is "
    "the closed-form dim formulas.",
    oracle="""
        SELECT doc_id,
               CAST(16 + doc_id % 32 AS INT) AS width,
               CAST(16 + (doc_id * 7) % 24 AS INT) AS height,
               CAST(CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 1 END AS INT)
                   AS channels
        FROM documents WHERE doc_id < 200 ORDER BY doc_id
    """,
)
def multimodal_jpeg_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tajo_spark.operators.multimodal import image_metadata

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 200)
    )

    def gen(batches):
        import numpy as np
        import pandas as pd

        from tajo_spark.operators.jpeg import encode_jpeg

        for b in batches:
            rows = []
            for did in b["doc_id"]:
                did = int(did)
                w = 16 + did % 32
                h = 16 + (did * 7) % 24
                yy, xx = np.mgrid[0:h, 0:w]
                g = ((yy * 5 + xx * 3 + did) % 256).astype(np.uint8)
                if did % 2 == 0:
                    img = np.stack([g, 255 - g, g // 2], axis=2)
                    payload = encode_jpeg(img, quality=90, subsample=True)
                else:
                    payload = encode_jpeg(g, quality=90)
                rows.append((did, bytearray(payload)))
            yield pd.DataFrame(rows, columns=["doc_id", "content"])

    binary = docs.mapInPandas(gen, "doc_id LONG, content BINARY")
    return image_metadata(binary, fake=False).select(
        "doc_id", "width", "height", "channels"
    ).orderBy("doc_id")


@query(
    "multimodal_image_resize",
    "curation",
    doc="REAL resize stage end-to-end (operators/multimodal.py::"
    "resize_image fake=False): each doc synthesizes a deterministic "
    "gradient PNG (dims from doc_id), the production Arrow "
    "mapInPandas stage decodes it, block-mean downsamples to "
    "max_side=8 (codecs.block_mean_resize — exact integer area "
    "average), re-encodes PNG, and a second decode stage checksums "
    "the resized pixels. The oracle replays the whole arithmetic in "
    "pure SQL — scale/floor dim rule, floor-boundary block "
    "partition, per-block integer mean — via a number-table join, so "
    "the driver hash-checks 200 geometries of the real "
    "decode→resize→encode→decode path. Bounded work at every sf "
    "(doc_id < 200); payloads never transit a shuffle.",
    oracle="""
        WITH nums AS (SELECT r.range AS n FROM range(0, 64) r),
        dims AS (
            SELECT doc_id,
                   16 + doc_id % 32 AS w,
                   16 + (doc_id * 7) % 24 AS h,
                   GREATEST(1, CAST(FLOOR((16 + doc_id % 32)
                       * LEAST(1.0, 8.0 / GREATEST(16 + doc_id % 32,
                                  16 + (doc_id * 7) % 24))) AS INT)) AS rw,
                   GREATEST(1, CAST(FLOOR((16 + (doc_id * 7) % 24)
                       * LEAST(1.0, 8.0 / GREATEST(16 + doc_id % 32,
                                  16 + (doc_id * 7) % 24))) AS INT)) AS rh
            FROM documents WHERE doc_id < 200),
        blocks AS (
            SELECT d.doc_id, d.rw, d.rh, i.n AS i, j.n AS j,
                   (i.n * d.h) // d.rh AS y0,
                   ((i.n + 1) * d.h) // d.rh AS y1,
                   (j.n * d.w) // d.rw AS x0,
                   ((j.n + 1) * d.w) // d.rw AS x1
            FROM dims d
            JOIN nums i ON i.n < d.rh
            JOIN nums j ON j.n < d.rw),
        px AS (
            SELECT b.doc_id, b.rw, b.rh, b.i, b.j,
                   (b.y1 - b.y0) * (b.x1 - b.x0) AS area,
                   (y.n * 5 + x.n * 3 + b.doc_id) % 256 AS v
            FROM blocks b
            JOIN nums y ON y.n >= b.y0 AND y.n < b.y1
            JOIN nums x ON x.n >= b.x0 AND x.n < b.x1),
        m AS (
            SELECT doc_id, rw, rh, i, j, sum(v) // max(area) AS mean
            FROM px GROUP BY doc_id, rw, rh, i, j)
        SELECT doc_id,
               CAST(max(rw) AS INT) AS width,
               CAST(max(rh) AS INT) AS height,
               CAST(sum(mean) AS BIGINT) AS px_sum
        FROM m GROUP BY doc_id ORDER BY doc_id
    """,
)
def multimodal_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tajo_spark.operators.multimodal import resize_image

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 200)
    )

    def gen(batches):
        import numpy as np
        import pandas as pd

        from tajo_spark.operators.codecs import encode_png

        for b in batches:
            rows = []
            for did in b["doc_id"]:
                did = int(did)
                w = 16 + did % 32
                h = 16 + (did * 7) % 24
                yy, xx = np.mgrid[0:h, 0:w]
                g = ((yy * 5 + xx * 3 + did) % 256).astype(np.uint8)
                rows.append((did, bytearray(encode_png(g))))
            yield pd.DataFrame(rows, columns=["doc_id", "content"])

    binary = docs.mapInPandas(gen, "doc_id LONG, content BINARY")
    resized = resize_image(binary, max_side=8, fake=False)

    def sums(batches):
        import numpy as np
        import pandas as pd

        from tajo_spark.operators.codecs import decode_png

        for b in batches:
            rows = []
            for did, w, h, payload in zip(
                b["doc_id"], b["width"], b["height"], b["resized"]
            ):
                px = decode_png(bytes(payload))
                rows.append(
                    (int(did), int(w), int(h),
                     int(px.sum(dtype=np.int64)))
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "width", "height", "px_sum"]
            )

    out = resized.mapInPandas(
        sums, "doc_id LONG, width INT, height INT, px_sum LONG"
    )
    return out.orderBy("doc_id")


def _pagerank_oracle_iter(i: int) -> str:
    """One unrolled PageRank iteration of the graph_pagerank oracle."""
    return f"""
        s{i} AS (SELECT bi.b AS id, sum(p.pr / p.deg) AS s
                 FROM bi JOIN p{i} p ON p.id = bi.a GROUP BY bi.b),
        p{i + 1} AS (SELECT p.id, p.deg,
                        ROUND(0.15 / nn.n + 0.85 * coalesce(s.s, 0.0), 9)
                            AS pr
                     FROM p{i} p CROSS JOIN nn
                     LEFT JOIN s{i} s ON s.id = p.id)"""


@query(
    "graph_pagerank_neardup",
    "curation",
    doc="PageRank over the MinHash near-dup similarity graph "
    "(operators/graph.py::pagerank): centrality-weighted curation — "
    "high-rank documents sit at the center of dense duplication "
    "neighborhoods (syndication hubs, template sources). Fully "
    "oracle-replayable like sim_kmeans_lloyd: deterministic init "
    "(1/N), 3 unrolled iterations, ranks rounded to 9 dp at every "
    "update on BOTH engines so summation-order ulps never compound. "
    "Per iteration ONE rank-vs-edges shuffle join + a sum aggregate; "
    "node count rides as a broadcast 1-row frame; localCheckpoint per "
    "round keeps plan depth O(1). Zero driver collects.",
    oracle="WITH RECURSIVE "
    + _MINHASH_PAIRS_CTE
    + """,
        bi AS (SELECT doc_a AS a, doc_b AS b FROM pairs
               UNION ALL
               SELECT doc_b AS a, doc_a AS b FROM pairs),
        deg AS (SELECT a, count(*) AS deg FROM bi GROUP BY a),
        nn AS (SELECT count(*) AS n FROM deg),
        p0 AS (SELECT d.a AS id, d.deg, ROUND(1.0 / nn.n, 9) AS pr
               FROM deg d CROSS JOIN nn),"""
    + ",".join(_pagerank_oracle_iter(i) for i in range(3))
    + """
        SELECT id AS doc_id, ROUND(pr, 6) AS pagerank
        FROM p3 ORDER BY doc_id
    """,
)
def graph_pagerank_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tajo_spark.operators.graph import pagerank

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_candidate_pairs(docs)
    return (
        pagerank(pairs, n_iter=3)
        .select(F.col("node").alias("doc_id"), "pagerank")
        .orderBy("doc_id")
    )


@query(
    "dedup_best_by_centrality",
    "curation",
    doc="Centrality-based survivor choice: connected components over "
    "the near-dup graph, survivor = the member with the HIGHEST "
    "PageRank (ties -> lowest doc_id) — the centrality alternative to "
    "dedup_best_of_cluster's quality-score rule (the hub of a "
    "syndication cluster is usually the original). Composes "
    "graph.pagerank + graph.connected_components over ONE shared pair "
    "set (checkpointed — the banding pipeline executes once, feeding "
    "both iterative consumers); the argmax is one struct-max per "
    "component.",
    oracle="WITH RECURSIVE "
    + _MINHASH_PAIRS_CTE
    + """,
        bi AS (SELECT doc_a AS a, doc_b AS b FROM pairs
               UNION ALL
               SELECT doc_b AS a, doc_a AS b FROM pairs),
        deg AS (SELECT a, count(*) AS deg FROM bi GROUP BY a),
        nn AS (SELECT count(*) AS n FROM deg),
        p0 AS (SELECT d.a AS id, d.deg, ROUND(1.0 / nn.n, 9) AS pr
               FROM deg d CROSS JOIN nn),"""
    + ",".join(_pagerank_oracle_iter(i) for i in range(3))
    + """,
        cc_edges AS (
            SELECT doc_a AS a, doc_b AS b FROM pairs
            UNION
            SELECT doc_b AS a, doc_a AS b FROM pairs),
        reach(node, label) AS (
            SELECT a, a FROM cc_edges
            UNION
            SELECT e.b, r.label FROM reach r JOIN cc_edges e ON e.a = r.node),
        comp AS (SELECT node, min(label) AS component
                 FROM reach GROUP BY node),
        ranked AS (
            SELECT c.component, c.node, ROUND(p.pr, 6) AS pr6,
                   row_number() OVER (
                       PARTITION BY c.component
                       ORDER BY ROUND(p.pr, 6) DESC, c.node) AS rn
            FROM comp c JOIN p3 p ON p.id = c.node)
        SELECT component,
               CAST(count(*) AS BIGINT) AS n_members,
               max(CASE WHEN rn = 1 THEN node END) AS survivor,
               max(pr6) AS survivor_pr
        FROM ranked GROUP BY component ORDER BY component
    """,
)
def dedup_best_by_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tajo_spark.operators.graph import (
        _mirror,
        connected_components,
        pagerank,
    )

    docs = load_table(spark, sf_dir, "documents")
    # one banding pipeline feeds BOTH iterative consumers (components
    # and pagerank), and both consume the SAME mirrored edge list —
    # materialize the bidirected frame once and pass it to both (r12:
    # the r11 shape checkpointed pairs, then each consumer built and
    # checkpointed its own identical bidirected copy — 3
    # materializations of one ~2|E|-row graph).
    # explode-mirror (graph._mirror): ONE evaluation of the banding
    # pipeline inside the bi checkpoint job.  The r12 union-of-selects
    # shape referenced pairs twice and Catalyst does NOT reuse the
    # banding exchange across the differently-canonicalized branches
    # (ADVICE r12 #4, verified: 2 parquet scans / 6 exchanges / 0
    # ReusedExchange); the r13 interim fix checkpointed pairs first —
    # the explode mirror gets one-evaluation without that extra job.
    pairs = dedup.minhash_candidate_pairs(docs)
    bi = _mirror(pairs, "doc_a", "doc_b").localCheckpoint()
    comp = connected_components(pairs, prebidirected=bi, src="a", dst="b")
    pr = pagerank(pairs, n_iter=3, prebidirected=bi, src_col="a", dst_col="b")
    joined = comp.join(pr, "node")
    return (
        joined.groupBy("component")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.max(
                F.struct(
                    F.col("pagerank").alias("p"),
                    (-F.col("node")).alias("negid"),
                )
            ).alias("b"),
            F.round(F.max("pagerank"), 6).alias("survivor_pr"),
        )
        .select(
            "component",
            "n_members",
            (-F.col("b.negid")).cast("long").alias("survivor"),
            "survivor_pr",
        )
        .orderBy("component")
    )


@query(
    "dedup_apply_neardup",
    "datapipe",
    doc="End-to-end NEAR-dup dedup materialization — the full textbook "
    "pipeline composed: MinHash+LSH candidates → exact 3-gram Jaccard "
    "verify (≥0.8) → connected components over verified pairs → corpus "
    "minus non-canonical cluster members (survivor = min doc_id per "
    "component, transitively). Oracle: same stages in SQL with a "
    "recursive-CTE closure.",
    oracle=f"""
        WITH RECURSIVE {_MINHASH_PAIRS_CTE},
        vnorm AS (SELECT doc_id, {_NORM} AS t FROM documents),
        vtk AS (SELECT doc_id, string_split(t, ' ') AS w FROM vnorm),
        vsh AS (SELECT doc_id,
                      CASE WHEN len(w) >= 3
                           THEN list_distinct(list_transform(
                                range(1, len(w) - 1),
                                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
                           ELSE [array_to_string(w, ' ')] END AS s
               FROM vtk),
        vpairs AS (
            SELECT p.doc_a, p.doc_b
            FROM pairs p, vsh a, vsh b
            WHERE a.doc_id = p.doc_a AND b.doc_id = p.doc_b
              AND round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                        / len(list_distinct(a.s || b.s)), 4) >= 0.8),
        cc_edges AS (
            SELECT doc_a AS a, doc_b AS b FROM vpairs
            UNION
            SELECT doc_b AS a, doc_a AS b FROM vpairs),
        reach(node, label) AS (
            SELECT a, a FROM cc_edges
            UNION
            SELECT e.b, r.label FROM reach r JOIN cc_edges e ON e.a = r.node),
        removed AS (
            SELECT node AS doc_id FROM reach
            GROUP BY node HAVING min(label) <> node)
        SELECT d.doc_id, d.lang, d.source,
               CAST(d.n_chars AS BIGINT) AS n_chars
        FROM documents d LEFT JOIN removed r ON d.doc_id = r.doc_id
        WHERE r.doc_id IS NULL
    """,
)
def dedup_apply_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tajo_spark.operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    verified = (
        dedup.ngram_jaccard_pairs(docs)
        .filter(F.col("jaccard") >= 0.8)
        .select("doc_a", "doc_b")
    )
    comp = connected_components(verified, assume_distinct=True)
    removed = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    return docs.join(removed, "doc_id", "left_anti").select(
        "doc_id",
        "lang",
        "source",
        F.col("n_chars").cast("long").alias("n_chars"),
    )


@query(
    "pipeline_corpus_prep",
    "datapipe",
    doc="End-to-end corpus preparation — the operators composed the way "
    "a training-data pipeline runs them: exact-dedup survivors → "
    "language filter (stopword heuristic) → deterministic train/val/"
    "test split → per-split document/token accounting. One window "
    "shuffle + one aggregation shuffle; filters and the split label "
    "are pure projections.",
    oracle=f"""
        WITH ranked AS (
            SELECT doc_id, text, n_chars,
                   row_number() OVER (PARTITION BY md5(text)
                                      ORDER BY doc_id) AS rn
            FROM documents),
        keep AS (SELECT doc_id, text, n_chars FROM ranked WHERE rn = 1),
        en AS (
            SELECT doc_id, text, n_chars FROM keep
            WHERE len(list_filter({_TOKS}, x -> x IN ({_STOPS})))
                  / greatest(len({_TOKS}), 1) > 0.05),
        lab AS (
            SELECT CASE
                     WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc'
                       THEN 'train'
                     WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
                       THEN 'val'
                     ELSE 'test' END AS split,
                   len({_TOKS}) AS ntok, n_chars
            FROM en)
        SELECT split, count(*) AS n_docs,
               CAST(sum(ntok) AS BIGINT) AS total_tokens,
               round(avg(n_chars), 2) AS avg_chars
        FROM lab GROUP BY split
    """,
)
def pipeline_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from tajo_spark.operators import sampling

    docs = load_table(spark, sf_dir, "documents")
    ranked = docs.select(
        "doc_id",
        "text",
        "n_chars",
        F.row_number()
        .over(
            W.partitionBy(F.md5(F.col("text").cast("binary"))).orderBy("doc_id")
        )
        .alias("rn"),
    )
    keep = ranked.filter(F.col("rn") == 1)
    en = keep.filter(text.lang_id(F.col("text")) == "en")
    lab = en.select(
        sampling.split_column(F.col("doc_id")).alias("split"),
        text.token_count(F.col("text")).alias("ntok"),
        "n_chars",
    )
    return lab.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ntok").cast("long").alias("total_tokens"),
        F.round(F.avg("n_chars"), 2).alias("avg_chars"),
    )


@query(
    "sample_stratified_topk",
    "datapipe",
    doc="Exact stratified sample: precisely 20 documents per language, "
    "chosen by md5-hash order within each stratum — deterministic "
    "balanced subsets (eval-set construction). One window shuffle on "
    "the stratum key; the hash order makes the choice reproducible on "
    "any engine, unlike RNG sampling.",
    oracle="""
        WITH ranked AS (
            SELECT doc_id, lang,
                   row_number() OVER (
                     PARTITION BY lang
                     ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
            FROM documents)
        SELECT doc_id, lang FROM ranked WHERE rn <= 20
    """,
)
def sample_stratified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from tajo_spark.operators.sampling import id_md5

    docs = load_table(spark, sf_dir, "documents")
    w = W.partitionBy("lang").orderBy(id_md5(F.col("doc_id")), "doc_id")
    return (
        docs.select("doc_id", "lang", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 20)
        .drop("rn")
    )


# --------------------------------------------------------------------------
# Round-2 curation additions (category 'curation': queue behind the
# round-1 driver-verification backlog in registry order)
# --------------------------------------------------------------------------


def _clf_oracle() -> str:
    w = text.CLF_WEIGHTS
    return f"""
        WITH t AS (SELECT doc_id, source, text, {_TOKS} AS toks
                   FROM documents),
        feats AS (SELECT doc_id, source,
               ln(1.0 + len(toks)) AS log_tokens,
               len(list_filter(toks, x -> x IN ({_STOPS})))
                 / greatest(len(toks), 1) AS sw,
               list_aggregate(list_transform(toks, x -> length(x)), 'sum')
                 / greatest(len(toks), 1) AS atl,
               (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))
                 * 1.0 / greatest(length(text), 1) AS pr,
               (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
                 * 1.0 / greatest(length(text), 1) AS dr
              FROM t),
        scored AS (SELECT doc_id, source,
               round(1.0 / (1.0 + exp(-({w['bias']}
                   + log_tokens * {w['log_tokens']}
                   + sw * {w['stopword_ratio']}
                   + atl * {w['avg_token_len']}
                   + pr * {w['punct_ratio']}
                   + dr * {w['digit_ratio']}))), 4) AS clf_score
              FROM feats)
        SELECT doc_id, source, clf_score,
               clf_score >= 0.5 AS keep
        FROM scored
    """


@query(
    "text_quality_classifier",
    "curation",
    doc="Learned-linear quality classifier: sigmoid(w.x) over engineered "
    "features (log tokens, stopword/punct/digit ratios, token length) "
    "with deterministic weights — the fasttext-style model-scoring "
    "stage of corpus curation as a pure per-row JVM projection (a "
    "production model swaps the weight constants, not the plan).",
    oracle=_clf_oracle(),
)
def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    score = text.quality_classifier_score(F.col("text"))
    return docs.select(
        "doc_id",
        "source",
        score.alias("clf_score"),
        (score >= 0.5).alias("keep"),
    )


@query(
    "dedup_span_ngrams",
    "curation",
    doc="Exact duplicated-substring spans at 8-token granularity "
    "(operators/dedup.py::dup_span_stats — the distributed stand-in "
    "for Lee et al.'s suffix-array pass): per document, how many "
    "sliding k-token windows are shared verbatim with another "
    "document. One span-hash shuffle, nothing quadratic.",
    oracle=f"""
        WITH t AS (SELECT doc_id, {_TOKS} AS w FROM documents),
        sp AS (SELECT doc_id, unnest(
                   CASE WHEN len(w) >= 8
                        THEN list_transform(range(1, len(w) - 6),
                             i -> md5(array_to_string(w[i:i+7], ' ')))
                        ELSE CAST([] AS VARCHAR[]) END) AS sk
               FROM t),
        g AS (SELECT sk, count(DISTINCT doc_id) AS nd FROM sp GROUP BY sk),
        d AS (SELECT sp.doc_id,
                     count(*) AS n_spans,
                     sum(CASE WHEN g.nd > 1 THEN 1 ELSE 0 END) AS n_dup
              FROM sp JOIN g USING (sk) GROUP BY sp.doc_id)
        SELECT doc_id,
               CAST(coalesce(d.n_spans, 0) AS BIGINT) AS n_spans,
               CAST(coalesce(d.n_dup, 0) AS BIGINT) AS n_dup_spans,
               round(coalesce(d.n_dup, 0) * 1.0
                     / greatest(coalesce(d.n_spans, 0), 1), 4)
                   AS dup_span_ratio
        FROM documents LEFT JOIN d USING (doc_id)
    """,
)
def dedup_span_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.dup_span_stats(docs)


@query(
    "sample_temperature_mixture",
    "curation",
    doc="Temperature-flattened language mixing (share^(1/T) sampling, "
    "T=2): rare languages kept in full, the dominant one "
    "deterministically downsampled via the shared md5-prefix recipe "
    "(operators/sampling.py::temperature_mixture_sample). Histogram + "
    "rate computation are metadata-sized; the filter is per-row.",
    oracle="""
        WITH c AS (SELECT lang, count(*) AS n FROM documents
                   WHERE lang IS NOT NULL GROUP BY lang),
        b AS (SELECT lang, n,
                     pow(n * 1.0 / (SELECT sum(n) FROM c), 1.0/2 - 1)
                         AS boost
              FROM c),
        r AS (SELECT lang,
                     round(boost / (SELECT max(boost) FROM b), 6)
                         AS keep_rate
              FROM b),
        thr AS (SELECT lang, keep_rate,
                       CASE WHEN keep_rate >= 1.0 THEN 'g'
                            ELSE lpad(lower(to_hex(CAST(floor(
                                     keep_rate * 65536) AS INT))), 4, '0')
                       END AS t
                FROM r)
        SELECT d.doc_id, d.lang, thr.keep_rate
        FROM documents d JOIN thr USING (lang)
        WHERE substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4) < thr.t
    """,
)
def sample_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tajo_spark.operators.sampling import temperature_mixture_sample

    docs = load_table(spark, sf_dir, "documents")
    return temperature_mixture_sample(
        docs, "doc_id", "lang", temperature=2.0
    ).select("doc_id", "lang", "keep_rate")


@query(
    "dedup_components_star",
    "curation",
    doc="Connected components via alternating large-star/small-star "
    "(operators/graph.py::connected_components_star — O(log n) rounds "
    "on ANY graph shape, the adversarial-diameter escape hatch for the "
    "min-label variant) over the MinHash candidate pairs; identical "
    "(node, component) contract to dedup_components, so the same "
    "transitive-closure oracle checks both.",
    oracle=f"""
        WITH RECURSIVE {_MINHASH_PAIRS_CTE},
        cc_edges AS (
            SELECT doc_a AS a, doc_b AS b FROM pairs
            UNION
            SELECT doc_b AS a, doc_a AS b FROM pairs),
        reach(node, label) AS (
            SELECT a, a FROM cc_edges
            UNION
            SELECT e.b, r.label FROM reach r JOIN cc_edges e ON e.a = r.node)
        SELECT node AS doc_id, min(label) AS component
        FROM reach GROUP BY node
    """,
)
def dedup_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tajo_spark.operators.graph import connected_components_star

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_candidate_pairs(docs)
    return connected_components_star(pairs).select(
        F.col("node").alias("doc_id"), "component"
    )


def _clf_z_sql() -> str:
    """Classifier logit over a relation exposing (text) — mirror of
    text.quality_classifier_score for composition into larger oracles."""
    w = text.CLF_WEIGHTS
    return f"""({w['bias']}
        + ln(1.0 + len({_TOKS})) * {w['log_tokens']}
        + (len(list_filter({_TOKS}, x -> x IN ({_STOPS})))
           / greatest(len({_TOKS}), 1)) * {w['stopword_ratio']}
        + (list_aggregate(list_transform({_TOKS}, x -> length(x)), 'sum')
           / greatest(len({_TOKS}), 1)) * {w['avg_token_len']}
        + ((length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))
           * 1.0 / greatest(length(text), 1)) * {w['punct_ratio']}
        + ((length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
           * 1.0 / greatest(length(text), 1)) * {w['digit_ratio']})"""


@query(
    "pipeline_corpus_prep_v2",
    "curation",
    doc="Round-2 curation pipeline composed end-to-end the way an LLM "
    "data run executes it: learned quality filter (keep score >= 0.5) "
    "→ verbatim-span trim (drop docs whose 8-token windows are >50% "
    "duplicated within the surviving corpus) → temperature-flattened "
    "language mixing (T=2) → per-language manifest. Stage economics: "
    "classifier is a projection; span stats one hash shuffle; mixture "
    "histogram metadata-sized; manifest one agg shuffle.",
    oracle=f"""
        WITH q AS (
            SELECT doc_id, text, lang,
                   round(1.0 / (1.0 + exp(-{_clf_z_sql()})), 4) AS s
            FROM documents),
        kept AS (SELECT doc_id, text, lang FROM q WHERE s >= 0.5),
        tk AS (SELECT doc_id, {_TOKS} AS w FROM kept),
        sp AS (SELECT doc_id, unnest(
                   CASE WHEN len(w) >= 8
                        THEN list_transform(range(1, len(w) - 6),
                             i -> md5(array_to_string(w[i:i+7], ' ')))
                        ELSE CAST([] AS VARCHAR[]) END) AS sk
               FROM tk),
        g AS (SELECT sk, count(DISTINCT doc_id) AS nd FROM sp GROUP BY sk),
        ratio AS (SELECT sp.doc_id,
                         sum(CASE WHEN g.nd > 1 THEN 1 ELSE 0 END)
                             * 1.0 / count(*) AS r
                  FROM sp JOIN g USING (sk) GROUP BY sp.doc_id),
        good AS (SELECT kept.doc_id, kept.text, kept.lang
                 FROM kept LEFT JOIN ratio USING (doc_id)
                 WHERE coalesce(ratio.r, 0) <= 0.5),
        c AS (SELECT lang, count(*) AS n FROM good GROUP BY lang),
        b AS (SELECT lang,
                     pow(n * 1.0 / (SELECT sum(n) FROM c), 1.0/2 - 1)
                         AS boost
              FROM c),
        r AS (SELECT lang,
                     round(boost / (SELECT max(boost) FROM b), 6)
                         AS keep_rate
              FROM b),
        thr AS (SELECT lang, keep_rate,
                       CASE WHEN keep_rate >= 1.0 THEN 'g'
                            ELSE lpad(lower(to_hex(CAST(floor(
                                     keep_rate * 65536) AS INT))), 4, '0')
                       END AS t
                FROM r),
        mixed AS (
            SELECT good.doc_id, good.text, good.lang, thr.keep_rate
            FROM good JOIN thr USING (lang)
            WHERE substr(md5(CAST(good.doc_id AS VARCHAR)), 1, 4) < thr.t)
        SELECT lang, count(*) AS n_docs,
               CAST(sum(len({_TOKS})) AS BIGINT) AS total_tokens,
               round(any_value(keep_rate), 6) AS keep_rate
        FROM mixed GROUP BY lang
    """,
)
def pipeline_corpus_prep_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tajo_spark.operators.sampling import temperature_mixture_sample

    docs = load_table(spark, sf_dir, "documents")
    # materialize the classifier survivors ONCE: four consumers read
    # this stage (both sides of the span-hash join, the survivor
    # semi-join, the mixture) and would each re-run the classifier
    # scan otherwise — this is the natural stage boundary a production
    # pipeline persists between curation steps
    kept = (
        docs.filter(text.quality_classifier_score(F.col("text")) >= 0.5)
        .select("doc_id", "text", "lang")
        .localCheckpoint()
    )
    # span stats over the SURVIVING corpus (a doc's duplication ratio is
    # relative to what remains, exactly as the pipeline would run it)
    trim = (
        dedup.dup_span_stats(kept)
        .filter(F.col("dup_span_ratio") <= 0.5)
        .select("doc_id")
    )
    # second stage boundary: the mixture reads its input twice (stratum
    # histogram + the filtered side), which would re-run the span
    # verification per read.  (r13 measured-and-rejected: projecting
    # this checkpoint to (doc_id, lang, token_count(text)) — the v6/v7
    # narrow-checkpoint treatment — is ~0.3 s WORSE here: unlike
    # v6/v7, `text` IS consumed downstream, so the prune trades a
    # local byte copy of text for a full tokenize of every survivor,
    # while the old shape tokenizes only the sampled subset at the
    # final agg.  Keep the wide checkpoint.)
    good = kept.join(trim, "doc_id", "left_semi").localCheckpoint()
    mixed = temperature_mixture_sample(good, "doc_id", "lang", 2.0)
    return mixed.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(text.token_count(F.col("text"))).cast("long").alias(
            "total_tokens"
        ),
        F.round(F.first("keep_rate"), 6).alias("keep_rate"),
    )


@query(
    "dedup_incremental",
    "curation",
    doc="Continuous-ingest near-dup dedup: documents with doc_id < 250 "
    "are the signed corpus (banded minhash keys persisted to a "
    "band-partitioned parquet store, operators/dedup.py::"
    "write_signature_store); the rest arrive as a new batch and probe "
    "the STORE — one (band_id, band_hash) equi-join + in-batch bucket "
    "pairs, corpus text never re-read, cost O(|batch|). Oracle: the "
    "greedy drop-on-candidate rule recomputed over the full corpus, "
    "restricted to batch rows — the incremental path must reproduce "
    "the batch answer exactly.",
    oracle=f"""
        WITH {_MINHASH_PAIRS_CTE}
        SELECT d.doc_id, d.lang, d.source
        FROM documents d
        WHERE d.doc_id >= 250
          AND NOT EXISTS (
              SELECT 1 FROM pairs p WHERE p.doc_b = d.doc_id)
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os
    import shutil
    import tempfile

    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") < 250)
    new = docs.filter(F.col("doc_id") >= 250)
    # stable per-sf_dir staging dir, wiped before reuse: repeated
    # bench/driver invocations overwrite ONE directory instead of
    # leaking a fresh mkdtemp per run
    base = os.path.join(
        tempfile.gettempdir(),
        "tajo_spark_sigstore_"
        + hashlib.md5(sf_dir.encode()).hexdigest()[:12],
    )
    shutil.rmtree(base, ignore_errors=True)
    store_path = base + "/store"
    dedup.write_signature_store(old, store_path)
    store = load_parquet(spark, store_path)
    return dedup.incremental_dedup_apply(new, store).select(
        "doc_id", "lang", "source"
    )


def _hexval(expr: str) -> str:
    return f"(strpos('0123456789abcdef', {expr}) - 1)"


@query(
    "multimodal_image_stats",
    "curation",
    doc="Image decode pipeline summary: the Arrow mapInPandas decode "
    "stage (operators/multimodal.py::image_metadata, deterministic "
    "fake decoder — dims from the content hash) rolled up by channel "
    "count. The oracle recomputes the decoder's arithmetic in pure SQL "
    "from the same md5, so the whole Python-batch path (schema, "
    "batching, hash identity) is hash-checked, not just row-counted.",
    oracle=f"""
        WITH img AS (
            SELECT doc_id,
                   octet_length(CAST(text AS BLOB)) AS n_bytes,
                   md5(text) AS h
            FROM documents),
        dims AS (
            SELECT doc_id, n_bytes,
                   64 + ({_hexval("substr(h, 1, 1)")} * 16
                         + {_hexval("substr(h, 2, 1)")}) % 192 AS width,
                   64 + ({_hexval("substr(h, 3, 1)")} * 16
                         + {_hexval("substr(h, 4, 1)")}) % 192 AS height,
                   1 + ({_hexval("substr(h, 5, 1)")} * 16
                        + {_hexval("substr(h, 6, 1)")}) % 3 AS channels
            FROM img)
        SELECT CAST(channels AS INT) AS channels,
               count(*) AS n_images,
               round(avg(width), 2)  AS avg_width,
               round(avg(height), 2) AS avg_height,
               CAST(sum(n_bytes) AS BIGINT) AS total_bytes
        FROM dims GROUP BY channels
    """,
)
def multimodal_image_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tajo_spark.operators import multimodal

    docs = load_table(spark, sf_dir, "documents")
    imgs = multimodal.image_metadata(multimodal.attach_binary(docs))
    return imgs.groupBy(F.col("channels").cast("int").alias("channels")).agg(
        F.count(F.lit(1)).alias("n_images"),
        F.round(F.avg("width"), 2).alias("avg_width"),
        F.round(F.avg("height"), 2).alias("avg_height"),
        F.sum("n_bytes").cast("long").alias("total_bytes"),
    )


@query(
    "multimodal_audio_stats",
    "curation",
    doc="Audio decode pipeline summary by sample rate: the Arrow "
    "mapInPandas decode stage (operators/multimodal.py::audio_metadata, "
    "deterministic fake decoder — rate/samples from the content hash) "
    "value-checked against a pure-SQL recomputation of the decoder's "
    "arithmetic. Integer-only outputs, so no cross-engine float "
    "rounding surface at all.",
    oracle="""
        WITH a AS (
            SELECT doc_id,
                   octet_length(CAST(text AS BLOB)) AS n_bytes,
                   md5(text) AS h
            FROM documents),
        dec AS (
            SELECT doc_id, n_bytes,
                   (ARRAY[8000, 16000, 44100, 48000])
                       [1 + CAST('0x' || substr(h, 1, 2) AS INT) % 4]
                       AS sample_rate,
                   1000 + CAST('0x' || substr(h, 3, 6) AS INT) % 100000
                       AS n_samples
            FROM a)
        SELECT CAST(sample_rate AS INT) AS sample_rate,
               count(*) AS n_clips,
               CAST(sum(n_samples) AS BIGINT) AS total_samples,
               CAST(sum(n_bytes) AS BIGINT) AS total_bytes
        FROM dec GROUP BY sample_rate
    """,
)
def multimodal_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tajo_spark.operators import multimodal

    docs = load_table(spark, sf_dir, "documents")
    clips = multimodal.audio_metadata(multimodal.attach_binary(docs))
    return clips.groupBy(
        F.col("sample_rate").cast("int").alias("sample_rate")
    ).agg(
        F.count(F.lit(1)).alias("n_clips"),
        F.sum("n_samples").cast("long").alias("total_samples"),
        F.sum("n_bytes").cast("long").alias("total_bytes"),
    )


@query(
    "multimodal_video_frames",
    "curation",
    doc="Video frame-sampling stage (operators/multimodal.py::"
    "sample_frames): one row per sampled frame, fan-out happening "
    "executor-side inside the Arrow mapInPandas batch — frames never "
    "explode through a shuffle. Deterministic stub codec (frame count "
    "from payload size, frame key from the content hash + timestamp "
    "offset); the oracle re-derives the full per-frame row set in "
    "pure SQL, so batch shape, fan-out arithmetic, and hash identity "
    "are all value-checked.",
    oracle="""
        WITH v AS (
            SELECT doc_id,
                   octet_length(CAST(text AS BLOB)) AS n_bytes,
                   substr(md5(text), 1, 8) AS key
            FROM documents),
        f AS (
            SELECT doc_id, key,
                   CAST(least(8, 1 + n_bytes // 10) AS INT) AS n_frames
            FROM v)
        SELECT doc_id,
               CAST(unnest(generate_series(0, n_frames - 1)) AS INT)
                   AS frame_idx,
               key AS k8, n_frames
        FROM f
    """,
)
def multimodal_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tajo_spark.operators import multimodal

    docs = load_table(spark, sf_dir, "documents")
    frames = multimodal.sample_frames(multimodal.attach_binary(docs))
    # expose the hash and the per-doc fan-out explicitly so the oracle
    # hash-checks the frame key's two components (md5 prefix + offset)
    per_doc = frames.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_frames")
    )
    return (
        frames.join(per_doc, "doc_id")
        .select(
            "doc_id",
            "frame_idx",
            F.split(F.col("frame_key"), ":").getItem(0).alias("k8"),
            "n_frames",
        )
        .filter(
            # offset component must equal frame_idx * every_n — fold the
            # invariant into the result so a key-arithmetic bug changes
            # row counts, not just values
            F.split(F.col("frame_key"), ":").getItem(1).cast("int")
            == F.col("frame_idx") * 10
        )
    )


@query(
    "multimodal_phash_neardup",
    "curation",
    doc="Perceptual-hash image near-dup detection (operators/phash.py): "
    "64-bit block-mean hash as 4x16-bit bands (one Arrow map pass, "
    "integer-exact bit rule), banded Hamming-LSH candidate join (ONE "
    "shuffle on (band_idx, band_val); pigeonhole makes banding "
    "LOSSLESS at hamming <= 3), exact popcount verify. Demonstration "
    "corpus: each doc unioned with a first/last-char-swapped twin — "
    "the swap preserves the total so only the two affected blocks can "
    "flip (twin hamming <= 2 by construction), giving a deterministic "
    "nonzero pair set the O(n^2) oracle reproduces bit-for-bit. The "
    "corpus is ASCII (verified all SFs) so byte values == ord() "
    "code points across engines.",
    oracle="""
        WITH twins AS (
            SELECT doc_id, text FROM documents WHERE length(text) >= 64
            UNION ALL
            SELECT doc_id + 1000000,
                   substring(text, length(text), 1)
                     || substring(text, 2, length(text) - 2)
                     || substring(text, 1, 1)
            FROM documents WHERE length(text) >= 64),
        codes AS (
            SELECT doc_id,
                   [ord(substring(text, i, 1))
                    for i in range(1, length(text) + 1)] AS cs
            FROM twins),
        sized AS (
            SELECT doc_id, cs, len(cs) AS n,
                   CAST(list_sum(cs) AS BIGINT) AS tot
            FROM codes),
        bands AS (
            SELECT doc_id,
              [ CAST(list_sum([(CASE WHEN
                  CAST(list_sum(list_slice(cs, (b*n)//64 + 1,
                                           ((b+1)*n)//64)) AS BIGINT) * n
                    > tot * (((b+1)*n)//64 - (b*n)//64)
                  THEN 1 ELSE 0 END) * (1 << (15 - (b % 16)))
                  for b in range(g*16, (g+1)*16)]) AS INTEGER)
                for g in range(0, 4)] AS bv
            FROM sized),
        pairs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              CAST(bit_count(xor(a.bv[1]::BIGINT, b.bv[1]::BIGINT))
                 + bit_count(xor(a.bv[2]::BIGINT, b.bv[2]::BIGINT))
                 + bit_count(xor(a.bv[3]::BIGINT, b.bv[3]::BIGINT))
                 + bit_count(xor(a.bv[4]::BIGINT, b.bv[4]::BIGINT))
                AS INTEGER) AS hamming
            FROM bands a JOIN bands b ON a.doc_id < b.doc_id)
        SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= 3
    """,
)
def multimodal_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tajo_spark.operators import multimodal, phash

    docs = load_table(spark, sf_dir, "documents").filter(
        F.length("text") >= 64
    )
    twins = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.expr(
            "concat(substring(text, length(text), 1), "
            "substring(text, 2, length(text) - 2), "
            "substring(text, 1, 1))"
        ).alias("text"),
    )
    corpus = docs.select("doc_id", "text").unionByName(twins)
    hashes = phash.image_blockhash(multimodal.attach_binary(corpus))
    return phash.phash_neardup_pairs(hashes, max_hamming=3)


@query(
    "text_gopher_rules",
    "curation",
    doc="Gopher quality-rule audit (Rae et al. 2021 table A1, public "
    "paper; operators/text.py::gopher_quality): per-document named "
    "rule flags — word count, mean word length, alphabetic-word "
    "ratio, symbol ratio, stopword presence — plus the conjunction. "
    "Pure per-row projection (split once, fold the token array), "
    "zero shuffle; ratio rules are cross-multiplied integers so "
    "every engine agrees at the exact boundary. The synthetic "
    "word-soup corpus fails the stopword-presence test wholesale — "
    "that IS the rule working (it exists to reject non-prose); the "
    "per-rule flags carry the signal (223/500 also fail word count "
    "at sf0.01), and tests/test_text_pipeline.py pins rule-by-rule "
    "discrimination on adversarial docs.",
    oracle="""
        WITH toked AS (
            SELECT doc_id,
                   string_split_regex(trim(lower(text)), '\\s+') AS w
            FROM documents WHERE text IS NOT NULL),
        m AS (
            SELECT doc_id, w,
                   CAST(len(w) AS BIGINT) AS n,
                   CAST(list_sum(list_transform(w, x -> length(x)))
                        AS BIGINT) AS total_len,
                   CAST(len(list_filter(w,
                        x -> regexp_matches(x, '[a-z]'))) AS BIGINT)
                       AS alpha,
                   CAST(len(list_filter(w,
                        x -> contains(x, '#') OR contains(x, '...')))
                        AS BIGINT) AS symbolish,
                   CAST(len(list_intersect(list_distinct(w),
                        ['the','be','to','of','and','that','have','with']))
                        AS BIGINT) AS stop_hits
            FROM toked)
        SELECT doc_id,
               n AS n_words,
               round(total_len / n, 4) AS mean_word_len,
               (n >= 50 AND n <= 100000) AS rule_word_count,
               (total_len / n >= 3 AND total_len / n <= 10)
                   AS rule_mean_len,
               alpha * 10 >= n * 8 AS rule_alpha,
               symbolish * 10 < n AS rule_symbol,
               stop_hits >= 2 AS rule_stopwords,
               ((n >= 50 AND n <= 100000)
                AND (total_len / n >= 3 AND total_len / n <= 10)
                AND alpha * 10 >= n * 8
                AND symbolish * 10 < n
                AND stop_hits >= 2) AS passes_gopher
        FROM m
    """,
)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tajo_spark.operators.text import gopher_quality

    docs = load_table(spark, sf_dir, "documents")
    return gopher_quality(docs)


@query(
    "dedup_paragraphs",
    "curation",
    doc="Paragraph-level dedup with document reassembly "
    "(operators/dedup.py::paragraph_dedup): 25-token non-overlapping "
    "chunks, corpus-wide first-occurrence keep (ONE window shuffle on "
    "the md5 chunk hash — uniform keys, no skew), documents rebuilt "
    "from surviving chunks in order. The Gopher/RefinedWeb "
    "repetition-REMOVAL stage — dup_span_stats scores duplication, "
    "this edits it out. Zero pairwise work; cost tracks corpus token "
    "count.",
    oracle="""
        WITH toked AS (
            SELECT doc_id,
                   string_split_regex(trim(lower(text)), '\\s+') AS w
            FROM documents WHERE text IS NOT NULL),
        starts AS (
            SELECT doc_id, w,
                   unnest(range(0, greatest(len(w), 1), 25)) AS start
            FROM toked),
        chunks AS (
            SELECT doc_id,
                   CAST(start / 25 AS BIGINT) AS chunk_id,
                   array_to_string(list_slice(w, start + 1, start + 25),
                                   ' ') AS chunk_text
            FROM starts),
        ranked AS (
            SELECT *, row_number() OVER (
                       PARTITION BY md5(chunk_text)
                       ORDER BY doc_id, chunk_id) AS rn
            FROM chunks)
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_chunks,
               CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_dropped,
               coalesce(array_to_string(
                   list(chunk_text ORDER BY chunk_id)
                       FILTER (WHERE rn = 1), ' '), '') AS dedup_text
        FROM ranked GROUP BY doc_id
    """,
)
def dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tajo_spark.operators.dedup import paragraph_dedup

    docs = load_table(spark, sf_dir, "documents")
    return paragraph_dedup(docs, chunk_tokens=25)


@query(
    "text_boilerplate_strip",
    "curation",
    doc="Per-source boilerplate removal with reassembly "
    "(operators/dedup.py::boilerplate_strip): a 10-token segment "
    "recurring in >= 2 distinct documents of the SAME source (site "
    "header / footer / banner) is struck from EVERY occurrence — the "
    "CCNet/trafilatura cleanup stage; contrast dedup_paragraphs, "
    "which keeps the FIRST occurrence corpus-wide. One zero-shuffle "
    "chunk explode, ONE (source, md5) census aggregate with exact "
    "distinct-doc counts, one equi-join back (AQE-broadcastable), one "
    "reassembly groupBy — nothing pairwise, cost tracks corpus "
    "tokens.",
    oracle="""
        WITH toked AS (
            SELECT doc_id, source,
                   string_split_regex(trim(lower(text)), '\\s+') AS w
            FROM documents WHERE text IS NOT NULL),
        chunks AS (
            SELECT doc_id, source,
                   CAST(s / 10 AS BIGINT) AS chunk_id,
                   array_to_string(list_slice(w, s + 1, s + 10), ' ')
                       AS chunk_text
            FROM (SELECT doc_id, source, w,
                         unnest(range(0, greatest(len(w), 1), 10)) AS s
                  FROM toked)),
        boiler AS (
            SELECT source, md5(chunk_text) AS h
            FROM chunks GROUP BY source, md5(chunk_text)
            HAVING count(DISTINCT doc_id) >= 2),
        flagged AS (
            SELECT c.doc_id, c.chunk_id, c.chunk_text,
                   b.h IS NOT NULL AS is_b
            FROM chunks c LEFT JOIN boiler b
              ON c.source = b.source AND md5(c.chunk_text) = b.h)
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_chunks,
               CAST(sum(CASE WHEN is_b THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_boiler,
               coalesce(array_to_string(
                   list(chunk_text ORDER BY chunk_id)
                       FILTER (WHERE NOT is_b), ' '), '') AS clean_text
        FROM flagged GROUP BY doc_id
    """,
)
def text_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tajo_spark.operators.dedup import boilerplate_strip

    docs = load_table(spark, sf_dir, "documents")
    return boilerplate_strip(docs, chunk_tokens=10, min_docs=2)


@query(
    "text_char_entropy",
    "curation",
    doc="Character-level Shannon entropy per document "
    "(operators/text.py::char_entropy): the cheap quality/repetition "
    "signal (keyboard-mash, padding, base64 blobs score low) — a "
    "ZERO-shuffle projection whose frequency table is built inside "
    "the row with JVM higher-order functions (no per-char explode), "
    "alphabet sorted before the fold so FP summation order is "
    "engine-independent.",
    oracle="""
        WITH c AS (
            SELECT doc_id, string_split(text, '') AS cs
            FROM documents WHERE text IS NOT NULL),
        u AS (SELECT doc_id, cs, list_sort(list_distinct(cs)) AS uq,
                     CAST(len(cs) AS DOUBLE) AS n
              FROM c)
        SELECT doc_id,
               CAST(len(cs) AS BIGINT) AS n_chars,
               CAST(len(uq) AS BIGINT) AS n_distinct_chars,
               ROUND(-list_aggregate(
                   list_transform(
                       uq,
                       ch -> (CAST(len(list_filter(cs, x -> x = ch))
                                   AS DOUBLE) / n)
                             * log2(CAST(len(list_filter(cs, x -> x = ch))
                                         AS DOUBLE) / n)),
                   'sum'), 4) AS char_entropy
        FROM u
    """,
)
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tajo_spark.operators.text import char_entropy

    docs = load_table(spark, sf_dir, "documents")
    return char_entropy(docs)


@query(
    "dedup_exact_substring",
    "curation",
    doc="Exact duplicated-substring removal (operators/dedup.py::"
    "exact_substring_dedup — Lee et al. 2021): stride-1 20-token "
    "windows hashed per position (~1 md5 per corpus token, the honest "
    "cost of substring granularity), corpus-wide first-occurrence keep "
    "(ONE uniform-key window shuffle), non-first spans merged per doc "
    "by a linear JVM fold and edited out of the reassembled text. The "
    "alignment-robust upgrade of dedup_paragraphs: a syndicated "
    "passage starting mid-chunk is caught at any offset, like the "
    "suffix-array original.",
    oracle="""
        WITH toked AS (
            SELECT doc_id,
                   string_split_regex(trim(lower(text)), '\\s+') AS w
            FROM documents WHERE text IS NOT NULL),
        wins AS (
            SELECT doc_id,
                   unnest(range(0, greatest(len(w) - 19, 0))) AS start
            FROM toked),
        hashed AS (
            SELECT h.doc_id, h.start,
                   md5(array_to_string(
                       list_slice(t.w, h.start + 1, h.start + 20),
                       ' ')) AS hh
            FROM wins h JOIN toked t USING (doc_id)),
        ranked AS (
            SELECT doc_id, start, row_number() OVER (
                       PARTITION BY hh ORDER BY doc_id, start) AS rn
            FROM hashed),
        removed AS (SELECT doc_id, start FROM ranked WHERE rn > 1),
        tok AS (
            SELECT doc_id, unnest(w) AS tokk,
                   generate_subscripts(w, 1) - 1 AS idx
            FROM toked),
        kept AS (
            SELECT t.doc_id, t.tokk, t.idx
            FROM tok t
            WHERE NOT EXISTS (
                SELECT 1 FROM removed r
                WHERE r.doc_id = t.doc_id
                  AND t.idx >= r.start AND t.idx < r.start + 20))
        SELECT d.doc_id,
               CAST(len(d.w) AS BIGINT) AS n_tokens,
               CAST(len(d.w) - count(k.idx) AS BIGINT) AS n_removed,
               coalesce(string_agg(k.tokk, ' ' ORDER BY k.idx), '')
                   AS dedup_text
        FROM toked d LEFT JOIN kept k USING (doc_id)
        GROUP BY d.doc_id, len(d.w)
    """,
)
def dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tajo_spark.operators.dedup import exact_substring_dedup

    docs = load_table(spark, sf_dir, "documents")
    return exact_substring_dedup(docs, window_tokens=20)


@query(
    "text_blocklist_filter",
    "curation",
    doc="Blocklist-phrase filter (operators/text.py::blocklist_hits — "
    "the C4 'bad words' stage): whole-word hit count, first matched "
    "phrase, keep verdict. ONE JVM regex projection, zero shuffle; the "
    "phrase list ships as a plan literal (broadcast-as-literal, like "
    "bm25's term list).",
    oracle=r"""
        SELECT doc_id,
               CAST(len(regexp_extract_all(lower(text),
                    '\b(?:slow|fast\s+table)\b')) AS BIGINT) AS n_hits,
               regexp_extract(lower(text),
                    '\b(?:slow|fast\s+table)\b') AS first_hit,
               len(regexp_extract_all(lower(text),
                    '\b(?:slow|fast\s+table)\b')) = 0 AS keep
        FROM documents
    """,
)
def text_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.blocklist_hits(docs, ["slow", "fast table"])


@query(
    "embedding_cluster_stats",
    "curation",
    doc="Corpus embedding clustering (distributed KMeans via MLlib, the "
    "partition-learning step under IVF and cluster-balanced curation): "
    "per-corpus contract row. The learned partition is not SQL-"
    "reproducible, so the exact leg (corpus size) is hash-checked and "
    "the clustering contract rides as booleans: every vector assigned "
    "exactly once, cluster count within k, and no cluster holding more "
    "than half the corpus (balance bound loose enough to be seed-"
    "stable).",
    oracle="""
        SELECT CAST(count(*) AS BIGINT) AS n_vectors,
               TRUE AS assigned_once_ok,
               TRUE AS n_clusters_ok,
               TRUE AS balance_ok
        FROM embeddings
    """,
)
def embedding_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tajo_spark.operators.similarity import ivf_assign

    emb = load_table(spark, sf_dir, "embeddings")
    assigned, _model = ivf_assign(emb, n_centroids=8)
    # single scan: the corpus total IS sum(n) (the oracle hash-checks it
    # against count(*) FROM embeddings, so dropped rows still fail) and
    # exactly-once rides as per-cluster count == distinct vec_ids — the
    # r02 version paid a separate emb.count() action here
    per_cluster = assigned.groupBy("centroid_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("vec_id").alias("nd"),
    )
    return per_cluster.agg(
        F.sum("n").cast("long").alias("n_vectors"),
        (F.sum("n") == F.sum("nd")).alias("assigned_once_ok"),
        (F.count(F.lit(1)).between(1, 8)).alias("n_clusters_ok"),
        (F.max("n") <= F.sum("n") * 0.5 + 1).alias("balance_ok"),
    )


@query(
    "text_bpe_train",
    "curation",
    doc="Distributed BPE tokenizer training (operators/bpe.py — "
    "Sennrich-style merges learned over the word-frequency dict; per "
    "round ONE pair-count shuffle + a TakeOrdered(1) scalar to the "
    "driver). The merge sequence is deterministic (lexicographic "
    "tie-break), pinned against a pure-Python reference in "
    "tests/test_bpe.py; the driver oracle recomputes merge #1 exactly "
    "in SQL (the full sequence is iterative and beyond one SQL query) "
    "and contract-checks the rest (dense ranks, repeated-pair freqs).",
    oracle="""
        WITH tok AS (
            SELECT unnest(string_split_regex(trim(lower(text)), '\\s+'))
                AS w
            FROM documents),
        wf AS (SELECT w, count(*) AS cnt FROM tok WHERE w <> ''
               GROUP BY w),
        sym AS (SELECT cnt, list_append(string_split(w, ''), '</w>') AS p
                FROM wf),
        pr AS (SELECT p[i] AS a, p[i + 1] AS b, cnt
               FROM sym, LATERAL (SELECT unnest(range(1, len(p))) AS i)),
        agg AS (SELECT a, b, CAST(sum(cnt) AS BIGINT) AS freq
                FROM pr GROUP BY a, b),
        best AS (SELECT * FROM agg
                 ORDER BY freq DESC, a, b LIMIT 1)
        SELECT a AS first_left, b AS first_right, freq AS first_freq,
               CAST(8 AS BIGINT) AS n_merges,
               TRUE AS ranks_dense_ok,
               TRUE AS freqs_repeated_ok
        FROM best
    """,
)
def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tajo_spark.operators.bpe import train_bpe

    docs = load_table(spark, sf_dir, "documents")
    # batched admission (tests/test_bpe.py pins equivalence up to
    # benign boundary ties); merge #1 and the contract columns are
    # batch-invariant, and rounds drop from 8 to ~1-2
    merges = train_bpe(docs, n_merges=8, batch_k=8)
    first = merges[0] if merges else (0, "", "", 0)
    ranks_ok = [m[0] for m in merges] == list(range(1, len(merges) + 1))
    freqs_ok = all(m[3] >= 2 for m in merges)
    return spark.createDataFrame(
        [
            (
                first[1],
                first[2],
                first[3],
                len(merges),
                ranks_ok,
                freqs_ok,
            )
        ],
        "first_left STRING, first_right STRING, first_freq BIGINT, "
        "n_merges BIGINT, ranks_dense_ok BOOLEAN, "
        "freqs_repeated_ok BOOLEAN",
    )


@query(
    "text_bpe_encode",
    "curation",
    doc="BPE encode stage (operators/bpe.py::apply_bpe): tokenize the "
    "corpus with the merge table just learned on it — per document, "
    "pre-merge symbol count (chars + end marks; SQL-exact in the "
    "oracle) and the post-merge BPE token count, which must never "
    "exceed it (per-doc contract; the merge-sequence identity itself "
    "is pinned against a pure-Python reference in tests/test_bpe.py). "
    "The encode is a zero-shuffle projection — at 100 TB it rides the "
    "scan.",
    oracle="""
        WITH tok AS (
            SELECT doc_id,
                   unnest(string_split_regex(trim(lower(text)), '\\s+'))
                       AS w
            FROM documents),
        wl AS (SELECT doc_id, length(w) + 1 AS nc FROM tok WHERE w <> '')
        SELECT doc_id,
               CAST(sum(nc) AS BIGINT) AS n_chars_tok,
               TRUE AS compresses_ok
        FROM wl GROUP BY doc_id
    """,
)
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tajo_spark.operators.bpe import apply_bpe, train_bpe

    docs = load_table(spark, sf_dir, "documents")
    # batched trainer: same merge table up to benign boundary ties
    # (tests/test_bpe.py), ~1 pair-count round instead of 8
    merges = train_bpe(docs, n_merges=8, batch_k=8)
    enc = apply_bpe(docs, merges)
    return enc.select(
        "doc_id",
        "n_chars_tok",
        (F.col("n_bpe_tokens") <= F.col("n_chars_tok")).alias(
            "compresses_ok"
        ),
    )


@query(
    "curation_source_cap",
    "curation",
    doc="Per-source document cap (operators/sampling.py::cap_per_group)"
    " — the C4/RefinedWeb anti-domination rule: keep at most K docs "
    "per source, best-first by length with doc_id as the total-order "
    "tiebreak. Runs the two-stage form: a per-(scan-partition, source)"
    " partial top-K bounds every window task to one partition's share "
    "of a hot source before the exact final window ranks the <= "
    "K*partitions survivors — the skew-safe shape at 100 TB. The "
    "oracle is the textbook single window, so the hash check proves "
    "the two-stage rewrite exact.",
    oracle="""
        WITH r AS (
            SELECT doc_id, source, n_chars,
                   row_number() OVER (
                       PARTITION BY source
                       ORDER BY n_chars DESC, doc_id) AS rn
            FROM documents)
        SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars
        FROM r WHERE rn <= 10
    """,
)
def curation_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tajo_spark.operators.sampling import cap_per_group

    docs = load_table(spark, sf_dir, "documents")
    capped = cap_per_group(
        docs,
        ["source"],
        [F.desc("n_chars"), F.asc("doc_id")],
        k=10,
    )
    return capped.select(
        "doc_id", "source", F.col("n_chars").cast("long").alias("n_chars")
    )


@query(
    "export_shard_manifest",
    "curation",
    doc="Sharded-export manifest (operators/export.py::shard_assign): "
    "documents packed into ~64 KiB shards in a deterministic "
    "md5-shuffled order, shard boundary = cumulative-bytes // target. "
    "The cumulative offsets come from the two-phase bucket scheme "
    "(parallel per-bucket byte sums + a metadata-sized offset window, "
    "broadcast back) — never a single-partition global window. The "
    "oracle IS that single global window in SQL, so the hash check "
    "proves the distributed cumsum exact; shard sizes and the "
    "shuffled layout are reproducible across engines from (seed, "
    "doc_id).",
    oracle="""
        WITH k AS (
            SELECT doc_id,
                   octet_length(CAST(text AS BLOB)) AS nb,
                   md5('42:' || CAST(doc_id AS VARCHAR)) AS h
            FROM documents),
        c AS (
            SELECT nb,
                   COALESCE(SUM(nb) OVER (
                       ORDER BY h, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0) AS cb
            FROM k)
        SELECT CAST(cb // 65536 AS BIGINT) AS shard_id,
               count(*) AS n_docs,
               CAST(sum(nb) AS BIGINT) AS total_bytes
        FROM c GROUP BY 1
    """,
)
def export_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tajo_spark.operators.export import shard_assign, shard_manifest

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.octet_length("text").cast("long").alias("nb")
    )
    sharded = shard_assign(
        docs, "doc_id", "nb", shard_bytes=65536, seed=42
    )
    return shard_manifest(sharded, "nb")


@query(
    "export_tar_verify",
    "curation",
    doc="WebDataset-style tar shard export + consumer-side verify "
    "(operators/export.py::export_tar_shards/verify_tar_shards): "
    "documents pack into deterministic md5-shuffled ~64 KiB tar "
    "shards ({id}.bin + {id}.json entries, fixed timestamps so shard "
    "BYTES are a pure function of rows — task retries rewrite "
    "identical files via atomic replace), one "
    "groupBy(shard_id).applyInPandas write pass, then every tar is "
    "re-read (entry counts, payload bytes, sha) and joined against "
    "the manifest. The oracle replays the shard-assignment cumsum in "
    "SQL, so the hash row proves the tar layout AND the round-trip "
    "agree with the declared rule; shas are checked engine-side "
    "(ok=true covers them).",
    oracle="""
        WITH k AS (
            SELECT doc_id,
                   octet_length(CAST(text AS BLOB)) AS nb,
                   md5('42:' || CAST(doc_id AS VARCHAR)) AS h
            FROM documents),
        c AS (
            SELECT nb,
                   COALESCE(SUM(nb) OVER (
                       ORDER BY h, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0) AS cb
            FROM k),
        m AS (
            SELECT CAST(cb // 65536 AS BIGINT) AS shard_id,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(nb) AS BIGINT) AS b
            FROM c GROUP BY 1)
        SELECT shard_id,
               n AS manifest_items, n AS actual_items,
               b AS manifest_content, b AS actual_content,
               TRUE AS ok
        FROM m ORDER BY shard_id
    """,
)
def export_tar_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os
    import shutil
    import tempfile

    from tajo_spark.operators.export import (
        export_tar_shards,
        verify_tar_shards,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("text").cast("binary").alias("content"),
        "lang",
    )
    path = os.path.join(
        tempfile.gettempdir(),
        "tajo_spark_tarshards_"
        + hashlib.md5(sf_dir.encode()).hexdigest()[:12],
    )
    shutil.rmtree(path, ignore_errors=True)
    export_tar_shards(
        docs, path, id_col="doc_id", content_col="content",
        shard_bytes=65536, seed=42,
    )
    return (
        verify_tar_shards(spark, path)
        .select(
            "shard_id",
            "manifest_items",
            "actual_items",
            "manifest_content",
            "actual_content",
            "ok",
        )
        .orderBy("shard_id")
    )


@query(
    "text_ngram_topk",
    "curation",
    doc="Boilerplate phrase detection (operators/text.py::word_ngrams):"
    " top-50 most frequent word 5-grams with document frequency — "
    "phrases recurring across documents are template scaffolding a "
    "curation pass strips. Zero-shuffle gram construction (one "
    "codegen'd overlapping-lookahead regex pass per row; measured 7x "
    "over the HOF slice form, whose lambda re-evaluates the tokenize "
    "subtree per position), one groupBy shuffle with map-side partial "
    "aggregation over the exploded grams, TakeOrderedAndProject for "
    "the top-k (never a global sort); deterministic tie-break on the "
    "gram text keeps the cut line engine-stable.",
    oracle=r"""
        WITH tok AS (
            SELECT doc_id,
                   list_filter(
                       string_split_regex(trim(lower(text)), '\s+'),
                       x -> x <> '') AS ts
            FROM documents),
        g AS (
            SELECT doc_id,
                   unnest([array_to_string(ts[i:i+4], ' ')
                           FOR i IN range(1, greatest(len(ts) - 3, 1))])
                       AS gram
            FROM tok)
        SELECT gram, count(*) AS freq, count(DISTINCT doc_id) AS n_docs
        FROM g GROUP BY gram ORDER BY freq DESC, gram LIMIT 50
    """,
)
def text_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tajo_spark.operators.text import word_ngrams

    docs = load_table(spark, sf_dir, "documents")
    grams = docs.select(
        "doc_id", F.explode(word_ngrams(F.col("text"), 5)).alias("gram")
    )
    return (
        grams.groupBy("gram")
        .agg(
            F.count(F.lit(1)).alias("freq"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.desc("freq"), F.asc("gram"))
        .limit(50)
    )


@query(
    "sim_quantized_topk",
    "curation",
    doc="Int8-quantized ANN (operators/similarity.py::quantize_int8): "
    "per-vector max-abs symmetric quantization — 4x smaller index, "
    "scale cancels inside cosine so error is rounding-only. One scan "
    "scores every candidate with BOTH exact and quantized cosine "
    "(broadcast 1-row query, zero shuffle); the exact top-10 is the "
    "hash-checked leg and the quantized path rides as an in-query "
    "contract: recall@10 >= 8/10 against the exact ranking and max "
    "|cos_q - cos| <= 0.02 over ALL candidates.",
    oracle="""
        WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
                   FROM embeddings WHERE vec_id = 0),
        c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
              FROM embeddings WHERE vec_id <> 0)
        SELECT vec_id,
               round(list_dot_product(e, qv)
                 / (sqrt(list_dot_product(e, e))
                    * sqrt(list_dot_product(qv, qv))), 4) AS cos_sim,
               TRUE AS recall_ok,
               TRUE AS quant_err_ok
        FROM c, q
        ORDER BY cos_sim DESC, vec_id LIMIT 10
    """,
)
def sim_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tajo_spark.operators.similarity import quantized_scores

    emb = load_table(spark, sf_dir, "embeddings")
    scored = quantized_scores(emb, query_vec_id=0).localCheckpoint()
    etop = scored.orderBy(F.desc("cos_sim"), "vec_id").limit(10)
    qtop = scored.orderBy(F.desc("cos_sim_q"), "vec_id").limit(10)
    overlap = etop.select("vec_id").join(
        qtop.select("vec_id"), "vec_id"
    ).agg(F.count(F.lit(1)).alias("__hits"))
    maxerr = scored.agg(
        F.max(F.abs(F.col("cos_sim_q") - F.col("cos_sim"))).alias("__err")
    )
    contract = (
        overlap.crossJoin(maxerr)
        .select(
            (F.col("__hits") >= 8).alias("recall_ok"),
            (F.col("__err") <= 0.02).alias("quant_err_ok"),
        )
    )
    return etop.crossJoin(F.broadcast(contract)).select(
        "vec_id", "cos_sim", "recall_ok", "quant_err_ok"
    )


@query(
    "pipeline_corpus_prep_v3",
    "curation",
    doc="End-to-end corpus assembly with the round-3 operators: "
    "per-source cap (two-stage skew-safe top-K, K=15 by length) -> "
    "exact dedup (md5 groups, min-doc_id survivor) -> sharded export "
    "manifest (~32 KiB shards, md5-shuffled order, two-phase "
    "distributed cumsum). Survivors localCheckpoint at the stage "
    "boundary exactly where a production pipeline persists. The "
    "oracle independently re-derives all three stages in SQL, so the "
    "hash check covers the composition, not just the parts.",
    oracle="""
        WITH capped AS (
            SELECT doc_id, text FROM (
                SELECT doc_id, text,
                       row_number() OVER (
                           PARTITION BY source
                           ORDER BY n_chars DESC, doc_id) AS rn
                FROM documents) WHERE rn <= 15),
        keep AS (
            -- null-text docs are never duplicates (operator invariant):
            -- CASE forces rn=1 so each survives individually
            SELECT doc_id, text FROM (
                SELECT doc_id, text,
                       CASE WHEN text IS NULL THEN 1 ELSE
                         row_number() OVER (
                             PARTITION BY md5(text)
                             ORDER BY doc_id)
                       END AS rn
                FROM capped) WHERE rn = 1),
        k AS (
            SELECT doc_id,
                   octet_length(CAST(text AS BLOB)) AS nb,
                   md5('42:' || CAST(doc_id AS VARCHAR)) AS h
            FROM keep),
        c AS (
            SELECT nb,
                   COALESCE(SUM(nb) OVER (
                       ORDER BY h, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0) AS cb
            FROM k)
        SELECT CAST(cb // 32768 AS BIGINT) AS shard_id,
               count(*) AS n_docs,
               CAST(sum(nb) AS BIGINT) AS total_bytes
        FROM c GROUP BY 1
    """,
)
def pipeline_corpus_prep_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tajo_spark.operators.dedup import exact_dedup_groups
    from tajo_spark.operators.export import shard_assign, shard_manifest
    from tajo_spark.operators.sampling import cap_per_group

    docs = load_table(spark, sf_dir, "documents")
    capped = cap_per_group(
        docs, ["source"], [F.desc("n_chars"), F.asc("doc_id")], k=15
    )
    keep_ids = exact_dedup_groups(capped).select(
        F.col("keep_doc_id").alias("doc_id")
    )
    survivors = (
        capped.join(keep_ids, "doc_id", "left_semi")
        .select(
            "doc_id", F.octet_length("text").cast("long").alias("nb")
        )
        .localCheckpoint()
    )
    sharded = shard_assign(
        survivors, "doc_id", "nb", shard_bytes=32768, seed=42
    )
    return shard_manifest(sharded, "nb")


@query(
    "corpus_datacard",
    "curation",
    doc="Dataset-card summary panel: per-source, per-language, and "
    "overall doc counts / byte volume / corpus share in ONE grouping-"
    "sets pass (Expand + a single map-side-combined aggregation — "
    "three rollup granularities never cost three scans). The share "
    "denominator is the grouping-sets result's own 'overall' row, "
    "broadcast back — one corpus scan total, no collected scalar. "
    "The standard release artifact of a training-data pipeline.",
    oracle="""
        SELECT CASE WHEN GROUPING(source) = 0 THEN 'source'
                    WHEN GROUPING(lang)   = 0 THEN 'lang'
                    ELSE 'overall' END AS dim_type,
               COALESCE(CASE WHEN GROUPING(source) = 0 THEN source END,
                        CASE WHEN GROUPING(lang) = 0 THEN lang END,
                        '*') AS dim_value,
               count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars,
               round(avg(n_chars), 2) AS avg_chars,
               round(count(*) * 1.0
                     / (SELECT count(*) FROM documents), 6) AS share
        FROM documents
        GROUP BY GROUPING SETS ((source), (lang), ())
    """,
)
def corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sets = spark.sql(
        """
        SELECT CASE WHEN GROUPING(source) = 0 THEN 'source'
                    WHEN GROUPING(lang)   = 0 THEN 'lang'
                    ELSE 'overall' END AS dim_type,
               COALESCE(CASE WHEN GROUPING(source) = 0 THEN source END,
                        CASE WHEN GROUPING(lang) = 0 THEN lang END,
                        '*') AS dim_value,
               count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars,
               round(avg(n_chars), 2) AS avg_chars,
               count(*) AS __n
        FROM {docs}
        GROUP BY GROUPING SETS ((source), (lang), ())
        """,
        docs=docs,
    )
    sets = sets.localCheckpoint()
    # corpus total = the grouping-sets result's own 'overall' row — no
    # second scan of the corpus for the denominator
    tot = (
        sets.filter(F.col("dim_type") == "overall")
        .select(F.col("__n").alias("__tot"))
    )
    return sets.join(F.broadcast(tot)).select(
        "dim_type",
        "dim_value",
        "n_docs",
        "total_chars",
        "avg_chars",
        F.round(F.col("__n") / F.col("__tot"), 6).alias("share"),
    )


# Per-process memo for the persisted ANN indexes: an index is a pure
# function of (sf_dir, n_centroids, PQ geometry, fixed seed), so within
# one process the probing queries (and bench's repeated passes) reuse
# ONE build — the production framing, where index build is amortized
# and the probe is the steady-state cost being measured. The first
# build per process rewrites the stable staging dir (the bootstrap
# clears it: no cross-run staleness, no mkdtemp leak).
_ANN_INDEX: dict[tuple, tuple[str, object]] = {}


def _ann_index(
    spark: SparkSession,
    sf_dir: str,
    n_centroids: int,
    m: int | None = None,
    ksub: int | None = None,
):
    """(path, codec) of the int8 index, or of the PQ one with
    ``m``/``ksub``."""
    import hashlib
    import os
    import tempfile

    from tajo_spark.streaming.ann_ingest import ivf_ingest_init

    key = (os.path.realpath(sf_dir), n_centroids, m, ksub)
    if key not in _ANN_INDEX:
        path = os.path.join(
            tempfile.gettempdir(),
            "tajo_spark_ann_" + hashlib.md5(repr(key).encode()).hexdigest()[:12],
        )
        emb = load_table(spark, sf_dir, "embeddings")
        codec = ivf_ingest_init(
            emb, path, n_centroids=n_centroids, m=m, ksub=ksub
        )
        _ANN_INDEX[key] = (path, codec)
    return _ANN_INDEX[key]


@query(
    "sim_ivf_q8_topk",
    "curation",
    doc="Production ANN composition (streaming/ann_ingest.py::"
    "ivf_ingest_init, operators/similarity.py::ivf_probe_persisted_q8): "
    "int8-quantized IVF index persisted partitioned on centroid_id "
    "— 4x smaller probe "
    "scans, directory-level pruning — probed in two stages: quantized "
    "cosine shortlist over nprobe partitions, then exact float rerank "
    "of the metadata-sized shortlist against the base table (the "
    "IVF+refine layout). Like sim_ivf_topk the learned partition is "
    "not SQL-reproducible, so the exact brute-force leg is the hash-"
    "checked numbers and the probe rides as a recall contract "
    "(>= 5 of the exact 10 at nprobe=2/8).",
    oracle="""
        WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        scored AS (
            SELECT e.vec_id,
                   round(list_cosine_similarity(e.embedding, q.qv), 4)
                       AS cos_sim
            FROM embeddings e, q WHERE e.vec_id <> 0
        ),
        topk AS (
            SELECT vec_id, cos_sim FROM scored
            ORDER BY cos_sim DESC, vec_id LIMIT 10
        )
        SELECT CAST(count(*) AS BIGINT) AS n_exact,
               round(avg(cos_sim), 4)   AS exact_mean_cos,
               TRUE                     AS q8_recall_ok
        FROM topk
    """,
)
def sim_ivf_q8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tajo_spark.operators.similarity import (
        cosine_topk,
        ivf_probe_persisted_q8,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    path, codec = _ann_index(spark, sf_dir, n_centroids=8)
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").first()
    probe = ivf_probe_persisted_q8(
        spark,
        path,
        codec,
        list(qrow.embedding),
        emb.filter(F.col("vec_id") != 0),
        k=10,
        nprobe=2,
    ).select(F.col("vec_id").alias("q8_id"))
    exact = cosine_topk(emb, query_vec_id=0, k=10)
    hits = exact.join(probe, exact["vec_id"] == probe["q8_id"], "left")
    return hits.agg(
        F.count(F.lit(1)).cast("long").alias("n_exact"),
        F.round(F.avg("cos_sim"), 4).alias("exact_mean_cos"),
        (F.count("q8_id") >= 5).alias("q8_recall_ok"),
    )


@query(
    "sim_ann_join",
    "datapipe",
    doc="Exact batched ANN join: every 50th vector is a query; each gets "
    "its cosine top-3 corpus neighbors in ONE corpus scan (query side "
    "collapses to a broadcast struct array, norms hoisted, one window "
    "shuffle of skinny scored triples) — the N-queries-at-once "
    "retrieval/cross-dataset-dedup shape "
    "(operators/similarity.py::ann_join).",
    oracle="""
        WITH vecs AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings),
        q AS (SELECT vec_id AS q_id, v AS qv FROM vecs
              WHERE vec_id % 50 = 0 AND vec_id < 1000),
        scored AS (
            SELECT q.q_id, c.vec_id,
                   round(list_dot_product(q.qv, c.v)
                     / (sqrt(list_dot_product(q.qv, q.qv))
                        * sqrt(list_dot_product(c.v, c.v))), 6) AS cos6
            FROM q CROSS JOIN vecs c),
        ranked AS (
            SELECT q_id, vec_id, cos6,
                   CAST(row_number() OVER (
                       PARTITION BY q_id
                       ORDER BY cos6 DESC, vec_id) AS INTEGER) AS rank
            FROM scored)
        SELECT q_id, rank, vec_id, round(cos6, 4) AS cos
        FROM ranked WHERE rank <= 3
    """,
)
def sim_ann_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter((F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 1000)).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    return similarity.ann_join(q, emb, k=3)


@query(
    "sim_ann_join_ivf",
    "datapipe",
    doc="IVF-bucketed batched ANN join — the 100 TB shape: corpus "
    "assigns map-only to 16 deterministic centroids (lowest-id vectors; "
    "at scale this is the persisted partitionBy layout), queries "
    "explode to their nprobe=4 nearest centroids, candidates join on "
    "centroid_id (corpus scans once, unshuffled), one window shuffle "
    "ranks survivors (operators/similarity.py::ann_join_ivf; recall "
    "dials with nprobe, nprobe=n_centroids degrades to exact).",
    oracle="""
        WITH vecs AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings),
        cents AS (
            SELECT vec_id AS centroid_id, v AS cv
            FROM vecs WHERE vec_id < 16),
        corp AS (
            SELECT vec_id, v, centroid_id FROM (
                SELECT e.vec_id, e.v, c.centroid_id,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY round(list_dot_product(e.v, c.cv)
                                 / (sqrt(list_dot_product(e.v, e.v))
                                    * sqrt(list_dot_product(c.cv, c.cv))), 6)
                                 DESC, c.centroid_id) AS rn
                FROM vecs e CROSS JOIN cents c) t
            WHERE rn = 1),
        q AS (
            SELECT q_id, qv, centroid_id FROM (
                SELECT e.vec_id AS q_id, e.v AS qv, c.centroid_id,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY round(list_dot_product(e.v, c.cv)
                                 / (sqrt(list_dot_product(e.v, e.v))
                                    * sqrt(list_dot_product(c.cv, c.cv))), 6)
                                 DESC, c.centroid_id) AS rn
                FROM vecs e CROSS JOIN cents c
                WHERE e.vec_id % 50 = 0 AND e.vec_id < 1000) t
            WHERE rn <= 4),
        scored AS (
            SELECT q.q_id, s.vec_id,
                   round(list_dot_product(q.qv, s.v)
                     / (sqrt(list_dot_product(q.qv, q.qv))
                        * sqrt(list_dot_product(s.v, s.v))), 6) AS cos6
            FROM q JOIN corp s USING (centroid_id)),
        ranked AS (
            SELECT q_id, vec_id, cos6,
                   CAST(row_number() OVER (
                       PARTITION BY q_id
                       ORDER BY cos6 DESC, vec_id) AS INTEGER) AS rank
            FROM scored)
        SELECT q_id, rank, vec_id, round(cos6, 4) AS cos
        FROM ranked WHERE rank <= 3
    """,
)
def sim_ann_join_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter((F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 1000)).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    return similarity.ann_join_ivf(q, emb, k=3, n_centroids=16, nprobe=4)


@query(
    "sim_decontaminate",
    "datapipe",
    doc="Embedding-level benchmark decontamination (semantic twin of "
    "text_contamination): vec_id % 97 = 0 stands in for the eval set; "
    "it collapses to one broadcast row and every corpus vector takes "
    "its max cosine against it in a single map-only scan — zero "
    "shuffle (operators/similarity.py::semantic_contamination; giant "
    "benchmark sets route through ann_join_ivf instead).",
    oracle="""
        WITH vecs AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings),
        bench AS (SELECT v AS bv FROM vecs WHERE vec_id % 97 = 0),
        corp AS (SELECT * FROM vecs WHERE vec_id % 97 <> 0),
        scored AS (
            SELECT c.vec_id,
                   round(list_dot_product(c.v, b.bv)
                     / (sqrt(list_dot_product(c.v, c.v))
                        * sqrt(list_dot_product(b.bv, b.bv))), 6) AS cos6
            FROM corp c CROSS JOIN bench b),
        mx AS (SELECT vec_id, max(cos6) AS m FROM scored GROUP BY vec_id)
        SELECT vec_id, round(m, 4) AS bench_cos,
               (m >= 0.3) AS is_contaminated
        FROM mx
    """,
)
def sim_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    bench = emb.filter(F.col("vec_id") % 97 == 0)
    corp = emb.filter(F.col("vec_id") % 97 != 0)
    return similarity.semantic_contamination(corp, bench, threshold=0.3)


@query(
    "sim_ann_q8_persisted",
    "datapipe",
    doc="Production batch retrieval: 10 query vectors probe the "
    "persisted int8 IVF index (operators/similarity.py::"
    "ann_join_persisted) — index scan statically pruned to the "
    "union of probed centroid directories, quantized shortlist per "
    "query, distributed exact rerank against the base table. The "
    "KMeans partition is not SQL-reproducible, so the exact "
    "brute-force leg is hash-checked and the probe rides as a recall "
    "contract (>= 0.8 of the exact top-5 at nprobe=4/8 — measured "
    "0.86/0.88 at sf0.01/sf0.1; curves in SCALE.md). The streaming "
    "twin of this index is streaming/ann_ingest.py: frozen-quantizer "
    "micro-batch appends, and (r09) gated_ingest_stream composes the "
    "full near-dup-gate → IVF-assign → idempotent-append pipeline, "
    "bit-exact to its sequential batch composition under crash-replay "
    "(pins in tests/test_streaming.py::test_gated_ann_ingest_*).",
    oracle="""
        WITH vecs AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings),
        q AS (SELECT vec_id AS q_id, v AS qv FROM vecs
              WHERE vec_id % 50 = 0 AND vec_id < 1000),
        scored AS (
            SELECT q.q_id, c.vec_id,
                   round(list_dot_product(q.qv, c.v)
                     / (sqrt(list_dot_product(q.qv, q.qv))
                        * sqrt(list_dot_product(c.v, c.v))), 6) AS cos6
            FROM q CROSS JOIN vecs c),
        ranked AS (
            SELECT q_id, vec_id, cos6,
                   row_number() OVER (
                       PARTITION BY q_id
                       ORDER BY cos6 DESC, vec_id) AS rnk
            FROM scored)
        SELECT CAST(count(*) AS BIGINT) AS n_exact_pairs,
               round(avg(cos6), 4) AS exact_mean_cos,
               TRUE AS recall_ok
        FROM ranked WHERE rnk <= 5
    """,
)
def sim_ann_q8_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tajo_spark.operators.similarity import ann_join, ann_join_persisted

    emb = load_table(spark, sf_dir, "embeddings")
    path, codec = _ann_index(spark, sf_dir, n_centroids=8)
    q = emb.filter((F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 1000)).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    probe = ann_join_persisted(
        spark, path, codec, q, emb, k=5, nprobe=4
    ).select("q_id", F.col("vec_id").alias("p_id"))
    exact = ann_join(q, emb, k=5)
    hits = exact.join(
        probe,
        (exact["q_id"] == probe["q_id"]) & (exact["vec_id"] == probe["p_id"]),
        "left",
    )
    return hits.agg(
        F.count(F.lit(1)).cast("long").alias("n_exact_pairs"),
        F.round(F.avg("cos"), 4).alias("exact_mean_cos"),
        ((F.count("p_id") / F.count(F.lit(1))) >= 0.8).alias("recall_ok"),
    )


@query(
    "sim_ann_pq_persisted",
    "datapipe",
    doc="Billion-scale batch retrieval (IVFADC+R, Jégou et al. 2011): "
    "10 query vectors probe the persisted IVF-PQ index "
    "(operators/similarity.py::ann_join_persisted, operators/pq.py::"
    "PQCodec) — residual product-"
    "quantized codes at 16 bytes/vector (16x under float32, 4x under "
    "the int8 index), scan "
    "statically pruned to the probed centroid directories, ADC scoring "
    "via JVM-side lookup tables (M lookups+adds per candidate, no "
    "float vector read), distributed exact rerank. The KMeans "
    "partition + learned codebooks are not SQL-reproducible, so the "
    "exact brute-force leg is hash-checked and the PQ probe rides as "
    "a recall contract (>= 0.8 of the exact top-5 at nprobe=4/8 — "
    "measured 0.86 at both sf0.01 and sf0.1, identical to the int8 "
    "index at the same geometry: the residual loss is gone, the "
    "remaining miss is coarse-IVF probing; curves in SCALE.md).",
    oracle="""
        WITH vecs AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings),
        q AS (SELECT vec_id AS q_id, v AS qv FROM vecs
              WHERE vec_id % 50 = 0 AND vec_id < 1000),
        scored AS (
            SELECT q.q_id, c.vec_id,
                   round(list_dot_product(q.qv, c.v)
                     / (sqrt(list_dot_product(q.qv, q.qv))
                        * sqrt(list_dot_product(c.v, c.v))), 6) AS cos6
            FROM q CROSS JOIN vecs c),
        ranked AS (
            SELECT q_id, vec_id, cos6,
                   row_number() OVER (
                       PARTITION BY q_id
                       ORDER BY cos6 DESC, vec_id) AS rnk
            FROM scored)
        SELECT CAST(count(*) AS BIGINT) AS n_exact_pairs,
               round(avg(cos6), 4) AS exact_mean_cos,
               TRUE AS pq_recall_ok
        FROM ranked WHERE rnk <= 5
    """,
)
def sim_ann_pq_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tajo_spark.operators.similarity import ann_join, ann_join_persisted

    emb = load_table(spark, sf_dir, "embeddings")
    path, codec = _ann_index(spark, sf_dir, n_centroids=8, m=16, ksub=64)
    q = emb.filter((F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 1000)).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    probe = ann_join_persisted(
        spark, path, codec, q, emb, k=5, nprobe=4
    ).select("q_id", F.col("vec_id").alias("p_id"))
    exact = ann_join(q, emb, k=5)
    hits = exact.join(
        probe,
        (exact["q_id"] == probe["q_id"]) & (exact["vec_id"] == probe["p_id"]),
        "left",
    )
    return hits.agg(
        F.count(F.lit(1)).cast("long").alias("n_exact_pairs"),
        F.round(F.avg("cos"), 4).alias("exact_mean_cos"),
        ((F.count("p_id") / F.count(F.lit(1))) >= 0.8).alias("pq_recall_ok"),
    )


@query(
    "sim_ann_pq_probe",
    "datapipe",
    doc="The PQ serving path ALONE (operators/similarity.py::"
    "ann_join_persisted with operators/pq.py::PQCodec): 10 queries "
    "probe the persisted IVF-PQ "
    "index (memoized per process, like production where the index is "
    "built once and served for months) — directory-pruned scan, ADC "
    "lookup-table scoring, exact rerank of the shortlist. Exists so "
    "the bench tracks the production probe's cost separately from "
    "sim_ann_pq_persisted, whose row also pays the brute-force exact "
    "leg that only the recall harness needs (r05 verdict: the exact "
    "leg dominated the flagship number). Contract outputs: every "
    "query returns a non-empty, k-bounded shortlist; the recall "
    "contract itself lives in sim_ann_pq_persisted.",
    oracle="""
        SELECT CAST(count(*) AS BIGINT) AS n_queries,
               TRUE AS k_bounded_ok
        FROM embeddings WHERE vec_id % 50 = 0 AND vec_id < 1000
    """,
)
def sim_ann_pq_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tajo_spark.operators.similarity import ann_join_persisted

    emb = load_table(spark, sf_dir, "embeddings")
    path, codec = _ann_index(spark, sf_dir, n_centroids=8, m=16, ksub=64)
    q = emb.filter((F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 1000)).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    probe = ann_join_persisted(
        spark, path, codec, q, emb, k=5, nprobe=4
    )
    per_q = probe.groupBy("q_id").agg(F.count(F.lit(1)).alias("n"))
    # n_queries counts queries that returned >= 1 candidate, so the
    # hash row asserts no query starved; k-boundedness is the other
    # serving invariant.
    return per_q.agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        (F.max("n") <= 5).alias("k_bounded_ok"),
    )


@query(
    "pipeline_corpus_prep_v4",
    "curation",
    doc="Cross-modal curation pipeline: documents joined to their "
    "embeddings (doc_id = vec_id), learned quality filter (score >= "
    "0.5), then embedding-level benchmark decontamination (drop docs "
    "within 0.3 cosine of the vec_id % 97 = 0 eval set — the semantic "
    "leakage the n-gram check misses), per-language token manifest. "
    "Stage economics: one doc-emb equi-join, classifier projection, "
    "one broadcast-benchmark map-only scan, one agg shuffle.",
    oracle=f"""
        WITH embv AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings),
        corpus AS (
            SELECT d.doc_id, d.text, d.lang, e.v
            FROM documents d JOIN embv e ON d.doc_id = e.vec_id),
        q AS (
            SELECT doc_id, text, lang, v,
                   round(1.0 / (1.0 + exp(-{_clf_z_sql()})), 4) AS s
            FROM corpus),
        kept AS (SELECT doc_id, text, lang, v FROM q WHERE s >= 0.5),
        bench AS (SELECT v AS bv FROM embv WHERE vec_id % 97 = 0),
        scored AS (
            SELECT k.doc_id,
                   round(list_dot_product(k.v, b.bv)
                     / (sqrt(list_dot_product(k.v, k.v))
                        * sqrt(list_dot_product(b.bv, b.bv))), 6) AS cos6
            FROM kept k CROSS JOIN bench b),
        mx AS (SELECT doc_id, max(cos6) AS m FROM scored GROUP BY doc_id),
        clean AS (
            SELECT kept.doc_id, kept.text, kept.lang, round(mx.m, 4) AS bc
            FROM kept JOIN mx USING (doc_id) WHERE mx.m < 0.3)
        SELECT lang, count(*) AS n_docs,
               CAST(sum(len({_TOKS})) AS BIGINT) AS total_tokens,
               round(avg(bc), 4) AS avg_bench_cos
        FROM clean GROUP BY lang
    """,
)
def pipeline_corpus_prep_v4(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = docs.join(emb, docs["doc_id"] == emb["vec_id"]).select(
        docs["doc_id"], "text", "lang", "embedding"
    )
    # one stage boundary: both the decontamination scan and the final
    # survivor join read the classifier output
    kept = corpus.filter(
        text.quality_classifier_score(F.col("text")) >= 0.5
    ).localCheckpoint()
    bench = emb.filter(F.col("vec_id") % 97 == 0)
    flags = similarity.semantic_contamination(
        kept, bench, threshold=0.3, id_col="doc_id"
    )
    clean = kept.join(
        flags.filter(~F.col("is_contaminated")).select(
            "doc_id", "bench_cos"
        ),
        "doc_id",
    )
    return clean.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(text.token_count(F.col("text"))).cast("long").alias(
            "total_tokens"
        ),
        F.round(F.avg("bench_cos"), 4).alias("avg_bench_cos"),
    )


@query(
    "dedup_cdc_chunks",
    "curation",
    doc="Content-defined-chunking dedup with reassembly "
    "(operators/dedup.py::cdc_chunk_dedup): boundaries drawn from "
    "token content (md5 first hex digit == '0', mean chunk ~16 "
    "tokens), so chunk hashes survive insertions/deletions that shift "
    "every fixed window — the edit-stable upgrade of "
    "dedup_paragraphs, pinned against it on a head-insert corpus. "
    "One doc-partitioned running-sum window + the same "
    "hash/keep/reassemble shape; token-linear, nothing pairwise.",
    oracle="""
        WITH toked AS (
            SELECT doc_id,
                   string_split_regex(trim(lower(text)), '\\s+') AS w
            FROM documents WHERE text IS NOT NULL),
        toks AS (
            SELECT doc_id,
                   unnest(w) AS tok,
                   generate_subscripts(w, 1) AS pos
            FROM toked),
        flagged AS (
            SELECT doc_id, pos, tok,
                   CASE WHEN substring(md5(tok), 1, 1) = '0'
                        THEN 1 ELSE 0 END AS b
            FROM toks),
        cids AS (
            SELECT doc_id, pos, tok,
                   CAST(coalesce(sum(b) OVER (
                       PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING), 0) AS BIGINT) AS chunk_id
            FROM flagged),
        chunks AS (
            SELECT doc_id, chunk_id,
                   string_agg(tok, ' ' ORDER BY pos) AS chunk_text
            FROM cids GROUP BY doc_id, chunk_id),
        ranked AS (
            SELECT *, row_number() OVER (
                       PARTITION BY md5(chunk_text)
                       ORDER BY doc_id, chunk_id) AS rn
            FROM chunks)
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_chunks,
               CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_dropped,
               coalesce(array_to_string(
                   list(chunk_text ORDER BY chunk_id)
                       FILTER (WHERE rn = 1), ' '), '') AS dedup_text
        FROM ranked GROUP BY doc_id
    """,
)
def dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tajo_spark.operators.dedup import cdc_chunk_dedup

    docs = load_table(spark, sf_dir, "documents")
    return cdc_chunk_dedup(docs)


@query(
    "text_bm25_topk",
    "curation",
    doc="BM25 lexical retrieval (Robertson-Sparck Jones; "
    "operators/text.py::bm25_topk): corpus-wide top-10 documents for "
    "a 3-term query — the sparse-retrieval baseline next to the dense "
    "ANN family (hard-negative mining / eval triage in curation). One "
    "corpus scan (query terms broadcast as literals, tf via filtered "
    "explode so only hits leave the row), df/N/avg-len as broadcast "
    "scalars, global top-k as TakeOrdered. Scores rounded to 4 dp "
    "before ranking (ln ulp discipline, as text_tfidf_topk).",
    oracle=f"""
        WITH toked AS (
            SELECT doc_id, string_split({_NORM}, ' ') AS w
            FROM documents),
        lens AS (
            SELECT doc_id, CAST(len(w) AS BIGINT) AS dl, w FROM toked),
        hits AS (
            SELECT doc_id, dl,
                   unnest(list_filter(w,
                       x -> x IN ('spark', 'join', 'window'))) AS tok
            FROM lens),
        tfc AS (
            SELECT doc_id, dl, tok, CAST(count(*) AS DOUBLE) AS tf
            FROM hits GROUP BY doc_id, dl, tok),
        stats AS (
            SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avg_dl
            FROM lens),
        dfreq AS (
            SELECT tok, CAST(count(*) AS DOUBLE) AS df
            FROM tfc GROUP BY tok),
        scored AS (
            SELECT t.doc_id,
                   round(sum(
                       ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                       * t.tf * (1.2 + 1)
                       / (t.tf + 1.2 * (1 - 0.75
                                        + 0.75 * t.dl / s.avg_dl))
                   ), 4) AS bm25
            FROM tfc t JOIN dfreq d USING (tok) CROSS JOIN stats s
            GROUP BY t.doc_id)
        SELECT doc_id, bm25 FROM scored
        ORDER BY bm25 DESC, doc_id LIMIT 10
    """,
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tajo_spark.operators.text import bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    return bm25_topk(docs, ["spark", "join", "window"], k=10)


@query(
    "dedup_bloom_prefilter",
    "curation",
    doc="Bloom-filter ingest gate (Bloom 1970; "
    "operators/dedup.py::bloom_prefilter_dedup): constant-memory "
    "'seen before?' prefilter for incremental ingest. Corpus = even "
    "doc_ids (the store), batch = doc_id%7==0 (a partial re-crawl — "
    "%14 rows genuinely repeat). Build packs md5-slice bit positions "
    "into 32-bit words via ONE O(m)-volume bit_or groupBy; probe is "
    "map-only + a broadcast join of the 512-row packed filter; the "
    "exact confirm semi-join runs ONLY over the maybe-subset, so "
    "definite-new rows never touch the store. No false negatives by "
    "construction (pinned in tests/test_bloom.py); false positives "
    "surface as bloom_maybe=true/is_dup=false rows.",
    oracle="""
        WITH corpus AS (
            SELECT md5(text) AS fp FROM documents WHERE doc_id % 2 = 0),
        cpos AS (
            SELECT ('0x' || substr(fp, 1 + 8*j, 8))::BIGINT % 16384 AS pos
            FROM corpus, (VALUES (0),(1),(2),(3)) s(j)),
        words AS (
            SELECT pos // 32 AS word_idx,
                   bit_or(1::BIGINT << CAST(pos % 32 AS INT)) AS bits
            FROM cpos GROUP BY 1),
        batch AS (
            SELECT doc_id, md5(text) AS fp
            FROM documents WHERE doc_id % 7 = 0),
        bpos AS (
            SELECT doc_id, fp,
                   ('0x' || substr(fp, 1 + 8*j, 8))::BIGINT % 16384 AS pos
            FROM batch, (VALUES (0),(1),(2),(3)) s(j)),
        probed AS (
            SELECT b.doc_id, b.fp,
                   bool_and(coalesce(
                       (w.bits & (1::BIGINT << CAST(b.pos % 32 AS INT)))
                           != 0, false)) AS bloom_maybe
            FROM bpos b LEFT JOIN words w ON w.word_idx = b.pos // 32
            GROUP BY b.doc_id, b.fp)
        SELECT doc_id, bloom_maybe,
               bloom_maybe AND fp IN (SELECT fp FROM corpus) AS is_dup
        FROM probed
    """,
)
def dedup_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tajo_spark.operators.dedup import bloom_prefilter_dedup

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 7 == 0)
    return bloom_prefilter_dedup(corpus, batch)


def _gd_train_oracle(iters: int, lr: float) -> str:
    """Unrolled batch-GD CTE chain mirroring text.train_quality_classifier:
    same 6-dp feature rounding, same 8-dp gradient rounding, same IEEE
    weight updates — the iteration count is small and fixed, so the
    oracle is the trajectory written out longhand."""
    feats = f"""
        toked AS (
            SELECT text, {_TOKS} AS w FROM documents
            WHERE text IS NOT NULL),
        lab AS (
            SELECT x1, x2, x3,
                   CASE WHEN x1 > 0 THEN 1.0 ELSE 0.0 END AS y
            FROM (SELECT
                round((len(list_filter(w, x -> x IN ({_STOPS})))
                       / greatest(len(w), 1) - 0.05) * 20, 6) AS x1,
                round(least(ln(1.0 + len(w)), 8.0) / 8 - 0.5, 6) AS x2,
                round((length(text)
                       - length(regexp_replace(text, '[.,!?;:]', '', 'g')))
                      * 10.0 / greatest(length(text), 1), 6) AS x3
                FROM toked)),
        w0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3)"""
    z = "(w.w0 + w.w1*l.x1 + w.w2*l.x2 + w.w3*l.x3)"
    p = f"1.0 / (1.0 + exp(-{z}))"
    ctes = [feats]
    for i in range(1, iters + 1):
        ctes.append(f"""
        g{i} AS (
            SELECT round(avg(p - y), 8) AS g0,
                   round(avg((p - y) * x1), 8) AS g1,
                   round(avg((p - y) * x2), 8) AS g2,
                   round(avg((p - y) * x3), 8) AS g3
            FROM (SELECT l.*, {p} AS p
                  FROM lab l CROSS JOIN w{i - 1} w)),
        w{i} AS (
            SELECT w.w0 - {lr} * g.g0 AS w0, w.w1 - {lr} * g.g1 AS w1,
                   w.w2 - {lr} * g.g2 AS w2, w.w3 - {lr} * g.g3 AS w3
            FROM w{i - 1} w CROSS JOIN g{i} g)""")
    return f"""
        WITH {",".join(ctes)}
        SELECT round(w.w0, 6) AS w_bias, round(w.w1, 6) AS w_stop,
               round(w.w2, 6) AS w_logtok, round(w.w3, 6) AS w_punct,
               round(avg(CASE WHEN (l.p > 0.5) = (l.y > 0.5)
                              THEN 1.0 ELSE 0.0 END), 4) AS accuracy,
               CAST(count(*) AS BIGINT) AS n_docs
        FROM (SELECT l.*, {p} AS p
              FROM lab l CROSS JOIN w{iters} w) l
        CROSS JOIN w{iters} w
        GROUP BY w.w0, w.w1, w.w2, w.w3
    """


@query(
    "text_quality_train",
    "curation",
    doc="Distributed TRAINING of the quality classifier (batch "
    "gradient descent via DataFrame aggregates, no MLlib; "
    "operators/text.py::train_quality_classifier): 8 GD iterations of "
    "logistic regression over centered 6-dp-rounded features, "
    "distilling the lang-ID rule into a linear model (accuracy 0.98 "
    "vs 0.61 base rate at sf0.01). Each iteration "
    "is ONE aggregate — map-side partial sums reduce every partition "
    "to 4 numbers, so per-iteration shuffle and driver traffic are "
    "O(1); features localCheckpointed once (one corpus scan total). "
    "The oracle unrolls the identical trajectory in SQL (8-dp "
    "gradient rounding makes it cross-engine exact).",
    oracle=_gd_train_oracle(text.TRAIN_ITERS, text.TRAIN_LR),
)
def text_quality_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.train_quality_classifier(docs)


_DSIR_TGT = "'src0','src1','src2','src3'"


@query(
    "curation_dsir_select",
    "curation",
    doc="DSIR importance resampling (Xie et al. 2023, arXiv:2302.03169; "
    "operators/dsir.py): select the 100 raw-corpus docs most like a "
    "curated target domain (sources src0-3) under hashed unigram+bigram "
    "bag-of-ngram models, via Gumbel top-k on the log importance "
    "weight. One explode + ONE (doc,bucket) groupBy featurizes the "
    "corpus (localCheckpointed — single scan feeds both model fits and "
    "scoring); each model is a 1024-row broadcast table; scoring is a "
    "map-side-combinable per-doc sum; selection is TakeOrdered, never "
    "a global sort. Gumbel noise derives from md5(seed:doc_id), so "
    "the draw is a pure function of (corpus, seed) and the oracle "
    "reproduces it bit-for-bit.",
    oracle=rf"""
        WITH tok AS (
            SELECT doc_id, source IN ({_DSIR_TGT}) AS is_target,
                   list_filter(
                       string_split_regex(trim(lower(text)), '\s+'),
                       x -> x <> '') AS ts
            FROM documents WHERE text IS NOT NULL),
        grams AS (
            SELECT doc_id, is_target, unnest(
                list_concat(
                    ts,
                    [array_to_string(ts[i:i+1], ' ')
                     FOR i IN range(1, greatest(len(ts), 1))])) AS gram
            FROM tok),
        dcb AS (
            SELECT doc_id, is_target,
                   ('0x' || substr(md5(gram), 1, 8))::BIGINT % 1024
                       AS bucket,
                   count(*) AS c
            FROM grams GROUP BY 1, 2, 3),
        counts AS (
            SELECT s.bucket,
                   coalesce(t.ct, 0) AS ct, coalesce(r.cr, 0) AS cr
            FROM (SELECT unnest(range(1024)) AS bucket) s
            LEFT JOIN (SELECT bucket, sum(c) AS ct FROM dcb
                       WHERE is_target GROUP BY 1) t USING (bucket)
            LEFT JOIN (SELECT bucket, sum(c) AS cr FROM dcb
                       GROUP BY 1) r USING (bucket)),
        tots AS (SELECT sum(ct) AS t_tot, sum(cr) AS r_tot FROM counts),
        lam AS (
            SELECT bucket,
                   round(ln((ct + 1.0) / (t_tot + 1024))
                         - ln((cr + 1.0) / (r_tot + 1024)), 8) AS lam
            FROM counts CROSS JOIN tots),
        scored AS (
            SELECT dcb.doc_id, round(sum(c * lam), 4) AS logw
            FROM dcb JOIN lam USING (bucket)
            WHERE NOT is_target GROUP BY dcb.doc_id)
        SELECT doc_id, logw,
               round(logw + (-ln(-ln(
                   (('0x' || substr(md5('42:' || CAST(doc_id AS VARCHAR)),
                                    1, 6))::BIGINT + 0.5)
                   / 16777216.0))), 4) AS score
        FROM scored
        ORDER BY score DESC, doc_id LIMIT 100
    """,
)
def curation_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tajo_spark.operators import dsir

    docs = load_table(spark, sf_dir, "documents")
    tgt = F.col("source").isin("src0", "src1", "src2", "src3")
    return dsir.dsir_select(docs, tgt, k=100)


@query(
    "text_ppl_buckets",
    "curation",
    doc="CCNet perplexity bucketing (Wenzek et al. 2020; "
    "operators/text.py::ppl_buckets): per-language head/middle/tail "
    "terciles of the unigram-LM score. Production shape — tercile "
    "cutoffs are exact percentiles over a deterministic md5-prefix "
    "sample (a LANGUAGES-row broadcast table), full corpus bucketed by "
    "map-only threshold comparison; NEVER a per-language ntile, whose "
    "partition sort serializes on the dominant language at web scale. "
    "Spark exact percentile and DuckDB quantile_cont interpolate "
    "identically (probed bit-equal), and comparisons run on the "
    "3-dp-rounded score, so membership is engine-stable.",
    oracle=r"""
        WITH tok AS (
            SELECT doc_id,
                   unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
            FROM documents),
        dtf AS (SELECT doc_id, term, count(*) AS c
                FROM tok WHERE term <> '' GROUP BY doc_id, term),
        tf AS (SELECT term, sum(c) AS tf FROM dtf GROUP BY term),
        tot AS (SELECT sum(tf) AS n FROM tf),
        lp AS (
            SELECT dtf.doc_id,
                   round(sum(dtf.c * ln(tf.tf * 1.0 / tot.n)) / sum(dtf.c), 3)
                       AS avg_logp
            FROM dtf JOIN tf USING (term) CROSS JOIN tot
            GROUP BY dtf.doc_id),
        lpl AS (
            SELECT lp.doc_id, d.lang, lp.avg_logp
            FROM lp JOIN documents d ON lp.doc_id = d.doc_id),
        thr AS (
            SELECT lang,
                   round(quantile_cont(avg_logp, 1.0/3), 6) AS t1,
                   round(quantile_cont(avg_logp, 2.0/3), 6) AS t2
            FROM lpl
            WHERE substr(md5('17:' || CAST(doc_id AS VARCHAR)), 1, 1) < '8'
            GROUP BY lang)
        SELECT lpl.doc_id, lpl.lang, lpl.avg_logp,
               CASE WHEN lpl.avg_logp >= thr.t2 THEN 'head'
                    WHEN lpl.avg_logp >= thr.t1 THEN 'middle'
                    ELSE 'tail' END AS ppl_bucket
        FROM lpl JOIN thr USING (lang)
    """,
)
def text_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.ppl_buckets(docs)


@query(
    "dedup_split_leakage",
    "curation",
    doc="Train/val/test leakage audit "
    "(operators/dedup.py::split_leakage_audit): verified near-duplicate "
    "pairs whose endpoints land in DIFFERENT splits of the deterministic "
    "md5 80/10/10 split — the in-corpus contamination that inflates eval "
    "metrics when near-dups straddle the boundary. Exactly the two-stage "
    "near-dup pipeline (banding proposes, exact 3-gram Jaccard >= 0.5 "
    "disposes) plus a pure-projection split labeling: the label is a "
    "column function of doc_id, so the audit adds ZERO joins to the "
    "dedup pass a pipeline already runs.",
    oracle=f"""
        WITH norm AS (SELECT doc_id, {{_NORM}} AS t FROM documents),
        tk AS (SELECT doc_id, string_split(t, ' ') AS w FROM norm),
        sh AS (SELECT doc_id,
                      CASE WHEN len(w) >= 3
                           THEN list_distinct(list_transform(
                                range(1, len(w) - 1),
                                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
                           ELSE [array_to_string(w, ' ')] END AS s
               FROM tk),
        {{_MINHASH_PAIRS_CTE}},
        jac AS (
            SELECT p.doc_a, p.doc_b,
                   round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                         / len(list_distinct(a.s || b.s)), 4) AS jaccard
            FROM pairs p, sh a, sh b
            WHERE a.doc_id = p.doc_a AND b.doc_id = p.doc_b),
        lab AS (
            SELECT doc_a, doc_b, jaccard,
                   CASE WHEN substr(md5(CAST(doc_a AS VARCHAR)), 1, 2) < 'cc'
                        THEN 'train'
                        WHEN substr(md5(CAST(doc_a AS VARCHAR)), 1, 2) < 'e6'
                        THEN 'val' ELSE 'test' END AS split_a,
                   CASE WHEN substr(md5(CAST(doc_b AS VARCHAR)), 1, 2) < 'cc'
                        THEN 'train'
                        WHEN substr(md5(CAST(doc_b AS VARCHAR)), 1, 2) < 'e6'
                        THEN 'val' ELSE 'test' END AS split_b
            FROM jac WHERE jaccard >= 0.5)
        SELECT * FROM lab WHERE split_a <> split_b
    """.format(_NORM=_NORM, _MINHASH_PAIRS_CTE=_MINHASH_PAIRS_CTE),
)
def dedup_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.split_leakage_audit(docs)


@query(
    "pipeline_corpus_prep_v5",
    "curation",
    doc="Corpus-prep v5 — quality-first refresh: structural Gopher "
    "rules (word count / mean word length / alpha ratio / symbol "
    "ratio; the stopword-presence rule is an audit flag only here — "
    "the synthetic corpus is word soup and it rejects wholesale, see "
    "text_gopher_rules) -> CCNet perplexity bucketing over the "
    "FILTERED corpus (sample-percentile thresholds, map-only "
    "bucketing) -> keep head+middle -> per-(lang, bucket) manifest "
    "with doc/token counts and corpus share. Every stage is the "
    "already-pinned operator; the composition costs the sum of its "
    "stages (no stage re-scans another's input thanks to the "
    "filter pushdown into the LM lineage).",
    oracle=r"""
        WITH toked AS (
            SELECT doc_id,
                   string_split_regex(trim(lower(text)), '\s+') AS w
            FROM documents WHERE text IS NOT NULL),
        keepids AS (
            SELECT doc_id FROM (
                SELECT doc_id,
                       CAST(len(w) AS BIGINT) AS n,
                       CAST(list_sum(list_transform(w, x -> length(x)))
                            AS BIGINT) AS tl,
                       CAST(len(list_filter(w,
                            x -> regexp_matches(x, '[a-z]'))) AS BIGINT)
                           AS alpha,
                       CAST(len(list_filter(w,
                            x -> contains(x, '#') OR contains(x, '...')))
                            AS BIGINT) AS sym
                FROM toked)
            WHERE n BETWEEN 50 AND 100000 AND tl / n BETWEEN 3 AND 10
              AND alpha * 10 >= n * 8 AND sym * 10 < n),
        tok AS (
            SELECT t.doc_id, unnest(t.w) AS term
            FROM toked t JOIN keepids USING (doc_id)),
        dtf AS (SELECT doc_id, term, count(*) AS c
                FROM tok WHERE term <> '' GROUP BY doc_id, term),
        tf AS (SELECT term, sum(c) AS tf FROM dtf GROUP BY term),
        tot AS (SELECT sum(tf) AS n FROM tf),
        lp AS (
            SELECT dtf.doc_id,
                   round(sum(dtf.c * ln(tf.tf * 1.0 / tot.n)) / sum(dtf.c), 3)
                       AS avg_logp,
                   CAST(sum(dtf.c) AS BIGINT) AS n_tokens
            FROM dtf JOIN tf USING (term) CROSS JOIN tot
            GROUP BY dtf.doc_id),
        lpl AS (
            SELECT lp.doc_id, d.lang, lp.avg_logp, lp.n_tokens
            FROM lp JOIN documents d ON lp.doc_id = d.doc_id),
        thr AS (
            SELECT lang,
                   round(quantile_cont(avg_logp, 1.0/3), 6) AS t1,
                   round(quantile_cont(avg_logp, 2.0/3), 6) AS t2
            FROM lpl
            WHERE substr(md5('17:' || CAST(doc_id AS VARCHAR)), 1, 1) < '8'
            GROUP BY lang),
        kept AS (
            SELECT lpl.doc_id, lpl.lang, lpl.n_tokens,
                   CASE WHEN lpl.avg_logp >= thr.t2 THEN 'head'
                        WHEN lpl.avg_logp >= thr.t1 THEN 'middle'
                        ELSE 'tail' END AS ppl_bucket
            FROM lpl JOIN thr USING (lang)),
        final AS (SELECT * FROM kept WHERE ppl_bucket <> 'tail'),
        total AS (SELECT count(*) AS n_all FROM final)
        SELECT lang, ppl_bucket,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
               round(count(*) * 1.0 / n_all, 4) AS share
        FROM final CROSS JOIN total
        GROUP BY lang, ppl_bucket, n_all
    """,
)
def pipeline_corpus_prep_v5(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # Gopher rules applied as a direct per-row FILTER on the same scan
    # the LM stage reads (r13; guide §2.4): the old shape computed the
    # rule projection on one docs scan, semi-joined the surviving ids
    # against a SECOND docs scan, then re-ran scan+rules+semi-join a
    # THIRD time just to attach lang.  The rule expressions are pure
    # per-row projections (text.gopher_flags), so docs ⋉ keep(ids) ≡
    # docs.filter(rules) row-for-row.  The lang join below reads the
    # plain (doc_id, lang) docs projection — equivalent to joining the
    # FILTERED projection because lp's ids are already a subset of the
    # filtered ids — so the rules are evaluated exactly once.
    # (Measured and rejected alternative: riding lang THROUGH the LM
    # aggregation as an extra group key — it widens the corpus-sized
    # (doc,term) shuffle to save only this metadata-cheap join;
    # ppl_buckets with that shape regressed 0.83→1.10 s.)
    flags = text.gopher_flags(F.col("text"))
    filtered = docs.filter(
        F.col("text").isNotNull()
        & flags["rule_word_count"]
        & flags["rule_mean_len"]
        & flags["rule_alpha"]
        & flags["rule_symbol"]
    )
    lp = text.unigram_logprob(filtered)
    # lpl feeds the threshold sample AND the bucket join — checkpoint
    # so the filtered LM lineage executes once (operator-level note in
    # text.unigram_logprob)
    lpl = lp.join(docs.select("doc_id", "lang"), "doc_id").localCheckpoint()
    sample = lpl.filter(
        F.substring(
            F.md5(
                F.concat(F.lit("17:"), F.col("doc_id").cast("string")).cast(
                    "binary"
                )
            ),
            1,
            1,
        )
        < "8"
    )
    thr = sample.groupBy("lang").agg(
        F.round(F.percentile(F.col("avg_logp"), F.lit(1.0 / 3)), 6).alias("t1"),
        F.round(F.percentile(F.col("avg_logp"), F.lit(2.0 / 3)), 6).alias("t2"),
    )
    kept = (
        lpl.join(F.broadcast(thr), "lang")
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            F.when(F.col("avg_logp") >= F.col("t2"), F.lit("head"))
            .when(F.col("avg_logp") >= F.col("t1"), F.lit("middle"))
            .otherwise(F.lit("tail"))
            .alias("ppl_bucket"),
        )
        .filter(F.col("ppl_bucket") != "tail")
    )
    total = kept.agg(F.count(F.lit(1)).alias("n_all"))
    return (
        kept.join(F.broadcast(total))
        .groupBy("lang", "ppl_bucket", "n_all")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )
        .select(
            "lang",
            "ppl_bucket",
            "n_docs",
            "n_tokens",
            F.round(F.col("n_docs") * 1.0 / F.col("n_all"), 4).alias("share"),
        )
    )


@query(
    "sample_token_budget_plan",
    "curation",
    doc="Token-budget mixture planning under the data-constrained "
    "repetition cap (Muennighoff et al. 2023: repeating data beyond "
    "~4 epochs stops helping; "
    "operators/sampling.py::mixture_token_plan): per-language "
    "available vs target tokens for a 2M-token budget at "
    "en .5 / de .15 / fr .15 / es .1 / zh .1, capped epochs, realized "
    "tokens and the unfilled deficit the cap leaves. ONE corpus scan "
    "into a LANGUAGES-row aggregate (map-side partial sums), then "
    "pure projections — broadcast-sized output at any corpus size.",
    oracle=r"""
        WITH corpus_avail AS (
            SELECT lang,
                   CAST(sum(len(string_split_regex(trim(lower(text)),
                                                   '\s+'))) AS BIGINT)
                       AS available_tokens
            FROM documents WHERE text IS NOT NULL GROUP BY lang),
        avail AS (
            SELECT coalesce(c.lang, s.lang) AS lang,
                   coalesce(c.available_tokens, 0) AS available_tokens
            FROM corpus_avail c
            FULL JOIN (SELECT unnest(['en','de','fr','es','zh']) AS lang) s
              ON c.lang = s.lang),
        plan AS (
            SELECT lang, available_tokens,
                   CAST(round(2000000.0 * CASE lang
                        WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.15
                        WHEN 'fr' THEN 0.15 WHEN 'es' THEN 0.1
                        WHEN 'zh' THEN 0.1 ELSE 0.0 END, 0) AS BIGINT)
                       AS target_tokens
            FROM avail)
        SELECT lang, available_tokens, target_tokens,
               CASE WHEN available_tokens = 0 THEN 0.0
                    ELSE round(least(target_tokens * 1.0
                                     / available_tokens, 4.0), 4) END
                   AS epochs,
               CAST(round(least(target_tokens * 1.0,
                                available_tokens * 4.0), 0) AS BIGINT)
                   AS realized_tokens,
               target_tokens
                   - CAST(round(least(target_tokens * 1.0,
                                      available_tokens * 4.0), 0) AS BIGINT)
                   AS deficit
        FROM plan
    """,
)
def sample_token_budget_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tajo_spark.operators import sampling

    docs = load_table(spark, sf_dir, "documents")
    shares = {"en": 0.5, "de": 0.15, "fr": 0.15, "es": 0.1, "zh": 0.1}
    return sampling.mixture_token_plan(docs, shares, token_budget=2_000_000)


@query(
    "dedup_best_of_cluster",
    "curation",
    doc="Quality-aware near-dup survivorship "
    "(operators/dedup.py::best_of_cluster_dedup): keep the "
    "HIGHEST-quality member of each verified near-dup cluster (ties to "
    "the lower doc_id) instead of the first-seen one — the RefinedWeb "
    "refinement; duplicates differ by boilerplate/truncation and min-id "
    "keeps an arbitrary variant. Same stages as dedup_apply_neardup "
    "plus one quality projection and ONE struct-max aggregate per "
    "component (map-side partials, never a per-cluster window sort).",
    oracle=f"""
        WITH RECURSIVE {{_MINHASH_PAIRS_CTE}},
        vnorm AS (SELECT doc_id, {{_NORM}} AS t FROM documents),
        vtk AS (SELECT doc_id, string_split(t, ' ') AS w FROM vnorm),
        vsh AS (SELECT doc_id,
                      CASE WHEN len(w) >= 3
                           THEN list_distinct(list_transform(
                                range(1, len(w) - 1),
                                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
                           ELSE [array_to_string(w, ' ')] END AS s
               FROM vtk),
        vpairs AS (
            SELECT p.doc_a, p.doc_b
            FROM pairs p, vsh a, vsh b
            WHERE a.doc_id = p.doc_a AND b.doc_id = p.doc_b
              AND round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                        / len(list_distinct(a.s || b.s)), 4) >= 0.8),
        q AS (SELECT doc_id, clf_score AS qscore FROM ({{_CLF_SCORED}})),
        cc_edges AS (
            SELECT doc_a AS a, doc_b AS b FROM vpairs
            UNION
            SELECT doc_b AS a, doc_a AS b FROM vpairs),
        reach(node, label) AS (
            SELECT a, a FROM cc_edges
            UNION
            SELECT e.b, r.label FROM reach r JOIN cc_edges e ON e.a = r.node),
        comp AS (
            SELECT node AS doc_id, min(label) AS component
            FROM reach GROUP BY node),
        keepers AS (
            SELECT component,
                   -(max({{{{'q': q.qscore, 'negid': -c.doc_id}}}})).negid
                       AS doc_id
            FROM comp c JOIN q ON q.doc_id = c.doc_id
            GROUP BY component),
        drops AS (
            SELECT c.doc_id FROM comp c
            WHERE c.doc_id NOT IN (SELECT doc_id FROM keepers))
        SELECT q.doc_id, q.qscore FROM q
        WHERE q.doc_id NOT IN (SELECT doc_id FROM drops)
    """.format(
        _MINHASH_PAIRS_CTE=_MINHASH_PAIRS_CTE,
        _NORM=_NORM,
        _CLF_SCORED="SELECT doc_id, clf_score FROM ("
        + _clf_oracle().replace("SELECT doc_id, source, clf_score,",
                                "SELECT doc_id, clf_score,")
        + ")",
    ),
)
def dedup_best_of_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.best_of_cluster_dedup(docs)


@query(
    "sample_epoch_materialize",
    "curation",
    doc="Epoch materialization of the token-budget plan "
    "(operators/sampling.py::materialize_epochs): each doc repeats "
    "floor(epochs) times plus one more when md5(99:doc_id) < the "
    "fractional part — expected per-language tokens match the plan, "
    "epochs<1 degrades to plain downsampling (zh at this budget), and "
    "membership is a pure function of (plan, seed). LANGUAGES-row "
    "broadcast plan + per-row projection + explode; ZERO shuffles. "
    "Budget 40k at en .5 / de .15 / fr .15 / es .1 / zh .1 exercises "
    "both fractional repetition (en 1.70 epochs) and sub-epoch "
    "sampling (zh 0.97).",
    oracle=r"""
        WITH avail AS (
            SELECT lang,
                   CAST(sum(len(string_split_regex(trim(lower(text)),
                                                   '\s+'))) AS BIGINT)
                       AS available_tokens
            FROM documents WHERE text IS NOT NULL GROUP BY lang),
        plan AS (
            SELECT lang,
                   round(least(
                       CAST(round(40000.0 * CASE lang
                            WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.15
                            WHEN 'fr' THEN 0.15 WHEN 'es' THEN 0.1
                            WHEN 'zh' THEN 0.1 ELSE 0.0 END, 0) AS BIGINT)
                       * 1.0 / available_tokens, 4.0), 4) AS epochs
            FROM avail),
        c AS (
            SELECT d.doc_id, d.lang,
                   CAST(floor(p.epochs) AS INT)
                   + CASE WHEN (('0x' || substr(
                           md5('99:' || CAST(d.doc_id AS VARCHAR)),
                           1, 6))::BIGINT + 0.5) / 16777216.0
                          < round(p.epochs - floor(p.epochs), 4)
                          THEN 1 ELSE 0 END AS copies
            FROM documents d JOIN plan p USING (lang))
        SELECT doc_id, lang, CAST(unnest(range(copies)) AS INT) AS epoch
        FROM c WHERE copies > 0
    """,
)
def sample_epoch_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tajo_spark.operators import sampling

    docs = load_table(spark, sf_dir, "documents")
    shares = {"en": 0.5, "de": 0.15, "fr": 0.15, "es": 0.1, "zh": 0.1}
    plan = sampling.mixture_token_plan(docs, shares, token_budget=40_000)
    return sampling.materialize_epochs(docs, plan)


@query(
    "multimodal_audio_neardup",
    "curation",
    doc="Audio fingerprint near-dup detection "
    "(operators/audiofp.py): 64-bit Haitsma-Kalker energy-difference "
    "fingerprint (bit i = frame-energy(i+1) > frame-energy(i) over 65 "
    "floor-boundary frames; integer sums of squares, gain-invariant by "
    "construction — pinned) as 4x16-bit bands, then the SHARED "
    "phash banded-LSH machinery: one (band_idx, band_val) shuffle, "
    "pigeonhole-lossless at hamming <= 3, exact popcount verify. "
    "Demonstration corpus: each doc unioned with a "
    "first/last-char-swapped twin — the swap perturbs only the first "
    "and last frame energies, so twin hamming <= 2 by construction, "
    "giving a deterministic nonzero pair set the O(n^2) oracle "
    "reproduces bit-for-bit. ASCII corpus => byte values == ord() "
    "code points across engines.",
    oracle="""
        WITH twins AS (
            SELECT doc_id, text FROM documents WHERE length(text) >= 65
            UNION ALL
            SELECT doc_id + 1000000,
                   substring(text, length(text), 1)
                     || substring(text, 2, length(text) - 2)
                     || substring(text, 1, 1)
            FROM documents WHERE length(text) >= 65),
        codes AS (
            SELECT doc_id,
                   [ord(substring(text, i, 1))
                    for i in range(1, length(text) + 1)] AS cs
            FROM twins),
        sized AS (SELECT doc_id, cs, len(cs) AS n FROM codes),
        energies AS (
            SELECT doc_id,
                   [CAST(list_sum(list_transform(
                        list_slice(cs, (f*n)//65 + 1, ((f+1)*n)//65),
                        x -> x * x)) AS BIGINT)
                    for f in range(0, 65)] AS e
            FROM sized),
        bands AS (
            SELECT doc_id,
              [ CAST(list_sum([(CASE WHEN e[b + 2] > e[b + 1]
                  THEN 1 ELSE 0 END) * (1 << (15 - (b % 16)))
                  for b in range(g*16, (g+1)*16)]) AS INTEGER)
                for g in range(0, 4)] AS bv
            FROM energies),
        pairs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              CAST(bit_count(xor(a.bv[1]::BIGINT, b.bv[1]::BIGINT))
                 + bit_count(xor(a.bv[2]::BIGINT, b.bv[2]::BIGINT))
                 + bit_count(xor(a.bv[3]::BIGINT, b.bv[3]::BIGINT))
                 + bit_count(xor(a.bv[4]::BIGINT, b.bv[4]::BIGINT))
                AS INTEGER) AS hamming
            FROM bands a JOIN bands b ON a.doc_id < b.doc_id)
        SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= 3
    """,
)
def multimodal_audio_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tajo_spark.operators import audiofp, multimodal

    docs = load_table(spark, sf_dir, "documents").filter(
        F.length("text") >= 65
    )
    twins = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.expr(
            "concat(substring(text, length(text), 1), "
            "substring(text, 2, length(text) - 2), "
            "substring(text, 1, 1))"
        ).alias("text"),
    )
    corpus = docs.select("doc_id", "text").unionByName(twins)
    return audiofp.audio_neardup_pairs(multimodal.attach_binary(corpus))


@query(
    "events_conversation_assembly",
    "curation",
    doc="Trajectory assembly from interaction logs "
    "(operators/sessionize.py::conversation_assembly): per-session "
    "ordered event transcripts, min 3 turns — the multi-turn-example "
    "construction step between raw logs and tokenization. The session "
    "windows and the assembly groupBy share the user_id partitioning "
    "(ONE shuffle + one sort); in-session order is deterministic via "
    "array_sort over (ts, event_id, type) structs; aggregation buffers "
    "are episode-sized (bounded by the session gap), never "
    "corpus-sized.",
    oracle="""
        WITH flagged AS (
            SELECT user_id, event_id, ts, event_type,
                   CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL THEN 1
                        WHEN epoch_ms(ts) - lag(epoch_ms(ts)) OVER w
                             > 1800000 THEN 1
                        ELSE 0 END AS is_new
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        sess AS (
            SELECT user_id, event_id, ts, event_type,
                   CAST(sum(is_new) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id)
                        AS BIGINT) AS session_id
            FROM flagged)
        SELECT user_id, session_id,
               CAST(count(*) AS BIGINT) AS n_turns,
               string_agg(event_type, ' -> ' ORDER BY ts, event_id)
                   AS transcript
        FROM sess
        GROUP BY user_id, session_id
        HAVING count(*) >= 3
    """,
)
def events_conversation_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tajo_spark.operators.sessionize import conversation_assembly

    events = load_table(spark, sf_dir, "events")
    return conversation_assembly(events)


@query(
    "text_cms_heavy_hitters",
    "curation",
    doc="Count-min sketch heavy hitters (Cormode-Muthukrishnan 2005; "
    "operators/sketch.py): exact top-20 terms side-by-side with their "
    "4x2048 count-min estimates and overcounts. The sketch is the "
    "constant-memory MERGEABLE path for tracking term drift over a "
    "continuously-ingested corpus: build is one explode + ONE groupBy "
    "whose key space is bounded at depth*width (8K cells) no matter "
    "the corpus; merge is cell-wise addition; estimates never "
    "undercount (structural — pinned). md5 bucket hashing makes the "
    "entire sketch oracle-checkable bit-for-bit, not just a contract.",
    oracle=r"""
        WITH terms AS (
            SELECT unnest(list_filter(
                string_split_regex(trim(lower(text)), '\s+'),
                x -> x <> '')) AS term
            FROM documents WHERE text IS NOT NULL),
        cells AS (
            SELECT ('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || term),
                                   1, 8))::BIGINT % 2048 AS bucket,
                   j AS row
            FROM terms, (SELECT unnest([0,1,2,3]) AS j)),
        sketch AS (
            SELECT row, bucket, count(*) AS c
            FROM cells GROUP BY row, bucket),
        topk AS (
            SELECT term, CAST(count(*) AS BIGINT) AS true_count
            FROM terms GROUP BY term
            ORDER BY true_count DESC, term LIMIT 20),
        est AS (
            SELECT t.term,
                   CAST(min(s.c) AS BIGINT) AS cms_est
            FROM topk t,
                 (SELECT unnest([0,1,2,3]) AS j) r
            JOIN sketch s
              ON s.row = r.j
            WHERE s.bucket = ('0x' || substr(
                    md5(CAST(r.j AS VARCHAR) || ':' || t.term),
                    1, 8))::BIGINT % 2048
            GROUP BY t.term)
        SELECT t.term, t.true_count, e.cms_est,
               e.cms_est - t.true_count AS overcount
        FROM topk t JOIN est e USING (term)
    """,
)
def text_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tajo_spark.operators import sketch

    docs = load_table(spark, sf_dir, "documents")
    return sketch.cms_heavy_hitters(docs)


@query(
    "corpus_drift_report",
    "curation",
    doc="Snapshot-over-snapshot drift report "
    "(operators/rollup.py::corpus_drift_report): per-language doc "
    "counts, corpus shares, share deltas, average token lengths and "
    "null rates across two corpus snapshots — the data-validation gate "
    "before promoting a new ingest (parser/crawler regressions surface "
    "as distribution shifts). Each snapshot is ONE scan into a "
    "LANGUAGES-row aggregate; the comparison is a full-outer join of "
    "broadcast-sized tables. Demonstration snapshots: doc_id%3!=0 "
    "(old) vs doc_id%2!=0 (new).",
    oracle=r"""
        WITH o AS (
            SELECT lang, CAST(count(*) AS BIGINT) AS old_docs,
                   CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS old_nulls,
                   CAST(sum(CASE WHEN text IS NOT NULL THEN
                        len(string_split_regex(trim(lower(text)), '\s+'))
                        ELSE 0 END) AS BIGINT) AS old_tokens
            FROM documents WHERE doc_id % 3 <> 0 GROUP BY lang),
        n AS (
            SELECT lang, CAST(count(*) AS BIGINT) AS new_docs,
                   CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS new_nulls,
                   CAST(sum(CASE WHEN text IS NOT NULL THEN
                        len(string_split_regex(trim(lower(text)), '\s+'))
                        ELSE 0 END) AS BIGINT) AS new_tokens
            FROM documents WHERE doc_id % 2 <> 0 GROUP BY lang),
        ot AS (SELECT sum(old_docs) AS old_total FROM o),
        nt AS (SELECT sum(new_docs) AS new_total FROM n),
        j AS (
            SELECT coalesce(o.lang, n.lang) AS lang,
                   coalesce(o.old_docs, 0) AS old_docs,
                   coalesce(n.new_docs, 0) AS new_docs,
                   coalesce(o.old_nulls, 0) AS old_nulls,
                   coalesce(n.new_nulls, 0) AS new_nulls,
                   coalesce(o.old_tokens, 0) AS old_tokens,
                   coalesce(n.new_tokens, 0) AS new_tokens
            FROM o FULL JOIN n ON o.lang = n.lang),
        calc AS (
            SELECT lang, old_docs, new_docs,
                   round(old_docs * 1.0 / coalesce(old_total, 1), 4)
                       AS old_share,
                   round(new_docs * 1.0 / coalesce(new_total, 1), 4)
                       AS new_share,
                   round(old_tokens * 1.0
                         / greatest(old_docs - old_nulls, 1), 4)
                       AS old_avg_tokens,
                   round(new_tokens * 1.0
                         / greatest(new_docs - new_nulls, 1), 4)
                       AS new_avg_tokens,
                   round(old_nulls * 1.0 / greatest(old_docs, 1), 4)
                       AS old_null_rate,
                   round(new_nulls * 1.0 / greatest(new_docs, 1), 4)
                       AS new_null_rate
            FROM j CROSS JOIN ot CROSS JOIN nt)
        SELECT lang, old_docs, new_docs, old_share, new_share,
               round(new_share - old_share, 4) AS share_delta,
               old_avg_tokens, new_avg_tokens,
               round(new_avg_tokens / greatest(old_avg_tokens, 0.0001), 4)
                   AS avg_tokens_ratio,
               old_null_rate, new_null_rate
        FROM calc
    """,
)
def corpus_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tajo_spark.operators.rollup import corpus_drift_report as drift

    docs = load_table(spark, sf_dir, "documents")
    return drift(
        docs.filter(F.col("doc_id") % 3 != 0),
        docs.filter(F.col("doc_id") % 2 != 0),
    )


@query(
    "dedup_split_repair",
    "curation",
    doc="Leakage-free split materialization "
    "(operators/dedup.py::repair_split_leakage): detect cross-boundary "
    "near-dup pairs (the dedup_split_leakage audit) and drop the "
    "TRAINING-side member of each — eval sets stay intact so benchmark "
    "numbers remain comparable; val->test leaks drop the val side so "
    "test is the split never touched. Output: the full corpus labeled "
    "(doc_id, split, keep). The audit pipeline plus one broadcast "
    "anti-join of the (tiny) offender set.",
    oracle=f"""
        WITH norm AS (SELECT doc_id, {{_NORM}} AS t FROM documents),
        tk AS (SELECT doc_id, string_split(t, ' ') AS w FROM norm),
        sh AS (SELECT doc_id,
                      CASE WHEN len(w) >= 3
                           THEN list_distinct(list_transform(
                                range(1, len(w) - 1),
                                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
                           ELSE [array_to_string(w, ' ')] END AS s
               FROM tk),
        {{_MINHASH_PAIRS_CTE}},
        jac AS (
            SELECT p.doc_a, p.doc_b,
                   round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                         / len(list_distinct(a.s || b.s)), 4) AS jaccard
            FROM pairs p, sh a, sh b
            WHERE a.doc_id = p.doc_a AND b.doc_id = p.doc_b),
        lab AS (
            SELECT doc_a, doc_b,
                   CASE WHEN substr(md5(CAST(doc_a AS VARCHAR)), 1, 2) < 'cc'
                        THEN 'train'
                        WHEN substr(md5(CAST(doc_a AS VARCHAR)), 1, 2) < 'e6'
                        THEN 'val' ELSE 'test' END AS split_a,
                   CASE WHEN substr(md5(CAST(doc_b AS VARCHAR)), 1, 2) < 'cc'
                        THEN 'train'
                        WHEN substr(md5(CAST(doc_b AS VARCHAR)), 1, 2) < 'e6'
                        THEN 'val' ELSE 'test' END AS split_b
            FROM jac WHERE jaccard >= 0.5),
        leaks AS (SELECT * FROM lab WHERE split_a <> split_b),
        drops AS (
            SELECT doc_a AS doc_id FROM leaks
            WHERE split_a = 'train'
               OR (split_a = 'val' AND split_b = 'test')
            UNION
            SELECT doc_b AS doc_id FROM leaks
            WHERE split_b = 'train'
               OR (split_b = 'val' AND split_a = 'test'))
        SELECT d.doc_id,
               CASE WHEN substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 2) < 'cc'
                    THEN 'train'
                    WHEN substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 2) < 'e6'
                    THEN 'val' ELSE 'test' END AS split,
               dr.doc_id IS NULL AS keep
        FROM documents d LEFT JOIN drops dr ON d.doc_id = dr.doc_id
    """.format(_NORM=_NORM, _MINHASH_PAIRS_CTE=_MINHASH_PAIRS_CTE),
)
def dedup_split_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.repair_split_leakage(docs)


@query(
    "sim_hybrid_rrf",
    "curation",
    doc="Hybrid retrieval via reciprocal-rank fusion (Cormack et al. "
    "2009; operators/similarity.py::hybrid_rrf_topk): fuse the BM25 "
    "lexical top-50 with the dense cosine top-50 by "
    "score(d) = sum 1/(60 + rank_i(d)) — no score calibration between "
    "a log-scaled lexical score and a bounded cosine, only ranks. "
    "Each leg is its already-pinned one-scan operator; fusion joins "
    "two 50-row frames (rank windows run over depth rows, not corpus "
    "rows) and TakeOrders the top 10.",
    oracle=rf"""
        WITH toked AS (
            SELECT doc_id, string_split({_NORM}, ' ') AS w
            FROM documents),
        lens AS (
            SELECT doc_id, CAST(len(w) AS BIGINT) AS dl, w FROM toked),
        hits AS (
            SELECT doc_id, dl,
                   unnest(list_filter(w,
                       x -> x IN ('spark', 'join', 'window'))) AS tok
            FROM lens),
        tfc AS (
            SELECT doc_id, dl, tok, CAST(count(*) AS DOUBLE) AS tf
            FROM hits GROUP BY doc_id, dl, tok),
        stats AS (
            SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avg_dl
            FROM lens),
        dfreq AS (
            SELECT tok, CAST(count(*) AS DOUBLE) AS df
            FROM tfc GROUP BY tok),
        bm AS (
            SELECT t.doc_id,
                   round(sum(
                       ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                       * t.tf * (1.2 + 1)
                       / (t.tf + 1.2 * (1 - 0.75
                                        + 0.75 * t.dl / s.avg_dl))
                   ), 4) AS bm25
            FROM tfc t JOIN dfreq d USING (tok) CROSS JOIN stats s
            GROUP BY t.doc_id
            ORDER BY bm25 DESC, t.doc_id LIMIT 50),
        lex AS (
            SELECT doc_id,
                   CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id)
                        AS INT) AS lex_rank
            FROM bm),
        q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        dn AS (
            SELECT vec_id,
                   round(list_dot_product(embedding, qv)
                         / (sqrt(list_dot_product(embedding, embedding))
                            * sqrt(list_dot_product(qv, qv))), 4)
                       AS cos_sim
            FROM embeddings, q WHERE vec_id <> 0
            ORDER BY cos_sim DESC, vec_id LIMIT 50),
        dense AS (
            SELECT vec_id AS doc_id,
                   CAST(row_number() OVER (ORDER BY cos_sim DESC, vec_id)
                        AS INT) AS dense_rank
            FROM dn)
        SELECT coalesce(l.doc_id, d.doc_id) AS doc_id,
               l.lex_rank, d.dense_rank,
               round(coalesce(1.0 / (60 + l.lex_rank), 0.0)
                     + coalesce(1.0 / (60 + d.dense_rank), 0.0), 6) AS rrf
        FROM lex l FULL JOIN dense d ON l.doc_id = d.doc_id
        ORDER BY rrf DESC, doc_id LIMIT 10
    """,
)
def sim_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.hybrid_rrf_topk(
        docs, emb, ["spark", "join", "window"], query_vec_id=0, k=10
    )


@query(
    "text_langid_confusion",
    "curation",
    doc="Classifier-audit confusion matrix for the lang-ID heuristic "
    "(operators/text.py::lang_id) against the corpus's labeled lang "
    "column: per (label, prediction) cell counts, cell share of the "
    "label row, and per-label recall — the model-eval step a curation "
    "pipeline runs before trusting a filter at scale (here it "
    "quantifies exactly how the stopword heuristic behaves on "
    "non-English text). ONE scan into a |labels x predictions| "
    "aggregate (map-side partials) + a broadcast per-label total.",
    oracle=r"""
        WITH pred AS (
            SELECT lang AS label,
                   CASE WHEN len(list_filter(
                            string_split_regex(trim(lower(text)), '\s+'),
                            x -> x IN ('the','a','of','and','to','in',
                                       'is','it','for','on')))
                         * 1.0
                         / greatest(len(string_split_regex(
                               trim(lower(text)), '\s+')), 1) > 0.05
                        THEN 'en' ELSE 'other' END AS predicted
            FROM documents WHERE text IS NOT NULL),
        cells AS (
            SELECT label, predicted, CAST(count(*) AS BIGINT) AS n
            FROM pred GROUP BY label, predicted),
        tot AS (
            SELECT label, sum(n) AS label_total FROM cells GROUP BY label)
        SELECT c.label, c.predicted, c.n,
               round(c.n * 1.0 / t.label_total, 4) AS label_share
        FROM cells c JOIN tot t USING (label)
    """,
)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    cells = (
        docs.select(
            F.col("lang").alias("label"),
            text.lang_id(F.col("text")).alias("predicted"),
        )
        .groupBy("label", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = cells.groupBy("label").agg(F.sum("n").alias("label_total"))
    return (
        cells.join(F.broadcast(tot), "label")
        .select(
            "label",
            "predicted",
            "n",
            F.round(F.col("n") * 1.0 / F.col("label_total"), 4).alias(
                "label_share"
            ),
        )
    )


@query(
    "export_shard_verify",
    "curation",
    doc="Consumer-side export integrity gate "
    "(operators/export.py::verify_shards): documents written as shard "
    "directories + manifest (self-staging, same 64 KiB geometry as "
    "export_shard_manifest), then the verifier re-derives each shard's "
    "(n_docs, total_bytes) FROM THE FILES and compares against the "
    "persisted manifest — a lost part file or stale manifest surfaces "
    "before a loader silently trains on a truncated corpus. One scan "
    "of the shard files into a SHARDS-row aggregate + broadcast-sized "
    "full-outer join; the oracle re-derives the expected per-shard "
    "stats (a clean write verifies ok on every row).",
    oracle="""
        WITH k AS (
            SELECT doc_id,
                   octet_length(CAST(text AS BLOB)) AS nb,
                   md5('42:' || CAST(doc_id AS VARCHAR)) AS h
            FROM documents),
        c AS (
            SELECT nb,
                   COALESCE(SUM(nb) OVER (
                       ORDER BY h, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0) AS cb
            FROM k),
        m AS (
            SELECT CAST(cb // 65536 AS BIGINT) AS shard_id,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(nb) AS BIGINT) AS b
            FROM c GROUP BY 1)
        SELECT shard_id, n AS manifest_docs, n AS actual_docs,
               b AS manifest_bytes, b AS actual_bytes, true AS ok
        FROM m
    """,
)
def export_shard_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os
    import shutil
    import tempfile

    from tajo_spark.operators import export as E

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        F.octet_length("text").cast("long").alias("nb"),
    )
    # stable per-sf_dir staging dir, wiped before reuse (the module's
    # convention — bench/driver loops must not leak a corpus-sized
    # mkdtemp per invocation)
    path = os.path.join(
        tempfile.gettempdir(),
        "tajo_spark_shardverify_"
        + hashlib.md5(sf_dir.encode()).hexdigest()[:12],
    )
    shutil.rmtree(path, ignore_errors=True)
    E.write_shards(docs, path, "doc_id", "nb", shard_bytes=65536, seed=42)
    return E.verify_shards(spark, path, "nb")


def _kmeans_oracle_iter(i: int) -> str:
    """One unrolled Lloyd iteration of the sim_kmeans_lloyd oracle."""
    return f"""
        s{i} AS (SELECT e.vec_id, e.v, c.cid,
                     list_sum(list_transform(range(1, len(e.v) + 1),
                              i -> (e.v[i] - c.c[i]) * (e.v[i] - c.c[i])))
                         AS sq
                 FROM e, c{i} c),
        a{i} AS (SELECT vec_id, v, cid, sq FROM (
                   SELECT *, row_number() OVER (
                       PARTITION BY vec_id ORDER BY sq, cid) AS rn
                   FROM s{i}) WHERE rn = 1),
        u{i} AS (SELECT cid, d, ROUND(avg(val), 9) AS m
                 FROM (SELECT cid, unnest(v) AS val,
                              generate_subscripts(v, 1) AS d
                       FROM a{i})
                 GROUP BY cid, d),
        c{i + 1} AS (SELECT cid, list(m ORDER BY d) AS c
                     FROM u{i} GROUP BY cid)"""


@query(
    "sim_kmeans_lloyd",
    "curation",
    doc="Distributed Lloyd k-means, fully SQL-reproducible "
    "(operators/similarity.py::kmeans_lloyd): deterministic init (k "
    "lowest vec_ids), squared-L2 argmin with (dist,cid) struct-min "
    "tie-break, per-dimension mean update rounded to 9 decimals on "
    "BOTH engines (summation order differs between Spark partial "
    "aggregation and a serial engine; unrounded means can flip the "
    "argmin for near-equidistant vectors) — 3 iterations "
    "unrolled in the oracle, so the driver replays the ENTIRE "
    "trajectory, not a boolean contract (contrast "
    "embedding_cluster_stats, whose MLlib fit is only "
    "contract-checkable). Per iteration: one broadcast k-way "
    "expansion (JVM zip_with/aggregate, no Python) + one cid x dim "
    "aggregate (<= k*d groups); centroids stay a k-row DataFrame — "
    "zero collects, the canonical distributed-iteration shape at "
    "100 TB.",
    oracle="WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v\n"
    "                 FROM embeddings),\n"
    "     c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INT)\n"
    "                       AS cid, v AS c\n"
    "            FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 8)),"
    + ",".join(_kmeans_oracle_iter(i) for i in range(3))
    + """,
        s3 AS (SELECT e.vec_id, c.cid,
                     list_sum(list_transform(range(1, len(e.v) + 1),
                              i -> (e.v[i] - c.c[i]) * (e.v[i] - c.c[i])))
                         AS sq
               FROM e, c3 c),
        a3 AS (SELECT vec_id, cid, sq FROM (
                 SELECT *, row_number() OVER (
                     PARTITION BY vec_id ORDER BY sq, cid) AS rn
                 FROM s3) WHERE rn = 1)
        SELECT a3.cid AS cid,
               CAST(count(*) AS BIGINT) AS n_members,
               ROUND(avg(a3.sq), 4) AS mean_sq_dist,
               ROUND(sqrt(any_value(
                   list_sum(list_transform(c3.c, x -> x * x)))), 3)
                   AS cnorm
        FROM a3 JOIN c3 USING (cid)
        GROUP BY a3.cid
        ORDER BY cid""",
)
def sim_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    assigned, cent = similarity.kmeans_lloyd(emb, k=8, n_iter=3)
    return (
        assigned.join(cent, "cid")
        .groupBy("cid")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.round(F.avg("sq_dist"), 4).alias("mean_sq_dist"),
            F.round(
                F.sqrt(
                    F.aggregate(
                        F.first("c"), F.lit(0.0), lambda a, x: a + x * x
                    )
                ),
                3,
            ).alias("cnorm"),
        )
        .orderBy("cid")
    )


def _profile_oracle_col(c: str) -> str:
    """One column's row of the profile_columns_documents oracle."""
    return f"""
        SELECT '{c}' AS col_name,
               CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_nulls,
               CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
               CAST(min({c}) AS VARCHAR) AS min_s,
               CAST(max({c}) AS VARCHAR) AS max_s,
               ROUND(avg(length(CAST({c} AS VARCHAR))), 2) AS avg_len
        FROM documents"""


@query(
    "profile_columns_documents",
    "curation",
    doc="One-pass column profiler (operators/profile.py — query-time "
    "twin of the reference's per-column catalog statistics, "
    "TableStats.java/ColumnStats.java): null count, exact "
    "cardinality, native-typed min/max, mean rendered length for "
    "every documents column in ONE aggregate; the per-column unpivot "
    "runs on the single result row. exact_distinct=True here so the "
    "oracle can replay it; production default is HLL++ "
    "approx_count_distinct, which keeps the pass single-width at "
    "100 TB.",
    oracle=" UNION ALL ".join(
        _profile_oracle_col(c)
        for c in ("doc_id", "text", "lang", "source", "n_chars")
    ),
)
def profile_columns_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tajo_spark.operators.profile import profile_columns

    docs = load_table(spark, sf_dir, "documents")
    return profile_columns(docs, exact_distinct=True)


@query(
    "text_bigram_logprob",
    "curation",
    doc="Add-k smoothed bigram LM quality signal "
    "(operators/text.py::bigram_logprob — the transition-probability "
    "step past text_unigram_logprob toward CCNet LM scoring): per-doc "
    "average log P(w2|w1) under a model trained on the corpus itself. "
    "ONE corpus scan (bigrams via the overlapping-lookahead regex "
    "pass), checkpointed (doc,bigram) counts feeding joint/context/"
    "vocab/scoring, every shuffle over distinct-pair rows; V is a "
    "broadcast scalar.",
    oracle=r"""
        WITH tok AS (
            SELECT doc_id,
                   list_filter(
                       string_split_regex(trim(lower(text)), '\s+'),
                       x -> x <> '') AS ts
            FROM documents),
        g AS (
            SELECT doc_id,
                   unnest([ts[i] || ' ' || ts[i + 1]
                           FOR i IN range(1, len(ts))]) AS bg
            FROM tok WHERE len(ts) >= 2),
        dbc AS (SELECT doc_id, bg, count(*) AS c FROM g
                GROUP BY doc_id, bg),
        joint AS (SELECT bg, sum(c) AS cb FROM dbc GROUP BY bg),
        ctx AS (SELECT split_part(bg, ' ', 1) AS w1, sum(cb) AS cw
                FROM joint GROUP BY 1),
        vocab AS (SELECT count(DISTINCT w) AS v
                  FROM (SELECT unnest(string_split(bg, ' ')) AS w
                        FROM joint)),
        model AS (SELECT joint.bg,
                         ln((cb + 0.5) / (cw + 0.5 * v)) AS logp
                  FROM joint
                  JOIN ctx ON split_part(joint.bg, ' ', 1) = ctx.w1
                  CROSS JOIN vocab)
        SELECT dbc.doc_id AS doc_id,
               ROUND(sum(c * logp) / sum(c), 3) AS avg_logp2,
               CAST(sum(c) AS BIGINT) AS n_bigrams
        FROM dbc JOIN model USING (bg)
        GROUP BY dbc.doc_id""",
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.bigram_logprob(docs)


# --------------------------------------------------------------------------
# Round 7 additions
# --------------------------------------------------------------------------


@query(
    "multimodal_jpeg_progressive",
    "curation",
    doc="Progressive JPEG (SOF2) through the REAL codec (r06 verdict "
    "#4, operators/jpeg.py): each doc synthesizes a deterministic "
    "image, encodes it BOTH baseline and progressive (spectral "
    "selection + successive approximation scan script), decodes both "
    "inside one Arrow mapInPandas stage, and emits the header "
    "geometry plus a pixel-identity flag — the two codings carry the "
    "same quantized coefficients, so decoded pixels must match bit "
    "for bit at every geometry. Oracle: closed-form dims + identity.",
    oracle="""
        SELECT doc_id,
               CAST(16 + doc_id % 32 AS INT) AS width,
               CAST(16 + (doc_id * 7) % 24 AS INT) AS height,
               CAST(CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 1 END AS INT)
                   AS channels,
               CAST(1 AS INT) AS px_equal
        FROM documents WHERE doc_id < 64 ORDER BY doc_id
    """,
)
def multimodal_jpeg_progressive(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 64)
    )

    def roundtrip(batches):
        import numpy as np
        import pandas as pd

        from tajo_spark.operators.jpeg import (
            decode_jpeg,
            encode_jpeg,
            encode_jpeg_progressive,
            jpeg_header,
        )

        for b in batches:
            rows = []
            for did in b["doc_id"]:
                did = int(did)
                w = 16 + did % 32
                h = 16 + (did * 7) % 24
                yy, xx = np.mgrid[0:h, 0:w]
                g = ((yy * 5 + xx * 3 + did) % 256).astype(np.uint8)
                if did % 2 == 0:
                    img = np.stack([g, 255 - g, g // 2], axis=2)
                    base = encode_jpeg(img, quality=90, subsample=True)
                    prog = encode_jpeg_progressive(
                        img, quality=90, subsample=True
                    )
                else:
                    base = encode_jpeg(g, quality=90)
                    prog = encode_jpeg_progressive(g, quality=90)
                pw, ph, pc = jpeg_header(prog)
                eq = int(
                    np.array_equal(decode_jpeg(base), decode_jpeg(prog))
                )
                rows.append((did, pw, ph, pc, eq))
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "width", "height", "channels", "px_equal",
                ],
            )

    return docs.mapInPandas(
        roundtrip,
        "doc_id LONG, width INT, height INT, channels INT, px_equal INT",
    ).orderBy("doc_id")


@query(
    "dedup_cluster_stats",
    "curation",
    doc="Near-dup cluster size distribution (corpus-health datacard "
    "row): connected components over the MinHash+LSH candidate pairs "
    "folded to (cluster_size, n_clusters, n_docs) — the shape that "
    "tells you whether duplication is pairwise noise or syndication "
    "hubs, and projects the dedup ratio before any deletion runs. "
    "Spark leg reuses the iterative min-label propagation "
    "(graph.py::connected_components); all stats run on one row per "
    "component (aggregate domain).",
    oracle=f"""
        WITH RECURSIVE {_MINHASH_PAIRS_CTE},
        cc_edges AS (
            SELECT doc_a AS a, doc_b AS b FROM pairs
            UNION
            SELECT doc_b AS a, doc_a AS b FROM pairs),
        reach(node, label) AS (
            SELECT a, a FROM cc_edges
            UNION
            SELECT e.b, r.label FROM reach r JOIN cc_edges e ON e.a = r.node),
        comp AS (SELECT node, min(label) AS component
                 FROM reach GROUP BY node),
        sizes AS (SELECT component, count(*) AS sz
                  FROM comp GROUP BY component)
        SELECT CAST(sz AS BIGINT) AS cluster_size,
               CAST(count(*) AS BIGINT) AS n_clusters,
               CAST(sz * count(*) AS BIGINT) AS n_docs
        FROM sizes GROUP BY sz ORDER BY sz
    """,
)
def dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tajo_spark.operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_candidate_pairs(docs)
    comp = connected_components(pairs, assume_distinct=True)
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("sz")
    )
    return (
        sizes.groupBy("sz")
        .agg(F.count(F.lit(1)).cast("long").alias("n_clusters"))
        .select(
            F.col("sz").alias("cluster_size"),
            "n_clusters",
            (F.col("sz") * F.col("n_clusters"))
            .cast("long")
            .alias("n_docs"),
        )
        .orderBy("cluster_size")
    )


@query(
    "dedup_weighted_containment",
    "curation",
    doc="IDF-weighted containment over the LSH candidate pairs: "
    "shared boilerplate shingles (high document frequency) contribute "
    "little, rare shared content dominates — so a page sharing only "
    "its site template with another scores low while true content "
    "subsumption scores ~1.0. Weights are ln(N/df) integer-scaled at "
    "1e6 so the per-pair sums are EXACT integers (summation order "
    "cannot flip the driver hash); per-doc total weight is computed "
    "once and joined back, and the intersection weight is one "
    "explode + semi-join + two-phase sum over candidate pairs only.",
    oracle=f"""
        WITH norm AS (SELECT doc_id, {_NORM} AS t FROM documents),
        tk AS (SELECT doc_id, string_split(t, ' ') AS w FROM norm),
        sh AS (SELECT doc_id,
                      CASE WHEN len(w) >= 3
                           THEN list_distinct(list_transform(
                                range(1, len(w) - 1),
                                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
                           ELSE [array_to_string(w, ' ')] END AS s
               FROM tk),
        post AS (SELECT doc_id, unnest(s) AS sh FROM sh),
        nn AS (SELECT count(*) AS n FROM documents WHERE text IS NOT NULL),
        dfc AS (SELECT sh AS shingle,
                       CAST(round(ln(CAST(nn.n AS DOUBLE) / count(*))
                                  * 1000000) AS BIGINT) AS idf
                FROM post CROSS JOIN nn GROUP BY sh, nn.n),
        wtot AS (SELECT p.doc_id, sum(d.idf) AS w
                 FROM post p JOIN dfc d ON d.shingle = p.sh
                 GROUP BY p.doc_id),
        {_MINHASH_PAIRS_CTE},
        inter AS (
            SELECT pr.doc_a, pr.doc_b, sum(d.idf) AS wi
            FROM pairs pr
            JOIN post pa ON pa.doc_id = pr.doc_a
            JOIN post pb ON pb.doc_id = pr.doc_b AND pb.sh = pa.sh
            JOIN dfc d ON d.shingle = pa.sh
            GROUP BY pr.doc_a, pr.doc_b)
        SELECT i.doc_a, i.doc_b,
               ROUND(CAST(i.wi AS DOUBLE) / greatest(wa.w, 1), 4)
                   AS wcont_a_in_b,
               ROUND(CAST(i.wi AS DOUBLE) / greatest(wb.w, 1), 4)
                   AS wcont_b_in_a
        FROM inter i
        JOIN wtot wa ON wa.doc_id = i.doc_a
        JOIN wtot wb ON wb.doc_id = i.doc_b
    """,
)
def dedup_weighted_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.weighted_containment_pairs(docs)


@query(
    "sim_source_centroid_drift",
    "curation",
    doc="Per-label embedding centroids + pairwise cosine between them "
    "(embedding-space drift between corpus slices — the signal that "
    "two sources/snapshots cover diverging content). Scale shape: "
    "posexplode to (label, pos, val) then ONE two-phase groupBy to "
    "per-label component sums; cosine(centroid_a, centroid_b) equals "
    "cosine of the SUMS (the 1/n factors cancel), so components stay "
    "EXACT integers (elements scaled 1e6) and the only float op is "
    "the final division of identical integers on both engines — "
    "summation order cannot flip the hash. Label count is small, so "
    "the centroid self-join is broadcast-sized.",
    oracle="""
        WITH e AS (SELECT label, unnest(embedding) AS val,
                          generate_subscripts(embedding, 1) AS pos
                   FROM embeddings),
        s AS (SELECT label, pos,
                     sum(CAST(round(CAST(val AS DOUBLE) * 1000000)
                              AS BIGINT)) AS sv
              FROM e GROUP BY label, pos),
        dot AS (SELECT a.label AS label_a, b.label AS label_b,
                       sum(a.sv * b.sv) AS num
                FROM s a JOIN s b ON a.pos = b.pos AND a.label < b.label
                GROUP BY a.label, b.label),
        nrm AS (SELECT label, sum(sv * sv) AS d FROM s GROUP BY label)
        SELECT d.label_a, d.label_b,
               ROUND(CAST(d.num AS DOUBLE)
                     / sqrt(CAST(na.d AS DOUBLE) * CAST(nb.d AS DOUBLE)),
                     6) AS cosine
        FROM dot d
        JOIN nrm na ON na.label = d.label_a
        JOIN nrm nb ON nb.label = d.label_b
        ORDER BY d.label_a, d.label_b
    """,
)
def sim_source_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tajo_spark.operators.similarity import label_centroid_cosines

    emb = load_table(spark, sf_dir, "embeddings")
    return label_centroid_cosines(emb)


@query(
    "text_bpe_fertility",
    "curation",
    doc="Tokenizer fertility per language: BPE-ish tokens per "
    "whitespace word (the compression-quality signal that decides "
    "whether a tokenizer underserves a language — fertility ~1 for "
    "well-covered scripts, >>1 where the vocab fragments). Pure "
    "JVM-side regexp projection + ONE lang-keyed two-phase agg; "
    "integer token sums, one final rounded division.",
    oracle="""
        SELECT lang,
               CAST(sum(len(regexp_extract_all(text,
                    '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))) AS BIGINT)
                   AS bpe_tokens,
               CAST(sum(len(regexp_extract_all(text, '[A-Za-z0-9]+')))
                    AS BIGINT) AS words,
               ROUND(sum(len(regexp_extract_all(text,
                    '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))) * 1.0
                     / greatest(sum(len(regexp_extract_all(text,
                    '[A-Za-z0-9]+'))), 1), 4) AS fertility
        FROM documents GROUP BY lang ORDER BY lang
    """,
)
def text_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    return (
        docs.select(
            "lang",
            text.bpe_piece_count(t).alias("b"),
            text.alnum_word_count(t).alias("w"),
        )
        .groupBy("lang")
        .agg(
            F.sum("b").cast("long").alias("bpe_tokens"),
            F.sum("w").cast("long").alias("words"),
            F.round(
                F.sum("b") / F.greatest(F.sum("w"), F.lit(1)), 4
            ).alias("fertility"),
        )
        .orderBy("lang")
    )


@query(
    "multimodal_flac_roundtrip",
    "curation",
    doc="REAL FLAC bytes through the production metadata pass "
    "(operators/flac.py, r06 'What's missing' #1 — compressed audio): "
    "each doc synthesizes a deterministic PCM clip (length/rate from "
    "doc_id, even ids stereo mid/side, odd mono), encodes it with the "
    "stdlib lossless encoder inside one Arrow mapInPandas stage, "
    "decodes it back bit-exactly, and audio_metadata(fake=False) "
    "parses STREAMINFO via the container-dispatched audio seam. The "
    "oracle is the closed-form clip formulas + the lossless flag.",
    oracle="""
        SELECT doc_id,
               CAST(CASE WHEN doc_id % 3 = 0 THEN 8000
                         WHEN doc_id % 3 = 1 THEN 16000
                         ELSE 44100 END AS INT) AS sample_rate,
               CAST(2000 + (doc_id * 37) % 3000 AS BIGINT) AS n_samples,
               CAST(1 AS INT) AS lossless
        FROM documents WHERE doc_id < 48 ORDER BY doc_id
    """,
)
def multimodal_flac_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 48)
    )

    def roundtrip(batches):
        import numpy as np
        import pandas as pd

        from tajo_spark.operators.codecs import audio_header
        from tajo_spark.operators.flac import decode_flac, encode_flac

        for b in batches:
            rows = []
            for did in b["doc_id"]:
                did = int(did)
                sr = (8000, 16000, 44100)[did % 3]
                n = 2000 + (did * 37) % 3000
                t = np.arange(n)
                x = np.clip(
                    (1500 * np.sin(t / (5.0 + did % 11))).astype(np.int64)
                    + ((t * (did + 7)) % 251) - 125,
                    -(1 << 15), (1 << 15) - 1,
                )
                if did % 2 == 0:
                    pcm = np.stack(
                        [x, np.clip(x + (t % 13) - 6,
                                    -(1 << 15), (1 << 15) - 1)],
                        axis=1,
                    )
                else:
                    pcm = x
                enc = encode_flac(pcm, sr)
                hsr, hn = audio_header(enc)
                _, dec = decode_flac(enc)
                ok = np.array_equal(
                    dec, pcm if pcm.ndim == 2 else pcm[:, None]
                )
                rows.append((did, hsr, hn, int(ok)))
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "sample_rate", "n_samples", "lossless"],
            )

    return docs.mapInPandas(
        roundtrip,
        "doc_id LONG, sample_rate INT, n_samples LONG, lossless INT",
    ).orderBy("doc_id")


@query(
    "multimodal_video_real_frames",
    "curation",
    doc="REAL video bytes through the frame-sampling stage "
    "(operators/avi.py + multimodal.sample_frames(fake=False)): each "
    "doc synthesizes a deterministic MJPEG-in-AVI clip (frame count "
    "from doc_id), samples every 2nd frame capped at 3, DECODES each "
    "sampled frame through the real JPEG codec, and emits per-frame "
    "geometry + a container-consistency flag (header dims == decoded "
    "dims). Only sampled chunk spans are read — unsampled frames are "
    "never materialized. Oracle: closed-form frame-index arithmetic.",
    oracle="""
        WITH d AS (SELECT doc_id, 3 + doc_id % 5 AS nf
                   FROM documents WHERE doc_id < 40),
        idx AS (SELECT doc_id, unnest(range(0, nf, 2)) AS frame_idx
                FROM d)
        SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
               CAST(24 + doc_id % 16 AS INT) AS width,
               CAST(16 + (doc_id * 3) % 16 AS INT) AS height,
               CAST(1 AS INT) AS dims_ok
        FROM idx
        QUALIFY row_number() OVER (PARTITION BY doc_id
                                   ORDER BY frame_idx) <= 3
        ORDER BY doc_id, frame_idx
    """,
)
def multimodal_video_real_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 40)
    )

    def gen(batches):
        import numpy as np
        import pandas as pd

        from tajo_spark.operators.avi import (
            decode_avi_frames,
            encode_avi_mjpeg,
            video_header,
        )
        from tajo_spark.operators.jpeg import encode_jpeg

        for b in batches:
            rows = []
            for did in b["doc_id"]:
                did = int(did)
                w = 24 + did % 16
                h = 16 + (did * 3) % 16
                nf = 3 + did % 5
                frames = []
                for i in range(nf):
                    yy, xx = np.mgrid[0:h, 0:w]
                    g = ((yy * 5 + xx * 3 + did + i * 13) % 256).astype(
                        np.uint8
                    )
                    frames.append(encode_jpeg(g, quality=90))
                avi = encode_avi_mjpeg(frames, fps=5)
                hw, hh, hn, _ = video_header(avi)
                idxs = list(range(0, hn, 2))[:3]
                for i, px in zip(idxs, decode_avi_frames(avi, idxs)):
                    ok = int(
                        px.shape[1] == hw == w and px.shape[0] == hh == h
                    )
                    rows.append((did, i, hw, hh, ok))
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "frame_idx", "width", "height",
                         "dims_ok"],
            )

    return docs.mapInPandas(
        gen,
        "doc_id LONG, frame_idx INT, width INT, height INT, dims_ok INT",
    ).orderBy("doc_id", "frame_idx")


@query(
    "multimodal_gif_roundtrip",
    "curation",
    doc="REAL GIF bytes through the image seam (operators/gif.py): "
    "each doc synthesizes a deterministic palette image (animated "
    "with 1 + doc_id % 3 frames, every 4th interlaced), encodes it "
    "with the stdlib LZW encoder inside one Arrow mapInPandas stage, "
    "and decodes it back through codecs.decode_image_px (sniff "
    "dispatch) — per-doc geometry + frame count + an exact pixel "
    "round-trip flag. Completes the web image trio (JPEG/PNG/GIF) "
    "with fixture-free coverage. Oracle: closed-form formulas.",
    oracle="""
        SELECT doc_id,
               CAST(20 + doc_id % 24 AS INT) AS width,
               CAST(14 + (doc_id * 5) % 20 AS INT) AS height,
               CAST(1 + doc_id % 3 AS INT) AS n_frames,
               CAST(1 AS INT) AS px_ok
        FROM documents WHERE doc_id < 64 ORDER BY doc_id
    """,
)
def multimodal_gif_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 64)
    )

    def roundtrip(batches):
        import numpy as np
        import pandas as pd

        from tajo_spark.operators.codecs import decode_image_px
        from tajo_spark.operators.gif import (
            decode_gif,
            encode_gif,
            gif_header,
        )

        for b in batches:
            rows = []
            for did in b["doc_id"]:
                did = int(did)
                w = 20 + did % 24
                h = 14 + (did * 5) % 20
                nf = 1 + did % 3
                yy, xx = np.mgrid[0:h, 0:w]
                frames = [
                    ((yy * 3 + xx * 7 + did + i * 29) % 256).astype(
                        np.uint8
                    )
                    for i in range(nf)
                ]
                enc = encode_gif(frames, interlaced=(did % 4 == 0))
                gw, gh, gn, _ = gif_header(enc)
                ok = int(
                    np.array_equal(
                        decode_image_px(enc),
                        np.stack([frames[0]] * 3, axis=2),
                    )
                    and np.array_equal(
                        decode_gif(enc, nf - 1),
                        np.stack([frames[nf - 1]] * 3, axis=2),
                    )
                )
                rows.append((did, gw, gh, gn, ok))
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "width", "height", "n_frames",
                         "px_ok"],
            )

    return docs.mapInPandas(
        roundtrip,
        "doc_id LONG, width INT, height INT, n_frames INT, px_ok INT",
    ).orderBy("doc_id")


@query(
    "pipeline_corpus_prep_v7",
    "curation",
    doc="Round-7 composed curation pipeline: asymmetric-banding "
    "containment dedup (drop the CONTAINED side of any pair with "
    "containment >= 0.9 — the snippet-in-page policy the r06 blind "
    "spot motivated; near-identical pairs keep min doc_id) -> "
    "per-language tokenizer-fertility manifest over the survivors -> "
    "per-language length-weighted Efraimidis-Spirakis reservoir (10 "
    "docs/lang, seed 7). Stage economics: the rarest-k posting probe "
    "+ exact verify (candidate-bounded), one broadcast-sized drop "
    "anti-join, one survivor checkpoint feeding both the fertility "
    "agg and the sampler, ONE lang-keyed window. Every stage is "
    "individually hash-verified (dedup_containment_asym / "
    "text_bpe_fertility / sample_weighted_reservoir_by); this pins "
    "their COMPOSITION.",
    oracle=f"""
        WITH ac_norm AS (SELECT doc_id, {_NORM} AS t FROM documents),
        ac_tk AS (SELECT doc_id, string_split(t, ' ') AS w FROM ac_norm),
        ac_sh AS (SELECT doc_id,
                      CASE WHEN len(w) >= 3
                           THEN list_distinct(list_transform(
                                range(1, len(w) - 1),
                                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
                           ELSE [array_to_string(w, ' ')] END AS s
               FROM ac_tk),
        post AS (SELECT doc_id, unnest(s) AS sh FROM ac_sh),
        dfc AS (SELECT sh, count(*) AS df FROM post GROUP BY sh
                HAVING count(*) >= 2 AND count(*) <= {dedup.RARE_MAX_DF}),
        rare AS (SELECT doc_id, sh FROM (
                    SELECT p.doc_id, p.sh,
                           row_number() OVER (PARTITION BY p.doc_id
                                              ORDER BY d.df, p.sh) AS rk
                    FROM post p JOIN dfc d USING (sh))
                 WHERE rk <= {dedup.RARE_K}),
        apairs AS (SELECT DISTINCT
                        least(r.doc_id, p.doc_id) AS doc_a,
                        greatest(r.doc_id, p.doc_id) AS doc_b
                   FROM rare r JOIN post p USING (sh)
                   WHERE r.doc_id <> p.doc_id),
        verified AS (
            SELECT * FROM (
                SELECT p.doc_a, p.doc_b,
                       round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                             / greatest(len(a.s), 1), 4) AS cab,
                       round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                             / greatest(len(b.s), 1), 4) AS cba
                FROM apairs p, ac_sh a, ac_sh b
                WHERE a.doc_id = p.doc_a AND b.doc_id = p.doc_b)
            WHERE cab >= 0.9 OR cba >= 0.9),
        drops AS (SELECT DISTINCT
                      CASE WHEN cab >= 0.9 AND cba >= 0.9
                           THEN greatest(doc_a, doc_b)
                           WHEN cab >= 0.9 THEN doc_a
                           ELSE doc_b END AS doc_id
                  FROM verified),
        surv AS (SELECT d.* FROM documents d
                 WHERE d.doc_id NOT IN (SELECT doc_id FROM drops)
                   AND d.n_chars IS NOT NULL AND d.n_chars > 0),
        fert AS (
            SELECT lang,
                   ROUND(sum(len(regexp_extract_all(text,
                        '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))) * 1.0
                         / greatest(sum(len(regexp_extract_all(text,
                        '[A-Za-z0-9]+'))), 1), 4) AS fertility
            FROM surv GROUP BY lang),
        keyed AS (
            SELECT doc_id, lang AS grp, n_chars AS w,
                   ROUND(-ln((CAST(concat('0x',
                            substr(md5('7:' || CAST(doc_id AS VARCHAR)),
                                   1, 13)) AS BIGINT) + 1.0)
                             / 4503599627370496.0)
                         / n_chars, 9) AS es_key
            FROM surv),
        ranked AS (
            SELECT *, row_number() OVER (
                       PARTITION BY grp ORDER BY es_key, doc_id) AS rn
            FROM keyed)
        SELECT r.doc_id, r.grp, r.w, r.es_key, f.fertility
        FROM ranked r JOIN fert f ON f.lang = r.grp
        WHERE r.rn <= 10
    """,
)
def pipeline_corpus_prep_v7(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tajo_spark.operators import sampling

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.containment_pairs_asym(docs)
    both = (F.col("cont_a_in_b") >= 0.9) & (F.col("cont_b_in_a") >= 0.9)
    drops = (
        pairs.select(
            F.when(both, F.greatest("doc_a", "doc_b"))
            .when(F.col("cont_a_in_b") >= 0.9, F.col("doc_a"))
            .otherwise(F.col("doc_b"))
            .alias("doc_id")
        )
        .distinct()
        # stage boundary #1: the drop set is tiny (bounded by the
        # verified pair count) but its lineage is the whole posting/
        # verify tree — materialize once, broadcast into the anti-join
        .localCheckpoint()
    )
    surv = (
        docs.join(F.broadcast(drops), "doc_id", "left_anti")
        .where(F.col("n_chars").isNotNull() & (F.col("n_chars") > 0))
        # stage boundary #2: survivors feed BOTH the fertility agg and
        # the sampler's key projection. Project to the columns those
        # two consumers actually read before materializing (r12 —
        # checkpoints store rows as-is; an opaque RDD scan gets no
        # column pruning, so `source` would be stored and shipped for
        # nothing)
        .select("doc_id", "text", "lang", "n_chars")
        .localCheckpoint()
    )
    t = F.col("text")
    fert = (
        surv.select(
            "lang",
            text.bpe_piece_count(t).alias("b"),
            text.alnum_word_count(t).alias("wd"),
        )
        .groupBy("lang")
        .agg(
            F.round(
                F.sum("b") / F.greatest(F.sum("wd"), F.lit(1)), 4
            ).alias("fertility")
        )
    )
    sample = sampling.weighted_reservoir_by(
        surv, k_per_group=10, weight_col="n_chars", group_col="lang",
        seed=7,
    )
    return sample.join(
        F.broadcast(fert), sample.grp == fert.lang
    ).select("doc_id", "grp", "w", "es_key", "fertility")


@query(
    "pipeline_attrition_report",
    "curation",
    doc="Per-stage attrition ledger for a composed curation pipeline "
    "(operators/attrition.py::first_drop_attrition — the RefinedWeb "
    "'removal rate per stage' table, Penedo et al. 2023, as a "
    "first-class operator): every document is charged to the FIRST "
    "stage that would drop it — null text, exact dedup (min-doc_id "
    "survivor), then the five Gopher rules in audit order — and ONE "
    "bounded aggregate yields (stage, docs, tokens, fractions). "
    "Scale shape: per-row rules are zero-shuffle projections inlined "
    "on the scan, the dedup marker is a min-doc_id window over the "
    "md5 fingerprint on the SAME scan (uniform hash keys, one "
    "shuffle), and the first-match fold is a nested CASE — the whole "
    "ledger is ONE corpus scan + the dedup hash shuffle the pipeline "
    "pays anyway, never one pass per stage (the join-composed first "
    "cut read the corpus 4x; plan-pinned single-scan in "
    "tests/test_attrition.py). Set-valued stages that can't inline "
    "(near-dup graphs, decontamination) enter as drop-set frames via "
    "first_drop_attrition's DataFrame spec arm.",
    oracle="""
        WITH d AS (
            SELECT doc_id, text,
                   (doc_id <> min(doc_id) OVER (PARTITION BY md5(text)))
                       AS is_dup
            FROM documents),
        t AS (
            SELECT doc_id, is_dup,
                   CASE WHEN text IS NULL THEN NULL
                        ELSE string_split_regex(trim(lower(text)), '\\s+')
                   END AS w
            FROM d),
        m AS (
            SELECT doc_id, is_dup, w,
                   CAST(coalesce(len(w), 0) AS BIGINT) AS n,
                   CAST(coalesce(list_sum(list_transform(
                        w, x -> length(x))), 0) AS BIGINT) AS total_len,
                   CAST(coalesce(len(list_filter(w,
                        x -> regexp_matches(x, '[a-z]'))), 0) AS BIGINT)
                       AS alpha,
                   CAST(coalesce(len(list_filter(w,
                        x -> contains(x, '#') OR contains(x, '...'))), 0)
                        AS BIGINT) AS symbolish,
                   CAST(coalesce(len(list_intersect(list_distinct(w),
                        ['the','be','to','of','and','that','have','with'])),
                        0) AS BIGINT) AS stop_hits
            FROM t),
        f AS (
            SELECT CASE
                     WHEN w IS NULL THEN 0
                     WHEN is_dup THEN 1
                     WHEN NOT (n >= 50 AND n <= 100000) THEN 2
                     WHEN NOT (total_len >= 3 * n AND total_len <= 10 * n)
                         THEN 3
                     WHEN NOT (alpha * 10 >= n * 8) THEN 4
                     WHEN NOT (symbolish * 10 < n) THEN 5
                     WHEN NOT (stop_hits >= 2) THEN 6
                     ELSE 7
                   END AS stage_pos,
                   n
            FROM m),
        lab AS (SELECT * FROM (VALUES
            (0, 'null_text'), (1, 'exact_dup'), (2, 'gopher_word_count'),
            (3, 'gopher_mean_len'), (4, 'gopher_alpha'),
            (5, 'gopher_symbol'), (6, 'gopher_stopwords'), (7, 'kept'))
            AS v(stage_pos, stage)),
        agg AS (
            SELECT stage_pos, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n) AS BIGINT) AS n_tokens
            FROM f GROUP BY stage_pos)
        SELECT CAST(agg.stage_pos AS INTEGER) AS stage_pos,
               lab.stage AS stage, n_docs, n_tokens,
               round(n_docs / CAST((SELECT sum(n_docs) FROM agg) AS DOUBLE),
                     6) AS frac_docs,
               round(n_tokens / greatest(
                     CAST((SELECT sum(n_tokens) FROM agg) AS DOUBLE), 1),
                     6) AS frac_tokens
        FROM agg JOIN lab USING (stage_pos)
        ORDER BY stage_pos
    """,
)
def pipeline_attrition_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from tajo_spark.operators import attrition
    from tajo_spark.operators.text import gopher_flags

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    flags = gopher_flags(F.col("text"))
    w = W.partitionBy(F.md5("text"))
    # every stage predicate is computed BEFORE the window so the md5
    # exchange carries only (doc_id, key, n_words, 7 booleans) — never
    # the text payload, which at 100 TB would make the "one shuffle"
    # corpus-sized in bytes (r10 review)
    base = docs.select(
        "doc_id",
        F.col("text").isNull().alias("__is_null"),
        # ANSI off: size(NULL)=-1, so null text must pin tokens to 0
        # (the null_text stage wins the CASE, but the token SUM would
        # still see the -1)
        F.when(F.col("text").isNull(), F.lit(0).cast("long"))
        .otherwise(flags["n_words"])
        .alias("n_words"),
        *[
            flags[k].alias(k)
            for k in (
                "rule_word_count", "rule_mean_len", "rule_alpha",
                "rule_symbol", "rule_stopwords",
            )
        ],
        (F.col("doc_id") != F.min("doc_id").over(w)).alias("__is_dup"),
    )
    stages = [
        ("null_text", F.col("__is_null")),
        ("exact_dup", F.col("__is_dup")),
        ("gopher_word_count", ~F.col("rule_word_count")),
        ("gopher_mean_len", ~F.col("rule_mean_len")),
        ("gopher_alpha", ~F.col("rule_alpha")),
        ("gopher_symbol", ~F.col("rule_symbol")),
        ("gopher_stopwords", ~F.col("rule_stopwords")),
    ]
    return attrition.first_drop_attrition(base, stages, token_col="n_words")
