"""Round-2 text-pipeline operators: PII scrub, repetition signals,
contamination check. The sf-corpus parity runs live in
test_oracle_parity; these tests exercise crafted adversarial inputs the
synthetic corpus doesn't contain (real emails/IPs/SSNs, degenerate
repetition, exact shingle overlap)."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tajo_spark.operators import text
from tests.conftest import assert_frames_match

PII_DOCS = [
    (0, "contact me at alice.smith+work@example-corp.co.uk today"),
    (1, "server 192.168.0.1 and 10.0.0.255 responded; not 999.1 though"),
    (2, "ssn 123-45-6789 but not 1234-56-789 or 12-345-6789"),
    (3, "mixed: bob@x.io from 8.8.8.8 holds 987-65-4321"),
    (4, "clean text with no identifiers at all"),
    (5, ""),
    (6, None),
    # dotted-domain email must not be half-eaten by the IPv4 rule
    (7, "edge a@b.cd next to 1.2.3.4.5 run"),
]


@pytest.fixture(scope="module")
def pii_frames(spark):
    sdf = spark.createDataFrame(PII_DOCS, "doc_id INT, text STRING")
    con = duckdb.connect()
    con.register(
        "documents",
        pd.DataFrame(PII_DOCS, columns=["doc_id", "text"]),
    )
    yield sdf, con
    con.close()


def test_pii_redaction_matches_duckdb(pii_frames):
    sdf, con = pii_frames
    c = F.col("text")
    n_emails, n_ips, n_ssns = text.pii_counts(c)
    got = sdf.select(
        "doc_id",
        n_emails.alias("n_emails"),
        n_ips.alias("n_ips"),
        n_ssns.alias("n_ssns"),
        text.pii_redact(c).alias("red"),
    ).toPandas()
    want = con.execute(
        f"""
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '{text.PII_EMAIL}')) AS INT)
                 AS n_emails,
               CAST(len(regexp_extract_all(text, '{text.PII_IPV4}')) AS INT)
                 AS n_ips,
               CAST(len(regexp_extract_all(text, '{text.PII_SSN}')) AS INT)
                 AS n_ssns,
               regexp_replace(regexp_replace(regexp_replace(text,
                   '{text.PII_EMAIL}', '<EMAIL>', 'g'),
                   '{text.PII_IPV4}', '<IP>', 'g'),
                   '{text.PII_SSN}', '<SSN>', 'g') AS red
        FROM documents
        """
    ).fetchdf()
    assert_frames_match(got, want, "pii_redact_crafted")


def test_pii_redaction_semantics(pii_frames):
    sdf, _ = pii_frames
    rows = {
        r["doc_id"]: r["red"]
        for r in sdf.select(
            "doc_id", text.pii_redact(F.col("text")).alias("red")
        ).collect()
    }
    assert rows[0] == "contact me at <EMAIL> today"
    assert rows[1] == "server <IP> and <IP> responded; not 999.1 though"
    assert rows[2] == "ssn <SSN> but not 1234-56-789 or 12-345-6789"
    assert rows[3] == "mixed: <EMAIL> from <IP> holds <SSN>"
    assert rows[4] == "clean text with no identifiers at all"
    assert rows[6] is None


def test_repetition_signals_degenerate(spark):
    docs = spark.createDataFrame(
        [
            (0, "spam spam spam spam"),
            (1, "all four words differ"),
            (2, "   "),
        ],
        "doc_id INT, text STRING",
    )
    from tajo_spark.operators import dedup

    toks = (
        docs.select(
            "doc_id", F.explode(text.tokens(F.col("text"))).alias("tok")
        ).filter(F.col("tok") != "")
    )
    freq = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    got = {
        r["doc_id"]: r
        for r in freq.groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_types"),
            F.round(F.max("c") / F.sum("c"), 4).alias("top_frac"),
        )
        .collect()
    }
    assert got[0]["n_tokens"] == 4 and got[0]["n_types"] == 1
    assert got[0]["top_frac"] == 1.0
    assert got[1]["n_types"] == 4 and got[1]["top_frac"] == 0.25
    assert 2 not in got  # whitespace-only doc drops out entirely
    assert dedup  # imported for parity with the registry plan


def test_contamination_plan_broadcasts_benchmark(spark):
    """The benchmark shingle set must enter the corpus join as a
    broadcast — a shuffled corpus-side join would move the whole corpus
    for a tiny eval suite."""
    from tajo_spark.queries.registry import all_queries
    from tests.conftest import SF_DIR

    df = all_queries()["text_contamination"].spark(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoop" in plan


def test_tfidf_topk_ranks_rare_terms_above_ubiquitous(spark):
    """A term present in every document gets near-zero idf; a term
    unique to one document must win that document's top slot."""
    docs = spark.createDataFrame(
        [
            (1, "common common zebra common"),
            (2, "common words here common"),
            (3, "common quartz words common"),
        ],
        "doc_id BIGINT, text STRING",
    )
    out = text.tfidf_topk(docs, k=1).collect()
    top = {r.doc_id: r.tok for r in out}
    assert top[1] == "zebra"
    assert top[3] == "quartz"
    # every doc yields exactly one row at k=1
    assert len(out) == 3


def test_tfidf_topk_deterministic_tie_break(spark):
    """Equal scores break by token ascending — reproducible ordering."""
    docs = spark.createDataFrame(
        [(1, "beta alpha"), (2, "filler filler")],
        "doc_id BIGINT, text STRING",
    )
    rows = sorted(
        (r.tok for r in text.tfidf_topk(docs, k=1).collect()
         if r.doc_id == 1)
    )
    assert rows == ["alpha"]


def test_tfidf_corpus_scalar_is_broadcast(spark):
    """The corpus-size side of the cross join must broadcast — a
    shuffled cross join on the scalar would serialize the plan."""
    docs = spark.createDataFrame(
        [(i, f"word{i} shared") for i in range(10)],
        "doc_id BIGINT, text STRING",
    )
    plan = text.tfidf_topk(docs)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_chunk_documents_overlap_and_coverage(spark):
    """64/48 default geometry replaced by a tiny 4/3: chunks must tile
    the token stream with (chunk-stride)-token overlaps, cover every
    token, and the final partial chunk keeps the remainder."""
    docs = spark.createDataFrame(
        [(1, "t0 t1 t2 t3 t4 t5 t6")],  # 7 tokens
        "doc_id BIGINT, text STRING",
    )
    rows = {
        r.chunk_id: r
        for r in text.chunk_documents(
            docs, chunk_tokens=4, stride=3
        ).collect()
    }
    # starts at 0, 3, 6 → 3 chunks
    assert sorted(rows) == [0, 1, 2]
    assert rows[0].chunk_text == "t0 t1 t2 t3"
    assert rows[1].chunk_text == "t3 t4 t5 t6"   # 1-token overlap
    assert rows[2].chunk_text == "t6"            # trailing remainder
    assert [rows[i].n_tokens for i in range(3)] == [4, 4, 1]


def test_chunk_documents_short_null_and_validation(spark):
    docs = spark.createDataFrame(
        [(1, "only two"), (2, None), (3, "")],
        "doc_id BIGINT, text STRING",
    )
    out = text.chunk_documents(docs, chunk_tokens=4, stride=3).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    # short doc → single chunk with every token
    assert len(by_doc[1]) == 1 and by_doc[1][0].chunk_text == "only two"
    # NULL text → no chunks (explode over NULL offsets drops the doc)
    assert 2 not in by_doc
    # empty text tokenizes to [""] like token_count does → one chunk
    assert len(by_doc[3]) == 1
    with pytest.raises(ValueError):
        text.chunk_documents(docs, chunk_tokens=4, stride=5)
    with pytest.raises(ValueError):
        text.chunk_documents(docs, chunk_tokens=4, stride=0)


def test_chunk_documents_plan_has_no_shuffle(spark):
    """Chunking is projection+explode only — an Exchange in this plan
    means a regression that would shuffle the whole corpus at scale."""
    docs = spark.createDataFrame(
        [(i, "a b c d e f g h") for i in range(8)],
        "doc_id BIGINT, text STRING",
    )
    plan = (
        text.chunk_documents(docs)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


SPAN_DOCS = [
    # doc 0 and 1 share a verbatim 10-token run (> k=8): both must
    # report duplicated spans; doc 2 is unique; doc 3 too short for any
    # span at k=8
    (0, "alpha beta gamma delta epsilon zeta eta theta iota kappa unique0 tail"),
    (1, "prefix1 alpha beta gamma delta epsilon zeta eta theta iota kappa end1"),
    (2, "one two three four five six seven eight nine ten eleven twelve"),
    (3, "short doc only"),
]


def test_dup_span_stats_flags_shared_runs(spark):
    from tajo_spark.operators.dedup import dup_span_stats

    docs = spark.createDataFrame(SPAN_DOCS, "doc_id INT, text STRING")
    out = {r.doc_id: r for r in dup_span_stats(docs).collect()}
    # a shared 10-token run at k=8 yields 3 shared windows per doc
    assert out[0].n_dup_spans == 3 and out[1].n_dup_spans == 3
    assert out[2].n_dup_spans == 0
    # 12 tokens → 5 windows of 8
    assert out[0].n_spans == 5 and out[2].n_spans == 5
    # short docs survive with zeroed stats (left join), never dropped
    assert out[3].n_spans == 0 and out[3].dup_span_ratio == 0.0


def test_dup_span_stats_nothing_quadratic(spark):
    from tajo_spark.operators.dedup import dup_span_stats

    docs = spark.createDataFrame(SPAN_DOCS, "doc_id INT, text STRING")
    plan = (
        dup_span_stats(docs)._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the span-hash count must partial-aggregate before its shuffle
    assert "partial_count" in plan


def test_quality_classifier_separates_prose_from_noise(spark):
    docs = spark.createDataFrame(
        [
            (0, "the cat sat on the mat and it is a story of the house "
                "for the ages, told in the evening to the children."),
            (1, "7 3 9 1 4 4 2 8 0 5 3 3 1 9 7 7 2 8 8 1 0 4 5 6 3 2"),
        ],
        "doc_id INT, text STRING",
    )
    out = {
        r.doc_id: r.s
        for r in docs.select(
            "doc_id",
            text.quality_classifier_score(F.col("text")).alias("s"),
        ).collect()
    }
    assert out[0] >= 0.5, f"prose scored {out[0]}"
    assert out[1] < 0.5, f"digit soup scored {out[1]}"


def test_incremental_dedup_store_append_flow(spark, tmp_path):
    """Multi-batch incremental dedup: batch2 probes the store built
    from batch1's SURVIVORS (the greedy-incremental variant); the
    store is never re-signed, only appended."""
    from tajo_spark.catalog import load_parquet
    from tajo_spark.operators.dedup import (
        incremental_dedup_apply,
        write_signature_store,
    )

    base = "common words shared by every near duplicate document here"
    b1 = spark.createDataFrame(
        [
            (0, base + " one"),
            (1, base + " one"),          # near-dup of 0 → dropped in-batch
            (2, "something entirely different about spark plans"),
        ],
        "doc_id INT, text STRING",
    )
    store_path = str(tmp_path / "store")
    # batch 1 bootstraps: empty store → only in-batch pairs apply
    empty = spark.createDataFrame([], "doc_id INT, band_id INT, bh STRING")
    s1 = incremental_dedup_apply(b1, empty)
    assert sorted(r.doc_id for r in s1.collect()) == [0, 2]
    write_signature_store(s1, store_path)

    b2 = spark.createDataFrame(
        [
            (10, base + " one"),         # dup of stored 0 → dropped
            (11, "fresh unrelated content discussing benchmarks today"),
            (12, "fresh unrelated content discussing benchmarks today"),
        ],
        "doc_id INT, text STRING",
    )
    store = load_parquet(spark, store_path)
    s2 = incremental_dedup_apply(b2, store)
    assert sorted(r.doc_id for r in s2.collect()) == [11]
    # admit batch-2 survivors; store now covers both batches
    write_signature_store(s2, store_path, batch_id=1)
    assert sorted(
        r.doc_id
        for r in load_parquet(spark, store_path)
        .select("doc_id")
        .distinct()
        .collect()
    ) == [0, 2, 11]


def test_incremental_dedup_store_join_prunes_text(spark, tmp_path):
    """The probe plan must read the STORE's signature columns, never
    corpus text, and the store join must be an equi-join."""
    from tajo_spark.catalog import load_parquet
    from tajo_spark.operators.dedup import (
        incremental_dedup_apply,
        write_signature_store,
    )

    docs = spark.createDataFrame(
        [(i, f"document number {i} with some words") for i in range(20)],
        "doc_id INT, text STRING",
    )
    store_path = str(tmp_path / "store")
    write_signature_store(docs, store_path)
    new = spark.createDataFrame(
        [(100, "document number 3 with some words")],
        "doc_id INT, text STRING",
    )
    out = incremental_dedup_apply(new, load_parquet(spark, store_path))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_word_ngrams_values_and_edges(spark):
    from tajo_spark.operators.text import word_ngrams

    df = spark.createDataFrame(
        [
            (0, "A b  c d e f"),       # multi-space + case normalize
            (1, "one two three four"),  # < n tokens -> no grams
            (2, None),                  # NULL text
            (3, "  x y z w v  "),       # leading/trailing whitespace
        ],
        "doc_id LONG, text STRING",
    ).select("doc_id", word_ngrams(F.col("text"), 5).alias("g"))
    got = {r.doc_id: r.g for r in df.collect()}
    assert got[0] == ["a b c d e", "b c d e f"]
    assert got[1] == []
    assert got[2] is None or got[2] == []
    assert got[3] == ["x y z w v"]


def test_paragraph_dedup_drops_later_occurrences_and_reassembles(spark):
    from tajo_spark.operators.dedup import paragraph_dedup

    para_a = " ".join(f"a{i}" for i in range(5))
    para_b = " ".join(f"b{i}" for i in range(5))
    para_c = " ".join(f"c{i}" for i in range(5))
    docs = spark.createDataFrame(
        [
            # doc 0 owns paras (a, b) — first occurrence of both
            (0, f"{para_a} {para_b}"),
            # doc 1 repeats a (dropped), contributes c, repeats b (dropped)
            (1, f"{para_a} {para_c} {para_b}"),
            # doc 2 is entirely boilerplate — reassembles to empty
            (2, f"{para_a} {para_b}"),
        ],
        "doc_id LONG, text STRING",
    )
    out = {
        r.doc_id: r
        for r in paragraph_dedup(docs, chunk_tokens=5).collect()
    }
    assert out[0].n_dropped == 0
    assert out[0].dedup_text == f"{para_a} {para_b}"
    # doc 1 keeps only its novel middle paragraph, order preserved
    assert out[1].n_dropped == 2
    assert out[1].dedup_text == para_c
    assert out[2].n_dropped == 2
    assert out[2].dedup_text == ""


def test_paragraph_dedup_first_occurrence_is_deterministic(spark):
    # first occurrence = globally smallest (doc_id, chunk_id), not
    # partition luck: repartition wildly, result must not change.
    from tajo_spark.operators.dedup import paragraph_dedup

    body = " ".join(f"w{i}" for i in range(25))
    docs = spark.createDataFrame(
        [(i, body) for i in range(40)], "doc_id LONG, text STRING"
    ).repartition(17)
    out = paragraph_dedup(docs, chunk_tokens=25).collect()
    keepers = [r.doc_id for r in out if r.n_dropped == 0]
    assert keepers == [0]
    assert all(r.dedup_text == "" for r in out if r.doc_id != 0)


def test_gopher_rules_flag_adversarial_docs(spark):
    from tajo_spark.operators.text import gopher_quality

    fifty = " ".join(["the word and of list"] * 10)  # 50 words, stops ok
    docs = spark.createDataFrame(
        [
            (0, fifty),                                   # passes all
            (1, "too short to pass the word count rule"),  # word count
            (2, " ".join(["x"] * 60)),                     # mean len + stopwords
            (3, " ".join(["####"] * 30 + ["the of and be supercalifragilistic"] * 4)),  # symbols
            (4, " ".join(["the", "of"] * 30)),             # passes (stops, len 2.5?) -> mean len rule fails
        ],
        "doc_id LONG, text STRING",
    )
    out = {r.doc_id: r for r in gopher_quality(docs).collect()}
    assert out[0].passes_gopher
    assert not out[1].rule_word_count and not out[1].passes_gopher
    assert not out[2].rule_mean_len and not out[2].rule_stopwords
    assert not out[3].rule_symbol
    assert not out[4].rule_mean_len  # mean word length 2.5 < 3


def test_cdc_dedup_survives_head_insert_where_fixed_windows_fail(spark):
    # THE reason CDC exists: doc 1 = one novel token + doc 0's full
    # body. Fixed 25-token windows all shift by one -> zero duplicate
    # chunks detected; CDC boundaries re-synchronize at the first
    # content boundary, so nearly the whole shared body dedups.
    import numpy as np

    from tajo_spark.operators.dedup import cdc_chunk_dedup, paragraph_dedup

    rng = np.random.default_rng(21)
    body = " ".join(
        "w%03d" % int(x) for x in rng.integers(0, 400, size=400)
    )
    docs = spark.createDataFrame(
        [(0, body), (1, "NOVEL " + body)], "doc_id LONG, text STRING"
    )
    fixed = {r.doc_id: r for r in paragraph_dedup(docs, chunk_tokens=25).collect()}
    cdc = {r.doc_id: r for r in cdc_chunk_dedup(docs).collect()}
    # fixed windows: the one-token shift destroys every chunk hash
    assert fixed[1].n_dropped == 0
    # CDC: boundaries re-sync after the first boundary token, so the
    # bulk of doc 1's chunks are recognized as duplicates of doc 0's
    assert cdc[1].n_dropped >= cdc[1].n_chunks - 3
    assert cdc[1].n_chunks > 10  # the body actually chunked
    # doc 0 is first-occurrence everywhere in both schemes
    assert fixed[0].n_dropped == 0 and cdc[0].n_dropped == 0


def test_cdc_chunk_ids_are_content_stable(spark):
    # same text under different doc ids chunks identically, and chunk
    # ids are dense 0..n-1 in document order
    from tajo_spark.operators.dedup import cdc_chunk_dedup

    body = " ".join(f"tok{i}" for i in range(100))
    docs = spark.createDataFrame(
        [(5, body), (9, body)], "doc_id LONG, text STRING"
    )
    out = {r.doc_id: r for r in cdc_chunk_dedup(docs).collect()}
    assert out[5].n_chunks == out[9].n_chunks
    assert out[5].n_dropped == 0
    assert out[9].n_dropped == out[9].n_chunks  # full duplicate
    assert out[9].dedup_text == ""
    assert out[5].dedup_text == body.lower()


def test_bm25_ranking_properties(spark):
    from tajo_spark.operators.text import bm25_topk

    docs = spark.createDataFrame(
        [
            (0, "spark spark spark join filler " + "pad " * 20),
            (1, "spark join filler " + "pad " * 20),
            (2, "filler only here " + "pad " * 20),
            (3, "spark " + "pad " * 200),   # long doc: length-normalized down
            (4, "spark pad"),               # short doc: boosted by dl norm
        ],
        "doc_id LONG, text STRING",
    )
    out = bm25_topk(docs, ["spark", "join"], k=5).collect()
    ranked = [r.doc_id for r in out]
    scores = {r.doc_id: r.bm25 for r in out}
    assert 2 not in scores            # no query term -> no score row
    assert ranked[0] == 0             # highest tf on both terms
    assert scores[0] > scores[1] > 0
    assert scores[4] > scores[3]      # same tf=1, shorter doc wins (b>0)


# ---------------------------------------------------------------------------
# CCNet perplexity bucketing (text.ppl_buckets)
# ---------------------------------------------------------------------------


def _ppl_corpus(spark):
    rows = []
    # common-vocabulary docs (high avg_logp) vs rare-token soup (low)
    for i in range(40):
        rows.append((i, "the the the and and of of to in is", "en"))
    for i in range(40, 80):
        rows.append((i, f"qzx{i} vbn{i} wfg{i} plm{i} kjh{i}", "en"))
    for i in range(80, 100):
        rows.append((i, "der die das und zu in ist", "de"))
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_ppl_buckets_threshold_ordering(spark):
    """head/middle/tail must be score-ordered within every language —
    guaranteed by the threshold rule, so a violation means the join or
    comparison broke."""
    out = text.ppl_buckets(_ppl_corpus(spark)).toPandas()
    assert set(out.ppl_bucket) <= {"head", "middle", "tail"}
    for lang, grp in out.groupby("lang"):
        by = {b: g.avg_logp for b, g in grp.groupby("ppl_bucket")}
        if "head" in by and "middle" in by:
            assert by["head"].min() >= by["middle"].max()
        if "middle" in by and "tail" in by:
            assert by["middle"].min() > by["tail"].max()


def test_ppl_buckets_separates_common_from_rare(spark):
    """Common-vocab docs are the low-perplexity split CCNet keeps;
    rare-token soup must land strictly below them."""
    out = text.ppl_buckets(_ppl_corpus(spark)).toPandas()
    en = out[out.lang == "en"].set_index("doc_id")
    common = en.loc[range(40)]
    rare = en.loc[range(40, 80)]
    assert (common.ppl_bucket == "head").all()
    assert (rare.ppl_bucket.isin(["middle", "tail"])).all()


def test_ppl_buckets_plan_has_no_window_sort(spark):
    """The scale contract: bucketing is threshold comparison against a
    broadcast LANGUAGES-row table — never a per-language ntile/window,
    whose partition sort serializes on the dominant language."""
    out = text.ppl_buckets(_ppl_corpus(spark))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan


# ---------------------------------------------------------------------------
# Split-leakage audit (dedup.split_leakage_audit)
# ---------------------------------------------------------------------------


def _split_of(doc_id: int) -> str:
    import hashlib

    p = hashlib.md5(str(doc_id).encode()).hexdigest()[:2]
    return "train" if p < "cc" else ("val" if p < "e6" else "test")


def test_split_leakage_finds_cross_split_neardups_only(spark):
    from tajo_spark.operators import dedup as D

    train_ids = [i for i in range(200) if _split_of(i) == "train"]
    test_ids = [i for i in range(200) if _split_of(i) == "test"]
    base = ("the quick brown fox jumps over the lazy dog and runs far "
            "away into the green field beyond the old wooden fence") * 2
    rows = [
        # cross-split near-dup pair (one word changed)
        (train_ids[0], base + " ending one"),
        (test_ids[0], base + " ending two"),
        # same-split near-dup pair — must NOT be reported
        (train_ids[1], base + " tail alpha"),
        (train_ids[2], base + " tail beta"),
        # unrelated doc
        (test_ids[1], "completely different content about ships and "
                      "harbors with nothing shared at all " * 4),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = D.split_leakage_audit(docs).toPandas()
    got = {tuple(sorted((a, b))) for a, b in zip(out.doc_a, out.doc_b)}
    assert (min(train_ids[0], test_ids[0]), max(train_ids[0], test_ids[0])) in got
    assert (min(train_ids[1], train_ids[2]), max(train_ids[1], train_ids[2])) not in got
    assert (out.split_a != out.split_b).all()
    assert (out.jaccard >= 0.5).all()


def test_best_of_cluster_keeps_highest_quality_not_first(spark):
    """Quality-aware survivorship: within a near-dup cluster the
    highest classifier score wins even when it has the HIGHER doc_id
    (min-id survivorship would pick the other one)."""
    from tajo_spark.operators import dedup as D
    from tajo_spark.operators import text as T
    from pyspark.sql import functions as F

    prose = ("the cat sat on the mat and it was a fine day for walking "
             "in the park with friends and a good book to read ") * 3
    rows = [
        # near-dup pair: doc 0 is degraded by digit noise (lower
        # quality score), doc 1 is the clean variant
        (0, prose + " 111 222 333 444 555 666 777 888 999 000"),
        (1, prose + " see you there"),
        # singleton — must pass through untouched
        (2, "totally unrelated content about ships and harbors docking "
            "at dawn with cargo from distant ports " * 3),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    qs = {
        r.doc_id: r.q
        for r in docs.select(
            "doc_id", T.quality_classifier_score(F.col("text")).alias("q")
        ).collect()
    }
    assert qs[1] > qs[0], qs  # precondition: clean variant scores higher
    out = D.best_of_cluster_dedup(docs, jaccard_threshold=0.6).toPandas()
    kept = sorted(out.doc_id)
    assert kept == [1, 2], kept  # 1 beats 0 despite the higher id


def test_split_repair_drops_train_side_only(spark):
    from tajo_spark.operators import dedup as D

    train_ids = [i for i in range(300) if _split_of(i) == "train"]
    test_ids = [i for i in range(300) if _split_of(i) == "test"]
    val_ids = [i for i in range(300) if _split_of(i) == "val"]
    base = ("the quick brown fox jumps over the lazy dog and runs far "
            "away into the green field beyond the old wooden fence") * 2
    other = ("completely different content about ships and harbors "
             "docking at dawn with cargo from distant ports loaded") * 2
    rows = [
        (train_ids[0], base + " ending one"),     # train<->test leak
        (test_ids[0], base + " ending two"),
        (val_ids[0], other + " tail a"),          # val<->test leak
        (test_ids[1], other + " tail b"),
        (train_ids[1], "unique text that matches nothing else at all "
                       "with many extra filler words here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in D.repair_split_leakage(docs).collect()}
    assert out[train_ids[0]].keep is False      # train side dropped
    assert out[test_ids[0]].keep is True        # eval intact
    assert out[val_ids[0]].keep is False        # val dropped vs test
    assert out[test_ids[1]].keep is True
    assert out[train_ids[1]].keep is True       # innocent doc untouched


def test_exact_substring_dedup_catches_any_alignment(spark):
    """The property fixed chunks lack (Lee et al. 2021): a passage
    repeated at a DIFFERENT token offset is still removed — plus span
    merging, within-doc tandem repeats, and short-doc passthrough."""
    from tajo_spark.operators.dedup import exact_substring_dedup

    passage = " ".join(f"p{i}" for i in range(8))  # 8-token passage
    uniq = " ".join(f"u{i}" for i in range(6))
    docs = spark.createDataFrame(
        [
            # doc 0: first occurrence (offset 0) — kept whole
            (0, f"{passage} {uniq}"),
            # doc 1: same passage at offset 3 — a fixed-chunk pass
            # would miss it; removed here
            (1, f"x0 x1 x2 {passage} y0 y1"),
            # doc 2: within-doc tandem repeat of its OWN passage —
            # second copy removed, first kept
            (2, " ".join(f"q{i}" for i in range(8)) + " "
                + " ".join(f"q{i}" for i in range(8))),
            # doc 3: shorter than one window — survives intact
            (3, "z0 z1 z2"),
        ],
        "doc_id LONG, text STRING",
    )
    out = {
        r.doc_id: r
        for r in exact_substring_dedup(docs, window_tokens=8).collect()
    }
    assert out[0].n_removed == 0
    assert out[0].dedup_text == f"{passage} {uniq}"
    # doc 1: the 8 passage tokens go; the unique flanks stay
    assert out[1].n_removed == 8
    assert out[1].dedup_text == "x0 x1 x2 y0 y1"
    # doc 2: windows overlapping the second copy merge into one span;
    # the first copy is the global first occurrence and stays
    assert out[2].n_removed == 8
    assert out[2].dedup_text == " ".join(f"q{i}" for i in range(8))
    assert out[3].n_removed == 0
    assert out[3].dedup_text == "z0 z1 z2"


def test_exact_substring_dedup_merges_overlapping_spans(spark):
    """A long duplicated block removes as ONE maximal span: every
    stride-1 window inside it is duplicated, and the fold coalesces
    them (removed tokens == block length, not windows x W)."""
    from tajo_spark.operators.dedup import exact_substring_dedup

    block = " ".join(f"b{i}" for i in range(20))  # 20-token block
    docs = spark.createDataFrame(
        [
            (0, block),
            (1, f"h0 h1 {block} t0 t1"),
        ],
        "doc_id LONG, text STRING",
    )
    out = {
        r.doc_id: r
        for r in exact_substring_dedup(docs, window_tokens=5).collect()
    }
    assert out[0].n_removed == 0
    assert out[1].n_removed == 20  # exactly the block, nothing more
    assert out[1].dedup_text == "h0 h1 t0 t1"


def test_blocklist_filter_whole_word_and_phrases(spark):
    from tajo_spark.operators.text import blocklist_hits

    docs = spark.createDataFrame(
        [
            (0, "a slowly moving train"),       # substring, NOT a hit
            (1, "the slow train"),              # whole-word hit
            (2, "one fast  table here"),        # multi-space phrase hit
            (3, "Fast Table and SLOW too"),     # case-insensitive, 2 hits
            (4, "clean document"),
        ],
        "doc_id LONG, text STRING",
    )
    out = {r.doc_id: r for r in
           blocklist_hits(docs, ["slow", "fast table"]).collect()}
    assert out[0].n_hits == 0 and out[0].keep
    assert out[1].n_hits == 1 and out[1].first_hit == "slow"
    assert out[2].n_hits == 1 and out[2].first_hit == "fast  table"
    assert out[3].n_hits == 2 and not out[3].keep
    assert out[4].keep


def test_boilerplate_strip_per_source_all_occurrences(spark):
    """A segment repeated across >= min_docs docs of the SAME source
    is struck from EVERY occurrence (unlike paragraph_dedup's
    keep-first); the same segment in a DIFFERENT source survives."""
    from tajo_spark.operators.dedup import boilerplate_strip

    header = "w1 w2 w3"  # one 3-token chunk
    docs = spark.createDataFrame(
        [
            (0, f"{header} a b c", "s1"),
            (1, f"{header} d e f", "s1"),   # header now boilerplate in s1
            (2, f"{header} g h i", "s2"),   # s2 has it only once: keep
            (3, "unique body words", "s1"),
        ],
        "doc_id LONG, text STRING, source STRING",
    )
    out = {
        r.doc_id: r
        for r in boilerplate_strip(
            docs, chunk_tokens=3, min_docs=2
        ).collect()
    }
    assert out[0].n_boiler == 1 and out[0].clean_text == "a b c"
    assert out[1].n_boiler == 1 and out[1].clean_text == "d e f"
    assert out[2].n_boiler == 0 and out[2].clean_text.startswith(header)
    assert out[3].n_boiler == 0
    # reassembly preserves order and counts every chunk
    assert out[0].n_chunks == 2


def test_boilerplate_strip_whole_doc_can_vanish(spark):
    from tajo_spark.operators.dedup import boilerplate_strip

    docs = spark.createDataFrame(
        [(0, "x y", "s"), (1, "x y", "s")],
        "doc_id LONG, text STRING, source STRING",
    )
    out = {r.doc_id: r for r in
           boilerplate_strip(docs, chunk_tokens=2, min_docs=2).collect()}
    assert out[0].clean_text == "" and out[0].n_boiler == 1
    assert out[1].clean_text == ""


@pytest.mark.parametrize(
    "op, kwargs",
    [
        ("paragraph_dedup", {"chunk_tokens": 3}),
        ("cdc_chunk_dedup", {}),
        ("boilerplate_strip", {"chunk_tokens": 3, "min_docs": 2}),
        ("exact_substring_dedup", {"window_tokens": 3}),
    ],
)
def test_reassembly_family_excludes_null_text_docs(spark, op, kwargs):
    """The reassembly family's NULL-text contract: a document with no
    text has nothing to reassemble and is absent from the output (a
    caller rebuilding a corpus carries such rows around the operator)."""
    from tajo_spark.operators import dedup

    docs = spark.createDataFrame(
        [
            (0, "a b c d e f", "s"),
            (1, None, "s"),
            (2, "a b c g h i", "s"),
            (3, None, "s"),
        ],
        "doc_id LONG, text STRING, source STRING",
    )
    out = getattr(dedup, op)(docs, **kwargs)
    assert sorted(r.doc_id for r in out.collect()) == [0, 2]


def test_char_entropy_hand_computed(spark):
    from tajo_spark.operators.text import char_entropy

    docs = spark.createDataFrame(
        [
            (0, "aaaa"),      # one symbol: entropy 0
            (1, "abab"),      # two equiprobable: 1 bit
            (2, "abcd"),      # four equiprobable: 2 bits
        ],
        "doc_id LONG, text STRING",
    )
    out = {r.doc_id: r for r in char_entropy(docs).collect()}
    assert out[0].char_entropy == 0.0 and out[0].n_distinct_chars == 1
    assert out[1].char_entropy == 1.0
    assert out[2].char_entropy == 2.0 and out[2].n_chars == 4


def test_char_entropy_plan_is_zero_shuffle(spark):
    """The quality signal is a pure projection: no Exchange, no
    explode-driven Generate — the frequency table lives inside the
    row."""
    from tajo_spark.operators.text import char_entropy
    from tests.conftest import SF_DIR

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = (
        char_entropy(docs)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan
    assert "Generate" not in plan


def test_containment_asymmetry_on_banded_pair(spark):
    """A doc fully contained in a slightly longer one (close enough in
    Jaccard for the shared banding to propose it): containment toward
    the superset is exactly 1.0 while the reverse and the Jaccard are
    strictly smaller — the asymmetric signal a symmetric verify lacks.
    (Pairs with EXTREME size ratios may not be proposed at all — the
    recall caveat documented on the operator.)"""
    from tajo_spark.operators.dedup import containment_pairs

    base = " ".join(f"tok{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(0, base), (1, base + " tail0 tail1 tail2")],
        "doc_id LONG, text STRING",
    )
    rows = containment_pairs(docs).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.doc_a, r.doc_b) == (0, 1)
    assert r.cont_a_in_b == 1.0          # A's shingles all inside B
    assert r.cont_b_in_a < 1.0
    assert r.jaccard == r.cont_b_in_a    # |A∩B|=|A| → both = |A|/|B|


def test_asym_banding_proposes_the_extreme_ratio_pair(spark):
    """The r06 blind spot, closed (VERDICT r06 #5): a 9-word snippet
    embedded in a ~10x larger page has Jaccard far below MinHash
    banding reach — minhash_candidate_pairs does NOT propose it, the
    rarest-k asymmetric banding DOES, and the verified containment is
    exactly 1.0 toward the page."""
    from tajo_spark.operators.dedup import (
        containment_pairs_asym,
        minhash_candidate_pairs,
    )

    page = " ".join(f"w{i}" for i in range(90))
    snippet = " ".join(f"w{i}" for i in range(9))  # Jaccard ~ 7/88
    fillers = [
        (k, " ".join(f"f{k}x{i}" for i in range(30))) for k in range(2, 8)
    ]
    docs = spark.createDataFrame(
        [(0, page), (1, snippet)] + fillers, "doc_id LONG, text STRING"
    )
    assert not [
        r for r in minhash_candidate_pairs(docs).collect()
        if (r.doc_a, r.doc_b) == (0, 1)
    ], "fixture no longer below banding reach — shrink the snippet"
    rows = {
        (r.doc_a, r.doc_b): r for r in containment_pairs_asym(docs).collect()
    }
    assert (0, 1) in rows
    assert rows[(0, 1)].cont_b_in_a == 1.0  # snippet fully inside page
    assert rows[(0, 1)].jaccard < 0.15


def test_asym_banding_respects_df_cap(spark):
    """Boilerplate shingles busier than max_df are not banding keys:
    docs sharing ONLY a ubiquitous phrase pair with nobody."""
    from tajo_spark.operators.dedup import containment_candidate_pairs

    boiler = "all rights reserved by the site"
    docs = spark.createDataFrame(
        [(i, f"unique{i}a unique{i}b unique{i}c " + boiler)
         for i in range(10)],
        "doc_id LONG, text STRING",
    )
    assert containment_candidate_pairs(docs, max_df=4).count() == 0


def test_weighted_containment_discounts_boilerplate(spark):
    """IDF weighting: a pair sharing only ubiquitous boilerplate
    scores near zero while a pair sharing rare content scores ~1.0
    toward the contained side — the separation plain containment
    can't make."""
    from tajo_spark.operators.dedup import weighted_containment_pairs

    boiler = "all rights reserved contact us about this site today"
    rare = "quantum flux capacitor alignment procedure detailed herein"
    docs = spark.createDataFrame(
        [
            (0, rare + " " + boiler),
            (1, rare + " " + boiler + " extra tail words here now"),
            # boilerplate-only overlap pair
            (2, boiler + " unique alpha beta gamma delta epsilon"),
            (3, boiler + " other zeta eta theta iota kappa"),
        ]
        + [(10 + i, boiler + f" filler{i}a filler{i}b filler{i}c")
           for i in range(6)],
        "doc_id LONG, text STRING",
    )
    rows = {
        (r.doc_a, r.doc_b): r
        for r in weighted_containment_pairs(docs).collect()
    }
    assert (0, 1) in rows
    assert rows[(0, 1)].wcont_a_in_b > 0.95  # rare content contained
    for (a, b), r in rows.items():
        if (a, b) != (0, 1):
            # boilerplate-only pairs: low weighted containment even
            # though their raw shingle overlap is large
            assert max(r.wcont_a_in_b, r.wcont_b_in_a) < 0.6, (a, b, r)
