"""Text-analysis operators for large-scale training-data pipelines.

Beyond-reference capability (BASELINE.json north star): language-ID,
quality scoring, token counting, document fingerprinting. All pure
`pyspark.sql.functions` compositions — JVM-side, whole-stage-codegen'd,
no Python in the hot path, embarrassingly parallel at 100 TB (no
shuffle at all: every function is a per-row projection).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny deterministic English stopword list shared with the DuckDB oracle.
EN_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it", "for", "on")

_PUNCT_CLASS = r"[.,!?;:]"


def tokens(text: Column) -> Column:
    """Whitespace tokenization of trimmed, lowercased text."""
    return F.split(F.trim(F.lower(text)), r"\s+")


def token_count(text: Column) -> Column:
    return F.size(tokens(text)).cast("long")


def bpe_piece_count(text: Column) -> Column:
    """Pieces of the GPT-style BPE pre-tokenizer: runs of letters, runs
    of digits, and single punctuation marks."""
    return F.size(
        F.regexp_extract_all(
            text, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), F.lit(0)
        )
    ).cast("long")


def alnum_word_count(text: Column) -> Column:
    """Alphanumeric words (``[A-Za-z0-9]+`` runs) — the denominator of
    tokenizer fertility, BPE pieces per word."""
    return F.size(
        F.regexp_extract_all(text, F.lit(r"[A-Za-z0-9]+"), F.lit(0))
    ).cast("long")


def word_ngrams(text: Column, n: int = 5) -> Column:
    """All word ``n``-grams of the text (space-joined), as an array —
    the unit of boilerplate/template detection: a phrase repeating
    across many documents is scaffolding, not content.

    One codegen'd regex pass per row, zero shuffle: overlapping
    token-aligned matches via a lookahead capture — ``(?<!\\S)``
    anchors each attempt to a token start, the lookahead group grabs
    the next ``n`` tokens without consuming them.  Measured 7x faster
    than the "obvious" HOF form ``transform(sequence(...), i ->
    array_join(slice(tokens, i, n)))``: higher-order functions are
    CodegenFallback, and the lambda's ``slice`` re-evaluates the full
    tokenize subtree once per position — O(tokens²) interpreted work
    per row (see SCALE.md, measured negative results)."""
    norm = F.regexp_replace(F.trim(F.lower(text)), r"\s+", " ")
    pat = r"(?<!\S)(?=(" + " ".join([r"\S+"] * n) + r"))"
    return F.regexp_extract_all(norm, F.lit(pat), 1)


def char_count(text: Column) -> Column:
    return F.length(text).cast("long")


def punct_count(text: Column) -> Column:
    return (F.length(text) - F.length(F.regexp_replace(text, _PUNCT_CLASS, ""))).cast(
        "long"
    )


def stopword_count(text: Column) -> Column:
    toks = tokens(text)
    return F.size(
        F.filter(toks, lambda t: t.isin(*EN_STOPWORDS))
    ).cast("long")


def stopword_ratio(text: Column) -> Column:
    return stopword_count(text) / F.greatest(token_count(text), F.lit(1))


def avg_token_len(text: Column) -> Column:
    toks = tokens(text)
    total = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    return total / F.greatest(F.size(toks), F.lit(1))


def quality_score(text: Column) -> Column:
    """Deterministic [0,1] quality heuristic: rewards stopword presence and
    moderate token length, penalizes punctuation density. Mirrors the
    length/punct/stopword-ratio family of filters used by public web-scale
    corpus pipelines (C4-style heuristics)."""
    sw = stopword_ratio(text)
    punct_ratio = punct_count(text) / F.greatest(char_count(text), F.lit(1))
    len_ok = (
        (token_count(text) >= 20) & (token_count(text) <= 100000)
    ).cast("double")
    return F.round(
        F.least(F.lit(1.0), sw * 4) * 0.5 + len_ok * 0.3
        + (1 - F.least(F.lit(1.0), punct_ratio * 10)) * 0.2,
        4,
    )


# Logistic quality-classifier weights — the fasttext-style "trained
# model" step of corpus curation, with hand-set deterministic weights so
# every engine (and the DuckDB oracle) reproduces the score bit-for-bit
# modulo a final round. On a cluster the weights row would come from a
# model store; the plan shape (pure per-row projection, zero shuffle,
# whole-stage codegen) is exactly what a learned linear scorer runs at
# 100 TB.
CLF_WEIGHTS = {
    "bias": -2.0,
    "log_tokens": 0.5,     # ln(1 + n_tokens): rewards substantive docs
    "stopword_ratio": 3.0, # natural-language signal
    "avg_token_len": 0.1,
    "punct_ratio": 2.0,    # real prose has sentence punctuation
    "digit_ratio": -4.0,   # numeric soup is boilerplate/tables
}


def digit_count(text: Column) -> Column:
    return (
        F.length(text) - F.length(F.regexp_replace(text, "[0-9]", ""))
    ).cast("long")


def quality_classifier_score(text: Column) -> Column:
    """Linear-model document quality probability: sigmoid(w·x + b) over
    cheap engineered features. The decision boundary (score >= 0.5) is
    the keep/drop filter of an LLM data pipeline's quality stage."""
    w = CLF_WEIGHTS
    chars = F.greatest(char_count(text), F.lit(1))
    z = (
        F.lit(w["bias"])
        + F.log(F.lit(1.0) + token_count(text)) * w["log_tokens"]
        + stopword_ratio(text) * w["stopword_ratio"]
        + avg_token_len(text) * w["avg_token_len"]
        + (punct_count(text) / chars) * w["punct_ratio"]
        + (digit_count(text) / chars) * w["digit_ratio"]
    )
    return F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 4)


def lang_id(text: Column) -> Column:
    """N-gram/stopword heuristic language ID: English iff the stopword
    ratio clears a threshold. (Real models are out-of-container; the
    heuristic is the deterministic, oracle-checkable stand-in.)"""
    return F.when(stopword_ratio(text) > 0.05, F.lit("en")).otherwise(F.lit("other"))


# PII patterns shared with the DuckDB oracle. Kept to constructs whose
# match semantics agree between Java regex (Spark) and RE2 (DuckDB):
# character classes, bounded repetition, \b anchors — no lookaround, no
# backtracking-sensitive alternation.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
PII_SSN = r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b"


def pii_redact(text: Column) -> Column:
    """Replace email / IPv4 / SSN-shaped spans with fixed tags.

    Pure per-row regexp_replace chain — JVM-side, no shuffle; the
    standard pre-training scrub pass (C4/Dolma-style rule-based PII
    removal). Order matters: emails first so their dotted domains are
    not half-eaten by the IPv4 rule."""
    out = F.regexp_replace(text, PII_EMAIL, "<EMAIL>")
    out = F.regexp_replace(out, PII_IPV4, "<IP>")
    return F.regexp_replace(out, PII_SSN, "<SSN>")


def pii_counts(text: Column) -> tuple[Column, Column, Column]:
    """(n_emails, n_ips, n_ssns) match counts per document."""
    return (
        F.regexp_count(text, F.lit(PII_EMAIL)).cast("long"),
        F.regexp_count(text, F.lit(PII_IPV4)).cast("long"),
        F.regexp_count(text, F.lit(PII_SSN)).cast("long"),
    )


def blocklist_pattern(phrases: list[str]) -> str:
    """Whole-word alternation regex for a phrase blocklist; spaces in
    a phrase match any whitespace run.  Built driver-side as a literal
    (C4's badwords list is ~400 phrases — kilobytes), so the filter is
    a pure zero-shuffle projection."""
    import re as _re_mod

    alts = [
        r"\s+".join(_re_mod.escape(w) for w in p.lower().split())
        for p in phrases
        if p.strip()
    ]
    if not alts:
        raise ValueError("empty blocklist")
    return r"\b(?:" + "|".join(alts) + r")\b"


def blocklist_hits(
    docs,
    phrases: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Blocklist-phrase filter (the C4 'bad words' curation stage):
    per-document whole-word hit count, first matched phrase, and the
    keep verdict.  One JVM regex projection over the scan — no
    shuffle, no Python; the phrase list ships inside the plan as a
    literal pattern (same broadcast-as-literal idiom as bm25_topk)."""
    pat = blocklist_pattern(phrases)
    low = F.lower(F.col(text_col))
    n = F.regexp_count(low, F.lit(pat)).cast("long")
    return docs.select(
        id_col,
        n.alias("n_hits"),
        F.regexp_extract(low, pat, 0).alias("first_hit"),
        (n == 0).alias("keep"),
    )


def normalize_for_fingerprint(text: Column) -> Column:
    """Lowercase, strip punctuation, collapse whitespace — canonical text
    for near-identical dedup."""
    cleaned = F.regexp_replace(F.lower(text), r"[^a-z0-9 ]", " ")
    return F.trim(F.regexp_replace(cleaned, r"\s+", " "))


def fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint: md5 of normalized text."""
    return F.md5(normalize_for_fingerprint(text).cast("binary"))


def chunk_documents(
    docs,
    chunk_tokens: int = 64,
    stride: int = 48,
    doc_col: str = "text",
    id_col: str = "doc_id",
):
    """Split documents into fixed-size token windows with overlap — the
    standard long-document → training-context preprocessing step
    (stride < chunk_tokens yields ``chunk_tokens - stride`` overlapping
    tokens between consecutive chunks, preserving cross-boundary
    context).

    Plan shape (100 TB): pure projection + explode — tokenize once,
    generate window start offsets with ``sequence``, slice the token
    array per offset. No shuffle at all; chunk fan-out per document is
    ceil(n_tokens / stride), materialized inside the row, so the
    operator scales linearly with executors exactly like the other text
    projections. Chunk ids are (doc_id, ordinal) — no coordination.

    NULL text produces no chunks — filtered explicitly: with ANSI mode
    off (the engine's Tajo-compat posture) ``size(NULL)`` is -1, not
    NULL, so the offset ``sequence`` would otherwise fabricate one
    empty chunk per NULL document.
    """
    if not 0 < stride <= chunk_tokens:
        raise ValueError(
            f"need 0 < stride <= chunk_tokens, got {stride=} {chunk_tokens=}"
        )
    toked = docs.filter(F.col(doc_col).isNotNull()).select(
        id_col, tokens(F.col(doc_col)).alias("__w")
    )
    exploded = toked.select(
        id_col,
        "__w",
        F.explode(
            F.sequence(
                F.lit(0),
                F.greatest(F.size("__w") - 1, F.lit(0)),
                F.lit(stride),
            )
        ).alias("__start"),
    )
    chunk = F.slice(exploded["__w"], exploded["__start"] + 1, chunk_tokens)
    return exploded.select(
        id_col,
        (F.col("__start") / stride).cast("long").alias("chunk_id"),
        F.size(chunk).cast("long").alias("n_tokens"),
        F.concat_ws(" ", chunk).alias("chunk_text"),
    )


def tfidf_topk(docs, k: int = 3, doc_col: str = "text",
               id_col: str = "doc_id"):
    """Top-k keywords per document by TF-IDF over normalized tokens.

    Plan shape (100 TB): explode → two-phase (id, token) count; the
    repartition on id satisfies the group clustering, so tf aggregates
    exchange-free right after the explode. Document frequency is a
    count window over the SAME tf lineage (a groupBy+self-join would
    make Catalyst re-scan and re-explode the whole corpus — the df
    branch is not a reused exchange), costing one token-keyed shuffle
    of |doc × distinct token| rows, never raw tokens. Corpus size
    joins in as a broadcast scalar; the final per-doc rank runs as
    WindowGroupLimit (top-k pushed below the full sort).

    Scores are rounded to 6 dp BEFORE ranking so the ordering is
    reproducible across engines (ln() may differ by 1 ulp between
    libm implementations); token breaks residual ties.
    """
    from pyspark.sql import Window

    from tajo_spark.operators.dedup import spread_by

    toks = (
        spread_by(docs, id_col)
        .select(
            id_col,
            F.explode(
                F.split(normalize_for_fingerprint(F.col(doc_col)), " ")
            ).alias("tok"),
        )
        .filter(F.col("tok") != "")
    )
    tf = toks.groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("c"))
    n = docs.agg(F.count(F.lit(1)).alias("n"))
    scored = (
        tf.withColumn(
            "df", F.count(F.lit(1)).over(Window.partitionBy("tok"))
        )
        .crossJoin(F.broadcast(n))
        .select(
            id_col,
            "tok",
            F.round(
                F.col("c")
                * F.log((F.col("n") + 1.0) / (F.col("df") + 1.0)),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("tok")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


# Gopher quality rules (Rae et al. 2021, "Scaling Language Models:
# Methods, Analysis & Insights from Training Gopher", table A1 — public
# paper): the named per-rule document filter bundle web-scale pipelines
# apply before model-based scoring.  quality_score above is a composite
# heuristic; this is the auditable rule-by-rule variant (each flag
# surfaces independently so curation can report WHICH rule rejected a
# document — the datacard-friendly shape).
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_flags(text: Column) -> dict[str, Column]:
    """Per-rule Gopher filters as named boolean columns.  Pure per-row
    projections (split once, fold over the token array) — zero shuffle,
    whole-stage codegen, identical cost profile at 100 TB to any other
    scan-bound filter.  Rules needing line structure (bullet/ellipsis
    line ratios) are inapplicable to this single-line corpus and fold
    into the symbol-ratio rule."""
    toks = tokens(text)
    n = F.size(toks).cast("long")
    total_len = F.aggregate(
        toks, F.lit(0).cast("long"), lambda a, w: a + F.length(w)
    )
    mean_len = total_len / F.greatest(n, F.lit(1))
    alpha = F.size(F.filter(toks, lambda w: w.rlike("[a-z]")))
    symbolish = F.size(
        F.filter(toks, lambda w: w.contains("#") | w.contains("..."))
    )
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(toks),
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
        )
    )
    return {
        "n_words": n,
        "mean_word_len": F.round(mean_len, 4),
        "rule_word_count": (n >= 50) & (n <= 100_000),
        "rule_mean_len": (mean_len >= 3) & (mean_len <= 10),
        # cross-multiplied integer ratios: 0.8*n in floating point puts
        # the exact 80% boundary on the wrong side of a ulp, and every
        # engine would have to agree on it
        "rule_alpha": alpha * 10 >= n * 8,
        "rule_symbol": symbolish * 10 < n,
        "rule_stopwords": F.lit(2) <= stop_hits,
    }


def gopher_quality(docs, text_col: str = "text", id_col: str = "doc_id"):
    """(doc_id, n_words, mean_word_len, rule_*, passes_gopher) — the
    full rule audit per document.  NULL text is filtered (with ANSI
    off, ``size(NULL)`` is -1, which would silently yield
    n_words=-1/false flags where a SQL engine yields NULL — the same
    hazard chunk_documents guards)."""
    docs = docs.filter(F.col(text_col).isNotNull())
    flags = gopher_flags(F.col(text_col))
    rules = [k for k in flags if k.startswith("rule_")]
    passes = None
    for r in rules:
        passes = flags[r] if passes is None else (passes & flags[r])
    return docs.select(
        id_col,
        *[flags[k].alias(k) for k in flags],
        passes.alias("passes_gopher"),
    )


def char_entropy(
    docs,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_to: int = 4,
):
    """Per-document character-level Shannon entropy — the classic
    cheap quality/repetition signal (low entropy flags keyboard-mash,
    repeated padding, base64 blobs and single-char spam that length
    and stopword ratios miss; the zero-dependency stand-in for a
    compression-ratio filter, which needs zlib in the kernel).

    Output: (id_col, n_chars, n_distinct_chars, char_entropy) with
    entropy in bits, rounded.

    Scale shape (100 TB): a PURE zero-shuffle projection, no explode
    (a char-level explode would shuffle one row PER CHARACTER of the
    corpus; entropy is per-document, so nothing needs to leave the
    row).  The frequency table comes from RUN LENGTHS of the sorted
    char array — O(n log n) per row — not from a per-distinct-char
    filter scan (O(|alphabet| x n), measured 5x slower at sf0.1: 6.0 s
    vs 1.15 s).  Each stage lands in its own projection because a
    lambda that references an unstaged EXPRESSION (e.g.
    ``element_at(array_sort(cs), i)``) re-evaluates it per element —
    the staged-column discipline is what keeps this O(n log n).
    Run lengths fold in sorted-char order, so the floating summation
    order is engine-independent (same discipline as the kmeans
    centroid rounding).

    Consumer note (measured, pipeline_corpus_prep_v6): FILTER on the
    output columns only behind a stage boundary
    (``.localCheckpoint()`` — the frame is doc-count-sized).  Without
    one, Catalyst's predicate pushdown inlines the whole entropy
    expression into the pushed condition (alias substitution on that
    path ignores CollapseProject's use-once rule) and the interpreted
    HOF lambdas re-evaluate per element — 133 s vs 2 s at sf0.01.
    """
    cs = F.split(F.col(text_col), "")
    staged = docs.filter(F.col(text_col).isNotNull()).select(
        id_col,
        F.array_sort(cs).alias("__s"),
        F.size(cs).alias("__n"),
    )
    # 1-based positions where a new run starts in the sorted array
    idx = F.filter(
        F.sequence(F.lit(1), F.col("__n")),
        lambda i: (i == 1)
        | (
            F.element_at(F.col("__s"), i)
            != F.element_at(F.col("__s"), i - 1)
        ),
    )
    staged = staged.select(id_col, "__n", idx.alias("__idx"))
    bounds = F.concat(F.col("__idx"), F.array(F.col("__n") + 1))
    runs = F.zip_with(
        F.slice(bounds, 1, F.size("__idx")),
        F.slice(bounds, 2, F.size("__idx")),
        lambda a, b: b - a,
    )
    staged = staged.select(
        id_col, "__n", F.size("__idx").alias("__nd"), runs.alias("__runs")
    )
    n = F.col("__n").cast("double")
    ent = -F.aggregate(
        F.col("__runs"),
        F.lit(0.0),
        lambda acc, k: acc
        + (k.cast("double") / n) * F.log2(k.cast("double") / n),
    )
    return staged.select(
        id_col,
        F.col("__n").cast("long").alias("n_chars"),
        F.col("__nd").cast("long").alias("n_distinct_chars"),
        F.round(ent, round_to).alias("char_entropy"),
    )


def bm25_topk(
    docs,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    doc_col: str = "text",
    id_col: str = "doc_id",
):
    """BM25 lexical retrieval: corpus-wide top-k documents for a term
    query (Robertson-Spärck Jones probabilistic ranking — the standard
    sparse-retrieval baseline next to the dense ANN family; curation
    uses it for hard-negative mining and eval-set triage).

    score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·|d|/avg|d|)),
    idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)).

    Plan shape (100 TB): ONE corpus scan computes doc length and the
    per-query-term tf in the same pass (the query is a broadcast
    literal array; tf via a filtered explode, never a full token
    shuffle since only query-term hits leave the row); df/N/avg-len are
    broadcast scalars aggregated from that lineage; the final global
    top-k is a TakeOrdered, no full sort.  Scores round to 4 dp before
    ranking so ordering reproduces across engines (ln may differ by an
    ulp); doc id breaks residual ties.
    """
    from tajo_spark.operators.dedup import spread_by

    terms = [t.lower() for t in query_terms]
    toks = spread_by(docs, id_col).select(
        id_col,
        F.split(normalize_for_fingerprint(F.col(doc_col)), " ").alias("__w"),
    )
    lens = toks.select(
        id_col, F.size("__w").cast("long").alias("dl"), "__w"
    ).localCheckpoint()  # one corpus scan feeds tf, df, N and avg-len
    tf = (
        lens.select(
            id_col,
            "dl",
            F.explode(
                F.filter(F.col("__w"), lambda w: w.isin(*terms))
            ).alias("tok"),
        )
        .groupBy(id_col, "dl", "tok")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    stats = lens.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avg_dl"),
    )
    dfreq = tf.groupBy("tok").agg(
        F.count(F.lit(1)).cast("double").alias("df")
    )
    scored = (
        tf.join(F.broadcast(dfreq), "tok")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ),
        )
        .withColumn(
            "w",
            F.col("idf")
            * F.col("tf")
            * (k1 + 1)
            / (
                F.col("tf")
                + k1 * (1 - b + b * F.col("dl") / F.col("avg_dl"))
            ),
        )
        .groupBy(id_col)
        .agg(F.round(F.sum("w"), 4).alias("bm25"))
    )
    return (
        scored.orderBy(F.desc("bm25"), id_col)
        .limit(k)
        .select(id_col, "bm25")
    )


# --------------------------------------------------------------------------
# Distributed training of the quality classifier (batch gradient descent
# over DataFrame aggregates — no MLlib, no driver-side data)
# --------------------------------------------------------------------------

TRAIN_ITERS = 8
TRAIN_LR = 5.0


def quality_features(docs, text_col: str = "text"):
    """Engineered training features, centered/scaled to ~[-1, 1] and
    rounded to 6 dp so every engine sees bit-identical inputs (the
    rounding is the cross-engine contract; ln/division ulp differences
    die here, before any iteration can amplify them). Centering
    matters for GD: the raw stopword ratio lives in [0, 0.2], far from
    the decision boundary's natural scale, and 8 iterations of
    plain GD on it only learn the majority class (measured: accuracy
    == base rate 0.614); on the centered features the same loop
    reaches 0.98.

    x1 = centered stopword ratio ((ratio−0.05)·20), x2 = centered
    saturated log-token-count, x3 = scaled punctuation density.
    Label y: the lang-ID heuristic's English call (ratio > 0.05, i.e.
    x1 > 0) — training distills the rule-based filter into a linear
    model, the standard bootstrap for a fasttext-style quality scorer
    when no human labels exist.
    """
    c = F.col(text_col)
    return (
        docs.filter(c.isNotNull())
        .select(
            F.round((stopword_ratio(c) - 0.05) * 20, 6).alias("x1"),
            F.round(
                F.least(F.log(F.lit(1.0) + token_count(c)), F.lit(8.0)) / 8
                - 0.5,
                6,
            ).alias("x2"),
            F.round(
                punct_count(c) * 10 / F.greatest(char_count(c), F.lit(1)), 6
            ).alias("x3"),
        )
        .withColumn("y", (F.col("x1") > 0).cast("double"))
    )


def train_quality_classifier(
    docs,
    text_col: str = "text",
    iters: int = TRAIN_ITERS,
    lr: float = TRAIN_LR,
):
    """Batch-GD logistic regression over the corpus → one result row
    ``(w_bias, w_stop, w_logtok, w_punct, accuracy, n_docs)``.

    Scale shape (100 TB): the feature frame is localCheckpointed ONCE
    (one corpus scan for the whole run); each iteration is ONE
    aggregate — map-side partial sums reduce every partition to 4
    numbers, so per-iteration shuffle AND driver traffic are O(1)
    (the 4-scalar gradient is the canonical distributed-GD driver
    exchange, not a data collect). Weight updates are plain IEEE
    arithmetic on 8-dp-rounded gradients, so the oracle's unrolled SQL
    reproduces the trajectory bit-for-bit.
    """
    feats = quality_features(docs, text_col).localCheckpoint()
    w = [0.0, 0.0, 0.0, 0.0]  # bias, x1, x2, x3

    def z_col(wv):
        return (
            F.lit(wv[0])
            + F.lit(wv[1]) * F.col("x1")
            + F.lit(wv[2]) * F.col("x2")
            + F.lit(wv[3]) * F.col("x3")
        )

    for _ in range(iters):
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z_col(w)))
        err = p - F.col("y")
        g = feats.agg(
            F.round(F.avg(err), 8).alias("g0"),
            F.round(F.avg(err * F.col("x1")), 8).alias("g1"),
            F.round(F.avg(err * F.col("x2")), 8).alias("g2"),
            F.round(F.avg(err * F.col("x3")), 8).alias("g3"),
        ).collect()[0]  # metadata-sized: exactly 4 scalars per iteration
        w = [w[k] - lr * g[k] for k in range(4)]

    p_final = F.lit(1.0) / (F.lit(1.0) + F.exp(-z_col(w)))
    return feats.agg(
        F.round(F.lit(w[0]), 6).alias("w_bias"),
        F.round(F.lit(w[1]), 6).alias("w_stop"),
        F.round(F.lit(w[2]), 6).alias("w_logtok"),
        F.round(F.lit(w[3]), 6).alias("w_punct"),
        F.round(
            F.avg(((p_final > 0.5) == (F.col("y") > 0.5)).cast("double")), 4
        ).alias("accuracy"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
    )


# --------------------------------------------------------------------------
# CCNet-style perplexity bucketing (Wenzek et al. 2020, CCNet:
# "Extracting High Quality Monolingual Datasets from Web Crawl Data")
# --------------------------------------------------------------------------


def unigram_logprob(docs, text_col: str = "text", id_col: str = "doc_id"):
    """Per-document average token log-probability under the corpus
    unigram distribution — ``(id_col, avg_logp, n_tokens)`` with
    avg_logp rounded to 3 dp (the cross-engine contract).

    One corpus scan: per-doc term counts, corpus term frequencies
    aggregated FROM that lineage (never a re-scan), corpus total as a
    broadcast 1-row aggregate; the scoring join shuffles
    |distinct (doc, term)| rows, not |tokens|."""
    from tajo_spark.operators.dedup import spread_by

    toks = (
        spread_by(docs, id_col)
        .select(id_col, F.explode(tokens(F.col(text_col))).alias("term"))
        .filter(F.col("term") != "")
    )
    # dtf feeds THREE consumers (tf, tot-via-tf, and the scoring join
    # against its own aggregate); checkpoint so the token explode +
    # (doc,term) groupBy run once — the two join sides canonicalize
    # differently, so Catalyst cannot reuse the exchange (same failure
    # class bm25_topk/phash fixed; see minhash_candidate_pairs doc)
    dtf = (
        toks.groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint()
    )
    tf = dtf.groupBy("term").agg(F.sum("c").alias("tf"))
    tot = tf.agg(F.sum("tf").alias("n"))
    return (
        dtf.join(tf, "term")
        .join(F.broadcast(tot))
        .groupBy(id_col)
        .agg(
            F.round(
                F.sum(F.col("c") * F.log(F.col("tf") * 1.0 / F.col("n")))
                / F.sum("c"),
                3,
            ).alias("avg_logp"),
            F.sum("c").cast("long").alias("n_tokens"),
        )
    )


PPL_SAMPLE_SEED = 17


def ppl_buckets(
    docs,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    sample_prefix_lt: str = "8",
    seed: int = PPL_SAMPLE_SEED,
):
    """CCNet head/middle/tail perplexity terciles per language.

    Production shape, not the textbook one: a per-language ``ntile(3)``
    is a per-language GLOBAL SORT — with English at 80 % of a web
    corpus that is the canonical skew killer.  CCNet itself computes
    perplexity cutoffs once on a sample and then buckets by threshold;
    this mirrors that: tercile boundaries are exact percentiles over a
    deterministic md5-prefix sample (here 1/2 of docs; at 100 TB dial
    ``sample_prefix_lt`` down — the sample only has to pin two
    quantiles per language), yielding a LANGUAGES-row broadcast
    threshold table, and the full-corpus pass is a map-only comparison.
    No stage sorts anything corpus-sized.

    Returns ``(id_col, lang, avg_logp, ppl_bucket)``; ``head`` = the
    highest-avg_logp (lowest-perplexity) tercile of the sample, the
    split CCNet keeps for LM training.  Thresholds compare on the
    3-dp-rounded avg_logp, so bucket membership is engine-stable.

    Caveat (deliberate): a language with docs in the corpus but NONE in
    the sample has no cutoff information, and the inner threshold join
    excludes it from the output.  At any realistic scale a 1/2 sample
    missing every doc of a language is 2^-|lang| improbable; if
    long-tail languages matter, raise ``sample_prefix_lt`` or stratify
    the sample — don't default unbucketable docs into a keep bucket.
    """
    if not (
        sample_prefix_lt
        and all(c in "0123456789abcdef" for c in sample_prefix_lt)
    ):
        raise ValueError(
            "sample_prefix_lt must be a non-empty lowercase hex string; "
            f"got {sample_prefix_lt!r}"
        )
    # lp feeds the threshold sample AND the final bucket join —
    # checkpoint the per-doc scored table so the LM lineage runs once
    lp = (
        unigram_logprob(docs, text_col, id_col)
        .join(docs.select(id_col, lang_col), id_col)
        .localCheckpoint()
    )
    # compare a prefix of the SAME length as the bound: fixed-width hex
    # compares lexicographically == numerically, so '04' over 2 chars is
    # a 4/256 sample — with a hardcoded 1-char substring it would have
    # silently meant '0' (1/16)
    sample = lp.filter(
        F.substring(
            F.md5(
                F.concat(
                    F.lit(f"{seed}:"), F.col(id_col).cast("string")
                ).cast("binary")
            ),
            1,
            len(sample_prefix_lt),
        )
        < sample_prefix_lt
    )
    thr = sample.groupBy(lang_col).agg(
        F.round(F.percentile(F.col("avg_logp"), F.lit(1.0 / 3)), 6).alias("t1"),
        F.round(F.percentile(F.col("avg_logp"), F.lit(2.0 / 3)), 6).alias("t2"),
    )
    return (
        lp.join(F.broadcast(thr), lang_col)
        .select(
            id_col,
            lang_col,
            "avg_logp",
            F.when(F.col("avg_logp") >= F.col("t2"), F.lit("head"))
            .when(F.col("avg_logp") >= F.col("t1"), F.lit("middle"))
            .otherwise(F.lit("tail"))
            .alias("ppl_bucket"),
        )
    )


def bigram_logprob(
    docs,
    text_col: str = "text",
    id_col: str = "doc_id",
    add_k: float = 0.5,
):
    """Per-document average bigram log-probability under an add-k
    smoothed bigram LM trained on the corpus itself — the next step up
    from :func:`unigram_logprob` toward CCNet-style LM quality signals
    (a doc whose word *transitions* are improbable reads as boilerplate
    or gibberish even when its word *frequencies* look normal).

    ``P(w2|w1) = (c(w1 w2) + k) / (c(w1 ·) + k·V)`` with V = the
    corpus bigram vocabulary (words occurring in any bigram; sub-2-token
    documents contribute nothing and are absent from the output — the
    oracle mirrors both choices).

    Scale shape mirrors ``unigram_logprob``: bigrams come from ONE
    codegen'd overlapping-lookahead regex pass (``word_ngrams(text,2)``
    — no O(tokens²) HOF, no posexplode+lag shuffle of |tokens| rows);
    the (doc, bigram) counts are checkpointed once and feed the joint
    counts, the context counts, the vocabulary, and the scoring join —
    so the corpus is scanned exactly once and every shuffle moves
    distinct-pair rows (map-side combined), never raw tokens.  V rides
    as a broadcast 1-row aggregate.  Returns
    ``(id_col, avg_logp2, n_bigrams)``, avg rounded to 3 dp.
    """
    from tajo_spark.operators.dedup import spread_by

    bg = (
        spread_by(docs, id_col)
        .select(id_col, F.explode(word_ngrams(F.col(text_col), 2)).alias("bg"))
    )
    dbc = (
        bg.groupBy(id_col, "bg")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint()
    )
    joint = dbc.groupBy("bg").agg(F.sum("c").alias("cb"))
    ctx = (
        joint.groupBy(F.split_part(F.col("bg"), F.lit(" "), F.lit(1)).alias("w1"))
        .agg(F.sum("cb").alias("cw"))
    )
    vocab = (
        joint.select(F.explode(F.split("bg", " ")).alias("w"))
        .agg(F.count_distinct("w").alias("v"))
    )
    model = (
        joint.join(
            ctx,
            F.split_part(F.col("bg"), F.lit(" "), F.lit(1)) == F.col("w1"),
        )
        .join(F.broadcast(vocab))
        .select(
            "bg",
            F.log(
                (F.col("cb") + add_k) / (F.col("cw") + add_k * F.col("v"))
            ).alias("logp"),
        )
    )
    return (
        dbc.join(model, "bg")
        .groupBy(id_col)
        .agg(
            F.round(F.sum(F.col("c") * F.col("logp")) / F.sum("c"), 3).alias(
                "avg_logp2"
            ),
            F.sum("c").cast("long").alias("n_bigrams"),
        )
    )
