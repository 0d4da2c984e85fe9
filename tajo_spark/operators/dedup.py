"""Deduplication operators: exact, fingerprint, MinHash+LSH, SimHash.

Beyond-reference capability (BASELINE.json north star). Scale design:

* Exact / fingerprint dedup — one hash-groupBy shuffle on the
  fingerprint; map-side partial aggregation keeps shuffle volume at
  ~|distinct| not |rows|.
* MinHash+LSH near-dup — per-row signature computation is pure
  projection (no shuffle); banding turns the quadratic all-pairs
  problem into an equi-join on (band_id, band_hash), so candidate
  generation is a hash-shuffle whose fan-in per bucket is bounded by
  collision rate, not corpus size. This is the standard web-scale
  (GPL/MinHashLSH) dedup shape: at 100 TB the only heavy op is the
  band-key shuffle.
* SimHash — 16-bit fingerprint from per-token md5 nibble votes;
  Hamming-adjacent buckets via band slicing, same join trick.

Everything uses md5 (hex) as the hash family so the DuckDB oracle can
reproduce results bit-for-bit; a production deployment would swap in
xxhash64 for speed (also built into Spark as F.xxhash64) — the plan
shape is identical.
"""

from __future__ import annotations

import weakref

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tajo_spark.operators.text import (
    fingerprint,
    normalize_for_fingerprint,
    tokens,
)
from tajo_spark.streaming import batch_store

SHINGLE_K = 3          # words per shingle
NUM_HASHES = 8         # minhash signature length
NUM_BANDS = 4          # LSH bands (2 hashes per band)


_SPREAD_PROBE: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def _input_file_count(df: DataFrame) -> int:
    """The number of files ``df`` reads, 0 for a non-file source, in two
    py4j round trips at any file count (the array and its length).
    ``df.inputFiles()`` would cost one round trip per file: it copies
    the array into a Python list.  The count is cached per DataFrame
    object: the memoized load_table frames are probed by every
    shingle/minhash consumer in a 100+-query bench process."""
    cached = _SPREAD_PROBE.get(df)
    if cached is not None:
        return cached
    try:
        n_inputs = len(df._jdf.inputFiles())
    except Exception:
        n_inputs = 0
    try:
        _SPREAD_PROBE[df] = n_inputs
    except TypeError:
        pass  # un-weakref-able frame: skip caching
    return n_inputs


def spread_by(df: DataFrame, *keys: str) -> DataFrame:
    """Hash-repartition on ``keys`` iff the input has fewer partitions
    than the cluster has cores.

    CPU-heavy per-row operators (shingling, hashing) otherwise serialize
    on however few splits the scan produced — the classic small-file /
    single-row-group trap. At real scale (100 TB → thousands of splits)
    this is a no-op; and because downstream aggregation groups on the
    same keys, the exchange *replaces* the aggregate's shuffle instead of
    adding one (Spark reuses the hash partitioning).
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    # probe input width via the file listing (milliseconds). For
    # non-file sources (in-memory frames) repartition unconditionally:
    # converting the frame to an RDD just to count partitions costs
    # ~1s of plan translation per call — far more than the exchange it
    # might save on a frame small enough to be in memory, and at real
    # scale every input is file-backed anyway.
    n_inputs = _input_file_count(df)
    if n_inputs == 0 or n_inputs < target:
        return df.repartition(target, *[F.col(k) for k in keys])
    return df


def _fp_dedup_groups(docs: DataFrame, fp: "Column") -> DataFrame:
    """Hash-groupBy dedup with the NULL invariant the shingle family
    already enforces (shingles_from_tokens docstring): a NULL
    fingerprint means the text is UNKNOWN, not equal — SQL GROUP BY
    would collapse every null-text doc into one 'duplicate' group and
    silently drop all but one from any keep_doc_id semi-join (r11
    review: at corpus scale a failed extract stage yields millions of
    null texts). Null-fp docs come back as their own single-member
    groups instead — via a second grouping key that is the doc_id for
    null fingerprints and NULL otherwise, so the whole thing stays ONE
    corpus scan + ONE hash shuffle (a filter+union formulation would
    read the corpus twice).

    Rows where BOTH fp and doc_id are NULL fall back to a per-row
    unique key (ADVICE r11: keying them on doc_id alone made every
    (NULL, NULL) row share one group, collapsing n unknown-text,
    unknown-id docs into a single 'duplicate' group — the opposite of
    the stated contract). The \\x00 prefix keeps the synthetic key
    disjoint from any real doc_id string; for corpora without
    NULL-NULL rows the grouping is unchanged (long→string cast is
    injective)."""
    nullkey = F.when(
        fp.isNull(),
        F.coalesce(
            F.col("doc_id").cast("string"),
            F.concat(
                F.lit("\x00mono:"),
                F.monotonically_increasing_id().cast("string"),
            ),
        ),
    )
    return (
        docs.groupBy(fp.alias("fp"), nullkey.alias("__nullkey"))
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
        .drop("__nullkey")
    )


def exact_dedup_groups(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact-duplicate groups keyed by md5(text): (fp, canonical doc_id,
    dup_count). Survivor = min doc_id, the usual deterministic policy;
    null-text docs are never duplicates of each other (each keeps
    itself, fp NULL)."""
    return _fp_dedup_groups(docs, F.md5(F.col(text_col).cast("binary")))


def fingerprint_dedup_groups(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Near-identical dedup on normalized-text fingerprint; same NULL
    invariant as `exact_dedup_groups`."""
    return _fp_dedup_groups(docs, fingerprint(F.col(text_col)))


def shingles_from_tokens(toks: Column, k: int = SHINGLE_K) -> Column:
    """Array of k-word shingles from an already-tokenized column.

    Expects ``toks`` to be a *materialized column reference* (not an
    inline split expression): every ``F.get`` in the lambda embeds the
    token expression, so passing the raw split would re-run the regex
    normalization per shingle element.
    """
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    return (
        # NULL text must propagate to a NULL shingle array (concat_ws
        # never returns null, so the otherwise-branch would silently
        # give every null-text doc the identical "" shingle and pair
        # them all up as near-dups); explode(NULL) then drops the doc,
        # matching the oracle where NULL band hashes never equi-join.
        F.when(toks.isNull(), F.lit(None).cast("array<string>"))
        .when(n >= k, F.transform(
            idx,
            lambda i: F.concat_ws(
                " ", *[F.get(toks, i + j) for j in range(k)]
            ),
        ))
        .otherwise(F.array(F.concat_ws(" ", toks)))
    )


def fingerprint_tokens(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, w) — the fingerprint-normalized token array per document,
    spread across the cores (:func:`spread_by`): the one input of every
    shingle consumer (shingle sets, MinHash postings, contamination
    probes).  ``w`` is a materialized column, as
    :func:`shingles_from_tokens` requires."""
    return spread_by(docs, "doc_id").select(
        "doc_id",
        F.split(normalize_for_fingerprint(F.col(text_col)), " ").alias("w"),
    )


def shingle_sets(
    docs: DataFrame, text_col: str = "text", k: int = SHINGLE_K
) -> DataFrame:
    """(doc_id, s) — per-document DISTINCT k-gram shingle arrays,
    materialized once (``localCheckpoint``) so every multi-consumer
    pipeline (posting lists, df counts, both verify sides of a pair
    join) reads one computed copy instead of re-scanning and
    re-shingling the corpus per consumer.

    Catalyst re-evaluates a shared subtree once PER JOIN BRANCH
    (exchanges are not reused across branches — the same lesson as the
    minhash one-scan pin): before r12, ``containment_pairs_asym``'s
    physical plan scanned the corpus 5x and ran the full
    explode+dedup posting pipeline 3x.  One checkpoint is the guide
    §2.4 fix — remove recomputation outright; the materialized frame
    is the banding-stage intermediate a production pipeline persists
    between stages anyway.

    A second structural win rides along: exploding the CHECKPOINTED
    distinct array gives the posting list as a zero-shuffle projection
    — the raw-explode + dropDuplicates shuffle existed only to dodge
    the CollapseProject re-evaluation trap (see
    ``shingles_from_tokens``), which a checkpoint sidesteps entirely
    because the generator input is a plain column reference.
    """
    return (
        fingerprint_tokens(docs, text_col)
        .select(
            "doc_id",
            F.array_distinct(shingles_from_tokens(F.col("w"), k)).alias("s"),
        )
        .localCheckpoint()
    )


def postings_of(sh: DataFrame) -> DataFrame:
    """(doc_id, sh) posting rows from a :func:`shingle_sets` frame —
    pure projection (arrays are already distinct per doc; NULL arrays
    drop their doc, matching the raw-explode path)."""
    return sh.select("doc_id", F.explode("s").alias("sh"))


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    num_hashes: int = NUM_HASHES,
    postings: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, h0..h{n-1}) MinHash signatures.

    h_s = min over shingles of an 8-hex-char (32-bit) slice of a seeded
    md5: slice j of md5(seed || ':' || shingle) gives hash s = seed*4+j.
    One md5 yields four independent 32-bit sub-hashes, so the hot loop
    computes ceil(num_hashes/4) digests per shingle instead of
    num_hashes (4× less hashing CPU at identical statistical quality —
    min over a 32-bit uniform keeps ample entropy at any realistic
    shingle count). String-min over fixed-width hex is a valid uniform
    hash order; seeds are literal prefixes so any SQL engine reproduces
    the exact values.

    Plan shape (scale-critical): the shingle array is materialized ONCE
    per document in its own projection, exploded to one row per shingle,
    hashed ``num_hashes`` times (cheap md5 over a short string), then
    min-aggregated per doc_id. Map-side partial aggregation collapses the
    shingle fan-out *before* the shuffle, so shuffle volume is
    |docs| × num_hashes hashes regardless of document length. The naive
    alternative — num_hashes array_min(transform(shingles, ...)) columns
    in one projection — re-inlines the whole shingle expression per seed
    (Catalyst CollapseProject) and serializes on one core.
    """
    if postings is not None:
        # precomputed (doc_id, sh) posting rows (a shingle_sets
        # checkpoint): min over the distinct set equals min over the
        # raw multiset, so signatures are identical — and a caller
        # that needs BOTH postings and signatures scans the corpus
        # once instead of twice (r12)
        sh = postings
    else:
        sh = fingerprint_tokens(docs, text_col).select(
            "doc_id", F.explode(shingles_from_tokens(F.col("w"))).alias("sh")
        )
    n_seeds = (num_hashes + 3) // 4
    digests = sh.select(
        "doc_id",
        *[
            F.md5(F.concat(F.lit(f"{seed}:"), F.col("sh")).cast("binary")).alias(
                f"d{seed}"
            )
            for seed in range(n_seeds)
        ],
    )
    hashed = digests.select(
        "doc_id",
        *[
            F.substring(f"d{s // 4}", 1 + 8 * (s % 4), 8).alias(f"m{s}")
            for s in range(num_hashes)
        ],
    )
    return hashed.groupBy("doc_id").agg(
        *[F.min(f"m{s}").alias(f"h{s}") for s in range(num_hashes)]
    )


def minhash_band_keys(num_hashes: int = NUM_HASHES, num_bands: int = NUM_BANDS):
    """Band hash columns over an already-computed signature h0..h{n-1}."""
    if num_bands <= 0 or num_hashes % num_bands != 0:
        # r11 review: num_hashes // num_bands == 0 makes EVERY band key
        # md5('') — the whole corpus collides in one bucket per band
        # and pair generation goes O(n^2), the exact blowup LSH exists
        # to avoid; a non-dividing band count silently discards the
        # trailing hashes the signature stage paid to compute
        raise ValueError(
            f"num_bands ({num_bands}) must evenly divide "
            f"num_hashes ({num_hashes})"
        )
    rows_per_band = num_hashes // num_bands
    keys = []
    for b in range(num_bands):
        parts = [F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]
        keys.append(F.md5(F.concat_ws("|", *parts).cast("binary")).alias(f"band{b}"))
    return keys


def minhash_candidate_pairs(
    docs: DataFrame,
    text_col: str = "text",
    postings: DataFrame | None = None,
) -> DataFrame:
    """LSH candidate near-duplicate pairs (doc_a < doc_b), deduped.

    Plan shape: signatures → explode bands (×NUM_BANDS rows) → ONE
    hash-shuffle on (band_id, band_hash) → in-bucket pair generation →
    distinct pairs.

    Why not a band self-join: joining the banded table with itself
    evaluates the whole signature pipeline twice (the broadcast side and
    the probe side canonicalize differently, so Catalyst cannot reuse the
    exchange — verified in tests/test_plans.py). Grouping each LSH bucket
    and emitting its doc-id pairs computes signatures once and shuffles
    once; per-bucket fan-out is quadratic only in the bucket's collision
    count, which the band width bounds probabilistically (the same bound
    the join variant had). At 100 TB, pathological mega-buckets (e.g.
    boilerplate duplicates) should be capped upstream via exact-dedup
    first — the standard web-scale pipeline order.
    """
    return _bucket_pairs(banded_long(docs, text_col, postings=postings))


def banded_long(
    docs: DataFrame,
    text_col: str = "text",
    postings: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, band_id, bh) — one row per LSH band key; THE probe/store
    representation of a document for near-dup purposes."""
    sig = minhash_signatures(docs, text_col, postings=postings)
    banded = sig.select("doc_id", *minhash_band_keys())
    return banded.select(
        "doc_id",
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("band_id"), F.col(f"band{b}").alias("bh"))
                for b in range(NUM_BANDS)
            ])
        ).alias("band"),
    ).select("doc_id", "band.band_id", "band.bh")


def _bucket_pairs(bands_long: DataFrame) -> DataFrame:
    """In-bucket (doc_a < doc_b) pair generation from banded keys."""
    buckets = (
        bands_long.groupBy("band_id", "bh")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    pairs = buckets.select(
        F.explode(
            F.filter(
                F.flatten(
                    F.transform(
                        F.col("ids"),
                        lambda a: F.transform(
                            F.col("ids"),
                            lambda b: F.struct(
                                a.alias("doc_a"), b.alias("doc_b")
                            ),
                        ),
                    )
                ),
                lambda p: p.doc_a < p.doc_b,
            )
        ).alias("p")
    )
    return pairs.select("p.doc_a", "p.doc_b").distinct()


# --------------------------------------------------------------------------
# Incremental dedup: new batch vs a persisted signature store
# --------------------------------------------------------------------------


def write_signature_store(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    batch_id: int = batch_store.BASE,
) -> None:
    """Persist the corpus's banded minhash keys as batch ``batch_id`` of
    the ``band_id=b/__batch_id=N`` store (:func:`batch_store.write`).

    The continuous-ingest contract: the corpus is signed ONCE; every
    later batch probes these |docs| x NUM_BANDS rows instead of
    re-reading corpus text, and each surviving batch is admitted under
    its own batch id — the store grows by signatures only, never
    re-signs. Partitioning by band_id lets a probe prune to the band
    directories it touches; production would additionally bucket by
    ``bh`` so the probe join is exchange-free on the store side.
    """
    batch_store.write(
        banded_long(docs, text_col), path, batch_id, by=("band_id",)
    )


def compact_signature_store(spark, path: str, upto_batch_id: int) -> dict:
    """Fold the signature store's committed batches into its base
    partition — ``batch_store.fold`` keyed on (doc_id, band_id, bh) —
    bounding ``incremental_dedup_stream``'s per-batch store scan.  Run
    it below the stream checkpoint's committed horizon."""
    return batch_store.fold(
        spark, path, upto_batch_id,
        key=("doc_id", "band_id", "bh"), by=("band_id",),
    )


def incremental_dedup_apply(
    new_docs: DataFrame,
    store: DataFrame,
    text_col: str = "text",
    return_signatures: bool = False,
):
    """Survivors of ``new_docs`` against corpus ``store`` + themselves:
    a new document is dropped when it shares an LSH bucket with ANY
    stored document or with a lower-id new document — the greedy
    drop-on-candidate rule. When the store holds the full signed
    corpus, this equals a batch recompute of that rule over
    (corpus ∪ batch) restricted to batch rows (the equivalence the
    driver oracle checks); appending only *survivor* signatures per
    batch instead gives the cheaper standard greedy-incremental
    variant (a doc near-duplicating only dropped docs survives).

    Plan: sign the batch once (checkpointed — probed twice), ONE
    equi-join against the store on (band_id, bh) plus the in-batch
    bucket pair-gen, then an anti-join. Store text is never touched;
    cost scales with |batch|, not |corpus|. Documents are identified
    by ``doc_id`` (the banding pipeline's key column).

    ``return_signatures=True`` additionally returns the checkpointed
    BATCH signatures (every new doc's banded keys) — the caller slices
    them to its survivors (a doc_id semi-join) for the store append,
    honoring the "never re-signs" contract.  Returning the batch frame
    rather than a survivor slice lets the caller semi-join against its
    *own* (typically checkpointed) survivors, so the append job reuses
    materialized blocks instead of re-running the store probe — which
    would otherwise re-read the store in the same action that appends
    to it.
    """
    nb = banded_long(new_docs, text_col).localCheckpoint()
    vs_store = (
        nb.alias("n")
        .join(
            store.select("band_id", "bh").alias("s"),
            ["band_id", "bh"],
            "left_semi",
        )
        .select(F.col("doc_id"))
    )
    vs_batch = _bucket_pairs(nb).select(F.col("doc_b").alias("doc_id"))
    dropped = vs_store.union(vs_batch).distinct()
    survivors = new_docs.join(dropped, "doc_id", "left_anti")
    if return_signatures:
        return survivors, nb
    return survivors


SIMHASH_BITS = 16
_HEX = "0123456789abcdef"


def simhash_table(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, simhash) — 16-bit SimHash from per-token md5 nibbles.

    Explode tokens → 4 nibble-value columns from the md5's first 4 hex
    chars → per-bit ±1 votes aggregated per doc → recombine sign bits.
    Entirely built-in expressions; the shuffle is the doc_id groupBy with
    map-side partial aggregation (token fan-out never crosses the wire
    unreduced). Hex-char → int via strpos so any SQL oracle reproduces it.
    """
    toks = (
        spread_by(docs, "doc_id").select(
            "doc_id",
            F.explode(F.split(normalize_for_fingerprint(F.col(text_col)), " ")).alias(
                "tok"
            ),
        )
        .withColumn("h", F.md5(F.col("tok").cast("binary")))
        .select(
            "doc_id",
            *[
                (F.instr(F.lit(_HEX), F.substring("h", i + 1, 1)) - 1).alias(f"c{i}")
                for i in range(SIMHASH_BITS // 4)
            ],
        )
    )
    votes = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(
                    F.col(f"c{bit // 4}").bitwiseAND(F.lit(1 << (bit % 4))) > 0, 1
                ).otherwise(-1)
            ).alias(f"v{bit}")
            for bit in range(SIMHASH_BITS)
        ]
    )
    fp = None
    for bit in range(SIMHASH_BITS):
        term = F.when(F.col(f"v{bit}") > 0, F.lit(2 ** bit)).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    return votes.select("doc_id", fp.cast("long").alias("simhash"))


def verify_pairs(pairs: DataFrame, sh: DataFrame) -> DataFrame:
    """The verify stage of every two-stage near-dup pipeline: candidate
    ``(doc_a, doc_b)`` pairs joined to both sides' :func:`shingle_sets`
    rows, then exact set math — Jaccard and both containments
    ``C(A in B) = |A ∩ B| / |A|`` — on |candidates| pairs only, never
    all-pairs.  Callers select or filter the columns they need.

    Output: (doc_a, doc_b, jaccard, cont_a_in_b, cont_b_in_a), 4 dp.
    """
    a = sh.select(F.col("doc_id").alias("a_id"), F.col("s").alias("a_s"))
    b = sh.select(F.col("doc_id").alias("b_id"), F.col("s").alias("b_s"))
    inter = F.size(F.array_intersect("a_s", "b_s")).cast("double")
    return (
        pairs.join(a, pairs.doc_a == a.a_id)
        .join(b, pairs.doc_b == b.b_id)
        .select(
            "doc_a",
            "doc_b",
            F.round(
                inter / F.size(F.array_union("a_s", "b_s")), 4
            ).alias("jaccard"),
            F.round(
                inter / F.greatest(F.size("a_s"), F.lit(1)), 4
            ).alias("cont_a_in_b"),
            F.round(
                inter / F.greatest(F.size("b_s"), F.lit(1)), 4
            ).alias("cont_b_in_a"),
        )
    )


def ngram_jaccard_pairs(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact 3-gram Jaccard over the MinHash+LSH candidate pairs —
    the verify stage of the two-stage near-dup pipeline (cheap banding
    proposes, exact set similarity disposes). The set intersection runs
    on |candidates| pairs only, never all-pairs.

    One corpus scan total (r12): the shingle sets are computed once
    (:func:`shingle_sets` checkpoint) and feed the signature pipeline
    (as postings) AND both verify sides — before, the corpus was
    scanned and re-shingled three times (signature leg + each join
    branch of the verify).
    Output: (doc_a, doc_b, jaccard)."""
    sh = shingle_sets(docs, text_col)
    pairs = minhash_candidate_pairs(docs, text_col, postings=postings_of(sh))
    return verify_pairs(pairs, sh).select("doc_a", "doc_b", "jaccard")


def containment_pairs(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Asymmetric CONTAINMENT over the LSH candidate pairs:
    ``C(A in B) = |A ∩ B| / |A|`` per 3-gram shingle set, both
    directions, alongside the symmetric Jaccard — the quote/subsumption
    detector symmetric verification misses.  A short document embedded
    verbatim in a long one has Jaccard ≈ |A|/|B| (fails any ≥0.8 gate
    when B is 10x A's size) while its containment is ≈ 1.0; dedup
    pipelines that only gate on Jaccard keep every such wrapped copy
    (Lee et al.'s suffix-array pass exists precisely because of this
    failure mode; this is its set-level screen over banded candidates).

    Same two-stage scale shape as :func:`ngram_jaccard_pairs`: banding
    proposes (one shuffle), the exact set math runs on |candidates|
    pairs only, never all-pairs.  Recall caveat inherited from the
    proposal stage: MinHash banding targets Jaccard, so containment
    pairs with LOW Jaccard (extreme size ratios) may not be proposed —
    :func:`containment_pairs_asym` closes exactly that gap by banding
    on each document's rarest-k shingles; production pipelines union
    both proposal stages.

    Output: (doc_a, doc_b, jaccard, cont_a_in_b, cont_b_in_a),
    rounded to 4.  One corpus scan total (r12): shared
    :func:`shingle_sets` checkpoint feeds the signature leg (as
    postings) and both verify sides.
    """
    sh = shingle_sets(docs, text_col)
    pairs = minhash_candidate_pairs(docs, text_col, postings=postings_of(sh))
    return verify_pairs(pairs, sh)


RARE_K = 4        # rare-shingle banding probes per proposer document
RARE_MAX_DF = 16  # posting-list cap: busier shingles are not band keys


def containment_candidate_pairs(
    docs: DataFrame,
    text_col: str = "text",
    k: int = RARE_K,
    max_df: int = RARE_MAX_DF,
    sh: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric candidate proposal for CONTAINMENT dedup: band each
    document by its ``k`` RAREST shingles (smallest corpus document
    frequency) against the full posting list — so a snippet wrapped in
    a 10x larger page is proposed even though its Jaccard is far below
    what MinHash banding can reach (the r06-documented blind spot at
    the verify stage's proposal input).

    Why rarest-k works: containment C(A in B) ~ 1 means ALL of A's
    shingles — including its rarest — appear in B's posting lists, so
    probing A's rarest shingles finds B directly; rare shingles have
    short posting lists, so the probe join fans out to at most
    ``k * max_df`` candidates per document.  Shingles rarer than df=2
    cannot pair and busier than ``max_df`` are skipped (boilerplate —
    the documented recall trade, same class as LSH banding's).

    Scale shape: posting explode is a projection; the df count is one
    two-phase hash agg; rarest-k is a per-doc window (parallel across
    doc_id); the probe join is bounded by the df cap.  Nothing
    all-pairs.  Output: (doc_a, doc_b) with doc_a < doc_b, distinct.
    """
    from pyspark.sql import Window as W

    # postings derive from the materialized shingle-set checkpoint
    # (r12): the checkpoint makes the explode input a plain column
    # reference, so the CollapseProject re-evaluation trap (and the
    # dropDuplicates shuffle that dodged it) both disappear, and the
    # three posting consumers below (df count, rarest-k, probe side)
    # read ONE computed copy instead of re-scanning the corpus each
    if sh is None:
        sh = shingle_sets(docs, text_col)
    postings = postings_of(sh)
    dfc = (
        postings.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("df"))
        .where((F.col("df") >= 2) & (F.col("df") <= max_df))
    )
    rare = (
        postings.join(dfc, "sh")
        .withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("doc_id").orderBy("df", "sh")
            ),
        )
        .where(F.col("rk") <= k)
        .select("doc_id", "sh")
    )
    r = rare.select(F.col("doc_id").alias("r_id"), "sh")
    p = postings.select(F.col("doc_id").alias("p_id"), "sh")
    return (
        r.join(p, "sh")
        .where(F.col("r_id") != F.col("p_id"))
        .select(
            F.least("r_id", "p_id").alias("doc_a"),
            F.greatest("r_id", "p_id").alias("doc_b"),
        )
        .distinct()
    )


def containment_pairs_asym(
    docs: DataFrame,
    text_col: str = "text",
    k: int = RARE_K,
    max_df: int = RARE_MAX_DF,
    gate: float = 0.9,
) -> DataFrame:
    """Two-stage containment dedup with the ASYMMETRIC proposal stage:
    rarest-k shingle banding proposes (:func:`containment_candidate_pairs`),
    exact shingle-set math disposes, and only pairs whose containment
    in either direction clears ``gate`` survive — the
    snippet-in-page detector that closes the size-ratio blind spot
    documented on :func:`containment_pairs` (production pipelines run
    both proposal stages and union the candidates).

    Output: (doc_a, doc_b, jaccard, cont_a_in_b, cont_b_in_a), 4 dp.

    One corpus scan total (r12): the proposal stage and both verify
    sides share one :func:`shingle_sets` checkpoint — the previous
    physical plan scanned the corpus 5x and ran the posting pipeline
    3x (plans/r12/dedup_containment_asym_before.txt).
    """
    sh = shingle_sets(docs, text_col)
    pairs = containment_candidate_pairs(docs, text_col, k, max_df, sh=sh)
    return verify_pairs(pairs, sh).where(
        (F.col("cont_a_in_b") >= gate) | (F.col("cont_b_in_a") >= gate)
    )


SPAN_K = 8             # tokens per duplicated-span probe window


def dup_span_stats(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = SPAN_K,
) -> DataFrame:
    """Exact duplicated-substring detection at k-token granularity — the
    train-set memorization filter of Lee et al., "Deduplicating Training
    Data Makes Language Models Better" (public paper; their suffix-array
    pass finds verbatim spans repeated across documents). Suffix arrays
    don't distribute; the Spark-first equivalent hashes every k-token
    sliding window and counts distinct documents per window hash.

    Per document: total spans, spans shared with >=1 OTHER document, and
    the duplicated fraction (the drop/trim signal).

    Scale design: span explosion is a projection (|tokens| rows, no
    shuffle); the window-hash cardinality count is one two-phase
    hash-agg shuffle; the verdict join ships (hash, count>1) back onto
    the exploded lineage. Nothing is quadratic — cost tracks corpus
    token count exactly like the MinHash pass.
    """
    from tajo_spark.operators.text import word_ngrams as _word_ngrams

    # k-token sliding windows via the overlapping-lookahead regex pass
    # (text.word_ngrams — one codegen'd scan, inherently guards short
    # docs).  The earlier HOF form slice(tokens, i, k) re-evaluated the
    # tokenize subtree once per position inside the CodegenFallback
    # lambda — O(tokens²) interpreted work per row, the exact trap
    # measured and removed from word_ngrams (SCALE.md); mapping md5
    # over the ALREADY-materialized n-gram array is token-linear.
    span_keys = F.transform(
        _word_ngrams(F.col(text_col), k),
        lambda s: F.md5(s.cast("binary")),
    )
    spans = spread_by(docs, id_col).select(
        F.col(id_col), F.explode(span_keys).alias("sk")
    )
    counts = spans.groupBy("sk").agg(
        F.countDistinct(id_col).alias("nd")
    )
    per_doc = (
        spans.join(counts, "sk")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum((F.col("nd") > 1).cast("long")).alias("n_dup_spans"),
        )
    )
    return (
        docs.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce("n_dup_spans", F.lit(0))
            .cast("long")
            .alias("n_dup_spans"),
            F.round(
                F.coalesce("n_dup_spans", F.lit(0))
                / F.greatest(F.coalesce("n_spans", F.lit(0)), F.lit(1)),
                4,
            ).alias("dup_span_ratio"),
        )
    )


def ordered_concat(sep: str, item: Column, field: str) -> Column:
    """Aggregate: the group's ``item`` structs collected, sorted, and
    their ``field`` values joined with ``sep``.  Structs sort field by
    field, so the leading fields (position, timestamp, ...) fix the
    order under any partitioning; NULL items (``F.when(keep, struct)``)
    drop out of the collect."""
    return F.concat_ws(
        sep,
        F.transform(
            F.array_sort(F.collect_list(item)), lambda s: s[field]
        ),
    )


def _rank_first(df: DataFrame, id_col: str, pos_col: str) -> DataFrame:
    """``__rn`` per row of ``df``: 1 on the first occurrence of its
    content hash ``__h`` — the globally smallest (id, position), so
    the keeper is deterministic under any partitioning.  ONE window
    shuffle on the md5 key (uniform, no skew)."""
    from pyspark.sql import Window

    return df.withColumn(
        "__rn",
        F.row_number().over(
            Window.partitionBy("__h").orderBy(id_col, pos_col)
        ),
    )


def _reassemble(
    chunks: DataFrame,
    id_col: str,
    dropped: Column,
    kept: Column,
    n_dropped: str,
    text_out: str,
) -> DataFrame:
    """Rebuild each document from its ``(chunk_id, chunk_text)`` rows:
    ``(id_col, n_chunks, <n_dropped>, <text_out>)`` where ``text_out``
    re-joins the ``kept`` chunks in chunk order and ``n_dropped``
    counts the ``dropped`` ones.  One groupBy(id) whose payload is the
    kept chunks only.  ``kept`` is not derived as ``~dropped``: the
    optimizer rewrites a negated comparison into another predicate."""
    return (
        chunks.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum(dropped.cast("long")).cast("long").alias(n_dropped),
            ordered_concat(
                " ", F.when(kept, F.struct("chunk_id", "chunk_text")),
                "chunk_text",
            ).alias(text_out),
        )
        .select(id_col, "n_chunks", n_dropped, text_out)
    )


def _keep_first_chunks(chunks: DataFrame, id_col: str) -> DataFrame:
    """Corpus-wide keep-first chunk dedup with reassembly: every chunk
    but the first occurrence of its md5 is dropped →
    ``(id_col, n_chunks, n_dropped, dedup_text)``."""
    ranked = _rank_first(
        chunks.withColumn("__h", F.md5("chunk_text")), id_col, "chunk_id"
    )
    return _reassemble(
        ranked,
        id_col,
        dropped=F.col("__rn") > 1,
        kept=F.col("__rn") == 1,
        n_dropped="n_dropped",
        text_out="dedup_text",
    )


def exact_substring_dedup(
    docs: DataFrame,
    window_tokens: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact duplicated-SUBSTRING removal (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better"): any
    ``window_tokens``-token passage that occurs more than once in the
    corpus — at ANY alignment, across or within documents — is removed
    from every occurrence but the globally first.

    This is the alignment-robust upgrade of :func:`paragraph_dedup`:
    fixed non-overlapping chunks miss a syndicated passage that starts
    mid-chunk, while stride-1 windows catch it wherever it begins (the
    same property the suffix array gives the single-node original;
    windowed hashing is its standard distributed approximation).

    Construction:
      1. stride-1 windows: every token position starts one
         ``window_tokens``-token window, hashed with md5 — one
         zero-shuffle projection + explode (~1 small row per corpus
         token: the honest cost of substring-granular dedup);
      2. first occurrence per window hash = min (doc_id, start) — ONE
         window-function shuffle on the md5 key (uniform, no skew);
      3. every non-first occurrence marks its [start, start+W) token
         span for removal; per document the spans are merged
         (overlapping duplicated windows coalesce into one maximal
         duplicated passage — so a 200-token syndicated block removes
         as one span, exactly like the suffix-array original);
      4. tokens outside removed spans are re-joined in order.  Steps
         3-4 run JVM-side (aggregate/filter/exists higher-order
         functions) — no Python in the pipeline.

    Output: (doc_id, n_tokens, n_removed, dedup_text).  Documents
    shorter than one window carry no windows and survive intact.
    NULL-text docs are EXCLUDED from the output (r11 review: this was
    silent; it is now the documented contract of the whole reassembly
    family — `paragraph_dedup`, `boilerplate_strip`,
    `cdc_chunk_dedup` — there is no text to reassemble, and a caller
    rebuilding a corpus must carry null-text rows around the operator;
    `dup_span_stats` is the row-preserving alternative when
    per-document accounting matters).

    Scale shape (100 TB): cost is ~1 md5 per corpus token plus one
    uniform-key shuffle; span merge is a linear fold over each doc's
    removed starts; nothing pairwise, no driver collects.
    """
    W = int(window_tokens)
    toked = docs.filter(F.col(text_col).isNotNull()).select(
        id_col,
        tokens(F.col(text_col)).alias("__w"),
    )
    wins = toked.select(
        id_col,
        F.posexplode(
            # sequence(0, n-W) DESCENDS when n < W — guard such docs
            # to an empty window list (posexplode drops them; they
            # re-enter intact through the left join below)
            F.when(
                F.size("__w") >= W,
                F.transform(
                    F.sequence(F.lit(0), F.size("__w") - F.lit(W)),
                    lambda i: F.md5(
                        F.concat_ws(
                            " ", F.slice("__w", i + F.lit(1), F.lit(W))
                        )
                    ),
                ),
            ).otherwise(F.expr("cast(array() as array<string>)"))
        ).alias("start", "__h"),
    )
    removed = (
        _rank_first(wins, id_col, "start")
        .filter(F.col("__rn") > 1)
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list("start")).alias("__starts"))
    )
    # merge overlapping [s, s+W) spans: linear fold over the sorted
    # starts; a fully-duplicated doc folds all its starts into ONE span
    merged = F.expr(
        f"""aggregate(
            __starts,
            cast(array() as array<struct<a:int,b:int>>),
            (acc, s) -> case
                when size(acc) = 0 or s > element_at(acc, -1).b
                    then array_append(acc, struct(s as a, s + {W} as b))
                else array_append(
                    slice(acc, 1, size(acc) - 1),
                    struct(element_at(acc, -1).a as a,
                           greatest(element_at(acc, -1).b, s + {W}) as b))
            end)"""
    )
    kept = F.expr(
        "filter(__w, (t, i) -> "
        "not exists(__spans, s -> i >= s.a and i < s.b))"
    )
    return (
        toked.join(removed, id_col, "left")
        .withColumn(
            "__spans",
            F.when(F.col("__starts").isNull(), F.expr(
                "cast(array() as array<struct<a:int,b:int>>)"
            )).otherwise(merged),
        )
        .withColumn("__kept", kept)
        .select(
            id_col,
            F.size("__w").cast("long").alias("n_tokens"),
            (F.size("__w") - F.size("__kept"))
            .cast("long")
            .alias("n_removed"),
            F.concat_ws(" ", "__kept").alias("dedup_text"),
        )
    )


def paragraph_dedup(
    docs: DataFrame,
    chunk_tokens: int = 25,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-wide paragraph-level dedup with document REASSEMBLY — the
    curation stage between document dedup and span statistics: repeated
    paragraphs (boilerplate headers, license blocks, syndicated
    passages) are dropped from every occurrence but the first, and each
    document is rebuilt from its surviving paragraphs in order (the
    repetition-removal step of Gopher/RefinedWeb-style pipelines —
    ``dup_span_stats`` only SCORES duplication; this one edits it out).

    Paragraph = fixed non-overlapping ``chunk_tokens`` token window
    (text.chunk_documents with stride == chunk size — this corpus has
    no newlines; on a real corpus pass paragraphs pre-split on
    ``\\n\\n`` through the same hash/keep/reassemble shape).  First
    occurrence is the globally smallest (doc_id, chunk_id) per content
    hash — deterministic under any partitioning.

    Output: (doc_id, n_chunks, n_dropped, dedup_text) where
    ``dedup_text`` is the surviving chunks re-joined in chunk order
    (token-normalized, as chunking tokenizes).

    Scale shape (100 TB): chunking is a zero-shuffle projection +
    explode; first-occurrence ranking is ONE window shuffle keyed on
    the content hash (md5 keys are uniform — no skew); reassembly is
    one groupBy(doc_id) whose payload is the kept chunks only.  Nothing
    is pairwise; cost tracks corpus token count like the MinHash pass.
    """
    from tajo_spark.operators.text import chunk_documents

    chunks = chunk_documents(
        docs,
        chunk_tokens=chunk_tokens,
        stride=chunk_tokens,
        doc_col=text_col,
        id_col=id_col,
    )
    return _keep_first_chunks(chunks, id_col)


def boilerplate_strip(
    docs: DataFrame,
    chunk_tokens: int = 10,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Per-source boilerplate removal with document reassembly — the
    CCNet/trafilatura-style cleanup step for web corpora: a segment
    that recurs across ``min_docs`` distinct documents OF THE SAME
    SOURCE (site header, nav bar, cookie banner, license footer) is
    struck from EVERY occurrence, then each document is rebuilt from
    its surviving segments in order.

    Complements :func:`paragraph_dedup`, which is corpus-wide
    keep-FIRST chunk dedup: boilerplate must not survive even once,
    and the frequency threshold is scoped per source because a
    header is boilerplate on ITS site, not globally.  Segment = fixed
    non-overlapping ``chunk_tokens`` token window (this corpus has no
    newlines; a real corpus pre-splits on lines through the same
    count/flag/reassemble shape).

    Output: (id_col, n_chunks, n_boiler, clean_text).

    Scale shape (100 TB): chunking is a zero-shuffle projection +
    explode; the boilerplate census is ONE aggregate keyed on
    (source, md5 chunk hash) — uniform keys — with an exact distinct-
    doc count; flagging is an equi-join back on the same key (left to
    AQE: per-source boilerplate sets are usually broadcastable but a
    million-source corpus may not be); reassembly is one
    groupBy(doc) of surviving chunks.  Nothing pairwise, cost tracks
    corpus token count.
    """
    toks = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        F.col(source_col).alias("__src"),
        tokens(F.col(text_col)).alias("__w"),
    )
    chunks = toks.select(
        id_col,
        "__src",
        F.posexplode(
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.greatest(F.size("__w") - 1, F.lit(0)),
                    F.lit(chunk_tokens),
                ),
                lambda s: F.concat_ws(
                    " ", F.slice("__w", s + 1, chunk_tokens)
                ),
            )
        ).alias("chunk_id", "chunk_text"),
    ).withColumn("__h", F.md5("chunk_text"))
    boiler = (
        chunks.groupBy("__src", "__h")
        .agg(F.count_distinct(F.col(id_col)).alias("__nd"))
        .filter(F.col("__nd") >= min_docs)
        .select("__src", "__h", F.lit(True).alias("__b"))
    )
    flagged = chunks.join(boiler, ["__src", "__h"], "left")
    return _reassemble(
        flagged,
        id_col,
        dropped=F.col("__b").isNotNull(),
        kept=F.col("__b").isNull(),
        n_dropped="n_boiler",
        text_out="clean_text",
    )


def cdc_chunk_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Content-defined-chunking dedup with reassembly — the edit-STABLE
    upgrade of :func:`paragraph_dedup`.

    Fixed-window chunking has a failure mode the public dedup
    literature (CDC storage dedup; Dolma-style passage dedup) solves:
    one token inserted at the head of a document SHIFTS every
    downstream window, so none of the repeated material hashes
    identically and nothing is deduped.  CDC draws chunk boundaries
    from the CONTENT instead: a token ends a chunk iff the first hex
    digit of its md5 is '0' (p = 1/16 → mean chunk ≈ 16 tokens, same
    rule expressible in any engine).  After an edit, boundaries
    re-synchronize at the next boundary token, so shared passages
    re-hash identically regardless of offset — pinned in tests against
    the fixed-window variant on a head-insert corpus.

    Same keep/reassemble contract as paragraph_dedup: corpus-wide
    first occurrence per chunk hash at the globally smallest
    (doc_id, chunk_id), documents rebuilt from surviving chunks in
    order.  No max-chunk cap (boundary gaps have a geometric tail; a
    production variant caps at e.g. 4x the mean — the cap only adds
    one more integer column to the running sum).

    Scale shape (100 TB): tokens posexplode (projection); the running
    boundary count is ONE window partitioned by doc_id — the document
    is the natural parallel unit, so no global coordination; chunk
    assembly and the dedup window/reassembly mirror paragraph_dedup.
    Everything is token-linear; nothing pairwise.
    """
    from pyspark.sql import Window

    toks = docs.filter(F.col(text_col).isNotNull()).select(
        id_col, F.posexplode(tokens(F.col(text_col))).alias("pos", "tok")
    )
    # boundary AFTER a boundary token: chunk id = count of boundary
    # tokens strictly before this position
    wpos = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = toks.withColumn(
        "__b",
        (F.substring(F.md5(F.col("tok").cast("binary")), 1, 1) == "0")
        .cast("long"),
    ).withColumn("chunk_id", F.coalesce(F.sum("__b").over(wpos), F.lit(0)))
    chunks = flagged.groupBy(id_col, "chunk_id").agg(
        ordered_concat(" ", F.struct("pos", "tok"), "tok").alias("chunk_text")
    )
    return _keep_first_chunks(chunks, id_col)


# --------------------------------------------------------------------------
# Bloom-filter membership prefilter (Bloom 1970) — the constant-memory
# "have we ingested this before?" gate for incremental pipelines.
# --------------------------------------------------------------------------

BLOOM_BITS = 16384     # m: filter size in bits (power of two)
BLOOM_HASHES = 4       # k: md5 gives 4 independent 32-bit slices


def _bloom_positions(fp: Column, m_bits: int) -> list[Column]:
    """k bit positions from disjoint 8-hex-char (32-bit) slices of an
    md5 fingerprint — the same one-digest-many-subhashes trick as
    :func:`minhash_signatures`, and exactly reproducible in any SQL
    engine (DuckDB: ``('0x'||substr(fp,o,8))::BIGINT % m``)."""
    return [
        (
            F.conv(F.substring(fp, 1 + 8 * j, 8), 16, 10).cast("long")
            % F.lit(m_bits)
        ).alias(f"p{j}")
        for j in range(BLOOM_HASHES)
    ]


def bloom_build(
    corpus: DataFrame, text_col: str = "text", m_bits: int = BLOOM_BITS
) -> DataFrame:
    """Distributed Bloom-filter build over ``md5(text_col)`` →
    ``(word_idx, bits)`` packed 32-bit words (``m_bits/32`` rows).

    Scale shape (100 TB): position computation is a pure projection;
    the ONLY shuffle is the ``groupBy(word_idx)`` bit_or, whose
    map-side partial aggregation collapses each task's contribution to
    at most ``m_bits/32`` words before anything moves — shuffle volume
    is O(m), independent of corpus size. The packed table is tiny
    (16 Ki bits here → 512 rows; even a 2^33-bit filter for 10^9 keys
    is ~1 GiB spread over executors) and broadcasts to the probe side.
    Beyond broadcast size, production partitions the filter by
    ``word_idx`` ranges and the probe becomes an equi-join on the same
    key — the plan shape below is unchanged.

    Packing uses 32-bit words so every mask stays a positive int64 in
    both engines (a 64-bit word needs ``1<<63``, which overflows
    signed arithmetic differently across engines).
    """
    fps = corpus.select(F.md5(F.col(text_col).cast("binary")).alias("fp"))
    pos = fps.select(
        F.explode(F.array(*_bloom_positions(F.col("fp"), m_bits))).alias("pos")
    )
    return pos.groupBy(
        F.expr("pos div 32").alias("word_idx")
    ).agg(
        F.expr("bit_or(shiftleft(1L, cast(pos % 32 as int)))").alias("bits")
    )


def bloom_probe(
    batch: DataFrame,
    bloom_words: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    m_bits: int = BLOOM_BITS,
) -> DataFrame:
    """Probe a batch against a built filter → ``(id_col, fp,
    bloom_maybe)``.

    ``bloom_maybe = false`` is a GUARANTEE the key was never inserted
    (no false negatives — the property the whole pattern rests on);
    ``true`` means "maybe seen", to be confirmed by an exact check
    that now only touches the maybe-subset. Probe is a map-only pass
    over the batch plus one broadcast join against the packed words
    (left join: a word with no bits set is absent → miss).
    """
    fps = batch.select(
        id_col, F.md5(F.col(text_col).cast("binary")).alias("fp")
    )
    pos = fps.select(
        id_col,
        "fp",
        F.explode(F.array(*_bloom_positions(F.col("fp"), m_bits))).alias("pos"),
    ).withColumn("word_idx", F.expr("pos div 32"))
    from pyspark.sql.functions import broadcast

    probed = pos.join(broadcast(bloom_words), "word_idx", "left").withColumn(
        "hit",
        F.coalesce(
            F.expr("(bits & shiftleft(1L, cast(pos % 32 as int))) != 0"),
            F.lit(False),
        ),
    )
    return probed.groupBy(id_col, "fp").agg(
        F.bool_and("hit").alias("bloom_maybe")
    )


def bloom_prefilter_dedup(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    m_bits: int = BLOOM_BITS,
) -> DataFrame:
    """Incremental-ingest dedup gate: Bloom prefilter + exact confirm.

    Returns one row per batch document: ``(id_col, bloom_maybe,
    is_dup)``. The exact confirm (semi-join against corpus
    fingerprints) runs ONLY over the maybe-subset — at 100 TB that is
    the entire point: the definite-new majority never joins anything,
    and the expensive exact membership check is sized by the true-dup
    rate plus the filter's false-positive rate (m/k tune), not by the
    batch. Complements the signature-store incremental dedup
    (:func:`incremental_dedup_apply`), which answers NEAR-dup; this
    answers exact-seen-before with O(m) memory and zero store reads
    for definite-new rows.
    """
    words = bloom_build(corpus, text_col=text_col, m_bits=m_bits)
    probed = bloom_probe(
        batch, words, id_col=id_col, text_col=text_col, m_bits=m_bits
    )
    corpus_fps = corpus.select(
        F.md5(F.col(text_col).cast("binary")).alias("fp")
    ).distinct()
    confirmed = (
        probed.filter(F.col("bloom_maybe"))
        .join(corpus_fps, "fp", "left_semi")
        .select(id_col)
        .withColumn("is_dup", F.lit(True))
    )
    return (
        probed.join(confirmed, id_col, "left")
        .select(
            id_col,
            "bloom_maybe",
            F.coalesce(F.col("is_dup"), F.lit(False)).alias("is_dup"),
        )
    )


def split_leakage_audit(
    docs: DataFrame,
    text_col: str = "text",
    threshold: float = 0.5,
) -> DataFrame:
    """Train/val/test contamination audit: verified near-duplicate
    pairs that CROSS a split boundary — the in-corpus leakage that
    silently inflates eval metrics when dedup runs before (or without
    awareness of) the split.

    Output: ``(doc_a, doc_b, jaccard, split_a, split_b)`` with
    ``split_a != split_b`` and exact 3-gram Jaccard >= ``threshold``.

    Cost shape: exactly the two-stage near-dup pipeline
    (:func:`ngram_jaccard_pairs` — banding proposes, exact Jaccard
    disposes) plus ZERO extra joins: the split label is a pure column
    function of the id (:func:`tajo_spark.operators.sampling.split_column`),
    so labeling the pair endpoints is a projection. The audit costs the
    same as the dedup pass a pipeline already runs.
    """
    from tajo_spark.operators.sampling import split_column

    return (
        ngram_jaccard_pairs(docs, text_col)
        .filter(F.col("jaccard") >= threshold)
        .select(
            "doc_a",
            "doc_b",
            "jaccard",
            split_column(F.col("doc_a")).alias("split_a"),
            split_column(F.col("doc_b")).alias("split_b"),
        )
        .filter(F.col("split_a") != F.col("split_b"))
    )


def best_of_cluster_dedup(
    docs: DataFrame,
    text_col: str = "text",
    jaccard_threshold: float = 0.8,
) -> DataFrame:
    """Quality-aware near-dup dedup: keep the BEST member of each
    duplicate cluster, not the first-seen one (the RefinedWeb refinement
    over min-id survivorship — duplicates often differ by boilerplate,
    truncation, or OCR noise, and min-id keeps an arbitrary variant).

    Survivor per connected component of verified near-dup pairs =
    argmax quality-classifier score, ties to the LOWER doc_id (a total
    order, so survivorship is deterministic under any partitioning).

    Cost shape: the stages a near-dup pipeline already runs (banding →
    exact-Jaccard verify → components) plus one quality projection and
    a two-phase component argmax (max-qscore aggregate, then min-id
    over exact ties — both with map-side partials, the tie phase over a
    near-empty frame), never a per-cluster window sort.  The tie-break
    works for any orderable ``doc_id`` type, numeric or string.
    Returns the surviving corpus as ``(doc_id, qscore)``.

    r10 (the 5.6x-at-10x spot-bench row): the member frame is consumed
    by THREE downstream legs (max-agg, tie-break join, drop set), and
    it previously carried a corpus-wide quality projection — so the
    classifier re-evaluated over the whole corpus once per leg, 4x per
    run with the output leg.  Now quality is computed only for cluster
    MEMBERS (score after the component join, not before) and the
    members frame — bounded by the duplicate population, a small
    fraction of the corpus — is localCheckpointed once; the corpus-wide
    projection runs exactly once, in the returned survivor frame.

    Like the rest of the near-dup pipeline (signatures, banding,
    components), the corpus key is the ``doc_id`` column — a
    differently-keyed frame should alias its key first rather than
    this function taking an id_col it could only honor halfway.
    """
    from tajo_spark.operators import text as T
    from tajo_spark.operators.graph import connected_components

    verified = (
        ngram_jaccard_pairs(docs, text_col)
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("doc_a", "doc_b")
    )
    comp = connected_components(verified, assume_distinct=True)
    # score AFTER the component join so the classifier runs over
    # members only, and pin the members frame (three consumers below);
    # it is duplicate-population-sized, a small fraction of the corpus
    members = (
        comp.join(
            docs.select("doc_id", text_col), comp.node == F.col("doc_id")
        )
        .select(
            "component",
            "doc_id",
            T.quality_classifier_score(F.col(text_col)).alias("qscore"),
        )
        .localCheckpoint()
    )
    q = docs.select(
        F.col("doc_id"),
        T.quality_classifier_score(F.col(text_col)).alias("qscore"),
    )
    # argmax(qscore), tie -> min doc_id — expressed engine-neutrally
    # for ANY orderable id type (a negated-id struct-max would silently
    # require a numeric doc_id): phase 1 takes the component's max
    # qscore, phase 2 the min doc_id among exact ties.  The tie frame
    # is component-sized (one row per member of a maximal-score tie),
    # so the second aggregate shuffles a near-empty frame; both phases
    # keep map-side partials.  The qscore equi-join is exact: both
    # sides are the same computed column, bit-identical per row.
    best = members.groupBy("component").agg(F.max("qscore").alias("qscore"))
    keepers = (
        members.join(best, ["component", "qscore"])
        .groupBy("component")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    drops = members.select("doc_id").join(keepers, "doc_id", "left_anti")
    return q.join(drops, "doc_id", "left_anti")


def repair_split_leakage(
    docs: DataFrame,
    text_col: str = "text",
    threshold: float = 0.5,
) -> DataFrame:
    """Leakage-free split materialization: detect near-dup pairs that
    cross the train/val/test boundary (:func:`split_leakage_audit`) and
    DROP the training-side member of each — the standard repair
    direction (eval sets stay intact so benchmark numbers remain
    comparable; training loses a handful of documents it effectively
    had twice anyway).

    Returns the full corpus labeled ``(doc_id, split, keep)`` with
    ``keep = false`` exactly for train docs near-duplicating a val/test
    doc.  Non-train↔non-train leaks (val↔test) drop the val side, so
    the test set is the one split never touched.

    Cost: the audit's pipeline plus one aggregation of the (tiny)
    offender set and a broadcast anti-join back to the corpus.
    """
    from tajo_spark.operators.sampling import split_column

    # the audit subtree (banding + Jaccard) is the expensive part and
    # feeds BOTH drop branches — checkpoint the tiny offender frame so
    # it executes once (same fix class as the phash 3x finding)
    leaks = split_leakage_audit(docs, text_col, threshold).localCheckpoint()
    drop_a = leaks.filter(
        (F.col("split_a") == "train")
        | ((F.col("split_a") == "val") & (F.col("split_b") == "test"))
    ).select(F.col("doc_a").alias("doc_id"))
    drop_b = leaks.filter(
        (F.col("split_b") == "train")
        | ((F.col("split_b") == "val") & (F.col("split_a") == "test"))
    ).select(F.col("doc_b").alias("doc_id"))
    drops = drop_a.unionByName(drop_b).distinct()
    return docs.select(
        "doc_id", split_column(F.col("doc_id")).alias("split")
    ).join(F.broadcast(drops.withColumn("keep", F.lit(False))), "doc_id", "left").select(
        "doc_id",
        "split",
        F.coalesce("keep", F.lit(True)).alias("keep"),
    )


def weighted_containment_pairs(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """IDF-weighted containment over the LSH candidate pairs: each
    shared shingle contributes ``ln(N/df)`` — boilerplate (high-df)
    shingles count for almost nothing, rare shared content dominates.
    A page sharing only its site template scores low; true content
    subsumption scores ~1.0 toward the contained side.

    Hash-exactness design: idf is integer-scaled at 1e6 BEFORE any
    sum, so the per-pair and per-doc weights are exact integers —
    partial-aggregation order can never flip the driver hash; the only
    float op is the final division of identical integers.

    Scale shape: posting explode (token-linear projection), one df
    groupBy (two-phase), then the verify leg is sharded on the PAIR
    key: each candidate pair carries doc_a's (shingle → idf) map and
    doc_b's shingle array, and the intersection weight is one
    JVM-side ``aggregate`` of map lookups per pair — no
    |pairs|×|shingles| row explode, no extra groupBy shuffle (the r07
    64x ladder measured that explode as the steepest row in the dedup
    family, 26.3x wall at 64x data).  Everything stays
    banding-bounded, never all-pairs; N rides as a broadcast 1-row
    aggregate.  Output: (doc_a, doc_b, wcont_a_in_b, wcont_b_in_a).
    """
    # ONE shingle-set checkpoint feeds the signature pipeline (as
    # postings), the df count, and the per-doc payload leg (r12: the
    # r11 plan ran the scan+explode+dedup posting pipeline 4x — once
    # per consumer per wpay copy); the candidate set is still consumed
    # three times (two payload semi-joins + the final pair join) so it
    # stays materialized too
    shs = shingle_sets(docs, text_col)
    postings = postings_of(shs)
    pairs = minhash_candidate_pairs(
        docs, text_col, postings=postings
    ).localCheckpoint()
    nn = docs.where(F.col(text_col).isNotNull()).agg(
        F.count(F.lit(1)).alias("n")
    )
    dfc = (
        postings.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("df"))
        .join(F.broadcast(nn))
        .select(
            "sh",
            F.round(
                F.log(F.col("n").cast("double") / F.col("df")) * 1000000
            )
            .cast("long")
            .alias("idf"),
        )
    )
    weighted = postings.join(dfc, "sh")
    # Per-doc payload — one array of "shingle␟idf" strings plus the
    # exact-integer weight total — built ONLY for docs that actually
    # appear in a candidate pair (semi-join first): payload volume is
    # candidate-bounded, not corpus-bounded.  The string encoding is
    # deliberate: idf is a GLOBAL per-shingle value, so two docs'
    # entries for the same shingle are byte-identical, and
    # array_intersect over ATOMIC strings takes Spark's hash-set path
    # (O(|A|+|B|) per pair) — a map/element_at formulation was
    # measured 4x slower because GetMapValue is a linear scan
    # (O(|A|x|B|) per pair).
    cand = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .union(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    # wpay is candidate-bounded (tiny) but consumed by BOTH pair-join
    # sides — checkpoint so the posting-weight pipeline above executes
    # once, not once per side (r12: halves the remaining plan)
    wpay = (
        weighted.join(cand, "doc_id", "left_semi")
        .groupBy("doc_id")
        .agg(
            F.collect_list(
                F.concat_ws("", "sh", "idf")
            ).alias("entries"),
            F.sum("idf").alias("w"),
        )
        .localCheckpoint()
    )
    a = wpay.select(
        F.col("doc_id").alias("doc_a"),
        F.col("entries").alias("ea"),
        F.col("w").alias("wa"),
    )
    b = wpay.select(
        F.col("doc_id").alias("doc_b"),
        F.col("entries").alias("eb"),
        F.col("w").alias("wb"),
    )
    # intersection weight: hash-intersect the entry arrays, parse the
    # idf back off each shared entry — sum of exact longs, so element
    # order can never move the driver hash
    wi = F.aggregate(
        F.array_intersect("ea", "eb"),
        F.lit(0).cast("long"),
        lambda acc, x: acc
        + F.substring_index(x, "", -1).cast("long"),
    )
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("wi", wi.cast("double"))  # runs once per pair
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("wi") / F.greatest(F.col("wa"), F.lit(1)), 4
            ).alias("wcont_a_in_b"),
            F.round(
                F.col("wi") / F.greatest(F.col("wb"), F.lit(1)), 4
            ).alias("wcont_b_in_a"),
        )
    )
