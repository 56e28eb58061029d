"""Text-analysis operators for training-data pipelines (SURVEY.md §2.6).

Language ID, quality scoring, token counting, and document fingerprinting —
all as pure Column expressions (codegen'd, shuffle-free map stages), all
with exact DuckDB oracles because every statistic is a ratio/combination
of integers or an md5 derivation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import tokens

# Tiny per-language marker lexicons for the n-gram/stopword heuristic.
# Deliberately small and ASCII so the same lists inline into the SQL oracle.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is"),
    "de": ("der", "die", "das", "und", "ist", "von"),
    "es": ("el", "la", "de", "que", "y", "es"),
    "fr": ("le", "la", "et", "les", "des", "est"),
}

# Stopwords for quality scoring (subset of the 'en' markers + connectives).
STOPWORDS: tuple[str, ...] = ("the", "a", "an", "and", "or", "of", "to", "in", "is")

# BPE-ish token pattern: word pieces, digit runs, single non-space symbols.
BPE_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9\\s]"


def _count_in(arr, wordlist: tuple[str, ...]):
    return F.size(F.filter(arr, lambda t: t.isin(*wordlist)))


def text_stats(
    docs: DataFrame, text_col: str = "text", carry: tuple[str, ...] = ()
) -> DataFrame:
    """Per-document quality statistics.

    Output: (doc_id, *carry, n_chars, n_tokens, avg_token_len,
    stopword_ratio, quality_e6, quality_score).  quality_e6 is a
    deterministic [0, 1e6] blend of length, lexical diversity and
    stopword load in exact 1e-6 integer units — the usual cheap
    pre-filter before expensive dedup/scoring stages; quality_score is
    the same value as a display double (quality_e6 / 1e6).
    ``carry`` passes grouping columns through the (narrow, shuffle-free)
    map so downstream rollups don't need a join back to the corpus.
    """
    t = tokens(text_col)
    inter = docs.select(
        "doc_id",
        *carry,
        F.length(F.col(text_col)).alias("n_chars"),
        F.size(t).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(t)).cast("long").alias("__n_distinct"),
        _count_in(t, STOPWORDS).cast("long").alias("__n_stop"),
        F.aggregate(t, F.lit(0), lambda acc, x: acc + F.length(x))
        .cast("long")
        .alias("__len_sum"),
    )
    # quality_e6 = 0.4·min(n/20,1) + 0.3·diversity + 0.3·(1-stop_ratio),
    # in 1e-6 units, computed ENTIRELY in integer arithmetic (`div`, not a
    # double blend): min(n,20)·20000 is the exact length term, and each
    # ratio term is an exact integer division.  No double ever enters the
    # score, so there is no ULP boundary for two engines to disagree on
    # when it is rolled up (corpus_report) or threshold-gated
    # (curation_pipeline).  The double form is derived FROM the integer
    # (long→double exact ≤ 1e6, division by 1e6 correctly rounded — still
    # bit-identical cross-engine), display-only.
    q_e6 = F.expr(
        "least(n_tokens, 20L) * 20000L"
        " + (__n_distinct * 300000L) div n_tokens"
        " + ((n_tokens - __n_stop) * 300000L) div n_tokens"
    )
    return inter.select(
        "doc_id",
        *carry,
        "n_chars",
        "n_tokens",
        F.round(F.col("__len_sum").cast("double") / F.col("n_tokens"), 6).alias(
            "avg_token_len"
        ),
        F.round(F.col("__n_stop").cast("double") / F.col("n_tokens"), 6).alias(
            "stopword_ratio"
        ),
        q_e6.alias("quality_e6"),
        (q_e6 / F.lit(1_000_000.0)).alias("quality_score"),
    )


def token_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Token counting: whitespace tokens, BPE-ish regex pieces, and the
    chars/4 heuristic LLM-token estimate.

    Output: (doc_id, ws_tokens, bpe_tokens, est_llm_tokens).
    """
    ws = F.size(tokens(text_col)).cast("long")
    bpe = F.size(
        F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(BPE_PATTERN), 0)
    ).cast("long")
    est = F.ceil(F.length(F.col(text_col)) / 4.0).cast("long")
    return docs.select(
        "doc_id",
        ws.alias("ws_tokens"),
        bpe.alias("bpe_tokens"),
        est.alias("est_llm_tokens"),
    )


def language_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Marker-word language ID heuristic.

    Scores each language by marker-token hits; predicts the argmax with
    lexicographic tie-break, 'und' (undetermined) when no marker hits.
    Output: (doc_id, lang_pred, lang_hits).
    """
    t = tokens(text_col)
    scores = [
        _count_in(t, words).alias(lang) for lang, words in LANG_MARKERS.items()
    ]
    scored = docs.select("doc_id", *scores)
    langs = sorted(LANG_MARKERS)  # lexicographic tie-break order
    best_hits = F.greatest(*[F.col(l) for l in langs])
    pred = F.lit("und")
    # fold right-to-left so earlier (lexicographically smaller) langs win ties
    for l in reversed(langs):
        pred = F.when(
            (F.col(l) == best_hits) & (best_hits > 0), F.lit(l)
        ).otherwise(pred)
    return scored.select(
        "doc_id",
        pred.alias("lang_pred"),
        best_hits.cast("long").alias("lang_hits"),
    )


def corpus_report(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-(lang, source) corpus health rollup — the curation dashboard.

    Output: (lang, source, n_docs, n_unique_texts, sum_tokens,
    avg_quality_e6) where avg_quality_e6 is the mean quality score in
    exact 1e-6 units (quality_e6 is integer-born in :func:`text_stats`,
    integer-summed here — no double ever enters the rollup) and
    n_unique_texts counts distinct content digests (the dup-rate
    signal).

    Scale shape: the stats map is narrow; one partial-aggregable shuffle
    on (lang, source) for the sums plus the distinct-digest count
    (Spark rewrites count(distinct) as a two-phase expand — still keyed
    by the group, no corpus-wide collect).
    """
    s = text_stats(docs, text_col, carry=("lang", "source", text_col))
    return (
        s.groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct(F.md5(F.col(text_col).cast("binary"))).alias(
                "n_unique_texts"
            ),
            F.sum("n_tokens").alias("sum_tokens"),
            F.sum("quality_e6").alias("_sum_q"),
        )
        # integer division, not a double cast: Spark's double→long cast
        # truncates while DuckDB's rounds — div sidesteps both
        .withColumn("avg_quality_e6", F.expr("_sum_q div n_docs"))
        .drop("_sum_q")
    )


def tfidf_top_terms(
    docs: DataFrame, k: int = 5, text_col: str = "text"
) -> DataFrame:
    """Per-document top-k TF-IDF terms — corpus-statistics ranking.

    FP-free scoring per the engine's determinism policy: instead of
    ``tf * ln(N/df)`` (a transcendental whose last ULP engines may
    disagree on), the idf factor is the exact integer
    ``(1_000_000 * N) div df`` — monotone in df, so rankings match the
    float formulation for any fixed tf, and bit-identical across
    engines.  Ties break (score DESC, term ASC).

    Output: (doc_id, term, tf, df, tfidf_e6, rank), rank 1..k.

    Scale shape: tf groupBy shuffles on (doc_id, term); df is a
    partial-aggregable rollup of tf; the tf⨝df join shuffles on term
    (vocabulary-sized — AQE broadcasts it when small); the top-k window
    shuffles ranked rows on doc_id.  N is a 1-row broadcast, never a
    driver-side collect.
    """
    from pyspark.sql import Window

    toks = docs.select("doc_id", F.explode(tokens(text_col)).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfx = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    s = (
        tf.join(dfx, "term")
        .crossJoin(F.broadcast(n))
        .withColumn("tfidf_e6", F.col("tf") * F.expr("(1000000 * n_docs) div df"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf_e6"), F.asc("term"))
    return (
        s.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("doc_id", "term", "tf", "df", "tfidf_e6", "rank")
    )


def repetition_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition signals: how much of a document is
    repeated n-grams (the classic boilerplate / degenerate-text filter
    for pretraining corpora).

    Output: (doc_id, n_bigrams, top_bigram_count, rep_bigram_e6) —
    total bigram instances, the count of the most frequent bigram, and
    the fraction of bigram instances belonging to a bigram that occurs
    ≥ 2 times, in exact 1e-6 integer units (``div`` — no FP).  Filter
    downstream on e.g. ``rep_bigram_e6 >= 200000`` (20 % repeated).

    Scale shape: explode → count per (doc_id, bigram) → per-doc rollup.
    Both aggregations are partial-aggregable and keyed by doc_id, so the
    shuffles are linear in token volume and skew-free (doc_id is
    unique-ish per group) — the same shape as tf-idf, NOT a per-row
    interpreted higher-order fold (which is quadratic per document; see
    functions/hashing.py on the HOF re-evaluation trap).  Documents
    with < 2 tokens yield no bigrams and are emitted with zero counts
    via the left join back to the corpus.
    """
    t = tokens(text_col)
    toks = docs.select("doc_id", t.alias("t"))
    bigrams = toks.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("t") >= 2, F.sequence(F.lit(1), F.size("t") - 1)
            ).otherwise(F.array().cast("array<integer>"))
        ).alias("i"),
        "t",
    ).select("doc_id", F.concat_ws(" ", F.slice("t", F.col("i"), 2)).alias("bg"))
    per_bg = bigrams.groupBy("doc_id", "bg").agg(F.count("*").alias("c"))
    per_doc = per_bg.groupBy("doc_id").agg(
        F.sum("c").alias("n_bigrams"),
        F.max("c").alias("top_bigram_count"),
        F.sum(F.when(F.col("c") >= 2, F.col("c")).otherwise(F.lit(0))).alias(
            "_rep"
        ),
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
            F.coalesce("top_bigram_count", F.lit(0))
            .cast("long")
            .alias("top_bigram_count"),
            F.coalesce(
                F.expr("(_rep * 1000000L) div n_bigrams"), F.lit(0)
            )
            .cast("long")
            .alias("rep_bigram_e6"),
        )
    )


def domain_mixture(
    docs: DataFrame, text_col: str = "text", cap_e6: int = 1_000_000
) -> DataFrame:
    """Domain-mixture weighting: per-source token share and the
    deterministic sampling rate that would re-balance the corpus to a
    uniform per-source token budget — the planning step before
    ``curation.sample_by_hash`` executes the mixture.

    Output: (source, n_docs, sum_tokens, share_e6, uniform_rate_e6):
    ``share_e6`` is this source's fraction of corpus tokens and
    ``uniform_rate_e6`` the keep-rate that levels every source to
    total/K tokens (capped at ``cap_e6`` — undersized sources keep
    everything; no upsampling).  All ratios are exact integer ``div``.

    Scale shape: one partial-aggregable groupBy(source) over a narrow
    map, then a 1-row broadcast crossJoin for the corpus totals —
    sources are bounded (≪ corpus), totals never collect to the driver.
    """
    per_src = (
        docs.select("source", F.size(tokens(text_col)).cast("long").alias("n"))
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"), F.sum("n").alias("sum_tokens"))
    )
    totals = per_src.agg(
        F.sum("sum_tokens").alias("_total"), F.count("*").alias("_k")
    )
    return (
        per_src.crossJoin(F.broadcast(totals))
        .select(
            "source",
            "n_docs",
            "sum_tokens",
            # ×1e6 in DECIMAL(38,0): corpus token totals × 1e6 overflow
            # int64 around 1e13 tokens — the quotient (≤ 1e6) is what
            # must fit
            F.expr(
                "(CAST(sum_tokens AS DECIMAL(38,0)) * 1000000) div _total"
            ).alias("share_e6"),
            F.least(
                F.expr(
                    "(CAST(_total AS DECIMAL(38,0)) * 1000000)"
                    " div (_k * sum_tokens)"
                ),
                F.lit(cap_e6).cast("long"),
            ).alias("uniform_rate_e6"),
        )
    )


def fingerprints(
    docs: DataFrame,
    text_col: str = "text",
    shingle_n: int = 3,
    mod_prefixes: tuple[str, ...] = ("0", "1"),
) -> DataFrame:
    """MOD-p document fingerprinting (winnowing-lite).

    A document's fingerprint is the set of shingle hashes whose first hex
    digit falls in ``mod_prefixes`` (p = len(prefixes)/16 selectivity) —
    the content-defined sampling used for plagiarism/near-dup sketches at
    corpus scale.  Output: (doc_id, fp) exploded, one row per selected
    fingerprint, distinct.
    """
    from .dedup import _exploded_terms  # exploded codegen'd shingling

    e = _exploded_terms(docs, shingle_n, text_col)
    h = F.md5(F.col("term").cast("binary"))
    return (
        e.select("doc_id", h.alias("fp"))
        .filter(F.substring("fp", 1, 1).isin(*mod_prefixes))
        .distinct()
    )


def shared_span_stats(
    docs: DataFrame, n: int = 5, min_df: int = 2, text_col: str = "text"
) -> DataFrame:
    """Cross-document repeated-span (boilerplate) detection — the
    practical distributed form of substring-level dedup (cf. Lee et al.,
    "Deduplicating Training Data Makes Language Models Better", which
    uses suffix arrays single-node; at corpus scale the span-df
    formulation is the shuffle-friendly equivalent signal).

    Every length-``n`` token span position is counted, and a span is
    "shared" when it occurs in ≥ ``min_df`` distinct documents.  Output
    per document: (doc_id, n_spans, n_shared_spans, boilerplate_e6)
    where boilerplate_e6 = n_shared·1e6 div n_spans (exact integer — no
    FP for engines to disagree on); docs shorter than ``n`` tokens carry
    zeros.

    Unlike :func:`repetition_stats` (WITHIN-document repetition) this
    measures ACROSS-document repetition — the template/boilerplate
    signal used to strip navigation chrome and license headers before
    training.

    Scale shape: positional spans form with posexplode + lead over the
    doc_id window (one keyed shuffle); the span-df aggregate is
    distinct-then-count (both stages partial-aggregable); the shared-set
    semi-join keys on the span string and AQE broadcasts the shared side
    when small.  At 100 TB hash spans to fixed width (xxhash64) before
    the shuffle — same note as the decontamination join.
    """
    from pyspark.sql import Window

    toks = docs.select("doc_id", tokens(F.col(text_col)).alias("t"))
    pe = toks.select("doc_id", F.posexplode("t").alias("pos", "tok"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    parts = [F.col("tok")] + [F.lead("tok", j).over(w) for j in range(1, n)]
    spans = (
        pe.select(
            "doc_id",
            F.concat_ws(" ", *parts).alias("s"),
            parts[-1].alias("_full"),
        )
        .filter(F.col("_full").isNotNull())
        .select("doc_id", "s")
    )
    shared = (
        spans.distinct()
        .groupBy("s")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") >= min_df)
        .select("s")
    )
    per_total = spans.groupBy("doc_id").agg(F.count("*").alias("n_spans"))
    per_shared = (
        spans.join(shared, "s", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared_spans"))
    )
    return (
        docs.select("doc_id")
        .join(per_total, "doc_id", "left")
        .join(per_shared, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce("n_shared_spans", F.lit(0))
            .cast("long")
            .alias("n_shared_spans"),
            F.coalesce(
                F.expr("n_shared_spans * 1000000L div n_spans"), F.lit(0)
            )
            .cast("long")
            .alias("boilerplate_e6"),
        )
    )


# PII patterns shared with the SQL oracle.  Deliberately restricted to
# character classes, literals and bounded quantifiers — the regex subset
# where Java regex (Spark) and RE2 (DuckDB) agree exactly (no
# backreferences, no lookaround, no possessive quantifiers).  The four
# patterns are mutually disjoint by construction (3-3-4 phone vs 3-2-4
# id; dotted quad vs dashed groups), so per-pattern counts over the
# ORIGINAL text never double-count and the sequential redaction order
# below is deterministic on both engines.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}", "<EMAIL>"),
    ("phone", r"[0-9]{3}-[0-9]{3}-[0-9]{4}", "<PHONE>"),
    ("id", r"[0-9]{3}-[0-9]{2}-[0-9]{4}", "<ID>"),
    ("ip", r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}", "<IP>"),
)


def pii_scrub(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """PII detection + redaction — the privacy-scrub pass every
    training-data pipeline runs before release (emails, NANP phones,
    SSN-shaped ids, IPv4 literals).

    Output: (doc_id, n_emails, n_phones, n_ids, n_ips, pii_total,
    clean_len, clean_md5).  Counts are measured per pattern on the
    ORIGINAL text; the clean text applies the replacements sequentially
    in ``PII_PATTERNS`` order and is emitted as (length, md5) so the
    redaction itself — not just the counts — is under the oracle hash.

    Scale shape: a pure per-row map (regexp count + replace, all
    codegen'd JVM expressions, no Python) — shuffle-free, pipelines with
    the scan, linear in corpus bytes.  At 100 TB this is the cheapest
    stage in the pipeline; run it early so downstream stages never see
    raw PII.
    """
    col = F.col(text_col)
    clean = col
    for _, pat, rep in PII_PATTERNS:
        clean = F.regexp_replace(clean, pat, rep)
    inner = docs.select(
        "doc_id",
        *[
            F.size(F.regexp_extract_all(col, F.lit(pat), F.lit(0)))
            .cast("long")
            .alias(f"n_{name}s")
            for name, pat, _ in PII_PATTERNS
        ],
        F.length(clean).cast("long").alias("clean_len"),
        F.md5(clean.cast("binary")).alias("clean_md5"),
    )
    return inner.select(
        "doc_id",
        "n_emails",
        "n_phones",
        "n_ids",
        "n_ips",
        (
            F.col("n_emails") + F.col("n_phones") + F.col("n_ids") + F.col("n_ips")
        ).alias("pii_total"),
        "clean_len",
        "clean_md5",
    )


def lm_score(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus bigram language-model scoring — the CCNet/KenLM-style
    fluency filter: documents whose bigrams are improbable under the
    corpus's own bigram statistics score low (gibberish, shuffled text,
    OCR noise) and get filtered before training.

    Per bigram (w1,w2) the conditional probability surrogate is the
    exact integer ``p_e6 = c(w1,w2)·1e6 div c(w1,·)`` (count of the
    bigram over the count of bigrams starting with w1); a document's
    score is the exact mean ``sum(p_e6) div n_bigrams`` — no logs, no
    doubles, bit-identical cross-engine while ranking documents the
    same way a log-probability mean would for fixed-length docs.

    Output: (doc_id, n_bigrams, lm_score_e6); docs with < 2 tokens
    carry zeros via the left join.

    Scale shape: bigram explode (codegen'd slice, not a per-row HOF
    fold); the model counts are two partial-aggregable groupBys over
    the same exploded set; the score join keys on the bigram string —
    vocabulary-sized, AQE broadcasts it when small.  The "model" is
    itself a DataFrame, so at 100 TB it can be trained on a sample and
    joined against the full corpus unchanged.
    """
    t = tokens(text_col)
    toks = docs.select("doc_id", t.alias("t"))
    bigrams = toks.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("t") >= 2, F.sequence(F.lit(1), F.size("t") - 1)
            ).otherwise(F.array().cast("array<integer>"))
        ).alias("i"),
        "t",
    ).select(
        "doc_id",
        F.get("t", F.col("i") - 1).alias("w1"),  # 0-based, bounds-safe
        F.concat_ws(" ", F.slice("t", F.col("i"), 2)).alias("bg"),
    )
    big_c = bigrams.groupBy("w1", "bg").agg(F.count("*").alias("c12"))
    pre_c = bigrams.groupBy("w1").agg(F.count("*").alias("c1"))
    stats = big_c.join(pre_c, "w1").select(
        "bg", F.expr("(c12 * 1000000L) div c1").alias("p_e6")
    )
    per_doc = (
        bigrams.join(stats, "bg")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_bigrams"), F.sum("p_e6").alias("_s"))
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
            F.coalesce(F.expr("_s div n_bigrams"), F.lit(0))
            .cast("long")
            .alias("lm_score_e6"),
        )
    )


_BPE_SCHEMA = "step int, pair string, merged string, cnt long"


def bpe_merges(
    docs: DataFrame,
    n_merges: int = 5,
    batch: int = 1,
    text_col: str = "text",
    cache_key: str | None = None,
) -> DataFrame:
    """BPE tokenizer induction: learn ``n_merges`` byte-pair merges over
    the corpus — the core of training a BPE/WordPiece tokenizer
    (Sennrich et al.) — in BATCHED rounds of ``batch`` merges each.

    Classic formulation: train on the WORD-FREQUENCY table (bounded
    vocabulary — ≪ corpus), never the raw corpus.  Each round counts
    adjacent symbol pairs weighted by word count, takes the TOP-``batch``
    pairs (count DESC, pair ASC — the deterministic tie-break), and
    applies them sequentially in rank order in ONE vocabulary rewrite.
    This is the standard scalable-BPE "stale count" batching: merges
    2..batch of a round are ranked by counts measured at round START
    (applying merge 1 can shift them), a deliberate, deterministic
    approximation that cuts driver round-trips and plan depth by
    ``batch``× — the only way a 10⁴-merge vocabulary trains in bounded
    rounds.  ``batch=1`` is exact textbook-order induction.  The
    reported ``cnt`` is the round-start count, mirrored by the oracle.

    Symbols are space-joined strings, and each fuse is
    ``replace(padded, ' a b ', ' ab ')`` — non-overlapping
    left-to-right with boundary-space consumption, identical on both
    engines, so every round is bit-identical to the SQL oracle.
    Semantics note: on RUNS of the same pair ('a a a a') the consumed
    boundary makes fusion alternate ('aa a a'), a deliberate divergence
    from textbook greedy that keeps the rewrite one cross-engine-exact
    string op; pair statistics outside same-symbol runs are unaffected.

    Output: (step, pair, merged, cnt) — one row per learned merge,
    step 1-based and contiguous; raises if the vocabulary runs out of
    adjacent pairs before ``n_merges`` (loud, never silently short —
    the round-4 empty-crossJoin footgun).  Rounds are FIXED
    (ceil(n_merges/batch)) so plan depth is bounded and the oracle
    unrolls the same CTE chain.

    Scale shape: the corpus is touched ONCE (word-count groupBy, one
    partial-aggregable shuffle, persisted for the training's duration);
    every round then runs ONE vocabulary-sized job (pair explode +
    keyed sum + top-``batch`` collect — ``batch`` literal replaces go
    back out in the next round's projection).  Driver round-trips are
    n_merges/batch, sub-linear in merges.  At 100 TB the vocabulary is
    still ~10⁶ rows, so rounds cost vocabulary-, not corpus-, time.

    ``cache_key``: opt into the ingest-time build cache
    (operators/buildcache) — a tokenizer is trained once per corpus
    ingest; deterministic training makes cached rows bit-identical.
    """
    from . import buildcache

    spark = docs.sparkSession
    ckey = (
        ("bpe", cache_key, n_merges, batch, text_col)
        if cache_key is not None
        else None
    )
    if ckey is not None:
        hit = buildcache.lookup(ckey)
        if hit is not None:
            return buildcache.rehydrate(spark, hit, _BPE_SCHEMA)

    words = (
        docs.select(F.explode(tokens(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("wc"))
        .persist()
    )
    chars = F.regexp_extract_all(F.col("w"), F.lit("."), 0)
    state = words.select("wc", F.concat_ws(" ", chars).alias("s"))

    out_rows: list[tuple] = []
    try:
        while len(out_rows) < n_merges:
            k = min(batch, n_merges - len(out_rows))
            toks = state.select("wc", F.split(F.col("s"), " ").alias("t"))
            pairs = toks.select(
                "wc",
                F.explode(
                    F.when(
                        F.size("t") >= 2, F.sequence(F.lit(1), F.size("t") - 1)
                    ).otherwise(F.array().cast("array<integer>"))
                ).alias("i"),
                "t",
            ).select(
                "wc", F.concat_ws(" ", F.slice("t", F.col("i"), 2)).alias("pair")
            )
            # Bounded collect: k rows of (pair, cnt), already ranked.
            top = (
                pairs.groupBy("pair")
                .agg(F.sum("wc").alias("cnt"))
                .orderBy(F.desc("cnt"), F.asc("pair"))
                .limit(k)
                .collect()
            )
            if not top:
                raise ValueError(
                    f"bpe_merges ran out of adjacent pairs after "
                    f"{len(out_rows)} merges (n_merges={n_merges}) — the "
                    f"corpus is too small for the requested vocabulary"
                )
            expr = F.concat(F.lit(" "), F.col("s"), F.lit(" "))
            for r in top:
                pair, fused = r["pair"], r["pair"].replace(" ", "")
                out_rows.append((len(out_rows) + 1, pair, fused, int(r["cnt"])))
                expr = F.replace(
                    expr, F.lit(f" {pair} "), F.lit(f" {fused} ")
                )
            state = state.select("wc", F.trim(expr).alias("s"))
    finally:
        words.unpersist()
    if ckey is not None:
        buildcache.store(ckey, out_rows)
    return buildcache.rehydrate(spark, out_rows, _BPE_SCHEMA)


def bpe_segment_counts(
    docs: DataFrame,
    merges: DataFrame,
    n_merges: int = 5,
    text_col: str = "text",
) -> DataFrame:
    """Apply learned BPE merges (:func:`bpe_merges`) to segment every
    document and report its subword token count — the application half
    of tokenizer induction, and the real token-budget estimator once a
    vocabulary exists (vs token_counts' chars/4 heuristic).

    Per word: symbolize to space-joined chars, apply each merge in
    learned (step) order with the same boundary-delimited ``replace``
    as training — one shared pad, a chained replace per merge, one
    final trim (identical string sequence to per-merge pad/trim, since
    each replacement preserves its boundary spaces) — then count
    surviving symbols; the document's count is the sum over its words.
    Entirely shuffle-free on the corpus side: the bounded merge table
    is collected once (n_merges rows — the same eager bounded action as
    the validation guard) and inlined as literal replaces, so the whole
    segmentation is a codegen'd transform+aggregate map with NO join.

    Output: (doc_id, ws_tokens, bpe_vocab_tokens).

    Guard: ``merges`` must carry EXACTLY one row per step 1..n_merges —
    a missing step (degenerate corpus ran out of pairs during training)
    raises loudly instead of silently misapplying the vocabulary.
    """
    rows = merges.select("step", "pair").collect()
    steps = sorted(int(r["step"]) for r in rows)
    if steps != list(range(1, n_merges + 1)):
        raise ValueError(
            f"bpe_segment_counts needs exactly one merge per step "
            f"1..{n_merges}; got steps {steps} — a degenerate corpus ran "
            f"out of pairs during bpe_merges (lower n_merges)"
        )
    ordered = [r["pair"] for r in sorted(rows, key=lambda r: int(r["step"]))]

    def _applied(w):
        s = F.concat(
            F.lit(" "),
            F.array_join(F.regexp_extract_all(w, F.lit("."), 0), " "),
            F.lit(" "),
        )
        for p in ordered:
            s = F.replace(
                s, F.lit(f" {p} "), F.lit(f" {p.replace(' ', '')} ")
            )
        return F.trim(s)

    t = tokens(text_col)
    n_bpe = F.aggregate(
        F.transform(t, lambda w: F.size(F.split(_applied(w), " "))),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return docs.select(
        "doc_id",
        F.size(t).cast("long").alias("ws_tokens"),
        n_bpe.alias("bpe_vocab_tokens"),
    )


def chunk_sliding(
    docs: DataFrame,
    chunk_tokens: int = 64,
    stride: int = 48,
    text_col: str = "text",
) -> DataFrame:
    """Sliding token-window document chunking — the standard LLM
    context-window preparation step (RAG passage splitting, long-doc
    training-example windowing).

    Each document is split into whitespace tokens and windowed with
    ``chunk_tokens``-token chunks starting every ``stride`` tokens; the
    last window may be short (start positions run while ``start <
    n_tokens``).  With ``stride <= chunk_tokens`` (the usual setting)
    every token lands in ≥1 chunk and consecutive chunks overlap by
    ``chunk_tokens - stride`` tokens; a larger stride SAMPLES windows
    instead (tokens between chunk ends and the next start are skipped).

    Output: (doc_id, chunk_id, start_tok, chunk_len, chunk_text).

    Scale shape: a single shuffle-free codegen'd map stage — tokenize,
    ``sequence`` of chunk starts, ``explode``, bounds-safe ``slice`` +
    ``concat_ws``.  Output size is n_tokens/stride rows per doc (~1.3×
    the corpus bytes at the 64/48 default), produced streaming per
    partition; nothing is ever collected or shuffled, so the operator
    scales with scan bandwidth at 100 TB.
    """
    if stride <= 0 or chunk_tokens <= 0:
        raise ValueError("chunk_tokens and stride must be positive")
    t = tokens(text_col)
    base = docs.select(
        "doc_id", t.alias("__t"), F.size(t).cast("long").alias("__n")
    ).where(F.col("__n") > 0)
    start = (F.col("chunk_id").cast("long") * stride).alias("start_tok")
    return (
        base.select(
            "doc_id",
            "__t",
            "__n",
            F.explode(
                F.expr(f"sequence(0, cast((__n - 1) div {stride} as int))")
            ).alias("chunk_id"),
        )
        .select(
            "doc_id",
            F.col("chunk_id").cast("long").alias("chunk_id"),
            start,
            F.least(
                F.lit(chunk_tokens).cast("long"), F.col("__n") - start
            ).alias("chunk_len"),
            F.concat_ws(
                " ",
                F.slice(
                    F.col("__t"),
                    (F.col("chunk_id") * stride + 1).cast("int"),
                    chunk_tokens,
                ),
            ).alias("chunk_text"),
        )
    )
