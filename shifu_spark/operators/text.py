"""Text-analysis operators for training-data pipelines.

Language-ID (stopword-hit heuristic), quality scoring (length / punct /
vocabulary ratios), token counting (whitespace + BPE-ish regex pieces),
document fingerprinting (content digest + shingle-set digest). All pure
``pyspark.sql.functions`` column expressions — JVM-side, codegen'd,
streaming-compatible; every op has a portable ANSI-SQL mirror for the
DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# tiny per-language stopword marker lists (heuristic, deterministic)
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that"],
    "es": ["el", "la", "de", "y", "que", "en", "los", "una"],
    "fr": ["le", "la", "et", "les", "des", "un", "une", "est"],
    "de": ["der", "die", "das", "und", "ist", "ein", "nicht", "mit"],
}


def token_count_expr(text: Column | str) -> Column:
    """Whitespace token count. Portable form: single-space split size."""
    t = F.col(text) if isinstance(text, str) else text
    return F.size(F.split(t, " "))


def distinct_token_count_expr(text: Column | str) -> Column:
    t = F.col(text) if isinstance(text, str) else text
    return F.size(F.array_distinct(F.split(t, " ")))


def bpe_piece_count_expr(text: Column | str) -> Column:
    """BPE-ish piece count: alphanumeric runs + single non-space symbols.

    Counted via regexp extraction (`[a-z0-9]+|[^a-z0-9\\s]`) — a cheap
    stand-in for a real tokenizer's piece count at pretrain-data scale.
    """
    t = F.col(text) if isinstance(text, str) else text
    # built from the Column itself — an f-string SQL interpolation can
    # only name str inputs and silently read the wrong column for a
    # Column argument
    return F.size(
        F.regexp_extract_all(F.lower(t), F.lit("[a-z0-9]+|[^a-z0-9 ]"), F.lit(0))
    )


def quality_score_expr(text: Column | str, n_chars: Column | str | None = None) -> Column:
    """Composite quality score in [0,1]:

      0.4·min(1, n_tokens/100) + 0.3·(1 − punct_ratio) + 0.3·distinct_ratio

    length / punctuation / vocabulary-diversity ratios — the standard
    cheap pretrain-quality heuristics, as one JVM expression.

    A length-0 or NULL doc scores NULL (unrankable) — never a crash:
    the punct ratio is 0/0 on an empty string and under ANSI a bare
    division would kill the corpus-wide job on one empty row.
    """
    t = F.col(text) if isinstance(text, str) else text
    ntok = F.size(F.split(t, " ")).cast("double")
    ndist = F.size(F.array_distinct(F.split(t, " "))).cast("double")
    npunct = F.length(t) - F.length(F.regexp_replace(t, r"[^\w\s]", ""))
    # length-0 doc: punct ratio is 0/0 — try_divide, not `/`, because under
    # ANSI one empty document would DIVIDE_BY_ZERO the whole corpus scan.
    # The NULL propagates through the sum, so an empty doc scores NULL
    # (unrankable), the same convention as the eval-metric score points.
    punct_ratio = F.try_divide(npunct, F.length(t))
    return (
        F.least(ntok / 100.0, F.lit(1.0)) * 0.4
        + (1.0 - punct_ratio) * 0.3
        + (ndist / ntok) * 0.3
    )


def lang_id_expr(text: Column | str, markers: dict[str, list[str]] | None = None) -> Column:
    """Argmax of per-language marker-token hit counts; zero hits -> 'und'.

    Deterministic tie-break: higher count wins; on an exact count tie
    the lexicographically LARGER code wins (the fold processes languages
    desc with strict ``>``, so the earlier-processed one survives a tie
    — every oracle mirrors this order with a desc-ordered CASE).
    """
    m = markers or LANG_MARKERS
    t = F.col(text) if isinstance(text, str) else text
    toks = F.split(F.lower(t), " ")
    best_lang = F.lit("und")
    best_cnt = F.lit(0)
    for lang in sorted(m.keys(), reverse=True):  # desc: earlier wins ties
        cnt = F.size(F.filter(toks, lambda x: x.isin(m[lang])))
        better = cnt > best_cnt
        best_lang = F.when(better, F.lit(lang)).otherwise(best_lang)
        best_cnt = F.when(better, cnt).otherwise(best_cnt)
    return best_lang


def fingerprint_df(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, digest, prefix_digest): full-content md5 + first-5-token
    md5 (cheap near-dup blocking key). NULL text -> both digests NULL:
    concat_ws over the NULL token array would otherwise collapse to ''
    and hand every NULL doc the empty doc's blocking key."""
    t = F.col(text_col)
    prefix = F.when(
        t.isNull(), F.lit(None).cast("string")
    ).otherwise(F.concat_ws(" ", F.slice(F.split(t, " "), 1, 5)))
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.md5(t).alias("digest"),
        F.md5(prefix).alias("prefix_digest"),
    )


def text_stats_df(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-doc text statistics table (the `documents` analogue of the
    numeric stats pass)."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.length(text_col).alias("n_chars"),
        token_count_expr(text_col).alias("n_tokens"),
        distinct_token_count_expr(text_col).alias("n_distinct_tokens"),
        F.round(quality_score_expr(text_col), 6).alias("quality"),
        lang_id_expr(text_col).alias("lang_pred"),
    )


# Pinned unigram "language model" for quality scoring: dyadic-rational
# log-probs (exact multiples of 1/64) so per-doc sums are EXACT in
# float64 and therefore independent of summation order — the driver
# oracle can sum in any order and still hash-match. Production would
# broadcast a fitted vocab table; the pinned one keeps the oracle
# closed-form (same move as the pinned PQ codebooks / NN weights).
UNIGRAM_LOGPROB = {
    "the": -2.0, "a": -2.25, "value": -2.5, "table": -2.75, "row": -3.0,
    "data": -3.0, "fast": -3.25, "slow": -3.25, "scan": -3.5, "hash": -3.5,
    "join": -3.5, "part": -3.75, "key": -3.75, "agg": -4.0, "query": -4.0,
    "column": -4.25, "filter": -4.25, "batch": -4.5, "window": -4.5,
    "order": -4.75, "small": -4.75, "merge": -5.0, "line": -5.0,
    "customer": -5.25, "spark": -5.25, "group": -5.5, "big": -5.5,
}
UNIGRAM_OOV_LOGPROB = -8.0


def unigram_logprob_exprs(
    text: Column | str,
    vocab: dict[str, float] | None = None,
    oov_logprob: float = UNIGRAM_OOV_LOGPROB,
) -> tuple[Column, Column]:
    """(mean token log-prob, OOV rate) under a broadcast unigram model —
    the cheap perplexity-filter surrogate every LLM data pipeline runs
    (Wenzek et al., "CCNet", LREC 2020 uses a 5-gram LM the same way).

    Pure JVM: map-literal lookup + higher-order fold, no explode, no
    shuffle. With dyadic-rational log-probs the sum is exact, so the
    result is partition- and engine-order independent."""
    v = vocab or UNIGRAM_LOGPROB
    t = F.col(text) if isinstance(text, str) else text
    m = F.create_map(*[F.lit(x) for kv in sorted(v.items()) for x in kv])
    toks = F.split(t, " ")
    lp = F.transform(toks, lambda w: F.coalesce(m[w], F.lit(float(oov_logprob))))
    total = F.aggregate(lp, F.lit(0.0), lambda acc, x: acc + x)
    n = F.size(toks)
    mean_lp = F.when(n > 0, total / n).otherwise(F.lit(None))
    oov = F.size(F.filter(toks, lambda w: m[w].isNull()))
    oov_rate = F.when(n > 0, oov.cast("double") / n).otherwise(F.lit(None))
    return mean_lp, oov_rate


# ---------------------------------------------------------------------------
# Gopher/C4-style document quality rules + a fastText-style hashed-bucket
# quality classifier — the two standard pretrain-corpus filters beyond
# the cheap ratio heuristics above. Both are PURE IN-ROW expressions
# (higher-order functions over the token array): zero shuffle, one scan,
# fully JVM-side — the shape that survives 100 TB trivially.
# ---------------------------------------------------------------------------

GOPHER_STOPWORDS = ("the", "a", "value", "data", "row")
GOPHER_MIN_TOKENS, GOPHER_MAX_TOKENS = 10, 100000
GOPHER_MIN_MEAN_WORD_LEN, GOPHER_MAX_MEAN_WORD_LEN = 2.0, 10.0
GOPHER_MAX_TOP_BIGRAM_FRAC = 0.20
GOPHER_MIN_STOPWORDS = 2


def gopher_signal_exprs():
    """(n_tokens, mean_word_len, top_bigram_mult, n_stopwords) as pure
    Columns over a frame carrying a ``toks`` array column — the
    composable form, so multi-signal rollups (corpus report, funnel)
    evaluate every quality signal in ONE projection over ONE scan."""
    n = F.size("toks")
    sum_len = F.expr("aggregate(toks, 0L, (acc, x) -> acc + length(x))")
    mean_wl = sum_len / n
    stop_list = ", ".join(f"'{s}'" for s in GOPHER_STOPWORDS)
    n_stop = F.expr(f"size(filter(toks, x -> x in ({stop_list})))")
    # longest run of equal adjacent elements in the SORTED bigram array
    # == max bigram multiplicity; state = (prev, run, best)
    top_big = F.expr(
        "aggregate("
        "  array_sort(transform(sequence(1, greatest(size(toks) - 1, 1)),"
        "    i -> concat(try_element_at(toks, i), ' ', try_element_at(toks, i + 1)))),"
        "  struct(cast(null as string) as prev, 0 as run, 0 as best),"
        "  (acc, x) -> struct(x as prev,"
        "    if(acc.prev is not null and x = acc.prev, acc.run + 1, 1) as run,"
        "    greatest(acc.best, if(acc.prev is not null and x = acc.prev, acc.run + 1, 1)) as best),"
        "  acc -> acc.best)"
    )
    return n, mean_wl, top_big, n_stop


def gopher_keep_expr():
    """The conjunctive Gopher keep flag as one Column (over ``toks``)."""
    n, mean_wl, top_big, n_stop = gopher_signal_exprs()
    return (
        n.between(GOPHER_MIN_TOKENS, GOPHER_MAX_TOKENS)
        & (mean_wl >= GOPHER_MIN_MEAN_WORD_LEN)
        & (mean_wl <= GOPHER_MAX_MEAN_WORD_LEN)
        & (top_big / F.greatest(n - 1, F.lit(1)) <= GOPHER_MAX_TOP_BIGRAM_FRAC)
        & (n_stop >= GOPHER_MIN_STOPWORDS)
    )


def gopher_quality_df(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Gopher-rule quality signals (Rae et al. 2021 §A1.1, re-derived):
    token count bounds, mean word length bounds, most-common-bigram
    mass, minimum stopword hits — and the conjunctive keep flag.

    The top-bigram fraction is computed IN-ROW: sort the bigram array,
    then a single aggregate() pass tracks the longest equal-adjacent
    run — no explode, no per-doc groupBy shuffle. At 100 TB this whole
    operator is a narrow map over the corpus scan."""
    toks = F.split(F.col(text_col), " ")
    d = docs.select(F.col(id_col).alias("doc_id"), toks.alias("toks"))
    n, mean_wl, top_big, n_stop = gopher_signal_exprs()
    out = d.select(
        "doc_id",
        n.alias("n_tokens"),
        F.round(mean_wl, 6).alias("mean_word_len"),
        F.round(top_big / F.greatest(n - 1, F.lit(1)), 6).alias("top_bigram_frac"),
        n_stop.alias("n_stopwords"),
        (
            n.between(GOPHER_MIN_TOKENS, GOPHER_MAX_TOKENS)
            & (mean_wl >= GOPHER_MIN_MEAN_WORD_LEN)
            & (mean_wl <= GOPHER_MAX_MEAN_WORD_LEN)
            & (top_big / F.greatest(n - 1, F.lit(1)) <= GOPHER_MAX_TOP_BIGRAM_FRAC)
            & (n_stop >= GOPHER_MIN_STOPWORDS)
        ).alias("keep"),
    )
    return out


# fastText-style classifier with PINNED weights: each token hashes to
# one of 16 buckets via its first md5 hex digit (portable to the oracle:
# strpos over the hex alphabet); the doc representation is the MEAN of
# bucket weights. Weights are dyadic rationals (multiples of 1/64), so
# the per-doc weight sum is EXACT in float64 and order-independent —
# the same determinism move as UNIGRAM_LOGPROB above. Production would
# broadcast fitted weights; pinning keeps the oracle closed-form.
QUALITY_CLF_WEIGHTS = [
    0.5, -0.25, 0.75, -0.5, 0.25, -0.75, 1.0, -1.0,
    0.125, -0.125, 0.375, -0.375, 0.625, -0.625, 0.875, -0.875,
]
QUALITY_CLF_BIAS = 0.25


def quality_clf_score_expr():
    """The UNROUNDED classifier score as one Column over ``toks``."""
    w_arr = ", ".join(f"cast({w} as double)" for w in QUALITY_CLF_WEIGHTS)
    wsum = F.expr(
        f"aggregate(toks, cast(0 as double), (acc, x) -> acc + "
        f"element_at(array({w_arr}), "
        f"instr('0123456789abcdef', substring(md5(cast(x as binary)), 1, 1))))"
    )
    logit = F.lit(QUALITY_CLF_BIAS) + wsum / F.size("toks")
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-logit))


def quality_classifier_df(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, n_tokens, clf_score, keep): sigmoid(bias + mean bucket
    weight), keep = score >= 0.5 decided on the UNROUNDED score (both
    engines compute the identical double, so the flag is stable)."""
    d = docs.select(
        F.col(id_col).alias("doc_id"), F.split(F.col(text_col), " ").alias("toks")
    )
    score = quality_clf_score_expr()
    return d.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        F.round(score, 6).alias("clf_score"),
        (score >= 0.5).alias("keep"),
    )


# ---------------------------------------------------------------------------
# PII redaction (pretraining-corpus scrubbing)
# ---------------------------------------------------------------------------

# Patterns restricted to the regex subset with identical semantics in
# Java regex (Spark) and RE2 (DuckDB): literal classes, bounded repeats,
# greedy quantifiers — no backrefs, no lookaround.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ip": r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}",
    "phone": r"555-\d{4}",
}


def pii_redact_df(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Scrub PII from a text corpus: count and replace emails / IPv4
    addresses / (NANP test-prefix) phone numbers with typed placeholder
    tags. The standard pre-tokenization scrubbing pass of an LLM data
    pipeline (C4/Dolma-style), kept entirely JVM-side: regexp_extract_all
    for the counts, chained regexp_replace for the redaction — one
    narrow map over the corpus scan, no shuffle, no UDF.

    Redaction order is email -> ip -> phone (fixed, so overlapping
    matches resolve identically on every engine), and each count is
    taken against the text AS REDACTED SO FAR — n_ips counts IP matches
    remaining after emails were replaced, n_phones after both — so the
    counts describe exactly what was replaced at each step (an IP
    embedded in an already-redacted email is not double-counted).
    Output: (doc_id, n_emails, n_ips, n_phones, redacted_digest) — the
    digest (md5 of the redacted text) proves the replacement
    byte-for-byte without hauling full text through the result."""
    red = F.col(text_col)
    counts = {}
    for k in ("email", "ip", "phone"):
        p = PII_PATTERNS[k]
        counts[k] = F.size(F.regexp_extract_all(red, F.lit(p), F.lit(0)))
        red = F.regexp_replace(red, p, f"<{k.upper()}>")
    return docs.select(
        F.col(id_col).alias("doc_id"),
        counts["email"].alias("n_emails"),
        counts["ip"].alias("n_ips"),
        counts["phone"].alias("n_phones"),
        F.md5(red.cast("binary")).alias("redacted_digest"),
    )


# ---------------------------------------------------------------------------
# In-document repetition signals (Rae et al. 2021 repetition filters)
# ---------------------------------------------------------------------------

def ngram_array_expr(text_col: str, n: int = 3):
    """Word n-gram array Column built from a raw text column.

    NULL text -> NULL array (so every downstream count/distinct/ratio
    is NULL, not a phantom [NULL]-gram row): greatest() ignores the
    NULL size and array_join turns the NULL slice into a NULL element,
    which Spark's array_distinct KEEPS but DuckDB's list_distinct
    DROPS — a cross-engine dup_frac split on every NULL doc."""
    return F.expr(
        f"CASE WHEN {text_col} IS NULL THEN NULL ELSE "
        f"transform(sequence(1, greatest(size(split({text_col}, ' ')) - {n - 1}, 1)), "
        f"i -> array_join(slice(split({text_col}, ' '), i, {n}), ' ')) END"
    )


def dup_frac_expr():
    """UNROUNDED duplicate-n-gram fraction over a ``grams`` array column."""
    return F.lit(1.0) - F.size(F.array_distinct("grams")) / F.size("grams")


def repetition_signals_df(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    max_dup_frac: float = 0.30,
) -> DataFrame:
    """Duplicate word-n-gram fraction WITHIN each document (the Gopher
    'repetition' filter family — complement of the corpus-level
    chunk_dup_fraction): dup_frac = 1 − distinct/total over the doc's
    word n-grams, computed IN-ROW (transform + array_distinct over the
    token array — zero corpus-side shuffle), with the conjunctive keep
    at ``max_dup_frac``. Decided on the UNROUNDED fraction; the emitted
    column is rounded for the hash."""
    d = docs.select(
        F.col(id_col).alias("doc_id"),
        F.split(F.col(text_col), " ").alias("toks"),
        ngram_array_expr(text_col, n).alias("grams"),
    )
    total = F.size("grams")
    distinct = F.size(F.array_distinct("grams"))
    dup = dup_frac_expr()
    return d.select(
        "doc_id",
        total.alias("n_grams"),
        distinct.alias("n_distinct"),
        F.round(dup, 6).alias("dup_frac"),
        (dup <= max_dup_frac).alias("keep"),
    )


def lang_mixture_df(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    markers: dict[str, list[str]] | None = None,
) -> DataFrame:
    """Per-document LANGUAGE-MIXTURE fractions — the multilingual-
    contamination detector that complements the argmax :func:`lang_id_expr`
    (a 60/40 code-switched doc looks monolingual to argmax but pollutes
    monolingual training mixes). For each language: the fraction of
    marker-token hits attributable to it, plus the dominant language and
    its purity. All in-row expressions over one scan; rounded to 6 like
    the other oracle-facing fractions.

    Output: (doc_id, n_marker_hits, frac_<lang>..., top_lang, purity).
    Docs with zero marker hits report 'und' with purity 0.
    """
    m = markers or LANG_MARKERS
    toks = F.split(F.lower(F.col(text_col)), " ")
    d = docs.select(F.col(id_col).alias("doc_id"), toks.alias("toks"))
    def _hits(vocab: list[str]) -> Column:
        # factory closure: a two-arg lambda would be read by F.filter as
        # the (element, index) form
        return F.size(F.filter(F.col("toks"), lambda x: x.isin(vocab)))

    counts = {lang: _hits(vocab) for lang, vocab in sorted(m.items())}
    langs = sorted(counts)
    total = counts[langs[0]]
    for lang in langs[1:]:
        total = total + counts[lang]
    best_lang = F.lit("und")
    best_cnt = F.lit(0)
    for lang in sorted(langs, reverse=True):  # desc: earlier wins ties (see lang_id_expr)
        better = counts[lang] > best_cnt
        best_lang = F.when(better, F.lit(lang)).otherwise(best_lang)
        best_cnt = F.when(better, counts[lang]).otherwise(best_cnt)
    cols = [
        F.round(
            F.when(total > 0, counts[lang] / total).otherwise(F.lit(0.0)), 6
        ).alias(f"frac_{lang}")
        for lang in langs
    ]
    purity = F.round(
        F.when(total > 0, best_cnt / total).otherwise(F.lit(0.0)), 6
    )
    return d.select(
        "doc_id",
        total.alias("n_marker_hits"),
        *cols,
        best_lang.alias("top_lang"),
        purity.alias("purity"),
    )


# ---------------------------------------------------------------------------
# Overlapping chunking (RAG / context-window preparation)
# ---------------------------------------------------------------------------

def chunk_spans_df(
    docs: DataFrame,
    chunk_tokens: int = 64,
    stride: int = 48,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split each document into overlapping token-window chunks — the
    standard RAG / long-context preprocessing step (chunk size
    ``chunk_tokens``, step ``stride``; stride < chunk_tokens overlaps
    adjacent chunks so no answer span straddles a boundary unseen).

    Chunk starts are 0, stride, 2·stride, ... while start < n_tokens
    (so every token lands in ≥1 chunk; the final chunk may be short).
    All IN-ROW JVM expressions — sequence → transform → explode; the
    corpus never shuffles, and the chunk digest (md5 of the
    space-joined slice) proves the chunk text byte-for-byte without
    materializing it.

    Output: (doc_id, chunk_id, tok_start, n_chunk_tokens, chunk_digest).
    """
    if stride <= 0 or chunk_tokens <= 0:
        raise ValueError("chunk_tokens and stride must be positive")
    toks = F.split(F.col(text_col), " ")
    d = docs.select(
        F.col(id_col).alias("doc_id"), toks.alias("toks"), F.size(toks).alias("n_tokens")
    )
    n_chunks = F.floor((F.col("n_tokens") - 1) / stride) + 1
    spans = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            i.alias("chunk_id"),
            (i * stride).alias("tok_start"),
            F.least(F.lit(chunk_tokens), F.col("n_tokens") - i * stride).alias(
                "n_chunk_tokens"
            ),
        ),
    )
    ex = d.select("doc_id", "toks", F.explode(spans).alias("s"))
    chunk = F.slice(
        F.col("toks"), F.col("s.tok_start") + 1, F.col("s.n_chunk_tokens")
    )
    return ex.select(
        "doc_id",
        F.col("s.chunk_id").cast("int").alias("chunk_id"),
        F.col("s.tok_start").cast("int").alias("tok_start"),
        F.col("s.n_chunk_tokens").cast("int").alias("n_chunk_tokens"),
        F.md5(F.concat_ws(" ", chunk).cast("binary")).alias("chunk_digest"),
    )


# Pinned interpolated-bigram LM extension of the unigram scorer: bigram
# log-probs (dyadic) for pairs the corpus actually contains; positions
# without a bigram entry back off to unigram(w_i) + BACKOFF_PENALTY
# (also dyadic), so every per-doc sum stays EXACT in float64 and
# order-independent — the same oracle trick as UNIGRAM_LOGPROB.
BIGRAM_LOGPROB = {
    "table hash": -1.5, "part filter": -1.5, "customer join": -1.75,
    "slow key": -1.75, "merge group": -2.0, "vector small": -2.0,
    "big order": -2.25, "filter small": -2.25, "merge order": -2.5,
    "filter hash": -2.5, "batch agg": -2.75, "slow query": -2.75,
}
BIGRAM_BACKOFF_PENALTY = -1.0


def bigram_logprob_exprs(
    text: Column | str,
    bigrams: dict[str, float] | None = None,
    unigrams: dict[str, float] | None = None,
) -> tuple[Column, Column]:
    """(mean per-position bigram log-prob, backoff rate) over positions
    2..n — the next step up the CCNet ladder from the unigram scorer
    (a 5-gram KenLM fills the same role in production; the pinned
    dyadic tables keep the oracle closed-form). Pure JVM: one map
    lookup per position inside a transform over an index sequence, no
    explode, no shuffle. Docs with < 2 tokens score NULL."""
    bg = bigrams or BIGRAM_LOGPROB
    ug = unigrams or UNIGRAM_LOGPROB
    t = F.col(text) if isinstance(text, str) else text
    toks = F.split(t, " ")
    n = F.size(toks)
    bmap = F.create_map(*[F.lit(x) for kv in sorted(bg.items()) for x in kv])
    umap = F.create_map(*[F.lit(x) for kv in sorted(ug.items()) for x in kv])

    def pos_lp(i: Column) -> Column:
        pair = F.concat_ws(" ", F.element_at(toks, i - 1), F.element_at(toks, i))
        backoff = (
            F.coalesce(
                umap[F.element_at(toks, i)], F.lit(float(UNIGRAM_OOV_LOGPROB))
            )
            + F.lit(float(BIGRAM_BACKOFF_PENALTY))
        )
        return F.coalesce(bmap[pair], backoff)

    idx = F.sequence(F.lit(2), n)
    lps = F.transform(idx, pos_lp)
    total = F.aggregate(lps, F.lit(0.0), lambda acc, x: acc + x)
    n_pos = (n - 1).cast("double")
    mean_lp = F.when(n >= 2, total / n_pos).otherwise(F.lit(None))
    bmiss = F.size(
        F.filter(idx, lambda i: bmap[
            F.concat_ws(" ", F.element_at(toks, i - 1), F.element_at(toks, i))
        ].isNull())
    )
    backoff_rate = F.when(n >= 2, bmiss.cast("double") / n_pos).otherwise(F.lit(None))
    return mean_lp, backoff_rate
