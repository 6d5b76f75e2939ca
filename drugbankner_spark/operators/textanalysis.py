"""E3: text analysis for training-data pipelines (SURVEY.md §2.12).

Language-ID (stopword-hit heuristic), quality scoring, token statistics,
and document fingerprinting — all pure column expressions over the
``documents`` table, distributed and oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from drugbankner_spark.operators.dedup import content_hash32
from drugbankner_spark.tables import (
    BROADCAST_MAX_ROWS, local_df, maybe_broadcast,
)

#: Tiny per-language stopword lists for the n-gram/stopword heuristic.
#: Deliberately minimal — the operator shape (explode → dim join →
#: argmax) is what scales; swap in real lists per deployment.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to", "in", "is"),
    "es": ("el", "la", "los", "de", "y", "en", "es"),
    "fr": ("le", "la", "les", "de", "et", "en", "est"),
    "de": ("der", "die", "das", "und", "von", "in", "ist"),
    "zh": ("de5", "shi4", "le5", "zai4", "he2", "you3", "wo3"),
}


def tokens(col: Column) -> Column:
    return F.split(col, " ")


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def stopword_dim(spark) -> DataFrame:
    rows = [(lang, w) for lang, ws in STOPWORDS.items() for w in ws]
    # Arrow-backed literal dim (round 16): the python-list path pays a
    # Python-worker round trip per consuming job
    return local_df(spark, rows, "sw_lang string, sw_word string")


def predict_language(
    docs: DataFrame, spark, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Stopword-vote language ID: explode tokens, join the stopword dim
    (broadcast), count hits per language, argmax with (count desc, lang
    asc) tie-break; no hits → NULL prediction."""
    toks = docs.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok")
    )
    hits = toks.join(
        F.broadcast(stopword_dim(spark)), toks.tok == F.col("sw_word")
    ).groupBy(id_col, "sw_lang").agg(F.count(F.lit(1)).alias("n_hits"))
    best = hits.groupBy(id_col).agg(
        F.min_by(
            "sw_lang", F.struct((-F.col("n_hits")).alias("n"), F.col("sw_lang"))
        ).alias("predicted_lang"),
        F.max("n_hits").alias("n_stopword_hits"),
    )
    return docs.select(id_col).join(best, id_col, "left")


def quality_score(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Composite quality features: length, token stats, mean token length,
    uppercase/digit/punct ratios — the standard cheap filters applied
    before expensive pipeline stages. Rounded for cross-engine parity."""
    t = F.col(text_col)
    toks = tokens(t)
    n_chars = F.length(t)
    n_tokens = F.size(toks)
    return docs.select(
        F.col(id_col),
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        F.round(n_chars / n_tokens, 6).alias("mean_token_len"),
        F.round(
            (n_chars - F.length(F.regexp_replace(t, r"[0-9]", ""))) / n_chars, 6
        ).alias("digit_ratio"),
        F.round(
            (n_chars - F.length(F.regexp_replace(t, r"[A-Z]", ""))) / n_chars, 6
        ).alias("upper_ratio"),
        F.round(
            F.size(F.array_distinct(toks)) / n_tokens, 6
        ).alias("distinct_token_ratio"),
    )


#: BPE-ish pre-tokenizer: word pieces, numbers, or single non-space
#: symbols — the standard GPT-style pre-split approximated in one regex
#: that behaves identically in Java (Spark) and RE2 (DuckDB).
BPE_TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def bpe_token_stats(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Token counting beyond whitespace: BPE-ish regex token count +
    whitespace token count side by side (the cost estimator for LLM
    training-data budgeting)."""
    t = F.col(text_col)
    pieces = F.regexp_extract_all(t, F.lit(BPE_TOKEN_PATTERN), F.lit(0))
    return docs.select(
        F.col(id_col),
        F.size(tokens(t)).alias("ws_tokens"),
        F.size(pieces).alias("bpe_tokens"),
        F.round(
            F.size(pieces) / F.greatest(F.size(tokens(t)), F.lit(1)), 6
        ).alias("pieces_per_word"),
    )


def doc_fingerprint(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    chunk: int = 16,
) -> DataFrame:
    """Winnowing-style fingerprint: hash fixed-size token chunks, keep the
    per-document minimum and the full chunk-hash count — a compact
    signature for shift-tolerant containment checks. Uses the
    cross-engine content hash (md5-derived) for oracle parity."""
    # pre-projected token array — the chunk lambda slices a column
    # reference, not an inline split (re-evaluated per element →
    # quadratic; round-6 lambda-capture audit)
    pre = docs.select(
        F.col(id_col), tokens(F.col(text_col)).alias("_toks")
    )
    toks = F.col("_toks")
    chunks = F.transform(
        F.sequence(
            F.lit(1),
            F.greatest(F.size(toks) - (chunk - 1), F.lit(1)),
            F.lit(chunk),
        ),
        lambda i: F.array_join(F.slice(toks, i, chunk), " "),
    )
    exploded = pre.select(F.col(id_col), F.explode(chunks).alias("chunk_text"))
    hashed = exploded.select(
        F.col(id_col), content_hash32(F.col("chunk_text")).alias("chunk_hash")
    )
    return hashed.groupBy(id_col).agg(
        F.min("chunk_hash").alias("min_fingerprint"),
        F.count(F.lit(1)).alias("n_chunks"),
    )


def gopher_quality_filter(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 20,
    max_tokens: int = 100_000,
    min_mean_token_len: float = 3.0,
    max_mean_token_len: float = 10.0,
    max_digit_ratio: float = 0.2,
    min_distinct_token_ratio: float = 0.2,
    require_stopword: bool = True,
) -> DataFrame:
    """Gopher-style rule filter (Rae et al. 2021 §A1.1 heuristics,
    adapted to this feature set): per document, a boolean per rule plus
    the final ``keep``. Emitting the flags (not just the survivors) is
    deliberate — at 100 TB you audit WHY mass was dropped before you
    drop it, and the flags are free (same single pass).

    Pure column expressions — one scan, no joins, no shuffle (the
    stopword check is an array_intersect against a literal array, not a
    dim join), so the filter runs at full scan throughput ahead of every
    expensive stage."""
    t = F.col(text_col)
    toks = tokens(t)
    n_tokens = F.size(toks)
    mean_tok = F.length(t) / n_tokens
    digit_ratio = (
        F.length(t) - F.length(F.regexp_replace(t, r"[0-9]", ""))
    ) / F.length(t)
    distinct_ratio = F.size(F.array_distinct(toks)) / n_tokens
    sw = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    flags = {
        "len_ok": (n_tokens >= min_tokens) & (n_tokens <= max_tokens),
        "mean_token_len_ok": (mean_tok >= min_mean_token_len)
        & (mean_tok <= max_mean_token_len),
        "digit_ratio_ok": digit_ratio <= max_digit_ratio,
        "repetition_ok": distinct_ratio >= min_distinct_token_ratio,
        "stopword_ok": ~F.lit(require_stopword)
        | (F.size(F.array_intersect(F.split(F.lower(t), " "), sw)) > 0),
    }
    keep = None
    for c in flags.values():
        keep = c if keep is None else (keep & c)
    return docs.select(
        F.col(id_col),
        n_tokens.alias("n_tokens"),
        *[c.alias(name) for name, c in flags.items()],
        keep.alias("keep"),
    )


def _word_ngrams(toks: Column, n: int) -> Column:
    """Sliding word n-grams as an array column: one slice+join per start
    position. Pure per-row expression — no explode, no shuffle."""
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def repetition_stats(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition signal (Rae et al. 2021 §A1.1): the
    fraction of word bigrams / trigrams that are duplicate occurrences.
    High values mark boilerplate and degenerate generations — a standard
    pre-training corpus filter.

    Entirely per-row array expressions (``transform`` + ``array_distinct``
    — no explode, no join, NO SHUFFLE), so it runs at scan throughput on
    any corpus size; documents with fewer than 2 tokens are excluded
    (they have no bigrams).
    """
    # two-step projection: token array first, then the n-gram arrays —
    # each later expression references plain columns, so nothing is
    # re-evaluated per lambda element (round-6 lambda-capture audit)
    pre = docs.select(
        F.col(id_col), tokens(F.col(text_col)).alias("_toks")
    ).select(
        F.col(id_col),
        _word_ngrams(F.col("_toks"), 2).alias("_bg"),
        _word_ngrams(F.col("_toks"), 3).alias("_tg"),
    )
    bg, tg = F.col("_bg"), F.col("_tg")

    def dup_frac(arr: Column) -> Column:
        return F.round(
            1 - F.size(F.array_distinct(arr)) / F.size(arr), 6
        )

    return (
        pre.select(
            F.col(id_col),
            F.size(bg).alias("n_bigrams"),
            dup_frac(bg).alias("dup_bigram_frac"),
            F.when(F.size(tg) > 0, dup_frac(tg)).otherwise(None).alias(
                "dup_trigram_frac"
            ),
        )
        .filter(F.col("n_bigrams") > 0)
    )


#: PII patterns written in the regex subset where Java (Spark) and RE2
#: (DuckDB) agree — ASCII classes, explicit quantifiers, \b boundaries.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"),
    ("phone", r"\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b"),
)


def redact_pii(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """PII scrub for training corpora: replace emails / IPv4s / phone
    numbers with ``<TYPE>`` placeholder tokens and report per-type match
    counts (audit trail — at scale you MEASURE leakage before and after).
    Chained ``regexp_replace`` — one scan, zero shuffles; counts come
    from ``regexp_extract_all`` on the original text in the same
    projection. Order matters: counts first, then destructive rewrite."""
    t = F.col(text_col)
    redacted = t
    for name, pat in PII_PATTERNS:
        redacted = F.regexp_replace(redacted, pat, f"<{name.upper()}>")
    return docs.select(
        F.col(id_col),
        *[
            F.size(F.regexp_extract_all(t, F.lit(pat), F.lit(0))).alias(
                f"n_{name}"
            )
            for name, pat in PII_PATTERNS
        ],
        redacted.alias("redacted_text"),
    )


def tfidf_scores(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 1,
    broadcast_idf: bool = True,
) -> DataFrame:
    """TF-IDF per (document, term) — the classic relevance weight
    (SURVEY.md §2.12 E3), smooth-idf form: ``tf * (ln((1+N)/(1+df))+1)``.

    Plan shape: one scan → explode → two hash aggregations (doc×term,
    then term) → join the tiny idf dim back onto tf. Exactly two
    shuffles, both map-side-combinable; the idf dim is vocabulary-sized
    (≪ corpus), so it broadcasts — set ``broadcast_idf=False`` at
    extreme vocabularies to fall back to a shuffle join on term. The tf
    subtree feeds both branches; at 100 TB checkpoint/persist tf so the
    scan runs once (here Catalyst's exchange reuse usually covers it).
    """
    term = F.explode(tokens(F.col(text_col))).alias("term")
    tok = docs.select(F.col(id_col), term).filter(F.col("term") != "")
    tf = tok.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    if min_df > 1:
        dfreq = dfreq.filter(F.col("df") >= min_df)
    n_docs = docs.select(
        F.count(F.lit(1)).alias("n_docs")
    )  # 1-row build side: crossJoin(broadcast) is a map-side literal, not a cartesian
    idf = dfreq.crossJoin(F.broadcast(n_docs)).select(
        "term",
        "df",
        (F.log((1 + F.col("n_docs")) / (1 + F.col("df"))) + 1).alias("idf"),
    )
    idf = F.broadcast(idf) if broadcast_idf else idf
    return tf.join(idf, "term").select(
        id_col,
        "term",
        "tf",
        "df",
        F.round(F.col("tf") * F.col("idf"), 6).alias("tfidf"),
    )


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Okapi BM25 top-k retrieval — the classic lexical ranking beside
    the hashed-TF cosine path in operators/retrieval.py. Per document:
    ``score = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1-b+b·dl/avgdl))`` with
    the standard ``idf = ln(1 + (N-df+0.5)/(df+0.5))``.

    Plan shape: the corpus explodes ONCE, is filtered to the query's
    terms immediately (a broadcast isin over a literal list — the scan
    emits only matching occurrences, never the vocabulary), then two
    map-side-combinable aggs build tf and df; N and avgdl are 1-row
    build sides (crossJoin(broadcast) = map-side literal). Document
    length comes from the same scan. Top-k is a TakeOrderedAndProject
    on (rounded score desc, id) — deterministic across partitionings.
    """
    terms = [t for t in query_terms if t]
    if not terms:
        raise ValueError("bm25_topk: query_terms must be non-empty")
    tok = docs.select(
        F.col(id_col),
        token_count(F.col(text_col)).alias("dl"),
        F.explode(tokens(F.col(text_col))).alias("term"),
    )
    hits = tok.filter(F.col("term").isin(terms))
    tf = hits.groupBy(id_col, "dl", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    stats = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(token_count(F.col(text_col))).alias("avgdl"),
    )  # 1-row build side
    idf = dfreq.crossJoin(F.broadcast(stats)).select(
        "term",
        F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
        ).alias("idf"),
        "avgdl",
    )
    per_term = tf.join(F.broadcast(idf), "term").select(
        id_col,
        (
            F.col("idf") * F.col("tf") * F.lit(k1 + 1.0)
            / (
                F.col("tf")
                + F.lit(k1)
                * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
            )
        ).alias("_s"),
    )
    scored = per_term.groupBy(id_col).agg(
        F.round(F.sum("_s"), 6).alias("bm25"),
        F.count(F.lit(1)).alias("n_query_terms_hit"),
    )
    return scored.orderBy(F.desc("bm25"), F.col(id_col)).limit(k)


def ppl_buckets(
    scored: DataFrame,
    score_col: str = "mean_logprob",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet-style head/middle/tail terciles over a perplexity-shaped
    quality score (higher logprob = more in-domain = head). The split
    CCNet publishes: train on head, mine the middle, drop the tail.

    Scale shape: the cut points are ONE exact-percentile aggregation
    collapsed to a 1-row build side (crossJoin(broadcast) = map-side
    literal), then bucketing is a pure projection — no global sort, no
    ntile window funneling the corpus through one task. Threshold
    semantics (>= cut) rather than equal-count ntile, so ties land in
    the same bucket deterministically on every partitioning."""
    cuts = scored.agg(
        F.expr(f"percentile({score_col}, 2.0D / 3.0D)").alias("head_cut"),
        F.expr(f"percentile({score_col}, 1.0D / 3.0D)").alias("mid_cut"),
    )
    return scored.crossJoin(F.broadcast(cuts)).select(
        id_col,
        score_col,
        F.when(F.col(score_col) >= F.col("head_cut"), F.lit("head"))
        .when(F.col(score_col) >= F.col("mid_cut"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


CONTROL_CHARS_RE = r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]"


def normalize_unicode(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    form: str = "NFC",
    strip_controls: bool = True,
) -> DataFrame:
    """Unicode normalization + control-character scrub — the first
    transform of any web-scale text pipeline (mixed crawls carry the
    same grapheme in composed and decomposed forms, which silently
    breaks exact dedup, shingling and tokenizer training upstream of
    everything else in the E1/E3 families).

    Control stripping stays JVM-side (one ``regexp_replace``); the
    normalization itself has no Spark built-in, so it runs as an
    Arrow-batched pandas UDF over ``unicodedata.normalize`` —
    vectorized transfer, per-batch Python, never per-row JVM↔Python.
    Output: (id, text_norm, n_chars_before, n_chars_after) — the
    length delta doubles as a cheap mojibake/denormalization signal.
    """
    import pandas  # noqa: F401 — anchors the UDF type hints below
    from pyspark.sql.functions import pandas_udf

    if form not in ("NFC", "NFD", "NFKC", "NFKD"):
        raise ValueError(f"normalize_unicode: unknown form {form!r}")

    def _norm_kernel(s: "pandas.Series") -> "pandas.Series":
        import unicodedata

        return s.map(
            lambda t: unicodedata.normalize(form, t)
            if t is not None else None
        )

    _norm_kernel.__annotations__ = {
        "s": pandas.Series, "return": pandas.Series,
    }
    _norm = pandas_udf(T.StringType())(_norm_kernel)

    cleaned = (
        F.regexp_replace(F.col(text_col), CONTROL_CHARS_RE, "")
        if strip_controls else F.col(text_col)
    )
    return df.select(
        F.col(id_col),
        _norm(cleaned).alias("text_norm"),
        F.length(F.col(text_col)).alias("n_chars_before"),
    ).withColumn("n_chars_after", F.length("text_norm"))


def _bigram_pairs(df: DataFrame, text_col: str, extra_cols: list[str]):
    """(extra_cols..., w1, w2) adjacent-token pairs. The token array is
    projected ONCE and indexed by column reference inside the lambda —
    an inline split() would be re-evaluated per element, O(tokens²)
    per document (round-6 lambda-capture audit).

    A spread_input() ahead of this explode was measured and REJECTED
    (round 15): interleaved A/B at sf0.1 AND sf1 showed the extra
    exchange a wash to a loss (e3_kn_ppl sf1 min 2.94 s spread vs
    2.33 s off) — the explode + broadcast joins are cheap enough per
    row that the single-row-group scan is not the bottleneck here."""
    pre = df.select(
        *extra_cols, F.split(F.col(text_col), " ").alias("_tk")
    )
    return pre.select(
        *extra_cols,
        F.explode(
            F.expr(
                "transform(sequence(1, greatest(size(_tk) - 1, 0)),"
                " i -> struct(_tk[i - 1] AS w1, _tk[i] AS w2))"
            )
        ).alias("p"),
    ).select(*extra_cols, "p.w1", "p.w2").filter(
        (F.col("w1") != "") & (F.col("w2") != "")
    )


def _headed_pair_counts(docs: DataFrame, text_col: str) -> DataFrame:
    """(w1, w2, n) counts of EVERY token position: w2 = the token,
    w1 = its predecessor in the raw split array (NULL at position 0).
    One explode + one map-side-combinable agg — the single corpus
    pass both word-LM trainers derive their dims from (round 15):
    bigram counts are the (w1 valid, w2 valid) slice; unigram counts
    are a second agg over THIS bounded pair-type dim (every token
    occurrence appears exactly once as w2), not another corpus scan.
    Empty tokens (consecutive delimiters) are carried and filtered at
    the derivation, exactly as the separate passes filtered them.
    (A spread_input() here was measured and rejected — see
    :func:`_bigram_pairs`.)"""
    pre = docs.select(F.split(F.col(text_col), " ").alias("_tk"))
    return (
        pre.select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(_tk)), i -> struct("
                    "CASE WHEN i > 1 THEN _tk[i - 2] END AS w1,"
                    " _tk[i - 1] AS w2))"
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("_n"))
    )


def train_word_lm(
    docs: DataFrame,
    text_col: str = "text",
    min_count: int = 1,
) -> dict:
    """Token-bigram counts with unigram backoff totals — the word-level
    sibling of ``train_char_lm``. Returns {'bigrams': DF(w1, w2, n12),
    'unigrams': DF(w, n1), 'total': DF(total)} — all derived from ONE
    tokenized corpus pass (round 15): the corpus aggregates once into
    the headed pair-count dim (:func:`_headed_pair_counts`, persisted
    — it is the model-sized table every dim below reads), bigram
    counts are its both-tokens-valid slice, unigram counts re-aggregate
    it on w2 (every token occurrence is exactly one pair row's w2 —
    integer-exact, so counts are identical to the former separate
    unigram scan), and the total folds the unigram dim. The former
    shape paid one tokenize+explode+agg chain per table. Unlike the
    char model (bounded by charset³) the word tables grow with
    vocabulary: ``min_count`` prunes the tail so the broadcast model
    stays bounded at web scale (document the cutoff in the run config).
    """
    from drugbankner_spark.caching import shared_persist

    pc = shared_persist(_headed_pair_counts(docs, text_col))
    uni = (
        pc.filter(F.col("w2") != "")
        .groupBy(F.col("w2").alias("w"))
        .agg(F.sum("_n").alias("n1"))
    )
    total = uni.agg(F.sum("n1").cast("double").alias("total"))
    big = (
        pc.filter(
            F.col("w1").isNotNull()
            & (F.col("w1") != "") & (F.col("w2") != "")
        )
        .select("w1", "w2", F.col("_n").alias("n12"))
    )
    if min_count > 1:
        uni = uni.filter(F.col("n1") >= min_count)
        big = big.filter(F.col("n12") >= min_count)
    return {"bigrams": big, "unigrams": uni, "total": total,
            "_pair_counts": pc}


def word_lm_logprob(
    docs: DataFrame,
    model: dict,
    text_col: str = "text",
    id_col: str = "doc_id",
    backoff: float = 0.4,
) -> DataFrame:
    """Per-document mean bigram log-probability under STUPID BACKOFF
    (Brants et al. 2007 — the web-scale LM scoring rule: no discount
    estimation, just ``ln(n12/n1)`` when the bigram is known, else
    ``ln(0.4 · n2/N)``; unseen words floor at ``ln(0.4 · 0.5/N)``).
    Scoring = one bigram explode + two joins onto the model dims + a
    per-doc agg — the corpus shuffles (id, bigram) pairs, never text.
    The model dims take the broadcast hint only when a count-agg
    confirms they fit under ``BROADCAST_MAX_ROWS`` (min_count bounds
    them in normal use; an un-pruned web-scale bigram table falls back
    to an AQE-chosen shuffle join instead of blowing the broadcast).
    Output: (id, n_bigrams, mean_logprob)."""
    occ = _bigram_pairs(docs, text_col, [id_col])
    big = model["bigrams"]
    # known-bigram scores fold n1 in via the unigram dim on w1
    uni1 = model["unigrams"].select(
        F.col("w").alias("w1"), F.col("n1").alias("_n1")
    )
    lp_known = big.join(uni1, "w1").select(
        "w1", "w2",
        F.log(F.col("n12") / F.col("_n1")).alias("_lp12"),
    )
    uni2 = model["unigrams"].select(
        F.col("w").alias("w2"), F.col("n1").alias("_n2")
    )
    # ONE broadcast-size decision for both model dims (round 15): the
    # persisted headed-pair dim's row count bounds every derived dim
    # (each is a filter or a coarser re-agg of its rows), so one count
    # job on the cached dim sizes them all — the per-dim counts each
    # re-derived an UNPERSISTED model chain (one full training scan per
    # dim per action). Decision-only: a conservative skip of the hint
    # changes the join strategy, never the rows.
    if "_pair_counts" in model:
        fits = model["_pair_counts"].count() <= BROADCAST_MAX_ROWS
        _dim = (lambda d: F.broadcast(d)) if fits else (lambda d: d)
    else:
        _dim = maybe_broadcast
    scored = (
        occ.join(_dim(lp_known), ["w1", "w2"], "left")
        .join(_dim(uni2), "w2", "left")
        .crossJoin(F.broadcast(model["total"]))  # always exactly 1 row
        .select(
            F.col(id_col),
            F.coalesce(
                F.col("_lp12"),
                F.log(
                    F.lit(backoff)
                    * F.coalesce(F.col("_n2").cast("double"), F.lit(0.5))
                    / F.col("total")
                ),
            ).alias("_lp"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg("_lp"), 6).alias("mean_logprob"),
    )


def train_kn_lm(
    docs: DataFrame,
    text_col: str = "text",
    min_count: int = 1,
) -> dict:
    """Interpolated Kneser–Ney bigram model (Kneser & Ney 1995; the
    smoothing KenLM ships and CCNet's quality filter runs at web
    scale) — the principled sibling of the stupid-backoff model above.
    Four bounded dims, each one map-side-combinable agg over the
    bigram-pair scan:

    - ``bigrams``  (w1, w2, n12): raw bigram counts
    - ``ctx``      (w1, n1, d_after): context total ``Σ_w2 n12`` and
      distinct-continuation fan-out ``N1+(w1,·)`` — derived from the
      bigram table itself so the model is self-consistent (no separate
      unigram pass that could disagree at sentence edges)
    - ``cont``     (w2, d_before): continuation count ``N1+(·,w2)``
    - ``types``    1 row: total distinct bigram types ``N1+(··)``

    ``min_count`` prunes the bigram tail BEFORE the derived dims so all
    four stay broadcastable at web scale; the continuation distribution
    is then computed over the kept types — document the cutoff with the
    run config, as for :func:`train_word_lm`.

    Round 15: the corpus aggregates ONCE into the persisted
    headed-pair dim (:func:`_headed_pair_counts`); the bigram table is
    its both-tokens-valid slice (identical groups and counts), so the
    scorer's three broadcast-size decisions and the model joins all
    read the cached dim instead of re-running the tokenize+agg chain
    per action."""
    from drugbankner_spark.caching import shared_persist

    pc = shared_persist(_headed_pair_counts(docs, text_col))
    big = pc.filter(
        F.col("w1").isNotNull()
        & (F.col("w1") != "") & (F.col("w2") != "")
    ).select("w1", "w2", F.col("_n").alias("n12"))
    if min_count > 1:
        big = big.filter(F.col("n12") >= min_count)
    dims = _kn_dims(big)
    dims["_pair_counts"] = pc
    return dims


def _kn_dims(big: DataFrame) -> dict:
    """Derive the three KN side dims from a (w1, w2, n12) bigram table
    — shared by training and shard merging."""
    ctx = big.groupBy("w1").agg(
        F.sum("n12").alias("n1"),
        F.count(F.lit(1)).alias("d_after"),
    )
    cont = big.groupBy("w2").agg(F.count(F.lit(1)).alias("d_before"))
    types = big.agg(F.count(F.lit(1)).cast("double").alias("n_types"))
    return {"bigrams": big, "ctx": ctx, "cont": cont, "types": types}


def merge_kn_models(*models: dict) -> dict:
    """Merge KN models trained on disjoint corpus shards into the
    model of the union — bigram counts are sufficient statistics
    (they ADD), and every derived dim recomputes from the merged
    table, so ``merge(train(A), train(B)) ≡ train(A ∪ B)`` exactly
    (tested). This is the 100 TB training story: shard the corpus,
    train partials map-side, merge with one (w1, w2) agg — the same
    mergeable-partial shape as the sketches and streaming stats.
    (Only valid when the shard models were trained with min_count=1;
    a pruned shard has already discarded counts the union needs.)"""
    from functools import reduce

    big = (
        reduce(DataFrame.unionByName, [m["bigrams"] for m in models])
        .groupBy("w1", "w2")
        .agg(F.sum("n12").alias("n12"))
    )
    return _kn_dims(big)


def merge_word_lm_models(*models: dict) -> dict:
    """Shard-merge for the stupid-backoff model: unigram, bigram, and
    total counts all add (same sufficient-statistic argument as
    :func:`merge_kn_models`, same min_count=1 caveat)."""
    from functools import reduce

    big = (
        reduce(DataFrame.unionByName, [m["bigrams"] for m in models])
        .groupBy("w1", "w2")
        .agg(F.sum("n12").alias("n12"))
    )
    uni = (
        reduce(DataFrame.unionByName, [m["unigrams"] for m in models])
        .groupBy("w")
        .agg(F.sum("n1").alias("n1"))
    )
    total = uni.agg(F.sum("n1").cast("double").alias("total"))
    return {"bigrams": big, "unigrams": uni, "total": total}


def kn_lm_logprob(
    docs: DataFrame,
    model: dict,
    text_col: str = "text",
    id_col: str = "doc_id",
    discount: float = 0.75,
) -> DataFrame:
    """Per-document mean log-probability and perplexity under
    interpolated Kneser–Ney:

    ``P(w2|w1) = max(n12 − D, 0)/n1 + (D·N1+(w1,·)/n1) · Pcont(w2)``

    with ``Pcont(w2) = N1+(·,w2)/N1+(··)``; an unseen context ``w1``
    backs off entirely to ``Pcont(w2)``, and a word never seen as a
    continuation floors at ``0.5/N1+(··)`` (the same 0.5 pseudo-count
    convention as the stupid-backoff floor, so the score is finite on
    fully out-of-domain text). Every term is an exact integer ratio —
    deterministic across partitionings; only the final avg-of-logs is
    float-summed, rounded to 6dp like the other LM faces.

    Plan shape = one bigram explode + three model-dim joins (broadcast
    when a count-agg confirms they fit) + one per-doc agg: the corpus
    shuffles (id, w1, w2) pairs once and text never moves. Output:
    (id, n_bigrams, mean_logprob, ppl) with ``ppl = exp(−mean)``
    rounded to 3dp."""
    occ = _bigram_pairs(docs, text_col, [id_col])
    big = model["bigrams"].select(
        "w1", "w2", F.col("n12").cast("double").alias("_n12")
    )
    ctx = model["ctx"].select(
        "w1",
        F.col("n1").cast("double").alias("_n1"),
        F.col("d_after").cast("double").alias("_d_after"),
    )
    cont = model["cont"].select(
        "w2", F.col("d_before").cast("double").alias("_d_before")
    )
    d = F.lit(float(discount))
    pcont = F.coalesce(F.col("_d_before"), F.lit(0.5)) / F.col("n_types")
    p_seen_ctx = (
        F.greatest(F.coalesce(F.col("_n12"), F.lit(0.0)) - d, F.lit(0.0))
        / F.col("_n1")
        + (d * F.col("_d_after") / F.col("_n1")) * pcont
    )
    # one broadcast-size decision for all three dims (round 15): the
    # persisted pair dim bounds each derived dim's rows — see
    # word_lm_logprob for the rationale; decision-only, never rows
    if "_pair_counts" in model:
        fits = model["_pair_counts"].count() <= BROADCAST_MAX_ROWS
        _dim = (lambda d: F.broadcast(d)) if fits else (lambda d: d)
    else:
        _dim = maybe_broadcast
    scored = (
        occ.join(_dim(big), ["w1", "w2"], "left")
        .join(_dim(ctx), "w1", "left")
        .join(_dim(cont), "w2", "left")
        .crossJoin(F.broadcast(model["types"]))  # always exactly 1 row
        .select(
            F.col(id_col),
            F.log(
                F.when(F.col("_n1").isNotNull(), p_seen_ctx)
                .otherwise(pcont)
            ).alias("_lp"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg("_lp"), 6).alias("mean_logprob"),
        F.round(F.exp(-F.avg("_lp")), 3).alias("ppl"),
    )


def _aho_corasick(terms: list[str]):
    """Build an Aho-Corasick automaton: goto/fail/output tables over
    the term set. Pure dicts — picklable into an Arrow kernel closure."""
    goto: list[dict[str, int]] = [{}]
    out: list[list[str]] = [[]]
    for term in terms:
        s = 0
        for ch in term:
            nxt = goto[s].get(ch)
            if nxt is None:
                goto.append({})
                out.append([])
                nxt = len(goto) - 1
                goto[s][ch] = nxt
            s = nxt
        out[s].append(term)
    fail = [0] * len(goto)
    from collections import deque

    queue = deque()
    for s in goto[0].values():
        queue.append(s)
    while queue:
        r = queue.popleft()
        for ch, s in goto[r].items():
            queue.append(s)
            f = fail[r]
            while f and ch not in goto[f]:
                f = fail[f]
            fail[s] = goto[f].get(ch, 0) if goto[f].get(ch, 0) != s else 0
            out[s] = out[s] + out[fail[s]]
    return goto, fail, out


def tag_dictionary_terms(
    docs: DataFrame,
    terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Dictionary tagging (FlashText/Aho-Corasick): EVERY occurrence of
    every dictionary term as (id, term, start) with 0-based character
    offsets, overlaps included — the scale answer to "find these 50k
    phrases in 100 TB of text". One automaton pass per document
    (O(text + matches), independent of dictionary size) inside an
    Arrow-batched kernel; the automaton builds once per executor
    process from the broadcast term list. This is dictionary NER — the
    deterministic sibling of the model-NER UDTF in operators/ner.py
    (reference NER.py matches against a fixed vocabulary too, via the
    scispaCy linker)."""
    cleaned = [t for t in terms if t]
    if not cleaned:
        raise ValueError("tag_dictionary_terms: terms must be non-empty")

    out_schema = T.StructType([
        docs.schema[id_col],
        T.StructField("term", T.StringType()),
        T.StructField("start", T.LongType()),
    ])

    def run(batches):
        import pandas as pd

        goto, fail, out = _aho_corasick(cleaned)
        for pdf in batches:
            rows = []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                s = 0
                for i, ch in enumerate(text or ""):
                    while s and ch not in goto[s]:
                        s = fail[s]
                    s = goto[s].get(ch, 0)
                    for term in out[s]:
                        rows.append((did, term, i - len(term) + 1))
            yield pd.DataFrame(rows, columns=[id_col, "term", "start"])

    return docs.select(id_col, text_col).mapInPandas(run, out_schema)


def hashed_tf_vectors(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 64,
    kernel: str = "md5",
) -> DataFrame:
    """Model-free text embeddings by feature hashing ("hashing trick"):
    token → stable 32-bit hash → bucket in [0, dim); the L2-normalized
    bucket-count vector is a fixed-width representation every E2
    similarity operator (cosine_topk, embedding_near_dup_pairs, the
    LSH/IVF indexes) consumes directly — text near-dup retrieval with
    ZERO model dependencies. Output: (id, vector: array<double>[dim]).

    Plan: explode → ONE (id, bucket) hash agg with map-side combine →
    ONE per-id agg packing the sparse entries; the dense vector is a
    per-row transform over a map — dim never fans rows out. The same
    md5-derived hash as the dedup family (``kernel="xxhash64"`` for the
    cheap production kernel; md5 keeps DuckDB oracles exact)."""
    from drugbankner_spark.operators.dedup import content_hash32

    toks = df.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), " ")).alias("tok"),
    ).filter(F.col("tok") != "")
    tf = (
        toks.select(
            F.col(id_col),
            F.pmod(content_hash32(F.col("tok"), kernel), F.lit(dim)).alias(
                "bucket"
            ),
        )
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    packed = tf.groupBy(id_col).agg(
        F.map_from_entries(
            F.collect_list(F.struct("bucket", "n"))
        ).alias("_m"),
        F.sqrt(F.sum(F.col("n") * F.col("n"))).alias("_l2"),
    )
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.coalesce(F.col("_m")[i], F.lit(0)) / F.col("_l2"),
    )
    return packed.select(F.col(id_col), dense.alias("vector"))


def hashed_tf_entries(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 64,
    kernel: str = "md5",
) -> DataFrame:
    """Sparse LONG-format view of ``hashed_tf_vectors`` — (id, pos,
    value) for the NONZERO buckets only, values rounded to 6 — the
    oracle-stable shape (array columns don't value-hash identically
    across engines; scalar rows do)."""
    vec = hashed_tf_vectors(df, text_col, id_col, dim, kernel)
    return (
        vec.select(F.col(id_col), F.posexplode("vector").alias("pos", "v"))
        .filter(F.col("v") > 0)
        .select(F.col(id_col), "pos", F.round("v", 6).alias("value"))
    )


# ---------------------------------------------------------------------------
# Character n-gram language model (round 5) — the CCNet-style perplexity
# quality signal, trainable and scorable entirely as DataFrame plans.
# ---------------------------------------------------------------------------

def _char_ngrams(df: DataFrame, text_col: str, id_col: str, n: int):
    """One row per character n-gram occurrence: (id, gram). The
    lowercased text is projected ONCE and the per-position substr runs
    against the column reference — an inline lower() would be
    re-evaluated per character position, O(len²) per document
    (round-6 lambda-capture audit)."""
    from drugbankner_spark.tables import spread_input

    # the explode multiplies rows ~|text|×: spread a one-row-group
    # input FIRST so the per-character work runs at full core count
    # (guide §2.5 input-skew repair; no-op when the scan already splits)
    pre = spread_input(df.select(id_col, text_col)).select(
        F.col(id_col), F.lower(F.col(text_col)).alias("_lt")
    )
    t = F.col("_lt")
    # positions explode first, substring as a TOP-LEVEL projection:
    # higher-order lambdas evaluate interpreted (outside whole-stage
    # codegen), so the transform(substr) form pays per-element closure
    # overhead — measured ~15% slower at sf0.1 volume
    return pre.select(
        F.col(id_col), "_lt",
        F.explode(
            F.sequence(F.lit(1), F.greatest(
                F.length(t) - (n - 1), F.lit(0)))
        ).alias("_i"),
    ).select(
        F.col(id_col),
        F.expr(f"substring(_lt, _i, {n})").alias("gram"),
    ).filter(F.length("gram") == n)


def _char_ngram_pairs(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Fused bigram+trigram occurrence extraction (round 15): one
    position explode yielding (id, g2, g3) — ``g2`` the length-2 gram
    at each bigram position (1..len-1, exactly ``_char_ngrams(n=2)``),
    ``g3`` the trigram at the same start (shorter than 3 at the last
    position; filter ``length(g3) = 3`` to recover exactly
    ``_char_ngrams(n=3)``). The char-LM self-perplexity query derives
    training gram counts, context counts AND scoring occurrences from
    this ONE persisted pass instead of two full corpus explodes."""
    from drugbankner_spark.tables import spread_input

    pre = spread_input(df.select(id_col, text_col)).select(
        F.col(id_col), F.lower(F.col(text_col)).alias("_lt")
    )
    t = F.col("_lt")
    return pre.select(
        F.col(id_col), "_lt",
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.length(t) - 1, F.lit(0)))
        ).alias("_i"),
    ).select(
        F.col(id_col),
        F.expr("substring(_lt, _i, 2)").alias("g2"),
        F.expr("substring(_lt, _i, 3)").alias("g3"),
    ).filter(F.length("g2") == 2)


def train_char_lm(
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    order: int = 3,
    grams: DataFrame | None = None,
    ctx_grams: DataFrame | None = None,
) -> DataFrame:
    """Count table for an order-``n`` character LM: one row per distinct
    n-gram with its corpus count plus the (n-1)-gram context count —
    everything ``char_lm_logprob`` needs for P(c | context) in a single
    broadcast-able dim. Two map-side-combinable aggs over one corpus
    scan each; the table size is bounded by the charset^order, not the
    corpus (lowercased text → typically ≪ 1M rows even at 100 TB).
    Output: (gram, n_gram, n_context)."""
    # ``grams`` / ``ctx_grams``: caller-supplied (…, gram) occurrence
    # tables — pass slices of a persisted fused extraction
    # (:func:`_char_ngram_pairs`) when the SAME corpus is also being
    # scored (self-perplexity), saving full scan+explodes
    g = grams if grams is not None else _char_ngrams(
        corpus, text_col, id_col, order
    )
    grams = g.groupBy("gram").agg(F.count(F.lit(1)).alias("n_gram"))
    c = ctx_grams if ctx_grams is not None else _char_ngrams(
        corpus, text_col, id_col, order - 1
    )
    ctx = c.groupBy(
        F.col("gram").alias("context")
    ).agg(F.count(F.lit(1)).alias("n_context"))
    return (
        grams.withColumn("context", F.substring("gram", 1, order - 1))
        .join(ctx, "context")
        .select("gram", "n_gram", "n_context")
    )


def char_lm_logprob(
    docs: DataFrame,
    model: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    order: int = 3,
    k_smooth: float = 0.1,
    charset_size: int = 64,
    occ: DataFrame | None = None,
) -> DataFrame:
    """Per-document mean character log-probability under the trained
    model — the CCNet/KenLM quality signal (low = gibberish relative to
    the training corpus; high = in-domain). Add-k smoothed:
    P(c|ctx) = (n_gram + k) / (n_context + k·|charset|), unseen grams
    fall back to the same formula with n=0. Scoring is ONE broadcast
    join from occurrences to the bounded model dim plus a per-doc agg —
    the corpus shuffles only (id, gram) pairs, never text.
    Output: (id, n_grams, mean_logprob)."""
    if occ is None:
        occ = _char_ngrams(docs, text_col, id_col, order)
    denom_k = F.lit(k_smooth * charset_size)
    # log once per DISTINCT gram (the bounded model dim), not once per
    # occurrence — same doubles, ~50× fewer ln() calls at corpus scale;
    # unseen grams take the constant n=0 fallback
    lp_model = model.select(
        "gram",
        F.log(
            (F.col("n_gram") + F.lit(k_smooth))
            / (F.col("n_context") + denom_k)
        ).alias("_lp"),
    )
    unseen_lp = F.log(F.lit(k_smooth) / denom_k)
    # charset^order bounds the model in normal use; the size guard
    # still checks before hinting (a pathological charset at high
    # order falls back to an AQE-chosen join)
    scored = (
        occ.join(maybe_broadcast(lp_model), "gram", "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("_lp"), unseen_lp).alias("_lp"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.round(F.avg("_lp"), 6).alias("mean_logprob"),
    )


def compression_ratio(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    level: int = 6,
) -> DataFrame:
    """zlib compression ratio per document — the classic cheap
    redundancy signal (highly-compressible text is boilerplate,
    templated spam, or repetition; near-incompressible text is often
    binary junk or gibberish). Used alongside the Gopher rules and the
    char-LM perplexity as a third independent quality axis.

    Output: (id, n_bytes, n_compressed, compression_ratio) with
    ratio = compressed/raw (lower = more redundant). Runs as ONE
    Arrow-batched mapInPandas pass — zlib is C-speed and the kernel
    never shuffles; per-batch cost is linear in batch bytes, so the
    operator scans at ingest speed at any corpus size. Deterministic
    for a fixed zlib level, so thresholds are stable across runs."""
    import zlib

    import pandas as pd

    out_schema = (
        f"{id_col} long, n_bytes int, n_compressed int, "
        "compression_ratio double"
    )

    def kernel(batches):
        for pdf in batches:
            raw = pdf[text_col].fillna("").str.encode("utf-8")
            nb = raw.str.len().astype("int32")
            nc = raw.map(lambda b: len(zlib.compress(b, level))) \
                .astype("int32")
            yield pd.DataFrame({
                id_col: pdf[id_col],
                "n_bytes": nb,
                "n_compressed": nc,
                "compression_ratio": (
                    nc / nb.where(nb > 0, 1)
                ).round(6),
            })

    return docs.select(id_col, text_col).mapInPandas(kernel, out_schema)


def ngram_topk(
    docs: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
    n: int = 3,
    k: int = 10,
) -> DataFrame:
    """Top-k most frequent token n-grams per group — the corpus
    boilerplate probe: the head of this list IS the shared template
    text (cookie banners, license headers) that near-dup thresholds
    miss because the surrounding document differs. Feed the result to
    a substring-removal pass (corpus.crossdoc_span_dedup targets the
    same phenomenon at span granularity).

    Exact counts via one map-side-combinable groupBy over exploded
    n-grams, then a TWO-PHASE per-group top-k over COUNTS
    (``scale.sharded_topk``, round 12): the count table holds one row
    per (group, distinct gram), and a big language's vocabulary is
    corpus-scale — a single window partitioned by group would land
    all of it in one task (AQE cannot split skewed windows). The
    sharded form bounds every window partition at shards×k rows;
    ties pinned by gram text, so output is identical to the
    single-window form. At 100 TB the count agg is the only
    corpus-sized shuffle, and it shuffles (group, gram, partial
    count), never documents."""
    from drugbankner_spark.operators.scale import sharded_topk

    grams = docs.select(
        F.col(group_col), tokens(F.col(text_col)).alias("_toks")
    ).select(
        F.col(group_col),
        F.explode(_word_ngrams(F.col("_toks"), n)).alias("gram"),
    )
    counts = grams.groupBy(group_col, "gram").agg(
        F.count(F.lit(1)).alias("n_occurrences")
    )
    return sharded_topk(
        counts, [group_col], [F.desc("n_occurrences"), F.asc("gram")], k
    )


def _spark_round6(x: float) -> float:
    """Bitwise replica of Spark's ``round(double, 6)`` (HALF_UP over
    ``BigDecimal.valueOf(d)``, i.e. the shortest-roundtrip decimal
    string — which is exactly Python's ``repr(float)``). NaN/Infinity
    pass through unchanged, as Spark's RoundBase returns non-finite
    inputs as-is."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    if math.isnan(x) or math.isinf(x):
        return x
    return float(
        Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP)
    )


def gopher_repetition_signals(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_ns: tuple = (2, 3, 4),
    dup_ns: tuple = (5, 6, 7, 8, 9, 10),
    key: str = "gram",
) -> DataFrame:
    """The Gopher §A1.1 repetition signals — vectorized kernel.

    Same contract and bit-identical output as
    :func:`_gopher_repetition_signals_hof` (the previous JVM
    higher-order-function form, kept as the in-repo reference twin —
    its docstring holds the full signal definitions): per document,
    dup-line fractions plus top/dup n-gram char-mass fractions for
    n ∈ top_ns ∪ dup_ns, fractions 6dp.

    WHY a Python kernel beats the JVM here (round 15, guide §4.2):
    Catalyst evaluates higher-order-function lambdas INTERPRETED
    (CodegenFallback) — the r12 constant-factor audit already found
    per-element interpreter node count to be the cost driver, and the
    best JVM form still burned ~180 core-seconds at sf0.1 (5 000 docs,
    1.5 MB text — ~120 µs per input byte). This kernel hands each
    Arrow batch to numpy: token ids are interned per document (exact
    counting — equality of id windows ⟺ equality of gram text, the
    same argument the slice-key form made), all n windows of a
    document are counted with one ``np.unique`` over a contiguous id
    matrix, and char masses come off a cumulative token-length array.
    ~50× less CPU per byte, measured (see OPTIMIZATION_r15.md).

    Exactness: every numerator/denominator is integer (int64); the
    only floats are the final IEEE divisions (identical in numpy and
    the JVM) and Spark's ``round(x, 6)``, replicated bitwise by
    :func:`_spark_round6`. 0-denominator documents (0-char text)
    replicate the engine's division semantics: DIVIDE_BY_ZERO error
    under ANSI (the session default — verified against the HOF twin),
    NULL→coalesce→0.0 otherwise. Parity with the HOF twin is pinned
    bitwise in tests on real + adversarial fixtures.

    ``key``: accepted for compatibility ("gram" | "hash"). Exact
    interned-id counting is both cheaper and collision-free, so both
    forms now run the identical kernel (the xxhash64 path existed to
    avoid shuffling gram text — this kernel shuffles nothing at all).
    """
    if key not in ("gram", "hash"):
        raise ValueError(f"unknown gram key form: {key!r}")
    all_ns = list(top_ns) + list(dup_ns)
    id_type = docs.schema[id_col].dataType
    out_schema = T.StructType(
        [T.StructField(id_col, id_type)]
        + [T.StructField("n_lines", T.LongType())]
        + [
            T.StructField(c, T.DoubleType())
            for c in ["dup_line_frac", "dup_line_char_frac"]
            + [f"top{n}gram_char_frac" for n in top_ns]
            + [f"dup{n}gram_char_frac" for n in dup_ns]
        ]
    )
    n_frac_cols = 2 + len(all_ns)

    n_top = len(top_ns)
    ansi = (
        str(docs.sparkSession.conf.get("spark.sql.ansi.enabled", "false"))
        .lower() == "true"
    )

    def kernel(batches):
        import numpy as np
        import pyarrow as pa

        swv = np.lib.stride_tricks.sliding_window_view
        for batch in batches:
            cols = {n: i for i, n in enumerate(batch.schema.names)}
            id_arr = batch.column(cols[id_col])
            texts = batch.column(cols[text_col]).to_pylist()
            n_rows = len(texts)
            n_lines_out = np.zeros(n_rows, dtype="int64")
            # NULL text propagates like the JVM form: n_lines and
            # dup_line_frac NULL, every coalesce-guarded fraction 0.0
            null_mask = np.zeros(n_rows, dtype=bool)
            # integer numerators/denominators per row; fractions are
            # formed in ONE vectorized IEEE division per column below
            num = np.zeros((n_rows, n_frac_cols), dtype="int64")
            den = np.zeros((n_rows, n_frac_cols), dtype="int64")
            for r in range(n_rows):
                t = texts[r]
                if t is None:
                    null_mask[r] = True
                    # JVM twin: every coalesce-guarded fraction is 0.0
                    # on NULL text (0/1 here); col 0 is masked NULL
                    den[r, :] = 1
                    continue
                lines = t.split("\n")
                n_lines_out[r] = len(lines)
                # line signals: dis = #distinct, dup = Σ_{c≥2} c·len,
                # tot = Σ c·len  (a dict beats np.unique on short
                # string lists — no array-of-object sort)
                cnt: dict = {}
                for ln in lines:
                    cnt[ln] = cnt.get(ln, 0) + 1
                dup = tot = 0
                for ln, c in cnt.items():
                    mass = c * len(ln)
                    tot += mass
                    if c >= 2:
                        dup += mass
                num[r, 0] = len(lines) - len(cnt)
                den[r, 0] = len(lines)
                num[r, 1] = dup
                den[r, 1] = tot
                # token windows: intern ids, one unique per (doc, n);
                # equality of id windows ⟺ equality of gram text
                toks = t.split(" ")
                sz = len(toks)
                intern: dict = {}
                tid = np.empty(sz, dtype="int64")
                for i, w in enumerate(toks):
                    v = intern.get(w, -1)
                    if v < 0:
                        v = len(intern)
                        intern[w] = v
                    tid[i] = v
                # cumulative (len+1): window chars = cl[i+n]-cl[i]-1
                cl = np.zeros(sz + 1, dtype="int64")
                np.cumsum(
                    np.fromiter(
                        (len(w) + 1 for w in toks), dtype="int64",
                        count=sz,
                    ),
                    out=cl[1:],
                )
                nc = len(t)
                for j, n in enumerate(all_ns):
                    den[r, 2 + j] = nc
                    if sz < n:
                        continue
                    w = swv(tid, n)
                    # contiguous rows → one void view → 1-D unique
                    keys = np.ascontiguousarray(w).view(
                        [("", "int64")] * n
                    ).ravel()
                    _, first, counts = np.unique(
                        keys, return_index=True, return_counts=True
                    )
                    lens = cl[first + n] - cl[first] - 1
                    mass = counts * lens
                    if j < n_top:  # top{n}: heaviest gram's mass
                        num[r, 2 + j] = mass.max()
                    else:          # dup{n}: Σ mass of count≥2 grams
                        num[r, 2 + j] = int(mass[counts >= 2].sum())
            zero = (den == 0)
            if zero.any():
                # the engine's division semantics, replicated: ANSI
                # errors (exactly what the HOF twin does on a 0-char
                # doc), non-ANSI yields NULL → coalesce → 0.0
                if ansi:
                    raise ArithmeticError(
                        "[DIVIDE_BY_ZERO] Division by zero (0-char "
                        "document in gopher_repetition_signals; the "
                        "session runs spark.sql.ansi.enabled=true)"
                    )
                den = np.where(zero, 1, den)
                num = np.where(zero, 0, num)
            frac = num / den
            out = [id_arr, pa.array(n_lines_out, mask=null_mask)]
            for c_i in range(n_frac_cols):
                rounded = np.fromiter(
                    (_spark_round6(v) for v in frac[:, c_i]),
                    dtype="float64", count=n_rows,
                )
                # dup_line_frac is the one un-coalesced output: NULL
                # text → NULL, like the JVM form. NaN elsewhere stays
                # a VALUE (pa.array from numpy keeps NaN as NaN).
                mask = null_mask if c_i == 0 else None
                out.append(pa.array(rounded, mask=mask))
            yield pa.RecordBatch.from_arrays(
                out, names=list(out_schema.names)
            )

    from drugbankner_spark.tables import spread_input

    # per-row-heavy single pass: repair one-row-group input parallelism
    # (guide §2.5) so the kernel runs at full core count, never 1 task
    return spread_input(docs.select(id_col, text_col)).mapInArrow(
        kernel, out_schema
    )


def _gopher_repetition_signals_hof(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_ns: tuple = (2, 3, 4),
    dup_ns: tuple = (5, 6, 7, 8, 9, 10),
    key: str = "gram",
) -> DataFrame:
    """The Gopher §A1.1 REPETITION signals (Rae et al. 2021) that
    :func:`gopher_quality_filter` doesn't cover — per document:

    - ``dup_line_frac``: duplicated lines / total lines
    - ``dup_line_char_frac``: chars inside lines occurring ≥ 2 times
      (all occurrences) / total line chars
    - ``top{n}gram_char_frac`` for n ∈ ``top_ns``: max over n-grams of
      ``count · len(gram)`` / total chars — the mass of the single
      heaviest n-gram (max of the product, so no tiebreak needed)
    - ``dup{n}gram_char_frac`` for n ∈ ``dup_ns``: Σ over n-grams with
      count ≥ 2 of ``count · len(gram)`` / total chars — an
      overlap-agnostic upper bound (the published rule de-overlaps;
      the convention here is deterministic and engine-replicable, and
      thresholds calibrate the same way)

    Fractions are 6dp; documents shorter than n contribute 0.

    ZERO SHUFFLE (round 10, VERDICT r09 next #2): every signal is a
    function of ONE document, so the whole set is per-row array work —
    ``array_sort`` each n-gram window array, then a run-length
    ``aggregate`` scan collecting (max run·len, Σ_{run≥2} run·len,
    #runs, Σ run·len) in exact BIGINT arithmetic. The previous form
    exploded ~9 n-gram sets per token through a (doc, n, gram) shuffle
    and went superlinear at sf3 (slope 4.4 per 3×, 1.16 GB peak stage
    shuffle write — BENCH_r09); this form moves no gram anywhere and
    scales embarrassingly-parallel with the scan.

    Neither form ever BUILDS the n-gram strings (profiled at sf0.1:
    string construction via slice+array_join was 8.8 s of the old
    form's 8.7–12 s — more than sort+scan combined). Windows are
    keyed per position i directly off per-token helper arrays:

    - ``key="gram"`` (default, the oracle-replicable form): the key
      IS the token slice ``slice(tokens, i, n)`` — equality of slices
      ⟺ equality of gram text (tokens cannot contain the separator),
      so results are TEXT-EXACT; gram length = Σ token lens + (n−1)
      off a (len+1) helper array. ~6 s at sf0.1 vs 8.7 s for the old
      shuffle form.
    - ``key="hash"`` (production): the key is
      ``xxhash64(token_hash[i..i+n-1])`` — 8-byte comparisons, no
      string bytes touched at all (~4 s at sf0.1). A 64-bit collision
      inside one document (~hundreds of grams) is ~2⁻⁵⁰ — the same
      trade every MinHash kernel in dedup.py makes. Identical outputs
      to the gram form are pinned in tests.

    Constant-factor audit (round 12, VERDICT r11 next #4): three
    reformulations were profiled at sf0.1 against this form —
    (v2) run-boundary arrays via filter(sequence)+zip_with with
    primitive-long aggregate states; (v3) an index-driven aggregate
    over sequence(1, size) comparing neighbors via element_at so the
    key never enters the state struct; (v4) v2 with the sorted array
    staged in its own projection so CollapseProject can't re-inline
    the sort. All three LOST (gram: 5.6 s here vs 8.6 s v3 / 5.9 s
    v4; hash: 3.6 vs 6.2 / 4.1): higher-order-function lambdas are
    interpreted (CodegenFallback), so per-element INTERPRETER NODE
    COUNT — not state-struct width — is the constant factor, and the
    single-pass scan with one modest merge lambda minimizes it. The
    10.9 s BENCH_r11 reading was shared-VM load on a ~5.6 s query
    (calibration_sec flagged the round's +10-40% uniform drift).
    Keep this form; do not re-derive without re-profiling."""
    if key not in ("gram", "hash"):
        raise ValueError(f"unknown gram key form: {key!r}")
    t = F.col(text_col)
    all_ns = list(top_ns) + list(dup_ns)

    def _scan(elems, init_key, lines: bool = False):
        """Run-length scan over a sorted array of struct(k, l): returns
        struct(top, dup) = (max run·l, Σ_{run≥2} run·l) — plus
        (dis, tot) = (#distinct, Σ run·l) when ``lines`` — all BIGINT,
        one pass, no shuffle. The gram scans skip dis/tot: the state
        struct is rebuilt per element, so two fewer fields is real
        constant-factor savings across ~9·L elements per doc."""
        zero = F.lit(0).cast("long")
        fields = [
            init_key.alias("pk"),
            F.lit(-1).cast("long").alias("pl"),
            zero.alias("run"), zero.alias("top"), zero.alias("dup"),
        ] + ([zero.alias("dis"), zero.alias("tot")] if lines else [])
        init = F.struct(*fields)

        def _close(a):
            # finalize the open run (run=0 at init contributes 0)
            mass = a["run"] * F.greatest(a["pl"], F.lit(0).cast("long"))
            out = [
                F.greatest(a["top"], mass),
                a["dup"] + F.when(a["run"] >= 2, mass).otherwise(zero),
            ]
            if lines:
                out += [
                    a["dis"] + F.when(a["run"] >= 1,
                                      F.lit(1).cast("long"))
                    .otherwise(zero),
                    a["tot"] + mass,
                ]
            return out

        def merge(a, x):
            closed = _close(a)
            keep = [
                a["pk"].alias("pk"), a["pl"].alias("pl"),
                (a["run"] + 1).alias("run"), a["top"].alias("top"),
                a["dup"].alias("dup"),
            ] + ([a["dis"].alias("dis"), a["tot"].alias("tot")]
                 if lines else [])
            names = ["top", "dup"] + (["dis", "tot"] if lines else [])
            new = [
                x["k"].alias("pk"), x["l"].alias("pl"),
                F.lit(1).cast("long").alias("run"),
            ] + [c.alias(nm) for c, nm in zip(closed, names)]
            return F.when(
                (x["k"] == a["pk"]) & (x["l"] == a["pl"]),
                F.struct(*keep),
            ).otherwise(F.struct(*new))

        def finish(a):
            names = ["top", "dup"] + (["dis", "tot"] if lines else [])
            return F.struct(*[
                c.alias(nm) for c, nm in zip(_close(a), names)
            ])

        return F.aggregate(F.array_sort(elems), init, merge, finish)

    tk = tokens(t)
    ln = F.split(t, "\n")
    nc = F.length(t)
    line_scan = _scan(
        F.transform(ln, lambda x: F.struct(
            x.alias("k"), F.length(x).cast("long").alias("l"))),
        F.lit(""),
        lines=True,
    )
    # stage 1: per-token helper arrays, built ONCE (not once per n) —
    # token (len+1) for window lengths, token xxhash64 for hash keys.
    helper_cols = [
        F.transform(tk, lambda w: (F.length(w) + 1).cast("long"))
        .alias("_tl"),
        F.size(tk).alias("_sz"),
    ]
    if key == "hash":
        helper_cols.append(
            F.transform(tk, lambda w: F.xxhash64(w)).alias("_th")
        )
        gram_init = F.lit(0).cast("long")
        empty_t = "array<struct<k:bigint,l:bigint>>"
    else:
        helper_cols.append(tk.alias("_tk"))
        gram_init = F.array().cast("array<string>")
        empty_t = "array<struct<k:array<string>,l:bigint>>"
    stage1 = docs.select(
        F.col(id_col),
        nc.alias("_nc"),
        F.size(ln).cast("long").alias("n_lines"),
        line_scan.alias("_lsc"),
        *helper_cols,
    )

    def _window_elems(n: int):
        """struct(k, l) per window start, straight off the helper
        arrays — the gram string is never materialized. l = window
        char length = Σ (token len + 1) − 1."""
        def mk(i):
            length = (
                sum(
                    [F.element_at(F.col("_tl"), i + j)
                     for j in range(1, n)],
                    F.element_at(F.col("_tl"), i),
                ) - 1
            )
            if key == "hash":
                k = F.xxhash64(*[
                    F.element_at(F.col("_th"), i + j) for j in range(n)
                ])
            else:
                k = F.slice(F.col("_tk"), i, n)
            return F.struct(k.alias("k"), length.alias("l"))

        return F.when(
            F.col("_sz") >= n,
            F.transform(
                F.sequence(F.lit(1), F.col("_sz") - (n - 1)), mk
            ),
        ).otherwise(F.array().cast(empty_t))

    pre = stage1.select(
        F.col(id_col), "_nc", "n_lines", "_lsc",
        *[_scan(_window_elems(n), gram_init).alias(f"_g{n}")
          for n in all_ns],
    )
    frac6 = lambda num, den: F.round(  # noqa: E731
        F.coalesce(num / den, F.lit(0.0)), 6
    )
    return pre.select(
        id_col,
        "n_lines",
        F.round(
            (F.col("n_lines") - F.col("_lsc.dis")) / F.col("n_lines"), 6
        ).alias("dup_line_frac"),
        frac6(F.col("_lsc.dup"), F.col("_lsc.tot"))
        .alias("dup_line_char_frac"),
        *[frac6(F.col(f"_g{n}.top"), F.col("_nc"))
          .alias(f"top{n}gram_char_frac") for n in top_ns],
        *[frac6(F.col(f"_g{n}.dup"), F.col("_nc"))
          .alias(f"dup{n}gram_char_frac") for n in dup_ns],
    )


def skipgram_counts(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 2,
) -> DataFrame:
    """word2vec training-pair generation (Mikolov et al. 2013):
    corpus-wide (center, context, n) co-occurrence counts within a
    symmetric ``window`` — the input a skip-gram trainer consumes
    (the walk corpus from ``graph.random_walks`` feeds the same
    shape). Pure fixed window, no dynamic shrinking (that's an RNG
    trick; deterministic engines don't).

    One nested-transform expression builds every in-window pair
    per document (no self-pairs), ONE explode ships them, one count
    agg — a single (center, context)-keyed shuffle for the whole
    corpus."""
    pre = docs.select(F.split(F.col(text_col), " ").alias("_tk"))
    tk = F.col("_tk")
    n = F.size(tk)

    def per_center(i):
        ctx = F.filter(
            F.sequence(
                F.greatest(i - window, F.lit(1)),
                F.least(i + window, n),
            ),
            lambda j: j != i,
        )
        return F.transform(
            ctx,
            lambda j: F.struct(
                F.element_at(tk, i).alias("center"),
                F.element_at(tk, j).alias("context"),
            ),
        )

    pairs = F.flatten(F.transform(F.sequence(F.lit(1), n), per_center))
    return (
        pre.select(F.explode(pairs).alias("_p"))
        .select("_p.center", "_p.context")
        .filter((F.col("center") != "") & (F.col("context") != ""))
        .groupBy("center", "context")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def char_entropy(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document Shannon entropy of the character distribution (in
    nats) — the cheap gibberish/binary-junk detector (near-zero for
    'aaaa…', ~ln(alphabet) for uniform noise; real prose sits in a
    narrow band, so both tails are filterable). One char explode + a
    (doc, char) count agg + a per-doc rollup; 6dp. Output: (id,
    n_chars, n_distinct_chars, entropy)."""
    counts = (
        docs.select(
            F.col(id_col),
            F.explode(F.split(F.col(text_col), "")).alias("ch"),
        )
        .filter(F.col("ch") != "")
        .groupBy(id_col, "ch")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy(id_col)
    probs = counts.withColumn("_tot", F.sum("c").over(w))
    p = F.col("c") / F.col("_tot")
    return probs.groupBy(id_col).agg(
        F.max("_tot").alias("n_chars"),
        F.count(F.lit(1)).alias("n_distinct_chars"),
        F.round(-F.sum(p * F.log(p)), 6).alias("entropy"),
    )


def zipf_slope(
    docs: DataFrame,
    text_col: str = "text",
    group_col: str | None = None,
) -> DataFrame:
    """Zipf rank-frequency fit: OLS slope of ln(freq) on ln(rank) over
    the corpus term distribution (natural text ≈ −1; templated or
    synthetic corpora flatten toward 0 — a corpus-level authenticity
    signal next to the per-doc entropy/repetition ones). Rank ties
    broken by term asc so the fit is deterministic. Output per group
    (or one '__corpus__' row): the :func:`relational.group_ols`
    columns (n, slope, intercept, r2).

    Shape: one token count agg + the TWO-PHASE per-group rank
    (``scale.sharded_row_number``, round 12) + the closed-form OLS
    agg. The rank cannot truncate (every vocabulary term is an OLS
    point), and the default group is the WHOLE corpus — under a plain
    ``row_number().over(partitionBy(grp))`` that is one task ranking
    the entire vocabulary; the two-phase form range-partitions the
    vocabulary and stitches ranks with a broadcast offset dim."""
    from drugbankner_spark.operators.relational import group_ols
    from drugbankner_spark.operators.scale import sharded_row_number

    grp = (F.col(group_col) if group_col
           else F.lit("__corpus__")).alias("grp")
    counts = (
        docs.select(grp, F.explode(
            F.split(F.col(text_col), " ")).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("grp", "term")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    ranked = sharded_row_number(
        counts, ["grp"], [F.desc("n"), F.asc("term")], out_col="_rank"
    )
    pts = ranked.select(
        "grp",
        F.log(F.col("_rank").cast("double")).alias("x"),
        F.log(F.col("n").cast("double")).alias("y"),
    )
    return group_ols(pts, "x", "y", ["grp"])


def tokenizer_fertility(
    tokenized: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_tokens_col: str = "n_tokens",
) -> DataFrame:
    """Tokenizer fertility audit — the standard tokenizer-quality
    signal when choosing/retraining a vocab for a corpus mix:
    ``fertility`` = subword tokens per whitespace word (≈1 on
    in-domain text, blows up on out-of-vocabulary scripts) and
    ``chars_per_token`` = text bytes amortized per token (the
    context-window cost of the corpus under that tokenizer).

    Takes any tokenizer's per-doc token counts (WordPiece, BPE,
    unigram — anything emitting (id, n_tokens)) and the docs table;
    one equi-join + per-row exact divisions, no new shuffle beyond
    the join. NULL where a denominator is 0 (empty doc / zero
    tokens). Output: (id, n_words, n_chars, n_tokens, fertility,
    chars_per_token)."""
    words = F.size(F.filter(
        F.split(F.col(text_col), r"\s+"), lambda t: t != ""
    )).cast("long")
    stats = docs.select(
        F.col(id_col),
        words.alias("n_words"),
        F.length(text_col).cast("long").alias("n_chars"),
    )
    t = tokenized.select(
        F.col(id_col), F.col(n_tokens_col).alias("n_tokens")
    )
    return stats.join(t, id_col).select(
        id_col,
        "n_words",
        "n_chars",
        "n_tokens",
        F.when(F.col("n_words") > 0,
               F.col("n_tokens") / F.col("n_words")).alias("fertility"),
        F.when(F.col("n_tokens") > 0,
               F.col("n_chars") / F.col("n_tokens"))
        .alias("chars_per_token"),
    )


def chi2_feature_selection(
    docs: DataFrame,
    text_col: str = "text",
    label_col: str = "lang",
    id_col: str = "doc_id",
    min_df: int = 5,
    top_k: int = 10,
) -> DataFrame:
    """χ² feature selection (Manning/Schütze IR ch. 13): per class,
    the tokens whose PRESENCE is most dependent on the class — the
    classic vocabulary picker for classifier-based quality filters
    (FastText/DSIR-style) and the drift probe for per-domain corpora.
    Presence semantics (document frequency, not term frequency),
    matching sklearn's chi2-on-binarized-counts convention.

    For each (token w, class c), the 2×2 presence table
    a = |docs in c with w|, b = |docs not in c with w|,
    c_ = |docs in c without w|, d = rest, N = total docs:

        χ² = N·(a·d − b·c_)² / ((a+b)(c_+d)(a+c_)(b+d))

    CROSS-ENGINE DETERMINISM: all five counts are exact BIGINTs; the
    statistic is evaluated in DOUBLE with a pinned parenthesization
    (products can exceed 2⁶³ at corpus scale, and every IEEE ·/−//
    step is correctly rounded, so both engines produce the identical
    double — the float-parity law's "pinned order" clause). Ranking
    ties break on the token text, so row_number is deterministic.

    Plan: explode→distinct (doc, token) presence pairs; ONE
    (token, class) count agg; a token-keyed join onto the token-DF
    table (co-partitioned — both sides just aggregated on token); the
    class totals and N ride in as broadcast 1-row/dim aggs. min_df
    prunes the long tail BEFORE the join. Output per class:
    (label, token, df_in_class, df_token, chi2, rank), rank ≤ top_k
    by (χ² desc, token asc)."""
    from pyspark.sql import Window

    toks = tokens(F.col(text_col))
    pres = (
        docs.select(F.col(id_col), F.col(label_col).alias("label"),
                    F.explode(toks).alias("token"))
        .filter(F.col("token") != "")
        .distinct()
    )
    tok_class = pres.groupBy("token", "label").agg(
        F.count(F.lit(1)).alias("a")
    )
    tok_df = (
        tok_class.groupBy("token")
        .agg(F.sum("a").alias("df_token"))
        .filter(F.col("df_token") >= min_df)
    )
    class_n = docs.groupBy(F.col(label_col).alias("label")).agg(
        F.count(F.lit(1)).alias("n_class")
    )
    n_total = docs.select(F.count(F.lit(1)).alias("n_total"))
    j = (
        tok_class.join(tok_df, "token")
        .join(F.broadcast(class_n), "label")
        .crossJoin(F.broadcast(n_total))
    )
    ad = F.col("a").cast("double")
    bd = (F.col("df_token") - F.col("a")).cast("double")
    cd = (F.col("n_class") - F.col("a")).cast("double")
    dd = (
        F.col("n_total") - F.col("df_token")
        - F.col("n_class") + F.col("a")
    ).cast("double")
    nd = F.col("n_total").cast("double")
    delta = ad * dd - bd * cd
    # degenerate marginals (a token in EVERY doc, or a single-class
    # corpus) zero a denominator factor; χ² is defined 0 there — the
    # feature carries no class signal, and pinning it avoids the
    # engines' divergent 0-division conventions (Spark NULL, DuckDB
    # error/inf).
    chi2 = F.when(
        ((F.col("n_total") - F.col("df_token")) == 0)
        | ((F.col("n_total") - F.col("n_class")) == 0),
        F.lit(0.0),
    ).otherwise(
        (nd * (delta * delta)) / (
            ((ad + bd) * (cd + dd)) * ((ad + cd) * (bd + dd))
        )
    )
    # sharded top-k (round 12): the ranked set is the FULL (surviving)
    # vocabulary per label, and labels are few — a plain per-label
    # window is one task scanning a vocabulary-scale slice
    from drugbankner_spark.operators.scale import sharded_topk

    scored = j.select(
        "label", "token",
        F.col("a").alias("df_in_class"),
        "df_token",
        chi2.alias("chi2"),
    )
    return sharded_topk(
        scored, ["label"], [F.desc("chi2"), F.asc("token")], top_k
    )
