"""[EXT] Text analysis operators for training-data pipelines.

Language ID (marker-word heuristic), quality scoring (length /
punctuation / stopword ratios), token counting (whitespace + regex
"BPE-ish" boundaries), and document fingerprinting (exact md5 +
polynomial rolling hash over the token stream).

All column expressions come from functions/text.py — JVM-side
built-ins, no Python UDFs, so every operator here is a narrow
projection that fuses into the document scan. At 100 TB these run at
parquet-scan speed; nothing shuffles until an aggregation asks for it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from harness_aws_etl_pipeline_spark.functions.text import (
    EN_STOPWORDS,
    punct_ratio,
    stopword_ratio,
    token_count_regex,
    tokens,
    word_count,
)

# Minimal marker-word sets per language for the n-gram/marker heuristic.
LANG_MARKERS: dict[str, list[str]] = {
    "en": EN_STOPWORDS,
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "eine", "mit", "von"],
    "fr": ["le", "la", "les", "et", "est", "pas", "une", "des", "dans", "pour"],
    "es": ["el", "la", "los", "las", "es", "no", "una", "con", "por", "para"],
}


def lang_scores(col: Column | str) -> dict[str, Column]:
    """Marker-hit count per candidate language (one pass, shared
    tokenization subtree — Catalyst CSEs the split)."""
    toks = F.transform(tokens(col), F.lower)
    out = {}
    for lang, markers in LANG_MARKERS.items():
        marker_arr = F.array(*[F.lit(m) for m in markers])
        out[lang] = F.size(F.array_intersect(F.array_distinct(toks), marker_arr))
    return out


def predict_language(col: Column | str, min_hits: int = 1) -> Column:
    """Argmax over marker-hit counts; ties break toward the
    alphabetically EARLIEST language code; below ``min_hits`` →
    'unknown'. (Forward iteration: a later language only takes the
    lead with a strictly greater score, so the first language at the
    max keeps it — matching the generated SQL oracle's tie-break.)"""
    scores = lang_scores(col)
    langs = sorted(scores)
    best_lang = F.lit("unknown")
    best_score = F.lit(min_hits - 1)
    for lang in langs:
        s = scores[lang]
        best_lang = F.when(
            s >= F.greatest(best_score + 1, F.lit(min_hits)), F.lit(lang)
        ).otherwise(best_lang)
        best_score = F.greatest(best_score, s)
    return best_lang


def add_text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document stats: char/word/regex-token counts, punct and
    stopword ratios."""
    c = F.col(text_col)
    return (
        df.withColumn("char_cnt", F.length(c))
        .withColumn("word_cnt", word_count(c))
        .withColumn("token_cnt", token_count_regex(c))
        .withColumn("punct_ratio", punct_ratio(c))
        .withColumn("stopword_ratio", stopword_ratio(c))
    )


def quality_score(text_col: str = "text") -> Column:
    """Composite [0,1] quality score: length sweet-spot × low-punct ×
    stopword presence. Deterministic arithmetic (no RNG, no UDF)."""
    c = F.col(text_col)
    length_score = F.least(F.length(c).cast("double") / F.lit(500.0), F.lit(1.0))
    punct_penalty = F.lit(1.0) - F.least(punct_ratio(c) * 5.0, F.lit(1.0))
    sw = stopword_ratio(c)
    sw_score = F.when(sw > 0.05, F.lit(1.0)).otherwise(sw * 20.0)
    return F.round(length_score * 0.4 + punct_penalty * 0.3 + sw_score * 0.3, 6)


def exact_fingerprint(col: Column | str) -> Column:
    """Exact content fingerprint: md5 hex of the raw text."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(c)


def rolling_fingerprint(col: Column | str, base: int = 31, mod: int = 1_000_000_007) -> Column:
    """Polynomial rolling hash over token lengths — an
    order-sensitive structural fingerprint that survives
    whitespace/punctuation normalization (unlike md5).
    ``h = (h*base + len(token)) % mod``, ordered left fold."""
    toks = tokens(col)
    return F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: (acc * base + F.length(t)) % mod,
    )


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 128,
    overlap: int = 16,
    with_text: bool = True,
) -> DataFrame:
    """Split documents into overlapping token windows — the standard
    pre-tokenization step for training-sequence packing.

    Output: (doc_id, chunk_idx, chunk_text, n_tokens). Stride =
    chunk_tokens − overlap; the final partial window is kept (a short
    tail beats dropping trailing text). Pure array expressions
    (sequence + slice + concat_ws) exploded per chunk — the row
    explosion is the intended output, not a join blow-up, and
    everything stays narrow until the caller aggregates.

    ``with_text=False`` drops the ``chunk_text`` column AND skips the
    per-chunk slice+concat that builds it — manual column pruning for
    callers that only aggregate chunk accounting (Catalyst cannot prune
    a struct field built inside a higher-order ``transform`` lambda, so
    without this flag every discarded chunk string is still
    materialized; the chunk boundaries and token counts are unchanged).
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    stride = chunk_tokens - overlap
    # Empty docs are filtered up front so n_chunks >= 1 everywhere —
    # F.sequence(0, n-1) counts DOWN when n-1 < 0, so a zero-chunk row
    # must never reach it. Docs at or under the overlap get one chunk.
    src = df.withColumn("__toks", tokens(text_col)).filter(F.size("__toks") > 0)
    toks = F.col("__toks")
    n_chunks = F.when(F.size(toks) <= overlap, F.lit(1)).otherwise(
        F.ceil((F.size(toks) - F.lit(overlap)) / F.lit(stride))
    )

    def _chunk_struct(i):
        fields = [i.alias("chunk_idx")]
        if with_text:
            fields.append(
                F.concat_ws(
                    " ", F.slice(toks, i * stride + 1, chunk_tokens)
                ).alias("chunk_text")
            )
        fields.append(
            F.least(F.size(toks) - i * stride, F.lit(chunk_tokens)).alias(
                "n_tokens"
            )
        )
        return F.struct(*fields)

    chunks = F.transform(
        F.sequence(F.lit(0), (n_chunks - 1).cast("int")), _chunk_struct
    )
    out_cols = [
        "doc_id",
        F.col("c.chunk_idx").cast("int").alias("chunk_idx"),
    ]
    if with_text:
        out_cols.append(F.col("c.chunk_text").alias("chunk_text"))
    out_cols.append(F.col("c.n_tokens").cast("int").alias("n_tokens"))
    return src.select(
        F.col(id_col).alias("doc_id"), F.explode(chunks).alias("c")
    ).select(*out_cols)


# Redaction patterns: email, long digit runs (phone/ids), IPv4.
REDACTION_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "number": r"\b\d{6,}\b",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
}


def redact_text(
    col: Column | str, patterns: dict[str, str] | None = None
) -> Column:
    """PII-style scrubbing: replace each pattern class with a
    ``[CLASS]`` placeholder. Chained regexp_replace — JVM-side, one
    projection, order = dict order (IPv4 before bare numbers matters,
    so the default dict lists specific classes first)."""
    c = F.col(col) if isinstance(col, str) else col
    pats = patterns or {
        "email": REDACTION_PATTERNS["email"],
        "ipv4": REDACTION_PATTERNS["ipv4"],
        "number": REDACTION_PATTERNS["number"],
    }
    out = c
    for name, pattern in pats.items():
        out = F.regexp_replace(out, pattern, f"[{name.upper()}]")
    return out


def tf_idf(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 1,
) -> DataFrame:
    """Corpus TF-IDF: (doc_id, term, tf, df, tfidf).

    Three aggregates, all shuffle-bounded on the term: per-doc term
    counts (explode + groupBy), document frequencies (groupBy term),
    and idf = ln(N/df) joined back. No UDFs; ln/×/÷ are deterministic
    per-operand, so scores are engine-exact (order-sensitive SUMs over
    them must use the scaled-long technique — see the catalog query).
    ``min_df`` prunes hapax terms before the join (at 100 TB the df
    table IS the vocabulary — pruning it is what keeps the broadcast
    join a broadcast).
    """
    n_docs = df.count()
    terms = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.transform(tokens(text_col), F.lower)).alias("term"),
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= min_df)
    )
    return (
        tf.join(F.broadcast(dfreq), "term")
        .withColumn("tfidf", F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")))
        .select("doc_id", "term", "tf", "df", F.round("tfidf", 6).alias("tfidf"))
    )


def unigram_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Self-trained unigram LM score per document: the corpus's own
    token frequencies become the model, each doc scores the average
    log-probability of its tokens — the classic cheap perplexity-style
    quality signal (gibberish and rare-token soup score low, typical
    prose scores high).

    Shape is TF-IDF's: one explode, one vocabulary-keyed rollup, one
    join back. Per-token log-probs are scaled-long BEFORE the per-doc
    sum so the aggregate is partition-order-exact (float sums are
    not). Returns (doc_id, n_tokens, avg_logprob)."""
    terms = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.transform(tokens(text_col), F.lower)).alias("term"),
    )
    freq = terms.groupBy("term").agg(F.count(F.lit(1)).alias("tf"))
    total = freq.agg(F.sum("tf").cast("double").alias("n_total"))
    scored = terms.join(freq, "term").crossJoin(F.broadcast(total))
    tok_lp = F.round(F.log(F.col("tf") / F.col("n_total")) * 1_000_000).cast("long")
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(tok_lp).alias("__lp_sum"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.round(
                F.col("__lp_sum").cast("double") / 1_000_000.0 / F.col("n_tokens"), 6
            ).alias("avg_logprob"),
        )
    )


def bigram_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 1.0,
) -> DataFrame:
    """Self-trained add-α bigram LM score per document — the next rung
    up from :func:`unigram_logprob`: scores word ORDER, not just word
    choice, so shuffled or template-stitched text scores low even when
    its vocabulary is typical.

    ``P(w₂|w₁) = (c(w₁,w₂) + α) / (c(w₁) + α·V)`` with V the unigram
    vocabulary size (plain add-α conditional, no backoff — the model
    and its oracle must share closed-form arithmetic).  Per-bigram
    log-probs are scaled-long before the per-doc sum (the
    partition-order-exact trick every LM leg here uses).  Documents
    with fewer than two tokens have no bigrams and are absent from the
    result.  Returns (doc_id, n_bigrams, avg_logprob2).

    Scale shape: one explode to bigram rows, two vocabulary-keyed
    joins (bigram counts, context counts — partial-aggregated), one
    broadcast scalar (V).  The bigram vocabulary is Heaps-bounded like
    the unigram one; no corpus-sized shuffle key.
    """
    toks = F.transform(tokens(text_col), F.lower)
    with_toks = df.select(
        F.col(id_col).alias("doc_id"), toks.alias("__toks")
    )
    t = F.col("__toks")
    bi = with_toks.where(F.size(t) >= 2).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size(t) - 2),
                lambda i: F.struct(
                    F.get(t, i).alias("w1"), F.get(t, i + 1).alias("w2")
                ),
            )
        ).alias("bg"),
    ).select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))

    terms = with_toks.select(F.explode(t).alias("term"))
    uf = terms.groupBy("term").agg(F.count(F.lit(1)).alias("uc"))
    vocab = uf.agg(F.count(F.lit(1)).cast("double").alias("v_size"))
    bf = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("bc"))

    scored = (
        bi.join(bf, ["w1", "w2"])
        .join(uf.withColumnRenamed("term", "w1"), "w1")
        .crossJoin(F.broadcast(vocab))
    )
    lp = F.round(
        F.log(
            (F.col("bc") + F.lit(alpha))
            / (F.col("uc") + F.lit(alpha) * F.col("v_size"))
        )
        * 1_000_000
    ).cast("long")
    return (
        scored.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_bigrams"), F.sum(lp).alias("__lp"))
        .select(
            "doc_id",
            "n_bigrams",
            F.round(
                F.col("__lp").cast("double") / 1_000_000.0 / F.col("n_bigrams"), 6
            ).alias("avg_logprob2"),
        )
    )


def top_ngrams(
    df: DataFrame,
    n: int = 2,
    k: int = 20,
    text_col: str = "text",
) -> DataFrame:
    """Corpus top-k word n-grams: (ngram, cnt), count DESC with ties
    broken by the n-gram string (fully deterministic cut at k).

    The classic corpus-statistics pass: n-grams are built per row with
    array expressions (no shuffle, no Python), then one groupBy(ngram)
    with map-side partial counts and a TakeOrdered top-k — at 100 TB
    the only full-size exchange is the ngram rollup, and its key space
    is vocabulary-sized, not corpus-sized."""
    if n < 1:
        raise ValueError("n must be >= 1")
    # materialize the token array as a bound column FIRST: a lambda
    # that references the raw tokenization expression would re-evaluate
    # split+filter+lower per element (HOFs are interpreted) — O(len²)
    # per doc. Against the bound attribute each F.get is an O(1) array
    # index.
    toks = F.col("__toks")

    def _gram(t: Column, i: Column) -> Column:
        parts = [t] + [F.get(toks, i + j) for j in range(1, n)]
        return F.concat_ws(" ", *parts)

    grams = F.when(
        F.size(toks) >= n,
        F.transform(F.slice(toks, 1, F.size(toks) - (n - 1)), _gram),
    ).otherwise(F.array().cast("array<string>"))
    return (
        df.select(F.transform(tokens(text_col), F.lower).alias("__toks"))
        .select(F.explode(grams).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("ngram"))
        .limit(k)
    )
