"""[EXT] catalog entries: text analysis, dedup, similarity, multimodal.

Same contract as plans/catalog.py — every oracle-able query gets an
exact DuckDB SQL twin; MinHash/SimHash/LSH entries (engine-specific
hashing that DuckDB cannot reproduce) ship without an oracle and get
the driver's rows-only check, with their *verifiable* parts (candidate
verification math, exact-Jaccard fallback) covered by oracle-able
siblings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from harness_aws_etl_pipeline_spark.functions.text import punct_ratio
from harness_aws_etl_pipeline_spark.operators.dedup_fuzzy import (
    minhash_dedup_pairs,
    ngram_jaccard_pairs,
    simhash,
    simhash_near_pairs,
)
from harness_aws_etl_pipeline_spark.operators.multimodal import (
    attach_binary_payload,
    extract_features,
    media_summary,
    synthesize_ppm_media,
)
from harness_aws_etl_pipeline_spark.operators.similarity import (
    brute_force_topk,
    embedding_stats,
    lsh_bucketed_topk,
)
from harness_aws_etl_pipeline_spark.operators.memo import PlanMemo
from harness_aws_etl_pipeline_spark.operators.textops import (
    add_text_stats,
    exact_fingerprint,
    predict_language,
    quality_score,
    rolling_fingerprint,
)

_PAIRS_MEMO = PlanMemo()


def _t(spark: SparkSession, sf: str, name: str) -> DataFrame:
    from harness_aws_etl_pipeline_spark.plans.catalog import load_table

    return load_table(spark, sf, name)


# ---------------------------------------------------------------- text


def q_text_stats(spark: SparkSession, sf: str) -> DataFrame:
    """[EXT] text statistics rolled up by source: char/word/token
    counts, punct ratio — all JVM expressions over the document scan."""
    docs = _t(spark, sf, "documents")
    stats = add_text_stats(docs)
    return (
        stats.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("doc_cnt"),
            F.sum("char_cnt").alias("char_total"),
            F.sum("word_cnt").cast("long").alias("word_total"),
            F.sum("token_cnt").cast("long").alias("token_total"),
            # scaled-long sum of the 6dp-rounded ratios: exact and
            # order-independent (a plain double SUM drifts in the last
            # ULPs with partition order and can flip the final ROUND)
            F.round(
                F.sum(
                    F.round(F.round(punct_ratio(F.col("text")), 6) * 1_000_000).cast(
                        "long"
                    )
                ).cast("double")
                / 1_000_000.0,
                4,
            ).alias("punct_ratio_sum"),
            F.max("word_cnt").cast("long").alias("max_doc_words"),
        )
        .orderBy("source")
    )


ORACLE_TEXT_STATS = r"""
SELECT source, COUNT(*) AS doc_cnt,
       CAST(SUM(LENGTH(text)) AS BIGINT) AS char_total,
       CAST(SUM(len(list_filter(string_split_regex(text, '\s+'), t -> t != ''))) AS BIGINT) AS word_total,
       CAST(SUM(len(regexp_extract_all(text, '[A-Za-z0-9]+'))) AS BIGINT) AS token_total,
       ROUND(CAST(SUM(CAST(ROUND(ROUND(CASE WHEN LENGTH(text) > 0
             THEN CAST(LENGTH(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE) / LENGTH(text)
             ELSE 0.0 END, 6) * 1000000) AS BIGINT)) AS DOUBLE) / 1000000.0, 4) AS punct_ratio_sum,
       CAST(MAX(len(list_filter(string_split_regex(text, '\s+'), t -> t != ''))) AS BIGINT) AS max_doc_words
FROM documents GROUP BY source ORDER BY source
"""


def q_lang_id(spark: SparkSession, sf: str) -> DataFrame:
    """[EXT] marker-word language ID over documents, counts by
    (actual lang column, predicted).

    Fused (round 8): the FEATURE-ENCODING legs — one-hot indicator
    sums over ``lang`` (sorted pinned schema, NULL→all-zeros) and the
    md5 hashing-trick slot histogram over (lang, source)
    (operators/features.py); both re-derived in DuckDB from the same
    md5/regex machinery."""
    from harness_aws_etl_pipeline_spark.operators.features import (
        hash_features,
        one_hot,
    )

    docs = _t(spark, sf, "documents")
    # the observed lang values collect at BUILD time — memoized per
    # (session, sf) so repeated builds scan once
    vals = _VALUE_MEMO.get_or_key(
        ("lang_values", spark.sparkContext.applicationId, sf),
        lambda: [
            r[0]
            for r in docs.select("lang").distinct().collect()
            if r[0] is not None
        ],
    )
    oh = one_hot(docs, "lang", values=vals)
    ind = sorted(c for c in oh.columns if c.startswith("lang__"))
    oh_strs = F.array_sort(
        F.array(
            *[
                F.concat_ws(":", F.lit(c), F.sum(c).cast("string"))
                for c in ind
            ]
        )
    )
    oh_leg = oh.agg(
        F.lit(len(ind)).cast("long").alias("onehot_cols"),
        F.md5(F.concat_ws("|", oh_strs)).alias("onehot_md5"),
    )
    hist = (
        hash_features(docs, ["lang", "source"], dims=64)
        .select(F.explode("features").alias("slot"))
        .groupBy("slot")
        .agg(F.count(F.lit(1)).alias("slot_cnt"))
    )
    hs = F.concat_ws(
        ":", F.col("slot").cast("string"), F.col("slot_cnt").cast("string")
    )
    hash_leg = hist.agg(
        F.count(F.lit(1)).alias("hash_slots"),
        F.md5(F.concat_ws("|", F.array_sort(F.collect_list(hs)))).alias(
            "hash_md5"
        ),
    )
    base = (
        docs.withColumn("predicted", predict_language(F.col("text"), min_hits=1))
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("doc_cnt"))
    )
    return (
        base.crossJoin(F.broadcast(oh_leg))
        .crossJoin(F.broadcast(hash_leg))
        .orderBy("lang", "predicted")
    )


def _oracle_lang_id() -> str:
    from harness_aws_etl_pipeline_spark.operators.textops import LANG_MARKERS

    score_exprs = []
    for lang in sorted(LANG_MARKERS):
        markers = ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])
        score_exprs.append(
            f"len(list_intersect(list_distinct(list_transform("
            f"list_filter(string_split_regex(text, '\\s+'), t -> t != ''), t -> lower(t))), "
            f"[{markers}])) AS score_{lang}"
        )
    scores_sql = ",\n         ".join(score_exprs)
    langs = sorted(LANG_MARKERS)
    # argmax with earlier-language tie-break == reversed-loop in
    # predict_language
    best = "CASE"
    for lang in langs:
        others = [f"score_{lang} >= score_{o}" for o in langs if o != lang]
        gt_earlier = [f"score_{lang} > score_{o}" for o in langs if o < lang]
        conds = others + gt_earlier if gt_earlier else others
        best += f" WHEN score_{lang} >= 1 AND {' AND '.join(conds)} THEN '{lang}'"
    best += " ELSE 'unknown' END AS predicted"
    return f"""
SELECT lang, predicted, COUNT(*) AS doc_cnt, onehot_cols, onehot_md5,
       hash_slots, hash_md5
FROM (
  SELECT lang, {best} FROM (
    SELECT lang, text,
         {scores_sql}
    FROM documents
  )
) base CROSS JOIN (
  -- one-hot leg: per-value indicator sums == per-lang counts, hashed
  -- under the operator's sorted '{{col}}__{{value}}:{{sum}}' naming
  SELECT COUNT(*) AS onehot_cols,
         md5(string_agg(s, '|' ORDER BY s)) AS onehot_md5
  FROM (
    SELECT 'lang__' || regexp_replace(lang, '[^0-9a-zA-Z_]', '_', 'g')
           || ':' || CAST(COUNT(*) AS VARCHAR) AS s
    FROM documents WHERE lang IS NOT NULL GROUP BY lang)
) oh_arm CROSS JOIN (
  -- hashing-trick leg: md5-derived slot histogram over (lang, source)
  SELECT COUNT(*) AS hash_slots,
         md5(string_agg(s, '|' ORDER BY s)) AS hash_md5
  FROM (
    SELECT CAST(slot AS VARCHAR) || ':' || CAST(COUNT(*) AS VARCHAR) AS s
    FROM (
      SELECT doc_id, UNNEST(list_distinct(list_filter([
        CASE WHEN lang IS NOT NULL THEN
          CAST(('0x' || substr(md5('lang=' || lang), 1, 8))::BIGINT % 64 AS INT)
        END,
        CASE WHEN source IS NOT NULL THEN
          CAST(('0x' || substr(md5('source=' || source), 1, 8))::BIGINT % 64 AS INT)
        END], x -> x IS NOT NULL))) AS slot
      FROM documents) slots
    GROUP BY slot)
) hash_arm
GROUP BY lang, predicted, onehot_cols, onehot_md5, hash_slots, hash_md5
ORDER BY lang, predicted
"""


def q_quality_score(spark: SparkSession, sf: str) -> DataFrame:
    """[EXT] composite quality scoring bucketed into deciles, plus the
    Gopher-style repetition panel (duplicate-line / duplicate-word
    fractions, scaled-long corpus sums) crossJoined onto every
    bucket row."""
    from harness_aws_etl_pipeline_spark.functions.text import (
        dup_line_fraction,
        dup_word_fraction,
    )

    docs = _t(spark, sf, "documents")
    buckets = (
        docs.withColumn("quality", quality_score("text"))
        .withColumn("bucket", F.floor(F.col("quality") * 10).cast("int"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("doc_cnt"))
        .orderBy("bucket")
    )

    def _scaled_sum(c, alias):
        return F.round(
            F.sum(F.round(F.round(c, 6) * 1_000_000).cast("long")).cast("double")
            / 1_000_000.0,
            4,
        ).alias(alias)

    rep = docs.agg(
        _scaled_sum(dup_line_fraction("text"), "dup_line_sum"),
        _scaled_sum(dup_word_fraction("text"), "dup_word_sum"),
    )
    # self-trained unigram LM: corpus sum of per-doc avg log-prob
    # (scaled-long at every float step — see unigram_logprob)
    from harness_aws_etl_pipeline_spark.operators.textops import (
        bigram_logprob,
        unigram_logprob,
    )

    lm = unigram_logprob(docs).agg(
        _scaled_sum(F.col("avg_logprob"), "logprob_sum")
    ).crossJoin(F.broadcast(
        bigram_logprob(docs).agg(
            _scaled_sum(F.col("avg_logprob2"), "logprob2_sum"),
            F.sum("n_bigrams").cast("long").alias("bigram_total"),
        )
    ))
    # Gopher preset gate (operators/filters.py) — per-rule fail counts
    # + full-pass count, default published thresholds; every predicate
    # is exact-integer division in double, so the oracle re-derives the
    # whole rule bundle with identical arithmetic
    from harness_aws_etl_pipeline_spark.operators.filters import (
        quality_filter_report,
    )

    qf = quality_filter_report(docs, "gopher")

    # corpus_report legs (operators/corpus_report.py, fused round 5):
    # the diagnostics summary's volume / token-mean / domain-share /
    # gate-yield numbers re-derived by the oracle.  The report runs its
    # REAL code path (two aggregate jobs) at build time; the scalars
    # become a 1-row frame.  gate_pass re-derives the same 12-rule
    # conjunction the qf arm pins (the oracle states it as qf_pass_cnt).
    from harness_aws_etl_pipeline_spark.operators.corpus_report import (
        corpus_report,
    )

    rep_d = corpus_report(docs, filter_preset="gopher")
    top_share = max(
        (d["share"] for d in rep_d.get("domains", {}).values()), default=0.0
    )
    cr = spark.createDataFrame(
        [
            (
                rep_d["docs"],
                rep_d["tokens"],
                rep_d["chars"],
                float(rep_d["token_mean"]),
                rep_d["gate_pass"],
                len(rep_d.get("domains", {})),
                float(top_share),
            )
        ],
        "cr_docs long, cr_tokens long, cr_chars long, cr_token_mean double, "
        "cr_gate_pass long, cr_domains long, cr_top_share double",
    )
    return buckets.crossJoin(F.broadcast(rep)).crossJoin(F.broadcast(lm)).crossJoin(F.broadcast(qf)).crossJoin(F.broadcast(cr))


ORACLE_QUALITY = r"""
SELECT q.*, r.dup_line_sum, r.dup_word_sum, lm.logprob_sum,
       lm2.logprob2_sum, lm2.bigram_total, qf.*,
       cr.*, qf.qf_pass_cnt AS cr_gate_pass FROM (
SELECT CAST(FLOOR(quality * 10) AS INT) AS bucket, COUNT(*) AS doc_cnt FROM (
  SELECT ROUND(
    LEAST(CAST(LENGTH(text) AS DOUBLE) / 500.0, 1.0) * 0.4
    + (1.0 - LEAST((CASE WHEN LENGTH(text) > 0
         THEN CAST(LENGTH(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE) / LENGTH(text)
         ELSE 0.0 END) * 5.0, 1.0)) * 0.3
    + (CASE WHEN sw_ratio > 0.05 THEN 1.0 ELSE sw_ratio * 20.0 END) * 0.3, 6) AS quality
  FROM (
    SELECT text,
           CASE WHEN len(toks) > 0
                THEN CAST(len(list_filter(toks, t -> list_contains(
                     ['the','a','an','and','or','of','to','in','is','it',
                      'that','for','on','with','as','at','by','from'], lower(t)))) AS DOUBLE)
                     / len(toks)
                ELSE 0.0 END AS sw_ratio
    FROM (SELECT text, list_filter(string_split_regex(text, '\s+'), t -> t != '') AS toks
          FROM documents)
  )
) GROUP BY 1
) q CROSS JOIN (
  SELECT ROUND(CAST(SUM(CAST(ROUND(ROUND(CASE WHEN nl > 0
               THEN CAST(nl - dl AS DOUBLE) / nl ELSE 0.0 END, 6) * 1000000) AS BIGINT)) AS DOUBLE)
             / 1000000.0, 4) AS dup_line_sum,
         ROUND(CAST(SUM(CAST(ROUND(ROUND(CASE WHEN nw > 0
               THEN CAST(nw - dw AS DOUBLE) / nw ELSE 0.0 END, 6) * 1000000) AS BIGINT)) AS DOUBLE)
             / 1000000.0, 4) AS dup_word_sum
  FROM (SELECT len(lines) AS nl, len(list_distinct(lines)) AS dl,
               len(toks) AS nw, len(list_distinct(toks)) AS dw
        FROM (SELECT list_filter(string_split(text, chr(10)), l -> l != '') AS lines,
                     list_filter(string_split_regex(text, '\s+'), t -> t != '') AS toks
              FROM documents))
) r CROSS JOIN (
  WITH t AS (
    SELECT doc_id,
           lower(UNNEST(list_filter(string_split_regex(text, '\s+'), x -> x != ''))) AS term
    FROM documents
  ),
  f AS (SELECT term, COUNT(*) AS tf FROM t GROUP BY term),
  n AS (SELECT CAST(SUM(tf) AS DOUBLE) AS n_total FROM f),
  per_doc AS (
    SELECT t.doc_id,
           ROUND(CAST(SUM(CAST(ROUND(ln(f.tf / n.n_total) * 1000000) AS BIGINT)) AS DOUBLE)
                 / 1000000.0 / COUNT(*), 6) AS avg_logprob
    FROM t JOIN f ON t.term = f.term CROSS JOIN n
    GROUP BY t.doc_id
  )
  SELECT ROUND(CAST(SUM(CAST(ROUND(ROUND(avg_logprob, 6) * 1000000) AS BIGINT)) AS DOUBLE)
             / 1000000.0, 4) AS logprob_sum
  FROM per_doc
) lm CROSS JOIN (
  -- add-1 bigram LM: P(w2|w1) = (bc+1)/(uc(w1)+V); scaled-long per
  -- bigram before the per-doc sum, same determinism trick as lm
  WITH toks2 AS (
    SELECT doc_id,
           list_transform(list_filter(string_split_regex(text, '\s+'), x -> x != ''),
                          x -> lower(x)) AS tk
    FROM documents
  ),
  uni AS (
    SELECT term, COUNT(*) AS uc
    FROM (SELECT UNNEST(tk) AS term FROM toks2) GROUP BY term
  ),
  vsize AS (SELECT CAST(COUNT(*) AS DOUBLE) AS v FROM uni),
  bi AS (
    SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2
    FROM toks2, UNNEST(range(1, len(tk))) AS r(i)
    WHERE len(tk) >= 2
  ),
  bic AS (SELECT w1, w2, COUNT(*) AS bc FROM bi GROUP BY w1, w2),
  perdoc2 AS (
    SELECT bi.doc_id,
           COUNT(*) AS n_bigrams,
           ROUND(CAST(SUM(CAST(ROUND(ln((bic.bc + 1.0) / (uni.uc + vsize.v))
                                     * 1000000) AS BIGINT)) AS DOUBLE)
                 / 1000000.0 / COUNT(*), 6) AS avg_logprob2
    FROM bi
    JOIN bic ON bi.w1 = bic.w1 AND bi.w2 = bic.w2
    JOIN uni ON bi.w1 = uni.term
    CROSS JOIN vsize
    GROUP BY bi.doc_id
  )
  SELECT ROUND(CAST(SUM(CAST(ROUND(ROUND(avg_logprob2, 6) * 1000000) AS BIGINT)) AS DOUBLE)
             / 1000000.0, 4) AS logprob2_sum,
         CAST(SUM(n_bigrams) AS BIGINT) AS bigram_total
  FROM perdoc2
) lm2 CROSS JOIN (
  -- Gopher preset gate (operators/filters.py defaults): per-rule fail
  -- counts + full-pass count; every ratio is small-int division in
  -- double, so the arithmetic is bit-identical across engines
  SELECT CAST(SUM(CASE WHEN NOT p_word_count THEN 1 ELSE 0 END) AS BIGINT) AS qf_word_count_fail,
         CAST(SUM(CASE WHEN NOT p_mean_word_len THEN 1 ELSE 0 END) AS BIGINT) AS qf_mean_word_len_fail,
         CAST(SUM(CASE WHEN NOT p_symbol_ratio THEN 1 ELSE 0 END) AS BIGINT) AS qf_symbol_ratio_fail,
         CAST(SUM(CASE WHEN NOT p_alpha_ratio THEN 1 ELSE 0 END) AS BIGINT) AS qf_alpha_ratio_fail,
         CAST(SUM(CASE WHEN NOT p_stopwords THEN 1 ELSE 0 END) AS BIGINT) AS qf_stopwords_fail,
         CAST(SUM(CASE WHEN NOT p_dup_lines THEN 1 ELSE 0 END) AS BIGINT) AS qf_dup_lines_fail,
         CAST(SUM(CASE WHEN NOT p_dup_words THEN 1 ELSE 0 END) AS BIGINT) AS qf_dup_words_fail,
         CAST(SUM(CASE WHEN NOT p_bullet_lines THEN 1 ELSE 0 END) AS BIGINT) AS qf_bullet_lines_fail,
         CAST(SUM(CASE WHEN NOT p_ellipsis_lines THEN 1 ELSE 0 END) AS BIGINT) AS qf_ellipsis_lines_fail,
         CAST(SUM(CASE WHEN NOT p_top2gram THEN 1 ELSE 0 END) AS BIGINT) AS qf_top2gram_fail,
         CAST(SUM(CASE WHEN NOT p_top3gram THEN 1 ELSE 0 END) AS BIGINT) AS qf_top3gram_fail,
         CAST(SUM(CASE WHEN NOT p_top4gram THEN 1 ELSE 0 END) AS BIGINT) AS qf_top4gram_fail,
         CAST(SUM(CASE WHEN p_word_count AND p_mean_word_len AND p_symbol_ratio
                        AND p_alpha_ratio AND p_stopwords AND p_dup_lines
                        AND p_dup_words AND p_bullet_lines AND p_ellipsis_lines
                        AND p_top2gram AND p_top3gram AND p_top4gram
                   THEN 1 ELSE 0 END) AS BIGINT) AS qf_pass_cnt
  FROM (
    SELECT (n >= 50 AND n <= 100000) AS p_word_count,
           (mean_len >= 3.0 AND mean_len <= 10.0) AS p_mean_word_len,
           (CASE WHEN n > 0 THEN CAST(symbols AS DOUBLE) / n < 0.1 ELSE FALSE END) AS p_symbol_ratio,
           (CASE WHEN n > 0 THEN CAST(alpha_words AS DOUBLE) / n >= 0.8 ELSE FALSE END) AS p_alpha_ratio,
           (stop_hits >= 2) AS p_stopwords,
           (dlf <= 0.3) AS p_dup_lines,
           (dwf <= 0.5) AS p_dup_words,
           (CASE WHEN nl > 0 THEN CAST(bullets AS DOUBLE) / nl <= 0.9 ELSE TRUE END) AS p_bullet_lines,
           (CASE WHEN nl > 0 THEN CAST(ellipses AS DOUBLE) / nl <= 0.3 ELSE TRUE END) AS p_ellipsis_lines,
           (t2frac <= 0.20) AS p_top2gram,
           (t3frac <= 0.18) AS p_top3gram,
           (t4frac <= 0.16) AS p_top4gram
    FROM (
      SELECT len(toks) AS n,
             CASE WHEN len(toks) >= 2
                  THEN CAST(list_max(list_transform(list_distinct(g2),
                         g -> len(list_filter(g2, x -> x = g)))) * 2 AS DOUBLE)
                       / len(toks)
                  ELSE 0.0 END AS t2frac,
             CASE WHEN len(toks) >= 3
                  THEN CAST(list_max(list_transform(list_distinct(g3),
                         g -> len(list_filter(g3, x -> x = g)))) * 3 AS DOUBLE)
                       / len(toks)
                  ELSE 0.0 END AS t3frac,
             CASE WHEN len(toks) >= 4
                  THEN CAST(list_max(list_transform(list_distinct(g4),
                         g -> len(list_filter(g4, x -> x = g)))) * 4 AS DOUBLE)
                       / len(toks)
                  ELSE 0.0 END AS t4frac,
             CASE WHEN len(toks) > 0
                  THEN CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                         list_transform(toks, t -> CAST(LENGTH(t) AS BIGINT))),
                         (a, x) -> a + x) AS DOUBLE) / len(toks)
                  ELSE 0.0 END AS mean_len,
             len(regexp_extract_all(text, '#'))
               + len(regexp_extract_all(text, '\.\.\.')) AS symbols,
             len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]'))) AS alpha_words,
             len(list_intersect(list_distinct(list_transform(toks, t -> lower(t))),
                 ['the','be','to','of','and','that','have','with'])) AS stop_hits,
             CASE WHEN len(lines) > 0
                  THEN CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE) / len(lines)
                  ELSE 0.0 END AS dlf,
             CASE WHEN len(toks) > 0
                  THEN CAST(len(toks) - len(list_distinct(toks)) AS DOUBLE) / len(toks)
                  ELSE 0.0 END AS dwf,
             len(nelines) AS nl,
             len(list_filter(nelines, l -> regexp_matches(trim(l), '^[-*•]'))) AS bullets,
             len(list_filter(nelines, l -> regexp_matches(trim(l), '\.\.\.$'))) AS ellipses
      FROM (SELECT text, toks, lines, nelines,
                   list_transform(range(1, GREATEST(len(toks) - 1, 0) + 1),
                     i -> list_aggregate(list_slice(toks, i, i + 1), 'string_agg', ' ')) AS g2,
                   list_transform(range(1, GREATEST(len(toks) - 2, 0) + 1),
                     i -> list_aggregate(list_slice(toks, i, i + 2), 'string_agg', ' ')) AS g3,
                   list_transform(range(1, GREATEST(len(toks) - 3, 0) + 1),
                     i -> list_aggregate(list_slice(toks, i, i + 3), 'string_agg', ' ')) AS g4
            FROM (SELECT text,
                         list_filter(string_split_regex(text, '\s+'), t -> t != '') AS toks,
                         list_filter(string_split(text, chr(10)), l -> l != '') AS lines,
                         list_filter(string_split(text, chr(10)), l -> trim(l) != '') AS nelines
                  FROM documents))
    )
  )
) qf CROSS JOIN (
  -- corpus_report volume / token-mean / domain-share legs (whitespace
  -- tokens throughout, matching functions.text.tokens)
  WITH dt AS (
    SELECT source,
           CAST(SUM(len(list_filter(string_split_regex(text, '\s+'), t -> t != ''))) AS BIGINT) AS dtok
    FROM documents GROUP BY source
  ), tot AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS cr_docs,
           CAST(SUM(len(list_filter(string_split_regex(text, '\s+'), t -> t != ''))) AS BIGINT) AS cr_tokens,
           CAST(SUM(LENGTH(text)) AS BIGINT) AS cr_chars,
           ROUND(AVG(len(list_filter(string_split_regex(text, '\s+'), t -> t != ''))), 2) AS cr_token_mean
    FROM documents
  )
  SELECT tot.cr_docs, tot.cr_tokens, tot.cr_chars, tot.cr_token_mean,
         CAST((SELECT COUNT(*) FROM dt) AS BIGINT) AS cr_domains,
         (SELECT MAX(ROUND(CAST(dtok AS DOUBLE) / GREATEST(tot.cr_tokens, 1), 4))
          FROM dt) AS cr_top_share
  FROM tot
) cr ORDER BY bucket
"""


# planted HTML literals for the html-extraction legs — no single
# quotes (the oracle embeds them as SQL VALUES with one doubling pass
# for the href='...' variant only)
_HTML_FIXTURE = (
    '<html><head><title>Alpha &amp; Beta</title><style>p{color:red}'
    "</style></head><body><!-- hidden <p>x</p> --><h1>Head</h1>"
    '<p>First &lt;p&gt; and&nbsp;nb.</p><a href="https://x.com/a">x</a>'
    "<a href='/rel'>r</a>line<br>break</body></html>",
    "plain text, no markup",
    "<p>before</p><script>var j=1;",
)

# planted markdown literals (quote-free: they embed directly as SQL
# VALUES) for the markdown-extraction legs
_MD_FIXTURE = (
    "# Title\n\nSome **bold** and *italic* text with `inline code`.\n\n"
    "> quote\n\n- item one\n- item two\n\n"
    "[anchor](https://md.example.com/p) and ![alt](https://img.example.com/i.png)\n\n"
    "```python\ndef f():\n    return 1\n```\n\n| a | b |\n|---|---|\n",
    "plain markdown-free text",
)

# planted sitemap.xml literal (apostrophe-free: embeds directly as a
# SQL VALUES string) for the sitemap-extraction legs — whitespace
# inside <loc>, an upper-case <LOC>, and a relative entry
_SITEMAP_FIXTURE = (
    '<?xml version="1.0"?><urlset>'
    "<url><loc> https://s.example.com/page-one </loc>"
    "<lastmod>2024-01-01</lastmod></url>"
    "<url><LOC>https://s.example.com/two</LOC></url>"
    "<url><loc>relative/skip?q=1</loc></url></urlset>"
)

# planted WARC response records (uri, http_status, content_type, body)
# — ASCII-only so DuckDB LENGTH() (codepoints) equals the engine's
# payload_length (bytes). The warc legs of ``doc_fingerprint`` write
# these through sources/warc.build_warc in BOTH file layouts (plain +
# per-record gzip, the crawl-archive form), re-read them with
# read_warc, and value-check the aggregates against this fixture.
_WARC_FIXTURE = (
    (
        "https://w.example.com/zero",
        200,
        "text/html",
        "<html><title>W Zero</title><body>zero &amp; more</body></html>",
    ),
    ("https://w.example.com/one", 200, "text/plain", "plain body one"),
    ("https://w.example.com/two", 404, "text/html", ""),
    ("https://w.example.com/three", 301, "application/json", '{"k": 1}'),
)


def q_doc_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    """[EXT] document fingerprinting + PII redaction + text-normalization
    panel, one row.

    Fingerprint legs: exact md5 + polynomial rolling hash over token
    lengths, corpus-level distinct counts. Redaction legs (fused in
    from the former standalone ``redaction`` entry — two 1-row panels
    share one slot of the driver's 50-entry correctness window, the
    ``null_audit`` crossJoin pattern): emails and long numbers
    injected deterministically into every document, then counted as
    redacted placeholders after ``redact_text``.

    Textclean legs (operators/textclean.py, fused round 5): (a) planted
    unicode literals through NFKC → clean_text, value-checked against
    the Unicode-standard expected strings the oracle states as VALUES
    (DuckDB has no NFKC — the expected outputs are independent known
    facts, the md5/string-agg machinery is SQL-side); (b) corpus-level
    clean_text parity — changed-doc count + cleaned-length sum, the
    oracle re-deriving the same strip/fold/trim regex pipeline in RE2.
    """
    from harness_aws_etl_pipeline_spark.operators.textclean import (
        clean_text,
        normalize_unicode,
    )
    from harness_aws_etl_pipeline_spark.operators.textops import redact_text

    docs = _t(spark, sf, "documents")
    planted = spark.createDataFrame(
        [
            (1, "\ufb01ne \u216b \u2460"),  # fi-ligature, roman XII, circled 1
            (2, "a\u00a0b\u200bc"),          # NBSP fold + zero-width strip
            (3, "x\x01y\x02z"),                        # C0 control strip
            (4, "  multi   space\tand\nnewline  "),    # whitespace soup
            (5, "\uff25\uff2d\uff22\uff25\uff24"),  # fullwidth EMBED
            (6, None),                                 # NULL in, NULL out
        ],
        "tid int, raw string",
    )
    cleaned = normalize_unicode(planted, "raw", "NFKC", out_col="norm").select(
        "tid", clean_text(F.col("norm")).alias("cleaned")
    )
    tc_planted = cleaned.agg(
        F.md5(F.concat_ws("|", F.array_sort(F.collect_list("cleaned")))).alias(
            "tc_planted_md5"
        ),
        F.count("cleaned").cast("long").alias("tc_planted_nonnull"),
    )
    # charset-decode legs (textclean.decode_text, round 6): planted
    # byte payloads through the BOM → header → meta-sniff → utf-8 →
    # latin-1 chain; the EXPECTED strings are codec-standard facts
    # (DuckDB can't decode windows-1252/koi8-r), the md5/count
    # machinery is SQL-side — the NFKC-leg pattern
    from harness_aws_etl_pipeline_spark.operators.textclean import decode_text

    dec_planted = spark.createDataFrame(
        [
            (1, b"\xef\xbb\xbfh\xc3\xa9llo", "text/html; charset=latin-1"),
            (2, b"caf\xe9", "text/plain; charset=windows-1252"),
            (3, b'<meta charset="koi8-r"><p>\xc4\xc1</p>', "text/html"),
            (4, "héllo".encode(), None),
            (5, b"caf\xe9", None),
            (6, None, "text/html"),
        ],
        "rid int, payload binary, content_type string",
    )
    dec_agg = decode_text(dec_planted).agg(
        F.md5(F.concat_ws("|", F.array_sort(F.collect_list("text")))).alias(
            "dec_planted_md5"
        ),
        F.count("text").cast("long").alias("dec_planted_nonnull"),
    )
    tc_corpus = docs.agg(
        F.sum((clean_text(F.col("text")) != F.col("text")).cast("long"))
        .cast("long")
        .alias("tc_changed_cnt"),
        F.sum(F.length(clean_text(F.col("text"))))
        .cast("long")
        .alias("tc_len_sum"),
    )
    fp = docs.select(
        exact_fingerprint("text").alias("fp_md5"),
        rolling_fingerprint("text").alias("fp_rolling"),
    )
    fp_agg = fp.agg(
        F.countDistinct("fp_md5").alias("distinct_md5"),
        F.countDistinct("fp_rolling").alias("distinct_rolling"),
        F.min("fp_md5").alias("min_md5"),
        F.sum("fp_rolling").alias("rolling_sum"),
    )
    dirty = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" contact"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com id 1234567890"),
        ),
    )
    clean = dirty.withColumn("text", redact_text("text"))
    red_agg = clean.agg(
        F.sum(
            (F.length("text") - F.length(F.regexp_replace("text", r"\[EMAIL\]", "")))
            / F.lit(7)
        ).cast("long").alias("emails_redacted"),
        F.sum(
            (F.length("text") - F.length(F.regexp_replace("text", r"\[NUMBER\]", "")))
            / F.lit(8)
        ).cast("long").alias("numbers_redacted"),
        F.sum(F.col("text").contains("@").cast("long")).alias("emails_left"),
    )
    # html-extraction legs (operators/html.py, round 6): planted HTML
    # literals through the full RE2-safe regexp chain — text, title,
    # and harvested-link counts re-derived verbatim by the oracle
    from harness_aws_etl_pipeline_spark.operators.html import (
        extract_anchors,
        markdown_links,
        markdown_to_text,
        strip_html_columns,
    )

    html_rows = spark.createDataFrame(
        list(enumerate(_HTML_FIXTURE)), "hid long, html string"
    )
    html_agg = (
        strip_html_columns(html_rows)
        .withColumn(
            "_anchor_strs",
            F.transform(
                extract_anchors("html"),
                lambda a: F.concat(a["href"], F.lit(">"), a["text"]),
            ),
        )
        .agg(
            F.md5(
                F.concat_ws("|", F.array_sort(F.collect_list("text")))
            ).alias("html_text_md5"),
            F.md5(
                F.concat_ws("|", F.array_sort(F.collect_list("title")))
            ).alias("html_title_md5"),
            F.sum(F.size("links")).cast("long").alias("html_links_cnt"),
            F.md5(
                F.concat_ws(
                    "|",
                    F.array_sort(F.flatten(F.collect_list("_anchor_strs"))),
                )
            ).alias("anchors_md5"),
            F.sum(F.size("_anchor_strs")).cast("long").alias("anchors_cnt"),
        )
    )
    from harness_aws_etl_pipeline_spark.operators.html import (
        extract_sitemap_urls,
        markdown_anchors,
    )

    md_rows = spark.createDataFrame(
        list(enumerate(_MD_FIXTURE)), "mid long, md string"
    )
    md_agg = md_rows.withColumn(
        "_md_anchor_strs",
        F.transform(
            markdown_anchors("md"),
            lambda a: F.concat(a["href"], F.lit(">"), a["text"]),
        ),
    ).agg(
        F.md5(
            F.concat_ws(
                "|", F.array_sort(F.collect_list(markdown_to_text("md")))
            )
        ).alias("md_text_md5"),
        F.sum(F.size(markdown_links("md"))).cast("long").alias("md_links_cnt"),
        F.md5(
            F.concat_ws(
                "|", F.array_sort(F.flatten(F.collect_list("_md_anchor_strs")))
            )
        ).alias("md_anchors_md5"),
        F.sum(F.size("_md_anchor_strs")).cast("long").alias("md_anchors_cnt"),
    )
    sm_rows = spark.createDataFrame([(0, _SITEMAP_FIXTURE)], "sid long, sm string")
    sm_agg = sm_rows.agg(
        F.md5(
            F.concat_ws(
                "|",
                F.array_sort(
                    F.flatten(F.collect_list(extract_sitemap_urls("sm")))
                ),
            )
        ).alias("sm_urls_md5"),
        F.sum(F.size(extract_sitemap_urls("sm"))).cast("long").alias("sm_urls_cnt"),
    )
    # warc-source legs (sources/warc.py, round 6): write the planted
    # response records through build_warc in BOTH layouts (plain +
    # per-record-gzip, the crawl-archive form), plus a warcinfo and a
    # request record that the default record_types filter must drop,
    # then re-read with read_warc. Aggregates are collected INSIDE the
    # tempdir scope (binaryFile is lazy — the files must outlive the
    # scan) and ride the panel as a literal 1-row frame, the
    # sink_roundtrip pattern. warc_body_len_sum pins the HTTP-envelope
    # split (Content-Length header stripped, entity body measured);
    # warc_gzip_ok pins layout parity (same (uri, payload) set from
    # both files).
    import os
    import tempfile

    from harness_aws_etl_pipeline_spark.sources.warc import (
        build_warc,
        http_response,
        read_warc,
    )

    warc_recs = [
        {"type": "warcinfo", "payload": b"software: spark-graft\r\n"},
        {
            "type": "request",
            "uri": _WARC_FIXTURE[0][0],
            "payload": b"GET /zero HTTP/1.1\r\nHost: w.example.com\r\n\r\n",
        },
    ] + [
        {
            "type": "response",
            "uri": u,
            "payload": http_response(b.encode(), status=s, content_type=c),
        }
        for (u, s, c, b) in _WARC_FIXTURE
    ]
    with tempfile.TemporaryDirectory(prefix="warc_panel_") as tmp:
        os.makedirs(f"{tmp}/plain")
        os.makedirs(f"{tmp}/gz")
        with open(f"{tmp}/plain/a.warc", "wb") as fh:
            fh.write(build_warc(warc_recs))
        with open(f"{tmp}/gz/a.warc.gz", "wb") as fh:
            fh.write(build_warc(warc_recs, per_record_gzip=True))
        plain = read_warc(spark, f"{tmp}/plain")
        gz = read_warc(spark, f"{tmp}/gz")

        def _keyed(df: DataFrame) -> DataFrame:
            return df.select("target_uri", F.md5("payload").alias("pmd5"))

        a, b = _keyed(plain), _keyed(gz)
        gzip_ok = int(a.exceptAll(b).union(b.exceptAll(a)).count() == 0)
        wrow = plain.agg(
            F.count(F.lit(1)).cast("long").alias("warc_resp_cnt"),
            F.sum("http_status").cast("long").alias("warc_status_sum"),
            F.sum("payload_length").cast("long").alias("warc_body_len_sum"),
            F.md5(
                F.concat_ws("|", F.array_sort(F.collect_list("target_uri")))
            ).alias("warc_uri_md5"),
            F.sum((F.col("content_type") == "text/html").cast("long")).alias(
                "warc_ct_html_cnt"
            ),
        ).first()
    warc_agg = spark.createDataFrame(
        [
            (
                wrow["warc_resp_cnt"],
                wrow["warc_status_sum"],
                wrow["warc_body_len_sum"],
                wrow["warc_uri_md5"],
                wrow["warc_ct_html_cnt"],
                gzip_ok,
            )
        ],
        "warc_resp_cnt long, warc_status_sum long, warc_body_len_sum long, "
        "warc_uri_md5 string, warc_ct_html_cnt long, warc_gzip_ok long",
    )
    # PDF round-trip leg (round 9): planted latin-1 texts go through
    # encode_pdf (objects + Flate stream + classic xref) and come back
    # via the FULL extraction machinery (xref load, page-tree walk,
    # stream decode, content-stream text ops) — the md5s of the
    # extracted strings must equal the md5s of the literals the
    # oracle restates in SQL (the planted-fact convention)
    from harness_aws_etl_pipeline_spark.operators.pdf import (
        encode_pdf,
        pdf_extract_column,
    )

    pdf_texts = [
        "alpha document text",
        "beta (with parens) and \\ backslash",
        "gamma third planted page",
    ]
    pdf_rows = spark.createDataFrame(
        [(i, bytearray(encode_pdf([t]))) for i, t in enumerate(pdf_texts)],
        "doc_id long, payload binary",
    )
    pdf_agg = pdf_extract_column(
        pdf_rows, "payload", text_col="_pdf_text", pages_col=None
    ).agg(
        F.md5(
            F.concat_ws(
                "|", F.array_sort(F.collect_list(F.md5(F.encode("_pdf_text", "utf-8"))))
            )
        ).alias("pdf_rt_md5"),
        F.count("_pdf_text").cast("long").alias("pdf_rt_cnt"),
    )
    return (
        fp_agg.crossJoin(F.broadcast(red_agg))
        .crossJoin(F.broadcast(tc_planted))
        .crossJoin(F.broadcast(dec_agg))
        .crossJoin(F.broadcast(tc_corpus))
        .crossJoin(F.broadcast(html_agg))
        .crossJoin(F.broadcast(md_agg))
        .crossJoin(F.broadcast(sm_agg))
        .crossJoin(F.broadcast(warc_agg))
        .crossJoin(F.broadcast(pdf_agg))
    )


ORACLE_FINGERPRINT = r"""
SELECT fp.*, red.*, tc.*, dec.*, tcc.*, html.*, md.*, sm.*, warc.*, pdfrt.*
FROM (
  SELECT COUNT(DISTINCT md5(text)) AS distinct_md5,
         COUNT(DISTINCT fp_rolling) AS distinct_rolling,
         MIN(md5(text)) AS min_md5,
         CAST(SUM(fp_rolling) AS BIGINT) AS rolling_sum
  FROM (
    SELECT text,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(list_filter(string_split_regex(text, '\s+'), t -> t != ''),
                              t -> CAST(LENGTH(t) AS BIGINT))),
             (acc, x) -> (acc * 31 + x) % 1000000007) AS fp_rolling
    FROM documents
  )
) fp, (
  SELECT COUNT(*) AS emails_redacted, COUNT(*) AS numbers_redacted,
         CAST(0 AS BIGINT) AS emails_left
  FROM documents
) red, (
  -- expected NFKC -> clean_text outputs of the planted literals; the
  -- EXPECTED strings are Unicode-standard facts (DuckDB has no NFKC),
  -- the sort/agg/md5 machinery is SQL-side
  SELECT md5(string_agg(v, '|' ORDER BY v)) AS tc_planted_md5,
         CAST(COUNT(v) AS BIGINT) AS tc_planted_nonnull
  FROM (VALUES ('EMBED'), ('a bc'), ('fine XII 1'),
               ('multi space and newline'), ('xyz')) AS c(v)
) tc, (
  -- expected charset-decode outputs of the planted byte payloads
  -- (BOM / header / meta-sniff / utf-8 / latin-1 chain); the EXPECTED
  -- strings are codec-standard facts, machinery SQL-side
  SELECT md5(string_agg(v, '|' ORDER BY v)) AS dec_planted_md5,
         CAST(COUNT(v) AS BIGINT) AS dec_planted_nonnull
  FROM (VALUES ('héllo'), ('café'),
               ('<meta charset="koi8-r"><p>да</p>'),
               ('héllo'), ('café')) AS d(v)
) dec, (
  -- clean_text re-derived in RE2: strip controls/zero-width, fold
  -- whitespace+separators, trim the single edge spaces
  SELECT CAST(SUM(CASE WHEN cleaned <> text THEN 1 ELSE 0 END) AS BIGINT) AS tc_changed_cnt,
         CAST(SUM(LENGTH(cleaned)) AS BIGINT) AS tc_len_sum
  FROM (SELECT text,
          regexp_replace(regexp_replace(regexp_replace(text,
            '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f-\x9f\x{200b}-\x{200d}\x{2060}\x{feff}\x{00ad}]', '', 'g'),
            '[\s\p{Z}]+', ' ', 'g'),
            '^ | $', '', 'g') AS cleaned
        FROM documents)
) tcc, (__HTML_ARM__) html, (__MD_ARM__) md, (__SM_ARM__) sm,
(__WARC_ARM__) warc, (
  -- PDF round-trip: the engine writes/extracts these literals through
  -- real object/stream/xref machinery; SQL restates their md5s
  SELECT md5(string_agg(m, '|' ORDER BY m)) AS pdf_rt_md5,
         CAST(COUNT(*) AS BIGINT) AS pdf_rt_cnt
  FROM (SELECT md5(v) AS m
        FROM (VALUES ('alpha document text'),
                     ('beta (with parens) and \ backslash'),
                     ('gamma third planted page')) p(v))
) pdfrt
"""


def _oracle_fingerprint() -> str:
    """ORACLE_FINGERPRINT with the html-extraction arm: the planted
    HTML literals through the SAME RE2 regexp/replace chain as
    operators/html.py (the chain runs once over a text/title UNION —
    the engine applies html_to_text to both the document and the
    extracted <title>)."""
    values = ",\n    ".join(
        f"({i}, '" + h.replace("'", "''") + "')"
        for i, h in enumerate(_HTML_FIXTURE)
    )
    html_arm = (
        r"""
  WITH hraw(hid, h) AS (VALUES
    """
        + values
        + r"""
  ),
  src(kind, hid, v) AS (
    SELECT 'text', hid, h FROM hraw
    UNION ALL
    SELECT 'title', hid,
           regexp_extract(h, '(?is)<title[^>]*>(.*?)</title\s*>', 1)
    FROM hraw
  ),
  chain AS (
    SELECT kind, hid,
      regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        replace(replace(replace(replace(replace(replace(replace(
          regexp_replace(regexp_replace(regexp_replace(regexp_replace(
            regexp_replace(v,
              '(?is)<script\b[^>]*>.*?</script\s*>', ' ', 'g'),
              '(?is)<style\b[^>]*>.*?</style\s*>', ' ', 'g'),
              '(?s)<!--.*?-->', ' ', 'g'),
              '(?i)<br\s*/?>|</(p|div|li|h[1-6]|tr|table|ul|ol|blockquote)\s*>',
              chr(10), 'g'),
              '(?s)<[^>]*>', ' ', 'g'),
          '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
          '&#39;', chr(39)), '&apos;', chr(39)), '&amp;', '&'),
        '[ \t\x0B\f\r]+', ' ', 'g'),
        ' ?\n ?', chr(10), 'g'),
        '\n{3,}', chr(10) || chr(10), 'g'),
        '^[ \n]+|[ \n]+$', '', 'g') AS txt
    FROM src
  )
  ,
  -- anchor (href, text) pairs: group-1/group-2 extractions of the SAME
  -- pattern stay positionally aligned, so plain 1-based list indexing
  -- re-derives the pairing; text cleanup = tag strip + explicit
  -- whitespace-class collapse + edge trim, the operator's exact chain
  anch AS (
    SELECT
      regexp_extract_all(h, '(?is)<a\b[^>]*\bhref="([^"]*)"[^>]*>(.*?)</a\s*>', 1) AS dh,
      regexp_extract_all(h, '(?is)<a\b[^>]*\bhref="([^"]*)"[^>]*>(.*?)</a\s*>', 2) AS dt,
      regexp_extract_all(h, '(?is)<a\b[^>]*\bhref=''([^'']*)''[^>]*>(.*?)</a\s*>', 1) AS sh,
      regexp_extract_all(h, '(?is)<a\b[^>]*\bhref=''([^'']*)''[^>]*>(.*?)</a\s*>', 2) AS st
    FROM hraw
  ),
  anchor_strs AS (
    SELECT UNNEST(list_concat(
      list_transform(range(1, len(dh) + 1), i -> dh[i] || '>' ||
        regexp_replace(regexp_replace(regexp_replace(dt[i],
          '(?s)<[^>]*>', ' ', 'g'), '[ \t\n\x0B\f\r]+', ' ', 'g'),
          '^ | $', '', 'g')),
      list_transform(range(1, len(sh) + 1), i -> sh[i] || '>' ||
        regexp_replace(regexp_replace(regexp_replace(st[i],
          '(?s)<[^>]*>', ' ', 'g'), '[ \t\n\x0B\f\r]+', ' ', 'g'),
          '^ | $', '', 'g'))
    )) AS s
    FROM anch
  )
  SELECT
    (SELECT md5(string_agg(txt, '|' ORDER BY txt)) FROM chain
     WHERE kind = 'text') AS html_text_md5,
    (SELECT md5(string_agg(txt, '|' ORDER BY txt)) FROM chain
     WHERE kind = 'title') AS html_title_md5,
    (SELECT CAST(SUM(
        len(regexp_extract_all(h, '(?is)<a\b[^>]*\bhref="([^"]*)"', 1))
      + len(regexp_extract_all(h, '(?is)<a\b[^>]*\bhref=''([^'']*)''', 1))
     ) AS BIGINT) FROM hraw) AS html_links_cnt,
    (SELECT md5(string_agg(s, '|' ORDER BY s)) FROM anchor_strs)
      AS anchors_md5,
    (SELECT CAST(COUNT(*) AS BIGINT) FROM anchor_strs) AS anchors_cnt
"""
    )
    md_values = ",\n    ".join(
        f"({i}, '" + m.replace("'", "''") + "')"
        for i, m in enumerate(_MD_FIXTURE)
    )
    md_arm = (
        r"""
  WITH mraw(mid, m) AS (VALUES
    """
        + md_values
        + r"""
  ),
  mchain AS (
    SELECT mid,
      regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      regexp_replace(m,
        '(?m)^```[^\n]*$', '', 'g'),
        '`([^`\n]*)`', '\1', 'g'),
        '(?m)^#{1,6}[ \t]+', '', 'g'),
        '!\[([^\]]*)\]\(([^)]*)\)', '\1', 'g'),
        '\[([^\]]*)\]\(([^)]*)\)', '\1', 'g'),
        '(\*\*|__)([^*_\n]+)(\*\*|__)', '\2', 'g'),
        '(\*|\b_)([^*_\n]+)(\*|_\b)', '\2', 'g'),
        '~~([^~\n]+)~~', '\1', 'g'),
        '(?m)^>[ \t]?', '', 'g'),
        '(?m)^[ \t]*([-*+]|\d+\.)[ \t]+', '', 'g'),
        '(?m)^[ \t]*([-*_][ \t]*){3,}$', '', 'g'),
        '(?m)^\|', '', 'g'),
        '\|', ' ', 'g'),
        '[ \t]+', ' ', 'g'),
        ' ?\n ?', chr(10), 'g'),
        '\n{3,}', chr(10) || chr(10), 'g'),
        '^[ \n]+|[ \n]+$', '', 'g') AS txt
    FROM mraw
  )
  ,
  -- markdown anchors: images stripped first (RE2 has no lookbehind),
  -- then one pattern's group-1 (text) / group-2 (href) extractions
  -- paired by index; same cleanup chain as the html anchor legs
  manch AS (
    SELECT
      regexp_extract_all(base, '\[([^\]]*)\]\(([^)]*)\)', 1) AS mt,
      regexp_extract_all(base, '\[([^\]]*)\]\(([^)]*)\)', 2) AS mh
    FROM (SELECT regexp_replace(m, '!\[[^\]]*\]\([^)]*\)', '', 'g') AS base
          FROM mraw)
  ),
  manchor_strs AS (
    SELECT UNNEST(
      list_transform(range(1, len(mh) + 1), i -> mh[i] || '>' ||
        regexp_replace(regexp_replace(regexp_replace(mt[i],
          '(?s)<[^>]*>', ' ', 'g'), '[ \t\n\x0B\f\r]+', ' ', 'g'),
          '^ | $', '', 'g'))
    ) AS s
    FROM manch
  )
  SELECT
    (SELECT md5(string_agg(txt, '|' ORDER BY txt)) FROM mchain)
      AS md_text_md5,
    (SELECT CAST(SUM(
        len(regexp_extract_all(m, '!?\[[^\]]*\]\(([^)]*)\)', 1))
     ) AS BIGINT) FROM mraw) AS md_links_cnt,
    (SELECT md5(string_agg(s, '|' ORDER BY s)) FROM manchor_strs)
      AS md_anchors_md5,
    (SELECT CAST(COUNT(*) AS BIGINT) FROM manchor_strs) AS md_anchors_cnt
"""
    )
    sm_arm = (
        r"""
  SELECT md5(string_agg(u, '|' ORDER BY u)) AS sm_urls_md5,
         CAST(COUNT(*) AS BIGINT) AS sm_urls_cnt
  FROM (
    SELECT UNNEST(regexp_extract_all(
      '"""
        + _SITEMAP_FIXTURE
        + r"""',
      '(?is)<loc\s*>\s*([^<]*?)\s*</loc\s*>', 1)) AS u
  )
"""
    )
    # warc arm: the planted response records as VALUES — counts,
    # status/byte sums, and the sorted-URI md5 re-derived SQL-side.
    # warc_gzip_ok is an in-engine layout-parity work-check (plain vs
    # per-record-gzip read sets), pinned to 1.
    warc_values = ",\n    ".join(
        "('{}', {}, '{}', '{}')".format(
            u, s, c, b.replace("'", "''")
        )
        for (u, s, c, b) in _WARC_FIXTURE
    )
    warc_arm = (
        r"""
  SELECT CAST(COUNT(*) AS BIGINT) AS warc_resp_cnt,
         CAST(SUM(status) AS BIGINT) AS warc_status_sum,
         CAST(SUM(LENGTH(body)) AS BIGINT) AS warc_body_len_sum,
         md5(string_agg(uri, '|' ORDER BY uri)) AS warc_uri_md5,
         CAST(SUM(CASE WHEN ctype = 'text/html' THEN 1 ELSE 0 END) AS BIGINT)
           AS warc_ct_html_cnt,
         CAST(1 AS BIGINT) AS warc_gzip_ok
  FROM (VALUES
    """
        + warc_values
        + r"""
  ) AS w(uri, status, ctype, body)
"""
    )
    return (
        ORACLE_FINGERPRINT.replace("__HTML_ARM__", html_arm)
        .replace("__MD_ARM__", md_arm)
        .replace("__SM_ARM__", sm_arm)
        .replace("__WARC_ARM__", warc_arm)
    )


# --------------------------------------------------------------- dedup


def q_ngram_jaccard(
    spark: SparkSession,
    sf: str,
    pairs: DataFrame | None = None,
    stats: tuple[int, int, int, float] | None = None,
) -> DataFrame:
    """[EXT] n-gram Jaccard near-dup detection with inverted-index
    blocking (operators/dedup_fuzzy.py:ngram_jaccard_pairs) at a low
    threshold so the synthetic corpus yields pairs to check.

    5-gram shingles: short shingles over a small vocabulary explode
    the candidate-pair space quadratically (the reason production
    dedup pipelines use 5-13-gram shingles).

    Chunking legs (fused in from the former standalone ``chunking``
    entry — two 1-row panels share one slot of the driver's 50-entry
    correctness window): overlapping 32-token windows (stride 24)
    rolled up to chunk counts + token accounting."""
    from harness_aws_etl_pipeline_spark.operators.textops import chunk_documents

    docs = _t(spark, sf, "documents")
    if pairs is None:
        pairs = ngram_jaccard_pairs(docs, n=5, threshold=0.2)
    # r13 round-2: when the caller's driver gate already collected the
    # pair graph (stats from near_dup_panel_stats), pair_cnt and
    # jaccard_sum are driver values — ride as literal columns instead
    # of a second aggregation job over the same persisted pairs
    # (guide §5: the driver already holds the data). Distributed agg
    # unchanged when no stats were passed (standalone call / over-gate).
    jac = None if stats is not None else pairs.agg(
        F.count(F.lit(1)).alias("pair_cnt"),
        F.coalesce(F.round(F.sum("jaccard"), 4), F.lit(0.0)).alias("jaccard_sum"),
    )
    # with_text=False: this panel only aggregates chunk accounting —
    # skip materializing every chunk's string (guide §2.3: project
    # before the opaque expression; values unchanged)
    chunks = chunk_documents(docs, chunk_tokens=32, overlap=8, with_text=False)
    # docs_chunked was countDistinct(doc_id) — an extra distinct
    # shuffle. Every chunked doc emits exactly one chunk_idx=0 row
    # (chunk indices start at 0 per doc), so counting those rows is the
    # same number in one pass (guide §2.4; value unchanged).
    chunk_agg = chunks.agg(
        F.count(F.lit(1)).alias("chunk_cnt"),
        F.coalesce(
            F.sum((F.col("chunk_idx") == 0).cast("long")), F.lit(0)
        ).cast("long").alias("docs_chunked"),
        F.sum("n_tokens").cast("long").alias("token_total"),
        F.max("chunk_idx").cast("int").alias("max_chunk_idx"),
    )
    if stats is not None:
        return chunk_agg.select(
            F.lit(stats[2]).cast("long").alias("pair_cnt"),
            F.lit(float(stats[3])).alias("jaccard_sum"),
            "chunk_cnt",
            "docs_chunked",
            "token_total",
            "max_chunk_idx",
        )
    return jac.crossJoin(F.broadcast(chunk_agg))


ORACLE_NGRAM_JACCARD = r"""
WITH sets AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, GREATEST(len(toks) - 4, 0) + 1),
           i -> list_aggregate(list_slice(toks, i, i + 4), 'string_agg', ' ')
         )) AS shingles
  FROM (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t != '') AS toks
        FROM documents)
  WHERE len(toks) >= 5
),
posting AS (
  SELECT doc_id, len(shingles) AS set_size, UNNEST(shingles) AS shingle FROM sets
),
filtered AS (
  SELECT * FROM posting WHERE shingle IN (
    SELECT shingle FROM posting GROUP BY shingle HAVING COUNT(*) <= 1000
  )
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.set_size AS size_a,
         b.set_size AS size_b, COUNT(*) AS inter
  FROM filtered a JOIN filtered b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
),
jac AS (
  SELECT ROUND(CAST(inter AS DOUBLE) / (size_a + size_b - inter), 6) AS jaccard
  FROM pairs
)
SELECT j.*, c.*
FROM (
  SELECT COUNT(*) AS pair_cnt,
         COALESCE(ROUND(SUM(jaccard), 4), 0.0) AS jaccard_sum
  FROM jac WHERE jaccard >= 0.2
) j, (
  WITH toks AS (
    SELECT doc_id, len(list_filter(string_split_regex(text, '\s+'), t -> t != '')) AS n
    FROM documents
  ),
  chunks AS (
    SELECT doc_id, n,
           CASE WHEN n <= 0 THEN 0
                WHEN n <= 8 THEN 1
                ELSE CAST(CEIL((n - 8) / 24.0) AS BIGINT) END AS n_chunks
    FROM toks
  ),
  exploded AS (
    SELECT doc_id, n, UNNEST(range(0, n_chunks)) AS chunk_idx FROM chunks
  )
  SELECT COUNT(*) AS chunk_cnt,
         COUNT(DISTINCT doc_id) AS docs_chunked,
         CAST(SUM(LEAST(n - chunk_idx * 24, 32)) AS BIGINT) AS token_total,
         CAST(MAX(chunk_idx) AS INT) AS max_chunk_idx
  FROM exploded
) c
"""


def q_tfidf(spark: SparkSession, sf: str) -> DataFrame:
    """[EXT] corpus term analytics panel: top-15 TF-IDF terms (scaled-
    long sum of the 6dp-rounded per-doc scores) UNION the top-20 word
    bigrams by occurrence UNION the BM25 top-5 documents for two
    planted queries (`operators/retrieval.py` — Lucene-idf BM25 with
    scaled-long per-term sums, ranks bit-stable; re-derived term-by-
    term in the oracle) — all deterministically tie-broken, unified
    under (src, term, cnt, score)."""
    from harness_aws_etl_pipeline_spark.operators.retrieval import bm25_topk
    from harness_aws_etl_pipeline_spark.operators.textops import tf_idf, top_ngrams

    docs = _t(spark, sf, "documents")
    queries = spark.createDataFrame(
        [("wq", "window scan"), ("vs", "vector spark hash")],
        "query_id string, query string",
    )
    bm25 = bm25_topk(docs, queries, k=5).select(
        F.lit("bm25").alias("src"),
        F.concat_ws(":", "query_id", F.col("doc_id").cast("string")).alias(
            "term"
        ),
        F.col("rk").cast("long").alias("cnt"),
        "score",
    )
    scored = tf_idf(docs, min_df=2)
    terms = (
        scored.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(
                F.sum(F.round(F.col("tfidf") * 1_000_000).cast("long")).cast("double")
                / 1_000_000.0,
                4,
            ).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col("term"))
        .limit(15)
        .select(F.lit("tfidf").alias("src"), "term", "cnt", "score")
    )
    bigrams = top_ngrams(docs, n=2, k=20).select(
        F.lit("bigram").alias("src"),
        F.col("ngram").alias("term"),
        "cnt",
        F.col("cnt").cast("double").alias("score"),
    )
    return terms.unionByName(bigrams).unionByName(bm25).orderBy(
        "src", F.col("score").desc(), F.col("term")
    )


ORACLE_TFIDF = r"""
WITH tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM (
    SELECT doc_id,
           UNNEST(list_transform(list_filter(string_split_regex(text, '\s+'), t -> t != ''),
                                 t -> lower(t))) AS term
    FROM documents
  ) GROUP BY doc_id, term
),
dfreq AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term HAVING COUNT(*) >= 2
),
scored AS (
  SELECT tf.doc_id, tf.term,
         ROUND(tf.tf * ln((SELECT COUNT(*) FROM documents) * 1.0 / dfreq.df), 6) AS tfidf
  FROM tf JOIN dfreq ON tf.term = dfreq.term
)
SELECT * FROM (
  SELECT 'tfidf' AS src, term, cnt, score FROM (
    SELECT term, COUNT(*) AS cnt,
           ROUND(CAST(SUM(CAST(ROUND(tfidf * 1000000) AS BIGINT)) AS DOUBLE) / 1000000.0, 4)
             AS score
    FROM scored GROUP BY term ORDER BY score DESC, term LIMIT 15
  )
  UNION ALL
  SELECT 'bigram', term, cnt, CAST(cnt AS DOUBLE) FROM (
    SELECT bg AS term, COUNT(*) AS cnt FROM (
      SELECT UNNEST(CASE WHEN len(toks) >= 2
                    THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
                    ELSE CAST([] AS VARCHAR[]) END) AS bg
      FROM (SELECT list_transform(list_filter(string_split_regex(text, '\s+'), t -> t != ''),
                                  t -> lower(t)) AS toks
            FROM documents)
    ) GROUP BY bg ORDER BY cnt DESC, term LIMIT 20
  )
  UNION ALL
  -- BM25 arm: full Lucene-idf BM25 re-derived term by term with the
  -- engine's exact arithmetic (per-term contribution rounded to a
  -- scaled long BEFORE the per-(query, doc) sum; rank on the integer)
  SELECT 'bm25' AS src,
         query_id || ':' || CAST(doc_id AS VARCHAR) AS term,
         rk AS cnt,
         ROUND(CAST(score_scaled AS DOUBLE) / 1000000.0, 6) AS score
  FROM (
    SELECT query_id, doc_id, score_scaled,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY score_scaled DESC, doc_id) AS rk
    FROM (
      SELECT q.query_id, tf.doc_id,
             SUM(CAST(ROUND(
               q.qtf
               * ln(1 + (CAST((SELECT COUNT(*) FROM documents) AS DOUBLE) - dfq.df + 0.5)
                        / (dfq.df + 0.5))
               * ((tf.tf * 2.2)
                  / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl
                       / (SELECT CAST(SUM(dl) AS DOUBLE)
                            / CAST((SELECT COUNT(*) FROM documents) AS DOUBLE)
                          FROM (SELECT doc_id, COUNT(*) AS dl FROM (
                                  SELECT doc_id, UNNEST(list_transform(list_filter(
                                    string_split_regex(text, '\s+'), t -> t != ''),
                                    t -> lower(t))) AS term FROM documents)
                                GROUP BY doc_id)))))
               * 1000000) AS BIGINT)) AS score_scaled
      FROM tf
      JOIN (SELECT query_id, term, COUNT(*) AS qtf FROM (
              SELECT query_id, UNNEST(list_transform(list_filter(
                string_split_regex(qtext, '\s+'), t -> t != ''),
                t -> lower(t))) AS term
              FROM (VALUES ('wq', 'window scan'),
                           ('vs', 'vector spark hash')) v(query_id, qtext)
            ) GROUP BY query_id, term) q ON tf.term = q.term
      JOIN (SELECT term, COUNT(*) AS df FROM tf GROUP BY term) dfq
        ON tf.term = dfq.term
      JOIN (SELECT doc_id, COUNT(*) AS dl FROM (
              SELECT doc_id, UNNEST(list_transform(list_filter(
                string_split_regex(text, '\s+'), t -> t != ''),
                t -> lower(t))) AS term FROM documents)
            GROUP BY doc_id) dl ON tf.doc_id = dl.doc_id
      GROUP BY q.query_id, tf.doc_id
    )
  ) WHERE rk <= 5
) ORDER BY src, score DESC, term
"""


def q_train_test_split(spark: SparkSession, sf: str) -> DataFrame:
    """[EXT] deterministic train/test split, fast xxhash64 path.
    Split sizes sum to the corpus and are disjoint by construction;
    the VALUES of the split mechanism are oracle-checked through the
    md5 variant in `fuzzy_dedup_verify` (equivalence test-pinned)."""
    from harness_aws_etl_pipeline_spark.operators.sampling import split_train_test

    docs = _t(spark, sf, "documents")
    train, test = split_train_test(docs, "doc_id", train_frac=0.8)
    return (
        train.agg(F.count(F.lit(1)).alias("train_cnt"))
        .crossJoin(F.broadcast(test.agg(F.count(F.lit(1)).alias("test_cnt"))))
        .crossJoin(F.broadcast(docs.agg(F.count(F.lit(1)).alias("total_cnt"))))
    )


def q_pandas_udaf(spark: SparkSession, sf: str) -> DataFrame:
    """[EXT] GROUPED_AGG pandas UDAF: per-event-type exact median —
    deterministic (sorted exact doubles, no accumulation order), so the
    DuckDB quantile_cont oracle matches bit-for-bit."""
    from harness_aws_etl_pipeline_spark.operators.udaf import group_medians

    ev = _t(spark, sf, "events")
    return group_medians(ev, "event_type", "value")


ORACLE_PANDAS_UDAF = """
SELECT event_type, ROUND(quantile_cont(value, 0.5), 6) AS median_value
FROM events GROUP BY event_type ORDER BY event_type
"""


def q_asof_join(spark: SparkSession, sf: str) -> DataFrame:
    """[EXT] temporal-join panel, one row.

    As-of legs: for every click event, the latest prior (or
    simultaneous) purchase value of the same user — window-composition
    implementation (operators/asof.py) vs DuckDB's native ASOF JOIN.
    Range legs (fused in from the former standalone ``range_join``
    entry — two 1-row panels share one slot of the driver's 50-entry
    correctness window): clicks × per-user error windows ([error ts,
    +30 min)) — bucketed equi-join implementation vs the oracle's
    plain inequality join."""
    from harness_aws_etl_pipeline_spark.operators.asof import as_of_join, range_join
    from harness_aws_etl_pipeline_spark.plans.catalog import dsum

    ev = _t(spark, sf, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts"), F.col("value").alias("p_value")
    )
    joined = as_of_join(
        clicks, purchases, on="user_id", left_time="ts", right_time="p_ts",
        value_cols=["p_value"],
    )
    asof_agg = joined.agg(
        F.count(F.lit(1)).alias("click_cnt"),
        F.count("p_value_asof").alias("matched_cnt"),
        dsum(F.coalesce(F.col("p_value_asof"), F.lit(0.0)), "matched_value_sum"),
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("user_id"),
        F.col("ts").alias("w_start"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("w_end"),
    )
    ranged = range_join(
        clicks, errors, "ts", "w_start", "w_end", on="user_id",
        bucket_width_seconds=1800,
    )
    range_agg = ranged.agg(
        F.count(F.lit(1)).alias("pair_cnt"),
        F.countDistinct("event_id").alias("affected_clicks"),
    )
    # interval-overlap leg (round 6): purchase windows [ts, +15 min) ×
    # error windows [ts, +30 min) per user — the bucketed
    # first-shared-bucket implementation vs the oracle's plain
    # inequality join (operators/asof.py interval_overlap_join)
    from harness_aws_etl_pipeline_spark.operators.asof import (
        interval_overlap_join,
    )

    p_windows = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id"),
        F.col("ts").alias("p_start"),
        (F.col("ts") + F.expr("INTERVAL 15 MINUTES")).alias("p_end"),
    )
    overlapped = interval_overlap_join(
        p_windows, errors, "p_start", "p_end", "w_start", "w_end",
        on="user_id", bucket_width_seconds=900,
    )
    overlap_agg = overlapped.agg(
        F.count(F.lit(1)).alias("overlap_cnt"),
        F.countDistinct("user_id").alias("overlap_users"),
    )
    return asof_agg.crossJoin(F.broadcast(range_agg)).crossJoin(F.broadcast(overlap_agg))


ORACLE_ASOF = """
SELECT a.*, r.*, o.*
FROM (
  SELECT COUNT(*) AS click_cnt,
         COUNT(p_value) AS matched_cnt,
         CAST(SUM(CAST(ROUND(CAST(COALESCE(p_value, 0.0) AS DOUBLE) * 10000) AS BIGINT)) AS DOUBLE)
           / 10000.0 AS matched_value_sum
  FROM (
    SELECT c.event_id, p.value AS p_value
    FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
    ASOF LEFT JOIN
         (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
    ON c.user_id = p.user_id AND c.ts >= p.ts
  )
) a, (
  SELECT COUNT(*) AS pair_cnt, COUNT(DISTINCT c.event_id) AS affected_clicks
  FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
  JOIN (SELECT user_id, ts AS w_start, ts + INTERVAL 30 MINUTE AS w_end
        FROM events WHERE event_type = 'error') e
    ON c.user_id = e.user_id AND c.ts >= e.w_start AND c.ts < e.w_end
) r, (
  SELECT COUNT(*) AS overlap_cnt, COUNT(DISTINCT p.user_id) AS overlap_users
  FROM (SELECT user_id, ts AS p_start, ts + INTERVAL 15 MINUTE AS p_end
        FROM events WHERE event_type = 'purchase') p
  JOIN (SELECT user_id, ts AS w_start, ts + INTERVAL 30 MINUTE AS w_end
        FROM events WHERE event_type = 'error') e
    ON p.user_id = e.user_id AND p.p_start < e.w_end AND e.w_start < p.p_end
) o
"""


# planted link graph for the pagerank legs of ``near_dup_clusters``
# (the graph-algorithm panel): a hub (C: three in-links), a dangling
# node (E: no out-edges — its mass redistributes), two leaves with a
# rank TIE (D, F — pins deterministic tie handling), one 2-cycle.
_PR_EDGES = (
    ("A", "B"), ("A", "C"), ("B", "C"), ("B", "E"),
    ("C", "A"), ("D", "C"), ("F", "A"), ("F", "E"),
)
_PR_ITERS = 3
_PR_SCALE = 10**12
_PR_DAMP = 85
# one-row result of the planted-fixture pagerank, held in the catalog's
# value memo under an explicit key after the first panel call: the
# fixture is sf-independent, and keying it on its input plan cannot
# work (createDataFrame over a Python list plans a LogicalRDD, a fresh
# RDD on every call, so two calls' plans are never semantically equal).
# The operator itself is timed at scale by the bench pagerank leg, not
# by this panel.
# HITS legs on the SAME planted graph: 2 full hub/auth rounds at an
# int64-safe scale (scale² × Σw < 9e18 with Σw = 8 caps scale at
# ~1.06e9). Two rounds, not three: the fixture runs lazy (one nested
# plan) and the un-cut tree grows ~4× per round — at 3 rounds Catalyst
# ANALYSIS alone cost ~12 s of the panel's first call; 2 rounds still
# exercise both propagate directions from a non-uniform vector. Held
# in the value memo like the pagerank row.
_HITS_ITERS = 2
_HITS_SCALE = 10**9
# triangle/clustering legs (fused round 8): a planted graph with two
# triangles sharing an edge, a 4-clique (4 more), a pendant, an
# isolated edge, AND deliberately messy rows — a reversed duplicate,
# a parallel duplicate, a self-loop — pinning the simple-graph
# collapse cross-engine. Held in the value memo like the pagerank row.
_TRI_EDGES = (
    ("A", "B"), ("B", "C"), ("A", "C"),
    ("B", "D"), ("C", "D"),
    ("D", "E"),
    ("B", "A"), ("A", "A"),
    ("P", "Q"), ("P", "R"), ("P", "S"),
    ("Q", "R"), ("Q", "S"), ("R", "S"),
    ("P", "Q"),
    ("X", "Y"),
)

# r14 (ADVICE): distinguishes "stats not probed yet" (default) from an
# explicit ``stats=None`` meaning "the caller already probed and the
# pair graph exceeds the driver gate" — without the sentinel the fused
# caller's over-gate result triggered a second limit(1M+1).collect() of
# the same pair graph here, paying the expensive gating collect twice
# on exactly the inputs where it is most costly.
_STATS_UNPROBED: object = object()


def q_near_dup_clusters(
    spark: SparkSession,
    sf: str,
    pairs: DataFrame | None = None,
    stats: tuple[int, int, int, float] | None | object = _STATS_UNPROBED,
) -> DataFrame:
    """[EXT] graph-algorithm panel: near-dup clustering + canonical
    dedup (Jaccard pairs → connected components → one survivor per
    cluster; oracle recomputes the pairs in SQL and resolves
    components with a recursive-CTE transitive closure + MIN label),
    plus the fixed-point PageRank legs (operators/linkgraph.py, fused
    round 6): three power iterations over the planted graph — the
    integer arithmetic is bit-reproducible across partitionings AND
    engines, so the oracle re-derives the full rank vector (md5),
    total mass, and argmax node with three unrolled iterations in
    DuckDB — plus the HITS legs (same graph, three unrolled hub/auth
    rounds with integer L1 renormalization: full-vector md5 + top hub
    + top authority)."""
    from harness_aws_etl_pipeline_spark.operators.dedup_fuzzy import (
        near_dup_clusters,
        near_dup_panel_stats,
    )

    docs = _t(spark, sf, "documents")
    # read by clustering, dedup, and the summary legs — memoized so
    # repeated verification runs reuse one bounded entry instead of
    # accreting CacheManager entries (operators/memo.py); the fused
    # panel passes its shared ``pairs`` in so the subtree is built and
    # executed once per call, not once per panel
    if pairs is None:
        pairs = _PAIRS_MEMO.get_or_persist(
            ngram_jaccard_pairs(docs, n=5, threshold=0.2)
        )
    # r13 shuffle elimination (guide §2.4): cluster_cnt was a
    # countDistinct (extra shuffle) and survivor_cnt an anti-join of
    # the full corpus against the losers (join + wide doc scan). Both
    # are exact algebra over the SAME cluster labels: every component
    # is labeled by its min member, which labels itself, so
    #   cluster_cnt   == Σ(doc_id = cluster_id)        (one-pass agg)
    #   survivor_cnt  == total_docs − losers
    #                 == total_docs − (clustered_docs − cluster_cnt)
    # — the identical arithmetic the DuckDB oracle has always used for
    # survivor_cnt. And when the pair graph fits the driver gate the
    # clustering already collects every edge (union-find), so the two
    # counts come straight off the union-find structure
    # (near_dup_panel_stats) instead of round-tripping N label rows
    # through createDataFrame + an aggregation job (guide §1.2/§5:
    # don't re-distribute data the driver already holds). Over the
    # gate, the distributed labels + aggregation run as before.
    # deduplicate_near (the materializing operator) stays exercised by
    # tests and the bench drift leg; values are unchanged either way.
    if stats is _STATS_UNPROBED:
        stats = near_dup_panel_stats(pairs)
    # r13 round-2: when the gate passed, the summary values are plain
    # Python ints on the driver — attach them (and the memoized
    # pr/hits/tri fixture rows below) as LITERAL columns instead of
    # createDataFrame + crossJoin(broadcast(...)): every such crossJoin
    # was a BroadcastExchange materialization job per call (guide §2.4
    # remove shuffles outright / §5 the driver already holds the data).
    total = docs.agg(F.count(F.lit(1)).alias("__docs_total"))
    if stats is not None:
        clustered_docs, cluster_cnt = stats[0], stats[1]
        base = total.select(
            F.lit(clustered_docs).cast("long").alias("clustered_docs"),
            F.lit(cluster_cnt).cast("long").alias("cluster_cnt"),
            (
                F.col("__docs_total")
                - F.lit(clustered_docs)
                + F.lit(cluster_cnt)
            ).cast("long").alias("survivor_cnt"),
        )
    else:
        # stats is None ⇒ the gate probe ALREADY saw > driver_threshold
        # edges (here or in the fused caller) — driver_threshold=0 makes
        # near_dup_clusters skip straight to the distributed min-label
        # propagation behind a limit(1) probe instead of re-collecting
        # up to 1M+1 edges a third time (empty graphs cannot reach this
        # branch: near_dup_panel_stats returns a zero tuple for them)
        clusters = near_dup_clusters(pairs, driver_threshold=0)
        summary = clusters.agg(
            F.count(F.lit(1)).alias("clustered_docs"),
            F.coalesce(
                F.sum((F.col("doc_id") == F.col("cluster_id")).cast("long")),
                F.lit(0),
            ).cast("long").alias("cluster_cnt"),
        )
        base = summary.crossJoin(F.broadcast(total)).select(
            "clustered_docs",
            "cluster_cnt",
            (
                F.col("__docs_total")
                - F.col("clustered_docs")
                + F.col("cluster_cnt")
            ).alias("survivor_cnt"),
        )
    pr_row = _VALUE_MEMO.get_or_key("pr_row", lambda: _pr_row(spark))
    hits_row = _VALUE_MEMO.get_or_key("hits_row", lambda: _hits_row(spark))
    tri_row = _VALUE_MEMO.get_or_key("tri_row", lambda: _tri_row(spark))
    # the fixture rows are plain Python values once computed — ride as
    # literal columns (zero joins, zero broadcast jobs), same schema as
    # the former createDataFrame + crossJoin(broadcast(...)) chain
    return base.select(
        "clustered_docs",
        "cluster_cnt",
        "survivor_cnt",
        F.lit(pr_row[0]).alias("pr_rank_md5"),
        F.lit(pr_row[1]).cast("long").alias("pr_mass"),
        F.lit(pr_row[2]).alias("pr_top_node"),
        F.lit(hits_row[0]).alias("hits_md5"),
        F.lit(hits_row[1]).alias("hits_top_hub"),
        F.lit(hits_row[2]).alias("hits_top_auth"),
        F.lit(tri_row[0]).alias("tri_md5"),
        F.lit(tri_row[1]).cast("long").alias("tri_total"),
    )


def _pr_row(spark: SparkSession) -> tuple:
    from harness_aws_etl_pipeline_spark.operators.linkgraph import pagerank

    # lazy mode: the 3 iterations compile into ONE nested plan (no
    # persists/checkpoints to schedule) — right for a 6-node fixture
    pr = pagerank(
        spark.createDataFrame(list(_PR_EDGES), "src string, dst string"),
        iterations=_PR_ITERS,
        damping_pct=_PR_DAMP,
        scale=_PR_SCALE,
        partitions=2,
        lazy=True,
    )
    row = pr.agg(
        F.md5(
            F.concat_ws(
                "|",
                F.array_sort(
                    F.collect_list(
                        F.concat_ws(
                            ":", "node", F.col("rank_scaled").cast("string")
                        )
                    )
                ),
            )
        ).alias("pr_rank_md5"),
        F.sum("rank_scaled").cast("long").alias("pr_mass"),
        F.max(F.struct("rank_scaled", "node"))["node"].alias("pr_top_node"),
    ).first()
    return (row["pr_rank_md5"], row["pr_mass"], row["pr_top_node"])


def _hits_row(spark: SparkSession) -> tuple:
    from harness_aws_etl_pipeline_spark.operators.linkgraph import hits

    ht = hits(
        spark.createDataFrame(list(_PR_EDGES), "src string, dst string"),
        iterations=_HITS_ITERS,
        scale=_HITS_SCALE,
        partitions=2,
        lazy=True,
    )
    hrow = ht.agg(
        F.md5(
            F.concat_ws(
                "|",
                F.array_sort(
                    F.collect_list(
                        F.concat_ws(
                            ":",
                            "node",
                            F.col("hub_scaled").cast("string"),
                            F.col("auth_scaled").cast("string"),
                        )
                    )
                ),
            )
        ).alias("hits_md5"),
        F.max(F.struct("hub_scaled", "node"))["node"].alias("hits_top_hub"),
        F.max(F.struct("auth_scaled", "node"))["node"].alias("hits_top_auth"),
    ).first()
    return (hrow["hits_md5"], hrow["hits_top_hub"], hrow["hits_top_auth"])


def _tri_row(spark: SparkSession) -> tuple:
    from harness_aws_etl_pipeline_spark.operators.linkgraph import (
        triangles,
    )

    tr = triangles(
        spark.createDataFrame(list(_TRI_EDGES), "src string, dst string")
    )
    trow = tr.agg(
        F.md5(
            F.concat_ws(
                "|",
                F.array_sort(
                    F.collect_list(
                        F.concat_ws(
                            ":",
                            "node",
                            F.col("deg").cast("string"),
                            F.col("tri_cnt").cast("string"),
                        )
                    )
                ),
            )
        ).alias("tri_md5"),
        (F.sum("tri_cnt") / 3).cast("long").alias("tri_total"),
    ).first()
    return (trow["tri_md5"], trow["tri_total"])


ORACLE_NEAR_DUP_CLUSTERS = r"""
WITH RECURSIVE sets AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, GREATEST(len(toks) - 4, 0) + 1),
           i -> list_aggregate(list_slice(toks, i, i + 4), 'string_agg', ' ')
         )) AS shingles
  FROM (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t != '') AS toks
        FROM documents)
  WHERE len(toks) >= 5
),
posting AS (
  SELECT doc_id, len(shingles) AS set_size, UNNEST(shingles) AS shingle FROM sets
),
filtered AS (
  SELECT * FROM posting WHERE shingle IN (
    SELECT shingle FROM posting GROUP BY shingle HAVING COUNT(*) <= 1000
  )
),
pairs AS (
  SELECT doc_a, doc_b FROM (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.set_size AS size_a,
           b.set_size AS size_b, COUNT(*) AS inter
    FROM filtered a JOIN filtered b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2, 3, 4
  ) WHERE ROUND(CAST(inter AS DOUBLE) / (size_a + size_b - inter), 6) >= 0.2
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
),
reach AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
labels AS (
  SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id
  FROM reach GROUP BY src
)__PR_CTES__
SELECT (SELECT COUNT(*) FROM labels) AS clustered_docs,
       (SELECT COUNT(DISTINCT cluster_id) FROM labels) AS cluster_cnt,
       (SELECT (SELECT COUNT(*) FROM documents)
               - (SELECT COUNT(*) FROM labels WHERE doc_id != cluster_id))
         AS survivor_cnt,
       (SELECT md5(string_agg(s, '|' ORDER BY s))
        FROM (SELECT node || ':' || CAST(r AS VARCHAR) AS s FROM pr__K__))
         AS pr_rank_md5,
       (SELECT CAST(SUM(r) AS BIGINT) FROM pr__K__) AS pr_mass,
       (SELECT node FROM pr__K__ ORDER BY r DESC, node DESC LIMIT 1)
         AS pr_top_node,
       (SELECT md5(string_agg(s, '|' ORDER BY s))
        FROM (SELECT h.node || ':' || CAST(h.s AS VARCHAR) || ':'
                     || CAST(a.s AS VARCHAR) AS s
              FROM hb__HK__ h JOIN au__HK__ a ON a.node = h.node))
         AS hits_md5,
       (SELECT node FROM hb__HK__ ORDER BY s DESC, node DESC LIMIT 1)
         AS hits_top_hub,
       (SELECT node FROM au__HK__ ORDER BY s DESC, node DESC LIMIT 1)
         AS hits_top_auth,
       (SELECT md5(string_agg(s, '|' ORDER BY s))
        FROM (SELECT d.n || ':' || CAST(d.d AS VARCHAR) || ':'
                     || CAST(COALESCE(c.tc, 0) AS VARCHAR) AS s
              FROM tri_deg d LEFT JOIN tri_pernode c ON c.node = d.n))
         AS tri_md5,
       (SELECT COUNT(*) FROM tri_tri) AS tri_total
"""


def _oracle_near_dup_clusters() -> str:
    """ORACLE_NEAR_DUP_CLUSTERS with the pagerank arm: the planted
    edges as VALUES, out-degrees, and ``_PR_ITERS`` UNROLLED power
    iterations (pr1..prK as plain CTEs — no recursion needed for a
    fixed constant, and the single-reference restriction on recursive
    CTEs would forbid the dangling-mass subquery anyway). Every step
    is integer add/multiply/floor-divide, so DuckDB reproduces the
    engine's fixed-point ranks bit-for-bit."""
    nodes = sorted({x for edge in _PR_EDGES for x in edge})
    n = len(nodes)
    init = _PR_SCALE // n
    base = (_PR_SCALE * (100 - _PR_DAMP) // 100) // n
    d = _PR_DAMP
    edge_values = ", ".join(f"('{s}', '{t}')" for s, t in _PR_EDGES)
    ctes = [
        f""",
pr_edges(src, dst) AS (VALUES {edge_values}),
pr_nodes AS (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM pr_edges UNION ALL SELECT dst FROM pr_edges)
),
pr_outdeg AS (SELECT src, COUNT(*) AS od FROM pr_edges GROUP BY src),
pr0 AS (SELECT node, CAST({init} AS BIGINT) AS r FROM pr_nodes)"""
    ]
    # HITS legs: same planted graph, _HITS_ITERS unrolled hub/auth
    # rounds. Each round is auth_raw(j) = Σ_{i→j} hub(i) then integer
    # L1-renormalization to _HITS_SCALE, then the mirror for hubs —
    # add/multiply/floor-divide only, so DuckDB reproduces the
    # engine's fixed-point vectors bit-for-bit.
    hits_init = _HITS_SCALE // n
    hits_ctes = [f""",
hb0 AS (SELECT node, CAST({hits_init} AS BIGINT) AS s FROM pr_nodes)"""]
    for i in range(1, _HITS_ITERS + 1):
        for raw_name, vec, key_join, key_grp, prev in (
            (f"au{i}_raw", f"au{i}", "src", "dst", f"hb{i - 1}"),
            (f"hb{i}_raw", f"hb{i}", "dst", "src", f"au{i}"),
        ):
            hits_ctes.append(f""",
{raw_name} AS (
  SELECT e.{key_grp} AS node, SUM(v.s) AS raw
  FROM pr_edges e JOIN {prev} v ON v.node = e.{key_join}
  GROUP BY e.{key_grp}
),
{vec} AS (
  SELECT n.node,
         CAST(CASE WHEN t.tot > 0
                   THEN (COALESCE(r.raw, 0) * {_HITS_SCALE}) // t.tot
                   ELSE 0 END AS BIGINT) AS s
  FROM pr_nodes n
  LEFT JOIN {raw_name} r ON r.node = n.node
  CROSS JOIN (SELECT COALESCE(SUM(raw), 0) AS tot FROM {raw_name}) t
)""")
    for i in range(1, _PR_ITERS + 1):
        prev = f"pr{i - 1}"
        ctes.append(f""",
pr{i} AS (
  SELECT n.node,
         CAST({base} + (COALESCE(c.in_sum, 0) * {d}) // 100
              + ((dg.dang * {d}) // 100) // {n} AS BIGINT) AS r
  FROM pr_nodes n
  LEFT JOIN (
    SELECT e.dst AS node, SUM(p.r // o.od) AS in_sum
    FROM {prev} p
    JOIN pr_outdeg o ON o.src = p.node
    JOIN pr_edges e ON e.src = p.node
    GROUP BY e.dst
  ) c ON c.node = n.node
  CROSS JOIN (
    SELECT COALESCE(SUM(p.r), 0) AS dang
    FROM {prev} p LEFT JOIN pr_outdeg o ON o.src = p.node
    WHERE o.src IS NULL
  ) dg
)""")
    # triangle legs: the planted edges as VALUES, the same
    # degree-ordered orientation + wedge-close join the operator
    # runs — exact integers throughout, so md5 matches bit-for-bit
    tri_values = ", ".join(f"('{a}', '{b}')" for a, b in _TRI_EDGES)
    tri_ctes = f""",
tri_e(a, b) AS (VALUES {tri_values}),
tri_und AS (SELECT DISTINCT LEAST(a, b) AS u, GREATEST(a, b) AS v
            FROM tri_e WHERE a <> b),
tri_deg AS (SELECT n, COUNT(*) AS d
            FROM (SELECT u AS n FROM tri_und
                  UNION ALL SELECT v FROM tri_und)
            GROUP BY 1),
tri_o AS (
  SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
              THEN e.u ELSE e.v END AS s,
         CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
              THEN e.v ELSE e.u END AS t,
         CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
              THEN dv.d ELSE du.d END AS dt
  FROM tri_und e
  JOIN tri_deg du ON du.n = e.u
  JOIN tri_deg dv ON dv.n = e.v
),
tri_tri AS (
  SELECT e1.s AS a, e1.t AS b, e2.t AS c
  FROM tri_o e1
  JOIN tri_o e2 ON e1.s = e2.s
              AND (e1.dt < e2.dt OR (e1.dt = e2.dt AND e1.t < e2.t))
  JOIN tri_o e3 ON e3.s = e1.t AND e3.t = e2.t
),
tri_pernode AS (
  SELECT node, COUNT(*) AS tc
  FROM (SELECT a AS node FROM tri_tri
        UNION ALL SELECT b FROM tri_tri
        UNION ALL SELECT c FROM tri_tri)
  GROUP BY 1
)"""
    return (
        ORACLE_NEAR_DUP_CLUSTERS.replace(
            "__PR_CTES__", "".join(ctes) + "".join(hits_ctes) + tri_ctes
        )
        .replace("__HK__", str(_HITS_ITERS))
        .replace("__K__", str(_PR_ITERS))
    )


def q_minhash_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """[EXT] MinHash+LSH near-dup pipeline, fast blake2b/numpy path.
    The full pipeline's VALUES (signatures, band candidates, estimated
    Jaccards) are oracle-checked through the md5 variant in
    `fuzzy_dedup_verify`; this entry keeps the scale path exercised
    and benchmarked."""
    docs = _t(spark, sf, "documents")
    pairs = minhash_dedup_pairs(docs, n=5, num_hashes=64, bands=16, threshold=0.3)
    return pairs.agg(
        F.count(F.lit(1)).alias("pair_cnt"),
        F.coalesce(F.round(F.avg("est_jaccard"), 4), F.lit(0.0)).alias("avg_est_jaccard"),
    )


def q_simhash(spark: SparkSession, sf: str) -> DataFrame:
    """[EXT] SimHash sketching + banded near-pair search, fast
    xxhash64/blake2b path. Sketch+banding+Hamming VALUES are oracle-
    checked through the md5-bitstring variant in `fuzzy_dedup_verify`."""
    docs = _t(spark, sf, "documents")
    sk = simhash(docs)
    pairs = simhash_near_pairs(sk, max_hamming=3)
    sketches = sk.agg(F.countDistinct("simhash").alias("distinct_sketches"))
    return sketches.crossJoin(F.broadcast(pairs.agg(F.count(F.lit(1)).alias("near_pair_cnt"))))


# ---------------------------------------------------------- similarity


def q_sim_bruteforce_topk(spark: SparkSession, sf: str) -> DataFrame:
    """[EXT] exact cosine top-5 neighbors for 4 query vectors, via the
    designated scale path: Arrow-batched BLAS matmul with local top-k
    + global merge (similarity.py:brute_force_topk_arrow). Results are
    identical to the expression variant (same ordering and tie-break)
    — this entry drives the Arrow path through the value oracle; the
    expression variant is equivalence-pinned in
    tests/test_ext_operators.py."""
    from harness_aws_etl_pipeline_spark.operators.similarity import (
        brute_force_topk_arrow,
    )

    emb = _t(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 4)
    return brute_force_topk_arrow(emb, queries, k=5).orderBy("query_id", "rank")


ORACLE_SIM_TOPK = """
WITH q AS (SELECT vec_id AS query_id, embedding AS q_vec FROM embeddings WHERE vec_id < 4),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         CASE WHEN norm_q * norm_e > 0 THEN dot / (norm_q * norm_e) ELSE 0.0 END AS cosine
  FROM (
    SELECT q.query_id, e.vec_id,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(range(1, len(q.q_vec) + 1),
               i -> CAST(q.q_vec[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))),
             (acc, x) -> acc + x) AS dot,
           sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(q.q_vec, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))),
             (acc, x) -> acc + x)) AS norm_q,
           sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(e.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))),
             (acc, x) -> acc + x)) AS norm_e
    FROM q, embeddings e WHERE e.vec_id != q.query_id
  ) s JOIN q ON s.query_id = q.query_id JOIN embeddings e ON s.vec_id = e.vec_id
)
SELECT query_id, rank, neighbor_id, ROUND(cosine, 6) AS cosine FROM (
  SELECT query_id, neighbor_id, cosine,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
  FROM scored
) WHERE rank <= 5 ORDER BY query_id, rank
"""


def q_embedding_near_dup(spark: SparkSession, sf: str) -> DataFrame:
    """[EXT] embedding-cosine near-dup pairs at 0.9, Arrow fast path.
    The bucketing+verification VALUES are oracle-checked through the
    expression-fold twin in `fuzzy_dedup_verify` (same hyperplanes;
    Arrow/expression equivalence test-pinned)."""
    from harness_aws_etl_pipeline_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )

    emb = _t(spark, sf, "embeddings")
    pairs = embedding_near_dup_pairs(emb, threshold=0.9, dim=64)
    return pairs.agg(
        F.count(F.lit(1)).alias("pair_cnt"),
        F.coalesce(F.round(F.avg("cosine"), 4), F.lit(0.0)).alias("avg_cosine"),
    )


def q_semantic_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """[EXT] SemDeDup semantic dedup, fast path: learned k-means
    quantizer + greedy keep-farthest-from-centroid, Arrow gram-matrix
    per cluster (operators/semdedup.py). The dominance/fixed-centroid
    expression twin is value-oracled inside `fuzzy_dedup_verify`;
    greedy-vs-dominance and Arrow-vs-expression equivalences are
    pinned in tests/test_semdedup.py."""
    from harness_aws_etl_pipeline_spark.operators.semdedup import (
        semantic_dedup_stats,
    )

    emb = _t(spark, sf, "embeddings")
    return semantic_dedup_stats(emb, k=8, threshold=0.9, dim=64)


def q_sim_ivf_topk(spark: SparkSession, sf: str) -> DataFrame:
    """[EXT] IVF approximate top-k: coarse-quantized inverted lists,
    nprobe-bounded exact scoring — the genuinely-approximate config.
    The IVF machinery's VALUES are oracle-checked at exhaustive
    probing in `ann_topk_verify` (provably = brute force); recall at
    this nprobe is pinned by tests."""
    from harness_aws_etl_pipeline_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 4)
    return ivf_topk(emb, queries, k=5, n_centroids=8, nprobe=3).orderBy(
        "query_id", "rank"
    )


def q_skew_salted_agg(spark: SparkSession, sf: str) -> DataFrame:
    """Skew-safe two-phase aggregation (operators/skew.py): salted
    partials merged per key — results identical to a plain groupBy,
    which is exactly what the oracle checks."""
    from harness_aws_etl_pipeline_spark.operators.skew import salted_aggregate

    ev = _t(spark, sf, "events")
    scaled = ev.withColumn(
        "value", F.round(F.col("value").cast("double") * 10000).cast("long")
    )
    out = salted_aggregate(
        scaled, ["event_type"], {"value": "sum", "event_id": "count"}, buckets=8
    )
    return out.select(
        "event_type",
        (F.col("sum_value").cast("double") / 10000.0).alias("value_sum"),
        F.col("count_event_id").alias("event_cnt"),
    ).orderBy("event_type")


ORACLE_SKEW_AGG = """
SELECT event_type,
       CAST(SUM(CAST(ROUND(CAST(value AS DOUBLE) * 10000) AS BIGINT)) AS DOUBLE)
         / 10000.0 AS value_sum,
       COUNT(event_id) AS event_cnt
FROM events GROUP BY event_type ORDER BY event_type
"""


def q_rules_surface(spark: SparkSession, sf: str) -> DataFrame:
    """§2.12 TransformationRule surface: cap totals + drop low-value
    orders via a RuleSet, aggregate the result.

    Fused (round 9): the Python UDTF leg — the table-valued corner of
    the UDF surface (operators/udtf.py:ChunkTextUDTF, Spark 4's
    ``udtf`` API invoked through SQL LATERAL). Every (doc, chunk_idx,
    chunk_text, n_tokens) row the UDTF emits over the documents table
    is re-derived in DuckDB from the same whitespace-token/stride
    arithmetic (regexp split + list slices + generate_series), md5'd
    sorted — cross-engine value parity for imperative Python
    table-function output."""
    from harness_aws_etl_pipeline_spark.operators.rules import (
        RuleSet,
        column_rule,
        filter_rule,
    )
    from harness_aws_etl_pipeline_spark.operators.udtf import (
        chunk_documents_udtf,
    )
    from harness_aws_etl_pipeline_spark.plans.catalog import dsum

    o = _t(spark, sf, "orders")
    rules = RuleSet(
        [
            column_rule(
                "cap_total", F.col("o_totalprice") > 300000, "o_totalprice", F.lit(300000.0)
            ),
            filter_rule("drop_small", F.col("o_totalprice") >= 1000),
        ]
    )
    out, _ = rules.apply(o)
    docs = _t(spark, sf, "documents").select("doc_id", "text")
    ch = chunk_documents_udtf(spark, docs, chunk_tokens=32, overlap=8)
    cs = F.concat_ws(
        ":",
        F.col("doc_id").cast("string"),
        F.col("chunk_idx").cast("string"),
        F.col("n_tokens").cast("string"),
        F.md5("chunk_text"),
    )
    udtf_leg = ch.agg(
        F.count(F.lit(1)).cast("long").alias("udtf_chunks"),
        F.md5(F.concat_ws("|", F.array_sort(F.collect_list(cs)))).alias(
            "udtf_md5"
        ),
    )
    return out.agg(
        F.count(F.lit(1)).alias("order_cnt"), dsum("o_totalprice", "capped_revenue")
    ).crossJoin(F.broadcast(udtf_leg))


ORACLE_RULES = """
SELECT * FROM (
SELECT COUNT(*) AS order_cnt,
       CAST(SUM(CAST(ROUND(CAST(
           CASE WHEN o_totalprice > 300000 THEN 300000.0 ELSE o_totalprice END
         AS DOUBLE) * 10000) AS BIGINT)) AS DOUBLE) / 10000.0 AS capped_revenue
FROM orders
WHERE (CASE WHEN o_totalprice > 300000 THEN 300000.0 ELSE o_totalprice END) >= 1000
) base CROSS JOIN (
  -- Python-UDTF chunking re-derived: Java-\\s whitespace tokens,
  -- stride 24 (chunk 32, overlap 8), short tail kept, <=overlap docs
  -- one chunk, empty docs emit nothing
  WITH toks AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(text, '[ \t\n\x0B\f\r]+'),
                       x -> x <> '') AS t
    FROM documents),
  nn AS (SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0),
  ch AS (
    SELECT doc_id, i AS chunk_idx,
           array_to_string(t[i*24+1 : i*24+32], ' ') AS chunk_text,
           LEAST(n - i*24, 32) AS n_tokens
    FROM nn, LATERAL (SELECT UNNEST(generate_series(0,
         CAST(CASE WHEN n <= 8 THEN 0
                   ELSE CEIL((n - 8)/24.0) - 1 END AS BIGINT))) AS i) g),
  strs AS (SELECT CAST(doc_id AS VARCHAR) || ':' || CAST(chunk_idx AS VARCHAR)
                  || ':' || CAST(n_tokens AS VARCHAR) || ':' || md5(chunk_text) AS s
           FROM ch)
  SELECT CAST(COUNT(*) AS BIGINT) AS udtf_chunks,
         md5(string_agg(s, '|' ORDER BY s)) AS udtf_md5
  FROM strs
) udtf_arm
"""


def q_sim_lsh_topk(spark: SparkSession, sf: str) -> DataFrame:
    """[EXT] LSH-bucketed approximate top-k, Arrow fast path —
    oracle-backed: the SQL oracle recomputes the hyperplane buckets
    with sequential folds over the same plane literals, and the Arrow
    matmul signs agree with the expression folds bit-for-bit on this
    frozen corpus (equality also pinned in
    tests/test_ext_operators.py), so the full (query, rank, neighbor,
    cosine) ranking of the DEFAULT path is value-checked directly."""
    emb = _t(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 4)
    return lsh_bucketed_topk(emb, queries, dim=64, k=5, num_tables=4, bits=8).orderBy(
        "query_id", "rank"
    )


def _oracle_sim_lsh_topk() -> str:
    planes = _sql_planes_values(num_tables=4, bits=8, dim=64)
    return f"""
WITH planes(tbl, bit, w) AS (
  VALUES
    {planes}
),
bits_t AS (
  SELECT e.vec_id, p.tbl, p.bit,
         CASE WHEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                list_transform(range(1, 65),
                  i -> CAST(e.embedding[i] AS DOUBLE) * p.w[i])),
              (acc, x) -> acc + x) >= 0 THEN '1' ELSE '0' END AS bc
  FROM embeddings e, planes p
),
buck AS (
  SELECT vec_id, tbl, string_agg(bc, '' ORDER BY bit) AS bucket
  FROM bits_t GROUP BY vec_id, tbl
),
cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM buck q
  JOIN buck c ON q.tbl = c.tbl AND q.bucket = c.bucket
  WHERE q.vec_id < 4 AND c.vec_id != q.vec_id
),
scored AS (
  SELECT query_id, neighbor_id, {_SQL_COSINE} AS cosine
  FROM (
    SELECT c.query_id, c.neighbor_id,
{_sql_vec_fold("q.embedding", "n.embedding", 64)}
    FROM cand c
    JOIN embeddings q ON q.vec_id = c.query_id
    JOIN embeddings n ON n.vec_id = c.neighbor_id
  )
)
SELECT query_id, rank, neighbor_id, ROUND(cosine, 6) AS cosine
FROM (
  SELECT query_id, neighbor_id, cosine,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
  FROM scored
) WHERE rank <= 5
ORDER BY query_id, rank
"""


def q_embedding_norms(spark: SparkSession, sf: str) -> DataFrame:
    """[EXT] embedding profiling: dims + L2 norms rolled up by label."""
    emb = _t(spark, sf, "embeddings")
    stats = embedding_stats(emb)
    return (
        stats.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("vec_cnt"),
            F.max("dim").cast("long").alias("dim"),
            # scaled-long sum of the 6dp-rounded norms (order-exact)
            F.round(
                F.sum(F.round(F.col("l2_norm") * 1_000_000).cast("long")).cast(
                    "double"
                )
                / 1_000_000.0,
                4,
            ).alias("norm_sum"),
        )
        .orderBy("label")
    )


ORACLE_EMBEDDING_NORMS = """
SELECT label, COUNT(*) AS vec_cnt, MAX(len(embedding)) AS dim,
       ROUND(CAST(SUM(CAST(ROUND(ROUND(sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         list_transform(embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))),
         (acc, x) -> acc + x)), 6) * 1000000) AS BIGINT)) AS DOUBLE) / 1000000.0, 4) AS norm_sum
FROM embeddings GROUP BY label ORDER BY label
"""


# ---------------------------------------------------------- multimodal


def q_multimodal_meta(spark: SparkSession, sf: str) -> DataFrame:
    """[EXT] binary-column plumbing + REAL image decode: attach payload
    + metadata, run the Arrow-batched stub feature extraction, roll up
    metadata — then synthesize a real P6 PPM per document (dimensions
    and solid color closed-form in doc_id), decode it with the pure
    numpy decoder and verify the decoded widths/heights/channel means
    against the oracle's closed forms."""
    docs = _t(spark, sf, "documents")
    media = attach_binary_payload(docs, source_col="text", id_col="doc_id", modality="text_blob")
    feats = extract_features(media)
    f3 = F.element_at("feature", 4).cast("double")
    feat_agg = feats.agg(
        F.count(F.lit(1)).alias("feat_cnt"),
        # feature bin 3 = bytes 0x60-0x7F (lowercase ASCII) — the
        # high-signal bin for text payloads. Scaled-long sum so the
        # accumulation order can't drift vs the oracle.
        F.round(
            F.sum(F.round(f3 * 1_000_000).cast("long")).cast("double") / 1_000_000.0, 4
        ).alias("f3_sum"),
    )
    # real decode path: w = 1 + id%16, h = 1 + id%8, solid pixel color
    # (id%256, id*7%256, id*13%256) → decoded means are exact integers
    decoded = extract_features(
        synthesize_ppm_media(docs, id_col="doc_id"), decode=True
    )
    img_agg = decoded.agg(
        F.sum(F.element_at("feature", 1)).cast("long").alias("width_sum"),
        F.sum(F.element_at("feature", 2)).cast("long").alias("height_sum"),
        F.sum(F.element_at("feature", 4)).cast("long").alias("red_sum"),
        F.sum(F.element_at("feature", 6)).cast("long").alias("blue_sum"),
    )
    # PNG leg: zlib IDAT inflate + scanline unfilter (filters 0-4
    # cycle by row) — w = 1 + id%12, h = 1 + id%6, color
    # (id*3%256, id*5%256, id*11%256), all closed-form in the id
    from harness_aws_etl_pipeline_spark.operators.multimodal import (
        synthesize_png_media,
    )

    png_decoded = extract_features(
        synthesize_png_media(docs, id_col="doc_id"), decode=True
    )
    png_agg = png_decoded.agg(
        F.sum(F.element_at("feature", 1)).cast("long").alias("png_width_sum"),
        F.sum(F.element_at("feature", 2)).cast("long").alias("png_height_sum"),
        F.sum(F.element_at("feature", 4)).cast("long").alias("png_red_sum"),
        F.sum(F.element_at("feature", 6)).cast("long").alias("png_blue_sum"),
    )
    # JPEG leg: full baseline entropy-decode + dequantize + IDCT +
    # YCbCr→RGB — solid GRAY q100 images round-trip exactly, so
    # decoded dims and the red-channel mean stay closed-form
    from harness_aws_etl_pipeline_spark.operators.multimodal import (
        synthesize_jpeg_media,
    )

    jpeg_decoded = extract_features(
        synthesize_jpeg_media(docs, id_col="doc_id"), decode=True
    )
    jpeg_agg = jpeg_decoded.agg(
        F.sum(F.element_at("feature", 1)).cast("long").alias("jpeg_width_sum"),
        F.sum(F.element_at("feature", 2)).cast("long").alias("jpeg_height_sum"),
        F.round(F.sum(F.element_at("feature", 4))).cast("long").alias("jpeg_gray_sum"),
    )
    # progressive-JPEG leg (round 9): identical closed forms emitted
    # through the SOF2 10-scan script — drives the successive-
    # approximation decode path (DC/AC first+refine, EOB runs) under
    # the same exact-round-trip oracle
    from harness_aws_etl_pipeline_spark.operators.multimodal import (
        synthesize_progressive_jpeg_media,
    )

    pjpeg_decoded = extract_features(
        synthesize_progressive_jpeg_media(docs, id_col="doc_id"), decode=True
    )
    pjpeg_agg = pjpeg_decoded.agg(
        F.sum(F.element_at("feature", 1)).cast("long").alias("pjpeg_width_sum"),
        F.sum(F.element_at("feature", 2)).cast("long").alias("pjpeg_height_sum"),
        F.round(F.sum(F.element_at("feature", 4))).cast("long").alias("pjpeg_gray_sum"),
    )
    # TIFF leg (round 9): striped baseline decode — compression
    # cycles none/PackBits/LZW, predictor and byte order toggle by
    # id, dims/solid color closed-form (operators/tiff.py)
    from harness_aws_etl_pipeline_spark.operators.multimodal import (
        synthesize_tiff_media,
    )

    tiff_decoded = extract_features(
        synthesize_tiff_media(docs, id_col="doc_id"), decode=True
    )
    tiff_agg = tiff_decoded.agg(
        F.sum(F.element_at("feature", 1)).cast("long").alias("tiff_width_sum"),
        F.sum(F.element_at("feature", 2)).cast("long").alias("tiff_height_sum"),
        F.sum(F.element_at("feature", 4)).cast("long").alias("tiff_red_sum"),
        F.sum(F.element_at("feature", 6)).cast("long").alias("tiff_blue_sum"),
    )
    # MJPG-AVI leg (round 9): frame-sample video decode — RIFF movi
    # walk + per-frame JPEG decode (operators/video.py); per-frame
    # count/width/mean closed-form in the id
    from harness_aws_etl_pipeline_spark.operators.multimodal import (
        synthesize_avi_media,
    )
    from harness_aws_etl_pipeline_spark.operators.video import (
        video_frame_features,
    )

    avi_frames = video_frame_features(synthesize_avi_media(docs, id_col="doc_id"))
    avi_agg = avi_frames.agg(
        F.count(F.lit(1)).cast("long").alias("avi_frame_cnt"),
        F.sum("width").cast("long").alias("avi_width_sum"),
        F.round(F.sum("mean")).cast("long").alias("avi_gray_sum"),
    )
    # WAV leg: RIFF chunk walk + 16-bit PCM decode — constant-signal
    # clips make decoded frame counts / mean / RMS closed-form in the
    # id (every value an exact integer, so the sums are exact)
    from harness_aws_etl_pipeline_spark.operators.multimodal import (
        extract_audio_features,
        synthesize_wav_media,
    )

    wav_decoded = extract_audio_features(
        synthesize_wav_media(docs, id_col="doc_id")
    )
    wav_agg = wav_decoded.agg(
        F.round(F.sum(F.element_at("feature", 3))).cast("long").alias("wav_frames_sum"),
        F.round(F.sum(F.element_at("feature", 5))).cast("long").alias("wav_mean_sum"),
        F.round(F.sum(F.element_at("feature", 6))).cast("long").alias("wav_rms_sum"),
    )
    # FLAC leg (round 10): the SAME signals through the FLAC codec —
    # decoded sums must equal the WAV leg's (container invariance
    # under the driver's value gate, not just the unit suites)
    from harness_aws_etl_pipeline_spark.operators.multimodal import (
        synthesize_flac_media,
    )

    flac_decoded = extract_audio_features(
        synthesize_flac_media(docs, id_col="doc_id")
    )
    flac_agg = flac_decoded.agg(
        F.round(F.sum(F.element_at("feature", 3))).cast("long").alias("flac_frames_sum"),
        F.round(F.sum(F.element_at("feature", 5))).cast("long").alias("flac_mean_sum"),
        F.round(F.sum(F.element_at("feature", 6))).cast("long").alias("flac_rms_sum"),
    )
    # ADPCM leg (round 11): the SAME signals through 4-bit IMA ADPCM —
    # constant clips survive the lossy codec bit-exactly and the fact
    # chunk trims block padding, so all three containers share sums
    from harness_aws_etl_pipeline_spark.operators.multimodal import (
        synthesize_adpcm_media,
    )

    adpcm_decoded = extract_audio_features(
        synthesize_adpcm_media(docs, id_col="doc_id")
    )
    adpcm_agg = adpcm_decoded.agg(
        F.round(F.sum(F.element_at("feature", 3))).cast("long").alias("adpcm_frames_sum"),
        F.round(F.sum(F.element_at("feature", 5))).cast("long").alias("adpcm_mean_sum"),
        F.round(F.sum(F.element_at("feature", 6))).cast("long").alias("adpcm_rms_sum"),
    )
    # media-hash legs (round 6): planted payloads whose perceptual-
    # hash bits are HAND-COMPUTABLE facts of the algorithms — the
    # oracle states them as constants (the NFKC planted-fact
    # convention; SQL cannot decode pixels/PCM, but the expected bits
    # follow from the hash definitions alone):
    #  - aHash of a half-white/half-black 8×8: 32 ones then 32 zeros
    #    = 0xFFFFFFFF00000000 → signed −4294967296; its inverse image
    #    gives the complement 4294967295
    #  - dHash of a strictly left-to-right-increasing 8×9 gradient:
    #    all 64 gradient bits set → signed −1
    #  - Haitsma–Kalker fingerprint of silence: every band energy 0,
    #    every double-difference 0 → hash 0
    #  - banded Hamming joins must find exactly the planted identical
    #    pair in each modality (and nothing else)
    import numpy as _np

    from harness_aws_etl_pipeline_spark.operators.audiohash import (
        audio_hashes,
        audio_near_dup_pairs,
    )
    from harness_aws_etl_pipeline_spark.operators.imagehash import (
        image_hashes,
        image_near_dup_pairs,
    )
    from harness_aws_etl_pipeline_spark.operators.multimodal import (
        encode_bmp,
        encode_wav,
    )

    split = _np.zeros((8, 8, 3), dtype=_np.uint8)
    split[:4, :, :] = 255
    grad = _np.zeros((8, 9, 3), dtype=_np.uint8)
    for j in range(9):
        grad[:, j, :] = j * 10
    imgs = spark.createDataFrame(
        [
            (1, bytearray(encode_bmp(split))),
            (2, bytearray(encode_bmp(split))),
            (3, bytearray(encode_bmp(grad))),
            (4, bytearray(encode_bmp((255 - split).astype(_np.uint8)))),
        ],
        "doc_id long, payload binary",
    )
    ah = image_hashes(imgs, method="ahash")
    dh = image_hashes(imgs, method="dhash")
    silence = bytearray(encode_wav(_np.zeros(2048, dtype=_np.int16), 16000))
    wavs = spark.createDataFrame(
        [(1, silence), (2, silence)], "doc_id long, payload binary"
    )
    hash_agg = (
        ah.agg(
            F.min(F.when(F.col("doc_id") == 1, F.col("simhash")))
            .cast("long")
            .alias("mh_ahash_split"),
            F.min(F.when(F.col("doc_id") == 4, F.col("simhash")))
            .cast("long")
            .alias("mh_ahash_inv"),
        )
        .crossJoin(F.broadcast(
            dh.agg(
                F.min(F.when(F.col("doc_id") == 3, F.col("simhash")))
                .cast("long")
                .alias("mh_dhash_grad")
            )
        ))
        .crossJoin(F.broadcast(
            image_near_dup_pairs(imgs, method="ahash", max_hamming=3).agg(
                F.count(F.lit(1)).cast("long").alias("mh_img_pairs"),
                F.coalesce(F.sum("hamming"), F.lit(0))
                .cast("long")
                .alias("mh_img_hamming_sum"),
            )
        ))
        .crossJoin(F.broadcast(
            audio_hashes(wavs).agg(
                F.max("simhash").cast("long").alias("mh_afp_silence")
            )
        ))
        .crossJoin(F.broadcast(
            audio_near_dup_pairs(wavs).agg(
                F.count(F.lit(1)).cast("long").alias("mh_audio_pairs")
            )
        ))
    )
    # container-probe legs (round 6): REAL MP4 box walking + MP3
    # frame-header parsing over synthesized valid containers whose
    # probed duration/dims are closed-form in the id (no codec decode
    # involved — container metadata only, operators/containers.py)
    from harness_aws_etl_pipeline_spark.operators.containers import (
        probe_media_containers,
        synthesize_mp3_media,
        synthesize_mp4_media,
    )

    mp4_probe = probe_media_containers(synthesize_mp4_media(docs, id_col="doc_id"))
    mp4_agg = mp4_probe.agg(
        F.sum("duration_ms").cast("long").alias("mp4_dur_sum"),
        F.sum("width").cast("long").alias("mp4_w_sum"),
        F.sum("height").cast("long").alias("mp4_h_sum"),
        F.sum("n_tracks").cast("long").alias("mp4_tracks_sum"),
    )
    mp3_probe = probe_media_containers(synthesize_mp3_media(docs, id_col="doc_id"))
    mp3_agg = mp3_probe.agg(
        F.sum("duration_ms").cast("long").alias("mp3_dur_sum"),
        F.min("sample_rate").cast("long").alias("mp3_rate_min"),
        F.max("bitrate_kbps").cast("long").alias("mp3_kbps_max"),
    )
    return (
        media_summary(media)
        .crossJoin(F.broadcast(feat_agg))
        .crossJoin(F.broadcast(img_agg))
        .crossJoin(F.broadcast(png_agg))
        .crossJoin(F.broadcast(jpeg_agg))
        .crossJoin(F.broadcast(pjpeg_agg))
        .crossJoin(F.broadcast(tiff_agg))
        .crossJoin(F.broadcast(avi_agg))
        .crossJoin(F.broadcast(wav_agg))
        .crossJoin(F.broadcast(flac_agg))
        .crossJoin(F.broadcast(adpcm_agg))
        .crossJoin(F.broadcast(hash_agg))
        .crossJoin(F.broadcast(mp4_agg))
        .crossJoin(F.broadcast(mp3_agg))
    )


ORACLE_MULTIMODAL = r"""
SELECT 'text_blob' AS modality, COUNT(*) AS media_cnt,
       CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
       COUNT(DISTINCT text) AS distinct_payloads,
       COUNT(*) AS feat_cnt,
       ROUND(CAST(SUM(CAST(ROUND(CAST(LENGTH(regexp_replace(text, '[^\x60-\x7f]', '', 'g')) AS DOUBLE)
                 / octet_length(encode(text)) * 1000000) AS BIGINT)) AS DOUBLE) / 1000000.0, 4) AS f3_sum,
       CAST(SUM(1 + doc_id % 16) AS BIGINT) AS width_sum,
       CAST(SUM(1 + doc_id % 8) AS BIGINT) AS height_sum,
       CAST(SUM(doc_id % 256) AS BIGINT) AS red_sum,
       CAST(SUM((doc_id * 13) % 256) AS BIGINT) AS blue_sum,
       CAST(SUM(1 + doc_id % 12) AS BIGINT) AS png_width_sum,
       CAST(SUM(1 + doc_id % 6) AS BIGINT) AS png_height_sum,
       CAST(SUM((doc_id * 3) % 256) AS BIGINT) AS png_red_sum,
       CAST(SUM((doc_id * 11) % 256) AS BIGINT) AS png_blue_sum,
       CAST(SUM(1 + doc_id % 10) AS BIGINT) AS jpeg_width_sum,
       CAST(SUM(1 + doc_id % 5) AS BIGINT) AS jpeg_height_sum,
       CAST(SUM((doc_id * 29) % 256) AS BIGINT) AS jpeg_gray_sum,
       CAST(SUM(1 + doc_id % 10) AS BIGINT) AS pjpeg_width_sum,
       CAST(SUM(1 + doc_id % 5) AS BIGINT) AS pjpeg_height_sum,
       CAST(SUM((doc_id * 29) % 256) AS BIGINT) AS pjpeg_gray_sum,
       CAST(SUM(1 + doc_id % 9) AS BIGINT) AS tiff_width_sum,
       CAST(SUM(1 + doc_id % 4) AS BIGINT) AS tiff_height_sum,
       CAST(SUM((doc_id * 19) % 256) AS BIGINT) AS tiff_red_sum,
       CAST(SUM((doc_id * 31) % 256) AS BIGINT) AS tiff_blue_sum,
       CAST(SUM(1 + doc_id % 3) AS BIGINT) AS avi_frame_cnt,
       CAST(SUM((1 + doc_id % 3) * (1 + doc_id % 10)) AS BIGINT) AS avi_width_sum,
       CAST(SUM((1 + doc_id % 3) * ((doc_id * 29) % 256)) AS BIGINT) AS avi_gray_sum,
       CAST(SUM(50 + doc_id % 100) AS BIGINT) AS wav_frames_sum,
       CAST(SUM((doc_id * 17) % 2000 - 1000) AS BIGINT) AS wav_mean_sum,
       CAST(SUM(ABS((doc_id * 17) % 2000 - 1000)) AS BIGINT) AS wav_rms_sum,
       -- FLAC leg: same signal definitions through the FLAC codec
       CAST(SUM(50 + doc_id % 100) AS BIGINT) AS flac_frames_sum,
       CAST(SUM((doc_id * 17) % 2000 - 1000) AS BIGINT) AS flac_mean_sum,
       CAST(SUM(ABS((doc_id * 17) % 2000 - 1000)) AS BIGINT) AS flac_rms_sum,
       -- ADPCM leg (r11): same signals, third container, same sums
       CAST(SUM(50 + doc_id % 100) AS BIGINT) AS adpcm_frames_sum,
       CAST(SUM((doc_id * 17) % 2000 - 1000) AS BIGINT) AS adpcm_mean_sum,
       CAST(SUM(ABS((doc_id * 17) % 2000 - 1000)) AS BIGINT) AS adpcm_rms_sum,
       -- media-hash facts (round 6): hand-computable from the hash
       -- definitions over the planted payloads (see q_multimodal_meta)
       CAST(-4294967296 AS BIGINT) AS mh_ahash_split,
       CAST(4294967295 AS BIGINT) AS mh_ahash_inv,
       CAST(-1 AS BIGINT) AS mh_dhash_grad,
       CAST(1 AS BIGINT) AS mh_img_pairs,
       CAST(0 AS BIGINT) AS mh_img_hamming_sum,
       CAST(0 AS BIGINT) AS mh_afp_silence,
       CAST(1 AS BIGINT) AS mh_audio_pairs,
       -- container-probe facts (round 6): synthesized MP4/MP3 whose
       -- probed metadata is closed-form in the id (containers.py)
       CAST(SUM(500 + doc_id % 1000) AS BIGINT) AS mp4_dur_sum,
       CAST(SUM(16 * (1 + doc_id % 32)) AS BIGINT) AS mp4_w_sum,
       CAST(SUM(16 * (1 + doc_id % 18)) AS BIGINT) AS mp4_h_sum,
       CAST(2 * COUNT(*) AS BIGINT) AS mp4_tracks_sum,
       CAST(SUM(36 * (10 + doc_id % 20)) AS BIGINT) AS mp3_dur_sum,
       CAST(32000 AS BIGINT) AS mp3_rate_min,
       CAST(128 AS BIGINT) AS mp3_kbps_max
FROM documents
"""

# ------------------------------------------------- verification panels
#
# The MinHash/SimHash/LSH/IVF/split operators hash with engine-internal
# functions (xxhash64, blake2b, numpy matmul) that no external engine
# reproduces — which left them "rows-only" in the driver's correctness
# record. These two panels run each of those pipelines in an
# ENGINE-AGNOSTIC configuration — md5 hashing (identical in Spark,
# DuckDB, and hashlib), sequential-fold hyperplane dots (bit-identical
# to DuckDB's list_reduce), and exhaustive IVF probing (provably equal
# to brute force) — so a DuckDB oracle recomputes the exact candidate
# sets, signatures, sketches, buckets, and rankings. The fast engine
# paths stay the defaults; equivalence between fast and verifiable
# paths is pinned by the pytest suite (tests/test_ext_operators.py).


def _exact_avg(value_col: str, cnt_alias: str, avg_alias: str) -> list:
    """count + order-independent average of a 6dp-rounded double:
    accumulate scaled longs (exact), divide once. avg = NULL-free 0.0
    on empty input, matching the oracle's COALESCE."""
    scaled = F.sum(F.round(F.col(value_col) * 1_000_000).cast("long"))
    cnt = F.count(F.lit(1))
    return [
        cnt.alias(cnt_alias),
        F.coalesce(
            F.round(
                scaled.cast("double") / 1_000_000.0 / cnt.cast("double"), 4
            ),
            F.lit(0.0),
        ).alias(avg_alias),
    ]


def q_fuzzy_dedup_verify(spark: SparkSession, sf: str) -> DataFrame:
    """[EXT] value-level verification panel for the sketch-dedup +
    sampling family, one row:

    - MinHash+LSH (md5 signatures, 64 perms × 16 bands): candidate
      pairs from band agreement, estimated Jaccard ≥ 0.3 → pair count
      + exact average estimate. The oracle recomputes the identical
      signatures/candidates from shingles with DuckDB md5.
    - SimHash (md5 token hashes → 64-bit majority sketch as a
      bitstring): distinct sketches + banded Hamming-≤3 near pairs.
    - Embedding-cosine near-dup at 0.9 (expression-fold hyperplane
      buckets — bit-identical to the oracle's list_reduce fold).
    - Deterministic train/test split on the md5 hex prefix, plus a
      per-source stratified sample (fractions 1.0/0.5/0.25 — the
      keep-all edge included).

    Every number here is the same computation the engine-default paths
    run (xxhash64/blake2b/numpy), differing only in the inner hash —
    path-equivalence is test-pinned.
    """
    from harness_aws_etl_pipeline_spark.operators.dedup_fuzzy import (
        simhash_md5,
        simhash_near_pairs_str,
    )
    from harness_aws_etl_pipeline_spark.operators.sampling import (
        split_train_test,
        stratified_sample,
    )
    from harness_aws_etl_pipeline_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )

    docs = _t(spark, sf, "documents")
    emb = _t(spark, sf, "embeddings")

    mh = minhash_dedup_pairs(
        docs, n=5, num_hashes=64, bands=16, threshold=0.3, hash_fn="md5"
    )
    mh_agg = mh.agg(*_exact_avg("est_jaccard", "mh_pair_cnt", "mh_avg_est"))

    sk = simhash_md5(docs)
    sh_pairs = simhash_near_pairs_str(sk, max_hamming=3)
    sh_agg = sk.agg(
        F.countDistinct("sketch").alias("sh_distinct_sketches")
    ).crossJoin(F.broadcast(sh_pairs.agg(F.count(F.lit(1)).alias("sh_near_pair_cnt"))))

    ep = embedding_near_dup_pairs(emb, threshold=0.9, dim=64, arrow=False)
    ep_agg = ep.agg(*_exact_avg("cosine", "emb_pair_cnt", "emb_avg_cosine"))

    train, test = split_train_test(docs, "doc_id", train_frac=0.8, hash_fn="md5")
    split_agg = (
        train.agg(F.count(F.lit(1)).alias("train_cnt"))
        .crossJoin(F.broadcast(test.agg(F.count(F.lit(1)).alias("test_cnt"))))
        .crossJoin(F.broadcast(docs.agg(F.count(F.lit(1)).alias("total_cnt"))))
    )
    # stratified leg: per-source fractions incl. the keep-all edge;
    # salt 1 so the draws are independent of the train/test split's
    strat = stratified_sample(
        docs,
        "doc_id",
        "source",
        {"src0": 1.0, "src1": 0.5, "src2": 0.25},
        salt=1,
        hash_fn="md5",
    )
    strat_agg = strat.agg(
        F.count(F.lit(1)).alias("strat_cnt"),
        F.countDistinct("source").alias("strat_src_cnt"),
    )
    # semantic-dedup leg (operators/semdedup.py): FIXED hyperplane
    # centroids (literals the oracle embeds verbatim), dominance
    # policy + min_id order, arrow=False — assignment and pairwise
    # cosine are sequential expression folds, bit-reproducible by the
    # oracle's list_reduce. The fast path (learned k-means + greedy,
    # Arrow matmul) is the `semantic_dedup` tail entry; policy/path
    # equivalence is pinned in tests/test_semdedup.py.
    from harness_aws_etl_pipeline_spark.operators.semdedup import (
        semantic_dedup_stats,
    )
    from harness_aws_etl_pipeline_spark.operators.similarity import _hyperplane

    sem_cents = spark.createDataFrame(
        [(i, _hyperplane(7000 + i + 1, 64)) for i in range(4)],
        "centroid_id long, centroid array<double>",
    )
    sem_agg = semantic_dedup_stats(
        emb,
        centroids=sem_cents,
        threshold=0.9,
        dim=64,
        policy="dominance",
        order="min_id",
        arrow=False,
    )
    return (
        mh_agg.crossJoin(F.broadcast(sh_agg))
        .crossJoin(F.broadcast(ep_agg))
        .crossJoin(F.broadcast(split_agg))
        .crossJoin(F.broadcast(strat_agg))
        .crossJoin(F.broadcast(sem_agg))
    )


def _sql_planes_values(num_tables: int, bits: int, dim: int) -> str:
    """VALUES rows (tbl, bit, w) with the exact `_hyperplane` floats
    embedded as literals — repr() round-trips doubles exactly, so
    DuckDB folds the same numbers the Spark expressions fold."""
    from harness_aws_etl_pipeline_spark.operators.similarity import _hyperplane

    rows = []
    for t in range(num_tables):
        for b in range(bits):
            w = _hyperplane(t * 1000 + b + 1, dim)
            lits = ", ".join(repr(v) for v in w)
            rows.append(f"({t}, {b}, [{lits}]::DOUBLE[])")
    return ",\n    ".join(rows)


_SQL_COSINE = """
      CASE WHEN norm_a * norm_b > 0 THEN dot / (norm_a * norm_b) ELSE 0.0 END
""".strip()


def _sql_vec_fold(a: str, b: str, dim: int) -> str:
    """Sequential-fold dot/norms — the same left fold (same order, same
    double arithmetic) as functions/vectors.py."""
    return f"""
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(range(1, {dim + 1}),
               i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))),
             (acc, x) -> acc + x) AS dot,
           sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list_transform({a}, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))),
             (acc, x) -> acc + x)) AS norm_a,
           sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list_transform({b}, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))),
             (acc, x) -> acc + x)) AS norm_b
""".rstrip()


def _sql_sem_cents(k: int, dim: int) -> str:
    """VALUES rows (cid, cvec) with the exact fixed semantic-dedup
    centroids (`_hyperplane(7001..700k)`) as double literals."""
    from harness_aws_etl_pipeline_spark.operators.similarity import _hyperplane

    rows = []
    for i in range(k):
        w = _hyperplane(7000 + i + 1, dim)
        lits = ", ".join(repr(v) for v in w)
        rows.append(f"({i}, [{lits}]::DOUBLE[])")
    return ",\n    ".join(rows)


def _oracle_fuzzy_dedup_verify() -> str:
    planes = _sql_planes_values(num_tables=6, bits=10, dim=64)
    sem_cents = _sql_sem_cents(k=4, dim=64)
    return rf"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t != '') AS toks
  FROM documents
),
mh_shingles AS (
  SELECT DISTINCT doc_id,
         UNNEST(list_transform(range(1, len(toks) - 3),
           i -> list_aggregate(list_slice(toks, i, i + 4), 'string_agg', ' '))) AS shingle
  FROM toks WHERE len(toks) >= 5
),
mh_comp AS (
  SELECT doc_id, g.i AS i,
         MIN(substr(md5(CAST(g.i AS VARCHAR) || '|' || shingle), 1, 16)) AS mh
  FROM mh_shingles, generate_series(0, 63) g(i)
  GROUP BY doc_id, g.i
),
mh_bands AS (
  SELECT doc_id, i // 4 AS band, string_agg(mh, '' ORDER BY i) AS key
  FROM mh_comp GROUP BY doc_id, i // 4
),
mh_buckets AS (
  SELECT band, key FROM mh_bands
  GROUP BY band, key HAVING COUNT(*) >= 2 AND COUNT(*) <= 1000
),
mh_cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM mh_buckets u
  JOIN mh_bands a ON a.band = u.band AND a.key = u.key
  JOIN mh_bands b ON b.band = u.band AND b.key = u.key AND a.doc_id < b.doc_id
),
mh_est AS (
  SELECT c.doc_a, c.doc_b,
         SUM(CASE WHEN x.mh = y.mh THEN 1 ELSE 0 END) / 64.0 AS est
  FROM mh_cand c
  JOIN mh_comp x ON x.doc_id = c.doc_a
  JOIN mh_comp y ON y.doc_id = c.doc_b AND y.i = x.i
  GROUP BY 1, 2
),
mh_agg AS (
  SELECT COUNT(*) AS mh_pair_cnt,
         COALESCE(ROUND(CAST(SUM(CAST(ROUND(est * 1000000) AS BIGINT)) AS DOUBLE)
                        / 1000000.0 / COUNT(*), 4), 0.0) AS mh_avg_est
  FROM mh_est WHERE est >= 0.3
),
sh_tokens AS (
  SELECT DISTINCT doc_id, UNNEST(toks) AS tok FROM toks
),
sh_votes AS (
  SELECT doc_id, g.i AS i,
         SUM(CASE WHEN ((instr('0123456789abcdef', substr(md5(tok), 1 + g.i // 4, 1)) - 1)
                        >> (3 - g.i % 4)) & 1 = 1 THEN 1 ELSE -1 END) AS vote
  FROM sh_tokens, generate_series(0, 63) g(i)
  GROUP BY doc_id, g.i
),
sh_sketch0 AS (
  SELECT doc_id,
         string_agg(CASE WHEN vote > 0 THEN '1' ELSE '0' END, '' ORDER BY i) AS sketch
  FROM sh_votes GROUP BY doc_id
),
sh_sketches AS (
  SELECT d.doc_id, COALESCE(s.sketch, repeat('0', 64)) AS sketch
  FROM documents d LEFT JOIN sh_sketch0 s ON d.doc_id = s.doc_id
),
sh_banded AS (
  SELECT doc_id, sketch, g.b AS band, substr(sketch, g.b * 16 + 1, 16) AS key
  FROM sh_sketches, generate_series(0, 3) g(b)
),
sh_near AS (
  SELECT doc_a, doc_b FROM (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           a.sketch AS sk_a, b.sketch AS sk_b
    FROM sh_banded a
    JOIN sh_banded b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
  ) WHERE list_reduce(list_prepend(0, list_transform(range(1, 65),
            i -> CASE WHEN substr(sk_a, CAST(i AS INTEGER), 1)
                         = substr(sk_b, CAST(i AS INTEGER), 1)
                 THEN 0 ELSE 1 END)),
          (acc, x) -> acc + x) <= 3
),
sh_agg AS (
  SELECT (SELECT COUNT(DISTINCT sketch) FROM sh_sketches) AS sh_distinct_sketches,
         (SELECT COUNT(*) FROM sh_near) AS sh_near_pair_cnt
),
ed_planes(tbl, bit, w) AS (
  VALUES
    {planes}
),
ed_bits AS (
  SELECT e.vec_id, p.tbl, p.bit,
         CASE WHEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                list_transform(range(1, 65),
                  i -> CAST(e.embedding[i] AS DOUBLE) * p.w[i])),
              (acc, x) -> acc + x) >= 0 THEN '1' ELSE '0' END AS bc
  FROM embeddings e, ed_planes p
),
ed_buckets AS (
  SELECT vec_id, tbl, string_agg(bc, '' ORDER BY bit) AS bucket
  FROM ed_bits GROUP BY vec_id, tbl
),
ed_ok AS (
  SELECT tbl, bucket FROM ed_buckets
  GROUP BY tbl, bucket HAVING COUNT(*) >= 2 AND COUNT(*) <= 2000
),
ed_cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM ed_ok o
  JOIN ed_buckets a ON a.tbl = o.tbl AND a.bucket = o.bucket
  JOIN ed_buckets b ON b.tbl = o.tbl AND b.bucket = o.bucket AND a.vec_id < b.vec_id
),
ed_cos AS (
  SELECT ROUND({_SQL_COSINE}, 6) AS cosine
  FROM (
    SELECT c.id_a, c.id_b,
{_sql_vec_fold("x.embedding", "y.embedding", 64)}
    FROM ed_cand c
    JOIN embeddings x ON x.vec_id = c.id_a
    JOIN embeddings y ON y.vec_id = c.id_b
  )
),
-- cosine here is ROUND(raw, 6), and the >= 0.9 below filters that
-- ROUNDED value: this mirrors embedding_near_dup_pairs exactly (it
-- also rounds before thresholding) so boundary pairs can't flake
ed_agg AS (
  SELECT COUNT(*) AS emb_pair_cnt,
         COALESCE(ROUND(CAST(SUM(CAST(ROUND(cosine * 1000000) AS BIGINT)) AS DOUBLE)
                        / 1000000.0 / COUNT(*), 4), 0.0) AS emb_avg_cosine
  FROM ed_cos WHERE cosine >= 0.9
),
sp AS (
  SELECT CAST(SUM(CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || '|0'), 1, 8)
                       < 'cccccccc' THEN 1 ELSE 0 END) AS BIGINT) AS train_cnt,
         CAST(SUM(CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || '|0'), 1, 8)
                       >= 'cccccccc' THEN 1 ELSE 0 END) AS BIGINT) AS test_cnt,
         COUNT(*) AS total_cnt
  FROM documents
),
strat AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS strat_cnt,
         CAST(COUNT(DISTINCT source) AS BIGINT) AS strat_src_cnt
  FROM documents
  WHERE substr(md5(CAST(doc_id AS VARCHAR) || '|1'), 1, 8) <
        CASE source WHEN 'src0' THEN 'g'
                    WHEN 'src1' THEN '80000000'
                    WHEN 'src2' THEN '40000000'
                    ELSE '00000000' END
),
-- semantic dedup: fixed centroids, nearest by sequential-fold cosine
-- (ties toward the smaller cid), dominance policy in min_id order
sd_cents(cid, cvec) AS (
  VALUES
    {sem_cents}
),
sd_valid AS (
  SELECT vec_id, embedding FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) = 64
    AND NOT list_contains(list_transform(embedding,
                                         x -> isnan(CAST(x AS DOUBLE))), true)
),
sd_assign AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY {_SQL_COSINE} DESC, cid) AS rn
    FROM (
      SELECT v.vec_id, c.cid,
{_sql_vec_fold("v.embedding", "c.cvec", 64)}
      FROM sd_valid v, sd_cents c
    )
  ) WHERE rn = 1
),
sd_j AS (
  SELECT s.vec_id, s.cid, v.embedding
  FROM sd_assign s JOIN sd_valid v USING (vec_id)
),
sd_dom AS (
  SELECT DISTINCT vec_id FROM (
    SELECT a.vec_id,
{_sql_vec_fold("a.embedding", "b.embedding", 64)}
    FROM sd_j a JOIN sd_j b ON a.cid = b.cid AND b.vec_id < a.vec_id
  ) WHERE ROUND({_SQL_COSINE}, 6) >= 0.9
),
sd_per AS (
  SELECT j.cid,
         SUM(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS drops,
         COUNT(*) AS n
  FROM sd_j j LEFT JOIN sd_dom d ON j.vec_id = d.vec_id
  GROUP BY j.cid
),
sd_agg AS (
  SELECT (SELECT COUNT(*) FROM embeddings) AS sem_total,
         (SELECT COUNT(*) FROM sd_j) AS sem_valid,
         (SELECT COUNT(*) FROM embeddings) -
           (SELECT COUNT(*) FROM sd_dom) AS sem_kept,
         (SELECT COUNT(*) FROM sd_dom) AS sem_dropped,
         (SELECT COUNT(*) FROM sd_per) AS sem_clusters,
         (SELECT CAST(SUM(CASE WHEN drops > 0 THEN 1 ELSE 0 END) AS BIGINT)
          FROM sd_per) AS sem_dup_clusters,
         (SELECT CAST(COALESCE(SUM(CASE WHEN n > 4096 THEN 1 ELSE 0 END), 0) AS BIGINT)
          FROM sd_per) AS sem_oversized_clusters,
         (SELECT CAST(COALESCE(SUM(CASE WHEN n > 4096
                  THEN CAST(CEIL(n / 4096.0) AS BIGINT) - 1 ELSE 0 END), 0) AS BIGINT)
          FROM sd_per) AS sem_split_cells
)
SELECT m.mh_pair_cnt, m.mh_avg_est,
       s.sh_distinct_sketches, s.sh_near_pair_cnt,
       e.emb_pair_cnt, e.emb_avg_cosine,
       p.train_cnt, p.test_cnt, p.total_cnt,
       t.strat_cnt, t.strat_src_cnt,
       d.sem_total, d.sem_valid, d.sem_kept, d.sem_dropped,
       d.sem_clusters, d.sem_dup_clusters,
       d.sem_oversized_clusters, d.sem_split_cells
FROM mh_agg m, sh_agg s, ed_agg e, sp p, strat t, sd_agg d
"""


def _ivf_fixed_centroids(spark: SparkSession, k: int = 8, dim: int = 64):
    """Deterministic pretrained-quantizer stand-in: ``k`` hyperplane
    vectors from the same seeded generator the LSH buckets use, seeds
    disjoint from the bucket planes. Exact float literals, so the SQL
    oracle embeds the identical quantizer."""
    from harness_aws_etl_pipeline_spark.operators.similarity import _hyperplane

    rows = [(i, _hyperplane(9000 + i + 1, dim)) for i in range(k)]
    return spark.createDataFrame(rows, "centroid_id long, centroid array<double>")


def q_ann_topk_verify(spark: SparkSession, sf: str) -> DataFrame:
    """[EXT] value-level verification panel for the approximate-NN
    family: both ANN paths produce their full (query, rank, neighbor,
    cosine) rankings under configurations an external engine can
    recompute exactly, plus recall@5 legs that record approximation
    QUALITY as checked values —

    - ``lsh``: LSH-bucketed top-5 with expression-fold hyperplane
      buckets; the oracle recomputes every bucket (same plane
      constants, same fold order), hence the same candidate sets and
      rankings — the approximation itself is value-checked.
    - ``ivf``: IVF with nprobe == n_centroids. Probing every inverted
      list makes IVF provably exact (each candidate sits in exactly
      one list, every list is scored), so the oracle is the braced
      brute-force ranking; this pins list construction, assignment
      totality, probe routing, and scoring.
    - ``zivf_recall@5``: IVF probing only 2 of 8 lists, quantized by
      an injected fixed-literal centroid set (``ivf_topk(centroids=,
      assign_arrow=False)`` — the pretrained-quantizer production
      shape), so the oracle rebuilds the same inverted lists and the
      recall-vs-brute-force number is value-checked at a genuinely
      approximate operating point.
    - ``zlsh_recall@5``: recall of the DEFAULT Arrow LSH path against
      the exact ranking. The Arrow matmul and the expression fold
      agree bit-for-bit on this frozen dataset (equality also pinned
      by tests), so the oracle's plane-fold candidates reproduce the
      default path's hits; the denominator is the oracle's own exact
      top-5 — engine-independent.

    Recall rows reuse the panel schema: rank = hit count, neighbor_id
    = k (the denominator), cosine = recall@5.

    Absolute recall is LOW on this synthetic data by construction: the
    embeddings are i.i.d. random, so a query's "top-5" are barely more
    similar than the corpus average and sign-LSH/IVF blocking has no
    genuine near-neighbors to catch (the planted-duplicate case, where
    LSH recall ≈ 1, is pinned in tests/test_ext_operators.py). The
    point of the legs is that the recall NUMBER is an externally
    recomputed, value-checked artifact — not that this config is a
    good operating point for random vectors.
    """
    from harness_aws_etl_pipeline_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
    )

    emb = _t(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 4)
    lsh = lsh_bucketed_topk(
        emb, queries, dim=64, k=5, num_tables=4, bits=8, arrow=False
    ).withColumn("src", F.lit("lsh"))
    ivf = ivf_topk(emb, queries, k=5, n_centroids=8, nprobe=8).withColumn(
        "src", F.lit("ivf")
    )

    exact5 = brute_force_topk(emb, queries, k=5).select(
        "query_id", "neighbor_id"
    )
    lsh_default = lsh_bucketed_topk(
        emb, queries, dim=64, k=5, num_tables=4, bits=8, arrow=True
    )
    ivf_probe2 = ivf_topk(
        emb,
        queries,
        k=5,
        nprobe=2,
        centroids=_ivf_fixed_centroids(spark),
        assign_arrow=False,
    )

    def recall_leg(approx: DataFrame, name: str) -> DataFrame:
        hits = (
            approx.join(exact5, ["query_id", "neighbor_id"])
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).alias("hits"))
        )
        return (
            queries.select(F.col("vec_id").alias("query_id"))
            .join(hits, "query_id", "left")
            .select(
                F.lit(name).alias("src"),
                "query_id",
                F.coalesce(F.col("hits"), F.lit(0)).cast("int").alias("rank"),
                F.lit(5).cast("long").alias("neighbor_id"),
                F.round(
                    F.coalesce(F.col("hits"), F.lit(0)) / F.lit(5.0), 6
                ).alias("cosine"),
            )
        )

    # scalar-quantization leg (round 8): per-dim int8 code sums of the
    # whole corpus (operators/pq.py:sq_train/sq_encode — exact bounds,
    # fixed affine chain) ride the panel schema as one row per dim:
    # query_id = dim, neighbor_id = Σcodes, cosine = mean code / 255.
    # The bounds model collects dim rows at BUILD time — memoized per
    # (session, sf) so repeated builds (tests, driver passes) train once.
    from harness_aws_etl_pipeline_spark.operators.pq import (
        sq_encode,
        sq_train,
    )

    sq_model = _VALUE_MEMO.get_or_key(
        ("sq_model", spark.sparkContext.applicationId, sf),
        lambda: sq_train(emb),
    )
    sq_rows = (
        sq_encode(emb, sq_model)
        .select(F.posexplode("sq_codes").alias("i", "c"))
        .groupBy("i")
        .agg(
            F.sum("c").cast("long").alias("csum"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .select(
            F.lit("zzsq_codes").alias("src"),
            F.col("i").cast("long").alias("query_id"),
            F.lit(0).cast("int").alias("rank"),
            F.col("csum").alias("neighbor_id"),
            F.round(
                F.col("csum").cast("double")
                / F.col("cnt").cast("double")
                / F.lit(255.0),
                6,
            ).alias("cosine"),
        )
    )
    # round-10: the distributed kNN JOIN (operators/similarity.knn_join)
    # at nprobe == n_centroids — provably equal to the brute-force
    # per-left top-k (the operator's exactness identity), so the oracle
    # is a plain SQL cosine ranking. Rank ties break on the ROUNDED
    # cosine then right id (the operator's own policy); self-matches
    # included (knn_join does not exclude them). This gives the r9
    # operator a driver-checked value oracle, not just test pins.
    from harness_aws_etl_pipeline_spark.operators.similarity import knn_join

    knn = knn_join(queries, emb, k=3, n_centroids=4, nprobe=4).select(
        F.lit("zzzknn_exact").alias("src"),
        F.col("left_id").alias("query_id"),
        F.col("rank").cast("int").alias("rank"),
        F.col("right_id").alias("neighbor_id"),
        "cosine",
    )
    return (
        lsh.unionByName(ivf)
        .select("src", "query_id", "rank", "neighbor_id", "cosine")
        .unionByName(recall_leg(ivf_probe2, "zivf_recall@5"))
        .unionByName(recall_leg(lsh_default, "zlsh_recall@5"))
        .unionByName(sq_rows)
        .unionByName(knn)
        .orderBy("src", "query_id", "rank")
    )


def _sql_ivf_cents_values(k: int = 8, dim: int = 64) -> str:
    """VALUES rows (cid, w) with the exact fixed-centroid floats of
    :func:`_ivf_fixed_centroids` as literals (repr round-trips doubles
    exactly, same as the LSH planes)."""
    from harness_aws_etl_pipeline_spark.operators.similarity import _hyperplane

    rows = []
    for i in range(k):
        w = _hyperplane(9000 + i + 1, dim)
        lits = ", ".join(repr(v) for v in w)
        rows.append(f"({i}, [{lits}]::DOUBLE[])")
    return ",\n    ".join(rows)


def _oracle_ann_topk_verify() -> str:
    planes = _sql_planes_values(num_tables=4, bits=8, dim=64)
    ivf_cents = _sql_ivf_cents_values(k=8, dim=64)
    return f"""
WITH planes(tbl, bit, w) AS (
  VALUES
    {planes}
),
bits_t AS (
  SELECT e.vec_id, p.tbl, p.bit,
         CASE WHEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                list_transform(range(1, 65),
                  i -> CAST(e.embedding[i] AS DOUBLE) * p.w[i])),
              (acc, x) -> acc + x) >= 0 THEN '1' ELSE '0' END AS bc
  FROM embeddings e, planes p
),
buck AS (
  SELECT vec_id, tbl, string_agg(bc, '' ORDER BY bit) AS bucket
  FROM bits_t GROUP BY vec_id, tbl
),
lsh_cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM buck q
  JOIN buck c ON q.tbl = c.tbl AND q.bucket = c.bucket
  WHERE q.vec_id < 4 AND c.vec_id != q.vec_id
),
lsh_scored AS (
  SELECT query_id, neighbor_id, {_SQL_COSINE} AS cosine
  FROM (
    SELECT c.query_id, c.neighbor_id,
{_sql_vec_fold("q.embedding", "n.embedding", 64)}
    FROM lsh_cand c
    JOIN embeddings q ON q.vec_id = c.query_id
    JOIN embeddings n ON n.vec_id = c.neighbor_id
  )
),
lsh_leg AS (
  SELECT 'lsh' AS src, query_id, rank, neighbor_id, ROUND(cosine, 6) AS cosine
  FROM (
    SELECT query_id, neighbor_id, cosine,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
    FROM lsh_scored
  ) WHERE rank <= 5
),
ivf_scored AS (
  SELECT query_id, neighbor_id, {_SQL_COSINE} AS cosine
  FROM (
    SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
{_sql_vec_fold("q.embedding", "n.embedding", 64)}
    FROM embeddings q
    JOIN embeddings n ON n.vec_id != q.vec_id
    WHERE q.vec_id < 4
  )
),
ivf_leg AS (
  SELECT 'ivf' AS src, query_id, rank, neighbor_id, ROUND(cosine, 6) AS cosine
  FROM (
    SELECT query_id, neighbor_id, cosine,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
    FROM ivf_scored
  ) WHERE rank <= 5
),
-- recall legs: fixed-literal IVF quantizer (the engine injects the
-- same centroids via ivf_topk(centroids=..., assign_arrow=False), so
-- the inverted lists are bit-identical) and the default LSH path
-- (arrow matmul ≡ the plane folds above on this frozen data)
ivf_cents(cid, w) AS (
  VALUES
    {ivf_cents}
),
asg_scored AS (
  SELECT vec_id, cid, {_SQL_COSINE} AS sim
  FROM (
    SELECT e.vec_id, c.cid,
{_sql_vec_fold("e.embedding", "c.w", 64)}
    FROM embeddings e, ivf_cents c
  )
),
asg AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn
    FROM asg_scored
  ) WHERE rn = 1
),
probe2 AS (
  SELECT vec_id AS query_id, cid FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn
    FROM asg_scored WHERE vec_id < 4
  ) WHERE rn <= 2
),
ivf2_top5 AS (
  SELECT query_id, neighbor_id FROM (
    SELECT s.query_id, s.neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY s.query_id
                ORDER BY s.cosine DESC, s.neighbor_id) AS rn
    FROM ivf_scored s
    JOIN asg a ON a.vec_id = s.neighbor_id
    JOIN probe2 p ON p.query_id = s.query_id AND p.cid = a.cid
  ) WHERE rn <= 5
),
exact5_o AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY cosine DESC, neighbor_id) AS rn
    FROM ivf_scored
  ) WHERE rn <= 5
),
qset AS (SELECT DISTINCT vec_id AS query_id FROM embeddings WHERE vec_id < 4),
ivf_recall AS (
  SELECT 'zivf_recall@5' AS src, q.query_id,
         CAST(COALESCE(h.hits, 0) AS INT) AS rank,
         CAST(5 AS BIGINT) AS neighbor_id,
         ROUND(COALESCE(h.hits, 0) / 5.0, 6) AS cosine
  FROM qset q LEFT JOIN (
    SELECT t.query_id, COUNT(*) AS hits
    FROM ivf2_top5 t JOIN exact5_o e USING (query_id, neighbor_id)
    GROUP BY t.query_id
  ) h ON h.query_id = q.query_id
),
lsh_recall AS (
  SELECT 'zlsh_recall@5' AS src, q.query_id,
         CAST(COALESCE(h.hits, 0) AS INT) AS rank,
         CAST(5 AS BIGINT) AS neighbor_id,
         ROUND(COALESCE(h.hits, 0) / 5.0, 6) AS cosine
  FROM qset q LEFT JOIN (
    SELECT t.query_id, COUNT(*) AS hits
    FROM lsh_leg t JOIN exact5_o e USING (query_id, neighbor_id)
    GROUP BY t.query_id
  ) h ON h.query_id = q.query_id
),
knn_scored AS (
  SELECT query_id, neighbor_id, {_SQL_COSINE} AS cosine
  FROM (
    SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
{_sql_vec_fold("q.embedding", "n.embedding", 64)}
    FROM embeddings q, embeddings n
    WHERE q.vec_id < 4
  )
),
knn_leg AS (
  -- round-10 kNN-join leg: brute-force per-left top-3, self included,
  -- tie policy = rounded cosine desc then neighbor id (knn_join's own)
  SELECT 'zzzknn_exact' AS src, query_id, rank, neighbor_id, cosine
  FROM (
    SELECT query_id, neighbor_id, ROUND(cosine, 6) AS cosine,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY ROUND(cosine, 6) DESC, neighbor_id) AS INT) AS rank
    FROM knn_scored
  ) WHERE rank <= 3
)
SELECT * FROM lsh_leg UNION ALL SELECT * FROM ivf_leg
UNION ALL SELECT * FROM ivf_recall UNION ALL SELECT * FROM lsh_recall
UNION ALL SELECT * FROM knn_leg
UNION ALL
-- scalar-quantization leg: per-dim exact bounds, fixed affine chain
-- round((x − mn)·255/(mx − mn)) clamped; one row per dim
SELECT 'zzsq_codes' AS src, CAST(i AS BIGINT) AS query_id,
       CAST(0 AS INT) AS rank, CAST(SUM(c) AS BIGINT) AS neighbor_id,
       ROUND(CAST(SUM(c) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 255.0, 6)
         AS cosine
FROM (
  WITH dims AS (SELECT UNNEST(embedding) AS x,
                       UNNEST(range(len(embedding))) AS i
                FROM embeddings WHERE embedding IS NOT NULL),
  mm AS (SELECT i, MIN(CAST(x AS DOUBLE)) AS mn, MAX(CAST(x AS DOUBLE)) AS mx
         FROM dims GROUP BY i)
  SELECT d.i,
         CASE WHEN mm.mx > mm.mn
           THEN CAST(LEAST(GREATEST(
                  ROUND((CAST(d.x AS DOUBLE) - mm.mn) * 255.0
                        / (mm.mx - mm.mn)), 0.0), 255.0) AS INT)
           ELSE 0 END AS c
  FROM dims d JOIN mm USING (i)
) codes
GROUP BY i
ORDER BY src, query_id, rank
"""


# ----------------------------------------------------- corpus ops


def q_line_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """[EXT] line-level corpus dedup (CCNet-style boilerplate removal,
    operators/linededup.py) — 1-row summary panel.

    The synthetic documents are single-line, so the panel derives a
    deterministic multi-line corpus both engines can reconstruct:
    every doc gains a banner line shared by doc_id % 5 (heavy
    corpus-wide repetition — exercises the partial-agg count under
    skew) and a per-language footer line, around its original text.
    Legs: total line count, distinct frequent keys, removed lines,
    docs touched, and surviving characters (order-free, so the oracle
    verifies the rebuild without reconstructing line order; ordering
    itself is pinned in tests/test_corpus_ops.py).

    Decontamination legs (operators/decontam.py — fused so the new
    oracle-backed op stays inside the driver's 50-entry window; both
    ops are corpus-hygiene passes over documents): the "benchmark" is
    the deterministic doc_id % 97 slice of the corpus itself, n=13
    (the published GPT-3/PaLM overlap width), string n-grams so the
    oracle's COUNT semantics match exactly.  Planted by construction:
    every ≥13-token benchmark doc is its own verbatim overlap, so the
    join, per-doc distinct-hit counts, and anti-join all move.
    """
    from harness_aws_etl_pipeline_spark.operators.decontam import (
        contamination_by_benchmark,
        contamination_stats,
    )
    from harness_aws_etl_pipeline_spark.operators.linededup import line_dedup_stats

    raw = _t(spark, sf, "documents")
    docs = raw.withColumn(
        "text",
        F.concat_ws(
            "\n",
            F.concat(F.lit("banner "), (F.col("doc_id") % 5).cast("string")),
            F.col("text"),
            F.concat(F.lit("footer "), F.col("lang")),
        ),
    )
    bench = raw.where(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("qid"), "text"
    )
    decon = contamination_stats(raw, bench, n=13, use_hash=False)
    # per-benchmark-item leak rollup (which eval items are burned)
    leak = contamination_by_benchmark(raw, bench, n=13, use_hash=False).agg(
        F.count(F.lit(1)).cast("long").alias("leaked_bench_docs"),
        F.coalesce(F.sum("corpus_docs"), F.lit(0))
        .cast("long")
        .alias("leak_pairs"),
        F.coalesce(F.sum("leaked_ngrams"), F.lit(0))
        .cast("long")
        .alias("leaked_ngram_total"),
    )
    # duplicated-span legs (operators/spandedup.py, fused round 5 —
    # the third corpus-hygiene pass sharing this slot): 13-token
    # windows, first occurrence canonical, islands-merged spans; the
    # oracle re-derives windows/canonicals/merge with gram STRINGS as
    # keys (decisions depend only on gram equality, never hash values)
    from harness_aws_etl_pipeline_spark.operators.spandedup import (
        span_dedup_stats,
    )

    spans = span_dedup_stats(raw, k=13)
    return (
        line_dedup_stats(docs, min_count=2)
        .crossJoin(F.broadcast(decon))
        .crossJoin(F.broadcast(leak))
        .crossJoin(F.broadcast(spans))
    )


ORACLE_LINE_DEDUP = r"""
WITH multi AS (
  SELECT doc_id,
         'banner ' || CAST(doc_id % 5 AS VARCHAR) || chr(10) ||
         text || chr(10) || 'footer ' || lang AS text
  FROM documents
),
keyed AS (
  SELECT doc_id, line, lower(trim(line)) AS key
  FROM (SELECT doc_id, UNNEST(string_split(text, chr(10))) AS line FROM multi)
),
freq AS (
  SELECT key FROM keyed WHERE length(key) > 0
  GROUP BY key HAVING COUNT(*) >= 2
),
kept AS (
  SELECT doc_id, COUNT(*) AS kept_cnt, SUM(LENGTH(line)) AS kept_chars
  FROM keyed WHERE key NOT IN (SELECT key FROM freq) GROUP BY doc_id
),
removed AS (
  SELECT doc_id, COUNT(*) AS rem
  FROM keyed WHERE key IN (SELECT key FROM freq) GROUP BY doc_id
),
perdoc AS (
  SELECT d.doc_id, COALESCE(k.kept_cnt, 0) AS kept_cnt,
         COALESCE(k.kept_chars, 0) AS kept_chars, COALESCE(r.rem, 0) AS rem
  FROM multi d
  LEFT JOIN kept k USING (doc_id)
  LEFT JOIN removed r USING (doc_id)
)
SELECT l.*, d.*, lk.*, sp.*
FROM (
  SELECT (SELECT COUNT(*) FROM keyed) AS lines_total,
         CAST(SUM(CASE WHEN rem > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_changed,
         CAST(SUM(rem) AS BIGINT) AS lines_removed,
         CAST(SUM(kept_chars + CASE WHEN kept_cnt > 0 THEN kept_cnt - 1 ELSE 0 END)
              AS BIGINT) AS chars_after,
         (SELECT COUNT(*) FROM freq) AS dup_line_keys
  FROM perdoc
) l, (
  -- decontamination legs: benchmark = doc_id % 97 slice, 13-gram overlap
  WITH grams AS (
    SELECT doc_id,
           UNNEST(list_distinct(list_transform(
             range(1, GREATEST(len(toks) - 12, 0) + 1),
             i -> list_aggregate(list_slice(toks, i, i + 12), 'string_agg', ' ')
           ))) AS g
    FROM (SELECT doc_id,
                 list_filter(string_split_regex(lower(text), '\s+'), t -> t != '') AS toks
          FROM documents)
  ),
  bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0),
  hits AS (
    SELECT doc_id, COUNT(*) AS hit
    FROM grams JOIN bench USING (g) GROUP BY doc_id
  )
  SELECT (SELECT COUNT(*) FROM bench) AS bench_ngrams,
         (SELECT COUNT(*) FROM hits) AS contaminated_docs,
         (SELECT COALESCE(CAST(SUM(hit) AS BIGINT), 0) FROM hits) AS hits_total,
         (SELECT COUNT(*) FROM documents
          WHERE doc_id NOT IN (SELECT doc_id FROM hits)) AS clean_docs,
         (SELECT COALESCE(CAST(SUM(LENGTH(text)) AS BIGINT), 0) FROM documents
          WHERE doc_id NOT IN (SELECT doc_id FROM hits)) AS clean_chars
) d, (
  -- per-benchmark-item leak rollup: grams keep their qid
  WITH grams2 AS (
    SELECT doc_id,
           UNNEST(list_distinct(list_transform(
             range(1, GREATEST(len(toks) - 12, 0) + 1),
             i -> list_aggregate(list_slice(toks, i, i + 12), 'string_agg', ' ')
           ))) AS g
    FROM (SELECT doc_id,
                 list_filter(string_split_regex(lower(text), '\s+'), t -> t != '') AS toks
          FROM documents)
  ),
  perq AS (
    SELECT b.doc_id AS qid,
           COUNT(DISTINCT b.g) AS leaked_ngrams,
           COUNT(DISTINCT c.doc_id) AS corpus_docs
    FROM grams2 b JOIN grams2 c ON b.g = c.g
    WHERE b.doc_id % 97 = 0
    GROUP BY b.doc_id
  )
  SELECT CAST(COUNT(*) AS BIGINT) AS leaked_bench_docs,
         COALESCE(CAST(SUM(corpus_docs) AS BIGINT), 0) AS leak_pairs,
         COALESCE(CAST(SUM(leaked_ngrams) AS BIGINT), 0) AS leaked_ngram_total
  FROM perq
) lk, (
  -- duplicated-span legs: 13-token windows with positions, canonical
  -- first by (doc_id, pos), islands merge, token accounting
  WITH sp_toks AS (
    SELECT doc_id,
           list_filter(string_split_regex(text, '\s+'), t -> t != '') AS toks
    FROM documents
  ),
  sp_pos AS (
    SELECT doc_id, i - 1 AS pos,
           list_aggregate(list_slice(toks, i, i + 12), 'string_agg', ' ') AS g
    FROM sp_toks, UNNEST(range(1, GREATEST(len(toks) - 12, 0) + 1)) AS r(i)
  ),
  sp_cnt AS (SELECT g, COUNT(*) AS cnt FROM sp_pos GROUP BY g),
  sp_first AS (
    SELECT g, doc_id AS fdoc, pos AS fpos FROM (
      SELECT g, doc_id, pos,
             ROW_NUMBER() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn
      FROM sp_pos) WHERE rn = 1
  ),
  sp_marked AS (
    SELECT p.doc_id, p.pos
    FROM sp_pos p JOIN sp_cnt c USING (g) JOIN sp_first f USING (g)
    WHERE c.cnt >= 2 AND NOT (p.doc_id = f.fdoc AND p.pos = f.fpos)
  ),
  sp_islands AS (
    SELECT doc_id, pos,
           CASE WHEN pos > COALESCE(MAX(pos + 13) OVER (
                  PARTITION BY doc_id ORDER BY pos
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                THEN 1 ELSE 0 END AS is_start
    FROM sp_marked
  ),
  sp_merged AS (
    SELECT doc_id, span, MIN(pos) AS s, MAX(pos) + 13 AS e
    FROM (SELECT doc_id, pos,
                 SUM(is_start) OVER (PARTITION BY doc_id ORDER BY pos) AS span
          FROM sp_islands)
    GROUP BY doc_id, span
  )
  SELECT (SELECT CAST(COALESCE(SUM(len(toks)), 0) AS BIGINT) FROM sp_toks)
           AS span_tokens_total,
         CAST((SELECT COUNT(*) FROM sp_merged) AS BIGINT) AS spans_removed,
         CAST((SELECT COUNT(DISTINCT doc_id) FROM sp_merged) AS BIGINT)
           AS span_docs_affected,
         (SELECT CAST(COALESCE(SUM(e - s), 0) AS BIGINT) FROM sp_merged)
           AS span_tokens_removed
) sp
"""


# The mix the corpus_mix panel targets: 5 of the 20 synthetic sources,
# integer weights (the exact-arithmetic contract of operators/mixing.py).
_MIX_WEIGHTS = {"src0": 4, "src1": 3, "src2": 2, "src3": 1, "src17": 5}

# Planted URLs for the urlops legs fused into corpus_mix: one per
# normalization rule (case, fragment, default/non-default ports, www,
# tracking params + sort, keeper-prefix param, bare/deep trailing
# slash), plus canonical-dup groups ({1,3,5} and {10,11}) and multi-
# label hosts for the eTLD+1 heuristic.  Embedded verbatim in BOTH the
# Spark builder and the oracle's VALUES.  Round 6 adds a literal-'?'
# query (RFC 3986 allows '?' inside the query — the params must come
# from the FIRST '?') and three non-URL rows, so the NULL-host group
# exceeds the cap_per_host leg's cap of 2 and pins the never-cap-NULL
# contract on both sides.
_URL_FIXTURE = (
    "HTTPS://Example.COM/Path/File",
    "https://a.com/x#section-2",
    "http://a.com:80/x",
    "https://a.com:443/x",
    "https://a.com:8443/x",
    "https://www.a.com/x",
    "https://a.com/x?utm_source=tw&b=2&a=1&fbclid=zz",
    "https://a.com/x?refresh=1",
    "https://a.com/",
    "https://a.com/x/",
    "HTTP://WWW.Example.com:80/page?b=2&a=1#top",
    "http://example.com/page?a=1&b=2",
    "https://www.news.example.co.uk:443/a",
    "http://blog.example.com/x",
    "https://a.com/x?a=1?b=2",
    "not-a-url-1",
    "not-a-url-2",
    "not-a-url-3",
)

# Round-6 PSL leg: a planted public-suffix rule set (publicsuffix.org
# FORMAT is public knowledge; these VALUES are the oracle's copy) and
# URLs covering every rule kind — normal at 1/2/3 labels, wildcard,
# exception, host-is-suffix, implicit default.  The SQL arm re-derives
# eTLD+1 from the SAME rules table with the full PSL algorithm.
_PSL_RULES = {
    "normal": ["com", "uk", "co.uk", "ac.uk", "ck", "github.io",
               "s3.amazonaws.com"],
    "wildcard": ["ck"],
    "exception": ["reg.ck"],
}
_PSL_URLS = (
    "https://foo.github.io/x",
    "https://a.b.github.io/x",
    "https://github.io/",
    "https://bucket.s3.amazonaws.com/k",
    "https://www.dept.univ.ac.uk/p",
    "https://deep.shop.stuff.ck/x",
    "https://sub.reg.ck/x",
    "https://a.example.com/x",
    "https://x.unknown-tld/x",
)


import hashlib as _hashlib

from harness_aws_etl_pipeline_spark.operators.takedown import (
    TakedownRules,
    takedown_report,
)

# takedown rule set over _URL_FIXTURE (url doubles as the text column):
# ids 2+3, partial-match utm regex, anchored case-sensitive http regex,
# exact md5 of one non-URL literal — every kind exercised, overlaps
# included (id 2 also matches '^http://')
_TAKEDOWN_RULES = TakedownRules(
    ids=(2, 3),
    url_patterns=("utm_source", "^http://"),
    content_hashes=(_hashlib.md5(b"not-a-url-1").hexdigest(),),
)

# planted robots rules over the same URL fixture (operators/robots.py):
# literal prefix, longest-match allow-wins, wildcard+anchor, whole-host
_ROBOTS_RULES = (
    ("a.com", "disallow", "/x", 2),
    ("a.com", "allow", "/x/", 3),
    ("example.com", "disallow", "/page*$", 7),
    ("news.example.co.uk", "disallow", "/", 1),
)


def q_corpus_mix(spark: SparkSession, sf: str) -> DataFrame:
    """[EXT] domain-weighted corpus mixing (operators/mixing.py) —
    per-source panel: inventory totals vs what the largest achievable
    mix keeps. Thresholds are exact-integer md5 cuts, so the oracle
    recomputes the ENTIRE operator — inventory aggregation, budget,
    per-source thresholds, membership — independently in SQL.
    """
    from harness_aws_etl_pipeline_spark.operators.mixing import (
        domain_stats,
        sample_to_mix,
    )

    from harness_aws_etl_pipeline_spark.operators.robots import robots_filter
    from harness_aws_etl_pipeline_spark.operators.urlops import (
        add_url_columns,
        cap_per_host,
        cap_per_host_stats,
        dedup_by_url,
        with_registered_domain,
    )

    docs = _t(spark, sf, "documents")
    stats = domain_stats(docs)
    mixed = sample_to_mix(docs, _MIX_WEIGHTS, salt=0)
    kept = domain_stats(mixed).select(
        F.col("domain"),
        F.col("docs").alias("docs_kept"),
        F.col("tokens").alias("tokens_kept"),
    )
    # urlops legs (operators/urlops.py, fused round 5 — the web-corpus
    # keying family lives with the domain-weighted panel): planted URL
    # literals through normalize/host/eTLD+1/dedup/per-host-cap, every
    # transform re-derived by the oracle in SQL from the same VALUES
    urls = spark.createDataFrame(
        list(enumerate(_URL_FIXTURE)), "doc_id long, url string"
    )
    with_cols = add_url_columns(urls)
    url_agg = (
        with_cols.agg(
            F.md5(
                F.concat_ws("|", F.array_sort(F.collect_list("url_norm")))
            ).alias("url_norm_md5"),
            F.countDistinct("url_host").cast("long").alias("url_host_cnt"),
            F.countDistinct("url_domain").cast("long").alias("url_domain_cnt"),
        )
        .crossJoin(F.broadcast(
            dedup_by_url(urls).agg(
                F.count(F.lit(1)).cast("long").alias("url_dedup_kept")
            )
        ))
        .crossJoin(F.broadcast(
            cap_per_host(urls, 2).agg(
                F.count(F.lit(1)).cast("long").alias("url_cap2_kept")
            )
        ))
        # round 6: the cap-hit counters (automated two-phase cap) are
        # oracle-backed too — hosts over the cap and rows dropped,
        # re-derived by the SQL arm from the same VALUES
        .crossJoin(F.broadcast(
            cap_per_host_stats(urls, 2).select(
                F.col("hosts_capped").alias("url_cap_hosts_capped"),
                F.col("rows_dropped").alias("url_cap_rows_dropped"),
            )
        ))
        # round 6: public-suffix-list eTLD+1 (registered_domain with a
        # planted rule set — normal/wildcard/exception) — the oracle
        # runs the full PSL algorithm in SQL over the same VALUES
        .crossJoin(F.broadcast(
            with_registered_domain(
                spark.createDataFrame([(u,) for u in _PSL_URLS], "u string"),
                url_col="u", out_col="d", rules=_PSL_RULES,
            )
            .select("d")
            .agg(
                F.md5(
                    F.concat_ws("|", F.array_sort(F.collect_list("d")))
                ).alias("url_psl_md5")
            )
        ))
        # round 6: robots.txt politeness filtering (operators/robots.py)
        # — planted rules over the same URL VALUES; the oracle
        # re-compiles the prefix patterns and re-derives the
        # longest-match/allow-wins resolution in SQL
        .crossJoin(F.broadcast(
            robots_filter(
                urls,
                spark.createDataFrame(
                    list(_ROBOTS_RULES),
                    "host string, rule string, prefix string, prefix_len int",
                ),
                mode="flag",
            ).agg(
                F.sum(F.col("robots_allowed").cast("long"))
                .cast("long")
                .alias("robots_allowed_cnt"),
                F.count(F.lit(1)).cast("long").alias("robots_total_cnt"),
            )
        ))
        # round 6: takedown governance pass (operators/takedown.py) —
        # id + URL-regex + content-hash rules over the same VALUES,
        # audit counts re-derived by the oracle in SQL
        .crossJoin(F.broadcast(
            takedown_report(
                urls,
                _TAKEDOWN_RULES,
                id_col="doc_id",
                url_col="url",
                text_col="url",
            ).select(
                F.col("total").alias("td_total"),
                F.col("removed").alias("td_removed"),
                F.col("kept").alias("td_kept"),
                F.col("matched_ids").alias("td_m_ids"),
                F.col("matched_url_pattern_0").alias("td_m_p0"),
                F.col("matched_url_pattern_1").alias("td_m_p1"),
                F.col("matched_content_hashes").alias("td_m_hash"),
            )
        ))
    )
    # data-constrained repetition legs (mixing.repeat_to_budget, fused
    # round 5): max_epochs=2 binds (budget_tokens is effectively
    # infinite), so scarce sources materialize full repeat epochs plus
    # an exact-md5-threshold partial epoch — row/token/epoch totals
    # re-derived by the oracle with the same HUGEINT arithmetic
    from harness_aws_etl_pipeline_spark.functions.text import word_count
    from harness_aws_etl_pipeline_spark.operators.mixing import repeat_to_budget

    rep_agg = repeat_to_budget(
        docs, _MIX_WEIGHTS, budget_tokens=1_000_000_000, max_epochs=2, salt=0
    ).agg(
        F.count(F.lit(1)).cast("long").alias("rep_rows"),
        F.coalesce(F.sum(word_count("text")), F.lit(0))
        .cast("long")
        .alias("rep_tokens"),
        F.max("_epoch").cast("long").alias("rep_epoch_max"),
    )
    # weighted-sampling leg (round 8): A-Res over documents weighted
    # by n_chars (operators/sampling.py:sample_weighted_n); the oracle
    # recomputes the md5-uniform and the -ln(u)/w jump in SQL
    from harness_aws_etl_pipeline_spark.operators.sampling import (
        sample_weighted_n,
    )

    ws_agg = sample_weighted_n(docs, 50, "n_chars", "doc_id", salt=7).agg(
        F.count(F.lit(1)).cast("long").alias("wsample_rows"),
        F.sum("n_chars").cast("long").alias("wsample_chars"),
        F.md5(
            F.concat_ws(
                "|",
                F.array_sort(F.collect_list(F.col("doc_id").cast("string"))),
            )
        ).alias("wsample_md5"),
    )
    return (
        stats.select(
            "domain",
            F.col("docs").alias("docs_total"),
            F.col("tokens").alias("tokens_total"),
        )
        .join(kept, "domain", "left")
        .select(
            "domain",
            "docs_total",
            "tokens_total",
            F.coalesce("docs_kept", F.lit(0)).cast("long").alias("docs_kept"),
            F.coalesce("tokens_kept", F.lit(0)).cast("long").alias("tokens_kept"),
        )
        .crossJoin(F.broadcast(url_agg))
        .crossJoin(F.broadcast(rep_agg))
        .crossJoin(F.broadcast(ws_agg))
        .orderBy("domain")
    )


ORACLE_CORPUS_MIX = r"""
WITH stats AS (
  SELECT source AS domain, COUNT(*) AS docs,
         CAST(SUM(len(list_filter(string_split_regex(text, '\s+'), t -> t != '')))
              AS BIGINT) AS tokens
  FROM documents GROUP BY source
),
w AS (
  SELECT * FROM (VALUES ('src0', 4), ('src1', 3), ('src2', 2),
                        ('src3', 1), ('src17', 5)) AS t(domain, wt)
),
j AS (SELECT s.domain, s.tokens, w.wt FROM stats s JOIN w USING (domain)),
b AS (
  SELECT MIN(CAST(tokens AS HUGEINT) * (SELECT SUM(wt) FROM w) // wt) AS budget
  FROM j
),
thr AS (
  SELECT domain,
         (SELECT budget FROM b) * wt * CAST(4294967296 AS HUGEINT)
           // ((SELECT SUM(wt) FROM w) * tokens) AS t
  FROM j
),
cuts AS (
  SELECT domain,
         CASE WHEN t >= 4294967296 THEN 'g'
              ELSE printf('%08x', CAST(t AS BIGINT)) END AS cut
  FROM thr
),
kept AS (
  SELECT d.source AS domain, COUNT(*) AS docs_kept,
         CAST(SUM(len(list_filter(string_split_regex(d.text, '\s+'), t -> t != '')))
              AS BIGINT) AS tokens_kept
  FROM documents d JOIN cuts c ON d.source = c.domain
  WHERE substr(md5(CAST(d.doc_id AS VARCHAR) || '|0'), 1, 8) < c.cut
  GROUP BY d.source
)
SELECT s.domain, s.docs AS docs_total, s.tokens AS tokens_total,
       COALESCE(k.docs_kept, 0) AS docs_kept,
       COALESCE(k.tokens_kept, 0) AS tokens_kept,
       uu.*, rr.*, ws.*
FROM stats s LEFT JOIN kept k USING (domain)
CROSS JOIN (__URL_ARM__) uu
CROSS JOIN (
  -- repeat_to_budget legs: budget bound by max_epochs=2, per-source
  -- full epochs + exact-md5 partial epoch (same HUGEINT arithmetic)
  WITH jw2 AS (SELECT s2.domain, s2.docs, s2.tokens, w2.wt
               FROM stats s2 JOIN w w2 USING (domain)),
  bb2 AS (SELECT LEAST(CAST(1000000000 AS HUGEINT),
                       MIN(CAST(2 AS HUGEINT) * tokens *
                           (SELECT SUM(wt) FROM w) // wt)) AS budget
          FROM jw2),
  per2 AS (
    SELECT domain, docs, tokens,
           ((SELECT budget FROM bb2) * wt // (SELECT SUM(wt) FROM w)) AS target
    FROM jw2
  ),
  per3 AS (
    SELECT domain, docs, tokens, CAST(target // tokens AS BIGINT) AS fullep,
           CASE WHEN (target % tokens) * CAST(4294967296 AS HUGEINT) // tokens
                     >= 4294967296
                THEN 'g'
                ELSE printf('%08x', CAST((target % tokens) *
                       CAST(4294967296 AS HUGEINT) // tokens AS BIGINT)) END AS cut
    FROM per2
  ),
  pdocs AS (
    SELECT p.domain, COUNT(*) AS nd,
           CAST(SUM(len(list_filter(string_split_regex(d.text, '\s+'),
                                    t -> t != ''))) AS BIGINT) AS tok
    FROM documents d JOIN per3 p ON d.source = p.domain
    WHERE substr(md5(CAST(d.doc_id AS VARCHAR) || '|0'), 1, 8) < p.cut
    GROUP BY p.domain
  ),
  maxep AS (
    SELECT MAX(CASE WHEN q.nd IS NOT NULL THEN p.fullep
                    ELSE p.fullep - 1 END) AS m
    FROM per3 p LEFT JOIN pdocs q USING (domain)
    WHERE (CASE WHEN q.nd IS NOT NULL THEN p.fullep
                ELSE p.fullep - 1 END) >= 0
  )
  SELECT CAST((SELECT COALESCE(SUM(fullep * docs), 0) FROM per3)
            + (SELECT COALESCE(SUM(nd), 0) FROM pdocs) AS BIGINT) AS rep_rows,
         CAST((SELECT COALESCE(SUM(fullep * tokens), 0) FROM per3)
            + (SELECT COALESCE(SUM(tok), 0) FROM pdocs) AS BIGINT) AS rep_tokens,
         CAST((SELECT m FROM maxep) AS BIGINT) AS rep_epoch_max
) rr
CROSS JOIN (
  -- weighted-sampling leg (round 8): Efraimidis–Spirakis A-Res over
  -- documents weighted by n_chars — same md5-uniform, same
  -- -ln(u)/w jump, n smallest win (ties broken by doc_id)
  SELECT CAST(COUNT(*) AS BIGINT) AS wsample_rows,
         CAST(SUM(n_chars) AS BIGINT) AS wsample_chars,
         md5(string_agg(CAST(doc_id AS VARCHAR), '|'
             ORDER BY CAST(doc_id AS VARCHAR))) AS wsample_md5
  FROM (
    SELECT doc_id, n_chars FROM (
      SELECT doc_id, n_chars,
             -ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|7'),
                                       1, 8))::BIGINT AS DOUBLE) + 1.0)
                 / 4294967296.0)
               / CAST(n_chars AS DOUBLE) AS e
      FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0)
    ORDER BY e, doc_id LIMIT 50)
) ws
ORDER BY s.domain
"""


def _oracle_corpus_mix() -> str:
    """ORACLE_CORPUS_MIX with the urlops arm: the planted URL literals
    through the full normalization spec re-implemented in RE2/DuckDB
    string functions (no expected values hardcoded — both engines run
    their own implementation of the spec over the same VALUES)."""
    values = ",\n    ".join(
        f"({i}, '{u}')" for i, u in enumerate(_URL_FIXTURE)
    )
    psl_values = ", ".join(f"('{u}')" for u in _PSL_URLS)
    suffixes = ", ".join(f"'{s}'" for s in (
        "co.uk", "ac.uk", "gov.uk", "org.uk", "co.jp", "ne.jp", "or.jp",
        "com.au", "net.au", "org.au", "com.br", "com.cn", "com.mx",
        "co.in", "co.kr", "co.nz", "com.sg", "com.tr", "co.za",
    ))
    url_arm = rf"""
  WITH raw(id, u) AS (VALUES
    {values}
  ),
  n1 AS (
    SELECT id, u,
           lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1)) ||
           regexp_replace(u, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', '') AS v
    FROM raw
  ),
  n2 AS (SELECT id, u, regexp_replace(v, '#.*$', '') AS v FROM n1),
  n3 AS (SELECT id, u,
           regexp_replace(v, '^(http://[^/?#]*):80((?:[/?#].*)?)$', '\1\2') AS v
         FROM n2),
  n4 AS (SELECT id, u,
           regexp_replace(v, '^(https://[^/?#]*):443((?:[/?#].*)?)$', '\1\2') AS v
         FROM n3),
  n5 AS (SELECT id, u,
           regexp_replace(v, '^([a-z][a-z0-9+.-]*://)www\.', '\1') AS v
         FROM n4),
  n6 AS (
    SELECT id, u,
           CASE WHEN len(plist) > 0
                THEN base || '?' || list_aggregate(list_sort(plist), 'string_agg', '&')
                ELSE base END AS v
    FROM (
      SELECT id, u,
             CASE WHEN strpos(v, '?') > 0 THEN substr(v, 1, strpos(v, '?') - 1)
                  ELSE v END AS base,
             list_filter(
               string_split(CASE WHEN strpos(v, '?') > 0
                                 THEN substr(v, strpos(v, '?') + 1)
                                 ELSE '' END, '&'),
               p -> p <> '' AND NOT (
                 p LIKE 'utm\_%' ESCAPE '\'
                 OR p = 'fbclid' OR p LIKE 'fbclid=%'
                 OR p = 'gclid' OR p LIKE 'gclid=%'
                 OR p = 'msclkid' OR p LIKE 'msclkid=%'
                 OR p = 'ref' OR p LIKE 'ref=%')) AS plist
      FROM n5
    )
  ),
  normed AS (
    SELECT id, u,
           regexp_replace(v, '^([a-z][a-z0-9+.-]*://[^/?#]+)/$', '\1') AS v
    FROM n6
  ),
  hosts AS (
    SELECT id, u, v,
           CASE WHEN h = '' THEN NULL ELSE h END AS host
    FROM (SELECT id, u, v,
                 regexp_replace(
                   lower(regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)', 1)),
                   '^www\.', '') AS h
          FROM normed)
  ),
  doms AS (
    SELECT id, u, v, host,
           CASE WHEN host IS NULL THEN NULL
                WHEN len(parts) <= take THEN host
                ELSE list_aggregate(
                       list_slice(parts, len(parts) - take + 1, len(parts)),
                       'string_agg', '.') END AS dom
    FROM (
      SELECT *, CASE WHEN len(parts) >= 3 AND
                          (parts[len(parts) - 1] || '.' || parts[len(parts)])
                            IN ({suffixes})
                     THEN 3 ELSE 2 END AS take
      FROM (SELECT id, u, v, host, string_split(host, '.') AS parts FROM hosts)
    )
  )
  SELECT md5(string_agg(v, '|' ORDER BY v)) AS url_norm_md5,
         CAST(COUNT(DISTINCT host) AS BIGINT) AS url_host_cnt,
         CAST(COUNT(DISTINCT dom) AS BIGINT) AS url_domain_cnt,
         CAST(COUNT(DISTINCT v) AS BIGINT) AS url_dedup_kept,
         -- NULL-host rows are never capped (the engine's contract) —
         -- the NULL group must NOT go through LEAST()
         (SELECT CAST(SUM(CASE WHEN host IS NULL THEN n
                               ELSE LEAST(n, 2) END) AS BIGINT)
          FROM (SELECT host, COUNT(*) AS n FROM hosts GROUP BY host)) AS url_cap2_kept,
         (SELECT CAST(COUNT(*) AS BIGINT)
          FROM (SELECT host, COUNT(*) AS n FROM hosts
                WHERE host IS NOT NULL GROUP BY host)
          WHERE n > 2) AS url_cap_hosts_capped,
         (SELECT CAST(COALESCE(SUM(n - 2), 0) AS BIGINT)
          FROM (SELECT host, COUNT(*) AS n FROM hosts
                WHERE host IS NOT NULL GROUP BY host)
          WHERE n > 2) AS url_cap_rows_dropped,
         -- round 6: full public-suffix ALGORITHM re-derived in SQL
         -- over the planted rules VALUES (normal/wildcard/exception,
         -- longest match, exception wins, implicit '*' default;
         -- host-is-suffix returns the host)
         (WITH pslr(rule, kind) AS (VALUES
            ('com','n'),('uk','n'),('co.uk','n'),('ac.uk','n'),
            ('ck','n'),('github.io','n'),('s3.amazonaws.com','n'),
            ('ck','w'),('reg.ck','e')),
          pslu(u) AS (VALUES __PSL_URLS__),
          pslh AS (
            SELECT u, CASE WHEN h = '' THEN NULL ELSE h END AS h
            FROM (SELECT u, regexp_replace(
                    lower(regexp_extract(u,
                      '^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)', 1)),
                    '^www\.', '') AS h
                  FROM pslu)
          ),
          pslc AS (
            SELECT u, h, string_split(h, '.') AS parts,
                   len(string_split(h, '.')) AS n
            FROM pslh WHERE h IS NOT NULL
          ),
          cnds AS (
            SELECT u, h, n,
              list_aggregate(list_slice(parts, n, n), 'string_agg', '.') AS c1,
              CASE WHEN n >= 2 THEN list_aggregate(
                list_slice(parts, n - 1, n), 'string_agg', '.') END AS c2,
              CASE WHEN n >= 3 THEN list_aggregate(
                list_slice(parts, n - 2, n), 'string_agg', '.') END AS c3,
              CASE WHEN n >= 4 THEN list_aggregate(
                list_slice(parts, n - 3, n), 'string_agg', '.') END AS c4
            FROM pslc
          ),
          lv AS (
            SELECT u, h, n, c1, c2, c3, c4,
              GREATEST(1,
                CASE WHEN c1 IN (SELECT rule FROM pslr WHERE kind = 'n'
                                 AND len(string_split(rule, '.')) = 1)
                     THEN 1 ELSE 0 END,
                CASE WHEN c2 IN (SELECT rule FROM pslr WHERE kind = 'n'
                                 AND len(string_split(rule, '.')) = 2)
                     THEN 2 ELSE 0 END,
                CASE WHEN c3 IN (SELECT rule FROM pslr WHERE kind = 'n'
                                 AND len(string_split(rule, '.')) = 3)
                     THEN 3 ELSE 0 END,
                CASE WHEN n >= 2 AND c1 IN (SELECT rule FROM pslr
                                            WHERE kind = 'w'
                                 AND len(string_split(rule, '.')) = 1)
                     THEN 2 ELSE 0 END,
                CASE WHEN n >= 3 AND c2 IN (SELECT rule FROM pslr
                                            WHERE kind = 'w'
                                 AND len(string_split(rule, '.')) = 2)
                     THEN 3 ELSE 0 END) AS slv,
              COALESCE(CASE WHEN c2 IN (SELECT rule FROM pslr
                                        WHERE kind = 'e'
                             AND len(string_split(rule, '.')) = 2)
                            THEN 2 END, 0) AS exc
            FROM cnds
          ),
          dom AS (
            SELECT u, CASE WHEN tk >= n THEN h
                           WHEN tk = 1 THEN c1 WHEN tk = 2 THEN c2
                           WHEN tk = 3 THEN c3 WHEN tk = 4 THEN c4 END AS d
            FROM (SELECT u, h, n, c1, c2, c3, c4,
                         CASE WHEN exc > 0 THEN exc ELSE slv + 1 END AS tk
                  FROM lv)
          )
          SELECT md5(string_agg(d, '|' ORDER BY d)) FROM dom
         ) AS url_psl_md5,
         -- round 6: robots.txt politeness verdicts over the same
         -- VALUES — prefix patterns re-compiled with the engine's
         -- escape/wildcard/anchor chain, longest-match allow-wins
         -- resolution as MAX(allow_len) >= MAX(disallow_len)
         (WITH rr(rhost, rrule, rprefix, rplen) AS (VALUES
            ('a.com', 'disallow', '/x', 2),
            ('a.com', 'allow', '/x/', 3),
            ('example.com', 'disallow', '/page*$', 7),
            ('news.example.co.uk', 'disallow', '/', 1)),
          up AS (
            SELECT id, host,
                   CASE WHEN p IS NULL OR p = '' THEN '/' ELSE p END AS path
            FROM (SELECT id, host,
                         regexp_extract(u,
                           '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([/?][^#]*)?',
                           1) AS p
                  FROM hosts)
          ),
          cand AS (
            SELECT up.id, rr.rrule, rr.rplen,
                   regexp_matches(up.path, '^' ||
                     regexp_replace(regexp_replace(regexp_replace(rr.rprefix,
                       '([.^$+?()\[\]{{}}|\\])', '\\\1', 'g'),
                       '\*', '.*', 'g'),
                       '\\\$$', '$', 'g')) AS hit
            FROM up LEFT JOIN rr ON up.host = rr.rhost
          ),
          rv AS (
            SELECT id,
                   COALESCE(MAX(CASE WHEN rrule = 'allow' AND hit
                                     THEN rplen END), -1)
                   >= COALESCE(MAX(CASE WHEN rrule = 'disallow' AND hit
                                        THEN rplen END), -1) AS ok
            FROM cand GROUP BY id
          )
          SELECT CAST(SUM(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT)
          FROM rv) AS robots_allowed_cnt,
         CAST(COUNT(*) AS BIGINT) AS robots_total_cnt,
         -- round 6: takedown audit counts over the same VALUES (id +
         -- URL-regex + content-hash rules; a row matching several
         -- rules counts once in removed, once per rule it matched)
         CAST(COUNT(*) AS BIGINT) AS td_total,
         CAST(SUM(CASE WHEN id IN (2, 3)
                        OR regexp_matches(u, 'utm_source')
                        OR regexp_matches(u, '^http://')
                        OR md5(u) = md5('not-a-url-1')
                  THEN 1 ELSE 0 END) AS BIGINT) AS td_removed,
         CAST(SUM(CASE WHEN id IN (2, 3)
                        OR regexp_matches(u, 'utm_source')
                        OR regexp_matches(u, '^http://')
                        OR md5(u) = md5('not-a-url-1')
                  THEN 0 ELSE 1 END) AS BIGINT) AS td_kept,
         CAST(SUM(CASE WHEN id IN (2, 3) THEN 1 ELSE 0 END) AS BIGINT) AS td_m_ids,
         CAST(SUM(CASE WHEN regexp_matches(u, 'utm_source')
                  THEN 1 ELSE 0 END) AS BIGINT) AS td_m_p0,
         CAST(SUM(CASE WHEN regexp_matches(u, '^http://')
                  THEN 1 ELSE 0 END) AS BIGINT) AS td_m_p1,
         CAST(SUM(CASE WHEN md5(u) = md5('not-a-url-1')
                  THEN 1 ELSE 0 END) AS BIGINT) AS td_m_hash
  FROM doms
"""
    return ORACLE_CORPUS_MIX.replace("__URL_ARM__", url_arm).replace(
        "__PSL_URLS__", psl_values
    )


def q_seq_packing(spark: SparkSession, sf: str) -> DataFrame:
    """[EXT] sequence packing (operators/packing.py) — 1-row invariant
    panel at capacity 64 (the corpus spans 10-99 tokens, so both the
    co-location and the clamp-oversized paths are exercised). The bin
    ASSIGNMENT is engine-internal (FFD tie order); the panel pins the
    engine-independent facts — doc and token conservation post-clamp,
    truncation count — exactly, plus the packing invariants (no
    overfull bin; bin count within [ceil(tokens/capacity), docs]) as
    booleans the oracle states as constants. Exact FFD bin counts are
    pinned in tests/test_corpus_ops.py.

    BPE legs (operators/bpe.py, fused round 5 — the token world's
    second panel sharing this slot):

    - ``bpe0_tokens``: corpus token total under the EMPTY merge list —
      one token per character with the end-of-word marker on the last
      symbol, so the total is exactly the summed character length of
      the whitespace vocabulary (the oracle recounts it in SQL).
    - ``bpe1_tokens``: total under the single merge ('t','h').  The
      marker makes word-final 'h' a distinct symbol ('h</w>'), so the
      SQL-derivable saving is the count of 'th' occurrences whose 'h'
      is not word-final (disjoint for a two-distinct-char pair).
    - ``bpe_first_merge``: the first TRAINED merge — argmax adjacent
      symbol pair by (freq desc, pair lex asc) over word types, which
      the oracle re-derives with an UNNEST/GROUP BY on character
      pairs.  This pins the distributed word-count + driver-trainer
      composition, not just the apply path.
    """
    from harness_aws_etl_pipeline_spark.functions.text import word_count
    from harness_aws_etl_pipeline_spark.operators.bpe import apply_bpe, train_bpe
    from harness_aws_etl_pipeline_spark.operators.packing import packing_stats
    from harness_aws_etl_pipeline_spark.sinks.shards import assign_shards

    docs = _t(spark, sf, "documents")
    bpe0 = apply_bpe(docs.select("text"), []).agg(
        F.sum("bpe_tokens_cnt").cast("long").alias("bpe0_tokens")
    )
    bpe1 = apply_bpe(docs.select("text"), [("t", "h")]).agg(
        F.sum("bpe_tokens_cnt").cast("long").alias("bpe1_tokens")
    )
    first = train_bpe(docs, num_merges=1)
    first_str = f"{first[0][0]}|{first[0][1]}" if first else ""
    bpe_first = spark.createDataFrame(
        [(first_str,)], "bpe_first_merge string"
    )
    # shard-layout legs (sinks/shards.py, fused round 5): the two-level
    # prefix sum's global running totals re-derived by the oracle's
    # single cumsum window — shard count and shard-0 token fill
    toks = docs.select(
        F.col("doc_id").alias("bin_id"),
        F.least(word_count("text"), F.lit(64)).cast("long").alias("total_tokens"),
    )
    sh = assign_shards(toks, tokens_per_shard=512).agg(
        F.countDistinct("shard_id").cast("long").alias("shard_cnt"),
        F.coalesce(
            F.sum(F.when(F.col("shard_id") == 0, F.col("total_tokens"))),
            F.lit(0),
        )
        .cast("long")
        .alias("shard0_tokens"),
    )
    return (
        packing_stats(docs, capacity=64, buckets=8)
        .crossJoin(F.broadcast(bpe0))
        .crossJoin(F.broadcast(bpe1))
        .crossJoin(F.broadcast(bpe_first))
        .crossJoin(F.broadcast(sh))
    )


ORACLE_SEQ_PACKING = r"""
WITH toks AS (
  SELECT len(list_filter(string_split_regex(text, '\s+'), t -> t != '')) AS n
  FROM documents
),
words AS (
  SELECT UNNEST(list_filter(string_split_regex(lower(text), '\s+'), t -> t != '')) AS w
  FROM documents
),
wf AS (SELECT w, COUNT(*) AS freq FROM words GROUP BY w),
first_pairs AS (
  SELECT substr(w, i, 1) AS a,
         substr(w, i + 1, 1) ||
           CASE WHEN i + 1 = length(w) THEN '</w>' ELSE '' END AS b,
         SUM(freq) AS f
  FROM wf, UNNEST(range(1, length(w))) AS r(i)
  WHERE length(w) >= 2
  GROUP BY a, b
)
SELECT COUNT(*) AS docs_packed,
       CAST(SUM(LEAST(n, 64)) AS BIGINT) AS token_total,
       CAST(SUM(CASE WHEN n > 64 THEN 1 ELSE 0 END) AS BIGINT) AS truncated_docs,
       CAST(0 AS BIGINT) AS overfull_bins,
       TRUE AS bins_ok,
       (SELECT CAST(SUM(length(w)) AS BIGINT) FROM words) AS bpe0_tokens,
       (SELECT CAST(SUM(length(w)) AS BIGINT)
               - CAST(SUM((length(s) - length(replace(s, 'th', ''))) // 2) AS BIGINT)
        FROM (SELECT w, CASE WHEN length(w) > 1
                            THEN substr(w, 1, length(w) - 1)
                            ELSE w END AS s
              FROM words)) AS bpe1_tokens,
       COALESCE((SELECT a || '|' || b FROM first_pairs
                 WHERE f >= 2 ORDER BY f DESC, a, b LIMIT 1), '') AS bpe_first_merge,
       (SELECT CAST(COUNT(DISTINCT (c - t) // 512 ) AS BIGINT)
        FROM (SELECT t, SUM(t) OVER (ORDER BY doc_id
                      ROWS UNBOUNDED PRECEDING) AS c
              FROM (SELECT doc_id,
                           LEAST(len(list_filter(string_split_regex(text, '\s+'),
                                                 x -> x != '')), 64) AS t
                    FROM documents))) AS shard_cnt,
       (SELECT CAST(COALESCE(SUM(CASE WHEN (c - t) // 512 = 0 THEN t END), 0) AS BIGINT)
        FROM (SELECT t, SUM(t) OVER (ORDER BY doc_id
                      ROWS UNBOUNDED PRECEDING) AS c
              FROM (SELECT doc_id,
                           LEAST(len(list_filter(string_split_regex(text, '\s+'),
                                                 x -> x != '')), 64) AS t
                    FROM documents))) AS shard0_tokens
FROM toks
"""


from harness_aws_etl_pipeline_spark.plans.catalog import (  # noqa: E402
    _VALUE_MEMO,
    QuerySpec,
)


# ---- round-10 fusions: free driver-window slots for the ni_* split ----
# Each fused builder crossJoins previously-standalone 1-row panels that
# were green r1-r9; the driver records correctness for only the first
# 50 catalog entries, and splitting the numeric_inference mega-panel
# into per-leg ni_* entries needed 7 freed slots.


def q_doc_fingerprint_fused(spark, sf):
    """doc_fingerprint + line_dedup + seq_packing 1-row panels fused
    (round 10, window slot reclamation; all components green r1-r9)."""
    from pyspark.sql import functions as F

    return (
        q_doc_fingerprint(spark, sf)
        .crossJoin(F.broadcast(q_line_dedup(spark, sf)))
        .crossJoin(F.broadcast(q_seq_packing(spark, sf)))
    )


def q_asof_fuzzy_fused(spark, sf):
    """fuzzy_dedup_verify value-oracle panel + asof_join panel fused
    (round 10, window slot reclamation)."""
    from pyspark.sql import functions as F

    return q_fuzzy_dedup_verify(spark, sf).crossJoin(
        F.broadcast(q_asof_join(spark, sf))
    )


def q_near_dup_fused(spark, sf):
    """near_dup_clusters + ngram_jaccard panels fused (round 10,
    window slot reclamation; both headline — the fused entry keeps the
    headline flag so the bench sum is unchanged).

    r13: the two panels derive from the SAME ``ngram_jaccard_pairs``
    subtree (same args) — build it once and pass it to both, so one
    call constructs and executes the candidate self-join once instead
    of once per panel (common-subexpression elimination inside a single
    query; the computed values are unchanged).

    r13 round-2: ONE gating limit-collect (near_dup_panel_stats) now
    serves both panels — union-find summary AND the pair-count /
    Jaccard-sum rollup — so a call below the driver gate pays a single
    Spark job for everything pair-derived."""
    from pyspark.sql import functions as F

    from harness_aws_etl_pipeline_spark.operators.dedup_fuzzy import (
        near_dup_panel_stats,
    )

    docs = _t(spark, sf, "documents")
    pairs = _PAIRS_MEMO.get_or_persist(
        ngram_jaccard_pairs(docs, n=5, threshold=0.2)
    )
    stats = near_dup_panel_stats(pairs)
    return q_near_dup_clusters(spark, sf, pairs=pairs, stats=stats).crossJoin(
        F.broadcast(q_ngram_jaccard(spark, sf, pairs=pairs, stats=stats))
    )


def q_rules_multimodal_fused(spark, sf):
    """rules_surface + multimodal_meta 1-row panels fused (round 10,
    window slot reclamation)."""
    from pyspark.sql import functions as F

    return q_rules_surface(spark, sf).crossJoin(
        F.broadcast(q_multimodal_meta(spark, sf))
    )


EXT_CATALOG: list[QuerySpec] = [
    QuerySpec("text_stats", q_text_stats, ORACLE_TEXT_STATS,
              "[EXT] text statistics + token counts by source",
              headline=True, tags=("ext", "text")),
    QuerySpec("lang_id", q_lang_id, _oracle_lang_id(),
              "[EXT] marker-word language ID", tags=("ext", "text")),
    QuerySpec("quality_score", q_quality_score, ORACLE_QUALITY,
              "[EXT] document quality scoring", tags=("ext", "text")),
    QuerySpec("doc_fingerprint", q_doc_fingerprint_fused,
              f"SELECT * FROM ({_oracle_fingerprint()}) fp_panel "
              f"CROSS JOIN ({ORACLE_LINE_DEDUP}) ld_panel "
              f"CROSS JOIN ({ORACLE_SEQ_PACKING}) sp_panel",
              "[EXT] md5 + rolling-hash fingerprints + PII redaction + "
              "CCNet-style line-level corpus dedup + sequence-packing "
              "invariants (fused 1-row panels)", tags=("ext", "text", "dedup")),
    QuerySpec("tfidf", q_tfidf, ORACLE_TFIDF,
              "[EXT] corpus TF-IDF top terms", tags=("ext", "text")),
    QuerySpec("corpus_mix", q_corpus_mix, _oracle_corpus_mix(),
              "[EXT] domain-weighted corpus mixing (exact-integer md5 "
              "thresholds, full operator re-derived by the oracle) + "
              "urlops legs (normalize/host/eTLD+1/dedup/per-host-cap "
              "over planted literals, spec re-implemented in SQL)",
              tags=("ext", "sampling", "url")),
    QuerySpec("train_test_split", q_train_test_split, None,
              "[EXT] deterministic hash split, fast xxhash64 path "
              "(values oracled via fuzzy_dedup_verify)",
              tags=("ext", "sampling")),
    QuerySpec("pandas_udaf", q_pandas_udaf, ORACLE_PANDAS_UDAF,
              "[EXT] GROUPED_AGG pandas UDAF (exact median)",
              tags=("ext", "udf")),
    QuerySpec("near_dup_clusters", q_near_dup_fused,
              f"SELECT * FROM ({_oracle_near_dup_clusters()}) ndc_panel "
              f"CROSS JOIN ({ORACLE_NGRAM_JACCARD}) ngj_panel",
              "[EXT] near-dup clustering + canonical dedup + pagerank + "
              "n-gram Jaccard near-dup with blocking + token-window "
              "chunking (fused 1-row panels)",
              headline=True, tags=("ext", "dedup", "text")),
    QuerySpec("fuzzy_dedup_verify", q_asof_fuzzy_fused,
              f"SELECT * FROM ({_oracle_fuzzy_dedup_verify()}) fz_panel "
              f"CROSS JOIN ({ORACLE_ASOF}) asof_panel",
              "[EXT] value oracle: MinHash-LSH + SimHash + embedding "
              "near-dup + hash split (md5/fold variants) + as-of join "
              "and bucketed range-join legs (fused 1-row panels)",
              tags=("ext", "dedup", "sampling", "verify", "join")),
    QuerySpec("ann_topk_verify", q_ann_topk_verify, _oracle_ann_topk_verify(),
              "[EXT] value oracle: LSH-bucketed + exhaustive-probe IVF "
              "top-k rankings", tags=("ext", "similarity", "verify")),
    QuerySpec("minhash_lsh", q_minhash_lsh, None,
              "[EXT] MinHash+LSH near-dup, fast blake2b path "
              "(values oracled via fuzzy_dedup_verify)", headline=True,
              tags=("ext", "dedup")),
    QuerySpec("simhash", q_simhash, None,
              "[EXT] SimHash sketch + banded near pairs, fast xxhash64 path "
              "(values oracled via fuzzy_dedup_verify)",
              tags=("ext", "dedup")),
    QuerySpec("sim_bruteforce_topk", q_sim_bruteforce_topk, ORACLE_SIM_TOPK,
              "[EXT] exact cosine top-k (Arrow BLAS path)", headline=True,
              tags=("ext", "similarity")),
    QuerySpec("sim_lsh_topk", q_sim_lsh_topk, _oracle_sim_lsh_topk(),
              "[EXT] LSH-bucketed approximate top-k, Arrow path "
              "(direct plane-fold oracle)",
              tags=("ext", "similarity")),
    QuerySpec("embedding_near_dup", q_embedding_near_dup, None,
              "[EXT] embedding-cosine near-dup pairs, Arrow path "
              "(values oracled via fuzzy_dedup_verify)",
              tags=("ext", "dedup", "similarity")),
    QuerySpec("sim_ivf_topk", q_sim_ivf_topk, None,
              "[EXT] IVF approximate top-k at nprobe<n_centroids "
              "(values oracled via ann_topk_verify)",
              tags=("ext", "similarity")),
    QuerySpec("semantic_dedup", q_semantic_dedup, None,
              "[EXT] SemDeDup semantic dedup, fast k-means+greedy path "
              "(values oracled via fuzzy_dedup_verify)",
              tags=("ext", "dedup", "similarity")),
    QuerySpec("skew_salted_agg", q_skew_salted_agg, ORACLE_SKEW_AGG,
              "skew-safe salted two-phase aggregation", tags=("ext", "skew")),
    QuerySpec("rules_surface", q_rules_multimodal_fused,
              f"SELECT * FROM ({ORACLE_RULES}) rules_panel "
              f"CROSS JOIN ({ORACLE_MULTIMODAL}) mm_panel",
              "§2.12 TransformationRule pipeline + [EXT] binary payload "
              "+ Arrow feature extraction (fused 1-row panels)",
              tags=("ext", "rules", "multimodal")),
    QuerySpec("embedding_norms", q_embedding_norms, ORACLE_EMBEDDING_NORMS,
              "[EXT] embedding profiling", tags=("ext", "similarity")),
]
