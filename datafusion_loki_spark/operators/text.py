"""Text-analysis operators for LLM training-data pipelines (north-star
extension; no reference analogue — BASELINE.json requires these designed
for 100 TB).

Everything here is built-in-function Spark SQL (whole-stage codegen, no
Python in the hot path): tokenization via split, stopword counts via array
lambdas, fingerprints via md5. Each operator is a narrow projection over
``documents`` → Catalyst prunes the scan to (doc_id, text[, lang]) only.
All are embarrassingly parallel (no shuffle except the explicit GROUP BY in
token_freq) — the plan shape is scan→project at any scale.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from datafusion_loki_spark.catalog import load_table
from datafusion_loki_spark.functions import local
from datafusion_loki_spark.functions.checkpoints import release

# Shared normalization: lowercase, collapse whitespace. The Spark and DuckDB
# forms below MUST stay in lockstep — they are the two halves of the oracle
# contract.
_NORM_SPARK = "lower(trim(regexp_replace(text, '\\\\s+', ' ')))"
_NORM_DUCK = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it", "for", "on")
_STOP_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)

# Marker words per language for the n-gram/stopword language-ID heuristic.
LANG_MARKERS = {
    "en": ("the", "and", "of", "is", "with"),
    "de": ("der", "die", "und", "ist", "mit"),
    "fr": ("le", "la", "et", "est", "avec"),
    "es": ("el", "los", "y", "es", "con"),
    "zh": ("的", "了", "是", "在", "和"),
}


def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token/char/punctuation/stopword statistics.

    token counting = whitespace split over normalized text; punctuation via
    regex strip; stopword ratio via array-lambda filter (all codegen'd).
    The token array is materialized ONCE behind a projection barrier and
    every statistic reads the shared ``toks`` column — the inline-per-column
    form ran the regexp+split chain up to 10× per row (CollapseProject
    keeps the barrier because toks has several non-lambda references;
    see the _SHINGLES_FROM_TOKS note in operators/dedup.py)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "text", F.expr(f"split({_NORM_SPARK}, ' ')").alias("toks")
    )
    return toks.select(
        "doc_id",
        F.expr("size(toks)").alias("n_tokens"),
        F.length("text").alias("n_chars_actual"),
        F.expr("length(regexp_replace(text, '[^.,;:!?]', ''))").alias("n_punct"),
        F.expr(
            f"size(filter(toks, t -> t in ({_STOP_SQL})))"
        ).alias("n_stopwords"),
        F.expr(
            f"cast(size(filter(toks, t -> t in ({_STOP_SQL}))) as double)"
            " / size(toks)"
        ).alias("stop_ratio"),
        F.expr(
            "cast(aggregate(toks, 0, (acc, t) -> acc + length(t)) as double)"
            " / size(toks)"
        ).alias("avg_token_len"),
    )


ORACLE_TEXT_STATS = f"""
SELECT doc_id,
       len(string_split({_NORM_DUCK}, ' ')) AS n_tokens,
       length(text) AS n_chars_actual,
       length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct,
       len(list_filter(string_split({_NORM_DUCK}, ' '), t -> t IN ({_STOP_SQL})))
         AS n_stopwords,
       CAST(len(list_filter(string_split({_NORM_DUCK}, ' '), t -> t IN ({_STOP_SQL})))
            AS DOUBLE) / len(string_split({_NORM_DUCK}, ' ')) AS stop_ratio,
       CAST(list_sum(list_transform(string_split({_NORM_DUCK}, ' '), t -> length(t)))
            AS DOUBLE) / len(string_split({_NORM_DUCK}, ' ')) AS avg_token_len
FROM documents
"""


def text_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality gate: keep documents passing simple trainability heuristics
    (length window, bounded punctuation density, token-length sanity) and
    emit an integer quality score. The 100 TB story: this is a pure
    filter+project — runs at scan speed, prunes data before any shuffle.

    Plan note: predicate pushdown substitutes the stat aliases into the
    scan-side Filter (Catalyst inlines through projections regardless of
    expression cost), so the tokenizer chain appears several times in the
    predicate. That is the right side of the trade for a REJECTING gate:
    failing rows die at the scan without ever materializing the stats
    projection; the passing minority pays one extra chain. The shared-toks
    barrier in text_stats still caps the projection itself at one run."""
    stats = text_stats(spark, sf_dir)
    return (
        quality_scored(stats)
        .where(F.col("quality_score") >= 70)
        .select("doc_id", "n_tokens", "quality_score")
    )


def quality_scored(stats: DataFrame) -> DataFrame:
    """text_stats + the integer quality_score column, UNFILTERED — shared
    by the ≥70 gate above and the corpus-tuning audits that need the
    score of every document (sampling.mix_quality_vs_dedup)."""
    return stats.withColumn(
        "quality_score",
        (
            F.when(
                (F.col("n_tokens") >= 10) & (F.col("n_tokens") <= 1000), 40
            ).otherwise(0)
            + F.when(F.col("n_punct") * 10 <= F.col("n_tokens") * 3, 30).otherwise(0)
            + F.when(
                (F.col("avg_token_len") >= 2.0) & (F.col("avg_token_len") <= 12.0),
                30,
            ).otherwise(0)
        ),
    )


# the UNFILTERED scored frame (every doc), composed by the gate oracle
# below and by the quality-vs-dedup audit oracle
ORACLE_QUALITY_SCORED = f"""
WITH s AS (
  SELECT doc_id,
         len(string_split({_NORM_DUCK}, ' ')) AS n_tokens,
         length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct,
         CAST(list_sum(list_transform(string_split({_NORM_DUCK}, ' '), t -> length(t)))
              AS DOUBLE) / len(string_split({_NORM_DUCK}, ' ')) AS avg_token_len
  FROM documents
)
SELECT doc_id, n_tokens,
       (CASE WHEN n_tokens BETWEEN 10 AND 1000 THEN 40 ELSE 0 END
        + CASE WHEN n_punct * 10 <= n_tokens * 3 THEN 30 ELSE 0 END
        + CASE WHEN avg_token_len BETWEEN 2.0 AND 12.0 THEN 30 ELSE 0 END)
         AS quality_score
FROM s
"""

ORACLE_TEXT_QUALITY = f"""
SELECT doc_id, n_tokens, quality_score
FROM ({ORACLE_QUALITY_SCORED}) scored
WHERE quality_score >= 70
"""


# --- supervised quality classifier (Naive-Bayes vote) ---------------------------

# the classifier's training shard: md5 hex char 2 (char 1 belongs to the
# BPE held-out / sampling bucket conventions) — a deterministic ~1/2 split
QC_TRAIN_SPARK = "substring(md5(cast(doc_id as string)), 2, 1) < '8'"
QC_TRAIN_DUCK = "substring(md5(CAST(doc_id AS VARCHAR)), 2, 1) < '8'"


def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GPT-3/CCNet-style LEARNED quality gate (Brown et al.,
    arXiv:2005.14165 Appendix A; Wenzek et al., arXiv:1911.00359):
    train a token-level classifier on pseudo-labeled data, score every
    document. Pseudo-labels come from the rule gate (quality_scored >=
    70 — the role Wikipedia plays in CCNet) over a deterministic
    md5-bucket training shard; scoring covers the WHOLE corpus.

    The classifier is a multinomial-Naive-Bayes VOTE, kept
    integer-exact so the DuckDB oracle can replay it bit-for-bit (a
    log-likelihood sum would ride float ln() — engine-divergent): a
    token occurrence votes HQ iff its Laplace-smoothed class likelihood
    ratio favors HQ, decided by the cross-multiplied INTEGER comparison
    (c_hq(w)+1)·(N_lq+V) > (c_lq(w)+1)·(N_hq+V) — exactly the sign of
    the per-token NB log-ratio. Unseen tokens fall to the smoothing
    prior (they favor the smaller class corpus), the genuine NB
    behavior. Per doc: n_tokens, votes_hq, votes_lq, and the majority
    verdict pred_hq. Products ride decimal(38,0) (Spark) / HUGEINT
    (DuckDB) — exact to ~1e38, far past 100 TB token counts.

    100 TB posture: one training pass (shard scan -> token explode ->
    vocab-scale groupBy), one scoring pass (corpus scan -> token
    explode -> merge-pinned LEFT join to the vocab stats -> per-doc
    agg). The stats frame is localCheckpointed (consumed by the join
    AND the totals roll-up); the totals ride a broadcast 1-row frame.
    Nothing collects; no driver loop."""
    docs = load_table(spark, sf_dir, "documents")
    counts, totals = _nb_train(spark, sf_dir)
    toks_all = docs.select(
        "doc_id", F.explode_outer(F.expr(f"split({_NORM_SPARK}, ' ')")).alias("w")
    ).where(F.col("w").isNotNull())
    scored = (
        toks_all.join(counts.hint("merge"), "w", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "doc_id",
            F.expr(f"IF({_NB_LHS} > {_NB_RHS}, 1, 0)").alias("v_hq"),
            F.expr(f"IF({_NB_LHS} < {_NB_RHS}, 1, 0)").alias("v_lq"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("v_hq").alias("votes_hq"),
            F.sum("v_lq").alias("votes_lq"),
        )
        .withColumn(
            "pred_hq",
            F.when(F.col("votes_hq") > F.col("votes_lq"), 1)
            .otherwise(0)
            .cast("int"),
        )
    )


# the per-token NB decision, shared by the batch scorer and the
# streaming gate: the sign of the Laplace-smoothed log-likelihood ratio
# as a cross-multiplied integer comparison (decimal(38,0)-exact)
_NB_LHS = "(coalesce(c_hq, 0) + 1) * cast(n_lq + v as decimal(38,0))"
_NB_RHS = "(coalesce(c_lq, 0) + 1) * cast(n_hq + v as decimal(38,0))"


def _nb_train(
    spark: SparkSession, sf_dir: str
) -> "tuple[DataFrame, DataFrame]":
    """The classifier's TRAINING pass, shared by the batch scorer and
    the streaming gate (streaming.pipeline.quality_gate_stream — the
    model artifacts a deployment would persist): returns (per-token
    class counts (w, c_hq, c_lq) — localCheckpointed, it feeds both the
    scoring join and the totals roll-up — and the 1-row totals frame
    (n_hq, n_lq, v)). Pseudo-labels are computed INLINE on the training
    shard (no corpus-scale label join): the rule score reads the shared
    toks barrier once."""
    docs = load_table(spark, sf_dir, "documents")
    toks_expr = f"split({_NORM_SPARK}, ' ')"
    train_stats = docs.where(QC_TRAIN_SPARK).select(
        "doc_id",
        "text",
        F.expr(toks_expr).alias("toks"),
    ).select(
        "toks",
        F.expr("size(toks)").alias("n_tokens"),
        F.expr("length(regexp_replace(text, '[^.,;:!?]', ''))").alias(
            "n_punct"
        ),
        F.expr(
            "cast(aggregate(toks, 0, (acc, t) -> acc + length(t)) as double)"
            " / size(toks)"
        ).alias("avg_token_len"),
    )
    train = quality_scored(train_stats).select(
        F.explode_outer("toks").alias("w"),
        (F.col("quality_score") >= 70).cast("long").alias("hq"),
    ).where(F.col("w").isNotNull())
    counts = (
        train.groupBy("w")
        .agg(
            F.sum("hq").alias("c_hq"),
            F.sum(F.lit(1) - F.col("hq")).alias("c_lq"),
        )
        .localCheckpoint(eager=True)
    )
    totals = counts.agg(
        F.sum("c_hq").alias("n_hq"),
        F.sum("c_lq").alias("n_lq"),
        F.count("*").alias("v"),
    )
    return counts, totals


ORACLE_QUALITY_CLASSIFIER = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split({_NORM_DUCK}, ' ')) AS w
  FROM documents
), labels AS (
  SELECT doc_id, CASE WHEN quality_score >= 70 THEN 1 ELSE 0 END AS hq
  FROM ({ORACLE_QUALITY_SCORED}) q
  WHERE {QC_TRAIN_DUCK}
), counts AS (
  SELECT w, SUM(l.hq) AS c_hq, SUM(1 - l.hq) AS c_lq
  FROM toks t JOIN labels l USING (doc_id)
  GROUP BY w
), tot AS (
  SELECT SUM(c_hq) AS n_hq, SUM(c_lq) AS n_lq, COUNT(*) AS v FROM counts
)
SELECT doc_id, n_tokens, votes_hq, votes_lq,
       CAST(CASE WHEN votes_hq > votes_lq THEN 1 ELSE 0 END AS INTEGER)
         AS pred_hq
FROM (
  SELECT t.doc_id,
         COUNT(*) AS n_tokens,
         CAST(SUM(CASE WHEN (COALESCE(c.c_hq, 0) + 1) * (tot.n_lq + tot.v)
                           > (COALESCE(c.c_lq, 0) + 1) * (tot.n_hq + tot.v)
                  THEN 1 ELSE 0 END) AS BIGINT) AS votes_hq,
         CAST(SUM(CASE WHEN (COALESCE(c.c_hq, 0) + 1) * (tot.n_lq + tot.v)
                           < (COALESCE(c.c_lq, 0) + 1) * (tot.n_hq + tot.v)
                  THEN 1 ELSE 0 END) AS BIGINT) AS votes_lq
  FROM toks t LEFT JOIN counts c USING (w) CROSS JOIN tot
  GROUP BY t.doc_id
)
"""


def _lang_score_duck(lang: str) -> str:
    markers = ", ".join(f"'{w}'" for w in LANG_MARKERS[lang])
    return f"len(list_filter(string_split({_NORM_DUCK}, ' '), t -> t IN ({markers})))"



def _argmax_case(langs, prefix: str = "score_") -> str:
    """Declaration-order-precedence argmax CASE over per-language score
    columns — ONE builder for both engines and both lang-id variants
    (the >= precedence is an oracle-contract invariant; four private
    copies of this loop once existed to drift apart)."""
    best = "CASE "
    for lang in langs:
        others = [f"{prefix}{o}" for o in langs if o != lang]
        cond = " AND ".join(f"{prefix}{lang} >= {o}" for o in others)
        best += f"WHEN {cond} THEN '{lang}' "
    return best + "ELSE 'und' END"


def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language ID (n-gram-heuristic family): score each
    language by its marker-token hits, argmax with a fixed precedence order
    for ties. Pure column expressions — no UDF, no shuffle. The token
    array is materialized once (shared-toks barrier, see text_stats);
    the per-language scores filter the shared column."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.expr(f"split({_NORM_SPARK}, ' ')").alias("toks")
    )
    scores = {
        lang: (
            "size(filter(toks, t -> t in ("
            + ", ".join(f"'{w}'" for w in LANG_MARKERS[lang])
            + ")))"
        )
        for lang in LANG_MARKERS
    }
    score_cols = [F.expr(s).alias(f"score_{lang}") for lang, s in scores.items()]
    langs = list(LANG_MARKERS)
    best = _argmax_case(langs)
    return (
        docs.select("doc_id", "lang", *score_cols)
        .withColumn("predicted_lang", F.expr(best))
        .select("doc_id", "lang", "predicted_lang", "score_en", "score_de")
    )


def _oracle_lang_id() -> str:
    langs = list(LANG_MARKERS)
    score_defs = ",\n       ".join(
        f"{_lang_score_duck(lang)} AS score_{lang}" for lang in langs
    )
    best = _argmax_case(langs)
    return f"""
WITH s AS (
  SELECT doc_id, lang,
       {score_defs}
  FROM documents
)
SELECT doc_id, lang, {best} AS predicted_lang, score_en, score_de FROM s
"""


# Characteristic character-trigrams per language for the char-ngram
# lang-id variant. Occurrence counting (not just membership) and
# no-whitespace-dependence make this the scalable twin of the marker-word
# heuristic: it works on unsegmented scripts (zh) where word splitting
# doesn't.
LANG_TRIGRAMS = {
    "en": (" th", "the", "ing", "and"),
    "de": ("der", "ich", "sch", "ein"),
    "fr": (" le", "ent", "que", "les"),
    "es": (" de", "los", "ión", "ent"),
    "zh": ("的", "了", "是", "在"),
}


def _trigram_score(lang: str, norm: str) -> str:
    """occurrences(s, g) = (len(s) - len(replace(s, g, ''))) / len(g) —
    identical arithmetic in Spark and DuckDB (both length() count
    characters, not bytes, so multi-byte zh grams divide correctly)."""
    terms = []
    for g in LANG_TRIGRAMS[lang]:
        esc = g.replace("'", "''")
        terms.append(
            f"(length({norm}) - length(replace({norm}, '{esc}', ''))) / {len(g)}"
        )
    return " + ".join(terms)


def text_lang_id_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-trigram language ID: score = total occurrences of each
    language's characteristic trigrams (via length-difference counting —
    pure codegen'd string ops, no regex, no UDF, no shuffle), argmax with
    declaration-order precedence. Upgrade path over the marker-word
    variant: counts repeats and needs no tokenization."""
    docs = load_table(spark, sf_dir, "documents")
    # materialize the normalized text ONCE — the 20 score terms reference
    # the `norm` column (40 references, all outside lambdas), so
    # CollapseProject keeps the barrier and the regexp chain runs once per
    # row instead of 40× (same fix as text_stats' shared toks)
    docs = docs.select(
        "doc_id", "lang", F.expr(_NORM_SPARK).alias("norm")
    )
    score_cols = [
        F.expr(f"CAST({_trigram_score(lang, 'norm')} AS BIGINT)").alias(
            f"tg_{lang}"
        )
        for lang in LANG_TRIGRAMS
    ]
    langs = list(LANG_TRIGRAMS)
    best = _argmax_case(langs, prefix="tg_")
    return (
        docs.select("doc_id", "lang", *score_cols)
        .withColumn("predicted_lang", F.expr(best))
        .select("doc_id", "lang", "predicted_lang", "tg_en", "tg_de", "tg_fr")
    )


def _oracle_lang_id_ngram() -> str:
    langs = list(LANG_TRIGRAMS)
    score_defs = ",\n       ".join(
        f"CAST({_trigram_score(lang, _NORM_DUCK)} AS BIGINT) AS tg_{lang}"
        for lang in langs
    )
    best = _argmax_case(langs, prefix="tg_")
    return f"""
WITH s AS (
  SELECT doc_id, lang,
       {score_defs}
  FROM documents
)
SELECT doc_id, lang, {best} AS predicted_lang, tg_en, tg_de, tg_fr FROM s
"""


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 over normalized text (rolling-hash
    family; md5 chosen because it is engine-portable and collision-adequate
    for dedup keys). One scan, no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.expr(f"md5({_NORM_SPARK})").alias("fingerprint"),
        F.expr(f"substring(md5({_NORM_SPARK}), 1, 8)").alias("bucket8"),
    )


ORACLE_TEXT_FINGERPRINT = f"""
SELECT doc_id, md5({_NORM_DUCK}) AS fingerprint,
       substring(md5({_NORM_DUCK}), 1, 8) AS bucket8
FROM documents
"""


def text_token_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token frequency: explode normalized tokens, count, top-50.

    100 TB posture: explode→groupBy(token) is map-side partially aggregated
    (the vocabulary is tiny relative to the corpus), so the shuffle carries
    one partial count per (task, token) — not one row per token instance.
    Top-50 via TakeOrdered, no global sort.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        # outer explode: avoids an InferFiltersFromGenerate filter that would
        # re-evaluate the regex+split once more per row (split never yields
        # null/empty, so outer is semantically identical)
        docs.select(F.explode_outer(F.expr(f"split({_NORM_SPARK}, ' ')")).alias("token"))
        # NULL text explodes to one token=NULL row the oracle's unnest
        # never emits — filter the cheap generator output
        .where(F.col("token").isNotNull())
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.desc("freq"), F.asc("token"))
        .limit(50)
    )


ORACLE_TOKEN_FREQ = f"""
SELECT token, COUNT(*) AS freq FROM (
  SELECT unnest(string_split({_NORM_DUCK}, ' ')) AS token FROM documents
)
GROUP BY token
ORDER BY freq DESC, token ASC
LIMIT 50
"""


def text_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting with a BPE-ish regex (word pieces + digits + punct
    runs, approximating a GPT-style pre-tokenizer) alongside whitespace
    counts — the standard 'how many tokens is my corpus' pipeline query."""
    docs = load_table(spark, sf_dir, "documents")
    # pieces: letter runs, digit runs, single non-space-non-alnum chars
    bpe_rx = "[a-z]+|[0-9]+|[^a-z0-9 ]"
    return docs.select(
        "doc_id",
        F.expr(f"size(split({_NORM_SPARK}, ' '))").alias("ws_tokens"),
        F.expr(
            f"size(regexp_extract_all({_NORM_SPARK}, '{bpe_rx}', 0))"
        ).alias("bpe_tokens"),
    )


ORACLE_TOKEN_COUNT_BPE = f"""
SELECT doc_id,
       len(string_split({_NORM_DUCK}, ' ')) AS ws_tokens,
       len(regexp_extract_all({_NORM_DUCK}, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS bpe_tokens
FROM documents
"""


def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality signals (the Gopher/C4-family heuristics): the
    fraction of duplicate tokens / 2-grams / 3-grams and the share of the
    single most frequent token — high values flag boilerplate, keyword
    stuffing, and degenerate generations before training.

    Shape: pure projection over materialized token/ngram array columns
    (two-level selects keep CollapseProject from re-inlining the tokenizer
    per n-gram — see the module note in dedup.py). dup ratios are
    (n - n_distinct)/n over the per-row arrays; top_token_ratio counts
    occurrences of each distinct token via an array lambda — O(distinct ×
    tokens) per ROW, fine for documents; for book-length inputs switch to
    the explode+groupBy histogram (same answer, one shuffle).

    100 TB posture: no shuffle anywhere — scan-speed, embarrassingly
    parallel, and the scan is pruned to (doc_id, text)."""
    docs = load_table(spark, sf_dir, "documents")
    g2 = (
        "if(size(toks) >= 2, transform(sequence(1, size(toks) - 1), "
        "i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1))), "
        "cast(array() as array<string>))"
    )
    g3 = (
        "if(size(toks) >= 3, transform(sequence(1, size(toks) - 2), "
        "i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1), "
        "' ', element_at(toks, i + 2))), cast(array() as array<string>))"
    )
    dup = "cast(size({a}) - size(array_distinct({a})) as double) / size({a})"
    top = (
        "cast(array_max(transform(array_distinct(toks), "
        "t -> size(filter(toks, x -> x = t)))) as double) / size(toks)"
    )
    return (
        docs.select("doc_id", F.expr(f"split({_NORM_SPARK}, ' ')").alias("toks"))
        .select("doc_id", "toks", F.expr(g2).alias("g2"), F.expr(g3).alias("g3"))
        .select(
            "doc_id",
            F.size("toks").alias("n_tokens"),
            F.expr(dup.format(a="toks")).alias("dup_token_ratio"),
            F.expr(
                f"if(size(g2) >= 1, {dup.format(a='g2')}, 0.0d)"
            ).alias("dup_2gram_ratio"),
            F.expr(
                f"if(size(g3) >= 1, {dup.format(a='g3')}, 0.0d)"
            ).alias("dup_3gram_ratio"),
            F.expr(top).alias("top_token_ratio"),
        )
    )


def _oracle_repetition() -> str:
    toks = f"string_split({_NORM_DUCK}, ' ')"
    g2 = (
        "CASE WHEN len(toks) >= 2 THEN list_transform("
        "generate_series(1, len(toks) - 1), "
        "i -> toks[i] || ' ' || toks[i+1]) ELSE [] END"
    )
    g3 = (
        "CASE WHEN len(toks) >= 3 THEN list_transform("
        "generate_series(1, len(toks) - 2), "
        "i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) ELSE [] END"
    )
    dup = "CAST(len({a}) - len(list_distinct({a})) AS DOUBLE) / len({a})"
    top = (
        "CAST(list_max(list_transform(list_distinct(toks), "
        "t -> len(list_filter(toks, x -> x = t)))) AS DOUBLE) / len(toks)"
    )
    return f"""
WITH t AS (
  SELECT doc_id, {toks} AS toks FROM documents
), g AS (
  SELECT doc_id, toks, {g2} AS g2, {g3} AS g3 FROM t
)
SELECT doc_id,
       len(toks) AS n_tokens,
       {dup.format(a='toks')} AS dup_token_ratio,
       CASE WHEN len(g2) >= 1 THEN {dup.format(a='g2')} ELSE 0.0 END
         AS dup_2gram_ratio,
       CASE WHEN len(g3) >= 1 THEN {dup.format(a='g3')} ELSE 0.0 END
         AS dup_3gram_ratio,
       {top} AS top_token_ratio
FROM g
"""


def text_token_commonness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token-commonness profile against the CORPUS-GLOBAL
    token frequency table: mean and minimum corpus frequency of the doc's
    tokens and its hapax share (tokens occurring exactly once corpus-wide)
    — the frequency-based quality signal family (a rare-token-heavy doc is
    OCR noise or gibberish; an all-common-token doc is boilerplate).
    Deliberately avoids log-perplexity so every statistic is integer
    arithmetic + one division — bit-portable to the DuckDB oracle.

    100 TB posture (round-7 shape): tokenize ONCE into per-(doc, token)
    counts — the tf compression bounds every downstream partition at
    #docs-containing-the-token — then the corpus frequency is
    freq = SUM(tf) OVER (PARTITION BY token) and the per-doc stats are
    tf-weighted sums. No tf⋈freq self-join (the round-6 shape executed
    the tokenizer twice and shuffled RAW occurrence rows on the token
    key — at corpus scale the stop-word partitions of that shuffle are
    the straggler; tf-compressed rows cannot skew past #docs), and the
    occurrence-level statistics are recovered exactly:
    Σ_occurrences freq = Σ_t tf_t·freq_t, hapax freq=1 ⇒ tf=1."""
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    ex = docs.select(
        "doc_id", F.explode_outer(F.expr(f"split({_NORM_SPARK}, ' ')")).alias("token")
    )
    # a NULL-text doc explodes (outer) to one token=NULL row; the old
    # inner tf⋈freq join dropped it (null join key) and the oracle's
    # unnest never emits it — keep that drop semantics explicitly (a
    # filter on the generate OUTPUT column, so the tokenizer is not
    # re-evaluated by an inferred scan-side predicate)
    ex = ex.where(F.col("token").isNotNull())
    tf = ex.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    with_freq = tf.withColumn(
        "freq", F.sum("tf").over(Window.partitionBy("token"))
    )
    return with_freq.groupBy("doc_id").agg(
        F.sum("tf").alias("n_tokens"),
        (F.sum(F.col("tf") * F.col("freq")) / F.sum("tf")).alias(
            "mean_token_freq"
        ),
        F.min("freq").alias("min_token_freq"),
        (
            F.sum(F.when(F.col("freq") == 1, 1).otherwise(0))
            / F.sum("tf")
        ).alias("hapax_ratio"),
    )


ORACLE_TOKEN_COMMONNESS = f"""
WITH ex AS (
  SELECT doc_id, unnest(string_split({_NORM_DUCK}, ' ')) AS token
  FROM documents
), freq AS (
  SELECT token, COUNT(*) AS freq FROM ex GROUP BY token
)
SELECT ex.doc_id,
       COUNT(*) AS n_tokens,
       CAST(SUM(freq) AS DOUBLE) / COUNT(*) AS mean_token_freq,
       CAST(MIN(freq) AS BIGINT) AS min_token_freq,
       CAST(SUM(CASE WHEN freq = 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
         AS hapax_ratio
FROM ex JOIN freq ON ex.token = freq.token
GROUP BY ex.doc_id
"""


TFIDF_TOP_K = 3


def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-k keywords by TF-IDF — the keyword-extraction /
    doc-representation primitive (feeds dedup explainability, topic
    routing, and BM25-ish retrieval indexes).

    Scoring uses the RAW inverse document frequency, score = tf × (N/df),
    instead of the log-damped ln(N/df): every factor is then an integer
    or a single IEEE division/multiplication — exactly rounded and
    bit-identical across engines — whereas ln() is correctly-rounded in
    neither and a 1-ulp divergence could flip a rank. Monotonic in the
    same ordering for fixed tf, so top-k membership is the textbook set
    whenever df values differ; document the damping as a scale knob, not
    a correctness one. Ties broken by token asc.

    100 TB posture: one explode→groupBy(doc_id, token) builds TF (the
    fact-scale shuffle, map-side combined); DF is a COUNT WINDOW over
    the TF frame's token partitions — df = #docs containing the token =
    rows per token in TF — so the corpus is exploded exactly once and
    there is no tf⋈df self-join at all (the round-6 shape computed df
    as a separate aggregate over a second execution of the TF DAG and
    joined it back; once the vocabulary outgrew the broadcast threshold
    that join went sort-merge over the full TF frame and the x32→x64
    scale smoke measured 5.4× growth per 2× data — the window form
    re-measured at 1.26×, and 2.6 s absolute at x64 vs the join form's
    15.0 s); the N scalar rides a 1-row broadcast; the
    final top-k is a WindowGroupLimit-prunable row_number per doc."""
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    ex = docs.select(
        "doc_id", F.explode(F.expr(f"split({_NORM_SPARK}, ' ')")).alias("token")
    )
    tf = ex.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("token"))
    return (
        tf.withColumn(
            "df", F.count("*").over(Window.partitionBy("token"))
        )
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.col("tf").cast("double")
            * (F.col("n_docs").cast("double") / F.col("df").cast("double")),
        )
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TFIDF_TOP_K)
        .select("doc_id", "rank", "token", "tf", "df", "score")
    )


ORACLE_TFIDF_TOPK = f"""
WITH ex AS (
  SELECT doc_id, unnest(string_split({_NORM_DUCK}, ' ')) AS token
  FROM documents
), tf AS (
  SELECT doc_id, token, COUNT(*) AS tf FROM ex GROUP BY doc_id, token
), df AS (
  SELECT token, COUNT(*) AS df FROM tf GROUP BY token
), n AS (
  SELECT COUNT(*) AS n_docs FROM documents
), scored AS (
  SELECT tf.doc_id, tf.token, tf.tf, df.df,
         CAST(tf.tf AS DOUBLE)
           * (CAST(n.n_docs AS DOUBLE) / CAST(df.df AS DOUBLE)) AS score,
         ROW_NUMBER() OVER (
           PARTITION BY tf.doc_id ORDER BY
             CAST(tf.tf AS DOUBLE)
               * (CAST(n.n_docs AS DOUBLE) / CAST(df.df AS DOUBLE)) DESC,
             tf.token ASC
         ) AS rank
  FROM tf JOIN df USING (token) CROSS JOIN n
)
SELECT doc_id, rank, token, tf, df, score
FROM scored WHERE rank <= {TFIDF_TOP_K}
"""


def text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained bigram language-model fluency score per document —
    the CCNet-style LM quality gate: train token-transition statistics on
    the corpus itself, then score each document by how predictable its
    token sequence is (gibberish and shuffled-word docs score low, fluent
    prose high).

    Per-bigram probability is add-one-smoothed P(w2|w1) =
    (c(w1,w2)+1)/(c(w1)+V); the doc score is the MEAN conditional
    probability (plus the worst transition, min_p). The mean — not the
    canonical mean-log/perplexity — is deliberate: each p is integers +
    one exactly-rounded IEEE division (bit-identical on both engines),
    whereas ln() is correctly-rounded on neither; same determinism rule as
    text_tfidf_topk's raw-IDF. Both rank documents by sequence
    predictability; the log-damped variant is a scale knob, not a
    correctness one. The per-doc sum runs in DECIMAL(38,20) (string-hop
    cast, the emb_centroid_by_label convention) so summation order can't
    perturb low bits.

    100 TB posture (round-7 shape): the doc-bigram stream is compressed
    FIRST into per-(doc, w1, w2) counts (tf2) — one groupBy whose output
    is bounded by distinct doc-bigrams — then c2 = SUM(tf2) OVER
    (PARTITION BY w1, w2) rides the SAME frame (partition size ≤ #docs
    containing the bigram; no self-join, no second tokenizer run), and
    only the vocabulary-sized unigram table joins back, against the
    COMPRESSED frame (broadcast when the vocabulary fits). The per-doc
    statistics are tf2-weighted, recovering the per-occurrence values
    exactly: the weighted decimal product runs in decimal(21,20) ×
    decimal(9,0) → decimal(31,20) — no precision overflow, so no silent
    scale truncation, and the p quantum is identical to the direct
    (38,20) cast because rounding depends only on the scale. The
    round-6 shape ran the tokenizer once per consumer (3×) and shuffled
    raw occurrence rows through both scoring joins. No Python
    anywhere."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.expr(f"split({_NORM_SPARK}, ' ')").alias("t")
    )
    # size>=2 guard INSIDE the expression (Spark's sequence(0, -1) would
    # emit a descending [0, -1] for 1-token docs); explode_outer — not a
    # where() + explode — so neither a user Filter nor
    # InferFiltersFromGenerate re-evaluates the tokenizer per row ahead of
    # the projection (each consumer branch then pays split() exactly once;
    # the NULL row an empty array produces vanishes in the inner c2 join)
    big = (
        toks.select(
            "doc_id",
            F.explode_outer(
                F.expr(
                    "if(size(t) >= 2, transform(sequence(0, size(t) - 2),"
                    " i -> struct(t[i] as w1, t[i + 1] as w2)),"
                    " array())"
                )
            ).alias("b"),
        )
        .select("doc_id", "b.w1", "b.w2")
    )
    from pyspark.sql import Window

    uni = (
        toks.select(F.explode_outer("t").alias("w"))
        # a NULL-text doc's t is NULL and explodes to one w=NULL row:
        # without this filter the NULL group inflates V by one and
        # shifts EVERY smoothed probability corpus-wide vs the oracle
        # (round-7 NULL-text contract)
        .where(F.col("w").isNotNull())
        .groupBy("w")
        .agg(F.count("*").alias("c1"))
    )
    vocab = uni.agg(F.count("*").alias("v"))
    tf2 = big.groupBy("doc_id", "w1", "w2").agg(F.count("*").alias("tf2"))
    with_c2 = tf2.withColumn(
        "c2", F.sum("tf2").over(Window.partitionBy("w1", "w2"))
    )
    p = (F.col("c2") + 1).cast("double") / (F.col("c1") + F.col("v")).cast(
        "double"
    )
    scored = (
        with_c2.join(uni.withColumnRenamed("w", "w1"), "w1")
        .crossJoin(F.broadcast(vocab))
        .select("doc_id", "tf2", p.alias("p"))
    )
    return scored.groupBy("doc_id").agg(
        F.sum("tf2").alias("n_bigrams"),
        (
            F.sum(
                F.col("p").cast("decimal(21,20)")
                * F.col("tf2").cast("decimal(9,0)")
            ).cast("double")
            / F.sum("tf2")
        ).alias("avg_cond_p"),
        F.min("p").alias("min_p"),
    )


ORACLE_BIGRAM_LM = f"""
WITH toks AS (
  SELECT doc_id, string_split({_NORM_DUCK}, ' ') AS t FROM documents
), big AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(t) - 1), i -> t[i])) AS w1,
         unnest(list_transform(generate_series(1, len(t) - 1), i -> t[i + 1])) AS w2
  FROM toks WHERE len(t) >= 2
), uni AS (
  SELECT w, COUNT(*) AS c1
  FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w
), vocab AS (
  SELECT COUNT(*) AS v FROM uni
), c2 AS (
  SELECT w1, w2, COUNT(*) AS c2 FROM big GROUP BY w1, w2
), scored AS (
  SELECT big.doc_id,
         CAST(c2.c2 + 1 AS DOUBLE) / CAST(uni.c1 + vocab.v AS DOUBLE) AS p
  FROM big
  JOIN c2 USING (w1, w2)
  JOIN uni ON big.w1 = uni.w
  CROSS JOIN vocab
)
SELECT doc_id,
       COUNT(*) AS n_bigrams,
       CAST(CAST(SUM(CAST(CAST(p AS VARCHAR) AS DECIMAL(38,20))) AS VARCHAR)
            AS DOUBLE) / COUNT(*) AS avg_cond_p,
       MIN(p) AS min_p
FROM scored GROUP BY doc_id
"""


VOCAB_GROWTH_STEPS = (100, 200, 300, 400, 500)


def text_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth curve: distinct-token count within
    the first N documents (by doc_id), for a fixed ladder of N — the
    corpus-health diagnostic (natural language grows sublinearly;
    near-linear growth means identifiers/noise are flooding the
    vocabulary, a sign the quality gates need tightening).

    Shape: one explode→groupBy(token) computes each token's FIRST
    containing doc (min doc_id) — the corpus-scale shuffle; the growth
    curve is then a broadcast spine join over the vocabulary-sized
    first-occurrence frame (vocab_size(N) = tokens with first_doc < N),
    so adding ladder steps costs nothing corpus-scale."""
    docs = load_table(spark, sf_dir, "documents")
    ex = docs.select(
        "doc_id", F.explode_outer(F.expr(f"split({_NORM_SPARK}, ' ')")).alias("token")
    ).where(F.col("token").isNotNull())  # NULL text is not a vocab entry
    firsts = ex.groupBy("token").agg(F.min("doc_id").alias("first_doc"))
    # JVM-literal spine (r16): the pickled-RDD path paid a Python-worker
    # round-trip on every broadcast build for 5 constant rows
    spine = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(n).cast("long") for n in VOCAB_GROWTH_STEPS])
        ).alias("n_docs")
    )
    return (
        firsts.join(F.broadcast(spine), F.col("first_doc") < F.col("n_docs"))
        .groupBy("n_docs")
        .agg(F.count("*").alias("vocab_size"))
    )


ORACLE_VOCAB_GROWTH = f"""
WITH ex AS (
  SELECT doc_id, unnest(string_split({_NORM_DUCK}, ' ')) AS token
  FROM documents
), firsts AS (
  SELECT token, MIN(doc_id) AS first_doc FROM ex GROUP BY token
), spine AS (
  SELECT unnest([{", ".join(str(n) for n in VOCAB_GROWTH_STEPS)}]) AS n_docs
)
SELECT CAST(n_docs AS BIGINT) AS n_docs, COUNT(*) AS vocab_size
FROM firsts JOIN spine ON first_doc < n_docs
GROUP BY n_docs
"""


def text_chunk_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width document chunking through a Python UDTF (lateral table
    function) — the remaining UDF-family surface next to the pandas
    grouped-agg (logs.log_median_value_pandas), mapInPandas
    (similarity.sim_topk_pandas), and applyInPandasWithState
    (streaming.sessionize). The reference has no UDF surface at all;
    Spark supplies all four.

    100 TB posture: a UDTF is row-at-a-time Python — the SLOW path, kept
    here because it is the only lateral-function API surface; the
    set-returning work itself is embarrassingly parallel (no shuffle, one
    lateral expansion pipelined with the scan). For hot paths do this with
    codegen'd sequence()+substring (see dedup.dedup_chunks) or
    mapInPandas."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_no int, chunk_text string")
    class ChunkDocs:
        def eval(self, text: str):
            # NULL/empty text yields no chunks — the oracle's
            # length(text) > 0 guard; len(None) would crash the JOB on
            # the one malformed row (round-7 NULL-text contract)
            if not text:
                return
            for i in range(0, len(text), 100):
                yield i // 100, text[i : i + 100]

    spark.udtf.register("chunk_docs", ChunkDocs)
    docs = load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("udtf_docs")
    return spark.sql(
        "SELECT d.doc_id, c.chunk_no, c.chunk_text "
        "FROM udtf_docs d, LATERAL chunk_docs(d.text) c"
    )


ORACLE_CHUNK_UDTF = """
WITH n AS (
  SELECT doc_id, text,
         unnest(generate_series(0,
                CAST(ceil(length(text) / 100.0) AS INT) - 1)) AS chunk_no
  FROM documents
  WHERE length(text) > 0
)
SELECT doc_id, chunk_no,
       substring(text, chunk_no * 100 + 1, 100) AS chunk_text
FROM n
"""


def text_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-label QA: the confusion matrix between the catalog's
    claimed ``lang`` and the marker-word detector's prediction, with each
    cell's share of its labeled row — the audit run before trusting
    either side (a hot off-diagonal cell means mislabeled ingest or a
    detector gap; sampling/mixing rates key off lang, so label errors
    silently skew the training mixture).

    100 TB posture: the detector is a scan-speed projection; the rollup
    key is langs², and the normalizing window runs over that tiny
    frame."""
    from pyspark.sql import Window

    pred = text_lang_id(spark, sf_dir).select("lang", "predicted_lang")
    per = pred.groupBy("lang", "predicted_lang").agg(
        F.count("*").alias("n_docs")
    )
    w = Window.partitionBy("lang")
    return per.select(
        "lang",
        "predicted_lang",
        "n_docs",
        (F.col("n_docs").cast("double") / F.sum("n_docs").over(w)).alias(
            "share"
        ),
    )


def _oracle_lang_confusion() -> str:
    return f"""
WITH p AS ({_oracle_lang_id()}),
c AS (
  SELECT lang, predicted_lang, COUNT(*) AS n_docs FROM p GROUP BY 1, 2
)
SELECT lang, predicted_lang, CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_docs AS DOUBLE) / SUM(n_docs) OVER (PARTITION BY lang)
         AS share
FROM c
"""


QUERIES = {
    "text_stats": text_stats,
    "text_chunk_udtf": text_chunk_udtf,
    "text_quality_filter": text_quality_filter,
    "text_quality_classifier": text_quality_classifier,
    "text_lang_id": text_lang_id,
    "text_lang_id_ngram": text_lang_id_ngram,
    "text_fingerprint": text_fingerprint,
    "text_token_freq": text_token_freq,
    "text_token_count_bpe": text_token_count_bpe,
    "text_repetition": text_repetition,
    "text_token_commonness": text_token_commonness,
    "text_tfidf_topk": text_tfidf_topk,
    "text_bigram_lm": text_bigram_lm,
    "text_vocab_growth": text_vocab_growth,
    "text_lang_confusion": text_lang_confusion,
}

ORACLES = {
    "text_stats": ORACLE_TEXT_STATS,
    "text_chunk_udtf": ORACLE_CHUNK_UDTF,
    "text_quality_filter": ORACLE_TEXT_QUALITY,
    "text_quality_classifier": ORACLE_QUALITY_CLASSIFIER,
    "text_lang_id": _oracle_lang_id(),
    "text_lang_id_ngram": _oracle_lang_id_ngram(),
    "text_fingerprint": ORACLE_TEXT_FINGERPRINT,
    "text_token_freq": ORACLE_TOKEN_FREQ,
    "text_token_count_bpe": ORACLE_TOKEN_COUNT_BPE,
    "text_repetition": _oracle_repetition(),
    "text_token_commonness": ORACLE_TOKEN_COMMONNESS,
    "text_tfidf_topk": ORACLE_TFIDF_TOPK,
    "text_bigram_lm": ORACLE_BIGRAM_LM,
    "text_vocab_growth": ORACLE_VOCAB_GROWTH,
    "text_lang_confusion": _oracle_lang_confusion(),
}


def text_quality_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-gate vs learned-gate agreement — the calibration table a
    pipeline owner reads before swapping or stacking quality gates (the
    GPT-3 appendix-A comparison): per (rule_pass, pred_hq) cell, doc
    count and token mass. The off-diagonal cells are the interesting
    ones: rule-pass/classifier-reject is rule-passing junk the learned
    gate catches; rule-reject/classifier-pass is recall the rule gate
    is throwing away. Universe = docs with >= 1 token (the classifier's
    scoring universe; the rule score joins onto it).

    100 TB posture: the classifier's two passes dominate; the rule side
    is a scan-speed projection joined on doc_id, and the output is a
    4-row aggregate."""
    stats = text_stats(spark, sf_dir)
    rule = quality_scored(stats).select(
        "doc_id",
        (F.col("quality_score") >= 70).cast("int").alias("rule_pass"),
    )
    clf = text_quality_classifier(spark, sf_dir).select(
        "doc_id", "pred_hq", "n_tokens"
    )
    return (
        clf.join(rule, "doc_id")
        .groupBy("rule_pass", "pred_hq")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
        )
    )


ORACLE_QUALITY_AGREEMENT = f"""
SELECT r.rule_pass, c.pred_hq,
       COUNT(*) AS n_docs,
       CAST(SUM(c.n_tokens) AS BIGINT) AS sum_tokens
FROM ({ORACLE_QUALITY_CLASSIFIER}) c
JOIN (SELECT doc_id,
             CASE WHEN quality_score >= 70 THEN 1 ELSE 0 END AS rule_pass
      FROM ({ORACLE_QUALITY_SCORED}) q) r
  USING (doc_id)
GROUP BY r.rule_pass, c.pred_hq
"""

QUERIES["text_quality_agreement"] = text_quality_agreement
ORACLES["text_quality_agreement"] = ORACLE_QUALITY_AGREEMENT


# --- BPE merge-pair statistics (tokenizer induction, first iteration) --------

BPE_TOP_MERGES = 50


def text_bpe_merge_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first induction step of BPE tokenizer training (Sennrich et
    al., "Neural Machine Translation of Rare Words with Subword Units",
    arXiv:1508.07909 — public): frequency-weighted adjacent-symbol pair
    counts over the corpus, emitting the top merge candidates. The seed
    symbols are characters, so the top row is exactly the first merge a
    BPE trainer would perform on this corpus.

    100 TB posture — the standard fastBPE/SentencePiece trick: pair
    statistics are computed over the DISTINCT-TOKEN VOCABULARY weighted
    by token frequency, never over the token stream. The corpus pays one
    tokenize + one map-side-combined groupBy(token); the pair explode
    then runs over O(vocab x word_len) rows — vocabulary-scale, which
    Heaps' law keeps sublinear in the corpus. Top-N via
    orderBy+limit (TakeOrdered on the symbol-pair-sized frame, no global
    sort shuffle); the (count DESC, s1, s2) order makes the top-N
    boundary deterministic under count ties on both engines."""
    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(
            F.explode_outer(F.expr(f"split({_NORM_SPARK}, ' ')")).alias("w")
        )
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
    )
    pairs_expr = (
        "if(length(w) >= 2, transform(sequence(1, length(w) - 1),"
        " i -> struct(substring(w, i, 1) AS s1, substring(w, i + 1, 1) AS s2)),"
        " array())"
    )
    ex = (
        vocab.select("freq", F.explode_outer(F.expr(pairs_expr)).alias("p"))
        .where(F.col("p").isNotNull())
    )
    return (
        ex.groupBy(F.col("p.s1").alias("s1"), F.col("p.s2").alias("s2"))
        .agg(F.sum("freq").alias("pair_count"))
        .orderBy(F.desc("pair_count"), F.asc("s1"), F.asc("s2"))
        .limit(BPE_TOP_MERGES)
    )


ORACLE_BPE_MERGE_PAIRS = f"""
WITH vocab AS (
  SELECT w, COUNT(*) AS freq FROM (
    SELECT unnest(string_split({_NORM_DUCK}, ' ')) AS w FROM documents
  ) GROUP BY w
), ex AS (
  SELECT freq,
         unnest(CASE WHEN len(w) >= 2 THEN
           list_transform(generate_series(1, len(w) - 1),
             i -> {{'s1': substring(w, i, 1), 's2': substring(w, i + 1, 1)}})
           ELSE [] END) AS p
  FROM vocab
)
SELECT p.s1 AS s1, p.s2 AS s2, CAST(SUM(freq) AS BIGINT) AS pair_count
FROM ex GROUP BY p.s1, p.s2
ORDER BY pair_count DESC, s1 ASC, s2 ASC
LIMIT {BPE_TOP_MERGES}
"""

QUERIES["text_bpe_merge_pairs"] = text_bpe_merge_pairs
ORACLES["text_bpe_merge_pairs"] = ORACLE_BPE_MERGE_PAIRS


# --- PII scrub over the training corpus ---------------------------------------
#
# The documents-family twin of plans/logs.py::log_scrub_pii (round-8
# VERDICT #2): the corpus you actually train on gets the same
# most-specific-first rule cascade plus a phone-number rule (log props
# rarely carry phones; web text does). Rules stay inside the
# Java ∩ RE2 common dialect so Spark and DuckDB scrub identically.
# Deliberately NOT extending logs.PII_RULES in place — that would
# silently change a long-green registered query's output.


def _text_pii_rules():
    from datafusion_loki_spark.plans.logs import PII_RULES

    email, ipv4, num = PII_RULES
    phone = ("phone", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>")
    # phone before ipv4: 555.123.4567 would otherwise half-match the
    # ipv4 rule's first three octet groups and shred into <IP>7
    return (email, phone, ipv4, num)


def text_scrub_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII/identifier redaction over ``documents.text`` — the hygiene
    pass a pre-training pipeline runs next to dedup/decontamination:
    emails, phone numbers, IPv4 addresses, and multi-digit identifier
    runs replaced by typed tags, with per-rule hit counts kept for the
    audit trail (the counts feed the data card; a corpus slice whose
    n_email suddenly spikes is a crawl-quality incident).

    Counts are taken on the ORIGINAL text (each rule independently);
    scrubbing applies the cascade most-specific-first on one string so
    an email's digits are consumed by <EMAIL>, not shredded into <NUM>
    (same contract as log_scrub_pii, plans/logs.py).

    NULL contract: a NULL text yields NULL clean_text and NULL counts
    in both engines (regexp over NULL propagates).

    100 TB posture: pure regex projection — scan-speed, zero shuffles,
    whole-stage codegen'd; the rule table is a compile-time constant."""
    docs = load_table(spark, sf_dir, "documents")
    rules = _text_pii_rules()
    scrubbed = F.col("text")
    for _, pat, tag in rules:
        scrubbed = F.regexp_replace(scrubbed, pat, tag)
    cols = [
        F.regexp_count("text", F.lit(pat)).alias(f"n_{name}")
        for name, pat, _ in rules
    ]
    return docs.select("doc_id", scrubbed.alias("clean_text"), *cols)


def _oracle_text_scrub_pii() -> str:
    rules = _text_pii_rules()
    scrub = "text"
    for _, pat, tag in rules:
        scrub = f"regexp_replace({scrub}, '{pat}', '{tag}', 'g')"
    counts = ", ".join(
        f"len(regexp_extract_all(text, '{pat}')) AS n_{name}"
        for name, pat, _ in rules
    )
    return f"SELECT doc_id, {scrub} AS clean_text, {counts} FROM documents"


QUERIES["text_scrub_pii"] = text_scrub_pii
ORACLES["text_scrub_pii"] = _oracle_text_scrub_pii()


# --- iterative BPE induction (batched selection + delta-maintained counts) -----
#
# Merge-count scaling, stage 2 (round-10 Next #2; stage 1 was round-9's
# batching): the pair counts are now DELTA-MAINTAINED — the corpus-
# derived vocabulary pays ONE full pair-count job at init, and each
# round afterwards updates the materialized count table from only the
# words the round's batch CHANGED (subtract their old pair multiset,
# add their new one). Delta updates are EXACT (a pair's count changes
# only through words containing a merge occurrence), so every round
# selects from counts identical to a full recount — the oracle replays
# each level with a plain recount and hash-matches bit-for-bit. This
# also UPGRADES fidelity over round 10: the stale-counts approximation
# is gone; the loop is now exactly greedy sequential BPE restricted to
# per-round batches of pairwise NON-INTERACTING merges.
#
# Batch soundness (unchanged from round 9): two merges interact iff any
# of {s1, s2, s1||s2} collide — symbol-disjointness makes their
# occurrences position-disjoint (an overlap would need a shared
# symbol), and the concat guard excludes fuse-cascades (a fused symbol
# can never equal another rule's s1/s2), so applying the batch in ONE
# leftmost-first fold pass equals applying its members sequentially in
# any order.
#
# Early stop (exact, oracle-consistent): counts only change when merges
# apply, so an empty batch at round k implies every later round also
# selects empty — Spark breaks out; the oracle's remaining fixed levels
# replay as carries contributing no rows. Measured ceiling of the
# synthetic driver corpus: 31 distinct words, sum(len(w) - 1) = 107
# possible word-internal merges — the budget below (512) cannot be
# consumed there; tests/test_bpe_scale.py proves the full budget on a
# crafted 2.5k-word corpus with the same oracle.

# Batch width costs NO fidelity: every merge selected into one batch is
# symbol-disjoint from the others, so each selected count is exact under
# the snapshot whatever the batch size — a wider batch only converts
# fixed per-round job overhead into merges (candidates that INTERACT
# with a selection wait for the next round's updated counts either way).
#
# Merge-count scaling, stage 3 (round-12 verdict Next #2): the oracle is
# DECOUPLED from the production budget. Replaying every induction level
# as a DuckDB CTE priced the budget at compile time (8 x 64 = 512 for
# two rounds); now only a fixed SMALL prefix (BPE_PREFIX_ITERS levels)
# is CTE-replayed — by text_bpe_vocab (the merge-table face) and
# text_tokenize_bpe_oov (the shard-boundary face) — while the FULL
# budget trains text_tokenize_bpe, whose oracle verifies the APPLY
# phase against the staged vocab artifact (tokenize under a given
# vocab is exactly replayable: see _bpe_stage below). Delta-maintenance
# exactness at depth stays pinned by tests/test_bpe_scale.py's
# full-recount oracle on a crafted corpus.
BPE_ITERS = 24   # production induction rounds (budget 24 x 256 = 6144)
BPE_BATCH = 256  # max merges selected per round
BPE_CAND = 1024  # top-candidate pool fed to the selection fold
BPE_PREFIX_ITERS = 4  # CTE-replayed induction prefix (oracle depth)

# ordered candidate array: sort_array on (-count, s1, s2) = the argmax
# total order; built AFTER a TakeOrdered LIMIT so the array is bounded
_BPE_CANDS_EXPR = (
    "transform(sort_array(collect_list("
    "struct(-pair_count AS neg, s1, s2, pair_count))),"
    " e -> struct(e.s1 AS s1, e.s2 AS s2, e.pair_count AS pair_count))"
)

# greedy non-interacting selection (a bounded fold over <= BPE_CAND
# elements in a 1-row frame — never leaves the cluster)
_BPE_SELECT_EXPR = f"""aggregate(
  cands,
  named_struct(
    'sel', cast(array() as array<struct<s1:string,s2:string,pair_count:bigint>>),
    'used', cast(array() as array<string>)),
  (acc, c) -> IF(size(acc.sel) < {BPE_BATCH}
                 AND NOT arrays_overlap(acc.used,
                                        array(c.s1, c.s2, concat(c.s1, c.s2))),
              named_struct(
                'sel', concat(acc.sel, array(c)),
                'used', concat(acc.used,
                               array(c.s1, c.s2, concat(c.s1, c.s2)))),
              acc),
  acc -> acc.sel)"""

# one leftmost-first pass applying EVERY rule in the batch: within a
# batch all s2 are distinct (symbol-disjoint), so the s2->s1 map lookup
# identifies the unique candidate rule; the ends_with space-guard keeps
# the check token-exact (symbols never contain spaces). Adjacent repeats
# fuse leftmost-first — 'a n a n' under (a,n) -> 'an an' (a literal
# replace(' s1 s2 ') is WRONG on adjacent repeats: both engines' replace
# continues scanning AFTER each replacement and consecutive occurrences
# share their boundary space — the hand-computed banana test).
_BPE_APPLY_FOLD = (
    "trim(aggregate(split(trim(s), ' '), '', (acc, x) -> "
    "CASE WHEN element_at(m, x) IS NOT NULL "
    "AND endswith(acc, concat(' ', element_at(m, x))) "
    "THEN concat(acc, x) ELSE concat(acc, ' ', x) END))"
)


def text_bpe_vocab(
    spark: SparkSession, sf_dir: str, iters: "int | None" = None
) -> DataFrame:
    """The BPE tokenizer-induction loop (Sennrich et al.,
    arXiv:1508.07909) with batched non-interacting merge selection over
    DELTA-MAINTAINED exact pair counts: each round selects up to
    BPE_BATCH pairwise non-interacting merges greedily in (count DESC,
    s1, s2) order from the top BPE_CAND of the maintained count table.
    The REGISTRY face runs the BPE_PREFIX_ITERS prefix — the depth its
    CTE oracle replays level-for-level (round-12 Next #2: the oracle is
    decoupled from the production budget, which is BPE_ITERS x
    BPE_BATCH = 6144 and exercised by text_tokenize_bpe + the crafted
    corpus in tests/test_bpe_scale.py; the driver corpus's measured
    ceiling is 107 merges — the module comment — so prefix and full
    budget coincide there after early-stop). Returns the ordered merge
    table (merge_rank, s1, s2, pair_count) — the artifact a BPE
    tokenizer ships; merge_rank is (round, within-round selection
    order) flattened.

    No driver-side data movement: each round's candidate pool is a
    TakeOrdered LIMIT into a 1-row array frame; the selection fold and
    the s2->s1 apply map live in that row, which rides a broadcast into
    the delta update and the vocab rewrite. Batch, count, and vocab
    frames are localCheckpointed per round (all multiply consumed —
    unchecked, the DAG doubles per level).

    100 TB posture — the fastBPE trick, now with its count index
    distributed: everything after the one corpus tokenize runs at
    VOCABULARY scale (Heaps-law sublinear in corpus size), and after
    the ONE init pair count nothing vocab-scale explodes or folds again
    — each round touches only batch-affected words (delta scale) plus a
    scan-speed guarded vocab projection (see _bpe_train). Per-merge
    cost is flat in corpus size (PERF_NOTES x-ladder)."""
    from functools import reduce as _reduce

    batches, _vocab = _bpe_train(
        spark, sf_dir, iters=BPE_PREFIX_ITERS if iters is None else iters
    )
    per_pass = [
        b.select(F.lit(i).alias("it"), F.posexplode("batch").alias("pos", "c"))
        for i, b in enumerate(batches, start=1)
    ]
    allm = _reduce(lambda a, b: a.unionByName(b), per_pass)
    # global rank over <= BPE_ITERS*BPE_BATCH rows — a single-partition
    # window over a bounded frame, not a data-scale sort
    w = Window.orderBy("it", "pos")
    return allm.select(
        F.row_number().over(w).alias("merge_rank"),
        F.col("c.s1").alias("s1"),
        F.col("c.s2").alias("s2"),
        F.col("c.pair_count").alias("pair_count"),
    )


# a word is touched by the batch iff its symbol string contains a rule's
# ' s1 s2 ' adjacency (symbols are space-free and space-joined). EXACT:
# the fold's first merge requires an un-merged s1 directly before an s2,
# which is precisely an original adjacency (non-interacting rules can
# neither create an s1 nor consume one without merging), and any present
# adjacency makes the fold merge at least its first occurrence.
_BPE_AFFECTED_PRED = (
    "exists(batch, c -> contains(concat(' ', s, ' '),"
    " concat(' ', c.s1, ' ', c.s2, ' ')))"
)

# OPTIMIZATION_r15 change 5: below this many DISTINCT WORDS the induction
# loop runs driver-side (the fastBPE / Sennrich architecture — after the
# one corpus-scale tokenize the training state is the word-frequency
# table, vocabulary-scale by Heaps' law, and every production BPE trainer
# holds it in memory). The driver corpus has 31 distinct words, yet the
# distributed loop paid ~13 rounds x ~5 Spark jobs of pure fixed overhead
# (~17 s) to fold them; the local loop replays the identical algorithm on
# the collected table — integers and strings only, so equality with the
# distributed loop (and the DuckDB recount oracle) is exact, not
# approximate. Above the cap (a genuinely web-scale vocabulary) the
# delta-maintained distributed loop below runs unchanged; the gate is
# functions/local.py's bounded collect of the materialized vocab
# checkpoint.
BPE_LOCAL_VOCAB_CAP = 200_000


def _bpe_apply_fold_local(s: str, m: dict) -> str:
    """Driver-side replay of _BPE_APPLY_FOLD, token for token: the same
    leftmost-first single pass (adjacent repeats fuse leftmost-first —
    the banana rule), the same endswith space-guard, the same trim."""
    acc = ""
    for x in s.strip(" ").split(" "):
        r = m.get(x)
        if r is not None and acc.endswith(" " + r):
            acc += x
        else:
            acc += " " + x
    return acc.strip(" ")


def _bpe_train_local(
    spark: SparkSession, rows, n_rounds: int
) -> "tuple[list[DataFrame], DataFrame]":
    """The induction loop on the COLLECTED (w, s, freq) table — the
    fastBPE in-memory structure: exact integer pair counts plus a
    pair -> {words} inverted index, so each round touches only the
    batch-affected words (the same delta contract as the distributed
    loop, without the per-round Spark jobs). Every comparison the
    distributed loop delegates to Spark is replayed with the identical
    total order: Python str comparison is code-point order, which is
    exactly UTF8String's binary order, and all counts are integers —
    bit-for-bit equality is structural, pinned by
    tests/test_bpe_scale.py::test_bpe_local_matches_distributed."""
    import heapq
    from collections import defaultdict

    state = {}  # w -> [s, freq]
    counts: dict = defaultdict(int)  # (s1, s2) -> occurrences x freq
    index: dict = defaultdict(set)  # (s1, s2) -> {w containing adjacency}
    for r in rows:
        w, s, freq = r["w"], r["s"], int(r["freq"])
        state[w] = [s if s is not None else "", freq]
    for w, (s, freq) in state.items():
        toks = s.strip(" ").split(" ")
        for i in range(1, len(toks)):
            p = (toks[i - 1], toks[i])
            counts[p] += freq
            index[p].add(w)

    batches_local = []  # [(sel list of (s1, s2, count), m dict)]
    for _ in range(n_rounds):
        cands = heapq.nsmallest(
            BPE_CAND,
            counts.items(),
            key=lambda kv: (-kv[1], kv[0][0], kv[0][1]),
        )
        sel, used = [], set()
        for (s1, s2), c in cands:
            if (
                len(sel) < BPE_BATCH
                and s1 not in used
                and s2 not in used
                and (s1 + s2) not in used
            ):
                sel.append((s1, s2, c))
                used.update((s1, s2, s1 + s2))
        m = {s2: s1 for s1, s2, _c in sel}
        batches_local.append((sel, m))
        if not sel:
            break  # pairs exhausted — same early stop, same trailing
            # empty batch in the return list
        affected = set()
        for s1, s2, _c in sel:
            affected |= index.get((s1, s2), set())
        for w in affected:
            s_old, freq = state[w]
            s_new = _bpe_apply_fold_local(s_old, m)
            for s_val, sign in ((s_old, -freq), (s_new, freq)):
                toks = s_val.strip(" ").split(" ")
                pairs_here = set()
                for i in range(1, len(toks)):
                    p = (toks[i - 1], toks[i])
                    counts[p] += sign
                    if counts[p] == 0:
                        del counts[p]
                    pairs_here.add(p)
                for p in pairs_here:
                    if sign < 0:
                        index[p].discard(w)
                    else:
                        index[p].add(w)
            state[w][0] = s_new

    # all rounds ride ONE local frame sliced per round (each slice is a
    # filtered LocalTableScan with the identical 1 row): a per-round
    # frame paid ~20 ms x BPE_ITERS of py4j/Arrow call overhead per
    # training call
    if batches_local:
        allb = local.local_frame(
            spark,
            [(i, sel, m) for i, (sel, m) in enumerate(batches_local)],
            "r int, batch array<struct<s1:string,s2:string,"
            "pair_count:bigint>>, m map<string,string>",
        )
        batches = [
            allb.where(F.col("r") == i).select("batch", "m")
            for i in range(len(batches_local))
        ]
    else:
        batches = []
    vocab = local.local_frame(
        spark,
        [(w, s, freq) for w, (s, freq) in state.items()],
        "w string, s string, freq bigint",
    )
    return batches, vocab


def _bpe_train(
    spark: SparkSession,
    sf_dir: str,
    where: "str | None" = None,
    iters: "int | None" = None,
) -> "tuple[list[DataFrame], DataFrame]":
    """The induction loop shared by text_bpe_vocab (the merge table),
    text_tokenize_bpe (the final per-word segmentation), and
    text_tokenize_bpe_oov (train-split-only training): returns
    ([one 1-row frame per round with ``batch`` array<struct<s1,s2,
    pair_count>> (selection order) and ``m`` map<s2,s1>], final vocab
    (w, s, freq) with s the space-joined symbol string after every
    applied round). ``where`` filters the TRAINING corpus (SQL
    predicate over documents columns).

    Per-round cost (the delta-maintenance contract, round-10 Next #2):
    the ONLY full pair-count job is the init; each round then pays
    (a) a TakeOrdered over the materialized count table (pair-vocab
    scale), (b) the selection fold on a 1-row frame, (c) old/new pair
    explodes over ONLY the batch-affected words (delta scale), (d) one
    count-table merge (pair-vocab-scale shuffle of mostly-unchanged
    rows + a delta-scale update), and (e) one vocab projection whose
    interpreted fold is GUARDED to affected rows (unaffected words pass
    through a cheap contains() check; the write is a scan-speed
    columnar checkpoint, no shuffle, no explode). Nothing vocab-scale
    explodes or folds after init. The loop breaks on the first empty
    batch (exact — see the module comment); the trailing oracle levels
    are carries."""
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    if where is not None:
        docs = docs.where(where)
    chars = (
        "if(length(w) >= 1, transform(sequence(1, length(w)),"
        " i -> substring(w, i, 1)), array())"
    )
    vocab = (
        docs.select(
            F.explode_outer(F.expr(f"split({_NORM_SPARK}, ' ')")).alias("w")
        )
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
        .select("w", F.expr(f"concat_ws(' ', {chars})").alias("s"), "freq")
    )
    pairs_expr = (
        "if(size(toks) >= 2, transform(sequence(1, size(toks) - 1),"
        " i -> struct(toks[i - 1] AS s1, toks[i] AS s2)), array())"
    )
    cur = vocab.localCheckpoint(eager=True)
    n_rounds = BPE_ITERS if iters is None else iters
    # scale gate (OPTIMIZATION_r15 change 5): a bounded vocabulary
    # trains driver-side — one collect of the already-materialized
    # word table instead of ~5 Spark jobs per round; the distributed
    # delta-maintained loop below is the web-scale path and runs
    # whenever the vocabulary is genuinely unbounded
    rows = local.bounded_collect(cur, BPE_LOCAL_VOCAB_CAP)
    if rows is not None:
        release(cur)
        return _bpe_train_local(spark, rows, n_rounds)

    def _pair_counts(frame, s_col: str, sign: int):
        return (
            frame.select(
                (F.col("freq") * sign).alias("freq"),
                F.expr(f"split(trim({s_col}), ' ')").alias("toks"),
            )
            .select("freq", F.explode_outer(F.expr(pairs_expr)).alias("p"))
            .where(F.col("p").isNotNull())
            .groupBy(F.col("p.s1").alias("s1"), F.col("p.s2").alias("s2"))
            .agg(F.sum("freq").alias("pair_count"))
        )

    # init: the one full vocab-scale pair count, materialized as state.
    # Superseded counts/vocab checkpoints are released each round
    # (round-11 review: the loop otherwise pins every dead round's copy
    # for the app lifetime). Batch frames are RETURNED and never
    # released; the live cur survives the loop.
    counts = _pair_counts(cur, "s", 1).localCheckpoint(eager=True)
    batches = []
    for _ in range(n_rounds):
        cands = counts.orderBy(
            F.desc("pair_count"), F.asc("s1"), F.asc("s2")
        ).limit(BPE_CAND)
        batch = (
            cands.agg(F.expr(_BPE_CANDS_EXPR).alias("cands"))
            .select(F.expr(_BPE_SELECT_EXPR).alias("batch"))
            .withColumn(
                "m",
                F.expr("map_from_entries(transform(batch,"
                       " c -> struct(c.s2, c.s1)))"),
            )
            .localCheckpoint(eager=True)
        )
        batches.append(batch)
        if batch.select(F.size("batch").alias("n")).first().n == 0:
            # pairs exhausted: every later round would select empty too
            # (counts are fixed points) — stop paying jobs; the oracle's
            # remaining levels carry. The empty batch frame stays in the
            # return list so consumers see at least one frame.
            break
        bcast = F.broadcast(batch.select("batch", "m"))
        # delta-scale: only the words this batch changes, old and new.
        # NOT checkpointed: its two consumers re-derive from the
        # CHECKPOINTED cur (one cheap scan + pred each) — a per-round
        # materialization job costs more than the double evaluation
        aff = (
            cur.crossJoin(bcast)
            .where(F.expr(_BPE_AFFECTED_PRED))
            .select(
                "freq",
                F.col("s").alias("s_old"),
                F.expr(_BPE_APPLY_FOLD).alias("s_new"),
            )
        )
        delta = _pair_counts(aff, "s_old", -1).unionByName(
            _pair_counts(aff, "s_new", 1)
        )
        old_counts, old_cur = counts, cur
        counts = (
            counts.unionByName(delta)
            .groupBy("s1", "s2")
            .agg(F.sum("pair_count").alias("pair_count"))
            .where(F.col("pair_count") > 0)
            .localCheckpoint(eager=True)
        )
        # vocab rewrite: interpreted fold ONLY on affected rows; the
        # projection itself is scan-speed and shuffle-free
        cur = (
            cur.crossJoin(bcast)
            .select(
                "w",
                F.expr(
                    f"IF({_BPE_AFFECTED_PRED}, {_BPE_APPLY_FOLD}, s)"
                ).alias("s"),
                "freq",
            )
            .localCheckpoint(eager=True)
        )
        # both successors are materialized — the previous round's state
        # has no remaining consumer (batch frames have their own blocks)
        release(old_counts, old_cur)
    # the final count table has no consumer after the loop; the final
    # cur is returned live
    release(counts)
    return batches, cur


def _oracle_bpe_vocab(
    where_sql: str = "", iters: "int | None" = None
) -> "tuple[str, str, str]":
    """Chained-CTE replay of the same BPE_ITERS batched passes (the
    mix_pack_greedy N-step precedent — DuckDB's recursive CTEs cannot
    carry a list state per step). Returns (with_clause,
    merge_table_select, final_vocab_cte_name) — composed into the
    merge-table oracle by _oracle_bpe_sql, the tokenizer-apply oracle by
    _oracle_tokenize_bpe, and the OOV oracle by _oracle_tokenize_oov.
    ``where_sql`` (e.g. " WHERE NOT (...)") filters the TRAINING corpus.

    DuckDB 1.0 list_reduce scar (probed, this round): a lambda whose
    CASE returns the LIST accumulator unchanged after the condition
    scanned it (list_has_any/list_intersect/list_contains) corrupts the
    accumulator for later steps — the selection fold therefore ALWAYS
    list_concats, appending an empty list on reject. The flat VARCHAR[]
    accumulator interleaves [s1, s2, s1||s2, marker] per accepted
    candidate; the marker carries a LEADING SPACE, which no symbol can
    contain, so markers never collide with used-symbol entries and
    list_has_any(acc, x) is exactly the non-interaction predicate
    (markers are pairwise distinct: pairs are GROUP BY keys).

    Every chain CTE is AS MATERIALIZED: v{{r}} is referenced by both
    p{{r+1}} and v{{r+1}} (and br{{r}} by v{{r}} plus the OOV o-chain),
    and DuckDB inlines multiply-referenced CTEs here — the unmaterialized
    chain re-evaluates its whole prefix per reference (measured: the OOV
    oracle 150 s -> 0.7 s at sf0.01). The same 2^N hazard the Spark loop
    kills with localCheckpoint."""
    pairs = (
        "CASE WHEN len(toks) >= 2 THEN"
        " list_transform(generate_series(1, len(toks) - 1),"
        " i -> {'s1': toks[i], 's2': toks[i + 1]}) ELSE [] END"
    )
    chars = (
        "CASE WHEN len(w) >= 1 THEN"
        " list_transform(generate_series(1, len(w)), i -> substring(w, i, 1))"
        " ELSE [] END"
    )
    ctes = [
        f"""v0 AS MATERIALIZED (
  SELECT w, array_to_string({chars}, ' ') AS s, freq
  FROM (SELECT w, COUNT(*) AS freq FROM (
          SELECT unnest(string_split({_NORM_DUCK}, ' ')) AS w
          FROM documents{where_sql}
        ) GROUP BY w)
)"""
    ]
    n_iters = BPE_ITERS if iters is None else iters
    selects = []
    for r in range(1, n_iters + 1):
        prev = f"v{r - 1}"
        ctes.append(
            f"""p{r} AS MATERIALIZED (
  SELECT p.s1 AS s1, p.s2 AS s2, SUM(freq) AS pair_count FROM (
    SELECT freq, unnest({pairs}) AS p FROM (
      SELECT freq, string_split(trim(s), ' ') AS toks FROM {prev})
  ) GROUP BY 1, 2
), c{r} AS MATERIALIZED (
  SELECT list({{'s1': s1, 's2': s2, 'cnt': CAST(pair_count AS BIGINT)}}
              ORDER BY pair_count DESC, s1, s2) AS cands
  FROM (SELECT s1, s2, pair_count FROM p{r}
        ORDER BY pair_count DESC, s1, s2 LIMIT {BPE_CAND})
), s{r} AS MATERIALIZED (
  SELECT list_reduce(
    list_prepend(CAST([] AS VARCHAR[]),
      list_transform(
        coalesce(cands,
                 CAST([] AS STRUCT(s1 VARCHAR, s2 VARCHAR, cnt BIGINT)[])),
        c -> [c.s1, c.s2, c.s1 || c.s2,
              ' ' || c.s1 || ' ' || c.s2 || ' ' || c.cnt])),
    (acc, x) -> list_concat(acc,
      CASE WHEN len(acc) < {4 * BPE_BATCH} AND NOT list_has_any(acc, x)
           THEN x ELSE CAST([] AS VARCHAR[]) END)) AS flat
  FROM c{r}
), b{r} AS MATERIALIZED (
  SELECT ROW_NUMBER() OVER (ORDER BY i) AS pos,
         parts[2] AS s1, parts[3] AS s2,
         CAST(parts[4] AS BIGINT) AS pair_count
  FROM (
    SELECT string_split(e, ' ') AS parts, i FROM (
      SELECT unnest(coalesce(flat, CAST([] AS VARCHAR[]))) AS e,
             generate_subscripts(coalesce(flat, CAST([] AS VARCHAR[])), 1)
               AS i
      FROM s{r})
    WHERE e[1] = ' '
  )
), br{r} AS MATERIALIZED (
  SELECT coalesce(list({{'s1': s1, 's2': s2}}),
                  CAST([] AS STRUCT(s1 VARCHAR, s2 VARCHAR)[])) AS rules
  FROM b{r}
), v{r} AS MATERIALIZED (
  SELECT w,
         trim(list_reduce(
           list_prepend('', string_split(trim(s), ' ')),
           (acc, x) -> CASE WHEN len(list_filter(rules,
                              p -> p.s2 = x
                                   AND ends_with(acc, ' ' || p.s1))) > 0
                       THEN acc || x ELSE acc || ' ' || x END)) AS s,
         freq
  FROM {prev} CROSS JOIN br{r}
)"""
        )
        selects.append(f"SELECT {r} AS it, pos, s1, s2, pair_count FROM b{r}")
    union = "\nUNION ALL\n".join(selects)
    merge_select = (
        "SELECT CAST(ROW_NUMBER() OVER (ORDER BY it, pos) AS INT)"
        " AS merge_rank, s1, s2, pair_count\n"
        f"FROM ({union})"
    )
    return (
        "WITH " + ",\n".join(ctes),
        merge_select,
        f"v{n_iters}",
    )


def _oracle_bpe_sql(iters: "int | None" = None) -> str:
    with_sql, merge_select, _final = _oracle_bpe_vocab(iters=iters)
    return with_sql + "\n" + merge_select


QUERIES["text_bpe_vocab"] = text_bpe_vocab
ORACLES["text_bpe_vocab"] = _oracle_bpe_sql(iters=BPE_PREFIX_ITERS)


# the staged-vocab artifact root: lives under similarity's scratch root
# so its two-level layout (family/key) rides the existing TTL sweep.
# The key is a CORPUS FINGERPRINT both engines compute identically from
# the documents table, so the oracle self-selects the artifact matching
# the corpus its views point at — concurrent sessions on DIFFERENT
# corpora never cross-read, and same-corpus artifacts are deterministic
# (identical content, overwrite-safe).
_BPE_STAGE_FAMILY = "bpe_stage"
_BPE_FP_SPARK = (
    "concat(cast(count(*) as string), '-',"
    " cast(coalesce(sum(doc_id), 0) as string), '-',"
    " cast(coalesce(sum(length(text)), 0) as string))"
)
_BPE_FP_DUCK = (
    "CAST(COUNT(*) AS VARCHAR) || '-'"
    " || CAST(CAST(COALESCE(SUM(doc_id), 0) AS BIGINT) AS VARCHAR) || '-'"
    " || CAST(CAST(COALESCE(SUM(LENGTH(text)), 0) AS BIGINT) AS VARCHAR)"
)


def _bpe_stage(spark: SparkSession, sf_dir: str, vocab: DataFrame) -> DataFrame:
    """Write the learned segmentation (sf_key, w, n_sym) as the parquet
    artifact text_tokenize_bpe's oracle replays the APPLY phase from
    (round-12 Next #2), and return it READ BACK from disk — both
    engines then consume the identical file, so the write path is under
    the hash too. The corpus-fingerprint key is a bounded 1-row
    aggregate collect (column-pruned scan at 100 TB — the price of a
    static oracle path)."""
    import os

    from datafusion_loki_spark.operators.similarity import (
        _SCRATCH_ROOT,
        _sweep_stale_scratch,
    )

    _sweep_stale_scratch()
    docs = load_table(spark, sf_dir, "documents")
    key = docs.agg(F.expr(_BPE_FP_SPARK).alias("k")).first().k
    path = os.path.join(_SCRATCH_ROOT, _BPE_STAGE_FAMILY, key)
    staged = vocab.select(
        F.lit(key).alias("sf_key"),
        "w",
        F.expr("size(split(trim(s), ' '))").alias("n_sym"),
    )
    staged.write.mode("overwrite").parquet(path)
    # read back with the schema just written: no schema-inference job
    return spark.read.schema(staged.schema).parquet(path).select("w", "n_sym")


def text_tokenize_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY the learned tokenizer — the consumer of text_bpe_vocab's
    merge table and the number every training-data budget actually
    needs: per-document token counts under the induced BPE vocabulary
    (vs whitespace tokens), i.e. the corpus's real sequence-length
    distribution under the FULL production budget (BPE_ITERS x
    BPE_BATCH = 6144 merges; round-12 Next #2 — this is the face that
    carries the full-depth induction, while the CTE oracles replay only
    the BPE_PREFIX_ITERS prefix). Emits (doc_id, n_ws_tokens,
    n_bpe_tokens, bpe_per_token); NULL-text docs tokenize to no words
    and drop (family contract).

    Oracle contract: the learned vocab is STAGED as a parquet artifact
    (_bpe_stage) and the oracle recomputes tokenize + join + aggregate
    from that artifact — the apply phase is exactly replayable under a
    given vocab, so the hash covers the corpus tokenize, the join
    semantics, and the per-doc fold at ANY budget; the induction's own
    exactness is pinned by text_bpe_vocab's level-replay oracle and
    tests/test_bpe_scale.py's full-recount crafted-corpus check.

    100 TB posture — the fastBPE APPLY trick, same as training: the
    corpus is never segmented row by row. The final vocab state (word →
    space-joined symbols, a by-product of the training loop's last
    checkpoint) is segmented ONCE at vocabulary scale; the corpus pays
    one tokenize + one join on the word key + one per-doc aggregation.
    The join is merge-pinned: the corpus side sits under a stat-less
    explode (the family's broadcast trap), and the vocab side, while
    usually broadcastable, is unbounded in principle (Heaps at 100 TB).
    """
    _batches, vocab = _bpe_train(spark, sf_dir)
    seg = _bpe_stage(spark, sf_dir, vocab)
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    # explode_outer + output-column guard, NOT plain explode: explode
    # triggers InferFiltersFromGenerate, which clones the whole
    # normalize/split chain into a scan-side Filter (the family's
    # expression-hygiene rule); the w-isNotNull guard is a cheap filter
    # on the generator's OUTPUT
    toks = (
        docs.select(
            "doc_id",
            F.explode_outer(F.expr(f"split({_NORM_SPARK}, ' ')")).alias("w"),
        )
        .where(F.col("w").isNotNull())
    )
    # join strategy UNPINNED (OPTIMIZATION_r15 change 5b): the vocab
    # side is the STAGED artifact read back from parquet — a plain
    # FileScan with real size stats, so Catalyst's choice is
    # trustworthy (the _subtract_tombstones rule): at test scale it
    # broadcasts the artifact (no token-scale sort), at 100 TB the
    # artifact outgrows the threshold and the join degrades to SMJ on
    # its own. The former merge pin guarded against broadcasting the
    # stat-less CORPUS side, which the stats-backed artifact side
    # already precludes (gate: test_tokenize_bpe_vocab_join_never_
    # broadcasts_corpus pins build-side-artifact).
    return (
        toks.join(seg, "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_ws_tokens"),
            F.sum("n_sym").alias("n_bpe_tokens"),
        )
        .withColumn(
            "bpe_per_token",
            F.col("n_bpe_tokens") / F.col("n_ws_tokens").cast("double"),
        )
    )


def _oracle_tokenize_bpe() -> str:
    """APPLY-phase oracle from the staged vocab artifact (round-12 Next
    #2): tokenize the corpus, join the artifact's per-word symbol
    counts, aggregate per doc — budget-independent by construction. The
    artifact self-selects by corpus fingerprint (sf_key), so a stale
    artifact from another corpus in the shared stage dir never
    matches; the Spark face always writes before the oracle runs (the
    driver compares side-by-side, query first)."""
    from datafusion_loki_spark.operators.similarity import _SCRATCH_ROOT

    root = f"{_SCRATCH_ROOT}/{_BPE_STAGE_FAMILY}"
    return f"""WITH seg AS (
  SELECT w, n_sym FROM read_parquet('{root}/*/*.parquet')
  WHERE sf_key = (SELECT {_BPE_FP_DUCK} FROM documents)
),
toks AS (
  SELECT doc_id, unnest(string_split({_NORM_DUCK}, ' ')) AS w
  FROM documents
)
SELECT t.doc_id,
       COUNT(*) AS n_ws_tokens,
       CAST(SUM(seg.n_sym) AS BIGINT) AS n_bpe_tokens,
       CAST(SUM(seg.n_sym) AS DOUBLE) / COUNT(*) AS bpe_per_token
FROM toks t JOIN seg USING (w)
GROUP BY t.doc_id
"""


QUERIES["text_tokenize_bpe"] = text_tokenize_bpe
ORACLES["text_tokenize_bpe"] = _oracle_tokenize_bpe()


# the held-out shard: the sampling module's md5-bucket convention over
# the stable doc key (~1/16 of docs) — the tokenizer trains on the rest
_BPE_HELDOUT_SPARK = "substring(md5(cast(doc_id as string)), 1, 1) = '0'"
_BPE_HELDOUT_DUCK = "substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0'"


def text_tokenize_bpe_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer TRAIN/APPLY across a shard boundary with true
    out-of-vocabulary handling — the deployment shape text_tokenize_bpe
    (same-corpus apply) cannot show: merges are learned on the TRAINING
    split only, then applied to the HELD-OUT shard, where unseen words
    exist. Seen words ride the vocab join (their segmentation is a
    training by-product); each distinct OOV word is segmented by
    REPLAYING the learned merges over its characters in rank order —
    exactly what a BPE tokenizer does at inference. Emits per held-out
    doc: n_ws_tokens, n_bpe_tokens, n_oov_words.

    100 TB posture: the replay runs over the held-out shard's DISTINCT
    unseen words (vocabulary-scale, Heaps-sublinear), as BPE_ITERS
    chained narrow projections — each pass's batch rides the same
    broadcast 1-row map frame the trainer produced, so the corpus is
    tokenized once and joined once (merge-pinned; the corpus side sits
    under a stat-less explode). Nothing collects.

    Oracle: the trainer CTEs filtered to the training split + an o0..oN
    fold chain over the anti-joined OOV word set, riding the same br{r}
    rule lists so a pairs-exhausted pass replays as a carry. Runs the
    BPE_PREFIX_ITERS budget — this face demonstrates the shard-boundary
    deployment shape, which is budget-independent; the CTE oracle
    replays its prefix level-for-level (round-12 Next #2)."""
    batches, vocab = _bpe_train(
        spark,
        sf_dir,
        where=f"NOT ({_BPE_HELDOUT_SPARK})",
        iters=BPE_PREFIX_ITERS,
    )
    seg_seen = vocab.select(
        "w",
        F.expr("size(split(trim(s), ' '))").alias("n_sym"),
        F.lit(0).alias("is_oov"),
    )
    docs = load_table(spark, sf_dir, "documents")
    toks = (
        docs.where(_BPE_HELDOUT_SPARK)
        .select(
            "doc_id",
            F.explode_outer(F.expr(f"split({_NORM_SPARK}, ' ')")).alias("w"),
        )
        .where(F.col("w").isNotNull())
    )
    chars = (
        "if(length(w) >= 1, transform(sequence(1, length(w)),"
        " i -> substring(w, i, 1)), array())"
    )
    oov = (
        toks.select("w")
        .distinct()
        .join(seg_seen.select("w"), "w", "left_anti")
        .select("w", F.expr(f"concat_ws(' ', {chars})").alias("s"))
    )
    for batch in batches:  # pass order; 1-row checkpointed map frames
        oov = oov.crossJoin(F.broadcast(batch.select("m"))).select(
            "w", F.expr(_BPE_APPLY_FOLD).alias("s")
        )
    seg_oov = oov.select(
        "w",
        F.expr("size(split(trim(s), ' '))").alias("n_sym"),
        F.lit(1).alias("is_oov"),
    )
    seg = seg_seen.unionByName(seg_oov)
    return (
        toks.join(seg.hint("merge"), "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_ws_tokens"),
            F.sum("n_sym").alias("n_bpe_tokens"),
            F.sum("is_oov").alias("n_oov_words"),
        )
    )


def _oracle_tokenize_oov() -> str:
    n_iters = BPE_PREFIX_ITERS
    with_sql, _selects, final_v = _oracle_bpe_vocab(
        f" WHERE NOT ({_BPE_HELDOUT_DUCK})", iters=n_iters
    )
    chars = (
        "CASE WHEN len(w) >= 1 THEN"
        " list_transform(generate_series(1, len(w)), i -> substring(w, i, 1))"
        " ELSE [] END"
    )
    oov_ctes = [
        f"""ho AS MATERIALIZED (
  SELECT doc_id, unnest(string_split({_NORM_DUCK}, ' ')) AS w
  FROM documents WHERE {_BPE_HELDOUT_DUCK}
), o0 AS MATERIALIZED (
  SELECT w, array_to_string({chars}, ' ') AS s FROM (
    SELECT DISTINCT w FROM ho
    WHERE w NOT IN (SELECT w FROM {final_v})
  )
)"""
    ]
    for r in range(1, n_iters + 1):
        oov_ctes.append(
            f"""o{r} AS MATERIALIZED (
  SELECT w,
         trim(list_reduce(
           list_prepend('', string_split(trim(s), ' ')),
           (acc, x) -> CASE WHEN len(list_filter(rules,
                              p -> p.s2 = x
                                   AND ends_with(acc, ' ' || p.s1))) > 0
                       THEN acc || x ELSE acc || ' ' || x END)) AS s
  FROM o{r - 1} CROSS JOIN br{r}
)"""
        )
    return f"""{with_sql},
{",".join(oov_ctes)},
seg AS (
  SELECT w, len(string_split(trim(s), ' ')) AS n_sym, 0 AS is_oov
  FROM {final_v}
  UNION ALL
  SELECT w, len(string_split(trim(s), ' ')) AS n_sym, 1 AS is_oov
  FROM o{n_iters}
)
SELECT ho.doc_id,
       COUNT(*) AS n_ws_tokens,
       CAST(SUM(seg.n_sym) AS BIGINT) AS n_bpe_tokens,
       CAST(SUM(seg.is_oov) AS BIGINT) AS n_oov_words
FROM ho JOIN seg USING (w)
GROUP BY ho.doc_id
"""


QUERIES["text_tokenize_bpe_oov"] = text_tokenize_bpe_oov
ORACLES["text_tokenize_bpe_oov"] = _oracle_tokenize_oov()
