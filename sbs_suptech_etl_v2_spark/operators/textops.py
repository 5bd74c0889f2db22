"""Text-analysis operator family — SURVEY §2.11 [EXT-4].

The operations a 100 TB training-data pipeline runs over every document,
each a pure DataFrame plan over the ``documents`` table:

- **quality stats** (q26) — token/char counts, type-token ratio,
  stopword ratio, mean token length, and a Gopher-style keep/drop
  gate. Narrow map-only plan: one row in, one row out, no shuffle.
- **token frequency** (q27) — corpus-level term + document frequency
  with map-side partial aggregation; the only shuffle is on the token
  key (bounded by vocabulary size, not corpus size).
- **TF-IDF** (q28) — tf from a per-doc explode, df from a token-level
  aggregate joined back (broadcast — vocabulary-sized), top-3 terms
  per document. The df side is small by construction at any corpus
  size, so the join never shuffles the big side twice.
- **language-ID** (q29) — stopword-profile hit scoring with a
  deterministic argmax. Real profiles would be char-n-gram based; the
  operator shape (per-row array scoring + tie-broken argmax) is the
  same.
- **document fingerprint** (q30) — bottom-k sketch of shingle hashes
  (winnowing-style): a compact, order-insensitive content signature
  usable as an exact-dedup key at scale.

All ratios divide exact integers (bit-deterministic doubles); the only
transcendental is ln() in TF-IDF, which both engines compute on the
same small set of rational arguments (verified against the oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from sbs_suptech_etl_v2_spark.checkpointing import materialize
from sbs_suptech_etl_v2_spark.functions.scalars import sql_quote_literal
from sbs_suptech_etl_v2_spark.io import spread, table
from sbs_suptech_etl_v2_spark.operators.dedup import (
    _ORACLE_SHINGLE_HASHES,
    _shingle_hashes_sql,
    _words,
)

STOPWORDS = ("the", "a")

MIN_TOKENS = 15
MAX_TOKENS = 80
MAX_STOPWORD_RATIO = 0.3
MIN_TTR = 0.4  # type-token ratio floor

TFIDF_TOP = 3
FINGERPRINT_K = 4  # bottom-k sketch size

# Toy per-language stopword profiles over the corpus vocabulary; a real
# deployment swaps in char-n-gram frequency profiles — the plan shape
# (per-row membership scoring + deterministic argmax) is identical.
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "de": ("batch", "group", "window", "fast"),
    "en": ("the", "a", "table", "row"),
    "es": ("data", "query", "sort", "slow"),
    "zh": ("vector", "hash", "stream", "key"),
}


def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT-4] per-document quality statistics + keep/drop gate.

    Gopher-style filters: token-count band, stopword-ratio cap,
    type-token-ratio floor. Everything derives per-row from ``text`` —
    map-only, shuffle-free, whole-stage-codegen'd.
    """
    # SQL-text form (the nested-HOF Column chain was ~260 py4j round
    # trips — guide §5; plan unchanged, see plans/r17/q26_text_stats_*)
    docs = table(spark, sf_dir, "documents")
    stop_arr = (
        "array(" + ", ".join(f"'{sql_quote_literal(s)}'" for s in STOPWORDS) + ")"
    )
    out = (
        "get(transform(array(split(text, ' ')), ws -> struct("
        "cast(size(ws) as bigint) AS n_tokens,"
        " cast(size(array_distinct(ws)) as bigint) AS n_types,"
        f" size(filter(ws, t -> array_contains({stop_arr}, t))) / size(ws) AS stopword_ratio,"
        " aggregate(transform(ws, t -> cast(length(t) as bigint)),"
        "  cast(0 as bigint), (acc, x) -> acc + x) / size(ws) AS mean_token_len,"
        " size(array_distinct(ws)) / size(ws) AS type_token_ratio"
        ")), 0)"
    )
    stats = docs.selectExpr("doc_id", "lang", "n_chars", f"{out} AS s").selectExpr(
        "doc_id",
        "lang",
        "n_chars",
        "s.n_tokens",
        "s.n_types",
        "s.stopword_ratio",
        "s.mean_token_len",
        "s.type_token_ratio",
    )
    return stats.withColumn(
        "keep",
        F.expr(
            f"n_tokens >= {MIN_TOKENS} AND n_tokens <= {MAX_TOKENS}"
            f" AND stopword_ratio <= {MAX_STOPWORD_RATIO}"
            f" AND type_token_ratio >= {MIN_TTR}"
        ),
    )


TEXT_STATS_SQL = f"""
WITH s AS (
  SELECT doc_id, lang, n_chars, str_split(text, ' ') AS ws FROM documents
),
stats AS (
  SELECT doc_id, lang, n_chars,
         CAST(len(ws) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct(ws)) AS BIGINT) AS n_types,
         CAST(len(list_filter(ws, t -> t IN ('the', 'a'))) AS DOUBLE) / len(ws) AS stopword_ratio,
         -- seeded list_reduce, not list_sum: list_sum is the one list
         -- aggregate no driver-green oracle exercises (q22/q62 lesson)
         CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                list_transform(ws, t -> CAST(length(t) AS BIGINT))),
              (acc, el) -> acc + el) AS DOUBLE)
           / len(ws) AS mean_token_len,
         CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) AS type_token_ratio
  FROM s
)
SELECT *,
       n_tokens >= {MIN_TOKENS} AND n_tokens <= {MAX_TOKENS}
         AND stopword_ratio <= {MAX_STOPWORD_RATIO}
         AND type_token_ratio >= {MIN_TTR} AS keep
FROM stats
"""


def token_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT-4] corpus token frequency — term freq + doc freq, top-20.

    One explode + one groupBy(token): the shuffle key cardinality is
    the vocabulary, not the corpus, and map-side partial aggregation
    reduces the shuffle to |vocab| × |partitions| rows. The global
    top-20 is a TakeOrderedAndProject (parallel), not a global sort.
    """
    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(_words(F.col("text"))).alias("token"))
    agg = toks.groupBy("token").agg(
        F.count(F.lit(1)).alias("term_freq"),
        F.countDistinct("doc_id").alias("doc_freq"),
    )
    return agg.orderBy(F.col("term_freq").desc(), F.col("token")).limit(20)


TOKEN_TOPK_SQL = """
SELECT token, COUNT(*) AS term_freq, COUNT(DISTINCT doc_id) AS doc_freq
FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS token FROM documents)
GROUP BY token
ORDER BY term_freq DESC, token
LIMIT 20
"""


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT-4] TF-IDF — top-{TFIDF_TOP} characteristic terms per doc.

    tf from the per-doc token explode; df aggregated once on the
    (vocabulary-sized) token key and broadcast back; idf = ln(N/df).
    The corpus size N joins in as a broadcast 1-row aggregate (the
    oracle's ``n AS (SELECT COUNT(*) ...)`` scalar subquery) — no
    driver-side action during plan construction, and the count rides
    the same job as the rest of the query.
    Scale: ONE document-level shuffle, placed before the explode —
    hashpartitioning(doc_id) satisfies the (doc_id, token) tf agg AND
    the per-doc ranking window, so raw text crosses the wire once and
    neither the exploded token stream nor the scored rows ever
    re-shuffle; the only other exchange is the vocabulary-sized df
    rollup, which broadcasts back.
    """
    docs_raw = table(spark, sf_dir, "documents")
    # the 1-row corpus count must not inherit the doc_id repartition —
    # it would grow a pointless pre-count exchange
    n_ = docs_raw.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    docs = docs_raw.repartition("doc_id")
    toks = docs.select("doc_id", F.explode(_words(F.col("text"))).alias("token"))
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    # df rolls up from tf — (doc, token) is already distinct there, so
    # COUNT(*) per token == COUNT(DISTINCT doc_id) over the raw token
    # stream, and the corpus is exploded/shuffled ONCE instead of twice
    df_ = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(df_), "token")
        .crossJoin(F.broadcast(n_))
        .select(
            "doc_id",
            "token",
            F.col("tf").cast("bigint").alias("tf"),
            F.col("df").cast("bigint").alias("df"),
            (F.col("tf") * F.log(F.col("n_docs") / F.col("df"))).cast("float").alias("tfidf"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("token"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TFIDF_TOP)
        .select("doc_id", "token", "tf", "df", "tfidf", F.col("rnk").cast("int").alias("rnk"))
    )


TFIDF_TOP_TERMS_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest(str_split(text, ' ')) AS token FROM documents
),
tf AS (
  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2
),
df AS (
  SELECT token, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM toks GROUP BY 1
),
n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.token, tf.tf, df.df,
         CAST(tf.tf * ln(n.n_docs / df.df) AS FLOAT) AS tfidf
  FROM tf JOIN df USING (token), n
)
SELECT doc_id, token, tf, df, tfidf, CAST(rnk AS INTEGER) AS rnk
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rnk
  FROM scored
)
WHERE rnk <= {TFIDF_TOP}
"""


def language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT-4] heuristic language-ID — profile hit scoring + argmax.

    Per row: count token hits against each language's stopword profile,
    pick the best (score desc, language asc — fully deterministic).
    Map-only; with char-n-gram profiles the plan is identical, only the
    membership arrays grow.
    """
    # SQL-text form (was ~240 py4j round trips — guide §5; plan
    # unchanged, see plans/r17/q29_language_id_*.txt)
    docs = table(spark, sf_dir, "documents")
    langs = sorted(LANG_PROFILES)

    def hits(lang: str) -> str:
        profile = (
            "array("
            + ", ".join(f"'{sql_quote_literal(t)}'" for t in LANG_PROFILES[lang])
            + ")"
        )
        return f"size(filter(ws, t -> array_contains({profile}, t)))"

    struct_fields = ", ".join(
        f"cast({hits(lang)} as bigint) AS score_{lang}" for lang in langs
    )
    scored = docs.selectExpr(
        "doc_id",
        "lang AS actual_lang",
        "get(transform(array(split(text, ' ')),"
        f" ws -> struct({struct_fields})), 0) AS s",
    ).selectExpr("doc_id", "actual_lang", *[f"s.score_{lang}" for lang in langs])
    # same left-to-right argmax chain as the oracle SQL (lang keys are
    # also column-name suffixes, so they can never contain quote
    # characters — quoted defensively anyway, it costs nothing)
    pred = f"'{sql_quote_literal(langs[0])}'"
    best = f"score_{langs[0]}"
    for lang in langs[1:]:
        pred = (
            f"CASE WHEN score_{lang} > {best}"
            f" THEN '{sql_quote_literal(lang)}' ELSE {pred} END"
        )
        best = f"CASE WHEN score_{lang} > {best} THEN score_{lang} ELSE {best} END"
    return scored.selectExpr(
        "doc_id", "actual_lang", f"{pred} AS predicted_lang",
        *[f"score_{lang}" for lang in langs],
    )


def _langid_sql() -> str:
    langs = sorted(LANG_PROFILES)
    score_cols = ",\n         ".join(
        "CAST(len(list_filter(ws, t -> t IN ({}))) AS BIGINT) AS score_{}".format(
            ", ".join(f"'{w}'" for w in LANG_PROFILES[lang]), lang
        )
        for lang in langs
    )
    # same left-to-right argmax chain as the Spark side
    pred = f"'{langs[0]}'"
    best = f"score_{langs[0]}"
    for lang in langs[1:]:
        pred = f"CASE WHEN score_{lang} > {best} THEN '{lang}' ELSE {pred} END"
        best = f"CASE WHEN score_{lang} > {best} THEN score_{lang} ELSE {best} END"
    cols = ", ".join(f"score_{lang}" for lang in langs)
    return f"""
WITH s AS (
  SELECT doc_id, lang AS actual_lang, str_split(text, ' ') AS ws FROM documents
),
scored AS (
  SELECT doc_id, actual_lang,
         {score_cols}
  FROM s
)
SELECT doc_id, actual_lang, {pred} AS predicted_lang, {cols}
FROM scored
"""


LANGUAGE_ID_SQL = _langid_sql()


SUBWORD_PATTERN = r"[aeiou]+|[^aeiou\s]+"  # vowel/consonant runs — a
# BPE-ish subword segmentation proxy (real BPE applies a learned merge
# table; the counting plan is identical)


def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT-4] token counting — whitespace tokens + regex subwords.

    The two counters a data pipeline budget-checks documents with:
    whitespace token count and a BPE-ish regex segmentation count
    (``regexp_extract_all`` — JVM regex, one pass), plus chars/token.
    Map-only, no shuffle.
    """
    docs = table(spark, sf_dir, "documents")
    ws = F.size(_words(F.col("text")))
    sub = F.size(F.regexp_extract_all(F.col("text"), F.lit(SUBWORD_PATTERN), 0))
    return docs.select(
        "doc_id",
        ws.cast("bigint").alias("ws_tokens"),
        sub.cast("bigint").alias("subword_tokens"),
        (F.col("n_chars") / ws).alias("chars_per_token"),
    )


TOKEN_COUNTS_SQL = f"""
SELECT doc_id,
       CAST(len(str_split(text, ' ')) AS BIGINT) AS ws_tokens,
       CAST(len(regexp_extract_all(text, '{SUBWORD_PATTERN}')) AS BIGINT) AS subword_tokens,
       CAST(n_chars AS DOUBLE) / len(str_split(text, ' ')) AS chars_per_token
FROM documents
"""


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT-4] bottom-k shingle-hash fingerprint (winnowing-style).

    The k smallest shingle hashes, sorted and joined — an
    order-insensitive compact content signature: near-identical
    documents share most sketch elements, identical documents share
    all. Usable directly as the exact-dedup key at 100 TB (constant
    size per row regardless of document length). Map-only plan.
    """
    # SQL-text form (the shingle-hash HOF chain was ~200 py4j round
    # trips — guide §5; plan unchanged, see plans/r17/q30_doc_fingerprint_*)
    docs = spread(table(spark, sf_dir, "documents"))
    sketch = (
        f"get(transform(array(array_sort({_shingle_hashes_sql('text')})),"
        f" hs -> array_join(transform(slice(hs, 1, {FINGERPRINT_K}),"
        " h -> cast(h as string)), '-')), 0)"
    )
    return docs.selectExpr("doc_id", f"{sketch} AS fingerprint")


DOC_FINGERPRINT_SQL = f"""
WITH corpus AS (SELECT doc_id, text FROM documents),
{_ORACLE_SHINGLE_HASHES}
SELECT doc_id,
       array_to_string(
         list_transform(list_slice(list_sort(hashes), 1, {FINGERPRINT_K}),
                        h -> CAST(h AS VARCHAR)),
         '-') AS fingerprint
FROM shingle_hashed
"""


# -- q85 corpus length histogram ------------------------------------------
HIST_WIDTH = 50  # chars per bucket
HIST_BUCKETS = 12  # clamp to [0, 600); overflow folds into the top bucket


def length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT-4] per-language document-length histogram.

    The corpus-profile table every dataset card carries: fixed-width
    char-length buckets (overflow clamped into the top bucket so the
    bucket count is schema-stable no matter what outliers arrive),
    per-(lang, bucket) counts, and each bucket's share of its
    language. One partial-agg shuffle on (lang, bucket) plus a
    lang-partitioned window for the share — bucket cardinality is
    fixed at {HIST_BUCKETS}, so the second pass is bounded regardless
    of corpus size.
    """
    docs = table(spark, sf_dir, "documents")
    bucket = F.least(
        F.floor(F.col("n_chars") / HIST_WIDTH), F.lit(HIST_BUCKETS - 1)
    ).cast("int")
    counts = (
        docs.select("lang", bucket.alias("bucket"))
        .groupBy("lang", "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )
    return counts.select(
        "lang",
        "bucket",
        (F.col("bucket") * HIST_WIDTH).cast("bigint").alias("bucket_lo"),
        "n_docs",
        (
            F.col("n_docs")
            / F.sum("n_docs").over(W.partitionBy("lang")).cast("double")
        ).alias("lang_share"),
    )


LENGTH_HISTOGRAM_SQL = f"""
WITH counts AS (
  SELECT lang,
         CAST(least(n_chars // {HIST_WIDTH}, {HIST_BUCKETS - 1}) AS INTEGER) AS bucket,
         CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM documents
  GROUP BY 1, 2
)
SELECT lang, bucket,
       CAST(bucket * {HIST_WIDTH} AS BIGINT) AS bucket_lo,
       n_docs,
       CAST(n_docs AS DOUBLE) / SUM(n_docs) OVER (PARTITION BY lang) AS lang_share
FROM counts
"""


def unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT-4] unigram LM quality score — per-doc corpus surprisal.

    The CCNet/Gopher-style quality gate: score each document by the
    cross-entropy of its tokens under the corpus unigram model
    (production swaps in a KenLM n-gram model through the same plan —
    the vocabulary dimension just grows context columns). High
    nats-per-token means rare-token soup (OCR noise, gibberish); low
    means boilerplate — both tails get filtered before training.

    Plan: one document-level shuffle placed before the explode (q28's
    shape — the tf aggregate and the final per-doc rollup share the
    hashpartitioning(doc_id)); the unigram counts roll up from tf on
    the vocabulary key and broadcast back (at web scale, where the
    vocab outgrows the broadcast threshold, drop the hint and AQE
    falls back to a vocab-keyed shuffle join — the plan is otherwise
    unchanged). Float determinism: per-(doc, token) surprisal
    contributions are rounded to DECIMAL(28,10) before the per-doc
    SUM — decimal addition is exact and order-free, and a 1-ulp libm
    difference in ln (≈1e-15 at these magnitudes) is far below the
    1e-10 quantum, so Spark and DuckDB sums match bit-for-bit.
    """
    docs_raw = table(spark, sf_dir, "documents")
    docs = docs_raw.repartition("doc_id")
    toks = docs.select("doc_id", F.explode(_words(F.col("text"))).alias("token"))
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    vocab = tf.groupBy("token").agg(F.sum("tf").alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("total"))
    contrib = (
        tf.join(F.broadcast(vocab), "token")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "tf",
            (
                F.col("tf")
                * F.log(
                    F.col("total").cast("double") / F.col("cnt").cast("double")
                )
            )
            .cast("decimal(28,10)")
            .alias("contrib"),
        )
    )
    return contrib.groupBy("doc_id").agg(
        F.sum("tf").cast("bigint").alias("n_tokens"),
        F.sum("contrib").cast("double").alias("surprisal_nats"),
    ).select(
        "doc_id",
        "n_tokens",
        "surprisal_nats",
        (F.col("surprisal_nats") / F.col("n_tokens")).alias("nats_per_token"),
    )


UNIGRAM_SURPRISAL_SQL = """
WITH toks AS (
  SELECT doc_id, unnest(str_split(text, ' ')) AS token FROM documents
),
tf AS (
  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2
),
vocab AS (
  SELECT token, CAST(SUM(tf) AS BIGINT) AS cnt FROM tf GROUP BY 1
),
n AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM vocab),
contrib AS (
  SELECT tf.doc_id, tf.tf,
         CAST(tf.tf * ln(CAST(n.total AS DOUBLE) / CAST(vocab.cnt AS DOUBLE))
              AS DECIMAL(28,10)) AS contrib
  FROM tf JOIN vocab USING (token), n
)
SELECT doc_id,
       CAST(SUM(tf) AS BIGINT) AS n_tokens,
       CAST(SUM(contrib) AS DOUBLE) AS surprisal_nats,
       CAST(SUM(contrib) AS DOUBLE) / CAST(SUM(tf) AS BIGINT) AS nats_per_token
FROM contrib
GROUP BY doc_id
"""


# -- q99 bigram PMI collocations ------------------------------------------
PMI_MIN_COUNT = 5  # ignore bigrams rarer than this (PMI is noise there)
PMI_TOP = 20


def bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT-4] collocation mining — top-{PMI_TOP} adjacent-token bigrams
    by pointwise mutual information, the corpus statistic behind
    tokenizer-vocabulary merges (BPE picks the argmax of exactly this
    family of association scores) and stop-phrase detection.

    PMI(w1,w2) = ln( P(w1,w2) / (P(w1)·P(w2)) ) with bigram probability
    over adjacent pairs and unigram probabilities over all tokens. The
    plan: one pass builds bigrams per row (an indexed ``transform``
    over the token array — no self-join of positions), a second
    explodes unigrams; both aggregate on token keys (vocabulary-sized
    shuffles, map-side combined). The unigram table and the two 1-row
    totals broadcast back onto the bigram aggregate, so the corpus is
    read once and nothing fact-sized shuffles twice. The PMI argument
    is assembled as three exact-integer divisions (never an integer
    product that could overflow at corpus scale) and the output score
    is rounded to 6 decimals on both engines.
    """
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(_words(F.col("text")).alias("ws"))
    bigrams = toks.select(
        F.explode(
            F.expr(
                "transform(slice(ws, 1, size(ws) - 1),"
                " (x, i) -> struct(x AS w1, ws[i + 1] AS w2))"
            )
        ).alias("b")
    ).select("b.w1", "b.w2")
    # the unigram table feeds FOUR consumers (c1 lookup, c2 lookup,
    # token total, and — arithmetically — the bigram total); without a
    # lineage cut each consumer re-tokenizes the whole corpus. The
    # table is vocabulary-sized, so materializing it is cheap at any
    # corpus scale and leaves exactly two corpus passes (bigrams +
    # unigrams) plus a count-star.
    uni = materialize(
        toks.select(F.explode("ws").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    bg = (
        bigrams.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c12"))
        .filter(F.col("c12") >= PMI_MIN_COUNT)
    )
    # per NON-NULL-text doc, #bigrams = #tokens - 1 (split of a
    # non-null string never yields an empty array), so the bigram
    # total is the token total minus the count of docs that produced
    # tokens — no third pass over exploded rows. COUNT(text), not
    # COUNT(*): a NULL text yields zero tokens AND zero bigrams on
    # both engines, so it must not enter the identity either.
    n_docs = docs.groupBy().agg(F.count(F.col("text")).alias("n_docs"))
    totals = (
        uni.agg(F.sum("c").alias("n_tokens"))
        .crossJoin(F.broadcast(n_docs))
        .select("n_tokens", (F.col("n_tokens") - F.col("n_docs")).alias("n_bigrams"))
    )
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    joined = (
        bg.join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(totals))
    )
    pmi = F.round(
        F.log(
            (F.col("c12") / F.col("n_bigrams"))
            / ((F.col("c1") / F.col("n_tokens")) * (F.col("c2") / F.col("n_tokens")))
        ),
        6,
    )
    return (
        joined.select("w1", "w2", "c12", "c1", "c2", pmi.alias("pmi"))
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(PMI_TOP)
    )


BIGRAM_PMI_SQL = f"""
WITH toks AS (
  SELECT str_split(text, ' ') AS ws FROM documents
),
bigrams AS (
  SELECT b['w1'] AS w1, b['w2'] AS w2
  FROM (SELECT unnest(list_transform(ws[:len(ws) - 1],
                 (x, i) -> struct_pack(w1 := x, w2 := ws[i + 1]))) AS b
        FROM toks)
),
uni AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT unnest(ws) AS w FROM toks) GROUP BY w
),
bg AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
  FROM bigrams GROUP BY w1, w2
  HAVING COUNT(*) >= {PMI_MIN_COUNT}
),
tot AS (
  SELECT (SELECT SUM(c) FROM uni) AS n_tokens,
         (SELECT COUNT(*) FROM bigrams) AS n_bigrams
)
SELECT bg.w1, bg.w2, bg.c12, u1.c AS c1, u2.c AS c2,
       round(ln((bg.c12 / t.n_bigrams)
                / ((u1.c / t.n_tokens) * (u2.c / t.n_tokens))), 6) AS pmi
FROM bg
JOIN uni u1 ON u1.w = bg.w1
JOIN uni u2 ON u2.w = bg.w2
CROSS JOIN tot t
ORDER BY pmi DESC, bg.w1, bg.w2
LIMIT {PMI_TOP}
"""


# -- q102 inverted index -----------------------------------------------------
POSTING_MIN_DF = 3  # index only tokens appearing in >= this many docs


def inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT-4] inverted-index build — token → ordered posting list,
    the retrieval-side artifact every search/RAG stack derives from a
    corpus (and the lookup structure behind q61's contamination scan).

    One explode + one distinct-ish aggregate on the token key: postings
    are the SORTED distinct doc ids per token, serialized as a joined
    string (the engine's ordered string-concat idiom, G4), with term
    and document frequencies alongside. The shuffle key is the
    vocabulary; map-side partial aggregation collapses per-partition
    duplicates before the wire. Tokens below df {POSTING_MIN_DF} are
    dropped AFTER the aggregate (the df isn't known earlier), exactly
    as the oracle's HAVING.
    """
    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(_words(F.col("text"))).alias("token"))
    # doc_freq derives from the distinct posting array instead of a
    # COUNT(DISTINCT ...) — a distinct aggregate would plan a second
    # two-phase exchange; this keeps the whole build at ONE shuffle
    agg = toks.groupBy("token").agg(
        F.count(F.lit(1)).cast("bigint").alias("term_freq"),
        F.array_sort(F.array_distinct(F.collect_list("doc_id"))).alias("_docs"),
    )
    return agg.select(
        "token",
        "term_freq",
        F.size("_docs").cast("bigint").alias("doc_freq"),
        F.array_join(
            F.transform(F.col("_docs"), lambda d: d.cast("string")), ","
        ).alias("postings"),
    ).filter(F.col("doc_freq") >= POSTING_MIN_DF)


INVERTED_INDEX_SQL = f"""
SELECT token,
       CAST(COUNT(*) AS BIGINT) AS term_freq,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS doc_freq,
       array_to_string(list_transform(list_sort(list(DISTINCT doc_id)),
                                      d -> CAST(d AS VARCHAR)), ',') AS postings
FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS token FROM documents)
GROUP BY token
HAVING COUNT(DISTINCT doc_id) >= {POSTING_MIN_DF}
"""


# -- q108 nucleus vocabulary --------------------------------------------------
NUCLEUS_NUM = 9  # keep tokens until cumulative mass reaches NUM/DEN
NUCLEUS_DEN = 10


def nucleus_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT-4] nucleus (top-p) vocabulary per language — the smallest
    frequency-ranked token set covering ≥ {NUCLEUS_NUM}/{NUCLEUS_DEN}
    of each language's token mass (the corpus-side computation behind
    top-p sampling cutoffs and frequency-pruned tokenizer vocabs).

    One vocabulary-keyed aggregate, then per-language ranking and a
    running-count window. The nucleus membership test is EXACT integer
    arithmetic — ``(cum - c) · DEN < NUM · total`` (a token enters if
    mass before it is under the cutoff) — no floating cumulative
    shares near the boundary on either engine; the emitted share
    columns are ratios of exact integers. Both windows and the
    aggregate share the language partitioning.
    """
    docs = table(spark, sf_dir, "documents")
    toks = docs.select("lang", F.explode(_words(F.col("text"))).alias("token"))
    cnt = toks.groupBy("lang", "token").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    # SQL-text form with inline OVER clauses (guide §5; plan unchanged
    # — plans/r17/q108_nucleus_vocab_*.txt)
    word = "PARTITION BY lang ORDER BY c DESC, token"
    scored = cnt.selectExpr(
        "lang",
        "token",
        "c",
        "cast(sum(c) OVER (PARTITION BY lang) as bigint) AS total",
        f"cast(row_number() OVER ({word}) as bigint) AS rank",
        f"cast(sum(c) OVER ({word}"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) as bigint) AS cum",
    )
    nucleus = scored.filter(
        f"(cum - c) * {NUCLEUS_DEN} < {NUCLEUS_NUM} * total"
    )
    return nucleus.selectExpr(
        "lang",
        "token",
        "c",
        "rank",
        "cum",
        "total",
        "cast(c as double) / total AS share",
        "cast(cum as double) / total AS cum_share",
    )


NUCLEUS_VOCAB_SQL = f"""
WITH cnt AS (
  SELECT lang, token, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT lang, unnest(str_split(text, ' ')) AS token FROM documents)
  GROUP BY lang, token
),
scored AS (
  SELECT lang, token, c,
         CAST(SUM(c) OVER (PARTITION BY lang) AS BIGINT) AS total,
         CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY c DESC, token)
              AS BIGINT) AS rank,
         CAST(SUM(c) OVER (PARTITION BY lang ORDER BY c DESC, token
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum
  FROM cnt
)
SELECT lang, token, c, rank, cum, total,
       CAST(c AS DOUBLE) / total AS share,
       CAST(cum AS DOUBLE) / total AS cum_share
FROM scored
WHERE (cum - c) * {NUCLEUS_DEN} < {NUCLEUS_NUM} * total
"""


# -- q114 BM25 retrieval -------------------------------------------------------
BM25_QUERY = ("vector", "query", "fast")  # the fixed search terms
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP = 10


def bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT-4] BM25 ranked retrieval for a fixed query — the scoring
    half of the q102 inverted index (Robertson/Spärck Jones; Lucene's
    idf form, ln(1 + (N - df + 0.5)/(df + 0.5))).

    Everything term-keyed is tiny by construction (|query| terms); the
    plan filters the token explode to the query terms BEFORE any
    shuffle, so the only corpus-sized work is the scan + one
    small-keyed aggregate over matching (doc, term) pairs. Document
    length and the corpus totals (N, avgdl) ride broadcasts. All score
    inputs are exact integers; ln/division on identical rationals is
    engine-identical (q28 precedent) and the score rounds to 6
    decimals. Top-{BM25_TOP} is a TakeOrderedAndProject with doc_id
    tie-break.
    """
    docs = table(spark, sf_dir, "documents")
    lens = docs.select(
        "doc_id", F.size(_words(F.col("text"))).cast("bigint").alias("dl")
    )
    totals = lens.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("dl").cast("bigint").alias("n_tokens"),
    )
    terms = (
        "array(" + ", ".join(f"'{sql_quote_literal(t)}'" for t in BM25_QUERY) + ")"
    )
    tf = (
        docs.selectExpr("doc_id", "explode(split(text, ' ')) AS token")
        .filter(f"array_contains({terms}, token)")
        .groupBy("doc_id", "token")
        .agg(F.expr("cast(count(1) as bigint) AS tf"))
    )
    df_ = tf.groupBy("token").agg(F.expr("cast(count(1) as bigint) AS df"))
    scored = (
        tf.join(F.broadcast(df_), "token")
        .join(F.broadcast(lens), "doc_id")
        .crossJoin(F.broadcast(totals))
    )
    # every fractional literal carries the D suffix: a bare 0.5 parses
    # as DECIMAL(1,1) and would silently shift the arithmetic off the
    # double path the Column form (and the oracle) computes on
    avgdl = "(cast(n_tokens as double) / n_docs)"
    idf = f"ln(1.0D + (n_docs - df + 0.5D) / (df + 0.5D))"
    term_score = (
        f"{idf} * (tf * ({BM25_K1}D + 1)"
        f" / (tf + {BM25_K1}D * (1 - {BM25_B}D + {BM25_B}D * dl / {avgdl})))"
    )
    # per-term scores accumulate as decimal(28,12), not double: float
    # addition is not associative and the per-doc row order depends on
    # partition layout, so a bare SUM(double) could flip the 6-decimal
    # rounding (and the top-k cut) between runs — quantizing each term
    # once makes the sum order-free (the q94 discipline); the narrowing
    # back to double casts decimal->string->double, whose correctly
    # rounded string parser agrees between the engines at any magnitude.
    # TIE ASSUMPTION (r07 advisor): the double->decimal(28,12) cast is
    # HALF_UP from the double's EXACT decimal expansion in Spark, and
    # DuckDB's CAST rounds the same expansion — they could only differ if a
    # term score's exact expansion landed EXACTLY on a 5 at the 13th
    # significant decimal, which for these scores (ratios of small
    # integers times ln()) has no known occurrence; the hash-green
    # artifacts at sf0.01 AND sf0.1 pin the current corpus. If a future
    # corpus trips it, pre-round both sides to 12 places explicitly
    # (F.round / ROUND) before the cast so the rule is pinned rather
    # than inherited.
    return (
        scored.groupBy("doc_id")
        .agg(
            F.expr(
                f"round(cast(cast(sum(cast({term_score} as decimal(28,12)))"
                " as string) as double), 6) AS score"
            ),
            F.expr("cast(count(1) as bigint) AS n_terms_hit"),
        )
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(BM25_TOP)
    )


def _bm25_sql() -> str:
    terms = ", ".join(f"'{t}'" for t in BM25_QUERY)
    return f"""
WITH lens AS (
  SELECT doc_id, CAST(len(str_split(text, ' ')) AS BIGINT) AS dl FROM documents
),
totals AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(dl) AS BIGINT) AS n_tokens
  FROM lens
),
tf AS (
  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS token FROM documents)
  WHERE token IN ({terms})
  GROUP BY doc_id, token
),
df AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY token
)
SELECT doc_id,
       round(CAST(CAST(SUM(CAST(
               ln(1.0 + (t.n_docs - d.df + 0.5) / (d.df + 0.5))
                 * (f.tf * ({BM25_K1} + 1)
                    / (f.tf + {BM25_K1} * (1 - {BM25_B}
                       + {BM25_B} * l.dl / (CAST(t.n_tokens AS DOUBLE) / t.n_docs))))
               AS DECIMAL(28,12))) AS VARCHAR) AS DOUBLE),
             6) AS score,
       CAST(COUNT(*) AS BIGINT) AS n_terms_hit
FROM tf f
JOIN df d USING (token)
JOIN lens l USING (doc_id)
CROSS JOIN totals t
GROUP BY doc_id
ORDER BY score DESC, doc_id
LIMIT {BM25_TOP}
"""


BM25_RETRIEVAL_SQL = _bm25_sql()


def langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT-4] classifier evaluation — the confusion matrix and
    per-true-class recall of the q29 language-ID heuristic against the
    labeled ``lang`` column (the eval loop every data-quality
    classifier ships with).

    Reuses q29's scoring plan (map-only argmax), then one
    class-pair-keyed aggregate — the shuffle key cardinality is
    |langs|², never corpus-sized. Recall is an exact-integer ratio
    computed from the matrix itself via a per-true-class window.
    """
    preds = language_id(spark, sf_dir).select("actual_lang", "predicted_lang")
    matrix = preds.groupBy("actual_lang", "predicted_lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    wtrue = W.partitionBy("actual_lang")
    return matrix.select(
        "actual_lang",
        "predicted_lang",
        "n",
        F.sum("n").over(wtrue).cast("bigint").alias("n_true"),
        (F.col("n").cast("double") / F.sum("n").over(wtrue)).alias("share"),
    )


def _langid_confusion_sql() -> str:
    inner = _langid_sql()
    return f"""
WITH preds AS ({inner}),
matrix AS (
  SELECT actual_lang, predicted_lang, CAST(COUNT(*) AS BIGINT) AS n
  FROM preds GROUP BY 1, 2
)
SELECT actual_lang, predicted_lang, n,
       CAST(SUM(n) OVER (PARTITION BY actual_lang) AS BIGINT) AS n_true,
       CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY actual_lang) AS share
FROM matrix
"""


LANGID_CONFUSION_SQL = _langid_confusion_sql()
