"""Text-analysis operators for LLM-data pipelines (north-star extension;
repo BASELINE.json): language-ID heuristic, quality scoring, token
counting, document fingerprinting — all over the ``documents`` table.

Everything is built-in expressions (JVM-side, codegen-friendly); the
shapes are chosen to scale: per-document work is embarrassingly
parallel, the only shuffle is the explode+groupBy in token counting,
which map-side-combines.  Each query has an exact DuckDB oracle —
portable string arithmetic only (replace-count, strpos, md5), no
engine-specific regex dialects in checked paths.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table
from . import Registry

REG = Registry()

# language marker words (checked as ' w ' substrings of the padded text);
# replace-count is non-overlapping in both engines, so parity is exact
LANG_MARKERS = {
    "en": ["the", "and", "of"],
    "de": ["der", "und", "die"],
    "es": ["el", "los", "que"],
    "fr": ["le", "les", "des"],
    "zh": ["de", "shi", "le"],
}
STOPWORDS = ["the", "a", "and", "of", "to"]


def _padded(col):
    return F.concat(F.lit(" "), col, F.lit(" "))


def _count_word_sql(text_expr: str, word: str) -> str:
    needle = f" {word} "
    return f"CAST((length({text_expr}) - length(replace({text_expr}, '{needle}', ''))) / {len(needle)} AS BIGINT)"


_PAD_SQL = "(' ' || text || ' ')"


@REG.add(
    "text_stats_quality",
    f"""
    SELECT doc_id,
           length(text) AS n_chars_actual,
           CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS word_count,
           CAST(ROUND((length(text) - (length(text) - length(replace(text, ' ', ''))))
                 / CAST(length(text) - length(replace(text, ' ', '')) + 1 AS DOUBLE), 6) AS DOUBLE) AS avg_word_len,
           CAST(ROUND(({" + ".join(_count_word_sql(_PAD_SQL, w) for w in STOPWORDS)})
                 / CAST(length(text) - length(replace(text, ' ', '')) + 1 AS DOUBLE), 6) AS DOUBLE) AS stopword_ratio
    FROM documents
    """,
    doc="Quality scoring: length, word count, average word length, stopword ratio — "
    "pure per-row expressions, no shuffle, fully pushed into the scan stage.",
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    doc = load_table(spark, sf_dir, "documents")
    spaces = F.length(F.col("text")) - F.length(F.expr("replace(text, ' ', '')"))
    word_count = (spaces + 1).cast("long")
    stop_hits = None
    padded = _padded(F.col("text"))
    for w in STOPWORDS:
        needle = f" {w} "
        c = (
            (F.length(padded) - F.length(F.expr(f"replace(' ' || text || ' ', '{needle}', '')")))
            / len(needle)
        ).cast("long")
        stop_hits = c if stop_hits is None else stop_hits + c
    return doc.select(
        "doc_id",
        F.length("text").alias("n_chars_actual"),
        word_count.alias("word_count"),
        F.round((F.length("text") - spaces) / word_count.cast("double"), 6)
        .cast("double")
        .alias("avg_word_len"),
        F.round(stop_hits / word_count.cast("double"), 6).cast("double").alias("stopword_ratio"),
    )


def _lang_score_sql(lang: str) -> str:
    return " + ".join(_count_word_sql(_PAD_SQL, w) for w in LANG_MARKERS[lang])


@REG.add(
    "text_langid",
    f"""
    WITH scores AS (
        SELECT doc_id, lang AS actual_lang,
               {", ".join(f"({_lang_score_sql(lg)}) AS s_{lg}" for lg in LANG_MARKERS)}
        FROM documents
    )
    SELECT doc_id, actual_lang,
           CASE GREATEST(s_en, s_de, s_es, s_fr, s_zh)
                WHEN s_en THEN 'en' WHEN s_de THEN 'de' WHEN s_es THEN 'es'
                WHEN s_fr THEN 'fr' ELSE 'zh' END AS predicted_lang,
           GREATEST(s_en, s_de, s_es, s_fr, s_zh) AS best_score
    FROM scores
    """,
    doc="Language-ID n-gram/marker heuristic: per-language marker-word hit counts, "
    "argmax with deterministic tiebreak order (en,de,es,fr,zh).",
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    doc = load_table(spark, sf_dir, "documents")
    scores = {}
    for lg, words in LANG_MARKERS.items():
        total = None
        for w in words:
            needle = f" {w} "
            c = (
                (
                    F.length(_padded(F.col("text")))
                    - F.length(F.expr(f"replace(' ' || text || ' ', '{needle}', '')"))
                )
                / len(needle)
            ).cast("long")
            total = c if total is None else total + c
        scores[lg] = total
    df = doc.select(
        "doc_id", F.col("lang").alias("actual_lang"), *[scores[lg].alias(f"s_{lg}") for lg in LANG_MARKERS]
    )
    best = F.greatest(*[F.col(f"s_{lg}") for lg in LANG_MARKERS])
    pred = (
        F.when(F.col("s_en") == best, "en")
        .when(F.col("s_de") == best, "de")
        .when(F.col("s_es") == best, "es")
        .when(F.col("s_fr") == best, "fr")
        .otherwise("zh")
    )
    return df.select(
        "doc_id", "actual_lang", pred.alias("predicted_lang"), best.alias("best_score")
    )


BPE_ISH_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9 ]"  # word / number / symbol runs


@REG.add(
    "text_token_counts",
    f"""
    SELECT doc_id,
           CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_tokens_ws,
           (SELECT CAST(SUM(CAST(CEIL(length(w) / 4.0) AS BIGINT)) AS BIGINT)
            FROM UNNEST(string_split(d.text, ' ')) AS t(w)) AS n_tokens_subword,
           CAST(len(regexp_extract_all(text, '{BPE_ISH_PATTERN}')) AS BIGINT) AS n_tokens_bpe
    FROM documents d
    """,
    doc="Token counting: whitespace tokens, a subword estimate (ceil(len/4) per "
    "word via explode + map-side combine), and a BPE-ish regex tokenizer "
    "(word/number/symbol runs — class-only pattern, identical under Java regex "
    "and RE2 so the count is oracle-checkable).",
)
def text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    doc = load_table(spark, sf_dir, "documents")
    spaces = F.length(F.col("text")) - F.length(F.expr("replace(text, ' ', '')"))
    exploded = doc.select(
        "doc_id",
        (spaces + 1).cast("long").alias("n_tokens_ws"),
        F.regexp_count(F.col("text"), F.lit(BPE_ISH_PATTERN)).cast("long").alias("n_tokens_bpe"),
        F.explode_outer(F.split("text", " ")).alias("w"),
    )
    return (
        exploded.groupBy("doc_id", "n_tokens_ws", "n_tokens_bpe")
        .agg(
            F.sum(F.ceil(F.length("w") / 4.0).cast("long")).cast("long").alias("n_tokens_subword")
        )
        .select("doc_id", "n_tokens_ws", "n_tokens_subword", "n_tokens_bpe")
    )


@REG.add(
    "text_fingerprint",
    """
    SELECT doc_id,
           md5(text) AS exact_fp,
           md5(array_to_string(list_sort(string_split(text, ' ')), ' ')) AS bow_fp,
           substr(md5(text), 1, 16) AS short_fp
    FROM documents
    """,
    doc="Document fingerprinting: exact md5, order-insensitive bag-of-words md5 "
    "(sort_array + array_join), and a 64-bit short form.",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    doc = load_table(spark, sf_dir, "documents")
    bow = F.md5(F.array_join(F.sort_array(F.split("text", " ")), " "))
    return doc.select(
        "doc_id",
        F.md5(F.col("text")).alias("exact_fp"),
        bow.alias("bow_fp"),
        F.substring(F.md5(F.col("text")), 1, 16).alias("short_fp"),
    )


@REG.add(
    "text_tfidf_topk",
    """
    WITH toks AS (
        SELECT doc_id, UNNEST(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
    dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS dfq FROM toks GROUP BY 1),
    n AS (SELECT COUNT(*) AS n FROM documents),
    scored AS (
        SELECT doc_id, term, tf,
               ROUND(tf * LN((n + 1.0) / (dfq + 1.0)), 6) AS score
        FROM tf JOIN dfreq USING (term) CROSS JOIN n
    ),
    ranked AS (
        SELECT doc_id, term, tf, score,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, term) AS rnk
        FROM scored
    )
    SELECT doc_id, term, tf, score, rnk FROM ranked WHERE rnk <= 3
    """,
    doc="TF-IDF top-3 terms per document (smoothed idf = ln((N+1)/(df+1))): "
    "the standard keyword-extraction stage of a text pipeline.  Dataflow is "
    "three map-side-combined shuffles (tf by (doc,term), df by term, rank by "
    "doc) — each keyed on what it aggregates, nothing quadratic.  Ranking "
    "orders by the 6dp-ROUNDED score with the term as tiebreaker so both "
    "engines rank identically despite libm ULP differences.",
)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    doc = load_table(spark, sf_dir, "documents")
    toks = doc.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    # document frequency derives from tf (one row per (doc, term)), so a
    # plain COUNT replaces a count_distinct over raw tokens and the
    # second explode disappears; the shared tf stage materializes once
    # via ReuseExchange
    dfreq = tf.groupBy("term").agg(F.count("*").alias("dfq"))
    n = doc.agg(F.count("*").alias("n"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "score",
            F.round(F.col("tf") * F.log((F.col("n") + 1.0) / (F.col("dfq") + 1.0)), 6),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "term")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", "tf", "score", "rnk")
    )


def _split_u_sql() -> str:
    from .message_domain import _u

    return _u("split", "CAST(doc_id AS VARCHAR)")


def _curation_sql() -> str:
    u = _split_u_sql()
    return f"""
    WITH canonical AS (
        SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)
    ),
    kept AS (
        SELECT d.doc_id, d.lang,
               length(d.text) - length(replace(d.text, ' ', '')) + 1 AS wc
        FROM documents d JOIN canonical c ON d.doc_id = c.doc_id
        WHERE length(d.text) - length(replace(d.text, ' ', '')) + 1 >= 25
    ),
    assigned AS (
        SELECT lang, wc,
               CASE WHEN {u} < 0.8 THEN 'train'
                    WHEN {u} < 0.9 THEN 'val'
                    ELSE 'test' END AS split
        FROM kept
    )
    SELECT lang, split, COUNT(*) AS n_docs, CAST(SUM(wc) AS BIGINT) AS total_words
    FROM assigned GROUP BY lang, split
    """


@REG.add(
    "pipe_curation",
    _curation_sql(),
    doc="End-to-end curation pipeline COMPOSED from the checked operators: "
    "exact dedup (md5 canonical, semi-join survivors) → quality gate "
    "(word_count >= 25) → reproducible stratified split (same md5 assignment "
    "as smp3, so pipeline splits agree with standalone splits) → per-"
    "(lang, split) rollup.  One narrow scan feeds everything; the only "
    "shuffles are the dedup groupBy and the final rollup.",
)
def pipe_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.expressions import det_uniform

    doc = load_table(spark, sf_dir, "documents")
    canonical = doc.groupBy(F.md5("text").alias("h")).agg(F.min("doc_id").alias("doc_id"))
    spaces = F.length(F.col("text")) - F.length(F.expr("replace(text, ' ', '')"))
    wc = (spaces + 1).cast("long")
    kept = (
        doc.join(canonical.select("doc_id"), "doc_id", "left_semi")
        .withColumn("wc", wc)
        .filter(F.col("wc") >= 25)
    )
    u = det_uniform("doc_id", seed="split")
    split = F.when(u < 0.8, "train").when(u < 0.9, "val").otherwise("test")
    return (
        kept.select("lang", split.alias("split"), "wc")
        .groupBy("lang", "split")
        .agg(F.count("*").alias("n_docs"), F.sum("wc").cast("bigint").alias("total_words"))
    )


@REG.add(
    "text_repetition",
    """
    WITH w AS (
        SELECT doc_id,
               string_split(text, ' ') AS words,
               len(string_split(text, ' ')) AS n_words
        FROM documents
    ),
    g AS (
        SELECT doc_id, words, n_words,
               CASE WHEN n_words >= 2
                    THEN list_transform(range(1, n_words),
                                        i -> words[i] || ' ' || words[i+1])
               END AS grams2
        FROM w
    )
    SELECT doc_id,
           ROUND(1.0 - len(list_distinct(words)) / CAST(n_words AS DOUBLE), 6)
             AS dup_word_frac,
           ROUND(list_max(list_transform(list_distinct(words),
                          u -> len(list_filter(words, x -> x = u))))
                 / CAST(n_words AS DOUBLE), 6) AS top_word_frac,
           CASE WHEN n_words >= 2
                THEN ROUND(1.0 - len(list_distinct(grams2))
                           / CAST(n_words - 1 AS DOUBLE), 6)
                ELSE CAST(0.0 AS DOUBLE) END AS dup_2gram_frac
    FROM g
    """,
    doc="Repetition quality signals (Gopher-style): duplicate-word fraction, "
    "most-frequent-word fraction, duplicate-2-gram fraction — the standard "
    "filters for degenerate/boilerplate text.  Everything is IN-ROW "
    "higher-order-function work over the word array (a document's repetition "
    "depends only on itself): scan → project, zero shuffles at any scale.",
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    doc = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("words")
    )
    n_words = F.size("words")
    distinct_words = F.array_distinct(F.col("words"))
    # per distinct word, count occurrences in the full array; max / total
    # = top-word fraction.  O(distinct x total) per row, all in codegen.
    top_count = F.array_max(
        F.transform(
            distinct_words,
            lambda u: F.size(F.filter(F.col("words"), lambda x: x == u)),
        )
    )
    grams2 = F.transform(
        F.sequence(F.lit(0), n_words - 2),
        lambda i: F.concat_ws(" ", F.get("words", i), F.get("words", i + 1)),
    )
    dup2 = F.when(
        n_words >= 2,
        F.round(1.0 - F.size(F.array_distinct(grams2)) / (n_words - 1).cast("double"), 6),
    ).otherwise(F.lit(0.0))
    return doc.select(
        "doc_id",
        F.round(1.0 - F.size(distinct_words) / n_words.cast("double"), 6).alias(
            "dup_word_frac"
        ),
        F.round(top_count / n_words.cast("double"), 6).alias("top_word_frac"),
        dup2.cast("double").alias("dup_2gram_frac"),
    )


# PII patterns: character classes + bounded quantifiers ONLY, so Java
# regex (Spark) and RE2 (DuckDB) agree symbol-for-symbol — no
# backrefs, lookaround, or dialect-specific escapes in checked paths.
PII_EMAIL = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+[.][a-zA-Z][a-zA-Z]+"
PII_SSN = "[0-9][0-9][0-9]-[0-9][0-9]-[0-9][0-9][0-9][0-9]"
PII_PHONE = "[0-9][0-9][0-9][-.][0-9][0-9][0-9][-.][0-9][0-9][0-9][0-9]"
PII_TOKEN = "<PII>"


@REG.add(
    "text_pii_scrub",
    f"""
    WITH counted AS (
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '{PII_EMAIL}')) AS BIGINT) AS n_emails,
               CAST(len(regexp_extract_all(text, '{PII_SSN}')) AS BIGINT) AS n_ssn,
               regexp_replace(regexp_replace(text, '{PII_EMAIL}', '{PII_TOKEN}', 'g'),
                              '{PII_SSN}', '{PII_TOKEN}', 'g') AS t2
        FROM documents
    )
    SELECT doc_id, n_emails, n_ssn,
           CAST(len(regexp_extract_all(t2, '{PII_PHONE}')) AS BIGINT) AS n_phones,
           md5(regexp_replace(t2, '{PII_PHONE}', '{PII_TOKEN}', 'g')) AS scrubbed_fp
    FROM counted
    """,
    doc="PII scrubbing: redact emails, SSN-shaped and phone-shaped tokens with a "
    "fixed replacement, reporting per-category counts and the md5 of the "
    "scrubbed text (documents with no PII hash to md5(text) — pinned by the "
    "oracle).  Patterns are class-only so Java regex and RE2 agree; replacement "
    "order (email, ssn, phone) is applied identically in both engines, and "
    "each count is computed at the same pipeline stage in both (email/ssn on "
    "the original text, phone after the first two replacements).  Pure per-row "
    "work: zero shuffles at any scale.",
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    doc = load_table(spark, sf_dir, "documents")
    t1 = F.regexp_replace("text", F.lit(PII_EMAIL), F.lit(PII_TOKEN))
    counted = doc.select(
        "doc_id",
        F.regexp_count("text", F.lit(PII_EMAIL)).cast("long").alias("n_emails"),
        F.regexp_count("text", F.lit(PII_SSN)).cast("long").alias("n_ssn"),
        F.regexp_replace(t1, F.lit(PII_SSN), F.lit(PII_TOKEN)).alias("t2"),
    )
    return counted.select(
        "doc_id",
        "n_emails",
        "n_ssn",
        F.regexp_count("t2", F.lit(PII_PHONE)).cast("long").alias("n_phones"),
        F.md5(F.regexp_replace("t2", F.lit(PII_PHONE), F.lit(PII_TOKEN))).alias("scrubbed_fp"),
    )


# shared with pipe_quality_prune's oracle (packing.py), which percentile-
# prunes on this exact score
def _avg6_sql(t: str, n: str) -> str:
    """round6(t / n) as EXACT INTEGER half-away-from-zero arithmetic,
    for a DECIMAL(x,6) sum ``t`` and BIGINT count ``n``: DuckDB's
    ROUND(DOUBLE, 6) is multiply-based while Spark's goes through
    BigDecimal's shortest-repr string, and at an exact 6dp tie the two
    DISAGREE (found by tests/test_bigram_lm_fuzz: total -4.220325 over
    n=6 is exactly -0.7033875 -> DuckDB -0.703388, Spark -0.703387).
    Scaling to integer micro-units first makes the tie arithmetic exact
    and engine-independent: sign(t) * ((2*|t|*1e6 + n) // (2n)) / 1e6.
    The same helper renders both engines' formulas (// vs div is the
    only dialect difference, patched by the caller for Spark).

    The abs sum is narrowed to DECIMAL(30,6) BEFORE the 1e6 scaling:
    DuckDB's SUM over DECIMAL(18,6) is DECIMAL(38,6), and
    DECIMAL(38,6) * 1000000 overflows width 38, silently detouring
    through DOUBLE before the BIGINT cast (round-8 ADVICE) — it landed
    on the right integer only while |t|*1e6 << 2^53.  At (30,6) the
    product is DECIMAL(38,6) in both engines — exact decimal all the
    way.  The recipe's true bound is the BIGINT micro-unit cast:
    |t| <= ~9.2e12 (2^63 / 1e6), loud ConversionException/overflow
    beyond, never a silent double detour."""
    t_micro = f"CAST(CAST(abs({t}) AS DECIMAL(30,6)) * 1000000 AS BIGINT)"
    return (
        f"CAST((CASE WHEN {t} < 0 THEN -1 ELSE 1 END) * "
        f"((2 * {t_micro} + {n}) // (2 * {n})) AS DOUBLE) / 1000000.0"
    )


def _avg6_spark(t: str, n: str):
    """Spark twin of _avg6_sql over column NAMES (rendered through
    F.expr so the integer division is the SQL ``div`` operator)."""
    return F.expr(_avg6_sql(t, n).replace("//", "div"))


BIGRAM_LM_SQL = f"""
    WITH big AS (
        SELECT doc_id, words[i] AS w1, words[i+1] AS w2, COUNT(*) AS k
        FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
             UNNEST(range(1, len(words))) AS t(i)
        GROUP BY 1, 2, 3
    ),
    c2 AS (SELECT w1, w2, CAST(SUM(k) AS BIGINT) AS c2 FROM big GROUP BY 1, 2),
    c1 AS (SELECT w1, CAST(SUM(k) AS BIGINT) AS c1 FROM big GROUP BY 1),
    scored AS (
        SELECT b.doc_id, b.k,
               CAST(ROUND(ln(CAST(c2.c2 AS DOUBLE) / c1.c1), 6) AS DECIMAL(18,6)) AS logp
        FROM big b JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
    )
    SELECT doc_id,
           CAST(SUM(k) AS BIGINT) AS n_bigrams,
           {_avg6_sql("SUM(k * logp)", "CAST(SUM(k) AS BIGINT)")} AS avg_logprob
    FROM scored GROUP BY doc_id
"""


@REG.add(
    "text_bigram_lm_score",
    BIGRAM_LM_SQL,
    doc="Corpus-bigram LM quality score (the CCNet-style perplexity-proxy "
    "filter): every document scored by the average log P(w2|w1) of its bigrams "
    "under the corpus's own bigram model.  Per-doc bigram multiplicities are "
    "aggregated FIRST (map-side combine), so the count joins touch one row per "
    "distinct (doc, bigram) and hot bigrams join a unique count row — no "
    "expansion.  Per-bigram logs are 6dp-rounded into DECIMAL(18,6) before "
    "summing, making the sum exact and order-independent (the repo's standard "
    "treatment for order-dependent double reductions).",
)
def text_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        load_table(spark, sf_dir, "documents")
        .repartition(spark.sparkContext.defaultParallelism)
        .select("doc_id", F.split("text", " ").alias("words"))
    )
    pairs = F.transform(
        F.sequence(F.lit(0), F.size("words") - 2),
        lambda i: F.struct(F.get("words", i).alias("w1"), F.get("words", i + 1).alias("w2")),
    )
    big = (
        docs.filter(F.size("words") >= 2)
        .select("doc_id", F.explode(pairs).alias("p"))
        .select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .groupBy("doc_id", "w1", "w2")
        .agg(F.count("*").alias("k"))
        # materialize ONCE (round 13): three consumers (c2, c1, the
        # scored join) each re-ran the explode + partial aggregation
        # through their own exchanges — measured 1.94 -> 1.50 s steady
        # (6.4 -> 3.1 s cold) at sf0.1 with results exactly equal.  The
        # aggregation SHAPES are unchanged (map-side-combined groupBys
        # + equi-joins, AQE-skew-splittable), so the 100 TB skew story
        # is untouched — this only dedups the explode work; the
        # materialized table is the distinct (doc, bigram) aggregate,
        # no larger than the exchange files Spark already writes for
        # it.  (A window-function form measured faster still locally
        # but puts every hot w1 in ONE window partition — an
        # unsplittable straggler at corpus scale; rejected.)
        .localCheckpoint(eager=True)
    )
    c2 = big.groupBy("w1", "w2").agg(F.sum("k").cast("long").alias("c2"))
    c1 = big.groupBy("w1").agg(F.sum("k").cast("long").alias("c1"))
    scored = (
        big.join(c2, ["w1", "w2"])
        .join(c1, "w1")
        .select(
            "doc_id",
            "k",
            F.round(F.log(F.col("c2").cast("double") / F.col("c1")), 6)
            .cast("decimal(18,6)")
            .alias("logp"),
        )
    )
    agg = scored.groupBy("doc_id").agg(
        F.sum("k").cast("long").alias("n_bigrams"),
        F.sum(F.col("k") * F.col("logp")).alias("t"),
    )
    # exact integer half-away rounding of t/n (see _avg6_sql: the
    # double-ROUND forms disagree across engines at exact 6dp ties)
    return agg.select(
        "doc_id",
        "n_bigrams",
        _avg6_spark("t", "n_bigrams").alias("avg_logprob"),
    )


# ---------------------------------------------------------------------------
# document chunking (training-pipeline op: context-window packing input)
# ---------------------------------------------------------------------------

CHUNK_TOKENS = 30
CHUNK_STRIDE = 20  # 10-token overlap between consecutive chunks
CHUNK_MIN_TAIL = 5  # drop sub-5-token tail chunks (except a doc's only chunk)


@REG.add(
    "doc_chunk_overlap",
    f"""
    WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS words,
               len(string_split(text, ' ')) AS n_words
        FROM documents
    ),
    c AS (
        SELECT doc_id, CAST(i AS INT) AS chunk_idx,
               list_slice(words, i * {CHUNK_STRIDE} + 1,
                          i * {CHUNK_STRIDE} + {CHUNK_TOKENS}) AS chunk
        FROM w, UNNEST(range(0, ((n_words - 1) // {CHUNK_STRIDE}) + 1)) AS t(i)
    )
    SELECT doc_id, chunk_idx,
           CAST(len(chunk) AS INT) AS n_tokens,
           array_to_string(chunk, ' ') AS chunk_text
    FROM c
    WHERE len(chunk) >= {CHUNK_MIN_TAIL} OR chunk_idx = 0
    """,
    doc=f"Sliding-window document chunking for training pipelines: {CHUNK_TOKENS}-token "
    f"chunks on a {CHUNK_STRIDE}-token stride (overlap keeps context across chunk "
    f"boundaries), sub-{CHUNK_MIN_TAIL}-token tails dropped unless the doc's only "
    "chunk.  Pure in-row sequence+slice+posexplode — zero shuffle, embarrassingly "
    "parallel at any corpus size; the chunk table feeds pack_sequences downstream.",
)
def doc_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.split("text", " ").alias("words"))
        .withColumn("n_words", F.size("words"))
    )
    chunks = d.select(
        "doc_id",
        F.posexplode(
            F.sequence(F.lit(0), ((F.col("n_words") - 1) / CHUNK_STRIDE).cast("int"))
        ).alias("chunk_idx", "i"),
        "words",
    ).select(
        "doc_id",
        "chunk_idx",
        F.slice("words", F.col("i") * CHUNK_STRIDE + 1, CHUNK_TOKENS).alias("chunk"),
    )
    return chunks.filter(
        (F.size("chunk") >= CHUNK_MIN_TAIL) | (F.col("chunk_idx") == 0)
    ).select(
        "doc_id",
        "chunk_idx",
        F.size("chunk").alias("n_tokens"),
        F.concat_ws(" ", "chunk").alias("chunk_text"),
    )


# ---------------------------------------------------------------------------
# inter-document boilerplate removal (the CCNet/RefinedWeb line-dedup step:
# drop text segments that repeat across many documents — headers, footers,
# navigation chrome — and reassemble the cleaned document)
# ---------------------------------------------------------------------------

BP_SEG_WORDS = 4  # segment granularity ("line" analog for newline-free corpora)
BP_MIN_DOCS = 3  # a segment in >= this many distinct docs is boilerplate

# SQL twins of the helpers below — shared by the batch oracle and the
# streaming twin's oracle so the two can't drift.
BP_SEG_SQL = f"""
    bp_w AS (
        SELECT doc_id, string_split(text, ' ') AS words,
               len(string_split(text, ' ')) AS n_words
        FROM documents
    ),
    bp_seg AS (
        SELECT doc_id, CAST(i AS INT) AS seg_idx,
               array_to_string(list_slice(words, i * {BP_SEG_WORDS} + 1,
                                          i * {BP_SEG_WORDS} + {BP_SEG_WORDS}), ' ') AS s
        FROM bp_w, UNNEST(range(0, ((n_words - 1) // {BP_SEG_WORDS}) + 1)) AS t(i)
    ),
    bp_set AS (
        SELECT md5(s) AS seg_key FROM bp_seg
        GROUP BY md5(s) HAVING COUNT(DISTINCT doc_id) >= {BP_MIN_DOCS}
    )
"""


def segment_rows(docs: DataFrame) -> DataFrame:
    """In-row segmentation of a (doc_id, text, ...) frame into
    (doc_id, seg_idx, s, seg_key, <other cols>) rows — BP_SEG_WORDS-word
    non-overlapping segments, short tail kept.  The posexplode wraps the
    sequence EXPRESSION directly (the round-5 explode-of-projected-array
    rule) and per-row work is one O(segment) slice."""
    extra = [c for c in docs.columns if c not in ("doc_id", "text")]
    d = docs.select(
        "doc_id", *extra, F.split("text", " ").alias("words")
    ).withColumn("n_words", F.size("words"))
    return d.select(
        "doc_id",
        *extra,
        F.posexplode(
            F.sequence(F.lit(0), ((F.col("n_words") - 1) / BP_SEG_WORDS).cast("int"))
        ).alias("seg_idx", "i"),
        "words",
    ).select(
        "doc_id",
        *extra,
        "seg_idx",
        F.concat_ws(
            " ", F.slice("words", F.col("i") * BP_SEG_WORDS + 1, BP_SEG_WORDS)
        ).alias("s"),
    ).withColumn("seg_key", F.md5("s"))


def boilerplate_keys(segs: DataFrame) -> DataFrame:
    """The boilerplate inventory: segment md5 keys appearing in >=
    BP_MIN_DOCS distinct documents — one map-side-combined distinct +
    count on the 16-byte key.  Bounded by repeated-content volume."""
    return (
        segs.select("seg_key", "doc_id")
        .distinct()
        .groupBy("seg_key")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") >= BP_MIN_DOCS)
        .select("seg_key", F.lit(True).alias("bp_hit"))
    )


def strip_agg_columns() -> list[F.Column]:
    """The per-document reassembly aggregates over marked (seg_idx,
    is_bp, s) segment rows — shared by the batch op and the streaming
    twin's windowed aggregation."""
    in_order = F.sort_array(F.collect_list(F.struct("seg_idx", "is_bp", "s")))
    return [
        F.count("*").alias("n_segments"),
        F.sum(F.when(F.col("is_bp"), 1).otherwise(0)).cast("long").alias("n_removed"),
        F.array_join(
            F.transform(F.filter(in_order, lambda x: ~x["is_bp"]), lambda x: x["s"]),
            " ",
        ).alias("cleaned_text"),
    ]


@REG.add(
    "text_boilerplate_strip",
    f"""
    WITH {BP_SEG_SQL},
    marked AS (
        SELECT g.doc_id, g.seg_idx, g.s, (b.seg_key IS NOT NULL) AS is_bp
        FROM bp_seg g LEFT JOIN bp_set b ON md5(g.s) = b.seg_key
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_segments,
           CAST(SUM(CASE WHEN is_bp THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
           COALESCE(string_agg(CASE WHEN NOT is_bp THEN s END, ' ' ORDER BY seg_idx),
                    '') AS cleaned_text
    FROM marked GROUP BY doc_id
    """,
    doc=f"Inter-document boilerplate removal (the CCNet/RefinedWeb line-dedup "
    f"curation step, on {BP_SEG_WORDS}-word segments since this corpus has no "
    f"newlines): a segment appearing in >= {BP_MIN_DOCS} distinct documents is "
    "chrome, stripped from every document; cleaned text reassembles the kept "
    "segments in order.  Plan: in-row segmentation (posexplode around the "
    "expression), ONE map-side-combined distinct+count on the 16-byte segment "
    "md5 to find the boilerplate set, one equi-join back on that skinny key, "
    "and one doc_id groupBy whose in-row sort_array reassembly needs no "
    "per-partition ordering guarantee.  Every shuffle is on a hash key; "
    "nothing is corpus-global except the boilerplate set itself, which is "
    "bounded by repeated-content volume, not corpus size.",
)
def text_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    segs = segment_rows(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    marked = segs.join(boilerplate_keys(segs), "seg_key", "left").withColumn(
        "is_bp", F.col("bp_hit").isNotNull()
    )
    return marked.groupBy("doc_id").agg(*strip_agg_columns())


# ---------------------------------------------------------------------------
# BPE tokenizer fitting (Sennrich-style merge learning on the weighted vocab)
# ---------------------------------------------------------------------------

BPE_MERGES = 8


def _bpe_cte_stages(k: int = BPE_MERGES, docs_rel: str = "documents") -> tuple[str, str]:
    """The generated fit CTE stages shared by ALL BPE oracles (fit, batch
    encode, streaming encode, curate composition) — returns the stage
    list WITHOUT a leading WITH (so a composed oracle can embed it in
    its own chain) and the name of the fitted-vocab table (t{k+1}).
    ``docs_rel`` scopes the training corpus (pipe_curate_end_to_end fits
    the tokenizer on the curated survivor set).  Each stage counts
    weighted adjacent token pairs, picks the (count desc, pair asc)
    argmax, and re-tokenizes the vocab with DuckDB's list_reduce — the
    same greedy left-to-right fold the Spark side runs."""
    stages = [
        f"""
    v AS (SELECT word, COUNT(*) AS freq
          FROM (SELECT UNNEST(string_split(text, ' ')) AS word FROM {docs_rel})
          WHERE length(word) > 0 GROUP BY word),
    t1 AS (SELECT word, freq,
                  trim(regexp_replace(word, '(?s)(.)', '\\1 ', 'g')) AS toks
           FROM v)"""
    ]
    for i in range(1, k + 1):
        stages.append(f"""
    p{i} AS (
        SELECT pr.pa AS a, pr.pb AS b, SUM(freq) AS c FROM (
            SELECT freq,
                   UNNEST(list_transform(range(1, len(string_split(toks, ' '))),
                          j -> struct_pack(pa := string_split(toks, ' ')[j],
                                           pb := string_split(toks, ' ')[j + 1]))) AS pr
            FROM t{i}
        ) GROUP BY 1, 2
    ),
    b{i} AS (SELECT a, b, a || b AS m, c FROM p{i} ORDER BY c DESC, a, b LIMIT 1),
    t{i + 1} AS (
        -- LEFT JOIN ON TRUE + CASE: when no pair remains (b{i} empty), keep
        -- the previous stage's vocab unchanged — mirrors the Spark fit's
        -- break-and-keep-vocab semantics (a CROSS JOIN would empty every
        -- later stage and zero out the encode oracle)
        SELECT word, freq,
               CASE WHEN b{i}.m IS NULL THEN toks ELSE
               list_reduce(string_split(toks, ' '),
                 (acc, x) -> CASE WHEN (acc = b{i}.a OR ends_with(acc, ' ' || b{i}.a))
                                       AND x = b{i}.b
                                  THEN substr(acc, 1, length(acc) - length(b{i}.a)) || b{i}.m
                                  ELSE acc || ' ' || x END) END AS toks
        FROM t{i} LEFT JOIN b{i} ON TRUE
    )""")
    return ",".join(stages), f"t{k + 1}"


def _bpe_cte_chain(k: int = BPE_MERGES) -> tuple[str, str]:
    """Standalone WITH clause over the full corpus — the form the fit /
    encode / streaming oracles consume directly."""
    stages, fitted = _bpe_cte_stages(k)
    return "WITH " + stages, fitted


def _bpe_oracle(k: int = BPE_MERGES) -> str:
    """Fit oracle: the shared chain finished by unioning the K learned
    merge rules."""
    ctes, _fitted = _bpe_cte_chain(k)
    unions = " UNION ALL ".join(
        f"SELECT {i} AS merge_rank, a AS token_a, b AS token_b, m AS merged, "
        f"CAST(c AS BIGINT) AS pair_count FROM b{i}"
        for i in range(1, k + 1)
    )
    return ctes + " " + unions


def _bpe_encode_oracle(k: int = BPE_MERGES) -> str:
    """Encode oracle = the SAME generated fit chain (shared via
    _bpe_cte_chain so the two cannot drift), finished by joining the
    fitted vocab mapping back onto the corpus."""
    ctes, fitted = _bpe_cte_chain(k)
    return f"""{ctes}
    SELECT d.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(len(string_split(t.toks, ' '))) AS BIGINT) AS n_tokens_bpe_fit
    FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS word FROM documents) d
    JOIN {fitted} t USING (word)
    WHERE length(d.word) > 0
    GROUP BY d.doc_id
    """


@REG.add(
    "pipe_bpe_merges",
    _bpe_oracle(),
    doc=f"BPE tokenizer fitting (Sennrich merge learning), the step that "
    f"turns text_vocab_topk's seed statistics into an actual subword "
    f"tokenizer: {BPE_MERGES} merge rules learned by repeatedly counting "
    "weighted adjacent token pairs over the vocabulary and merging the "
    "argmax pair (count desc, lexicographic tiebreak) with a greedy "
    "left-to-right fold.  Scale shape: the CORPUS-scale work is one "
    "map-side-combined word-count shuffle, checkpointed once; every "
    "iteration after that folds over the weighted VOCAB only (Zipf: "
    "vocab << corpus at any scale) with a ONE-ROW driver collect per "
    "merge (the bounded-argmax pattern) — corpus text is never "
    "re-scanned.  Both engines run the identical fold, so the learned "
    "rules hash-match bit-for-bit.",
)
def pipe_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    merges, _vocab = _bpe_fit(spark, sf_dir)
    return spark.createDataFrame(
        merges,
        "merge_rank int, token_a string, token_b string, merged string, pair_count bigint",
    )


def _bpe_fit(spark: SparkSession, sf_dir: str) -> tuple[list[tuple], DataFrame]:
    """Fit on the full corpus — pipe_bpe_merges publishes the rules,
    pipe_bpe_encode joins the mapping back onto the corpus."""
    return _bpe_fit_docs(load_table(spark, sf_dir, "documents"))


def _bpe_fit_docs(docs: DataFrame) -> tuple[list[tuple], DataFrame]:
    """The shared fitting loop over any corpus with a ``text`` column:
    returns the learned merge rules AND the fitted vocab mapping
    (word -> space-joined subword tokens after all merges).
    pipe_curate_end_to_end passes the curated survivor set — the
    tokenizer a training pipeline actually ships is fit on curated
    data, not the raw crawl.

    ROUND 13: the merge loop replays DRIVER-SIDE over the collected
    vocab.  The vocab is Zipf-bounded and already broadcast to every
    executor by all consumers (the mapping join), so collecting it is
    the same memory class — and with it collected, each of the 8 merge
    rounds was 2 fixed-overhead Spark jobs (pair argmax + fold
    checkpoint, ~0.2 s each) to move a few thousand rows.  The replay
    learns the same merges as the distributed fold (checked by the
    ``pipe_bpe_merges`` oracle, which replays the fold in DuckDB, and by
    tests/test_llm_ops.py::test_bpe_fit_matches_textbook_reference):
    pair counts are exact integer sums; the (count desc, a, b) argmax
    ties break on Python string order == Spark's UTF8 binary order
    (UTF-8 byte order is code-point order); the merge application
    replicates the fold's left-to-right non-overlapping semantics
    (last-token == a and next == b -> replace with a+b)."""
    words = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    # (?s) in BOTH engines: without it their '.' exclusion sets differ
    # (Java: \n \r U+0085 U+2028 U+2029; RE2: \n only), so a word holding
    # \r split differently per engine — dotall makes the char split
    # byte-identical to Python's list(w) for every terminator.  The char
    # split stays IN SPARK so the replay never re-implements it.
    rows = (
        words.withColumn("toks", F.trim(F.regexp_replace("word", "(?s)(.)", "$1 ")))
        .collect()
    )  # ONE corpus-scale job; everything after is vocab-sized
    vocab_py: dict[str, tuple[int, list[str]]] = {
        r["word"]: (r["freq"], r["toks"].split(" ")) for r in rows
    }
    merges: list[tuple] = []
    for rank in range(1, BPE_MERGES + 1):
        counts: dict[tuple[str, str], int] = {}
        for freq, toks in vocab_py.values():
            for i in range(len(toks) - 1):
                pr = (toks[i], toks[i + 1])
                counts[pr] = counts.get(pr, 0) + freq
        if not counts:
            break
        (a, b), c = min(counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        merged = a + b
        merges.append((rank, a, b, merged, int(c)))
        for word, (freq, toks) in vocab_py.items():
            if len(toks) < 2:
                continue
            out = [toks[0]]
            for x in toks[1:]:
                if out[-1] == a and x == b:
                    out[-1] = merged
                else:
                    out.append(x)
            vocab_py[word] = (freq, out)
    spark = docs.sparkSession
    vocab = spark.createDataFrame(
        [(w, f, " ".join(toks)) for w, (f, toks) in vocab_py.items()],
        "word string, freq bigint, toks string",
    )
    return merges, vocab


@REG.add(
    "pipe_bpe_encode",
    _bpe_encode_oracle(),
    doc=f"Apply the fitted BPE tokenizer back to the corpus: per-document "
    f"subword token counts under the {BPE_MERGES} learned merge rules — "
    "the number a training pipeline actually budgets by (sequence packing "
    "and epoch planning consume token counts, not word counts).  The "
    "corpus is re-scanned once; each word joins the fitted vocab mapping "
    "(word -> subword tokens), which is broadcast-sized by Zipf, and one "
    "doc_id groupBy sums the per-word token counts — no per-document "
    "re-fitting, no iteration.  The oracle extends the fit's generated "
    "CTE chain with the same join, so fit and encode can't drift.",
)
def pipe_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    _merges, vocab = _bpe_fit(spark, sf_dir)
    mapping = vocab.select(
        "word", F.size(F.split("toks", " ")).cast("long").alias("word_toks")
    )
    doc_words = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .filter(F.length("word") > 0)
    )
    return (
        doc_words.join(F.broadcast(mapping), "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("word_toks").cast("long").alias("n_tokens_bpe_fit"),
        )
    )


# ---------------------------------------------------------------------------
# Batched BPE fitting (round-8 VERDICT #6: the sequential fit's one
# driver round-trip PER MERGE is fine at K=8, unusable at a real
# tokenizer's 32k merges — this is the SentencePiece-style batched
# variant that makes the round-trip count K / |batch|.)
# ---------------------------------------------------------------------------

BPE_BATCH_ROUNDS = 4  # driver round-trips
BPE_BATCH_WINDOW = 8  # top-W candidate pairs examined per round


def _batch_accept(ranked: list[tuple]) -> list[tuple]:
    """Deterministic batch selection over the (count desc, a, b)-ranked
    top-W pairs: accept a pair iff NO higher-ranked pair in the window
    shares a token with it (either side).  Conservative — conflicting
    with a REJECTED higher pair also rejects — but that is exactly what
    makes the rule one-shot SQL-expressible (a self anti-join, no
    sequential greedy state), and the rank-1 pair is always accepted so
    every round makes progress.  Accepted pairs are pairwise
    token-disjoint, so applying them in ONE fold is order-independent:
    at any (acc, x) step at most one rule's b equals x."""
    out: list[tuple] = []
    for i, (a, b, c) in enumerate(ranked):
        if not any(
            sa in (a, b) or sb in (a, b) for sa, sb, _sc in ranked[:i]
        ):
            out.append((i + 1, a, b, c))  # carries the WINDOW rank (rn)
    return out


def _batched_fold(rules: list[tuple[str, str, str]]):
    """One vocab re-tokenization fold applying ALL of this round's
    accepted (a, b, merged) rules — the multi-rule generalization of the
    sequential fit's fold.  Rules are token-disjoint, so the when-chain
    order is immaterial."""
    toks_arr = F.split("toks", " ")

    def step(acc, x):
        expr = None
        for a, b, m in rules:
            cond = ((acc == F.lit(a)) | F.endswith(acc, F.lit(" " + a))) & (x == F.lit(b))
            then = F.concat(
                F.substring(acc, F.lit(1), F.length(acc) - len(a)), F.lit(m)
            )
            expr = F.when(cond, then) if expr is None else expr.when(cond, then)
        return expr.otherwise(F.concat(acc, F.lit(" "), x))

    return F.aggregate(
        F.slice(toks_arr, 2, F.greatest(F.size(toks_arr) - 1, F.lit(0))),
        F.element_at(toks_arr, 1),
        step,
    )


def _bpe_batched_oracle(rounds: int = BPE_BATCH_ROUNDS, w: int = BPE_BATCH_WINDOW) -> str:
    """The batched trajectory as generated CTE stages: per round, pair
    counts -> top-W ranking -> anti-join acceptance -> ONE list_reduce
    fold driven by the accepted rule lists (b-sides are distinct within
    a batch, so list_position(lb, x) identifies the applicable rule)."""
    parts = [
        """
    WITH v AS (SELECT word, COUNT(*) AS freq
          FROM (SELECT UNNEST(string_split(text, ' ')) AS word FROM documents)
          WHERE length(word) > 0 GROUP BY word),
    t1 AS (SELECT word, freq,
                  trim(regexp_replace(word, '(?s)(.)', '\\1 ', 'g')) AS toks
           FROM v)"""
    ]
    for i in range(1, rounds + 1):
        parts.append(f""",
    p{i} AS (
        SELECT pr.pa AS a, pr.pb AS b, SUM(freq) AS c FROM (
            SELECT freq,
                   UNNEST(list_transform(range(1, len(string_split(toks, ' '))),
                          j -> struct_pack(pa := string_split(toks, ' ')[j],
                                           pb := string_split(toks, ' ')[j + 1]))) AS pr
            FROM t{i}
        ) GROUP BY 1, 2
    ),
    r{i} AS (
        SELECT * FROM (
            SELECT a, b, a || b AS m, c,
                   ROW_NUMBER() OVER (ORDER BY c DESC, a, b) AS rn
            FROM p{i}
        ) WHERE rn <= {w}
    ),
    acc{i} AS (
        SELECT r.* FROM r{i} r
        WHERE NOT EXISTS (
            SELECT 1 FROM r{i} s
            WHERE s.rn < r.rn
              AND (s.a IN (r.a, r.b) OR s.b IN (r.a, r.b))
        )
    ),
    ru{i} AS (
        SELECT COALESCE(list(a ORDER BY rn), []) AS la,
               COALESCE(list(b ORDER BY rn), []) AS lb,
               COALESCE(list(m ORDER BY rn), []) AS lm
        FROM acc{i}
    ),
    t{i + 1} AS (
        SELECT word, freq,
               CASE WHEN len(lb) = 0 THEN toks ELSE
               list_reduce(string_split(toks, ' '),
                 (acc, x) -> CASE WHEN list_position(lb, x) > 0
                                   AND (acc = la[list_position(lb, x)]
                                        OR ends_with(acc, ' ' || la[list_position(lb, x)]))
                                  THEN substr(acc, 1,
                                              length(acc) - length(la[list_position(lb, x)]))
                                       || lm[list_position(lb, x)]
                                  ELSE acc || ' ' || x END) END AS toks
        FROM t{i} CROSS JOIN ru{i}
    )""")
    unions = " UNION ALL ".join(
        f"SELECT {i} AS round, CAST(rn AS INT) AS merge_rank, a AS token_a, "
        f"b AS token_b, m AS merged, CAST(c AS BIGINT) AS pair_count FROM acc{i}"
        for i in range(1, rounds + 1)
    )
    return "".join(parts) + " " + unions


@REG.add(
    "pipe_bpe_merges_batched",
    _bpe_batched_oracle(),
    doc=f"BATCHED BPE fitting (the SentencePiece-style scale shape the "
    f"sequential fit can't reach): each round counts weighted pairs ONCE, "
    f"ranks the top {BPE_BATCH_WINDOW}, accepts every pair that shares no "
    "token with a higher-ranked pair in the window (one-shot anti-join — "
    "deterministic, no sequential greedy state), and applies the whole "
    "accepted batch in ONE vocab fold (token-disjointness makes the fold "
    "order-independent).  Driver round-trips become K / |batch| instead "
    f"of K: a 32k-merge production tokenizer fits in ~{32000 // BPE_BATCH_WINDOW} "
    f"rounds instead of 32k.  {BPE_BATCH_ROUNDS} rounds here; the oracle "
    "replays ranking, acceptance, and fold per round in generated CTEs.  "
    "Batched greedy is a documented approximation of strict Sennrich "
    "order (rank-2+ merges don't see rank-1's effect until next round); "
    "tests pin the first round's top pair equal to the sequential fit's.",
)
def pipe_bpe_merges_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    rules, _vocab = _bpe_fit_batched(spark, sf_dir)
    return spark.createDataFrame(
        rules,
        "round int, merge_rank int, token_a string, token_b string, "
        "merged string, pair_count bigint",
    )


def _bpe_fit_batched(
    spark: SparkSession,
    sf_dir: str,
    rounds: int = BPE_BATCH_ROUNDS,
    window: int = BPE_BATCH_WINDOW,
) -> tuple[list[tuple], DataFrame]:
    """Batched fit loop: per round ONE pair-count aggregate, ONE bounded
    (<= window rows) driver collect, ONE fold — vs the sequential fit's
    one round-trip per merge.  Returns (rules, fitted vocab)."""
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    vocab = words.withColumn(
        "toks", F.trim(F.regexp_replace("word", "(?s)(.)", "$1 "))
    ).localCheckpoint(eager=True)
    out: list[tuple] = []
    for rnd in range(1, rounds + 1):
        arr = F.split("toks", " ")
        pairs = vocab.select(
            "freq",
            F.explode(
                F.arrays_zip(
                    F.slice(arr, 1, F.size(arr) - 1).alias("pa"),
                    F.slice(arr, 2, F.size(arr) - 1).alias("pb"),
                )
            ).alias("pr"),
        )
        ranked = (
            pairs.groupBy(F.col("pr.pa").alias("a"), F.col("pr.pb").alias("b"))
            .agg(F.sum("freq").alias("c"))
            .orderBy(F.col("c").desc(), "a", "b")
            .limit(window)
            .collect()
        )
        if not ranked:
            break
        accepted = _batch_accept([(r["a"], r["b"], int(r["c"])) for r in ranked])
        rules = [(a, b, a + b) for _rn, a, b, _c in accepted]
        out.extend((rnd, rn, a, b, a + b, c) for rn, a, b, c in accepted)
        vocab = vocab.withColumn("toks", _batched_fold(rules)).localCheckpoint(
            eager=True
        )
    return out, vocab


VOCAB_TOPK = 100


@REG.add(
    "text_vocab_topk",
    f"""
    WITH words AS (
        SELECT UNNEST(string_split(text, ' ')) AS w FROM documents
    )
    SELECT w, COUNT(*) AS freq
    FROM words GROUP BY w
    ORDER BY freq DESC, w LIMIT {VOCAB_TOPK}
    """,
    doc=f"Corpus vocabulary top-{VOCAB_TOPK} (tokenizer/BPE seed statistics): "
    "explode to words, ONE map-side-combined groupBy on the word key, then "
    "TakeOrderedAndProject — the top-k never materializes a global sort.  "
    "Unique-word tiebreak keeps the cut deterministic.",
)
def text_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    words = load_table(spark, sf_dir, "documents").select(
        F.explode(F.split("text", " ")).alias("w")
    )
    return (
        words.groupBy("w")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("w"))
        .limit(VOCAB_TOPK)
    )


LENGTH_FILTER_LO = 0.05
LENGTH_FILTER_HI = 0.95


@REG.add(
    "pipe_length_filter",
    f"""
    WITH toks AS (
        SELECT doc_id,
               CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_tokens
        FROM documents
    ),
    ranked AS (
        SELECT doc_id, n_tokens,
               ROW_NUMBER() OVER (ORDER BY n_tokens, doc_id) AS rk,
               COUNT(*) OVER () AS n
        FROM toks
    )
    SELECT doc_id, n_tokens
    FROM ranked
    WHERE rk > CAST(FLOOR(n * {LENGTH_FILTER_LO}) AS BIGINT)
      AND rk <= CAST(CEIL(n * {LENGTH_FILTER_HI}) AS BIGINT)
    """,
    doc="Adaptive length filtering (quality-pipeline staple): keep documents "
    "inside the [p5, p95] token-length band, with the quantile cut expressed "
    "as integer RANK thresholds (row_number over a unique (n_tokens, doc_id) "
    "order) — no floating-point percentile estimators, so the cut is "
    "deterministic and oracle-exact.  At scale the global rank is the one "
    "total-order operation; it runs over the tiny (doc_id, n_tokens) "
    "projection, never the text, and a two-level distributed rank (the "
    "pack_sequences prefix-sum shape) drops in when even that outgrows a "
    "RangePartitioner.",
)
def pipe_length_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    doc = load_table(spark, sf_dir, "documents")
    spaces = F.length(F.col("text")) - F.length(F.expr("replace(text, ' ', '')"))
    toks = doc.select("doc_id", (spaces + 1).cast("long").alias("n_tokens"))
    w = Window.orderBy("n_tokens", "doc_id")
    ranked = (
        toks.withColumn("rk", F.row_number().over(w))
        .withColumn("n", F.count("*").over(Window.partitionBy()))
    )
    return ranked.filter(
        (F.col("rk") > F.floor(F.col("n") * LENGTH_FILTER_LO).cast("long"))
        & (F.col("rk") <= F.ceil(F.col("n") * LENGTH_FILTER_HI).cast("long"))
    ).select("doc_id", "n_tokens")


# ---------------------------------------------------------------------------
# composed document-quality gate (round-4: the curation classifier as ONE
# checked pipeline — exact-dedup canonicality + length + Gopher repetition
# + corpus-bigram LM, per-doc verdict with named fail reasons)
# ---------------------------------------------------------------------------

QG_MIN_WC = 25
QG_MAX_DUP_WORD = 0.65
QG_MAX_DUP_2GRAM = 0.06
QG_MIN_AVG_LOGPROB = -3.41


def _quality_gate_sql() -> str:
    return f"""
    WITH lm AS ({BIGRAM_LM_SQL}),
    w AS (SELECT doc_id, text, string_split(text, ' ') AS words FROM documents),
    rep AS (
        SELECT doc_id,
               CAST(len(words) AS BIGINT) AS wc,
               ROUND(1.0 - len(list_distinct(words)) / CAST(len(words) AS DOUBLE), 6)
                 AS dup_word_frac,
               CASE WHEN len(words) >= 2
                    THEN ROUND(1.0 - len(list_distinct(list_transform(range(1, len(words)),
                               i -> words[i] || ' ' || words[i+1])))
                               / CAST(len(words) - 1 AS DOUBLE), 6)
                    ELSE CAST(0.0 AS DOUBLE) END AS dup_2gram_frac
        FROM w
    ),
    canon AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
    j AS (
        SELECT r.doc_id, r.wc, r.dup_word_frac, r.dup_2gram_frac,
               l.avg_logprob,
               (c.doc_id IS NOT NULL) AS is_canonical
        FROM rep r
        LEFT JOIN canon c ON r.doc_id = c.doc_id
        LEFT JOIN lm l ON r.doc_id = l.doc_id
    )
    SELECT doc_id, wc, dup_word_frac, dup_2gram_frac, avg_logprob, is_canonical,
           concat_ws(',',
               CASE WHEN NOT is_canonical THEN 'dup' END,
               CASE WHEN wc < {QG_MIN_WC} THEN 'short' END,
               CASE WHEN dup_word_frac > {QG_MAX_DUP_WORD!r} THEN 'rep_word' END,
               CASE WHEN dup_2gram_frac > {QG_MAX_DUP_2GRAM!r} THEN 'rep_2gram' END,
               CASE WHEN avg_logprob IS NULL OR avg_logprob < {QG_MIN_AVG_LOGPROB!r}
                    THEN 'lm' END
           ) AS fail_reasons,
           (is_canonical AND wc >= {QG_MIN_WC}
            AND dup_word_frac <= {QG_MAX_DUP_WORD!r}
            AND dup_2gram_frac <= {QG_MAX_DUP_2GRAM!r}
            AND avg_logprob IS NOT NULL
            AND avg_logprob >= {QG_MIN_AVG_LOGPROB!r}) AS passed
    FROM j
    """


@REG.add(
    "pipe_quality_gate",
    _quality_gate_sql(),
    doc="Document-level quality classifier COMPOSED from the checked signal "
    "operators as one gated pipeline (round-3 VERDICT #8): exact-dedup "
    "canonicality + minimum length + Gopher repetition caps (dup-word / "
    "dup-2-gram fractions) + the corpus-bigram LM score, emitting a per-doc "
    "verdict plus named fail reasons in a fixed order.  Every threshold "
    "compares the 6dp-ROUNDED signal (the repo's float-parity treatment), "
    "so the verdict can never flip on a ULP between engines.  Scale shape: "
    "the repetition/length signals are in-row; the only shuffles are the "
    "dedup groupBy and the LM's count joins — the same stages the component "
    "operators already budget; the final assembly is two joins on doc_id.",
)
def pipe_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    doc = (
        load_table(spark, sf_dir, "documents")
        .repartition(spark.sparkContext.defaultParallelism)
        .select("doc_id", "text", F.split("text", " ").alias("words"))
    )
    n_words = F.size("words")
    distinct_words = F.array_distinct(F.col("words"))
    grams2 = F.transform(
        F.sequence(F.lit(0), n_words - 2),
        lambda i: F.concat_ws(" ", F.get("words", i), F.get("words", i + 1)),
    )
    dup2 = F.when(
        n_words >= 2,
        F.round(1.0 - F.size(F.array_distinct(grams2)) / (n_words - 1).cast("double"), 6),
    ).otherwise(F.lit(0.0))
    rep = doc.select(
        "doc_id",
        "text",
        n_words.cast("long").alias("wc"),
        F.round(1.0 - F.size(distinct_words) / n_words.cast("double"), 6).alias(
            "dup_word_frac"
        ),
        dup2.cast("double").alias("dup_2gram_frac"),
    )
    canon = (
        load_table(spark, sf_dir, "documents")
        .groupBy(F.md5("text").alias("h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", F.lit(True).alias("is_canon"))
    )
    lm = text_bigram_lm_score(spark, sf_dir).select("doc_id", "avg_logprob")
    j = (
        rep.join(canon, "doc_id", "left")
        .join(lm, "doc_id", "left")
        .select(
            "doc_id",
            "wc",
            "dup_word_frac",
            "dup_2gram_frac",
            "avg_logprob",
            F.coalesce(F.col("is_canon"), F.lit(False)).alias("is_canonical"),
        )
    )
    lm_ok = F.col("avg_logprob").isNotNull() & (
        F.col("avg_logprob") >= F.lit(QG_MIN_AVG_LOGPROB)
    )
    return j.select(
        "doc_id",
        "wc",
        "dup_word_frac",
        "dup_2gram_frac",
        "avg_logprob",
        "is_canonical",
        F.concat_ws(
            ",",
            F.when(~F.col("is_canonical"), F.lit("dup")),
            F.when(F.col("wc") < QG_MIN_WC, F.lit("short")),
            F.when(F.col("dup_word_frac") > QG_MAX_DUP_WORD, F.lit("rep_word")),
            F.when(F.col("dup_2gram_frac") > QG_MAX_DUP_2GRAM, F.lit("rep_2gram")),
            F.when(~lm_ok, F.lit("lm")),
        ).alias("fail_reasons"),
        (
            F.col("is_canonical")
            & (F.col("wc") >= QG_MIN_WC)
            & (F.col("dup_word_frac") <= QG_MAX_DUP_WORD)
            & (F.col("dup_2gram_frac") <= QG_MAX_DUP_2GRAM)
            & lm_ok
        ).alias("passed"),
    )


# ---------------------------------------------------------------------------
# tokenizer fertility (round 9): the per-language efficiency audit a
# multilingual training pipeline runs on every tokenizer candidate —
# fertility (subword tokens per word) is THE standard metric for how
# fairly a vocab serves each language (a high-fertility language pays
# more sequence budget per word and trains on effectively less text).
# ---------------------------------------------------------------------------


def _fert6_sql(tokens: str, words: str) -> str:
    """round6(tokens / words) for BIGINT inputs as exact integer
    half-away arithmetic (the _avg6_sql recipe without the decimal
    detour — both operands are already integers)."""
    return (
        f"CAST((2 * {tokens} * 1000000 + {words}) // (2 * {words}) AS DOUBLE) "
        f"/ 1000000.0"
    )


def _fertility_oracle() -> str:
    ctes, fitted = _bpe_cte_chain()
    return f"""{ctes}
    SELECT d.lang,
           CAST(COUNT(*) AS BIGINT) AS n_word_occurrences,
           CAST(SUM(len(string_split(t.toks, ' '))) AS BIGINT) AS n_tokens,
           {_fert6_sql("SUM(len(string_split(t.toks, ' ')))", "COUNT(*)")} AS fertility,
           {_fert6_sql("SUM(CASE WHEN len(string_split(t.toks, ' ')) = 1 THEN 1 ELSE 0 END)",
                       "COUNT(*)")} AS single_token_frac
    FROM (SELECT lang, UNNEST(string_split(text, ' ')) AS word FROM documents) d
    JOIN {fitted} t USING (word)
    WHERE length(d.word) > 0
    GROUP BY d.lang
    """


@REG.add(
    "pipe_tokenizer_fertility",
    _fertility_oracle(),
    doc="Per-language tokenizer FERTILITY audit under the fitted BPE "
    "rules: token-per-word ratio and single-token word-occurrence "
    "fraction per lang — the standard multilingual-tokenizer fairness "
    "metric (a high-fertility language pays more context budget per "
    "word, trains on effectively less text, and its users pay more per "
    "query; production vocab builds gate on exactly this table).  "
    "Same dataflow as pipe_bpe_encode: one corpus re-scan joined to "
    "the broadcast-sized fitted vocab mapping, one lang groupBy; the "
    "ratios use the exact-integer round6 recipe (no double detour), "
    "and the oracle extends the fit's shared generated CTE chain so "
    "fit and audit cannot drift.  Totals reconcile with "
    "pipe_bpe_encode's per-doc sums (pytest-pinned).",
)
def pipe_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    _merges, vocab = _bpe_fit(spark, sf_dir)
    mapping = vocab.select(
        "word", F.size(F.split("toks", " ")).cast("long").alias("word_toks")
    )
    occ = (
        load_table(spark, sf_dir, "documents")
        .select("lang", F.explode(F.split("text", " ")).alias("word"))
        .filter(F.length("word") > 0)
    )
    agg = (
        occ.join(F.broadcast(mapping), "word")
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_word_occurrences"),
            F.sum("word_toks").cast("long").alias("n_tokens"),
            F.sum((F.col("word_toks") == 1).cast("long")).cast("long").alias("n_single"),
        )
    )
    fert = F.expr(_fert6_sql("n_tokens", "n_word_occurrences").replace("//", "div"))
    single = F.expr(_fert6_sql("n_single", "n_word_occurrences").replace("//", "div"))
    return agg.select(
        "lang",
        "n_word_occurrences",
        "n_tokens",
        fert.alias("fertility"),
        single.alias("single_token_frac"),
    )


# ---------------------------------------------------------------------------
# CCNet-style perplexity buckets (round 10): Wenzek et al. 2020 ("CCNet:
# Extracting High Quality Monolingual Datasets from Web Crawl Data")
# partitions each language's corpus into head / middle / tail TERCILES
# by LM perplexity — the bucket label is the universal quality handle
# downstream pipelines mix on (LLaMA, RedPajama, FineWeb all consume
# CCNet-bucketed CommonCrawl).  Here the LM is the corpus-bigram model
# text_bigram_lm_score already fits (its avg_logprob is the monotone
# inverse of perplexity, so ordering by it descending = ordering by
# perplexity ascending).
# ---------------------------------------------------------------------------

PPL_BUCKETS = ("head", "middle", "tail")


@REG.add(
    "pipe_perplexity_buckets",
    f"""
    WITH lm AS ({BIGRAM_LM_SQL}),
    scored AS (
        SELECT d.doc_id, d.lang, l.avg_logprob
        FROM documents d JOIN lm l ON l.doc_id = d.doc_id
    ),
    b AS (
        SELECT doc_id, lang, avg_logprob,
               NTILE({len(PPL_BUCKETS)}) OVER (
                   PARTITION BY lang ORDER BY avg_logprob DESC, doc_id) AS nt
        FROM scored
    )
    SELECT doc_id, lang, avg_logprob,
           CASE nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
    FROM b
    """,
    doc="CCNet-style per-language perplexity buckets (Wenzek et al. "
    "2020): each language's documents split into head/middle/tail "
    "terciles by the corpus-bigram LM score (avg_logprob desc = "
    "perplexity asc; doc_id tiebreak, NTILE semantics identical in "
    "both engines) — the quality label downstream mixing policies "
    "consume.  Single-word documents have no bigram score and are "
    "excluded, as in CCNet (unscorable docs route to the filter, not "
    "a bucket).  Scale shape: the LM's shuffles are bounded by "
    "distinct bigrams; the bucket assignment is one per-language "
    "ranking exchange on SKINNY (doc_id, score) rows.  This is the "
    "bucket-EXACT formulation; at 100 TB production follows CCNet "
    "itself — tercile thresholds from a bounded seeded sample, "
    "broadcast back as a compare (the smp1 machinery) — trading "
    "boundary-exactness for a shuffle-free assignment.  Tercile-size "
    "and score-ordering invariants pytest-pinned.",
)
def pipe_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    lm = text_bigram_lm_score(spark, sf_dir).select("doc_id", "avg_logprob")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    scored = docs.join(lm, "doc_id")
    w = Window.partitionBy("lang").orderBy(F.col("avg_logprob").desc(), "doc_id")
    nt = F.ntile(len(PPL_BUCKETS)).over(w)
    return scored.select(
        "doc_id",
        "lang",
        "avg_logprob",
        F.when(nt == 1, "head").when(nt == 2, "middle").otherwise("tail").alias("bucket"),
    )


# ---------------------------------------------------------------------------
# sampled-threshold twin (round 11): the CCNet PRODUCTION shape made
# executable — tercile thresholds fitted on a bounded seeded sample,
# broadcast back, assignment by a plain score compare.  Mirrors how the
# PQ family closed its exact-vs-sampled pair: the exact form above is
# the arithmetic gauge, this is what a 100 TB run ships.
# ---------------------------------------------------------------------------

PPLS_SAMPLE_N = 120
PPLS_SEED = "ppls"

# The threshold CTE block (base-corpus LM scores, the bounded seeded
# per-language sample, the tercile cut scores) — shared by the batch
# sampled-bucket oracle and the streaming gate's frozen-threshold
# oracle (the _DSIR_MODEL_SQL convention: two renderings of one model
# cannot drift).
_PPL_THRESH_SQL = f"""plm AS ({BIGRAM_LM_SQL}),
    pscored AS (
        SELECT d.doc_id, d.lang, l.avg_logprob
        FROM documents d JOIN plm l ON l.doc_id = d.doc_id
    ),
    psamp AS (
        SELECT doc_id, lang, avg_logprob,
               ROW_NUMBER() OVER (PARTITION BY lang
                   ORDER BY md5('{PPLS_SEED}-' || CAST(doc_id AS VARCHAR)), doc_id
               ) AS rk
        FROM pscored
    ),
    pb AS (
        SELECT lang, doc_id, avg_logprob,
               NTILE({len(PPL_BUCKETS)}) OVER (
                   PARTITION BY lang ORDER BY avg_logprob DESC, doc_id) AS nt
        FROM psamp WHERE rk <= {PPLS_SAMPLE_N}
    ),
    pth AS (
        SELECT lang,
               MIN(CASE WHEN nt = 1 THEN avg_logprob END) AS t1,
               MIN(CASE WHEN nt = 2 THEN avg_logprob END) AS t2
        FROM pb GROUP BY lang
    )"""


def _ppl_bucket_case_sql(score: str) -> str:
    """The threshold-compare bucket CASE over a score column and the
    joined pth columns — one rendering for both consumers."""
    return (
        f"CASE WHEN {score} >= t1 THEN 'head' "
        f"WHEN t2 IS NOT NULL AND {score} >= t2 THEN 'middle' "
        f"ELSE 'tail' END"
    )


def _ppl_sampled_oracle_sql() -> str:
    return f"""
    WITH {_PPL_THRESH_SQL}
    SELECT sc.doc_id, sc.lang, sc.avg_logprob,
           {_ppl_bucket_case_sql("sc.avg_logprob")} AS bucket
    FROM pscored sc JOIN pth ON pth.lang = sc.lang
    """


def ppl_sampled_thresholds(
    spark: SparkSession, sf_dir: str, scored: DataFrame | None = None
) -> DataFrame:
    """(lang, t1, t2) — the frozen per-language tercile cut scores from
    the bounded seeded sample.  Shared by pipe_perplexity_buckets_sampled
    (which passes its own ``scored`` frame so the LM fit's exchanges are
    built once and reused — ReusedExchange, pinned in test_plans) and
    the streaming gate (which broadcasts the standalone fit as a frozen
    model)."""
    from ..functions.expressions import det_hash_hex

    if scored is None:
        lm = text_bigram_lm_score(spark, sf_dir).select("doc_id", "avg_logprob")
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
        scored = docs.join(lm, "doc_id")
    rk = F.row_number().over(
        Window.partitionBy("lang").orderBy(
            det_hash_hex("doc_id", seed=PPLS_SEED), "doc_id"
        )
    )
    samp = scored.withColumn("rk", rk).filter(F.col("rk") <= PPLS_SAMPLE_N)
    nt = F.ntile(len(PPL_BUCKETS)).over(
        Window.partitionBy("lang").orderBy(F.col("avg_logprob").desc(), "doc_id")
    )
    return (
        samp.withColumn("nt", nt)
        .groupBy("lang")
        .agg(
            F.min(F.when(F.col("nt") == 1, F.col("avg_logprob"))).alias("t1"),
            F.min(F.when(F.col("nt") == 2, F.col("avg_logprob"))).alias("t2"),
        )
    )


@REG.add(
    "pipe_perplexity_buckets_sampled",
    _ppl_sampled_oracle_sql(),
    doc=f"CCNet perplexity buckets, SAMPLED-THRESHOLD form (Wenzek et "
    "al. 2020's own production recipe, round-11 verdict item 4): "
    f"tercile cut scores are fitted on a bounded {PPLS_SAMPLE_N}-doc "
    "seeded md5-rank sample per language (the smp1 machinery; the "
    "oracle replays the identical selection), then broadcast back and "
    "every document is assigned by a plain score compare — head if "
    "score >= t1, middle if >= t2 — so the corpus-wide assignment "
    "stage is SHUFFLE-FREE (one broadcast hash join on lang), unlike "
    "the exact form's per-language ranking exchange.  The compare is "
    "engine-exact: avg_logprob is the 6dp-DECIMAL-derived double both "
    "engines compute identically, and thresholds are sample scores.  "
    "Languages whose sample fills fewer than 2 terciles degrade "
    "deterministically (t2 NULL => middle unreachable).  Boundary "
    "agreement vs the exact NTILE form is measured in SCALE.md and "
    "pinned >= 90% in test_llm_ops.",
)
def pipe_perplexity_buckets_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    lm = text_bigram_lm_score(spark, sf_dir).select("doc_id", "avg_logprob")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    scored = docs.join(lm, "doc_id")
    # pass the SAME scored frame so the LM fit builds once (its
    # exchanges reused across the sample side and the assignment side)
    th = ppl_sampled_thresholds(spark, sf_dir, scored=scored)
    bucket = (
        F.when(F.col("avg_logprob") >= F.col("t1"), "head")
        .when(
            F.col("t2").isNotNull() & (F.col("avg_logprob") >= F.col("t2")),
            "middle",
        )
        .otherwise("tail")
    )
    return scored.join(F.broadcast(th), "lang").select(
        "doc_id", "lang", "avg_logprob", bucket.alias("bucket")
    )


def bigram_lm_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(w1, w2, logp) — the corpus-bigram conditional-probability MODEL
    itself (the per-bigram table BIGRAM_LM_SQL folds into per-doc
    scores): logp = round6(ln(c2/c1)) as DECIMAL(18,6), c2 = corpus
    occurrences of (w1, w2), c1 = occurrences of w1 as a bigram head.
    The streaming perplexity gate broadcasts this as its FROZEN model;
    size is vocabulary-bounded (distinct bigrams), the model-size
    broadcast a production LM-score gate ships to executors."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .repartition(spark.sparkContext.defaultParallelism)
        .select(F.split("text", " ").alias("words"))
    )
    pairs = F.transform(
        F.sequence(F.lit(0), F.size("words") - 2),
        lambda i: F.struct(F.get("words", i).alias("w1"), F.get("words", i + 1).alias("w2")),
    )
    occ = (
        docs.filter(F.size("words") >= 2)
        .select(F.explode(pairs).alias("p"))
        .select("p.w1", "p.w2")
    )
    c2 = occ.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    c1 = occ.groupBy("w1").agg(F.count("*").alias("c1"))
    return c2.join(c1, "w1").select(
        "w1",
        "w2",
        F.round(F.log(F.col("c2").cast("double") / F.col("c1")), 6)
        .cast("decimal(18,6)")
        .alias("logp"),
    )


# ---------------------------------------------------------------------------
# DSIR importance weights (round 10): Xie et al. 2023 ("Data Selection
# for Language Models via Importance Resampling") — score every source
# document by how target-like it is under two hashed-n-gram bag models,
# log w(x) = sum_f c_f(x) * (ln p_target(f) - ln p_source(f)), then
# resample the source corpus by w.  The hashed feature space makes the
# model FIXED-SIZE (DSIR_BUCKETS counts per side) no matter the corpus:
# the scale property that made DSIR the standard pretraining-data
# selector.  Target distribution here: the English slice (selecting
# target-language-like data from a mixed crawl — the paper's own
# Pile-variant use case); source: the whole corpus.
# ---------------------------------------------------------------------------

DSIR_BUCKETS = 1024
DSIR_TARGET_LANG = "en"
DSIR_SEED = "dsir"


def _dsir_logratio_sql() -> str:
    """ln(p_t(f) / p_s(f)) with add-one smoothing over the hashed
    feature space, 6dp-rounded into DECIMAL — rendered identically for
    both engines (the BM25 contribution treatment)."""
    return (
        f"CAST(ROUND(LN((CAST(ct + 1 AS DOUBLE) / (tt + {DSIR_BUCKETS})) / "
        f"(CAST(cs + 1 AS DOUBLE) / (ts + {DSIR_BUCKETS}))), 6) AS DECIMAL(18,6))"
    )


# The MODEL CTE block (feature hashing, per-doc counts, the two
# fixed-size unigram models, the broadcast-able log-ratio table) —
# shared by the batch query and the streaming gate's frozen-model
# oracle, so the two renderings of one model cannot drift.
_DSIR_MODEL_SQL = f"""big AS (
        SELECT doc_id, lang, words[i] || ' ' || words[i+1] AS bg
        FROM (SELECT doc_id, lang, string_split(text, ' ') AS words FROM documents),
             UNNEST(range(1, len(words))) AS t(i)
    ),
    feats AS (
        SELECT doc_id, lang,
               {{hex4}} % {DSIR_BUCKETS} AS f
        FROM big
    ),
    docfeat AS (
        SELECT doc_id, f, COUNT(*) AS k FROM feats GROUP BY 1, 2
    ),
    src AS (SELECT f, CAST(SUM(k) AS BIGINT) AS cs FROM docfeat GROUP BY f),
    tgt AS (
        SELECT f, CAST(COUNT(*) AS BIGINT) AS ct FROM feats
        WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY f
    ),
    tot AS (
        SELECT CAST(SUM(cs) AS BIGINT) AS ts,
               CAST((SELECT COALESCE(SUM(ct), 0) FROM tgt) AS BIGINT) AS tt
        FROM src
    ),
    ratio AS (
        SELECT f, {_dsir_logratio_sql()} AS lr FROM (
            SELECT s.f, COALESCE(tgt.ct, 0) AS ct, s.cs, tot.ts, tot.tt
            FROM src s LEFT JOIN tgt ON tgt.f = s.f CROSS JOIN tot
        )
    )"""

DSIR_SQL = f"""
    WITH {_DSIR_MODEL_SQL}
    SELECT d.doc_id,
           CAST(SUM(d.k) AS BIGINT) AS n_feats,
           CAST(SUM(d.k * r.lr) AS DOUBLE) AS dsir_logw
    FROM docfeat d JOIN ratio r ON r.f = d.f
    GROUP BY d.doc_id
"""


def _dsir_hex4() -> str:
    from ..functions.expressions import hex4_sql

    return hex4_sql(f"md5('{DSIR_SEED}-' || bg)")


def _dsir_oracle_sql() -> str:
    return DSIR_SQL.format(hex4=_dsir_hex4())


def dsir_feature(bg_col):
    """Spark twin of the feature hash: md5(seed || bigram) -> bucket."""
    from ..functions.expressions import det_hash_hex, hex4_to_int

    return hex4_to_int(det_hash_hex(bg_col, seed=DSIR_SEED)) % DSIR_BUCKETS


def _dsir_docfeat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpointed per-doc hashed-feature counts (doc_id, lang, f, k)
    — the ONE explode + md5 pass everything DSIR derives from (round
    13): the ratio table's source counts, its target counts, AND the
    per-doc weight sums previously each re-ran the bigram explode +
    md5 feature hash (3 corpus passes; the md5 per bigram is the
    expensive part).  Grouping carries ``lang`` (functionally
    determined by doc_id, so the groups equal the (doc_id, f) ones)
    so the target-slice counts can be derived as SUM(k) without
    re-touching raw text."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .repartition(spark.sparkContext.defaultParallelism)
        .select("doc_id", "lang", F.split("text", " ").alias("words"))
    )
    pairs = F.transform(
        F.sequence(F.lit(0), F.size("words") - 2),
        lambda i: F.concat(F.get("words", i), F.lit(" "), F.get("words", i + 1)),
    )
    return (
        docs.filter(F.size("words") >= 2)
        .select("doc_id", "lang", F.explode(pairs).alias("bg"))
        .select("doc_id", "lang", dsir_feature(F.col("bg")).alias("f"))
        .groupBy("doc_id", "lang", "f")
        .agg(F.count("*").alias("k"))
        .localCheckpoint(eager=True)
    )


def dsir_ratio_table(
    spark: SparkSession, sf_dir: str, docfeat: DataFrame | None = None
) -> DataFrame:
    """The <= DSIR_BUCKETS-row (f, lr) log-ratio side table, computed
    from the base corpus — broadcast by the batch scorer and FROZEN by
    the streaming gate (models refresh out of band in production).
    ``docfeat`` injects the shared _dsir_docfeat table so the batch
    scorer's one materialization serves both the model and the
    weights; the target counts ct = SUM(k) over the target-lang slice
    equal the old COUNT(*) over raw feature occurrences exactly."""
    df = docfeat if docfeat is not None else _dsir_docfeat(spark, sf_dir)
    src = df.groupBy("f").agg(F.sum("k").cast("long").alias("cs"))
    tgt = (
        df.filter(F.col("lang") == DSIR_TARGET_LANG)
        .groupBy("f")
        .agg(F.sum("k").cast("long").alias("ct"))
    )
    tot = src.agg(F.sum("cs").cast("long").alias("ts")).crossJoin(
        tgt.agg(F.coalesce(F.sum("ct"), F.lit(0)).cast("long").alias("tt"))
    )
    return (
        src.join(F.broadcast(tgt), "f", "left")
        .withColumn("ct", F.coalesce("ct", F.lit(0)))
        .crossJoin(F.broadcast(tot))
        .select("f", F.expr(_dsir_logratio_sql()).alias("lr"))
    )


@REG.add(
    "pipe_dsir_weights",
    _dsir_oracle_sql(),
    doc=f"DSIR importance weights (Xie et al. 2023): per-document "
    f"log w = sum over hashed bigram features (md5 -> {DSIR_BUCKETS} "
    "buckets) of count x ln(p_target/p_source), add-one smoothed, "
    f"target = the '{DSIR_TARGET_LANG}' slice, source = the whole "
    "corpus — the standard pretraining data-selection score, feeding "
    "weighted resampling (smp5's machinery takes it from here).  "
    "Per-feature log-ratios are 6dp-rounded into DECIMAL before the "
    "per-doc sum (exact, order-free).  Scale shape: BOTH unigram "
    f"feature models are fixed-size ({DSIR_BUCKETS} counts) no matter "
    "the corpus — one grouped count each, broadcast back over the "
    "per-doc feature counts (map-side combined); nothing corpus-"
    "quadratic, nothing collected.  That fixed-size property is why "
    "DSIR scales to full CommonCrawl in the paper.  Discriminative "
    "property (target-language docs score higher mean log-weight) and "
    "bigram-count reconciliation pytest-pinned.",
)
def pipe_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE explode+md5 pass: the checkpointed docfeat feeds the ratio
    # table's two fixed-size models AND the per-doc weight sums (round
    # 13 — was 3 corpus passes; measured ~2x on the weights wall)
    docfeat = _dsir_docfeat(spark, sf_dir)
    ratio = dsir_ratio_table(spark, sf_dir, docfeat=docfeat)
    return (
        docfeat.select("doc_id", "f", "k")
        .join(F.broadcast(ratio), "f")
        .groupBy("doc_id")
        .agg(
            F.sum("k").cast("long").alias("n_feats"),
            F.sum(F.col("k") * F.col("lr")).cast("double").alias("dsir_logw"),
        )
    )


# DSIR stage 2 — importance RESAMPLING (the paper's actual selection
# step): draw K documents with probability proportional to w(x) via the
# Gumbel-max trick (top-K of log w + Gumbel noise == sampling without
# replacement proportional to w — Vieira 2014's "Gumbel-max trick"
# exposition; the log-domain form never exponentiates the weights, so
# log-weights spanning [-30, +10] stay finite).  Seeded like every
# sampler in the repo: u from the md5 u16 draw, mapped to (0,1) as
# (u16+1)/65537 so neither log endpoint is reachable; the key is
# 9dp-rounded (the smp5 convention) so libm ULP drift can't flip a
# boundary rank.
DSIR_SAMPLE_K = 100
DSIR_GUMBEL_SEED = "dsirg"


def _dsir_resample_oracle() -> str:
    from ..functions.expressions import hex4_sql

    u16 = hex4_sql(f"md5('{DSIR_GUMBEL_SEED}-' || CAST(doc_id AS VARCHAR))")
    model = _DSIR_MODEL_SQL.format(hex4=_dsir_hex4())
    return f"""
    WITH {model},
    w AS (
        SELECT d.doc_id,
               CAST(SUM(d.k) AS BIGINT) AS n_feats,
               CAST(SUM(d.k * r.lr) AS DOUBLE) AS dsir_logw
        FROM docfeat d JOIN ratio r ON r.f = d.f
        GROUP BY d.doc_id
    ),
    keyed AS (
        SELECT doc_id, n_feats, dsir_logw,
               ROUND(dsir_logw - LN(-LN(({u16} + 1) / 65537.0)), 9) AS gumbel_key
        FROM w
    )
    SELECT doc_id, n_feats, dsir_logw, gumbel_key, rank FROM (
        SELECT *, ROW_NUMBER() OVER (ORDER BY gumbel_key DESC, doc_id) AS rank
        FROM keyed
    ) WHERE rank <= {DSIR_SAMPLE_K}
    """


@REG.add(
    "pipe_dsir_resample",
    _dsir_resample_oracle(),
    doc=f"DSIR stage 2, importance RESAMPLING (Xie et al. 2023): "
    f"top-{DSIR_SAMPLE_K} documents by log w + seeded Gumbel noise — "
    "the Gumbel-max trick makes top-K selection equal to sampling "
    "without replacement proportional to the importance weight, "
    "entirely in log domain (weights spanning e^-30..e^10 never "
    "overflow; u is mapped to (0,1) as (u16+1)/65537 so neither log "
    "endpoint is reachable).  Composes pipe_dsir_weights end-to-end: "
    "this is the table a data-selection run actually materializes.  "
    "Keys are "
    "9dp-rounded (the smp5 convention) with doc_id tiebreaks; the "
    f"top-{DSIR_SAMPLE_K} rides TakeOrderedAndProject (per-partition "
    "heaps + merge, plan-asserted) — never a corpus-wide sort.  "
    "Selection-bias property (sample mean log-weight > corpus mean) "
    "pytest-pinned.",
)
def pipe_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.expressions import det_hash_hex, hex4_to_int

    w = pipe_dsir_weights(spark, sf_dir)
    u = (hex4_to_int(det_hash_hex("doc_id", seed=DSIR_GUMBEL_SEED)) + 1) / F.lit(65537.0)
    keyed = w.withColumn(
        "gumbel_key", F.round(F.col("dsir_logw") - F.log(-F.log(u)), 9)
    )
    top = keyed.orderBy(F.desc("gumbel_key"), "doc_id").limit(DSIR_SAMPLE_K)
    rank = F.row_number().over(
        Window.orderBy(F.desc("gumbel_key"), "doc_id")
    )
    return top.withColumn("rank", rank).select(
        "doc_id", "n_feats", "dsir_logw", "gumbel_key", "rank"
    )


# ---------------------------------------------------------------------------
# Gopher / MassiveText quality rules (round 11): Rae et al. 2021
# ("Scaling Language Models: Methods, Analysis & Insights from Training
# Gopher", Appendix A1) — the rule battery that became the standard
# heuristic pre-filter (reused by MassiveText, RefinedWeb, FineWeb,
# Dolma): word-count bounds, mean-word-length window, symbol-to-word
# ratio, alphabetic-word ratio, minimum stopword evidence.  Complements
# pipe_quality_gate (which composes repetition + LM score): these are
# the cheap per-row rules a pipeline runs FIRST, before anything that
# needs a model or a shuffle.  Thresholds follow the paper's shape with
# the word-count floor scaled to this corpus' document lengths (the
# paper's 50-word floor on web pages ≈ a 30-word floor on these
# ~60-word synthetic docs); every rule is a pure per-row expression —
# no shuffle, fully pushed into the scan stage at any corpus size.
# ---------------------------------------------------------------------------

GOPHER_MIN_WORDS = 30
GOPHER_MAX_WORDS = 10_000
GOPHER_MIN_MEAN_WLEN = 3.0
GOPHER_MAX_MEAN_WLEN = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MIN_ALPHA_RATIO = 0.8
GOPHER_MIN_STOPWORDS = 2


def _gopher_metrics_sql(src: str = "documents") -> str:
    """The per-document metric block over any relation carrying
    (doc_id, text) — shared by the batch rule battery and the streaming
    gate oracle (the _DSIR_MODEL_SQL convention).

    Stopword counting is exact token membership, NOT the replace-based
    needle count (replace scans non-overlapping: adjacent repeats like
    "a a" share the boundary space and undercount — caught by the
    independent-reference test; the Gopher rule counts stopword
    OCCURRENCES)."""
    stop_list = ", ".join(f"'{w}'" for w in STOPWORDS)
    stop_hits = (
        f"len(list_filter(string_split(text, ' '), w -> w IN ({stop_list})))"
    )
    wc = "(length(text) - length(replace(text, ' ', '')) + 1)"
    chars = "(length(text) - (length(text) - length(replace(text, ' ', ''))))"
    n_hash = "(length(text) - length(replace(text, '#', '')))"
    n_ell = "((length(text) - length(replace(text, '...', ''))) / 3)"
    alpha = "len(list_filter(string_split(text, ' '), w -> regexp_matches(w, '[a-z]')))"
    return f"""
        SELECT doc_id,
               CAST({wc} AS BIGINT) AS word_count,
               {chars} / CAST({wc} AS DOUBLE) AS mean_word_len,
               ({n_hash} + {n_ell}) / CAST({wc} AS DOUBLE) AS symbol_ratio,
               {alpha} / CAST({wc} AS DOUBLE) AS alpha_word_ratio,
               CAST({stop_hits} AS BIGINT) AS stopword_hits
        FROM {src}
    """


# per-rule predicates over the metric columns — one rendering shared by
# the batch oracle (conjunction) and the streaming gate oracle
# (per-rule failure counts)
_GOPHER_RULES_SQL = {
    "word_count": f"(word_count BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS})",
    "mean_word_len": (
        f"(mean_word_len >= {GOPHER_MIN_MEAN_WLEN!r}"
        f" AND mean_word_len <= {GOPHER_MAX_MEAN_WLEN!r})"
    ),
    "symbol_ratio": f"(symbol_ratio <= {GOPHER_MAX_SYMBOL_RATIO!r})",
    "alpha_ratio": f"(alpha_word_ratio >= {GOPHER_MIN_ALPHA_RATIO!r})",
    "stopwords": f"(stopword_hits >= {GOPHER_MIN_STOPWORDS})",
}

_GOPHER_PASS_SQL = " AND ".join(_GOPHER_RULES_SQL.values())


def _gopher_oracle_sql() -> str:
    return f"""
    WITH m AS ({_gopher_metrics_sql()})
    SELECT doc_id, word_count,
           CAST(ROUND(mean_word_len, 6) AS DOUBLE) AS mean_word_len,
           CAST(ROUND(symbol_ratio, 6) AS DOUBLE) AS symbol_ratio,
           CAST(ROUND(alpha_word_ratio, 6) AS DOUBLE) AS alpha_word_ratio,
           stopword_hits,
           word_count BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS} AS ok_word_count,
           mean_word_len >= {GOPHER_MIN_MEAN_WLEN!r} AND mean_word_len <= {GOPHER_MAX_MEAN_WLEN!r} AS ok_mean_word_len,
           symbol_ratio <= {GOPHER_MAX_SYMBOL_RATIO!r} AS ok_symbol_ratio,
           alpha_word_ratio >= {GOPHER_MIN_ALPHA_RATIO!r} AS ok_alpha_ratio,
           stopword_hits >= {GOPHER_MIN_STOPWORDS} AS ok_stopwords,
           {_GOPHER_PASS_SQL} AS passed
    FROM m
    """


@REG.add(
    "pipe_gopher_rules",
    _gopher_oracle_sql(),
    doc="Gopher/MassiveText quality-rule battery (Rae et al. 2021, "
    "Appendix A1 — the heuristic pre-filter RefinedWeb/FineWeb/Dolma "
    "descend from): per document, word-count bounds "
    f"[{GOPHER_MIN_WORDS}, {GOPHER_MAX_WORDS}], mean word length in "
    f"[{GOPHER_MIN_MEAN_WLEN}, {GOPHER_MAX_MEAN_WLEN}], symbol-to-word "
    f"ratio (hash + ellipsis) <= {GOPHER_MAX_SYMBOL_RATIO}, alphabetic-"
    f"word ratio >= {GOPHER_MIN_ALPHA_RATIO}, and >= "
    f"{GOPHER_MIN_STOPWORDS} stopword hits — each reported as its own "
    "flag plus the conjunction, so downstream consumers see WHY a "
    "document failed (the decision-table idiom of priv_k_anonymity).  "
    "All comparisons are on doubles both engines derive identically "
    "from exact integer counts (IEEE division is correctly rounded, so "
    "no cross-engine boundary exists); reported ratios are 6dp-rounded "
    "for display only.  Complements pipe_quality_gate: these are the "
    "cheap rules a pipeline runs FIRST, before anything needing a "
    "model or a shuffle.  Pure per-row expressions: no shuffle, no "
    "join, fully pushed into the parquet scan at any corpus size.",
)
def pipe_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    return gopher_flagged(load_table(spark, sf_dir, "documents").select("doc_id", "text"))


def gopher_flagged(doc: DataFrame) -> DataFrame:
    """Append the Gopher metric + flag columns to any frame carrying
    (doc_id, text) — pure per-row expressions (streaming-safe), shared
    by the batch rule battery and the streaming gate so the two
    renderings of the rules cannot drift."""
    spaces = F.length("text") - F.length(F.expr("replace(text, ' ', '')"))
    wc = (spaces + 1).cast("long")
    chars = F.length("text") - spaces
    mean_wlen = chars / wc.cast("double")
    n_hash = F.length("text") - F.length(F.expr("replace(text, '#', '')"))
    n_ell = (F.length("text") - F.length(F.expr("replace(text, '...', '')"))) / 3
    symbol_ratio = (n_hash + n_ell) / wc.cast("double")
    alpha = F.size(F.filter(F.split("text", " "), lambda w: w.rlike("[a-z]")))
    alpha_ratio = alpha / wc.cast("double")
    # exact token membership (see oracle comment: replace-based needle
    # counting undercounts adjacent repeats)
    stop_hits = F.size(
        F.filter(F.split("text", " "), lambda w: w.isin(*STOPWORDS))
    ).cast("long")
    ok_wc = (wc >= GOPHER_MIN_WORDS) & (wc <= GOPHER_MAX_WORDS)
    ok_mwl = (mean_wlen >= GOPHER_MIN_MEAN_WLEN) & (mean_wlen <= GOPHER_MAX_MEAN_WLEN)
    ok_sym = symbol_ratio <= GOPHER_MAX_SYMBOL_RATIO
    ok_alpha = alpha_ratio >= GOPHER_MIN_ALPHA_RATIO
    ok_stop = stop_hits >= GOPHER_MIN_STOPWORDS
    passthrough = [c for c in doc.columns if c not in ("doc_id", "text")]
    return doc.select(
        "doc_id",
        *passthrough,
        wc.alias("word_count"),
        F.round(mean_wlen, 6).cast("double").alias("mean_word_len"),
        F.round(symbol_ratio, 6).cast("double").alias("symbol_ratio"),
        F.round(alpha_ratio, 6).cast("double").alias("alpha_word_ratio"),
        stop_hits.cast("long").alias("stopword_hits"),
        ok_wc.alias("ok_word_count"),
        ok_mwl.alias("ok_mean_word_len"),
        ok_sym.alias("ok_symbol_ratio"),
        ok_alpha.alias("ok_alpha_ratio"),
        ok_stop.alias("ok_stopwords"),
        (ok_wc & ok_mwl & ok_sym & ok_alpha & ok_stop).alias("passed"),
    )


# ---------------------------------------------------------------------------
# Gopher repetition rules (round 11, part 2 of the Rae et al. 2021 A1
# battery): the REPETITION thresholds over text_repetition's signals —
# duplicate-word fraction, most-frequent-word fraction, duplicate-
# 2-gram fraction — composing the existing signal query the way
# pipe_gopher_rules composes the per-row shape rules.  Thresholds keep
# the paper's form with cut points sited at this corpus' upper deciles
# (the paper's line/paragraph rules have no analog in a single-line
# synthetic corpus; word/2-gram fractions are its A1 n-gram family).
# ---------------------------------------------------------------------------

GOPHER_MAX_DUP_WORD_FRAC = 0.6
GOPHER_MAX_TOP_WORD_FRAC = 0.12
GOPHER_MAX_DUP_2GRAM_FRAC = 0.05

_GOPHER_REP_RULES_SQL = {
    "dup_word": f"(dup_word_frac <= {GOPHER_MAX_DUP_WORD_FRAC!r})",
    "top_word": f"(top_word_frac <= {GOPHER_MAX_TOP_WORD_FRAC!r})",
    "dup_2gram": f"(dup_2gram_frac <= {GOPHER_MAX_DUP_2GRAM_FRAC!r})",
}


def _gopher_rep_oracle() -> str:
    rep = REG.queries["text_repetition"].oracle
    flags = ",\n           ".join(
        f"{pred} AS ok_{key}" for key, pred in _GOPHER_REP_RULES_SQL.items()
    )
    conj = " AND ".join(_GOPHER_REP_RULES_SQL.values())
    return f"""
    WITH rep AS ({rep})
    SELECT doc_id, dup_word_frac, top_word_frac, dup_2gram_frac,
           {flags},
           {conj} AS passed
    FROM rep
    """


@REG.add(
    "pipe_gopher_repetition",
    _gopher_rep_oracle(),
    doc=f"Gopher repetition rules (Rae et al. 2021 A1, the n-gram "
    "repetition family — part 2 of the battery after "
    "pipe_gopher_rules' shape rules): duplicate-word fraction <= "
    f"{GOPHER_MAX_DUP_WORD_FRAC}, most-frequent-word fraction <= "
    f"{GOPHER_MAX_TOP_WORD_FRAC}, duplicate-2-gram fraction <= "
    f"{GOPHER_MAX_DUP_2GRAM_FRAC} — each its own flag plus the "
    "conjunction (the decision-table idiom), composed over "
    "text_repetition's signals (the oracle embeds that query's "
    "registered SQL verbatim, so the two renderings cannot drift).  "
    "The compares run on the 6dp-rounded doubles both engines derive "
    "identically.  Scale shape inherits text_repetition's: in-row "
    "higher-order-function work, scan -> project, zero shuffles.",
)
def pipe_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    rep = text_repetition(spark, sf_dir)
    ok_dup = F.col("dup_word_frac") <= GOPHER_MAX_DUP_WORD_FRAC
    ok_top = F.col("top_word_frac") <= GOPHER_MAX_TOP_WORD_FRAC
    ok_2g = F.col("dup_2gram_frac") <= GOPHER_MAX_DUP_2GRAM_FRAC
    return rep.select(
        "doc_id",
        "dup_word_frac",
        "top_word_frac",
        "dup_2gram_frac",
        ok_dup.alias("ok_dup_word"),
        ok_top.alias("ok_top_word"),
        ok_2g.alias("ok_dup_2gram"),
        (ok_dup & ok_top & ok_2g).alias("passed"),
    )


# ---------------------------------------------------------------------------
# learned quality classifier (round 12, VERDICT "Next round" #1): the
# fastText-style linear quality filter (Joulin et al. 2016; the
# GPT-3/LLaMA "quality classifier" curation stage — Brown et al. 2020
# train logistic regression over hashed features to separate a curated
# reference class from raw crawl, then gate the crawl on the margin).
# Here the model is a closed-form naive-Bayes fit — per-class add-one-
# smoothed hashed-bigram models whose log-odds difference IS a linear
# weight vector (the multinomial-NB <-> linear-classifier identity) —
# trained with WEAK supervision: the reference class is the slice of a
# bounded seeded sample that passes the Gopher rule battery (rules ->
# weak labels -> classifier, the standard bootstrap when no curated
# corpus ships with the data).  The machinery is deliberately the DSIR
# stack reused: same md5 feature hash family, same fixed-size
# (QCLF_BUCKETS per class) model no matter the corpus, same broadcast
# scoring join, same 6dp-DECIMAL exact-margin idiom — with a WEIGHT
# VECTOR + BIAS instead of a log-ratio table.
# ---------------------------------------------------------------------------

QCLF_BUCKETS = 1024
QCLF_SAMPLE_N = 200
QCLF_SEED = "qclf"
QCLF_SAMPLE_SEED = "qclfs"

# The MODEL CTE block (weak labels from the Gopher battery, the bounded
# seeded training sample, per-class hashed-bigram counts, the
# fixed-size weight vector over ALL buckets + the prior-log-odds bias)
# — shared by the batch decision table and the streaming gate's
# frozen-model oracle (the _DSIR_MODEL_SQL convention: two renderings
# of one model cannot drift).
def _qclf_model_sql() -> str:
    from ..functions.expressions import hex4_sql

    hex4 = hex4_sql(f"md5('{QCLF_SEED}-' || bg)")
    return f"""qm AS ({_gopher_metrics_sql()}),
    qlab AS (SELECT doc_id, {_GOPHER_PASS_SQL} AS pos FROM qm),
    qsamp AS (
        SELECT doc_id, pos FROM (
            SELECT doc_id, pos,
                   ROW_NUMBER() OVER (
                       ORDER BY md5('{QCLF_SAMPLE_SEED}-' || CAST(doc_id AS VARCHAR)),
                                doc_id) AS rk
            FROM qlab
        ) WHERE rk <= {QCLF_SAMPLE_N}
    ),
    qbig AS (
        SELECT doc_id, words[i] || ' ' || words[i+1] AS bg
        FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
             UNNEST(range(1, len(words))) AS t(i)
    ),
    qfeat AS (SELECT doc_id, {hex4} % {QCLF_BUCKETS} AS f FROM qbig),
    qcnt AS (
        SELECT q.f,
               CAST(SUM(CASE WHEN s.pos THEN 1 ELSE 0 END) AS BIGINT) AS cp,
               CAST(SUM(CASE WHEN NOT s.pos THEN 1 ELSE 0 END) AS BIGINT) AS cn
        FROM qfeat q JOIN qsamp s USING (doc_id) GROUP BY q.f
    ),
    qtot AS (
        SELECT CAST((SELECT COALESCE(SUM(cp), 0) FROM qcnt) AS BIGINT) AS tp,
               CAST((SELECT COALESCE(SUM(cn), 0) FROM qcnt) AS BIGINT) AS tn,
               CAST((SELECT COUNT(*) FROM qsamp WHERE pos) AS BIGINT) AS np,
               CAST((SELECT COUNT(*) FROM qsamp WHERE NOT pos) AS BIGINT) AS nn
    ),
    qw AS (
        SELECT r.f,
               CAST(ROUND(
                   LN((COALESCE(c.cp, 0) + 1) / CAST(tp + {QCLF_BUCKETS} AS DOUBLE))
                 - LN((COALESCE(c.cn, 0) + 1) / CAST(tn + {QCLF_BUCKETS} AS DOUBLE)),
                   6) AS DECIMAL(18,6)) AS w
        FROM range(0, {QCLF_BUCKETS}) AS r(f)
        LEFT JOIN qcnt c ON c.f = r.f CROSS JOIN qtot
    ),
    qb AS (
        SELECT CAST(ROUND(LN((np + 1) / CAST(nn + 1 AS DOUBLE)), 6)
                    AS DECIMAL(18,6)) AS b
        FROM qtot
    )"""


def _qclf_oracle_sql() -> str:
    return f"""
    WITH {_qclf_model_sql()},
    qdoc AS (SELECT doc_id, f, COUNT(*) AS k FROM qfeat GROUP BY 1, 2)
    SELECT d.doc_id,
           CAST(SUM(d.k) AS BIGINT) AS n_feats,
           CAST(qb.b + SUM(d.k * w.w) AS DOUBLE) AS margin,
           (qb.b + SUM(d.k * w.w)) > 0 AS kept
    FROM qdoc d JOIN qw w ON w.f = d.f CROSS JOIN qb
    GROUP BY d.doc_id, qb.b
    """


def qclf_feature(bg_col):
    """Spark twin of the classifier feature hash: md5(seed || bigram)
    -> bucket.  Same hash family as dsir_feature, distinct seed so the
    two models can't alias each other's buckets."""
    from ..functions.expressions import det_hash_hex, hex4_to_int

    return hex4_to_int(det_hash_hex(bg_col, seed=QCLF_SEED)) % QCLF_BUCKETS


def _qclf_feats_of(docs: DataFrame) -> DataFrame:
    """(doc_id, f) over any (doc_id, text) frame — split out (round 12)
    so the TRAINING pass can hash only the bounded sample's bigrams
    instead of re-running the corpus-wide explode the scoring pass
    already pays (see quality_clf_model)."""
    d = docs.select("doc_id", F.split("text", " ").alias("words"))
    pairs = F.transform(
        F.sequence(F.lit(0), F.size("words") - 2),
        lambda i: F.concat(F.get("words", i), F.lit(" "), F.get("words", i + 1)),
    )
    return (
        d.filter(F.size("words") >= 2)
        .select("doc_id", F.explode(pairs).alias("bg"))
        .select("doc_id", qclf_feature(F.col("bg")).alias("f"))
    )


def _qclf_docfeat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, f) — one row per hashed-bigram OCCURRENCE (the streaming
    gate consumes occurrence rows; the batch scorer groups them to
    per-doc counts)."""
    return _qclf_feats_of(
        load_table(spark, sf_dir, "documents")
        .repartition(spark.sparkContext.defaultParallelism)
        .select("doc_id", "text")
    )


def quality_clf_model(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(weights, bias) — the FROZEN linear model.  weights = the full
    fixed-size (f, w) vector over ALL QCLF_BUCKETS buckets (features
    unseen in training get the smoothed-prior weight, so every scored
    feature has a weight — frozen-model semantics, nothing drops at the
    scoring join); bias = the 1-row prior log-odds.  Training reads
    only the bounded QCLF_SAMPLE_N-doc seeded sample: the sample draw
    is orderBy(md5-rank).limit(n) — TakeOrdered (per-partition top-K,
    no full-sort exchange) over SKINNY (doc_id, pos) label rows, the
    production way to draw a seeded sample at any corpus size.  Weak
    labels come from gopher_flagged's pure per-row rule battery, so the
    labeling stage adds no shuffle.

    Round-12 training-pass restriction (guide §2.3 "don't compute what
    you throw away"): the seeded sample is drawn on SKINNY doc_ids
    FIRST — the md5 rank depends only on doc_id, so TakeOrdered over
    (rank, doc_id) id rows picks the identical QCLF_SAMPLE_N documents
    the old labeled-table rank picked — and the Gopher rule battery and
    the hashed-bigram explode then run over the sampled documents ONLY.
    Before, training re-ran both corpus-wide (a second full md5 pass on
    top of the scoring pass) and discarded everything outside the
    sample at the broadcast join; at crawler scale that is two full
    corpus passes for a fixed 200-doc fit.  Oracle-equivalent by
    construction (counts only ever aggregated sample rows); hash-green
    re-verified for all three consumers."""
    from ..functions.expressions import det_hash_hex
    from ..plans.explain import checkpoint_stage

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ids = (
        docs.select("doc_id")
        .orderBy(det_hash_hex("doc_id", seed=QCLF_SAMPLE_SEED), "doc_id")
        .limit(QCLF_SAMPLE_N)
    )
    # eager checkpoint of the QCLF_SAMPLE_N sampled docs: the model's
    # count/total/prior branches reference the sample from several
    # subtrees, and without materialization each reference re-scans the
    # corpus and re-runs the TakeOrdered draw (the curate.py stage-
    # boundary lesson) — the checkpointed table is sample-sized
    sdocs = checkpoint_stage(
        docs.join(F.broadcast(ids), "doc_id"), "qclf_sample_docs"
    )
    samp = gopher_flagged(sdocs).select("doc_id", F.col("passed").alias("pos"))
    cnt = (
        _qclf_feats_of(sdocs)
        .join(F.broadcast(samp), "doc_id")
        .groupBy("f")
        .agg(
            F.sum(F.when(F.col("pos"), 1).otherwise(0)).cast("long").alias("cp"),
            F.sum(F.when(~F.col("pos"), 1).otherwise(0)).cast("long").alias("cn"),
        )
    )
    tot = (
        cnt.agg(
            F.coalesce(F.sum("cp"), F.lit(0)).cast("long").alias("tp"),
            F.coalesce(F.sum("cn"), F.lit(0)).cast("long").alias("tn"),
        )
        .crossJoin(
            samp.agg(
                F.sum(F.when(F.col("pos"), 1).otherwise(0)).cast("long").alias("np"),
                F.sum(F.when(~F.col("pos"), 1).otherwise(0)).cast("long").alias("nn"),
            )
        )
    )
    w = F.round(
        F.log((F.coalesce(F.col("cp"), F.lit(0)) + 1)
              / (F.col("tp") + QCLF_BUCKETS).cast("double"))
        - F.log((F.coalesce(F.col("cn"), F.lit(0)) + 1)
                / (F.col("tn") + QCLF_BUCKETS).cast("double")),
        6,
    ).cast("decimal(18,6)")
    weights = (
        spark.range(QCLF_BUCKETS)
        .select(F.col("id").alias("f"))
        .join(F.broadcast(cnt), "f", "left")
        .crossJoin(F.broadcast(tot))
        .select("f", w.alias("w"))
    )
    bias = tot.select(
        F.round(
            F.log((F.col("np") + 1) / (F.col("nn") + 1).cast("double")), 6
        )
        .cast("decimal(18,6)")
        .alias("b")
    )
    return weights, bias


@REG.add(
    "pipe_quality_classifier",
    _qclf_oracle_sql(),
    doc="Learned quality classifier (Joulin et al. 2016 fastText; the "
    "GPT-3/LLaMA quality-filter pattern, Brown et al. 2020): a FROZEN "
    f"linear model over md5-hashed bigram features ({QCLF_BUCKETS} "
    "buckets) scores every document and the margin's sign is the "
    "keep/drop decision table (doc_id, n_feats, margin, kept).  The "
    "model is a closed-form naive-Bayes fit — per-class add-one-"
    "smoothed feature models whose log-odds difference is the weight "
    "vector, prior log-odds the bias — trained with WEAK supervision "
    f"on a bounded {QCLF_SAMPLE_N}-doc seeded md5-rank sample, "
    "reference class = the sample slice passing the Gopher rule "
    "battery (rules -> weak labels -> classifier, the bootstrap used "
    "when no curated corpus ships with the crawl).  Engine-exact: "
    "per-bucket weights and the bias are 6dp-DECIMAL, the per-doc "
    "margin is an exact DECIMAL sum (order-free), and kept compares "
    "the DECIMAL margin to zero BEFORE the display cast to double — "
    "no ULP boundary between engines.  Scale shape (the DSIR shape): "
    "the model is fixed-size no matter the corpus; training reads only "
    "the bounded sample (label rules are per-row, the sample draw is "
    "TakeOrdered on skinny rows); scoring is one broadcast hash join "
    "of the ~"
    f"{QCLF_BUCKETS}-row weight vector over map-side-combined per-doc "
    "feature counts.  Single-word documents emit no features and route "
    "to the unscorable filter, as in the CCNet/DSIR twins.",
)
def pipe_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    weights, bias = quality_clf_model(spark, sf_dir)
    docfeat = (
        _qclf_docfeat(spark, sf_dir)
        .groupBy("doc_id", "f")
        .agg(F.count("*").alias("k"))
    )
    return (
        docfeat.join(F.broadcast(weights), "f")
        .crossJoin(F.broadcast(bias))
        .groupBy("doc_id", "b")
        .agg(
            F.sum("k").cast("long").alias("n_feats"),
            F.sum(F.col("k") * F.col("w")).alias("t"),
        )
        .select(
            "doc_id",
            "n_feats",
            (F.col("b") + F.col("t")).cast("double").alias("margin"),
            ((F.col("b") + F.col("t")) > 0).alias("kept"),
        )
    )


# ---------------------------------------------------------------------------
# classifier calibration sweep (round 12, companion to
# pipe_quality_classifier): before a quality filter ships, its
# operating point is chosen from a threshold sweep against the labels —
# precision/recall per candidate cut (the PR-curve-as-a-table every
# filter deployment reads; GPT-3's appendix picks its Pareto point the
# same way).  Here the sweep grades the frozen NB-linear margin against
# the Gopher weak labels over the WHOLE corpus (training saw only the
# bounded sample, so this is honest held-out-mostly evaluation).
# ---------------------------------------------------------------------------

QCLF_GRID_LO = -6  # thresholds t/2 for t in [-6, 6] -> -3.0 .. 3.0 step 0.5
QCLF_GRID_HI = 6


def _qclf_calibration_oracle() -> str:
    return f"""
    WITH {_qclf_model_sql()},
    qdoc AS (SELECT doc_id, f, COUNT(*) AS k FROM qfeat GROUP BY 1, 2),
    qsc AS (
        SELECT d.doc_id, CAST(qb.b + SUM(d.k * w.w) AS DOUBLE) AS m
        FROM qdoc d JOIN qw w ON w.f = d.f CROSS JOIN qb
        GROUP BY d.doc_id, qb.b
    ),
    qgrid AS (
        SELECT CAST(t AS DOUBLE) / 2 AS threshold
        FROM range({QCLF_GRID_LO}, {QCLF_GRID_HI} + 1) AS r(t)
    )
    SELECT g.threshold,
           CAST(COUNT(*) AS BIGINT) AS n_scored,
           CAST(SUM(CASE WHEN s.m >= g.threshold THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN s.m >= g.threshold AND l.pos THEN 1 ELSE 0 END) AS BIGINT) AS tp,
           CAST(SUM(CASE WHEN s.m >= g.threshold AND NOT l.pos THEN 1 ELSE 0 END) AS BIGINT) AS fp,
           CAST(SUM(CASE WHEN s.m < g.threshold AND l.pos THEN 1 ELSE 0 END) AS BIGINT) AS fn,
           CAST(ROUND(SUM(CASE WHEN s.m >= g.threshold AND l.pos THEN 1 ELSE 0 END)
                 / NULLIF(CAST(SUM(CASE WHEN s.m >= g.threshold THEN 1 ELSE 0 END) AS DOUBLE), 0), 6) AS DOUBLE) AS precision_,
           CAST(ROUND(SUM(CASE WHEN s.m >= g.threshold AND l.pos THEN 1 ELSE 0 END)
                 / NULLIF(CAST(SUM(CASE WHEN l.pos THEN 1 ELSE 0 END) AS DOUBLE), 0), 6) AS DOUBLE) AS recall_
    FROM qsc s JOIN qlab l USING (doc_id) CROSS JOIN qgrid g
    GROUP BY g.threshold
    """


@REG.add(
    "pipe_quality_classifier_calibration",
    _qclf_calibration_oracle(),
    doc="Operating-point calibration for the learned quality filter "
    "(the PR-sweep table a filter deployment reads before freezing its "
    "threshold — the GPT-3 appendix ritual): the frozen NB-linear "
    "margin is graded against the Gopher weak labels over the WHOLE "
    "corpus at 13 candidate thresholds (-3.0..3.0 step 0.5), emitting "
    "kept/tp/fp/fn counts plus 6dp-rounded precision and recall "
    "(NULL-guarded on empty classes).  The margin compare uses the "
    "deterministic DOUBLE cast of the exact DECIMAL margin against "
    "exactly-representable half-integer thresholds — no cross-engine "
    "boundary.  Scale shape: the scoring stage is "
    "pipe_quality_classifier's (fixed-size model broadcast over "
    "map-side-combined counts); the sweep itself is a 13-row broadcast "
    "cross join collapsed by one grouped aggregation over skinny "
    "(margin, label) rows — the whole PR curve in a single pass, no "
    "per-threshold rescans.",
)
def pipe_quality_classifier_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    weights, bias = quality_clf_model(spark, sf_dir)
    labels = gopher_flagged(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ).select("doc_id", F.col("passed").alias("pos"))
    scores = (
        _qclf_docfeat(spark, sf_dir)
        .groupBy("doc_id", "f")
        .agg(F.count("*").alias("k"))
        .join(F.broadcast(weights), "f")
        .crossJoin(F.broadcast(bias))
        .groupBy("doc_id", "b")
        .agg(F.sum(F.col("k") * F.col("w")).alias("t"))
        .select("doc_id", (F.col("b") + F.col("t")).cast("double").alias("m"))
    )
    grid = spark.range(QCLF_GRID_LO, QCLF_GRID_HI + 1).select(
        (F.col("id").cast("double") / 2).alias("threshold")
    )
    kept = F.col("m") >= F.col("threshold")
    return (
        scores.join(labels, "doc_id")
        .crossJoin(F.broadcast(grid))
        .groupBy("threshold")
        .agg(
            F.count("*").cast("long").alias("n_scored"),
            F.sum(kept.cast("int")).cast("long").alias("n_kept"),
            F.sum((kept & F.col("pos")).cast("int")).cast("long").alias("tp"),
            F.sum((kept & ~F.col("pos")).cast("int")).cast("long").alias("fp"),
            F.sum((~kept & F.col("pos")).cast("int")).cast("long").alias("fn"),
        )
        .select(
            "threshold",
            "n_scored",
            "n_kept",
            "tp",
            "fp",
            "fn",
            F.round(
                F.col("tp")
                / F.nullif(F.col("n_kept").cast("double"), F.lit(0.0)),
                6,
            )
            .cast("double")
            .alias("precision_"),
            F.round(
                F.col("tp")
                / F.nullif((F.col("tp") + F.col("fn")).cast("double"), F.lit(0.0)),
                6,
            )
            .cast("double")
            .alias("recall_"),
        )
    )
