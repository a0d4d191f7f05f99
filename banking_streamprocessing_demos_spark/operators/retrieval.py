"""Lexical retrieval over the documents table: BM25 ranking and
reciprocal-rank fusion — the keyword half of a hybrid RAG retrieval
stack (the ANN half lives in similarity.py / pq.py).

BM25 (Robertson et al., Okapi TREC-3; the Lucene/Elasticsearch default
scorer) ranks documents for a query by summing per-term contributions

    idf(t) * tf / (tf + k1 * (1 - b + b * dl / avgdl))

with the Lucene idf = ln(1 + (N - df + 0.5) / (df + 0.5)), k1 = 1.2,
b = 0.75.  Unlike TF-IDF (text_tfidf_topk, which extracts keywords
PER DOCUMENT), BM25 is a query-time scorer: tf saturates (a term
appearing 20x is not 20x more relevant) and long documents are
penalized toward the corpus mean length — the properties that made it
the lexical baseline nothing quite beats.

Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR 2009) is
the standard way production search merges heterogeneous rankings
(Elasticsearch/OpenSearch/Vespa hybrid mode): each source contributes
1 / (k + rank) with k = 60, summed per document — rank-only, so
score scales never have to be calibrated across sources.

Determinism contract (the repo's standing treatment for scored
rankings): every per-term / per-source contribution is ROUND(x, 6)
into DECIMAL(18,6) BEFORE summing, so the total is exact integer
arithmetic and order-independent in both engines; final ordering
tiebreaks on doc_id.

Scale shape: tokenize -> per-(doc, term) tf filtered to the query's
terms (the filter rides the explode, so the tf shuffle carries only
query-term rows — |Q| * N_docs worst case, not the corpus token
count); df and the length stats are two skinny aggregates broadcast
back; ranking is one window.  Nothing quadratic, nothing collected.

Reference parity: the reference engine has no text retrieval (SURVEY
§2 north-star extension, same stance as similarity.py); this family
follows its deterministic oracle-checked query surface philosophy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table
from . import Registry

REG = Registry()

# Fixed query: common corpus terms (the synthetic vocabulary is a
# closed set, so idf spread is mild and the discriminative signal is
# tf saturation + length normalization — which is exactly what BM25
# adds over TF-IDF).
BM25_QUERY = ("hash", "join", "window")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPN = 10

RRF_K = 60
RRF_DEPTH = 20  # fuse the top-20 of each source ranking
RRF_TOPN = 10


def _query_terms_sql() -> str:
    return ", ".join(f"'{t}'" for t in BM25_QUERY)


# Per-term BM25 contribution, rendered identically for both engines
# (idf and the tf normalization are double math; the 6dp round into
# DECIMAL(18,6) before the per-doc sum is what makes the total exact).
def _bm25_term_sql(tf: str, dl: str) -> str:
    return (
        f"CAST(ROUND(LN(1 + (n - dfq + 0.5) / (dfq + 0.5)) * {tf} / "
        f"({tf} + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * {dl} / avgdl)), 6) "
        f"AS DECIMAL(18,6))"
    )


def _bm25_sql(topn: int) -> str:
    """Full BM25 ranking SQL cut at ``topn`` — the single generator every
    consumer (the registered query, the RRF fusion pool, the MMR pool)
    builds from, so pool depths are parameters rather than textual
    surgery on a shared literal (a ``.replace`` on ``BM25_SQL`` silently
    no-ops on any reformat or a BM25_TOPN==depth collision — round-9
    ADVICE)."""
    return f"""
    WITH dl AS (
        SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
        FROM documents
    ),
    stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
        FROM dl
    ),
    tf AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM (
            SELECT doc_id, UNNEST(string_split(text, ' ')) AS term FROM documents
        ) WHERE term IN ({_query_terms_sql()})
        GROUP BY 1, 2
    ),
    dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS dfq FROM tf GROUP BY 1),
    contrib AS (
        SELECT tf.doc_id, {_bm25_term_sql("tf.tf", "dl.dl")} AS c
        FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
    ),
    scored AS (
        SELECT doc_id, CAST(SUM(c) AS DOUBLE) AS bm25,
               CAST(COUNT(*) AS BIGINT) AS n_terms
        FROM contrib GROUP BY doc_id
    )
    SELECT doc_id, bm25, n_terms, rank FROM (
        SELECT *, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rank
        FROM scored
    ) WHERE rank <= {topn}
"""


BM25_SQL = _bm25_sql(BM25_TOPN)


def _global_topn(df: DataFrame, score_col: str, n: int) -> DataFrame:
    """Deterministic global top-``n`` with a rank column, WITHOUT a
    global-sort window over the corpus-sized input: orderBy().limit(n)
    compiles to TakeOrderedAndProject (per-partition partial top-n,
    merged once) — the plan that survives 100x scale — and the
    row_number window then runs over the n-row result only (its
    single-partition exchange is bounded by construction)."""
    w = Window.orderBy(F.col(score_col).desc(), "doc_id")
    return (
        df.orderBy(F.col(score_col).desc(), "doc_id")
        .limit(n)
        .withColumn("rank", F.row_number().over(w))
    )


def _bm25_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, bm25, n_terms) for every document matching >= 1 query
    term — the full scored relation ahead of the top-N cut (shared
    with the RRF fusion below)."""
    doc = load_table(spark, sf_dir, "documents")
    stats = doc.select(F.size(F.split("text", " ")).cast("long").alias("dl")).agg(
        F.count("*").cast("long").alias("n"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    )
    # dl rides the tokenize scan as a grouping key (functionally
    # dependent on doc_id, so cardinality is unchanged) — the first cut
    # joined a separate corpus-sized (doc_id, dl) relation back in, and
    # the plan read showed Spark BROADCASTING it (fine at sf0.1, wrong
    # at 100 TB); carrying it through the aggregation deletes that join
    # and the second documents scan outright.
    tf = (
        doc.select(
            "doc_id",
            F.size(F.split("text", " ")).cast("long").alias("dl"),
            F.explode(F.split("text", " ")).alias("term"),
        )
        .filter(F.col("term").isin(*BM25_QUERY))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count("*").cast("long").alias("dfq"))
    contrib = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn("c", F.expr(_bm25_term_sql("tf", "dl")))
    )
    return contrib.groupBy("doc_id").agg(
        F.sum("c").cast("double").alias("bm25"),
        F.count("*").cast("long").alias("n_terms"),
    )


@REG.add(
    "text_bm25_search",
    BM25_SQL,
    doc=f"BM25 query-time ranking (Okapi/Lucene scorer, k1={BM25_K1}, "
    f"b={BM25_B}): top-{BM25_TOPN} documents for the fixed query "
    f"{BM25_QUERY}, with tf saturation and length normalization toward "
    "the corpus mean — the lexical retrieval baseline, complementing "
    "the ANN family (this is the keyword half of a hybrid RAG stack).  "
    "Per-term contributions are 6dp-rounded into DECIMAL before the "
    "per-doc sum (exact, order-independent in both engines); ranking "
    "tiebreaks on doc_id.  Scale shape: the term filter rides the "
    "tokenize explode so the tf shuffle carries only query-term rows; "
    "df and the length stats are skinny broadcast aggregates; the "
    "global top-N is TakeOrderedAndProject (per-partition partial "
    "top-N, merged once — plan-asserted), never a corpus-wide "
    "single-partition sort window.  Nothing quadratic, nothing "
    "collected.  Score recomputed from first principles in "
    "tests/test_retrieval.py.",
)
def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = _bm25_scored(spark, sf_dir)
    return _global_topn(scored, "bm25", BM25_TOPN).select("doc_id", "bm25", "n_terms", "rank")


# The second source ranking for the fusion: sum of TF-IDF over the
# query terms (text_tfidf_topk's smoothed idf = ln((N+1)/(df+1)),
# reused as a query-time scorer) — deliberately a DIFFERENT lexical
# model so the fusion demonstrably reconciles disagreeing rankings
# (BM25 saturates tf and normalizes length; TF-IDF is linear in tf
# and length-blind).
TFIDF_RANK_SQL = f"""
    WITH tf AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM (
            SELECT doc_id, UNNEST(string_split(text, ' ')) AS term FROM documents
        ) WHERE term IN ({_query_terms_sql()})
        GROUP BY 1, 2
    ),
    dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS dfq FROM tf GROUP BY 1),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
    contrib AS (
        SELECT tf.doc_id,
               CAST(ROUND(tf.tf * LN((n + 1.0) / (dfq + 1.0)), 6)
                    AS DECIMAL(18,6)) AS c
        FROM tf JOIN dfreq USING (term) CROSS JOIN n
    )
    SELECT doc_id, CAST(SUM(c) AS DOUBLE) AS tfidf FROM contrib GROUP BY doc_id
"""


RRF_SQL = f"""
    WITH bm25_full AS ({_bm25_sql(RRF_DEPTH)}),
    tfidf_scored AS ({TFIDF_RANK_SQL}),
    tfidf_full AS (
        SELECT doc_id, rank FROM (
            SELECT doc_id, ROW_NUMBER() OVER (ORDER BY tfidf DESC, doc_id) AS rank
            FROM tfidf_scored
        ) WHERE rank <= {RRF_DEPTH}
    ),
    contribs AS (
        SELECT doc_id, CAST(ROUND(1.0 / ({RRF_K} + rank), 6) AS DECIMAL(18,6)) AS c,
               rank, 'bm25' AS source
        FROM bm25_full
        UNION ALL
        SELECT doc_id, CAST(ROUND(1.0 / ({RRF_K} + rank), 6) AS DECIMAL(18,6)) AS c,
               rank, 'tfidf' AS source
        FROM tfidf_full
    ),
    fused AS (
        SELECT doc_id, CAST(SUM(c) AS DOUBLE) AS rrf_score,
               CAST(COUNT(*) AS BIGINT) AS n_sources
        FROM contribs GROUP BY doc_id
    )
    SELECT doc_id, rrf_score, n_sources, rank FROM (
        SELECT *, ROW_NUMBER() OVER (ORDER BY rrf_score DESC, doc_id) AS rank
        FROM fused
    ) WHERE rank <= {RRF_TOPN}
"""


@REG.add(
    "rank_fusion_rrf",
    RRF_SQL,
    doc=f"Reciprocal-rank fusion (Cormack et al. 2009, k={RRF_K}) of two "
    f"disagreeing lexical rankings for the query {BM25_QUERY}: BM25 "
    "(saturating, length-normalized) and query-TF-IDF (linear, "
    f"length-blind), each cut at depth {RRF_DEPTH}, fused as "
    f"sum(1/({RRF_K}+rank)) per doc — the production hybrid-search "
    "merge (Elasticsearch/OpenSearch/Vespa shape): rank-only, so "
    "score scales never need calibrating across sources; an ANN "
    "ranking drops into the same union unchanged.  Contributions are "
    "6dp-rounded into DECIMAL before summing (exact, order-free); "
    "all tiebreaks on doc_id; fusion arithmetic recomputed "
    "independently in tests/test_retrieval.py.  Scale shape: each "
    "source ranking is the family's own bounded plan; the fusion "
    "itself touches only "
    f"2 x {RRF_DEPTH} rows.",
)
def rank_fusion_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # both source rankings, cut at fusion depth
    scored = _bm25_scored(spark, sf_dir)
    bm25_full = _global_topn(scored, "bm25", RRF_DEPTH).select("doc_id", "rank")

    doc = load_table(spark, sf_dir, "documents")
    tf = (
        doc.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .filter(F.col("term").isin(*BM25_QUERY))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count("*").cast("long").alias("dfq"))
    n = doc.agg(F.count("*").cast("long").alias("n"))
    tfidf = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "c",
            F.round(F.col("tf") * F.log((F.col("n") + 1.0) / (F.col("dfq") + 1.0)), 6).cast(
                "decimal(18,6)"
            ),
        )
        .groupBy("doc_id")
        .agg(F.sum("c").cast("double").alias("tfidf"))
    )
    tfidf_full = _global_topn(tfidf, "tfidf", RRF_DEPTH).select("doc_id", "rank")

    rrf_c = F.round(1.0 / (F.lit(RRF_K) + F.col("rank")), 6).cast("decimal(18,6)")
    contribs = bm25_full.withColumn("c", rrf_c).unionByName(tfidf_full.withColumn("c", rrf_c))
    fused = contribs.groupBy("doc_id").agg(
        F.sum("c").cast("double").alias("rrf_score"),
        F.count("*").cast("long").alias("n_sources"),
    )
    return _global_topn(fused, "rrf_score", RRF_TOPN).select(
        "doc_id", "rrf_score", "n_sources", "rank"
    )


# ---------------------------------------------------------------------------
# HYBRID rank fusion (round-10): BM25 + a true ANN ranking through the
# IDENTICAL 1/(k+rank) union — the claim rank_fusion_rrf's docstring
# makes ("an ANN ranking drops into the same union unchanged"),
# executed.  This is the actual production hybrid-search shape
# (Elasticsearch/OpenSearch/Vespa "hybrid mode"): one lexical ranking,
# one vector ranking, fused rank-only so the incomparable score scales
# (BM25 sums vs cosines) never need calibrating.  The ANN side is
# sim_ann_ivf's coarse-probe + exact-rerank plan for ONE standing query
# vector, cut at fusion depth; ids are fused directly — in a hybrid
# corpus the embedding ids ARE the document ids (embeddings[i] embeds
# documents[i]), the standard RAG layout.
# ---------------------------------------------------------------------------

HYBRID_QUERY_VEC = 0  # the standing query vector's vec_id


def _hybrid_oracle_sql() -> str:
    from .similarity import _ivf_oracle_sql

    return f"""
    WITH bm25_full AS ({_bm25_sql(RRF_DEPTH)}),
    ann_full AS (
        SELECT neighbor_id AS doc_id, rank
        FROM ({_ivf_oracle_sql(RRF_DEPTH)})
        WHERE query_id = {HYBRID_QUERY_VEC}
    ),
    contribs AS (
        SELECT doc_id, CAST(ROUND(1.0 / ({RRF_K} + rank), 6) AS DECIMAL(18,6)) AS c
        FROM bm25_full
        UNION ALL
        SELECT doc_id, CAST(ROUND(1.0 / ({RRF_K} + rank), 6) AS DECIMAL(18,6)) AS c
        FROM ann_full
    ),
    fused AS (
        SELECT doc_id, CAST(SUM(c) AS DOUBLE) AS rrf_score,
               CAST(COUNT(*) AS BIGINT) AS n_sources
        FROM contribs GROUP BY doc_id
    )
    SELECT doc_id, rrf_score, n_sources, rank FROM (
        SELECT *, ROW_NUMBER() OVER (ORDER BY rrf_score DESC, doc_id) AS rank
        FROM fused
    ) WHERE rank <= {RRF_TOPN}
"""


@REG.add(
    "rank_fusion_hybrid",
    _hybrid_oracle_sql(),
    doc=f"HYBRID reciprocal-rank fusion (Cormack et al. 2009, k={RRF_K}): "
    f"the BM25 top-{RRF_DEPTH} for the query {BM25_QUERY} fused with the "
    f"IVF-ANN top-{RRF_DEPTH} for the standing query vector "
    f"(vec_id={HYBRID_QUERY_VEC}) through the IDENTICAL 1/(k+rank) "
    "union as rank_fusion_rrf — the executed proof that an ANN ranking "
    "drops into the fusion unchanged, and the actual production hybrid-"
    "search merge (lexical + vector, rank-only, no score calibration; "
    "embedding ids are document ids, the standard RAG layout).  "
    "Contributions are 6dp-rounded into DECIMAL before summing; all "
    "tiebreaks on doc_id.  Scale shape: each source ranking is its "
    "family's own bounded plan (BM25's term-filtered explode, IVF's "
    f"coarse-probe partition pruning); the fusion touches 2 x "
    f"{RRF_DEPTH} rows at any corpus size.",
)
def rank_fusion_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .similarity import sim_ann_ivf

    bm25_full = _global_topn(_bm25_scored(spark, sf_dir), "bm25", RRF_DEPTH).select(
        "doc_id", "rank"
    )
    ann_full = (
        sim_ann_ivf(spark, sf_dir, topn=RRF_DEPTH)
        .filter(F.col("query_id") == HYBRID_QUERY_VEC)
        .select(F.col("neighbor_id").alias("doc_id"), "rank")
    )
    rrf_c = F.round(1.0 / (F.lit(RRF_K) + F.col("rank")), 6).cast("decimal(18,6)")
    contribs = bm25_full.withColumn("c", rrf_c).unionByName(ann_full.withColumn("c", rrf_c))
    fused = contribs.groupBy("doc_id").agg(
        F.sum("c").cast("double").alias("rrf_score"),
        F.count("*").cast("long").alias("n_sources"),
    )
    return _global_topn(fused, "rrf_score", RRF_TOPN).select(
        "doc_id", "rrf_score", "n_sources", "rank"
    )


# ---------------------------------------------------------------------------
# MMR diversification (Carbonell & Goldstein, SIGIR 1998): the standard
# diversity re-rank between retrieval and presentation — greedily pick
# the candidate maximizing lambda*relevance - (1-lambda)*max-similarity-
# to-already-picked.  Inherently sequential, but over a candidate pool
# BOUNDED BY CONSTRUCTION (the BM25 top-RRF_DEPTH), so the greedy runs
# driver-side over a collected <=20-row pool + <=C(20,2) pair table —
# the same bounded-collect shape as the BPE merge fold and the IVF
# probe-cell list.  All arithmetic is exact DECIMAL(18,6): relevance is
# the BM25 decimal sum, pair similarity is 6dp-rounded token Jaccard,
# and each pick's score is one decimal round of an exact expression —
# so the Python greedy and the DuckDB unrolled-CTE oracle agree
# digit-for-digit (ties broken by doc_id in both).
# ---------------------------------------------------------------------------

MMR_K = 10
MMR_LAMBDA = "0.7"  # decimal string: exact in DECIMAL(2,1) in both engines


def _mmr_pool_sql() -> str:
    """cand/toks/pairs CTE block shared by the oracle's greedy steps.
    MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and the
    10 unrolled greedy steps each reference pairs/toks several times —
    inlined, the whole BM25 pipeline re-evaluates per reference and
    the oracle dies on file-handle exhaustion before it gets slow."""
    return f"""
    bm25_full AS MATERIALIZED ({_bm25_sql(RRF_DEPTH)}),
    toks AS MATERIALIZED (
        SELECT c.doc_id, CAST(c.bm25 AS DECIMAL(18,6)) AS rel,
               list_distinct(string_split(d.text, ' ')) AS tk
        FROM bm25_full c JOIN documents d USING (doc_id)
    ),
    pairs AS MATERIALIZED (
        SELECT a.doc_id AS da, b.doc_id AS db,
               CAST(ROUND(CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE)
                          / len(list_distinct(a.tk || b.tk)), 6)
                    AS DECIMAL(18,6)) AS jac
        FROM toks a JOIN toks b ON a.doc_id <> b.doc_id
    )"""


def _mmr_oracle_sql() -> str:
    lam = f"CAST({MMR_LAMBDA} AS DECIMAL(2,1))"
    pen = f"CAST({1 - float(MMR_LAMBDA):.1f} AS DECIMAL(2,1))"
    parts = [_mmr_pool_sql()]
    parts.append(f""",
    s1 AS (
        SELECT doc_id, rel, CAST(0 AS DECIMAL(18,6)) AS max_sim,
               CAST(ROUND({lam} * rel, 6) AS DECIMAL(18,6)) AS mmr,
               CAST(1 AS BIGINT) AS mmr_rank
        FROM toks
        ORDER BY CAST(ROUND({lam} * rel, 6) AS DECIMAL(18,6)) DESC, doc_id
        LIMIT 1
    ),
    sel1 AS MATERIALIZED (SELECT doc_id FROM s1)""")
    for t in range(2, MMR_K + 1):
        p = t - 1
        parts.append(f""",
    s{t} AS (
        SELECT doc_id, rel, max_sim,
               CAST(ROUND({lam} * rel - {pen} * max_sim, 6) AS DECIMAL(18,6)) AS mmr,
               CAST({t} AS BIGINT) AS mmr_rank
        FROM (
            SELECT t.doc_id, t.rel,
                   COALESCE((SELECT CAST(MAX(p.jac) AS DECIMAL(18,6)) FROM pairs p
                             WHERE p.da = t.doc_id
                               AND p.db IN (SELECT doc_id FROM sel{p})),
                            CAST(0 AS DECIMAL(18,6))) AS max_sim
            FROM toks t
            WHERE t.doc_id NOT IN (SELECT doc_id FROM sel{p})
        )
        ORDER BY CAST(ROUND({lam} * rel - {pen} * max_sim, 6) AS DECIMAL(18,6)) DESC, doc_id
        LIMIT 1
    ),
    sel{t} AS MATERIALIZED (SELECT doc_id FROM sel{p} UNION ALL SELECT doc_id FROM s{t})""")
    union = " UNION ALL ".join(f"SELECT * FROM s{t}" for t in range(1, MMR_K + 1))
    parts.append(f"""
    SELECT mmr_rank, doc_id, CAST(rel AS DOUBLE) AS bm25,
           CAST(max_sim AS DOUBLE) AS max_sim_prior,
           CAST(mmr AS DOUBLE) AS mmr_score
    FROM ({union})""")
    return "WITH " + "".join(parts)


@REG.add(
    "rank_mmr_diversify",
    _mmr_oracle_sql(),
    doc=f"Maximal-marginal-relevance diversification (Carbonell & "
    f"Goldstein 1998, lambda={MMR_LAMBDA}) of the BM25 top-{RRF_DEPTH}: "
    f"greedily emit {MMR_K} results, each maximizing lambda*bm25 - "
    "(1-lambda)*max token-Jaccard to the already-picked — the re-rank "
    "stage between retrieval and presentation that stops near-duplicate "
    "results crowding the page (every production search ships one).  "
    "The pool and the pairwise-Jaccard table are computed distributed "
    "(broadcast pool join, array_intersect/union in-JVM) and are "
    "bounded by construction, so the inherently-sequential greedy runs "
    "driver-side over <=20 rows (the BPE-merge bounded-collect "
    "precedent); all scoring is exact DECIMAL(18,6) with doc_id "
    "tiebreaks, so the Python greedy and the oracle's unrolled "
    f"{MMR_K}-step CTE chain agree digit-for-digit.  Pinned: score "
    "arithmetic identity, monotone non-increasing pick sequence, "
    "first-pick = relevance argmax, and a planted-clone fixture where "
    "the penalty displaces a near-duplicate.",
)
def rank_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    from decimal import ROUND_HALF_UP, Decimal

    pool = _global_topn(_bm25_scored(spark, sf_dir), "bm25", RRF_DEPTH).select(
        "doc_id", "bm25"
    )
    doc = load_table(spark, sf_dir, "documents")
    # eager checkpoint the <=20-row pool+tokens table: toks feeds THREE
    # consumers (both sides of the pair self-join and its own collect),
    # and uncheckpointed lineage re-ran the corpus-sized BM25 scan per
    # consumer (round-9 self-review finding) — the standard skinny-
    # boundary treatment, bounded by RRF_DEPTH by construction
    toks = (
        doc.join(F.broadcast(pool), "doc_id")
        .select("doc_id", "bm25", F.array_distinct(F.split("text", " ")).alias("tk"))
        .localCheckpoint(eager=True)
    )
    a, b = toks.alias("a"), toks.alias("b")
    pairs = a.join(b, F.col("a.doc_id") < F.col("b.doc_id")).select(
        F.col("a.doc_id").alias("da"),
        F.col("b.doc_id").alias("db"),
        F.round(
            F.size(F.array_intersect("a.tk", "b.tk")).cast("double")
            / F.size(F.array_union("a.tk", "b.tk")),
            6,
        ).alias("jac"),
    )
    # bounded collects: <= RRF_DEPTH candidates, <= C(RRF_DEPTH, 2) pairs
    rel = {r["doc_id"]: Decimal(str(r["bm25"])) for r in toks.select("doc_id", "bm25").collect()}
    jac: dict[tuple[int, int], Decimal] = {}
    for r in pairs.collect():
        v = Decimal(str(r["jac"]))
        jac[(r["da"], r["db"])] = v
        jac[(r["db"], r["da"])] = v

    six = Decimal("0.000001")
    lam = Decimal(MMR_LAMBDA)
    pen = Decimal(1) - lam
    zero = Decimal(0)
    selected: list[int] = []
    out = []
    while rel and len(selected) < MMR_K:
        best = None
        for d in sorted(rel):  # doc_id tiebreak via deterministic scan order
            ms = max((jac.get((d, s), zero) for s in selected), default=zero)
            score = (lam * rel[d] - pen * ms).quantize(six, rounding=ROUND_HALF_UP)
            if best is None or score > best[0]:
                best = (score, d, ms)
        score, d, ms = best
        selected.append(d)
        out.append((len(selected), d, float(rel.pop(d)), float(ms), float(score)))
    return spark.createDataFrame(
        out,
        "mmr_rank long, doc_id long, bm25 double, max_sim_prior double, mmr_score double",
    )
