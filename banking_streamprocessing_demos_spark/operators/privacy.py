"""Privacy / governance operators: k-anonymity auditing over the
customer table (Sweeney 2002, "k-anonymity: a model for protecting
privacy") — the re-identification audit a data-governance pass runs
before customer-derived records are released to a training pipeline.

A record is k-anonymous when at least k records share its
quasi-identifier tuple (here: nation, market segment, account-balance
bucket — the released attributes that a linkage attack joins on).
The audit computes, per record, the equivalence-class size at each
GENERALIZATION level of the standard suppression ladder:

    level 0: (nation, segment, balance bucket)   — full detail
    level 1: (nation, segment)                   — bucket suppressed
    level 2: (nation)                            — segment suppressed

and reports the first level whose class reaches K_ANON — i.e. how
much detail must be dropped before this record can be released.  This
is the decision table a release job consumes directly.

Scale shape: three window COUNTs over nested partition keys — each is
one hash-keyed shuffle on a skinny tuple, map-side combinable, no
joins, no collects.  (At cluster scale the three windows share the
coarsest shuffle via partial aggregation; none is corpus-quadratic.)

Reference parity: the reference engine has no governance surface
(SURVEY §2 north-star extension); deterministic oracle-checked query
surface philosophy as everywhere else.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table
from . import Registry

REG = Registry()

K_ANON = 5
BAL_BUCKET = 2000  # account-balance bucket width (range ~ -1k..10k -> ~6 buckets)


@REG.add(
    "priv_k_anonymity",
    f"""
    WITH q AS (
        SELECT c_custkey,
               CAST(c_nationkey AS BIGINT) AS nation,
               c_mktsegment AS segment,
               CAST(FLOOR(c_acctbal / {BAL_BUCKET}) AS BIGINT) AS bal_bucket
        FROM customer
    ),
    sized AS (
        SELECT c_custkey, nation, segment, bal_bucket,
               COUNT(*) OVER (PARTITION BY nation, segment, bal_bucket) AS size_l0,
               COUNT(*) OVER (PARTITION BY nation, segment) AS size_l1,
               COUNT(*) OVER (PARTITION BY nation) AS size_l2
        FROM q
    )
    SELECT c_custkey, nation, segment, bal_bucket,
           CAST(size_l0 AS BIGINT) AS size_l0,
           CAST(size_l1 AS BIGINT) AS size_l1,
           CAST(size_l2 AS BIGINT) AS size_l2,
           CAST(CASE WHEN size_l0 >= {K_ANON} THEN 0
                     WHEN size_l1 >= {K_ANON} THEN 1
                     WHEN size_l2 >= {K_ANON} THEN 2
                     ELSE 3 END AS BIGINT) AS gen_level
    FROM sized
    """,
    doc=f"k-anonymity audit (Sweeney 2002, k={K_ANON}) over the customer "
    "quasi-identifiers (nation, market segment, balance bucket): per "
    "record, the equivalence-class size at each level of the "
    "suppression ladder (full detail -> bucket suppressed -> segment "
    "suppressed) and the first generalization level that reaches k — "
    "the decision table a governance release job consumes before "
    "customer-derived records enter a training pipeline (level 0 = "
    "releasable at full detail, 3 = suppress entirely).  Three "
    "nested-key window counts, each one skinny hash shuffle; no joins, "
    "nothing collected.  "
    "Ladder monotonicity, the first-level decision rule, independently "
    "recomputed class sizes, and a multi-level (discriminative) "
    "fixture pytest-pinned.",
)
def priv_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.col("c_nationkey").cast("long").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
        F.floor(F.col("c_acctbal") / BAL_BUCKET).cast("long").alias("bal_bucket"),
    )
    w0 = Window.partitionBy("nation", "segment", "bal_bucket")
    w1 = Window.partitionBy("nation", "segment")
    w2 = Window.partitionBy("nation")
    sized = q.select(
        "c_custkey",
        "nation",
        "segment",
        "bal_bucket",
        F.count("*").over(w0).cast("long").alias("size_l0"),
        F.count("*").over(w1).cast("long").alias("size_l1"),
        F.count("*").over(w2).cast("long").alias("size_l2"),
    )
    level = (
        F.when(F.col("size_l0") >= K_ANON, 0)
        .when(F.col("size_l1") >= K_ANON, 1)
        .when(F.col("size_l2") >= K_ANON, 2)
        .otherwise(3)
        .cast("long")
    )
    return sized.withColumn("gen_level", level)


# ---------------------------------------------------------------------------
# l-diversity (Machanavajjhala et al. 2007): k-anonymity's necessary
# complement — a class can be k-large yet leak the sensitive attribute
# outright if every member shares it (the homogeneity attack).  Here
# the sensitive attribute is the market segment and the released
# quasi-identifiers are (nation, balance bucket).
# ---------------------------------------------------------------------------

L_DIVERSE = 3


@REG.add(
    "priv_l_diversity",
    f"""
    WITH q AS (
        SELECT CAST(c_nationkey AS BIGINT) AS nation,
               CAST(FLOOR(c_acctbal / {BAL_BUCKET}) AS BIGINT) AS bal_bucket,
               c_mktsegment AS segment
        FROM customer
    )
    SELECT nation, bal_bucket,
           CAST(COUNT(*) AS BIGINT) AS class_size,
           CAST(COUNT(DISTINCT segment) AS BIGINT) AS distinct_segments,
           COUNT(DISTINCT segment) >= {L_DIVERSE} AS l_ok
    FROM q
    GROUP BY nation, bal_bucket
    """,
    doc=f"l-diversity audit (Machanavajjhala et al. 2007, l={L_DIVERSE}) "
    "over the (nation, balance bucket) quasi-identifier classes with "
    "market segment as the sensitive attribute — the homogeneity-attack "
    "check k-anonymity "
    "alone misses: a class of any size whose members all share one "
    "segment still discloses it.  One grouped count-distinct per "
    "class (map-side-combinable partial aggregation, one hash "
    "shuffle); pairs with priv_k_anonymity as the release gate's "
    "second condition.  Class sizes, distinct counts, and the flag are "
    "recomputed independently in tests, and the fixture is "
    "discriminative: both flags occur.",
)
def priv_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").cast("long").alias("nation"),
        F.floor(F.col("c_acctbal") / BAL_BUCKET).cast("long").alias("bal_bucket"),
        F.col("c_mktsegment").alias("segment"),
    )
    return q.groupBy("nation", "bal_bucket").agg(
        F.count("*").cast("long").alias("class_size"),
        F.countDistinct("segment").cast("long").alias("distinct_segments"),
        (F.countDistinct("segment") >= L_DIVERSE).alias("l_ok"),
    )


# ---------------------------------------------------------------------------
# Differentially-private count release (round 10): the third governance
# rung after the k-anonymity and l-diversity AUDITS — those decide
# whether a class is releasable; this RELEASES the class counts
# themselves with epsilon-DP noise, the mechanism an aggregate-stats
# publication actually ships (Dwork et al. 2006; the discrete /
# two-sided-geometric variant is Ghosh, Roughgarden & Sundararajan
# 2009, the utility-optimal mechanism for counting queries).
#
# Noise: two-sided geometric with alpha = exp(-epsilon), P(k) ~
# alpha^|k|, tails beyond +-DP_NOISE_CAP folded into the extremes (the
# bounded-noise variant production systems use so one release can't be
# arbitrarily wrong).  Folding the tails means the mechanism is
# (epsilon, delta)-DP, NOT pure epsilon-DP: at the support edge a
# neighboring count n+1 can reach an output value that n cannot, so
# the likelihood ratio is unbounded there; delta = the folded tail
# mass = 2 * alpha^(DP_NOISE_CAP+1) / (1 + alpha) (~2.2e-4 at
# epsilon=1, CAP=8).  Pure epsilon-DP needs either unbounded noise or
# clamping the RELEASED value (post-noise) instead of the noise.
#
# DETERMINISM CONTRACT vs THE PRIVACY GUARANTEE: the draw is seeded —
# u16 = md5-integer of (seed, class key) against PRE-COMPUTED integer
# CDF thresholds (the pipe_epoch_plan integer-Bernoulli idiom: no
# float compares cross-engine, the CASE literal is identical in both
# engines by construction).  The seeded draw is the repo's standing
# two-engine hash-parity device (same idiom as every seeded sampler),
# but unlike the samplers the SECRET randomness IS the DP guarantee:
# with a public/default seed any reader recomputes the noise and
# recovers exact counts — zero actual privacy.  A production
# deployment MUST draw the u16 from a secret seed or a CSPRNG; the
# `seed` parameter below exists exactly for that (pass a secret), and
# the mechanism's arithmetic — which is what the oracle pins — is
# seed-independent: any seed yields released counts within
# +-DP_NOISE_CAP of truth (test_privacy pins this).
# ---------------------------------------------------------------------------

DP_EPSILON = 1.0
DP_NOISE_CAP = 8
DP_SEED = "dp"


def _dp_noise_thresholds() -> list[tuple[int, int]]:
    """(cumulative u16 threshold, noise k) pairs for the bounded
    two-sided geometric: noise = first k (ascending) with u16 < t_k.
    Computed once in PYTHON — both engines compare the same integer
    literals, so there is no cross-engine float boundary at all."""
    import math

    alpha = math.exp(-DP_EPSILON)
    ks = list(range(-DP_NOISE_CAP, DP_NOISE_CAP + 1))
    base = (1 - alpha) / (1 + alpha)
    probs = [base * alpha ** abs(k) for k in ks]
    tail = alpha ** (DP_NOISE_CAP + 1) / (1 + alpha)  # one-sided tail mass
    probs[0] += tail
    probs[-1] += tail
    out, cum = [], 0.0
    for k, p in zip(ks, probs):
        cum += p
        out.append((min(65536, round(cum * 65536)), k))
    out[-1] = (65536, ks[-1])
    return out


def _dp_noise_case_sql() -> str:
    """The noise CASE over a ``u16`` column — one literal, rendered
    identically into the Spark expression and the DuckDB oracle."""
    arms = "".join(
        f" WHEN u16 < {t} THEN {k}" for t, k in _dp_noise_thresholds()[:-1]
    )
    return f"(CASE{arms} ELSE {DP_NOISE_CAP} END)"


def _dp_u16_sql(seed: str = DP_SEED) -> str:
    from ..functions.expressions import hex4_sql

    return hex4_sql(
        f"md5('{seed}-' || CAST(nation AS VARCHAR) || segment)"
    )


@REG.add(
    "priv_dp_release",
    f"""
    WITH q AS (
        SELECT CAST(c_nationkey AS BIGINT) AS nation, c_mktsegment AS segment
        FROM customer
    ),
    c AS (SELECT nation, segment, COUNT(*) AS n FROM q GROUP BY 1, 2),
    u AS (SELECT nation, segment, n, {_dp_u16_sql()} AS u16 FROM c)
    SELECT nation, segment,
           CAST(GREATEST(n + {_dp_noise_case_sql()}, 0) AS BIGINT) AS released_count
    FROM u
    """,
    doc=f"differentially-private count release (epsilon={DP_EPSILON}, "
    "Dwork 2006; two-sided geometric noise per Ghosh et al. 2009, the "
    "utility-optimal discrete mechanism) over the (nation, segment) "
    "class counts: true counts + seeded bounded geometric noise "
    f"(|noise| <= {DP_NOISE_CAP}, tails folded), clamped at zero — the "
    "published table, completing the governance family: k-anonymity/"
    "l-diversity DECIDE what is releasable, this RELEASES it.  "
    "PRIVACY FINE PRINT (see module comment): (1) bounding the noise "
    "by folding the tails makes this (epsilon, delta)-DP with delta = "
    "2*alpha^(CAP+1)/(1+alpha) (~2.2e-4 here), not pure epsilon-DP; "
    "(2) the default per-key deterministic seed is the repo's cross-"
    "engine hash-parity device ONLY — with a known seed any reader "
    "recomputes the noise and recovers exact counts, so a real "
    "deployment must pass a SECRET seed / CSPRNG draw via the `seed` "
    "parameter (the arithmetic the oracle pins is seed-independent; "
    "any seed stays within +-CAP of truth, pinned in test_privacy).  "
    "The noise draw is integer-exact cross-engine: u16 md5 draw "
    "against pre-computed integer CDF thresholds (the integer-"
    "Bernoulli idiom), so the noised release hash-matches the oracle.  "
    "One grouped count + one in-row CASE: map-side combinable, no "
    "joins, nothing collected; scale = the class-space cardinality, "
    "independent of record volume.  Noise bound, replay determinism, "
    "and CDF validity (strictly increasing, symmetric, ends at 65536) "
    "pytest-pinned.",
)
def priv_dp_release(
    spark: SparkSession, sf_dir: str, seed: str = DP_SEED
) -> DataFrame:
    from ..functions.expressions import det_hash_hex, hex4_to_int

    q = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").cast("long").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
    )
    c = q.groupBy("nation", "segment").agg(F.count("*").alias("n"))
    u = c.withColumn(
        "u16", hex4_to_int(det_hash_hex("nation", "segment", seed=seed))
    )
    return u.select(
        "nation",
        "segment",
        F.greatest(F.col("n") + F.expr(_dp_noise_case_sql()), F.lit(0))
        .cast("long")
        .alias("released_count"),
    )


# ---------------------------------------------------------------------------
# end-to-end governed release (round 11): the three governance rungs
# composed as ONE publication job — k-anonymity and l-diversity DECIDE
# which quasi-identifier classes are releasable, the DP mechanism
# RELEASES the passing classes' per-segment counts, and suppressed
# classes surface with NULL released counts (the audit sees the why:
# the decision-table idiom end-to-end).
# ---------------------------------------------------------------------------


def _release_e2e_oracle() -> str:
    from ..functions.expressions import hex4_sql

    u16 = hex4_sql(
        "md5('dpe-' || CAST(nation AS VARCHAR) || '-' "
        "|| CAST(bal_bucket AS VARCHAR) || '-' || segment)"
    )
    return f"""
    WITH q AS (
        SELECT CAST(c_nationkey AS BIGINT) AS nation,
               CAST(FLOOR(c_acctbal / {BAL_BUCKET}) AS BIGINT) AS bal_bucket,
               c_mktsegment AS segment
        FROM customer
    ),
    cell AS (
        SELECT nation, bal_bucket, segment, COUNT(*) AS n
        FROM q GROUP BY 1, 2, 3
    ),
    cls AS (
        SELECT nation, bal_bucket, segment, n,
               SUM(n) OVER (PARTITION BY nation, bal_bucket) AS class_size,
               COUNT(*) OVER (PARTITION BY nation, bal_bucket) AS distinct_segments
        FROM cell
    ),
    gated AS (
        SELECT *,
               class_size >= {K_ANON} AND distinct_segments >= {L_DIVERSE} AS releasable,
               {u16} AS u16
        FROM cls
    )
    SELECT nation, bal_bucket, segment,
           CAST(class_size AS BIGINT) AS class_size,
           CAST(distinct_segments AS BIGINT) AS distinct_segments,
           releasable,
           CASE WHEN releasable
                THEN CAST(GREATEST(n + {_dp_noise_case_sql()}, 0) AS BIGINT)
                ELSE NULL END AS released_count
    FROM gated
    """


@REG.add(
    "priv_release_end_to_end",
    _release_e2e_oracle(),
    doc=f"End-to-end governed release: the full governance pipeline as "
    "ONE job — per (nation, balance-bucket) quasi-identifier class, "
    f"k-anonymity (class_size >= {K_ANON}) AND l-diversity (distinct "
    f"segments >= {L_DIVERSE}) gate the class, and passing classes "
    "publish their per-segment counts through the seeded bounded "
    "two-sided-geometric DP mechanism (priv_dp_release's arithmetic, "
    "integer-exact cross-engine); suppressed classes surface with NULL "
    "released counts and their gate stats, so the audit table shows "
    "WHY every cell was or wasn't published (the decision-table idiom "
    "composed end-to-end, the governance mirror of "
    "pipe_curate_end_to_end).  Same privacy fine print as "
    "priv_dp_release (module comment): (epsilon, delta) from the "
    "folded tails; the deterministic seed is the parity device — "
    "production passes secret randomness.  Scale shape: one grouped "
    "count + two window aggregates over the CELL table (bounded by "
    "class-space cardinality, not record volume) + in-row CASE — "
    "nothing joins, nothing collected.  Gates and noise bounds are "
    "pinned against an independent recompute at sf0.01 (sf0.001's "
    "150 customers suppress every class).",
)
def priv_release_end_to_end(
    spark: SparkSession, sf_dir: str, seed: str = "dpe"
) -> DataFrame:
    from ..functions.expressions import det_hash_hex, hex4_to_int

    q = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").cast("long").alias("nation"),
        F.floor(F.col("c_acctbal") / BAL_BUCKET).cast("long").alias("bal_bucket"),
        F.col("c_mktsegment").alias("segment"),
    )
    cell = q.groupBy("nation", "bal_bucket", "segment").agg(F.count("*").alias("n"))
    wcls = Window.partitionBy("nation", "bal_bucket")
    cls = cell.select(
        "nation",
        "bal_bucket",
        "segment",
        "n",
        F.sum("n").over(wcls).cast("long").alias("class_size"),
        F.count("*").over(wcls).cast("long").alias("distinct_segments"),
    )
    releasable = (F.col("class_size") >= K_ANON) & (
        F.col("distinct_segments") >= L_DIVERSE
    )
    # explicit '-' separators match the oracle's rendering (det_hash_hex
    # concatenates columns without separators; ambiguity like
    # (nation=1, bucket=23) vs (nation=12, bucket=3) must not collide)
    u16 = hex4_to_int(
        det_hash_hex(
            F.col("nation").cast("string"),
            F.lit("-"),
            F.col("bal_bucket").cast("string"),
            F.lit("-"),
            F.col("segment"),
            seed=seed,
        )
    )
    gated = cls.withColumn("releasable", releasable).withColumn("u16", u16)
    released = F.when(
        F.col("releasable"),
        F.greatest(F.col("n") + F.expr(_dp_noise_case_sql()), F.lit(0)).cast("long"),
    )
    return gated.select(
        "nation",
        "bal_bucket",
        "segment",
        "class_size",
        "distinct_segments",
        "releasable",
        released.alias("released_count"),
    )
