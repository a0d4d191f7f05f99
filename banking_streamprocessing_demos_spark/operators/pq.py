"""Product quantization (PQ) — the compressed-vector representation
behind every billion-scale ANN deployment (Jégou, Douze, Schmid 2011,
"Product Quantization for Nearest Neighbor Search"), built Spark-first.

Why PQ is the 100 TB vector answer: a 64-dim float vector is 256 bytes;
its PQ code is PQ_M small integers (here 8 codes of 4 bits = 4 bytes) —
a 64x memory compression that lets a 1000-executor cluster hold a
trillion-vector index in RAM.  Queries score candidates ASYMMETRICALLY
(query stays full-precision, corpus stays compressed) through a per-
query lookup table (LUT) of PQ_M x PQ_K centroid dot products: scoring
a candidate is PQ_M table lookups + adds instead of DIMS multiplies.

Everything is deterministic and DuckDB-oracle-checkable, the repo's
standing differential strategy for "learned" components (same treatment
as the BPE tokenizer fit in packing.py):

- codebook training is Lloyd's k-means per subspace with a fixed seed
  (centroid k of subspace m initializes to the sub-vector of vec_id k)
  and a fixed iteration count, so both engines walk the identical
  trajectory;
- every centroid component is ROUND(x, 6) at every stage boundary and
  every mean rides DECIMAL(20,9) sums (the emb_label_centroids
  exact-summation pattern), so float summation order can never drift
  the codebook between engines;
- assignment distances are rounded to 6dp before the argmin with a
  lowest-code tiebreak (the repo's libm-parity treatment), and ADC
  scores sum their PQ_M LUT terms in explicit fixed left-associative
  order in BOTH engines, so ranking is bit-stable.

Scale shape (SCALE.md ground rules):

- training touches the corpus ``PQ_ITERS`` times: assignment is a pure
  in-row fold against the PLAN-LITERAL codebook (PQ_M*PQ_K*PQ_SUBDIM =
  1024 doubles — far below any broadcast threshold, and a literal
  needs no broadcast exchange at all), the mean update is one
  map-side-combined groupBy whose width is the CODEBOOK (M*K*SUBDIM
  rows), not the corpus.  The per-iteration driver collect is the
  bounded codebook, the same pattern as the IVF probe-cell list
  (similarity.py:237) and the BPE merge fold (packing.py);
- encoding is zero-shuffle: each vector computes its own codes in-row;
- ADC search broadcasts the (bounded) query side carrying per-query
  LUTs; the corpus is scanned once, compressed codes only.

Reference parity: the reference engine has no vector search at all
(SURVEY §2 north-star extension, same as similarity.py); capabilities
mirror its query surface philosophy (deterministic, oracle-checked)
rather than any reference file.
"""

from __future__ import annotations


from decimal import ROUND_HALF_UP as _HALF_UP
from decimal import Decimal as _Dec

_Q6 = _Dec("0.000001")
_Q9 = _Dec("1e-9")


from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import Registry
from ..plans.explain import checkpoint_stage
from .similarity import DIMS, IVF_CELLS, N_QUERIES, TOPK, _arr_sql, _dlit, _dot, _normed

REG = Registry()

PQ_M = 8  # subspaces
PQ_SUBDIM = DIMS // PQ_M  # dims per subspace
PQ_K = 16  # centroids per subspace -> 4-bit codes
PQ_ITERS = 2  # fixed Lloyd iterations after seeded init
PQ_RERANK = 64  # ADC shortlist depth rescored exactly before the top-k cut

# Bounded training-sample size for the sampled-training path (FAISS
# convention: quantizers train on ~10^5-10^6 sampled vectors, never the
# corpus — training statistics converge long before that, and a
# full-corpus train stage is the one part of an ANN build that would
# NOT scale to 100 TB).  256 = 16 vectors per centroid at PQ_K=16; a
# true subset at every committed SF (sf0.01 has 500 vectors).
N_TRAIN = 256
TRAIN_SEED = "pqtrain"


def _train_ids(unit: DataFrame, n: int, offset: int = 0) -> DataFrame:
    """Deterministic seeded training sample: the top-``n`` vec_ids by
    md5(seed||vec_id) rank (the smp1 sample-without-replacement
    machinery — both engines draw the IDENTICAL sample), UNION the PQ_K
    seeded-init vectors so the k-means init is sample-independent.
    Returns a skinny (vec_id) frame for a broadcast semi-join; the
    top-n is a TakeOrderedAndProject (per-partition top-n, no global
    sort), so the whole selection is scale-safe for bounded n."""
    rank = F.md5(F.concat(F.lit(TRAIN_SEED + "-"), F.col("vec_id").cast("string")))
    samp = unit.orderBy(rank.asc(), F.col("vec_id").asc()).limit(n).select("vec_id")
    seeds = unit.filter(
        (F.col("vec_id") >= offset) & (F.col("vec_id") < offset + PQ_K)
    ).select("vec_id")
    return samp.unionAll(seeds).distinct()


def _tsel_sql(n: int, offset: int = 0, src: str = "n") -> str:
    """The oracle twin of _train_ids alone: the ``tsel`` (sampled
    vec_ids) CTE — split out so oracles whose training statistics are
    NOT sub-vector tables (the trained-OPQ Givens/variance aggregates)
    can restrict on it directly."""
    return f""",
    tsel AS (
        SELECT DISTINCT vec_id FROM (
            SELECT vec_id FROM (
                SELECT vec_id FROM {src}
                ORDER BY md5('{TRAIN_SEED}-' || CAST(vec_id AS VARCHAR)), vec_id
                LIMIT {n}
            )
            UNION ALL
            SELECT vec_id FROM {src}
            WHERE vec_id >= {offset} AND vec_id < {offset + PQ_K}
        )
    )"""


def _train_sample_sql(n: int, offset: int = 0, src: str = "n", subs: str = "subs") -> str:
    """The oracle twin of _train_ids + the semi-join: ``tsel`` (sampled
    vec_ids) and ``ssubs`` (sub-vectors restricted to the sample) CTEs,
    appended after the vector prelude."""
    return (
        _tsel_sql(n, offset, src)
        + f""",
    ssubs AS (
        SELECT s.vec_id, s.m, s.sub FROM {subs} s JOIN tsel t ON s.vec_id = t.vec_id
    )"""
    )


def _unit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unit-normalized embedding vectors (vec_id, u) — built on
    similarity._normed so the corpus load / local-only repartition /
    double-cast rules live in exactly one place."""
    n = _normed(spark, sf_dir)
    return n.select("vec_id", F.transform("v", lambda x: x / F.col("nrm")).alias("u"))


def _sub(col: str, m: int):
    """Sub-vector of subspace m (1-based slice, PQ_SUBDIM dims)."""
    return F.slice(col, m * PQ_SUBDIM + 1, PQ_SUBDIM)


def _lit_vec(vals: list[float]):
    """ONE py4j round-trip (a single F.expr whose doubles are exact —
    similarity._dlit) instead of len(vals) F.lit round-trips under an
    F.array call — value-identical, and Catalyst constant-folds either
    form to the same Literal.  The PQ/OPQ family embeds hundreds of
    vector literals per plan (codebooks, LUTs, rotation rows), and the
    round-12 probes measured the training walls ~100% fixed DRIVER-side
    overhead (sf0.001 ≈ sf0.1 wall; cProfile: >80% of pq_train inside
    py4j socket round-trips at ~0.2-0.6 ms each), so round-trip count
    is the lever."""
    return F.expr(_arr_sql(vals))


def _self_dot(c: list[float]) -> float:
    """|c|^2 as the engine would fold it: left-associative from 0.0.
    Python floats ARE IEEE doubles.  CAVEAT (round-7 rotation fuzz
    finding): DuckDB's list_dot_product is NOT guaranteed bit-identical
    to this sequential fold on arbitrary doubles — it can differ by
    1 ULP (FMA/pairwise internally).  The PQ codebook values this
    feeds are 6dp-rounded at every stage boundary, so a ULP flips the
    compared ROUND(d, 6) only on a measure-zero boundary (~1e-11 per
    value); the trajectory has hash-matched across every round and the
    kmeans fuzz grid (dyadic components, exact arithmetic) pins the
    fold logic itself.  NEW oracles that dot literal rows against raw
    doubles must use the explicit a+b+c term-chain form instead (see
    _opq_oracle_sql)."""
    acc = 0.0
    for x in c:
        acc = acc + x * x
    return acc


def _cb_structs_sql(cb_m: list[list[float]]) -> str:
    """Literal array<struct<c: array<double>, cc: double, k: int>> for
    one subspace's centroids, as ONE SQL fragment (the argmin folds
    over it) — keeps the Catalyst tree (and codegen compile time)
    small.  Built as SQL text (round 12): the old per-field
    F.lit/F.struct construction was ~160 py4j calls per subspace x 16
    argmin sites per Lloyd pass — the dominant cost of pq_train by
    cProfile."""
    entries = ", ".join(
        f"named_struct('c', {_arr_sql(c)}, 'cc', {_dlit(_self_dot(c))}, 'k', {k})"
        for k, c in enumerate(cb_m)
    )
    return f"array({entries})"


def _cb_struct_lit(cb_m: list[list[float]]):
    return F.expr(_cb_structs_sql(cb_m))


def _dot_sql(a: str, b: str) -> str:
    """The repo's left-associative dot fold (similarity._dot) as SQL
    text: aggregate over zip_with products from 0.0D — the identical
    resolved expression the Python DSL builds, in ONE parser pass
    instead of ~10 py4j round-trips per call site (the round-13
    continuation of the round-12 fixed-overhead finding: after the
    literal fix, pq_train still spent ~70% of its wall in py4j
    send_command building higher-order-function trees lambda by
    lambda)."""
    return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, (acc, x) -> acc + x)"


def _sub_sql(col: str, m: int) -> str:
    """SQL twin of _sub: 1-based slice of subspace m."""
    return f"slice({col}, {m * PQ_SUBDIM + 1}, {PQ_SUBDIM})"


def _argmin_sql(s: str, cb_m: list[list[float]]) -> str:
    """In-row argmin code for a sub-vector SQL fragment ``s`` against
    the literal centroid structs of ``cb_m``, as ONE SQL fragment.

    d(k) = round6(|c_k|^2 - 2 s.c_k) — |s|^2 is constant per row, so
    it drops out of the argmin (the oracle uses the identical
    formula, so rounding-boundary behavior matches exactly); argmin
    with lowest-k tiebreak via array_min over (dist, k) structs — the
    same struct-ordering trick as streaming_ivf_assign's argmax.
    Semantics are exactly the pre-round-13 DSL form (F.aggregate /
    F.zip_with / F.struct / F.array_min compile to these same SQL
    functions); only the construction path changed.
    """
    return (
        f"array_min(transform({_cb_structs_sql(cb_m)}, "
        f"e -> named_struct('d', round(e.cc - 2 * {_dot_sql(s, 'e.c')}, 6), "
        f"'k', e.k))).k"
    )


def _argmin_code(s: str, cb_m: list[list[float]]):
    """Column form of _argmin_sql — ``s`` is a SQL fragment naming the
    sub-vector (a column name or slice(...) text)."""
    return F.expr(_argmin_sql(s, cb_m))


def _subs_df(unit: DataFrame, col: str = "u") -> DataFrame:
    """Explode to (vec_id, m, sub) — one row per subspace.  Used by the
    TRAINING mean update only; encode/search stay un-exploded."""
    pairs = ", ".join(
        f"named_struct('m', {m}, 'sub', {_sub_sql(col, m)})" for m in range(PQ_M)
    )
    ex = unit.select("vec_id", F.explode(F.expr(f"array({pairs})")).alias("p"))
    return ex.select("vec_id", F.col("p.m").alias("m"), F.col("p.sub").alias("sub"))


def _mean_update(assigned: DataFrame) -> DataFrame:
    """(m, code, dim, comp) means over assigned sub-vectors — DECIMAL
    exact sums, 6dp-rounded, map-side-combined; output width is the
    codebook, not the corpus.

    KNOWN measure-zero boundary (round-8 bigram-LM fuzz finding,
    text._avg6_sql): round6(decimal_sum/count) goes through a DOUBLE
    division here, and at an EXACT 6dp tie DuckDB's multiply-based
    ROUND and Spark's BigDecimal ROUND disagree.  Ties require the
    rational sum/count to land exactly on a half-micro — unreachable
    in practice for these 9dp-real-valued vector components (every
    round's trajectory has hash-matched), so this keeps the simpler
    form; _avg6_sql is the exact-integer recipe if a fixture ever
    hits the boundary."""
    ex = assigned.select("m", "code", F.posexplode("sub").alias("d0", "comp"))
    return (
        ex.select("m", "code", (F.col("d0") + 1).alias("dim"), "comp")
        .groupBy("m", "code", "dim")
        .agg(
            F.round(
                F.sum(F.col("comp").cast("decimal(20,9)")).cast("double") / F.count("*"), 6
            ).alias("comp")
        )
    )


def _init_from_subs(subs: DataFrame, offset: int = 0) -> list[list[list[float]]]:
    """Seeded init: centroid k of subspace m = round6 sub-vector of
    vec_id offset+k.  Rounding happens IN SPARK (engine round
    semantics); the driver only ferries the bounded PQ_M x PQ_K x
    PQ_SUBDIM values.  ``offset`` lets residual training skip the
    vectors that seed the coarse quantizer (their residuals are ~0)."""
    rows = (
        subs.filter((F.col("vec_id") >= offset) & (F.col("vec_id") < offset + PQ_K))
        .select(
            "vec_id", "m", F.transform("sub", lambda x: F.round(x, 6)).alias("rsub")
        )
        .collect()
    )
    by_key = {(r["vec_id"], r["m"]): list(r["rsub"]) for r in rows}
    return [[by_key[(offset + k, m)] for k in range(PQ_K)] for m in range(PQ_M)]


def _lloyd_step(subs: DataFrame, cb: list[list[list[float]]]) -> list[list[list[float]]]:
    """One Lloyd iteration: in-row assignment under the literal ``cb``,
    exact-decimal mean update, driver merge (empty cells keep their
    previous centroid — mirrored by the oracle's LEFT JOIN COALESCE)."""
    assigned = subs.withColumn(
        "code",
        _case_over_m([_argmin_sql("sub", cb[m]) for m in range(PQ_M)]),
    )
    means = _mean_update(assigned).collect()
    new_cb = [[list(c) for c in cb_m] for cb_m in cb]
    for r in means:
        new_cb[r["m"]][r["code"]][r["dim"] - 1] = r["comp"]
    return new_cb


def _case_over_m(branch_sqls: list[str]):
    """CASE WHEN m = i THEN branch_i — lets exploded (vec_id, m, sub)
    rows evaluate only their own subspace's argmin.  Branches are SQL
    fragments; the whole CASE is ONE F.expr round-trip (the F.when
    chain re-crossed py4j per branch)."""
    whens = " ".join(f"WHEN m = {m} THEN {b}" for m, b in enumerate(branch_sqls))
    return F.expr(f"CASE {whens} END")


def _train_on(subs: DataFrame, iters: int, offset: int = 0) -> list[list[list[float]]]:
    """Seeded init + ``iters`` Lloyd steps over an already-materialized
    (vec_id, m, sub) table.  Returns cb[m][k] = PQ_SUBDIM rounded
    doubles."""
    cb = _init_from_subs(subs, offset)
    for _ in range(iters):
        cb = _lloyd_step(subs, cb)
    return cb


def _to_dec9(x: float):
    """Spark's cast(double AS decimal(20,9)) replayed exactly:
    Decimal(Double.toString(x)).setScale(9, HALF_UP) — Python repr is
    the same shortest round-trip decimal, quantize the same rule (the
    _round6_spark argument, at scale 9)."""
    return _Dec(repr(x)).quantize(_Q9, rounding=_HALF_UP)


def _train_on_replay(
    rows: list, iters: int, offset: int = 0
) -> list[list[list[float]]]:
    """The BOUNDED-SAMPLE Lloyd trajectory replayed in pure Python over
    collected (vec_id, m, sub) rows — bit-identical to _train_on over
    the same rows (pinned in tests/test_pq.py::test_lloyd_replay_*):

    - assignment distance: round6(|c|^2 - 2 s.c) with the left-assoc
      Python-float fold (Python floats ARE IEEE doubles; each op is
      one correctly-rounded double op, the same sequence the SQL
      aggregate executes), lowest-k tiebreak;
    - mean update: _to_dec9 per component (Spark's decimal(20,9)
      cast), EXACT Decimal summation (order-independent, so collect
      order cannot matter), correctly-rounded double division, round6;
    - empty cells keep the previous centroid.

    Why (round-13, r12 VERDICT #1 / guide §4.2): with the sample
    bounded at N_TRAIN the per-iteration Spark jobs are pure fixed
    overhead — 3 driver jobs + ~100 KB plans to move ~270 rows — and
    profiling showed the sampled train walls ~100% driver-side.  The
    replay folds init + all iterations into zero jobs after a single
    sample collect.  Full-corpus training keeps the distributed path
    (collecting a corpus is the one thing this module must never do)."""
    by = [(r["vec_id"], r["m"], list(r["sub"])) for r in rows]
    seed = {(v, m): sub for v, m, sub in by if offset <= v < offset + PQ_K}
    cb = [
        [[_round6_spark(x) for x in seed[(offset + k, m)]] for k in range(PQ_K)]
        for m in range(PQ_M)
    ]
    for _ in range(iters):
        cc = [[_self_dot(c) for c in cb_m] for cb_m in cb]
        sums: dict[tuple[int, int, int], _Dec] = {}
        counts: dict[tuple[int, int], int] = {}
        for v, m, sub in by:
            best = None
            for k, c in enumerate(cb[m]):
                sc = 0.0
                for x, y in zip(sub, c):
                    sc = sc + x * y
                d = _round6_spark(cc[m][k] - 2 * sc)
                if best is None or (d, k) < (best[0], best[1]):
                    best = (d, k)
            k = best[1]
            counts[(m, k)] = counts.get((m, k), 0) + 1
            for dim0, comp in enumerate(sub):
                key = (m, k, dim0)
                if key in sums:
                    sums[key] += _to_dec9(comp)
                else:
                    sums[key] = _to_dec9(comp)
        new_cb = [[list(c) for c in cb_m] for cb_m in cb]
        for (m, k, dim0), s in sums.items():
            new_cb[m][k][dim0] = _round6_spark(float(s) / counts[(m, k)])
        cb = new_cb
    return cb


def pq_train(
    spark: SparkSession,
    sf_dir: str,
    iters: int = PQ_ITERS,
    train_sample: int | None = None,
) -> list[list[list[float]]]:
    """Train the full codebook on the raw unit vectors.

    ``train_sample`` bounds training to a deterministic seeded sample of
    that many vectors (plus the PQ_K init seeds) — the FAISS-convention
    scale shape: at 100 TB the Lloyd iterations scan a fixed-size sample
    instead of the corpus, and only the one-pass ENCODE touches every
    vector.  The oracle replays the identical sample (_train_sample_sql),
    so the sampled trajectory is hash-checked like the full one.  The
    sampled Lloyd loop itself runs as the driver-side replay over the
    one-job collected sample (_train_on_replay, round 13)."""
    if train_sample is not None:
        unit = _unit(spark, sf_dir)
        sampled = unit.join(F.broadcast(_train_ids(unit, train_sample)), "vec_id", "semi")
        return _train_on_replay(_subs_df(sampled).collect(), iters)
    subs = _subs_df(_unit(spark, sf_dir)).localCheckpoint(eager=True)
    return _train_on(subs, iters)


def _sampled_subs(spark: SparkSession, sf_dir: str, n: int) -> DataFrame:
    """Checkpointed (vec_id, m, sub) sub-vectors of the seeded training
    sample — materialized ONCE because the md5-rank selection is a
    (skinny) corpus pass: every consumer (Lloyd iterations, the sampled
    codebook query's final distributed update) reads the checkpoint
    instead of re-running the selection."""
    unit = _unit(spark, sf_dir)
    sampled = unit.join(F.broadcast(_train_ids(unit, n)), "vec_id", "semi")
    return _subs_df(sampled).localCheckpoint(eager=True)


# ---------------------------------------------------------------------------
# Oracle SQL generation — the identical trajectory in DuckDB CTE stages
# (same generated-stage strategy as the BPE fit oracle in packing.py).
# ---------------------------------------------------------------------------


def _pq_vector_prelude_sql() -> str:
    """Unit vectors + (vec_id, m, sub) sub-vector CTEs."""
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    n AS (SELECT vec_id,
                 list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS u
          FROM e),
    subs AS (
        SELECT vec_id, m, u[m*{PQ_SUBDIM}+1 : m*{PQ_SUBDIM}+{PQ_SUBDIM}] AS sub
        FROM n CROSS JOIN UNNEST(range({PQ_M})) AS t(m)
    )"""


def _assign_sql(subs_cte: str, cb_cte: str, with_sub: bool = False) -> str:
    """The parity-critical argmin assignment, as a parenthesized subquery:
    nearest centroid per (vec_id, m) by round6(|c|^2 - 2 s.c) with
    lowest-code tiebreak.  This SQL encodes the bit-stability contract —
    defined ONCE and shared by the k-means stages, both search oracles,
    and the streaming encode oracle, so a rounding/tiebreak fix can never
    land in one copy and miss another."""
    sub_col = " s.sub," if with_sub else ""
    keep = "vec_id, m, sub, k AS code" if with_sub else "vec_id, m, k AS code"
    return f"""(
        SELECT {keep} FROM (
            SELECT s.vec_id, s.m,{sub_col} c.k,
                   ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m ORDER BY
                       ROUND(list_dot_product(c.c, c.c)
                             - 2 * list_dot_product(s.sub, c.c), 6), c.k) AS rn
            FROM {subs_cte} s JOIN {cb_cte} c ON s.m = c.m
        ) WHERE rn = 1
    )"""


def _pq_kmeans_sql(iters: int, subs_cte: str = "subs", offset: int = 0) -> str:
    """The seeded-init + Lloyd-iteration CTE chain (c0 .. c{iters}) over
    any (vec_id, m, sub) CTE — shared by the raw-vector codebook oracle
    and the IVF-PQ residual-codebook oracle (which seeds from vec_ids
    offset..offset+K-1 because the coarse seeds' own residuals are ~0)."""
    parts = [
        f""",
    c0 AS (
        SELECT m, CAST(vec_id - {offset} AS INT) AS k,
               list_transform(sub, x -> ROUND(x, 6)) AS c
        FROM {subs_cte} WHERE vec_id >= {offset} AND vec_id < {offset + PQ_K}
    )"""
    ]
    for i in range(1, iters + 1):
        p = i - 1
        parts.append(
            f""",
    a{i} AS {_assign_sql(subs_cte, f"c{p}", with_sub=True)},
    m{i} AS (
        SELECT m, code, dim,
               CAST(ROUND(CAST(SUM(CAST(comp AS DECIMAL(20,9))) AS DOUBLE)
                          / COUNT(*), 6) AS DOUBLE) AS comp
        FROM (SELECT m, code, UNNEST(sub) AS comp,
                     UNNEST(range(1, {PQ_SUBDIM + 1})) AS dim FROM a{i})
        GROUP BY m, code, dim
    ),
    c{p}d_{i} AS (
        SELECT m, k, UNNEST(c) AS comp,
               UNNEST(range(1, {PQ_SUBDIM + 1})) AS dim FROM c{p}
    ),
    c{i}d AS (
        SELECT g.m, g.k, g.dim, COALESCE(u.comp, g.comp) AS comp
        FROM c{p}d_{i} g LEFT JOIN m{i} u
          ON g.m = u.m AND g.k = u.code AND g.dim = u.dim
    ),
    c{i} AS (SELECT m, k, list(comp ORDER BY dim) AS c FROM c{i}d GROUP BY m, k)"""
        )
    return "".join(parts)


def _pq_prefix_sql(iters: int = PQ_ITERS) -> str:
    return _pq_vector_prelude_sql() + _pq_kmeans_sql(iters)


def _codebook_oracle_sql() -> str:
    return (
        _pq_prefix_sql()
        + f"""
    SELECT CAST(m AS INT) AS subspace, CAST(k AS INT) AS code,
           CAST(dim AS BIGINT) AS dim, comp
    FROM c{PQ_ITERS}d
    """
    )


@REG.add(
    "emb_pq_codebook",
    _codebook_oracle_sql(),
    doc=f"Product-quantization codebook training (Jégou et al. 2011): "
    f"{PQ_M} subspaces x {PQ_K} centroids x {PQ_SUBDIM} dims via seeded "
    f"Lloyd k-means, {PQ_ITERS} fixed iterations.  Assignment is an in-row "
    "fold against the plan-literal codebook (zero exchanges); each mean "
    "update is ONE map-side-combined groupBy whose width is the codebook, "
    "not the corpus; the per-iteration driver collect is the bounded "
    "codebook itself (the IVF probe-list pattern).  DECIMAL-exact sums + "
    "6dp rounding at every stage boundary keep both engines on the "
    "identical k-means trajectory — the oracle replays it in generated "
    "CTE stages, the BPE-fit differential strategy.",
)
def emb_pq_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Returns the trained codebook as (subspace, code, dim, comp) rows.

    The final Lloyd update is returned as a DISTRIBUTED plan (grid of
    previous centroids LEFT JOIN the new means, COALESCE) so the
    driver-checked query exercises the real aggregation, not a
    collected literal.
    """
    cb_prev = pq_train(spark, sf_dir, iters=PQ_ITERS - 1)
    subs = _subs_df(_unit(spark, sf_dir))
    return _final_lloyd_frame(spark, subs, cb_prev)


def _final_lloyd_frame(
    spark: SparkSession, subs: DataFrame, cb_prev: list[list[list[float]]]
) -> DataFrame:
    """The last Lloyd iteration as a distributed plan over ``subs``,
    shared by the full and sampled codebook queries."""
    assigned = subs.withColumn(
        "code", _case_over_m([_argmin_sql("sub", cb_prev[m]) for m in range(PQ_M)])
    )
    means = _mean_update(assigned)
    grid = spark.createDataFrame(
        [
            (m, k, d + 1, cb_prev[m][k][d])
            for m in range(PQ_M)
            for k in range(PQ_K)
            for d in range(PQ_SUBDIM)
        ],
        schema="subspace int, code int, dim int, comp_prev double",
    )
    out = grid.join(
        means.withColumnRenamed("m", "subspace"),
        ["subspace", "code", "dim"],
        "left",
    )
    return out.select(
        F.col("subspace").cast("int").alias("subspace"),
        F.col("code").cast("int").alias("code"),
        F.col("dim").cast("long").alias("dim"),
        F.coalesce(F.col("comp"), F.col("comp_prev")).alias("comp"),
    )


def _sampled_codebook_oracle_sql() -> str:
    return (
        _pq_vector_prelude_sql()
        + _train_sample_sql(N_TRAIN)
        + _pq_kmeans_sql(PQ_ITERS, "ssubs")
        + f"""
    SELECT CAST(m AS INT) AS subspace, CAST(k AS INT) AS code,
           CAST(dim AS BIGINT) AS dim, comp
    FROM c{PQ_ITERS}d
    """
    )


@REG.add(
    "emb_pq_codebook_sampled",
    _sampled_codebook_oracle_sql(),
    doc=f"PQ codebook trained on a BOUNDED deterministic sample of "
    f"{N_TRAIN} vectors (md5-rank seeded draw, the smp1 machinery, plus "
    "the PQ_K init seeds) — the FAISS-convention scale shape: quantizer "
    "statistics come from a fixed-size sample, so the train stage's cost "
    "is CONSTANT in corpus size and only the one-pass encode touches "
    "every vector.  The oracle replays the identical sample selection "
    "and Lloyd trajectory in generated CTE stages, so sampled training "
    "is hash-checked exactly like full-corpus training.",
)
def emb_pq_codebook_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled-training twin of emb_pq_codebook: the final Lloyd
    iteration runs distributed over the SAMPLED sub-vectors, read from
    the same checkpoint the earlier iterations trained on (the sample
    selection pass runs exactly once; the earlier iterations replay
    driver-side over the checkpoint's collected rows — round 13)."""
    subs = _sampled_subs(spark, sf_dir, N_TRAIN)
    cb_prev = _train_on_replay(subs.collect(), PQ_ITERS - 1)
    return _final_lloyd_frame(spark, subs, cb_prev)


# per-candidate ADC score: PQ_M LUT lookups summed in fixed
# left-associative textual order — shared by the flat-PQ and IVF-PQ
# oracles so the summation order can never diverge between them
_ADC_TERMS_SQL = " + ".join(f"q.lut[{m * PQ_K} + x.codes[{m + 1}] + 1]" for m in range(PQ_M))


def _lut_sql(cb_cte: str) -> str:
    """Per-query LUT CTEs (qlut, lut): PQ_M x PQ_K centroid dot products
    flattened in (m, k) order — shared by both search oracles."""
    return f""",
    qlut AS (
        SELECT s.vec_id AS query_id, s.m, c.k,
               list_dot_product(s.sub, c.c) AS contrib
        FROM subs s JOIN {cb_cte} c ON s.m = c.m
        WHERE s.vec_id < {N_QUERIES}
    ),
    lut AS (
        SELECT query_id, list(contrib ORDER BY m, k) AS lut
        FROM qlut GROUP BY query_id
    )"""


def _rerank_tail_sql(shortlist_depth: int = PQ_RERANK) -> str:
    """The shortlist -> exact-rerank -> final-cut tail over a ``scored``
    (query_id, neighbor_id, adc_score) CTE — identical for flat PQ,
    IVF-PQ, and Matryoshka, defined once."""
    return f""",
    shortlist AS (
        SELECT query_id, neighbor_id FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY adc_score DESC, neighbor_id) AS arank
            FROM scored
        ) WHERE arank <= {shortlist_depth}
    ),
    reranked AS (
        SELECT s.query_id, s.neighbor_id,
               ROUND(list_dot_product(qn.u, nn.u), 6) AS cosine
        FROM shortlist s
        JOIN n qn ON qn.vec_id = s.query_id
        JOIN n nn ON nn.vec_id = s.neighbor_id
    ),
    final AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rank
        FROM reranked
    )
    SELECT query_id, neighbor_id, cosine, rank FROM final WHERE rank <= {TOPK}
    """


def _adc_oracle_sql(sample_n: int | None = None) -> str:
    """Flat-PQ ADC search oracle; with ``sample_n`` the k-means stages
    train over the seeded sample CTE while encode/LUT/rerank stay
    corpus-wide — the exact split the Spark sampled path makes."""
    prefix = _pq_vector_prelude_sql()
    if sample_n is not None:
        prefix += _train_sample_sql(sample_n)
    prefix += _pq_kmeans_sql(PQ_ITERS, "ssubs" if sample_n is not None else "subs")
    return (
        prefix
        + f""",
    acode AS {_assign_sql("subs", f"c{PQ_ITERS}")},
    ncodes AS (
        SELECT vec_id AS neighbor_id, list(code ORDER BY m) AS codes
        FROM acode GROUP BY vec_id
    )"""
        + _lut_sql(f"c{PQ_ITERS}")
        + f""",
    scored AS (
        SELECT q.query_id, x.neighbor_id,
               ROUND({_ADC_TERMS_SQL}, 6) AS adc_score
        FROM ncodes x CROSS JOIN lut q
        WHERE x.neighbor_id <> q.query_id
    )"""
        + _rerank_tail_sql()
    )


def _lut_expr(cb: list[list[list[float]]], col: str = "u"):
    """Per-query flattened LUT column: PQ_M x PQ_K centroid dot products
    of the query's sub-vectors against codebook ``cb``, in (m, k) order —
    the Spark twin of _lut_sql, shared by flat-PQ, IVF-PQ, and OPQ
    search (``col`` names the vector the sub-slices read: raw unit,
    residual, or rotated).  ONE F.expr round-trip for the whole
    PQ_M x PQ_K table (round 13; was ~10 py4j calls per subspace)."""

    def lut_for(m: int) -> str:
        rows = ", ".join(_arr_sql(c) for c in cb[m])
        return f"transform(array({rows}), cv -> {_dot_sql(_sub_sql(col, m), 'cv')})"

    return F.expr(
        "flatten(array(" + ", ".join(lut_for(m) for m in range(PQ_M)) + "))"
    )


def _adc_terms_sql() -> str:
    """The PQ_M LUT-lookup terms of a candidate's ADC score, summed in
    fixed left-associative order (the Spark twin of _ADC_TERMS_SQL) —
    SQL text, parsed once.  element_at is 1-based exactly like the
    DSL form it replaces (Spark's [] subscript would be 0-based; not
    used here)."""
    return " + ".join(
        f"element_at(lut, cast(({m * PQ_K + 1} + element_at(codes, {m + 1})) as int))"
        for m in range(PQ_M)
    )


def _shortlist_rerank(
    scored: DataFrame, unit: DataFrame, shortlist_depth: int = PQ_RERANK
) -> DataFrame:
    """Coarse-score top-``shortlist_depth`` shortlist -> exact-cosine
    rescore -> top-TOPK cut (the Spark twin of _rerank_tail_sql), shared
    by the PQ, IVF-PQ, and Matryoshka search paths."""
    aw = Window.partitionBy("query_id").orderBy(F.col("adc_score").desc(), F.col("neighbor_id"))
    shortlist = (
        scored.withColumn("arank", F.row_number().over(aw))
        .filter(F.col("arank") <= shortlist_depth)
        .select("query_id", "neighbor_id")
    )
    qv = unit.select(F.col("vec_id").alias("query_id"), F.col("u").alias("qu"))
    nv = unit.select(F.col("vec_id").alias("neighbor_id"), F.col("u").alias("nu"))
    reranked = (
        F.broadcast(shortlist)
        .join(qv, "query_id")
        .join(nv, "neighbor_id")
        .withColumn("cosine", F.round(_dot("qu", "nu"), 6))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        reranked.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOPK)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


@REG.add(
    "sim_ann_pq",
    _adc_oracle_sql(),
    doc=f"PQ asymmetric-distance (ADC) search with exact rerank, top-{TOPK}: "
    f"the corpus is scanned as {PQ_M}x4-bit codes (64x smaller than the "
    "float vectors — the property that fits a trillion-vector index in "
    f"cluster RAM), each query carries a {PQ_M}x{PQ_K}-entry LUT of "
    f"centroid dot products computed once, scoring a candidate is {PQ_M} "
    "array lookups + adds in FIXED left-associative order (bit-identical "
    f"in both engines), and the ADC top-{PQ_RERANK} shortlist is rescored "
    "at full precision before the final cut — the standard two-stage "
    "compressed-search shape (same rescore pattern as sim_knn_graph's JL "
    "path).  Encode is zero-shuffle in-row argmin against the plan-literal "
    "codebook; the query side (LUTs included) is broadcast; the rerank "
    "joins only Q x R shortlist rows back to the vector store.  Recall vs "
    "the exact brute-force baseline is pinned in tests/test_pq.py.",
)
def sim_ann_pq(
    spark: SparkSession,
    sf_dir: str,
    cb: list[list[list[float]]] | None = None,
    rerank: int = PQ_RERANK,
) -> DataFrame:
    """``cb`` injects a pre-trained codebook so the bench can time the
    fixed training cost and the encode+search scan separately (the
    registered driver query trains its own — the oracle replays the
    full trajectory either way).  ``rerank`` widens the ADC shortlist
    for scale runs: the fresh-vector recall curve
    (BENCH_recall_scale.json) shows a FROZEN 64-deep funnel decays as
    the candidate pool grows — funnel depth is the PQ family's sizing
    knob, the way n_cells is IVF's."""
    unit = _unit(spark, sf_dir)
    return _shortlist_rerank(
        _adc_pq_scored(spark, sf_dir, unit, cb=cb), unit, shortlist_depth=rerank
    )


@REG.add(
    "sim_ann_pq_sampled",
    _adc_oracle_sql(sample_n=N_TRAIN),
    doc=f"Flat-PQ ADC search with the codebook trained on the bounded "
    f"{N_TRAIN}-vector seeded sample (emb_pq_codebook_sampled's "
    "trajectory) and then applied corpus-wide: encode, LUT scoring, and "
    "exact rerank are identical to sim_ann_pq — this is the end-to-end "
    "proof that sampled training composes with the full search funnel "
    "(recall parity vs full-corpus training is pinned in tests/test_pq.py "
    "and measured at x10..x100 in BENCH_recall_scale.json).",
)
def sim_ann_pq_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim_ann_pq(spark, sf_dir, cb=pq_train(spark, sf_dir, train_sample=N_TRAIN))


def _adc_pq_scored(
    spark: SparkSession,
    sf_dir: str,
    unit: DataFrame,
    cb: list[list[list[float]]] | None = None,
    frame: DataFrame | None = None,
    col: str = "u",
) -> DataFrame:
    """Train + encode + ADC-score the PQ candidates: returns the
    (query_id, neighbor_id, adc_score) frame ahead of the funnel —
    split out so the sensitivity harness can sweep shortlist depth
    without retraining per setting, and so sim_ann_opq runs the
    IDENTICAL encode/LUT/score/join block over its rotated table
    (``frame``/``col``) instead of a hand-synced copy."""
    if cb is None:
        cb = pq_train(spark, sf_dir)
    src_frame = frame if frame is not None else unit
    corpus = src_frame.select(
        F.col("vec_id").alias("neighbor_id"),
        F.expr(
            "array(" + ", ".join(_argmin_sql(_sub_sql(col, m), cb[m]) for m in range(PQ_M)) + ")"
        ).alias("codes"),
    )
    q = src_frame.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        _lut_expr(cb, col=col).alias("lut"),
    )
    score = F.expr(f"round({_adc_terms_sql()}, 6)")
    return corpus.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id")).withColumn(
        "adc_score", score
    )


# ---------------------------------------------------------------------------
# IVF-PQ: the full production composition — coarse cell pruning + PQ
# codes on the RESIDUALS + per-query ADC + exact rerank (the FAISS
# IndexIVFPQ shape).  The coarse quantizer prunes which code partitions
# a query reads; residual encoding quantizes the (much smaller) vector
# remainder after subtracting the cell centroid, which is what makes a
# 32-bit code usable at billion scale.
# ---------------------------------------------------------------------------

IVFPQ_PROBES = 4  # coarse cells probed per query (of IVF_CELLS)
# ADC shortlist depth: 2x the flat-PQ funnel — the measured knee
# (BENCH_ivfpq_probes.json: probes 2->8 is recall-flat at 0.80 while
# rerank 64->128 closes recall to 1.00 at ~4% wall; true neighbors sat
# just below the 64 boundary in residual-ADC order)
IVFPQ_RERANK = 128


def _cells_data(spark: SparkSession, sf_dir: str) -> list[list[float]]:
    """Coarse quantizer: cell k = round6 unit vector of vec_id k (the
    similarity.py seeded-quantizer convention, rounded so the literal
    matches the oracle's CTE bit-for-bit)."""
    rows = (
        _unit(spark, sf_dir)
        .filter(F.col("vec_id") < IVF_CELLS)
        .select("vec_id", F.transform("u", lambda x: F.round(x, 6)).alias("c"))
        .collect()
    )
    by = {r["vec_id"]: list(r["c"]) for r in rows}
    return [by[k] for k in range(IVF_CELLS)]


def _cell_structs_sql(cells: list[list[float]]) -> str:
    # one SQL fragment for the whole cell table (see _cb_structs_sql)
    entries = ", ".join(
        f"named_struct('c', {_arr_sql(c)}, 'k', {k})" for k, c in enumerate(cells)
    )
    return f"array({entries})"


def _cell_struct_lit(cells: list[list[float]]):
    return F.expr(_cell_structs_sql(cells))


def _argmax_cell(u: str, cells: list[list[float]]):
    """Nearest coarse cell by round6 cosine (unit vectors), lowest cell
    on ties — array_max over (score, -cell) structs.  ``u`` is a SQL
    fragment naming the unit-vector column; the whole argmax is ONE
    F.expr round-trip (round 13)."""
    return F.expr(
        f"-array_max(transform({_cell_structs_sql(cells)}, "
        f"e -> named_struct('s', round({_dot_sql(u, 'e.c')}, 6), 'nk', -e.k))).nk"
    )


def _ivfpq_oracle_sql(sample_n: int | None = None) -> str:
    """IVF-PQ search oracle; with ``sample_n`` the residual k-means
    trains over the seeded sample CTE (seeds at IVF_CELLS.., mirroring
    ivfpq_index(train_sample=...)) while coarse assignment, residual
    materialization, encode, probe, and rerank stay corpus-wide —
    the exact split the Spark sampled path makes."""
    if sample_n is not None:
        kmeans = _train_sample_sql(
            sample_n, offset=IVF_CELLS, subs="rsubs"
        ) + _pq_kmeans_sql(PQ_ITERS, "ssubs", IVF_CELLS)
    else:
        kmeans = _pq_kmeans_sql(PQ_ITERS, "rsubs", IVF_CELLS)
    return (
        _pq_vector_prelude_sql()
        + f""",
    cells AS (
        SELECT CAST(vec_id AS INT) AS cell, list_transform(u, x -> ROUND(x, 6)) AS c
        FROM n WHERE vec_id < {IVF_CELLS}
    ),
    cassign AS (
        SELECT vec_id, cell FROM (
            SELECT n.vec_id, c.cell,
                   ROW_NUMBER() OVER (PARTITION BY n.vec_id
                       ORDER BY ROUND(list_dot_product(n.u, c.c), 6) DESC, c.cell) AS rn
            FROM n CROSS JOIN cells c
        ) WHERE rn = 1
    ),
    resid AS (
        SELECT n.vec_id, a.cell,
               list_transform(range(1, {DIMS + 1}), i -> n.u[i] - c.c[i]) AS r
        FROM n JOIN cassign a ON n.vec_id = a.vec_id JOIN cells c ON c.cell = a.cell
    ),
    rsubs AS (
        SELECT vec_id, m, r[m*{PQ_SUBDIM}+1 : m*{PQ_SUBDIM}+{PQ_SUBDIM}] AS sub
        FROM resid CROSS JOIN UNNEST(range({PQ_M})) AS t(m)
    )"""
        + kmeans
        + f""",
    acode AS {_assign_sql("rsubs", f"c{PQ_ITERS}")},
    ncodes AS (
        SELECT a.vec_id AS neighbor_id, ca.cell, list(a.code ORDER BY a.m) AS codes
        FROM acode a JOIN cassign ca ON ca.vec_id = a.vec_id
        GROUP BY a.vec_id, ca.cell
    ),
    qprobes AS (
        SELECT query_id, cell FROM (
            SELECT n.vec_id AS query_id, c.cell,
                   ROW_NUMBER() OVER (PARTITION BY n.vec_id
                       ORDER BY ROUND(list_dot_product(n.u, c.c), 6) DESC, c.cell) AS rnk
            FROM n CROSS JOIN cells c WHERE n.vec_id < {N_QUERIES}
        ) WHERE rnk <= {IVFPQ_PROBES}
    )"""
        + _lut_sql(f"c{PQ_ITERS}")
        + f""",
    qcell AS (
        SELECT n.vec_id AS query_id, c.cell, list_dot_product(n.u, c.c) AS cs
        FROM n CROSS JOIN cells c WHERE n.vec_id < {N_QUERIES}
    ),
    scored AS (
        SELECT p.query_id, x.neighbor_id,
               ROUND(qc.cs + {_ADC_TERMS_SQL}, 6) AS adc_score
        FROM ncodes x
        JOIN qprobes p ON x.cell = p.cell
        JOIN lut q ON q.query_id = p.query_id
        JOIN qcell qc ON qc.query_id = p.query_id AND qc.cell = x.cell
        WHERE x.neighbor_id <> p.query_id
    )"""
        + _rerank_tail_sql(IVFPQ_RERANK)
    )


def ivfpq_index(
    spark: SparkSession, sf_dir: str, train_sample: int | None = None
) -> tuple[list[list[float]], DataFrame, list[list[list[float]]]]:
    """The IVF-PQ BUILD stage — coarse cells, materialized residuals,
    residual codebook — split out so the bench can time index build vs
    probe+search separately (round-6 VERDICT #4).

    ``train_sample`` bounds the residual k-means to the deterministic
    seeded sample (plus the residual-init seeds at IVF_CELLS..): the
    residual MATERIALIZATION stays corpus-wide because the encode needs
    it anyway, but the iterated Lloyd passes scan only the sample —
    constant train cost in corpus size."""
    cells = _cells_data(spark, sf_dir)
    cells_arr = F.expr("array(" + ", ".join(_arr_sql(c) for c in cells) + ")")
    unit = _unit(spark, sf_dir)
    # MATERIALIZE (vec_id, cell, r): Catalyst's projection collapse
    # would otherwise inline the residual construction — including the
    # 16-cell argmax inside it — into EVERY downstream reference (each
    # of the 8 sub-slices x 16 candidate folds of the encode), a ~100x
    # per-row blowup.  Same family as the explode-of-projected-array
    # trap (SCALE.md round-5 find); found here by the scale protocol
    # when the x10 point hung.
    resid = (
        unit.withColumn("cell", _argmax_cell("u", cells))
        .withColumn(
            "r", F.zip_with("u", F.element_at(cells_arr, F.col("cell") + 1), lambda x, y: x - y)
        )
        .localCheckpoint(eager=True)
    )
    rsubs = _subs_df(resid, col="r")
    if train_sample is not None:
        sampled = rsubs.join(
            F.broadcast(_train_ids(unit, train_sample, offset=IVF_CELLS)), "vec_id", "semi"
        )
        # bounded sample: one collect, zero-job Lloyd replay (round 13)
        cbr = _train_on_replay(sampled.collect(), PQ_ITERS, offset=IVF_CELLS)
    else:
        cbr = _train_on(rsubs, PQ_ITERS, offset=IVF_CELLS)
    return cells, resid, cbr



@REG.add(
    "sim_ann_ivfpq",
    _ivfpq_oracle_sql(),
    doc=f"IVF-PQ: the full production ANN composition (the FAISS IndexIVFPQ "
    f"shape) — seeded coarse quantizer prunes the scan to the query's top-"
    f"{IVFPQ_PROBES} of {IVF_CELLS} cells, PQ codes quantize the RESIDUAL after "
    "subtracting the cell centroid (what keeps a 32-bit code accurate at "
    "scale), scoring is dot(q, cell) + the residual LUT lookups in fixed "
    f"left-associative order, and the ADC top-{IVFPQ_RERANK} shortlist is "
    "rescored exactly.  At cluster scale the codes live partitioned BY "
    "CELL, so probing = partition pruning (the sim_ann_ivf layout) over "
    "64x-compressed data.  Residual k-means seeds from vectors "
    f"{IVF_CELLS}..{IVF_CELLS + PQ_K - 1} (the cell seeds' own residuals are ~0); the oracle replays "
    "coarse assignment, residual training, encode, probe, and rerank in "
    "one generated CTE chain.  REGISTERED-DEFAULT RATIONALE (round-11 "
    "decision): this flagship keeps FULL-CORPUS training on purpose — "
    "it is the strictest cross-engine pin (every vector's contribution "
    "to every Lloyd iteration is bucket-exact against the oracle), "
    "which a sampled run cannot exercise.  The PRODUCTION form at "
    "100 TB is sim_ann_ivfpq_sampled (bounded seeded sample, the FAISS "
    "convention), registered alongside with measured recall parity; a "
    "scale user calls that twin, this one is the arithmetic gauge.",
)
def sim_ann_ivfpq(
    spark: SparkSession,
    sf_dir: str,
    probes: int = IVFPQ_PROBES,
    rerank: int = IVFPQ_RERANK,
    index: tuple[list[list[float]], DataFrame, list[list[list[float]]]] | None = None,
) -> DataFrame:
    """``probes``/``rerank`` widen the coarse probe / ADC shortlist for
    scale and sensitivity runs (the matryoshka-kwargs pattern);
    ``index`` injects a pre-built ivfpq_index for the bench's stage
    split.  The registered driver query uses the module defaults and
    builds its own index, which the oracle mirrors as literals."""
    cells, resid, cbr = index if index is not None else ivfpq_index(spark, sf_dir)
    unit = _unit(spark, sf_dir)

    corpus = resid.select(
        F.col("vec_id").alias("neighbor_id"),
        "cell",
        F.expr(
            "array(" + ", ".join(_argmin_sql(_sub_sql("r", m), cbr[m]) for m in range(PQ_M)) + ")"
        ).alias("codes"),
    )

    probe_structs_sql = (
        f"array_sort(transform({_cell_structs_sql(cells)}, "
        f"e -> named_struct('ns', -round({_dot_sql('u', 'e.c')}, 6), 'k', e.k)))"
    )
    q = unit.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.expr(
            f"transform(slice({probe_structs_sql}, 1, {probes}), e -> e.k)"
        ).alias("probes"),
        F.expr(
            f"transform({_cell_structs_sql(cells)}, e -> {_dot_sql('u', 'e.c')})"
        ).alias("cellscores"),
        _lut_expr(cbr).alias("lut"),
    )

    cs = "element_at(cellscores, cast((cell + 1) as int))"
    score = F.expr(f"round({cs} + {_adc_terms_sql()}, 6)")
    scored = corpus.join(
        F.broadcast(q),
        F.array_contains(F.col("probes"), F.col("cell"))
        & (F.col("neighbor_id") != F.col("query_id")),
    ).withColumn("adc_score", score)

    return _shortlist_rerank(scored, unit, shortlist_depth=rerank)


@REG.add(
    "sim_ann_ivfpq_sampled",
    _ivfpq_oracle_sql(sample_n=N_TRAIN),
    doc=f"IVF-PQ search with the residual codebook trained on the bounded "
    f"{N_TRAIN}-vector seeded sample (seeds at {IVF_CELLS}.. because the "
    "coarse seeds' own residuals are ~0) and then applied corpus-wide: "
    "coarse assignment, residual materialization, encode, probe, and "
    "exact rerank are identical to sim_ann_ivfpq — the composed-index "
    "proof that sampled training (the FAISS convention: quantizers train "
    "on a bounded sample, never the corpus) reaches the full IVF x PQ "
    "matrix.  Train wall and recall parity vs full-corpus training are "
    "measured at x10..x100 in BENCH_recall_scale.json.",
)
def sim_ann_ivfpq_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim_ann_ivfpq(
        spark, sf_dir, index=ivfpq_index(spark, sf_dir, train_sample=N_TRAIN)
    )


# ---------------------------------------------------------------------------
# Matryoshka (MRL) search: compression by DIMENSION TRUNCATION
# (Kusupati et al. 2022, "Matryoshka Representation Learning").  The
# third compression axis after codes (PQ) and hashes (LSH): the coarse
# pass scores only the first MRL_DIMS components of each vector — no
# index, no training, just a prefix slice — then the usual exact rerank.
# At 100 TB this is a 2x cheaper corpus scan (and a 2x smaller coarse
# replica if the prefix is stored separately) with zero build cost.
#
# Honest caveat, measured: this corpus's embeddings are ISOTROPIC —
# information is spread evenly across dimensions, MRL's worst case
# (the technique assumes embeddings TRAINED with the matryoshka nesting
# loss, which front-loads information).  Measured top-5 recall at
# sf0.1: prefix-16/shortlist-64 = 0.40, prefix-32/shortlist-128 = 0.76.
# The operator ships the 32/128 point and pins the floor in tests; on
# MRL-trained embeddings the same plan gets the advertised 4x+.
# ---------------------------------------------------------------------------

MRL_DIMS = DIMS // 2  # coarse-pass prefix (see isotropy caveat above)
MRL_SHORTLIST = 128  # funnel width (2x the PQ family's, same reason)


def _mrl_oracle_sql() -> str:
    # lean prelude (unit vectors only — no PQ sub-vector CTE): the MRL
    # oracle has no reason to be textually coupled to PQ_M/PQ_SUBDIM
    return (
        f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    n AS (SELECT vec_id,
                 list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS u
          FROM e)"""
        + f""",
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROUND(list_dot_product(q.u[1:{MRL_DIMS}], c.u[1:{MRL_DIMS}]), 6) AS adc_score
        FROM n q JOIN n c ON q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
    )"""
        + _rerank_tail_sql(MRL_SHORTLIST)
    )


@REG.add(
    "sim_ann_matryoshka",
    _mrl_oracle_sql(),
    doc=f"Matryoshka-style ANN (Kusupati et al. 2022): the coarse pass "
    f"scores only the first {MRL_DIMS} of {DIMS} dimensions — compression "
    "by prefix truncation, the third axis after PQ codes and LSH hashes — "
    f"then the top-{MRL_SHORTLIST} shortlist is rescored at full "
    f"precision before the top-{TOPK} cut (the shared _shortlist_rerank "
    "funnel).  No index, no training, no shuffle beyond the shared "
    "broadcast+window funnel: the corpus is scanned once reading a "
    f"{DIMS // MRL_DIMS}x smaller representation, which at cluster scale "
    "is a proportionally cheaper scan (store the prefix column "
    "separately and the scan prunes to it).  Prefix dots are rounded to "
    "6dp with the standing lowest-id tiebreak, so both engines shortlist "
    "identically.  Recall floor pinned in tests/test_pq.py; this "
    "corpus's isotropic embeddings are MRL's worst case (see module "
    "comment), which the measured 0.76@sf0.1 reflects honestly.",
)
def sim_ann_matryoshka(
    spark: SparkSession,
    sf_dir: str,
    dims: int = MRL_DIMS,
    shortlist: int = MRL_SHORTLIST,
) -> DataFrame:
    """``dims``/``shortlist`` kwargs let scale runs widen the funnel
    (the _knn_kwargs pattern); the registered driver query uses the
    module defaults, which the oracle mirrors as literals."""
    unit = _unit(spark, sf_dir)
    corpus = unit.select(
        F.col("vec_id").alias("neighbor_id"), F.slice("u", 1, dims).alias("cp")
    )
    q = unit.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.slice("u", 1, dims).alias("qp")
    )
    scored = corpus.join(
        F.broadcast(q), F.col("neighbor_id") != F.col("query_id")
    ).withColumn("adc_score", F.round(_dot("cp", "qp"), 6))
    return _shortlist_rerank(scored, unit, shortlist_depth=shortlist)


# ---------------------------------------------------------------------------
# OPQ-style rotated PQ (Ge, He, Ke, Sun 2013, "Optimized Product
# Quantization" — CVPR).  OPQ minimizes PQ quantization error by
# rotating the space before sub-slicing, so correlated/unbalanced
# dimensions stop landing in the same subspace.  The full OPQ
# alternation (Procrustes SVD per iteration) is not expressible in the
# deterministic two-engine contract, so this ships the paper's
# RANDOM-ROTATION baseline (OPQ's own reference point, also the
# rotation used by FAISS's OPQ pre-transform fallback): a seeded
# deterministic orthonormal matrix, generated driver-side in pure
# Python IEEE arithmetic (md5-seeded uniforms + classical Gram-Schmidt
# with fixed left-associative folds), embedded as the SAME literal in
# both engines.  Everything downstream of the rotation is the flat-PQ
# machinery verbatim: Lloyd codebook on rotated sub-vectors, in-row
# encode, per-query LUT, fixed-order ADC, exact rerank on the ORIGINAL
# vectors (rotation preserves dot products, so the rerank needs no
# inverse transform).
#
# Honest caveat (the Matryoshka treatment): this corpus's embeddings
# are ISOTROPIC, so rotation has nothing to balance and recall should
# match flat PQ rather than beat it — the value demonstrated here is
# the composition and its parity, with the recall equivalence pinned
# in tests; on real correlated embeddings the same plan is where OPQ's
# published gains live.
# ---------------------------------------------------------------------------

OPQ_SEED = "opq-rot-v1"


def _rot_matrix(dims: int = DIMS, seed: str = OPQ_SEED) -> list[list[float]]:
    """Deterministic orthonormal rotation: md5-seeded uniform rows,
    classical Gram-Schmidt with explicit left-associative folds (pure
    Python floats ARE IEEE doubles, so the matrix is bit-identical on
    any platform), entries rounded to 9dp only to keep the SQL literal
    compact (both engines receive the identical rounded literal, so
    the 1e-9 orthonormality slack cancels in the comparison)."""
    import hashlib
    import math

    def u01(i: int, j: int) -> float:
        h = hashlib.md5(f"{seed}-{i}-{j}".encode()).hexdigest()
        return int(h[:8], 16) / 2**32

    basis: list[list[float]] = []
    for i in range(dims):
        v = [2.0 * u01(i, j) - 1.0 for j in range(dims)]
        for b in basis:
            d = 0.0
            for x, y in zip(v, b):
                d = d + x * y
            v = [x - d * y for x, y in zip(v, b)]
        s = 0.0
        for x in v:
            s = s + x * x
        nrm = math.sqrt(s)
        basis.append([x / nrm for x in v])
    return [[round(x, 9) for x in row] for row in basis]


_OPQ_R = _rot_matrix()


def _opq_rotate_expr(col: str) -> F.Column:
    """Rotated vector: component i = round6(R[i] . u), the literal
    rotation rows folded with the repo's left-associative dot — the
    Spark twin of the oracle's list_transform(R, row ->
    ROUND(list_dot_product(row, u), 6))."""
    # one py4j round-trip for the whole rotation matrix (1 parsed
    # literal) instead of DIMS x DIMS F.lit round-trips — the matrix
    # alone was ~4k py4j calls per plan before round 12
    rows_lit = F.expr("array(" + ", ".join(_arr_sql(r) for r in _OPQ_R) + ")")
    return F.transform(
        rows_lit,
        lambda row: F.round(
            F.aggregate(
                F.zip_with(row, F.col(col), lambda x, y: x * y),
                F.lit(0.0),
                lambda a, x: a + x,
            ),
            6,
        ),
    )


def _opq_oracle_sql() -> str:
    rows = ", ".join(
        "[" + ", ".join(repr(x) for x in row) + "]" for row in _OPQ_R
    )
    # EXPLICIT left-associative term sum, NOT list_dot_product: the
    # rotation fuzz (tests/test_pq_fuzz.py) proved list_dot_product can
    # differ from the sequential fold by 1 ULP (FMA/pairwise summation
    # internally), and a ULP at a 6dp rounding boundary would desync
    # the trained codebooks between engines.  A parsed a+b+c chain is
    # left-associative and sequentially evaluated in both engines, so
    # this form is bit-identical to Spark's F.aggregate fold.  The
    # literal matrix is CAST to DOUBLE[][] explicitly: bare numeric
    # literals parse as DECIMAL when they fit 18 digits, and a chain
    # evaluated in exact DECIMAL then ROUNDed can disagree with the
    # double fold at a 6dp boundary — the cast pins the whole
    # computation to IEEE double arithmetic (fuzz-pinned in
    # tests/test_pq_fuzz.py).
    terms = " + ".join(f"row[{i + 1}] * u[{i + 1}]" for i in range(DIMS))
    return (
        f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    n AS (SELECT vec_id,
                 list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS u
          FROM e),
    r AS (
        SELECT vec_id,
               list_transform(CAST([{rows}] AS DOUBLE[][]),
                              row -> ROUND({terms}, 6)) AS ru
        FROM n
    ),
    subs AS (
        SELECT vec_id, m, ru[m*{PQ_SUBDIM}+1 : m*{PQ_SUBDIM}+{PQ_SUBDIM}] AS sub
        FROM r CROSS JOIN UNNEST(range({PQ_M})) AS t(m)
    )"""
        + _pq_kmeans_sql(PQ_ITERS)
        + f""",
    acode AS {_assign_sql("subs", f"c{PQ_ITERS}")},
    ncodes AS (
        SELECT vec_id AS neighbor_id, list(code ORDER BY m) AS codes
        FROM acode GROUP BY vec_id
    )"""
        + _lut_sql(f"c{PQ_ITERS}")
        + f""",
    scored AS (
        SELECT q.query_id, x.neighbor_id,
               ROUND({_ADC_TERMS_SQL}, 6) AS adc_score
        FROM ncodes x CROSS JOIN lut q
        WHERE x.neighbor_id <> q.query_id
    )"""
        + _rerank_tail_sql()
    )


def _round6_spark(x: float) -> float:
    """Spark's round(x, 6) for doubles, replayed exactly: the JVM goes
    BigDecimal(Double.toString(x)).setScale(6, HALF_UP).  Python repr
    is the same shortest round-trip decimal (probe class as _dlit), and
    Decimal.quantize(HALF_UP) is the same away-from-zero half rule.
    Java's BigDecimal cannot represent -0.0, so an exactly-zero result
    is normalized to +0.0 to match the JVM output bit-for-bit.  ``float(x)``
    first: numpy >= 2 reprs an ``np.float64`` as ``np.float64(0.1)``."""
    f = float(_Dec(repr(float(x))).quantize(_Q6, rounding=_HALF_UP))
    return 0.0 if f == 0.0 else f


def opq_rotate_kernel(rot_rows: list[list[float]]):
    """mapInArrow batch fn: (vec_id, u) -> (vec_id, ru) where
    ru[i] = round6(R[i] . u) — BIT-IDENTICAL to _opq_rotate_expr
    (pinned in tests/test_pq.py) but vectorized (guide §4.2).

    The left-associative fold is replayed EXACTLY by accumulating over
    input dims in order: acc starts at 0.0 and each numpy elementwise
    multiply/add is one correctly-rounded IEEE double op, so every
    output element computes ((0 + r_0*u_0) + r_1*u_1) + ... — the same
    op sequence as the SQL aggregate fold (multiplication operand
    order is irrelevant: IEEE multiply is commutative).  round6 goes
    through _round6_spark (the JVM's toString->HALF_UP semantics).

    Why: the interpreted higher-order-function rotation measured
    ~1.2 ms/vector at sf0.1 (2.2-3.3 s for 2000 rows — the dominant
    cost of opq_index and ~100% per-row EXECUTION, not plan overhead),
    and it scales linearly with the corpus: at 10^9 vectors that is
    ~2 weeks of CPU.  The numpy path is ~3 orders cheaper per vector,
    the same adoption (and evidence protocol) as arrow_rank_kernel."""
    import numpy as np
    import pyarrow as pa

    R = np.array(rot_rows, dtype=np.float64)  # (DIMS out, DIMS in)
    out_schema = pa.schema(
        [("vec_id", pa.int64()), ("ru", pa.list_(pa.float64()))]
    )

    def _rot(batches):
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                yield pa.record_batch(
                    [pa.array([], t.type) for t in out_schema], schema=out_schema
                )
                continue
            u = batch.column("u")
            mat = np.asarray(u.flatten(), dtype=np.float64).reshape(n, -1)
            acc = np.zeros((n, R.shape[0]), dtype=np.float64)
            for d in range(R.shape[1]):  # sequential in d == the SQL fold order
                acc += mat[:, d : d + 1] * R[:, d][None, :]
            flat = [_round6_spark(x) for x in acc.ravel()]
            offsets = np.arange(0, (n + 1) * R.shape[0], R.shape[0], dtype=np.int32)
            yield pa.record_batch(
                [
                    batch.column("vec_id"),
                    pa.ListArray.from_arrays(pa.array(offsets), pa.array(flat, pa.float64())),
                ],
                schema=out_schema,
            )

    return _rot


def opq_index(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, list[list[list[float]]]]:
    """The OPQ BUILD stage — materialized rotated table + codebook
    trained on it — split out for the bench's train/search stage
    separation (the ivfpq_index pattern).  The rotation runs through
    the arrow kernel (round 13; bit-equality with the SQL expression
    pinned in tests/test_pq.py::test_opq_rotate_kernel_matches_sql)."""
    unit = _unit(spark, sf_dir)
    # materialize (vec_id, ru) before the training/encode fan-out:
    # sibling of the IVF-PQ residual checkpoint — projection collapse
    # would inline the 64x64 rotation into every downstream reference
    rot = (
        unit.select("vec_id", "u")
        .mapInArrow(opq_rotate_kernel(_OPQ_R), "vec_id long, ru array<double>")
        .localCheckpoint(eager=True)
    )
    return rot, _train_on(_subs_df(rot, col="ru"), PQ_ITERS)



@REG.add(
    "sim_ann_opq",
    _opq_oracle_sql(),
    doc=f"OPQ-style rotated PQ search (Ge et al. 2013): a seeded "
    f"deterministic orthonormal rotation (md5-uniform rows + Gram-"
    f"Schmidt, generated driver-side, the identical {DIMS}x{DIMS} "
    "literal in both engines) is applied in-row before sub-slicing, "
    "then the flat-PQ machinery runs verbatim on the rotated space — "
    f"Lloyd codebook, zero-shuffle encode, {PQ_M}x{PQ_K} LUT, fixed-"
    f"order ADC, and exact rerank of the top-{PQ_RERANK} on the "
    "ORIGINAL vectors (rotation preserves dot products; no inverse "
    "transform needed).  This is the paper's random-rotation baseline "
    "— the full SVD alternation is outside the deterministic two-"
    "engine contract, which the doc says plainly.  The rotated table "
    "is checkpointed before the codebook/encode fan-out (the "
    "projection-inlining trap would otherwise re-evaluate the 64-dot "
    "rotation per reference).  On this corpus's isotropic embeddings "
    "rotation is recall-NEUTRAL by construction (nothing to balance); "
    "the equivalence with flat PQ is pinned in tests/test_pq.py.",
)
def sim_ann_opq(
    spark: SparkSession,
    sf_dir: str,
    index: tuple[DataFrame, list[list[list[float]]]] | None = None,
) -> DataFrame:
    unit = _unit(spark, sf_dir)
    rot, cb = index if index is not None else opq_index(spark, sf_dir)
    scored = _adc_pq_scored(spark, sf_dir, unit, cb=cb, frame=rot, col="ru")
    return _shortlist_rerank(scored, unit)


# ---------------------------------------------------------------------------
# TRAINED OPQ (round-7 VERDICT #3): the data-adaptive rotation Ge et
# al.'s alternation learns, restated inside the deterministic
# two-engine contract.  Full non-parametric OPQ needs a Procrustes SVD
# per iteration — not replayable in SQL — so this implements the
# PARAMETRIC variant's two ingredients with SQL-replayable machinery:
#
#   1. DECORRELATION as a fixed schedule of Jacobi/Givens rotations
#      over the subspace-straddling pair lattice (i, i + PQ_SUBDIM).
#      Each step needs only three corpus aggregates (round9 products
#      summed as DECIMAL(20,9) — exact and order-independent in both
#      engines) and the classic trig-free Jacobi formulas (sign, abs,
#      /, sqrt — all IEEE-correctly-rounded, so c and s are BIT-
#      IDENTICAL across engines with no rounding hacks).
#   2. EIGENVALUE ALLOCATION (the step the paper shows dominates for
#      Gaussian-like data): rank dimensions by post-rotation variance
#      (DECIMAL-exact moment sums) and deal them round-robin across
#      subspaces, so no subspace hoards variance.  The permutation is
#      an orthogonal transform computed from data — in SQL it is a
#      list() ordered by destination slot; in Spark the 64 ints are
#      collected once and baked as literals.
#
# The demonstration corpus is the ANISOTROPIC FIXTURE VIEW: the
# embeddings stretched by the literal per-pair map w_i = 2u_i +
# u_{i+8}, w_{i+8} = u_i + 2u_{i+8} (then renormalized) — planted
# cross-subspace correlation 0.8, the structure real embedding models
# produce and the isotropic base corpus provably lacks (sim_ann_opq's
# recall == flat PQ is pinned in tests).  Measured at sf0.1 (numpy
# prototype, replicated by tests/test_pq.py on the real operators):
# quantization MSE flat 0.60 / random-rotation 0.54 / trained 0.41;
# recall@5 at rerank 16: 0.31 / 0.54 / 0.63.  Decorrelation WITHOUT
# allocation measures ~flat (0.56 MSE) — the alternation's win on
# Gaussian data is balance, which is why both steps ship.
# ---------------------------------------------------------------------------

OPQT_PAIRS = [(i, i + PQ_SUBDIM) for i in range(PQ_SUBDIM)]


def _jacobi_cs(sab: float, saa: float, sbb: float) -> tuple[float, float]:
    """Trig-free Jacobi rotation zeroing the (a, b) covariance: pure
    IEEE double arithmetic (sign/abs//,sqrt are correctly rounded), so
    the Python values equal the SQL twin's bit-for-bit given identical
    DECIMAL-exact sums.  s is computed as t * c — NOT t / sqrt(...) —
    because the two differ by an ULP and both engines must pick one."""
    import math

    if sab == 0.0:
        return 1.0, 0.0
    tau = (sbb - saa) / (2.0 * sab)
    t = (-1.0 if tau < 0 else 1.0) / (abs(tau) + math.sqrt(1.0 + tau * tau))
    c = 1.0 / math.sqrt(1.0 + t * t)
    return c, t * c


def _opq_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The anisotropic fixture view (vec_id, u): unit vectors stretched
    by the literal pair map above, renormalized.  Checkpointed — every
    consumer (Givens aggregates, rerank, queries) re-references it."""
    unit = _unit(spark, sf_dir)

    def el(i: int) -> str:
        return f"element_at(u, {i})"

    terms = []
    for j in range(DIMS):
        if j < PQ_SUBDIM:
            terms.append(f"(2.0D * {el(j + 1)} + {el(j + 1 + PQ_SUBDIM)})")
        elif j < 2 * PQ_SUBDIM:
            terms.append(f"({el(j + 1 - PQ_SUBDIM)} + 2.0D * {el(j + 1)})")
        else:
            terms.append(el(j + 1))
    cp = checkpoint_stage(
        unit.select("vec_id", F.expr("array(" + ", ".join(terms) + ")").alias("w")),
        "opq_fixture_stretch",
    )
    return checkpoint_stage(
        cp.select(
            "vec_id",
            F.expr(f"transform(w, el -> el / sqrt({_dot_sql('w', 'w')}))").alias("u"),
        ),
        "opq_fixture_renormalize",
    )


def _dec_sum(expr: F.Column) -> F.Column:
    """round9 -> DECIMAL(20,9) sum -> double: the order-independent
    cross-engine-exact aggregate every training statistic uses."""
    return F.sum(F.round(expr, 9).cast("decimal(20,9)")).cast("double")


def _dec_sum_sql(expr_sql: str) -> str:
    """SQL twin of _dec_sum — the trained-OPQ build issues 153 of these
    (24 Givens + 129 variance aggregates) and the DSL form cost ~10
    py4j round-trips each (round-13 profile: the whole build was ~70%
    driver-side socket time)."""
    return f"cast(sum(cast(round({expr_sql}, 9) as decimal(20,9))) as double)"


def opq_trained_index(
    spark: SparkSession, sf_dir: str, train_sample: int | None = None
) -> tuple[DataFrame, DataFrame, list[int], list[list[list[float]]]]:
    """The trained-OPQ BUILD stage: fixture -> Givens sweep -> variance
    allocation -> rounded rotated table -> Lloyd codebook.  Returns
    (fixture, rotated, perm, codebook) — split out for the bench's
    train/search stage separation (the opq_index pattern).

    SINGLE-PASS Givens (round-9): OPQT_PAIRS is a DISJOINT lattice —
    no dim appears in two pairs — so step k's (sab, saa, sbb) over the
    step-(k-1) table read only dims NO earlier rotation touched (the
    sequential update copies untouched dims verbatim).  All 8 steps'
    statistics therefore equal the same sums over the UNROTATED fixture
    and come from ONE aggregate pass, and the composed rotation (each
    dim written by at most one pair) applies in ONE projection.  This
    is bit-identical to the sequential sweep — the oracle still replays
    it sequentially and the driver hash-check passes — and replaces 8
    full-corpus aggregate+checkpoint rounds with 1 aggregate + 1
    rotation pass: the difference between un-runnable and fine at
    100 TB.  Driver round-trips: one 24-double collect (Givens sums),
    one 129-agg variance collect, plus the Lloyd codebook merges — all
    codebook-scale, the documented bounded-collect class.

    ``train_sample`` bounds every training STATISTIC (Givens sums,
    variance ranking, Lloyd) to the deterministic seeded sample; the
    learned rotation/permutation/codebook still apply corpus-wide."""
    fix = _opq_fixture(spark, sf_dir)
    # checkpoint the sampled-id frame: three semi-joins (Givens stats,
    # variance, Lloyd) re-reference it, and the md5-rank selection is a
    # corpus pass that must run once, not three times
    ids = (
        _train_ids(fix, train_sample).localCheckpoint(eager=True)
        if train_sample is not None
        else None
    )
    stats_src = fix if ids is None else fix.join(F.broadcast(ids), "vec_id", "semi")
    aggs = []
    for a, b in OPQT_PAIRS:
        ua, ub = f"element_at(u, {a + 1})", f"element_at(u, {b + 1})"
        aggs += [
            F.expr(f"{_dec_sum_sql(f'{ua} * {ub}')}").alias(f"sab{a}"),
            F.expr(f"{_dec_sum_sql(f'{ua} * {ua}')}").alias(f"saa{a}"),
            F.expr(f"{_dec_sum_sql(f'{ub} * {ub}')}").alias(f"sbb{a}"),
        ]
    row = stats_src.agg(*aggs).first()
    cs = {
        a: _jacobi_cs(row[f"sab{a}"], row[f"saa{a}"], row[f"sbb{a}"]) for a, _ in OPQT_PAIRS
    }
    # composed rotation: dim a of pair (a, b) -> c*u[a] - s*u[b]; dim b
    # -> s*u[a] + c*u[b]; other dims copied.  One projection, checkpointed
    # because variance/round6/Lloyd all re-reference it.
    in_pair = {a: ("a", a, b) for a, b in OPQT_PAIRS} | {b: ("b", a, b) for a, b in OPQT_PAIRS}
    terms = []
    for j in range(DIMS):
        if j in in_pair:
            side, a, b = in_pair[j]
            c, s = cs[a]
            ua, ub = f"element_at(u, {a + 1})", f"element_at(u, {b + 1})"
            terms.append(
                f"({_dlit(c)} * {ua} - {_dlit(s)} * {ub})"
                if side == "a"
                else f"({_dlit(s)} * {ua} + {_dlit(c)} * {ub})"
            )
        else:
            terms.append(f"element_at(u, {j + 1})")
    r = checkpoint_stage(
        fix.select("vec_id", F.expr("array(" + ", ".join(terms) + ")").alias("r")),
        "opq_composed_givens_rotation",
    )

    var_src = r if ids is None else r.join(F.broadcast(ids), "vec_id", "semi")
    # per-dim moment sums as ONE posexplode + groupBy(dim) — the same
    # multiset of comp values per dim as the old 129-wide single-row
    # aggregate, so the DECIMAL-exact sums are identical; measured
    # 4.5x faster (0.30 s vs 1.35 s warm at sf0.1): the 129-expression
    # aggregate paid ~1 s of plan/codegen per call where the 3-agg
    # groupBy shape is tiny (round 13, guide §1.2 per-task work)
    mom = (
        var_src.select(F.posexplode("r").alias("d0", "comp"))
        .groupBy("d0")
        .agg(
            F.expr(_dec_sum_sql("comp")).alias("sm"),
            F.expr(_dec_sum_sql("comp * comp")).alias("sq"),
            F.count("*").alias("cnt"),
        )
        .collect()
    )
    by_dim = {row["d0"]: row for row in mom}
    cnt = by_dim[0]["cnt"]
    var = [
        by_dim[d]["sq"] / cnt - (by_dim[d]["sm"] / cnt) * (by_dim[d]["sm"] / cnt)
        for d in range(DIMS)
    ]
    order = sorted(range(DIMS), key=lambda d: (-var[d], d))
    perm = [0] * DIMS  # perm[dest] = source dim (0-based)
    for rho, d in enumerate(order):
        perm[(rho % PQ_M) * PQ_SUBDIM + rho // PQ_M] = d
    rot = checkpoint_stage(
        r.select(
            "vec_id",
            F.expr(
                "array(" + ", ".join(f"round(element_at(r, {p + 1}), 6)" for p in perm) + ")"
            ).alias("ru"),
        ),
        "opq_allocation_permute_round6",
    )
    if ids is None:
        cb = _train_on(_subs_df(rot, col="ru"), PQ_ITERS)
    else:
        # bounded sample: one collect, zero-job Lloyd replay (round 13)
        sampled = rot.join(F.broadcast(ids), "vec_id", "semi")
        cb = _train_on_replay(_subs_df(sampled, col="ru").collect(), PQ_ITERS)
    return fix, rot, perm, cb


def _opq_trained_oracle_sql(sample_n: int | None = None) -> str:
    """The identical trajectory as DuckDB CTEs: fixture, 8 Givens
    stages (3 DECIMAL aggregates + trig-free c/s + indexed-lambda
    column update each), variance ranking, allocation permutation,
    round6 rotated table, then the shared Lloyd/encode/LUT/ADC/rerank
    tail.  Every multi-referenced stage CTE is MATERIALIZED (DuckDB
    inlines per reference; an 8-level doubly-referenced chain would
    otherwise re-execute the fixture 2^8 times).

    With ``sample_n``, every training STATISTIC — the Givens pair
    sums, the variance ranking, and the Lloyd passes — restricts to
    the seeded ``tsel`` sample (mirroring
    opq_trained_index(train_sample=...)), while the rotation itself,
    the permutation application, encode, and rerank stay corpus-wide."""
    wterms = []
    for j in range(DIMS):
        if j < PQ_SUBDIM:
            wterms.append(f"2.0 * u[{j + 1}] + u[{j + 1 + PQ_SUBDIM}]")
        elif j < 2 * PQ_SUBDIM:
            wterms.append(f"u[{j + 1 - PQ_SUBDIM}] + 2.0 * u[{j + 1}]")
        else:
            wterms.append(f"u[{j + 1}]")
    parts = [
        f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    n0 AS (SELECT vec_id,
                  list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS u
           FROM e),
    fx AS MATERIALIZED (SELECT vec_id, [{", ".join(wterms)}] AS w FROM n0),
    n AS MATERIALIZED (
        SELECT vec_id, list_transform(w, x -> x / sqrt(list_dot_product(w, w))) AS u
        FROM fx
    ),
    r0 AS MATERIALIZED (SELECT vec_id, u AS r FROM n)"""
    ]
    if sample_n is not None:
        parts.append(_tsel_sql(sample_n))
    # with a sample, every statistic aggregates the sample-restricted
    # rows of the running table (the rotation is applied corpus-wide,
    # so restricting at aggregate time matches the Spark semi-joins)
    stat = " JOIN tsel USING (vec_id)" if sample_n is not None else ""
    for k, (a, b) in enumerate(OPQT_PAIRS, start=1):
        ra, rb = f"r[{a + 1}]", f"r[{b + 1}]"
        parts.append(f""",
    g{k} AS (
        SELECT CAST(SUM(CAST(ROUND({ra} * {rb}, 9) AS DECIMAL(20,9))) AS DOUBLE) AS sab,
               CAST(SUM(CAST(ROUND({ra} * {ra}, 9) AS DECIMAL(20,9))) AS DOUBLE) AS saa,
               CAST(SUM(CAST(ROUND({rb} * {rb}, 9) AS DECIMAL(20,9))) AS DOUBLE) AS sbb
        FROM r{k - 1}{stat}
    ),
    cs{k} AS (
        SELECT c, t * c AS s FROM (
            SELECT t, 1.0 / sqrt(1.0 + t * t) AS c FROM (
                SELECT CASE WHEN sab = 0 THEN 0.0
                            ELSE (CASE WHEN (sbb - saa) / (2.0 * sab) < 0
                                       THEN -1.0 ELSE 1.0 END)
                                 / (abs((sbb - saa) / (2.0 * sab))
                                    + sqrt(1.0 + ((sbb - saa) / (2.0 * sab))
                                               * ((sbb - saa) / (2.0 * sab))))
                       END AS t
                FROM g{k}
            )
        )
    ),
    r{k} AS MATERIALIZED (
        SELECT vec_id,
               list_transform(r, (x, i) -> CASE
                   WHEN i = {a + 1} THEN cs{k}.c * {ra} - cs{k}.s * {rb}
                   WHEN i = {b + 1} THEN cs{k}.s * {ra} + cs{k}.c * {rb}
                   ELSE x END) AS r
        FROM r{k - 1} CROSS JOIN cs{k}
    )""")
    t_last = len(OPQT_PAIRS)
    parts.append(f""",
    vr AS (
        SELECT d,
               CAST(SUM(CAST(ROUND(r[d] * r[d], 9) AS DECIMAL(20,9))) AS DOUBLE) AS sq,
               CAST(SUM(CAST(ROUND(r[d], 9) AS DECIMAL(20,9))) AS DOUBLE) AS sm,
               COUNT(*) AS cnt
        FROM r{t_last}{stat} CROSS JOIN UNNEST(range(1, {DIMS + 1})) AS t(d)
        GROUP BY d
    ),
    vv AS (SELECT d, sq / cnt - (sm / cnt) * (sm / cnt) AS vx FROM vr),
    rk AS (SELECT d, ROW_NUMBER() OVER (ORDER BY vx DESC, d) - 1 AS rho FROM vv),
    pm AS (SELECT list(d ORDER BY (rho % {PQ_M}) * {PQ_SUBDIM} + rho // {PQ_M}) AS perm
           FROM rk),
    rot AS MATERIALIZED (
        SELECT vec_id, list_transform(pm.perm, p -> ROUND(r[p], 6)) AS ru
        FROM r{t_last} CROSS JOIN pm
    ),
    subs AS MATERIALIZED (
        SELECT vec_id, m, ru[m*{PQ_SUBDIM}+1 : m*{PQ_SUBDIM}+{PQ_SUBDIM}] AS sub
        FROM rot CROSS JOIN UNNEST(range({PQ_M})) AS t(m)
    )""")
    if sample_n is not None:
        parts.append(""",
    ssubs AS (
        SELECT s.vec_id, s.m, s.sub FROM subs s JOIN tsel t ON s.vec_id = t.vec_id
    )""")
        parts.append(_pq_kmeans_sql(PQ_ITERS, "ssubs"))
    else:
        parts.append(_pq_kmeans_sql(PQ_ITERS, "subs"))
    parts.append(f""",
    acode AS {_assign_sql("subs", f"c{PQ_ITERS}")},
    ncodes AS (
        SELECT vec_id AS neighbor_id, list(code ORDER BY m) AS codes
        FROM acode GROUP BY vec_id
    )""")
    parts.append(_lut_sql(f"c{PQ_ITERS}"))
    parts.append(f""",
    scored AS (
        SELECT q.query_id, x.neighbor_id,
               ROUND({_ADC_TERMS_SQL}, 6) AS adc_score
        FROM ncodes x CROSS JOIN lut q
        WHERE x.neighbor_id <> q.query_id
    )""")
    parts.append(_rerank_tail_sql())
    return "".join(parts)


@REG.add(
    "sim_ann_opq_trained",
    _opq_trained_oracle_sql(),
    doc=f"TRAINED OPQ search (Ge et al. 2013, parametric variant) on "
    "the anisotropic fixture view: a Jacobi/Givens sweep over the "
    f"{PQ_SUBDIM} planted cross-subspace pairs decorrelates the data "
    "(three DECIMAL-exact aggregates + trig-free IEEE rotations per "
    "step — c/s bit-identical across engines with no rounding hacks), "
    "then EIGENVALUE ALLOCATION deals dimensions round-robin across "
    "subspaces by post-rotation variance, and the flat-PQ machinery "
    "runs verbatim on the rotated table (Lloyd codebook, in-row "
    "encode, per-query LUT, fixed-order ADC, exact rerank on the "
    "fixture vectors).  Measured on the fixture: quantization MSE "
    "0.41 vs 0.54 (random rotation) vs 0.60 (no rotation); recall@5 "
    "at 16-deep rerank 0.63 vs 0.54 vs 0.31 — trained > random > flat, "
    "the paper's ordering, pinned in tests/test_pq.py.  Decorrelation "
    "alone measures ~flat: on Gaussian-like data the alternation's win "
    "is variance BALANCE, which is why allocation ships as part of the "
    "operator rather than as an optional extra.  REGISTERED-DEFAULT "
    "RATIONALE (round-11 decision): full-corpus training stays the "
    "registered form because it is the strictest cross-engine pin — "
    "every vector feeds the Givens sums, the variance ranking, and "
    "every Lloyd pass, all bucket-exact against the oracle.  The "
    "production form at scale is sim_ann_opq_trained_sampled (bounded "
    "seeded sample per the OPQ paper's own protocol), registered "
    "alongside with measured recall parity.",
)
def sim_ann_opq_trained(
    spark: SparkSession,
    sf_dir: str,
    index: tuple[DataFrame, DataFrame, list[int], list[list[list[float]]]] | None = None,
    rerank: int = PQ_RERANK,
) -> DataFrame:
    fix, rot, _perm, cb = index if index is not None else opq_trained_index(spark, sf_dir)
    scored = _adc_pq_scored(spark, sf_dir, fix, cb=cb, frame=rot, col="ru")
    return _shortlist_rerank(scored, fix, shortlist_depth=rerank)


@REG.add(
    "sim_ann_opq_trained_sampled",
    _opq_trained_oracle_sql(sample_n=N_TRAIN),
    doc=f"Trained-OPQ search with every training STATISTIC — the Givens "
    f"pair sums, the variance ranking, and the Lloyd passes — bounded to "
    f"the {N_TRAIN}-vector seeded sample, while the learned rotation, "
    "allocation permutation, encode, and exact rerank apply corpus-wide: "
    "the last sampled-training twin, proving the bounded-sample recipe "
    "composes with the data-adaptive rotation pipeline (rotations learned "
    "from a sample are the OPQ paper's own training protocol).  Combined "
    "with the single-pass Givens composition this makes the trained-OPQ "
    "build constant-in-corpus for statistics and one-pass for "
    "application — the 100 TB shape.",
)
def sim_ann_opq_trained_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim_ann_opq_trained(
        spark, sf_dir, index=opq_trained_index(spark, sf_dir, train_sample=N_TRAIN)
    )


# ---------------------------------------------------------------------------
# SQ8: int8 scalar quantization search — the remaining mainstream FAISS
# compression tier (IndexScalarQuantizer QT_8bit shape) alongside flat
# PQ, IVF-PQ, OPQ, and Matryoshka.  Each vector stores 64 one-byte codes
# plus one float scale (65 B vs 512 B double / 256 B float32): a 4-8x
# scan-IO compression with far higher fidelity than PQ's 4 B codes —
# the tier a 100 TB serving layer picks when RAM allows ~1 byte/dim.
# Training-free: the quantizer is the per-vector max-abs scale, so there
# is no codebook stage to sample, ship, or retrain on drift.
# ---------------------------------------------------------------------------

# ADC shortlist depth before the exact rerank.  int8-per-dim keeps
# relative rank error ~1e-3 (quantization step = max|u_i|/127 per
# vector), so the true top-5 sit comfortably inside a 16-deep
# shortlist; 16 = 3.2x headroom over TOPK, and recall@5 == 1.0 vs the
# brute-force baseline is pinned in tests/test_pq.py at sf0.001/0.01.
SQ_RERANK = 16


def _sq8_oracle_sql() -> str:
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    n AS (SELECT vec_id,
                 list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS u
          FROM e),
    sq AS (SELECT vec_id, u,
                  list_max(list_transform(u, x -> abs(x))) / 127.0 AS scale
           FROM n),
    codes AS (
        SELECT vec_id AS neighbor_id, scale,
               list_transform(u, x -> CAST(CAST(ROUND(x / scale) AS TINYINT) AS DOUBLE)) AS c
        FROM sq
    ),
    q AS (SELECT vec_id AS query_id, u AS qu FROM n WHERE vec_id < {N_QUERIES}),
    scored AS (
        SELECT q.query_id, x.neighbor_id,
               ROUND(x.scale * list_dot_product(q.qu, x.c), 6) AS adc_score
        FROM codes x CROSS JOIN q
        WHERE x.neighbor_id <> q.query_id
    )""" + _rerank_tail_sql(SQ_RERANK)


@REG.add(
    "sim_ann_sq8",
    _sq8_oracle_sql(),
    doc=f"Int8 scalar-quantization (SQ8) asymmetric search with exact "
    f"rerank, top-{TOPK}: each corpus vector is stored as {DIMS} one-byte "
    "codes + one scale (max|u_i|/127 per vector, the symmetric int8 "
    "convention of emb_quantize_int8) — a 4-8x scan-IO compression with "
    "~1e-3 rank error, the FAISS QT_8bit tier between raw floats and PQ. "
    "Scoring is asymmetric: the full-precision query dots the int8 codes "
    "and one multiply by the stored scale recovers the approximate "
    f"cosine; the top-{SQ_RERANK} shortlist is rescored exactly before "
    "the final cut (the shared _shortlist_rerank funnel).  No training "
    "stage AT ALL — the quantizer is derived in-row per vector, so "
    "(unlike PQ/OPQ/IVF) nothing has to be sampled, broadcast, or "
    "retrained on drift; encode is a zero-shuffle narrow map and the "
    "scan reads codes only.  Codes round-trip through a real TINYINT "
    "cast in BOTH engines so the byte-width claim is enforced, not "
    "asserted.  Recall@5 == 1.0 vs sim_topk_bruteforce pinned in "
    "tests/test_pq.py.",
)
def sim_ann_sq8(spark: SparkSession, sf_dir: str, rerank: int = SQ_RERANK) -> DataFrame:
    unit = _unit(spark, sf_dir)
    scored = _sq8_scored(unit)
    return _shortlist_rerank(scored, unit, shortlist_depth=rerank)


def _sq8_scored(unit: DataFrame) -> DataFrame:
    """Encode + ADC-score the SQ8 candidates: (query_id, neighbor_id,
    adc_score) ahead of the shared funnel (the _adc_pq_scored split,
    so the bench can time encode+scan separately from the rerank)."""
    sqc = unit.withColumn("scale", F.array_max(F.transform("u", lambda x: F.abs(x))) / 127.0)
    codes = sqc.select(
        F.col("vec_id").alias("neighbor_id"),
        "scale",
        F.transform(
            "u", lambda x: F.round(x / F.col("scale")).cast("tinyint").cast("double")
        ).alias("c"),
    )
    q = unit.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("u").alias("qu")
    )
    return codes.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id")).withColumn(
        "adc_score", F.round(F.col("scale") * _dot("qu", "c"), 6)
    )


# ---------------------------------------------------------------------------
# BQ: 1-bit binary quantization search — the most aggressive mainstream
# compression tier (FAISS IndexBinaryFlat / the "binary quantization"
# mode of production vector stores), below SQ8 and PQ: each vector
# stores ONE SIGN BIT per dimension (64 bits = 8 B vs 512 B double /
# 256 B float32 / 65 B SQ8 / 4 B PQ).  For unit vectors the sign-hash
# identity (Goemans-Williamson / Charikar: P[sign differs] = angle/pi)
# makes sign agreement a cosine estimator, so a bit-level prescreen
# drives a shortlist that an exact rerank then fixes.  Training-free
# like SQ8: the "codebook" is the sign function, nothing to retrain.
#
# Scoring is ASYMMETRIC (the production convention — the query stays
# full-precision and dots the reconstructed ±1 signs), not symmetric
# Hamming: dropping the query's own quantization error roughly halves
# the estimator noise, and the difference is MEASURED on the fixture —
# recall@5 vs brute force at sf0.01 by shortlist depth:
#
#     depth        16     32     64     96    128
#     symmetric   0.40   0.68   0.76   0.84   0.88
#     asymmetric  0.64   0.84   0.96    —      —
#
# (pinned in tests/test_pq.py: asymmetric >= symmetric at equal depth).
# The symmetric Hamming scorer is kept as _bq_hamming_scored — it is
# the right primitive when BOTH sides must be compressed (e.g. an
# ingest gate matching codes against a frozen code inventory, the
# mm_phash shape).
# ---------------------------------------------------------------------------

# Shortlist depth before the exact rerank.  1 bit/dim is the coarsest
# tier in the family, so BQ gets the deepest funnel: 64 = 12.8x
# headroom over TOPK (PQ uses 16 at 4 bits/subvector) — the knee of
# the measured depth curve above (0.84 -> 0.96 from 32 to 64).  The
# depth is FIXED in corpus size, so its relative cost shrinks as the
# corpus grows, same argument as PQ_RERANK / SQ_RERANK.
BQ_RERANK = 64

# bits per packed word: codes ship as two 32-bit halves carried in
# BIGINTs ("hi"/"lo", the mm_phash_dedup convention at
# multimodal.py:420) so no sign-bit edge case exists in either engine
# (a full 64-bit pack would need bit 63 = BIGINT sign bit).
BQ_WORD = 32


def _bq_pack(col_slice):
    """Fold a 32-element array slice into one BIGINT of sign bits,
    MSB-first (element 1 -> bit 31).  A left fold (acc*2 + bit) keeps
    the Spark side a single codegen'd loop; the oracle's shift-and-sum
    formulation lands on the identical word (prototyped bit-equal on
    the fixture before wiring)."""
    return F.aggregate(
        col_slice,
        F.lit(0).cast("bigint"),
        lambda acc, x: acc * 2 + F.when(x > 0, 1).otherwise(0),
    )


def _bq_codes(unit: DataFrame) -> DataFrame:
    """(vec_id, lo, hi): the packed 64-bit sign code of each unit
    vector, split into two 32-bit words."""
    return unit.select(
        "vec_id",
        _bq_pack(F.slice("u", 1, BQ_WORD)).alias("lo"),
        _bq_pack(F.slice("u", BQ_WORD + 1, BQ_WORD)).alias("hi"),
    )


# bit-test masks for reconstructing signs from a packed word: element
# j (1-based) of a 32-slice lives at bit (32 - j), matching _bq_pack's
# MSB-first fold.
_BQ_MASKS = [1 << (BQ_WORD - 1 - d) for d in range(BQ_WORD)]


def _bq_hamming_scored(unit: DataFrame) -> DataFrame:
    """SYMMETRIC prescreen scores: (query_id, neighbor_id, adc_score)
    with adc_score = DIMS - hamming(code_q, code_c), so the shared DESC
    funnel applies unchanged.  Two XOR+popcounts per candidate, zero
    float arithmetic — the right scorer when both sides are compressed
    (code-inventory gates); the search query below uses the asymmetric
    scorer instead (measurably better, see the section header)."""
    codes = _bq_codes(unit)
    q = codes.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("lo").alias("qlo"),
        F.col("hi").alias("qhi"),
    )
    hamming = F.bit_count(F.col("lo").bitwiseXOR(F.col("qlo"))) + F.bit_count(
        F.col("hi").bitwiseXOR(F.col("qhi"))
    )
    return (
        codes.withColumnRenamed("vec_id", "neighbor_id")
        .join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .withColumn("adc_score", (F.lit(DIMS) - hamming).cast("double"))
    )


def _bq_asym_score(qu: str = "qu", lo: str = "lo", hi: str = "hi"):
    """round6(qu · s): the asymmetric prescreen expression — s is the
    candidate's ±1 sign vector reconstructed IN-ROW from the two packed
    words by bit-tests against plan-literal masks.  Shared by the flat
    scan (_bq_scored) and the IVF-pruned variant (sim_ann_ivf_binary);
    the left-associative fold matches the oracle's explicit + chain."""
    # one array<bigint> literal in one round-trip (the old CreateArray
    # coerced to the same type: 1<<31 exceeds int32 => bigint elements)
    masks = F.expr("array(" + ", ".join(f"{m}L" for m in _BQ_MASKS) + ")")
    s_lo = F.zip_with(
        F.slice(qu, 1, BQ_WORD),
        masks,
        lambda x, m: F.when(F.col(lo).bitwiseAND(m) != 0, x).otherwise(-x),
    )
    s_hi = F.zip_with(
        F.slice(qu, BQ_WORD + 1, BQ_WORD),
        masks,
        lambda x, m: F.when(F.col(hi).bitwiseAND(m) != 0, x).otherwise(-x),
    )
    return F.round(F.aggregate(F.concat(s_lo, s_hi), F.lit(0.0), lambda a, x: a + x), 6)


def _bq_scored(unit: DataFrame) -> DataFrame:
    """ASYMMETRIC prescreen scores over the full code scan: the scan
    reads exactly two BIGINTs per vector — the 32x scan-IO reduction is
    the operator's value and column pruning keeps the float vectors on
    disk until rerank.  The query side stays full-precision, which is
    what beats symmetric Hamming (section header table)."""
    codes = _bq_codes(unit)
    q = unit.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("u").alias("qu")
    )
    return (
        codes.withColumnRenamed("vec_id", "neighbor_id")
        .join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .withColumn("adc_score", _bq_asym_score())
    )


def _bq_chain_sql(code_alias: str = "c", qu_alias: str = "q") -> str:
    """The 64 signed asymmetric terms as an EXPLICIT left-associative
    + chain, not list_sum(list_transform(...)): per the standing rule
    for new oracles dotting raw doubles (module header / pq.py:144-147,
    round-9 self-review), DuckDB's list aggregation is not guaranteed
    bit-identical to Spark's left fold, and a 1-ULP divergence crossing
    the ROUND(x,6) boundary would flip the shortlist cut.  dim i
    (1-based): i <= 32 -> bit (32 - i) of lo; i > 32 -> bit (64 - i)
    of hi — the same MSB-first convention as _bq_pack / _BQ_MASKS."""
    terms = []
    for i in range(1, 2 * BQ_WORD + 1):
        if i <= BQ_WORD:
            word, bit = "lo", BQ_WORD - i
        else:
            word, bit = "hi", 2 * BQ_WORD - i
        terms.append(
            f"(CASE WHEN ({code_alias}.{word} & (1::BIGINT << {bit})) != 0"
            f" THEN {qu_alias}.qu[{i}] ELSE -{qu_alias}.qu[{i}] END)"
        )
    return " + ".join(terms)


def _bq_codes_cte_sql() -> str:
    """e/n/codes CTE block (raw vectors, unit vectors, MSB-first packed
    sign words) — the ONE textual source of the packing convention,
    shared by the flat-BQ prelude and the IVF-BQ oracle (round-9 second
    self-review: the IVF-BQ oracle initially duplicated these CTEs
    verbatim, so a packing change could have desynced the two)."""
    return f"""
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    n AS (SELECT vec_id,
                 list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS u
          FROM e),
    codes AS (
        SELECT vec_id,
               CAST(list_sum(list_transform(u[1:{BQ_WORD}],
                    (x, i) -> CASE WHEN x > 0 THEN (1::BIGINT << ({BQ_WORD} - i))
                              ELSE 0 END)) AS BIGINT) AS lo,
               CAST(list_sum(list_transform(u[{BQ_WORD + 1}:{2 * BQ_WORD}],
                    (x, i) -> CASE WHEN x > 0 THEN (1::BIGINT << ({BQ_WORD} - i))
                              ELSE 0 END)) AS BIGINT) AS hi
        FROM n
    )"""


def _bq_prelude_sql() -> str:
    """The WITH-body through the ``scored`` CTE (unit vectors, packed
    codes, asymmetric prescreen scores) — shared by the full oracle and
    tests/test_pq_fuzz.py's plain-Python parity fuzz (which checks the
    exactly-specified stages without the rerank's list_dot_product)."""
    chain = _bq_chain_sql()
    return f"""{_bq_codes_cte_sql()},
    q AS (SELECT vec_id AS query_id, u AS qu FROM n WHERE vec_id < {N_QUERIES}),
    scored AS (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               ROUND({chain}, 6) AS adc_score
        FROM codes c CROSS JOIN q
        WHERE c.vec_id <> q.query_id
    )"""


def _bq_oracle_sql() -> str:
    return "WITH " + _bq_prelude_sql() + _rerank_tail_sql(BQ_RERANK)


@REG.add(
    "sim_ann_binary",
    _bq_oracle_sql(),
    doc=f"1-bit binary-quantization (BQ) search with exact rerank, "
    f"top-{TOPK}: each corpus vector is stored as its {DIMS}-bit sign "
    "code packed into two 32-bit words (8 B vs 256 B float32 — the 32x "
    "scan-IO tier below SQ8's 4-8x; FAISS IndexBinaryFlat storage "
    "shape).  Prescreen is ASYMMETRIC: the full-precision query dots "
    "the candidate's ±1 signs reconstructed in-row from the packed "
    "words by bit-tests against plan-literal masks — measured on the "
    "fixture to beat symmetric Hamming by 8-20 recall points at equal "
    f"depth (section header table); the top-{BQ_RERANK} shortlist is "
    "rescored exactly before the final cut (the shared "
    "_shortlist_rerank funnel, at 4x the PQ depth because 1 bit/dim "
    "is the coarsest tier — the depth knee is measured, 0.84@32 -> "
    "0.96@64).  Training-free: the quantizer is the sign function — "
    "nothing to sample, broadcast, or retrain on drift, and encode is "
    "a zero-shuffle in-row fold.  Packing was prototyped bit-identical "
    "across engines before wiring; recall pins in tests/test_pq.py.",
)
def sim_ann_binary(spark: SparkSession, sf_dir: str, rerank: int = BQ_RERANK) -> DataFrame:
    unit = _unit(spark, sf_dir)
    scored = _bq_scored(unit)
    return _shortlist_rerank(scored, unit, shortlist_depth=rerank)


# ---------------------------------------------------------------------------
# IVF-BQ: binary codes under coarse IVF pruning (FAISS IndexBinaryIVF
# shape) — completes the compression x coarse-pruning matrix the family
# already spans for PQ (sim_ann_ivfpq): the coarse quantizer prunes the
# corpus to `probes` cells exactly as sim_ann_ivf does, and WITHIN the
# probed cells candidates are prescreened from their packed sign codes
# (8 B/vector) instead of full floats.  At cluster scale the layout is
# the IVF partitioning with a codes column: the probe prunes
# partitions, the scan reads two BIGINTs per surviving row, and only
# the shortlist touches float vectors.  Unlike IVF-PQ there is no
# residual encoding — sign bits are position-independent, so the raw
# code works verbatim per cell (which is exactly why FAISS ships
# BinaryIVF without a residual stage).
# ---------------------------------------------------------------------------


def _ivf_bq_oracle_sql() -> str:
    from .similarity import IVF_CELLS, IVF_PROBES

    chain = _bq_chain_sql("a", "qc")
    return f"""
    WITH {_bq_codes_cte_sql().lstrip()},
    nv AS (SELECT vec_id, v, SQRT(list_dot_product(v, v)) AS nrm FROM e),
    cents AS (SELECT vec_id AS cell_id, v AS cv, nrm AS cn FROM nv
              WHERE vec_id < {IVF_CELLS}),
    assigned AS (
        SELECT vec_id, cell_id FROM (
            SELECT nv.vec_id, c.cell_id,
                   ROW_NUMBER() OVER (PARTITION BY nv.vec_id
                       ORDER BY list_dot_product(nv.v, c.cv) / (nv.nrm * c.cn) DESC,
                                c.cell_id) AS rn
            FROM nv CROSS JOIN cents c
        ) WHERE rn = 1
    ),
    acodes AS (
        SELECT a.vec_id, a.cell_id, c.lo, c.hi
        FROM assigned a JOIN codes c USING (vec_id)
    ),
    qv AS (SELECT vec_id AS query_id, v AS qvv, nrm AS qn FROM nv
           WHERE vec_id < {N_QUERIES}),
    qcells0 AS (
        SELECT query_id, cell_id FROM (
            SELECT q.query_id, c.cell_id,
                   ROW_NUMBER() OVER (PARTITION BY q.query_id
                       ORDER BY list_dot_product(q.qvv, c.cv) / (q.qn * c.cn) DESC,
                                c.cell_id) AS rn
            FROM qv q CROSS JOIN cents c
        ) WHERE rn <= {IVF_PROBES}
    ),
    qcells AS (
        SELECT q0.query_id, q0.cell_id, qu.u AS qu
        FROM qcells0 q0 JOIN n qu ON qu.vec_id = q0.query_id
    ),
    scored AS (
        SELECT qc.query_id, a.vec_id AS neighbor_id,
               ROUND({chain}, 6) AS adc_score
        FROM acodes a JOIN qcells qc USING (cell_id)
        WHERE a.vec_id <> qc.query_id
    )""" + _rerank_tail_sql(BQ_RERANK)


@REG.add(
    "sim_ann_ivf_binary",
    _ivf_bq_oracle_sql(),
    doc=f"IVF-pruned binary-quantization search (FAISS IndexBinaryIVF "
    f"shape), top-{TOPK}: the coarse quantizer prunes to the "
    "IVF_PROBES nearest cells exactly as sim_ann_ivf (same centroids, "
    "same probe ranking — at cluster scale this is partition pruning "
    "over the cell-partitioned layout), and within the probed cells "
    "candidates are prescreened ASYMMETRICALLY from their packed "
    "64-bit sign codes (two BIGINTs per row, the sim_ann_binary "
    "scorer) before the shared exact-rerank funnel.  No residual "
    "stage — sign bits are position-independent, which is why "
    "BinaryIVF ships without one (vs IVF-PQ's residual codes).  "
    "Composes three already-hash-checked fragments (IVF assignment/"
    "probing, BQ packing/scoring, the rerank tail); cell-pruned "
    "candidate volume x code-width compression multiply.  Recall "
    "floor vs brute force pinned in tests/test_pq.py.",
)
def sim_ann_ivf_binary(
    spark: SparkSession,
    sf_dir: str,
    n_cells: int | None = None,
    probes: int | None = None,
    rerank: int = BQ_RERANK,
    jl_shortlist: int | None = None,
) -> DataFrame:
    from .similarity import (
        IVF_CELLS,
        IVF_PROBES,
        _centroids,
        _normed,
        probe_cells,
        rank_cells,
    )

    n_cells = IVF_CELLS if n_cells is None else n_cells
    probes = IVF_PROBES if probes is None else probes
    n = _normed(spark, sf_dir)
    # derive the unit vectors from the SAME normed frame instead of a
    # second _unit() load — shares the scan + local-only repartition
    # across the assignment and code/rerank paths
    unit = n.select("vec_id", F.transform("v", lambda x: x / F.col("nrm")).alias("u"))
    codes = _bq_codes(unit)
    # rank_cells directly (not assign_cells): the float vectors never
    # need joining back — the codes ARE the cell payload.
    # ``jl_shortlist`` activates the standing N x n_cells assignment
    # remedy for auto_cells scale runs (the first sweep measured the
    # x30 step at 3.64 vs the 3.33 bar with the flat assignment; the
    # JL prescreen is exactly the knob sim_knn_graph ships for this).
    assigned = rank_cells(n, n_cells, keep=1, jl_shortlist=jl_shortlist).select(
        "vec_id", "cell_id"
    ).join(codes, "vec_id")
    cents = _centroids(n, n_cells)
    q = n.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), F.col("nrm").alias("qn")
    )
    qcells = (
        probe_cells(q, cents, probes)
        .select("query_id", "cell_id")
        .join(
            unit.select(F.col("vec_id").alias("query_id"), F.col("u").alias("qu")),
            "query_id",
        )
    )
    scored = (
        assigned.join(F.broadcast(qcells), "cell_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("adc_score", _bq_asym_score())
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "adc_score")
    )
    return _shortlist_rerank(scored, unit, shortlist_depth=rerank)
