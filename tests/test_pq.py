"""Product-quantization semantics beyond oracle parity: ANN recall vs
the exact baseline, k-means convergence, codebook invariants, and the
scale-critical plan shapes (SURVEY §4/§5 contract for learned ops)."""

from __future__ import annotations

import numpy as np

from banking_streamprocessing_demos_spark.operators.pq import (
    PQ_ITERS,
    PQ_K,
    PQ_M,
    PQ_RERANK,
    PQ_SUBDIM,
    _argmin_sql,
    _sub_sql,
    _unit,
    emb_pq_codebook,
    pq_train,
    sim_ann_pq,
)
from banking_streamprocessing_demos_spark.operators.similarity import TOPK, sim_topk
from banking_streamprocessing_demos_spark.plans.explain import (
    assert_no_cartesian,
    count_shuffles,
    formatted_plan,
)
from pyspark.sql import functions as F
from tests.conftest import SF_SMALL


def test_pq_codebook_shape_and_six_dp_invariant(spark):
    """cb[m][k] is PQ_SUBDIM doubles, every component already rounded
    to 6dp (the cross-engine parity invariant at every stage
    boundary)."""
    cb = pq_train(spark, SF_SMALL)
    assert len(cb) == PQ_M
    for cb_m in cb:
        assert len(cb_m) == PQ_K
        for c in cb_m:
            assert len(c) == PQ_SUBDIM
            for x in c:
                assert x == round(x, 6), x


def test_pq_training_deterministic(spark):
    """Seeded init + fixed iterations: two independent trainings walk
    the identical trajectory (the property the DuckDB oracle relies
    on)."""
    assert pq_train(spark, SF_SMALL) == pq_train(spark, SF_SMALL)


def _objective(spark, cb) -> float:
    """Mean squared quantization error of every sub-vector against its
    nearest centroid in ``cb`` — computed in numpy on the collected
    sub-vectors (bounded: N x PQ_M rows at test scale)."""
    unit = _unit(spark, SF_SMALL)
    rows = unit.select("vec_id", "u").collect()
    u = np.array([r["u"] for r in rows])  # (N, DIMS)
    err = 0.0
    n = 0
    for m in range(PQ_M):
        s = u[:, m * PQ_SUBDIM : (m + 1) * PQ_SUBDIM]  # (N, d)
        c = np.array(cb[m])  # (K, d)
        d2 = ((s[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)  # (N, K)
        err += d2.min(axis=1).sum()
        n += len(s)
    return err / n


def test_pq_quantization_error_decreases(spark):
    """Lloyd iterations are monotone on the k-means objective (up to
    the 6dp rounding applied at each stage boundary)."""
    errs = [_objective(spark, pq_train(spark, SF_SMALL, iters=i)) for i in range(PQ_ITERS + 1)]
    for a, b in zip(errs, errs[1:]):
        assert b <= a + 1e-6, errs
    # and training does real work: the final codebook must be strictly
    # better than the seeded init
    assert errs[-1] < errs[0], errs


def test_pq_codes_in_range_and_used(spark):
    """Every vector encodes to PQ_M codes in [0, PQ_K); a healthy
    codebook uses many distinct codes per subspace (not collapsed)."""
    cb = pq_train(spark, SF_SMALL)
    unit = _unit(spark, SF_SMALL)
    codes = unit.select(
        F.expr("array(" + ", ".join(_argmin_sql(_sub_sql("u", m), cb[m]) for m in range(PQ_M)) + ")").alias("codes")
    ).collect()
    arr = np.array([r["codes"] for r in codes])  # (N, M)
    assert arr.min() >= 0 and arr.max() < PQ_K
    for m in range(PQ_M):
        assert len(np.unique(arr[:, m])) >= PQ_K // 2, f"subspace {m} collapsed"


def test_pq_adc_recall_vs_bruteforce(spark):
    """The two-stage search (ADC top-PQ_RERANK shortlist + exact
    rerank) must recover most of the exact top-5 even on this
    weakly-clustered synthetic corpus (true-NN cosines ~0.3-0.4, the
    hard regime for a 32-bit code).  Measured 0.84 at authoring time;
    floor leaves margin for per-round testdata regeneration."""
    exact = {
        (r["query_id"], r["neighbor_id"]) for r in sim_topk(spark, SF_SMALL).collect()
    }
    got = {(r["query_id"], r["neighbor_id"]) for r in sim_ann_pq(spark, SF_SMALL).collect()}
    recall = len(exact & got) / len(exact)
    assert recall >= 0.6, f"recall {recall:.2f}"


def test_pq_rerank_scores_are_exact_cosines(spark):
    """Rows surviving the rerank carry EXACT cosines: every returned
    (query, neighbor, cosine) must equal the brute-force cosine for
    that pair — quantization error may only affect WHICH pairs make
    the shortlist, never the reported score."""
    exact = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in sim_topk(spark, SF_SMALL).collect()
    }
    for r in sim_ann_pq(spark, SF_SMALL).collect():
        key = (r["query_id"], r["neighbor_id"])
        if key in exact:  # pairs the exact top-5 also contains
            assert abs(r["cosine"] - exact[key]) < 1e-9, (key, r["cosine"], exact[key])


def test_pq_search_plan_shape(spark):
    """Scale contract: no cartesian product (the query side including
    LUTs is broadcast), and the shuffle budget is the two ranking
    windows + the local-only fan-out repartitions — nothing that grows
    with corpus size beyond the one compressed-code scan."""
    df = sim_ann_pq(spark, SF_SMALL)
    assert_no_cartesian(df)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan[:2000]
    assert count_shuffles(df) <= 6, plan[:2000]


def test_pq_codebook_plan_shape(spark):
    """The returned final Lloyd update is distributed: one map-side-
    combined mean aggregation (width = codebook, not corpus) plus the
    broadcast grid join; the argmin assignment itself is in-row against
    plan literals (no exchange of its own)."""
    df = emb_pq_codebook(spark, SF_SMALL)
    assert_no_cartesian(df)
    plan = formatted_plan(df)
    assert "HashAggregate" in plan, plan[:2000]
    assert count_shuffles(df) <= 3, plan[:2000]


def test_ivfpq_recall_vs_bruteforce(spark):
    """Residual IVF-PQ must BEAT flat PQ's recall (residuals are small,
    so the same 32-bit budget quantizes them far more finely): measured
    0.92 at authoring time vs flat PQ's 0.84; floor leaves regeneration
    margin."""
    from banking_streamprocessing_demos_spark.operators.pq import sim_ann_ivfpq

    exact = {
        (r["query_id"], r["neighbor_id"]) for r in sim_topk(spark, SF_SMALL).collect()
    }
    got = {(r["query_id"], r["neighbor_id"]) for r in sim_ann_ivfpq(spark, SF_SMALL).collect()}
    recall = len(exact & got) / len(exact)
    assert recall >= 0.7, f"recall {recall:.2f}"


def test_ivfpq_neighbors_come_from_probed_cells(spark):
    """Pruning contract: every returned neighbor's coarse cell must be
    one of the query's IVFPQ_PROBES probed cells — the property that
    makes probing = partition pruning at cluster scale."""
    from banking_streamprocessing_demos_spark.operators.pq import (
        IVFPQ_PROBES,
        _argmax_cell,
        _cells_data,
        sim_ann_ivfpq,
    )

    cells = _cells_data(spark, SF_SMALL)
    unit = _unit(spark, SF_SMALL)
    assign = {
        r["vec_id"]: r["cell"]
        for r in unit.select("vec_id", _argmax_cell("u", cells).alias("cell")).collect()
    }
    # probed cells per query = top-IVFPQ_PROBES by rounded cosine
    qs = unit.filter(F.col("vec_id") < 5).select("vec_id", "u").collect()
    cb = np.array(cells)
    for r in sim_ann_ivfpq(spark, SF_SMALL).collect():
        qu = np.array([q["u"] for q in qs if q["vec_id"] == r["query_id"]][0])
        scores = np.round(cb @ qu, 6)
        order = sorted(range(len(cells)), key=lambda k: (-scores[k], k))
        probed = set(order[:IVFPQ_PROBES])
        assert assign[r["neighbor_id"]] in probed, (r, probed)


def test_ivfpq_rerank_scores_are_exact_cosines(spark):
    """Same rerank-identity contract as flat PQ: reported cosines are
    exact for any pair the exact top-5 also contains."""
    from banking_streamprocessing_demos_spark.operators.pq import sim_ann_ivfpq

    exact = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in sim_topk(spark, SF_SMALL).collect()
    }
    for r in sim_ann_ivfpq(spark, SF_SMALL).collect():
        key = (r["query_id"], r["neighbor_id"])
        if key in exact:
            assert abs(r["cosine"] - exact[key]) < 1e-9, (key, r["cosine"], exact[key])


def test_ivfpq_plan_shape(spark):
    """No cartesian product (query side with probes/LUTs broadcast);
    bounded shuffle budget."""
    from banking_streamprocessing_demos_spark.operators.pq import sim_ann_ivfpq

    df = sim_ann_ivfpq(spark, SF_SMALL)
    assert_no_cartesian(df)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan[:2000]
    assert count_shuffles(df) <= 6, plan[:2000]


def test_mrl_recall_vs_bruteforce(spark):
    """Matryoshka prefix-32 prescreen + exact rerank: measured 0.96 at
    sf0.01 / 0.76 at sf0.1 at authoring time — this corpus's isotropic
    embeddings are MRL's worst case (no trained nesting), which the
    module comment documents; floor leaves regeneration margin."""
    from banking_streamprocessing_demos_spark.operators.pq import sim_ann_matryoshka

    exact = {
        (r["query_id"], r["neighbor_id"]) for r in sim_topk(spark, SF_SMALL).collect()
    }
    got = {
        (r["query_id"], r["neighbor_id"])
        for r in sim_ann_matryoshka(spark, SF_SMALL).collect()
    }
    recall = len(exact & got) / len(exact)
    assert recall >= 0.7, f"recall {recall:.2f}"


def test_mrl_widened_funnel_improves_recall(spark):
    """The dims/shortlist kwargs are the scale-tuning surface: widening
    either can only add candidates under the same ranking, so recall is
    monotone — full-dims prefix with a corpus-sized shortlist must
    recover the exact top-5 outright (the funnel degenerates to
    brute force)."""
    from banking_streamprocessing_demos_spark.operators.pq import sim_ann_matryoshka
    from banking_streamprocessing_demos_spark.operators.similarity import DIMS

    exact = {
        (r["query_id"], r["neighbor_id"]) for r in sim_topk(spark, SF_SMALL).collect()
    }
    got = {
        (r["query_id"], r["neighbor_id"])
        for r in sim_ann_matryoshka(
            spark, SF_SMALL, dims=DIMS, shortlist=10**6
        ).collect()
    }
    assert got == exact


def test_mrl_plan_shape(spark):
    """Same scale contract as flat PQ: broadcast query side (no
    cartesian), bounded shuffle budget — the coarse pass is one corpus
    scan of the prefix slice."""
    from banking_streamprocessing_demos_spark.operators.pq import sim_ann_matryoshka

    df = sim_ann_matryoshka(spark, SF_SMALL)
    assert_no_cartesian(df)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan[:2000]
    assert count_shuffles(df) <= 6, plan[:2000]


def test_ivfpq_widened_funnel_degenerates_to_bruteforce(spark):
    """probes/rerank are the scale-tuning surface: probing EVERY coarse
    cell with an unbounded rerank makes the shortlist the whole corpus
    and the exact rerank decides everything — must equal brute force.
    (BENCH_ivfpq_probes.json records the practical knee: probes 2->8 is
    recall-flat, rerank 64->128 closes the gap — residual-quantization
    error at the shortlist boundary, not coarse pruning, owns the
    missing recall.)"""
    from banking_streamprocessing_demos_spark.operators.pq import sim_ann_ivfpq
    from banking_streamprocessing_demos_spark.operators.similarity import IVF_CELLS

    exact = {
        (r["query_id"], r["neighbor_id"]) for r in sim_topk(spark, SF_SMALL).collect()
    }
    got = {
        (r["query_id"], r["neighbor_id"])
        for r in sim_ann_ivfpq(
            spark, SF_SMALL, probes=IVF_CELLS, rerank=10**6
        ).collect()
    }
    assert got == exact


def test_lloyd_replay_matches_distributed(spark):
    """The driver-side bounded-sample Lloyd replay (round 13) must be
    BIT-IDENTICAL to the distributed _train_on over the same sampled
    sub-vectors — every codebook component compared at the raw-bits
    level, at both the raw-vector sampled path and the residual path's
    offset seeding."""
    import struct

    from banking_streamprocessing_demos_spark.operators.pq import (
        N_TRAIN,
        PQ_ITERS,
        _sampled_subs,
        _train_on,
        _train_on_replay,
    )

    subs = _sampled_subs(spark, SF_SMALL, N_TRAIN)
    dist = _train_on(subs, PQ_ITERS)
    replay = _train_on_replay(subs.collect(), PQ_ITERS)
    for m in range(len(dist)):
        for k in range(len(dist[m])):
            for d in range(len(dist[m][k])):
                assert struct.pack("<d", dist[m][k][d]) == struct.pack(
                    "<d", replay[m][k][d]
                ), (m, k, d, dist[m][k][d], replay[m][k][d])


def test_opq_rotate_kernel_matches_sql(spark):
    """The arrow rotation kernel (round 13, guide §4.2) must be
    BIT-IDENTICAL to the SQL aggregate-fold expression it replaced —
    every round6(R[i].u) element compared at the raw-bits level, not
    approximately: the rotated table feeds Lloyd training and the
    declared sim_ann_opq hash, so a single ULP drift would desync the
    oracle trajectory."""
    import struct

    from banking_streamprocessing_demos_spark.operators.pq import (
        _OPQ_R,
        _opq_rotate_expr,
        _unit,
        opq_rotate_kernel,
    )

    unit = _unit(spark, SF_SMALL)
    old = {
        r["vec_id"]: r["ru"]
        for r in unit.select("vec_id", _opq_rotate_expr("u").alias("ru")).collect()
    }
    new = {
        r["vec_id"]: r["ru"]
        for r in unit.select("vec_id", "u")
        .mapInArrow(opq_rotate_kernel(_OPQ_R), "vec_id long, ru array<double>")
        .collect()
    }
    assert old.keys() == new.keys()
    for k in old:
        for a, b in zip(old[k], new[k], strict=True):
            assert struct.pack("<d", a) == struct.pack("<d", b), (k, a, b)


def test_round6_spark_matches_engine_round(spark):
    """_round6_spark (the kernel's rounding) vs the engine's round(x, 6)
    over adversarial doubles: half-boundary neighborhoods, negatives,
    exact zeros, subnormal-ish magnitudes."""
    from banking_streamprocessing_demos_spark.operators.pq import _round6_spark

    vals = []
    for base in (0.1234565, -0.1234565, 0.9999995, -0.9999995, 1.0000005):
        for ulps in range(-3, 4):
            x = base
            for _ in range(abs(ulps)):
                import math

                x = math.nextafter(x, math.inf if ulps > 0 else -math.inf)
            vals.append(x)
    vals += [0.0, -0.0, 1e-7, -1e-7, 4.9999995e-7, -4.9999995e-7, 123.45678949999999]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = [r["r"] for r in df.selectExpr("round(x, 6) AS r").collect()]
    import struct

    for v, g in zip(vals, got, strict=True):
        assert struct.pack("<d", _round6_spark(v)) == struct.pack("<d", g), (v, g)


def test_round6_spark_rounds_numpy2_scalars():
    """The rotation kernel feeds numpy float64 scalars to _round6_spark;
    under numpy >= 2 their repr is ``np.float64(0.1)``, which is not a
    decimal literal.  A float subclass with that repr must round like
    the plain float."""
    import struct

    from banking_streamprocessing_demos_spark.operators.pq import _round6_spark

    class Numpy2Float(float):
        def __repr__(self) -> str:
            return f"np.float64({float.__repr__(self)})"

    for v in (0.1, 0.1234565, -0.9999995, 4.9999995e-7, 0.0, -0.0):
        got = _round6_spark(Numpy2Float(v))
        assert struct.pack("<d", got) == struct.pack("<d", _round6_spark(v)), v


def test_opq_rotation_is_orthonormal_and_preserves_dots(spark):
    """The seeded rotation must be orthonormal to ~literal-rounding
    precision (rows unit-norm, pairwise orthogonal), so rotated ADC
    scores estimate the SAME dot products flat PQ estimates and the
    exact rerank needs no inverse transform."""
    from banking_streamprocessing_demos_spark.operators.pq import _OPQ_R, DIMS

    assert len(_OPQ_R) == DIMS and all(len(r) == DIMS for r in _OPQ_R)
    for i in range(0, DIMS, 13):
        for j in range(i, DIMS, 17):
            d = sum(a * b for a, b in zip(_OPQ_R[i], _OPQ_R[j]))
            want = 1.0 if i == j else 0.0
            assert abs(d - want) < 1e-6, (i, j, d)


def test_opq_recall_matches_flat_pq(spark):
    """On this corpus's ISOTROPIC embeddings rotation has nothing to
    balance, so OPQ's recall must sit at flat PQ's level (the honest
    no-gain caveat, pinned like Matryoshka's floor): same floor, and
    within 0.15 of flat PQ either way."""
    from banking_streamprocessing_demos_spark.operators.pq import sim_ann_opq

    exact = {
        (r["query_id"], r["neighbor_id"]) for r in sim_topk(spark, SF_SMALL).collect()
    }
    flat = {(r["query_id"], r["neighbor_id"]) for r in sim_ann_pq(spark, SF_SMALL).collect()}
    opq = {(r["query_id"], r["neighbor_id"]) for r in sim_ann_opq(spark, SF_SMALL).collect()}
    r_flat = len(exact & flat) / len(exact)
    r_opq = len(exact & opq) / len(exact)
    assert r_opq >= 0.6, f"opq recall {r_opq:.2f}"
    assert abs(r_opq - r_flat) <= 0.15, f"flat {r_flat:.2f} vs opq {r_opq:.2f}"


def test_opq_plan_shape(spark):
    """Same scale contract as flat PQ: broadcast query side, no
    cartesian, bounded shuffle budget; the rotated table reads from its
    checkpoint (no parquet re-scan of embeddings in the search plan
    beyond the rerank's vector store)."""
    from banking_streamprocessing_demos_spark.operators.pq import sim_ann_opq

    df = sim_ann_opq(spark, SF_SMALL)
    assert_no_cartesian(df)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan[:2000]
    assert count_shuffles(df) <= 6, plan[:2000]


def test_opq_trained_beats_random_rotation_on_anisotropic_fixture(spark):
    """The round-8 trained OPQ must reproduce the paper's ordering ON
    the anisotropic fixture: trained (Givens decorrelation + variance
    allocation) beats the random-rotation baseline beats no rotation —
    in quantization MSE (whole-corpus, the statistically solid
    discriminator) and non-inferior in recall@5 at a shallow 16-deep
    rerank (the regime where funnel slack can't mask codebook
    quality).  numpy-prototype values at authoring time (sf0.01):
    MSE 0.39 / 0.51 / 0.57, recall 0.76 / 0.68 / 0.68."""
    import numpy as np

    from banking_streamprocessing_demos_spark.operators.pq import (
        DIMS,
        PQ_ITERS,
        PQ_M,
        PQ_SUBDIM,
        _adc_pq_scored,
        _opq_rotate_expr,
        _shortlist_rerank,
        _subs_df,
        _train_on,
        opq_trained_index,
        sim_ann_opq_trained,
    )
    from banking_streamprocessing_demos_spark.operators.similarity import (
        N_QUERIES,
        TOPK,
    )
    from tests.conftest import SF_MEDIUM

    fix, rot_t, perm, cb_t = opq_trained_index(spark, SF_MEDIUM)
    assert sorted(perm) == list(range(DIMS)), "allocation must be a permutation"

    fv = {r["vec_id"]: np.array(r["u"]) for r in fix.collect()}
    exact = {}
    for q in range(N_QUERIES):
        scores = sorted(
            ((float(fv[i] @ fv[q]), i) for i in fv if i != q), reverse=True
        )
        exact[q] = {i for _, i in scores[:TOPK]}

    def recall(df) -> float:
        got: dict[int, set] = {}
        for r in df.collect():
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return sum(len(got.get(q, set()) & exact[q]) for q in exact) / (
            len(exact) * TOPK
        )

    def mse(frame, col, cb) -> float:
        x = np.array([r[col] for r in frame.select(col).collect()])
        err = 0.0
        for m in range(PQ_M):
            sub = x[:, m * PQ_SUBDIM : (m + 1) * PQ_SUBDIM]
            cents = np.array(cb[m])
            d = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(-1)
            err += d.min(axis=1).sum()
        return err / len(x)

    RER = 16
    r_tr = recall(
        sim_ann_opq_trained(spark, SF_MEDIUM, index=(fix, rot_t, perm, cb_t), rerank=RER)
    )
    mse_tr = mse(rot_t, "ru", cb_t)

    rot_r = fix.select("vec_id", _opq_rotate_expr("u").alias("ru")).localCheckpoint(
        eager=True
    )
    cb_r = _train_on(_subs_df(rot_r, col="ru"), PQ_ITERS)
    r_rand = recall(
        _shortlist_rerank(
            _adc_pq_scored(spark, SF_MEDIUM, fix, cb=cb_r, frame=rot_r, col="ru"),
            fix,
            shortlist_depth=RER,
        )
    )
    mse_rand = mse(rot_r, "ru", cb_r)

    cb_f = _train_on(_subs_df(fix), PQ_ITERS)
    r_flat = recall(
        _shortlist_rerank(
            _adc_pq_scored(spark, SF_MEDIUM, fix, cb=cb_f), fix, shortlist_depth=RER
        )
    )
    mse_f = mse(fix, "u", cb_f)

    # the paper's ordering, with margins that survive per-round
    # testdata regeneration
    assert mse_tr < mse_rand - 0.03, (mse_tr, mse_rand)
    assert mse_rand < mse_f, (mse_rand, mse_f)
    assert r_tr >= r_rand, (r_tr, r_rand)
    assert r_tr >= r_flat, (r_tr, r_flat)
    assert r_tr >= 0.6, r_tr


def test_sampled_training_sample_is_deterministic_and_bounded(spark):
    """The seeded md5-rank training sample (FAISS-convention bounded
    train set): identical across draws, at most n + PQ_K ids, and the
    k-means init seeds are ALWAYS included so sampled and full training
    share the same seeded init."""
    from banking_streamprocessing_demos_spark.operators.pq import _train_ids
    from banking_streamprocessing_demos_spark.operators.similarity import IVF_CELLS

    unit = _unit(spark, SF_SMALL)
    ids1 = sorted(r["vec_id"] for r in _train_ids(unit, 64).collect())
    ids2 = sorted(r["vec_id"] for r in _train_ids(unit, 64).collect())
    assert ids1 == ids2
    assert len(ids1) <= 64 + PQ_K
    assert set(range(PQ_K)) <= set(ids1)
    # the residual-codebook variant carries the offset init seeds instead
    ids3 = {r["vec_id"] for r in _train_ids(unit, 64, offset=IVF_CELLS).collect()}
    assert set(range(IVF_CELLS, IVF_CELLS + PQ_K)) <= ids3


def test_sampled_codebook_recall_parity_vs_full(spark):
    """Quantizer statistics converge on a bounded sample: the codebook
    trained on the N_TRAIN seeded draw must search within a small recall
    margin of the full-corpus codebook (the property that makes sampled
    training the correct 100 TB shape — scale evidence in
    BENCH_recall_scale.json)."""
    from banking_streamprocessing_demos_spark.operators.pq import N_TRAIN

    exact = {
        (r["query_id"], r["neighbor_id"]) for r in sim_topk(spark, SF_SMALL).collect()
    }
    full = {(r["query_id"], r["neighbor_id"]) for r in sim_ann_pq(spark, SF_SMALL).collect()}
    cb_s = pq_train(spark, SF_SMALL, train_sample=N_TRAIN)
    # sampled training is itself deterministic
    assert cb_s == pq_train(spark, SF_SMALL, train_sample=N_TRAIN)
    samp = {
        (r["query_id"], r["neighbor_id"])
        for r in sim_ann_pq(spark, SF_SMALL, cb=cb_s).collect()
    }
    r_full = len(exact & full) / len(exact)
    r_samp = len(exact & samp) / len(exact)
    assert r_samp >= r_full - 0.15, (r_samp, r_full)


def test_sampled_ivfpq_and_opq_trained_indexes_search(spark):
    """train_sample on the IVF-PQ and trained-OPQ builds bounds every
    training statistic to the sample while rotation/codebook/encode stay
    corpus-wide: searches return the full per-query result set and stay
    within tolerance of the full-corpus-trained index."""
    from banking_streamprocessing_demos_spark.operators.pq import (
        N_TRAIN,
        ivfpq_index,
        opq_trained_index,
        sim_ann_ivfpq,
        sim_ann_opq_trained,
    )

    got_s = sim_ann_ivfpq(
        spark, SF_SMALL, index=ivfpq_index(spark, SF_SMALL, train_sample=N_TRAIN)
    ).collect()
    got_f = sim_ann_ivfpq(spark, SF_SMALL, index=ivfpq_index(spark, SF_SMALL)).collect()
    pairs_s = {(r["query_id"], r["neighbor_id"]) for r in got_s}
    pairs_f = {(r["query_id"], r["neighbor_id"]) for r in got_f}
    assert len(got_s) == len(got_f)
    assert len(pairs_s & pairs_f) / len(pairs_f) >= 0.6, len(pairs_s & pairs_f) / len(pairs_f)

    idx = opq_trained_index(spark, SF_SMALL, train_sample=N_TRAIN)
    fix, rot, perm, cb = idx
    assert sorted(perm) == list(range(len(perm)))  # a true permutation
    assert len(cb) == PQ_M and all(len(cb_m) == PQ_K for cb_m in cb)
    got_o = sim_ann_opq_trained(spark, SF_SMALL, index=idx).collect()
    by_q: dict[int, int] = {}
    for r in got_o:
        by_q[r["query_id"]] = by_q.get(r["query_id"], 0) + 1
    assert by_q and all(v == TOPK for v in by_q.values()), by_q


def test_sq8_recall_is_exact_on_committed_sfs(spark):
    """Int8-per-dim quantization keeps relative rank error ~1e-3, so
    the 16-deep funnel must recover the exact top-5 COMPLETELY on the
    committed corpora (measured 1.0 at sf0.001 and sf0.01 at authoring
    time; floor 0.9 leaves margin for per-round testdata regen)."""
    from banking_streamprocessing_demos_spark.operators.pq import sim_ann_sq8

    exact = {
        (r["query_id"], r["neighbor_id"]) for r in sim_topk(spark, SF_SMALL).collect()
    }
    got = {(r["query_id"], r["neighbor_id"]) for r in sim_ann_sq8(spark, SF_SMALL).collect()}
    recall = len(exact & got) / len(exact)
    assert recall >= 0.9, f"recall {recall:.2f}"


def test_sq8_rerank_scores_are_exact_cosines(spark):
    """Same exactness contract as PQ: quantization may only affect WHICH
    pairs make the shortlist, never the reported cosine."""
    from banking_streamprocessing_demos_spark.operators.pq import sim_ann_sq8

    exact = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in sim_topk(spark, SF_SMALL).collect()
    }
    for r in sim_ann_sq8(spark, SF_SMALL).collect():
        key = (r["query_id"], r["neighbor_id"])
        if key in exact:
            assert abs(r["cosine"] - exact[key]) < 1e-9, (key, r["cosine"], exact[key])


def test_sq8_codes_are_true_int8(spark):
    """The byte-width claim is structural: every code survives the
    TINYINT round-trip (|c| <= 127 by the max-abs scale construction)
    and the extremal code +/-127 is attained in every vector (the
    max-abs component quantizes to exactly 127 by construction)."""
    from banking_streamprocessing_demos_spark.operators.pq import _sq8_scored, _unit

    codes = (
        _sq8_scored(_unit(spark, SF_SMALL))
        .select("neighbor_id", "c")
        .dropDuplicates(["neighbor_id"])
        .collect()
    )
    assert codes
    for r in codes:
        arr = [int(x) for x in r["c"]]
        assert all(-127 <= v <= 127 for v in arr), (r["neighbor_id"], min(arr), max(arr))
        assert max(abs(v) for v in arr) == 127, r["neighbor_id"]


def test_sq8_plan_shape(spark):
    """Scale contract: training-free (no collect stage at all in the
    lineage), query side broadcast, no cartesian product, and the
    shuffle budget is the two ranking windows + local-only fan-out —
    nothing that grows with corpus size beyond the compressed scan."""
    from banking_streamprocessing_demos_spark.operators.pq import sim_ann_sq8

    df = sim_ann_sq8(spark, SF_SMALL)
    assert_no_cartesian(df)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan[:2000]
    assert count_shuffles(df) <= 6, plan[:2000]


# ---------------------------------------------------------------------------
# BQ: 1-bit binary quantization (sim_ann_binary)
# ---------------------------------------------------------------------------


def test_bq_recall_floor(spark):
    """Measured at authoring time (asymmetric scorer, 64-deep funnel):
    recall@5 vs brute force = 0.96 at sf0.01 and 1.0 at sf0.001 (the
    50-vector corpus sits entirely inside the funnel).  Floor 0.85
    leaves margin for per-round testdata regen; 1 bit/dim is the
    coarsest tier in the family, so unlike SQ8 the contract is a strong
    shortlist, not exactness."""
    from banking_streamprocessing_demos_spark.operators.pq import sim_ann_binary

    exact = {
        (r["query_id"], r["neighbor_id"]) for r in sim_topk(spark, SF_SMALL).collect()
    }
    got = {(r["query_id"], r["neighbor_id"]) for r in sim_ann_binary(spark, SF_SMALL).collect()}
    recall = len(exact & got) / len(exact)
    assert recall >= 0.85, f"recall {recall:.2f}"


def test_bq_asymmetric_beats_symmetric_at_equal_depth(spark):
    """The design choice is measured, not asserted: at the shipped
    depth the asymmetric scorer's shortlist recovers at least as many
    true top-5 pairs as symmetric Hamming (sf0.01 authoring-time
    measurement: 0.96 vs 0.76 — the query's own quantization error is
    the gap; see the pq.py section-header table)."""
    from banking_streamprocessing_demos_spark.operators.pq import (
        BQ_RERANK,
        _bq_hamming_scored,
        _bq_scored,
        _shortlist_rerank,
        _unit,
    )

    exact = {
        (r["query_id"], r["neighbor_id"]) for r in sim_topk(spark, SF_SMALL).collect()
    }
    unit = _unit(spark, SF_SMALL)
    asym = {
        (r["query_id"], r["neighbor_id"])
        for r in _shortlist_rerank(_bq_scored(unit), unit, shortlist_depth=BQ_RERANK).collect()
    }
    sym = {
        (r["query_id"], r["neighbor_id"])
        for r in _shortlist_rerank(
            _bq_hamming_scored(unit), unit, shortlist_depth=BQ_RERANK
        ).collect()
    }
    assert len(exact & asym) >= len(exact & sym), (len(exact & asym), len(exact & sym))


def test_bq_pack_roundtrip_and_width(spark):
    """Structural code contract: both words fit in 32 unsigned bits
    (no BIGINT sign-bit edge case), and the popcount of each vector's
    words equals its positive-component count — the packed code IS the
    sign pattern, bit for bit."""
    from banking_streamprocessing_demos_spark.operators.pq import _bq_codes, _unit

    unit = _unit(spark, SF_SMALL)
    rows = (
        _bq_codes(unit)
        .join(unit, "vec_id")
        .select(
            "vec_id",
            "lo",
            "hi",
            F.size(F.filter("u", lambda x: x > 0)).alias("n_pos"),
            (F.bit_count("lo") + F.bit_count("hi")).alias("n_bits"),
        )
        .collect()
    )
    assert rows
    for r in rows:
        assert 0 <= r["lo"] < 2**32 and 0 <= r["hi"] < 2**32, (r["vec_id"], r["lo"], r["hi"])
        assert r["n_bits"] == r["n_pos"], (r["vec_id"], r["n_bits"], r["n_pos"])


def test_bq_rerank_scores_are_exact_cosines(spark):
    """Quantization may only affect WHICH pairs make the shortlist,
    never the reported cosine (the family-wide exactness contract)."""
    from banking_streamprocessing_demos_spark.operators.pq import sim_ann_binary

    exact = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in sim_topk(spark, SF_SMALL).collect()
    }
    for r in sim_ann_binary(spark, SF_SMALL).collect():
        key = (r["query_id"], r["neighbor_id"])
        if key in exact:
            assert abs(r["cosine"] - exact[key]) < 1e-9, (key, r["cosine"], exact[key])


def test_bq_plan_shape(spark):
    """Scale contract, same as SQ8: training-free (no collect stage in
    the lineage), query side broadcast, no cartesian product, shuffle
    budget bounded by the two ranking windows + local-only fan-out."""
    from banking_streamprocessing_demos_spark.operators.pq import sim_ann_binary

    df = sim_ann_binary(spark, SF_SMALL)
    assert_no_cartesian(df)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan[:2000]
    assert count_shuffles(df) <= 6, plan[:2000]


# ---------------------------------------------------------------------------
# IVF-BQ: binary codes under coarse IVF pruning (sim_ann_ivf_binary)
# ---------------------------------------------------------------------------


def test_ivf_bq_recall_floor_and_composition(spark):
    """Measured at authoring time: recall@5 = 0.92 at sf0.001 AND
    sf0.01 — exactly equal to plain sim_ann_ivf, i.e. the binary
    prescreen at the 64-deep funnel adds ZERO loss on top of coarse
    pruning (every miss is an IVF probe miss).  Pin both the absolute
    floor and the composition property (binary may trail exact
    in-cell scoring by at most one pair per regen)."""
    from banking_streamprocessing_demos_spark.operators.pq import sim_ann_ivf_binary
    from banking_streamprocessing_demos_spark.operators.similarity import sim_ann_ivf

    exact = {
        (r["query_id"], r["neighbor_id"]) for r in sim_topk(spark, SF_SMALL).collect()
    }
    got = {
        (r["query_id"], r["neighbor_id"])
        for r in sim_ann_ivf_binary(spark, SF_SMALL).collect()
    }
    ivf = {
        (r["query_id"], r["neighbor_id"]) for r in sim_ann_ivf(spark, SF_SMALL).collect()
    }
    assert len(exact & got) / len(exact) >= 0.8
    assert len(exact & got) >= len(exact & ivf) - 1, (len(exact & got), len(exact & ivf))


def test_ivf_bq_rerank_scores_are_exact_cosines(spark):
    from banking_streamprocessing_demos_spark.operators.pq import sim_ann_ivf_binary

    exact = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in sim_topk(spark, SF_SMALL).collect()
    }
    for r in sim_ann_ivf_binary(spark, SF_SMALL).collect():
        key = (r["query_id"], r["neighbor_id"])
        if key in exact:
            assert abs(r["cosine"] - exact[key]) < 1e-9, (key, r["cosine"], exact[key])


def test_ivf_bq_plan_shape(spark):
    """Scale contract: query/cell sides broadcast, no cartesian over
    the corpus.  The shuffle budget is higher than flat BQ's 6 because
    the composition inherits the IVF assignment pipeline (rank_cells
    windows + the corpus-keyed assigned-x-codes vec_id join, which at
    cluster scale is the cell-partitioned write) — all skinny rows;
    measured 13 at authoring time."""
    from banking_streamprocessing_demos_spark.operators.pq import sim_ann_ivf_binary

    df = sim_ann_ivf_binary(spark, SF_SMALL)
    assert_no_cartesian(df)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert count_shuffles(df) <= 14, plan[:2000]
