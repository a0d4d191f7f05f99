"""LLM-pipeline operator semantics beyond oracle parity: LSH recall vs
the exact baseline, dedup pair symmetry, multimodal plumbing."""

from __future__ import annotations

from pyspark.sql import functions as F

from banking_streamprocessing_demos_spark.operators.dedup import (
    JACCARD_TAU,
    dedup_minhash,
    dedup_ngram,
)
from banking_streamprocessing_demos_spark.operators.multimodal import as_media_table, mm_feature_extract
from banking_streamprocessing_demos_spark.operators.similarity import sim_ann_lsh, sim_topk
from tests.conftest import SF_SMALL


def test_minhash_lsh_recall(spark):
    """At the planted-duplicate similarity (~0.99), 4 bands x 3 rows has
    collision probability ~1 — LSH must find every exact-Jaccard pair."""
    exact = {(r.doc_a, r.doc_b) for r in dedup_ngram(spark, SF_SMALL).collect()}
    lsh = {(r.doc_a, r.doc_b) for r in dedup_minhash(spark, SF_SMALL).collect()}
    assert exact, "fixture should contain planted near-duplicates"
    assert lsh == exact


def test_ngram_pairs_above_tau(spark):
    rows = dedup_ngram(spark, SF_SMALL).collect()
    assert all(r.jaccard >= JACCARD_TAU for r in rows)
    assert all(r.doc_a < r.doc_b for r in rows)


def test_ann_lsh_recall_vs_bruteforce(spark):
    """Multi-table multi-probe LSH (6 tables x 4 bits, Hamming-1 query
    probes): recall@5 must clear 0.8 even on near-orthogonal synthetic
    vectors (the hard case for LSH), every ANN cosine must agree with
    the exact computation, and ranks must be dense per query."""
    exact = sim_topk(spark, SF_SMALL).collect()
    ann = sim_ann_lsh(spark, SF_SMALL).collect()
    exact_pairs = {(r.query_id, r.neighbor_id): r.cosine for r in exact}
    hits = 0
    for r in ann:
        assert r.rank <= 5
        if (r.query_id, r.neighbor_id) in exact_pairs:
            hits += 1
            assert abs(r.cosine - exact_pairs[(r.query_id, r.neighbor_id)]) < 1e-9
    assert hits / len(exact_pairs) >= 0.8, f"recall {hits / len(exact_pairs):.2f}"
    per_q = {}
    for r in ann:
        per_q.setdefault(r.query_id, []).append(r.rank)
    for ranks in per_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_ivf_partitioned_index_search(spark, tmp_path):
    """The materialized IVF layout must return the same rows as the
    in-memory variant, and the scan must only touch probed cells
    (partition pruning is the whole point of the layout)."""
    from banking_streamprocessing_demos_spark.operators.similarity import (
        build_ivf_index,
        ivf_search,
        sim_ann_ivf,
    )
    from banking_streamprocessing_demos_spark.plans.explain import formatted_plan

    index_dir = str(tmp_path / "ivf")
    build_ivf_index(spark, SF_SMALL, index_dir)
    via_index = ivf_search(spark, index_dir, SF_SMALL)
    in_memory = sim_ann_ivf(spark, SF_SMALL)
    a = sorted(map(tuple, via_index.collect()))
    b = sorted(map(tuple, in_memory.collect()))
    assert a == b
    plan = formatted_plan(via_index)
    # join-based pruning (round-7 VERDICT #4): the probe-cell set must
    # reach the scan as a DYNAMIC partition filter (no driver collect /
    # isin literal), i.e. a dynamicpruningexpression inside a non-empty
    # PartitionFilters — "PartitionFilters" alone also matches the
    # empty list, so assert the dynamic expression itself
    assert "dynamicpruning" in plan.lower(), plan
    import re

    pf = re.search(r"PartitionFilters: \[(.*?)\]\n", plan)
    assert pf and "dynamicpruning" in pf.group(1).lower(), plan


def test_ivf_recall_vs_bruteforce(spark):
    from banking_streamprocessing_demos_spark.operators.similarity import sim_ann_ivf

    exact = {(r.query_id, r.neighbor_id) for r in sim_topk(spark, SF_SMALL).collect()}
    ivf = {(r.query_id, r.neighbor_id) for r in sim_ann_ivf(spark, SF_SMALL).collect()}
    recall = len(exact & ivf) / len(exact)
    # 4 of 16 cells probed on near-uniform vectors: recall well above the
    # 25% a random probe would give is evidence the quantizer works
    assert recall >= 0.25, recall


def test_phash_dedup_recall_and_losslessness(spark):
    """mm_phash_dedup (a) finds EVERY planted re-encode variant pair
    (recall 1.0 on the byte-perturbation class the operator exists
    for), and (b) equals the brute-force all-pairs Hamming <= K set
    computed by the plain-Python reference — the Manku block-pair
    banding losslessness proof (8 blocks, <= 6 flips leave >= 2 blocks
    untouched) executed against the Spark plan."""
    from banking_streamprocessing_demos_spark.operators.multimodal import (
        PHASH_HAM_K,
        PHASH_VARIANT_OFFSET,
        media_with_variants,
        mm_phash_dedup,
    )
    from tests.test_phash_fuzz import ref_pairs

    rows = mm_phash_dedup(spark, SF_SMALL).collect()
    got = {(r.media_a, r.media_b): r.hamming for r in rows}
    assert all(h <= PHASH_HAM_K for h in got.values())

    payloads = {
        r.media_id: r.payload for r in media_with_variants(spark, SF_SMALL).collect()
    }
    planted = {
        (mid - PHASH_VARIANT_OFFSET, mid)
        for mid in payloads
        if mid >= PHASH_VARIANT_OFFSET
    }
    assert planted, "fixture should plant re-encode variants"
    assert planted <= set(got), "a planted variant pair was missed"
    assert got == ref_pairs(payloads)


def test_streaming_phash_dedup_matches_batch(spark):
    """Batch==stream for the perceptual gate: the streaming twin's
    off-diagonal matches (normalized to unordered pairs) must equal
    exactly the batch pairs with an ORIGINAL endpoint (the twin joins
    uploads against the held-originals inventory, so variant-variant
    pairs are out of scope by design), and every held original re-uploads
    as an exact hamming-0 self-match."""
    from banking_streamprocessing_demos_spark.operators.multimodal import (
        PHASH_VARIANT_OFFSET,
        mm_phash_dedup,
    )
    from banking_streamprocessing_demos_spark.operators.streaming_queries import (
        streaming_phash_dedup_q,
    )

    srows = streaming_phash_dedup_q(spark, SF_SMALL).collect()
    self_rows = [r for r in srows if r.upload_id == r.match_id]
    assert self_rows and all(r.hamming == 0 for r in self_rows)
    stream_pairs = {
        (min(r.upload_id, r.match_id), max(r.upload_id, r.match_id)): r.hamming
        for r in srows
        if r.upload_id != r.match_id
    }
    batch_pairs = {
        (r.media_a, r.media_b): r.hamming
        for r in mm_phash_dedup(spark, SF_SMALL).collect()
        if r.media_a < PHASH_VARIANT_OFFSET  # at least one original endpoint
    }
    assert stream_pairs == batch_pairs
    # every held original re-uploads exactly once as a self-match
    held = {r.upload_id for r in self_rows}
    assert len(self_rows) == len(held)


def test_phash_clusters_cover_pair_graph(spark):
    """mm_phash_clusters must label exactly the endpoints of the pair
    graph, with every pair's endpoints sharing a cluster id and sizes
    consistent with the labeling."""
    from banking_streamprocessing_demos_spark.operators.multimodal import (
        mm_phash_clusters,
        mm_phash_dedup,
    )

    pairs = [(r.media_a, r.media_b) for r in mm_phash_dedup(spark, SF_SMALL).collect()]
    rows = mm_phash_clusters(spark, SF_SMALL).collect()
    label = {r.media_id: r.cluster_id for r in rows}
    assert set(label) == {m for p in pairs for m in p}
    for a, b in pairs:
        assert label[a] == label[b], (a, b)
    import collections

    sizes = collections.Counter(label.values())
    for r in rows:
        assert r.cluster_size == sizes[r.cluster_id]
        assert r.cluster_size >= 2


def test_chunk_dedup_finds_extended_variants(spark):
    """Every planted trailer-extended variant with >= MIN_SHARED full
    64-byte prefix chunks must pair with its original at full prefix
    containment; originals' full-chunk counts bound shared_chunks."""
    from banking_streamprocessing_demos_spark.operators.multimodal import (
        MM_CHUNK_BYTES,
        MM_CHUNK_MIN_SHARED,
        MM_CHUNK_VARIANT_OFFSET,
        mm_chunk_dedup,
    )
    from banking_streamprocessing_demos_spark.sources.tables import load_table

    texts = {
        r.doc_id: r.text
        for r in load_table(spark, SF_SMALL, "documents").select("doc_id", "text").collect()
    }
    got = {
        (r.media_a, r.media_b): (r.shared_chunks, r.containment)
        for r in mm_chunk_dedup(spark, SF_SMALL).collect()
    }
    expected_hits = 0
    for doc_id, text in texts.items():
        if doc_id % 8 != 3:
            continue
        full = len(text) // MM_CHUNK_BYTES  # position-identical prefix chunks
        pair = (doc_id, doc_id + MM_CHUNK_VARIANT_OFFSET)
        if full >= MM_CHUNK_MIN_SHARED:
            assert pair in got, (pair, full)
            shared, containment = got[pair]
            assert shared == full, (pair, shared, full)
            expected_hits += 1
        else:
            assert pair not in got, pair
    assert expected_hits > 0, "fixture should plant extendable variants"
    assert all(s >= MM_CHUNK_MIN_SHARED for s, _ in got.values())


def test_chunk_frame_empty_payload_yields_no_chunks(spark):
    """Round-8 review find: Spark sequence(0, -1) is DESCENDING, so an
    unguarded chunk explode emitted two phantom md5('') chunks for an
    empty payload (diverging from the oracle's empty range and making
    containment divide by zero).  The guard must yield ZERO rows."""
    from banking_streamprocessing_demos_spark.operators.multimodal import chunk_frame

    media = spark.createDataFrame(
        [(1, ""), (2, "x" * 70)], "media_id long, payload string"
    )
    rows = chunk_frame(media).collect()
    assert [r.media_id for r in rows] == [2, 2]
    assert [r.chunk_idx for r in rows] == [0, 1]
    assert all(r.n_chunks == 2 for r in rows)


def test_resize_and_frame_sampling(spark):
    """Resize: deterministic output dims and sizes.  Frame sampling: one
    video row explodes to N frame rows whose slices cover every byte of
    the payload exactly once (last frame absorbs the remainder)."""
    from banking_streamprocessing_demos_spark.operators.multimodal import (
        as_media_table,
        resize_media,
        sample_frames,
    )

    resized = resize_media(spark, SF_SMALL).collect()
    assert all(r.out_width == 224 and r.out_height == 224 for r in resized)
    assert all(r.n_bytes_out > 0 for r in resized)

    frames = sample_frames(spark, SF_SMALL, n_frames=4).toPandas()
    media = {
        r.media_id: bytes(r.content)
        for r in as_media_table(spark, SF_SMALL).filter("media_type = 'video'").collect()
    }
    assert set(frames["media_id"]) == set(media)
    # the mm_frame_sample DuckDB oracle recomputes byte-slice md5s via
    # substr, which is only byte-exact while the corpus stays ASCII —
    # fail loudly here if the testdata ever grows multibyte text
    assert all(b.decode("utf-8").isascii() for b in media.values())
    for mid, grp in frames.groupby("media_id"):
        b = media[mid]
        grp = grp.sort_values("frame_index")
        assert list(grp["frame_index"]) == list(range(len(grp)))
        # offsets in range, strictly increasing, and slices cover all bytes
        offs = list(grp["frame_offset_bytes"]) + [len(b)]
        assert all(0 <= o < len(b) for o in offs[:-1])
        assert offs == sorted(offs)
        import hashlib as hl

        for i in range(len(grp)):
            assert grp.iloc[i]["frame_md5"] == hl.md5(b[offs[i] : offs[i + 1]]).hexdigest()


def test_media_table_binary_roundtrip(spark):
    media = as_media_table(spark, SF_SMALL)
    row = media.filter(F.col("media_type") == "text").first()
    assert isinstance(row.content, (bytes, bytearray))
    feats = mm_feature_extract(spark, SF_SMALL)
    sample = feats.limit(10).collect()
    assert all(r.n_bytes > 0 and len(r.content_md5) == 32 for r in sample)
    # all four media types flow through the pandas stage
    types = {r.media_type for r in feats.select("media_type").distinct().collect()}
    assert types == {"text", "image", "audio", "video"}


def test_exact_cosine_size_guard(spark):
    """The exact all-pairs cosine verifier must refuse corpora past its
    size bound with a pointer to the ANN scale paths (VERDICT r1 #4:
    no unguarded O(N^2) join reachable from queries())."""
    import pytest

    from banking_streamprocessing_demos_spark.operators.dedup import dedup_embedding

    with pytest.raises(ValueError, match="sim_ann_lsh / sim_ann_ivf"):
        dedup_embedding(spark, SF_SMALL, max_rows=10)
    # under the bound it still runs (guard is a count, not a plan change)
    assert dedup_embedding(spark, SF_SMALL).count() >= 0


def test_semantic_clusters_recall_vs_exact(spark):
    """dedup_semantic_clusters (LSH-collision candidates) must recover
    most exact cosine>=tau pairs, and every pair it clusters together
    must CO-cluster vectors the exact verifier also links (possibly
    transitively).  Deterministic hyperplanes -> a fixed recall; pin a
    floor well under it so testdata regeneration can't flake."""
    from banking_streamprocessing_demos_spark.operators.dedup import (
        dedup_embedding,
        dedup_semantic,
    )

    exact_pairs = {(r.vec_a, r.vec_b) for r in dedup_embedding(spark, SF_SMALL).collect()}
    clusters = {r.vec_id: r.cluster_id for r in dedup_semantic(spark, SF_SMALL).collect()}
    if not exact_pairs:
        assert clusters == {}
        return
    recovered = sum(
        1
        for a, b in exact_pairs
        if a in clusters and b in clusters and clusters[a] == clusters[b]
    )
    assert recovered / len(exact_pairs) >= 0.5, (recovered, len(exact_pairs))


def test_auto_lsh_bits_sizing_rule():
    """bits ~ log2(N) keeps expected bucket size N/2^bits within a
    constant band as the corpus grows, and never drops below the
    oracle-pinned LSH_BITS floor."""
    from banking_streamprocessing_demos_spark.operators.similarity import (
        LSH_BITS,
        auto_lsh_bits,
    )

    assert auto_lsh_bits(0) == LSH_BITS
    assert auto_lsh_bits(100) == LSH_BITS  # tiny corpus: floor
    assert auto_lsh_bits(2_000) == LSH_BITS  # the checked sf0.1 config
    for n in (20_000, 200_000, 2_000_000):
        bits = auto_lsh_bits(n)
        assert bits >= LSH_BITS
        # expected bucket size stays in (target/2, target]
        assert n / 2**bits <= 125
        assert n / 2**bits > 125 / 2
    # monotone in N
    assert auto_lsh_bits(200_000) >= auto_lsh_bits(20_000)


def test_auto_lsh_tables_recall_rule():
    """L grows alongside bits so per-neighbor recall at the cosine-0.9
    design point — 1-(1-p^bits)^L — stays within ~2 points of the
    checked 4-bit/6-table configuration across the practical scale
    range, under the documented cap (exact iso-recall L grows like
    N^0.22; the cap trades that structural blow-up for an explicit,
    RECORDED recall level per scale point)."""
    from banking_streamprocessing_demos_spark.operators.similarity import (
        _LSH_P_DESIGN,
        LSH_BITS,
        LSH_TABLES,
        auto_lsh_bits,
        auto_lsh_tables,
        lsh_expected_recall,
    )

    p = _LSH_P_DESIGN
    base_recall = lsh_expected_recall(LSH_BITS, LSH_TABLES)
    # checked configuration is the floor
    assert auto_lsh_tables(LSH_BITS) == LSH_TABLES
    assert auto_lsh_tables(LSH_BITS - 1) == LSH_TABLES
    for n in (20_000, 60_000):  # the measured x10/x30 scale range
        bits = auto_lsh_bits(n)
        tables = auto_lsh_tables(bits)
        recall = lsh_expected_recall(bits, tables)
        assert recall >= base_recall - 0.03, (n, bits, tables, recall, base_recall)
        assert tables <= 2 * LSH_TABLES  # the cap bounds banding cost
    # beyond the measured range the cap starts to bite — the recorded
    # recall makes the decay explicit (SCALE.md documents shard/IVF as
    # the move once it matters)
    assert lsh_expected_recall(auto_lsh_bits(200_000), auto_lsh_tables(11)) >= 0.90
    # monotone (non-decreasing) in bits, saturating at the cap
    assert auto_lsh_tables(10) >= auto_lsh_tables(8) >= auto_lsh_tables(6)
    # uncapped solve really is iso-recall (the formula itself is exact)
    for bits in (6, 8, 10):
        iso = auto_lsh_tables(bits, cap=10_000)
        assert lsh_expected_recall(bits, iso) >= base_recall


def test_semantic_clusters_scaled_bits_subset_of_exact(spark):
    """Wider banding (bits=6) must produce clusters whose co-membership
    relation is a SUBSET of the exact verifier's transitive closure —
    candidates are exact-verified, so precision is structural."""
    from banking_streamprocessing_demos_spark.operators.dedup import (
        dedup_embedding,
        dedup_semantic,
    )

    # union-find over the exact tau-pair graph
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in dedup_embedding(spark, SF_SMALL).collect():
        ra, rb = find(r.vec_a), find(r.vec_b)
        if ra != rb:
            parent[ra] = rb

    clusters: dict[int, list[int]] = {}
    for r in dedup_semantic(spark, SF_SMALL, lsh_bits=6).collect():
        clusters.setdefault(r.cluster_id, []).append(r.vec_id)
    for members in clusters.values():
        roots = {find(m) for m in members}
        assert len(roots) == 1, f"cluster mixes exact components: {members}"


def test_substring_spans_merge_semantics(spark, tmp_path):
    """Pin the island rules random-corpus parity can't distinguish:
    overlapping dup grams merge to ONE span; ADJACENT spans (next start
    == prev end + 1) also merge; disjoint repeats stay separate; docs
    with no duplicated 8-gram report zero coverage."""
    from banking_streamprocessing_demos_spark.operators.dedup import dedup_substring_spans

    shared = " ".join(f"s{i}" for i in range(1, 11))        # 10-token shared run
    phrase = " ".join(f"d{i}" for i in range(1, 9))         # 8-token repeated phrase
    x = " ".join(f"x{i}" for i in range(1, 9))
    y = " ".join(f"y{i}" for i in range(1, 9))
    rows = [
        (0, f"a1 a2 a3 {shared} a4 a5"),                    # one merged 10-token span
        (1, f"b1 {shared} b2 b3 b4"),                       # one merged 10-token span
        (2, " ".join(f"c{i}" for i in range(1, 10))),       # no dup grams
        (3, f"{phrase} " + " ".join(f"f{i}" for i in range(1, 10)) + f" {phrase}"),
        (4, f"{x} {y}"),                                    # adjacent spans -> merge
        (5, f"{x} u1 u2"),
        (6, f"v1 {y}"),
    ]
    df = spark.createDataFrame(
        [(i, t, "en", "src0", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.write.parquet(str(tmp_path / "documents.parquet"))
    out = {
        r.doc_id: (r.n_dup_spans, r.dup_tokens)
        for r in dedup_substring_spans(spark, str(tmp_path)).collect()
    }
    assert out[0] == (1, 10)
    assert out[1] == (1, 10)
    assert out[2] == (0, 0)
    assert out[3] == (2, 16)   # disjoint in-doc repeats stay two spans
    assert out[4] == (1, 16)   # adjacency merges x-span and y-span
    assert out[5] == (1, 8)
    assert out[6] == (1, 8)


def test_epoch_plan_downsample_and_ceiling(spark, tmp_path):
    """Skewed fixture pins the two regimes random-corpus parity can't
    reach on balanced testdata: a dominant source gets r < 1
    (probabilistic downsampling — some docs get 0 copies, realized
    tokens track r), and a scarce source hits the MAX_EPOCHS ceiling
    instead of blowing past it."""
    from banking_streamprocessing_demos_spark.operators.packing import (
        EPOCH_BUDGET_FACTOR,
        MAX_EPOCHS,
        pipe_epoch_plan,
    )

    rows = []
    doc = 0
    # 4 sources, 50 tokens/doc: 'big' holds 75% of tokens (180 of 240
    # docs), three 'tiny' sources hold ~8.3% each (20 docs apiece)
    for _ in range(180):
        rows.append((doc, " ".join(f"w{i}" for i in range(50)), "en", "big", 0))
        doc += 1
    for src in ("tiny_a", "tiny_b", "tiny_c"):
        for _ in range(20):
            rows.append((doc, " ".join(f"w{i}" for i in range(50)), "en", src, 0))
            doc += 1
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.parquet(str(tmp_path / "documents.parquet"))

    out = pipe_epoch_plan(spark, str(tmp_path)).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r.source, []).append(r)
    total = 240 * 50
    fair = EPOCH_BUDGET_FACTOR * total / 4  # = 6000 tokens/source
    # DOWNSAMPLING: big's fair share < its tokens -> r = 6000/9000 < 1,
    # so copies are Bernoulli(0.667): some docs drop to 0 copies
    big_r = by_src["big"][0].repeat_factor
    assert abs(big_r - fair / (180 * 50)) < 1e-6, big_r
    assert big_r < 1
    big_copies = {r.n_copies for r in by_src["big"]}
    assert big_copies == {0, 1}, big_copies
    planned = sum(r.planned_tokens for r in by_src["big"])
    assert abs(planned / (180 * 50) - big_r) < 0.2, planned
    # CEILING: each tiny source's uncapped r would be 6000/1000 = 6 ->
    # clamped to MAX_EPOCHS, every doc gets exactly that many copies
    for src in ("tiny_a", "tiny_b", "tiny_c"):
        assert by_src[src][0].repeat_factor == MAX_EPOCHS
        assert {r.n_copies for r in by_src[src]} == {int(MAX_EPOCHS)}
    for r in out:
        assert 0 <= r.n_copies
        assert r.planned_tokens == r.n_copies * r.n_tokens


def test_exclusive_prefix_sum_recursion_exact(spark):
    """The recursive distributed prefix sum must equal the naive global
    window at every depth — exercised with a tiny fanin (4) so three
    levels genuinely recurse on this corpus, plus a depth where the
    recursion bottoms out early (levels > log_fanin(N))."""
    from banking_streamprocessing_demos_spark.operators.packing import exclusive_prefix_sum

    rows = [(i, (i * 37) % 11 + 1) for i in range(0, 333, 3)]  # gappy ids
    df = spark.createDataFrame(rows, "id long, v long")
    naive = {
        r.id: r.off
        for r in exclusive_prefix_sum(df, "id", "v", "off", levels=1).collect()
    }
    expected = {}
    acc = 0
    for i, v in rows:
        expected[i] = acc
        acc += v
    assert naive == expected
    for levels in (2, 3, 6):
        got = {
            r.id: r.off
            for r in exclusive_prefix_sum(
                df, "id", "v", "off", fanin=4, levels=levels
            ).collect()
        }
        assert got == expected, levels


def test_domain_mix_replica_ratios(spark):
    """Integer-weight domains replicate EXACTLY weight x docs; fractional
    domains land between floor and ceil of the weight."""
    from banking_streamprocessing_demos_spark.operators.packing import PIPE_MIX, pipe_domain_mix
    from banking_streamprocessing_demos_spark.sources.tables import load_table

    docs_per = {
        r.lang: r.n
        for r in load_table(spark, SF_SMALL, "documents")
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    reps_per = {
        r.domain: r.n
        for r in pipe_domain_mix(spark, SF_SMALL).groupBy("domain").agg(F.count("*").alias("n")).collect()
    }
    for lang, wgt in PIPE_MIX.items():
        n = docs_per.get(lang, 0)
        if not n:
            continue
        got = reps_per.get(lang, 0)
        if wgt == int(wgt):
            assert got == int(wgt) * n, (lang, got, n)
        else:
            assert int(wgt) * n <= got <= (int(wgt) + 1) * n, (lang, got, n)


def test_quality_prune_keeps_top_fraction(spark):
    """Per domain: exactly ceil(0.8*n) docs survive, and no dropped doc
    scores strictly better than a kept one."""
    import math

    from banking_streamprocessing_demos_spark.operators.packing import (
        PRUNE_KEEP_FRAC,
        pipe_quality_prune,
    )
    from banking_streamprocessing_demos_spark.operators.text import text_bigram_lm_score
    from banking_streamprocessing_demos_spark.sources.tables import load_table

    kept = pipe_quality_prune(spark, SF_SMALL).collect()
    lm = {r.doc_id: r.avg_logprob for r in text_bigram_lm_score(spark, SF_SMALL).collect()}
    langs = {
        r.doc_id: r.lang for r in load_table(spark, SF_SMALL, "documents").select("doc_id", "lang").collect()
    }
    scored_per_lang = {}
    for doc_id, score in lm.items():
        scored_per_lang.setdefault(langs[doc_id], []).append((doc_id, score))
    kept_per_lang = {}
    for r in kept:
        kept_per_lang.setdefault(r.lang, set()).add(r.doc_id)
    for lang, docs in scored_per_lang.items():
        expected_n = math.ceil(PRUNE_KEEP_FRAC * len(docs))
        kept_ids = kept_per_lang.get(lang, set())
        assert len(kept_ids) == expected_n, (lang, len(kept_ids), expected_n)
        worst_kept = min(s for d, s in docs if d in kept_ids)
        best_dropped = max((s for d, s in docs if d not in kept_ids), default=float("-inf"))
        assert best_dropped <= worst_kept, (lang, best_dropped, worst_kept)


def test_shard_assign_dense_and_complete(spark):
    """Every document lands in exactly one shard; positions are dense
    1..n per shard; no shard grabs more than 4x its fair share."""
    from banking_streamprocessing_demos_spark.operators.packing import N_SHARDS, pipe_shard_assign

    rows = pipe_shard_assign(spark, SF_SMALL).collect()
    assert len({r.doc_id for r in rows}) == len(rows)
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r.shard_id, []).append(r.pos_in_shard)
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1)), shard
    assert max(len(v) for v in by_shard.values()) <= 4 * max(1, len(rows) // N_SHARDS)


def test_doc_chunk_overlap_properties(spark, tmp_path):
    """Chunk boundaries: 30-token chunks on a 20-token stride, 10-token
    overlap between consecutive chunks, tail rules (>=5 tokens unless
    the doc's only chunk), full coverage of every token."""
    from banking_streamprocessing_demos_spark.operators.text import (
        CHUNK_MIN_TAIL,
        CHUNK_STRIDE,
        CHUNK_TOKENS,
        doc_chunk_overlap,
    )

    rows = [
        (0, " ".join(f"t{i}" for i in range(75))),   # 75 words: chunks at 0,20,40,60
        (1, " ".join(f"u{i}" for i in range(3))),    # 3 words: single short chunk kept
        (2, " ".join(f"v{i}" for i in range(44))),   # tail chunk at 40 has 4 tokens -> dropped
    ]
    sf = str(tmp_path)
    spark.createDataFrame(rows, "doc_id long, text string").selectExpr(
        "doc_id", "text", "'en' AS lang", "'t' AS source", "length(text) AS n_chars"
    ).write.parquet(sf + "/documents.parquet")
    out = doc_chunk_overlap(spark, sf).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    c0 = sorted(by_doc[0], key=lambda r: r.chunk_idx)
    assert [r.n_tokens for r in c0] == [30, 30, 30, 15]
    words0 = rows[0][1].split(" ")
    for r in c0:
        start = r.chunk_idx * CHUNK_STRIDE
        assert r.chunk_text == " ".join(words0[start : start + CHUNK_TOKENS])
    # consecutive chunks overlap by CHUNK_TOKENS - CHUNK_STRIDE tokens
    assert c0[0].chunk_text.split(" ")[CHUNK_STRIDE:] == c0[1].chunk_text.split(" ")[:10]
    assert [r.n_tokens for r in by_doc[1]] == [3]          # only-chunk exemption
    assert [r.n_tokens for r in sorted(by_doc[2], key=lambda r: r.chunk_idx)] == [30, 24]
    assert all(r.n_tokens >= CHUNK_MIN_TAIL or r.chunk_idx == 0 for r in out)


def test_dedup_exact_normalized_catches_case_whitespace(spark, tmp_path):
    """Case- and whitespace-only variants must collapse to one hash;
    genuinely different texts must not."""
    from banking_streamprocessing_demos_spark.operators.dedup import dedup_exact_normalized

    rows = [
        (0, "Alpha Beta  Gamma"),
        (1, "  alpha beta gamma"),
        (2, "ALPHA  BETA GAMMA "),
        (3, "alpha beta delta"),
    ]
    sf = str(tmp_path)
    spark.createDataFrame(rows, "doc_id long, text string").selectExpr(
        "doc_id", "text", "'en' AS lang", "'t' AS source", "length(text) AS n_chars"
    ).write.parquet(sf + "/documents.parquet")
    out = dedup_exact_normalized(spark, sf).collect()
    assert len(out) == 2
    groups = {r.kept_doc_id: r.n_docs for r in out}
    assert groups == {0: 3, 3: 1}


def test_knn_graph_recall_vs_bruteforce(spark):
    """IVF-probed k-NN graph recall@5 against the exact graph: with 4 of
    16 cells probed per vector, recall must clear the same 0.25 floor as
    the IVF search (uniform synthetic vectors are the worst case)."""
    from banking_streamprocessing_demos_spark.operators.similarity import (
        KNN_K,
        sim_knn_graph,
        sim_topk,
    )
    from tests.conftest import SF_SMALL

    graph = {(r.query_id, r.neighbor_id) for r in sim_knn_graph(spark, SF_SMALL).collect()}
    # exact graph restricted to the sim_topk query set for a shared oracle
    exact = {(r.query_id, r.neighbor_id) for r in sim_topk(spark, SF_SMALL).collect()}
    graph_q = {(q, n) for q, n in graph if q < 5}
    assert len(graph_q) == len(exact) == 5 * KNN_K
    recall = len(exact & graph_q) / len(exact)
    assert recall >= 0.25, recall


def test_knn_graph_jl_prescreen_recall(spark):
    """The scale-path JL prescreen (rank_cells jl_shortlist — SCALE.md's
    remedy for the sqrt(N)-growing N x n_cells term) must clear the same
    recall floor as the exact full-dimension ranking, on the worst-case
    uniform synthetic vectors where JL distortion is largest relative to
    the true cosine gaps.  Forced on at the pinned 16-cell config with a
    shortlist of half the cells."""
    from banking_streamprocessing_demos_spark.operators.similarity import (
        IVF_PROBES,
        KNN_K,
        _dot,
        _normed,
        rank_cells,
        sim_topk,
    )
    from pyspark.sql import Window

    from tests.conftest import SF_SMALL

    exact = {(r.query_id, r.neighbor_id) for r in sim_topk(spark, SF_SMALL).collect()}
    n = _normed(spark, SF_SMALL)
    ranked = rank_cells(n, 16, keep=IVF_PROBES, jl_shortlist=8)
    assigned = (
        ranked.filter(F.col("rn") == 1)
        .select("vec_id", "cell_id")
        .join(n, "vec_id")
        .select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("v").alias("cv"),
            F.col("nrm").alias("cn"),
            "cell_id",
        )
    )
    qcells = ranked.select(F.col("vec_id").alias("query_id"), "cell_id").join(
        n.select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("nrm").alias("qn"),
        ),
        "query_id",
    )
    cand = qcells.join(assigned, "cell_id").filter(F.col("neighbor_id") != F.col("query_id"))
    scored = cand.withColumn("cosine", F.round(_dot("qv", "cv") / (F.col("qn") * F.col("cn")), 6))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    graph = {
        (r.query_id, r.neighbor_id)
        for r in scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= KNN_K)
        .select("query_id", "neighbor_id")
        .collect()
        if r.query_id < 5
    }
    recall = len(exact & graph) / len(exact)
    assert recall >= 0.25, recall


def test_containment_catches_embedded_doc(spark, tmp_path):
    """A short document quoted verbatim inside a long one must surface
    via containment (containment_a ~= 1.0) even when symmetric Jaccard
    stays far below its threshold — the case the operator exists for."""
    from banking_streamprocessing_demos_spark.operators.dedup import (
        JACCARD_TAU,
        dedup_ngram,
        text_containment,
    )

    short = " ".join(f"q{i}" for i in range(10))
    long = " ".join(f"p{i}" for i in range(80)) + " " + short + " " + " ".join(
        f"s{i}" for i in range(80)
    )
    rows = [(0, short), (1, long), (2, "totally unrelated words here friend")]
    sf = str(tmp_path)
    spark.createDataFrame(rows, "doc_id long, text string").selectExpr(
        "doc_id", "text", "'en' AS lang", "'t' AS source", "length(text) AS n_chars"
    ).write.parquet(sf + "/documents.parquet")

    cont = {(r.doc_a, r.doc_b): r for r in text_containment(spark, sf).collect()}
    assert (0, 1) in cont
    assert cont[(0, 1)].containment_a == 1.0       # short fully inside long
    assert cont[(0, 1)].containment_b < 0.1
    # symmetric Jaccard misses the same pair entirely
    jac = {(r.doc_a, r.doc_b) for r in dedup_ngram(spark, sf).collect()}
    assert (0, 1) not in jac
    assert all(k[0] != 2 and k[1] != 2 for k in cont)


def test_group_split_no_leakage(spark):
    """smp4_group_split's defining invariant: a source never spans two
    splits (group-aware assignment prevents near-dup train/test
    leakage), rates are roughly 80/10/10 over sources, and the
    assignment is deterministic across runs."""
    from banking_streamprocessing_demos_spark.operators.relational import smp4_group_split
    from tests.conftest import SF_SMALL

    out = smp4_group_split(spark, SF_SMALL)
    per_source = out.groupBy("source").agg(
        F.count_distinct("split").alias("n_splits")
    )
    assert per_source.filter("n_splits > 1").count() == 0
    again = {(r.doc_id, r.split) for r in smp4_group_split(spark, SF_SMALL).collect()}
    assert again == {(r.doc_id, r.split) for r in out.collect()}


def test_auto_cells_sizing():
    from banking_streamprocessing_demos_spark.operators.similarity import (
        IVF_CELLS,
        auto_cells,
    )

    assert auto_cells(500) == IVF_CELLS            # floor at the oracle config
    assert auto_cells(20_000) == 156               # 10x corpus -> ~10x cells
    assert auto_cells(2_000_000) == 15_625         # constant ~128/cell


def test_curriculum_pack_tier_order_and_contiguity(spark):
    """Curriculum packing invariants on real testdata: (1) only gate-
    passing docs appear; (2) offsets are an exclusive prefix sum of
    n_tokens in (tier, doc_id) order — the corpus is contiguous with no
    gaps; (3) every tier-0 document packs before every tier-1 document,
    etc. (the curriculum property)."""
    from banking_streamprocessing_demos_spark.operators.packing import (
        pipe_curriculum_pack,
    )
    from banking_streamprocessing_demos_spark.operators.text import pipe_quality_gate
    from tests.conftest import SF_SMALL

    out = sorted(
        pipe_curriculum_pack(spark, SF_SMALL).collect(),
        key=lambda r: (r.tier, r.doc_id),
    )
    assert out, "gate must pass at least one doc on the small fixture"
    passed = {
        r.doc_id for r in pipe_quality_gate(spark, SF_SMALL).filter("passed").collect()
    }
    assert {r.doc_id for r in out} == passed
    offset = 0
    prev_tier = 0
    for r in out:
        assert r.tier >= prev_tier
        prev_tier = r.tier
        assert r.start_offset == offset, (r.doc_id, r.start_offset, offset)
        assert r.start_seq == r.start_offset // 2048
        assert r.end_seq == (r.start_offset + r.n_tokens - 1) // 2048
        assert r.n_seqs == r.end_seq - r.start_seq + 1
        offset += r.n_tokens


def test_streaming_epoch_plan_matches_batch_policy(spark):
    """The streamed per-source totals must reproduce the batch
    pipe_epoch_plan repeat factors exactly (integer sums are order-
    independent, so ingest batching cannot perturb the policy)."""
    from banking_streamprocessing_demos_spark.operators.packing import pipe_epoch_plan
    from banking_streamprocessing_demos_spark.operators.streaming_queries import (
        streaming_epoch_plan_q,
    )
    from tests.conftest import SF_SMALL

    streamed = {
        r.source: (r.total_tokens, r.repeat_factor)
        for r in streaming_epoch_plan_q(spark, SF_SMALL).collect()
    }
    batch = {}
    for r in pipe_epoch_plan(spark, SF_SMALL).collect():
        batch.setdefault(r.source, r.repeat_factor)
    assert set(streamed) == set(batch)
    for src, (_tok, r_streamed) in streamed.items():
        assert r_streamed == batch[src], (src, r_streamed, batch[src])


def test_semantic_ivf_precision_and_recall(spark):
    """IVF-path semantic dedup: every co-clustered pair must be in the
    exact verifier's transitive closure (precision is structural — the
    in-join cosine verify), and recall over exact tau-pairs must clear
    the same 0.5 floor as the LSH path (cell-boundary splits cost some
    borderline pairs — the documented trade for candidate cost that
    stays constant per vector at any corpus size)."""
    from banking_streamprocessing_demos_spark.operators.dedup import (
        dedup_embedding,
        dedup_semantic_ivf,
    )
    from tests.conftest import SF_SMALL

    exact_pairs = {(r.vec_a, r.vec_b) for r in dedup_embedding(spark, SF_SMALL).collect()}
    out = dedup_semantic_ivf(spark, SF_SMALL).collect()
    clusters = {r.vec_id: r.cluster_id for r in out}
    if not exact_pairs:
        assert clusters == {}
        return
    # precision: union-find over the exact pair graph; co-clustered ⊆ closure
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in exact_pairs:
        parent[find(a)] = find(b)
    by_cluster: dict[int, list[int]] = {}
    for r in out:
        by_cluster.setdefault(r.cluster_id, []).append(r.vec_id)
    for members in by_cluster.values():
        roots = {find(m) for m in members}
        assert len(roots) == 1, (members, roots)
    recovered = sum(
        1
        for a, b in exact_pairs
        if a in clusters and b in clusters and clusters[a] == clusters[b]
    )
    assert recovered / len(exact_pairs) >= 0.5, (recovered, len(exact_pairs))


def test_exclusive_prefix_sum_tier_stride_ids(spark):
    """The curriculum key tier*2^40 + doc_id leaves astronomically sparse
    id space between tiers; the bucket decomposition must stay exact
    there (bucket ids far apart but totals/offsets pure integer math)."""
    from banking_streamprocessing_demos_spark.operators.packing import (
        CURR_TIER_STRIDE,
        exclusive_prefix_sum,
    )

    rows = []
    for tier in (0, 1, 2):
        for d in range(0, 40, 7):
            rows.append((tier * CURR_TIER_STRIDE + d, d % 5 + 1))
    df = spark.createDataFrame(rows, "id long, v long")
    expected = {}
    acc = 0
    for i, v in sorted(rows):
        expected[i] = acc
        acc += v
    for levels in (1, 3):
        got = {
            r.id: r.off
            for r in exclusive_prefix_sum(df, "id", "v", "off", levels=levels).collect()
        }
        assert got == expected, levels


def test_rank_cells_coarse_prescreen_recall(spark):
    """The two-level (coarse-group) prescreen — rank_cells' round-6
    remedy for the N x n_cells JL term — must track the flat JL
    prescreen closely: on worst-case uniform vectors at a 256-cell /
    16-shortlist config, the flat path keeps ~0.45 of the exact
    top-probes cells and the coarse level may cost only a few points
    on top of that (measured 0.40 vs 0.45; 0.67 agreement with flat).
    Floors pinned with margin below the measured values."""
    import banking_streamprocessing_demos_spark.operators.similarity as sim
    from banking_streamprocessing_demos_spark.operators.similarity import (
        IVF_PROBES,
        _normed,
        auto_jl_shortlist,
        rank_cells,
    )
    from tests.conftest import SF_SMALL

    n = _normed(spark, SF_SMALL)
    n_cells = 256
    sl = auto_jl_shortlist(n_cells, IVF_PROBES)
    exact = {(r.vec_id, r.cell_id) for r in rank_cells(n, n_cells, keep=IVF_PROBES).collect()}
    old_gate = sim.COARSE_MIN_CELLS
    try:
        # the production gate sits past the measured break-even boundary
        # (COARSE_MIN_CELLS = 4096); force both branches at 256 cells so
        # the recall contract is pinned on a runnable config
        sim.COARSE_MIN_CELLS = 256
        coarse = {
            (r.vec_id, r.cell_id)
            for r in rank_cells(n, n_cells, keep=IVF_PROBES, jl_shortlist=sl).collect()
        }
        sim.COARSE_MIN_CELLS = 10**9  # force the flat JL branch
        flat = {
            (r.vec_id, r.cell_id)
            for r in rank_cells(n, n_cells, keep=IVF_PROBES, jl_shortlist=sl).collect()
        }
    finally:
        sim.COARSE_MIN_CELLS = old_gate
    assert len(exact & coarse) / len(exact) >= 0.30
    assert len(flat & coarse) / len(flat) >= 0.55


def test_knn_graph_jl_candidate_recall(spark, tmp_path):
    """The round-6 compressed-domain candidate scoring (JL-16 in-join
    scores, exact rescore of the top KNN_RESCORE per query) must keep
    every HIGH-similarity neighbor: a planted near-duplicate
    (cos ~0.999) must appear in the scale-path graph in both
    directions.  Uniform-noise ranking overlap is separately ~0.6 on
    this worst-case data (all true cosines ~0 +- 0.12, where JL noise
    dominates); the contract that matters to the dedup/semantic
    pipeline is that real neighbors with real cosine gaps survive."""
    import numpy as np

    from banking_streamprocessing_demos_spark.operators.similarity import (
        IVF_PROBES,
        auto_jl_shortlist,
        sim_knn_graph,
    )

    rng = np.random.RandomState(7)
    base = rng.randn(500, 64)
    dups = base[:20] + 0.05 * rng.randn(20, 64)
    rows = [
        (i, [float(x) for x in v])
        for i, v in enumerate(np.vstack([base, dups]))
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    df.write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    assert auto_jl_shortlist(32, IVF_PROBES) is not None  # scale path engaged
    edges = {
        (r.query_id, r.neighbor_id)
        for r in sim_knn_graph(spark, str(tmp_path), n_cells=32).collect()
    }
    missed = [
        (i, 500 + i)
        for i in range(20)
        if (i, 500 + i) not in edges or (500 + i, i) not in edges
    ]
    assert not missed, missed


def test_boilerplate_strip_planted(spark, tmp_path):
    """The CCNet/RefinedWeb curation semantics on a planted corpus: a
    segment repeated across >= BP_MIN_DOCS documents is stripped from
    every one of them, unique content is untouched, and a document that
    is ALL boilerplate survives as an empty-text row (never silently
    dropped)."""
    from banking_streamprocessing_demos_spark.operators.text import (
        BP_MIN_DOCS,
        BP_SEG_WORDS,
        text_boilerplate_strip,
    )

    assert BP_SEG_WORDS == 4 and BP_MIN_DOCS == 3  # planted layout assumes these
    boiler = "nav1 nav2 nav3 nav4"  # aligned at segment 0 in every carrier
    uniq = {
        0: "a1 a2 a3 a4 a5 a6 a7 a8",
        1: "b1 b2 b3 b4 b5 b6 b7 b8",
        2: "c1 c2 c3 c4 c5 c6 c7 c8",
    }
    rows = [(i, f"{boiler} {u}") for i, u in uniq.items()]
    rows.append((3, boiler))  # all-boilerplate doc
    rows.append((4, "d1 d2 d3 d4 d5 d6 d7 d8"))  # no boilerplate at all
    sf = str(tmp_path)
    spark.createDataFrame(rows, "doc_id long, text string").selectExpr(
        "doc_id", "text", "'en' AS lang", "'t' AS source", "length(text) AS n_chars"
    ).write.parquet(sf + "/documents.parquet")

    out = {r.doc_id: r for r in text_boilerplate_strip(spark, sf).collect()}
    assert set(out) == {0, 1, 2, 3, 4}  # every doc survives
    for i, u in uniq.items():
        assert out[i].cleaned_text == u, out[i]
        assert out[i].n_segments == 3 and out[i].n_removed == 1
    assert out[3].cleaned_text == "" and out[3].n_removed == 1
    assert out[4].cleaned_text == rows[4][1] and out[4].n_removed == 0


def test_keep_best_one_representative_per_cluster(spark, tmp_path):
    """Cluster-representative selection: exactly one survivor per
    near-dup cluster — the highest word count (doc_id tiebreak) — and
    singletons survive as their own cluster."""
    from banking_streamprocessing_demos_spark.operators.dedup import dedup_keep_best

    base = " ".join(f"w{i}" for i in range(40))
    rows = [
        (0, base),                      # clone group {0,1,2}: 2 is longest
        (1, base + " extra1"),
        (2, base + " extra2 extra3"),
        (7, "lone words that match nothing else at all"),  # singleton
    ]
    sf = str(tmp_path)
    spark.createDataFrame(rows, "doc_id long, text string").selectExpr(
        "doc_id", "text", "'en' AS lang", "'t' AS source", "length(text) AS n_chars"
    ).write.parquet(sf + "/documents.parquet")

    out = {r.doc_id: r for r in dedup_keep_best(spark, sf).collect()}
    assert set(out) == {2, 7}
    assert out[2].cluster_id == 0 and out[2].cluster_size == 3
    assert out[2].word_count == 42
    assert out[7].cluster_id == 7 and out[7].cluster_size == 1


def test_bpe_merges_planted(spark, tmp_path):
    """Hand-computable BPE fit: vocab {aaab x3, ab x2}.  Pair counts
    round 1: (a,a)=6, (a,b)=5 -> merge 'aa'; the greedy left-to-right
    fold must give aaab -> [aa, a, b] (no re-merge of the fresh 'aa'
    with the following 'a').  Round 2: (a,b)=5 beats (aa,a)=3.  Round 3
    merges the whole word; then no pairs remain, so the fit STOPS at 3
    rules even though BPE_MERGES allows more."""
    from banking_streamprocessing_demos_spark.operators.text import pipe_bpe_merges

    sf = str(tmp_path)
    spark.createDataFrame(
        [(0, "aaab aaab aaab ab ab")], "doc_id long, text string"
    ).selectExpr(
        "doc_id", "text", "'en' AS lang", "'t' AS source", "length(text) AS n_chars"
    ).write.parquet(sf + "/documents.parquet")

    rows = [
        (r.merge_rank, r.token_a, r.token_b, r.merged, r.pair_count)
        for r in pipe_bpe_merges(spark, sf).orderBy("merge_rank").collect()
    ]
    assert rows == [
        (1, "a", "a", "aa", 6),
        (2, "a", "b", "ab", 5),
        (3, "aa", "ab", "aaab", 3),
    ]


def test_bpe_encode_consistent_with_fit(spark, tmp_path):
    """Encoding under the fitted tokenizer: on the planted corpus the
    3 learned merges collapse every word to ONE subword token, and on
    any corpus the subword count is bounded by chars-per-word below and
    words above."""
    from banking_streamprocessing_demos_spark.operators.text import pipe_bpe_encode

    sf = str(tmp_path)
    spark.createDataFrame(
        [(0, "aaab aaab aaab ab ab")], "doc_id long, text string"
    ).selectExpr(
        "doc_id", "text", "'en' AS lang", "'t' AS source", "length(text) AS n_chars"
    ).write.parquet(sf + "/documents.parquet")
    row = pipe_bpe_encode(spark, sf).collect()[0]
    assert (row.n_words, row.n_tokens_bpe_fit) == (5, 5)

    out = pipe_bpe_encode(spark, SF_SMALL).collect()
    assert out
    for r in out:
        assert r.n_words <= r.n_tokens_bpe_fit  # merges never go below 1/word


def test_bpe_fit_matches_textbook_reference(spark):
    """Independent check of the merge-learning algorithm: the DuckDB
    oracle replays the SAME greedy fold as the Spark side, so a
    systematic fold bug would pass both.  This reference is the
    textbook Sennrich algorithm (index-scan merge application, not a
    fold) implemented in plain Python over the corpus word frequencies
    — rules and counts must agree exactly."""
    import duckdb

    from banking_streamprocessing_demos_spark.operators.text import (
        BPE_MERGES,
        pipe_bpe_merges,
    )

    con = duckdb.connect()
    freqs = dict(
        con.execute(
            f"SELECT word, COUNT(*) FROM (SELECT UNNEST(string_split(text, ' ')) AS word "
            f"FROM '{SF_SMALL}/documents.parquet') WHERE length(word) > 0 GROUP BY word"
        ).fetchall()
    )
    toks = {w: list(w) for w in freqs}
    expected = []
    for rank in range(1, BPE_MERGES + 1):
        counts: dict = {}
        for w, f in freqs.items():
            t = toks[w]
            for i in range(len(t) - 1):
                counts[(t[i], t[i + 1])] = counts.get((t[i], t[i + 1]), 0) + f
        if not counts:
            break
        (a, b), c = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        expected.append((rank, a, b, a + b, c))
        for w, t in toks.items():
            out, i = [], 0
            while i < len(t):
                if i + 1 < len(t) and t[i] == a and t[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(t[i])
                    i += 1
            toks[w] = out
    got = [
        (r.merge_rank, r.token_a, r.token_b, r.merged, r.pair_count)
        for r in pipe_bpe_merges(spark, SF_SMALL).orderBy("merge_rank").collect()
    ]
    assert got == expected


def test_bpe_oracle_parity_when_merges_exhaust(spark, tmp_path):
    """Cross-engine parity on the DEGENERATE corpus where the fit stops
    after 3 merges (< BPE_MERGES): the oracle's later stages must carry
    the fitted vocab forward unchanged (LEFT JOIN ON TRUE + CASE), not
    empty out — a CROSS JOIN against an empty b{i} once zeroed the
    encode oracle while the Spark side kept its break-and-keep vocab."""
    import duckdb

    from banking_streamprocessing_demos_spark.operators.text import (
        _bpe_encode_oracle,
        _bpe_oracle,
        pipe_bpe_encode,
        pipe_bpe_merges,
    )

    sf = str(tmp_path)
    spark.createDataFrame(
        [(0, "aaab aaab aaab ab ab")], "doc_id long, text string"
    ).selectExpr(
        "doc_id", "text", "'en' AS lang", "'t' AS source", "length(text) AS n_chars"
    ).write.parquet(sf + "/documents.parquet")

    con = duckdb.connect()
    # Spark writes the table as a parquet DIRECTORY; glob its part files
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet/*.parquet'"
    )
    oracle_merges = con.execute(
        f"SELECT * FROM ({_bpe_oracle()}) ORDER BY merge_rank"
    ).fetchall()
    spark_merges = [
        tuple(r)
        for r in pipe_bpe_merges(spark, sf).orderBy("merge_rank").collect()
    ]
    assert [tuple(r) for r in oracle_merges] == spark_merges
    assert len(spark_merges) == 3  # genuinely exhausted early

    oracle_enc = con.execute(_bpe_encode_oracle()).fetchall()
    spark_enc = [tuple(r) for r in pipe_bpe_encode(spark, sf).collect()]
    assert [tuple(r) for r in oracle_enc] == spark_enc == [(0, 5, 5)]


def test_bpe_batched_fit_spark_properties(spark):
    """The batched fit (Spark side): (a) its first round's rank-1 rule
    IS the sequential fit's first merge (both are the global weighted
    argmax over the seed vocab); (b) every round's accepted rules are
    token-disjoint; (c) the batched fit learns at least as many merges
    as it has rounds (rank-1 is always accepted) while spending one
    driver round-trip per ROUND, not per merge."""
    from banking_streamprocessing_demos_spark.operators.text import (
        BPE_BATCH_ROUNDS,
        _bpe_fit,
        _bpe_fit_batched,
    )

    rules, _vocab = _bpe_fit_batched(spark, SF_SMALL)
    seq_merges, _ = _bpe_fit(spark, SF_SMALL)
    assert rules, "batched fit learned nothing"
    rnd1 = [r for r in rules if r[0] == 1]
    # (rank, a, b, merged, count) vs (round, rn, a, b, merged, count)
    assert (rnd1[0][2], rnd1[0][3], rnd1[0][5]) == (
        seq_merges[0][1], seq_merges[0][2], seq_merges[0][4]
    )
    by_round: dict[int, set] = {}
    for rnd, _rn, a, b, _m, _c in rules:
        seen = by_round.setdefault(rnd, set())
        assert a not in seen and b not in seen
        seen.update((a, b))
    assert len(by_round) <= BPE_BATCH_ROUNDS
    assert len(rules) >= len(by_round)


def test_hard_negatives_are_hardest_wrong_label(spark):
    """emb_hard_negatives invariants vs a brute-force reference: every
    returned negative carries a label different from its anchor's, the
    reported cosine is the exact pairwise cosine, and the mined set
    recovers most of the true top-5 different-label neighbors (IVF
    probing bounds candidates, so recall < 1.0 is possible but must
    stay high — same contract as the knn graph)."""
    import numpy as np

    from banking_streamprocessing_demos_spark.operators.similarity import (
        HN_K,
        emb_hard_negatives,
    )
    from banking_streamprocessing_demos_spark.sources.tables import load_table

    rows = emb_hard_negatives(spark, SF_SMALL).collect()
    assert rows
    emb = {
        r["vec_id"]: (np.array(r["embedding"], dtype=np.float64), r["label"])
        for r in load_table(spark, SF_SMALL, "embeddings").collect()
    }
    for r in rows:
        assert r["query_label"] != r["negative_label"]
        qv, ql = emb[r["query_id"]]
        nv, nl = emb[r["negative_id"]]
        assert ql == r["query_label"] and nl == r["negative_label"]
        want = float(qv @ nv / (np.linalg.norm(qv) * np.linalg.norm(nv)))
        assert abs(r["cosine"] - round(want, 6)) < 1e-6, (r, want)
    # brute-force different-label top-HN_K recall
    ids = sorted(emb)
    mat = np.stack([emb[i][0] for i in ids])
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    labels = np.array([emb[i][1] for i in ids])
    got: dict[int, set[int]] = {}
    for r in rows:
        got.setdefault(r["query_id"], set()).add(r["negative_id"])
    hits = total = 0
    sims = mat @ mat.T
    for qi, q in enumerate(ids):
        mask = labels != labels[qi]
        order = [
            ids[j]
            for j in np.argsort(-sims[qi])
            if mask[j] and ids[j] != q
        ][:HN_K]
        total += len(order)
        hits += len(set(order) & got.get(q, set()))
    assert total and hits / total >= 0.6, hits / total


def test_temperature_mix_weights_flatten_toward_uniform(spark):
    """The alpha<1 property: after reweighting, effective domain token
    shares sit strictly BETWEEN the empirical shares and uniform —
    rare domains up-weighted (w>1 for below-average domains), dominant
    ones down-weighted — and the expected token budget is preserved
    (sum n_i * w_i == N within 6dp-weight rounding)."""
    from banking_streamprocessing_demos_spark.operators.packing import (
        pipe_temperature_mix,
    )

    docs = (
        spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .select("lang", F.size(F.split("text", " ")).alias("dl"))
        .groupBy("lang")
        .agg(F.sum("dl").alias("n"))
        .collect()
    )
    n_tok = {r["lang"]: r["n"] for r in docs}
    total = sum(n_tok.values())
    weights = {
        r["domain"]: r["weight"]
        for r in pipe_temperature_mix(spark, SF_SMALL)
        .select("domain", "weight")
        .dropDuplicates(["domain"])
        .collect()
    }
    assert set(weights) == set(n_tok)
    mean_share = 1 / len(n_tok)
    for lang, w in weights.items():
        share = n_tok[lang] / total
        if share < mean_share:
            assert w > 1.0, (lang, share, w)
        elif share > mean_share:
            assert w < 1.0, (lang, share, w)
    budget = sum(n_tok[lang] * w for lang, w in weights.items())
    assert abs(budget - total) / total < 0.01, (budget, total)


def test_temperature_mix_replica_counts_follow_weights(spark):
    """Per-domain replica counts land within the deterministic
    Bernoulli construction's bounds: for per-doc multiplier w, the
    count over n docs is between n*floor(w) and n*ceil(w)."""
    import math

    from banking_streamprocessing_demos_spark.operators.packing import (
        pipe_temperature_mix,
    )

    out = pipe_temperature_mix(spark, SF_SMALL)
    per_dom = {
        r["domain"]: (r["n_rep"], r["w"])
        for r in out.groupBy("domain")
        .agg(F.count("*").alias("n_rep"), F.first("weight").alias("w"))
        .collect()
    }
    n_docs = {
        r["lang"]: r["n"]
        for r in spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    for dom, (n_rep, w) in per_dom.items():
        lo = n_docs[dom] * math.floor(w)
        hi = n_docs[dom] * math.ceil(w)
        assert lo <= n_rep <= hi, (dom, n_rep, w, lo, hi)


def test_streaming_tmix_multipliers_reconcile_with_batch(spark):
    """The streamed per-(window, domain) replica totals, summed over
    windows for ORIGINAL docs only, must equal the batch
    materialization's per-domain replica counts — same frozen weights,
    same seed, bit-identical multipliers."""
    from collections import defaultdict

    from banking_streamprocessing_demos_spark.operators.packing import (
        pipe_temperature_mix,
    )
    from banking_streamprocessing_demos_spark.operators.streaming_queries import (
        DUP_OFFSET,
        INGEST_BASE_MS,
        streaming_temperature_mix_q,
    )

    batch = defaultdict(int)
    for r in pipe_temperature_mix(spark, SF_SMALL).collect():
        batch[r["domain"]] += 1
    # original docs occupy windows strictly below the dup-offset window
    cutoff = INGEST_BASE_MS + (DUP_OFFSET // 60) * 60000
    streamed = defaultdict(int)
    for r in streaming_temperature_mix_q(spark, SF_SMALL).collect():
        if r["window_start_ms"] < cutoff:
            streamed[r["domain"]] += r["n_replicas"]
    assert dict(streamed) == dict(batch)


def test_assign_cells_inrow_matches_batch_assign(spark):
    """The ingest-time in-row argmax (one broadcast centroid-array row,
    transform + array_max per vector — the measured 0.597 ms/vector
    incremental-maintenance path, SCALE.md) must
    assign every vector to exactly the cell the batch rank_cells path
    picks, at the oracle floor AND at a larger cell count (where the
    in-row shape is the one that scales)."""
    from banking_streamprocessing_demos_spark.operators.similarity import (
        _normed,
        assign_cells,
        assign_cells_inrow,
    )

    n = _normed(spark, SF_SMALL)
    for n_cells in (16, 32):
        batch = {
            r["vec_id"]: r["cell_id"]
            for r in assign_cells(n, n_cells).select("vec_id", "cell_id").collect()
        }
        inrow = {
            r["vec_id"]: r["cell_id"]
            for r in assign_cells_inrow(n, n_cells).select("vec_id", "cell_id").collect()
        }
        assert batch == inrow, n_cells


def test_assign_cells_arrow_matches_batch_assign(spark):
    """The BLAS mapInArrow assignment (round-11 VERDICT #6 experiment:
    one numpy matmul per Arrow batch against the driver-collected
    bounded centroid matrix) must agree with the batch rank_cells path
    vector-for-vector.  BLAS associates sums differently than the SQL
    fold, so a last-ULP near-tie flip is possible in principle; on the
    test corpus agreement is exact — and if a flip ever appears, the
    fallback assertion proves it IS a near-tie (cosines within 1e-9),
    not a wrong assignment."""
    from banking_streamprocessing_demos_spark.operators.similarity import (
        _centroids,
        _normed,
        assign_cells,
        assign_cells_arrow,
    )

    from banking_streamprocessing_demos_spark.operators.similarity import (
        rank_cells,
        rank_cells_arrow,
    )

    n = _normed(spark, SF_SMALL)
    # exact top-keep parity: the arrow ranking must reproduce the SQL
    # ranking ROW-FOR-ROW (same (vec_id, rn) -> cell_id) at the oracle
    # floor and at a post-gate cell count, for argmax and multi-probe
    for n_cells, keep in ((16, 1), (64, 1), (64, 4)):
        sql_rank = {
            (r["vec_id"], r["rn"]): r["cell_id"]
            for r in rank_cells(n, n_cells, keep=keep, engine="sql").collect()
        }
        arw_rank = {
            (r["vec_id"], r["rn"]): r["cell_id"]
            for r in rank_cells_arrow(n, n_cells, keep=keep).collect()
        }
        assert sql_rank == arw_rank, (n_cells, keep)
    # and the assign wrappers agree end-to-end (the original pin)
    for n_cells in (16, 64):
        batch = {
            r["vec_id"]: r["cell_id"]
            for r in assign_cells(n, n_cells).select("vec_id", "cell_id").collect()
        }
        arrow = {
            r["vec_id"]: r["cell_id"]
            for r in assign_cells_arrow(n, n_cells).select("vec_id", "cell_id").collect()
        }
        assert set(batch) == set(arrow)
        diffs = {v for v in batch if batch[v] != arrow[v]}
        if diffs:  # near-tie escape hatch: must be a ULP tie, never a miss
            import numpy as np

            cents = {r["cell_id"]: (np.array(r["cv"]), r["cn"])
                     for r in _centroids(n, n_cells).collect()}
            vecs = {r["vec_id"]: (np.array(r["v"]), r["nrm"])
                    for r in n.select("vec_id", "v", "nrm").collect()}
            for vid in diffs:
                v, nrm = vecs[vid]
                cos = {c: float(v @ cv) / (nrm * cn) for c, (cv, cn) in cents.items()}
                assert abs(cos[batch[vid]] - cos[arrow[vid]]) < 1e-9, (
                    vid, batch[vid], arrow[vid])
            assert len(diffs) <= max(1, len(batch) // 1000), len(diffs)


def test_perplexity_buckets_are_valid_terciles(spark):
    """CCNet bucket contract per language: tercile sizes differ by at
    most 1 with earlier buckets taking the extras (NTILE), and every
    head score >= every middle score >= every tail score."""
    from collections import defaultdict

    from banking_streamprocessing_demos_spark.operators.text import (
        pipe_perplexity_buckets,
    )

    rows = pipe_perplexity_buckets(spark, SF_SMALL).collect()
    assert rows
    by_lang = defaultdict(lambda: defaultdict(list))
    for r in rows:
        by_lang[r["lang"]][r["bucket"]].append(r["avg_logprob"])
    for lang, buckets in by_lang.items():
        sizes = [len(buckets.get(b, [])) for b in ("head", "middle", "tail")]
        assert max(sizes) - min(sizes) <= 1, (lang, sizes)
        assert sorted(sizes, reverse=True) == sizes, (lang, sizes)  # NTILE extras go early
        if buckets.get("head") and buckets.get("middle"):
            assert min(buckets["head"]) >= max(buckets["middle"]), lang
        if buckets.get("middle") and buckets.get("tail"):
            assert min(buckets["middle"]) >= max(buckets["tail"]), lang


def test_perplexity_sampled_thresholds_agree_with_exact(spark):
    """Sampled-threshold twin contract (round-11): (1) every document
    gets exactly one bucket; (2) within a language the bucket is a
    monotone function of the score (head scores >= middle >= tail —
    true by construction of the compare, asserted anyway); (3) the
    sampled assignment agrees with the exact NTILE tercile on >= 90%
    of documents (the CCNet trade: boundary exactness for a
    shuffle-free assignment).  The 90% floor is the pinned form of the
    SCALE.md boundary-agreement measurement."""
    from banking_streamprocessing_demos_spark.operators.text import (
        pipe_perplexity_buckets,
        pipe_perplexity_buckets_sampled,
    )

    exact = {
        r["doc_id"]: r["bucket"]
        for r in pipe_perplexity_buckets(spark, SF_SMALL).collect()
    }
    rows = pipe_perplexity_buckets_sampled(spark, SF_SMALL).collect()
    assert rows and len(rows) == len(exact)
    from collections import defaultdict

    by_lang = defaultdict(lambda: defaultdict(list))
    for r in rows:
        by_lang[r["lang"]][r["bucket"]].append(r["avg_logprob"])
    for lang, buckets in by_lang.items():
        if buckets.get("head") and buckets.get("middle"):
            assert min(buckets["head"]) >= max(buckets["middle"]), lang
        if buckets.get("middle") and buckets.get("tail"):
            assert min(buckets["middle"]) >= max(buckets["tail"]), lang
    agree = sum(1 for r in rows if exact[r["doc_id"]] == r["bucket"])
    assert agree / len(rows) >= 0.90, f"agreement {agree}/{len(rows)}"


def test_dsir_weights_prefer_target_language(spark):
    """The DSIR discriminative property: documents drawn from the
    target distribution (lang == DSIR_TARGET_LANG) must score a higher
    MEAN importance log-weight than the rest of the corpus — that is
    the entire point of the estimator (Xie et al. 2023, Eq. 2)."""
    from banking_streamprocessing_demos_spark.operators.text import (
        DSIR_TARGET_LANG,
        pipe_dsir_weights,
    )
    from banking_streamprocessing_demos_spark.sources.tables import load_table

    lang = {
        r["doc_id"]: r["lang"]
        for r in load_table(spark, SF_SMALL, "documents").select("doc_id", "lang").collect()
    }
    rows = pipe_dsir_weights(spark, SF_SMALL).collect()
    assert rows
    tgt = [r["dsir_logw"] / r["n_feats"] for r in rows if lang[r["doc_id"]] == DSIR_TARGET_LANG]
    rest = [r["dsir_logw"] / r["n_feats"] for r in rows if lang[r["doc_id"]] != DSIR_TARGET_LANG]
    assert tgt and rest
    assert sum(tgt) / len(tgt) > sum(rest) / len(rest)


def test_dsir_feature_counts_reconcile_with_bigrams(spark):
    """n_feats per doc == the document's bigram count (every bigram
    hashes into SOME bucket; nothing is dropped by the feature map)."""
    from banking_streamprocessing_demos_spark.operators.text import pipe_dsir_weights
    from banking_streamprocessing_demos_spark.sources.tables import load_table

    n_bigrams = {
        r["doc_id"]: r["nb"]
        for r in load_table(spark, SF_SMALL, "documents")
        .select("doc_id", (F.size(F.split("text", " ")) - 1).alias("nb"))
        .filter(F.col("nb") >= 1)
        .collect()
    }
    got = {r["doc_id"]: r["n_feats"] for r in pipe_dsir_weights(spark, SF_SMALL).collect()}
    assert got == n_bigrams


def test_streaming_dsir_gate_matches_batch_scores(spark):
    """The frozen-model streaming gate must score ORIGINAL arrivals
    exactly like the batch operator (same corpus = same models), and a
    late re-ingest must score exactly like its source document."""
    from banking_streamprocessing_demos_spark.operators.streaming_queries import (
        DUP_OFFSET,
        streaming_dsir_gate_q,
    )
    from banking_streamprocessing_demos_spark.operators.text import pipe_dsir_weights

    batch = {
        r["doc_id"]: (r["n_feats"], r["dsir_logw"])
        for r in pipe_dsir_weights(spark, SF_SMALL).collect()
    }
    streamed = streaming_dsir_gate_q(spark, SF_SMALL).collect()
    assert streamed
    for r in streamed:
        src = r["doc_id"] if r["doc_id"] < DUP_OFFSET else r["doc_id"] - DUP_OFFSET
        assert (r["n_feats"], r["dsir_logw"]) == batch[src], r
        # the gate decision is the tau-mean rule, restated independently
        assert r["kept"] == (r["dsir_logw"] >= 0.0), r


def test_streaming_dp_release_noise_bounded_per_cohort(spark):
    """Per-cohort DP release: every (window, class) released count is
    within the bounded-noise band of the cohort's TRUE count, and the
    window-keyed draws are replay-identical."""
    from banking_streamprocessing_demos_spark.operators.privacy import DP_NOISE_CAP
    from banking_streamprocessing_demos_spark.operators.streaming_queries import (
        INGEST_BASE_MS,
        streaming_dp_release_q,
    )
    from banking_streamprocessing_demos_spark.sources.tables import load_table

    true = {
        (r["w"], r["nation"], r["segment"]): r["n"]
        for r in load_table(spark, SF_SMALL, "customer")
        .groupBy(
            (F.lit(INGEST_BASE_MS) + (F.col("c_custkey") / 60).cast("long") * 60000).alias("w"),
            F.col("c_nationkey").cast("long").alias("nation"),
            F.col("c_mktsegment").alias("segment"),
        )
        .agg(F.count("*").alias("n"))
        .collect()
    }
    rel = {
        (r["window_start_ms"], r["nation"], r["segment"]): r["released_count"]
        for r in streaming_dp_release_q(spark, SF_SMALL).collect()
    }
    assert set(rel) == set(true)
    diffs = [rel[k] - n for k, n in true.items()]
    assert all(rel[k] >= 0 for k in rel)
    assert all(abs(d) <= DP_NOISE_CAP or rel[k] == 0 for k, d in zip(true, diffs))
    assert any(d != 0 for d in diffs)


def test_dsir_resample_prefers_heavy_weights(spark):
    """Gumbel-max property, deterministically checkable: the selected
    sample's mean log-weight must exceed the corpus mean (selection is
    proportional to the importance weight), and the sample must be
    exactly DSIR_SAMPLE_K distinct docs ranked by key."""
    from banking_streamprocessing_demos_spark.operators.text import (
        DSIR_SAMPLE_K,
        pipe_dsir_resample,
        pipe_dsir_weights,
    )

    all_w = {r["doc_id"]: r["dsir_logw"] for r in pipe_dsir_weights(spark, SF_SMALL).collect()}
    sample = pipe_dsir_resample(spark, SF_SMALL).collect()
    assert len(sample) == DSIR_SAMPLE_K
    assert len({r["doc_id"] for r in sample}) == DSIR_SAMPLE_K
    keys = [r["gumbel_key"] for r in sorted(sample, key=lambda r: r["rank"])]
    assert keys == sorted(keys, reverse=True)
    mean_sample = sum(all_w[r["doc_id"]] for r in sample) / len(sample)
    mean_all = sum(all_w.values()) / len(all_w)
    assert mean_sample > mean_all


def test_streaming_ppl_gate_matches_batch_and_is_idempotent(spark):
    """Frozen-model contract of the ingest labeler: (1) every ORIGINAL
    document's (n_bigrams, avg_logprob, bucket) equals the batch
    sampled-threshold twin's labeling (and the LM score equals
    text_bigram_lm_score — the frozen model reproduces the batch model
    on its own corpus); (2) the every-10th-doc re-ingest copies score
    and label IDENTICALLY to their originals (frozen models are
    idempotent across arrivals)."""
    from banking_streamprocessing_demos_spark.operators.streaming_queries import (
        DUP_OFFSET,
        streaming_ppl_gate_q,
    )
    from banking_streamprocessing_demos_spark.operators.text import (
        pipe_perplexity_buckets_sampled,
        text_bigram_lm_score,
    )

    batch = {
        r["doc_id"]: (r["avg_logprob"], r["bucket"])
        for r in pipe_perplexity_buckets_sampled(spark, SF_SMALL).collect()
    }
    lm = {
        r["doc_id"]: (r["n_bigrams"], r["avg_logprob"])
        for r in text_bigram_lm_score(spark, SF_SMALL).collect()
    }
    rows = {
        r["doc_id"]: (r["n_bigrams"], r["avg_logprob"], r["bucket"])
        for r in streaming_ppl_gate_q(spark, SF_SMALL).collect()
    }
    originals = {d for d in rows if d < DUP_OFFSET}
    assert originals == set(batch)  # same scoreable population
    for d in originals:
        nb, alp, bucket = rows[d]
        assert (alp, bucket) == batch[d], d
        assert (nb, alp) == lm[d], d
    dups = {d for d in rows if d >= DUP_OFFSET}
    assert dups  # the replay planted them
    for d in dups:
        assert rows[d] == rows[d - DUP_OFFSET], d


def test_gopher_rules_match_independent_reference(spark):
    """Rule battery vs a plain-Python recomputation over the raw text
    (the two-engines-same-wrong-formula guard), plus the conjunction
    contract and a both-classes sanity check."""
    from banking_streamprocessing_demos_spark.operators.text import (
        GOPHER_MAX_MEAN_WLEN,
        GOPHER_MAX_SYMBOL_RATIO,
        GOPHER_MAX_WORDS,
        GOPHER_MIN_ALPHA_RATIO,
        GOPHER_MIN_MEAN_WLEN,
        GOPHER_MIN_STOPWORDS,
        GOPHER_MIN_WORDS,
        STOPWORDS,
        pipe_gopher_rules,
    )
    from banking_streamprocessing_demos_spark.sources.tables import load_table

    texts = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, SF_SMALL, "documents").select("doc_id", "text").collect()
    }
    rows = pipe_gopher_rules(spark, SF_SMALL).collect()
    assert len(rows) == len(texts)
    import re

    for r in rows:
        words = texts[r["doc_id"]].split(" ")
        wc = len(words)
        assert r["word_count"] == wc
        mean_wlen = sum(len(w) for w in words) / wc
        assert abs(r["mean_word_len"] - mean_wlen) < 1e-6
        t = texts[r["doc_id"]]
        sym = (t.count("#") + t.count("...")) / wc
        assert abs(r["symbol_ratio"] - sym) < 1e-6
        alpha = sum(1 for w in words if re.search("[a-z]", w)) / wc
        assert abs(r["alpha_word_ratio"] - alpha) < 1e-6
        stop = sum(1 for w in words if w in STOPWORDS)
        assert r["stopword_hits"] == stop, (r["doc_id"], stop, r["stopword_hits"])
        want = {
            "ok_word_count": GOPHER_MIN_WORDS <= wc <= GOPHER_MAX_WORDS,
            "ok_mean_word_len": GOPHER_MIN_MEAN_WLEN <= mean_wlen <= GOPHER_MAX_MEAN_WLEN,
            "ok_symbol_ratio": sym <= GOPHER_MAX_SYMBOL_RATIO,
            "ok_alpha_ratio": alpha >= GOPHER_MIN_ALPHA_RATIO,
            "ok_stopwords": stop >= GOPHER_MIN_STOPWORDS,
        }
        for k, v in want.items():
            assert r[k] == v, (r["doc_id"], k)
        assert r["passed"] == all(want.values()), r["doc_id"]
    passed = sum(1 for r in rows if r["passed"])
    assert 0 < passed < len(rows)  # the thresholds actually discriminate


def test_source_cap_decision_table(spark):
    """pipe_source_cap contract: every document appears exactly once,
    within-source ranks are the contiguous 1..group_size sequence, the
    kept count per source is min(SOURCE_CAP, group size), and the
    selection replays the seeded md5 order (independent recompute)."""
    import hashlib
    from collections import defaultdict

    from banking_streamprocessing_demos_spark.operators.packing import (
        SOURCE_CAP,
        SOURCE_CAP_SEED,
        pipe_source_cap,
    )
    from banking_streamprocessing_demos_spark.sources.tables import load_table

    docs = defaultdict(list)
    for r in load_table(spark, SF_SMALL, "documents").select("doc_id", "source").collect():
        docs[r["source"]].append(r["doc_id"])
    rows = pipe_source_cap(spark, SF_SMALL).collect()
    assert len(rows) == sum(len(v) for v in docs.values())
    by_src = defaultdict(dict)
    for r in rows:
        by_src[r["source"]][r["doc_id"]] = (r["src_rank"], r["kept"])
    for src, members in docs.items():
        got = by_src[src]
        assert set(got) == set(members)
        ranks = sorted(rk for rk, _ in got.values())
        assert ranks == list(range(1, len(members) + 1))
        kept = sum(1 for _, k in got.values() if k)
        assert kept == min(SOURCE_CAP, len(members))
        # independent recompute of the seeded order
        want = sorted(
            members,
            key=lambda d: (
                hashlib.md5(f"{SOURCE_CAP_SEED}-{d}".encode()).hexdigest(),
                d,
            ),
        )
        for i, d in enumerate(want, start=1):
            assert got[d] == (i, i <= SOURCE_CAP), (src, d)


def test_streaming_source_cap_state_carries_across_batches(spark, tmp_path):
    """The ONLINE cap's per-source counter must survive micro-batch
    boundaries: a multi-file replay processed one file per trigger
    (maxFilesPerTrigger=1) must assign the same arrival-order ranks as
    the single-batch run — rank = global arrival position, never
    restarting per batch."""
    from banking_streamprocessing_demos_spark.operators.packing import SOURCE_CAP
    from banking_streamprocessing_demos_spark.operators.streaming_queries import (
        source_cap_stream,
    )
    from banking_streamprocessing_demos_spark.streaming.jobs import run_to_memory

    n_docs, n_files = 3 * SOURCE_CAP, 5
    base = 1_700_000_100_000
    path = str(tmp_path / "src")
    per = n_docs // n_files
    for f in range(n_files):
        spark.createDataFrame(
            [
                (i, "only", base + i * 1000)
                for i in range(f * per, (f + 1) * per)
            ],
            "doc_id long, source string, ts_ms long",
        ).selectExpr("doc_id", "source", "timestamp_millis(ts_ms) AS ingest_ts").coalesce(
            1
        ).write.mode("append").parquet(path)

    stream = (
        spark.readStream.schema("doc_id long, source string, ingest_ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    got = {
        r["doc_id"]: (r["src_rank"], r["kept"])
        for r in run_to_memory(source_cap_stream(stream)).collect()
    }
    assert len(got) == n_docs
    for d in range(n_docs):
        assert got[d] == (d + 1, d + 1 <= SOURCE_CAP), (d, got[d])


def test_mm_align_drops_exactly_planted_mismatches(spark):
    """mm_text_image_align contract (the LAION-gate recall pin): every
    PLANTED mis-captioned pair (caption_id % MM_ALIGN_EVERY ==
    MM_ALIGN_RESIDUE — shifted onto a different image) is dropped, and
    every true pair is kept; the score gap between the worst true pair
    and the best planted pair is structural (>0.5), not a boundary
    graze."""
    from banking_streamprocessing_demos_spark.operators.multimodal import (
        MM_ALIGN_EVERY,
        MM_ALIGN_RESIDUE,
        mm_text_image_align,
    )

    rows = mm_text_image_align(spark, SF_SMALL).collect()
    assert rows
    planted = [r for r in rows if r.caption_id % MM_ALIGN_EVERY == MM_ALIGN_RESIDUE]
    true_pairs = [r for r in rows if r.caption_id % MM_ALIGN_EVERY != MM_ALIGN_RESIDUE]
    assert planted and true_pairs
    # planted captions actually point at a DIFFERENT image
    assert all(r.image_id != r.caption_id for r in planted)
    assert all(r.image_id == r.caption_id for r in true_pairs)
    # perfect separation on the fixture: recall of the gate is exact
    assert all(not r.kept for r in planted)
    assert all(r.kept for r in true_pairs)
    gap = min(r.align_cos for r in true_pairs) - max(r.align_cos for r in planted)
    assert gap > 0.5, gap


def test_ivf_assign_stream_arrow_matches_batch(spark, tmp_path):
    """The streaming ingest-assignment route (ivf_assign_stream_arrow)
    must reproduce the batch rank_cells_arrow assignment exactly — the
    same kernel closed over the same frozen quantizer, driven through a
    real availableNow run (round-12 adoption, VERDICT r11 #3)."""
    from pyspark.sql import functions as F

    from banking_streamprocessing_demos_spark.operators.similarity import (
        _centroids,
        _normed,
        rank_cells_arrow,
    )
    from banking_streamprocessing_demos_spark.operators.streaming_queries import (
        ivf_assign_stream_arrow,
    )
    from banking_streamprocessing_demos_spark.streaming.jobs import run_to_memory

    n_cells = 64  # above the 16-cell floor: the adopted route's regime
    n = _normed(spark, SF_SMALL)
    batch = {
        (r.vec_id, r.cell_id)
        for r in rank_cells_arrow(n, n_cells, keep=1).collect()
    }
    src = str(tmp_path / "src")
    n.select("vec_id", "v", "nrm").repartition(4).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(
        "vec_id long, v array<double>, nrm double"
    ).parquet(src)
    assigned = ivf_assign_stream_arrow(stream, _centroids(n, n_cells))
    got = {(r.vec_id, r.cell_id) for r in run_to_memory(assigned).collect()}
    assert got == batch
    assert len({v for v, _c in got}) == len(got)  # one cell per vector
