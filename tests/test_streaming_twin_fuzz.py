"""Batch==stream property on RANDOM adversarial corpora: the
streaming ingest twins are pinned equal to their batch ops on the
fixed testdata; this fuzz re-proves the equality on hypothesis
corpora built from the adversarial token pool (embedded \\r/\\t,
mixed case, punctuation), running REAL streaming jobs per example —
frozen-inventory broadcast for boilerplate strip, frozen fitted
vocab for the BPE encode."""

from __future__ import annotations

import os
import tempfile

from hypothesis import given, settings
from conftest import fuzz_examples
from hypothesis import strategies as st

TOKENS = ["ab", "Ab", "a.b", "x7", "c\rd", "e\tf", "g"]

docs = st.lists(
    st.lists(st.sampled_from(TOKENS), min_size=1, max_size=10),
    min_size=2,
    max_size=5,
)


def _write_docs(spark, corpus, sf: str, langs: tuple[str, ...] = ("en",)) -> None:
    spark.createDataFrame(
        [(i, " ".join(ws), langs[i % len(langs)]) for i, ws in enumerate(corpus)],
        "doc_id long, text string, lang string",
    ).selectExpr(
        "doc_id", "text", "lang", "'t' AS source", "length(text) AS n_chars"
    ).write.mode("overwrite").parquet(os.path.join(sf, "documents.parquet"))


@settings(max_examples=fuzz_examples(4), deadline=None)
@given(docs)
def test_streaming_boilerplate_matches_batch_on_random_corpora(spark, corpus) -> None:
    from banking_streamprocessing_demos_spark.operators.streaming_queries import (
        streaming_boilerplate_strip_q,
    )
    from banking_streamprocessing_demos_spark.operators.text import (
        text_boilerplate_strip,
    )

    with tempfile.TemporaryDirectory() as sf:
        _write_docs(spark, corpus, sf)
        streamed = {
            r.doc_id: (r.n_segments, r.n_removed, r.cleaned_text)
            for r in streaming_boilerplate_strip_q(spark, sf).collect()
        }
        batch = {
            r.doc_id: (r.n_segments, r.n_removed, r.cleaned_text)
            for r in text_boilerplate_strip(spark, sf).collect()
        }
    assert streamed == batch


@settings(max_examples=fuzz_examples(4), deadline=None)
@given(docs)
def test_streaming_bpe_encode_matches_batch_on_random_corpora(spark, corpus) -> None:
    from banking_streamprocessing_demos_spark.operators.streaming_queries import (
        streaming_bpe_encode_q,
    )
    from banking_streamprocessing_demos_spark.operators.text import pipe_bpe_encode

    with tempfile.TemporaryDirectory() as sf:
        _write_docs(spark, corpus, sf)
        streamed = {
            r.doc_id: (r.n_words, r.n_tokens_bpe_fit)
            for r in streaming_bpe_encode_q(spark, sf).collect()
        }
        batch = {
            r.doc_id: (r.n_words, r.n_tokens_bpe_fit)
            for r in pipe_bpe_encode(spark, sf).collect()
        }
    assert streamed == batch


@settings(max_examples=fuzz_examples(4), deadline=None)
@given(docs)
def test_streaming_keep_best_matches_batch_on_random_corpora(spark, corpus) -> None:
    """Representative maintenance is a pure windowed argmax (no
    arrival-order state), so every CLOSED window must match the batch
    run of the same job bit-for-bit — including on adversarial tokens
    (embedded \\r/\\t is exactly where the signature md5s would diverge
    if the gram expressions drifted between the paths)."""
    from banking_streamprocessing_demos_spark.operators.streaming_queries import (
        SENTINEL_ORD,
        streaming_keep_best_q,
        _replay_corpus,
    )
    from banking_streamprocessing_demos_spark.streaming.jobs import streaming_keep_best

    with tempfile.TemporaryDirectory() as sf:
        _write_docs(spark, corpus, sf)
        streamed = {
            (r.window_start_ms, r.sig_key): (r.doc_id, r.word_count, r.n_members)
            for r in streaming_keep_best_q(spark, sf).collect()
        }
        # batch run of the SAME job over the same replay (sentinel's
        # never-closed window excluded — the stream cannot emit it)
        batch_rows = streaming_keep_best(_replay_corpus(spark, sf)).collect()
    batch = {
        (r.window_start_ms, r.sig_key): (r.doc_id, r.word_count, r.n_members)
        for r in batch_rows
        if r.doc_id < SENTINEL_ORD
    }
    assert streamed == batch


NAME_WORDS = ["cold", "blue", "large", "small", "odd", "widget", "bolt", "rod", "nut", "gear"]

parts = st.lists(
    st.tuples(
        st.lists(st.sampled_from(NAME_WORDS), min_size=1, max_size=3),
        st.integers(min_value=0, max_value=3),  # brand id
    ),
    min_size=4,
    max_size=12,
)


def _write_parts(spark, corpus, sf: str) -> None:
    spark.createDataFrame(
        [(i, " ".join(ws), f"Brand#{b}") for i, (ws, b) in enumerate(corpus)],
        "p_partkey long, p_name string, p_brand string",
    ).write.mode("overwrite").parquet(os.path.join(sf, "part.parquet"))


@settings(max_examples=fuzz_examples(4), deadline=None)
@given(parts)
def test_streaming_er_match_matches_batch_on_random_corpora(spark, corpus) -> None:
    """Record linkage batch==stream: the frozen block-key inventory +
    windowed verify must reproduce er_blocked_match exactly on random
    name corpora, INCLUDING names short enough to hit the blocking
    blind spot and name classes that collide across records."""
    from banking_streamprocessing_demos_spark.operators.er import er_blocked_match
    from banking_streamprocessing_demos_spark.operators.streaming_queries import (
        streaming_er_match_q,
    )

    with tempfile.TemporaryDirectory() as sf:
        _write_parts(spark, corpus, sf)
        streamed = {
            (r.dirty_id, r.clean_id, r.brand, r.matched_name, r.lev)
            for r in streaming_er_match_q(spark, sf).collect()
        }
        batch = {
            (r.dirty_id, r.clean_id, r.brand, r.matched_name, r.lev)
            for r in er_blocked_match(spark, sf).collect()
        }
    assert streamed == batch


# BM25 percolation twin: tokens include the standing query's terms so
# scored arrivals exercise every branch (0..3 matching terms, repeated
# terms for tf saturation, length spread for the dl normalization).
BM25_TOKENS = ["hash", "join", "window", "g", "x7", "a.b"]

bm25_docs = st.lists(
    st.lists(st.sampled_from(BM25_TOKENS), min_size=1, max_size=12),
    min_size=2,
    max_size=6,
)


@settings(max_examples=fuzz_examples(4), deadline=None)
@given(bm25_docs)
def test_streaming_bm25_matches_batch_on_random_corpora(spark, corpus) -> None:
    """Streamed per-arrival scores equal the batch scorer's on the
    SAME frozen stats: originals match _bm25_scored row-for-row, and
    every late re-ingest copy scores exactly like its original (a
    percolator is stateless per arrival by construction)."""
    from banking_streamprocessing_demos_spark.operators.retrieval import _bm25_scored
    from banking_streamprocessing_demos_spark.operators.streaming_queries import (
        DUP_OFFSET,
        streaming_bm25_match_q,
    )

    with tempfile.TemporaryDirectory() as sf:
        _write_docs(spark, corpus, sf)
        streamed = {
            r.doc_id: (r.bm25, r.n_terms)
            for r in streaming_bm25_match_q(spark, sf).collect()
        }
        batch = {
            r.doc_id: (r.bm25, r.n_terms) for r in _bm25_scored(spark, sf).collect()
        }
    originals = {k: v for k, v in streamed.items() if k < DUP_OFFSET}
    assert originals == batch
    for k, v in streamed.items():
        if k >= DUP_OFFSET:
            assert streamed[k - DUP_OFFSET] == v, (k, v)


@settings(max_examples=fuzz_examples(4), deadline=None)
@given(docs)
def test_streaming_dsir_gate_matches_batch_on_random_corpora(spark, corpus) -> None:
    """Streamed per-arrival DSIR scores equal the batch scorer's under
    the SAME frozen models (originals row-for-row; every late re-ingest
    scores exactly like its original), on corpora with a real
    target/source split (alternating en/de langs)."""
    from banking_streamprocessing_demos_spark.operators.streaming_queries import (
        DUP_OFFSET,
        streaming_dsir_gate_q,
    )
    from banking_streamprocessing_demos_spark.operators.text import pipe_dsir_weights

    with tempfile.TemporaryDirectory() as sf:
        _write_docs(spark, corpus, sf, langs=("en", "de"))
        streamed = {
            r.doc_id: (r.n_feats, r.dsir_logw, r.kept)
            for r in streaming_dsir_gate_q(spark, sf).collect()
        }
        batch = {
            r.doc_id: (r.n_feats, r.dsir_logw, r.dsir_logw >= 0.0)
            for r in pipe_dsir_weights(spark, sf).collect()
        }
    originals = {k: v for k, v in streamed.items() if k < DUP_OFFSET}
    assert originals == batch
    for k, v in streamed.items():
        if k >= DUP_OFFSET:
            assert streamed[k - DUP_OFFSET] == v, (k, v)


@settings(max_examples=fuzz_examples(3), deadline=None)
@given(docs)
def test_streaming_ppl_gate_matches_batch_on_random_corpora(spark, corpus) -> None:
    """Streamed per-arrival LM scores and bucket labels equal the batch
    sampled-threshold twin's under the SAME frozen model + thresholds
    (originals row-for-row; every late re-ingest labels exactly like
    its original).  Single-word docs are unscorable on both sides."""
    from banking_streamprocessing_demos_spark.operators.streaming_queries import (
        DUP_OFFSET,
        streaming_ppl_gate_q,
    )
    from banking_streamprocessing_demos_spark.operators.text import (
        pipe_perplexity_buckets_sampled,
        text_bigram_lm_score,
    )

    with tempfile.TemporaryDirectory() as sf:
        _write_docs(spark, corpus, sf, langs=("en", "de"))
        streamed = {
            r.doc_id: (r.n_bigrams, r.avg_logprob, r.bucket)
            for r in streaming_ppl_gate_q(spark, sf).collect()
        }
        lm = {
            r.doc_id: (r.n_bigrams, r.avg_logprob)
            for r in text_bigram_lm_score(spark, sf).collect()
        }
        batch = {
            r.doc_id: (lm[r.doc_id][0], r.avg_logprob, r.bucket)
            for r in pipe_perplexity_buckets_sampled(spark, sf).collect()
        }
    originals = {k: v for k, v in streamed.items() if k < DUP_OFFSET}
    assert originals == batch
    for k, v in streamed.items():
        if k >= DUP_OFFSET:
            assert streamed[k - DUP_OFFSET] == v, (k, v)


@settings(max_examples=fuzz_examples(3), deadline=None)
@given(docs)
def test_streaming_gopher_gate_matches_batch_on_random_corpora(spark, corpus) -> None:
    """The per-window rule-failure counts equal an independent
    recomputation from the batch rule battery (originals + the
    every-10th re-ingest copies, windowed by arrival minute)."""
    from collections import Counter, defaultdict

    from banking_streamprocessing_demos_spark.operators.streaming_queries import (
        DUP_OFFSET,
        INGEST_BASE_MS,
        streaming_gopher_gate_q,
    )
    from banking_streamprocessing_demos_spark.operators.text import pipe_gopher_rules

    with tempfile.TemporaryDirectory() as sf:
        _write_docs(spark, corpus, sf)
        flags = {r.doc_id: r.asDict() for r in pipe_gopher_rules(spark, sf).collect()}
        streamed = streaming_gopher_gate_q(spark, sf).collect()
    rules = [
        ("n_fail_word_count", "ok_word_count"),
        ("n_fail_mean_word_len", "ok_mean_word_len"),
        ("n_fail_symbol_ratio", "ok_symbol_ratio"),
        ("n_fail_alpha_ratio", "ok_alpha_ratio"),
        ("n_fail_stopwords", "ok_stopwords"),
    ]
    want: dict[int, Counter] = defaultdict(Counter)
    for doc_id, f in flags.items():
        for arrival in (doc_id,) + ((doc_id + DUP_OFFSET,) if doc_id % 10 == 0 else ()):
            w = INGEST_BASE_MS + (arrival // 60) * 60000
            want[w]["n_docs"] += 1
            want[w]["n_passed"] += int(f["passed"])
            for out_col, ok_col in rules:
                want[w][out_col] += int(not f[ok_col])
    got = {
        r.window_start_ms: {
            k: r[k] for k in ("n_docs", "n_passed", *[rc for rc, _ in rules])
        }
        for r in streamed
    }
    assert got == {w: dict(c) for w, c in want.items()}
