"""Cross-engine property test: run the SPARK implementation and the
DuckDB oracle side by side on hypothesis-generated corpora built from
ADVERSARIAL tokens — embedded carriage returns and tabs (words are
space-split, so both can live inside a token), mixed case, digits and
punctuation.  The full gate compares the engines only on the driver
testdata, whose text is tame; this round's dotall parity bug (Java
vs RE2 '.' terminator sets) lived exactly in the input region that
data never exercises.  Ops under test are the regex/fold-heavy ones:
BPE fit + encode, boilerplate strip, normalized exact dedup."""

from __future__ import annotations

import os
import tempfile

import duckdb
from hypothesis import given, settings
from conftest import fuzz_examples
from hypothesis import strategies as st

from banking_streamprocessing_demos_spark.operators.dedup import (
    REG as DEDUP_REG,
)
from banking_streamprocessing_demos_spark.operators.dedup import (
    dedup_exact_normalized,
)
from banking_streamprocessing_demos_spark.operators.text import (
    REG as TEXT_REG,
)
from banking_streamprocessing_demos_spark.operators.text import (
    pipe_bpe_encode,
    pipe_bpe_merges,
    text_boilerplate_strip,
    text_fingerprint,
    text_langid,
    text_stats,
    text_tokens,
)

# tokens an ingest pipeline actually sees: case variance, digits,
# punctuation, and control characters INSIDE a space-split token
TOKENS = ["ab", "Ab", "a.b", "x7", "c\rd", "e\tf", "g"]

docs = st.lists(
    st.lists(st.sampled_from(TOKENS), min_size=1, max_size=10),
    min_size=2,
    max_size=5,
)

_OPS = [
    (pipe_bpe_merges, TEXT_REG, "pipe_bpe_merges"),
    (pipe_bpe_encode, TEXT_REG, "pipe_bpe_encode"),
    (text_boilerplate_strip, TEXT_REG, "text_boilerplate_strip"),
    (dedup_exact_normalized, DEDUP_REG, "dedup_exact_normalized"),
    # per-row expression ops: replace-count arithmetic, the BPE-ish
    # class regex (regexp_count under Java vs RE2), md5 fingerprints
    (text_stats, TEXT_REG, "text_stats_quality"),
    (text_langid, TEXT_REG, "text_langid"),
    (text_tokens, TEXT_REG, "text_token_counts"),
    (text_fingerprint, TEXT_REG, "text_fingerprint"),
]


@settings(max_examples=fuzz_examples(6), deadline=None)
@given(docs)
def test_spark_matches_oracle_on_adversarial_tokens(spark, corpus) -> None:
    with tempfile.TemporaryDirectory() as sf:
        spark.createDataFrame(
            [(i, " ".join(ws)) for i, ws in enumerate(corpus)],
            "doc_id long, text string",
        ).selectExpr(
            "doc_id", "text", "'en' AS lang", "'t' AS source", "length(text) AS n_chars"
        ).write.mode("overwrite").parquet(os.path.join(sf, "documents.parquet"))

        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM "
            f"'{sf}/documents.parquet/*.parquet'"
        )
        for fn, reg, name in _OPS:
            sdf = fn(spark, sf)
            spark_rows = sorted(tuple(r) for r in sdf.collect())
            oracle_rows = sorted(
                tuple(r) for r in con.execute(reg.queries[name].oracle).fetchall()
            )
            assert spark_rows == oracle_rows, name
