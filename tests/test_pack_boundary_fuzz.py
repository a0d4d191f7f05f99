"""Cross-engine property test for the sequence-packing boundary
arithmetic: the Spark side computes global token offsets with the
homegrown three-level recursive prefix sum and integer `div` sequence
ids, while the oracle states the same thing as one naive window — so
a side-by-side run on corpora whose documents land offsets EXACTLY on
SEQ_LEN multiples (doc lengths drawn from {1, SEQ_LEN-1, SEQ_LEN,
SEQ_LEN+1, 2*SEQ_LEN}) exercises every start_seq/end_seq edge: a doc
exactly filling a sequence, a doc starting on a boundary, and a
one-token doc straddling nothing."""

from __future__ import annotations

import os
import tempfile

import duckdb
from hypothesis import given, settings
from conftest import fuzz_examples
from hypothesis import strategies as st

from banking_streamprocessing_demos_spark.operators.packing import (
    REG,
    SEQ_LEN,
    pack_sequences,
)

lengths = st.lists(
    st.sampled_from([1, SEQ_LEN - 1, SEQ_LEN, SEQ_LEN + 1, 2 * SEQ_LEN]),
    min_size=1,
    max_size=10,
)


@settings(max_examples=fuzz_examples(8), deadline=None)
@given(lengths)
def test_pack_sequences_matches_oracle_on_seqlen_boundaries(spark, ls) -> None:
    with tempfile.TemporaryDirectory() as sf:
        spark.createDataFrame(
            [(i, " ".join(["w"] * n)) for i, n in enumerate(ls)],
            "doc_id long, text string",
        ).write.mode("overwrite").parquet(os.path.join(sf, "documents.parquet"))
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM "
            f"'{sf}/documents.parquet/*.parquet'"
        )
        spark_rows = sorted(tuple(r) for r in pack_sequences(spark, sf).collect())
        oracle_rows = sorted(
            tuple(r)
            for r in con.execute(REG.queries["pack_sequences"].oracle).fetchall()
        )
        assert spark_rows == oracle_rows
        # independent arithmetic check: offsets are the exclusive cumsum of
        # the doc word counts in doc_id order, seq ids the integer-div spans
        off = 0
        expected = []
        for i, n in enumerate(ls):
            expected.append(
                (i, n, off, off // SEQ_LEN, (off + n - 1) // SEQ_LEN,
                 (off + n - 1) // SEQ_LEN - off // SEQ_LEN + 1)
            )
            off += n
        assert spark_rows == sorted(expected)
