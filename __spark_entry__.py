"""The engine's query surface: ``entry``, ``queries`` and ``oracle_sql``.

``entry(spark)`` runs the flagship query as a smoke check.  Every
operator module under ``banking_streamprocessing_demos_spark/operators/``
registers named queries (a Spark fn plus its DuckDB oracle SQL twin)
with ``@REG.add``; ``queries()`` and ``oracle_sql()`` merge those
registries in ``_REGISTRIES`` order, so a new query needs only its
``@REG.add``.  ``tools/check_correctness.py`` and
``tests/test_oracle_parity.py`` run each ``queries()[name]`` and
compare it with ``oracle_sql()[name]`` under DuckDB (row count, schema,
order-insensitive values).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from banking_streamprocessing_demos_spark.operators import merge_registries
from banking_streamprocessing_demos_spark.operators.curate import REG as CURATE_REG
from banking_streamprocessing_demos_spark.operators.dedup import REG as DEDUP_REG
from banking_streamprocessing_demos_spark.operators.er import REG as ER_REG
from banking_streamprocessing_demos_spark.operators.message_domain import REG as MESSAGE_REG
from banking_streamprocessing_demos_spark.operators.multimodal import REG as MM_REG
from banking_streamprocessing_demos_spark.operators.packing import REG as PACKING_REG
from banking_streamprocessing_demos_spark.operators.pq import REG as PQ_REG
from banking_streamprocessing_demos_spark.operators.privacy import REG as PRIVACY_REG
from banking_streamprocessing_demos_spark.operators.relational import REG as RELATIONAL_REG
from banking_streamprocessing_demos_spark.operators.retrieval import REG as RETRIEVAL_REG
from banking_streamprocessing_demos_spark.operators.similarity import REG as SIM_REG
from banking_streamprocessing_demos_spark.operators.sketches import REG as SKETCH_REG
from banking_streamprocessing_demos_spark.operators.streaming_queries import (
    REG as STREAMING_Q_REG,
)
from banking_streamprocessing_demos_spark.operators.text import REG as TEXT_REG

_REGISTRIES = [
    RELATIONAL_REG,
    MESSAGE_REG,
    DEDUP_REG,
    ER_REG,
    SIM_REG,
    TEXT_REG,
    RETRIEVAL_REG,
    PRIVACY_REG,
    MM_REG,
    PACKING_REG,
    SKETCH_REG,
    PQ_REG,
    CURATE_REG,
    STREAMING_Q_REG,
]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the 5-way star join +
    aggregation (a3_join_agg_revenue) — the J1/A3 'active per carrier'
    shape (phone_message_producer.py:266-272) at TPC-H-Q5 scale-up."""
    from banking_streamprocessing_demos_spark.operators.relational import a3

    return a3(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every registered query's Spark implementation, in registry order."""
    return {name: q.fn for name, q in merge_registries(*_REGISTRIES).items()}


def oracle_sql() -> dict[str, str]:
    """Every registered query's DuckDB oracle SQL, in registry order."""
    return {name: q.oracle for name, q in merge_registries(*_REGISTRIES).items()}
