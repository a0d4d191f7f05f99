"""The ``store_mix`` workload: a closed loop of reads and
``insert_or_ignore`` writes against parquet tables.

Reads are the reference's SQLite query shapes from
``__spark_entry__.queries()`` over seeded TPC-H-ish tables, plus a point
lookup and an active-per-carrier count over the ``messages`` table that
the writes grow.  One op in five is a write; a quarter of each
write's keys already exist, so the ignore path runs too.  Ops run in blocks holding
every read shape once and three writes, in an order drawn from the
seed.  Each block starts from the table set-up left, so every block
does the same work however many blocks a run holds.

The curation operators (``operators.{dedup,similarity,text}``) are timed
in the traced run, after the measured loop, on seeded documents and
embeddings.
"""

from __future__ import annotations

import copy
import os
import shutil
import time

import numpy as np
import pandas as pd

from . import datagen, oracle
from .harness import CURATION_OPS, STORE_SHAPES, Tracer, median

QUERY_NAMES = {
    "p3": "p3_filter_eq_single_col",
    "p4": "p4_filter_enum",
    "j1": "j1_join_filter_groupby",
    "j2": "j2_scalar_correlated_subquery",
    "j3": "j3_anti_join",
    "a3": "a3_join_agg_revenue",
    "a6": "a6_running_counters",
    "u3": "u3_snapshot_last_event_wins",
    "srt1": "srt1_topn_by_time",
    "j5": "j5_timeout_pairing",
}
SHAPES = STORE_SHAPES  # QUERY_NAMES, then "lookup" and "carrier_active"
WRITES_PER_BLOCK = 3  # one op in five is a write
WRITE_ROWS = 400  # fresh rows per write
EXISTING_SHARE = 0.25  # of a write's rows whose key is already stored
POOL_MESSAGES = 4_000
INITIAL_ROWS = 2_000
SETUP_REPS = 3


class StoreMix:
    name = "store_mix"

    def __init__(self, spark, seed: int, work: str, tracer: Tracer) -> None:
        self.spark, self.seed, self.work, self.tracer = spark, seed, work, tracer
        self.sf_dir = os.path.join(work, "tables")
        self.base = os.path.join(work, "store")
        self.layers: dict[str, float] = {}
        self.counts: dict[str, object] = {}
        self.problems: list[str] = []
        self.model = oracle.MessagesModel()
        self.rng = np.random.default_rng([seed, 1])
        self.cycle = 0
        self.cursor = 0

    # --- set-up -------------------------------------------------------------

    def setup(self) -> list[float]:
        from pyspark.sql import functions as F

        from banking_streamprocessing_demos_spark.config import GeneratorConfig
        from banking_streamprocessing_demos_spark.schemas import MESSAGES_SCHEMA
        from banking_streamprocessing_demos_spark.sources.generator import generate_messages
        from banking_streamprocessing_demos_spark.sources.storage import create_table

        reps, gen = [], []
        for _ in range(SETUP_REPS):
            t = time.perf_counter()
            tables = datagen.store_tables(np.random.default_rng([self.seed, 0]))
            datagen.write_tables(tables, self.sf_dir)
            with self.tracer.span("sources.generator.generate_messages") as g:
                pool = (
                    generate_messages(
                        self.spark, GeneratorConfig(n_messages=POOL_MESSAGES, seed=f"store-{self.seed}")
                    )
                    .select(*[F.col(f.name) for f in MESSAGES_SCHEMA.fields])
                    .toPandas()
                )
            gen.append(g.seconds)
            reps.append(time.perf_counter() - t)
        self.layers["generator.events"] = float(len(pool))
        self.layers["generator.s"] = median(gen)
        self.pool = pool.sort_values("message_id").reset_index(drop=True)
        self.counts["input_digest"] = oracle.frames_digest(
            {**{k: v.to_pandas() for k, v in tables.items()}, "pool": self.pool}
        )
        t = time.perf_counter()
        create_table(self.spark, self.base, "messages")
        self.write(self.fresh_rows(INITIAL_ROWS))
        shutil.copytree(self.base, self.base + ".initial")
        self.initial = (copy.deepcopy(self.model), self.cursor, self.cycle)
        for shape in SHAPES:  # warm-up: the first execution of a shape is slower
            self.read(shape)
        warm = time.perf_counter() - t
        return [r + warm for r in reps]

    def oracle(self) -> None:
        import duckdb

        import __spark_entry__ as entry

        sqls = entry.oracle_sql()
        con = duckdb.connect()
        for f in os.listdir(self.sf_dir):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(self.sf_dir, f)}'")
        self.expected = {s: oracle.duck_digest(con, sqls[q])[0] for s, q in QUERY_NAMES.items()}
        con.close()
        self.counts["oracle_digest"] = oracle.digest(sorted(self.expected.items()), ["shape", "digest"])

    # --- ops ----------------------------------------------------------------

    def fresh_rows(self, n: int):
        """The next ``n`` never-stored rows of the pool; once the pool is
        used up it is reused with a cycle suffix on the keys."""
        out = []
        while n:
            take = min(n, len(self.pool) - self.cursor)
            part = self.pool.iloc[self.cursor : self.cursor + take].copy()
            if self.cycle:
                part["message_id"] = part["message_id"] + f"-{self.cycle}"
            out.append(part)
            n -= take
            self.cursor += take
            if self.cursor == len(self.pool):
                self.cursor, self.cycle = 0, self.cycle + 1
        return pd.concat(out, ignore_index=True)

    def write_batch(self):
        """Fresh rows, stored keys with changed values (must be ignored)
        and exact in-batch duplicates (at-least-once delivery)."""
        fresh = self.fresh_rows(WRITE_ROWS)
        n_old = int(WRITE_ROWS * EXISTING_SHARE)
        old_keys = [self.model.order[i] for i in self.rng.integers(0, self.model.version, n_old)]
        old = self.pool.iloc[: len(old_keys)].copy()
        old["message_id"] = old_keys
        old["carrier"] = "ignored"
        dups = fresh.iloc[self.rng.integers(0, len(fresh), WRITE_ROWS // 20)]
        return pd.concat([fresh, old, dups], ignore_index=True)

    def write(self, batch) -> tuple[float, bool]:
        from banking_streamprocessing_demos_spark.schemas import MESSAGES_SCHEMA
        from banking_streamprocessing_demos_spark.sources.storage import insert_or_ignore

        expected = len(self.model.fresh_keys(batch))
        df = self.spark.createDataFrame(batch, MESSAGES_SCHEMA)
        with self.tracer.span("sources.storage.insert_or_ignore") as s:
            n = insert_or_ignore(self.spark, self.base, "messages", df, "message_id")
        self.model.insert(batch)
        return s.seconds, n == expected

    def build(self, shape: str, arg):
        from pyspark.sql import functions as F

        from banking_streamprocessing_demos_spark.sources.storage import read_table

        if shape == "lookup":
            return (
                read_table(self.spark, self.base, "messages")
                .filter(F.col("message_id") == arg)
                .select(*oracle.LOOKUP_COLS)
            )
        if shape == "carrier_active":
            return (
                read_table(self.spark, self.base, "messages")
                .filter(F.col("status") != "delivered")
                .groupBy("carrier")
                .agg(F.count("*").alias("active_count"))
            )
        import __spark_entry__ as entry

        return entry.queries()[QUERY_NAMES[shape]](self.spark, self.sf_dir)

    def reset(self) -> None:
        """Back to the table and model as set-up left them."""
        shutil.rmtree(self.base)
        shutil.copytree(self.base + ".initial", self.base)
        model, self.cursor, self.cycle = self.initial
        self.model = copy.deepcopy(model)

    def block(self) -> list[str]:
        """One block of ops: every read shape once and a write per
        WRITES_PER_BLOCK, in a seeded order.  Whole blocks keep the op
        mix identical across seeds."""
        ops = SHAPES + ["write"] * WRITES_PER_BLOCK
        return [ops[i] for i in self.rng.permutation(len(ops))]

    def lookup_key(self) -> str:
        if self.rng.random() < 0.8:
            return self.model.order[int(self.rng.integers(0, self.model.version))]
        return f"absent-{int(self.rng.integers(0, 1 << 30))}"

    def read(self, shape: str) -> dict:
        arg = self.lookup_key() if shape == "lookup" else None
        with self.tracer.span(f"operators.relational.{shape}") as sp:
            t = time.perf_counter()
            df = self.build(shape, arg)
            built = time.perf_counter()
            rows = df.collect()
        return {
            "shape": shape,
            "arg": arg,
            "version": self.model.version,
            "build_ms": (built - t) * 1000,
            "exec_ms": (sp.seconds - (built - t)) * 1000,
            "ms": sp.seconds * 1000,
            "rows": [tuple(r) for r in rows],
            "cols": df.columns,
        }

    def check_read(self, r: dict) -> bool:
        if r["shape"] == "lookup":
            want = oracle.digest(self.model.lookup(r["arg"], r["version"]), oracle.LOOKUP_COLS)
        elif r["shape"] == "carrier_active":
            want = oracle.digest(self.model.active_per_carrier(r["version"]), ["carrier", "active_count"])
        else:
            want = self.expected[r["shape"]]
        return oracle.digest(r["rows"], r["cols"]) == want

    # --- measurement --------------------------------------------------------

    def measure(self, seconds: float, traced: bool) -> dict:
        reads, writes, problems, attempted, failed, offered = [], [], [], 0, 0, 0
        t0 = time.perf_counter()
        blocks = 0
        while blocks == 0 or time.perf_counter() < t0 + seconds:
            self.reset()
            block_reads = []
            for op in self.block():
                attempted += 1
                if op == "write":
                    batch = self.write_batch()
                    offered += len(batch)
                    ms, ok = self.write(batch)
                    writes.append(ms * 1000)
                    if not ok:
                        failed += 1
                        problems.append("wrong insert count")
                else:
                    block_reads.append(self.read(op))
            for r in block_reads:
                if not self.check_read(r):
                    failed += 1
                    problems.append(f"wrong result: {r['shape']}")
            reads += block_reads
            self.repeat("storage.files_in_table", len(self.table_files()))
            blocks += 1
        wall = time.perf_counter() - t0
        if traced:
            self.traced_layers(reads, writes, offered / blocks)
        lat = [r["ms"] for r in reads]
        return {
            "e2e": {
                "events_per_s": offered / wall,
                "ops_per_s": attempted / wall,
                "op_p50_ms": median(lat),
            },
            "attempted": attempted,
            "failed": failed,
            "problems": problems,
        }

    def table_files(self) -> list[str]:
        d = os.path.join(self.base, "messages")
        return [os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")]

    def traced_layers(self, reads: list[dict], writes: list[float], offered_per_block: float) -> None:
        for shape in SHAPES:
            mine = [r for r in reads if r["shape"] == shape]
            self.layers[f"relational.{shape}.build_ms"] = median(r["build_ms"] for r in mine)
            self.layers[f"relational.{shape}.exec_ms"] = median(r["exec_ms"] for r in mine)
        files = self.table_files()
        self.layers["storage.insert_ms"] = median(writes)
        self.layers["storage.rows_attempted"] = offered_per_block
        self.layers["storage.rows_inserted"] = float(self.model.version - self.initial[0].version)
        self.layers["storage.files_in_table"] = float(len(files))
        self.layers["storage.bytes_per_row"] = sum(map(os.path.getsize, files)) / self.model.version

    def repeat(self, key: str, value) -> None:
        if self.counts.setdefault(key, value) != value:
            self.problems.append(f"{key} changed between blocks: {self.counts[key]} != {value}")

    # --- curation operators (traced run only) -------------------------------

    def curation_pass(self) -> list[str]:
        """Each curation operator twice on seeded documents/embeddings
        (the first run warms it); the second run is timed.  Both results
        are checked against the operator's DuckDB twin."""
        import duckdb

        import __spark_entry__ as entry

        cur_dir = os.path.join(self.work, "curation")
        tables = datagen.curation_tables(np.random.default_rng([self.seed, 2]))
        datagen.write_tables(tables, cur_dir)
        con = duckdb.connect()
        for name in tables:
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{os.path.join(cur_dir, name)}.parquet'")
        sqls, fns = entry.oracle_sql(), entry.queries()
        problems = []
        order = list(np.random.default_rng([self.seed, 3]).permutation(CURATION_OPS))
        for op in order:
            want, _ = oracle.duck_digest(con, sqls[op])
            for attempt in range(2):
                with self.tracer.span(f"operators.curation.{op}") as s:
                    df = fns[op](self.spark, cur_dir)
                    rows = df.collect()
                if oracle.digest([tuple(r) for r in rows], df.columns) != want:
                    problems.append(f"wrong result: {op}")
            self.layers[f"curation.{op}.exec_ms"] = s.seconds * 1000
            self.layers[f"curation.{op}.rows_out"] = float(len(rows))
        con.close()
        return problems
