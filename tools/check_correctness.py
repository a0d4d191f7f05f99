"""Parity check: run every __spark_entry__ query on Spark AND its
DuckDB oracle at a given scale factor, compare row count + column names
+ column TYPES + order-insensitive values.

Typed comparison: DuckDB's window SUM over integers yields HUGEINT
(INT128) — a type with no Spark twin — and a str(v) normalization
alone would hide the difference (w4_sessionization once failed a
value-hash check this way).  The oracle result is fetched via Arrow
and each output column's type must map onto the same type family as
the Spark column, with any non-Spark-representable type (decimal128
wider than 38, int128 surfaces) rejected outright.

Usage: python tools/check_correctness.py [sf_dir] [query ...]

tests/test_oracle_parity.py applies the same comparison (``normalize``,
``type_problems``) at sf0.001.
"""

from __future__ import annotations

import math
import sys
import time

sys.path.insert(0, ".")

import duckdb
import pyarrow as pa

from banking_streamprocessing_demos_spark.session import get_spark
from banking_streamprocessing_demos_spark.sources.tables import TABLE_NAMES


def _arrow_family(t: pa.DataType) -> str:
    """Collapse an Arrow type to the family this check's typed
    normalization distinguishes.  Returns 'UNREPRESENTABLE:<type>' for
    anything with no Spark twin (the w4/HUGEINT class of bug)."""
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_decimal(t):
        # DuckDB surfaces HUGEINT (INT128) as decimal128(38,0) over Arrow;
        # honest DECIMAL(p,s) results would also stringify differently
        # from Spark doubles ("3.0000" vs "3.0") — both are parity bugs
        # in this repo, where every oracle casts money to DOUBLE/BIGINT.
        return f"UNREPRESENTABLE:decimal({t.precision},{t.scale})"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "binary"
    if pa.types.is_list(t) or pa.types.is_large_list(t) or pa.types.is_fixed_size_list(t):
        return f"array<{_arrow_family(t.value_type)}>"
    if pa.types.is_timestamp(t) or pa.types.is_date(t) or pa.types.is_time(t):
        # repo rule: never return raw timestamps — surface ms-epoch BIGINT
        return f"UNREPRESENTABLE:{t}"
    return f"UNREPRESENTABLE:{t}"


def _spark_family(dt: str) -> str:
    """Collapse a Spark simpleString dtype to the same families."""
    dt = dt.strip().lower()
    if dt in ("tinyint", "smallint", "int", "integer", "bigint", "long", "byte", "short"):
        return "int"
    if dt in ("float", "double"):
        return "float"
    if dt.startswith("decimal"):
        return f"UNREPRESENTABLE:{dt}"
    if dt in ("string", "varchar"):
        return "string"
    if dt == "boolean":
        return "bool"
    if dt == "binary":
        return "binary"
    if dt.startswith("array<"):
        return f"array<{_spark_family(dt[6:-1])}>"
    if dt.startswith(("timestamp", "date")):
        return f"UNREPRESENTABLE:{dt}"
    return f"UNREPRESENTABLE:{dt}"


def type_problems(spark_dtypes, arrow_schema) -> list[str]:
    """Family-compare Spark vs oracle output types by column name."""
    sfam = {name: _spark_family(dt) for name, dt in spark_dtypes}
    problems = []
    for field in arrow_schema:
        ofam = _arrow_family(field.type)
        sf = sfam.get(field.name)
        if ofam.startswith("UNREPRESENTABLE") or "UNREPRESENTABLE" in ofam:
            problems.append(f"oracle col {field.name!r} has no Spark twin: {field.type}")
        if sf is not None and ("UNREPRESENTABLE" in sf):
            problems.append(f"spark col {field.name!r} type not hash-safe: {sf}")
        if sf is not None and sf != ofam and "UNREPRESENTABLE" not in sf + ofam:
            problems.append(f"col {field.name!r} family mismatch spark={sf} oracle={ofam}")
    return problems


def normalize(rows, cols):
    """Sort columns by name, stringify values with float rounding."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in idx:
            v = r[i]
            if isinstance(v, float):
                if math.isnan(v):
                    vals.append("nan")
                else:
                    vals.append(f"{v:.6g}")
            elif isinstance(v, bool):
                vals.append(str(v).lower())
            elif v is None:
                vals.append("\0null")
            else:
                vals.append(str(v))
        out.append("|".join(vals))
    out.sort()
    return out


def main() -> int:
    argv = sys.argv[1:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    spark = get_spark("parity-check")
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    n_pass = n_fail = 0
    for name, fn in sorted(qs.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            sdtypes = sdf.dtypes
            srows = sdf.collect()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {type(e).__name__}: {e}")
            n_fail += 1
            continue
        try:
            rel = con.execute(oracles[name])
            otable = rel.arrow()
            ocols = otable.schema.names
            orows = list(zip(*[c.to_pylist() for c in otable.columns]))
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {type(e).__name__}: {e}")
            n_fail += 1
            continue
        problems = []
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"schema spark={sorted(scols)} oracle={sorted(ocols)}")
        problems.extend(type_problems(sdtypes, otable.schema))
        if not problems:
            s_norm = normalize([tuple(r) for r in srows], scols)
            o_norm = normalize(orows, list(ocols))
            if s_norm != o_norm:
                diffs = [
                    (a, b) for a, b in zip(s_norm, o_norm) if a != b
                ][:3]
                problems.append(f"values differ; first diffs={diffs}")
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)}")
            n_fail += 1
        else:
            print(f"PASS {name}: {len(srows)} rows ({time.time()-t0:.1f}s)")
            n_pass += 1

    print(f"\n{n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
