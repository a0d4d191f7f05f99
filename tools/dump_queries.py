"""Generate QUERIES.md: the registered query inventory with each
query's documentation and oracle status, straight from the registry —
the one-stop index of what the engine computes and how it is checked.

Usage: python tools/dump_queries.py
"""

from __future__ import annotations

import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
QUERIES_MD = ROOT / "QUERIES.md"


def render() -> str:
    """QUERIES.md's text: a header, then one section per registered
    query in registry order, its body the registry ``doc=`` string."""
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
        f"{len(qs)} queries, all hash-checked.  Edit a query's `doc=` in",
        "its registry and rerun the tool; a test fails when this file",
        "differs from the tool's output.",
        "",
    ]
    for name, q in qs.items():
        lines.append(f"## {name} [✓]")
        lines.append("")
        lines.append(q.doc or "(no doc)")
        lines.append("")
    return "\n".join(lines)


def main() -> None:
    sys.path.insert(0, str(ROOT))
    QUERIES_MD.write_text(render())
    print(f"wrote {QUERIES_MD}")


if __name__ == "__main__":
    main()
