"""Docs-vs-artifact number pinning.

Rounds 5 and 6 both shipped the same defect class: a scale-sweep
refresh re-synced some docs to the new `BENCH_scale4.json` but missed
one file, leaving a stale headline number contradicting the committed
artifact (r5: SCALE/COVERAGE 10.4x claim; r6: README 117.6/239.0/59.6/
0.43).  This test makes that impossible to repeat silently: the
headline numbers cited in README.md / SCALE.md / COVERAGE.md are
recomputed from the committed artifact and asserted as substrings, and
every `ratio_100_1=<n>` citation anywhere in the three docs must match
a per-family artifact value.

When a sweep refresh changes the artifact, this test enumerates every
doc site that must be updated with it.
"""

from __future__ import annotations

import json
import pathlib
import re

import pytest

ROOT = pathlib.Path(__file__).resolve().parent.parent
DOCS = ["README.md", "SCALE.md", "COVERAGE.md"]


@pytest.fixture(scope="module")
def artifact():
    with open(ROOT / "BENCH_scale4.json") as f:
        return json.load(f)


@pytest.fixture(scope="module")
def doc_text():
    return {name: (ROOT / name).read_text() for name in DOCS}


def test_semantic_dedup_headline_numbers(artifact, doc_text):
    """The IVF-vs-banding comparison (the round-5/6 drift site): x100
    absolute walls, the 100/1 ratio, and the per-output ratios cited in
    all three docs must match the committed artifact."""
    ivf = artifact["families"]["dedup_semantic_ivf"]
    cl = artifact["families"]["dedup_semantic_clusters"]
    ivf_wall = f"{ivf['x100']:.1f}"  # "117.1"
    cl_wall = f"{cl['x100']:.1f}"  # "228.7"
    ivf_r1 = f"{ivf['ratio_100_1']:.1f}"  # "47.5"
    ivf_po = f"{ivf['ratio_100_30_per_output']:.2f}"  # "0.36"
    cl_po = f"{cl['ratio_100_30_per_output']:.2f}"  # "0.38"
    lo = min(ivf["ratio_100_30"], cl["ratio_100_30"])
    hi = max(ivf["ratio_100_30"], cl["ratio_100_30"])
    step_range = f"{lo:.1f}-{hi:.1f}x"  # "4.2-4.3x"

    expectations = {
        "README.md": [
            f"{ivf_wall} s",
            f"({cl_wall} s",
            f"ratio_100_1={ivf_r1}",
            f"per-output ratio {ivf_po}",
            f"{cl_po}/{ivf_po} for the semantic dedup families",
            f"wall grows {step_range}",
        ],
        "SCALE.md": [
            f"{ivf_wall}s",
            f"{cl_wall}s",
            ivf_r1 + " (IVF)",
            f"ratio {cl_po}/{ivf_po}",
            f"~{step_range}",
        ],
        "COVERAGE.md": [
            f"{ivf_wall} s",
            f"({cl_wall} s)",
            f"ratio_100_1={ivf_r1}",
            f"per-output ratio {ivf_po}",
            f"{ivf_po}-{cl_po} for the semantic dedup families",
            f"~{step_range}",
        ],
    }
    missing = {
        doc: [s for s in subs if s not in doc_text[doc]]
        for doc, subs in expectations.items()
    }
    missing = {d: m for d, m in missing.items() if m}
    assert not missing, (
        f"doc headline numbers drifted from BENCH_scale4.json: {missing} "
        f"(artifact: ivf x100={ivf['x100']}, banding x100={cl['x100']}, "
        f"ratio_100_1={ivf['ratio_100_1']}, per-output {ivf_po}/{cl_po})"
    )


def test_every_ratio_100_1_citation_matches_artifact(artifact, doc_text):
    """Any `ratio_100_1=<n>` (or `ratio_100_1 = <n>`) written in the
    three docs must equal some family's artifact value at 1dp — a
    stale citation from a superseded sweep fails here by construction."""
    valid = {
        f"{fam['ratio_100_1']:.1f}"
        for fam in artifact["families"].values()
        if "ratio_100_1" in fam
    }
    pat = re.compile(r"ratio_100_1\s*=\s*([0-9]+(?:\.[0-9]+)?)")
    stale = {}
    for doc, text in doc_text.items():
        bad = [
            m.group(1)
            for m in pat.finditer(text)
            if f"{float(m.group(1)):.1f}" not in valid
        ]
        if bad:
            stale[doc] = bad
    assert not stale, (
        f"stale ratio_100_1 citations (artifact values at 1dp: {sorted(valid)}): {stale}"
    )


def test_x100_wall_citations_match_artifact(artifact, doc_text):
    """The two x100 absolute walls the docs lean on (IVF vs banding)
    may appear only at their committed values: any 3-digit 'NNN.N s'
    within the semantic-dedup comparison sentences must be one of the
    artifact's x100 walls."""
    walls = {
        f"{fam[pt]:.1f}"
        for fam in artifact["families"].values()
        for pt in ("x1", "x10", "x30", "x100")
        if pt in fam
    }
    # sentences that compare IVF to banding cite both x100 walls; scan
    # for any >=100 s 'NNN.Ns' / 'NNN.N s' token in lines mentioning
    # either family (the 117.6/239.0 drift class — smaller numbers are
    # historical micro-bench notes, not artifact walls)
    pat = re.compile(r"([0-9]{3}\.[0-9])\s?s\b")
    stale = {}
    for doc, text in doc_text.items():
        bad = []
        for line in text.splitlines():
            if "dedup_semantic_ivf" in line or "banding" in line.lower():
                bad += [v for v in pat.findall(line) if v not in walls]
        if bad:
            stale[doc] = bad
    assert not stale, f"x100 wall citations not in BENCH_scale4.json {sorted(walls)}: {stale}"


def test_recall_table_matches_artifact(doc_text):
    """Round-8 doc-drift defense for the fresh-vector recall table:
    every recall cell in SCALE.md's 'ANN recall vs scale' table must
    equal the committed BENCH_recall_scale.json value (the class of
    defect rounds 5/6 shipped twice for the wall-time tables)."""
    with open(ROOT / "BENCH_recall_scale.json") as f:
        art = json.load(f)
    points = art["points"]
    doc_rows = {
        "sim_ann_ivf, frozen 16 cells": "sim_ann_ivf_frozen16",
        "sim_ann_ivf, auto_cells": "sim_ann_ivf_auto",
        "sim_ann_pq, frozen": "sim_ann_pq",
        "sim_ann_pq, funnel": "sim_ann_pq_scaled",
        "sim_ann_ivfpq, frozen": "sim_ann_ivfpq",
        "sim_ann_ivfpq, funnel": "sim_ann_ivfpq_scaled",
        "sim_ann_matryoshka, frozen": "sim_ann_matryoshka",
        "sim_ann_matryoshka, shortlist": "sim_ann_matryoshka_scaled",
    }
    section = doc_text["SCALE.md"].split(
        "### ANN recall vs scale — FRESH-VECTOR corpus", 1
    )[1].split("\n### ", 1)[0]
    table_lines = [
        line for line in section.splitlines() if line.startswith("| sim_ann_")
    ]
    assert len(table_lines) == len(doc_rows), table_lines
    stale = []
    for line in table_lines:
        key = next(k for prefix, k in doc_rows.items() if line.startswith(f"| {prefix}"))
        cells = [c.strip() for c in line.split("|")[2:-1]]
        for tag, cell in zip(("x1", "x10", "x30", "x100"), cells):
            want = points[tag].get(key, {}).get("recall_at_5")
            if cell == "—":
                assert want is None, (line, tag, want)
                continue
            if want is None or f"{want:.2f}" != cell:
                stale.append((key, tag, cell, want))
    assert not stale, f"recall cells diverge from BENCH_recall_scale.json: {stale}"


def test_x100_table_cells_match_artifact(artifact, doc_text):
    """Round-9 extension of the drift defense: every WALL cell of
    SCALE.md's four-point table (the '| family | x1 | x10 | x30 |
    x100 |' table) must equal the committed BENCH_scale4.json value,
    and every per-output cell its ratio_100_30_per_output — the table
    is generated from the artifact, so any hand edit or partial
    refresh fails here."""
    text = doc_text["SCALE.md"]
    table_start = text.index("| family | x1 | x10 | x30 | x100 |")
    rows = []
    for line in text[table_start:].splitlines()[2:]:
        if not line.startswith("|"):
            break
        rows.append([c.strip() for c in line.strip("|").split("|")])
    assert rows, "x100 table not found"
    fams = artifact["families"]
    # label cell starts with the family key (labels add parenthetical notes)
    stale = []
    seen = set()
    for cells in rows:
        label = cells[0]
        key = next((k for k in fams if label.startswith(k)), None)
        assert key is not None, f"table row has no artifact family: {label}"
        seen.add(key)
        v = fams[key]
        for i, pt in enumerate(("x1", "x10", "x30", "x100"), start=1):
            if cells[i] != f"{v[pt]}s":
                stale.append((key, pt, cells[i], v[pt]))
        if cells[5] != str(v["ratio_100_30"]):
            stale.append((key, "ratio_100_30", cells[5], v["ratio_100_30"]))
        per = v.get("ratio_100_30_per_output")
        if per is not None and f"**{per}**" != cells[7]:
            stale.append((key, "per_output", cells[7], per))
    assert not stale, f"x100 table cells diverge from BENCH_scale4.json: {stale}"
    # the r9 families must be present in the table
    assert {"mm_phash_dedup", "mm_chunk_dedup", "sim_ann_opq_trained"} <= seen


def test_r9_table_cells_match_artifact(doc_text):
    """The round-9 three-point table in SCALE.md must equal the
    committed BENCH_scale_r9.json cell-for-cell (walls formatted
    '%.2f s', ratios verbatim, and the er_blocked_match per-output
    figure), so a sweep refresh cannot leave the table stale."""
    with open(ROOT / "BENCH_scale_r9.json") as f:
        artifact = json.load(f)
    fams = artifact["families"]
    text = doc_text["SCALE.md"].split(
        "### Round-9 families: SQ8 search, blocked entity resolution, hard negatives", 1
    )[1]
    table_start = text.index("| family | x1 | x10 | x30 | 10/1 | 30/10 |")
    rows = []
    for line in text[table_start:].splitlines()[2:]:
        if not line.startswith("|"):
            break
        rows.append([c.strip() for c in line.strip("|").split("|")])
    assert len(rows) == len(fams) == 4
    stale = []
    for cells in rows:
        key = cells[0]
        v = fams[key]
        for i, pt in enumerate(("x1", "x10", "x30"), start=1):
            if cells[i] != f"{v[pt]:.2f} s":
                stale.append((key, pt, cells[i], v[pt]))
        if cells[4] != str(v["ratio_10_1"]) or cells[5] != str(v["ratio_30_10"]):
            stale.append((key, "ratios", cells[4], cells[5]))
    assert not stale, f"r9 table cells diverge from BENCH_scale_r9.json: {stale}"
    per = fams["er_blocked_match"]["ratio_30_10_per_output"]
    assert f"**{per}**" in text, "er per-output figure missing/stale in SCALE.md"
    growth = fams["er_blocked_match"]
    cite = f"{growth['x1_rows']:,} → {growth['x10_rows']:,} → {growth['x30_rows']:,}"
    assert cite in text, f"er output-growth citation stale: expected {cite!r}"


def test_r9b_table_cells_match_artifact(doc_text):
    """The round-9-late three-point table in SCALE.md must equal the
    committed BENCH_scale_r9b.json cell-for-cell, and the BQ fresh-
    vector recall table must equal the artifact's recall block — a
    sweep refresh cannot leave either table stale."""
    with open(ROOT / "BENCH_scale_r9b.json") as f:
        artifact = json.load(f)
    fams = artifact["families"]
    text = doc_text["SCALE.md"].split(
        "### Round-9 late families: binary quantization, retrieval stack, governance", 1
    )[1]
    table_start = text.index("| family | x1 | x10 | x30 | 10/1 | 30/10 |")
    rows = []
    for line in text[table_start:].splitlines()[2:]:
        if not line.startswith("|"):
            break
        rows.append([c.strip() for c in line.strip("|").split("|")])
    assert len(rows) == len(fams) >= 3
    stale = []
    for cells in rows:
        key = cells[0]
        v = fams[key]
        for i, pt in enumerate(("x1", "x10", "x30"), start=1):
            if cells[i] != f"{v[pt]:.2f} s":
                stale.append((key, pt, cells[i], v[pt]))
        if cells[4] != str(v["ratio_10_1"]) or cells[5] != str(v["ratio_30_10"]):
            stale.append((key, "ratios", cells[4], cells[5]))
    assert not stale, f"r9b table cells diverge from BENCH_scale_r9b.json: {stale}"
    # BQ recall table
    rec = artifact["bq_fresh_vector_recall"]["points"]
    rec_start = text.index("| point | frozen depth-64 recall@5 |")
    rec_rows = []
    for line in text[rec_start:].splitlines()[2:]:
        if not line.startswith("|"):
            break
        rec_rows.append([c.strip() for c in line.strip("|").split("|")])
    assert len(rec_rows) == 4
    for cells in rec_rows:
        pt = cells[0]
        r = rec[pt]
        assert cells[1] == str(r["frozen"]["recall_at_5"]), (pt, cells[1])
        scaled = r.get("scaled")
        if scaled:
            assert cells[2] == str(scaled["recall_at_5"]), (pt, cells[2])
            assert cells[3] == str(scaled["depth"]), (pt, cells[3])


CITED_FILE = re.compile(r"(?<![\w./-])((?:[\w-]+/)*[\w-]+\.(?:py|json))\b")


def test_cited_files_exist(doc_text):
    """Every `*.py` / `*.json` file the live docs and the verify skill
    cite must exist, so deleting a script or artifact cannot leave a
    dangling citation behind.  A citation resolves against the repo
    root, `tools/`, `tests/`, the package or any of its subpackages
    (the docs write `streaming/detector.py` and bare `detector.py`)."""
    pkg = ROOT / "banking_streamprocessing_demos_spark"
    bases = [ROOT, ROOT / "tools", ROOT / "tests", pkg]
    bases += [p for p in pkg.rglob("*") if p.is_dir() and p.name != "__pycache__"]
    texts = dict(doc_text)
    skill = ".claude/skills/verify/SKILL.md"
    texts[skill] = (ROOT / skill).read_text()
    missing = {
        doc: sorted(
            {
                name
                for name in CITED_FILE.findall(text)
                if not any((base / name).is_file() for base in bases)
            }
        )
        for doc, text in texts.items()
    }
    missing = {doc: names for doc, names in missing.items() if names}
    assert not missing, f"docs cite files that do not exist: {missing}"


REGISTERED_COUNT = re.compile(r"\b(\d+)\s+registered\s+queries\b", re.I)


def test_registered_query_counts_match_registry(doc_text):
    """Every "<N> registered queries" in the live docs is the size of the
    registry, so adding or removing a query cannot leave a stale count."""
    import __spark_entry__ as entrymod

    n = len(entrymod.queries())
    cited = {doc: {int(m) for m in REGISTERED_COUNT.findall(text)} for doc, text in doc_text.items()}
    assert any(cited.values()), "no doc cites a registered query count"
    stale = {doc: sorted(counts - {n}) for doc, counts in cited.items() if counts - {n}}
    assert not stale, f"docs cite registered query counts other than {n}: {stale}"
