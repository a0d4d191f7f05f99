"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root.  Starts one Spark session as the package
ships it (``get_spark`` defaults, ``SPARK_GRAFT_CPUS`` = the CPU count),
generates the workload's inputs from the seed, measures for ``--seconds``,
checks every output against an oracle and prints one JSON object as the
last line: ``{"correct", "attempted", "failed", "metrics"}``.  With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
run also repeats the measurement traced (spans, progress events, Spark's
event log) and reports the per-layer metrics instead.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import time

ROOT = os.getcwd()
WORKLOADS = ("detector_replay", "store_mix")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(work: str, cpus: int) -> None:
    """The shipped configuration, with every scratch path inside ``work``."""
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "") + f" -Djava.io.tmpdir={tmp}"
    ).strip()
    # every JVM (the launcher's too) would otherwise write /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = (os.environ.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData").strip()
    import tempfile

    tempfile.tempdir = tmp


def make_workload(name: str, spark, seed: int, work: str, tracer):
    from perfbench import replay, store

    cls = {
        "detector_replay": replay.DetectorReplay,
        "store_mix": store.StoreMix,
    }[name]
    return cls(spark, seed, work, tracer)


def check_determinism(path: str, counts: dict) -> list[str]:
    """Counts and digests that must repeat exactly for one seed, compared
    with every earlier run of the same seed in this checkout."""
    seen = {}
    if os.path.exists(path):
        with open(path) as f:
            seen = json.load(f)
    problems = [f"{k} differs from an earlier run of this seed" for k, v in counts.items() if k in seen and seen[k] != v]
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump({**seen, **counts}, f, indent=1, sort_keys=True)
    return problems


def untraced_baseline(path: str) -> float | None:
    """Median op_p50_ms of the untraced runs of this workload recorded in
    this checkout, or None before the first one."""
    from perfbench.harness import median

    if not os.path.exists(path):
        return None
    with open(path) as f:
        return median(json.loads(line)["op_p50_ms"] for line in f)


def run(args, work: str, state_dir: str) -> dict:
    from perfbench import harness, replay
    from perfbench.eventlog import parse_event_logs

    tracer = harness.Tracer(enabled=bool(args.trace))
    history = os.path.join(state_dir, "history", f"{args.workload}.jsonl")
    layers: dict[str, float] = {}
    problems: list[str] = []

    # RSS sampling is tracing too: the timed runs go without it
    with harness.RssSampler() if args.trace else contextlib.nullcontext() as rss:
        try:
            log_dir = os.path.join(work, "eventlog") if args.trace else None
            sess = harness.start_session(event_log_dir=log_dir)
            layers["session.start_s"] = sess.start_s
            stamp = harness.env_stamp(ROOT, sess.spark)
            wl = make_workload(args.workload, sess.spark, args.seed, work, tracer)
            with tracer.span(f"{args.workload}.setup"):
                reps = wl.setup()
            setup_s = sess.start_s + harness.median(reps)
            wl.oracle()
            since_ms = time.time() * 1000
            with tracer.span(f"{args.workload}.measure"):
                res = wl.measure(args.seconds, traced=bool(args.trace))
            until_ms = time.time() * 1000
            problems.extend(res["problems"])
            if args.trace and args.workload == "store_mix":
                problems.extend(wl.curation_pass())
                wire_layers, wire_problems = replay.wire_join_pass(sess.spark, args.seed, work, tracer)
                layers.update(wire_layers)
                problems.extend(wire_problems)
            sess.spark.stop()
            if args.trace and args.workload == "detector_replay":
                local = harness.start_session(master="local[1]")
                layers["detector.local1_events_per_s"] = wl.local1_events_per_s(local.spark)
                local.spark.stop()
        finally:
            harness.shutdown_jvm()
    if args.trace:
        layers["memory.peak_rss_mb"] = rss.peak_mb
        layers.update(parse_event_logs(log_dir, since_ms, until_ms))
        layers.update(wl.layers)
        baseline = untraced_baseline(history)
        if baseline:
            layers["trace.overhead_ratio"] = res["e2e"]["op_p50_ms"] / baseline
    stamp["loadavg_1m_end"] = os.getloadavg()[0]
    problems += wl.problems
    problems += check_determinism(
        os.path.join(state_dir, "determinism", f"{args.workload}-{args.seed}.json"), wl.counts
    )
    if args.trace:
        tracer.dump(os.path.join(state_dir, "traces", f"{args.workload}-{args.seed}.json"))
        metrics = {k: (layers.get(k, 0.0), u) for k, u in harness.LAYER_UNITS.items()}
    else:
        e2e = {**res["e2e"], "setup_s": setup_s}
        metrics = {k: (e2e[k], u) for k, u in harness.E2E_UNITS.items()}
        os.makedirs(os.path.dirname(history), exist_ok=True)
        with open(history, "a") as f:
            f.write(json.dumps({"seed": args.seed, **e2e}) + "\n")
    return {
        "stamp": stamp,
        "problems": problems,
        "result": {
            "correct": not problems,
            "attempted": int(res["attempted"]),
            "failed": int(max(res["failed"], 1 if problems else 0)),
            "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
        },
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "banking_streamprocessing_demos_spark", "__init__.py")):
        print("perfbench: the package under test is not in the current directory", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.harness import nproc

    state_dir = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(state_dir, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    prepare_env(work, nproc())
    try:
        out = run(args, work, state_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("env " + json.dumps(out["stamp"], sort_keys=True))
    for p in out["problems"]:
        print("problem " + p)
    for k, m in out["result"]["metrics"].items():
        print(f"metric {k} = {m['value']:.6g} {m['unit']}")
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
