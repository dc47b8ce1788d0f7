#!/usr/bin/env python3
"""End-to-end benchmark of elastichash_spark's public front doors.

    python3 perfbench/run.py --workload serve|ingest --seed N --seconds S --trace 0|1

Run from the repository root. Builds a seeded corpus, sets up a Spark
session and a base index, then drives one client in a closed loop of
request rounds for at least ``--seconds`` seconds, checking every answer
against the DuckDB oracle. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}`` holding the end-to-end
metrics with ``--trace 0`` and the per-layer metrics with ``--trace 1``; the
line before it is the full report (per-operation walls, environment,
layer-sum check, wrong answers). Exits 1 if any answer is wrong, 2 if the
engine package is missing. ``perfbench/README.md`` has the details.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import sys
import shutil
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
LEDGER = os.path.join(WORK, "untraced.jsonl")
DRIVER_MEMORY = "2g"  # explicit: get_spark defaults to 24g


def _pin_environment() -> None:
    """Keep every file the run writes inside the checkout."""
    for var, sub in (("TMPDIR", "tmp"), ("SPARK_LOCAL_DIRS", "spark-local")):
        path = os.path.join(WORK, sub)
        os.makedirs(path, exist_ok=True)
        os.environ[var] = path
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEMORY
    # every JVM, the spark-submit launcher too: no /tmp/hsperfdata files
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}")
    tempfile.tempdir = None


def _git_head() -> str | None:
    """HEAD commit read from .git without running git (None outside a clone)."""
    git = os.path.join(ROOT, ".git")
    try:
        with open(os.path.join(git, "HEAD")) as f:
            head = f.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        if os.path.exists(os.path.join(git, ref)):
            with open(os.path.join(git, ref)) as f:
                return f.read().strip()
        with open(os.path.join(git, "packed-refs")) as f:
            return next((ln.split()[0] for ln in f if ln.rstrip().endswith(" " + ref)), None)
    except OSError:
        return None


def _environment(cores: int) -> dict:
    import pyarrow
    import pyspark

    return {
        "nproc": cores, "master": f"local[{cores}]", "driver_memory": DRIVER_MEMORY,
        "spark_local_dirs": os.environ["SPARK_LOCAL_DIRS"],
        "spark": pyspark.__version__, "python": platform.python_version(),
        "pyarrow": pyarrow.__version__, "git_head": _git_head(),
    }


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _steal_share(before: list[int], after: list[int]) -> float:
    """Share of the host's CPU time the hypervisor took from this VM."""
    d = [a - b for a, b in zip(after, before)]
    return d[7] / sum(d) if len(d) > 7 and sum(d) else 0.0


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _tail(xs: list[float]) -> dict | None:
    """The highest percentile with at least ten samples beyond it."""
    n = len(xs)
    if n < 11:
        return None
    return {"percentile": round(100.0 * (n - 10) / n, 1),
            "value": sorted(xs)[n - 11], "samples": n}


def _overhead_share(workload: str, mix: list[str], traced_round: float) -> float | None:
    """Traced round wall against the median untraced one of the same round
    mix recorded in this checkout."""
    try:
        with open(LEDGER) as f:
            rows = [json.loads(ln) for ln in f]
    except OSError:
        return None
    base = [r["round_p50_s"] for r in rows
            if r["workload"] == workload and r.get("mix") == mix]
    return traced_round / statistics.median(base) - 1.0 if base else None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("serve", "ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import elastichash_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    _pin_environment()
    from perfbench.layers import per_layer, unit
    from perfbench.workload import ROUNDS, Bench

    load_before, cpu_before = os.getloadavg()[0], _cpu_times()
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace), WORK, DRIVER_MEMORY)
    try:
        bench.run()
    finally:
        bench.stop()
    load_after, cpu_after = os.getloadavg()[0], _cpu_times()

    walls = bench.walls
    round_p50 = _median(bench.round_walls)
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "environment": {**_environment(bench.cores),
                        "loadavg_1m_before": load_before, "loadavg_1m_after": load_after,
                        "cpu_steal_share": _steal_share(cpu_before, cpu_after)},
        "rounds": len(bench.round_walls), "round_walls_s": bench.round_walls,
        "setup_s": bench.setup_s, "build_s": bench.build_wall,
        "build_turns_per_s": len(bench.corpus.base) / bench.build_wall,
        "index_bytes_per_input_byte": bench.index_bytes / bench.text_bytes,
        "op_walls_s": walls,
        "search_tail_s": _tail(walls.get("search", [])),
        "failed_op_share": len(bench.wrong) / bench.attempted,
        "wrong": bench.wrong,
    }
    for op in ("bool", "phrase", "append"):
        if op in walls:
            report[f"{op}_p50_s"] = _median(walls[op])
    if "mining" in walls:
        report["mining_queries_per_s"] = bench.mining_queries / _median(walls["mining"])

    if args.trace:
        loose = bench.tracer.attribute_jobs(bench.events)
        overhead = _overhead_share(args.workload, list(ROUNDS[args.workload]), round_p50)
        values, extra = per_layer(bench, overhead or 0.0)
        values["trace.unspanned_jobs"] = float(loose)
        report.update(extra, overhead_baseline_found=overhead is not None)
        metrics = {k: {"value": float(v), "unit": unit(k)} for k, v in values.items()}
    else:
        metrics = {
            "setup_s": {"value": bench.setup_s, "unit": "s"},
            "search_p50_s": {"value": _median(walls.get("search", [])), "unit": "s"},
            "round_p50_s": {"value": round_p50, "unit": "s"},
            "peak_rss_mb": {"value": bench.peak_rss_mb, "unit": "MB"},
        }
        with open(LEDGER, "a") as f:
            f.write(json.dumps({"workload": args.workload, "seed": args.seed,
                                "mix": ROUNDS[args.workload], "round_p50_s": round_p50}) + "\n")
    shutil.rmtree(bench.rundir, ignore_errors=True)
    print(json.dumps({"report": report}), flush=True)
    print(json.dumps({"correct": not bench.wrong, "attempted": bench.attempted,
                      "failed": len(bench.wrong), "metrics": metrics}), flush=True)
    return 1 if bench.wrong else 0


if __name__ == "__main__":
    sys.exit(main())
