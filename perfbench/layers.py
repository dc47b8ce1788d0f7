"""Per-layer metrics of a traced run, and the layer-sum check.

Each metric is a mean per call over the measured rounds (the set-up build
excluded) unless named otherwise; a layer the workload never
calls reads 0. Job, stage, task, run-time, CPU and shuffle figures come from
Spark's event log, attributed to spans by time window (``trace.py``).
"""

from __future__ import annotations

import os
import statistics

from elastichash_spark.manifest import read_manifest
from perfbench.trace import Tracer, busy_union, job_sums

# op -> (request span, the spans directly under it that are its layers)
OPS = {
    "search": ("request.search", ("query.search", "query.execute")),
    "bool": ("request.bool", ("query.bool_search", "query.execute")),
    "phrase": ("request.phrase", ("query.phrase_search", "query.execute")),
    "append": ("request.append", ("append.append_index",)),
    "mining": ("request.mining", ("query.search_mining", "query.execute")),
    "build": ("request.build", ("build.build_index",)),
}
BUILD_STAGES = ("docs", "mruns", "terms", "runs", "postings")
LAYER_GAP = 0.10  # layers covering less of an operation's wall than 1 - this are flagged

UNITS = {"_s": "s", "_bytes": "bytes", "_share": "share"}


def unit(name: str) -> str:
    for suffix, u in UNITS.items():
        if name.endswith(suffix):
            return u
    return "count"


def _mean(xs: list[float]) -> float:
    return statistics.fmean(xs) if xs else 0.0


def per_layer(bench, overhead_share: float) -> tuple[dict[str, float], dict]:
    """(metrics, report extras) of a finished traced run."""
    tr: Tracer = bench.tracer
    cores = bench.cores
    m: dict[str, float] = {}
    rounds = tr.find("round")

    def in_rounds(name: str) -> list[int]:
        return [s for r in rounds for s in tr.find(name, r)]

    def child(req: int, name: str) -> int | None:
        return next((c for c in tr.spans[req].children if tr.spans[c].name == name), None)

    # session and build (the set-up build)
    gs = tr.find("session.get_spark")
    m["session.get_spark_s"] = tr.spans[gs[0]].wall if gs else 0.0
    secs = bench.meta.get("stage_secs") or {}
    for st in BUILD_STAGES:
        m[f"build.{st}_s"] = float(secs.get(st, 0.0))
    bi = tr.find("build.build_index")
    bjobs = tr.subtree_jobs(bi[0]) if bi else []
    b = job_sums(bjobs)
    bwall = tr.spans[bi[0]].wall if bi else 0.0
    m.update({
        "build.jobs": b["jobs"], "build.stages": b["stages"], "build.tasks": b["tasks"],
        "build.executor_run_s": b["run_s"], "build.executor_cpu_s": b["cpu_s"],
        "build.core_busy_share": b["run_s"] / (bwall * cores) if bwall else 0.0,
        "build.shuffle_write_bytes": b["shuffle_write"], "build.spill_bytes": b["spill"],
    })
    pm = read_manifest(os.path.join(bench.index, "postings")) or {}
    m["build.postings_bytes"] = float(pm.get("bytes", 0))
    m["build.blocks"] = float(pm.get("blocks", 0))

    # index open, tombstones and planning, per call inside the rounds
    for name, key in (("build.load_index", "build.load_index"),
                      ("deletes.load_tombstones", "deletes.load_tombstones"),
                      ("query.plan_queries", "query.plan_queries")):
        ids = in_rounds(name)
        m[f"{key}_s"] = _mean([tr.spans[i].wall for i in ids])
        if key != "deletes.load_tombstones":
            m[f"{key}_jobs"] = _mean([len(tr.subtree_jobs(i)) for i in ids])

    # search requests: the call (until the lazy DataFrame) and the collect
    reqs = in_rounds("request.search")
    calls = [c for c in (child(r, "query.search") for r in reqs) if c is not None]
    execs = [c for c in (child(r, "query.execute") for r in reqs) if c is not None]
    m["query.search_call_s"] = _mean([tr.spans[c].wall for c in calls])
    m["query.search_call_jobs"] = _mean([len(tr.subtree_jobs(c)) for c in calls])
    ex = [job_sums(tr.subtree_jobs(c)) for c in execs]
    m["query.execute_s"] = _mean([tr.spans[c].wall for c in execs])
    for k, key in (("jobs", "jobs"), ("stages", "stages"), ("tasks", "tasks"),
                   ("shuffle_bytes", "shuffle_write"), ("executor_run_s", "run_s")):
        m[f"query.execute_{k}"] = _mean([e[key] for e in ex])
    ewall = sum(tr.spans[c].wall for c in execs)
    m["query.execute_core_busy_share"] = (
        sum(e["run_s"] for e in ex) / (ewall * cores) if ewall else 0.0)

    # the DSL front doors, per request
    for op in ("bool", "phrase"):
        sums = [job_sums(tr.subtree_jobs(r)) for r in in_rounds(f"request.{op}")]
        m[f"query.{op}_jobs"] = _mean([s["jobs"] for s in sums])
        m[f"query.{op}_executor_run_s"] = _mean([s["run_s"] for s in sums])

    # pruning, from search(..., with_stats=True) over the run's searches
    st = getattr(bench, "prune", None) or {}
    bt, bt_all = st.get("blocks_touched", 0), st.get("blocks_total", 0)
    pt, pt_all = st.get("postings_touched", 0), st.get("postings_total", 0)
    m.update({
        "query.blocks_touched": bt,
        "query.block_prune_share": 1.0 - bt / bt_all if bt_all else 0.0,
        "query.postings_touched": pt,
        "query.postings_prune_share": 1.0 - pt / pt_all if pt_all else 0.0,
        "query.candidates": st.get("candidates", 0),
    })

    # mining sweeps
    mreqs = in_rounds("request.mining")
    mc = [c for c in (child(r, "query.search_mining") for r in mreqs) if c is not None]
    me = [c for c in (child(r, "query.execute") for r in mreqs) if c is not None]
    ms = [job_sums(tr.subtree_jobs(r)) for r in mreqs]
    mwall = sum(tr.spans[r].wall for r in mreqs)
    m["query.mining_call_s"] = _mean([tr.spans[c].wall for c in mc])
    m["query.mining_execute_s"] = _mean([tr.spans[c].wall for c in me])
    m["query.mining_jobs"] = _mean([s["jobs"] for s in ms])
    m["query.mining_tasks"] = _mean([s["tasks"] for s in ms])
    m["query.mining_shuffle_bytes"] = _mean([s["shuffle_write"] for s in ms])
    m["query.mining_executor_cpu_s"] = _mean([s["cpu_s"] for s in ms])
    m["query.mining_core_busy_share"] = (
        sum(s["run_s"] for s in ms) / (mwall * cores) if mwall else 0.0)

    # appends
    areqs = in_rounds("request.append")
    ac = [c for c in (child(r, "append.append_index") for r in areqs) if c is not None]
    asum = [job_sums(tr.subtree_jobs(r)) for r in areqs]
    m["append.append_index_s"] = _mean([tr.spans[c].wall for c in ac])
    m["append.jobs"] = _mean([s["jobs"] for s in asum])
    m["append.stages"] = _mean([s["stages"] for s in asum])
    m["append.shuffle_write_bytes"] = _mean([s["shuffle_write"] for s in asum])
    m["append.executor_run_s"] = _mean([s["run_s"] for s in asum])
    pdir = os.path.join(bench.index, "postings")
    m["append.shards_after"] = float(sum(n.startswith("shard=") for n in os.listdir(pdir))) \
        if areqs else 0.0

    # layer sums against each operation's end-to-end wall
    cover, gaps, job_cover = {}, [], {}
    for op, (req_name, layers) in OPS.items():
        ids = tr.find(req_name) if op == "build" else in_rounds(req_name)
        wall = sum(tr.spans[i].wall for i in ids)
        if not wall:
            m[f"trace.{op}_layer_cover"] = 0.0
            continue
        if op == "build":
            covered = sum(float(secs.get(s, 0.0)) for s in BUILD_STAGES)
        else:
            covered = sum(tr.spans[c].wall for i in ids for c in tr.spans[i].children
                          if tr.spans[c].name in layers)
        cover[op] = covered / wall
        m[f"trace.{op}_layer_cover"] = cover[op]
        if cover[op] < 1.0 - LAYER_GAP:
            gaps.append(op)
        job_cover[op] = sum(busy_union(tr.subtree_jobs(i), tr.spans[i].start, tr.spans[i].end)
                            for i in ids) / wall
    swall = sum(tr.spans[r].wall for r in reqs)
    m["query.unattributed_share"] = (
        1.0 - sum(tr.spans[c].wall for c in calls + execs) / swall if swall else 0.0)
    m["trace.overhead_share"] = overhead_share
    return m, {"layer_gaps_over_10pct": gaps, "spark_job_cover": job_cover}

