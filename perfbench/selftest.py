#!/usr/bin/env python3
"""Self-test of the benchmark (not of the engine), at the fixtures' t1 scale.

    python3 perfbench/selftest.py

Checks, in one process, that:
1. an untraced run of each workload emits every end-to-end metric of
   BENCHMARK.json, each with a unit, and every answer is correct;
2. a deliberately corrupted search answer is counted as failed, marks the
   run incorrect and makes it exit non-zero;
3. a traced run of each workload emits every per-layer metric;
4. the DuckDB oracle agrees with the engine's own brute-force oracle
   (``oracle.oracle_topk``) on a seeded request stream.
Exits 0 when all hold.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import run  # noqa: E402

SEED = 7
SECONDS = 1.0


def _run(workload: str, trace: int) -> tuple[int, dict]:
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        rc = run.main(["--workload", workload, "--seed", str(SEED),
                       "--seconds", str(SECONDS), "--trace", str(trace)])
    lines = out.getvalue().strip().splitlines()
    return rc, json.loads(lines[-1]) if lines else {}


def _expect(cond: bool, what: str, failures: list[str]) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        failures.append(what)


def _corrupt_search():
    """Wrap query.search so each answer's top score is off by 1e-3."""
    from pyspark.sql import functions as F

    from elastichash_spark import query

    orig = query.search

    def corrupted(*args, **kwargs):
        res = orig(*args, **kwargs)
        if kwargs.get("with_stats"):
            return res
        return res.withColumn(
            "score", F.when(F.col("rank") == 1, F.col("score") + 1e-3).otherwise(F.col("score")))

    query.search = corrupted
    return lambda: setattr(query, "search", orig)


def _oracle_agreement(failures: list[str]) -> None:
    """The DuckDB oracle against oracle.oracle_topk on the base corpus."""
    from elastichash_spark import oracle as engine_oracle
    from elastichash_spark.session import get_spark
    from perfbench import inputs
    from perfbench.oracle import Oracle

    corpus = inputs.corpus(SEED)
    reqs = inputs.Requests(SEED, corpus.base)
    searches = [reqs.search(kind) for kind in inputs.SEARCH_KINDS * 3]
    duck = Oracle(corpus.base).bm25([(q.qid, q.text) for q in searches])
    spark = get_spark(app_name="perfbench-selftest", cores=2,
                      extra_conf={"spark.driver.memory": run.DRIVER_MEMORY})
    try:
        turns = spark.createDataFrame(corpus.base)
        qdf = spark.createDataFrame([(q.qid, q.text, q.k) for q in searches],
                                    "qid long, text string, k int")
        keys = {r["docID"]: (r["conv_id"], r["turn_idx"]) for r in
                engine_oracle.docs_with_ids(turns).select("docID", "conv_id", "turn_idx").collect()}
        got: dict[int, list] = {}
        for r in engine_oracle.oracle_topk(turns, qdf).collect():
            got.setdefault(r["qid"], []).append(r)
    finally:
        spark.stop()
    from perfbench.oracle import check_topk

    bad = [f"{q.qid} {q.text!r}: {why}" for q in searches
           if (why := check_topk(got.get(q.qid, []), keys, duck.get(q.qid, {}), q.k))]
    _expect(not bad, f"DuckDB oracle agrees with oracle.oracle_topk on {len(searches)} searches "
            + "; ".join(bad), failures)


def main() -> int:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    failures: list[str] = []

    for w in spec["workloads"]:
        rc, res = _run(w["name"], 0)
        got = res.get("metrics", {})
        _expect(rc == 0 and res.get("correct") is True and res.get("failed") == 0,
                f"{w['name']}: untraced run is correct (rc {rc})", failures)
        _expect({k: v.get("unit") for k, v in got.items()} == e2e,
                f"{w['name']}: emits every end-to-end metric with its unit", failures)

    restore = _corrupt_search()
    try:
        rc, res = _run("serve", 0)
    finally:
        restore()
    _expect(rc != 0 and res.get("correct") is False and res.get("failed", 0) >= 1,
            f"corrupted answers fail the run (rc {rc}, failed {res.get('failed')})", failures)

    for w in spec["workloads"]:
        rc, res = _run(w["name"], 1)
        got = res.get("metrics", {})
        _expect(rc == 0 and {k: v.get("unit") for k, v in got.items()} == layer,
                f"{w['name']}: traced run emits every per-layer metric (rc {rc})", failures)

    _oracle_agreement(failures)
    print(f"{len(failures)} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
