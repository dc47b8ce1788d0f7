"""The two workloads: one client driving the engine's front doors.

``serve``  read-only rounds of three searches, one bool_search (must_not)
           and one phrase_search (exact or sloppy) over the base index.
``ingest`` rounds of append_index on a new batch of conversations, then
           three searches and one search_mining sweep of the batch's own
           turns, all against the index the append just grew.

A run sets up (Spark session and base index build), then repeats rounds
until ``--seconds`` have passed (at least one round). Every answer is
computed by the DuckDB oracle before timing starts and checked after each
request.
"""

from __future__ import annotations

import os
import signal
import subprocess
import tempfile
import time
from dataclasses import dataclass

from perfbench import inputs
from perfbench.oracle import Oracle, check_topk
from perfbench.trace import Tracer

INDEX_CONFIG = dict(num_shards=2, salt_buckets=4, doc_order="doclen")
# one round of each workload; a search step names its FIXTURES.md query
# kind, so every round, whatever the seed, has the same mix
ROUNDS = {
    "serve": ("search:hot", "bool", "search:dup", "phrase", "search:mixed"),
    "ingest": ("append", "search:hot", "mining", "search:dup", "search:mixed"),
}
MAX_ROUNDS = 5  # answers are precomputed for this many rounds


@dataclass
class Step:
    op: str
    req: object
    want: object  # oracle answer: {key: score}, {qid: {key: score}} or a doc count


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            tids = os.listdir(f"/proc/{p}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{p}/task/{tid}/children") as f:
                    kids = [int(c) for c in f.read().split()]
            except OSError:
                continue
            out.extend(kids)
            todo.extend(kids)
    return out


def _vm_hwm_mb(pids: list[int]) -> float:
    kb = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as f:
                kb += sum(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
        except OSError:
            pass
    return kb / 1024.0


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, n))
               for d, _dirs, names in os.walk(path) for n in names)


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, traced: bool,
                 workdir: str, driver_memory: str):
        self.workload, self.seconds, self.traced = workload, seconds, traced
        self.driver_memory = driver_memory
        self.tracer = Tracer(traced)
        self.rundir = tempfile.mkdtemp(prefix=f"{workload}-", dir=workdir)
        self.index = os.path.join(self.rundir, "index")
        self.events = os.path.join(self.rundir, "events")
        self.corpus = inputs.corpus(seed)
        self.requests = inputs.Requests(seed, self.corpus.base)
        self.cores = len(os.sched_getaffinity(0))
        self.walls: dict[str, list[float]] = {}
        self.round_walls: list[float] = []
        self.attempted = 0
        self.wrong: list[str] = []
        self.searches: list[tuple[int, str, int]] = []
        self.mining_queries = 0
        self.spark = None
        self.peak_rss_mb = 0.0

    # ---- inputs and answers (before timing) ------------------------------

    def plan(self) -> list[list[Step]]:
        ops = ROUNDS[self.workload]
        rounds = []
        for r in range(MAX_ROUNDS):
            n_batches = r + 1 if "append" in ops else 0
            if n_batches > len(self.corpus.batches):
                break
            orc = Oracle(self.corpus.state(n_batches))
            steps = []
            for op in ops:
                op, _, kind = op.partition(":")
                if op == "search":
                    q = self.requests.search(kind)
                    steps.append(Step(op, q, orc.bm25([(q.qid, q.text)]).get(q.qid, {})))
                elif op == "bool":
                    q = self.requests.bool()
                    steps.append(Step(op, q, orc.bm25([(q.qid, q.text)],
                                                      {q.qid: q.must_not}).get(q.qid, {})))
                elif op == "phrase":
                    q = self.requests.phrase()
                    steps.append(Step(op, q, orc.phrase(q.qid, q.text, q.slop)))
                elif op == "append":
                    steps.append(Step(op, self.corpus.batches[r], orc.n_docs))
                elif op == "mining":
                    mq = inputs.mining_queries(self.corpus.batches[r])
                    pick = self.requests.rng.choice(len(mq), size=min(3, len(mq)), replace=False)
                    sample = [(int(mq.qid[i]), mq.text[i]) for i in sorted(pick)]
                    got = orc.bm25(sample)
                    steps.append(Step(op, mq, {q: got.get(q, {}) for q, _t in sample}))
            orc.close()
            rounds.append(steps)
        return rounds

    # ---- set-up ---------------------------------------------------------

    def setup(self) -> float:
        """Spark session and base index build. There is no warm-up request:
        the run budget has no room for one, and the first request of each
        kind pays its first-call cost as in a fresh session."""
        from elastichash_spark import build, fixtures, session

        base_path = os.path.join(self.rundir, "base.parquet")
        fixtures.write_parquet(self.corpus.base, base_path)
        conf = {
            "spark.driver.memory": self.driver_memory,
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(self.rundir, "warehouse"),
        }
        if self.traced:
            os.makedirs(self.events)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.events,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.tracer.install()
        t0 = time.perf_counter()
        with self.tracer.span("setup"):
            self.spark = session.get_spark(
                app_name="perfbench", cores=self.cores, extra_conf=conf)
            with self.tracer.span("request.build") as sp:
                self.meta = build.build_index(
                    self.spark, base_path, self.index, build.IndexConfig(**INDEX_CONFIG))
        self.build_wall = sp.wall
        return time.perf_counter() - t0

    def doc_keys(self) -> dict[int, tuple[str, int]]:
        """Engine docID -> corpus key, read from the index's docs table."""
        import pyarrow.dataset as ds

        t = ds.dataset(os.path.join(self.index, "docs"), format="parquet",
                       partitioning="hive").to_table(columns=["docID", "conv_id", "turn_idx"])
        return dict(zip(t["docID"].to_pylist(),
                        zip(t["conv_id"].to_pylist(), t["turn_idx"].to_pylist())))

    # ---- the timed loop ---------------------------------------------------

    def _request(self, op: str, call, check, collect: bool = True) -> None:
        """Time one request, API call to rows on the driver. A request that
        raises or answers wrong counts as failed."""
        self.attempted += 1
        try:
            with self.tracer.span(f"request.{op}") as sp:
                res = call()
                if collect:
                    with self.tracer.span("query.execute"):
                        res = res.collect()
        except Exception as e:  # noqa: BLE001 - a failed request is a measured outcome
            self.wrong.append(f"{op}: raised {type(e).__name__}: {e}")
            return
        self.walls.setdefault(op, []).append(sp.wall)
        why = check(res)
        if why:
            self.wrong.append(f"{op}: {why}")

    def run(self) -> None:
        from elastichash_spark import append, query
        from elastichash_spark.manifest import read_manifest

        rounds = self.plan()
        self.setup_s = self.setup()
        spark, idx = self.spark, self.index
        self.keys = self.doc_keys()
        self.attempted += 1  # the build: one doc per input turn
        n_base = len(self.corpus.base)
        if len(self.keys) != n_base or self.meta.get("n_docs") != n_base:
            self.wrong.append(f"build: {len(self.keys)} docs for {n_base} input turns")

        def topk(q, want):
            return lambda rows: check_topk(rows, self.keys, want, q.k)

        def grown(want):
            def check(_meta):
                self.keys = self.doc_keys()
                n = (read_manifest(idx) or {}).get("n_docs")
                if len(self.keys) != want or n != want:
                    return f"{len(self.keys)} docs, n_docs {n}, expected {want}"
                return None
            return check

        start = time.perf_counter()
        for r, steps in enumerate(rounds):
            if r and time.perf_counter() - start >= self.seconds:
                break
            with self.tracer.span("round") as rs:
                for s in steps:
                    q = s.req
                    if s.op == "search":
                        self.searches.append((q.qid, q.text, q.k))
                        self._request("search", lambda: query.search(
                            spark, idx, [(q.qid, q.text, q.k)]), topk(q, s.want))
                    elif s.op == "bool":
                        self._request("bool", lambda: query.bool_search(
                            spark, idx, [(q.qid, q.text, q.k)], must_not={q.qid: q.must_not}),
                            topk(q, s.want))
                    elif s.op == "phrase":
                        self._request("phrase", lambda: query.phrase_search(
                            spark, idx, [(q.qid, q.text, q.k)], slop=q.slop), topk(q, s.want))
                    elif s.op == "append":
                        batch = spark.createDataFrame(q)
                        self._request("append", lambda: append.append_index(
                            spark, batch, idx, run_id=f"batch{r}"), grown(s.want), collect=False)
                    elif s.op == "mining":
                        mdf = spark.createDataFrame(q)
                        self.mining_queries = len(q)
                        self._request("mining", lambda: query.search_mining(
                            spark, idx, mdf, inputs.MINING_K), self._mining_check(s.want))
            self.round_walls.append(rs.wall)
        n_batches = len(self.round_walls) if "append" in ROUNDS[self.workload] else 0
        indexed = self.corpus.state(n_batches)
        self.text_bytes = int(indexed["text"].str.encode("utf-8").str.len().sum())
        self.index_bytes = dir_bytes(idx)
        if self.traced:
            # pruning counters of this run's searches, untimed: the stats
            # pass persists the kernel output, so it runs apart
            with self.tracer.span("untimed.prune_stats"):
                _res, self.prune = query.search(spark, idx, self.searches, with_stats=True)

    def _mining_check(self, want):
        def check(rows):
            by_q: dict[int, list] = {}
            for row in rows:
                by_q.setdefault(int(row["qid"]), []).append(row)
            for qid, full in want.items():
                why = check_topk(by_q.get(qid, []), self.keys, full, inputs.MINING_K)
                if why:
                    return f"qid {qid}: {why}"
            return None
        return check

    # ---- tear-down ------------------------------------------------------

    def stop(self) -> None:
        """Stop Spark, then the JVM and its Python workers; wait for each."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        kids = _descendants(os.getpid())
        self.peak_rss_mb = _vm_hwm_mb(kids)
        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        self.tracer.uninstall()
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.time() + 30
        for p in kids:
            while _alive(p) and time.time() < deadline:
                time.sleep(0.05)
            if _alive(p):
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
