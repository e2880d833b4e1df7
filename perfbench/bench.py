"""The benchmark process: one run of one workload, or with ``--size
smoke --workload all`` every workload at toy size in one process
(untraced and traced; ``ingest`` untraced only, since the traced
``batch`` run covers its layers).

``run.py`` starts this in a session of its own, samples the process
tree's memory and reaps it. Lines starting with ``#`` are information;
each run ends with one line ``RESULT {json}``.

Workloads (one closed-loop client each, on ``local[nproc]``):

- ``serve``: ``DriverSearcher.search`` of Zipf 1-3-term queries whose
  terms are all warmed into the searcher's cache, so the timed phase
  launches no Spark job (asserted).
- ``batch``: one 50-query ``search_many`` on the ``prepare_serving``
  layout, collected.
- ``ingest``: one CDC micro-batch, ``apply_cdc`` ->
  ``save_snapshot_delta`` -> ``load_snapshot`` -> a fresh
  ``DriverSearcher`` answers the batch's token; ``compact_snapshot``
  after every ``CYCLE`` commits. A commit launches about fifty Spark
  jobs and takes about ten seconds on four cores, so ``ingest`` runs
  too long for the run budget of BENCHMARK.json and is not listed
  there; run it by hand.
  The traced ``batch`` run applies one such cycle to its own index, so
  the write path's layers are measured in every traced set.

``setup_s`` (time-to-serve) runs from ``build_session``, which
launches the JVM, through ``build_and_save`` and ``load_snapshot`` to
the first timed operation being ready: what a fresh serving process
pays. One set-up per run: each costs tens of Spark jobs, and the run
budget has room for one.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import random
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import inputs  # noqa: E402
from meter import (  # noqa: E402
    DriverShims,
    JobMeter,
    host_canary_s,
    median,
    percentile,
    tree_cpu_s,
)

WORKLOADS = ("serve", "batch", "ingest")
K = 10
#: hits asked for a CDC batch token: more than any batch inserts
TOKEN_K = 100
#: per-workload input sizes and run shape; "smoke" is the toy size the
#: benchmark's own test runs
SIZES = {
    "full": {
        "serve": dict(n_convs=1000, vocab=1500, n_queries=40000,
                      gate_sample=60),
        "batch": dict(n_convs=1500, vocab=500, n_batches=16, batch_q=50),
        "ingest": dict(n_convs=300, vocab=1000),
        "cdc": dict(n_cdc=12, updates=30, replaces=10, deletes=20, inserts=20),
    },
    "smoke": {
        "serve": dict(n_convs=30, vocab=300, n_queries=300, gate_sample=10),
        "batch": dict(n_convs=30, vocab=200, n_batches=2, batch_q=10),
        "ingest": dict(n_convs=30, vocab=200),
        "cdc": dict(n_cdc=8, updates=4, replaces=2, deletes=2, inserts=3),
    },
}
#: commits per compaction cycle on ``ingest``; the timed phase runs
#: whole cycles, so every run's commits have the same chain-depth mix
CYCLE = 2
#: percentile reported as ``latency_tail_ms``, fixed per workload so
#: runs compare. ``serve``: p99 of each window, ~20 samples beyond it.
#: ``batch`` makes ~14 calls in 10 s, too few for any percentile above
#: the median with ten beyond it; p75 is its upper quartile. ``ingest``: slowest commit.
TAIL_PCT = {"serve": 99.0, "batch": 75.0, "ingest": 100.0}
#: window width for ``serve``'s per-core statistics (see Run.windowed)
WINDOW_S = 0.5

#: every per-layer metric, printed by every traced run; a layer the
#: workload bypasses reads 0
PER_LAYER = {
    "build.wall_s": "s", "build.jobs": "count", "build.stages": "count",
    "build.tasks": "count", "build.executor_cpu_s": "s",
    "build.shuffle_write_mb": "MB", "build.turns_per_s": "1/s",
    "tables.load_s": "s", "tables.load_jobs": "count",
    "tables.fold_load_s": "s", "tables.fold_load_jobs": "count",
    "tables.chain_depth": "count",
    "tables.delta_commit_s": "s", "tables.delta_bytes_per_event": "B",
    "tables.compact_s": "s", "tables.compact_mb_rewritten": "MB",
    "serving.prepare_s": "s", "serving.prepare_jobs": "count",
    "serving.shuffle_write_mb": "MB",
    "driver.parse_us": "us", "driver.score_us": "us",
    "driver.other_us": "us", "driver.postings_per_query": "count",
    "driver.jobs_per_query": "count",
    "driver.init_s": "s", "driver.warm_s": "s",
    "driver.first_query_ms": "ms", "driver.terms_fetched": "count",
    "driver.decode_blocks": "count", "driver.decode_ms": "ms",
    "batch.jobs_per_call": "count", "batch.stages_per_call": "count",
    "batch.tasks_per_call": "count",
    "batch.executor_cpu_ms_per_query": "ms",
    "batch.executor_run_ms_per_query": "ms",
    "batch.shuffle_read_kb_per_call": "kB",
    "batch.driver_ms_per_call": "ms",
    "cdc.apply_s": "s", "cdc.jobs_per_commit": "count",
    "cdc.stages_per_commit": "count", "cdc.executor_cpu_s": "s",
    "cdc.shuffle_write_mb": "MB", "cdc.affected_terms": "count",
    "process.cpu_ms_per_op": "ms", "process.host_canary_s": "s",
}


class Run:
    """One workload run: inputs, Spark session, meter, gate results."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 size: str, work: str) -> None:
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.p = SIZES[size][workload]
        self.cdc = SIZES[size]["cdc"]
        self.work = os.path.join(work, f"{workload}-{int(trace)}")
        self.cores = len(os.sched_getaffinity(0))
        self.spark = None
        self.meter = JobMeter(None, enabled=trace)
        self.layers = {name: 0.0 for name in PER_LAYER}
        self.mismatches: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.info: dict = {"workload": workload, "seed": seed,
                           "trace": int(trace), "cores": self.cores}

    # -- inputs ----------------------------------------------------------------
    def make_inputs(self) -> None:
        """Generate the corpus (and CDC batches) before any session."""
        p = self.p
        self.corpus = inputs.make_corpus(
            os.path.join(self.work, "input", "turns.parquet"),
            self.seed, p["n_convs"], p["vocab"])
        self.info["corpus"] = {
            "turns": self.corpus.n_turns, "text_bytes": self.corpus.text_bytes,
            "distinct_terms": self.corpus.distinct_terms}
        if self.workload == "ingest" or (self.workload == "batch" and self.trace):
            self.batches = inputs.make_cdc_batches(
                os.path.join(self.work, "input", "cdc"), self.seed, self.corpus,
                **self.cdc)
            self.info["cdc"] = {"batches": len(self.batches),
                                "events_per_batch": self.batches[0].n_events}

    # -- session and set-up ----------------------------------------------------
    def new_session(self):
        from pyspark.sql import SparkSession

        from meilibridge_spark.session import build_session

        active = SparkSession.getActiveSession()
        if active is not None:
            active.stop()
        self.spark = build_session(
            "perfbench", cores=self.cores, shuffle_partitions=self.cores,
            extra_conf={
                "spark.driver.memory": "1g",
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            },
        )
        self.meter.rebind(self.spark)

    def config(self):
        from meilibridge_spark.config import IndexConfig

        return IndexConfig(index_name=f"perfbench-{self.workload}")

    def setup(self, ready):
        """Start a Spark session, build the corpus with
        ``build_and_save``, load it with ``load_snapshot`` and call
        ``ready(index)``, which makes the first operation ready and
        returns the serving object. Returns (index, server)."""
        from meilibridge_spark.plans.build import build_and_save
        from meilibridge_spark.sources.tables import load_snapshot

        self.index_dir = os.path.join(self.work, "index")
        t0 = time.perf_counter()
        self.new_session()
        t1 = time.perf_counter()
        src = self.spark.read.parquet(self.corpus.path)
        with self.meter.span("build"):
            build_and_save(self.spark, src, self.config(), self.index_dir)
        t2 = time.perf_counter()
        with self.meter.span("tables.load"):
            idx = load_snapshot(self.spark, self.index_dir, self.config())
        t3 = time.perf_counter()
        server = ready(idx)
        t4 = time.perf_counter()
        self.setup_s = t4 - t0
        self.info["setup_phases_s"] = {
            "session": t1 - t0, "build": t2 - t1, "load": t3 - t2, "ready": t4 - t3}
        if self.trace:
            self._setup_layers()
        return idx, server

    def _setup_layers(self) -> None:
        m, L = self.meter, self.layers
        (build,), (load,) = m.of("build"), m.of("tables.load")
        L.update({
            "build.wall_s": build.wall_s,
            "build.jobs": build.jobs,
            "build.stages": build.stages,
            "build.tasks": build.tasks,
            "build.executor_cpu_s": build.cpu_ms / 1e3,
            "build.shuffle_write_mb": build.shuffle_write_b / 1e6,
            "build.turns_per_s": self.corpus.n_turns / build.wall_s,
            "tables.load_s": load.wall_s,
            "tables.load_jobs": load.jobs,
        })
        for sp in m.of("serving.prepare"):
            L.update({"serving.prepare_s": sp.wall_s, "serving.prepare_jobs": sp.jobs,
                      "serving.shuffle_write_mb": sp.shuffle_write_b / 1e6})
        for name in ("driver.init", "driver.warm"):
            for sp in m.of(name):
                L[f"{name}_s"] = sp.wall_s
        m.spans.clear()

    # -- timing ----------------------------------------------------------------
    def op(self, fn, *args) -> float:
        """Run one operation; returns its latency, inf when it raised
        (counted as failed: it misses any latency limit)."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            fn(*args)
        except Exception as exc:  # noqa: BLE001 - counted, the run goes on
            self.failed += 1
            print(f"# operation failed: {exc!r}", file=sys.stderr)
            return float("inf")
        return time.perf_counter() - t0

    def closed_loop(self, fn, items, rotate=False) -> "tuple[list[float], list[float]]":
        """Call ``fn(item)`` back to back, cycling over ``items``, for
        ``seconds``. Returns the latencies and each operation's end time
        from the start of the loop.

        ``rotate``: pin the calling thread to the next CPU at each
        ``WINDOW_S`` boundary, so a single-threaded client spends equal
        time on every core; otherwise one core slowed by a neighbour
        for the whole phase sets the result."""
        lat: list[float] = []
        ends: list[float] = []
        cpus = sorted(os.sched_getaffinity(0))
        window = -1
        cpu0 = time.thread_time()
        t_start = time.perf_counter()
        try:
            while (now := time.perf_counter() - t_start) < self.seconds:
                if rotate and int(now // WINDOW_S) != window:
                    window = int(now // WINDOW_S)
                    os.sched_setaffinity(0, {cpus[window % len(cpus)]})
                lat.append(self.op(fn, items[len(lat) % len(items)]))
                ends.append(time.perf_counter() - t_start)
        finally:
            os.sched_setaffinity(0, cpus)
        self.info["timed_s"] = now
        self.info["timed_thread_cpu_s"] = time.thread_time() - cpu0
        return lat, ends

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.mismatches.append(what)
            print(f"# MISMATCH: {what}", file=sys.stderr)

    def windowed(self, lat: "list[float]", ends: "list[float]") -> dict:
        """``serve``'s latency and throughput from ``WINDOW_S`` windows
        of the timed phase, which rotates the client over the cores
        (``closed_loop(rotate=True)``). Per core, the median over its
        windows of each window's p50, tail percentile and throughput;
        then the fastest core's figures. A neighbour that slows some
        cores, or a burst that slows some windows, does not move them;
        a slower program slows every core and does. A window's
        throughput is its completed operations over the time from the
        previous window's last completion to its own."""
        pct = TAIL_PCT[self.workload]
        n = max(1, int(self.seconds // WINDOW_S))
        n_cpu = len(os.sched_getaffinity(0))
        wins: list[list[tuple[float, float]]] = [[] for _ in range(n)]
        for t, x in zip(ends, lat):
            wins[min(n - 1, int(t // WINDOW_S))].append((t, x))
        per_cpu: dict = {}
        prev_end = 0.0
        for k, w in enumerate(wins):
            if not w:
                continue
            xs = [x for _, x in w]
            per_cpu.setdefault(k % n_cpu, []).append((
                percentile(xs, 50), percentile(xs, pct),
                sum(x != float("inf") for x in xs) / (w[-1][0] - prev_end)))
            prev_end = w[-1][0]
        cores = [[median(col) for col in zip(*ws)] for ws in per_cpu.values()]
        self.info["per_core_p50_ms"] = [round(c[0] * 1e3, 4) for c in cores]
        return {"latency_p50_ms": min(c[0] for c in cores) * 1e3,
                "latency_tail_ms": min(c[1] for c in cores) * 1e3,
                "throughput_per_s": max(c[2] for c in cores)}

    def result(self, lat: "list[float]", work_done: float, busy_s: float,
               bytes_per_text_byte: float, ends: "list[float] | None" = None) -> dict:
        self.info["samples"] = len(lat)
        self.info["tail_percentile"] = TAIL_PCT[self.workload]
        if ends is not None:
            timing = self.windowed(lat, ends)
        else:
            timing = {
                "latency_p50_ms": percentile(lat, 50) * 1e3,
                "latency_tail_ms": percentile(lat, TAIL_PCT[self.workload]) * 1e3,
                "throughput_per_s": work_done / busy_s,
            }
        m = {
            "setup_s": (self.setup_s, "s"),
            "latency_p50_ms": (timing["latency_p50_ms"], "ms"),
            "latency_tail_ms": (timing["latency_tail_ms"], "ms"),
            "throughput_per_s": (timing["throughput_per_s"], "1/s"),
            "index_bytes_per_text_byte": (bytes_per_text_byte, "ratio"),
        }
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in m.items()}
        if self.trace:
            self.info["end_to_end"] = {k: v for k, (v, _) in m.items()}
            metrics = {k: {"value": v, "unit": PER_LAYER[k]}
                       for k, v in self.layers.items()}
        return {"correct": not self.mismatches, "attempted": self.attempted,
                "failed": self.failed, "metrics": metrics}


def snapshot_read_bytes(index_dir: str) -> int:
    """Bytes a ``load_snapshot`` of the current snapshot reads: the data
    files of every table of the current entry and, for a delta entry,
    of each ancestor back to its full base."""
    from meilibridge_spark.sources.tables import snapshot_log

    by_id = {s["snapshot_id"]: s for s in snapshot_log(index_dir)}
    entry = by_id[max(by_id)]
    total = 0
    while True:
        for rel in entry["tables"].values():
            for root, _, files in os.walk(os.path.join(index_dir, rel)):
                total += sum(os.path.getsize(os.path.join(root, f))
                             for f in files if not f.startswith((".", "_")))
        if not entry.get("delta"):
            return total
        entry = by_id[entry["parent_snapshot_id"]]


def same_hits(a, b) -> bool:
    """Same doc ids in the same order, scores within 1e-9."""
    return len(a) == len(b) and all(
        da == db and abs(sa - sb) <= 1e-9 for (da, sa), (db, sb) in zip(a, b))


def collect_many(df) -> "dict[str, list[tuple[int, float]]]":
    """``search_many`` output -> {query_id: [(doc_id, score)] by rank}."""
    out: dict = {}
    for r in df.select("query_id", "doc_id", "score", "rank").collect():
        out.setdefault(r["query_id"], []).append(
            (r["rank"], int(r["doc_id"]), float(r["score"])))
    return {q: [(d, s) for _, d, s in sorted(v)] for q, v in out.items()}


# -- workloads -------------------------------------------------------------------

def run_serve(run: Run) -> dict:
    import meilibridge_spark.operators.search as search_mod
    from meilibridge_spark.operators.search import DriverSearcher, search_many

    p, L = run.p, run.layers
    queries = inputs.query_log(run.seed, run.corpus, p["n_queries"])
    distinct = sorted(set(queries))
    run.info["query_log"] = {"queries": len(queries),
                             "distinct_terms": inputs.distinct_terms(queries)}
    cold: dict = {}

    def ready(idx):
        with run.meter.span("driver.init"):
            s = DriverSearcher(idx)
        with run.meter.span("driver.warm"):
            cold["terms_fetched"] = s.warm(distinct)
        t0 = time.perf_counter()
        s.search(queries[0], K)
        cold["first_query_ms"] = (time.perf_counter() - t0) * 1e3
        return s

    idx, searcher = run.setup(ready)
    for q in queries[:2000]:  # warm-up, untimed
        searcher.search(q, K)
    gc.collect()  # start the timed phase from the same heap state
    shims = DriverShims(search_mod) if run.trace else None
    try:
        with run.meter.group("serve.timed") as group:
            cpu0 = tree_cpu_s()
            lat, ends = run.closed_loop(lambda q: searcher.search(q, K), queries,
                                        rotate=True)
            cpu1 = tree_cpu_s()
    finally:
        if shims is not None:
            shims.close()
    jobs = len(run.meter.job_ids(group))
    run.check(jobs == 0, f"serve: timed phase launched {jobs} Spark jobs")

    # gate: a seeded sample, rank-identical to the distributed path
    sample = random.Random(run.seed).sample(distinct, min(p["gate_sample"], len(distinct)))
    want = collect_many(search_many(idx, [(f"q{i}", q) for i, q in enumerate(sample)], k=K))
    for i, q in enumerate(sample):
        run.check(same_hits(searcher.search(q, K), want.get(f"q{i}", [])),
                  f"serve: DriverSearcher != search_many for {q!r}")

    done = [x for x in lat if x != float("inf")]
    if run.trace:
        n = len(lat)
        parse = shims.seconds["parse_query"] / n * 1e6
        score = (shims.seconds["dense_topk"] + shims.seconds["wand_topk"]) / n * 1e6
        L.update({
            "driver.parse_us": parse,
            "driver.score_us": score,
            "driver.other_us": sum(done) / n * 1e6 - parse - score,
            "driver.postings_per_query": shims.postings / n,
            "driver.jobs_per_query": jobs / n,
            "driver.first_query_ms": cold["first_query_ms"],
            "driver.terms_fetched": cold["terms_fetched"],
            "process.cpu_ms_per_op": (cpu1 - cpu0) * 1e3 / n,
        })
    return run.result(lat, len(done), ends[-1],
                      snapshot_read_bytes(run.index_dir) / run.corpus.text_bytes, ends)


def run_batch(run: Run) -> dict:
    from meilibridge_spark.operators.search import (
        DriverSearcher,
        prepare_serving,
        search_many,
    )

    p, L = run.p, run.layers
    nq = p["batch_q"]
    queries = inputs.query_log(run.seed, run.corpus, p["n_batches"] * nq)
    batches = [[(f"b{b}q{i}", q) for i, q in enumerate(queries[b * nq:(b + 1) * nq])]
               for b in range(p["n_batches"])]
    run.info["query_log"] = {"queries": len(queries),
                             "distinct_terms": inputs.distinct_terms(queries)}

    def ready(idx):
        with run.meter.span("serving.prepare"):
            prepare_serving(idx)
        return idx

    idx, _ = run.setup(ready)
    for b in batches[:2]:  # warm-up: Python-worker forks, codegen
        search_many(idx, b, k=K).collect()
    got: list = []

    def call(b):
        with run.meter.span("batch.call"):
            got.append((b, collect_many(search_many(idx, b, k=K))))

    cpu0 = tree_cpu_s()
    lat, ends = run.closed_loop(call, batches)
    cpu1 = tree_cpu_s()

    # gate: every call's hits equal DriverSearcher's for the same queries
    searcher = DriverSearcher(idx)
    searcher.warm(queries)
    want = {qid: searcher.search(q, K) for b in batches for qid, q in b}
    for b, hits in got:
        for qid, q in b:
            run.check(same_hits(hits.get(qid, []), want[qid]),
                      f"batch: search_many != DriverSearcher for {q!r}")

    done = sum(1 for x in lat if x != float("inf"))
    ratio = snapshot_read_bytes(run.index_dir) / run.corpus.text_bytes
    if run.trace:
        # the write path rides on the traced run only: one compaction
        # cycle of CDC commits on this index (see module docstring)
        calls = run.meter.of("batch.call")
        run.meter.spans.clear()
        ing = Ingest(run, idx, queries[0])
        try:
            ing.cycle()
        finally:
            ing.close()
        L.update(ing.layers())
        n = len(calls)
        L.update({
            "batch.jobs_per_call": sum(c.jobs for c in calls) / n,
            "batch.stages_per_call": sum(c.stages for c in calls) / n,
            "batch.tasks_per_call": sum(c.tasks for c in calls) / n,
            "batch.executor_cpu_ms_per_query": sum(c.cpu_ms for c in calls) / (n * nq),
            "batch.executor_run_ms_per_query": sum(c.run_ms for c in calls) / (n * nq),
            "batch.shuffle_read_kb_per_call": sum(c.shuffle_read_b for c in calls) / n / 1e3,
            "batch.driver_ms_per_call": median(
                [(c.wall_s - c.job_busy_s) * 1e3 for c in calls]),
            "process.cpu_ms_per_op": (cpu1 - cpu0) * 1e3 / len(lat),
        })
    return run.result(lat, done * nq, ends[-1], ratio)


class Ingest:
    """The write path: CDC micro-batches applied in order to the index
    of ``run``, each made visible to a fresh ``DriverSearcher``, with a
    compaction after every ``CYCLE`` commits. Gates run after each
    commit and around each compaction, outside the timings."""

    def __init__(self, run: Run, idx, probe: str) -> None:
        import meilibridge_spark.operators.search as search_mod

        self.run, self.idx, self.probe = run, idx, probe
        self.cfg = run.config()
        self.next = 0
        self.origin: dict = {}  # inserted key -> token of its batch
        self.commits: list[dict] = []
        self.busy_s = 0.0
        self.shims = DriverShims(search_mod) if run.trace else None

    def close(self) -> None:
        if self.shims is not None:
            self.shims.close()

    def keys_of(self, hits) -> "set[tuple[str, int]]":
        from pyspark.sql import functions as F

        ids = [d for d, _ in hits]
        if not ids:
            return set()
        rows = (self.idx.docs.filter(F.col("doc_id").isin(ids))
                .select("conv_id", "turn_idx").collect())
        return {(r["conv_id"], int(r["turn_idx"])) for r in rows}

    def search(self, tokens) -> dict:
        from meilibridge_spark.operators.search import DriverSearcher

        s = DriverSearcher(self.idx)
        return {t: s.search(t, TOKEN_K) for t in tokens}

    def commit(self, b) -> None:
        """One micro-batch, from the CDC file to visible."""
        from meilibridge_spark.operators.search import DriverSearcher
        from meilibridge_spark.plans.incremental import apply_cdc
        from meilibridge_spark.sources.cdc import CDC_SCHEMA
        from meilibridge_spark.sources.tables import load_snapshot, save_snapshot_delta

        run, m = self.run, self.run.meter
        with m.span("cdc.apply"):
            cdc = run.spark.read.schema(CDC_SCHEMA).parquet(b.path)
            merged = apply_cdc(self.idx, cdc, self.cfg)
        with m.span("tables.delta_commit"):
            save_snapshot_delta(merged, run.index_dir)
        with m.span("tables.fold_load"):
            self.idx = load_snapshot(run.spark, run.index_dir, self.cfg)
        with m.span("driver.init"):
            s = DriverSearcher(self.idx)
        if self.shims is not None:
            self.shims.reset()
        with m.span("driver.first_query"):
            self.hits = s.search(b.token, TOKEN_K)

    def gate(self, b) -> None:
        """The batch's token returns exactly its inserted turns; no turn
        it deleted comes back for the token of the batch that inserted
        it."""
        run = self.run
        run.check(self.keys_of(self.hits) == set(b.inserted),
                  f"ingest: {b.token} does not return exactly its inserted turns")
        gone = [k for k in b.deleted if k in self.origin]
        found = self.search({self.origin[k] for k in gone})
        for key in gone:
            run.check(key not in self.keys_of(found[self.origin[key]]),
                      f"ingest: deleted turn {key} still returned")
        self.origin.update((k, b.token) for k in b.inserted)

    def cycle(self) -> None:
        """``CYCLE`` commits, then a compaction."""
        from meilibridge_spark.sources.tables import (
            compact_snapshot,
            load_snapshot,
            snapshot_log,
        )

        run, m = self.run, self.run.meter
        for _ in range(CYCLE):
            if self.next >= len(run.batches):
                raise RuntimeError("ran out of pre-generated CDC batches")
            b = run.batches[self.next]
            self.next += 1
            lat = run.op(self.commit, b)
            self.busy_s += lat
            rec = {"lat": lat, "events": b.n_events,
                   "bytes_ratio": snapshot_read_bytes(run.index_dir) / b.live_text_bytes}
            if self.shims is not None:
                tip = snapshot_log(run.index_dir)[-1]
                rec.update(
                    terms=self.shims.terms,
                    decode=(self.shims.calls["decode_block"],
                            self.shims.seconds["decode_block"]),
                    depth=tip["metrics"]["delta_levels"],
                    delta_bytes=tip["metrics"]["delta_bytes"] / b.n_events,
                    affected=run.spark.read.parquet(os.path.join(
                        run.index_dir, tip["tables"]["affected_terms"])).count())
            self.commits.append(rec)
            if lat != float("inf"):
                self.gate(b)
        tokens = [run.batches[i].token for i in range(self.next)] + [self.probe]
        before = self.search(tokens)
        t0 = time.perf_counter()
        with m.span("tables.compact"):
            compact_snapshot(run.spark, run.index_dir, self.cfg)
        self.idx = load_snapshot(run.spark, run.index_dir, self.cfg)
        self.busy_s += time.perf_counter() - t0
        run.check(self.search(tokens) == before, "ingest: answers changed across compaction")

    def layers(self) -> dict:
        """Per-layer metrics of the traced write path."""
        from meilibridge_spark.sources.tables import snapshot_log

        m, cs = self.run.meter, self.commits
        merge = [(a.wall_s, a.jobs + s.jobs, a.stages + s.stages, a.cpu_ms + s.cpu_ms,
                  a.shuffle_write_b + s.shuffle_write_b)
                 for a, s in zip(m.of("cdc.apply"), m.of("tables.delta_commit"))]
        firsts = m.of("driver.first_query")
        return {
            "tables.fold_load_s": median([s.wall_s for s in m.of("tables.fold_load")]),
            "tables.fold_load_jobs": median([s.jobs for s in m.of("tables.fold_load")]),
            "tables.chain_depth": max(c["depth"] for c in cs),
            "tables.delta_commit_s": median([s.wall_s for s in m.of("tables.delta_commit")]),
            "tables.delta_bytes_per_event": median([c["delta_bytes"] for c in cs]),
            "tables.compact_s": median([s.wall_s for s in m.of("tables.compact")]),
            "tables.compact_mb_rewritten": median(
                [sum(t["bytes"] for t in s["metrics"]["compaction"]["after"].values()) / 1e6
                 for s in snapshot_log(self.run.index_dir)
                 if "compaction" in s.get("metrics", {})]),
            "cdc.apply_s": median([x[0] for x in merge]),
            "cdc.jobs_per_commit": median([x[1] for x in merge]),
            "cdc.stages_per_commit": median([x[2] for x in merge]),
            "cdc.executor_cpu_s": median([x[3] for x in merge]) / 1e3,
            "cdc.shuffle_write_mb": median([x[4] for x in merge]) / 1e6,
            "cdc.affected_terms": median([c["affected"] for c in cs]),
            "driver.init_s": median([s.wall_s for s in m.of("driver.init")]),
            "driver.first_query_ms": median([s.wall_s for s in firsts]) * 1e3,
            "driver.jobs_per_query": median([s.jobs for s in firsts]),
            "driver.terms_fetched": median([c["terms"] for c in cs]),
            "driver.decode_blocks": median([c["decode"][0] for c in cs]),
            "driver.decode_ms": median([c["decode"][1] for c in cs]) * 1e3,
        }


def run_ingest(run: Run) -> dict:
    from meilibridge_spark.operators.search import DriverSearcher

    probe = inputs.query_log(run.seed, run.corpus, 1)[0]
    idx, _ = run.setup(lambda idx: DriverSearcher(idx).search(probe, K))
    ing = Ingest(run, idx, probe)
    try:
        cpu0 = tree_cpu_s()
        t_start = time.perf_counter()
        while time.perf_counter() - t_start < run.seconds:
            ing.cycle()
        cpu1 = tree_cpu_s()
    finally:
        ing.close()
    cs = ing.commits
    run.info["commits"] = len(cs)
    if run.trace:
        run.layers.update(ing.layers())
        run.layers["process.cpu_ms_per_op"] = (cpu1 - cpu0) * 1e3 / len(cs)
    return run.result(
        [c["lat"] for c in cs],
        sum(c["events"] for c in cs if c["lat"] != float("inf")), ing.busy_s,
        sum(c["bytes_ratio"] for c in cs) / len(cs))


RUNNERS = {"serve": run_serve, "batch": run_batch, "ingest": run_ingest}


def shutdown_spark() -> None:
    """Stop the session and the JVM gateway, and wait for the JVM."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--size", choices=tuple(SIZES), default="full")
    ap.add_argument("--work", required=True, help="scratch directory for this run")
    args = ap.parse_args(argv)
    if args.workload == "all" and args.size != "smoke":
        ap.error("--workload all runs only at --size smoke")
    plan = ([(w, t) for w in WORKLOADS for t in (False, True)][:-1]
            if args.workload == "all" else [(args.workload, bool(args.trace))])

    canary = host_canary_s()
    runs = [Run(w, args.seed, args.seconds, t, args.size, args.work) for w, t in plan]
    for run in runs:
        run.make_inputs()
    ok = True
    try:
        for run in runs:
            res = RUNNERS[run.workload](run)
            if run.trace:
                res["metrics"]["process.host_canary_s"]["value"] = canary
            run.info["host_canary_s"] = canary
            print("# info " + json.dumps(run.info), flush=True)
            print("RESULT " + json.dumps(res), flush=True)
            ok = ok and res["correct"]
    finally:
        shutdown_spark()
    return 0 if ok else 2


if __name__ == "__main__":
    sys.exit(main())
