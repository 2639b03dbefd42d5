"""The workloads, each one closed-loop client with no think time.

Each workload function gets a ``Ctx`` and returns an ``Outcome``. It times
its own set-up, runs its ops through the engine's public doors only, and
checks every output with the oracle after the window.
"""

from __future__ import annotations

import glob
import os
import shutil
import time
from dataclasses import dataclass, field

from enginebench import host, inputs, oracle
from enginebench.trace import SparkCounters, Tracer

PAGE_SIZE = 8  # SearchUI hitsPerPage
# Per-cycle medians of news_search fall over the first three 18-op cycles (JIT
# and Spark's code cache), then level off.
SEARCH_WARM_CYCLES = 3
STREAM_TIMEOUT_S = 60


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    work: str
    inputs_dir: str
    manifest: dict
    tracer: Tracer
    counters: SparkCounters | None


@dataclass
class Outcome:
    setup_s: float
    latencies: list = field(default_factory=list)
    window_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)
    witness: dict = field(default_factory=dict)
    count_ops: set = field(default_factory=set)   # fixed-by-seed ops for counts
    window_ops: set = field(default_factory=set)  # ops timed in the window
    window_t: tuple = (0.0, 0.0)
    layer: dict = field(default_factory=dict)


def _timed_op(ctx: Ctx, op: int, body):
    """Run one op inside an ``op`` span; in the traced run, read its
    Spark counts right after it. Returns (seconds, body result), the
    result being the exception when the op raised one."""
    tr = ctx.tracer
    mark = ctx.counters.mark() if ctx.counters else None
    t = time.perf_counter()
    with tr.span("op", op):
        try:
            result = body()
        except Exception as e:  # a failed op is counted, the run goes on
            result = e
    dt = time.perf_counter() - t
    if ctx.counters:
        with tr.span("trace.read", op):
            c = ctx.counters.read(mark, ctx.counters.mark())
        for k, v in c.items():
            tr.count(f"spark.{k}", v, op)
    return dt, result


def _collect(ctx: Ctx, df, op: int):
    """Action on a door's frame; the traced run forces planning first so
    planning and execution time separate."""
    tr = ctx.tracer
    if tr.enabled:
        with tr.span("spark.plan", op):
            df._jdf.queryExecution().executedPlan()
    with tr.span("spark.exec", op):
        return df.collect()


def _build(ctx: Ctx, op: int, door):
    tr = ctx.tracer
    mark = ctx.counters.mark() if ctx.counters else None
    with tr.span("engine.build", op):
        out = door()
    if ctx.counters:
        tr.count("engine.build_jobs", ctx.counters.mark()[0] - mark[0], op)
    return out


def news_search(ctx: Ctx) -> Outcome:
    """Set-up is the first Engine and its index build+warm. After
    ``SEARCH_WARM_CYCLES`` warm-up cycles the window runs as many whole op
    cycles as the last warm-up cycle says fill ``ctx.seconds`` (at least
    one), so every run times the same op mix."""
    from pandemic_knowledge_spark.engine import Engine

    t = time.perf_counter()
    with ctx.tracer.span("engine.index_build", "setup"):
        eng = Engine(ctx.spark, ctx.inputs_dir)
        eng.search_index()
    out = Outcome(setup_s=time.perf_counter() - t)

    cycle = inputs.search_cycle(ctx.manifest["queries"])
    results: list[tuple] = []

    def run_op(op: int, query: str, page: int) -> float:
        def body():
            df = _build(ctx, op, lambda: eng.search(query, k=PAGE_SIZE, page=page))
            return _collect(ctx, df, op)

        dt, rows = _timed_op(ctx, op, body)
        results.append((query, page, rows if isinstance(rows, Exception) else
                        [(r["doc_id"], r["score"], r["highlighted"]) for r in rows]))
        return dt

    op = 0
    for _ in range(SEARCH_WARM_CYCLES):
        t = time.perf_counter()
        for query, page in cycle:
            run_op(op, query, page)
            out.count_ops.add(op)
            op += 1
        cycle_s = time.perf_counter() - t

    win = host.Window()
    win.start()
    t0 = time.perf_counter()
    for _ in range(max(1, round(ctx.seconds / cycle_s))):
        for query, page in cycle:
            out.latencies.append(run_op(op, query, page))
            out.window_ops.add(op)
            op += 1
    out.window_t = (t0, time.perf_counter())
    out.window_s = out.window_t[1] - t0
    out.witness.update(win.stop())

    out.attempted = len(results)
    check = oracle.SearchOracle(f"{ctx.inputs_dir}/documents.parquet")
    for query, page, rows in results:
        problems = ([f"search {query!r} page {page} raised {rows!r}"]
                    if isinstance(rows, Exception) else check.check(query, PAGE_SIZE, page, rows))
        out.failed += bool(problems)
        out.problems += problems
    return out


def _run_to_end(query) -> list[str]:
    """Drain an availableNow stream and return its problems: a timeout or
    an error fails it. The query is stopped whatever happens."""
    try:
        try:
            if not query.awaitTermination(STREAM_TIMEOUT_S):
                return [f"stream still running after {STREAM_TIMEOUT_S} s"]
        except Exception as e:  # StreamingQueryException and py4j errors
            return [f"stream failed: {e}"]
        if query.exception() is not None:
            return [f"stream failed: {query.exception()}"]
        return []
    finally:
        query.stop()


def _progress(query) -> tuple[int, float]:
    """(batches, addBatch seconds) from the query's progress records."""
    recs = [p for p in query.recentProgress if p.get("numInputRows", 0) > 0]
    return len(recs), sum(p["durationMs"].get("addBatch", 0) for p in recs) / 1000.0


def _dir_stats(path: str) -> tuple[int, int]:
    """(parquet data files, bytes of every file) under ``path``."""
    files = [f for f in glob.glob(f"{path}/**", recursive=True) if os.path.isfile(f)]
    return sum(f.endswith(".parquet") for f in files), sum(os.path.getsize(f) for f in files)


def ingest(ctx: Ctx) -> Outcome:
    """Fixed work, so every run ends with the same store sizes: the seed's
    base and drop sequence, one drop at a time; ``ctx.seconds`` does not
    apply. Set-up is the base ingest, run once."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from pandemic_knowledge_spark.operators.search import SearchIndex
    from pandemic_knowledge_spark.streaming.jobs import (
        corpus_stream_index,
        corpus_stream_ingest_dedup,
    )

    tr, spark, man = ctx.tracer, ctx.spark, ctx.manifest
    schema = StructType([StructField("doc_id", LongType()), StructField("text", StringType())])
    store = os.path.join(ctx.work, "ingest")
    shutil.rmtree(store, ignore_errors=True)
    d = {k: os.path.join(store, k) for k in
         ("landing", "accepted", "sigs", "index", "ckpt_dedup", "ckpt_index")}
    os.makedirs(d["landing"])

    def land(name: str) -> None:
        tmp = os.path.join(d["landing"], f".{name}")
        shutil.copyfile(os.path.join(ctx.inputs_dir, name), tmp)
        os.rename(tmp, os.path.join(d["landing"], name))

    def drain(op) -> list:
        with tr.span("streaming.dedup", op):
            q = corpus_stream_ingest_dedup(spark, d["landing"], schema, d["accepted"],
                                           d["sigs"], d["ckpt_dedup"])
            problems = _run_to_end(q)
        with tr.span("streaming.index", op):
            q2 = corpus_stream_index(spark, d["accepted"], d["index"], d["ckpt_index"])
            problems += _run_to_end(q2)
        for prefix, query in (("dedup", q), ("index", q2)):
            batches, add_s = _progress(query)
            tr.count(f"streaming.{prefix}_batches", batches, op)
            tr.count(f"streaming.{prefix}_batch_s", add_s, op)
        return problems

    t = time.perf_counter()
    with tr.span("ingest.base"):
        land("base.parquet")
        problems = drain("base")
    out = Outcome(setup_s=time.perf_counter() - t, problems=problems,
                  attempted=1 + len(man["drops"]), failed=bool(problems))

    win = host.Window()
    win.start()
    t0 = time.perf_counter()
    for op, drop in enumerate(man["drops"]):
        def body():
            with tr.span("ingest.land", op):
                land(f"drop-{op}.parquet")
            problems = drain(op)
            with tr.span("search.load", op):
                idx = SearchIndex.load(spark, d["index"])
            with tr.span("search.probe", op):
                rows = idx.search(drop["probe_term"], k=PAGE_SIZE).collect()
            if [r["doc_id"] for r in rows[:1]] != [drop["probe_id"]]:
                problems.append(f"drop {op}: probe for {drop['probe_term']!r} "
                                f"returned {[r['doc_id'] for r in rows]}")
            return problems

        dt, problems = _timed_op(ctx, op, body)
        if isinstance(problems, Exception):
            problems = [f"drop {op} raised {problems!r}"]
        out.latencies.append(dt)
        out.failed += bool(problems)
        out.problems += problems
        out.count_ops.add(op)
        out.window_ops.add(op)
    out.window_t = (t0, time.perf_counter())
    out.window_s = out.window_t[1] - t0
    out.witness.update(win.stop())

    landed = set(man["base_ids"]) | {i for dr in man["drops"] for i in dr["ids"]}
    reject = {i for dr in man["drops"] for i in dr["exact_dups"] + dr["twin"][1:]}
    out.problems += oracle.check_ingest(f"{d['accepted']}/*.parquet",
                                        f"{d['index']}/postings/**/*.parquet",
                                        landed, reject)
    ids = set(oracle.doc_ids(f"{d['accepted']}/*.parquet"))
    drop_ids = {i for dr in man["drops"] for i in dr["ids"]}
    _, acc_bytes = _dir_stats(d["accepted"])
    idx_files, idx_bytes = _dir_stats(d["index"])
    _, sig_bytes = _dir_stats(d["sigs"])
    out.layer.update({
        "storage.index_files": idx_files,
        "storage.index_bytes": idx_bytes,
        "storage.sig_bytes": sig_bytes,
        "storage.accepted_bytes": acc_bytes,
        "storage.bytes_per_doc": (acc_bytes + idx_bytes + sig_bytes) / max(1, len(ids)),
        "dedup.accept_ratio": len(ids & drop_ids) / len(drop_ids),
        "ingest.docs_per_s": len(drop_ids) / out.window_s,
    })
    return out


WORKLOADS = {"news_search": news_search, "ingest": ingest}
