"""The two workloads. Each is a closed loop with one client thread.

A workload function takes a `Run`, times its set-up (setup_s), runs its
measured loop, checks every answer against the oracle after the loop,
and returns a `Result`: the end-to-end figures every workload reports,
the figures named for this workload alone, its input properties and, on
a traced run, a function that turns the event log into per-layer
figures.

Reads come in two regimes, and both workloads time both: single ops of
a few Spark jobs each, where the per-job floor dominates, and
`search_batch_pandas` calls of 1,000 queries in one job, where kernel
decode, the Arrow transfer and the driver merge do the work. Batch calls
come in two kinds: Zipfian draws with repeats, which the engine
deduplicates before its kernels run, and calls of 1,000 distinct
queries, where every query reaches the kernels.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import time
import traceback
from dataclasses import dataclass, field
from typing import Callable

import numpy as np
import pandas as pd

from perfbench import inputs
from perfbench.oracle import Oracle, rows_match
from perfbench.trace import (
    MB,
    EventLog,
    Tracer,
    descendants,
    driver_peak_rss_mb,
    jvm_peak_rss_mb,
    storage_stats,
)

N_RESULTS = 10
INTERACTIVE_BLOCKS = 60  # more than any run gets through
BLOCK = sum(inputs.OP_MIX.values())   # ops per block of the mix
INTERACTIVE_SHARE = 0.6  # of --seconds; the batch phase gets the rest
BATCH_SIZE = 1000
# distinct query strings a batch call draws from; a distinct call is the
# whole pool in a seeded order, so the pool is one call wide
BATCH_POOL = BATCH_SIZE
BATCH_CALLS = 200        # pre-drawn calls; more than any run gets through
INGEST_ROUNDS = 2
INGEST_DELTA_SHARE = 10  # each append adds docs / 10 documents
INGEST_QUERIES = 4       # fixed single-query set run after every reopen
# set-up's warm-up pass: one op of every kind, on rare terms so it warms
# the code paths without the cost of a hot-term op
WARMUP_OPS = [
    {"kind": "search", "q": "zyzzyva quokka", "n": N_RESULTS},
    {"kind": "query_string", "q": "+hapax obelisk", "n": N_RESULTS},
    {"kind": "boolean_search", "q": "xylophone hapax", "must": ["quokka"],
     "must_not": ["obelisk"], "n": N_RESULTS},
    {"kind": "search_msm", "q": "zyzzyva obelisk hapax", "m": 2, "n": N_RESULTS},
    {"kind": "fuzzy_search", "q": "quokka", "max_mistakes": 1},
    {"kind": "phrase_count", "q": "zyzzyva obelisk"},
]
MODULE_OF = {"search": "operators.index_query",
             "query_string": "operators.index_query",
             "boolean_search": "operators.index_query",
             "search_msm": "operators.index_query",
             "fuzzy_search": "operators.index_query",
             "phrase_count": "operators.positions"}


@dataclass
class Run:
    workload: str
    seed: int
    seconds: float
    docs: int
    work: str
    tracer: Tracer
    spark: object = None
    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)

    @property
    def tag(self) -> str:
        return f"{self.workload}-seed{self.seed}-docs{self.docs}"

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def verdict(self, op: dict, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.failures) < 5:
                self.failures.append({"op": op, "detail": detail[-2000:]})

    def oracle(self, corpus: pd.DataFrame, label: str) -> Oracle:
        # keyed by the corpus content too, so answers cached by another
        # version of the inputs are never read back
        digest = hashlib.sha1(
            pd.util.hash_pandas_object(corpus, index=False).to_numpy()
        ).hexdigest()[:16]
        return Oracle(corpus, self.path("oracle",
                                        f"{self.tag}-{label}-{digest}.json"))


@dataclass
class Result:
    e2e: dict[str, float]
    named: dict[str, tuple[float, str]]
    inputs: dict
    layers: Callable[[EventLog], dict] | None = None


# ---- shared steps ------------------------------------------------------------
def start_spark(run: Run) -> None:
    from data_text_search_spark.session import get_spark

    # Spark's local dir is set by run.py through SPARK_LOCAL_DIRS
    conf = {"spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={run.path('tmp')}",
            "spark.sql.warehouse.dir": run.path("warehouse")}
    if run.tracer.enabled:
        log_dir = run.path("eventlog", run.tag)
        shutil.rmtree(log_dir, ignore_errors=True)
        os.makedirs(log_dir)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + log_dir,
                     "spark.eventLog.compress": "false"})
    run.spark = get_spark(app_name=f"perfbench-{run.workload}",
                          cores=len(os.sched_getaffinity(0)),
                          driver_memory="3g", extra_conf=conf)
    run.tracer.attach(run.spark)


def corpus_frame(run: Run, pdf: pd.DataFrame, name: str):
    path = run.path("data", f"{name}.parquet")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pdf.to_parquet(path, index=False)
    return run.spark.read.parquet(path)


def build(run: Run, corpus, root: str) -> tuple[dict, float]:
    """(manifest, wall seconds) of a full build_index."""
    from data_text_search_spark.config import BM25Config
    from data_text_search_spark.operators.index_build import build_index

    shutil.rmtree(root, ignore_errors=True)
    t0 = time.perf_counter()
    with run.tracer.span("operators.index_build", "build_index", build=True):
        manifest = build_index(run.spark, corpus, root, BM25Config(alpha=-5.0),
                               text_col="text", id_col="doc_id", groups=1)
    return manifest, time.perf_counter() - t0


def open_searcher(run: Run, root: str):
    from data_text_search_spark.operators.index_query import IndexSearcher

    with run.tracer.span("operators.index_query", "open"):
        s = IndexSearcher(run.spark, root)
        s.warm()
    return s


def execute(run: Run, s, op: dict, pos_root: str | None,
            profiles: list | None) -> list:
    """Run one op to completion and return its rows in the oracle's
    shape. With `profiles` given, `search` goes through profile() and its
    phase timings are appended there."""
    kind, q = op["kind"], op["q"]
    if kind == "search" and profiles is not None:
        prof = s.profile(q, op["n"])
        profiles.append(prof["timings_ms"])
        return [[int(r["doc_id"]), float(r["score"])] for r in prof["rows"]]
    if kind == "fuzzy_search":
        return [[int(r["doc_id"]), int(r["match_count"]), int(r["n_chars"]),
                 float(r["score"])]
                for r in s.fuzzy_search(q, op["max_mistakes"]).collect()]
    if kind == "phrase_count":
        from data_text_search_spark.operators.positions import phrase_count

        return [[int(r["doc_id"]), int(r["phrase_count"])]
                for r in phrase_count(run.spark, pos_root, q).collect()]
    if kind == "search":
        df = s.search(q, op["n"])
    elif kind == "query_string":
        df = s.query_string(q, op["n"], positions_root=pos_root)
    elif kind == "boolean_search":
        df = s.boolean_search(q, must=op["must"], must_not=op["must_not"],
                              n=op["n"])
    elif kind == "search_msm":
        df = s.search_msm(q, op["m"], op["n"])
    else:
        raise ValueError(f"unknown op kind {kind!r}")
    return [[int(r["doc_id"]), float(r["score"])] for r in df.collect()]


def timed_op(run: Run, s, op: dict, pos_root: str | None,
             profiles: list | None) -> tuple[list | None, float, str]:
    """(rows or None, seconds, traceback text) of one op."""
    t0 = time.perf_counter()
    try:
        with run.tracer.span(MODULE_OF[op["kind"]], op["kind"], op=True):
            rows = execute(run, s, op, pos_root, profiles)
        return rows, time.perf_counter() - t0, ""
    except Exception:         # a failed op counts as failed; the loop goes on
        return None, time.perf_counter() - t0, traceback.format_exc()


def timed_batch(run: Run, s, qs: list[str], profiles: list | None
                ) -> tuple[list, float, str]:
    """(per-query rows, seconds, traceback text) of one
    search_batch_pandas call. On a traced run the first query is then
    profiled, outside the call's timing."""
    t0 = time.perf_counter()
    try:
        with run.tracer.span("operators.index_query", "search_batch_pandas",
                             batch=True):
            out = s.search_batch_pandas(qs, N_RESULTS)
        dt = time.perf_counter() - t0
        rows, err = batch_rows(out, len(qs)), ""
    except Exception:         # a failed call fails all its queries
        dt = time.perf_counter() - t0
        rows, err = [None] * len(qs), traceback.format_exc()
    if profiles is not None:
        with run.tracer.span("operators.index_query", "profile"):
            execute(run, s, search_op(qs[0]), None, profiles)
    return rows, dt, err


def batch_rows(out: pd.DataFrame, n: int) -> list[list]:
    """Per-query [[doc_id, score], ...] in rank order."""
    out = out.sort_values(["query_id", "rank"])
    qid = out["query_id"].to_numpy()
    docs = out["doc_id"].to_numpy().tolist()
    scores = out["score"].to_numpy().tolist()
    bounds = np.searchsorted(qid, np.arange(n + 1)).tolist()
    return [[[int(d), float(v)] for d, v in zip(docs[a:b], scores[a:b])]
            for a, b in zip(bounds, bounds[1:])]


def search_op(q: str) -> dict:
    return {"kind": "search", "q": q, "n": N_RESULTS}


def check(run: Run, op: dict, rows: list | None, err: str, want: list) -> None:
    if rows is None:
        run.verdict(op, False, err)
    elif rows_match(op["kind"], rows, want):
        run.verdict(op, True)
    else:
        run.verdict(op, False, f"got {rows[:5]} want {want[:5]}")


def check_batch(run: Run, oracle: Oracle, calls: list) -> None:
    for qs, rows, err in calls:
        for q, r in zip(qs, rows):
            op = search_op(q)
            check(run, op, r, err, oracle.expected(op))


def tail_percentile(n: int) -> float:
    """Highest percentile (at most 90) with at least ten samples beyond
    it; with fewer than 20 samples there is no tail, and this is 50."""
    return max(50.0, min(90.0, 100.0 * (1 - 10 / n))) if n else 50.0


def latency_figures(prefix: str, lat: list[float]) -> dict:
    """Median, tail (at tail_percentile of the sample count) and count."""
    q = tail_percentile(len(lat))
    return {f"{prefix}_p50_ms": (statistics.median(lat) * 1e3, "ms"),
            f"{prefix}_tail_ms": (float(np.percentile(lat, q)) * 1e3, "ms"),
            f"{prefix}_tail_percentile": (q, "percentile"),
            f"{prefix}_samples": (len(lat), "count")}


def index_ratio(root: str, texts: list[str]) -> float:
    return (storage_stats(root)["index_bytes"]
            / sum(len(t.encode()) for t in texts))


def span_ids(tracer: Tracer, **match) -> set[int]:
    """Spans whose attributes equal `match`, plus all their children."""
    roots = {s["id"] for s in tracer.spans
             if all(s.get(k) == v for k, v in match.items())}
    return descendants(tracer.spans, roots)


# ---- per-layer figures (traced runs) ------------------------------------------
def static_layers(run: Run, profiles: list[dict], manifest: dict,
                  storage: dict, segments: float) -> dict:
    """Per-layer figures read without the event log: process peaks,
    profile() phases, the build manifest and the index files. Read
    before Spark stops."""
    posting = [g for g in manifest["groups_state"].values()
               if g.get("n_postings")]
    return {
        "session.jvm_peak_rss_mb": jvm_peak_rss_mb(run.spark),
        "session.driver_peak_rss_mb": driver_peak_rss_mb(),
        # a query with no indexed term returns before the kernel phases
        **{f"index_query.{k}": statistics.fmean(p[k] for p in profiles if k in p)
           for k in ("parse_ms", "dictionary_ms", "kernel_job_ms", "merge_ms")},
        "index_build.tokenize_docs_per_s":
            manifest["metrics"]["tokenize_docs_per_sec"],
        "codec.bytes_per_posting":
            sum(g["payload_bytes"] for g in posting)
            / sum(g["n_postings"] for g in posting),
        **{f"storage.{k}": v for k, v in storage.items()},
        "incremental.segments_live": segments,
    }


def log_layers(run: Run, ev: EventLog, n_ops: int, n_calls: int) -> dict:
    """Per-layer figures from Spark's job and task accounting: the
    session floor over single ops, the query kernel over batch calls."""
    op = ev.totals(span_ids(run.tracer, op=True))
    bt = ev.totals(span_ids(run.tracer, batch=True))
    bd = ev.totals(span_ids(run.tracer, build=True))
    n_queries = n_calls * BATCH_SIZE
    return {
        "session.jobs_per_op": op["jobs"] / n_ops,
        "session.stages_per_op": op["stages"] / n_ops,
        "session.tasks_per_op": op["tasks"] / n_ops,
        "session.job_floor_ms": op["job_floor_ms"],
        "session.task_gc_ms": op["gc_ms"] / n_ops,
        "index_query.task_cpu_ms_per_query": bt["cpu_ms"] / n_queries,
        "index_query.python_run_ms_per_query": bt["py_run_ms"] / n_queries,
        "index_query.arrow_sent_mb": bt["py_sent_bytes"] / MB / n_calls,
        "index_query.arrow_returned_mb": bt["py_returned_bytes"] / MB / n_calls,
        "index_build.jobs": bd["jobs"],
        "index_build.task_cpu_s": bd["cpu_ms"] / 1e3,
        "index_build.shuffle_write_mb": bd["shuffle_write_bytes"] / MB,
        "index_build.arrow_sent_mb": bd["py_sent_bytes"] / MB,
        "index_build.output_mb": bd["output_bytes"] / MB,
        "batch.jobs_per_call": bt["jobs"] / n_calls,
        "batch.spark_input_mb_per_call": bt["input_bytes"] / MB / n_calls,
        "op.jobs_by_module": op["jobs_by_module"],
        "batch.jobs_by_module": bt["jobs_by_module"],
        "build.jobs_by_module": bd["jobs_by_module"],
    }


def batch_calls(rs: np.random.RandomState
                ) -> tuple[list[list[str]], list[list[str]]]:
    """(repeat calls, distinct calls): Zipfian draws with repeats from a
    pool of distinct queries, and the whole pool in seeded orders."""
    pool = inputs.query_pool(rs, BATCH_POOL)
    return ([inputs.zipf_draw(rs, pool, BATCH_SIZE) for _ in range(BATCH_CALLS)],
            [[pool[i] for i in rs.permutation(BATCH_POOL)]
             for _ in range(BATCH_CALLS)])


def batch_properties(calls: list, distinct: list, df, n_docs: int) -> dict:
    """Properties of the repeat calls' queries, and of the distinct
    calls' queries (the pool)."""
    return {"calls": len(calls), "distinct_calls": len(distinct),
            "queries_per_call": BATCH_SIZE,
            "distinct_query_share_per_call":
                [round(len(set(qs)) / len(qs), 4) for qs, _, _ in calls],
            **inputs.query_properties([q for qs, _, _ in calls for q in qs],
                                      df, n_docs),
            "distinct_calls_queries": inputs.query_properties(
                distinct[0][0] if distinct else [], df, n_docs)}


def qps(lat: list[float]) -> float:
    """Queries per second of the median call: a burst of load on a
    shared host slows one call, and moves a median less than a total."""
    return BATCH_SIZE / statistics.median(lat)


# ---- search ----------------------------------------------------------------------
def search(run: Run) -> Result:
    """Single ops for INTERACTIVE_SHARE of --seconds (at least one
    block), then batch calls for the rest (at least one of each kind)."""
    from data_text_search_spark.operators.positions import build_positions

    rs = np.random.RandomState(run.seed)
    corpus_pd = inputs.make_docs(rs, 0, run.docs)
    ops = inputs.interactive_ops(rs, INTERACTIVE_BLOCKS)
    calls, distinct = batch_calls(rs)
    idx = run.path("index", run.workload)
    pos = run.path("positions", run.workload)
    shutil.rmtree(pos, ignore_errors=True)

    t0 = time.perf_counter()
    start_spark(run)
    corpus = corpus_frame(run, corpus_pd, run.workload)
    manifest, build_s = build(run, corpus, idx)
    with run.tracer.span("operators.positions", "build_positions"):
        build_positions(run.spark, corpus, pos)
    s = open_searcher(run, idx)
    with run.tracer.span("warmup", "ops"):
        for op in WARMUP_OPS:
            execute(run, s, op, pos, None)
        s.search_batch_pandas(calls[-1], N_RESULTS)
    setup_s = time.perf_counter() - t0

    profiles = [] if run.tracer.enabled else None
    done, lat = [], []
    t_start = time.perf_counter()
    for i, op in enumerate(ops):
        # at least one whole block, so every op kind has a sample
        if (i >= BLOCK and time.perf_counter() - t_start
                >= run.seconds * INTERACTIVE_SHARE):
            break
        rows, dt, err = timed_op(run, s, op, pos, profiles)
        done.append((op, rows, err))
        lat.append(dt)
    read_s = time.perf_counter() - t_start
    # repeat and distinct calls alternate; at least one of each
    batch_done, batch_lat, distinct_done, distinct_lat = [], [], [], []
    t_batch = time.perf_counter()
    for qs_rep, qs_dis in zip(calls, distinct):
        if (distinct_lat and time.perf_counter() - t_batch
                >= run.seconds * (1 - INTERACTIVE_SHARE)):
            break
        for qs, done_, lat_ in ((qs_rep, batch_done, batch_lat),
                                (qs_dis, distinct_done, distinct_lat)):
            rows, dt, err = timed_batch(run, s, qs, profiles)
            done_.append((qs, rows, err))
            lat_.append(dt)
    static = (static_layers(run, profiles, manifest, storage_stats(idx), 0)
              if run.tracer.enabled else None)

    oracle = run.oracle(corpus_pd, "base")
    for op, rows, err in done:
        check(run, op, rows, err, oracle.expected(op))
    check_batch(run, oracle, batch_done + distinct_done)
    oracle.save()
    oracle.close()

    texts = corpus_pd["text"].tolist()
    df = inputs.doc_freq(texts)
    kinds = [op["kind"] for op, _, _ in done]
    by_kind = {k: [dt for kk, dt in zip(kinds, lat) if kk == k]
               for k in inputs.OP_MIX}
    res = Result(
        e2e={"setup_s": setup_s,
             # each kind's median weighted by its share of the mix; a
             # plain median falls at the boundary between `search` (half
             # of the mix) and the slower kinds and jumps between runs
             "read_ms_per_op": sum(inputs.OP_MIX[k] * statistics.median(v)
                                   for k, v in by_kind.items())
             / BLOCK * 1e3,
             "batch_qps": qps(batch_lat),
             "batch_distinct_qps": qps(distinct_lat),
             "write_docs_per_s": run.docs / build_s,
             "index_bytes_per_input_byte": index_ratio(idx, texts)},
        named={**latency_figures("search", lat),
               "ops_per_s": (len(lat) / read_s, "1/s"),
               **{f"op.{k}.p50_ms": (statistics.median(v) * 1e3, "ms")
                  for k, v in by_kind.items() if v},
               "batch_qps": (qps(batch_lat), "queries/s"),
               "batch_distinct_qps": (qps(distinct_lat), "queries/s"),
               **latency_figures("batch_call", batch_lat),
               **latency_figures("distinct_call", distinct_lat),
               "build_docs_per_s": (run.docs / build_s, "docs/s")},
        inputs={"corpus": inputs.corpus_properties(texts),
                "op_mix": {k: len(v) for k, v in by_kind.items()},
                "free_draw_hot_share": round(inputs.FREE_HOT_SHARE, 4),
                "ops": inputs.query_properties([op["q"] for op, _, _ in done],
                                               df, run.docs),
                "batch": batch_properties(batch_done, distinct_done, df,
                                          run.docs)})
    if run.tracer.enabled:
        def layers(ev: EventLog) -> dict:
            phrase = span_ids(run.tracer, op=True, name="phrase_count")
            return {
                **static, **log_layers(run, ev, len(lat),
                                       len(batch_lat) + len(distinct_lat)),
                **{f"op.{k}.p50_ms": statistics.median(v) * 1e3
                   for k, v in by_kind.items() if v},
                "positions.jobs_per_op": ev.totals(phrase)["jobs"]
                / max(len(by_kind["phrase_count"]), 1),
            }
        res.layers = layers
    return res


# ---- ingest ----------------------------------------------------------------------
def ingest(run: Run) -> Result:
    """Base index in set-up; timed: appends, a reopen and a read pass
    after each, the merge, and read passes until --seconds."""
    from data_text_search_spark.streaming.incremental import (
        add_documents,
        merge_segments,
    )

    rs = np.random.RandomState(run.seed)
    base_pd = inputs.make_docs(rs, 0, run.docs)
    delta_docs = run.docs // INGEST_DELTA_SHARE
    deltas = [inputs.make_docs(rs, run.docs + r * delta_docs, delta_docs,
                               needle=inputs.delta_needle(r))
              for r in range(INGEST_ROUNDS)]
    queries = [search_op(q) for q in inputs.query_pool(rs, INGEST_QUERIES)]
    calls, distinct = batch_calls(rs)
    idx = run.path("index", run.workload)

    t0 = time.perf_counter()
    start_spark(run)
    manifest, build_s = build(run, corpus_frame(run, base_pd, "base"), idx)
    with run.tracer.span("warmup", "ops"):
        s = open_searcher(run, idx)
        execute(run, s, WARMUP_OPS[0], None, None)
        s.search_batch_pandas(calls[-1], N_RESULTS)
    setup_s = time.perf_counter() - t0
    delta_dfs = [corpus_frame(run, d, f"delta{r}") for r, d in enumerate(deltas)]

    profiles = [] if run.tracer.enabled else None
    lat: list[float] = []
    batch_lat: list[float] = []
    distinct_lat: list[float] = []
    batch_done: list = []
    distinct_done: list = []
    # per reopen: (oracle label, [(op, rows, err)], [(qs, rows, err)])
    passes: list[tuple[str, list, list]] = []
    needles: list[tuple[dict, list | None, str, list[int]]] = []
    rounds: list[dict] = []

    def read_pass(label: str, s, acked: int) -> None:
        done = []
        for op in queries:
            rows, dt, err = timed_op(run, s, op, None, profiles)
            done.append((op, rows, err))
            lat.append(dt)
        for r in range(acked):            # every acknowledged delta readable
            ids = inputs.needle_ids(deltas[r], inputs.delta_needle(r))
            op = {"kind": "search", "q": inputs.delta_needle(r),
                  "n": len(ids) + N_RESULTS}
            rows, dt, err = timed_op(run, s, op, None, profiles)
            needles.append((op, rows, err, ids))
            lat.append(dt)
        bdone = []
        for qs, lat_, done_ in ((calls[len(batch_lat)], batch_lat, batch_done),
                                (distinct[len(distinct_lat)], distinct_lat,
                                 distinct_done)):
            rows, dt, err = timed_batch(run, s, qs, profiles)
            lat_.append(dt)
            done_.append((qs, rows, err))
            bdone.append((qs, rows, err))
        passes.append((label, done, bdone))

    def reopen(label: str, acked: int, segments: int):
        s = open_searcher(run, idx)
        rounds.append({"label": label, "segments_live": segments,
                       **storage_stats(idx)})
        read_pass(label, s, acked)
        return s

    t_start = time.perf_counter()
    reopen("base", 0, 0)
    append_s, append_bytes, manifest_bytes = [], [], 0
    for r, ddf in enumerate(delta_dfs):
        before = storage_stats(idx)["index_bytes"]
        t1 = time.perf_counter()
        with run.tracer.span("streaming.incremental", "add_documents",
                             append=True):
            m = add_documents(run.spark, idx, ddf, text_col="text", id_col="doc_id")
        append_s.append(time.perf_counter() - t1)
        append_bytes.append(storage_stats(idx)["index_bytes"] - before)
        manifest_bytes = manifest_size(idx)
        reopen("stale", r + 1, len(m.get("segments", [])))
    t1 = time.perf_counter()
    with run.tracer.span("streaming.incremental", "merge_segments",
                         merge=True):
        merge_segments(run.spark, idx)
    merge_s = time.perf_counter() - t1
    s = reopen("merged", INGEST_ROUNDS, 0)
    while time.perf_counter() - t_start < run.seconds:
        read_pass("merged", s, INGEST_ROUNDS)
    static = (static_layers(
        run, profiles, manifest,
        {k: statistics.fmean(rd[k] for rd in rounds)
         for k in ("files", "row_groups", "index_bytes")},
        statistics.fmean(rd["segments_live"] for rd in rounds))
        if run.tracer.enabled else None)

    full_pd = pd.concat([base_pd, *deltas], ignore_index=True)
    known = set(full_pd["doc_id"].tolist())
    oracles = {"base": run.oracle(base_pd, "base"),
               "merged": run.oracle(full_pd, "merged")}
    for label, done, bdone in passes:
        if label == "stale":
            for op, rows, err in done:
                check_shape(run, op, rows, err, known)
            for qs, rows, err in bdone:
                for q, r in zip(qs, rows):
                    check_shape(run, search_op(q), r, err, known)
        else:
            for op, rows, err in done:
                check(run, op, rows, err, oracles[label].expected(op))
            check_batch(run, oracles[label], bdone)
    for op, rows, err, ids in needles:
        got = None if rows is None else sorted(r[0] for r in rows)
        run.verdict(op, got == ids, err or f"got ids {got} want {ids}")
    for o in oracles.values():
        o.save()
        o.close()

    texts = full_pd["text"].tolist()
    df = inputs.doc_freq(texts)
    n_new = INGEST_ROUNDS * delta_docs
    res = Result(
        e2e={"setup_s": setup_s,
             "read_ms_per_op": statistics.median(lat) * 1e3,
             "batch_qps": qps(batch_lat),
             "batch_distinct_qps": qps(distinct_lat),
             # everything written: the base build (in set-up), the
             # appends and the merge that folds them in
             "write_docs_per_s": (run.docs + n_new)
             / (build_s + sum(append_s) + merge_s),
             "index_bytes_per_input_byte": index_ratio(idx, texts)},
        named={"build_docs_per_s": (run.docs / build_s, "docs/s"),
               "append_docs_per_s": (n_new / sum(append_s), "docs/s"),
               "merge_s": (merge_s, "s"),
               **latency_figures("ingest_search", lat),
               "batch_qps": (qps(batch_lat), "queries/s"),
               "batch_distinct_qps": (qps(distinct_lat), "queries/s"),
               "index_bytes_per_input_byte": (index_ratio(idx, texts), "ratio")},
        inputs={"corpus": inputs.corpus_properties(base_pd["text"].tolist()),
                "deltas": [inputs.corpus_properties(d["text"].tolist())
                           for d in deltas],
                "segments_live_per_round": [rd["segments_live"] for rd in rounds],
                "free_draw_hot_share": round(inputs.FREE_HOT_SHARE, 4),
                "ops": inputs.query_properties([op["q"] for op in queries],
                                               df, len(texts)),
                "batch": batch_properties(batch_done, distinct_done, df,
                                          len(texts))})
    if run.tracer.enabled:
        def layers(ev: EventLog) -> dict:
            app = ev.totals(span_ids(run.tracer, append=True))
            mg = ev.totals(span_ids(run.tracer, merge=True))
            return {
                **static, **log_layers(run, ev, len(lat),
                                       len(batch_lat) + len(distinct_lat)),
                "incremental.jobs_per_append": app["jobs"] / INGEST_ROUNDS,
                "incremental.append_shuffle_write_mb":
                    app["shuffle_write_bytes"] / MB / INGEST_ROUNDS,
                "incremental.merge_shuffle_write_mb":
                    mg["shuffle_write_bytes"] / MB,
                "incremental.bytes_written_per_doc": sum(append_bytes) / n_new,
                "incremental.merge_bytes_rewritten_mb": mg["output_bytes"] / MB,
                "incremental.manifest_bytes": manifest_bytes,
            }
        res.layers = layers
    return res


def check_shape(run: Run, op: dict, rows: list | None, err: str,
                known: set[int]) -> None:
    """Between merges the engine scores a delta under the statistics of
    its append (documented in streaming.incremental), so no exact oracle
    exists for those reads; they must still be well-formed top-n rows of
    known documents."""
    ok = rows is not None and len(rows) <= op["n"] and \
        len({r[0] for r in rows}) == len(rows) and \
        all(r[0] in known for r in rows) and \
        all(a[1] >= b[1] for a, b in zip(rows, rows[1:]))
    run.verdict(op, ok, err or f"malformed rows {rows[:5] if rows else rows}")


def manifest_size(root: str) -> int:
    return sum(os.path.getsize(os.path.join(root, f)) for f in os.listdir(root)
               if f.startswith("manifest") and not f.endswith(".crc"))


WORKLOADS = {"ingest": ingest, "search": search}
