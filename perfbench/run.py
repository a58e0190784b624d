"""tlgs_spark benchmark: workloads ``serve_hot`` and ``serve_cold``.

    python3 perfbench/run.py --workload serve_hot --seed 1 --seconds 12 --trace 0

Run from the repository root. The seed generates every input (corpus,
changelog batches, query streams); the program only sees those inputs
through the public ``tlgs_spark`` API, driven from this one process.
The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics of a traced run with ``--trace 1``.
The line before it is a readable report. Any wrong result, failed
request or failed check makes the exit code non-zero. See README.md.

The command is a small supervisor: it runs the benchmark in a child
process as a Linux child subreaper, so every process the run starts
(the JVM, the Python workers it forks, which leave its process group,
and anything orphaned) ends up under it; when the child ends it stops
whatever is left and waits for each process to end.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import types
from contextlib import nullcontext

import numpy as np
import pandas as pd

import checks
import gen
from load import MemPeak, open_loop
from spans import Tracer, layout_phases, self_times
from stats import (Probe, backlog_grows, find_max_qps, highest_percentile, median,
                   percentile, rate_ladder, supports)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench_cache")

# per workload: the nominal open-loop rate (req/s) and the fixed rate
# ladder of the max_qps search, LO * LADDER_STEP**i up to HI
WORKLOADS = {
    "serve_hot": {"rate": 20.0, "ladder": (5.0, 400.0)},
    "serve_cold": {"rate": 17.0, "ladder": (2.0, 200.0)},
}
LADDER_STEP = 1.05  # finer than any latency bound
P95_LIMIT_MS = 1000.0  # max_qps: highest rate whose p95 stays within this
PROBE_S = 2.0  # length of one max_qps probe
BISECT_PROBES = 6

SPARK_CORES = min(len(os.sched_getaffinity(0)), 4)
# the driver path is GIL-bound, so more threads add queueing, not
# throughput; two let API requests pass a page waiting on its Spark job
SERVE_THREADS = min(SPARK_CORES, 2)
DRIVER_MEMORY = "2g"
N_SHARDS = 4
OPENS = 3  # SearchIndex opens per run; setup_s keeps the median
DRAIN_S = 5.0  # how long requests may still run after the last one is due
CHECK_EVERY = 7  # every 7th response and every results page is checked
PROBE_K = 100  # hits a changelog probe asks for (more than any batch plants)
CACHE_KEEP = 24  # generated inputs and span dumps kept in .perfbench_cache

END_TO_END_UNITS = {
    "setup_s": "s",
    "build_turns_per_s": "turns/s",
    "index_bytes_per_input_byte": "ratio",
    "query_ms_p50": "ms",
    "query_ms_p95": "ms",
    "mem_peak_mb": "MB",
}

PER_LAYER_UNITS = {
    "session.start_s": "s",
    "storage.open_s": "s",
    "storage.index_bytes": "bytes",
    "parser.parse_us_p50": "us",
    "tokenizer.query_us_p50": "us",
    "engine.search_ms_p50": "ms",
    "engine.self_ms_p50": "ms",
    "engine.result_cache_hit_ratio": "ratio",
    "engine.term_cache_hit_ratio": "ratio",
    "engine.term_rows_ms_p50": "ms",
    "engine.term_rows_bytes": "bytes",
    "engine.queue_wait_ms_p95": "ms",
    "engine.rejected": "count",
    "scorer.score_ms_p50": "ms",
    "scorer.decoded_block_ratio": "ratio",
    "codec.decode_ms_p50": "ms",
    "codec.decode_bytes": "bytes",
    "codec.bytes_per_posting": "bytes",
    "snippet.make_ms_p50": "ms",
    "spark.jobs_per_page": "count",
    "spark.jobs_per_api_request": "count",
    "build.s": "s",
    "build.docs_write_s": "s",
    "build.postings_s": "s",
    "build.ledger_metrics_s": "s",
    "build.finalize_norms_s": "s",
    "build.finalize_stats_s": "s",
    "build.spark_jobs": "count",
    "build.spark_tasks": "count",
    "build.failed_tasks": "count",
    "incremental.apply_s_p50": "s",
    "incremental.diff_s_p50": "s",
    "incremental.postings_rebuild_s_p50": "s",
    "incremental.finalize_s_p50": "s",
    "incremental.shard_rewrite_ratio": "ratio",
    "incremental.fresh_s_p50": "s",
    "incremental.batches": "count",
    "load.max_qps": "req/s",
    "gen.lag_ms_p95": "ms",
    "trace.overhead_us_per_span": "us",
    "trace.spans_per_request": "count",
    "trace.query_ms_p50": "ms",
}

# build_index / apply_changes phase names in the order they run; the
# build's ledger and norms phases run on background threads, anchored
# at the end (<) or start (>) of the postings phase
BUILD_SEQ = ["docs_count", "docs_write", "first_turn_terms", "postings", "finalize_stats"]
BUILD_BG = {"ledger_metrics": "<postings", "finalize_norms": ">postings"}
APPLY_SEQ = ["diff", "ids_live_map", "docs_write", "first_turn_terms", "postings_rebuild",
             "finalize", "commit", "fields_rebuild"]


# ---------------------------------------------------------------- environment


def process_age_s() -> float:
    """Seconds since this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> tuple[int, int]:
    """(all, stolen) CPU ticks of the machine since boot, from /proc/stat;
    stolen ticks are time a neighbour on the host ran instead of us."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields[:8]), fields[7]


def src_hash(path: str) -> str:
    h = hashlib.sha256()
    for dirpath, dirnames, files in os.walk(path):
        dirnames.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                full = os.path.join(dirpath, name)
                h.update(os.path.relpath(full, path).encode())
                with open(full, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def prepare_env(run_dir: str) -> None:
    """Keep Spark, the JVM and Python temp files inside the checkout."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    py_path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = f"{ROOT}:{py_path}" if py_path else ROOT
    sys.path.insert(0, ROOT)


def spark_conf(run_dir: str) -> dict:
    # the heap is fixed at its maximum, as a server's is: a growing heap
    # commits memory as GC timing dictates, which moved mem_peak_mb by a
    # quarter between runs of the same code
    return {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData "
            f"-Dderby.system.home={os.path.join(run_dir, 'derby')}"
        ),
    }


def stop_session() -> None:
    """Stop the session, shut the py4j gateway and wait for the JVM (and
    with it the Python workers it forked) to exit."""
    from pyspark import SparkContext

    from tlgs_spark.session import stop_spark

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    stop_spark()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def warm_session(spark, parquet: str, run_dir: str) -> None:
    """Start what a long-lived session already has running before any
    build: the Python workers (an Arrow UDF on every core), the parquet
    reader and the parquet writer with its output committer."""
    cores = int(spark.conf.get("spark.sql.shuffle.partitions"))
    spark.range(0, 4 * cores, 1, cores).mapInPandas(
        lambda batches: (b for b in batches), schema="id long").count()
    out = os.path.join(run_dir, "warm.parquet")
    spark.read.parquet(parquet).select("conv_id", "turn_idx").limit(1000) \
        .write.mode("overwrite").parquet(out)
    shutil.rmtree(out, ignore_errors=True)


def collect_garbage(spark) -> None:
    """Collect the garbage the build left in the JVM and in Python so
    the collections do not land inside the timed serving phase."""
    spark.sparkContext._jvm.System.gc()
    gc.collect()
    time.sleep(0.2)


# ---------------------------------------------------------------- inputs


def load_inputs(seed: int) -> dict:
    """Corpus frame, its parquet file and its pickled oracle index,
    cached under ``.perfbench_cache/inputs`` keyed by seed and by the
    source of the benchmark (parameters included) and of ``tlgs_spark``
    (the oracle and its tokenizer), so a cached input never crosses a
    change of either. The oracle is built in a child process and loaded
    only for the output checks, so its memory stays out of the measured
    process tree."""
    key = gen.digest({"seed": seed, "bench": src_hash(HERE),
                      "tlgs_spark": src_hash(os.path.join(ROOT, "tlgs_spark"))})[:20]
    d = os.path.join(CACHE, "inputs", key)
    corpus = gen.Corpus(seed)
    if os.path.exists(os.path.join(d, "oracle.pkl")):
        frame = pd.read_parquet(os.path.join(d, "corpus.parquet"))
        os.utime(d)
    else:
        frame = corpus.frame()
        tmp = d + f".tmp{os.getpid()}"
        os.makedirs(tmp, exist_ok=True)
        frame.to_parquet(os.path.join(tmp, "corpus.parquet"), coerce_timestamps="us",
                         allow_truncated_timestamps=True, index=False)
        subprocess.run(
            [sys.executable, "-c", "import sys, checks; checks.write_oracle(*sys.argv[1:])",
             os.path.join(tmp, "corpus.parquet"), os.path.join(tmp, "oracle.pkl")],
            cwd=HERE, check=True)
        shutil.rmtree(d, ignore_errors=True)
        os.replace(tmp, d)
        prune(os.path.join(CACHE, "inputs"), keep=CACHE_KEEP)
    return {"corpus": corpus, "frame": frame, "parquet": os.path.join(d, "corpus.parquet"),
            "oracle_path": os.path.join(d, "oracle.pkl")}


def prune(parent: str, keep: int) -> None:
    """Keep the ``keep`` most recently used entries of ``parent``."""
    entries = sorted(
        (os.path.join(parent, n) for n in os.listdir(parent) if ".tmp" not in n),
        key=os.path.getmtime,
    )
    for path in entries[:-keep]:
        if os.path.isdir(path):
            shutil.rmtree(path, ignore_errors=True)
        else:
            os.remove(path)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(dp, f)) for dp, _, fs in os.walk(path) for f in fs
    )


# ---------------------------------------------------------------- tracing


def install_tracer(tracer: Tracer) -> None:
    """Wrap the public functions each layer exposes, at the names the
    engine resolves them by at call time."""
    import tlgs_spark.indexer.codec as codec
    import tlgs_spark.query.engine as engine
    from tlgs_spark.query.scorer import LazyTermData

    def after_term_data(sp, out, args, kwargs):
        sp.attrs["terms"] = len(args[1])

    def after_term_rows(sp, out, args, kwargs):
        sp.attrs["terms"] = len(args[1])
        sp.attrs["bytes"] = int(out["postings"].map(len).sum()) if len(out) else 0

    def lazy_terms(args):
        return [td for td in args[0] if isinstance(td, LazyTermData) and td.n_blocks]

    def decoded_blocks(tds) -> float:
        return sum(td.decoded_fraction * td.n_blocks for td in tds)

    def before_score(sp, args, kwargs):
        tds = lazy_terms(args)
        # blocks the cached terms still have undecoded before this call
        sp.attrs["decodable"] = sum(td.n_blocks for td in tds) - decoded_blocks(tds)
        sp.attrs["decoded"] = -decoded_blocks(tds)

    def after_score(sp, out, args, kwargs):
        sp.attrs["decoded"] += decoded_blocks(lazy_terms(args))

    def after_decode(sp, out, args, kwargs):
        sp.attrs["bytes"] = int(np.asarray(args[2]).sum())

    tracer.wrap(engine, "parse_search_query", "parser.parse")
    tracer.wrap(engine, "tokenize_query", "tokenizer.query")
    tracer.wrap(engine, "search_and", "scorer.score", after_score, before_score)
    tracer.wrap(engine, "search_or", "scorer.score", after_score, before_score)
    tracer.wrap(engine, "make_snippet", "snippet.make")
    tracer.wrap(codec, "decode_postings_blocks", "codec.decode", after_decode)
    tracer.wrap(engine.SearchIndex, "search", "engine.search")
    tracer.wrap(engine.SearchIndex, "term_data", "engine.term_data", after_term_data)
    tracer.wrap(engine.SearchIndex, "term_rows", "engine.term_rows", after_term_rows)


def span_overhead_us(n: int = 20000) -> float:
    """Cost of one traced call over an untraced one, in microseconds."""
    ns = types.SimpleNamespace(f=lambda x: x)
    t = time.perf_counter()
    for i in range(n):
        ns.f(i)
    plain = time.perf_counter() - t
    tr = Tracer()
    tr.wrap(ns, "f", "noop")
    t = time.perf_counter()
    for i in range(n):
        ns.f(i)
    traced = time.perf_counter() - t
    tr.restore()
    return max(0.0, (traced - plain) / n * 1e6)


def job_stats(sc, group: str, min_id: int) -> tuple[int, int, int]:
    """(jobs, tasks, failed tasks) of a Spark job group, plus group-less
    jobs with an id above ``min_id`` (threads the program starts do not
    inherit the group)."""
    st = sc.statusTracker()
    ids = set(st.getJobIdsForGroup(group))
    ids |= {j for j in st.getJobIdsForGroup(None) if j > min_id}
    tasks = failed = 0
    for j in ids:
        info = st.getJobInfo(j)
        for s in (info.stageIds if info else []):
            si = st.getStageInfo(s)
            if si:
                tasks += si.numTasks
                failed += si.numFailedTasks
    return len(ids), tasks, failed


def max_job_id(sc) -> int:
    ids = list(sc.statusTracker().getJobIdsForGroup(None))
    return max(ids) if ids else -1


def phase_layers(tracer: Tracer, recs, tag: str) -> dict:
    """Per-layer metrics of one serving phase, from the spans of the
    requests tagged ``tag``."""
    spans = [s for s in tracer.spans if s.rid and s.rid.startswith(tag)]
    by: dict[str, list] = {}
    for s in spans:
        by.setdefault(s.name, []).append(s)
    selfs = self_times(spans)

    def p50(name, scale):
        xs = [s.dur * scale for s in by.get(name, [])]
        return median(xs) if xs else 0.0

    def total(name, attr):
        return sum(s.attrs.get(attr, 0) for s in by.get(name, []))

    searches = by.get("engine.search", [])
    with_td = {s.parent for s in by.get("engine.term_data", [])}
    td_terms = total("engine.term_data", "terms")
    decodable = total("scorer.score", "decodable")
    ok = [r for r in recs if r.end is not None]
    jobs = [r.result for r in ok if r.result and r.result[1] is not None]
    pages = [j for _, j, page, _ in jobs if page]
    apis = [j for _, j, page, _ in jobs if not page]
    return {
        "parser.parse_us_p50": p50("parser.parse", 1e6),
        "tokenizer.query_us_p50": p50("tokenizer.query", 1e6),
        "engine.search_ms_p50": p50("engine.search", 1e3),
        "engine.self_ms_p50": median([selfs[s.sid] * 1e3 for s in searches]) if searches else 0.0,
        "engine.result_cache_hit_ratio":
            sum(1 for s in searches if s.sid not in with_td) / len(searches) if searches else 0.0,
        "engine.term_cache_hit_ratio":
            1.0 - total("engine.term_rows", "terms") / td_terms if td_terms else 0.0,
        "engine.term_rows_ms_p50": p50("engine.term_rows", 1e3),
        "engine.term_rows_bytes": total("engine.term_rows", "bytes"),
        "engine.queue_wait_ms_p95": percentile([r.wait_ms for r in ok], 95) if ok else 0.0,
        "engine.rejected": sum(1 for r in recs if r.rejected),
        "scorer.score_ms_p50": p50("scorer.score", 1e3),
        "scorer.decoded_block_ratio":
            total("scorer.score", "decoded") / decodable if decodable else 0.0,
        "codec.decode_ms_p50": p50("codec.decode", 1e3),
        "codec.decode_bytes": total("codec.decode", "bytes"),
        "snippet.make_ms_p50": p50("snippet.make", 1e3),
        "spark.jobs_per_page": sum(pages) / len(pages) if pages else 0.0,
        "spark.jobs_per_api_request": sum(apis) / len(apis) if apis else 0.0,
        "trace.spans_per_request": len(spans) / len(recs) if recs else 0.0,
    }


# ---------------------------------------------------------------- phases


class Run:
    """One benchmark run: its counters, report, per-layer metrics and
    (in a traced run) its tracer."""

    def __init__(self, args):
        self.args = args
        self.errors: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.report: dict = {}
        self.layer: dict = {}
        self.tracer: Tracer | None = None
        self.mem: MemPeak | None = None

    def fail(self, msg: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(msg)

    def span(self, name):
        return self.tracer.span(name) if self.tracer else nullcontext()

    def build(self, spark, inputs, index_dir: str) -> None:
        from tlgs_spark.indexer.build import build_index
        from tlgs_spark.indexer.storage import index_status

        sc = spark.sparkContext
        sdf = spark.read.parquet(inputs["parquet"])
        first_job = max_job_id(sc)
        sc.setJobGroup("build", "benchmark build", False)
        self.attempted += 1
        t0 = time.perf_counter()
        with self.span("build.s") as sp:
            res = build_index(spark, sdf, index_dir, n_shards=N_SHARDS)
        wall = time.perf_counter() - t0
        sc.setJobGroup("idle", "", False)
        n_docs = int(res["n_docs"])
        if n_docs != len(inputs["frame"]):
            self.fail(f"build indexed {n_docs} docs, corpus has {len(inputs['frame'])}")
        in_bytes = int(inputs["frame"]["text"].str.encode("utf-8").str.len().sum())
        idx_bytes = dir_bytes(index_dir)
        phases = res.get("phases", {})
        self.report.update({
            "build_s": wall,
            "build_turns_per_s": n_docs / wall,
            "index_bytes_per_input_byte": idx_bytes / in_bytes,
        })
        if self.tracer:
            for name, s, e in layout_phases(sp.start, phases, BUILD_SEQ, BUILD_BG):
                self.tracer.add_span(f"build.{name}", s, e, sp.sid)
            jobs, tasks, failed = job_stats(sc, "build", first_job)
            led = index_status(spark, index_dir).get("ledger") or {}
            n_post = led.get("total_postings") or 0
            self.layer.update({
                "build.s": wall,
                "build.spark_jobs": jobs,
                "build.spark_tasks": tasks,
                "build.failed_tasks": failed,
                "storage.index_bytes": idx_bytes,
                "codec.bytes_per_posting": (led.get("postings_bytes") or 0) / n_post if n_post else 0.0,
            })
            for ph in ("docs_write", "postings", "ledger_metrics", "finalize_norms", "finalize_stats"):
                self.layer[f"build.{ph}_s"] = float(phases.get(ph, 0.0))

    def open_index(self, spark, index_dir: str):
        from tlgs_spark.query.engine import SearchIndex

        with self.span("storage.open"):
            si = SearchIndex(spark, index_dir)
            si.dl_of
        return si

    def serve_call(self, spark, si):
        """One request: ``search`` with the request's page and preview
        flags. Returns ``(hits, spark jobs or None, is_page, previews or
        None)``; in a traced run each request runs in its own Spark job
        group."""
        sc = spark.sparkContext
        traced = self.tracer is not None

        def call(req):
            out = si.search(gen.render(req), k=gen.K, mode=req["mode"],
                            page=req["page"] or None, with_preview=req["preview"])
            hits = list(zip(out["doc_id"].tolist(), out["score"].tolist()))
            previews = out["preview"].tolist() if "preview" in out else None
            jobs = None
            if traced:
                group = sc.getLocalProperty("spark.jobGroup.id")
                jobs = len(sc.statusTracker().getJobIdsForGroup(group))
            return hits, jobs, bool(req["preview"]), previews

        return call

    def open_loop(self, spark, si, reqs, rate: float, tag: str, keep):
        from tlgs_spark.query.engine import TooManyRequestsError

        sc = spark.sparkContext
        tracer = self.tracer

        def on_start(rec):
            if tracer:
                tracer.set_rid(f"{tag}{rec.i}")
                sc.setJobGroup(f"{tag}{rec.i}", "", False)

        return open_loop(
            self.serve_call(spark, si), reqs, rate, workers=SERVE_THREADS, drain_s=DRAIN_S, keep=keep, reject_types=(TooManyRequestsError,), on_start=on_start,
        )

    def max_qps(self, spark, si, stream) -> float:
        """Fixed-step bisection over the workload's rate ladder for the
        highest rate meeting the p95 limit without a growing backlog."""
        ladder = rate_ladder(*WORKLOADS[self.args.workload]["ladder"], LADDER_STEP)
        limit, probe_s = P95_LIMIT_MS, PROBE_S
        probes: list = self.report.setdefault("max_qps_probes", [])
        pos = 0

        def probe(rate: float) -> Probe:
            nonlocal pos
            n = max(20, int(rate * probe_s))
            reqs = stream[pos: pos + n]
            pos += n
            recs = self.open_loop(spark, si, reqs, rate, f"p{len(probes)}_", keep=lambda i: False)
            lat = [r.latency_ms if r.end is not None and not r.error and not r.rejected
                   else float("inf") for r in recs]
            pr = Probe(rate, len(recs), percentile(lat, 95),
                       sum(1 for r in recs if r.error or r.rejected),
                       backlog_grows([r.due for r in recs], [r.start for r in recs], probe_s, limit))
            probes.append([rate, round(pr.p95_ms, 3), pr.failed, pr.backlog])
            return pr

        best, _ = find_max_qps(ladder, probe, limit, BISECT_PROBES)
        return best or 0.0

    def check_responses(self, recs, reqs, inputs) -> None:
        """Count failed requests and check every ``CHECK_EVERY``-th
        response and every results page against the oracle."""
        fe = orc = None
        for rec, req in zip(recs, reqs):
            self.attempted += 1
            if rec.start is None:
                self.fail(f"request {rec.i} never started")
            elif rec.rejected:
                self.fail(f"request {rec.i} rejected (TooManyRequestsError)")
            elif rec.error:
                self.fail(f"request {rec.i}: {rec.error}")
            elif rec.i % CHECK_EVERY == 0 or req["preview"]:
                if fe is None:
                    fe = checks.FilterEval(inputs["frame"])
                    orc = checks.load_oracle(inputs["oracle_path"])
                hits, _, _, previews = rec.result
                msg = checks.check_request(orc, fe, req, hits, gen.K, previews)
                if msg:
                    self.fail(f"wrong result: {msg}")

    def changelog(self, spark, inputs, index_dir: str) -> None:
        """Apply the seeded changelog batches (at least one, more while
        ``--seconds`` has not elapsed), each followed by a freshly
        opened reader that must return exactly the batch's planted docs
        and the ``n_docs`` the changelog arithmetic gives."""
        from tlgs_spark.corpus import TRANSCRIPT_SCHEMA
        from tlgs_spark.streaming.incremental import apply_changes

        sc = spark.sparkContext
        batches = gen.changelog(inputs["corpus"], inputs["frame"])
        fresh, apply_s, phases, ratios = [], [], [], []
        expect_docs = len(inputs["frame"])
        t_start = time.perf_counter()
        for b, batch in enumerate(batches):
            if b >= 1 and time.perf_counter() - t_start >= self.args.seconds:
                break
            changes = spark.createDataFrame(batch["rows"], schema=TRANSCRIPT_SCHEMA)
            sc.setJobGroup("apply", "benchmark changelog", False)
            self.attempted += 1
            self.tracer.set_rid(f"b{b}")
            t0 = time.perf_counter()
            with self.span("incremental.apply") as sp:
                res = apply_changes(spark, changes, index_dir)
            t1 = time.perf_counter()
            si = self.open_index(spark, index_dir)
            got = si.search(batch["probe"], k=PROBE_K)
            t2 = time.perf_counter()
            sc.setJobGroup("idle", "", False)
            expect_docs += batch["n_docs_delta"]
            msg = checks.check_probe(got, batch["planted"])
            if msg is None and si.n_docs != expect_docs:
                msg = f"n_docs {si.n_docs}, changelog arithmetic gives {expect_docs}"
            if msg:
                self.fail(f"batch {b}: {msg}")
            si.close()
            fresh.append(t2 - t0)
            apply_s.append(t1 - t0)
            ph = res.get("phases", {})
            phases.append(ph)
            n_ch, n_re = len(res.get("changed", [])), len(res.get("reused", []))
            ratios.append(n_ch / (n_ch + n_re) if n_ch + n_re else 0.0)
            for name, s, e in layout_phases(sp.start, ph, APPLY_SEQ, {}):
                self.tracer.add_span(f"incremental.{name}", s, e, sp.sid, f"b{b}")
        self.layer.update({
            "incremental.apply_s_p50": median(apply_s),
            "incremental.diff_s_p50": median([p.get("diff", 0.0) for p in phases]),
            "incremental.postings_rebuild_s_p50": median([p.get("postings_rebuild", 0.0) for p in phases]),
            "incremental.finalize_s_p50": median([p.get("finalize", 0.0) for p in phases]),
            "incremental.shard_rewrite_ratio": sum(ratios) / len(ratios),
            "incremental.fresh_s_p50": median(fresh),
            "incremental.batches": len(fresh),
        })


def latency_report(run: Run, recs, name: str) -> dict:
    """Median and p95 latency (from the due time); a request that
    failed counts as infinitely late."""
    lat = [r.latency_ms if (r.end is not None and not r.error and not r.rejected) else float("inf")
           for r in recs]
    if not supports(len(lat), 95.0):
        run.fail(f"{name}: {len(lat)} requests cannot support a p95 (need 200)")
        return {}
    hi = highest_percentile(len(lat))
    return {
        "query_ms_p50": percentile(lat, 50),
        "query_ms_p95": percentile(lat, 95),
        "n_requests": len(lat),
        f"query_ms_p{hi:g}": percentile(lat, hi),
        "gen_lag_ms_p95": percentile([r.lag_ms for r in recs], 95),
        # p50 per fifth of the phase: a drift across the run shows here
        "p50_by_fifth": [round(percentile(lat[j * len(lat) // 5:(j + 1) * len(lat) // 5], 50), 3)
                         for j in range(5)],
    }


def run_workload(run: Run, spark, inputs, setup_base: float, run_dir: str) -> None:
    """build -> set up a reader -> open-loop serving -> checks; a traced
    run then also searches for max_qps and applies changelog batches."""
    args, rep = run.args, run.report
    corpus = inputs["corpus"]
    index_dir = os.path.join(run_dir, "index")

    t = time.perf_counter()
    warm_session(spark, inputs["parquet"], run_dir)
    session_warm_s = time.perf_counter() - t
    run.build(spark, inputs, index_dir)
    collect_garbage(spark)

    # set up several times, keep the median
    opens = []
    si = None
    for _ in range(OPENS):
        if si is not None:
            si.close()
        t = time.perf_counter()
        si = run.open_index(spark, index_dir)
        opens.append(time.perf_counter() - t)
    warm = gen.warmup_requests(corpus)
    if args.workload == "serve_hot":
        # a hot server's result cache already holds its popular queries
        warm += [{**q, "preview": False} for q in gen.hot_pool(corpus)]
    call = run.serve_call(spark, si)
    t = time.perf_counter()
    for req in warm:
        call(req)
    warm_s = time.perf_counter() - t
    rep.update({
        "setup_s": setup_base + session_warm_s + median(opens) + warm_s,
        "session_warm_s": session_warm_s,
        "open_s": median(opens),
        "warmup_s": warm_s,
    })

    rate = WORKLOADS[args.workload]["rate"]
    n_nominal = int(rate * args.seconds)
    n_probe = BISECT_PROBES * int(WORKLOADS[args.workload]["ladder"][1] * PROBE_S + 1)
    make = gen.hot_stream if args.workload == "serve_hot" else gen.cold_stream
    stream = make(corpus, n_nominal + (n_probe if run.tracer else 0))
    reqs = stream[:n_nominal]
    ticks = cpu_ticks()
    recs = run.open_loop(spark, si, reqs, rate, "n", keep=lambda i: True)
    # share of the machine's CPU time stolen by the host while serving: a
    # validity check on the run's latencies, not a metric
    total, stolen = (b - a for a, b in zip(ticks, cpu_ticks()))
    rep["serve_steal_share"] = stolen / total if total else 0.0
    rep.update(latency_report(run, recs, "serving"))
    if run.tracer:
        run.layer.update(phase_layers(run.tracer, recs, "n"))
        run.layer["trace.query_ms_p50"] = rep.get("query_ms_p50", 0.0)
        run.layer["gen.lag_ms_p95"] = rep.get("gen_lag_ms_p95", 0.0)
        run.layer["storage.open_s"] = median([s.dur for s in run.tracer.by_name("storage.open")])
        run.layer["load.max_qps"] = run.max_qps(spark, si, stream[n_nominal:])
    run.mem.stop()
    si.close()
    t = time.perf_counter()
    run.check_responses(recs, reqs, inputs)
    rep["check_s"] = time.perf_counter() - t
    if run.tracer:
        # the incremental write path: changelog batches applied to the
        # served index
        run.changelog(spark, inputs, index_dir)


# ---------------------------------------------------------------- main


WORKER_ENV = "PERFBENCH_T0"  # set in the child: the supervisor's start time
PR_SET_PDEATHSIG = 1
PR_SET_CHILD_SUBREAPER = 36
STOP_GRACE_S = 10.0  # SIGTERM, then SIGKILL after this long


class Stopped(Exception):
    pass


def prctl(option: int, arg: int) -> None:
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(option, arg, 0, 0, 0) != 0:
        err = ctypes.get_errno()
        raise OSError(err, f"prctl({option}): {os.strerror(err)}")


def descendants(root: int) -> list[int]:
    """Pids of every process below ``root``, from /proc."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue  # the process ended between the scan and the read
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        kids = children.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out


def reap() -> None:
    """Reap every child of this process that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_descendants() -> int:
    """Stop every process below this one and reap each; as the subreaper
    this process inherits the orphans, so waiting for them is possible.
    SIGTERM first, SIGKILL after ``STOP_GRACE_S``. Returns how many
    processes were left running when it was called."""
    me = os.getpid()
    reap()
    left = descendants(me)
    for pid in left:
        try:
            with open(f"/proc/{pid}/stat") as f:
                comm, rest = f.read().split(" (", 1)[1].rsplit(")", 1)
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")[:200]
        except (OSError, ValueError):
            comm, rest, cmd = "?", " ?", ""
        print(f"perfbench: stopping process {pid} ({comm}, state {rest.split()[0]}) "
              f"the run left running: {cmd}", file=sys.stderr)
    n_left, sig = len(left), signal.SIGTERM
    deadline = time.monotonic() + STOP_GRACE_S
    while left:
        if sig == signal.SIGTERM and time.monotonic() > deadline:
            sig = signal.SIGKILL
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.05)
        reap()
        left = descendants(me)
    return n_left


def supervise(argv: list[str]) -> int:
    """Run the benchmark in a child and stop everything it leaves."""
    t_proc = time.perf_counter() - process_age_s()
    prctl(PR_SET_CHILD_SUBREAPER, 1)

    def on_signal(signum, frame):
        raise Stopped(signum)

    for s in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(s, on_signal)
    rc, child = 1, None
    try:
        child = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), *argv],
            env={**os.environ, WORKER_ENV: repr(t_proc)},
            # the child dies with the supervisor, whatever kills it
            preexec_fn=lambda: prctl(PR_SET_PDEATHSIG, signal.SIGKILL),
        )
        rc = child.wait()
    except Stopped as e:
        rc = 128 + e.args[0]
    finally:
        for s in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
            signal.signal(s, signal.SIG_IGN)
        stop_descendants()
        if child is not None:
            # the run's scratch directory, if the run was stopped before
            # it could remove it
            shutil.rmtree(os.path.join(CACHE, f"run-{child.pid}"), ignore_errors=True)
    return rc


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if WORKER_ENV not in os.environ:
        return supervise(argv)
    # setup_s counts from the start of the supervisor; perf_counter is
    # CLOCK_MONOTONIC, the same clock in every process of the machine
    t_proc = float(os.environ[WORKER_ENV])
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=tuple(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "tlgs_spark", "__init__.py")):
        print(f"tlgs_spark package not found under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    run_dir = os.path.join(CACHE, f"run-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    prepare_env(run_dir)
    try:
        return run_main(args, run_dir, t_proc)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def run_main(args, run_dir: str, t_proc: float) -> int:
    run = Run(args)
    if args.trace:
        run.tracer = Tracer()
        install_tracer(run.tracer)
        run.layer["trace.overhead_us_per_span"] = span_overhead_us()
    # inputs are ready before the JVM starts, so set-up never shares the
    # machine with their generation; setup_s leaves their time out
    t = time.perf_counter()
    inputs = load_inputs(args.seed)
    inputs_s = time.perf_counter() - t
    run.report["inputs_s"] = inputs_s
    from tlgs_spark.session import get_spark

    t = time.perf_counter()
    with run.span("session.start"):
        spark = get_spark(app_name="perfbench", cores=SPARK_CORES, extra_conf=spark_conf(run_dir))
    run.layer["session.start_s"] = time.perf_counter() - t
    setup_base = time.perf_counter() - t_proc - inputs_s
    try:
        # peak memory from here to the end of the serving phase
        run.mem = MemPeak().start()
        run_workload(run, spark, inputs, setup_base, run_dir)
    finally:
        if run.mem is not None:
            run.mem.stop()
        stop_session()
    rep = run.report
    rep["mem_peak_mb"] = run.mem.peak_kb / 1024.0
    rep["mem_peak_split_mb"] = {k: round(v / 1024.0, 1) for k, v in run.mem.peak_split.items()}
    if args.trace:
        trace_dir = os.path.join(CACHE, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        rep["spans_file"] = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.jsonl")
        run.tracer.dump(rep["spans_file"])
        prune(trace_dir, keep=CACHE_KEEP)
        metrics = {k: {"value": run.layer.get(k, 0.0), "unit": u} for k, u in PER_LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": rep[k], "unit": u} for k, u in END_TO_END_UNITS.items() if k in rep}
    correct = run.failed == 0 and (bool(args.trace) or len(metrics) == len(END_TO_END_UNITS))
    print(json.dumps({"report": rep, "layers": run.layer, "errors": run.errors}, default=float))
    print(json.dumps({"correct": correct, "attempted": max(1, run.attempted),
                      "failed": run.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
