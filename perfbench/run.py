"""The repository's benchmark: one command per workload.

    python3 perfbench/run.py --workload cdc_fanout_paced --seed 1 --seconds 10 --trace 0

Run from the repository root. Starts the engine on local[4], feeds it
seeded generated inputs, checks every output against an independent
reference and prints, as its last stdout line, one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The line before it is the run's noise record. perfbench/README.md
describes the workloads and the metrics.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import dataclasses  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import urllib.request  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path.insert(0, ROOT)

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

# the program under test: without it the run fails here, before it
# starts any process
from cdc2vec_spark import runner  # noqa: E402
from cdc2vec_spark.config import SinkConfig, load_yaml  # noqa: E402
from cdc2vec_spark.session import get_spark  # noqa: E402

import gen  # noqa: E402
import procstat  # noqa: E402
import reference  # noqa: E402
from spans import SPARK_KEYS, Tracer, self_times  # noqa: E402

CPUS = 4
HEAP = "1g"

# cdc_fanout_paced: the production fan-out topology fed one 64-change file
# per interval. A warm-up file of inserts runs first: the JVM's cold batch.
# It also trains the IVF centroids, a 1-in-31 hash sample of its point
# ids, which are the same for every seed. A timed batch then takes 11-16 s
# (median about 13) on local[4] at the seed commit, so a 20 s interval
# keeps the batch wall near two thirds of it and at most one file pending.
# (A second warm-up file cost 15 s a run and did not make the timed
# batches steadier.)
FANOUT_CONFIG = "configs/fanout-three-sinks.yaml"
WARM_FILES = (256,)
FILE_CHANGES = 64
INTERVAL_S = 20.0
TRIGGER_S = 0.5  # the config's flush_interval_ms: trigger ticks sit on multiples of it
DUE_PHASE_S = 0.3  # files fall due this far past a tick, so each waits 0.2 s

# llm_batch_ops: one query per operator family, in this fixed order. The
# median op falls on d19/d28 and the tail on d2. Set-up runs WARM_PASSES
# untimed passes: the first collects and checks the rows; the JIT then
# keeps speeding passes up for two or three more, by about a fifth in
# all, and the run budget allows one. Timed passes repeat while the next
# one is expected to end within --seconds, and at least MIN_PASSES run: a
# warm pass takes 4-8 s at the seed commit, so a 10 s window makes two.
WARM_PASSES = 2
MIN_PASSES = 2
LLM_QUERIES = (
    ("t1_token_count", "text"), ("d3_exact_topk", "similarity"),
    ("d19_hybrid", "retrieval"), ("d28_lm_perplexity", "lm"),
    ("d2_blocked_jaccard", "dedup"),
)

SPAN_LAYERS = (
    "cdc.pipeline", "runner.collection", "sinks.qdrant", "operators.ann_index",
    "operators.lex_index", "cdc.ivm", "operators.dedup", "operators.similarity",
    "operators.text", "operators.lm", "operators.retrieval",
)
# the sink types for which boot() keeps the extracted text on the points
KEEP_TEXT_SINKS = ("lex_index", "group_agg", "distinct_agg", "neardup")
# per batch, the wall time the layer spans and the tracer's own measured
# work may leave unexplained: Python statements between the spans
RESIDUAL_TOL_S = 0.05
SINK_LAYER = {
    "qdrant": "sinks.qdrant", "ivf_index": "operators.ann_index",
    "lex_index": "operators.lex_index", "group_agg": "cdc.ivm",
}
LAYER_UNITS = {
    "busy_s": "s", "self_s": "s", "spark.jobs": "count", "spark.tasks": "count",
    "spark.cpu_s": "s", "spark.shuffle_mb": "MB", "spark.spill_mb": "MB",
    "py_cpu_s": "s", "floor_s": "s",
}
COUNT_UNITS = {
    "streaming.source.lag_files_max": "count", "streaming.source.wait_s": "s",
    "cdc.pipeline.rows_in": "count", "cdc.pipeline.points_out": "count",
    "embed.provider.texts": "count", "runner.collection.touched_buckets": "count",
    "runner.collection.bytes_written": "bytes", "runner.collection.write_amp": "ratio",
    "sinks.qdrant.requests": "count", "sinks.qdrant.points": "count",
    "sinks.qdrant.errors": "count", "operators.ann_index.bytes_written": "bytes",
    "operators.lex_index.bytes_written": "bytes", "cdc.ivm.bytes_written": "bytes",
}
DIAG_UNITS = {
    "spark.noop_job_s": "s", "bench.gen.lateness_max_s": "s",
    "bench.mock_qdrant.cpu_s": "s", "host.steal_share": "share", "trace.overhead_s": "s",
}
E2E_UNITS = {
    "setup_s": "s", "latency_p50_s": "s", "latency_p95_s": "s",
    "ops_per_s": "1/s", "cpu_s_per_op": "s", "peak_rss_mb": "MB",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit, in output order."""
    out = {f"{layer}.{k}": u for layer in SPAN_LAYERS for k, u in LAYER_UNITS.items()}
    return {**out, **COUNT_UNITS, **DIAG_UNITS}


# ---------------------------------------------------------------- plumbing


def percentile(xs, q: float) -> float:
    return float(np.percentile(np.asarray(xs, dtype=float), q))


class Processes:
    """The processes a run starts; stop() ends and reaps every one."""

    def __init__(self) -> None:
        self.procs: list[subprocess.Popen] = []
        self.spark = None

    def start(self, args: list[str], **kw) -> subprocess.Popen:
        p = subprocess.Popen([sys.executable, *args], **kw)
        self.procs.append(p)
        return p

    def stop(self) -> None:
        if self.spark is not None:
            from pyspark import SparkContext

            gw = SparkContext._gateway
            self.spark.stop()
            self.spark = None
            if gw is not None:
                gw.shutdown()
                gw.proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    gw.proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    gw.proc.kill()
                    gw.proc.wait()
        for p in self.procs:
            if p.stdin:
                p.stdin.close()
            if p.poll() is None:
                p.terminate()
            try:
                p.wait(timeout=10)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()


def start_spark(procs: Processes, work: str):
    """The engine's own session factory on local[4], with every temporary
    directory inside ``work``. Returns (session, JVM pid)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    spark = get_spark(
        "perfbench", cpus=CPUS, shuffle_partitions=CPUS,
        extra_conf={
            # heap pinned and pre-touched: resident memory then does not
            # depend on when the collector grows the heap
            "spark.driver.extraJavaOptions":
                f"-Xms{HEAP} -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp}",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    procs.spark = spark
    spark.sparkContext.setLogLevel("ERROR")
    from pyspark import SparkContext

    return spark, SparkContext._gateway.proc.pid


def noop_job_s(spark) -> float:
    """Median latency of a one-task JVM-only job: the scheduling floor."""
    def one() -> float:
        t = time.perf_counter()
        spark.range(0, 1, 1, 1).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t

    for _ in range(3):
        one()
    return statistics.median(one() for _ in range(11))


class Usage:
    """CPU seconds of the engine's process tree (this process, the JVM, the
    Python workers; the mock and the lander excluded) and the host's
    steal share, from construction to stop()."""

    def __init__(self, exclude=()):
        self.exclude = frozenset(exclude)
        self.cpu0 = self._cpu()
        self.host0 = procstat.host_jiffies()

    def _cpu(self) -> float:
        return procstat.cpu_s(procstat.tree(os.getpid(), self.exclude))

    def stop(self) -> tuple[float, float]:
        return self._cpu() - self.cpu0, procstat.steal_share(self.host0, procstat.host_jiffies())


def peak_rss_mb(jvm_pid: int) -> float:
    return procstat.vm_hwm_mb(jvm_pid) + procstat.vm_hwm_mb(os.getpid())


def python_workers(jvm_pid: int):
    return lambda: [p for p in procstat.tree(jvm_pid) if p != jvm_pid]


def wait_for(cond, timeout: float, what: str, poll: float = 0.01) -> None:
    end = time.time() + timeout
    while not cond():
        if time.time() > end:
            raise TimeoutError(f"timed out waiting for {what}")
        time.sleep(poll)


def write_atomic(path: str, text: str) -> None:
    with open(path + ".tmp", "w") as f:
        f.write(text)
    os.rename(path + ".tmp", path)


# -------------------------------------------------------------------- CDC


def http_json(url: str, data: bytes | None = None) -> dict:
    with urllib.request.urlopen(urllib.request.Request(url, data=data), timeout=30) as r:
        return json.load(r)


def cdc_config(cfg, work: str, qdrant_url: str):
    """``cfg`` with its deployment settings (the Qdrant URL, the sinks'
    state paths) pointed at this run's mock and work directory."""

    def local(s: SinkConfig) -> SinkConfig:
        opts = dict(s.options)
        if s.type == "qdrant":
            opts["url"] = qdrant_url
        if "path" in opts:
            opts["path"] = os.path.join(work, "sinks", s.type)
        return SinkConfig(type=s.type, options=opts)

    return dataclasses.replace(
        cfg, sink=local(cfg.sink), extra_sinks=tuple(local(s) for s in cfg.extra_sinks)
    )


def spark_schema():
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField(f.name, T.LongType() if f.name == "lsn" else T.StringType())
            for f in gen.CHANGE_SCHEMA
        ]
    )


def checkpoint_batches(ckpt: str) -> dict[str, int]:
    """file name → micro-batch id, from the file source's metadata log."""
    out = {}
    d = os.path.join(ckpt, "sources", "0")
    for fn in os.listdir(d):
        if fn.startswith("."):
            continue
        with open(os.path.join(d, fn)) as f:
            for line in f:
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def log_mtime(ckpt: str, log: str, batch: int) -> float:
    """When the offset log (batch start) or commit log (batch commit)
    entry of ``batch`` was written."""
    return os.stat(os.path.join(ckpt, log, str(batch))).st_mtime


def n_commits(ckpt: str) -> int:
    d = os.path.join(ckpt, "commits")
    return sum(1 for f in os.listdir(d) if f.isdigit()) if os.path.isdir(d) else 0


def live_points(coll) -> pd.DataFrame:
    from pyspark.sql import functions as F

    live = coll.live()
    if live is None:
        return pd.DataFrame(columns=["id", "author", "dim", "prefix"])
    return live.select(
        "id",
        F.element_at("metadata", "author").alias("author"),
        F.size("vector").alias("dim"),
        F.slice("vector", 1, reference.PREFIX).alias("prefix"),
    ).toPandas()


def lag_files_max(due: list[float], start: list[float]) -> int:
    """Files of the paced sequence already due when each batch started and
    not yet taken by an earlier batch (the batch's own file included)."""
    return max(sum(1 for d in due[i:] if d <= s) for i, s in enumerate(start))


def run_fanout(a, work: str) -> dict:
    n_timed = max(2, -(-int(a.seconds) // int(INTERVAL_S)))
    n_warm = len(WARM_FILES)
    sizes = [*WARM_FILES] + [FILE_CHANGES] * n_timed
    dst, ckpt = os.path.join(work, "changes"), os.path.join(work, "ckpt")
    rec_path = os.path.join(work, "lander.json")

    procs = Processes()
    try:
        lander = procs.start(
            [os.path.join(HERE, "lander.py"), "--seed", str(a.seed),
             "--sizes", ",".join(map(str, sizes)), "--warm", str(n_warm),
             "--interval", str(INTERVAL_S), "--stage", os.path.join(work, "stage"),
             "--dst", dst, "--out", rec_path],
            stdin=subprocess.DEVNULL,
        )
        mock = procs.start(
            [os.path.join(HERE, "mock_qdrant.py")],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        qdrant = f"http://127.0.0.1:{int(mock.stdout.readline())}"
        spark, jvm_pid = start_spark(procs, work)
        noop_s = noop_job_s(spark)
        cfg = cdc_config(load_yaml(os.path.join(ROOT, FANOUT_CONFIG)), work, qdrant)
        wait_for(lambda: os.path.exists(rec_path + ".ready"), 120, "the lander")

        query, coll, _ = runner.boot(
            spark, cfg, changes_dir=dst, changes_schema=spark_schema(),
            state_dir=os.path.join(work, "state"), checkpoint_dir=ckpt,
        )
        try:
            wait_for(lambda: n_commits(ckpt) >= n_warm, 180, "the warm-up batches")
            # the first timed file falls due DUE_PHASE_S after a trigger tick
            t0 = (time.time() + 0.2) // TRIGGER_S * TRIGGER_S + TRIGGER_S + DUE_PHASE_S
            write_atomic(rec_path + ".go", repr(t0))
            wait_for(lambda: time.time() >= t0, 5, "the first tick", poll=0.001)
            usage = Usage([mock.pid, lander.pid])
            mock0 = http_json(qdrant + "/stats")
            wait_for(lambda: n_commits(ckpt) >= n_warm + n_timed, n_timed * INTERVAL_S + 90,
                     "the last commit")
            cpu, steal = usage.stop()
            mock1 = http_json(qdrant + "/stats")
        finally:
            query.stop()
        lander.wait(timeout=30)
        with open(rec_path) as f:
            rec = json.load(f)

        batch_of = checkpoint_batches(ckpt)
        timed = rec["files"][n_warm:]
        due = rec["due"][n_warm:]
        bids = [batch_of[f] for f in timed]
        start = [log_mtime(ckpt, "offsets", b) for b in bids]
        commit = [log_mtime(ckpt, "commits", b) for b in bids]
        fresh = [c - d for c, d in zip(commit, due)]
        changes = n_timed * FILE_CHANGES

        # correctness: a replay of every landed file against the
        # collection and the mock's live point set
        log = pd.concat([pq.read_table(os.path.join(dst, f)).to_pandas() for f in rec["files"]])
        want = reference.replay(log, cfg.engine.vector_size)
        problems, bad_ids = reference.cdc_problems(
            want, live_points(coll), set(http_json(qdrant + "/live")["live"]),
            cfg.engine.vector_size,
        )
        timed_pks = log[log["lsn"] > sum(WARM_FILES)]["pk"]
        failed = int(timed_pks.isin({i.split(":", 1)[1] for i in bad_ids}).sum())
        if problems and not failed:
            failed = changes  # a defect tied to no key fails every change

        # every change of a file shares the file's freshness
        per_change = np.repeat(fresh, FILE_CHANGES)
        result = dict(
            attempted=changes, failed=failed, problems=problems,
            e2e=dict(
                setup_s=due[0] - T_START,
                latency_p50_s=percentile(per_change, 50),
                latency_p95_s=percentile(per_change, 95),
                ops_per_s=changes / (commit[-1] - due[0]),
                cpu_s_per_op=cpu / changes,
                peak_rss_mb=peak_rss_mb(jvm_pid),
            ),
            noise=dict(
                samples=changes, batches=n_timed,
                batch_wall_s=[round(c - s, 3) for c, s in zip(commit, start)],
                warm_wall_s=[round(log_mtime(ckpt, "commits", b) - log_mtime(ckpt, "offsets", b), 3)
                             for b in range(n_warm)],
                steal_share=steal, noop_job_s=noop_s, heap=HEAP,
            ),
        )
        if a.trace:
            counts = dict.fromkeys(COUNT_UNITS, 0.0)
            counts["streaming.source.lag_files_max"] = lag_files_max(due, start)
            counts["streaming.source.wait_s"] = statistics.median(
                s - d for s, d in zip(start, due))
            layers, overhead, residual = traced_fanout(
                spark, cfg, dst, rec["files"], n_warm, work, qdrant, jvm_pid, noop_s, counts)
            result["noise"]["trace_residual_max_s"] = residual
            result["trace"] = dict(
                layers=layers, counts=counts,
                diag={
                    "spark.noop_job_s": noop_s,
                    "bench.gen.lateness_max_s": max(
                        l_ - d_ for l_, d_ in zip(rec["landed"][n_warm:], due)),
                    "bench.mock_qdrant.cpu_s": mock1["cpu_s"] - mock0["cpu_s"],
                    "host.steal_share": steal,
                    "trace.overhead_s": overhead,
                },
            )
        return result
    finally:
        procs.stop()


def dir_files(path: str) -> dict[str, tuple]:
    out = {}
    for d, _, fs in os.walk(path):
        for f in fs:
            p = os.path.join(d, f)
            try:
                st = os.stat(p)
            except OSError:
                continue
            out[p] = (st.st_ino, st.st_mtime_ns, st.st_size)
    return out


def written(before: dict, after: dict) -> list[str]:
    """Files new or rewritten between two dir_files snapshots."""
    return [p for p, v in after.items() if before.get(p) != v and not p.endswith(".crc")]


def traced_fanout(spark, cfg, dst, files, n_warm, work, qdrant, jvm_pid, noop_s, counts):
    """Replays the run's files batch by batch through the calls the
    engine's per-batch handler makes (run_batch, the collection's
    apply_points, each sink hook), each call inside a layer span, on fresh
    state and a reset mock. The provider, the collection class and the
    keep_text choice come from the same config rules boot() applies. Fills
    ``counts`` and returns the per-layer totals over the timed files, the
    largest per-batch tracer overhead and the largest per-batch residual
    (see check_batches)."""
    from pyspark.sql import functions as F

    http_json(qdrant + "/reset", data=b"")
    tw = os.path.join(work, "traced")
    cfg = cdc_config(cfg, tw, qdrant)
    provider = runner._provider_from(cfg)
    keep_text = any(s.type in KEEP_TEXT_SINKS for s in cfg.all_sinks)
    state, sinks_dir = os.path.join(tw, "state"), os.path.join(tw, "sinks")
    coll = runner._collection_for(spark, cfg, state)
    hooks = [(SINK_LAYER[s.type], s.type, runner.sink_hook_for(cfg, s)) for s in cfg.all_sinks]
    schema = spark_schema()
    tracer = Tracer(spark, python_workers(jvm_pid))
    timed_spans, roots = [], []
    rows_written = points = 0
    for i, fn in enumerate(files):
        path = os.path.join(dst, fn)
        batch = spark.read.schema(schema).parquet(path)
        with tracer.span("batch", counted=False) as r:
            # the handler persists the points before the fan-out; forcing
            # them here charges decode and embed to cdc.pipeline
            with tracer.span("cdc.pipeline", r) as ip:
                pts = runner.run_batch(batch, cfg.engine, provider, keep_text=keep_text).persist()
                n_pts, n_texts = pts.agg(
                    F.count(F.lit(1)), F.count(F.when(F.col("op") != "d", 1))
                ).first()
            with tracer.bookkeeping(r):
                before = dir_files(state)
            with tracer.span("runner.collection", r) as ic:
                coll.apply_points(pts, i)
            with tracer.bookkeeping(r):
                new = written(before, dir_files(state))
            spans_i = [ip, ic]
            for layer, kind, hook in hooks:
                with tracer.bookkeeping(r):
                    snap = dir_files(sinks_dir)
                    m0 = http_json(qdrant + "/stats") if kind == "qdrant" else None
                with tracer.span(layer, r) as ih:
                    hook(pts)
                spans_i.append(ih)
                if i < n_warm:
                    continue
                with tracer.bookkeeping(r):
                    if m0 is None:
                        counts[f"{layer}.bytes_written"] += sum(
                            os.path.getsize(p) for p in written(snap, dir_files(sinks_dir)))
                    else:
                        m1 = http_json(qdrant + "/stats")
                        for k in ("requests", "points", "errors"):
                            counts[f"sinks.qdrant.{k}"] += m1[k] - m0[k]
        pts.unpersist()
        if i < n_warm:
            continue
        timed_spans += spans_i
        roots.append(r)
        counts["cdc.pipeline.rows_in"] += pq.ParquetFile(path).metadata.num_rows
        counts["cdc.pipeline.points_out"] += n_pts
        counts["embed.provider.texts"] += n_texts
        counts["runner.collection.touched_buckets"] += len({os.path.dirname(p) for p in new})
        counts["runner.collection.bytes_written"] += sum(os.path.getsize(p) for p in new)
        rows_written += sum(
            pq.ParquetFile(p).metadata.num_rows for p in new if p.endswith(".parquet"))
        points += n_pts
    # write amplification in rows: at the written files' mean row size it
    # equals bytes written ÷ the batch's point bytes
    counts["runner.collection.write_amp"] = rows_written / points if points else 0.0
    selfs = self_times(tracer.spans)
    residual = check_batches(tracer.spans, selfs, tracer.overhead, roots)
    overhead = max(tracer.overhead[r] for r in roots)
    return layer_totals(tracer.spans, timed_spans, selfs, noop_s), overhead, residual


def batch_residual(spans, selfs, overhead, root: int) -> float:
    """The part of a batch's wall that neither its layers' self times nor
    the tracer's measured overhead inside it account for."""
    wall = spans[root].end - spans[root].start
    layers = sum(selfs[j] for j, s in enumerate(spans) if s.parent == root)
    return wall - layers - overhead.get(root, 0.0)


def check_batches(spans, selfs, overhead, roots, tol: float = RESIDUAL_TOL_S) -> float:
    """Per batch, the layers' self times plus the tracer's overhead must
    add up to the batch wall within ``tol``: a larger remainder means some
    call ran outside every layer span. Returns the largest remainder."""
    res = [batch_residual(spans, selfs, overhead, r) for r in roots]
    bad = [(spans[r].name, r, round(x, 4)) for r, x in zip(roots, res) if abs(x) > tol]
    if bad:
        raise AssertionError(f"layer self times + tracer overhead miss the batch wall: {bad}")
    return max(res, key=abs)


def layer_totals(spans, idx: list[int], selfs: list[float], noop_s: float) -> dict:
    """Per-layer sums over the spans ``idx``."""
    out: dict[str, dict] = {}
    for i in idx:
        s = spans[i]
        d = out.setdefault(s.name, dict.fromkeys(LAYER_UNITS, 0.0))
        d["busy_s"] += s.end - s.start
        d["self_s"] += selfs[i]
        for k in SPARK_KEYS:
            d[f"spark.{k}"] += s.counters.get(k, 0.0)
        d["py_cpu_s"] += s.counters.get("py_cpu_s", 0.0)
        d["floor_s"] += s.counters.get("jobs", 0.0) * noop_s
    return out


# -------------------------------------------------------------------- LLM


def oracle_check_module():
    """tests/oracle_check.py, loaded from its file without running it."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "oracle_check", os.path.join(ROOT, "tests", "oracle_check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def registry_query(name: str, module: str):
    import importlib

    mod = importlib.import_module(f"cdc2vec_spark.operators.{module}")
    return mod.QUERIES[name], mod.ORACLES[name]


def clear_memos(spark) -> None:
    """Drop the engine's per-session memos, so every pass recomputes."""
    from cdc2vec_spark.operators import dedup, similarity

    dedup.clear_graph_stage_cache()
    similarity.clear_ivf_cache()
    spark.catalog.clearCache()


def to_noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run_llm(a, work: str) -> dict:
    oc = oracle_check_module()
    sf = gen.corpus(a.seed, os.path.join(work, "corpus"))
    queries = [(n, m, *registry_query(n, m)) for n, m in LLM_QUERIES]
    procs = Processes()
    try:
        spark, jvm_pid = start_spark(procs, work)
        noop_s = noop_job_s(spark)
        # the untimed warm-up passes: in the first, each query's rows are
        # collected and checked against its DuckDB oracle
        con = oc.duckdb_conn(sf)
        checks = {n: oc.compare_one(spark, con, n, fn, sql, sf) for n, _, fn, sql in queries}
        clear_memos(spark)
        for _ in range(WARM_PASSES - 1):
            for _, _, fn, _ in queries:
                to_noop(fn(spark, sf))
            clear_memos(spark)

        usage = Usage()
        lat: dict[str, list[float]] = {n: [] for n, *_ in queries}
        t_first = time.time()
        passes = 0
        while passes < MIN_PASSES or (time.time() - t_first) * (passes + 1) / passes <= a.seconds:
            for n, _, fn, _ in queries:
                t = time.perf_counter()
                to_noop(fn(spark, sf))
                lat[n].append(time.perf_counter() - t)
            clear_memos(spark)
            passes += 1
        window = time.time() - t_first
        cpu, steal = usage.stop()

        failed = sum(len(lat[n]) for n, p in checks.items() if p)
        allv = [x for v in lat.values() for x in v]
        result = dict(
            attempted=len(allv), failed=failed,
            problems=[f"{n}: {x}" for n, p in checks.items() for x in p],
            e2e=dict(
                setup_s=t_first - T_START,
                latency_p50_s=percentile(allv, 50),
                latency_p95_s=percentile(allv, 95),
                ops_per_s=len(allv) / window,
                cpu_s_per_op=cpu / len(allv),
                peak_rss_mb=peak_rss_mb(jvm_pid),
            ),
            noise=dict(
                samples=len(allv), passes=passes,
                pass_s=[round(sum(v[i] for v in lat.values()), 3) for i in range(passes)],
                steal_share=steal,
                noop_job_s=noop_s, heap=HEAP,
                query_median_s={n: round(statistics.median(v), 4) for n, v in lat.items()},
            ),
        )
        if a.trace:
            tracer = Tracer(spark, python_workers(jvm_pid))
            idx = []
            for _, m, fn, _ in queries:
                with tracer.span(f"operators.{m}") as i:
                    to_noop(fn(spark, sf))
                idx.append(i)
            clear_memos(spark)
            result["trace"] = dict(
                layers=layer_totals(tracer.spans, idx, self_times(tracer.spans), noop_s),
                counts=dict.fromkeys(COUNT_UNITS, 0.0),
                diag=dict.fromkeys(DIAG_UNITS, 0.0)
                | {"spark.noop_job_s": noop_s, "host.steal_share": steal},
            )
        return result
    finally:
        procs.stop()


# ------------------------------------------------------------------- main

WORKLOADS = {"cdc_fanout_paced": run_fanout, "llm_batch_ops": run_llm}


def metrics_of(result: dict, trace: bool) -> dict:
    if not trace:
        return {k: {"value": float(result["e2e"][k]), "unit": u} for k, u in E2E_UNITS.items()}
    tr = result["trace"]
    values = {
        f"{layer}.{k}": tr["layers"].get(layer, {}).get(k, 0.0)
        for layer in SPAN_LAYERS for k in LAYER_UNITS
    }
    values |= tr["counts"] | tr["diag"]
    return {k: {"value": float(values[k]), "unit": u} for k, u in per_layer_units().items()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    work = os.path.join(ROOT, ".perfbench_work", f"{a.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        result = WORKLOADS[a.workload](a, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for p in result["problems"]:
        print("check failed:", p)
    print("noise " + json.dumps(dict(result["noise"], wall_s=round(time.time() - T_START, 3))))
    print(json.dumps({
        "correct": not result["problems"],
        "attempted": int(result["attempted"]),
        "failed": int(result["failed"]),
        "metrics": metrics_of(result, bool(a.trace)),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
