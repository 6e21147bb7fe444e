"""One benchmark run: a single workload in this (fresh) process.

Started by run.py, which pins the environment and owns the run
directory.  Drives the engine only through its public calls: the
`CDCTransport` socket client, the `maxscale_cdc` streaming DataSource,
`ManifestedUpsertSink`, and the registered query functions.  The last
stdout line is the result JSON; everything else goes to stderr.
"""

from __future__ import annotations

import argparse
import contextlib
import ctypes
import gc
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import uuid

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.getcwd())

import cdcgen  # noqa: E402
import tables  # noqa: E402
from spans import Tracer  # noqa: E402

SCALES = {
    "full": {
        "backlog_events": 75_000, "backlog_keys": 30_000,
        "backlog_burst": 10_000,
        "mix_events": 20_000, "mix_keys": 10_000, "mix_sf": 0.1,
        "min_queries": 100,
    },
    # self-test size: seconds per workload, same code paths
    "tiny": {
        "backlog_events": 3_000, "backlog_keys": 500, "backlog_burst": 500,
        "mix_events": 2_000, "mix_keys": 500, "mix_sf": 0.001,
        "min_queries": 4,
    },
}

# query_mix: one registered query per family (operator module), the
# family's 10th-percentile query by the per-query sf0.1 times bench.py
# recorded in BENCH_DETAIL.json (441 queries) -- index len // 10 of the
# family's queries sorted by recorded time.  The cheap end, not the
# cheapest, because the timed rounds have to fit one run's time budget;
# fn_math (relational's pick) disagrees with its DuckDB oracle on the
# synthetic tables (rounding of doubles), so relational takes the next
# one up.  Recorded seconds in the comments.
MIX_QUERIES = {
    "cdc_scd2": "cdc",  # 0.286
    "fn_array": "relational",  # 0.179
    "tpch_q14": "tpch",  # 0.376
    "llm_dedup_exact": "llm",  # 0.184
    "llm_ann_join_topk_scaled": "retrieval",  # 0.476
    "mm_shard_manifest": "multimodal",  # 0.230
}
# keys of the last merges that build query_mix's table: fixed, so that
# the table's layout does not depend on the seed (with seeded tails, runs
# whose table had one generation more were ~10% slower)
TAIL_KEYS = ((0, 1, 2, 3),)
# plus one of each serving read against the sink per round
SERVING = ("serve_point", "serve_topk", "serve_agg")
MENU = list(MIX_QUERIES) + list(SERVING)
WARM_ROUNDS = 1
MIN_DRAINS = 3
QUERY_MODULES = ("cdc", "relational", "tpch", "llm", "retrieval",
                 "multimodal", "serving")


def pct(values, q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=np.float64), q))


def weighted_pct(values: np.ndarray, weights: np.ndarray, q: float) -> float:
    order = np.argsort(values)
    v, w = values[order], weights[order]
    cum = np.cumsum(w)
    return float(v[np.searchsorted(cum, q / 100.0 * cum[-1])])


class Run:
    """Per-run state: tracer, counters, layer metrics, scratch dirs."""

    def __init__(self, args) -> None:
        self.args = args
        self.sc = SCALES[args.scale]
        self.tr = Tracer(bool(args.trace), uuid.uuid4().hex[:12])
        self.work = os.environ.get("PERFBENCH_RUN_DIR") or tempfile.mkdtemp()
        self.build = os.environ.get("PERFBENCH_BUILD_DIR", self.work)
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.layer: dict[str, float] = {}
        self.state_read_ms: list[float] = []
        self.batches: list[dict] = []  # StreamingQueryProgress of every batch
        self.servers: list[subprocess.Popen] = []
        self.setup_s = 0.0
        self.gate_s = 0.0
        self.spark = None

    def op(self) -> None:
        """Count one operation of the workload (drain, query, read)."""
        self.attempted += 1

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)
            print(f"perfbench: FAILED {what}", file=sys.stderr)

    @contextlib.contextmanager
    def gate(self):
        """Time correctness-gate work, which is not the program's."""
        t0 = time.perf_counter()
        try:
            with self.tr.span("bench.gate"):
                yield
        finally:
            self.gate_s += time.perf_counter() - t0

    def mkdir(self, prefix: str) -> str:
        return tempfile.mkdtemp(prefix=prefix, dir=self.work)

    # -- generator processes ------------------------------------------------

    def spawn_server(self, *argv: str) -> subprocess.Popen:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "cdcgen.py"), *argv],
            stdout=subprocess.PIPE, text=True,
        )
        self.servers.append(proc)
        return proc

    def stop_servers(self) -> None:
        for p in self.servers:
            if p.poll() is None:
                p.terminate()
            try:
                p.wait(timeout=10)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()


def server_address(proc: subprocess.Popen) -> str:
    """Wait for the server's port line."""
    line = proc.stdout.readline()
    if not line:
        raise RuntimeError("CDC generator exited before listening")
    return f"127.0.0.1:{int(line)}"


def read_report(proc: subprocess.Popen) -> dict:
    line = proc.stdout.readline()
    if not line:
        raise RuntimeError("CDC generator exited without a report")
    return json.loads(line)


# -- engine calls ------------------------------------------------------------


def start_session(run: Run, cdc_source: bool = True):
    from maxscale_cdc_spark.session import get_spark
    from maxscale_cdc_spark.sources.cdc_datasource import register

    t0 = time.perf_counter()
    with run.tr.span("session.get_spark"):
        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        if cdc_source:
            register(spark)
    run.layer["session.start_s"] = time.perf_counter() - t0
    run.spark = spark
    return spark


def latest_state(stream):
    """Per-key latest state in update mode, shaped like the engine's
    `_cdc_update_agg`: (sequence, event_number) orders the events, so
    an update_after wins over the update_before of the same GTID."""
    from pyspark.sql import functions as F

    order = F.col("sequence").cast("bigint") * 4 + F.col("event_number")
    return stream.groupBy("pk").agg(
        F.max(order).alias("last_ord"),
        F.max_by("event_type", order).alias("last_dml"),
        F.max_by("val", order).alias("last_val"),
    )


def cdc_reader(spark, spool: str):
    return (
        spark.readStream.format("maxscale_cdc")
        .option("path", spool)
        .option("database", cdcgen.DB)
        .option("table", cdcgen.TABLE)
        .option("schemaFromSpool", "true")
        .load()
    )


def progress(query) -> list[dict]:
    return [json.loads(p.json) for p in query.recentProgress]


class Consumer:
    """One consumer: spool, checkpoint and sink dirs, the transport that
    fills the spool, and the streaming query that merges it.  The sink is
    a zero-copy fork of `base`, so every merge lands on a filled table and
    reads, carries and rewrites its rows."""

    def __init__(self, run: Run, tag: str, base) -> None:
        self.run = run
        self.dir = run.mkdir(f"{tag}_")
        self.spool = os.path.join(self.dir, "spool")
        self.sink = base.fork(os.path.join(self.dir, "sink"))
        self.merges: dict[int, tuple[int, int]] = {}  # batch -> (start, end) ns
        self.progress: list[dict] = []
        self.transport = None
        self._stream_span = None

    def connect(self, address: str, burst_lines: int) -> float:
        from maxscale_cdc_spark.sources.transport import CDCTransport

        t0 = time.perf_counter()
        with self.run.tr.span("transport.handshake"):
            self.transport = CDCTransport(
                address, cdcgen.USER, cdcgen.PASSWORD, uuid.uuid4().hex
            )
            self.transport.request_data(
                cdcgen.DB, cdcgen.TABLE, self.spool, burst_lines=burst_lines
            )
        return (time.perf_counter() - t0) * 1e3

    def _merge(self, batch_df, batch_id: int) -> None:
        tr = self.run.tr
        with tr.span("sink.merge", parent=self._stream_span, batch=batch_id):
            t0 = time.time_ns()
            self.sink.merge(batch_df, batch_id)
            self.merges[batch_id] = (t0, time.time_ns())
            self.run.op()

    def run_query(self) -> None:
        """One availableNow read of the spool -> aggregate -> merge."""
        spark = self.run.spark
        t0 = time.perf_counter()
        with self.run.tr.span("source.load"):
            df = cdc_reader(spark, self.spool)
        self.run.layer["source.load_ms"] = (time.perf_counter() - t0) * 1e3
        w = (
            latest_state(df).writeStream.outputMode("update")
            .foreachBatch(self._merge)
            .option("checkpointLocation", os.path.join(self.dir, "ckpt"))
            .trigger(availableNow=True)
        )
        with self.run.tr.span("stream.query") as self._stream_span:
            q = w.start()
            q.awaitTermination()
        err = q.exception()
        if err is not None:
            raise RuntimeError(f"streaming query failed: {err}")
        self.progress = progress(q)
        self.run.batches += self.progress

    def close(self) -> None:
        if self.transport is not None:
            try:
                self.transport.stop()  # re-raises an error the pump met
            except Exception as exc:  # counted as a failure, run goes on
                self.run.check(False, f"transport: {exc!r}")
            self.transport = None
        shutil.rmtree(self.dir, ignore_errors=True)


def sink_digest(sink) -> tuple[int, int, int]:
    """`cdcgen.digest` of the sink's latest state, computed in Spark."""
    from pyspark.sql import functions as F

    state = sink.state()
    if state is None:
        return (0, 0, 0)
    live = state.filter(F.col("last_dml") != "delete")
    row = live.agg(
        F.count("*").alias("n"),
        F.sum(F.col("pk") * 1_000_003 + F.col("last_val")).alias("s1"),
        F.sum(F.col("last_val") * (F.col("pk") % 997)).alias("s2"),
    ).collect()[0]
    return (int(row["n"]), int(row["s1"] or 0), int(row["s2"] or 0))


def check_sink(run: Run, sink, want: tuple, what: str) -> None:
    got = sink_digest(sink)
    run.check(got == want, f"{what}: sink digest {got} != expected {want}")


def gate_state(run: Run, cons: Consumer, want: tuple, n_events: int, what: str):
    """Correctness gate of one ingest: the sink must equal the generator's
    latest state, and the query must have read every event once."""
    with run.gate():
        check_sink(run, cons.sink, want, what)
        rows = sum(p["numInputRows"] for p in cons.progress)
        run.check(rows == n_events, f"{what}: numInputRows {rows} != events {n_events}")


def sink_layout(run: Run, sink) -> None:
    """Bytes on disk against bytes the manifest still references."""

    def parquet_bytes(d: str) -> int:
        return sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _, files in os.walk(d) for f in files if f.endswith(".parquet")
        )

    gen_of = sink.gen_of
    total = parquet_bytes(sink.root)
    live = sum(parquet_bytes(os.path.join(g, f"b={b}")) for b, g in gen_of.items())
    run.layer["sink.disk_mb"] = total / 2**20
    run.layer["sink.space_amp"] = total / live if live else 0.0
    run.layer["sink.generations"] = float(len(set(gen_of.values())))


def mem_held_mb(spark) -> float:
    """JVM heap in use after full GCs plus this driver process's RSS after
    Python's GC has run and freed memory went back to the OS (without the
    trim RSS is the allocator's high-water mark)."""
    jvm = spark._jvm
    rt = jvm.java.lang.Runtime.getRuntime()
    for _ in range(4):  # the heap reading settles after the third GC
        jvm.java.lang.System.gc()
    heap = rt.totalMemory() - rt.freeMemory()
    gc.collect()
    ctypes.CDLL("libc.so.6").malloc_trim(0)
    with open("/proc/self/statm") as fh:
        rss = int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    return (heap + rss) / 2**20


def measure_decode(run: Run, spool: str, n_events: int) -> None:
    """Traced run only: the same spool through the source into a noop
    sink, which isolates decode from the aggregate and merge."""
    ckpt = run.mkdir("decode_ckpt_")
    t0 = time.perf_counter()
    with run.tr.span("source.decode"):
        q = (
            cdc_reader(run.spark, spool).writeStream.format("noop")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()
    dt = time.perf_counter() - t0
    run.layer["source.decode_events_per_s"] = n_events / dt
    shutil.rmtree(ckpt, ignore_errors=True)


# -- backlog drains ------------------------------------------------------------


STATE_SCHEMA = "pk bigint, last_ord bigint, last_dml string, last_val bigint"
STATE_COLUMNS = ["pk", "last_ord", "last_dml", "last_val"]


def state_rows(events) -> list[tuple]:
    """The latest-state rows the streaming aggregate hands the sink for
    `events`: one per key, its last event."""
    last = {}
    for seq, num, kind, pk, val in events:
        last[pk] = (pk, seq * 4 + num, kind, val)
    return list(last.values())


def filled_sink(run: Run, path: str, batches: list[list[tuple]]):
    """A sink at `path` after one `merge` per batch of change events."""
    import pandas as pd
    from maxscale_cdc_spark.streaming.ops import ManifestedUpsertSink

    sink = ManifestedUpsertSink(run.spark, path)
    for i, events in enumerate(batches):
        pdf = pd.DataFrame(state_rows(events), columns=STATE_COLUMNS)
        with run.tr.span("sink.merge", batch=i):
            sink.merge(run.spark.createDataFrame(pdf, STATE_SCHEMA), i)
    return sink


def start_backlog(run: Run, seed: int, n_events: int, n_keys: int):
    """Start the backlog server (it renders the backlog while the caller
    goes on) and return it with the fill that precedes the backlog, the
    backlog's event count, the keys it changes and the digest of the
    latest state after it."""
    proc = run.spawn_server("backlog", str(seed), str(n_events), str(n_keys))
    stream = cdcgen.ChangeStream(seed, n_keys)
    fill = stream.fill()
    changes = stream.changes(n_events)
    keys = len({ev[3] for ev in changes})
    return proc, fill, len(changes), keys, cdcgen.digest(stream.live)


def drain(run: Run, proc, address: str, base, n_events: int, burst: int,
          tag: str) -> dict:
    """Reconnect to the backlog, pump it to the spool until drained, then
    one availableNow read -> aggregate -> merge into a fork of `base`.
    Returns the timings and the consumer, still open."""
    cons = Consumer(run, tag, base)
    with run.tr.span("bench.drain", kind=tag):
        t0 = time.time_ns()
        hs_ms = cons.connect(address, burst)
        tp = time.perf_counter()
        with run.tr.span("transport.pump"):
            cons.transport.drain(timeout_s=120)
        pump_s = time.perf_counter() - tp
        cons.run_query()
    t_end = max(e for _, e in cons.merges.values())
    sends = read_report(proc)["sends"]
    # every event is visible once the merge of its (single) batch returns
    lines = np.array([c for c, _ in sends], dtype=np.int64)
    sent = np.array([t for _, t in sends], dtype=np.int64)
    weights = np.diff(np.concatenate([[1], lines])).astype(np.float64)  # DDL first
    late_ms = (t_end - sent) / 1e6
    bursts = len([f for f in os.listdir(cons.spool) if f.endswith(".jsonl")])
    return {
        "cons": cons, "seconds": (t_end - t0) / 1e9, "handshake_ms": hs_ms,
        "pump_s": pump_s, "bursts": bursts,
        "p50_ms": weighted_pct(late_ms, weights, 50),
        "p90_ms": weighted_pct(late_ms, weights, 90), "n": n_events,
    }


def ingest_layers(run: Run, d: dict) -> None:
    run.layer["transport.handshake_ms"] = d["handshake_ms"]
    run.layer["transport.pump_s"] = d["pump_s"]
    run.layer["transport.events_per_s"] = d["n"] / d["pump_s"]
    run.layer["transport.bursts"] = float(d["bursts"])


# -- serving reads -------------------------------------------------------------


class ServingPlan:
    """Arguments and expected answers of the serving reads, from the
    generator's latest state (pk -> val)."""

    TOPK = 10
    GROUPS = 16

    def __init__(self, expected: dict, n_keys: int, rng: random.Random) -> None:
        self.expected = expected
        self.n_keys = n_keys
        self.rng = rng
        self.topk = sorted(expected.items(), key=lambda kv: (-kv[1], kv[0]))[:self.TOPK]
        agg: dict[int, list[int]] = {}
        for pk, val in expected.items():
            a = agg.setdefault(pk % self.GROUPS, [0, 0])
            a[0] += 1
            a[1] += val
        self.agg = {g: tuple(v) for g, v in agg.items()}

    def next(self, kind: str):
        """(argument, expected answer) of one read of `kind`."""
        if kind == "serve_point":
            pk = self.rng.randrange(self.n_keys)
            return pk, self.expected.get(pk)
        if kind == "serve_topk":
            return self.TOPK, self.topk
        return self.GROUPS, self.agg


def serving_read(run: Run, sink, kind: str, arg):
    """One read against the sink's latest state.  Returns the answer and
    (build_ms, exec_ms)."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    with run.tr.span("query.build", query=kind):
        ts = time.perf_counter()
        with run.tr.span("sink.state_read"):
            state = sink.state()
        run.state_read_ms.append((time.perf_counter() - ts) * 1e3)
        live = state.filter(F.col("last_dml") != "delete")
        if kind == "serve_point":
            df = live.filter(F.col("pk") == arg).select("pk", "last_val")
        elif kind == "serve_topk":
            df = live.orderBy(F.col("last_val").desc(), F.col("pk")).limit(arg)
            df = df.select("pk", "last_val")
        else:
            df = live.groupBy((F.col("pk") % arg).alias("g")).agg(
                F.count("*").alias("n"), F.sum("last_val").alias("s")
            )
    t1 = time.perf_counter()
    with run.tr.span("query.exec", query=kind):
        rows = df.collect()
    t2 = time.perf_counter()
    run.op()
    if kind == "serve_point":
        ans = rows[0]["last_val"] if rows else None
    elif kind == "serve_topk":
        ans = [(r["pk"], r["last_val"]) for r in rows]
    else:
        ans = {r["g"]: (r["n"], r["s"]) for r in rows}
    return ans, ((t1 - t0) * 1e3, (t2 - t1) * 1e3)


# -- workloads -------------------------------------------------------------------


def backlog_drain(run: Run) -> dict:
    sc, secs = run.sc, run.args.seconds
    proc, fill, n, keys, want = start_backlog(
        run, run.args.seed, sc["backlog_events"], sc["backlog_keys"]
    )
    t_setup = time.perf_counter()
    spark = start_session(run)
    # the key space is filled and committed before any drain; every drain
    # merges into a fork of this table
    with run.tr.span("bench.bootstrap"):
        base = filled_sink(run, os.path.join(run.mkdir("base_"), "sink"), [fill])
    del fill
    t_gen = time.perf_counter()
    address = server_address(proc)  # waits if the backlog is still rendering
    gen_s = time.perf_counter() - t_gen
    warm = drain(run, proc, address, base, n, sc["backlog_burst"], "warm")
    gate_state(run, warm["cons"], want, n, "warm-up drain")
    warm["cons"].close()
    run.setup_s = time.perf_counter() - t_setup - gen_s - run.gate_s

    drains = []
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < secs or len(drains) < MIN_DRAINS:
        drains.append(drain(run, proc, address, base, n, sc["backlog_burst"],
                            f"drain{len(drains)}"))
        if len(drains) > 1:
            drains[-2]["cons"].close()
    # medians over drains: one slow drain does not move them
    metrics = {
        "throughput_per_s": statistics.median(d["n"] / d["seconds"] for d in drains),
        "latency_p50_ms": statistics.median(d["p50_ms"] for d in drains),
        "latency_p90_ms": statistics.median(d["p90_ms"] for d in drains),
        "mem_held_mb": mem_held_mb(spark),
    }
    last = drains[-1]
    gate_state(run, last["cons"], want, n, "timed drain")
    ingest_layers(run, {**last, "pump_s": statistics.median(d["pump_s"] for d in drains)})
    merge_ms = [(e - s) / 1e6 for d in drains for s, e in d["cons"].merges.values()]
    run.layer["sink.merge_p50_ms"] = pct(merge_ms, 50)
    run.layer["sink.merge_p90_ms"] = pct(merge_ms, 90)
    if run.tr.enabled:
        stream_layers(run, [p for d in drains for p in d["cons"].progress])
        write_amp(run, last["cons"], keys)
        measure_decode(run, last["cons"].spool, n)
    last["cons"].close()
    return metrics


def served_batches(seed: int, n_events: int, n_keys: int):
    """The merges that build query_mix's table: the fill of the key space
    and a seeded change stream in two merges that each touch every
    bucket, then the small merges of TAIL_KEYS, like the tail of a
    catch-up.  Those touch only some buckets, the same ones for every
    seed, so the table ends spread over the same generations in every
    run.  Returns the batches and the latest state."""
    stream = cdcgen.ChangeStream(seed, n_keys)
    events = stream.fill() + stream.changes(n_events)
    cut = len(events) * 15 // 16
    if events[cut][2] == "update_after":  # keep an update's two events together
        cut += 1
    batches = [events[:cut], events[cut:]]
    return batches + [stream.touch(keys) for keys in TAIL_KEYS], stream.live


def query_mix(run: Run) -> dict:
    sc, secs = run.sc, run.args.seconds
    sf_dir = tables.ensure_tables(run.build, sc["mix_sf"])
    batches, expected = served_batches(run.args.seed, sc["mix_events"], sc["mix_keys"])
    t_setup = time.perf_counter()
    spark = start_session(run, cdc_source=False)
    import __spark_entry__ as entry

    registered = entry.queries()
    root = run.mkdir("served_")
    with run.tr.span("bench.bootstrap"):
        sink = filled_sink(run, os.path.join(root, "sink"), batches)
    del batches
    plan = ServingPlan(expected, sc["mix_keys"], random.Random(run.args.seed))

    def one(name: str):  # -> (name, answer, expected answer, (build_ms, exec_ms))
        if name in MIX_QUERIES:
            t0 = time.perf_counter()
            with run.tr.span("query.build", query=name):
                df = registered[name](spark, sf_dir)
            t1 = time.perf_counter()
            with run.tr.span("query.exec", query=name):
                df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            run.op()
            return name, None, None, ((t1 - t0) * 1e3, (t2 - t1) * 1e3)
        arg, want = plan.next(name)
        ans, bt = serving_read(run, sink, name, arg)
        return name, ans, want, bt

    # Whole rounds of the menu in its fixed order: every run issues the
    # same sequence of queries; the seed picks the served table and the
    # point-lookup keys.  WARM_ROUNDS untimed rounds come first: the first
    # pays each query's cold start; round times keep falling for a few
    # rounds after it, which the run's time budget leaves in the timed
    # phase.
    warm = []
    with run.tr.span("bench.warmup"):
        for _ in range(WARM_ROUNDS):
            warm += [one(name) for name in MENU]
    run.setup_s = time.perf_counter() - t_setup

    done = []
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < secs or len(done) < sc["min_queries"]:
        done += [one(name) for name in MENU]
    wall = time.perf_counter() - t0
    mem = mem_held_mb(spark)

    # the gate runs after the timed window and the memory reading: the
    # served table against the generator's state, every serving read's
    # answer against it, each registered query once against its DuckDB
    # oracle (Spark and DuckDB in this process)
    with run.gate():
        check_sink(run, sink, cdcgen.digest(expected), "served sink")
        for name, ans, want, _ in warm + done:
            if name in SERVING:
                run.check(ans == want, f"{name}: answer differs from the generator's state")
        from tests.oracle_harness import check_query

        for name in MIX_QUERIES:
            problems = check_query(spark, name, sf_dir)
            run.check(not problems, f"{name}: {problems[:2]}")

    lat = [b + e for *_, (b, e) in done]
    metrics = {
        "throughput_per_s": len(done) / wall,
        "latency_p50_ms": pct(lat, 50), "latency_p90_ms": pct(lat, 90),
        "mem_held_mb": mem,
    }
    run.layer["query.build_ms"] = pct([b for *_, (b, _) in done], 50)
    run.layer["query.exec_ms"] = pct([e for *_, (_, e) in done], 50)
    for mod in QUERY_MODULES:
        run.layer[f"query.{mod}_p50_ms"] = pct(
            [b + e for name, _, _, (b, e) in done if MIX_QUERIES.get(name, "serving") == mod], 50
        )
    run.layer["sink.state_read_ms"] = pct(run.state_read_ms, 50)
    if run.tr.enabled:
        sink_layout(run, sink)
    shutil.rmtree(root, ignore_errors=True)
    return metrics


WORKLOADS = {"backlog_drain": backlog_drain, "query_mix": query_mix}

# Per-layer metrics of BENCHMARK.json each workload measures (name
# prefixes).  The traced run fails if one of them is missing; the others
# belong to layers the workload does not run and read 0.
COMMON_LAYERS = ("session.", "self.bench_ms", "self.session_ms", "self.sink_ms",
                 "trace.", "gate.")
WORKLOAD_LAYERS = {
    "backlog_drain": ("transport.", "source.", "stream.", "state.", "sink.merge_",
                      "sink.write_amp", "self.transport_ms", "self.source_ms",
                      "self.stream_ms"),
    "query_mix": ("sink.disk_mb", "sink.space_amp", "sink.generations",
                  "sink.state_read_ms", "query.", "self.query_ms"),
}


def stream_layers(run: Run, prog: list[dict]) -> None:
    """Per-batch engine costs from StreamingQueryProgress."""
    prog = [p for p in prog if p["numInputRows"] > 0]
    dur = lambda k: [p["durationMs"].get(k, 0) for p in prog]  # noqa: E731
    run.layer["stream.batches"] = float(len(prog))
    run.layer["stream.rows_per_batch"] = statistics.mean(p["numInputRows"] for p in prog)
    run.layer["stream.latest_offset_ms"] = pct(dur("latestOffset"), 50)
    run.layer["stream.get_batch_ms"] = pct(dur("getBatch"), 50)
    run.layer["stream.planning_ms"] = pct(dur("queryPlanning"), 50)
    run.layer["stream.wal_ms"] = pct(dur("walCommit"), 50)
    run.layer["stream.trigger_p50_ms"] = pct(dur("triggerExecution"), 50)
    run.layer["stream.trigger_p90_ms"] = pct(dur("triggerExecution"), 90)
    ops = [p["stateOperators"][0] for p in prog]
    run.layer["state.rows_total"] = float(ops[-1]["numRowsTotal"])
    run.layer["state.rows_updated"] = float(sum(o["numRowsUpdated"] for o in ops))
    run.layer["state.mem_mb"] = ops[-1]["memoryUsedBytes"] / 2**20
    run.layer["state.commit_ms"] = pct([o["commitTimeMs"] for o in ops], 50)


def write_amp(run: Run, cons: Consumer, given: int) -> None:
    """Rows the consumer's merges wrote / changed-key rows they were
    given.  A drain is one batch, and in update mode its merge is given
    one row per key the backlog changes."""
    import pyarrow.parquet as pq

    written = 0
    for gen in os.listdir(cons.sink.root):
        if not gen.startswith("gen_"):
            continue
        for dirpath, _, files in os.walk(os.path.join(cons.sink.root, gen)):
            written += sum(pq.read_metadata(os.path.join(dirpath, f)).num_rows
                           for f in files if f.endswith(".parquet"))
    run.layer["sink.write_amp"] = written / given


def layer_values(run: Run, wanted: list[str], wall_s: float) -> dict[str, float]:
    """The per-layer metrics of a traced run; one of the workload's own
    that was not measured is an error."""
    layer = dict(run.layer)
    for name, ms in run.tr.self_ms_by_layer().items():
        layer[f"self.{name}_ms"] = ms
    layer["trace.spans"] = float(len(run.tr.spans))
    # recording cost of the spans (calibrated per span) over the run's wall
    layer["trace.overhead_pct"] = (
        len(run.tr.spans) * run.tr.cost_per_span_ns() / (wall_s * 1e9) * 100
    )
    layer["gate.error_rate"] = run.failed / max(1, run.attempted)
    own = COMMON_LAYERS + WORKLOAD_LAYERS[run.args.workload]
    missing = [n for n in wanted if n.startswith(own) and n not in layer]
    if missing:
        raise RuntimeError(f"per-layer metrics not measured: {missing}")
    return {n: layer.get(n, 0.0) for n in wanted}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=sorted(SCALES), default="full")
    args = ap.parse_args(argv)
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)

    run = Run(args)
    t0 = time.perf_counter()
    try:
        with run.tr.span("bench.run", workload=args.workload):
            e2e = WORKLOADS[args.workload](run)
        e2e["setup_s"] = run.setup_s
        run.layer["session.warmup_s"] = run.setup_s - run.layer["session.start_s"]
    finally:
        run.stop_servers()
        if run.spark is not None:
            run.spark.stop()
    wall_s = time.perf_counter() - t0

    if args.trace:
        wanted = spec["per_layer"]
        values = layer_values(run, [m["name"] for m in wanted], wall_s)
        os.makedirs(".bench_out", exist_ok=True)
        out_path = os.path.join(
            ".bench_out", f"trace-{args.workload}-seed{args.seed}-{run.tr.run_id}.json"
        )
        with open(out_path, "w") as fh:
            json.dump({
                "workload": args.workload, "seed": args.seed, "run_id": run.tr.run_id,
                "env": {k: v for k, v in os.environ.items()
                        if k.startswith(("SPARK_", "PERFBENCH_"))},
                "end_to_end": e2e, "layers": values, "gate_s": run.gate_s,
                "spans": run.tr.spans, "progress": run.batches,
                "problems": run.problems,
            }, fh)
        print(f"perfbench: trace written to {out_path}", file=sys.stderr)
    else:
        wanted = spec["end_to_end"]
        values = {m["name"]: e2e[m["name"]] for m in wanted}
    units = {m["name"]: m["unit"] for m in wanted}
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {n: {"value": float(v), "unit": units[n]} for n, v in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
