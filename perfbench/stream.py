"""The ``stream_keyed`` workload: a keyed running sum over an open-loop
event stream, end to end through the embedded Kafka log.

Flow: ``KafkaSource`` -> ``deserialize_json`` (oks / errs) -> ``key_on``
-> ``stateful_map_stream`` (running integer sum per key) ->
``serialize_json`` -> ``KafkaSink``; the errs go to a second sink topic.
It runs under ``run.run_main`` with a fixed processing-time trigger
while ``generator.py`` appends events: first a few bursts, each appended
once the engine has drained the one before (capacity: the engine sets
the pace), then an open loop at a fixed rate (latency: the generator
sets the pace).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
import time

from checks import check_stream, stream_failures
from harness import (
    Context, StatusStore, median, percentile, stage_summary, start_session, union_length,
)

BURSTS = 4           # backlog bursts; the first is the cold first micro-batch
BURST = 12000        # events per burst
RATE = 500           # events/s offered in the open loop
KEYS = 1000          # Zipf(1.1) key space
CORRUPT = 0.01       # share of corrupt payloads
TICK = 0.1           # generator period, s
WARMUP_S = 4.0       # open loop runs this long before the measured window
# A micro-batch starts every TRIGGER (or at once, if the one before ran
# longer), so every open-loop micro-batch holds RATE x 3 s events. Back
# to back, a micro-batch would hold what arrived while the one before
# ran: a slower host makes the next one bigger and slower still, and
# latency moved two to three times as much as the host's speed.
TRIGGER = "3 seconds"
DRAIN_TIMEOUT_S = 60.0

IN_TOPIC, OUT_TOPIC, ERR_TOPIC = "events", "sums", "errs"
SCHEMA = "event_id long, k string, v long, created_ns long"


def build_flow(log_root: str):
    from pyspark.sql import functions as F

    import bytewax_spark.operators as op
    from bytewax_spark.connectors import serde
    from bytewax_spark.dataflow import Dataflow
    from bytewax_spark.sinks import KafkaSink
    from bytewax_spark.sources import KafkaSource
    from bytewax_spark.streaming import stateful_map_stream

    flow = Dataflow("stream_keyed")
    src = op.input("in", flow, KafkaSource([log_root], [IN_TOPIC]))
    parsed = serde.deserialize_json("parse", src, "value", SCHEMA)
    keyed = op.key_on("key", parsed.oks, F.col("k"))
    sums = stateful_map_stream(
        "sum", keyed, lambda s, v: ((s or 0) + v, (s or 0) + v),
        value_col="v", out_col="total", out_type="long", order_by="event_id",
    )
    out = serde.serialize_json("ser", sums, ["event_id", "k", "total", "created_ns"])
    op.output("out", out, KafkaSink([log_root], OUT_TOPIC))
    op.output("errs", parsed.errs, KafkaSink([log_root], ERR_TOPIC))
    return flow


class Running:
    """One started flow: its run_main thread and its two queries."""

    def __init__(self, spark, ctx: Context) -> None:
        from bytewax_spark.connectors.kafka_log import KafkaLog
        from bytewax_spark.run import run_main

        self.spark = spark
        self.log_root = os.path.join(ctx.work, "log")
        KafkaLog(self.log_root)
        spark.conf.set("spark.sql.streaming.checkpointLocation", os.path.join(ctx.work, "ckpt"))
        spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
        sc = spark.sparkContext
        self.build_group = "stream.build"
        sc.setJobGroup(self.build_group, "flow construction")
        t0 = time.perf_counter()
        self.flow = build_flow(self.log_root)
        self.build_s = time.perf_counter() - t0
        sc.setJobGroup("perfbench.idle", "between timed regions")
        self.error: BaseException | None = None

        def target() -> None:
            try:
                run_main(self.flow, processingTime=TRIGGER)
            except BaseException as exc:  # noqa: BLE001 - reported after stop
                self.error = exc

        before = {q.id for q in spark.streams.active}
        self.thread = threading.Thread(target=target, name="run_main", daemon=True)
        self.thread.start()
        deadline = time.monotonic() + 60
        while True:
            qs = [q for q in spark.streams.active if q.id not in before]
            # a query shows "Waiting for data to arrive" for a moment
            # after a trigger that found no data, then "Waiting for next
            # trigger" until the next one; either means it has started
            if len(qs) == 2 and all(
                q.status["message"] in ("Waiting for data to arrive", "Waiting for next trigger")
                for q in qs
            ):
                break
            if self.error is not None or time.monotonic() > deadline:
                raise RuntimeError(f"stream did not start: {self.error}")
            time.sleep(0.02)
        self.queries = qs

    def stop(self) -> None:
        for q in self.queries:
            q.stop()
        self.thread.join(timeout=60)


def _output_records(log_root: str, topic: str):
    import pyarrow.dataset as ds

    path = os.path.join(log_root, topic)
    if not os.path.isdir(path):
        return [], []
    t = ds.dataset(path, format="parquet").to_table(columns=["value", "timestamp"])
    values = [v.decode() for v in t.column("value").to_pylist()]
    ts_us = t.column("timestamp").cast("int64").to_pylist()
    return values, ts_us


def _produced(log_root: str, topic: str) -> int:
    """Records appended to a topic so far; -1 while the sink is
    rewriting the topic's offsets file (it is not replaced atomically)."""
    from bytewax_spark.connectors.kafka_log import KafkaLog

    try:
        return sum(KafkaLog(log_root).end_offsets(topic).values())
    except ValueError:
        return -1


def _wrap_produce(tracer):
    """Time the sink's driver-side ``KafkaLog.produce`` calls. What the
    wrapper adds to each call is counted in ``tracer.bookkeeping_s``."""
    from bytewax_spark.connectors.kafka_log import KafkaLog

    original = KafkaLog.produce

    def produce(self, topic, records, timestamp=None):
        w0 = time.perf_counter()
        t0 = time.time()
        try:
            return original(self, topic, records, timestamp)
        finally:
            t1 = time.time()
            tracer.add("sink.produce", t0, t1, f"produce:{topic}", topic=topic)
            tracer.bookkeeping_s += time.perf_counter() - w0 - (t1 - t0)

    KafkaLog.produce = produce
    return lambda: setattr(KafkaLog, "produce", original)


def _start(progress: dict) -> float:
    """Wall-clock start of a micro-batch, from its progress record."""
    from datetime import datetime

    return datetime.fromisoformat(progress["timestamp"].replace("Z", "+00:00")).timestamp()


def _progress_list(q) -> list[dict]:
    return [json.loads(p.json) if hasattr(p, "json") else p for p in q.recentProgress]


def _generate(ctx: Context, log_root: str, seconds: float) -> dict:
    """Run the generator to the end; returns its tally."""
    truth_path = os.path.join(ctx.work, "truth.json")
    gen = subprocess.Popen([
        sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "generator.py"),
        "--root", ctx.root, "--log", log_root, "--topic", IN_TOPIC, "--out-topic", OUT_TOPIC,
        "--bursts", str(BURSTS), "--burst", str(BURST), "--drain-timeout", str(DRAIN_TIMEOUT_S),
        "--rate", str(RATE), "--seconds", str(seconds), "--seed", str(ctx.seed),
        "--keys", str(KEYS), "--corrupt", str(CORRUPT), "--tick", str(TICK),
        "--truth", truth_path,
    ])
    ctx.rss_exclude(gen.pid)
    try:
        gen.wait(timeout=BURSTS * DRAIN_TIMEOUT_S + seconds + 60)
    finally:
        if gen.poll() is None:
            gen.kill()
            gen.wait()
    if gen.returncode != 0:
        raise RuntimeError(f"generator exited with {gen.returncode}")
    with open(truth_path) as f:
        return json.load(f)


def setup(ctx: Context, workload: str, process_t0: float) -> dict:
    """Set-up, timed from process start: session start (the JVM launch
    included), the log, flow construction and ``run_main`` until both
    queries wait for data."""
    with ctx.tracer.span("session.start", "setup"):
        spark = start_session(f"perfbench-{workload}")
    session_s = time.perf_counter() - process_t0
    with ctx.tracer.span("stream.start", "setup"):
        running = Running(spark, ctx)
    return {"spark": spark, "running": running, "stop": running.stop,
            "setup_s": time.perf_counter() - process_t0, "session_s": session_s}


def run(ctx: Context, workload: str, st: dict) -> dict:
    spark, running = st["spark"], st["running"]
    restore = _wrap_produce(ctx.tracer) if ctx.trace else (lambda: None)
    try:
        truth = _generate(ctx, running.log_root, WARMUP_S + ctx.seconds)
        n_valid, n_corrupt = len(truth["events"]), len(truth["corrupt"])
        # drain: wait until every event has come out (or the engine stalls)
        t_gen_end = time.perf_counter()
        deadline = t_gen_end + DRAIN_TIMEOUT_S
        while time.perf_counter() < deadline and running.error is None:
            if (_produced(running.log_root, OUT_TOPIC) >= n_valid
                    and _produced(running.log_root, ERR_TOPIC) >= n_corrupt):
                break
            time.sleep(0.05)
        drain_s = time.perf_counter() - t_gen_end
        progress = {str(q.id): _progress_list(q) for q in running.queries}
        run_ids = {str(q.id): str(q.runId) for q in running.queries}
    finally:
        running.stop()
        restore()
    if running.error is not None:
        raise RuntimeError(f"stream failed: {running.error}")

    # ---- outputs and checks (untimed)
    values, ts_us = _output_records(running.log_root, OUT_TOPIC)
    outputs = [json.loads(v) for v in values]
    errs = _output_records(running.log_root, ERR_TOPIC)[0]
    result = check_stream(outputs, errs, truth)
    failed = stream_failures(result)
    attempted = n_valid + n_corrupt

    open_start = truth["open_start"]
    win = (open_start + WARMUP_S, open_start + WARMUP_S + ctx.seconds)
    warm_ns = int(win[0] * 1e9)
    # append time (µs) minus due time (ns), in creation order
    lat_ms = [lat for _, lat in sorted(
        (o["created_ns"], (t * 1000 - o["created_ns"]) / 1e6)
        for o, t in zip(outputs, ts_us) if o["created_ns"] >= warm_ns)]
    half = len(lat_ms) // 2

    # the query with a state operator is the keyed-sum one
    main_id = next(
        (qid for qid, ps in progress.items() if any(p.get("stateOperators") for p in ps)),
        next(iter(progress)),
    )
    # micro-batches with data: those of the backlog phase (the first is
    # cold: first_pass_s; the rest are the same work warm: pass_s and
    # capacity_rps), and those that started inside the measured window
    # of the open loop (the per-layer figures); catch-up and drain
    # batches are left out
    busy = [p for p in progress[main_id] if p.get("numInputRows", 0) > 0]
    backlog = [p for p in busy if _start(p) < open_start]
    window = [p for p in busy if win[0] <= _start(p) < win[1]]
    if len(backlog) < 2 or not window:
        raise RuntimeError(f"{len(backlog)} backlog and {len(window)} measured micro-batches")
    trig = lambda ps: [p["durationMs"].get("triggerExecution", 0) / 1000.0 for p in ps]  # noqa: E731
    warm = backlog[1:]

    e2e = {
        "first_pass_s": trig(backlog)[0],
        "pass_s": median(trig(warm)),
        "latency_p50_ms": percentile(lat_ms, 50) if lat_ms else 0.0,
        "latency_p99_ms": percentile(lat_ms, 99) if lat_ms else 0.0,
        "capacity_rps": sum(p["numInputRows"] for p in warm) / sum(trig(warm)),
    }
    report = {
        "workload": workload, "bursts": BURSTS, "burst": BURST, "rate": RATE, "keys": KEYS,
        "trigger": TRIGGER,
        "drain_s": drain_s, "latency_samples": len(lat_ms), "check": result,
        "valid_events": n_valid, "corrupt_events": n_corrupt, "errs_out": len(errs),
        "gen_late_ms_max": max(truth["late_ms"]), "tick_ms": TICK * 1000.0,
        "backlog_batches": [[p["numInputRows"], t] for p, t in zip(backlog, trig(backlog))],
        "window_batches": [[p["numInputRows"], t] for p, t in zip(window, trig(window))],
        "micro_batches": len(busy),
        # a growing backlog shows as later events waiting longer
        "latency_p50_ms_by_half": [percentile(lat_ms[:half], 50) if half else 0.0,
                                   percentile(lat_ms[half:], 50) if lat_ms else 0.0],
    }
    per_layer: dict[str, float] = {}
    if ctx.trace:
        per_layer = _layers(ctx, spark, running, window, run_ids[main_id], truth)
        per_layer["trace.overhead_s"] = ctx.tracer.bookkeeping_s / len(busy)
        report["progress"] = progress[main_id]
    return {"e2e": e2e, "per_layer": per_layer, "attempted": attempted,
            "failed": failed, "report": report}


def _layers(ctx, spark, running, window, run_id, truth) -> dict:
    store = StatusStore(spark)
    dur = lambda key: [p["durationMs"].get(key, 0) for p in window]  # noqa: E731
    n = len(window)

    # streaming phases become spans laid end to end inside each trigger
    produce = [s for s in ctx.tracer.spans if s.name == "sink.produce" and s.attrs.get("topic") == OUT_TOPIC]
    for p in window:
        start = _start(p)
        d = p["durationMs"]
        tid = f"batch{p['batchId']}"
        root = ctx.tracer.add("stream.trigger", start, start + d.get("triggerExecution", 0) / 1000.0, tid)
        t = start
        for phase in ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets"):
            dt = d.get(phase, 0) / 1000.0
            idx = ctx.tracer.add(f"stream.{phase}", t, t + dt, tid, parent=root)
            if phase == "addBatch":
                for s in produce:
                    if t <= s.start < t + dt:
                        s.parent, s.trace_id = idx, tid
            t += dt

    jobs = store.jobs(run_id)
    stages = store.stages(jobs)
    windows = []
    for p in window:
        s = _start(p)
        windows.append((s, s + p["durationMs"].get("triggerExecution", 0) / 1000.0))

    in_win = [st for st in stages if any(a <= st["submitted"] < b for a, b in windows)]
    busy = union_length([(st["submitted"], st["completed"]) for st in in_win])
    trig_s = sum(b - a for a, b in windows)
    ex = stage_summary(in_win, ctx.cores)
    ex = {k: (v / n if k not in ("exec.core_util", "exec.peak_exec_mem_mb") else v) for k, v in ex.items()}
    state = [p["stateOperators"][0] for p in window if p.get("stateOperators")]
    n_rdds, mem_mb = store.persisted()
    out = {
        "build.s": running.build_s,
        "build.jobs": float(len(store.jobs(running.build_group))),
        "plan.s": median(dur("queryPlanning")) / 1000.0,
        "driver_gap_s": max(0.0, trig_s - busy) / n,
        "exec.jobs": len(jobs) / n,
        **ex,
        "storage.persisted_rdds": float(n_rdds),
        "storage.mem_mb": mem_mb,
        "stream.batches": float(len(window)),
        "stream.rows_per_batch": median(p["numInputRows"] for p in window),
        "stream.trigger_ms": median(dur("triggerExecution")),
        "stream.add_batch_ms": median(dur("addBatch")),
        "stream.plan_ms": median(dur("queryPlanning")),
        "stream.offsets_ms": median(a + b for a, b in zip(dur("latestOffset"), dur("getBatch"))),
        "stream.wal_ms": median(a + b for a, b in zip(dur("walCommit"), dur("commitOffsets"))),
        "state.commit_ms": median(s.get("commitTimeMs", 0) for s in state),
        "state.rows": float(state[-1].get("numRowsTotal", 0)) if state else 0.0,
        "state.mem_mb": state[-1].get("memoryUsedBytes", 0) / (1024.0 * 1024.0) if state else 0.0,
        "sink.produce_ms": median((s.end - s.start) * 1000.0 for s in produce
                                  if s.trace_id.startswith("batch")),
        "gen.produce_ms": median(truth["produce_ms"]),
        "gen.late_ms": max(truth["late_ms"]),
    }
    own = ctx.tracer.self_times(lambda tid: tid.startswith("batch"))
    for span in ("stream.trigger", "stream.addBatch", "sink.produce"):
        out[f"self.{span}_s"] = own.get(span, 0.0) / n
    return out
