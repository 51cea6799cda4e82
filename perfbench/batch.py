"""The ``batch`` workload: the 13 headline flows and four ``functions/``
flows of ``__spark_entry__``, each built and run through the ``noop``
sink, pass after pass, in one fresh process, in an order set by the seed.
The inputs are the repository's deterministic test tables at sf0.01,
kept under ``data/``; the seed changes only the flow order.

Pass 1 is what a ``python -m bytewax_spark.run`` batch job pays (cold
JIT, first Python workers). Later passes rebuild every flow; process-
wide caches are released between passes, outside the timed region, so
no pass reads what the pass before it left behind. Every flow run is
checked against its DuckDB oracle, also outside the timed region.
"""

from __future__ import annotations

import os
import random
import threading
import time

from checks import Oracle
from harness import (
    Context, StatusStore, median, percentile, stage_summary, start_session, union_length,
)

# The 13 headline flows of bench.py: JVM-only, declarative plans with
# short 1-task stages, so construction, planning and driver overhead
# set their time.
CORE_FLOWS = (
    "q1_pricing_summary", "q3_shipping_priority", "q5_region_revenue",
    "q6_forecast_revenue", "reduce_minmax_price", "wordcount",
    "join_product_customer_orders", "join_last_order_lineitem",
    "hourly_event_counts", "daily_value_by_type", "sliding_2h_user_counts",
    "session_windows_30m", "cumulative_value_per_user",
)
# The functions/ surface: mapInArrow kernels in Python workers (graph
# wedges, MinHash, winnowing), jobs run while PageRank is built, the
# MinHash signature cache. Three more flows of this surface
# (triangle_counts_copart, dsir_weights_docs, lsh_cosine_neardup_pairs)
# repeat these mechanisms and are left out to keep a run short.
KERNEL_FLOWS = (
    "adamic_adar_parts", "pagerank_purchase_graph", "minhash_lsh_pairs_docs",
    "winnow_fingerprints_docs",
)
FLOWS = CORE_FLOWS + KERNEL_FLOWS
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
SF, SMOKE_SF = "sf0.01", "sf0.001"  # subdirectories of DATA
TABLES = ("lineitem", "orders", "customer", "part", "supplier", "nation", "region",
          "events", "documents", "embeddings")  # the inputs FLOWS and their oracles read
# later passes per untraced run; pass_s is their median. One, because
# on a slow host a pass takes 15-22 s, and a second one took the runs
# of a comparison past their time budget
MIN_LATER = 1


def warm_tables(spark, data_dir: str, tables) -> None:
    """One count per input table: file index, footers, scan codegen."""
    from bytewax_spark.io import read_parquet

    for t in tables:
        read_parquet(spark, f"{data_dir}/{t}.parquet").count()


def release_caches(spark, store: StatusStore) -> int:
    """Drop everything a pass may have left for the next one; returns
    the number of RDDs that were still persisted."""
    from bytewax_spark.functions import dedup

    dedup.release_signature_caches()
    spark.catalog.clearCache()
    return store.unpersist_all()


class FlowRun:
    """One build + noop run of one flow, with its layer records."""

    def __init__(self, name: str, pass_no: int) -> None:
        self.name, self.pass_no = name, pass_no
        self.group = f"{name}.p{pass_no}"
        self.df = None
        self.error: str | None = None
        self.build_s = self.plan_s = self.run_s = self.total_s = 0.0
        self.layers: dict[str, float] = {}


def run_flow(ctx: Context, spark, fn, data_dir: str, fr: FlowRun, traced: bool) -> None:
    sc = spark.sparkContext
    tr = ctx.tracer if traced else None
    t0 = time.perf_counter()
    try:
        sc.setJobGroup(fr.group + ".build", fr.name)
        if tr is None:
            fr.df = fn(spark, data_dir)
            t1 = t2 = time.perf_counter()  # untraced: planning is part of the run
            sc.setJobGroup(fr.group + ".run", fr.name)
            fr.df.write.format("noop").mode("overwrite").save()
            t3 = time.perf_counter()
        else:
            with tr.span("flow", fr.group, flow=fr.name, pass_no=fr.pass_no):
                with tr.span("build", fr.group):
                    fr.df = fn(spark, data_dir)
                t1 = time.perf_counter()
                sc.setJobGroup(fr.group + ".run", fr.name)
                with tr.span("plan", fr.group):
                    fr.df._jdf.queryExecution().executedPlan()
                t2 = time.perf_counter()
                with tr.span("run", fr.group):
                    fr.df.write.format("noop").mode("overwrite").save()
                t3 = time.perf_counter()
        fr.build_s, fr.plan_s, fr.run_s = t1 - t0, t2 - t1, t3 - t2
    except Exception as exc:  # noqa: BLE001 - a failed flow is counted, not fatal
        fr.error = f"{type(exc).__name__}: {exc}"[:500]
    finally:
        fr.total_s = time.perf_counter() - t0
        sc.setJobGroup("perfbench.idle", "between timed regions")


def flow_layers(ctx: Context, store: StatusStore, fr: FlowRun) -> dict[str, float]:
    """Per-layer record of one traced flow run, read from the status
    store after the run."""
    build_jobs = store.jobs(fr.group + ".build")
    run_jobs = store.jobs(fr.group + ".run")
    stages = store.stages(build_jobs + run_jobs)
    run_stages = store.stages(run_jobs)
    busy = union_length([(s["submitted"], s["completed"]) for s in run_stages])
    sent, recv = store.python_bytes(build_jobs + run_jobs)
    n_rdds, mem_mb = store.persisted()
    rec = {
        "build.s": fr.build_s,
        "build.jobs": float(len(build_jobs)),
        "plan.s": fr.plan_s,
        "driver_gap_s": max(0.0, fr.total_s - fr.build_s - busy),
        "exec.jobs": float(len(build_jobs) + len(run_jobs)),
        **stage_summary(stages, ctx.cores),
        "python.bytes_sent_mb": sent,
        "python.bytes_recv_mb": recv,
        "storage.persisted_rdds": float(n_rdds),
        "storage.mem_mb": mem_mb,
    }
    return rec


def sum_layers(recs: list[dict[str, float]], cores: int) -> dict[str, float]:
    """Pass-level totals; ``exec.core_util`` and peak memory re-derived."""
    out: dict[str, float] = {}
    for r in recs:
        for k, v in r.items():
            out[k] = out.get(k, 0.0) + v
    wall = out.get("exec.stage_wall_s", 0.0)
    out["exec.core_util"] = out.get("exec.run_s", 0.0) / (wall * cores) if wall else 0.0
    out["exec.peak_exec_mem_mb"] = max((r.get("exec.peak_exec_mem_mb", 0.0) for r in recs), default=0.0)
    out["storage.persisted_rdds"] = max((r.get("storage.persisted_rdds", 0.0) for r in recs), default=0.0)
    out["storage.mem_mb"] = max((r.get("storage.mem_mb", 0.0) for r in recs), default=0.0)
    return out


def _group_seconds(p: dict) -> dict[str, float]:
    """A pass's seconds split into the headline and functions/ flows."""
    return {
        "pass.core_s": sum(fr.total_s for fr in p["runs"] if fr.name in CORE_FLOWS),
        "pass.kernels_s": sum(fr.total_s for fr in p["runs"] if fr.name in KERNEL_FLOWS),
    }


def _data_dir(ctx: Context) -> str:
    return os.path.join(DATA, SMOKE_SF if ctx.smoke else SF)


def setup(ctx: Context, workload: str, process_t0: float) -> dict:
    """Set-up, timed from process start: session start (the JVM launch
    included), then one count of every input table."""
    with ctx.tracer.span("session.start", "setup"):
        spark = start_session(f"perfbench-{workload}")
    session_s = time.perf_counter() - process_t0
    with ctx.tracer.span("warmup", "setup"):
        warm_tables(spark, _data_dir(ctx), TABLES)
    return {"spark": spark, "setup_s": time.perf_counter() - process_t0,
            "session_s": session_s}


def run(ctx: Context, workload: str, st: dict) -> dict:
    import __spark_entry__ as entry

    spark, data_dir = st["spark"], _data_dir(ctx)
    flows = list(FLOWS)
    random.Random(ctx.seed).shuffle(flows)
    queries = entry.queries()
    oracle = Oracle(data_dir, TABLES, entry.oracle_sql())
    store = StatusStore(spark)
    n_rows = sum(_rows(data_dir, t) for t in TABLES)

    attempted = failed = 0
    failures: dict[str, str] = {}
    passes: list[dict] = []  # one entry per pass
    leftover: list[int] = []  # RDDs still persisted after each pass

    def one_pass(pass_no: int, traced: bool) -> dict:
        runs = []
        for name in flows:
            fr = FlowRun(name, pass_no)
            run_flow(ctx, spark, queries[name], data_dir, fr, traced)
            if traced and fr.error is None:
                fr.layers = flow_layers(ctx, store, fr)
            runs.append(fr)
        return {"pass": pass_no, "traced": traced, "runs": runs,
                "seconds": sum(fr.total_s for fr in runs)}

    def compute_oracles() -> None:
        for name in flows:
            try:
                oracle.expected(name)
            except Exception:  # noqa: BLE001 - check() reports it
                pass

    def finish_pass(p: dict, check: bool) -> None:
        """Untimed: count the pass's flow runs; on the checked pass,
        collect every output and compare it with its oracle answer
        (computed by DuckDB while Spark collects). Then release caches."""
        nonlocal attempted, failed
        got = {}
        if check:
            spark.sparkContext.setJobGroup("perfbench.check", "output check")
            th = threading.Thread(target=compute_oracles, name="oracle")
            th.start()
            try:
                for fr in p["runs"]:
                    if fr.error is None:
                        try:
                            got[fr.name] = fr.df.toArrow()
                        except Exception as exc:  # noqa: BLE001
                            fr.error = f"collect: {type(exc).__name__}: {exc}"[:500]
            finally:
                th.join()
        for fr in p["runs"]:
            attempted += 1
            reason = fr.error
            if reason is None and check:
                try:
                    reason = oracle.check(fr.name, got[fr.name])
                except Exception as exc:  # noqa: BLE001
                    reason = f"oracle: {type(exc).__name__}: {exc}"[:500]
            if reason is not None:
                failed += 1
                failures[f"{fr.name}#p{p['pass']}"] = reason
            fr.df = None
        leftover.append(release_caches(spark, store))
        passes.append(p)
        ctx.log(f"pass {p['pass']} took {p['seconds']:.2f} s" + (", checked" if check else ""))

    # ---- pass 1, then later passes: at least MIN_LATER, more while
    # they fit in --seconds. A traced run brackets each traced pass
    # between two untraced ones (untraced, traced, untraced, ...; at
    # least three), so the tracing overhead is measured against equally
    # warm passes. The last pass is the checked one.
    finish_pass(one_pass(1, ctx.trace), check=False)
    min_later = 3 if ctx.trace else MIN_LATER
    window_t0 = time.perf_counter()
    pass_no = 1
    while True:
        pass_no += 1
        p = one_pass(pass_no, ctx.trace and pass_no % 2 == 1)
        n_later = pass_no - 1
        elapsed = time.perf_counter() - window_t0
        last = (n_later >= min_later and (n_later % 2 == 1 or not ctx.trace)
                and elapsed * (n_later + 1) / n_later > ctx.seconds)
        finish_pass(p, check=last)
        if last:
            break
    oracle.close()

    later = passes[1:]
    later_untraced = [p for p in later if not p["traced"]]
    pass_s = median(p["seconds"] for p in later_untraced)
    flow_s = [fr.total_s for p in later_untraced for fr in p["runs"]]

    report = {
        "workload": workload, "data": os.path.basename(data_dir), "flow_order": flows,
        "passes": [
            {"pass": p["pass"], "traced": p["traced"], "seconds": p["seconds"],
             "flows": {fr.name: {"build_s": fr.build_s, "plan_s": fr.plan_s,
                                 "run_s": fr.run_s, "total_s": fr.total_s,
                                 "error": fr.error, **fr.layers} for fr in p["runs"]}}
            for p in passes],
        "leftover_persisted_rdds": leftover, "failures": failures,
        "later_untraced_by_group": [_group_seconds(p) for p in later_untraced],
    }
    e2e = {
        "first_pass_s": passes[0]["seconds"],
        "pass_s": pass_s,
        "latency_p50_ms": percentile(flow_s, 50) * 1000.0,
        "latency_p99_ms": percentile(flow_s, 99) * 1000.0,
        "capacity_rps": n_rows / pass_s,
    }
    per_layer: dict[str, float] = {}
    if ctx.trace:
        traced = [p for p in later if p["traced"]]
        recs = [sum_layers([fr.layers for fr in p["runs"] if fr.layers], ctx.cores) for p in traced]
        for key in recs[0] if recs else ():
            per_layer[key] = median(r[key] for r in recs)
        for key in ("pass.core_s", "pass.kernels_s"):
            per_layer[key] = median(_group_seconds(p)[key] for p in later_untraced)
        per_layer["trace.overhead_s"] = median(
            p["seconds"] - (passes[i - 1]["seconds"] + passes[i + 1]["seconds"]) / 2
            for i, p in enumerate(passes) if i > 0 and p["traced"])
        groups = {fr.group for p in traced for fr in p["runs"]}
        own = ctx.tracer.self_times(lambda tid: tid in groups)
        for span in ("flow", "build", "plan", "run"):
            per_layer[f"self.{span}_s"] = own.get(span, 0.0) / max(1, len(traced))
        report["build_jobs_per_flow"] = {
            fr.name: fr.layers.get("build.jobs", 0.0) for fr in traced[-1]["runs"]
        } if traced else {}
    return {"e2e": e2e, "per_layer": per_layer, "attempted": attempted,
            "failed": failed, "report": report}


def _rows(data_dir: str, table: str) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(f"{data_dir}/{table}.parquet").metadata.num_rows
