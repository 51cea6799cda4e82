#!/usr/bin/env python3
"""bytewax_spark benchmark: one workload, one fresh process.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout (the directory holding ``bytewax_spark/``
and ``__spark_entry__.py``). Workloads:

- ``batch``: the 13 headline flows (JVM-only, declarative) and four
  ``functions/`` flows (Arrow kernels, construction-time jobs, the
  signature cache), pass after pass;
- ``stream_keyed``: a keyed running sum over an open-loop Kafka-log
  stream.

Inputs come from ``--seed``. ``--trace 0`` measures the end-to-end
metrics with tracing off; ``--trace 1`` is a separate run that records
spans and Spark status-store figures and reports the per-layer metrics.
The metric names and units are the ones listed in ``BENCHMARK.json``.
The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. A detailed report (and, traced, the spans)
goes to ``.perfbench_out/`` in the checkout. Everything else the run
writes lives in ``.perfbench_work/`` and is removed at exit.
"""

from __future__ import annotations

import os
import time


def _process_age() -> float:
    """Seconds since this process started (kernel start time)."""
    try:
        with open("/proc/self/stat") as f:
            start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
        return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))
    except (OSError, ValueError, IndexError):
        return 0.0


PROCESS_T0 = time.perf_counter() - _process_age()

import argparse  # noqa: E402
import json  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("batch", "stream_keyed")
MEMORY = "1g"  # driver heap for every workload (SPARK_GRAFT_MEM)


def _configure(work: str, cores: int) -> None:
    """Pin the engine's resources and keep every file it writes inside
    this run's work directory; Python workers import the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_MEM"] = MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p)
    # every JVM (the spark-submit launcher and the driver): temp files
    # here, and no /tmp/hsperfdata_* counters file
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    for var in ("SPARK_MASTER", "BYTEWAX_DATAFLOW_API_ENABLED"):
        os.environ.pop(var, None)
    sys.path.insert(0, ROOT)


def _stop_children(timeout: float = 20.0) -> None:
    """Terminate what this process started and wait for it to end."""
    from harness import descendants

    pids = descendants(os.getpid())
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for p in pids:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            pids = descendants(os.getpid())
            if not pids:
                return
            try:
                os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                pass
            time.sleep(0.05)


def metric_block(result: dict, spec: dict, trace: bool) -> dict:
    """Every metric BENCHMARK.json names for this mode, with its unit.
    End-to-end metrics must all be measured; a per-layer metric a
    workload has no such layer for reads 0."""
    names = spec["per_layer"] if trace else spec["end_to_end"]
    got = result["per_layer"] if trace else result["e2e"]
    out = {}
    for m in names:
        value = got.get(m["name"])
        if value is None:
            if not trace:
                raise KeyError(f"workload did not measure {m['name']}")
            value = 0.0
        out[m["name"]] = {"value": float(value), "unit": m["unit"]}
    return out


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="tiny batch inputs (sf0.001), for the self-test; "
                        "its figures are not comparable with a normal run")
    args = p.parse_args(argv)

    if not (os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(ROOT, "bytewax_spark"))):
        print(f"perfbench: {ROOT} is not a bytewax_spark checkout", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    sys.path.insert(0, HERE)
    from harness import Context, RssSampler, Tracer, stop_jvm

    # a terminated run still unwinds through the clean-up below
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    _configure(work, cores)
    os.chdir(work)
    rss = RssSampler()
    ctx = Context(root=ROOT, work=work, seed=args.seed, seconds=args.seconds,
                  trace=bool(args.trace), cores=cores, tracer=Tracer(bool(args.trace)),
                  rss_exclude=rss.exclude.add, t0=PROCESS_T0, smoke=args.smoke)
    if args.workload == "stream_keyed":
        import stream as workload
    else:
        import batch as workload

    result = setup = None
    try:
        with rss:
            setup = workload.setup(ctx, args.workload, PROCESS_T0)
            ctx.log(f"set up in {setup['setup_s']:.2f} s")
            result = workload.run(ctx, args.workload, setup)
        ctx.log("measured")
    finally:
        if setup is not None:
            setup.get("stop", lambda: None)()
            setup["spark"].stop()
        stop_jvm()
        _stop_children()
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        ctx.log("stopped")

    # one set-up per run, from process start: a second one in the same
    # process would find the JVM already running
    result["e2e"]["setup_s"] = result["report"]["setup_s"] = setup["setup_s"]
    if args.trace:
        result["per_layer"]["session.start_s"] = setup["session_s"]
    result["e2e"]["peak_rss_mb"] = rss.peak_mb
    attempted, failed = int(result["attempted"]), int(result["failed"])
    result["report"]["error_rate"] = failed / max(1, attempted)
    result["report"]["peak_rss_mb_by_process"] = {k: v / 2**20 for k, v in rss.peak_parts.items()}
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    ctx.tracer.dump(stem + ".json", {"report": result["report"]})

    metrics = metric_block(result, spec, bool(args.trace))
    for name, m in metrics.items():
        print(f"{args.workload:14s} {name:24s} {m['value']:14.4f} {m['unit']}")
    print(f"{args.workload:14s} {'error_rate':24s} {failed / max(1, attempted):14.4f} "
          f"ratio ({failed} of {attempted})")
    print(json.dumps({"correct": failed == 0 and attempted > 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
