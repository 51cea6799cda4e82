#!/usr/bin/env python3
"""Self-test of the benchmark itself.

    python3 perfbench/selftest.py [--quick]

1. The output checks reject corrupted outputs: a batch answer with one
   changed value, one lost row or one extra row, and a stream output
   with a lost, duplicated or wrong event, or an error stream that
   misses, invents or swaps a corrupt payload.
   Runs in seconds, without Spark.
2. Unless ``--quick``: every workload runs once with tracing off and
   once with tracing on, on tiny batch inputs (``--smoke``: sf0.001).
   Each run must exit 0, print the result line last, report every
   metric BENCHMARK.json names with its unit, check its outputs
   correct, and (traced ``batch``) count jobs run while flows are
   built.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)


def check_batch_corruption() -> None:
    import duckdb
    import pyarrow as pa

    from batch import DATA, SMOKE_SF, TABLES
    from checks import Oracle

    sys.path.insert(0, ROOT)
    import __spark_entry__ as entry

    flow = "q1_pricing_summary"
    d = os.path.join(DATA, SMOKE_SF)
    oracle = Oracle(d, TABLES, entry.oracle_sql())
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")
    good = con.execute(entry.oracle_sql()[flow]).fetch_arrow_table()
    assert oracle.check(flow, good) is None, "the oracle's own answer must pass"

    col = good.column_names.index("sum_qty")
    changed = good.set_column(col, "sum_qty", [[v + 1.0 for v in good.column(col).to_pylist()]])
    assert oracle.check(flow, changed) is not None, "a changed value must fail"
    assert oracle.check(flow, good.slice(1)) is not None, "a lost row must fail"
    doubled = pa.concat_tables([good, good.slice(0, 1)])
    assert oracle.check(flow, doubled) is not None, "an extra row must fail"
    assert oracle.check(flow, good.drop_columns(["avg_qty"])) is not None, "a lost column must fail"
    oracle.close()
    con.close()


def check_stream_corruption() -> None:
    from checks import check_stream, stream_failures

    bad = ['{"event_id": 1, "k": "b", "v": ', '{"event_id": 3, "k": "a", "v": ']
    truth = {"events": {"0": ["a", 5], "1": ["b", 2], "2": ["a", 9]},
             "final": {"a": 9, "b": 2}, "corrupt": bad}
    good = [{"event_id": 0, "k": "a", "total": 5}, {"event_id": 1, "k": "b", "total": 2},
            {"event_id": 2, "k": "a", "total": 9}]

    def failures(outputs, errs=bad) -> int:
        return stream_failures(check_stream(outputs, errs, truth))

    assert failures(good) == 0, "the exact output must pass"
    assert failures(good, errs=bad[::-1]) == 0, "the error topic's order does not matter"
    assert failures(good[:2]) > 0, "a lost event must fail"
    assert failures(good + good[:1]) > 0, "a duplicated event must fail"
    wrong = [dict(good[0], total=6)] + good[1:]
    assert failures(wrong) > 0, "a wrong running sum must fail"
    assert failures(good, errs=bad[:1]) > 0, "a missed corrupt payload must fail"
    assert failures(good, errs=bad + bad[:1]) > 0, "an invented error must fail"
    assert failures(good, errs=[bad[0], '{"event_id": 2, "k": "a", "v": ']) == 2, \
        "a wrong payload in place of a lost one must fail twice"


def run_workload(workload: str, trace: int, spec: dict) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "6", "--trace", str(trace), "--smoke"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, f"{workload} trace={trace} exited {proc.returncode}:\n{proc.stderr[-3000:]}"
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
    assert result["correct"] is True and result["failed"] == 0, result
    assert isinstance(result["attempted"], int) and result["attempted"] >= 1
    names = spec["per_layer"] if trace else spec["end_to_end"]
    want = {m["name"]: m["unit"] for m in names}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want, f"{workload} trace={trace}: metrics {sorted(got)} != {sorted(want)}"
    for k, v in result["metrics"].items():
        assert isinstance(v["value"], float), (k, v)
    return result


def main(argv: list[str]) -> int:
    check_batch_corruption()
    check_stream_corruption()
    print("output checks reject corrupted outputs: ok", flush=True)
    if "--quick" in argv:
        return 0
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in spec["workloads"]:
        for trace in (0, 1):
            r = run_workload(w["name"], trace, spec)
            if trace == 0:
                for m in spec["end_to_end"]:
                    assert r["metrics"][m["name"]]["value"] > 0, (w["name"], m["name"])
            if trace and w["name"] == "batch":
                assert r["metrics"]["build.jobs"]["value"] > 0, "kernels run jobs at construction"
            print(f"{w['name']} trace={trace}: {len(r['metrics'])} metrics, "
                  f"{r['attempted']} operations checked: ok", flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
