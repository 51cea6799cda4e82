"""Event generator for the ``stream_keyed`` workload.

Runs in its own process, in two phases:

1. backlog (closed loop): ``--bursts`` times, it appends ``--burst``
   events at once and waits until the engine has written every valid
   event so far to ``--out-topic``. The engine, not the generator, sets
   the pace here, which is what capacity is measured on;
2. open loop: every tick it appends one segment of events, on a fixed
   schedule that does not wait for the engine, for ``--seconds``. A
   stall shows as latency on every later event.

Each event carries ``created_ns``: the time its tick was due, or the
time its burst was appended. Keys are Zipf-skewed; values are small
integers; a fixed share of payloads is corrupt JSON.

A segment is produced into a private staging log and then renamed into
the live topic directory, so the engine never lists a half-written
file. At the end the generator writes its own tally as JSON: the
expected running sum of every event, the final sum per key, every
corrupt payload, when each burst was appended and drained, when the
open loop started, how late each tick ran and how long each produce
took.

Usage: python generator.py --root CHECKOUT --log DIR --topic T
       --out-topic T --bursts N --burst N --rate N --seconds S --seed N
       --keys N --corrupt F --tick S --truth FILE
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--root", required=True, help="checkout root (for bytewax_spark)")
    p.add_argument("--log", required=True)
    p.add_argument("--topic", required=True)
    p.add_argument("--out-topic", required=True, help="topic whose record count paces the bursts")
    p.add_argument("--bursts", type=int, required=True)
    p.add_argument("--burst", type=int, required=True, help="events per burst")
    p.add_argument("--drain-timeout", type=float, default=60.0)
    p.add_argument("--rate", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--keys", type=int, required=True)
    p.add_argument("--corrupt", type=float, required=True)
    p.add_argument("--tick", type=float, required=True)
    p.add_argument("--truth", required=True)
    a = p.parse_args(argv)
    sys.path.insert(0, a.root)
    import pyarrow.parquet  # noqa: F401 - imported here, not inside the first tick's produce

    from bytewax_spark.connectors.kafka_log import KafkaLog

    rng = np.random.default_rng(a.seed)
    weights = 1.0 / np.arange(1, a.keys + 1) ** 1.1
    probs = weights / weights.sum()
    per_tick = max(1, round(a.rate * a.tick))
    n_ticks = max(1, round(a.seconds / a.tick))

    staging = KafkaLog(os.path.join(a.log, "_staging"))
    live = KafkaLog(a.log)
    stage_dir, live_dir = staging.topic_dir(a.topic), live.topic_dir(a.topic)
    os.makedirs(live_dir, exist_ok=True)

    sums: dict[str, int] = {}
    events: dict[int, list] = {}
    corrupt: list[str] = []
    late_ms, produce_ms = [], []
    next_id = 0

    def append(n: int, created_ns: int) -> None:
        """Draw ``n`` events, record what the engine must output for
        them, and append them to the live topic as one segment."""
        nonlocal next_id
        keys = rng.choice(a.keys, size=n, p=probs)
        vals = rng.integers(1, 100, size=n)
        bad = rng.random(n) < a.corrupt
        records = []
        for k, v, is_bad in zip(keys.tolist(), vals.tolist(), bad.tolist()):
            key = f"k{k}"
            if is_bad:
                corrupt.append(f'{{"event_id": {next_id}, "k": "{key}", "v": ')
                records.append((key, corrupt[-1]))
                continue
            sums[key] = sums.get(key, 0) + v
            events[next_id] = [key, sums[key]]
            records.append((key, json.dumps(
                {"event_id": next_id, "k": key, "v": v, "created_ns": created_ns})))
            next_id += 1
        t0 = time.perf_counter()
        staging.produce(a.topic, records)
        for seg in os.listdir(stage_dir):
            if seg.startswith("segment-"):
                os.rename(os.path.join(stage_dir, seg), os.path.join(live_dir, seg))
        produce_ms.append((time.perf_counter() - t0) * 1000.0)

    def written() -> int:
        try:
            return sum(live.end_offsets(a.out_topic).values())
        except ValueError:  # the sink is rewriting the offsets file
            return -1

    bursts = []
    for _ in range(a.bursts):
        t0 = time.time()
        append(a.burst, int(t0 * 1e9))
        deadline = time.monotonic() + a.drain_timeout
        while written() < len(events):
            if time.monotonic() > deadline:
                print("generator: the engine did not drain a burst", file=sys.stderr)
                return 1
            time.sleep(0.01)
        bursts.append([t0, time.time()])

    start = time.time() + a.tick
    for tick in range(n_ticks):
        due = start + tick * a.tick
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        late_ms.append(max(0.0, (time.time() - due) * 1000.0))
        append(per_tick, int(due * 1e9))

    tmp = a.truth + ".tmp"
    with open(tmp, "w") as f:
        json.dump({
            "events": events, "final": sums, "corrupt": corrupt,
            "bursts": bursts, "open_start": start, "ticks": n_ticks, "per_tick": per_tick,
            "late_ms": late_ms, "produce_ms": produce_ms[len(bursts):],
        }, f)
    os.replace(tmp, a.truth)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
