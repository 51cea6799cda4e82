"""Output checks, run outside every timed region.

Batch: a flow's output must equal its ``oracle_sql()`` run by DuckDB on
the same files: same columns, same row count, same values in any order.
Floats compare to 6 decimals (the registry's tolerance for its
approximate and re-associated sums), with a 2e-6 fallback for values
that round to either side of a 6th-decimal boundary.

Stream: every valid generated event must appear in the output topic
exactly once with the right running sum, each key's last sum must equal
the generator's tally, and the error stream must hold exactly the
corrupt payloads the generator injected, no more and no fewer.
"""

from __future__ import annotations

import math
from collections import Counter

import numpy as np

_FLOAT_TOL = 2e-6


def _cell(v):
    if v is None:
        return "~"
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 6)
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_cell(x) for x in v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def _rows(pdf) -> list[tuple]:
    cols = sorted(pdf.columns)
    rows = [tuple(_cell(v) for v in r) for r in pdf[cols].itertuples(index=False, name=None)]
    return sorted(rows, key=repr)


def _close(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return abs(a - b) <= _FLOAT_TOL
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return a == b


def _within_tolerance(got, want) -> str | None:
    """None when two pandas frames of equal size hold the same rows up
    to ``_FLOAT_TOL`` per float; else a reason."""
    g, w = _rows(got), _rows(want)
    bad = sum(1 for a, b in zip(g, w) if not _close(a, b))
    return f"{bad} of {len(g)} rows differ" if bad else None


class Oracle:
    """DuckDB over one data directory. Each flow's oracle answer is
    computed once into a temp table; a flow's output (an Arrow table)
    is compared to it in SQL, floats rounded to 6 decimals, with a
    tolerance pass over the few rows that differ."""

    _FLOATS = ("DOUBLE", "FLOAT", "REAL")

    def __init__(self, data_dir: str, tables, oracle_sql: dict[str, str]) -> None:
        import duckdb

        self._con = duckdb.connect()
        self._con.execute("SET TimeZone = 'UTC'")
        for t in tables:
            self._con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        self._sql = oracle_sql
        self._want: dict[str, tuple[str, dict[str, str]]] = {}

    def expected(self, flow: str) -> tuple[str, dict[str, str]]:
        """Compute (once) the oracle answer into a temp table; returns
        the table's name and its column types."""
        if flow not in self._want:
            table = f"want_{len(self._want)}"
            self._con.execute(f"CREATE TEMP TABLE {table} AS {self._sql[flow]}")
            cols = self._con.execute(f"DESCRIBE {table}").fetchall()
            self._want[flow] = (table, {c[0]: c[1] for c in cols})
        return self._want[flow]

    def check(self, flow: str, got) -> str | None:
        """None when ``got`` (a pyarrow Table) equals the oracle answer."""
        table, types = self.expected(flow)
        if sorted(got.column_names) != sorted(types):
            return f"columns {sorted(got.column_names)} != {sorted(types)}"
        con = self._con
        con.register("got", got)
        try:
            n_got = got.num_rows
            n_want = con.execute(f"SELECT count(*) FROM {table}").fetchone()[0]
            if n_got != n_want:
                return f"rows {n_got} != {n_want}"
            cols = sorted(types)
            norm = ", ".join(
                f'ROUND(CAST("{c}" AS DOUBLE), 6) AS "{c}"' if types[c] in self._FLOATS
                else f'CAST("{c}" AS {types[c]}) AS "{c}"' for c in cols)
            extra = con.execute(
                f"SELECT {norm} FROM got EXCEPT ALL SELECT {norm} FROM {table}").fetchdf()
            if extra.empty:
                return None
            missing = con.execute(
                f"SELECT {norm} FROM {table} EXCEPT ALL SELECT {norm} FROM got").fetchdf()
        finally:
            con.unregister("got")
        return _within_tolerance(extra, missing)

    def close(self) -> None:
        self._con.close()


def check_stream(outputs: list[dict], errs: list[str], truth: dict) -> dict:
    """Compare the output topics with the generator's record of truth.

    ``outputs``: decoded output records (``event_id``, ``k``, ``total``);
    ``errs``: the payloads in the error topic; ``truth``: ``{"events":
    {event_id: [key, running_sum]}, "final": {key: sum}, "corrupt":
    [payload, ...]}`` as the generator wrote it. Returns the counts of
    lost, duplicated and wrong events (with up to ten wrong ones as
    examples), of corrupt payloads the error topic missed or invented
    (compared as multisets), and whether the final per-key sums match."""
    expected = {int(e): v for e, v in truth["events"].items()}
    seen = Counter(int(r["event_id"]) for r in outputs)
    wrong = 0
    examples = []
    last: dict[str, tuple[int, int]] = {}
    for r in outputs:
        eid, key, total = int(r["event_id"]), r["k"], int(r["total"])
        want = expected.get(eid)
        if want is None or want[0] != key or int(want[1]) != total:
            wrong += 1
            if len(examples) < 10:
                examples.append({"got": r, "want": want})
        if key not in last or eid > last[key][0]:
            last[key] = (eid, total)
    want_errs, got_errs = Counter(truth["corrupt"]), Counter(errs)
    return {
        "lost": sum(1 for e in expected if e not in seen),
        "duplicated": sum(n - 1 for n in seen.values()),
        "wrong": wrong,
        "wrong_examples": examples,
        "final_sums_ok": {k: v[1] for k, v in last.items()}
        == {k: int(v) for k, v in truth["final"].items()},
        "errs_missed": sum((want_errs - got_errs).values()),
        "errs_invented": sum((got_errs - want_errs).values()),
    }


def stream_failures(result: dict) -> int:
    """Failed operations for ``error_rate``: each lost, duplicated or
    wrong event, and each corrupt payload the error topic missed or
    invented. A final-sum mismatch without any of those still fails one."""
    failed = (result["lost"] + result["duplicated"] + result["wrong"]
              + result["errs_missed"] + result["errs_invented"])
    if failed == 0 and not result["final_sums_ok"]:
        failed = 1
    return failed
