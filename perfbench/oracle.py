"""Independent answers the engine's outputs are checked against.

Dashboard and freshness answers come from DuckDB over the generated
events (never from the engine's files); nearest neighbours from exact
numpy top-k; dedup decisions from the generator's injected pairs and a
pure-Python trigram Jaccard. All 4-decimal values use the half-away
integer rounding the engine documents, so equal answers compare equal
exactly.
"""

from __future__ import annotations

import datetime as dt

import duckdb
import numpy as np
import pandas as pd

# distinct-user counts come from a mergeable HLL sketch in the engine
HLL_REL_TOL = 0.02


def round4_units(micros: int, n: int = 1) -> float:
    """round(micros / 1e6 / n, 4), half away from zero, exactly."""
    q = 100 * n
    units = (2 * abs(micros) + q) // (2 * q)
    return (units if micros >= 0 else -units) / 10000.0


def _iso(v) -> str:
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ")
    return str(v)


class EventsOracle:
    """DuckDB over every event the workload generated."""

    def __init__(self, events: pd.DataFrame):
        self.con = duckdb.connect()
        self.con.register("ev_src", events)
        self.con.execute(
            "CREATE TABLE events AS SELECT make_timestamp(timestamp * 1000000) AS __time, "
            "event_type, user_id, value, CAST(round(value * 100) AS BIGINT) AS cents "
            "FROM ev_src"
        )

    def serve(self, grain: str, day_lo: dt.date, day_hi: dt.date, distinct: bool) -> list[tuple]:
        """Rows of ``serve_rollup(grain, dims=('event_type',))`` over days
        [day_lo, day_hi)."""
        rows = self.con.execute(
            f"SELECT CAST(date_trunc('{grain}', __time) AS TIMESTAMP) AS b, event_type, "
            "count(*) AS n, sum(cents) * 10000 AS m, min(cents) * 10000 AS lo, "
            "max(cents) * 10000 AS hi, count(DISTINCT user_id) AS u FROM events "
            "WHERE CAST(__time AS DATE) >= ? AND CAST(__time AS DATE) < ? GROUP BY 1, 2",
            [day_lo, day_hi],
        ).fetchall()
        out = []
        for b, et, n, m, lo, hi, u in rows:
            r = (_iso(b), et, int(n), round4_units(int(m)), round4_units(int(m), int(n)),
                 round4_units(int(lo)), round4_units(int(hi)))
            out.append(r + ((int(u),) if distinct else ()))
        return sorted(out)

    def sql(self, duck_sql: str) -> list[tuple]:
        return canonical(self.con.execute(duck_sql).fetchall())

    def close(self) -> None:
        self.con.close()


def served_rows(rows, distinct: bool) -> list[tuple]:
    """Canonical tuples of collected ``serve_rollup`` rows."""
    out = []
    for r in rows:
        t = (_iso(r["bucket"]), r["event_type"], int(r["n_events"]), r["sum_value"],
             r["avg_value"], r["min_value"], r["max_value"])
        out.append(t + ((int(r["approx_users"]),) if distinct else ()))
    return sorted(out)


def serve_matches(got: list[tuple], want: list[tuple], distinct: bool) -> bool:
    """Exact on every column except the sketch estimate, which may differ
    from the exact distinct count by HLL_REL_TOL (at least one user)."""
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if not distinct:
            if g != w:
                return False
            continue
        if g[:-1] != w[:-1] or abs(g[-1] - w[-1]) > max(1.0, HLL_REL_TOL * w[-1]):
            return False
    return True


def canonical(rows) -> list[tuple]:
    return sorted(tuple(_iso(v) if isinstance(v, dt.datetime) else v for v in r) for r in rows)


# a panel's float columns are rounded to at most 4 decimals by the engine
# and left exact by the oracle
PANEL_FLOAT_TOL = 5.1e-5


def rows_match(got: list[tuple], want: list[tuple]) -> bool:
    """Canonical rows equal, floats within PANEL_FLOAT_TOL."""
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if len(g) != len(w):
            return False
        for a, b in zip(g, w):
            if isinstance(a, float) or isinstance(b, float):
                if a is None or b is None or abs(float(a) - float(b)) > PANEL_FLOAT_TOL:
                    return False
            elif a != b:
                return False
    return True


# --------------------------------------------------------------------------
# nearest neighbours
# --------------------------------------------------------------------------
def exact_topk(corpus: np.ndarray, ids: np.ndarray, probes: np.ndarray, k: int) -> list[set]:
    """Exact k nearest ids by squared L2 for every probe."""
    d = (
        (probes ** 2).sum(1)[:, None]
        - 2.0 * probes @ corpus.T
        + (corpus ** 2).sum(1)[None, :]
    )
    top = np.argpartition(d, k - 1, axis=1)[:, :k]
    return [set(ids[row].tolist()) for row in top]


# --------------------------------------------------------------------------
# dedup
# --------------------------------------------------------------------------
def trigrams(text: str) -> set[str]:
    w = text.split(" ")
    if len(w) < 3:
        return {" ".join(w)}
    return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}


def jaccard(a: str, b: str) -> float:
    sa, sb = trigrams(a), trigrams(b)
    return len(sa & sb) / len(sa | sb)
