"""Seeded input generators for every workload.

The same ``--seed`` gives the same inputs. Each workload draws from its
own stream (``rng(seed, name)``), so adding a draw to one workload never
shifts another's inputs. The engine only ever receives what these
functions return.
"""

from __future__ import annotations

import datetime as dt
import zlib

import numpy as np
import pandas as pd

EPOCH0 = int(dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc).timestamp())
DAY_S = 86_400
EVENT_TYPES = ("view", "click", "search", "cart", "buy", "share")
_EVENT_WEIGHTS = np.array([0.40, 0.25, 0.15, 0.10, 0.06, 0.04])
GOES_CHANNELS = ("XRS-A1", "XRS-A2", "XRS-B1", "XRS-B2")


def rng(seed: int, stream: str) -> np.random.Generator:
    return np.random.default_rng([int(seed), zlib.crc32(stream.encode())])


def day_date(day: int) -> dt.date:
    return dt.datetime.fromtimestamp(EPOCH0 + day * DAY_S, dt.timezone.utc).date()


# --------------------------------------------------------------------------
# events (rollup store + raw __time table) and GOES records
# --------------------------------------------------------------------------
def events(r: np.random.Generator, n: int, day_lo: int, day_hi: int,
           n_users: int = 3000) -> pd.DataFrame:
    """``n`` click-stream events with posix ``timestamp`` seconds spread
    over days [day_lo, day_hi). Values are whole cents, so every sum is
    exact in the engine's integer-micros state."""
    ts = EPOCH0 + day_lo * DAY_S + r.integers(0, (day_hi - day_lo) * DAY_S, n)
    users = np.minimum(r.zipf(1.3, n), n_users) - 1
    return pd.DataFrame({
        "timestamp": ts.astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[r.choice(len(EVENT_TYPES), n, p=_EVENT_WEIGHTS)],
        "user_id": users.astype(np.int64),
        "value": r.integers(1, 50_000, n).astype(np.float64) / 100.0,
    })


def goes(r: np.random.Generator, n: int, day: int, file_no: int) -> pd.DataFrame:
    """``n`` GOES XRS-shaped records (the reference's satellite datasource)
    at one-second cadence from a random second of ``day``."""
    t0 = EPOCH0 + day * DAY_S + int(r.integers(0, DAY_S - n))
    t = t0 + np.arange(n, dtype=np.int64)
    flux = 10.0 ** r.uniform(-8, -5, (n, 5))
    iso = pd.to_datetime(t, unit="s").strftime("%Y-%m-%dT%H:%M:%SZ")
    return pd.DataFrame({
        "time": t,
        "product_time": iso,
        "solar_array_current_channel_index_label": np.array(GOES_CHANNELS)[r.integers(0, 4, n)],
        "source_file": f"OR_XRSF-L2-FLX1s_G16_d{day:04d}_f{file_no:05d}.nc",
        "irradiance_xrsa1": flux[:, 0],
        "irradiance_xrsa2": flux[:, 1],
        "irradiance_xrsb1": flux[:, 2],
        "irradiance_xrsb2": flux[:, 3],
        "primary_xrsb": flux[:, 4],
        "dispersion_angle": r.uniform(0, 1, n),
        "integration_time": np.full(n, 1.0),
        "extraction_timestamp": t + 60,
        "file_size_mb": np.round(r.uniform(0.5, 2.0, n), 3),
    })


# One cycle of the dashboard mix: (kind, window, serve grain, distinct
# users). Every cycle holds exactly these 10 requests in a seeded order
# (one cycle per 10 s at the workload's arrival rate), so runs differ in
# order and data, never in the shapes that set the latency distribution.
# The shares are an assumption, not measured traffic: 6 rollup serves
# (hour/day/week grain 2/2/2, 3 with the distinct-user sketch) and each
# of the four reference panels once; windows lean to recent days (4
# last-day, 3 last-week, 3 full-range).
_MIX_CYCLE = (
    ("serve", "last_day", "hour", False), ("serve", "last_day", "day", True),
    ("serve", "last_week", "hour", True), ("serve", "last_week", "week", False),
    ("serve", "full", "day", False), ("serve", "full", "week", True),
    ("sql_hourly", "last_day", None, None), ("sql_daily_max", "full", None, None),
    ("sql_top_by_metric", "last_week", None, None), ("sql_hour_of_day", "last_day", None, None),
)


def dashboard_mix(r: np.random.Generator, n: int, n_days: int) -> list[dict]:
    """``n`` dashboard requests: rollup serves at hour/day/week grain with
    and without the distinct-user sketch, and Druid-SQL panels, over
    windows skewed toward recent days."""
    span = {"last_day": 1, "last_week": 7, "full": n_days}
    out = []
    while len(out) < n:
        for i in r.permutation(len(_MIX_CYCLE)):
            kind, window, grain, distinct = _MIX_CYCLE[i]
            q = {"kind": kind, "window": window, "day_lo": n_days - span[window],
                 "day_hi": n_days}
            if kind == "serve":
                q["grain"], q["distinct"] = grain, distinct
            out.append(q)
    return out[:n]


# --------------------------------------------------------------------------
# clustered vectors
# --------------------------------------------------------------------------
class VectorSource:
    """Embedding-like points: tight micro-clusters (a topic's near-
    paraphrases) around a few broad macro-clusters (subject areas), so
    every point has a well-defined set of true nearest neighbours.
    Probes and appended points fall on the corpus's micro-clusters."""

    def __init__(self, r: np.random.Generator, dim: int, n_macro: int = 16,
                 macro_sd: float = 4.0, micro_sd: float = 2.0, point_sd: float = 0.3):
        self.r = r
        self.dim = dim
        self.macro = r.normal(0.0, macro_sd, (n_macro, dim))
        self.micro_sd = micro_sd
        self.point_sd = point_sd

    def micro_centers(self, n: int) -> np.ndarray:
        m = self.macro[self.r.integers(0, len(self.macro), n)]
        return m + self.r.normal(0.0, self.micro_sd, (n, self.dim))

    def sample(self, centers: np.ndarray, n: int) -> np.ndarray:
        c = centers[self.r.integers(0, len(centers), n)]
        return np.round(c + self.r.normal(0.0, self.point_sd, (n, self.dim)), 4)


def kmeans(r: np.random.Generator, x: np.ndarray, k: int, iters: int = 10) -> np.ndarray:
    """Seeded Lloyd k-means (random initial centres) for codebooks."""
    c = x[r.choice(len(x), k, replace=False)].copy()
    for _ in range(iters):
        a = ((x[:, None, :] - c[None, :, :]) ** 2).sum(-1).argmin(1)
        for j in range(k):
            if (a == j).any():
                c[j] = x[a == j].mean(0)
    return c


# --------------------------------------------------------------------------
# documents with injected near-duplicates
# --------------------------------------------------------------------------
class DocSource:
    """Random-word documents; a fixed share of each batch are
    near-duplicates (one word substituted) of earlier original documents.
    ``injected`` maps every near-duplicate id to its original's id."""

    def __init__(self, r: np.random.Generator, words: int = 60,
                 vocab: int = 20_000, dup_share: float = 0.2):
        self.r = r
        self.words = words
        self.vocab = np.array([f"w{i}" for i in range(vocab)])
        self.dup_share = dup_share
        self.next_id = 1
        self.text: dict[int, str] = {}
        self.originals: list[int] = []
        self.injected: dict[int, int] = {}

    def batch(self, n: int, allow_dups: bool = True) -> pd.DataFrame:
        ids, texts, new_originals = [], [], []
        n_dup = int(round(n * self.dup_share)) if allow_dups and self.originals else 0
        dup_slots = set(self.r.choice(n, n_dup, replace=False).tolist()) if n_dup else set()
        for j in range(n):
            doc_id = self.next_id
            self.next_id += 1
            if j in dup_slots:
                src = int(self.originals[self.r.integers(0, len(self.originals))])
                w = self.text[src].split(" ")
                w[int(self.r.integers(0, len(w)))] = str(self.vocab[self.r.integers(0, len(self.vocab))])
                t = " ".join(w)
                self.injected[doc_id] = src
            else:
                t = " ".join(self.vocab[self.r.integers(0, len(self.vocab), self.words)])
                new_originals.append(doc_id)
            self.text[doc_id] = t
            ids.append(doc_id)
            texts.append(t)
        self.originals.extend(new_originals)
        return pd.DataFrame({"doc_id": np.array(ids, dtype=np.int64), "text": texts})
