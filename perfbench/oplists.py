"""Seeded operation lists for the two workloads.

The program never sees a seed: these generators turn one into concrete
requests (``serve``) and table operations (``lake``). Both hand out whole
*rounds*: every round holds the same operation kinds in the same number,
and only parameters (and, for ``serve``, order) depend on the seed.
"""

from __future__ import annotations

import bisect
import datetime as dt

import numpy as np
import pyarrow as pa

import datagen

# -- serve ----------------------------------------------------------------

# Endpoints that get one fresh (never seen before) request per round.
FRESH_ENDPOINTS = (
    "loyalty",
    "attendance",
    "similarity",
    "votes",
    "vote_detail",
    "laws",
    "amendments",
    "sql",
)
# Cached endpoints a round may repeat (sql is never cached).
REPEATABLE = FRESH_ENDPOINTS[:-1]
ENDPOINTS = FRESH_ENDPOINTS + ("coalitions",)
# Plan shapes per endpoint (which optional filters a request sets). A round
# holds one fresh request of every shape of every endpoint.
SHAPES = {"loyalty": 2, "attendance": 2, "similarity": 2, "votes": 4,
          "vote_detail": 1, "laws": 2, "amendments": 2, "sql": 1}
FRESH_PER_ROUND = sum(SHAPES.values())
REPEATS = 3  # with the coalitions call, 4 of 20 requests are cache hits
SERVE_ROUND = FRESH_PER_ROUND + 1 + REPEATS
PARTIES = [f"NATION_{i}" for i in range(datagen.N_NATIONS)]

SQL_TEMPLATE = (
    "SELECT o_orderpriority, count(*) AS n, round(sum(o_totalprice), 2) AS total "
    "FROM orders WHERE o_orderkey BETWEEN {lo} AND {hi} GROUP BY o_orderpriority"
)


def request_key(endpoint: str, kwargs: dict) -> str:
    return endpoint + ":" + repr(sorted(kwargs.items()))


class ServePlan:
    """Requests for the ``serve`` workload.

    Each round holds one fresh request of every plan shape of every
    endpoint, one ``coalitions`` call (its two cache keys are fixed, so
    after the warm-up it is always served from the cache) and ``REPEATS``
    repeats of earlier requests, so one request in five is a cache hit.
    The repeated endpoints cycle through ``REPEATABLE``; which of their
    earlier requests repeats is a skewed draw favouring the earliest ones.
    Fresh requests never repeat a key seen before.
    """

    def __init__(self, seed: int):
        self.rng = np.random.default_rng([seed, 0x5E27E])
        self.seen: set[str] = set()
        self.history: dict[str, list[dict]] = {e: [] for e in REPEATABLE}
        self.rounds = 0

    def _party(self) -> str:
        return PARTIES[int(self.rng.integers(0, len(PARTIES)))]

    def _customer(self) -> str:
        return f"Customer#{int(self.rng.integers(0, datagen.SIZES['customer'])):09d}"

    def _draw(self, endpoint: str, shape: int) -> dict:
        """Parameters for one request; ``shape`` picks which optional
        filters it uses, and so the shape of the plan it builds."""
        r, s = self.rng, datagen.SIZES
        if endpoint == "loyalty":
            return {"top": int(r.integers(5, 41)), "party": self._party() if shape else None}
        if endpoint == "attendance":
            return {
                "sort": str(r.choice(["worst", "best"])),
                "top": int(r.integers(5, 41)),
                "party": self._party() if shape else None,
            }
        if endpoint == "similarity":
            return {"top": int(r.integers(3, 41)), "cross_party_only": not shape}
        if endpoint == "vote_detail":
            return {"vote_id": int(r.integers(0, s["orders"]))}
        if endpoint == "votes":
            if shape == 0:
                return {"search": self._customer(), "page": 1}
            if shape == 1:
                return {"outcome": str(r.choice(["A", "R"])), "page": int(r.integers(1, 9))}
            if shape == 2:
                return {"topic": str(r.choice(datagen.PART_TYPES)), "page": int(r.integers(1, 4))}
            return {"page": int(r.integers(1, 31))}
        if endpoint == "laws":
            if shape == 0:
                return {"status": str(r.choice(datagen.STATUSES)), "page": int(r.integers(1, 6))}
            return {"search": self._customer(), "page": 1}
        if endpoint == "amendments":
            if shape == 0:
                j = int(r.integers(0, s["supplier"]))
                return {"search": f"Supplier#{j:09d}", "page": 1}
            return {"search": "", "page": int(r.integers(1, 11))}
        if endpoint == "sql":
            lo = int(r.integers(0, s["orders"] - 300))
            hi = lo + int(r.integers(50, 300))
            return {"query": SQL_TEMPLATE.format(lo=lo, hi=hi)}
        raise ValueError(endpoint)

    def _fresh(self, endpoint: str, shape: int) -> tuple[str, dict, str]:
        for _ in range(10_000):
            kw = self._draw(endpoint, shape)
            key = request_key(endpoint, kw)
            if key not in self.seen:
                self.seen.add(key)
                if endpoint in self.history:
                    self.history[endpoint].append(kw)
                return endpoint, kw, "fresh"
        raise RuntimeError(f"parameter space of {endpoint} exhausted")

    def warmup(self) -> list[tuple[str, dict, str]]:
        """One request of every plan shape of every endpoint, run untimed
        before the timed phase, so no timed request is the first of its shape."""
        ops = [self._fresh(e, k) for e in FRESH_ENDPOINTS for k in range(SHAPES[e])]
        return ops + [("coalitions", {}, "fresh")]

    def next_round(self) -> list[tuple[str, dict, str]]:
        # repeats come from the warm-up or earlier rounds, so they are hits
        # whatever the order
        targets = [REPEATABLE[(REPEATS * self.rounds + i) % len(REPEATABLE)]
                   for i in range(REPEATS)]
        pasts = [list(self.history[t]) for t in targets]
        ops = [self._fresh(e, k) for e in FRESH_ENDPOINTS for k in range(SHAPES[e])]
        ops.append(("coalitions", {}, "shared"))
        for target, past in zip(targets, pasts):
            weights = 1.0 / np.arange(1, len(past) + 1)
            pick = int(self.rng.choice(len(past), p=weights / weights.sum()))
            ops.append((target, past[pick], "repeat"))
        self.rng.shuffle(ops)
        self.rounds += 1
        return ops


# -- lake -----------------------------------------------------------------

LAKE_DDL = (
    "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
    "o_totalprice double, o_orderdate date, o_orderpriority string"
)
LAKE_SEED_ROWS = 2000
LAND_ROWS = 100
MERGE_ROWS = 40
CYCLES_PER_ROUND = 3
# One cycle, in order.
CYCLE = (
    "drain",
    "delete_where",
    "update_where",
    "merge_into",
    "point_read",
    "range_read",
    "time_travel",
)
# A round is CYCLES_PER_ROUND cycles, then one compaction.
LAKE_ROUND = CYCLES_PER_ROUND * len(CYCLE) + 1


def lake_rows(rng: np.random.Generator, keys: np.ndarray) -> pa.Table:
    """Orders-shaped rows with the given keys and a ``date`` order date."""
    n = len(keys)
    t = datagen.orders_table(rng, n, datagen.SIZES["customer"])
    days = [datagen.DAY0 + dt.timedelta(days=int(d)) for d in rng.integers(0, datagen.N_DAYS, n)]
    return pa.table(
        {
            "o_orderkey": pa.array(keys, pa.int64()),
            "o_custkey": t["o_custkey"],
            "o_orderstatus": t["o_orderstatus"],
            "o_totalprice": t["o_totalprice"],
            "o_orderdate": pa.array(days, pa.date32()),
            "o_orderpriority": t["o_orderpriority"],
        }
    )


class LakePlan:
    """Operations for the ``lake`` workload.

    Keys grow upward as batches land. The plan tracks which keys are live,
    and DML and reads start their key ranges at a live key an exponential
    number of live keys below the newest, so recent keys are favoured and
    every DML matches rows. Time travel names a version by how far back it
    is from the latest one, resolved when it runs.
    """

    def __init__(self, seed: int):
        self.rng = np.random.default_rng([seed, 0x1A4E])
        self.next_key = LAKE_SEED_ROWS
        self.live = list(range(LAKE_SEED_ROWS))  # sorted

    def seed_rows(self) -> pa.Table:
        return lake_rows(self.rng, np.arange(0, LAKE_SEED_ROWS))

    def _new_keys(self, n: int) -> np.ndarray:
        keys = np.arange(self.next_key, self.next_key + n)
        self.next_key += n
        self.live.extend(int(k) for k in keys)
        return keys

    def _recent_key(self, scale: float = 400.0) -> int:
        back = min(int(self.rng.exponential(scale)), len(self.live) - 1)
        return self.live[len(self.live) - 1 - back]

    def _range(self, lo_w: int, hi_w: int) -> tuple[int, int]:
        lo = self._recent_key()
        return lo, lo + int(self.rng.integers(lo_w, hi_w))

    def op(self, kind: str) -> tuple[str, dict]:
        r = self.rng
        if kind == "drain":
            return kind, {"rows": lake_rows(r, self._new_keys(LAND_ROWS))}
        if kind == "delete_where":
            lo, hi = self._range(5, 30)
            del self.live[bisect.bisect_left(self.live, lo) : bisect.bisect_left(self.live, hi)]
            return kind, {"predicate": f"o_orderkey >= {lo} AND o_orderkey < {hi}"}
        if kind == "update_where":
            lo, hi = self._range(5, 40)
            return kind, {
                "predicate": f"o_orderkey >= {lo} AND o_orderkey < {hi}",
                "set": {"o_totalprice": "o_totalprice + 1.25", "o_orderstatus": "'U'"},
            }
        if kind == "merge_into":
            old = set()
            while len(old) < MERGE_ROWS // 2:
                old.add(self._recent_key())
            keys = np.concatenate([sorted(old), self._new_keys(MERGE_ROWS // 2)])
            return kind, {"rows": lake_rows(r, keys)}
        if kind == "point_read":
            return kind, {"key": self._recent_key()}
        if kind == "range_read":
            lo, hi = self._range(20, 100)
            return kind, {"lo": lo, "hi": hi}
        if kind == "time_travel":
            return kind, {"back": int(r.integers(1, 8))}
        if kind == "compact":
            return kind, {}
        raise ValueError(kind)

    def warmup(self) -> list[tuple[str, dict]]:
        return [self.op(k) for k in CYCLE] + [self.op("compact")]

    def next_round(self) -> list[tuple[str, dict]]:
        ops = [self.op(k) for _ in range(CYCLES_PER_ROUND) for k in CYCLE]
        return ops + [self.op("compact")]
