"""Seeded SQL statement streams for the MV workloads, and the reference
model they are checked against.

Everything here is pure Python: the program only ever sees the SQL text
produced below. `MvScenario` generates the schema, the preload, and the
timed statements of `mv_ingest` / `mv_serve`; while it generates each
statement it applies the same change to an in-memory model of the three
tables. `expected()` recomputes every materialized view's defining
SELECT from that model, which is the reference the run is checked
against.
"""

from __future__ import annotations

import bisect
import datetime as dt
import itertools
import random
from dataclasses import dataclass

BASE_TS = dt.datetime(2024, 1, 1)
N_USERS = 1000
TIERS = ("bronze", "silver", "gold", "platinum")
EVENT_TYPES = ("click", "view", "buy")
WATERMARK_DELAY_S = 10
WINDOW_S = 60
#: distinct keys of one bulk insert: above the engine's 8192-value
#: literal key-set cap, so the broadcast-join fallback runs
BULK_ROWS = 8500
#: rows per small INSERT, and how many of an evw batch arrive late: fixed,
#: so every seed does the same amount of work and only keys/values vary
BATCH_ROWS = 30
LATE_ROWS = 2
#: rows per UPDATE / DELETE on ev
RETRACT_ROWS = 5

MV_DDL = (
    "CREATE MATERIALIZED VIEW mv_agg AS "
    "SELECT user_id, count(*) AS n, sum(value) AS total, max(value) AS vmax "
    "FROM ev GROUP BY user_id",
    "CREATE MATERIALIZED VIEW mv_ow AS "
    "SELECT user_id, event_id, value, "
    "row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn, "
    "sum(value) OVER (PARTITION BY user_id ORDER BY event_id) AS rsum "
    "FROM ev",
    "CREATE MATERIALIZED VIEW mv_join AS "
    "SELECT u.tier, count(*) AS n, sum(e.value) AS total "
    "FROM ev e JOIN users u ON e.user_id = u.uid GROUP BY u.tier",
    "CREATE MATERIALIZED VIEW mv_eowc AS "
    "SELECT window_start AS ws, count(*) AS n, sum(value) AS total "
    f"FROM TUMBLE(evw, ts, INTERVAL '{WINDOW_S} seconds') "
    "GROUP BY window_start EMIT ON WINDOW CLOSE",
)

#: relation -> the columns read back for the check
RELATIONS = {
    "users": "uid, tier",
    "ev": "event_id, user_id, event_type, value, ts",
    "evw": "event_id, user_id, value, ts",
    "mv_agg": "user_id, n, total, vmax",
    "mv_ow": "user_id, event_id, value, rn, rsum",
    "mv_join": "tier, n, total",
    "mv_eowc": "ws, n, total",
}

#: DML kinds of mv_ingest, in the order they repeat; a 20-second run
#: issues the first five (upd_ev, the costliest, only in longer runs: the
#: retraction path also runs in del_ev, and UPDATE in upd_users)
INGEST_PATTERN = (
    "ins_ev", "ins_evw", "upd_users", "del_ev",
    "bulk_ev", "upd_ev", "ins_evw", "ins_ev",
)
#: DML kinds of mv_serve (one DML every SERVE_DML_EVERY operations): the
#: cheap append-only feed, so reads keep most of the run's time and the
#: few DML samples are all of one kind
SERVE_PATTERN = ("ins_evw",)
SERVE_DML_EVERY = 10
READ_KINDS = ("r_agg_point", "r_ow_range", "r_join_group", "r_eowc_full", "r_adhoc_join")

#: preload sizes per workload: (ev rows, evw rows)
PRELOAD = {"mv_ingest": (4000, 2000), "mv_serve": (6000, 3000)}
#: reads after each mv_ingest DML
INGEST_READS_PER_DML = 3
#: nominal seconds per operation: a run does a fixed amount of work (so
#: counts repeat exactly) sized from --seconds with these rates. About
#: mv_ingest's rate on the seed commit; mv_serve's is set so that 20
#: seconds issue 3 DML among 30 operations
NOMINAL_OP_S = {"mv_ingest": 1.0, "mv_serve": 2 / 3}


@dataclass(frozen=True)
class Stmt:
    kind: str  # a DML kind of the patterns above, or a READ_KINDS entry
    sql: str
    rows: int  # rows changed (DML) — 0 for reads

    @property
    def is_dml(self) -> bool:
        return not self.kind.startswith("r_")


def _ts(seconds: float) -> dt.datetime:
    return BASE_TS + dt.timedelta(seconds=seconds)


def _ts_sql(t: dt.datetime) -> str:
    return f"TIMESTAMP '{t.isoformat(sep=' ', timespec='milliseconds')}'"


def _money(cents: int) -> str:
    return f"{cents // 100}.{cents % 100:02d}"


class MvScenario:
    """Schema, preload and statement stream of one MV workload run, plus
    the model of the tables after every statement generated so far."""

    def __init__(self, workload: str, seed: int):
        if workload not in PRELOAD:
            raise ValueError(f"unknown MV workload {workload!r}")
        self.workload = workload
        self.rng = random.Random(f"{workload}:{seed}")
        r = self.rng
        # preload formula constants (integer arithmetic only, so the SQL
        # and the model agree bit for bit). The multipliers a, c, e, g are
        # coprime with 10, so `(id * k + off) % m` for m in 4, 1000, 10000
        # is a permutation: every seed has the same tiers, distinct users
        # and distinct values, and only which id gets which one varies.
        self.k = {}
        for name in "abcdefgh":
            k = r.randrange(1, 9973)
            while name in "aceg" and (k % 2 == 0 or k % 5 == 0):
                k = r.randrange(1, 9973)
            self.k[name] = k
        # Zipf(1.1) over users, hot ranks mapped to random user ids
        order = list(range(N_USERS))
        r.shuffle(order)
        self._zipf_users = order
        self._zipf_cum = list(itertools.accumulate(1.0 / (i + 1) ** 1.1 for i in range(N_USERS)))
        self.users: dict[int, str] = {}
        self.ev: dict[int, tuple] = {}  # event_id -> (user_id, type, value, ts)
        self.evw: dict[int, tuple] = {}  # event_id -> (user_id, value, ts)
        self.evw_batches: list[list[int]] = []  # ids per evw insert, in order
        self._ev_live: list[int] = []
        self._n_ev, self._n_evw = PRELOAD[workload]
        self._next_ev = self._n_ev
        self._next_evw = self._n_evw
        self._next_bulk_user = 100_000
        self._evw_clock = float(self._n_evw)  # seconds past BASE_TS
        self._read_i = 0

    # -- set-up --------------------------------------------------------
    def setup_sql(self) -> list[str]:
        """DDL, preload and MV creation, in order. The preload is
        INSERT ... SELECT over range() so set-up cost does not depend on
        parsing megabytes of VALUES text."""
        k = self.k
        tier_case = " ".join(f"WHEN {i} THEN '{t}'" for i, t in enumerate(TIERS))
        type_case = " ".join(f"WHEN {i} THEN '{t}'" for i, t in enumerate(EVENT_TYPES))
        return [
            "CREATE TABLE users (uid int8 PRIMARY KEY, tier text)",
            "CREATE TABLE ev (event_id int8 PRIMARY KEY, user_id int8, "
            "event_type text, value float8, ts timestamp)",
            "CREATE TABLE evw (event_id int8 PRIMARY KEY, user_id int8, "
            "value float8, ts timestamp, "
            f"WATERMARK FOR ts AS ts - INTERVAL '{WATERMARK_DELAY_S} seconds') APPEND ONLY",
            f"INSERT INTO users SELECT id AS uid, CASE (id * {k['a']} + {k['b']}) % {len(TIERS)} "
            f"{tier_case} END AS tier FROM range(0, {N_USERS})",
            "INSERT INTO ev SELECT id AS event_id, "
            f"least((id * {k['c']} + {k['d']}) % {N_USERS}, (id * {k['e']} + {k['f']}) % {N_USERS}) AS user_id, "
            f"CASE id % {len(EVENT_TYPES)} {type_case} END AS event_type, "
            f"CAST((id * {k['g']} + {k['h']}) % 10000 AS double) / 100 AS value, "
            "TIMESTAMP '2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, 0, id) AS ts "
            f"FROM range(0, {self._n_ev})",
            "INSERT INTO evw SELECT id AS event_id, "
            f"(id * {k['c']} + {k['b']}) % {N_USERS} AS user_id, "
            f"CAST((id * {k['g']} + {k['a']}) % 10000 AS double) / 100 AS value, "
            "TIMESTAMP '2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, 0, id + 0.5) AS ts "
            f"FROM range(0, {self._n_evw})",
            *MV_DDL,
        ]

    def apply_preload(self) -> None:
        """Mirror setup_sql() into the model (call once)."""
        k = self.k
        for i in range(N_USERS):
            self.users[i] = TIERS[(i * k["a"] + k["b"]) % len(TIERS)]
        for i in range(self._n_ev):
            uid = min((i * k["c"] + k["d"]) % N_USERS, (i * k["e"] + k["f"]) % N_USERS)
            self.ev[i] = (
                uid,
                EVENT_TYPES[i % len(EVENT_TYPES)],
                float((i * k["g"] + k["h"]) % 10000) / 100,
                _ts(i),
            )
        self._ev_live = list(range(self._n_ev))
        ids = []
        for i in range(self._n_evw):
            self.evw[i] = ((i * k["c"] + k["b"]) % N_USERS, float((i * k["g"] + k["a"]) % 10000) / 100, _ts(i + 0.5))
            ids.append(i)
        self.evw_batches.append(ids)

    # -- timed stream --------------------------------------------------
    def n_ops(self, seconds: float) -> int:
        """Fixed amount of work for a run of `seconds`."""
        return max(8, round(seconds / NOMINAL_OP_S[self.workload]))

    def stream(self, n_ops: int):
        """Yield the timed statements. mv_ingest: every DML is followed
        by INGEST_READS_PER_DML reads; mv_serve: one DML in every
        SERVE_DML_EVERY ops."""
        per = INGEST_READS_PER_DML + 1
        for i in range(n_ops):
            if self.workload == "mv_ingest":
                yield self.read() if i % per else self.dml(INGEST_PATTERN[(i // per) % len(INGEST_PATTERN)])
            elif i % SERVE_DML_EVERY == SERVE_DML_EVERY - 1:
                yield self.dml(SERVE_PATTERN[(i // SERVE_DML_EVERY) % len(SERVE_PATTERN)])
            else:
                yield self.read()

    def _zipf_user(self) -> int:
        x = self.rng.random() * self._zipf_cum[-1]
        return self._zipf_users[bisect.bisect_left(self._zipf_cum, x)]

    def dml(self, kind: str) -> Stmt:
        return getattr(self, "_" + kind)()

    def _ins_ev(self) -> Stmt:
        r = self.rng
        rows = []
        for _ in range(BATCH_ROWS):
            eid = self._next_ev
            self._next_ev += 1
            row = (self._zipf_user(), r.choice(EVENT_TYPES), r.randrange(0, 100_000), _ts(eid))
            self.ev[eid] = (row[0], row[1], row[2] / 100, row[3])
            self._ev_live.append(eid)
            rows.append(f"({eid}, {row[0]}, '{row[1]}', {_money(row[2])}, {_ts_sql(row[3])})")
        return Stmt("ins_ev", "INSERT INTO ev VALUES " + ", ".join(rows), len(rows))

    def _pick_live(self, n: int) -> list[int]:
        return sorted(self.rng.sample(self._ev_live, n))

    def _upd_ev(self) -> Stmt:
        ids = self._pick_live(RETRACT_ROWS)
        delta = self.rng.randrange(1, 1000)
        for eid in ids:
            u, t, v, ts = self.ev[eid]
            # Spark adds the DECIMAL literal as a double: same IEEE op
            self.ev[eid] = (u, t, v + float(_money(delta)), ts)
        return Stmt(
            "upd_ev",
            f"UPDATE ev SET value = value + {_money(delta)} "
            f"WHERE event_id IN ({', '.join(map(str, ids))})",
            2 * len(ids),  # a retraction and a re-insert per row
        )

    def _del_ev(self) -> Stmt:
        ids = self._pick_live(RETRACT_ROWS)
        for eid in ids:
            del self.ev[eid]
        gone = set(ids)
        self._ev_live = [e for e in self._ev_live if e not in gone]
        return Stmt("del_ev", f"DELETE FROM ev WHERE event_id IN ({', '.join(map(str, ids))})", len(ids))

    def _upd_users(self) -> Stmt:
        uid = self._zipf_user()  # a hot user: its events fan out through mv_join
        tier = self.rng.choice([t for t in TIERS if t != self.users[uid]])
        self.users[uid] = tier
        return Stmt("upd_users", f"UPDATE users SET tier = '{tier}' WHERE uid = {uid}", 2)

    def _bulk_ev(self) -> Stmt:
        lo, ubase = self._next_ev, self._next_bulk_user
        hi = lo + BULK_ROWS
        self._next_ev, self._next_bulk_user = hi, ubase + BULK_ROWS
        for eid in range(lo, hi):
            self.ev[eid] = (ubase + eid - lo, "buy", float(eid % 97), _ts(eid))
            self._ev_live.append(eid)
        return Stmt(
            "bulk_ev",
            f"INSERT INTO ev SELECT id AS event_id, id - {lo} + {ubase} AS user_id, "
            "'buy' AS event_type, CAST(id % 97 AS double) AS value, "
            "TIMESTAMP '2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, 0, id) AS ts "
            f"FROM range({lo}, {hi})",
            BULK_ROWS,
        )

    def _ins_evw(self) -> Stmt:
        """In event-time order except LATE_ROWS rows that arrive far behind
        the watermark (in windows that already closed) and are dropped."""
        r = self.rng
        wm = self._evw_clock - WATERMARK_DELAY_S
        late = set(r.sample(range(BATCH_ROWS), LATE_ROWS))
        rows, ids = [], []
        for j in range(BATCH_ROWS):
            eid = self._next_evw
            self._next_evw += 1
            if j in late:
                t = wm - r.randrange(2 * WINDOW_S, 5 * WINDOW_S)
            else:
                self._evw_clock += r.randrange(1, 4)
                t = self._evw_clock
            row = (self._zipf_user(), r.randrange(0, 100_000), _ts(t))
            self.evw[eid] = (row[0], row[1] / 100, row[2])
            ids.append(eid)
            rows.append(f"({eid}, {row[0]}, {_money(row[1])}, {_ts_sql(row[2])})")
        self.evw_batches.append(ids)
        return Stmt("ins_evw", "INSERT INTO evw VALUES " + ", ".join(rows), len(rows))

    def read(self) -> Stmt:
        kind = READ_KINDS[self._read_i % len(READ_KINDS)]
        self._read_i += 1
        uid = self._zipf_user()
        lo = self.rng.randrange(1, 6)
        sql = {
            "r_agg_point": f"SELECT user_id, n, total, vmax FROM mv_agg WHERE user_id = {uid}",
            "r_ow_range": "SELECT user_id, event_id, rn, rsum FROM mv_ow "
            f"WHERE user_id = {uid} AND rn BETWEEN {lo} AND {lo + 10}",
            "r_join_group": "SELECT tier, sum(n) AS n, sum(total) AS total FROM mv_join GROUP BY tier",
            "r_eowc_full": "SELECT ws, n, total FROM mv_eowc",
            "r_adhoc_join": "SELECT u.tier, count(*) AS users, sum(a.n) AS events "
            "FROM mv_agg a JOIN users u ON a.user_id = u.uid "
            f"WHERE a.n >= {lo} GROUP BY u.tier",
        }[kind]
        return Stmt(kind, sql, 0)

    # -- reference -----------------------------------------------------
    def expected(self) -> dict[str, list[tuple]]:
        """Rows of every relation, recomputed from the model: the tables
        themselves and each MV's defining SELECT (EOWC with the engine's
        watermark rule: a row at or behind the watermark is dropped on
        arrival, a window is emitted once the watermark reaches its end)."""
        agg: dict[int, list] = {}
        per_user: dict[int, list] = {}
        join: dict[str, list] = {}
        for eid in sorted(self.ev):
            u, _t, v, _ts_ = self.ev[eid]
            a = agg.setdefault(u, [0, 0.0, v])
            a[0] += 1
            a[1] += v
            a[2] = max(a[2], v)
            per_user.setdefault(u, []).append((eid, v))
            if u in self.users:
                j = join.setdefault(self.users[u], [0, 0.0])
                j[0] += 1
                j[1] += v
        ow = []
        for u, evs in per_user.items():
            run = 0.0
            for rn, (eid, v) in enumerate(evs, 1):
                run += v
                ow.append((u, eid, v, rn, run))
        wm = None
        kept: list[tuple] = []
        for ids in self.evw_batches:
            batch = [self.evw[i] for i in ids if wm is None or self.evw[i][2] > wm]
            if batch:
                kept.extend(batch)
                new = max(b[2] for b in batch) - dt.timedelta(seconds=WATERMARK_DELAY_S)
                wm = new if wm is None else max(wm, new)
        windows: dict[dt.datetime, list] = {}
        for _u, v, t in kept:
            start = BASE_TS + dt.timedelta(
                seconds=((t - BASE_TS).total_seconds() // WINDOW_S) * WINDOW_S
            )
            if start + dt.timedelta(seconds=WINDOW_S) <= wm:
                w = windows.setdefault(start, [0, 0.0])
                w[0] += 1
                w[1] += v
        return {
            "users": sorted(self.users.items()),
            "ev": sorted((e, *row) for e, row in self.ev.items()),
            "evw": sorted((e, *row) for e, row in self.evw.items()),
            "mv_agg": sorted((u, *a) for u, a in agg.items()),
            "mv_ow": sorted(ow),
            "mv_join": sorted((t, *a) for t, a in join.items()),
            "mv_eowc": sorted((w, *a) for w, a in windows.items()),
        }
