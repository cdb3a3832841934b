"""In-memory span recorder for traced benchmark runs.

The program is not instrumented: the tracer replaces the public entry
points of each layer (module functions and class methods) with wrappers
from this file, records one span per call made while a timed statement is
active, and restores the originals in `close()`.

A span is (id, name, start, end, parent, stmt). Spans of one statement
share `stmt`; the statement's own root span has parent None. The driver
↔ JVM round trips (py4j), warehouse commits (os.replace / os.rename under
the warehouse) and the statement's Spark jobs are counted per statement
rather than recorded as spans. A layer's self time is its spans' duration
minus the time covered by their child spans, so the self times of all
layers in a statement add up to the statement's wall time.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from collections import defaultdict

#: span name -> layer metric prefix
LAYERS = {
    "stmt": "client",
    "Engine.sql": "frontend",
    "pg_to_spark_sql": "frontend.pgsql_rewrite",
    "classify_ast": "sqlparse",
    "Engine.dml": "api.dml",
    "_RetractableView.apply_batch": "streaming.mv",
    "MaterializedOverWindowDelta.apply_batch": "streaming.over_window",
    "RetractableStreamJoin.apply": "streaming.join",
    "EowcAggMv.feed": "streaming.eowc",
    "chunk_key_values": "streaming.keyset",
    "ChunkedState.fold": "state.fold",
    "ChunkedState.read": "state.read",
    "ChunkedState.compact": "state.compact",
    "_BucketedMvTable.overwrite_buckets": "state.mv_splice",
    "_BucketedMvTable.read": "state.mv_read",
}


def _touched_buckets(args, kwargs, _out):
    table = args[0]
    touched = args[2] if len(args) > 2 else kwargs.get("touched")
    n = table.n_buckets
    return {"touched": n if touched is None else len(touched), "buckets": n}


def _keyset_outcome(_args, _kwargs, out):
    return {"literal": out is not None}


class Tracer:
    def __init__(self, spark, warehouse: str):
        self.spark = spark
        self.warehouse = os.path.abspath(warehouse)
        self.spans: list[list] = []  # [id, name, start, end, parent, stmt, attrs]
        self.stmts: list[dict] = []
        self.cost_s = 0.0  # the tracer's own time inside statements
        self._stack: list[int] = []
        self._stmt: dict | None = None
        self._main = threading.get_ident()
        self._patches: list[tuple] = []

    # -- patching ------------------------------------------------------
    def _active(self) -> bool:
        return self._stmt is not None and threading.get_ident() == self._main

    def wrap(self, owner, attr: str, name: str, outcome=None) -> None:
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        self._patches.append((owner, attr, orig))
        tracer = self

        def traced(*args, **kwargs):
            if not tracer._active():
                return orig(*args, **kwargs)
            t_in = time.perf_counter()
            rec = [len(tracer.spans), name, 0.0, 0.0, tracer._stack[-1], tracer._stmt["id"], None]
            tracer.spans.append(rec)
            tracer._stack.append(rec[0])
            rec[2] = time.perf_counter()
            tracer.cost_s += rec[2] - t_in
            out = None
            try:
                out = orig(*args, **kwargs)
                return out
            finally:
                rec[3] = time.perf_counter()
                tracer._stack.pop()
                if outcome is not None:
                    rec[6] = outcome(args, kwargs, out)
                tracer.cost_s += time.perf_counter() - rec[3]

        setattr(owner, attr, traced)

    def _count(self, owner, attr: str, counter) -> None:
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        self._patches.append((owner, attr, orig))
        tracer = self

        def counted(*args, **kwargs):
            if not tracer._active():
                return orig(*args, **kwargs)
            t0 = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                counter(tracer._stmt, args, time.perf_counter() - t0)

        setattr(owner, attr, counted)

    def install(self) -> None:
        """Wrap every layer boundary the benchmark reports on."""
        import py4j.java_gateway as jg

        from risingwave_spark import api, frontend, sqlparse
        from risingwave_spark.functions import pgsql
        from risingwave_spark.streaming import join, mv, over_window

        self.wrap(api.Engine, "sql", "Engine.sql")
        for mod in (pgsql, frontend, api):
            if hasattr(mod, "pg_to_spark_sql"):
                self.wrap(mod, "pg_to_spark_sql", "pg_to_spark_sql")
        self.wrap(sqlparse, "classify_ast", "classify_ast")
        for m in ("insert", "update", "delete", "_apply_dml"):
            self.wrap(api.Engine, m, "Engine.dml")
        self.wrap(mv._RetractableView, "apply_batch", "_RetractableView.apply_batch")
        self.wrap(
            over_window.MaterializedOverWindowDelta, "apply_batch",
            "MaterializedOverWindowDelta.apply_batch",
        )
        self.wrap(join.RetractableStreamJoin, "apply", "RetractableStreamJoin.apply")
        self.wrap(mv.EowcAggMv, "feed", "EowcAggMv.feed")
        for mod in (mv, join):
            self.wrap(mod, "chunk_key_values", "chunk_key_values", _keyset_outcome)
        for m in ("fold", "read", "compact"):
            self.wrap(mv.ChunkedState, m, f"ChunkedState.{m}")
        self.wrap(
            mv._BucketedMvTable, "overwrite_buckets",
            "_BucketedMvTable.overwrite_buckets", _touched_buckets,
        )
        for m in ("read", "read_buckets"):
            self.wrap(mv._BucketedMvTable, m, "_BucketedMvTable.read")

        def py4j_call(stmt, args, dt):
            # "m\n" commands are py4j's garbage collection of proxies, sent
            # whenever Python frees one: not a call the program made
            if not str(args[1]).startswith("m\n"):
                stmt["py4j_calls"] += 1
                stmt["py4j_wait_s"] += dt

        self._count(jg.GatewayClient, "send_command", py4j_call)
        wh = self.warehouse + os.sep

        def commit(stmt, args, _dt):
            if os.path.abspath(str(args[1])).startswith(wh):
                stmt["commits"] += 1

        self._count(os, "replace", commit)
        self._count(os, "rename", commit)

    def close(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- statements ----------------------------------------------------
    def begin(self, stmt_id: int, kind: str, rows: int = 0) -> None:
        sc = self.spark.sparkContext
        group = f"perfbench-{stmt_id}"
        sc.setJobGroup(group, kind)
        rec = [len(self.spans), "stmt", 0.0, 0.0, None, stmt_id, None]
        self.spans.append(rec)
        self._stack = [rec[0]]
        self._stmt = {
            "id": stmt_id, "kind": kind, "rows": rows, "group": group,
            "py4j_calls": 0, "py4j_wait_s": 0.0, "commits": 0,
            "wall_ns": time.time_ns(), "span": rec,
        }
        rec[2] = time.perf_counter()

    def end(self) -> None:
        end = time.perf_counter()
        stmt, self._stmt = self._stmt, None
        rec = stmt.pop("span")
        rec[3] = end
        self._stack = []
        stmt["wall_s"] = rec[3] - rec[2]
        stmt["bytes_written"] = self._bytes_since(stmt.pop("wall_ns")) if stmt["rows"] else 0
        self.stmts.append(stmt)

    def finish(self) -> None:
        """Jobs and completed tasks of every statement's job group, through
        the public status tracker (the run raises its job and stage
        retention so none are dropped). The tracker is fed asynchronously
        by the listener bus, so a one-task sentinel job runs first: once it
        shows as finished, every earlier job event has been processed."""
        sc = self.spark.sparkContext
        st = sc.statusTracker()
        sc.setJobGroup("perfbench-sentinel", "perfbench sentinel")
        sc.parallelize([0], 1).count()
        deadline = time.monotonic() + 30
        while time.monotonic() < deadline:
            ids = st.getJobIdsForGroup("perfbench-sentinel")
            info = st.getJobInfo(ids[0]) if ids else None
            if info is not None and info.status == "SUCCEEDED":
                break
            time.sleep(0.01)
        sc.setLocalProperty("spark.jobGroup.id", None)
        for stmt in self.stmts:
            jobs = st.getJobIdsForGroup(stmt["group"])
            tasks = 0
            for j in jobs:
                info = st.getJobInfo(j)
                for s in info.stageIds if info else ():
                    si = st.getStageInfo(s)
                    tasks += si.numCompletedTasks if si else 0
            stmt["jobs"], stmt["tasks"] = len(jobs), tasks

    def _bytes_since(self, wall_ns: int) -> int:
        total = 0
        for d, _dirs, files in os.walk(self.warehouse):
            for f in files:
                try:
                    s = os.stat(os.path.join(d, f))
                except FileNotFoundError:
                    continue
                if s.st_mtime_ns >= wall_ns:
                    total += s.st_size
        return total

    # -- results -------------------------------------------------------
    def self_times(self) -> dict[int, float]:
        """Span id -> self time (duration minus its children's durations)."""
        out = {r[0]: r[3] - r[2] for r in self.spans}
        for r in self.spans:
            if r[4] is not None:
                out[r[4]] -= r[3] - r[2]
        return out

    def layer_totals(self) -> dict[str, dict]:
        """Layer prefix -> {"calls", "self_s"} over every traced statement."""
        selfs = self.self_times()
        acc: dict[str, dict] = defaultdict(lambda: {"calls": 0, "self_s": 0.0})
        for r in self.spans:
            a = acc[LAYERS[r[1]]]
            a["calls"] += 1
            a["self_s"] += selfs[r[0]]
        return acc

    def metrics(self) -> dict[str, float]:
        """Per-layer metrics of the statements traced (see README.md)."""
        lt = self.layer_totals()
        attrs = [r[6] for r in self.spans if r[6]]
        keyset = [a["literal"] for a in attrs if "literal" in a]
        touched = sum(a["touched"] for a in attrs if "touched" in a)
        buckets = sum(a["buckets"] for a in attrs if "buckets" in a)
        n = max(1, len(self.stmts))
        wall = sum(s["wall_s"] for s in self.stmts)
        rows = sum(s["rows"] for s in self.stmts)

        def self_s(layer):
            return lt[layer]["self_s"] if layer in lt else 0.0

        def calls(layer):
            return lt[layer]["calls"] if layer in lt else 0

        return {
            "client.self_s": self_s("client"),
            "sqlparse.calls": calls("sqlparse"),
            "sqlparse.self_s": self_s("sqlparse"),
            "frontend.self_s": self_s("frontend"),
            "frontend.pgsql_rewrite_s": self_s("frontend.pgsql_rewrite"),
            "api.dml_self_s": self_s("api.dml"),
            "streaming.mv.apply_s": self_s("streaming.mv"),
            "streaming.mv.calls": calls("streaming.mv"),
            "streaming.over_window.apply_s": self_s("streaming.over_window"),
            "streaming.join.apply_s": self_s("streaming.join"),
            "streaming.eowc.feed_s": self_s("streaming.eowc"),
            "streaming.keyset_s": self_s("streaming.keyset"),
            "streaming.keyset_literal_frac": sum(keyset) / len(keyset) if keyset else 0.0,
            "state.fold_s": self_s("state.fold"),
            "state.fold_calls": calls("state.fold"),
            "state.read_s": self_s("state.read"),
            "state.compact_s": self_s("state.compact"),
            "state.compact_calls": calls("state.compact"),
            "state.mv_splice_s": self_s("state.mv_splice"),
            "state.touched_bucket_frac": touched / buckets if buckets else 0.0,
            "state.mv_read_s": self_s("state.mv_read"),
            "state.commits": sum(s["commits"] for s in self.stmts),
            "state.bytes_written_per_row": (
                sum(s["bytes_written"] for s in self.stmts) / rows if rows else 0.0
            ),
            "spark.jobs_per_stmt": sum(s["jobs"] for s in self.stmts) / n,
            "spark.tasks_per_stmt": sum(s["tasks"] for s in self.stmts) / n,
            "py4j.calls_per_stmt": sum(s["py4j_calls"] for s in self.stmts) / n,
            "py4j.wait_s": sum(s["py4j_wait_s"] for s in self.stmts),
            "trace.overhead_frac": self.cost_s / (wall - self.cost_s) if wall > self.cost_s else 0.0,
        }

    def query_metrics(self) -> dict[str, float]:
        """queries.<name>_s (median traced call) and queries.<name>.jobs."""
        times: dict[str, list] = defaultdict(list)
        jobs: dict[str, list] = defaultdict(list)
        for s in self.stmts:
            times[s["kind"]].append(s["wall_s"])
            jobs[s["kind"]].append(s["jobs"])
        out = {}
        for q in sorted(times):
            out[f"queries.{q}_s"] = statistics.median(times[q])
            out[f"queries.{q}.jobs"] = statistics.median(jobs[q])
        return out

    def write(self, path: str, t0: float) -> None:
        """Spans then statements, one JSON object a line; times in seconds
        from the start of the run."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for r in self.spans:
                rec = {
                    "id": r[0], "name": r[1], "layer": LAYERS[r[1]],
                    "start": round(r[2] - t0, 6), "end": round(r[3] - t0, 6),
                    "parent": r[4], "stmt": r[5],
                }
                if r[6]:
                    rec.update(r[6])
                f.write(json.dumps(rec) + "\n")
            for s in self.stmts:
                f.write(json.dumps({"stmt_summary": s["id"], **{k: v for k, v in s.items() if k != "id"}}) + "\n")
