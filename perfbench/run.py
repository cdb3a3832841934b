#!/usr/bin/env python3
"""End-to-end benchmark of the SQL user path (see perfbench/README.md).

    python3 perfbench/run.py --workload mv_ingest --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Workloads: mv_ingest and mv_serve drive
only `Engine.sql`; adhoc_batch calls the public `QUERIES[name]` batch
functions over the TPC-H-style parquet set named by $SPARK_GRAFT_SF_DIR.
One closed-loop client, `local[<half the usable cores>]`, one process. The last
line of standard output is one JSON object: {"correct", "attempted",
"failed", "metrics"}; with --trace 1 the metrics are the per-layer ones
and the spans are written under .perfbench/spans/.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from statements import RELATIONS, MvScenario  # noqa: E402
from tracer import Tracer  # noqa: E402

#: the 20 non-fold headline queries of bench.py
ADHOC_QUERIES = (
    "tpch_q1", "tpch_q3", "tpch_q5", "tpch_q8", "tpch_q9", "tpch_q11",
    "tpch_q18", "tpch_q21", "win_group_topn", "ev_hop_agg", "ev_asof_join",
    "ev_session_agg", "llm_minhash_lsh", "llm_cosine_topk", "llm_token_stats",
    "llm_ann_lsh", "llm_jaccard_neardup", "udf_grouped_agg", "mm_decode_meta",
    "nexmark_q5_hot_items",
)
#: seconds one pass over ADHOC_QUERIES takes on the seed commit at
#: local[4], sf0.1: a run makes round(--seconds / this) passes
ADHOC_PASS_S = 18.0
#: fresh warehouses built per MV run; setup_s reports their median
SETUP_REPEATS = 2
#: Engine.open + first read: (uncounted warm-ups, counted repeats);
#: recovery_s reports the median of the counted ones. The first re-opens
#: in a process are slower while the JVM compiles the re-open path, and
#: slower still on a busy host. mv_serve's re-open is cheaper and its
#: timed loop short, so it takes more of both within the run-time budget
RECOVERY_REPEATS = {"mv_ingest": (2, 3), "mv_serve": (3, 5)}
#: stop issuing statements this long after process start, so a run on a
#: much slower tree still ends within its time limit
DEADLINE_S = 130.0
DRIVER_HEAP = "2g"

UNITS = {
    "setup_s": "s", "dml_p50_s": "s", "dml_p90_s": "s", "ingest_rows_per_s": "rows/s",
    "read_p50_s": "s", "read_p95_s": "s", "recovery_s": "s", "adhoc_total_s": "s",
    "warehouse_mb": "MB", "peak_rss_mb": "MB", "wrong_results": "count",
    "failed_ops_frac": "ratio", "state.tmp_leak_mb": "MB",
}
_MV_END_TO_END = (
    "setup_s", "dml_p50_s", "read_p50_s", "ingest_rows_per_s", "recovery_s", "warehouse_mb",
)
#: end-to-end metrics each workload reports with --trace 0 (BENCHMARK.json
#: gates the MV workloads' set)
END_TO_END = {
    "mv_ingest": _MV_END_TO_END,
    "mv_serve": _MV_END_TO_END,
    "adhoc_batch": ("setup_s", "adhoc_total_s", "peak_rss_mb"),
}
#: the latency trace.overhead_frac compares between traced and untraced runs
MAIN_METRIC = {"mv_ingest": "dml_p50_s", "mv_serve": "read_p50_s", "adhoc_batch": "adhoc_total_s"}
#: printed beside the gated metrics: too few samples (the percentiles),
#: 0 on a correct run, or not repeatable within a tenth (peak RSS)
REPORTED = (
    "dml_p90_s", "read_p95_s", "peak_rss_mb", "wrong_results", "failed_ops_frac",
    "state.tmp_leak_mb",
)


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def pct(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (statistics.quantiles, inclusive)."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[p - 1]


def du(path: str) -> tuple[int, int]:
    """(bytes, files) under path."""
    size = files = 0
    for d, _dirs, names in os.walk(path):
        for n in names:
            try:
                size += os.lstat(os.path.join(d, n)).st_size
                files += 1
            except FileNotFoundError:
                pass
    return size, files


def vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class Run:
    """One benchmark process: its private directories, its Spark session,
    and teardown that stops the JVM and removes everything but results."""

    def __init__(self, args):
        self.args = args
        self.root = os.getcwd()
        self.out_dir = os.path.join(self.root, ".perfbench")
        self.dir = os.path.join(self.out_dir, f"run-{os.getpid()}")
        self.tmp = os.path.join(self.dir, "tmp")
        for d in ("tmp", "jvm_tmp", "spark_local", "sql_warehouse"):
            os.makedirs(os.path.join(self.dir, d), exist_ok=True)
        self.cores = len(os.sched_getaffinity(0))
        # Spark gets half the cores: the Python client, the py4j gateway and
        # the JVM's GC and JIT threads run beside its task threads, and on a
        # shared host more runnable threads than cores measure the scheduler
        self.spark_cores = max(1, self.cores // 2)
        self.spark = None
        self.jvm_proc = None
        self.peak_rss_kb = 0

    def isolate(self) -> None:
        """Private TMPDIR for the program, JVM temp and Spark scratch dirs
        inside the run dir, UTC everywhere, a driver heap that fits."""
        os.environ["TZ"] = "UTC"
        time.tzset()
        os.environ["TMPDIR"] = self.tmp
        tempfile.tempdir = self.tmp
        os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_HEAP)
        # every JVM the launcher starts: no hsperfdata file under /tmp
        os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
        q = shlex.quote
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
            "--driver-java-options", q(f"-Djava.io.tmpdir={self.dir}/jvm_tmp"),
            "--conf", q(f"spark.local.dir={self.dir}/spark_local"),
            "--conf", q(f"spark.sql.warehouse.dir={self.dir}/sql_warehouse"),
            "--conf", "spark.ui.showConsoleProgress=false",
            # traced runs read every statement's jobs back at the end
            *(["--conf", "spark.ui.retainedJobs=100000", "--conf", "spark.ui.retainedStages=100000"]
              if self.args.trace else []),
            "pyspark-shell",
        ])
        sys.path.insert(0, self.root)

    def start_spark(self):
        from risingwave_spark.session import get_spark

        self.spark = get_spark("perfbench", cpus=self.spark_cores)
        self.jvm_proc = getattr(self.spark.sparkContext._gateway, "proc", None)
        return self.spark

    def env_key(self) -> dict:
        import hashlib

        import pyspark

        code = hashlib.sha256()
        for name in ("run.py", "statements.py", "tracer.py"):
            with open(os.path.join(HERE, name), "rb") as f:
                code.update(f.read())
        return {
            "benchmark": code.hexdigest()[:12],  # results of other benchmark code never compare
            "workload": self.args.workload,
            "seconds": self.args.seconds,
            "cores": self.cores,
            "spark_cores": self.spark_cores,
            "sf": os.path.basename(os.environ.get("SPARK_GRAFT_SF_DIR", "").rstrip("/"))
            if self.args.workload == "adhoc_batch" else "generated",
            "spark": pyspark.__version__,
            "driver_heap": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        }

    def sample_rss(self) -> None:
        kb = vm_hwm_kb("self") + (vm_hwm_kb(self.jvm_proc.pid) if self.jvm_proc else 0)
        self.peak_rss_kb = max(self.peak_rss_kb, kb)

    def tmp_leak_mb(self) -> float:
        return du(self.tmp)[0] / 1e6

    def close(self) -> None:
        try:
            if self.spark is not None:
                self.sample_rss()
                self.spark.stop()
        finally:
            if self.jvm_proc is not None:
                # the gateway JVM exits when its stdin closes
                self.jvm_proc.stdin.close()
                try:
                    self.jvm_proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    self.jvm_proc.kill()
                    self.jvm_proc.wait(timeout=30)
            shutil.rmtree(self.dir, ignore_errors=True)


def _canon_cell(v) -> str:
    if isinstance(v, float):
        return f"{round(v, 6) + 0.0:.6f}"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def canon_rows(rows) -> list[tuple]:
    return sorted(tuple(_canon_cell(c) for c in r) for r in rows)


def run_mv(run: Run) -> dict:
    from risingwave_spark.api import Engine

    args = run.args
    spark = run.start_spark()
    spark_start_s = time.perf_counter() - T_PROCESS
    setups = []
    for i in range(SETUP_REPEATS):
        wh = os.path.join(run.dir, f"warehouse{i}")
        scenario = MvScenario(args.workload, args.seed)
        t0 = time.perf_counter()
        eng = Engine(spark, wh)
        for s in scenario.setup_sql():
            eng.sql(s)
        setups.append(time.perf_counter() - t0)
        if i < SETUP_REPEATS - 1:
            shutil.rmtree(wh)
    scenario.apply_preload()
    log(f"spark start {spark_start_s:.2f}s, set-ups {['%.2f' % s for s in setups]}")

    tracer = Tracer(spark, wh) if args.trace else None
    if tracer:
        tracer.install()
    lat = {"dml": [], "read": []}
    rows_changed = attempted = failed = 0
    t_loop = time.perf_counter()
    try:
        for i, st in enumerate(scenario.stream(scenario.n_ops(args.seconds))):
            attempted += 1
            if tracer:
                tracer.begin(i, st.kind, st.rows)
            t0 = time.perf_counter()
            try:
                out = eng.sql(st.sql)
                if not st.is_dml:
                    out.collect()
            except Exception:  # noqa: BLE001 — a failed statement is counted, the run goes on
                failed += 1
                log(f"statement {i} ({st.kind}) failed:\n{traceback.format_exc()}")
            dt = time.perf_counter() - t0
            if tracer:
                tracer.end()
            lat["dml" if st.is_dml else "read"].append(dt)
            log(f"statement {i} {st.kind}: {dt:.3f}s")
            rows_changed += st.rows
            if time.perf_counter() - T_PROCESS > DEADLINE_S:
                log(f"deadline: stopped after {attempted} statements")
                break
    finally:
        if tracer:
            tracer.close()
    loop_s = time.perf_counter() - t_loop
    if tracer:
        tracer.finish()
    run.sample_rss()
    wh_bytes, wh_files = du(wh)

    recov = []
    warmups, repeats = RECOVERY_REPEATS[args.workload]
    for i in range(warmups + repeats):
        # a restarted process holds no earlier engine: drop the last one
        # and collect it now, so py4j's release of its JVM objects does
        # not land inside the timed re-open
        eng = None
        gc.collect()
        t0 = time.perf_counter()
        eng = Engine.open(spark, wh)
        eng.sql("SELECT user_id, n FROM mv_agg WHERE user_id = 0").collect()
        if i >= warmups:
            recov.append(time.perf_counter() - t0)
    log(f"recoveries {['%.2f' % r for r in recov]}")

    wrong = 0
    expected = scenario.expected()
    for rel, cols in RELATIONS.items():
        got = canon_rows(eng.sql(f"SELECT {cols} FROM {rel}").collect())
        want = canon_rows(expected[rel])
        if got != want:
            wrong += 1
            extra = sorted(set(got) - set(want))[:3]
            missing = sorted(set(want) - set(got))[:3]
            log(f"WRONG {rel}: {len(got)} rows vs {len(want)} expected; "
                f"unexpected {extra}; missing {missing}")
    run.sample_rss()

    res = {
        "setup_s": spark_start_s + statistics.median(setups),
        "dml_p50_s": statistics.median(lat["dml"]),
        "dml_p90_s": pct(lat["dml"], 90),
        "ingest_rows_per_s": rows_changed / sum(lat["dml"]),
        "read_p50_s": statistics.median(lat["read"]),
        "read_p95_s": pct(lat["read"], 95),
        "recovery_s": statistics.median(recov),
        "warehouse_mb": wh_bytes / 1e6,
        "peak_rss_mb": run.peak_rss_kb / 1e3,
        "wrong_results": wrong,
        "failed_ops_frac": failed / attempted,
        "state.tmp_leak_mb": run.tmp_leak_mb(),
    }
    log(f"timed loop {loop_s:.2f}s: {len(lat['dml'])} DML, {len(lat['read'])} reads")
    out = {"attempted": attempted, "failed": failed, "correct": wrong == 0, "e2e": res,
           "samples": {"dml": len(lat["dml"]), "read": len(lat["read"])}}
    if tracer:
        layer = tracer.metrics()
        layer["state.files"] = wh_files
        layer["state.tmp_leak_mb"] = res["state.tmp_leak_mb"]
        layer["peak_rss_mb"] = res["peak_rss_mb"]
        out["per_layer"] = layer
        out["tracer"] = tracer
    return out


class _CachedOracle:
    """A DuckDB connection whose results are kept under .perfbench/: the
    oracles are fixed SQL over fixed files, and a few take minutes at
    sf0.1. The cache key covers the SQL text and every table file's size
    and mtime, so changed data or SQL recomputes."""

    def __init__(self, con, cache_dir: str, files: list[str]):
        self.con = con
        self.cache_dir = cache_dir
        self.stamp = [(f, os.path.getsize(f), os.path.getmtime(f)) for f in files]

    def execute(self, sql: str):
        import hashlib
        import pickle

        key = hashlib.sha256(json.dumps([sql, self.stamp]).encode()).hexdigest()
        path = os.path.join(self.cache_dir, key + ".pickle")
        if not os.path.exists(path):
            df = self.con.execute(sql).fetchdf()
            os.makedirs(self.cache_dir, exist_ok=True)
            with open(path + ".tmp", "wb") as f:
                pickle.dump(df, f)
            os.replace(path + ".tmp", path)
        with open(path, "rb") as f:
            df = pickle.load(f)  # written by this benchmark, above
        return type("Result", (), {"fetchdf": staticmethod(lambda: df)})


def _oracle_checker(run: Run, sf_dir: str):
    """assert_matches_oracle from the repository's test harness, with the
    DuckDB views its `ddb` fixture builds."""
    import importlib.util

    import duckdb

    from risingwave_spark.catalog import TABLES

    spec = importlib.util.spec_from_file_location(
        "perfbench_oracle_harness", os.path.join(run.root, "tests", "conftest.py")
    )
    harness = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(harness)
    con = duckdb.connect()
    files = []
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
            files.append(path)
    return harness.assert_matches_oracle, _CachedOracle(con, os.path.join(run.out_dir, "oracle_cache"), files)


def run_adhoc(run: Run) -> dict:
    args = run.args
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not sf_dir or not os.path.isdir(sf_dir):
        raise SystemExit("adhoc_batch needs SPARK_GRAFT_SF_DIR: a directory of the TPC-H-style parquet tables")
    from risingwave_spark.queries import ORACLES, QUERIES

    spark = run.start_spark()
    for q in ADHOC_QUERIES:  # warm-up pass: JIT, file listing, UDF workers
        QUERIES[q](spark, sf_dir).count()
    setup_s = time.perf_counter() - T_PROCESS
    log(f"set-up (Spark start and one warm-up pass) {setup_s:.2f}s")

    tracer = Tracer(spark, run.dir) if args.trace else None
    if tracer:
        tracer.install()
    rng = random.Random(f"adhoc_batch:{args.seed}")
    times: dict[str, list] = {q: [] for q in ADHOC_QUERIES}
    attempted = failed = 0
    try:
        for p in range(max(1, round(args.seconds / ADHOC_PASS_S))):
            order = list(ADHOC_QUERIES)
            rng.shuffle(order)
            for q in order:
                attempted += 1
                if tracer:
                    tracer.begin(attempted, q)
                t0 = time.perf_counter()
                try:
                    QUERIES[q](spark, sf_dir).count()
                except Exception:  # noqa: BLE001 — a failed query is counted, the run goes on
                    failed += 1
                    log(f"{q} failed:\n{traceback.format_exc()}")
                times[q].append(time.perf_counter() - t0)
                if tracer:
                    tracer.end()
            if time.perf_counter() - T_PROCESS > DEADLINE_S:
                log(f"deadline: stopped after pass {p + 1}")
                break
    finally:
        if tracer:
            tracer.close()
    if tracer:
        tracer.finish()
    run.sample_rss()

    check, oracle = _oracle_checker(run, sf_dir)
    wrong = 0
    for q in ADHOC_QUERIES:
        if q not in ORACLES:
            log(f"{q}: no oracle registered, not checked")
            continue
        t0 = time.perf_counter()
        try:
            check(QUERIES[q](spark, sf_dir), oracle, ORACLES[q], q)
        except AssertionError as e:
            wrong += 1
            log(f"WRONG {e}")
        log(f"checked {q} in {time.perf_counter() - t0:.1f}s")
    oracle.con.close()
    run.sample_rss()
    res = {
        "setup_s": setup_s,
        "adhoc_total_s": sum(statistics.median(v) for v in times.values()),
        "peak_rss_mb": run.peak_rss_kb / 1e3,
        "wrong_results": wrong,
        "failed_ops_frac": failed / attempted,
        "state.tmp_leak_mb": run.tmp_leak_mb(),
    }
    out = {"attempted": attempted, "failed": failed, "correct": wrong == 0, "e2e": res}
    if tracer:
        layer = tracer.metrics()
        layer.update(tracer.query_metrics())
        layer["state.tmp_leak_mb"] = res["state.tmp_leak_mb"]
        out["per_layer"] = layer
        out["tracer"] = tracer
    return out


WORKLOADS = {"mv_ingest": run_mv, "mv_serve": run_mv, "adhoc_batch": run_adhoc}


def unit_of(name: str) -> str:
    if name in UNITS:
        return UNITS[name]
    if name.endswith("_s"):
        return "s"
    if name.endswith("_frac"):
        return "ratio"
    if name.endswith("_per_row"):
        return "bytes/row"
    return "count"


def earlier_runs(path: str, key: dict) -> list[dict]:
    """Untraced results recorded earlier with exactly this environment
    key; results with another key are never compared."""
    if not os.path.exists(path):
        return []
    with open(path) as f:
        prior = [json.loads(line) for line in f if line.strip()]
    return [p for p in prior if p["key"] == key and not p["trace"]]


def compare_history(prior: list[dict], metrics: dict) -> None:
    """Print each metric against the median of the earlier runs."""
    if not prior:
        log("no earlier runs with this environment key")
    for m, v in metrics.items():
        vals = [p["metrics"][m] for p in prior if m in p["metrics"]]
        if vals:
            med = statistics.median(vals)
            rel = f"{(v - med) / med:+.1%}" if med else "n/a"
            log(f"  {m}: {v:.4f} vs median {med:.4f} of {len(vals)} earlier runs ({rel})")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # SIGTERM unwinds like an exception, so the JVM is stopped and the
    # run directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run = Run(args)
    try:
        run.isolate()
        out = WORKLOADS[args.workload](run)
        key = run.env_key()
    finally:
        run.close()

    e2e = out["e2e"]
    log(f"environment key: {json.dumps(key, sort_keys=True)}, seed {args.seed}")
    for m in dict.fromkeys(END_TO_END[args.workload] + REPORTED):
        if m in e2e:
            note = ""
            if m.startswith("dml_") or m.startswith("read_"):
                note = f"  (n={out['samples'][m.split('_')[0]]})"
            log(f"{m:>20} = {e2e[m]:.4f} {unit_of(m)}{note}")
    history = os.path.join(run.out_dir, "results.jsonl")
    prior = earlier_runs(history, key)
    if args.trace:
        metrics = out["per_layer"]
        main_m = MAIN_METRIC[args.workload]
        vals = [p["metrics"][main_m] for p in prior if main_m in p["metrics"]]
        if vals:
            # (traced - untraced) / untraced of the workload's main latency
            metrics["trace.overhead_frac"] = e2e[main_m] / statistics.median(vals) - 1
            log(f"trace.overhead_frac from {main_m} against {len(vals)} untraced runs")
        else:
            log("trace.overhead_frac: no untraced run with this key yet; "
                "reporting the tracer's own time inside statements instead")
        spans = os.path.join(run.out_dir, "spans", f"{args.workload}-seed{args.seed}.jsonl")
        out["tracer"].write(spans, T_PROCESS)
        log(f"spans written to {os.path.relpath(spans, run.root)}")
    else:
        metrics = {m: e2e[m] for m in END_TO_END[args.workload]}
        compare_history(prior, metrics)
    with open(history, "a") as f:
        f.write(json.dumps({"key": key, "seed": args.seed, "trace": args.trace,
                            "correct": out["correct"], "metrics": metrics,
                            "reported": {m: e2e[m] for m in REPORTED if m in e2e}}) + "\n")
    print(json.dumps({
        "correct": out["correct"],
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {m: {"value": v, "unit": unit_of(m)} for m, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
