"""Tests of the benchmark itself (not of the engine).

    python3 -m pytest perfbench/tests -q

Run from the root of a checkout. The statement-stream tests are pure
Python; the traced-run tests start two short traced `mv_ingest` runs
(about a minute each).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

from statements import MvScenario  # noqa: E402

EXACT_COUNTS = (
    "spark.jobs_per_stmt",
    "state.fold_calls",
    "state.compact_calls",
    "state.commits",
    "py4j.calls_per_stmt",
)


def _statement_bytes(workload: str, seed: int, seconds: float = 60) -> bytes:
    sc = MvScenario(workload, seed)
    sqls = sc.setup_sql()
    sc.apply_preload()
    sqls += [st.sql for st in sc.stream(sc.n_ops(seconds))]
    return "\n".join(sqls).encode()


@pytest.mark.parametrize("workload", ["mv_ingest", "mv_serve"])
def test_statement_stream_is_a_function_of_the_seed(workload):
    assert _statement_bytes(workload, 11) == _statement_bytes(workload, 11)
    assert _statement_bytes(workload, 11) != _statement_bytes(workload, 12)


def test_stream_mix():
    sc = MvScenario("mv_ingest", 3)
    sc.apply_preload()
    kinds = [st.kind for st in sc.stream(sc.n_ops(20))]
    assert len(kinds) == 20
    assert [k for i, k in enumerate(kinds) if i % 4] == [
        "r_agg_point", "r_ow_range", "r_join_group", "r_eowc_full", "r_adhoc_join",
    ] * 3
    assert kinds[0::4] == ["ins_ev", "ins_evw", "upd_users", "del_ev", "bulk_ev"]
    sc = MvScenario("mv_serve", 3)
    sc.apply_preload()
    kinds = [st.kind for st in sc.stream(sc.n_ops(20))]
    assert len(kinds) == 30
    assert [k for k in kinds if not k.startswith("r_")] == ["ins_evw"] * 3


def test_reference_follows_the_statements():
    sc = MvScenario("mv_ingest", 5)
    sc.apply_preload()
    before = sc.expected()
    list(sc.stream(24))  # includes a bulk insert of 8500 new users
    after = sc.expected()
    assert len(after["mv_agg"]) >= len(before["mv_agg"]) + 8500
    assert len(after["mv_ow"]) == len(after["ev"])
    assert sum(n for _t, n, _s in after["mv_join"]) == sum(
        1 for _e, u, *_ in after["ev"] if u < 1000
    )


def _traced_run(seed: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", "mv_ingest",
         "--seed", str(seed), "--seconds", "8", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    spans = os.path.join(ROOT, ".perfbench", "spans", f"mv_ingest-seed{seed}.jsonl")
    with open(spans) as f:
        result["spans"] = [json.loads(line) for line in f]
    return result


@pytest.fixture(scope="module")
def traced_pair():
    return _traced_run(7), _traced_run(7)


def test_traced_counts_repeat_exactly(traced_pair):
    a, b = traced_pair
    assert a["correct"] and b["correct"]
    for m in EXACT_COUNTS:
        assert a["metrics"][m]["value"] == b["metrics"][m]["value"], m


def test_layer_self_times_sum_to_statement_wall(traced_pair):
    records = traced_pair[1]["spans"]
    spans = {r["id"]: r for r in records if "id" in r}
    summaries = {r["stmt_summary"]: r for r in records if "stmt_summary" in r}
    self_s = {i: r["end"] - r["start"] for i, r in spans.items()}
    for r in spans.values():
        if r["parent"] is not None:
            parent = spans[r["parent"]]
            # children nest inside their parent: the decomposition is valid
            assert parent["start"] - 1e-6 <= r["start"] <= r["end"] <= parent["end"] + 1e-6
            self_s[r["parent"]] -= r["end"] - r["start"]
    assert summaries
    for stmt, summary in summaries.items():
        mine = [i for i, r in spans.items() if r["stmt"] == stmt]
        assert all(self_s[i] >= -1e-5 for i in mine)
        total = sum(self_s[i] for i in mine)
        assert total == pytest.approx(summary["wall_s"], abs=1e-5 * len(mine) + 1e-5)
