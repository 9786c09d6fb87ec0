"""Tests of the benchmark's own pieces: seeded generators, the
``_tail`` percentile rule, the plan-node counter and the CPU clock.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import hashlib
import os
import subprocess
import sys
import time
from types import SimpleNamespace

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
from measure import CpuClock, plan_counts, tail  # noqa: E402

#: arrow schemas of the engine's reference sf0.1 tables
REFERENCE_TYPES = {
    "orders": {"o_orderkey": pa.int64(), "o_custkey": pa.int64(),
               "o_orderstatus": pa.string(), "o_totalprice": pa.float64(),
               "o_orderdate": pa.timestamp("us"), "o_orderpriority": pa.string()},
    "lineitem": {"l_orderkey": pa.int64(), "l_partkey": pa.int64(),
                 "l_suppkey": pa.int64(), "l_linenumber": pa.int32(),
                 "l_quantity": pa.float64(), "l_extendedprice": pa.float64(),
                 "l_discount": pa.float64(), "l_tax": pa.float64(),
                 "l_returnflag": pa.string(), "l_linestatus": pa.string(),
                 "l_shipdate": pa.timestamp("us")},
    "events": {"event_id": pa.int64(), "ts": pa.timestamp("us"), "user_id": pa.int64(),
               "event_type": pa.string(), "value": pa.float64(), "props": pa.string()},
    "embeddings": {"vec_id": pa.int64(), "embedding": pa.list_(pa.float32()),
                   "label": pa.int32()},
    "documents": {"doc_id": pa.int64(), "text": pa.string(), "lang": pa.string(),
                  "source": pa.string(), "n_chars": pa.int64()},
}


def _digests(d: str) -> dict[str, str]:
    return {f: hashlib.sha256(open(os.path.join(d, f), "rb").read()).hexdigest()
            for f in sorted(os.listdir(d))}


def test_same_seed_gives_identical_files(tmp_path):
    gen.write_tables(str(tmp_path / "a"), 11, copies=2)
    gen.write_tables(str(tmp_path / "b"), 11, copies=2)
    gen.write_tables(str(tmp_path / "c"), 12, copies=2)
    a, b, c = (_digests(str(tmp_path / x)) for x in "abc")
    assert a == b
    assert a["lineitem.parquet"] != c["lineitem.parquet"]
    for d in ("a", "b"):
        gen.write_commits_tsv(str(tmp_path / f"{d}.tsv"), gen.commit_versions(11, "o/r")[1])
        pq.write_table(gen.landing_batch(11, 3), str(tmp_path / f"{d}.parquet"))
    for ext in ("tsv", "parquet"):
        assert (tmp_path / f"a.{ext}").read_bytes() == (tmp_path / f"b.{ext}").read_bytes()


def test_replicated_schemas_equal_source(tmp_path):
    gen.write_tables(str(tmp_path / "x1"), 5, copies=1)
    gen.write_tables(str(tmp_path / "x8"), 5, copies=8, only=("orders", "lineitem", "events"))
    for name in ("orders", "lineitem", "events"):
        one = pq.read_schema(str(tmp_path / "x1" / f"{name}.parquet"))
        eight = pq.read_schema(str(tmp_path / "x8" / f"{name}.parquet"))
        assert one.remove_metadata() == eight.remove_metadata()
    for name, types in REFERENCE_TYPES.items():
        schema = pq.read_schema(str(tmp_path / "x1" / f"{name}.parquet"))
        assert {f.name: f.type for f in schema} == types


def test_replication_keeps_keys_and_user_timestamps_unique(tmp_path):
    gen.write_tables(str(tmp_path), 5, copies=3, only=("orders", "lineitem", "events"))
    orders = pq.read_table(str(tmp_path / "orders.parquet"))
    assert orders.num_rows == 3 * gen.BASE_ROWS["orders"]
    assert len(set(orders["o_orderkey"].to_pylist())) == orders.num_rows
    events = pq.read_table(str(tmp_path / "events.parquet"))
    assert len(set(events["event_id"].to_pylist())) == events.num_rows
    pairs = set(zip(events["user_id"].to_pylist(), events["ts"].to_pylist()))
    assert len(pairs) == events.num_rows
    lineitem = pq.read_table(str(tmp_path / "lineitem.parquet"))
    assert max(lineitem["l_orderkey"].to_pylist()) < 3 * gen.BASE_ROWS["orders"]


def test_commit_versions_extend_and_duplicate():
    v0, v1 = gen.commit_versions(3, "org/repo")
    assert v1[: len(v0)] == v0
    keys0 = gen.distinct_commit_keys("org/repo", v0)
    keys1 = gen.distinct_commit_keys("org/repo", v1)
    assert keys0 < keys1
    assert len(v0) > len(keys0)  # some rows are emitted twice
    times = [r[2] for r in v1]
    assert max(r[2] for r in v0) < min(times[len(v0):])  # later commits only


@pytest.mark.parametrize("n", [11, 20, 57, 100, 1000])
def test_tail_has_ten_samples_beyond(n):
    xs = [float(i) for i in range(n, 0, -1)]
    value, pct, count = tail(xs)
    assert count == n
    assert sum(1 for x in xs if x > value) == 10
    assert pct == pytest.approx(100.0 * (n - 10) / n)
    if n == 100:
        assert (value, pct) == (90.0, 90.0)


def test_tail_needs_eleven_samples():
    with pytest.raises(ValueError):
        tail([1.0] * 10)


def test_plan_counts_reads_final_plan_nodes():
    plan = "\n".join([
        "AdaptiveSparkPlan isFinalPlan=true",
        "+- == Final Plan ==",
        "   *(3) HashAggregate(keys=[k#1], functions=[count(1)])",
        "   +- AQEShuffleRead coalesced",
        "      +- ShuffleQueryStage 1",
        "         +- Exchange hashpartitioning(k#1, 32)",
        "            +- *(2) BroadcastHashJoin [a#2], [b#3], Inner, BuildRight",
        "               :- ArrowEvalPython [f(x#4)]",
        "               +- BroadcastQueryStage 0",
        "                  +- BroadcastExchange HashedRelationBroadcastMode",
        "                     +- MapInPandas f(x#5)",
        "+- == Initial Plan ==",
        "   HashAggregate(keys=[k#1], functions=[count(1)])",
        "   +- Exchange hashpartitioning(k#1, 32)",
        "      +- BatchEvalPython [f(x#4)]",
    ])
    exe = SimpleNamespace(toString=lambda: plan)
    qe = SimpleNamespace(executedPlan=lambda: exe)
    df = SimpleNamespace(_jdf=SimpleNamespace(queryExecution=lambda: qe))
    assert plan_counts(df) == {"python_nodes": 2, "exchanges": 1, "broadcasts": 1}


#: a child that burns 0.3 s of CPU, says so, then sleeps
_BUSY_CHILD = (
    "import time\n"
    "t = time.process_time()\n"
    "while time.process_time() - t < 0.3: pass\n"
    "print(flush=True)\n"
    "time.sleep(60)\n"
)


def test_cpu_clock_counts_descendants_and_not_waiting():
    clock = CpuClock()
    child = subprocess.Popen([sys.executable, "-c", _BUSY_CHILD], stdout=subprocess.PIPE)
    try:
        with clock.span() as s:
            child.stdout.readline()
            time.sleep(0.3)
    finally:
        child.kill()
        child.wait()
    # the child's 0.3 s (and at most its start-up) count; the waits do not
    assert 0.28 <= s.cpu < 0.6
    assert s.wall >= s.cpu + 0.25
    assert s.task_cpu == s.jit_cpu == 0.0  # no Spark task or JIT threads here
