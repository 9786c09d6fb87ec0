"""The registered-query workloads: ``batch_analytics`` and
``llm_pipeline``.

Passes over the query set until the deadline (``run_query_set``); in
each, every query is built anew and executed once to Spark's ``noop``
sink.  Correctness is checked after the timed window: the last frame
of every query is collected and compared with the registry's DuckDB
oracle using the canon of ``tools/check.py``; queries without an
oracle compare row counts only.  The executed (final AQE) plan of
that checked execution gives the plan node counts.
"""

from __future__ import annotations

import importlib.util
import math
import os
import sys
import time
from types import SimpleNamespace

import numpy as np

from measure import UNITS, best, median, plan_counts

MIN_PASSES = 4

#: JVM-only builders (no Python exec node in their executed plans):
#: TPC-H, bench.py HEADLINE rows and ClickHouse-dialect rows.
BATCH_QUERIES = [
    "q_tpch_q1", "q_tpch_q5", "q_tpch_q6", "q_tpch_q18", "q_ch_sql_totals",
]
#: LLM-pipeline builders over the sf0.1 documents/embeddings.
LLM_QUERIES = [
    "q_llm_dedup_exact", "q_llm_dedup_minhash", "q_llm_dedup_groups",
    "q_llm_dedup_passage", "q_llm_knn", "q_llm_pii_scrub",
    "q_llm_chunk_sentences", "q_llm_semdedup",
]
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def _check_canon(root: str):
    """``normalize`` from tools/check.py, loaded by path (its module
    body edits ``sys.path``; that edit is undone here)."""
    saved = list(sys.path)
    spec = importlib.util.spec_from_file_location(
        "perfbench_check_canon", os.path.join(root, "tools", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.path[:] = saved
    return mod.normalize


def _same(a: list[tuple], b: list[tuple]) -> bool:
    """Canonical rows equal, floats to 9 significant digits: Spark and
    DuckDB sum doubles in different orders, and on the replicated
    facts a ROUND in the query can land on either side of a digit
    (q_tpch_q1 sums ~1e11 differ by 0.01 on some seeds)."""
    return all(
        x == y or (isinstance(x, float) and isinstance(y, float)
                   and math.isclose(x, y, rel_tol=1e-9))
        for ra, rb in zip(a, b) for x, y in zip(ra, rb)
    )


def run_noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run_query_set(spark, tracer, clock, names: list[str], sf_dir: str, seed: int,
                  seconds: float) -> dict:
    """Passes over the query set, in a seed-permuted order, until the
    deadline (at least ``MIN_PASSES``).  In every pass each query is
    built anew (the registered builder, including any eager work it
    does) and executed once to the ``noop`` sink: what a caller pays
    for a query.  The first pass runs on a cold JVM; the later ones
    are the warm passes.  Every step is a ``clock.span``."""
    from clickhub_spark.plans import all_specs

    specs = all_specs()
    order = [names[i] for i in np.random.default_rng([seed, 5]).permutation(len(names))]
    build, first, warm = {}, {}, {n: [] for n in order}
    frames = {}
    passes = []
    t_start = time.perf_counter()
    deadline = t_start + seconds
    while len(passes) < MIN_PASSES or time.perf_counter() < deadline:
        cold = not passes
        with clock.span() as p:
            for name in order:
                with tracer.op("build" if cold else "rebuild"), clock.span() as b:
                    frames[name] = specs[name].builder(spark, sf_dir)
                with tracer.op("exec_cold" if cold else "exec_warm"), clock.span() as e:
                    run_noop(frames[name])
                if cold:
                    build[name], first[name] = b, e
                else:
                    warm[name].append(SimpleNamespace(**{u: getattr(b, u) + getattr(e, u)
                                                         for u in UNITS}))
        passes.append(p)
    return {"order": order, "build": build, "first": first, "warm": warm,
            "passes": passes, "frames": frames, "wall_s": time.perf_counter() - t_start}


def check_query_set(spark, res: dict, root: str, sf_dir: str) -> tuple[int, list[str], dict]:
    """Collect every frame and compare with its DuckDB oracle.
    Returns (failures, messages, per-query plan node counts)."""
    import duckdb

    from clickhub_spark.plans import all_specs

    normalize = _check_canon(root)
    specs = all_specs()
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    failed, msgs, plans = 0, [], {}
    for name, df in res["frames"].items():
        cols = sorted(df.columns)
        try:
            srows = [tuple(r[c] for c in cols) for r in df.collect()]
        except Exception as e:  # a failing query is a counted failure
            failed += 1
            msgs.append(f"{name}: spark error {e!r:.200}")
            continue
        plans[name] = plan_counts(df)
        oracle = specs[name].oracle
        if oracle is None:
            if not srows:
                failed += 1
                msgs.append(f"{name}: no rows (rows-only check)")
            continue
        rel = con.sql(oracle)
        order = sorted(range(len(rel.columns)), key=lambda i: rel.columns[i])
        drows = [tuple(row[i] for i in order) for row in rel.fetchall()]
        if len(srows) != len(drows) or not _same(normalize(srows), normalize(drows)):
            failed += 1
            msgs.append(f"{name}: spark {len(srows)} rows != oracle {len(drows)} rows or values")
    con.close()
    return failed, msgs, plans


def query_metrics(res: dict) -> dict:
    """Per unit, sums over the query set: ``cold`` = the first pass
    (``build`` + ``first_exec``), ``warm`` = each query's best warm
    pass, ``cycle`` = the median warm pass."""
    out: dict = {"per_query": {n: {} for n in res["order"]}}
    for unit in UNITS:
        build = {n: getattr(s, unit) for n, s in res["build"].items()}
        first = {n: getattr(s, unit) for n, s in res["first"].items()}
        warm = {n: best(v, unit) for n, v in res["warm"].items()}
        out[unit] = {
            "build_s": sum(build.values()),
            "first_exec_s": sum(first.values()),
            "cold_s": sum(build.values()) + sum(first.values()),
            "warm_s": sum(warm.values()),
            "cycle_s": median([getattr(p, unit) for p in res["passes"][1:]]),
        }
        if unit in ("cpu", "wall"):
            for n in res["order"]:
                out["per_query"][n].update({
                    f"build_{unit}_s": round(build[n], 4),
                    f"first_exec_{unit}_s": round(first[n], 4),
                    f"warm_{unit}_s": round(warm[n], 4),
                })
    return out
