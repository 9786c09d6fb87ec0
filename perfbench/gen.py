"""Seeded input generators for the benchmark.

Everything the program under test reads is made here from ``--seed``:
the same seed gives byte-identical files.  Nothing here imports Spark.

- ``write_tables``: the star-schema + events/documents/embeddings
  tables at sf0.1 shape (one parquet file each, same arrow schemas as
  the engine's reference test data), with the fact tables optionally
  replicated ``copies`` times; per copy the order and event keys are
  offset so keys and per-user timestamps stay unique.
- ``commit_versions`` / ``write_commits_tsv``: git-import commits TSVs
  (``COMMITS_SCHEMA`` positional order, repo_name injected by the
  importer).  Version 1 of a repo extends version 0 with later
  commits, so a replayed import exercises the high-water-mark cut.
  A small share of rows is emitted twice, which the FINAL view must
  collapse.
- ``landing_batch``: one batch of landing events for the streaming
  ingest path.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: base row counts at sf0.1 (the shape of the engine's bench data)
BASE_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
N_USERS = 1_500
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["red", "new", "hot", "small", "large", "cold", "old", "blue"]
PART_NOUN = ["bolt", "anvil", "ring", "rod", "plate", "gear", "widget", "gizmo"]
PART_TYPES = ["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"]
WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us")
EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")
US_PER_DAY = 86_400_000_000


def _ts(values) -> pa.Array:
    return pa.array(np.asarray(values, dtype="datetime64[us]"), pa.timestamp("us"))


def _dims(rng: np.random.Generator) -> dict[str, pa.Table]:
    n_c, n_s, n_p = BASE_ROWS["customer"], BASE_ROWS["supplier"], BASE_ROWS["part"]
    adj = rng.integers(0, len(PART_ADJ), n_p)
    noun = rng.integers(0, len(PART_NOUN), n_p)
    return {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            # five nations per region, as in TPC-H: the selectivity of a
            # region filter (q5) must not depend on the seed
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_c), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_c), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_c), 2),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_c)],
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_s), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_s), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_s), 2),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_p), pa.int64()),
            "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_p)],
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_p)],
            "p_size": pa.array(rng.integers(1, 51, n_p), pa.int32()),
            "p_retailprice": np.round(900.0 + rng.integers(0, 1000, n_p) * 0.1, 1),
        }),
    }


def _orders(rng: np.random.Generator) -> pa.Table:
    n = BASE_ROWS["orders"]
    return pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, BASE_ROWS["customer"], n), pa.int64()),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n), 2),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2405, n) * US_PER_DAY),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n)],
    })


def _lineitem(rng: np.random.Generator) -> pa.Table:
    n = BASE_ROWS["lineitem"]
    qty = rng.integers(1, 51, n).astype("float64")
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, BASE_ROWS["orders"], n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, BASE_ROWS["part"], n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, BASE_ROWS["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n), 2),
        "l_discount": np.round(rng.integers(0, 11, n) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n) * 0.01, 2),
        "l_returnflag": np.array(["N", "R", "A"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n)],
        "l_shipdate": _ts(EPOCH_1995 + rng.integers(1, 2500, n) * US_PER_DAY),
    })


def events_table(rng: np.random.Generator, n: int, first_id: int = 0,
                 start=EPOCH_2024, span_days: int = 30) -> pa.Table:
    """``n`` events with ids ``first_id..``, timestamps sorted and
    distinct within ``span_days`` after ``start``."""
    offs = np.sort(rng.choice(span_days * US_PER_DAY, n, replace=False))
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "ts": _ts(start + offs),
        "user_id": pa.array(rng.integers(0, N_USERS, n), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def _documents(rng: np.random.Generator) -> pa.Table:
    """Word-salad documents; 5% are an earlier document plus " dup"
    (near duplicates) and a few are exact copies."""
    n = BASE_ROWS["documents"]
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), k)]))
    lang_p = [0.4, 0.15, 0.15, 0.15, 0.15]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n, p=lang_p)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator) -> pa.Table:
    n, d = BASE_ROWS["embeddings"], 64
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0.0, 0.3, (10, d))
    v = centers[labels] + rng.normal(0.0, 1.0, (n, d))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype("float32")
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def replicate(table: pa.Table, copies: int, offsets: dict[str, int]) -> pa.Table:
    """``copies`` stacked copies of ``table``; copy ``i`` adds
    ``i * offsets[col]`` to each listed integer column (schema kept)."""
    parts = []
    for i in range(copies):
        t = table
        for col, step in offsets.items():
            idx = t.schema.get_field_index(col)
            shifted = pa.compute.add(t[col], pa.scalar(i * step, t.schema.field(col).type))
            t = t.set_column(idx, t.schema.field(col), shifted)
        parts.append(t)
    return pa.concat_tables(parts)


def write_tables(out_dir: str, seed: int, copies: int = 1,
                 only: tuple[str, ...] | None = None) -> dict[str, int]:
    """Write the sf0.1-shaped tables to ``out_dir/<name>.parquet``;
    lineitem, orders and events are replicated ``copies`` times (one
    row group per copy).  Returns row counts per table written."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    tables = _dims(rng)
    n_o, n_e = BASE_ROWS["orders"], BASE_ROWS["events"]
    facts = {
        "orders": (_orders(rng), {"o_orderkey": n_o}),
        "lineitem": (_lineitem(rng), {"l_orderkey": n_o}),
        "events": (events_table(rng, n_e), {"event_id": n_e, "user_id": N_USERS}),
    }
    tables["documents"] = _documents(rng)
    tables["embeddings"] = _embeddings(rng)
    rows = {}
    for name, (base, offsets) in facts.items():
        if only is None or name in only:
            pq.write_table(replicate(base, copies, offsets),
                           f"{out_dir}/{name}.parquet", row_group_size=base.num_rows)
            rows[name] = base.num_rows * copies
    for name, t in tables.items():
        if only is None or name in only:
            pq.write_table(t, f"{out_dir}/{name}.parquet")
            rows[name] = t.num_rows
    return rows


# -- clickhub app inputs -------------------------------------------------

AUTHORS = [f"dev{i:03d}" for i in range(60)]
COMMIT_EPOCH = dt.datetime(2015, 1, 1)


def commit_versions(seed: int, repo: str, rows: int = 2_000,
                    extra: int = 200, dup_share: float = 0.02):
    """Two versions of one repo's git-import commits: v0 (``rows``
    commits) and v1 (v0 plus ``extra`` later commits).  Each version
    is a list of TSV rows (tuples in ``COMMITS_SCHEMA`` positional
    order, repo_name excluded); ``dup_share`` of the rows appear twice.
    Commit times are distinct and increasing, whole seconds."""
    h = int.from_bytes(repo.encode(), "little") % (2**31)
    rng = np.random.default_rng([seed, 2, h])
    n = rows + extra
    start = int(rng.integers(0, 3 * 365 * 86_400))
    times = start + np.cumsum(rng.integers(60, 86_400, n))
    counts = rng.integers(0, 40, (n, 9))
    counts[:, 4] = rng.integers(0, 400, n)  # lines_added
    authors = rng.integers(0, len(AUTHORS), n)
    commits = []
    for i in range(n):
        t = COMMIT_EPOCH + dt.timedelta(seconds=int(times[i]))
        commits.append((
            f"{h:08x}{i:08x}{int(rng.integers(0, 2**32)):08x}",
            AUTHORS[authors[i]],
            t.strftime("%Y-%m-%d %H:%M:%S"),
            f"change {i} in {repo}",
            *(int(c) for c in counts[i]),
        ))
    dups = set(rng.choice(n, int(n * dup_share), replace=False).tolist())

    def emit(k):
        out = []
        for i in range(k):
            out.append(commits[i])
            if i in dups:
                out.append(commits[i])
        return out

    return [emit(rows), emit(n)]


def write_commits_tsv(path: str, rows) -> None:
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        for r in rows:
            f.write("\t".join(str(c) for c in r) + "\n")


def distinct_commit_keys(repo: str, rows) -> set[tuple[str, str, str]]:
    """(repo_name, time, hash) keys — the FINAL view's dedup key."""
    return {(repo, r[2], r[0]) for r in rows}


def landing_batch(seed: int, batch: int, n: int = 5_000) -> pa.Table:
    """Landing batch ``batch``: ``n`` events with ids and timestamps
    disjoint from every other batch; ``ts`` is UTC-adjusted."""
    rng = np.random.default_rng([seed, 3, batch])
    start = EPOCH_2024 + np.timedelta64(batch, "D")
    t = events_table(rng, n, first_id=1_000_000 + batch * n, start=start, span_days=1)
    # UTC-adjusted: the landing schema's ts is a session-zone timestamp
    utc = pa.timestamp("us", tz="UTC")
    return t.set_column(1, pa.field("ts", utc), t["ts"].cast(utc))
