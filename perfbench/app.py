"""The ``clickhub_app`` workload: the reference app's own traffic.

One client thread first runs ``CYCLES`` closed-loop cycles over a
commits table that grows in each (a fixed number, so every run does
the same writes).  Each cycle does, in order:

1. ``GET /add_new_repo`` against ``server.make_server`` on a loopback
   ephemeral port: three new repos (201), one repo queued this cycle
   (200 ALREADY_PROCESSING) and, from the second cycle on, one
   imported repo (200 ALREADY_PROCESSED).
2. From the second cycle on, one replay of an imported repo, scheduled
   straight on the queue (the bulk-schedule path) with its extended
   commits TSV: one import in four is a replay, so the high-water-mark
   cut and the FINAL dedup do real work.
3. One worker drains the queue through ``Orchestrator.run_worker``,
   one claim → import → release at a time.
4. One 5,000-event landing file is written and
   ``streaming.freshness.refresh`` runs until the stars view reflects
   it.
5. ``catalog.register_final_views``, then every dialect read in
   ``READS`` through ``sql_compat.run(...).collect()``.

Then, until the deadline (at least ``MIN_READ_PASSES``), warm passes
run over the final tables: ``PROBES_PER_PASS`` re-submits of imported
repos (200 ALREADY_PROCESSED), then every dialect read again.

Every response code, the stars totals and each read's rows (against
DuckDB over the same files) are checked in the loop, outside the
timed spans; the FINAL row count is checked at the end against the
generator's distinct (repo_name, time, hash) keys.
"""

from __future__ import annotations

import datetime as dt
import http.client
import os
import threading
import time
from types import SimpleNamespace

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

import gen
from measure import UNITS, p50_ms, plan_counts, tail

NEW_PER_CYCLE = 3
CYCLES = 2
MIN_READ_PASSES = 6
PROBES_PER_PASS = 1

#: dialect reads: (name, ClickHouse SQL, DuckDB SQL).  ``{repo}`` is
#: an imported repo chosen per cycle.  FINAL_SQL is the DuckDB form of
#: ``commits FINAL`` (keep the newest version per dedup key).
FINAL_SQL = (
    "(SELECT * EXCLUDE (rn) FROM (SELECT *, row_number() OVER (PARTITION BY "
    "repo_name, time, hash ORDER BY updated_at DESC, lines_added DESC) AS rn "
    "FROM commits) WHERE rn = 1)"
)
READS = [
    ("membership",
     "SELECT count(repo_name) AS n FROM commits FINAL WHERE repo_name = '{repo}'",
     f"SELECT count(repo_name) AS n FROM {FINAL_SQL} WHERE repo_name = '{{repo}}'"),
    ("last_commit",
     "SELECT max(time) AS t FROM commits FINAL WHERE repo_name = '{repo}'",
     f"SELECT max(time) AS t FROM {FINAL_SQL} WHERE repo_name = '{{repo}}'"),
    ("update_all_repos",
     "SELECT repo_name, min(updated_at) AS last_updated FROM commits FINAL "
     "GROUP BY repo_name ORDER BY last_updated ASC, repo_name ASC LIMIT 10",
     f"SELECT repo_name, min(updated_at) AS last_updated FROM {FINAL_SQL} "
     "GROUP BY repo_name ORDER BY last_updated ASC, repo_name ASC LIMIT 10"),
    ("author_stats",
     "SELECT author, countIf(lines_added > 200) AS big, count() AS n, "
     "uniqExact(repo_name) AS repos FROM commits FINAL GROUP BY author "
     "ORDER BY n DESC, author LIMIT 20",
     "SELECT author, count_if(lines_added > 200) AS big, count(*) AS n, "
     f"count(DISTINCT repo_name) AS repos FROM {FINAL_SQL} GROUP BY author "
     "ORDER BY n DESC, author LIMIT 20"),
    ("last_message",
     "SELECT repo_name, argMax(message, time) AS last_msg FROM commits FINAL "
     "GROUP BY repo_name",
     f"SELECT repo_name, arg_max(message, time) AS last_msg FROM {FINAL_SQL} "
     "GROUP BY repo_name"),
    ("top_commits_by_repo",
     "SELECT repo_name, hash, lines_added FROM commits FINAL "
     "ORDER BY lines_added DESC, hash LIMIT 2 BY repo_name",
     f"SELECT repo_name, hash, lines_added FROM (SELECT *, row_number() OVER "
     f"(PARTITION BY repo_name ORDER BY lines_added DESC, hash) AS r FROM {FINAL_SQL}) "
     "WHERE r <= 2"),
    ("events_hourly",
     "SELECT toStartOfHour(ts) AS h, count() AS n, countIf(event_type = 'view') AS views "
     "FROM github_events GROUP BY h ORDER BY h",
     "SELECT date_trunc('hour', ts) AS h, count(*) AS n, "
     "count_if(event_type = 'view') AS views FROM github_events GROUP BY h ORDER BY h"),
    ("funnel",
     "SELECT level, count() AS n_users FROM (SELECT user_id, windowFunnel(3600)(ts, "
     "event_type = 'view', event_type = 'click', event_type = 'purchase') AS level "
     "FROM github_events GROUP BY user_id) GROUP BY level",
     "WITH v AS (SELECT user_id, ts FROM github_events WHERE event_type = 'view'), "
     "c AS (SELECT user_id, ts FROM github_events WHERE event_type = 'click'), "
     "p AS (SELECT user_id, ts FROM github_events WHERE event_type = 'purchase'), "
     "l2 AS (SELECT DISTINCT v.user_id FROM v JOIN c ON c.user_id = v.user_id "
     "AND c.ts > v.ts AND c.ts <= v.ts + INTERVAL 3600 SECOND), "
     "l3 AS (SELECT DISTINCT v.user_id FROM v JOIN c ON c.user_id = v.user_id "
     "AND c.ts > v.ts JOIN p ON p.user_id = v.user_id AND p.ts > c.ts "
     "AND p.ts <= v.ts + INTERVAL 3600 SECOND) "
     "SELECT CASE WHEN u.user_id IN (SELECT user_id FROM l3) THEN 3 "
     "WHEN u.user_id IN (SELECT user_id FROM l2) THEN 2 "
     "WHEN u.user_id IN (SELECT user_id FROM v) THEN 1 ELSE 0 END AS level, "
     "count(*) AS n_users FROM (SELECT DISTINCT user_id FROM github_events) u "
     "GROUP BY level"),
    ("top_stars",
     "SELECT user_id, stars FROM github_stars ORDER BY stars DESC, user_id LIMIT 10",
     "SELECT user_id, stars FROM github_stars ORDER BY stars DESC, user_id LIMIT 10"),
]


class ClickhubApp:
    """Inputs live under ``run_dir/app``; the warehouse (commits table,
    events, stars, checkpoints, queue) under ``run_dir/warehouse``."""

    def __init__(self, run_dir: str, seed: int):
        self.seed = seed
        self.inputs = os.path.join(run_dir, "app")
        self.wh = os.path.join(run_dir, "warehouse")
        self.repos = [f"org{seed % 97}/repo{i:03d}" for i in range(CYCLES * NEW_PER_CYCLE)]
        self.keys: dict[str, list[set]] = {}
        self.rows_offered: dict[tuple[str, int], int] = {}

    # -- inputs (before set-up, never timed) ----------------------------
    def generate(self) -> None:
        os.makedirs(f"{self.inputs}/tsv", exist_ok=True)
        for repo in self.repos:
            versions = gen.commit_versions(self.seed, repo)
            self.keys[repo] = []
            for v, rows in enumerate(versions):
                gen.write_commits_tsv(self._tsv(repo, v), rows)
                self.keys[repo].append(gen.distinct_commit_keys(repo, rows))
                self.rows_offered[(repo, v)] = len(rows)
        for c in range(CYCLES):
            pq.write_table(gen.landing_batch(self.seed, c), f"{self.inputs}/landing_{c:03d}.parquet")

    def _tsv(self, repo: str, version: int) -> str:
        return f"{self.inputs}/tsv/{repo.replace('/', '__')}.v{version}.tsv"

    # -- the run ----------------------------------------------------------
    def run(self, spark, tracer, clock, seconds: float) -> dict:
        """The cycles, then the read passes.  Every timed step is a
        ``clock.span`` (CPU and wall seconds); a cycle's cost is the
        sum of its timed steps, so input reads and checks are left out."""
        import duckdb

        from clickhub_spark import catalog, sql_compat
        from clickhub_spark.orchestrator import Orchestrator
        from clickhub_spark.queue import WorkQueue
        from clickhub_spark.server import make_server
        from clickhub_spark.sources import writer
        from clickhub_spark.streaming import freshness

        commits = f"{self.wh}/commits"
        landing = f"{self.wh}/landing"
        os.makedirs(landing, exist_ok=True)
        queue = WorkQueue(f"{self.wh}/queue")
        orch = Orchestrator(spark, commits, queue)
        self._install_spans(tracer, catalog, sql_compat, writer, freshness)

        pending: dict[str, int] = {}   # repo -> TSV version its queued job imports
        imported: dict[str, int] = {}  # repo -> latest imported version
        lat = {k: [] for k in ("schedule", "import", "freshness", "read")}
        first_read: dict = {}
        #: warm spans per operation: the re-submit probe and each read
        warm_ops: dict[str, list] = {name: [] for name in ["probe"] + [r[0] for r in READS]}
        plans: dict[str, dict] = {}
        attempted = failed = 0
        failures: list[str] = []
        views_expected = 0
        rng = np.random.default_rng([self.seed, 4])
        con = duckdb.connect()
        con.sql("SET TimeZone = 'UTC'")

        srv = make_server(orch, port=0)
        thread = threading.Thread(target=srv.serve_forever, daemon=True)
        thread.start()
        http_conn = http.client.HTTPConnection(*srv.server_address, timeout=60)

        def schedule(repo: str, code: int, body: str):
            """One ``/add_new_repo`` request, checked; returns its span."""
            nonlocal attempted
            attempted += 1
            with tracer.op("schedule"), clock.span() as sp:
                http_conn.request("GET", f"/add_new_repo?repo={repo}")
                resp = http_conn.getresponse()
                status, got = resp.status, resp.read().decode()
            lat["schedule"].append(sp.wall)
            tracer.spans["client.schedule"].append(sp.wall)
            if (status, got) != (code, body):
                fail(f"schedule {repo}: {status} {got!r}, expected {code} {body!r}")
            return sp

        def fail(msg: str) -> None:
            nonlocal failed
            failed += 1
            failures.append(msg)

        def read_all() -> dict:
            """Every dialect read once, each checked against DuckDB."""
            nonlocal attempted
            repo = sorted(imported)[int(rng.integers(0, len(imported)))]
            spans = {}
            for name, ch_sql, duck_sql in READS:
                attempted += 1
                with tracer.op("read"), clock.span() as spans[name]:
                    df = sql_compat.run(spark, ch_sql.format(repo=repo))
                    rows = df.collect()
                lat["read"].append(spans[name].wall)
                plans[name] = plan_counts(df)
                want = con.sql(duck_sql.format(repo=repo)).fetchall()
                if _canon(rows) != _canon(want):
                    fail(f"read {name}: spark {_canon(rows)[:3]} != duckdb {_canon(want)[:3]}")
            return spans

        t_start = time.perf_counter()
        cycles: list = []
        passes = 0
        try:
            for cycle in range(CYCLES):
                paid = []  # the cycle's timed steps
                new = self.repos[cycle * NEW_PER_CYCLE:(cycle + 1) * NEW_PER_CYCLE]
                # 1. HTTP scheduling
                requests = [(r, 201, "OK") for r in new] + [(new[0], 200, "ALREADY_PROCESSING")]
                if imported:
                    done = sorted(imported)[int(rng.integers(0, len(imported)))]
                    requests.append((done, 200, "ALREADY_PROCESSED"))
                for repo, code, body in requests:
                    paid.append(schedule(repo, code, body))
                    if code == 201:
                        pending[repo] = 0
                # 2. one import in four is a replay, scheduled on the queue
                fresh = sorted(r for r, v in imported.items() if v == 0)
                if fresh:
                    replay = fresh[int(rng.integers(0, len(fresh)))]
                    with clock.span() as sp:
                        queue.schedule(replay, 0)
                    paid.append(sp)
                    pending[replay] = 1
                # 3. drain the queue: one claim -> import -> release each
                while pending:
                    attempted += 1
                    with tracer.op("import"), clock.span() as sp:
                        done = orch.run_worker("w1", lambda r: self._tsv(r, pending[r]), 1)
                    paid.append(sp)
                    lat["import"].append(sp.wall)
                    if len(done) != 1 or done[0] not in pending:
                        fail(f"import claimed {done}, pending {sorted(pending)}")
                        break
                    imported[done[0]] = pending.pop(done[0])
                    tracer.counts["sources.rows_offered"].append(
                        self.rows_offered[(done[0], imported[done[0]])])
                # 4. freshness: landing file -> refresh -> stars reflect it
                attempted += 1
                batch = pq.read_table(f"{self.inputs}/landing_{cycle:03d}.parquet")
                views_expected += int(pc.sum(pc.equal(batch["event_type"], "view")).as_py() or 0)
                with tracer.op("freshness"), clock.span() as sp:
                    tmp = f"{landing}/_tmp_{cycle:03d}.parquet"
                    pq.write_table(batch, tmp)
                    os.rename(tmp, f"{landing}/batch_{cycle:03d}.parquet")
                    stars = freshness.refresh(spark, landing, self.wh)
                    total = stars.agg({"stars": "sum"}).collect()[0][0]
                paid.append(sp)
                lat["freshness"].append(sp.wall)
                if total != views_expected:
                    fail(f"stars total {total}, expected {views_expected}")
                # 5. dialect reads over the FINAL views, events and stars
                with clock.span() as sp:
                    catalog.register_final_views(spark, self.wh)
                paid.append(sp)
                tracer.spans["catalog.register_final"].append(sp.wall)
                with clock.span() as sp:
                    spark.read.parquet(f"{self.wh}/events").createOrReplaceTempView("github_events")
                    freshness.read_stars(spark, f"{self.wh}/stars").createOrReplaceTempView(
                        "github_stars")
                paid.append(sp)
                self._duck_views(con)
                reads = read_all()
                paid.extend(reads.values())
                if cycle == 0:
                    first_read = reads
                cycles.append(SimpleNamespace(**{
                    unit: sum(getattr(p, unit) for p in paid) for unit in UNITS}))
            # warm passes over the final tables until the deadline: the
            # app's re-submit probes, then every read
            deadline = t_start + seconds
            while passes < MIN_READ_PASSES or time.perf_counter() < deadline:
                for i in rng.choice(len(imported), PROBES_PER_PASS, replace=False):
                    warm_ops["probe"].append(schedule(sorted(imported)[i], 200, "ALREADY_PROCESSED"))
                for name, sp in read_all().items():
                    warm_ops[name].append(sp)
                passes += 1
        finally:
            http_conn.close()
            srv.shutdown()
            srv.server_close()
            thread.join(timeout=30)
            tracer.unwrap()
        wall = time.perf_counter() - t_start

        # end-of-run checks: FINAL row count against the generator's keys
        attempted += 1
        expected_keys = sum(len(self.keys[r][v]) for r, v in imported.items())
        final_rows = orch.commits_final().count()
        if final_rows != expected_keys:
            fail(f"FINAL rows {final_rows}, expected {expected_keys}")
        stored_rows = spark.read.parquet(commits).count()
        con.close()
        return {
            "latencies": lat,
            "first_read": first_read,
            "warm_ops": warm_ops,
            "plans": plans,
            "cycles": cycles,
            "read_passes": passes,
            "wall_s": wall,
            "final_rows": final_rows,
            "stored_rows": stored_rows,
            "attempted": attempted,
            "failed": failed,
            "failures": failures[:20],
            "commits_dir": commits,
        }

    def _duck_views(self, con) -> None:
        """Load the warehouse's current files into DuckDB tables (once
        per cycle; every later check reads them from memory)."""
        for table, path in (("commits", "commits/*.parquet"),
                            ("github_events", "events/*.parquet"),
                            ("github_stars_partials", "stars/*/*.parquet")):
            con.sql(f"CREATE OR REPLACE TABLE {table} AS SELECT * FROM "
                    f"read_parquet('{self.wh}/{path}', hive_partitioning = false)")
        con.sql("CREATE OR REPLACE TABLE github_stars AS SELECT user_id, "
                "CAST(sum(stars) AS BIGINT) AS stars FROM github_stars_partials GROUP BY user_id")

    @staticmethod
    def _install_spans(tracer, catalog, sql_compat, writer, freshness) -> None:
        from clickhub_spark import orchestrator, queue

        tracer.wrap(queue.WorkQueue, "schedule", "queue.schedule")
        tracer.wrap(queue.WorkQueue, "claim", "queue.claim")
        tracer.wrap(orchestrator.Orchestrator, "is_processed", "orchestrator.is_processed")
        tracer.wrap(orchestrator.Orchestrator, "add_new_repo", "orchestrator.add_new_repo")
        tracer.wrap(writer, "high_water_mark", "sources.hwm")
        tracer.wrap(orchestrator, "incremental_append", "sources.append",
                    on_result=lambda n, _args: tracer.counts["sources.rows_appended"].append(n))
        tracer.wrap(freshness, "stream_ingest", "streaming.ingest")
        tracer.wrap(freshness, "maintain_stars_mv", "streaming.mv")
        tracer.wrap(freshness, "read_stars", "streaming.read_stars")
        tracer.wrap(sql_compat, "translate", "sql_compat.translate")
        tracer.wrap(sql_compat, "run", "sql_compat.run")


def _canon(rows) -> list[tuple]:
    """Order-insensitive canon: tz-aware datetimes become naive UTC,
    floats are rounded, then rows are sorted."""
    out = []
    for r in rows:
        vals = []
        for v in tuple(r):
            if isinstance(v, dt.datetime) and v.tzinfo is not None:
                v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
            if isinstance(v, float):
                v = round(v, 6)
            vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=lambda t: tuple((x is None, str(x)) for x in t))


def app_metrics(res: dict) -> tuple[dict, dict]:
    """The app's own latencies and throughput, and their sample
    counts (with the percentile each ``_tail`` stands for)."""
    lat = res["latencies"]
    read_tail, read_pct, read_n = tail(lat["read"])
    sched_tail, sched_pct, sched_n = tail(lat["schedule"])
    e2e_named = {
        "schedule_ms_p50": p50_ms(lat["schedule"]),
        "schedule_ms_tail": 1000.0 * sched_tail,
        "import_ms_p50": p50_ms(lat["import"]),
        "read_ms_p50": p50_ms(lat["read"]),
        "read_ms_tail": 1000.0 * read_tail,
        "freshness_ms_p50": p50_ms(lat["freshness"]),
        "rows_per_s": res["final_rows"] / res["wall_s"],
    }
    samples = {
        "schedule": {"n": sched_n, "tail_pct": round(sched_pct, 1)},
        "read": {"n": read_n, "tail_pct": round(read_pct, 1)},
        "import": {"n": len(lat["import"])},
        "freshness": {"n": len(lat["freshness"])},
        "cycles": len(res["cycles"]),
        "read_passes": res["read_passes"],
    }
    return e2e_named, samples
