"""The benchmark workloads.

Each workload stages seeded inputs (``fixture``), opens them in the
session (``open``), optionally warms up (``warmup``), runs closed-loop
passes from a single client (``run_pass``), and checks the outputs of
its last pass (``check``). Every call into the package goes through a
public function: ``run_pipeline`` + ``sinks.await_or_raise``,
``run.JOBS[job](spark, args)`` and ``QuerySpec.spark_fn`` followed by a
noop write.

A pass returns a ``Pass``: ``full_s`` is the workload's unit of work (a
backlog drain; a full warehouse load plus the incremental days; one pass
over the query list) and ``ops`` the latencies inside it (streaming
triggers; loader job calls on the incremental days; queries).
"""

from __future__ import annotations

import contextlib
import datetime
import os
import shutil
import statistics
import sys
import time
import types
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import functions as F

import check
import gen

#: query_mix: registry queries in the mix. Covers the operators modules
#: enrich, trends, dedup, similarity (BM25), asof and skew (merge runs
#: in nightly_load); the ROADMAP direction-5 targets the BM25 build and
#: the _table_count probes; and a sub-second SQL shape.
QUERY_MIX = (
    "fraud_enrich",
    "user_spend_trends",
    "dedup_keep_last",
    "doc_bm25_topk",
    "asof_last_purchase",
    "salted_category_totals",
    "pricing_summary",
)

JOB_ORDER = ("ingest", "warehouse_load", "user_spend_trends", "category_trends")
WATERMARK_DELAY_US = 15 * 60 * 1_000_000  # streaming.pipeline.WATERMARK_DELAY


@dataclass
class Pass:
    full_s: float
    ops: list[float]
    failed: int = 0
    layers: dict = field(default_factory=dict)
    detail: dict = field(default_factory=dict)


def _files(path: str) -> tuple[int, int]:
    """(parquet files, bytes) under ``path``, checkpoints excluded."""
    n = b = 0
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if d != "checkpoints"]
        for f in names:
            if f.endswith(".parquet"):
                n += 1
                b += os.path.getsize(os.path.join(root, f))
    return n, b


def pct(xs: list[float], p: int) -> float:
    """The p-th percentile (Python's exclusive quantiles)."""
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=100)[p - 1]


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _mismatch(what: str, got, want) -> None:
    print(f"[perfbench] MISMATCH {what}: got {got} expected {want}", file=sys.stderr, flush=True)


class Workload:
    name = ""

    def __init__(self, spark, tracer, seed: int, shape: gen.Shape, work: str):
        self.spark, self.tracer, self.seed, self.shape = spark, tracer, seed, shape
        self.work = work
        self.failures: list[str] = []

    def _fail(self, what: str, exc: Exception) -> None:
        msg = f"{what}: {type(exc).__name__}: {exc}"[:400]
        self.failures.append(msg)
        print(f"[perfbench] FAILED {msg}", file=sys.stderr, flush=True)

    def open(self) -> None:
        pass

    def warmup(self) -> None:
        pass


# ---------------------------------------------------------------------------
# stream_ingest
# ---------------------------------------------------------------------------

class StreamIngest(Workload):
    """EP1: run_pipeline(mode="idiomatic") drains a seeded backlog, one
    file per trigger, against the users/products dimensions. Each drain
    starts the three queries afresh, with new checkpoints and outputs."""

    name = "stream_ingest"

    def fixture(self, k: int) -> None:
        d = self.dir = os.path.join(self.work, f"fixture-{k}")
        for n, t in gen.dim_tables(self.seed, self.shape).items():
            gen.write_table(t, os.path.join(d, "dims", f"{n}.parquet"))
        for i, t in enumerate(gen.stream_backlog(self.seed, self.shape)):
            gen.write_table(t, os.path.join(d, "backlog", f"part-{i:05d}.parquet"))

    def open(self) -> None:
        read = self.spark.read.parquet
        self.users = read(os.path.join(self.dir, "dims", "users.parquet"))
        self.products = read(os.path.join(self.dir, "dims", "products.parquet"))
        self.schema = read(os.path.join(self.dir, "backlog")).schema

    def warmup(self) -> None:
        """One untimed drain. The first drain in a session also pays for
        class loading, code generation and JIT compilation, and with
        three queries sharing the cores how much of that lands inside
        the drain varies from run to run."""
        self.run_pass(-1, False)

    def run_pass(self, i: int, traced: bool) -> Pass:
        from smart_fraud_detection_data_pipeline_spark.streaming import sinks
        from smart_fraud_detection_data_pipeline_spark.streaming.pipeline import run_pipeline

        shutil.rmtree(os.path.join(self.work, f"out-{i - 1}"), ignore_errors=True)
        out = self.out = os.path.join(self.work, f"out-{i}")
        tr = self.tracer
        tr.start_listener()
        try:
            t0 = time.perf_counter()
            with tr.call("streaming", "run_pipeline+await_or_raise") as span:
                tx = (self.spark.readStream.schema(self.schema)
                      .option("maxFilesPerTrigger", "1")
                      .parquet(os.path.join(self.dir, "backlog")))
                qs = run_pipeline(self.spark, tx, self.users, self.products, out,
                                  mode="idiomatic")
                try:
                    for q in qs.all():
                        sinks.await_or_raise(q)
                finally:
                    qs.stop_all()
            full = time.perf_counter() - t0
            triggers = tr.trigger_spans(qs.all(), span)
        except Exception as exc:  # noqa: BLE001 — a failed drain is counted, not fatal
            self._fail(f"drain {i}", exc)
            return Pass(time.perf_counter() - t0, [], failed=1)
        finally:
            tr.stop_listener()
        ops = [p["durationMs"]["triggerExecution"] / 1000.0
               for q in qs.all() for p in q.recentProgress]
        rows = self.shape.stream_files * self.shape.stream_rows_per_file
        p = Pass(full, ops, detail={"stream_events_per_s": rows / full})
        if traced:
            p.layers = self._layers(span, triggers, out)
        return p

    def named(self, passes: list[Pass]) -> dict:
        ops = [x for p in passes for x in p.ops]
        return {
            "stream_events_per_s": _median([p.detail.get("stream_events_per_s", 0.0)
                                            for p in passes]),
            "stream_batch_p50_s": pct(ops, 50),
            "stream_batch_p90_s": pct(ops, 90),
        }

    def _layers(self, span, triggers, out) -> dict:
        tr = self.tracer

        def phase(key):
            return _median([t["attrs"]["duration_ms"].get(key, 0) for t in triggers])

        state_rows = state_mem = removed = 0
        commit_ms = 0.0
        by_query: dict[str, list] = {}
        for t in triggers:
            by_query.setdefault(t["attrs"]["query"], []).append(t["attrs"]["state"])
        for states in by_query.values():  # state peaks per query, summed
            state_rows += max(sum(o["numRowsTotal"] for o in s) for s in states)
            state_mem += max(sum(o["memoryUsedBytes"] for o in s) for s in states)
            commit_ms += sum(o["commitTimeMs"] for s in states for o in s)
            removed += sum(o["numRowsRemoved"] for s in states for o in s)
        files, nbytes = _files(out)
        return {
            "source.latest_offset_ms": phase("latestOffset"),
            "source.get_batch_ms": phase("getBatch"),
            "streaming.planning_ms": phase("queryPlanning"),
            "streaming.wal_commit_ms": phase("walCommit"),
            "streaming.commit_offsets_ms": phase("commitOffsets"),
            "streaming.add_batch_ms": phase("addBatch"),
            "streaming.jobs_per_trigger": len(tr.children(span, "job")) / max(1, len(triggers)),
            "sinks.files_written": files,
            "sinks.bytes_written": nbytes,
            "state.rows_total": state_rows,
            "state.mem_bytes": state_mem,
            "state.commit_ms": commit_ms,
            "state.rows_removed": removed,
            "self.streaming_s": tr.self_s(span),
            "spark.job_s": tr.job_s([span]),
        }

    def check(self) -> dict[str, bool]:
        """fraud_records == a batch enrich_transactions of the same files;
        the trend outputs == batch operators.trends over the windows the
        final watermark (max event time - 15 min) closed."""
        from smart_fraud_detection_data_pipeline_spark.operators.enrich import (
            enrich_transactions,
        )
        from smart_fraud_detection_data_pipeline_spark.operators.trends import windowed_trends

        spark = self.spark
        tx = spark.read.schema(self.schema).parquet(os.path.join(self.dir, "backlog"))
        max_us = tx.agg(F.max(F.unix_micros(F.col("timestamp").cast("timestamp")))).first()[0]
        watermark = (datetime.datetime(1970, 1, 1)
                     + datetime.timedelta(microseconds=max_us - WATERMARK_DELAY_US))
        closed = F.col("window_end") <= F.lit(watermark.strftime("%Y-%m-%d %H:%M:%S"))
        cat_tx = tx.join(F.broadcast(self.products.select("product_id", "category")),
                         "product_id", "left_outer")
        expected = {
            "fraud_records": enrich_transactions(tx, self.users, self.products),
            "user_spend_trends": windowed_trends(
                tx, key_col="user_id", sum_alias="total_spent", exact=False).where(closed),
            "category_trends": windowed_trends(
                cat_tx, key_col="category", sum_alias="total_sales", exact=False).where(closed),
        }
        out = {}
        for name, want in expected.items():
            path = os.path.join(self.out, name)
            got = check.frame_digest(spark.read.parquet(path)) if os.path.exists(path) else None
            want = check.frame_digest(want)
            if got != want:
                _mismatch(path, got, want)
            out[f"stream_ingest.{name}"] = got == want
        return out


# ---------------------------------------------------------------------------
# nightly_load
# ---------------------------------------------------------------------------

class NightlyLoad(Workload):
    """EP3: ingest + the three loaders into an empty warehouse, then the
    seeded next days: ingest day d, then the loaders with since=d. No
    warm-up: a nightly load runs in a fresh process, so its full load is
    measured cold and the incremental days after it warm."""

    name = "nightly_load"

    def fixture(self, k: int) -> None:
        d = self.template = os.path.join(self.work, f"fixture-{k}")
        gen.write_star(self.seed, self.shape, d, names={"customer", "part", "supplier"})
        self.days = gen.load_days(self.seed, self.shape)
        for i in range(self.shape.load_history_days):
            gen.write_table(self.days[i], os.path.join(d, "events.parquet", f"day-{i:03d}.parquet"))

    def _job(self, job: str, since: str | None):
        from smart_fraud_detection_data_pipeline_spark import run

        args = types.SimpleNamespace(sf_dir=self.sf, warehouse=self.wh, since=since)
        with self.tracer.call("run", job, since=since) as span, \
                contextlib.redirect_stdout(sys.stderr):
            t0 = time.perf_counter()
            run.JOBS[job](self.spark, args)
            return time.perf_counter() - t0, span

    def run_pass(self, i: int, traced: bool) -> Pass:
        for d in (f"sf-{i - 1}", f"wh-{i - 1}"):
            shutil.rmtree(os.path.join(self.work, d), ignore_errors=True)
        s = self.shape
        self.sf = os.path.join(self.work, f"sf-{i}")
        self.wh = os.path.join(self.work, f"wh-{i}")
        shutil.copytree(self.template, self.sf)
        full_spans, day_calls, day_s, failed = [], {j: [] for j in JOB_ORDER}, [], 0
        t0 = time.perf_counter()
        try:
            for job in JOB_ORDER:
                full_spans.append(self._job(job, None)[1])
        except Exception as exc:  # noqa: BLE001 — a failed load is counted, not fatal
            self._fail(f"full load {i}", exc)
            return Pass(time.perf_counter() - t0, [], failed=1)
        full = time.perf_counter() - t0
        out_files, out_bytes = _files(self.wh)
        for d in range(s.load_history_days, s.load_history_days + s.load_next_days):
            gen.write_table(self.days[d],
                            os.path.join(self.sf, "events.parquet", f"day-{d:03d}.parquet"))
            since = (datetime.date(2024, 1, 1) + datetime.timedelta(days=d)).isoformat()
            td = 0.0
            for job in JOB_ORDER:
                try:
                    dt, span = self._job(job, since)
                except Exception as exc:  # noqa: BLE001
                    self._fail(f"{job} day {d}", exc)
                    failed += 1
                    continue
                td += dt
                day_calls[job].append((dt, span))
            day_s.append(td)
        ops = [dt for calls in day_calls.values() for dt, _ in calls]
        p = Pass(full + sum(day_s), ops, failed=failed,
                 detail={"load_full_s": full, "load_day_s": day_s})
        if traced:
            tr = self.tracer
            stages_full = [st for sp in full_spans for st in tr.stages_of(sp)]
            day_spans = [sp for calls in day_calls.values() for _, sp in calls]
            p.layers = {
                **{f"run.{j}_s": _median([dt for dt, _ in day_calls[j]]) for j in JOB_ORDER},
                "run.input_bytes": sum(st["attrs"]["input_bytes"] for sp in day_spans
                                       for st in tr.stages_of(sp)) / max(1, s.load_next_days),
                "run.output_files": out_files,
                "run.output_bytes": out_bytes,
                "run.shuffle_bytes": sum(st["attrs"]["shuffle_write_bytes"] for st in stages_full),
                "run.spill_bytes": sum(st["attrs"]["spill_bytes"] for st in stages_full),
                "self.run_s": sum(tr.self_s(sp) for sp in full_spans + day_spans),
                "spark.job_s": tr.job_s(full_spans + day_spans),
            }
        return p

    def named(self, passes: list[Pass]) -> dict:
        return {
            "load_full_s": _median([p.detail.get("load_full_s", p.full_s) for p in passes]),
            "load_day_p50_s": pct([d for p in passes for d in p.detail.get("load_day_s", [])], 50),
        }

    def check(self) -> dict[str, bool]:
        """Marts == a keep-last recomputation over every day, in DuckDB
        SQL from the raw inputs (independent of the engine's code)."""
        import duckdb

        marts = os.path.join(self.wh, "marts")
        con = duckdb.connect()
        con.execute("SET threads TO 2")
        con.execute(NIGHTLY_SQL.format(sf=self.sf, parts=self.shape.parts,
                                       suppliers=self.shape.suppliers))
        out = {}
        for name, sql in NIGHTLY_EXPECTED.items():
            try:
                got = check.duckdb_digest(con, f"read_parquet('{marts}/{name}/*.parquet')")
            except duckdb.Error as exc:  # a missing or unreadable mart
                self._fail(f"mart {name}", exc)
                got = None
            want = check.duckdb_digest(con, f"({sql})")
            if got != want:
                _mismatch(f"mart {name}", got, want)
            out[f"nightly_load.{name}"] = got == want
        con.close()
        return out


#: The engine's ingest contract over the raw nightly inputs: events in
#: the transaction shape (product_id = event_id mod |part|), customer as
#: users, part joined to supplier (partkey mod |supplier|) as products,
#: and the reference's enrichment rules (spark.py:126-168).
NIGHTLY_SQL = """
CREATE VIEW enriched AS
WITH tx AS (
  SELECT event_id AS transaction_id, user_id, event_id % {parts} AS product_id,
         value AS amount, event_type AS payment_method, ts AS "timestamp"
  FROM read_parquet('{sf}/events.parquet/*.parquet')
), u AS (
  SELECT c_custkey AS user_id, c_name AS user_name, c_nationkey AS user_country
  FROM read_parquet('{sf}/customer.parquet')
), p AS (
  SELECT p_partkey AS product_id, p_name AS product_name, p_type AS category,
         p_retailprice AS base_price, s_nationkey AS product_country,
         CAST(p_size AS DOUBLE) AS discount
  FROM read_parquet('{sf}/part.parquet') AS pt
  LEFT JOIN read_parquet('{sf}/supplier.parquet') AS st ON p_partkey % {suppliers} = s_suppkey
), j AS (
  SELECT * FROM tx LEFT JOIN u USING (user_id) LEFT JOIN p USING (product_id)
), f AS (
  SELECT *,
    CASE WHEN user_country != product_country THEN 1 ELSE 0 END AS country_mismatch,
    CASE WHEN amount > 500 THEN 1 ELSE 0 END AS high_value_flag
  FROM j
)
SELECT *,
  CAST(country_mismatch * 0.5 + high_value_flag * 0.5 AS DOUBLE) AS fraud_score,
  CASE WHEN base_price IS NOT NULL AND discount IS NOT NULL
       THEN base_price - base_price * discount / 100 END AS discounted_price,
  year("timestamp") AS tx_year, month("timestamp") AS tx_month,
  day("timestamp") AS tx_day
FROM f
"""

_TREND = """
SELECT strftime(time_bucket(INTERVAL 1 MINUTE, "timestamp"), '%Y-%m-%d %H:%M:%S') AS window_start,
       strftime(time_bucket(INTERVAL 1 MINUTE, "timestamp") + INTERVAL 1 MINUTE,
                '%Y-%m-%d %H:%M:%S') AS window_end,
       {key}, CAST(sum(CAST(amount AS DECIMAL(18, 2))) AS DOUBLE) AS {total},
       count(DISTINCT transaction_id) AS num_transactions
FROM enriched GROUP BY ALL
"""

NIGHTLY_EXPECTED = {
    "fraud_records": "SELECT * FROM enriched QUALIFY row_number() OVER "
                     "(PARTITION BY transaction_id ORDER BY \"timestamp\" DESC) = 1",
    "user_spend_trends": _TREND.format(key="user_id", total="total_spent"),
    "category_trends": _TREND.format(key="category", total="total_sales"),
}


# ---------------------------------------------------------------------------
# query_mix
# ---------------------------------------------------------------------------

class QueryMix(Workload):
    """Registry batch queries run by one client in a seeded closed loop
    on a warmed session: each op is ``spark_fn`` (the build) then a noop
    write (the execute)."""

    name = "query_mix"

    def fixture(self, k: int) -> None:
        self.sf = os.path.join(self.work, f"sf-{k}")
        gen.write_star(self.seed, self.shape, self.sf)

    def open(self) -> None:
        from smart_fraud_detection_data_pipeline_spark.queries import registry

        specs = {s.name: s for s in registry()}
        self.specs = [specs[n] for n in QUERY_MIX]
        for s in self.specs:
            if s.prepare is not None:
                s.prepare(self.spark, self.sf)

    def warmup(self) -> None:
        """One untimed pass of the closed loop: every query's first
        execution in the session (plan compilation, class loading, the
        memoized probes) happens here, so the timed passes run on a
        warmed session."""
        self.run_pass(-1, False)

    def run_pass(self, i: int, traced: bool) -> Pass:
        tr = self.tracer
        failed, builds, execs, spans, by_name = 0, [], [], [], {}
        self.results = {}
        t0 = time.perf_counter()
        for s in random_order(self.specs, self.seed, i):
            try:
                ta = time.perf_counter()
                with tr.call("queries", f"{s.name}:build") as b:
                    df = s.spark_fn(self.spark, self.sf)
                tb = time.perf_counter()
                with tr.call("queries", f"{s.name}:exec") as e:
                    df.write.format("noop").mode("overwrite").save()
                tc = time.perf_counter()
            except Exception as exc:  # noqa: BLE001 — a failed query is counted, not fatal
                self._fail(f"query {s.name} pass {i}", exc)
                failed += 1
                continue
            self.results[s.name] = df
            by_name[s.name] = tc - ta
            builds.append(tb - ta)
            execs.append(tc - tb)
            spans += [b, e]
        p = Pass(time.perf_counter() - t0, list(by_name.values()), failed=failed,
                 detail={"query_s": by_name})
        if traced:
            stages = [st for sp in spans for st in tr.stages_of(sp)]
            p.layers = {
                "queries.build_s": sum(builds),
                "queries.exec_s": sum(execs),
                "queries.jobs": sum(len(tr.children(sp, "job")) for sp in spans),
                "queries.stages": len(stages),
                "queries.executor_cpu_s": sum(st["attrs"]["executor_cpu_ns"] for st in stages) / 1e9,
                "queries.shuffle_bytes": sum(st["attrs"]["shuffle_write_bytes"] for st in stages),
                "queries.spill_bytes": sum(st["attrs"]["spill_bytes"] for st in stages),
                "self.queries_s": sum(tr.self_s(sp) for sp in spans),
                "spark.job_s": tr.job_s(spans),
            }
        return p

    def named(self, passes: list[Pass]) -> dict:
        return {
            "query_p50_s": pct([x for p in passes for x in p.ops], 50),
            "mix_total_s": _median([p.full_s for p in passes]),
        }

    def check(self) -> dict[str, bool]:
        """The last pass's result of every query, collected untimed and
        hash-compared with the query's DuckDB oracle SQL over the same
        tables. Collecting re-executes the returned plan; the eager
        build inside ``spark_fn`` is not repeated."""
        import duckdb

        from smart_fraud_detection_data_pipeline_spark import TABLES

        con = duckdb.connect()
        con.execute("SET threads TO 2")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf}/{t}.parquet'")
        out = {}
        for s in self.specs:
            try:
                got = check.pandas_digest(self.results[s.name].toPandas())
                want = check.pandas_digest(con.sql(s.oracle).df())
            except Exception as exc:  # noqa: BLE001 — report the query, check the rest
                self._fail(f"query {s.name} check", exc)
                got, want = None, ()
            if got != want:
                _mismatch(s.name, got, want)
            out[f"query_mix.{s.name}"] = got == want
        con.close()
        return out


def random_order(items: list, seed: int, i: int) -> list:
    """Pass ``i``'s seeded order of ``items``."""
    return [items[k] for k in np.random.default_rng([seed, 100 + i]).permutation(len(items))]


WORKLOADS = {w.name: w for w in (StreamIngest, NightlyLoad, QueryMix)}
