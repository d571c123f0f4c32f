"""The benchmark workloads.

Each workload is a closed loop with one client: the next operation
starts when the previous one returns. A workload runs in *units*
(a pass over the interactive mix, a replay of the feed); each unit
yields one or more `Op` records. Outputs are reduced to a
digest right after each operation, outside its timed region, and
compared with the DuckDB oracle when the run ends.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import threading
import time
from dataclasses import dataclass, field

import duckdb
import numpy as np
import pyarrow.parquet as pq

import datagen
from tracing import output_bytes, parse_metric


@dataclass
class Op:
    """One operation: its wall time, the latency samples it adds to
    the end-to-end percentiles, and (when traced) its windows per layer."""

    name: str
    latency: float
    samples: list[float]
    digest: dict[str, tuple[int, str]] = field(default_factory=dict)
    error: str | None = None
    traced: bool = False
    windows: dict[str, list[tuple[float, float]]] = field(default_factory=dict)
    phases: list[dict[str, float]] = field(default_factory=list)
    extras: dict[str, float] = field(default_factory=dict)


def _norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return str(v)


def digest_rows(cols: list[str], rows) -> tuple[int, str]:
    """Order-insensitive digest of a result: columns sorted by name,
    rows sorted, floats compared by repr (the oracle harness's rule)."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    norm = sorted(tuple(_norm_cell(r[i]) for i in idx) for r in rows)
    h = hashlib.sha1(repr(([cols[i] for i in idx], norm)).encode())
    return len(norm), h.hexdigest()


def duck(views: dict[str, str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name, path in views.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def duck_digest(con, sql: str) -> tuple[int, str]:
    res = con.execute(sql)
    return digest_rows([d[0] for d in res.description], res.fetchall())


def compare(name: str, got: dict, want: dict) -> str | None:
    bad = [k for k in got if got[k] != want.get(k)]
    if not bad:
        return None
    k = bad[0]
    return f"{name}: {k} differs from oracle (rows {got[k][0]} vs {want.get(k, (None,))[0]})"


class Workload:
    name = ""
    unit_label = ""
    # expected wall time of one unit; --seconds / this = units per run
    nominal_unit_s: float
    sf = 0.01

    def __init__(self, workdir: str, seed: int, sf: float | None = None):
        self.data = os.path.join(workdir, "data")
        self.seed = seed
        self.sf = sf or self.sf
        self.rng = np.random.default_rng([seed, 7])

    def start(self, spark) -> None:
        from __spark_entry__ import oracle_sql, queries

        self.spark = spark
        self.queries = queries()
        self.oracle_sql = oracle_sql()

    def layer_extras(self, tracer, op: Op) -> dict[str, float]:
        """Per-layer counters only this workload has, read after the
        REST harvest."""
        return {}

    def traced(self, trace: bool, unit: int, index: int = 0) -> bool:
        """In a traced run every other operation is traced, so the
        same run also measures untraced operations to compare with."""
        return trace and (unit + index) % 2 == 1

    def human(self, ops, e2e: dict[str, float], n: dict[str, int]) -> dict[str, tuple[float, str]]:
        """The end-to-end figures under the names an operator knows."""
        raise NotImplementedError


class InteractiveMix(Workload):
    """One client issuing the interactive traffic of a monitoring UI:
    catalog queries (build the DataFrame, then a noop-sink action) and
    dashboard refresh cycles (`snapshot_dashboard`, every panel
    collected to the driver, the shared cache released). A pass runs
    each mix entry once, in an order permuted per pass from the seed.

    A *request* is one catalog query or one dashboard panel; request
    latency is what `op_p50_s` and `op_tail_s` summarize."""

    name = "interactive_mix"
    unit_label = "pass"
    nominal_unit_s = 10.0
    DASHBOARD = "dashboard"
    # catalog strata; every entry matches its DuckDB oracle on the
    # generated inputs. One entry per stratum, chosen among those with a
    # cheap first (cold) run, so that warm-up fits the run budget.
    MIX = {
        # construction >= half of wall: chains of eager jobs
        "job_chain": ["quantile_drift"],
        # construction <= 15% of wall
        "execution": ["pricing_summary"],
        # Arrow/pandas boundary
        "arrow": ["frame_samples"],
    }
    # dashboard panel -> registry entry computing the same operator
    PANELS = {
        "slow_sessions": "slow_sessions",
        "idle_sessions": "idle_sessions",
        "session_summary": "session_summary",
        "connection_load": "connection_load",
        "threshold_flags": "threshold_flags",
        "downsample": "downsample_5min",
        "top_consumers": "topk_events",
        "latest_per_user": "latest_per_user",
    }

    @property
    def entries(self) -> list[str]:
        return [q for group in self.MIX.values() for q in group] + [self.DASHBOARD]

    def generate(self) -> dict[str, float]:
        tables = datagen.build_tables(self.sf, self.seed)
        datagen.write_tables(self.data, tables)
        return {"rows": float(sum(t.num_rows for t in tables.values()))}

    def expected(self) -> dict[str, tuple[int, str]]:
        con = duck({t: f"{self.data}/{t}.parquet" for t in datagen.ALL_TABLES})
        out = {q: duck_digest(con, self.oracle_sql[q]) for q in self.entries if q != self.DASHBOARD}
        out.update({p: duck_digest(con, self.oracle_sql[q]) for p, q in self.PANELS.items()})
        return out

    def warmup(self, tracer) -> list[Op]:
        """The first pass collects every result for the oracle check;
        it also compiles the plans the timed passes run."""
        return [self._request(q, False, tracer, collect=True) for q in self.entries]

    def unit(self, k: int, trace: bool, tracer) -> list[Op]:
        entries = self.entries
        return [
            self._request(q, self.traced(trace, k, entries.index(q)), tracer)
            for q in self.rng.permutation(entries)
        ]

    def _request(self, q: str, traced: bool, tracer, collect: bool = False) -> Op:
        if q == self.DASHBOARD:
            return self._refresh(traced, tracer)
        if traced:
            tracer.begin()
        t0 = time.time()
        digest, error = {}, None
        try:
            df = self.queries[q](self.spark, self.data)
            t1 = time.time()
            if collect:
                rows = df.collect()
            else:
                df.write.format("noop").mode("overwrite").save()
        except Exception as e:  # noqa: BLE001 - counted as a failed operation
            t1, error = time.time(), f"{q}: {type(e).__name__}: {e}"[:300]
        t2 = time.time()
        op = Op(str(q), t2 - t0, [t2 - t0], error=error, traced=traced)
        if traced:
            op.phases = tracer.end()
            op.windows = {"op": [(t0, t2)], "construct": [(t0, t1)], "action": [(t1, t2)]}
        if collect and error is None:
            op.digest = {q: digest_rows(df.columns, rows)}
        return op

    def _refresh(self, traced: bool, tracer) -> Op:
        from real_time_database_monitoring_system_spark.operators.dashboard import snapshot_dashboard

        order = list(self.rng.permutation(list(self.PANELS)))
        if traced:
            tracer.begin()
        t0 = time.time()
        panels = snapshot_dashboard(self.spark, self.data)
        t1 = time.time()
        actions, panel_s, rows = [], [], {}
        for p in order:
            a = time.time()
            got = panels[p].collect()
            b = time.time()
            actions.append((a, b))
            panel_s.append(b - a)
            rows[p] = (panels[p].columns, got)
        paused, extras = 0.0, {}
        if traced:
            c = time.time()
            extras["cache.bytes"] = tracer.cached_bytes()
            paused = time.time() - c
        a = time.time()
        panels["_events"].unpersist()
        end = time.time()
        actions.append((a, end))
        op = Op(self.DASHBOARD, end - t0 - paused, panel_s, traced=traced)
        if traced:
            op.phases = tracer.end()
            op.windows = {"op": [(t0, end)], "construct": [(t0, t1)], "action": actions}
            extras["cache.build_s"] = panel_s[0]
            op.extras = extras
        op.digest = {p: digest_rows(cols, got) for p, (cols, got) in rows.items()}
        return op

    def layer_extras(self, tracer, op: Op) -> dict[str, float]:
        if op.name != self.DASHBOARD:
            return {}
        scans = sum(
            1
            for e in tracer.sql_in(op.windows["op"])
            for n in e.get("nodes", [])
            if n.get("nodeName", "").startswith("Scan parquet") and scan_ran(n)
        )
        return {"cache.parquet_scans_per_cycle": float(scans)}

    def human(self, ops, e2e, n):
        cycles = [o.latency for o in ops if o.name == self.DASHBOARD]
        queries = [o.latency for o in ops if o.name != self.DASHBOARD]
        return {
            f"request_p50_s (median of {n['samples']} queries and panels)": (e2e["op_p50_s"], "s"),
            f"request_tail_s (mean of the slowest quarter of {n['samples']})": (e2e["op_tail_s"], "s"),
            f"pass_s (median of {n['units']} passes over the mix)": (e2e["pass_s"], "s"),
            f"refresh_p50_s (median of {len(cycles)} cycles)": (float(np.median(cycles)), "s"),
            f"query_p50_s (median of {len(queries)} queries)": (float(np.median(queries)), "s"),
        }


def scan_ran(node: dict) -> bool:
    """A parquet scan node under an in-memory relation is listed in the
    plan but reads nothing when the cache serves the rows."""
    for m in node.get("metrics", []):
        if m.get("name") == "number of files read":
            return parse_metric(m.get("value", "0")) > 0
    return False


class _ProgressLog:
    """StreamingQueryListener that keeps every progress event and
    counts terminations, so a replay can wait for its last batch."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        log = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                with log.cond:
                    log.progress.append(event.progress)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with log.cond:
                    log.terminated += 1
                    log.cond.notify_all()

        self.cond = threading.Condition()
        self.progress = []
        self.terminated = 0
        self.listener = _L()
        spark.streams.addListener(self.listener)

    def wait_terminated(self, n: int, timeout: float = 60.0) -> None:
        with self.cond:
            self.cond.wait_for(lambda: self.terminated >= n, timeout)

    def take(self) -> list:
        with self.cond:
            out, self.progress = self.progress, []
        return out


class StreamReplay(Workload):
    """Replay a feed of time-ordered part files (one per micro-batch)
    through `stream_rollup_incremental`, then `stream_alerts`."""

    name = "stream_replay"
    unit_label = "replay"
    nominal_unit_s = 7.0
    FILES = 3
    THRESHOLD = 99.0

    def _write_feed(self, out_dir: str, table, n_files: int, rng) -> float:
        """Split the time-ordered feed at seeded cut points; a seeded
        share of rows arrives late, in one of the next three files.
        Modification times give the file-stream source its order."""
        n = table.num_rows
        # equal shares of the feed, each cut moved by up to a third of a share
        share = n / n_files
        cuts = (np.arange(1, n_files) * share + rng.uniform(-share / 3, share / 3, n_files - 1)).astype(int)
        file_of = np.searchsorted(cuts, np.arange(n), side="right")
        late = rng.random(n) < rng.uniform(0.02, 0.08)
        file_of = np.where(late, np.minimum(file_of + rng.integers(1, 4, n), n_files - 1), file_of)
        feed = os.path.join(out_dir, "events.parquet")
        os.makedirs(feed, exist_ok=True)
        size = 0
        for i in range(n_files):
            path = os.path.join(feed, f"part-{i:05d}.parquet")
            pq.write_table(table.take(np.flatnonzero(file_of == i)), path)
            os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
            size += os.path.getsize(path)
        return float(size)

    def generate(self) -> dict[str, float]:
        events = datagen.build_tables(self.sf, self.seed, ["events"])["events"]
        self.feed_bytes = self._write_feed(self.data, events, self.FILES, self.rng)
        self.rows = events.num_rows
        return {"rows": float(self.rows)}

    def expected(self) -> dict[str, tuple[int, str]]:
        """The rollup equals the batch `downsample_5min` over the same
        rows; the alert count equals the batch filter's."""
        con = duck({"events": f"{self.data}/events.parquet/*.parquet"})
        n = con.execute(f"SELECT count(*) FROM events WHERE value > {self.THRESHOLD}").fetchone()[0]
        return {"rollup": duck_digest(con, self.oracle_sql["downsample_5min"]), "alerts": (n, "")}

    def start(self, spark):
        super().start(spark)
        self.log = _ProgressLog(spark)

    def warmup(self, tracer) -> list[Op]:
        return [self._replay(False, tracer)]

    def unit(self, k, trace, tracer):
        return [self._replay(self.traced(trace, k), tracer)]

    def _replay(self, traced: bool, tracer) -> Op:
        from real_time_database_monitoring_system_spark.streaming.rollup import (
            stream_alerts,
            stream_rollup_incremental,
        )

        table = "perfbench_rollup"
        terminated = self.log.terminated
        if traced:
            tracer.begin()
        t0 = time.time()
        rollup = stream_rollup_incremental(self.spark, self.data, table)
        t1 = time.time()
        alerts = stream_alerts(self.spark, self.data, self.THRESHOLD)
        t2 = time.time()
        self.log.wait_terminated(terminated + 2)
        batches = [p for p in self.log.take() if p.name is None]
        trigger = [p.durationMs.get("triggerExecution", 0) / 1e3 for p in batches]
        op = Op("replay", t2 - t0, trigger, traced=traced)
        if traced:
            op.phases = tracer.end()
            op.windows = {"op": [(t0, t2)], "construct": [], "action": [(t0, t1), (t1, t2)], "sink": [(t0, t1)]}
            op.extras = self._stream_extras(batches)
        op.digest = {
            "rollup": digest_rows(rollup.columns, rollup.collect()),
            "alerts": (alerts.count(), ""),
        }
        self.spark.sql(f"DROP TABLE IF EXISTS {table}")
        for t in self.spark.catalog.listTables():
            if t.isTemporary and t.name.startswith("stream_result_"):
                self.spark.catalog.dropTempView(t.name)
        return op

    def _stream_extras(self, batches) -> dict[str, float]:
        def phase(key):
            return float(sum(p.durationMs.get(key, 0) for p in batches))

        files = 0
        for p in batches:
            for src in json.loads(p.json)["sources"]:
                start, end = _log_offset(src.get("startOffset")), _log_offset(src.get("endOffset"))
                if end is not None:
                    files += end - (start if start is not None else -1)
        last = batches[-1].stateOperators if batches else []
        return {
            "stream.batches": float(len(batches)),
            "stream.input_rows": float(sum(p.numInputRows for p in batches)),
            "stream.latest_offset_ms": phase("latestOffset"),
            "stream.get_batch_ms": phase("getBatch"),
            "stream.query_planning_ms": phase("queryPlanning"),
            "stream.add_batch_ms": phase("addBatch"),
            "stream.wal_commit_ms": phase("walCommit"),
            "stream.commit_offsets_ms": phase("commitOffsets"),
            "stream.state_rows": float(sum(s.numRowsTotal for s in last)),
            "stream.state_memory_bytes": float(sum(s.memoryUsedBytes for s in last)),
            "sources.stream_files": float(files),
        }

    def layer_extras(self, tracer, op: Op) -> dict[str, float]:
        written = output_bytes(tracer, op.windows["sink"])
        return {"sink.bytes_written": written, "sink.write_amplification": written / self.feed_bytes}

    def human(self, ops, e2e, n):
        return {
            "stream_rows_per_s": (self.rows / e2e["pass_s"], "rows/s"),
            "microbatch_p50_s": (e2e["op_p50_s"], "s"),
            f"microbatch_tail_s (mean of the slowest quarter of {n['samples']} batches)": (e2e["op_tail_s"], "s"),
        }


def _log_offset(offset) -> int | None:
    """Files consumed so far by a file-stream source, from its offset."""
    return offset.get("logOffset") if isinstance(offset, dict) else None


WORKLOADS = {w.name: w for w in (InteractiveMix, StreamReplay)}
