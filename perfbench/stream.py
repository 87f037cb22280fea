"""stream_cep: a seeded order/parcel event stream through
``StreamingMatchDecide`` (per-key ``applyInPandasWithState`` with
event-time timers), read from parquet files and written to a
``foreachBatch`` sink.

Phases, all on one running query, over consecutive slices of one
event-time-ordered event sequence:

1. warm-up: a few files staged before the query starts; the time until
   they are consumed is the cold start (``cold.first_pass_s``);
2. fixed rate: a generator thread writes one file every ``PERIOD_S`` on
   a schedule that does not slow down when Spark does (an open loop).
   The first ``RATE_SETTLE`` of its files let trigger times settle; each
   ``ALL_PARCELS_SHIPPED`` decision completed by a later file of this
   phase is timed from that file's scheduled send time until the sink
   sees it.  ``THRESHOLD_EXCEEDED`` decisions are not timed: their delay
   is the timeout window;
3. drain, ``DRAINS`` times: a backlog of files appears at once on the
   idle query; the time from the start of the first trigger that reads
   it to the end of the trigger that reads its last row gives drain
   throughput.  ``wall_s`` and ``events_per_s`` come from the fastest
   drain: a neighbour's burst of stolen CPU only ever slows one;
4. close: a far-future tick, staged with the last backlog, moves the
   watermark past every deadline, and every order's decision is
   compared with the batch CEP oracle (``cep_order_fulfillment``'s
   DuckDB SQL) over the same events.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import statistics
import threading
import time

import duckdb
from strom_spark.streaming.cep import StreamingMatchDecide

import inputs

#: offered load: RATE_FILE_EVENTS / PERIOD_S = 300 events/s, about a
#: fifth of the drain throughput measured on 2 cores, so each trigger's
#: time is mostly its fixed cost and a slow trigger does not snowball
RATE_FILE_EVENTS = 75
PERIOD_S = 0.25
WARM_FILES = 4
#: share of ``--seconds`` spent in the fixed-rate phase; the drains take
#: most of the rest
RATE_SHARE = 0.75
#: share of the fixed-rate files sent before latencies are timed: the
#: trigger time grows over the first few triggers as state builds up
RATE_SETTLE = 0.25
#: each drain backlog: DRAIN_FILES files of DRAIN_FILE_EVENTS events
DRAINS = 3
DRAIN_FILES = 8
DRAIN_FILE_EVENTS = 625
#: event-time density: an order's parcels span about thirteen rate files
EVENTS_PER_DAY = 25
WATERMARK = "1 hour"
TIMEOUT_S = 30 * inputs.DAY_S


def _progress_end(p: dict) -> float:
    start = dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
    return start + p["durationMs"].get("triggerExecution", 0) / 1e3


def _progress_start(p: dict) -> float:
    return _progress_end(p) - p["durationMs"].get("triggerExecution", 0) / 1e3


class StreamRun:
    def __init__(self, spark, ss, work: str, seed: int, seconds: float, tracer=None):
        self.spark = spark
        self.ss = ss
        self.dir = os.path.join(work, "stream", f"seed{seed}-{os.getpid()}")
        shutil.rmtree(self.dir, ignore_errors=True)
        self.in_dir = os.path.join(self.dir, "in")
        self.staged = os.path.join(self.dir, "staged")
        os.makedirs(self.in_dir)
        os.makedirs(self.staged)
        n_rate = max(1, int(round(RATE_SHARE * seconds / PERIOD_S)))
        self.warm = range(0, WARM_FILES)
        self.rate = range(WARM_FILES, WARM_FILES + n_rate)
        self.timed = range(self.rate.start + int(RATE_SETTLE * n_rate), self.rate.stop)
        self.drains = [
            range(self.rate.stop + k * DRAIN_FILES, self.rate.stop + (k + 1) * DRAIN_FILES)
            for k in range(DRAINS)
        ]
        n_files = self.drains[-1].stop
        sizes = [RATE_FILE_EVENTS] * self.rate.stop + [DRAIN_FILE_EVENTS] * DRAINS * DRAIN_FILES
        self.ev = inputs.order_events(seed, sizes, EVENTS_PER_DAY)
        self.file_rows = [0] * n_files
        for f in self.ev["file_of"]:
            self.file_rows[f] += 1
        self.sched = [None] * n_files  # scheduled send time per file
        self.written = [None] * n_files  # actual write time per file
        self.decisions: list[tuple[int, str, float]] = []
        self.tracer = tracer
        self.query = None

    # -- files -------------------------------------------------------------

    def _rows(self, files: range) -> int:
        return sum(self.file_rows[files.start:files.stop])

    def _write(self, i: int, directory: str) -> None:
        lo = sum(self.file_rows[:i])
        path = os.path.join(directory, f"ev{i:05d}.parquet")
        inputs.write_event_file(path, self.ev, lo, lo + self.file_rows[i])

    def _write_all(self, files: range, extra: list[str] = ()) -> None:
        """Make ``files`` (and the ``extra`` files already staged) appear
        together: each is written under a staging directory first, then
        all are renamed in at once."""
        for i in files:
            self._write(i, self.staged)
        t = time.time()
        for name in [f"ev{i:05d}.parquet" for i in files] + list(extra):
            os.replace(os.path.join(self.staged, name), os.path.join(self.in_dir, name))
        for i in files:
            self.sched[i] = self.written[i] = t

    def _generator(self, t0: float) -> None:
        for k, i in enumerate(self.rate):
            due = t0 + k * PERIOD_S
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            self.sched[i] = due
            self._write(i, self.in_dir)
            self.written[i] = time.time()

    # -- query -------------------------------------------------------------

    def _sink(self, bdf, batch_id) -> None:
        rows = bdf.collect()
        seen = time.time()
        self.decisions.extend((r["order_id"], r["decision"], seen) for r in rows)

    def _start(self):
        stream = (
            self.spark.readStream.schema(inputs.STREAM_SCHEMA_DDL)
            .parquet(self.in_dir)
            .withWatermark("ts", WATERMARK)
        )
        op = StreamingMatchDecide("events", "decisions", key="order_id", timeout_s=TIMEOUT_S)
        if self.tracer:
            with self.tracer.span("build", "StreamingMatchDecide"):
                out = op(self.ss.Flow({"events": stream}))["decisions"]
        else:
            out = op(self.ss.Flow({"events": stream}))["decisions"]
        return (
            out.writeStream.foreachBatch(self._sink)
            .option("checkpointLocation", os.path.join(self.dir, "ckpt"))
            .outputMode("append")
            .start()
        )

    def _check_alive(self) -> None:
        if self.query.exception() is not None:
            raise RuntimeError(str(self.query.exception()))

    def _wait_consumed(self, rows: int, timeout: float = 120.0) -> dict:
        """Block until ``rows`` input rows are consumed; returns the
        progress of the trigger that consumed the last of them."""
        deadline = time.time() + timeout
        while time.time() < deadline:
            self._check_alive()
            total = 0
            for p in self.query.recentProgress:
                total += p["numInputRows"]
                if total >= rows:
                    return p
            time.sleep(0.05)
        raise TimeoutError(f"stream consumed fewer than {rows} rows in {timeout:.0f}s")

    def _wait_idle(self, quiet_s: float = 0.2, timeout: float = 30.0) -> None:
        """Block until no trigger is running and none has finished for
        ``quiet_s`` (the no-data trigger that follows a watermark move
        included)."""
        deadline = time.time() + timeout
        last, since = None, time.time()
        while time.time() < deadline:
            n = len(self.query.recentProgress)
            if n != last or self.query.status["isTriggerActive"]:
                last, since = n, time.time()
            elif time.time() - since >= quiet_s:
                return
            time.sleep(0.05)

    def start(self) -> float:
        """Stage the warm-up files and start the query; returns the
        seconds until the warm-up rows were consumed (the cold start)."""
        self._write_all(self.warm)
        self.spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
        t_start = time.time()
        self.query = self._start()
        return _progress_end(self._wait_consumed(self._rows(self.warm))) - t_start

    def drain_backlog(self, files: range, tick: bool = False) -> tuple[float, int]:
        """Stage the backlog ``files`` at once on the idle query, with the
        closing tick when ``tick``; returns its drain seconds and row
        count."""
        self._wait_idle()
        n_before = len(self.query.recentProgress)
        rows = self._rows(files)
        if tick:
            # the tick moves the watermark only for the trigger after the
            # one that reads it, so it does not change the drain itself
            max_ts = float(self.ev["ts"].max())
            inputs.write_tick(os.path.join(self.staged, "tick.parquet"),
                              max_ts + 2 * TIMEOUT_S + inputs.DAY_S)
        self._write_all(files, extra=["tick.parquet"] if tick else [])
        last = self._wait_consumed(sum(self.file_rows[:files.stop]))
        first = next(p for p in self.query.recentProgress[n_before:] if p["numInputRows"] > 0)
        return _progress_end(last) - _progress_start(first), rows

    def run(self) -> dict:
        first_pass_s = self.start()
        self._wait_idle()

        t_rate = time.time() + PERIOD_S
        gen = threading.Thread(target=self._generator, args=(t_rate,), daemon=True)
        gen.start()
        gen.join()
        rate_end = _progress_end(self._wait_consumed(sum(self.file_rows[:self.rate.stop])))

        drains = [self.drain_backlog(files, tick=files is self.drains[-1]) for files in self.drains]

        deadline = time.time() + 60
        decided = set()
        while len(decided) < self.ev["n_orders"] and time.time() < deadline:
            self._check_alive()
            time.sleep(0.1)
            decided = {d[0] for d in self.decisions if d[0] >= 0}
        progress = list(self.query.recentProgress)
        self.query.stop()
        return {
            "first_pass_s": first_pass_s,
            "drains": drains,
            "t_timed": t_rate + (self.timed.start - self.rate.start) * PERIOD_S,
            "rate_end": rate_end,
            "progress": progress,
        }

    # -- results -----------------------------------------------------------

    def latencies(self) -> list[float]:
        """Seconds from the scheduled send of the file that completed an
        order to the sink seeing its ALL_PARCELS_SHIPPED decision, for
        orders completed by a timed fixed-rate file."""
        done = self.ev["done_file"]
        out = []
        for oid, decision, seen in self.decisions:
            if oid >= 0 and decision == "ALL_PARCELS_SHIPPED" and int(done[oid]) in self.timed:
                out.append(seen - self.sched[int(done[oid])])
        return out

    def check(self, entry) -> tuple[int, int, dict]:
        """(orders attempted, orders failed, detail) against the batch
        CEP oracle over the same events.  An order fails when its
        decision is missing, wrong or emitted twice."""
        tables = inputs.oracle_tables(self.ev, os.path.join(self.dir, "oracle"))
        con = duckdb.connect()
        con.execute(f"SET threads={len(os.sched_getaffinity(0))}")
        for t in ("orders", "lineitem"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables}/{t}.parquet')")
        want = dict(con.execute(entry.oracle_sql()["cep_order_fulfillment"]).fetchall())
        con.close()
        got: dict[int, str] = {}
        dupes = set()
        for oid, decision, _ in self.decisions:
            if oid < 0:
                continue
            if oid in got:
                dupes.add(oid)
            got[oid] = decision
        wrong = {o for o, d in want.items() if got.get(o) != d}
        extra = set(got) - set(want)
        return len(want), len(wrong | dupes | extra), {
            "missing": sum(1 for o in want if o not in got),
            "wrong": len(wrong), "duplicates": len(dupes), "unknown": len(extra),
        }

    def lag_series(self, progress: list[dict]) -> list[tuple[float, int]]:
        """(time, rows offered minus rows consumed) at the end of every
        trigger."""
        out, consumed = [], 0
        for p in progress:
            consumed += p["numInputRows"]
            end = _progress_end(p)
            offered = sum(r for r, w in zip(self.file_rows, self.written) if w is not None and w <= end)
            out.append((end, offered - consumed))
        return out

    def close(self) -> None:
        if self.query is not None and self.query.isActive:
            self.query.stop()
        shutil.rmtree(self.dir, ignore_errors=True)


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _slope(points: list[tuple[float, int]]) -> float:
    """Least-squares slope of (time, value) points, per second."""
    if len(points) < 2:
        return 0.0
    t0 = points[0][0]
    xs = [t - t0 for t, _ in points]
    ys = [v for _, v in points]
    mx, my = statistics.fmean(xs), statistics.fmean(ys)
    sxx = sum((x - mx) ** 2 for x in xs)
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sxx if sxx else 0.0


def run(spark, ss, entry, args, work: str, record: dict) -> dict:
    from batch import percentile

    tracer = None
    if args.trace:
        import tracing

        tracer = tracing.Tracer(spark)
        tracing.instrument(tracer, ss.Component, {
            "load_table": ("io", ss.load_table), "spread": ("io", ss.spread),
        })
        tracer.enabled = True
    sr = StreamRun(spark, ss, work, args.seed, args.seconds, tracer)
    try:
        if tracer:
            with tracer.span("pass", "stream") as pass_span:
                res = sr.run()
            tracer.enabled = False
        else:
            res = sr.run()
        attempted, failed, detail = sr.check(entry)
        lat = sr.latencies()
        lags = sr.lag_series(res["progress"])
    finally:
        sr.close()
    tail, tail_pct = percentile(lat, 99) if lat else (0.0, 0.0)
    late = [w - s for w, s in zip(sr.written, sr.sched) if w is not None]
    record.update(
        rate_file_events=RATE_FILE_EVENTS, period_s=PERIOD_S, events_per_day=EVENTS_PER_DAY,
        drain_file_events=DRAIN_FILE_EVENTS, offered_events_per_s=RATE_FILE_EVENTS / PERIOD_S,
        warm_files=len(sr.warm), rate_files=len(sr.rate), timed_files=len(sr.timed), drain_files=DRAIN_FILES,
        orders=sr.ev["n_orders"], check=detail, latency_samples=len(lat),
        latency_tail_percentile=tail_pct, first_pass_s=res["first_pass_s"],
        drains=res["drains"],
        generator_late_s=late, lag_series=lags, progress=res["progress"],
    )
    out = {
        "attempted": attempted,
        "failed": failed,
        "end_to_end": {
            "wall_s": {"value": min(s for s, _ in res["drains"]), "unit": "s"},
            "events_per_s": {"value": max(n / s for s, n in res["drains"]), "unit": "1/s"},
            "latency_p50_s": {"value": median(lat), "unit": "s"},
            "latency_p99_s": {"value": tail, "unit": "s"},
        },
    }
    if tracer:
        for p in res["progress"]:
            tracer.add("microbatch", f"batch{p['batchId']}", _progress_start(p), _progress_end(p),
                       parent=pass_span["id"], rows=p["numInputRows"], durations_ms=p["durationMs"])
        rate = [p for p in res["progress"] if res["t_timed"] <= _progress_end(p) <= res["rate_end"] + 1e-3]
        state = [p["stateOperators"][0] for p in rate if p.get("stateOperators")]
        ms = lambda key: median([p["durationMs"].get(key, 0) / 1e3 for p in rate])
        rate_lags = [(t, v) for t, v in lags if res["t_timed"] <= t <= res["rate_end"] + 1e-3]
        out["layers"] = tracing.layer_metrics(tracer, pass_span)
        out["layers"].update({
            "cold.first_pass_s": res["first_pass_s"],
            "stream.batches": len(rate),
            "stream.trigger_p50_s": ms("triggerExecution"),
            "stream.add_batch_s": ms("addBatch"),
            "stream.planning_s": ms("queryPlanning"),
            "stream.wal_commit_s": ms("walCommit"),
            "stream.state_rows": state[-1]["numRowsTotal"] if state else 0,
            "stream.state_bytes": state[-1]["memoryUsedBytes"] if state else 0,
            "stream.state_commit_s": median([s.get("commitTimeMs", 0) / 1e3 for s in state]),
            "stream.lag_events": median([v for _, v in rate_lags]),
            "stream.lag_slope_events_per_s": _slope(rate_lags),
            "stream.gen_late_s": max((late[i] for i in sr.rate), default=0.0),
        })
        record["spans"] = tracer.spans
    return out


def single_core_drain(ss, work: str, seed: int) -> float:
    """Drain throughput of the same kind of backlog on ``local[1]``, in a
    fresh SparkContext on the JVM that is already running."""
    os.environ["SPARK_GRAFT_CPUS"] = "1"
    spark = ss.get_spark("perfbench-1core")
    spark.sparkContext.setLogLevel("ERROR")
    sr = StreamRun(spark, ss, work, seed, PERIOD_S)
    try:
        sr.start()
        sr._write_all(sr.rate)
        drain_s, rows = sr.drain_backlog(sr.drains[0])
        return rows / drain_s
    finally:
        sr.close()
        spark.stop()
