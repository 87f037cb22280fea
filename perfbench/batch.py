"""Batch workloads: registered ``__spark_entry__`` pipelines run as a
closed loop (one client, one pipeline at a time) over seeded tables.

A pass runs every pipeline of the workload once: its build (the query
function, which assembles the Flow/Pipeline plan and fires whatever
eager Spark jobs its operators need) and then its terminal action.  The
action evaluates every output column in one aggregate job, the row
count plus an order-insensitive sum of row hashes, so Catalyst cannot
prune work a user pays for.  ``release_caches()`` runs after every
pipeline, outside its timed region.

Correctness: in the first pass every output is also collected, outside
the timed region, and compared with its DuckDB oracle on the same
inputs (``tools/check_correctness.py``'s signature).  Every later run
of a pipeline must reproduce the first run's (count, hash); when it does
not, its rows are collected and compared with the oracle again.
"""

from __future__ import annotations

import importlib.util
import os
import statistics
import time

import duckdb
from pyspark.sql import functions as F

import inputs

#: pmod keeps each row hash in [0, 2^32) so the sum cannot overflow a
#: long under ANSI mode for any output below 2^31 rows
_HASH_MOD = 4_294_967_291

#: warm passes after the first that are run but not measured: the JIT
#: keeps warming up the driver's planning code for about two more passes
SETTLE_PASSES = 2
#: measured warm passes per run (at least); more while ``--seconds`` lasts
WARM_PASSES = 3
#: measured passes per untraced run (at most): past ``--seconds`` the run
#: goes on while the latest pass is still the fastest, which happens when
#: CPU stolen by neighbours has slowed the JIT's warm-up
MAX_WARM_PASSES = 6

#: workload -> scale factor, and pipeline -> the tables it reads
WORKLOADS = {
    "etl_sf01": {
        "sf": 0.1,
        "pipelines": {
            "q1_pricing_summary": ("lineitem",),
            "session_window_stats": ("events",),
            "cep_order_fulfillment": ("orders", "lineitem"),
        },
    },
    "dedup_sf003": {
        "sf": 0.03,
        "pipelines": {
            "dedup_simhash_clusters": ("documents",),
            "iterate_to_ten": ("events",),
        },
    },
}


def _load_check(root: str):
    path = os.path.join(root, "tools", "check_correctness.py")
    spec = importlib.util.spec_from_file_location("_perfbench_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle_signatures(root: str, entry, sf_dir: str, names, threads: int) -> tuple[dict, object]:
    """({pipeline: (sorted column names, frame signature)} from DuckDB,
    the signature function)."""
    check = _load_check(root)
    oracles = entry.oracle_sql()
    con = duckdb.connect()
    con.execute(f"SET threads={threads}")
    for t in os.listdir(sf_dir):
        if t.endswith(".parquet"):
            con.execute(
                f"CREATE VIEW {t[:-8]} AS SELECT * FROM read_parquet('{sf_dir}/{t}')"
            )
    out = {}
    for name in names:
        ddf = con.execute(oracles[name]).df()
        cols = list(ddf.columns)
        rows = list(ddf.itertuples(index=False, name=None))
        out[name] = (sorted(cols), check.frame_signature(rows, cols))
    con.close()
    return out, check.frame_signature


def materialize(df) -> tuple[int, int]:
    """(row count, order-insensitive row-hash sum) in one aggregate."""
    cols = [F.col(f"`{c}`") for c in df.columns]
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.pmod(F.xxhash64(*cols), F.lit(_HASH_MOD))).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"] or 0)


class BatchRun:
    """One workload in one session: passes, per-pipeline times, failures."""

    def __init__(self, spark, entry, release_caches, sf_dir, pipelines, oracle, signature, tracer=None):
        self.spark = spark
        self.queries = entry.queries()
        self.release_caches = release_caches
        self.sf_dir = sf_dir
        self.pipelines = pipelines
        self.oracle = oracle
        self.signature = signature
        self.tracer = tracer
        self.reference: dict[str, tuple[int, int]] = {}
        self.attempted = 0
        self.failures: list[dict] = []
        self.released: list[int] = []

    def _matches_oracle(self, name, df) -> bool:
        """Rows fetched through Arrow (fast) and, only if those disagree,
        through ``collect()``, whose Python types the signature was
        written for."""
        cols, sig = self.oracle[name]
        if sorted(df.columns) != cols:
            return False
        table = df.toArrow()
        rows = list(zip(*(c.to_pylist() for c in table.columns)))
        if self.signature(rows, df.columns) == sig:
            return True
        return self.signature([tuple(r) for r in df.collect()], df.columns) == sig

    def run_pass(self, check_oracle: bool = False) -> dict:
        """Run every pipeline once; returns {pipeline: (build_s, exec_s)}
        for the pipelines that succeeded."""
        span = self.tracer.span if self.tracer else _no_span
        times = {}
        for name in self.pipelines:
            self.attempted += 1
            error = None
            try:
                with span("pipeline", name):
                    t0 = time.perf_counter()
                    with span("build", name):
                        df = self.queries[name](self.spark, self.sf_dir)
                    t1 = time.perf_counter()
                    with span("exec", name):
                        got = materialize(df)
                    t2 = time.perf_counter()
                ref = self.reference.get(name)
                if (check_oracle or (ref is not None and got != ref)) and not self._matches_oracle(name, df):
                    error = "output differs from oracle"
                elif ref is None:
                    self.reference[name] = got
            except Exception as e:  # a failing pipeline is counted, not fatal
                error = f"{type(e).__name__}: {str(e)[:300]}"
            finally:
                with span("cache", "release_caches"):
                    self.released.append(self.release_caches())
            if error is None:
                times[name] = (t1 - t0, t2 - t1)
            else:
                self.failures.append({"pipeline": name, "error": error})
        return times


class _NoSpan:
    def __enter__(self):
        return None

    def __exit__(self, *exc):
        return False


def _no_span(*_args, **_kwargs):
    return _NoSpan()


def pass_wall(times: dict) -> float:
    return sum(b + e for b, e in times.values())


def percentile(values, q: float) -> tuple[float, float]:
    """(value, percentile used): the nearest-rank ``q`` percentile when
    at least ten samples lie above it, else the highest percentile that
    has ten above it.  Below 20 samples that percentile would fall under
    the median, so the maximum is reported instead."""
    xs = sorted(values)
    n = len(xs)
    if n < 20:
        return xs[-1], 100.0
    rank = min(-(-q * n // 100), n - 10)  # 1-based nearest rank
    return xs[int(rank) - 1], 100.0 * rank / n


def median(values) -> float:
    return statistics.median(values)


def run(spark, ss, entry, args, root: str, work: str, cpus: int, record: dict) -> dict:
    """Run one batch workload: a first pass in the fresh session,
    ``SETTLE_PASSES`` unmeasured passes, then measured warm passes (at
    least ``WARM_PASSES``) until ``args.seconds`` have passed since the
    first pass ended, and in an untraced run until the latest pass is no
    longer the fastest (at most ``MAX_WARM_PASSES``).  In a traced run the
    measured passes alternate untraced and traced, starting and ending
    untraced."""
    wl = WORKLOADS[args.workload]
    names = list(wl["pipelines"])
    t = time.perf_counter()
    tables = sorted({name for used in wl["pipelines"].values() for name in used})
    sf_dir = inputs.batch_tables(root, work, args.seed, wl["sf"], tables)
    fp = inputs.fingerprint(sf_dir)
    record.update(sf=wl["sf"], pipelines=names, testdata_fingerprint=fp,
                  inputs_s=time.perf_counter() - t)
    t = time.perf_counter()
    oracle, signature = oracle_signatures(root, entry, sf_dir, names, cpus)
    record["oracle_s"] = time.perf_counter() - t

    tracer = None
    if args.trace:
        import tracing

        tracer = tracing.Tracer(spark)
        tracing.instrument(tracer, ss.Component, {
            "load_table": ("io", ss.load_table), "spread": ("io", ss.spread),
        })
    run = BatchRun(spark, entry, ss.release_caches, sf_dir, names, oracle, signature, tracer)

    def one_pass(label: str, traced: bool, check_oracle: bool = False) -> dict:
        n_released = len(run.released)
        if tracer:
            tracer.enabled = traced
            with tracer.span("pass", label) as span:
                times = run.run_pass(check_oracle)
            tracer.enabled = False
        else:
            span, times = None, run.run_pass(check_oracle)
        p = {"label": label, "traced": traced, "times": times, "wall_s": pass_wall(times),
             "released": sum(run.released[n_released:])}
        if span is not None:
            tracer.attach_spark()
            p["span"] = span
            p["leaked_rdds"] = spark.sparkContext._jsc.getPersistentRDDs().size()
        return p

    t = time.perf_counter()
    first = one_pass("first", tracer is not None, check_oracle=True)
    record["first_pass_with_checks_s"] = time.perf_counter() - t
    deadline = time.perf_counter() + args.seconds
    settle = [one_pass(f"settle{i}", False) for i in range(SETTLE_PASSES)]
    # a traced run brackets each traced pass between untraced ones, so
    # the warm-up trend across passes cancels out of the overhead
    min_passes = 2 * WARM_PASSES - 1 if tracer else WARM_PASSES
    warm = []

    def still_warming() -> bool:
        walls = [p["wall_s"] for p in warm]
        return tracer is None and len(warm) < MAX_WARM_PASSES and walls[-1] == min(walls)

    while len(warm) < min_passes or time.perf_counter() < deadline or still_warming():
        warm.append(one_pass(f"warm{len(warm)}", tracer is not None and len(warm) % 2 == 1))
    record["first_pass_s"] = first["wall_s"]
    record["passes"] = [{k: v for k, v in p.items() if k != "span"} for p in [first] + settle + warm]
    record["failures"] = run.failures
    out = {"attempted": run.attempted, "failed": len(run.failures)}

    plain = [p for p in warm if not p["traced"]]
    # each pipeline's warm-min over the measured passes (the repository's
    # bench.py convention): noise from neighbours only ever slows a pass,
    # and the driver's JIT still speeds up the later passes a little
    runs: dict[str, list[float]] = {}
    for p in plain:
        for name, (b, e) in p["times"].items():
            runs.setdefault(name, []).append(b + e)
    typical = {name: min(ts) for name, ts in runs.items()}
    wall = sum(typical.values())
    record["warm_median_wall_s"] = sum(median(ts) for ts in runs.values())
    rows = sum(fp[name]["rows"] for used in wl["pipelines"].values() for name in used)
    lat = list(typical.values()) or [0.0]
    p50 = median(lat)
    tail, tail_pct = percentile(lat, 99)
    record.update(latency_samples=len(lat), latency_tail_percentile=tail_pct, input_rows_per_pass=rows)
    out["end_to_end"] = {
        "wall_s": {"value": wall, "unit": "s"},
        "events_per_s": {"value": rows / wall if wall else 0.0, "unit": "1/s"},
        "latency_p50_s": {"value": p50, "unit": "s"},
        "latency_p99_s": {"value": tail, "unit": "s"},
    }
    if tracer:
        import tracing

        traced = [p for p in warm if p["traced"]]
        per_pass = [tracing.layer_metrics(tracer, p["span"]) for p in traced]
        keys = set().union(*per_pass)
        layers = {k: median([m.get(k, 0.0) for m in per_pass]) for k in keys}
        layers["cold.first_pass_s"] = first["wall_s"]
        layers["cache.released"] = median([p["released"] for p in traced])
        layers["cache.leaked_rdds"] = traced[-1]["leaked_rdds"]
        layers["trace.overhead_frac"] = median([
            warm[i]["wall_s"] / statistics.fmean([warm[i - 1]["wall_s"], warm[i + 1]["wall_s"]]) - 1.0
            for i in range(1, len(warm) - 1) if warm[i]["traced"]
        ])
        layers["build.share"] = layers.get("build.wall_s", 0.0) / (
            layers.get("build.wall_s", 0.0) + layers.get("exec.wall_s", 0.0) or 1.0)
        record["traced_passes"] = len(traced)
        record["first_pass_layers"] = tracing.layer_metrics(tracer, first["span"])
        record["layers"] = layers
        record["spans"] = tracer.spans
        out["layers"] = layers
    return out
