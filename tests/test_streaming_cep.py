"""Streaming CEP (the reference parcels problem) with event-time
timers, and state recovery across a checkpoint restart — the two
Spark-native guarantees that replace the reference's tick stream and
supervision tree (SURVEY §3.4, §7.2.5)."""

import os
import random
import shutil
import tempfile

import pandas as pd
import pytest

from strom_spark import Flow
from strom_spark.streaming.cep import _BUCKETS, StreamingMatchDecide, ALL_SHIPPED, THRESHOLD
from strom_spark.streaming.control import run_available
from strom_spark.streaming.stateful import StreamingStatefulTransformer, count_window_kernel

T0 = pd.Timestamp("2024-01-01 00:00:00")
MIN = pd.Timedelta(minutes=1)


def _write(path, rows):
    pd.DataFrame(
        rows, columns=["order_id", "type", "expected", "ts"]
    ).astype({"order_id": "int64", "expected": "int64", "ts": "datetime64[us]"}).to_parquet(path)


def _many_order_stream(seed, n_orders=320, n_files=6, timeout_min=60):
    """A seeded order/parcel stream over ``n_files`` files plus the
    decision each order must get.

    Orders of file ``f`` sit on day ``3 * f``, so with a one-day
    watermark delay each file's undecided orders expire while the next
    file is read, and every on-time parcel arrives before that.  The
    mix holds complete, short and late-parcel orders, zero-parcel
    orders (``expected`` 0 and 1+), parcels staged one file before
    their order (on-time and late), identical duplicate ORDER events of
    open orders, and a duplicate ORDER plus an extra parcel one file
    after an order is decided.  Rows are shuffled within each file.

    The decision rule: ALL_SHIPPED iff the parcels with
    ``ts <= order_ts + timeout`` reach ``expected``, else THRESHOLD."""
    rng = random.Random(seed)
    files = [[] for _ in range(n_files)]
    orders, parcels = {}, {}
    for oid in range(1, n_orders + 1):
        f = rng.randrange(n_files)
        ots = T0 + pd.Timedelta(days=3 * f) + rng.randrange(120) * MIN
        on_time = lambda: ots + rng.randrange(timeout_min + 1) * MIN
        late = lambda: ots + (timeout_min + 1 + rng.randrange(60)) * MIN
        kind = rng.choice(["complete", "short", "late", "zero", "early", "dup_open", "dup_decided"])
        expected = rng.randint(1, 3)
        own, before, after = [], [], []
        if kind == "complete":
            own = [on_time() for _ in range(expected + rng.randrange(2))]
        elif kind == "short":
            own = [on_time() for _ in range(expected - 1)]
        elif kind == "late":
            own = [on_time() for _ in range(expected - 1)] + [late()]
        elif kind == "zero":
            expected = rng.choice([0, expected])
        elif kind == "early" and f > 0:
            before = [on_time() for _ in range(expected - 1)] + [rng.choice([on_time, late])()]
        elif kind == "dup_open":
            own = [on_time() for _ in range(expected - rng.randrange(2))]
            files[f].append((oid, "ORDER_CREATED", expected, ots))
        elif kind == "dup_decided" and f < n_files - 1:
            own = [on_time() for _ in range(expected)]
            after = [rng.choice([on_time, late])()]
            files[f + 1].append((oid, "ORDER_CREATED", expected, ots))
        orders[oid] = (expected, ots)
        parcels[oid] = own + before + after
        files[f].append((oid, "ORDER_CREATED", expected, ots))
        for where, tss in ((f, own), (f - 1, before), (f + 1, after)):
            if tss:
                files[where].extend((oid, "PARCEL_SHIPPED", 0, ts) for ts in tss)
    for rows in files:
        rng.shuffle(rows)
    deadline = pd.Timedelta(minutes=timeout_min)
    want = {
        oid: ALL_SHIPPED if sum(p <= ots + deadline for p in parcels[oid]) >= e else THRESHOLD
        for oid, (e, ots) in orders.items()
    }
    return files, want


def _stage(d, files, first):
    """Write ``files`` as f{first}.parquet, ... with strictly increasing
    modification times, so ``maxFilesPerTrigger=1`` reads them in order."""
    for i, rows in enumerate(files, start=first):
        path = f"{d}/f{i:02d}.parquet"
        _write(path, rows)
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))


_TICK = [(-1, "TICK", 0, T0 + pd.Timedelta(days=1000))]


def _state_rows(progress):
    return [p["stateOperators"][0]["numRowsTotal"] for p in progress if p["stateOperators"]]


def test_many_orders_share_buckets_and_match_rule(spark):
    """Hundreds of orders, many per hash bucket, over a multi-file
    stream: every order decides exactly once, as the on-time-count
    rule says, and the state never holds more than one row per
    bucket."""
    files, want = _many_order_stream(seed=5)
    assert len(want) >= 8 * _BUCKETS
    d = tempfile.mkdtemp(prefix="strom_cep_many_")
    try:
        _stage(d, files + [_TICK], first=0)
        schema = "order_id bigint, type string, expected bigint, ts timestamp"
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
            .withWatermark("ts", "1 day")
        )
        flow = StreamingMatchDecide(
            "events", "decisions", key="order_id", timeout_s=3600
        )(Flow({"events": stream}))
        q = run_available(flow["decisions"], query_name="t_cep_many", output_mode="append")
        rows = spark.sql("SELECT * FROM t_cep_many").collect()
        ids = [r.order_id for r in rows]
        assert len(ids) == len(set(ids)), "an order was decided twice"
        assert {r.order_id: r.decision for r in rows} == want
        assert set(want.values()) == {ALL_SHIPPED, THRESHOLD}
        # one state row per bucket in every trigger, never one per order
        rows_total = _state_rows(q.recentProgress)
        assert rows_total and max(rows_total) <= _BUCKETS
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_bucketed_state_survives_restart_and_empties(spark):
    """Stop after half the files, restart from the checkpoint with the
    rest plus the closing tick: the two runs together decide every
    order once, as the rule says, and once the tick's follow-up batch
    has expired every order and tombstone the state is empty (a tick
    key keeps no state row)."""
    files, want = _many_order_stream(seed=11)
    d = tempfile.mkdtemp(prefix="strom_cep_restart_")
    try:
        src, out, ckpt = f"{d}/src", f"{d}/out", f"{d}/ckpt"
        os.makedirs(src)
        schema = "order_id bigint, type string, expected bigint, ts timestamp"

        def run_once():
            stream = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
                .withWatermark("ts", "1 day")
            )
            flow = StreamingMatchDecide(
                "events", "decisions", key="order_id", timeout_s=3600
            )(Flow({"events": stream}))
            q = (
                flow["decisions"]
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(300)
            return q

        half = len(files) // 2
        _stage(src, files[:half], first=0)
        q1 = run_once()
        assert 0 < max(_state_rows(q1.recentProgress)) <= _BUCKETS
        _stage(src, files[half:] + [_TICK], first=half)
        q2 = run_once()

        rows = spark.read.parquet(out).collect()
        ids = [r.order_id for r in rows]
        assert len(ids) == len(set(ids)), "an order was decided twice"
        assert {r.order_id: r.decision for r in rows} == want
        assert q2.lastProgress["numInputRows"] == 0  # the tick's follow-up batch
        assert q2.lastProgress["stateOperators"][0]["numRowsTotal"] == 0
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_parcels_decide_with_event_time_timeout(spark):
    d = tempfile.mkdtemp(prefix="strom_cep_")
    try:
        # batch 1: orders 1,2,3,5,6 + on-time parcels; order 4's parcel
        # arrives BEFORE its order (out-of-order across batches)
        _write(
            f"{d}/f1.parquet",
            [
                (1, "ORDER_CREATED", 2, T0),
                (2, "ORDER_CREATED", 1, T0),
                (3, "ORDER_CREATED", 2, T0),
                (5, "ORDER_CREATED", 1, T0),
                (6, "ORDER_CREATED", 2, T0),
                (1, "PARCEL_SHIPPED", 0, T0 + 10 * MIN),
                (1, "PARCEL_SHIPPED", 0, T0 + 20 * MIN),
                (3, "PARCEL_SHIPPED", 0, T0 + 10 * MIN),
                (4, "PARCEL_SHIPPED", 0, T0 + 30 * MIN),
                (5, "PARCEL_SHIPPED", 0, T0 + 15 * MIN),
                (6, "PARCEL_SHIPPED", 0, T0 + 10 * MIN),
            ],
        )
        # batch 2: order 4 arrives (completes), order 2's parcel is
        # late, order 6's second on-time parcel completes it
        _write(
            f"{d}/f2.parquet",
            [
                (4, "ORDER_CREATED", 1, T0),
                (2, "PARCEL_SHIPPED", 0, T0 + 120 * MIN),
                (6, "PARCEL_SHIPPED", 0, T0 + 20 * MIN),
            ],
        )
        # batch 3: a far-future tick advances the watermark so order 3
        # (missing a parcel forever) times out via its event-time timer
        _write(f"{d}/f3.parquet", [(-1, "TICK", 0, T0 + pd.Timedelta(days=10))])

        schema = "order_id bigint, type string, expected bigint, ts timestamp"
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
            .withWatermark("ts", "1 second")
        )
        flow = StreamingMatchDecide(
            "events", "decisions", key="order_id", timeout_s=3600
        )(Flow({"events": stream}))
        run_available(flow["decisions"], query_name="t_cep", output_mode="append")
        got = {
            r.order_id: r.decision for r in spark.sql("SELECT * FROM t_cep").collect()
        }
        assert got == {
            1: ALL_SHIPPED,
            2: THRESHOLD,  # parcel arrived past the 1h deadline
            3: THRESHOLD,  # parcel never arrived: event-time timer fired
            4: ALL_SHIPPED,  # parcel before order: state accumulated
            5: ALL_SHIPPED,
            6: ALL_SHIPPED,  # on-time count carried across batches
        }
        # the reference's invariant (parcels_test.exs:304)
        assert len(got) == 6
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_rocksdb_state_store_differential(spark):
    """use_state_store('rocksdb') (r11): the keyed CEP state machine
    under the RocksDB provider must produce the exact decision set the
    default (HDFS-backed in-memory) provider does — the toggle is a
    backend swap, never a semantics change.  RocksDB is the
    recommended default for large keyed state (measured -13% at sf1.0,
    SCALE.md)."""
    from strom_spark import use_state_store
    from strom_spark.session import ROCKSDB_PROVIDER

    d = tempfile.mkdtemp(prefix="strom_cep_rocks_")
    try:
        _write(
            f"{d}/f1.parquet",
            [
                (1, "ORDER_CREATED", 2, T0),
                (2, "ORDER_CREATED", 1, T0),
                (1, "PARCEL_SHIPPED", 0, T0 + 10 * MIN),
                (1, "PARCEL_SHIPPED", 0, T0 + 20 * MIN),
                (2, "PARCEL_SHIPPED", 0, T0 + 120 * MIN),
            ],
        )
        _write(f"{d}/f2.parquet", [(-1, "TICK", 0, T0 + pd.Timedelta(days=10))])
        schema = "order_id bigint, type string, expected bigint, ts timestamp"

        def run(name):
            stream = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(d)
                .withWatermark("ts", "1 second")
            )
            flow = StreamingMatchDecide(
                "events", "decisions", key="order_id", timeout_s=3600
            )(Flow({"events": stream}))
            run_available(flow["decisions"], query_name=name, output_mode="append")
            return {
                r.order_id: r.decision
                for r in spark.sql(f"SELECT * FROM {name}").collect()
            }

        base = run("t_cep_mem")
        use_state_store(spark, "rocksdb")
        try:
            assert (
                spark.conf.get("spark.sql.streaming.stateStore.providerClass")
                == ROCKSDB_PROVIDER
            )
            rocks = run("t_cep_rocks")
        finally:
            use_state_store(spark, "memory")
        assert rocks == base == {1: ALL_SHIPPED, 2: THRESHOLD}
        with pytest.raises(ValueError, match="rocksdb"):
            use_state_store(spark, "bogus")
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_stream_join_with_watermark(spark):
    """The reference's order-parcel re-ordering (parcels_test.exs:
    106-142, an explicit force_order stage) is native in Spark: a
    watermarked stream-stream equi-join pairs parcels with their order
    regardless of arrival order."""
    from pyspark.sql import functions as F

    from strom_spark import Flow, Join

    d = tempfile.mkdtemp(prefix="strom_ssj_")
    try:
        import os

        os.makedirs(f"{d}/orders"), os.makedirs(f"{d}/parcels")
        _write(
            f"{d}/orders/f.parquet",
            [(i, "ORDER_CREATED", 1 + i % 3, T0) for i in range(1, 21)],
        )
        _write(
            f"{d}/parcels/f.parquet",
            [(i, "PARCEL_SHIPPED", 0, T0 + (i % 7) * MIN) for i in range(1, 21) for _ in range(1 + i % 3)],
        )
        schema = "order_id bigint, type string, expected bigint, ts timestamp"

        def rs(name):
            return (
                spark.readStream.schema(schema)
                .parquet(f"{d}/{name}")
                .withWatermark("ts", "1 hour")
            )

        orders = rs("orders").select(
            F.col("order_id").alias("o_id"), F.col("expected"), F.col("ts").alias("o_ts")
        )
        parcels = rs("parcels").select("order_id", F.col("ts").alias("p_ts"))
        flow = Join(
            "parcels",
            "orders",
            "matched",
            on=[
                F.col("order_id") == F.col("o_id"),
                F.col("p_ts") >= F.col("o_ts"),
                F.col("p_ts") <= F.col("o_ts") + F.expr("INTERVAL 1 DAY"),
            ],
        )(Flow({"orders": orders, "parcels": parcels}))
        assert flow["matched"].isStreaming
        run_available(flow["matched"], query_name="t_ssj")
        n = spark.sql("SELECT count(*) AS n FROM t_ssj").collect()[0].n
        expected_parcels = sum(1 + i % 3 for i in range(1, 21))
        assert n == expected_parcels
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_feedback_loop(spark):
    """The reference Loop example (loop_test.exs:41-57: numbers cycle
    through +1 until >= 10) as a streaming feedback edge."""
    from pyspark.sql import functions as F

    from strom_spark.streaming.control import feedback_loop

    d = tempfile.mkdtemp(prefix="strom_loop_")
    try:
        seed = spark.createDataFrame([(i,) for i in range(1, 6)], "value long")
        out = feedback_loop(
            spark,
            seed,
            body=lambda df: df.withColumn("value", F.col("value") + 1),
            exit_when=F.col("value") >= 10,
            workdir=d,
        )
        assert [r.value for r in out.collect()] == [10] * 5
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_live_pipeline_edit_via_checkpoint_restart(spark):
    """The reference's live insert-while-running
    (lib/composite/manipulations.ex, insert_components_test.exs:10-47)
    maps to: stop query -> Pipeline.insert(new component) -> restart
    from the same checkpoint.  Keyed state survives the topology edit;
    only post-edit data sees the new component."""
    import os

    from pyspark.sql import functions as F

    from strom_spark import Filter, Pipeline

    d = tempfile.mkdtemp(prefix="strom_edit_")
    try:
        src, out, ckpt = f"{d}/src", f"{d}/out", f"{d}/ckpt"
        os.makedirs(src)
        pd.DataFrame({"k": ["a"] * 7, "value": range(1, 8)}).to_parquet(f"{src}/p1.parquet")

        stateful = StreamingStatefulTransformer(
            "s",
            count_window_kernel(5),
            schema="window_index bigint, n bigint, sum_value double, avg_value double",
            key_by=["k"],
            order_by=["value"],
        )
        pipeline = Pipeline([stateful])

        def run(p):
            stream = spark.readStream.schema("k string, value bigint").parquet(src)
            flow = p(Flow({"s": stream}))
            q = (
                flow["s"]
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

        run(pipeline)  # window 0 emitted; 6,7 buffered in state
        # LIVE EDIT: drop odd values before the stateful stage
        edited = pipeline.insert(0, Filter("s", F.col("value") % 2 == 0))
        pd.DataFrame({"k": ["a"] * 6, "value": range(8, 14)}).to_parquet(f"{src}/p2.parquet")
        run(edited)  # only evens 8,10,12 reach the kernel: 6,7,8,10,12

        rows = sorted(spark.read.parquet(out).collect(), key=lambda r: r.window_index)
        assert [(r.window_index, r.n, r.sum_value) for r in rows] == [
            (0, 5, 15.0),  # pre-edit: 1+2+3+4+5
            (1, 5, 43.0),  # spans the edit: 6+7 (old state) + 8+10+12
        ]
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_checkpoint_restart_carries_state(spark):
    """Stop a stateful query mid-stream, restart from the checkpoint:
    keyed state (a half-full count window) survives — Spark's upgrade
    over the reference's crash semantics, which drop the in-flight
    chunk (crash_test.exs:34-58, SURVEY §7.4.2)."""
    d = tempfile.mkdtemp(prefix="strom_ckpt_")
    try:
        src, out, ckpt = f"{d}/src", f"{d}/out", f"{d}/ckpt"
        import os

        os.makedirs(src)
        pd.DataFrame({"k": ["a"] * 7, "value": range(1, 8)}).to_parquet(f"{src}/p1.parquet")

        def run_once():
            stream = spark.readStream.schema("k string, value bigint").parquet(src)
            flow = StreamingStatefulTransformer(
                "s",
                count_window_kernel(5),
                schema="window_index bigint, n bigint, sum_value double, avg_value double",
                key_by=["k"],
                order_by=["value"],
            )(Flow({"s": stream}))
            q = (
                flow["s"]
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

        run_once()  # window 0 = values 1..5; 6,7 buffered in state
        pd.DataFrame({"k": ["a"] * 5, "value": range(8, 13)}).to_parquet(f"{src}/p2.parquet")
        run_once()  # restart: state must still hold 6,7 -> window 1 = 6..10

        rows = sorted(spark.read.parquet(out).collect(), key=lambda r: r.window_index)
        assert [(r.window_index, r.n, r.avg_value) for r in rows] == [
            (0, 5, 3.0),
            (1, 5, 8.0),
        ]
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_decided_order_is_tombstoned_not_reopened(spark):
    """A late/duplicate event for an already-decided order must not
    re-open it or emit a second (contradictory) decision: the decision
    leaves a tombstone in state, GC'd by its own event-time timer.
    (Without the tombstone, a duplicate ORDER + late parcel would emit
    a second ALL_PARCELS_SHIPPED, and the re-created state would leak
    forever.)"""
    d = tempfile.mkdtemp(prefix="strom_cep_tomb_")
    try:
        # batch 1: order 1 completes -> ALL_SHIPPED decided
        _write(
            f"{d}/f1.parquet",
            [
                (1, "ORDER_CREATED", 1, T0),
                (1, "PARCEL_SHIPPED", 0, T0 + 10 * MIN),
            ],
        )
        # batch 2: duplicate ORDER + another parcel for the decided
        # order — would re-complete (or exceed the threshold) if state
        # had been dropped instead of tombstoned
        _write(
            f"{d}/f2.parquet",
            [
                (1, "ORDER_CREATED", 1, T0),
                (1, "PARCEL_SHIPPED", 0, T0 + 20 * MIN),
            ],
        )
        # batch 3: far-future tick fires every pending timer — a leaked
        # undecided state would now emit a spurious THRESHOLD
        _write(f"{d}/f3.parquet", [(-1, "TICK", 0, T0 + pd.Timedelta(days=10))])

        schema = "order_id bigint, type string, expected bigint, ts timestamp"
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
            .withWatermark("ts", "1 second")
        )
        flow = StreamingMatchDecide(
            "events", "decisions", key="order_id", timeout_s=3600
        )(Flow({"events": stream}))
        run_available(flow["decisions"], query_name="t_cep_tomb", output_mode="append")
        rows = spark.sql("SELECT * FROM t_cep_tomb").collect()
        assert [(r.order_id, r.decision) for r in rows] == [(1, ALL_SHIPPED)]
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_late_parcel_in_earlier_batch_than_order(spark):
    """The r10 advice scenario: a LATE parcel (ts past what will become
    the deadline) lands in an earlier micro-batch than its
    ORDER_CREATED event.  A raw arrived-counter would credit it when
    the order event sets `expected` and wrongly decide ALL_SHIPPED;
    the kernel must buffer pre-order parcel timestamps and re-classify
    them against the deadline once the order sets it, so the decision
    matches the batch (global event-time order) rule under ANY
    maxFilesPerTrigger split."""
    d = tempfile.mkdtemp(prefix="strom_cep_late_")
    try:
        # batch 1: parcels only — order 10's second parcel is 2h after
        # the order time (deadline will be 1h), order 11's is on time
        _write(
            f"{d}/f1.parquet",
            [
                (10, "PARCEL_SHIPPED", 0, T0 + 10 * MIN),
                (10, "PARCEL_SHIPPED", 0, T0 + 120 * MIN),
                (11, "PARCEL_SHIPPED", 0, T0 + 5 * MIN),
            ],
        )
        # batch 2: the orders arrive AFTER their parcels
        _write(
            f"{d}/f2.parquet",
            [
                (10, "ORDER_CREATED", 2, T0),
                (11, "ORDER_CREATED", 1, T0),
            ],
        )
        # batch 3: far-future tick fires order 10's deadline timer
        _write(f"{d}/f3.parquet", [(-1, "TICK", 0, T0 + pd.Timedelta(days=10))])

        schema = "order_id bigint, type string, expected bigint, ts timestamp"
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
            .withWatermark("ts", "1 second")
        )
        flow = StreamingMatchDecide(
            "events", "decisions", key="order_id", timeout_s=3600
        )(Flow({"events": stream}))
        run_available(flow["decisions"], query_name="t_cep_late", output_mode="append")
        got = {
            r.order_id: r.decision
            for r in spark.sql("SELECT * FROM t_cep_late").collect()
        }
        assert got == {
            10: THRESHOLD,  # only 1 of 2 parcels on time — late one must NOT count
            11: ALL_SHIPPED,  # pre-order parcel re-classified as on time
        }
    finally:
        shutil.rmtree(d, ignore_errors=True)


@pytest.mark.parametrize("name", ["cep_order_fulfillment_stream"])
def test_cep_stream_memo_survives_release_caches(spark, sf_dir, name):
    """The registered CEP stream query memoizes its drained result for
    later calls in the same process.  That memo must be something
    release_caches() does not free: a second call after the release
    returns the same decisions, and no RDD is left persisted."""
    import __spark_entry__ as entry
    from strom_spark import release_caches

    query = entry.queries()[name]
    entry._CEP_STREAM_CACHE.clear()  # the first call below drains
    release_caches()
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    first = sorted(tuple(r) for r in query(spark, sf_dir).collect())
    release_caches()
    second = sorted(tuple(r) for r in query(spark, sf_dir).collect())

    assert first and first == second
    assert set(spark.sparkContext._jsc.getPersistentRDDs().keySet()) - before == set()
