"""Bucketed co-located joins (exchange-free) and salted skew joins —
the 100 TB fact-fact join toolkit (SCALE.md)."""

import contextlib
import io
import os
import random

import pytest
from pyspark.sql import functions as F

from strom_spark.scale import salted_join, write_bucketed


def _plan(df):
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_bucketed_join_is_exchange_free(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    write_bucketed(orders, "b_orders", bucket_by=["o_orderkey"], num_buckets=8, sort_by=["o_orderkey"])
    write_bucketed(
        lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
        "b_lineitem",
        bucket_by=["o_orderkey"],
        num_buckets=8,
        sort_by=["o_orderkey"],
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("b_orders").join(spark.table("b_lineitem"), "o_orderkey")
        tree = _plan(joined).split("\n\n")[0]
        # co-located buckets: the join runs with ZERO exchanges
        assert "Exchange" not in tree
        assert joined.count() == lineitem.count()
        # and the joined ANSWER matches the plain parquet join, grouped
        grouped = joined.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n")
        )
        expect = {
            (r.o_orderpriority, r.n)
            for r in orders.join(
                lineitem, orders.o_orderkey == lineitem.l_orderkey
            )
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        assert {(r.o_orderpriority, r.n) for r in grouped.collect()} == expect

        # bucket PRUNING: an equality filter on the bucket key scans 1
        # of the 8 buckets.  autoBucketedScan disables bucketed reads
        # for join-less scans, so pin it on to observe the pruning.
        spark.conf.set(
            "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false"
        )
        try:
            some_key = orders.select("o_orderkey").head()[0]
            pruned = _plan(
                spark.table("b_orders").filter(F.col("o_orderkey") == some_key)
            )
            assert "SelectedBucketsCount: 1 out of 8" in pruned, pruned
        finally:
            spark.conf.set(
                "spark.sql.sources.bucketing.autoBucketedScan.enabled", "true"
            )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    """Hive-style partitioned parquet write (the events-by-type layout
    a 100 TB event store uses, typically by date) and the matching
    read-side guarantee: a filter on the partition column appears under
    PartitionFilters in the scan — non-matching directories are never
    opened, so scan cost is proportional to the SELECTED partitions."""
    import shutil

    out = str(tmp_path / "events_by_type")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.write.partitionBy("event_type").parquet(out)

    back = spark.read.parquet(out)
    q = back.filter(F.col("event_type") == "click").agg(
        F.count(F.lit(1)).alias("n")
    )
    plan = _plan(q)
    assert "PartitionFilters" in plan
    pf_line = next(
        line for line in plan.splitlines() if "PartitionFilters" in line
    )
    assert "event_type" in pf_line, pf_line
    assert q.head()[0] == ev.filter("event_type = 'click'").count()
    shutil.rmtree(out, ignore_errors=True)


def test_salted_join_equals_plain_join(spark):
    # pathological skew: 90% of left rows share one key
    left = spark.createDataFrame(
        [(1 if i % 10 else i, i) for i in range(1000)], "k long, v long"
    )
    right = spark.createDataFrame([(i, f"r{i}") for i in range(100)], "k long, name string")
    plain = left.join(right, "k").select("k", "v", "name")
    salted = salted_join(left, right, ["k"], salt=8).select("k", "v", "name")
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))
    # the salt really spreads the hot key across partitions
    l = left.withColumn(
        "__salt", F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(8))
    )
    n_sub = l.filter("k = 1").select("__salt").distinct().count()
    assert n_sub >= 6


def test_salted_join_rejects_right_outer(spark):
    df = spark.range(4)
    import pytest as _pytest
    from strom_spark.scale import salted_join
    with _pytest.raises(ValueError, match="salted_join does not support"):
        salted_join(df, df, ["id"], how="right")
    with _pytest.raises(ValueError, match="salted_join does not support"):
        salted_join(df, df, ["id"], how="full")


def test_runtime_bloom_filter_join_fires(spark, sf_dir):
    """Spark's runtime bloom-filter join reduction is ON in the session
    (spark.sql.optimizer.runtime.bloomFilter.enabled): a selective
    filter on one join side injects a bloom filter that prunes the
    other side's shuffle BEFORE the join.  At the local test scale the
    10 GB application-side threshold keeps it dormant, so the test
    lowers the thresholds to prove the optimization actually fires on
    our join shapes — at 100 TB it engages on its own."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
            "o_orderpriority = '1-URGENT'"
        )
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan, plan
        # and the filtered answer is still exact
        got = {(r.o_orderpriority, r.n) for r in j.collect()}
        plain = (
            spark.read.parquet(f"{sf_dir}/lineitem.parquet")
            .join(
                spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
                    "o_orderpriority = '1-URGENT'"
                ),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        assert got == {(r.o_orderpriority, r.n) for r in plain.collect()}
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_compact_write_targets_file_size(spark, sf_dir, tmp_path):
    """compact_write: file count follows the size estimate and target
    (small target -> several files, huge target -> one), actual sizes
    land within a small factor of the target."""
    import os

    from strom_spark import compact_write, load_table

    li = load_table(spark, sf_dir, "lineitem")
    d1 = str(tmp_path / "compact_small")
    n1 = compact_write(li, d1, target_file_bytes=24 * 1024)
    files1 = [f for f in os.listdir(d1) if f.endswith(".parquet")]
    assert len(files1) == n1 and n1 > 1
    sizes = [os.path.getsize(os.path.join(d1, f)) for f in files1]
    # estimate maps on-disk bytes ~1:1; files land within a small
    # factor of target, and never pathologically tiny
    assert max(sizes) < 4 * 24 * 1024
    assert spark.read.parquet(d1).count() == li.count()

    d2 = str(tmp_path / "compact_one")
    n2 = compact_write(li, d2, target_file_bytes=10 * 1024**3)
    files2 = [f for f in os.listdir(d2) if f.endswith(".parquet")]
    assert n2 == 1 and len(files2) == 1

    with pytest.raises(ValueError, match="target_file_bytes"):
        compact_write(li, d2, target_file_bytes=0)


def test_compact_write_survives_unknown_size_estimate(spark, tmp_path):
    """compact_write on a plan with NO Catalyst size estimate (a
    LogicalRDD from createDataFrame reports the Long.MaxValue
    unknown-stats sentinel): must not ask for ~1.7e10 files — it
    falls back to the input partition count with a warning and still
    writes correctly."""
    import os
    import warnings as _w

    from strom_spark import compact_write

    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(1000)], "id bigint, v string"
    ).repartition(3)
    d = str(tmp_path / "compact_sentinel")
    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        n = compact_write(df, d, target_file_bytes=512 * 1024 * 1024)
    assert n == 3  # fell back to current partition count
    assert any("no usable size estimate" in str(w.message) for w in rec)
    files = [f for f in os.listdir(d) if f.endswith(".parquet")]
    assert len(files) == n
    assert spark.read.parquet(d).count() == 1000

    # a DERIVED plan over the same lineage SCALES the sentinel by
    # column-width ratios — below Long.MaxValue but still absurd; the
    # max_files bound must catch it too
    d2 = str(tmp_path / "compact_sentinel_derived")
    with _w.catch_warnings(record=True) as rec2:
        _w.simplefilter("always")
        n2 = compact_write(df.select("id"), d2, target_file_bytes=64 * 1024)
    assert n2 == 3
    assert any("no usable size estimate" in str(w.message) for w in rec2)
    assert spark.read.parquet(d2).count() == 1000


def test_compact_write_sort_by_tightens_row_group_stats(spark, sf_dir, tmp_path):
    """sort_by clusters rows so parquet row-group min/max ranges are
    near-disjoint — REAL footers via pyarrow, not plan text: the
    summed per-row-group key span of the sorted layout must be a
    small fraction of the unsorted one (which spans ~the whole domain
    in every row group), the mechanism behind row-group pruning for
    range predicates."""
    import pyarrow.parquet as pq

    from strom_spark import compact_write, load_table

    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "ship_days", F.datediff("l_shipdate", F.lit("1992-01-01"))
    )

    def span_sum(path):
        import os

        total = 0
        groups = 0
        for f in os.listdir(path):
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(path, f)).metadata
            idx = md.schema.to_arrow_schema().get_field_index("ship_days")
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                total += st.max - st.min
                groups += 1
        return total, groups

    d_sorted = str(tmp_path / "sorted")
    d_unsorted = str(tmp_path / "unsorted")
    # small row groups so each file holds several (footer stats
    # visible); parquet reads block size from the HADOOP conf, not the
    # SQL conf
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    old_block = hconf.get("parquet.block.size")
    hconf.set("parquet.block.size", str(16 * 1024))
    try:
        compact_write(
            li, d_sorted, target_file_bytes=1024**3, sort_by=["ship_days"]
        )
        compact_write(li, d_unsorted, target_file_bytes=1024**3)
    finally:
        if old_block is None:
            hconf.unset("parquet.block.size")
        else:
            hconf.set("parquet.block.size", old_block)
    s_sorted, g_sorted = span_sum(d_sorted)
    s_unsorted, g_unsorted = span_sum(d_unsorted)
    assert g_sorted > 3 and g_unsorted > 3
    # sorted row groups cover disjoint slices; unsorted ones each span
    # ~the whole domain
    assert s_sorted < 0.25 * s_unsorted


def test_zorder_key_clusters_both_dimensions(spark, tmp_path):
    """zorder_key: sorting by the Morton interleave keeps BOTH columns'
    per-row-group min/max spans bounded, where a single-column sort
    leaves the other column spanning ~its whole domain in every row
    group — real footers via pyarrow."""
    import os

    import pyarrow.parquet as pq

    from strom_spark import compact_write, zorder_key

    df = spark.range(40_000).select(
        (F.xxhash64("id") % 1024).cast("long").alias("x"),
        (F.xxhash64("id", F.lit(1)) % 1024).cast("long").alias("y"),
        F.col("id").alias("payload"),
    ).withColumn("x", F.abs("x")).withColumn("y", F.abs("y"))

    def spans(path, col):
        total, groups = 0, 0
        for f in os.listdir(path):
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(path, f)).metadata
            idx = md.schema.to_arrow_schema().get_field_index(col)
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                total += st.max - st.min
                groups += 1
        return total, groups

    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    old_block = hconf.get("parquet.block.size")
    hconf.set("parquet.block.size", str(16 * 1024))
    try:
        d_z = str(tmp_path / "zorder")
        d_x = str(tmp_path / "xsort")
        z = df.withColumn("zk", zorder_key(["x", "y"], bits=10))
        compact_write(z, d_z, target_file_bytes=1024**3, sort_by=["zk"])
        compact_write(df, d_x, target_file_bytes=1024**3, sort_by=["x"])
    finally:
        if old_block is None:
            hconf.unset("parquet.block.size")
        else:
            hconf.set("parquet.block.size", old_block)

    zx, gz = spans(d_z, "x")
    zy, _ = spans(d_z, "y")
    xx, gx = spans(d_x, "x")
    xy, _ = spans(d_x, "y")
    assert gz > 4 and gx > 4
    # x-sort: tight x, but y spans ~the whole domain per row group
    assert xx < 0.25 * xy
    # z-order: BOTH dimensions bounded — y dramatically tighter than
    # the x-sort's y, while x stays far below full-domain-every-group
    assert zy < 0.5 * xy
    assert zx < 0.5 * xy

    with pytest.raises(ValueError, match="two columns"):
        zorder_key(["x"])
    with pytest.raises(ValueError, match="bigint"):
        zorder_key(["x", "y", "payload"], bits=21)


def test_write_bucketed_fingerprint_skip_and_reregister(spark, sf_dir):
    """Round-7 idempotency contract: same fingerprint + bucket spec =
    NO rewrite (in-session: catalog reuse; cross-session emulated by
    dropping the catalog entry while files stay: EXTERNAL
    re-registration that keeps the join exchange-free); changed
    fingerprint = rewrite.  The orphan guard renames marker-stamped
    stale dirs aside instead of deleting them."""
    import os
    from urllib.parse import urlparse

    from strom_spark.scale import _MARKER

    t = "b_fp_orders"
    spark.sql(f"DROP TABLE IF EXISTS {t}")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    loc = os.path.join(wh, t)

    assert write_bucketed(
        orders, t, bucket_by=["o_orderkey"], num_buckets=4, fingerprint="fp1"
    ) is True
    assert os.path.exists(os.path.join(loc, _MARKER))
    files1 = sorted(os.listdir(loc))

    # same fingerprint, catalog entry live: skipped, files untouched
    assert write_bucketed(
        orders, t, bucket_by=["o_orderkey"], num_buckets=4, fingerprint="fp1"
    ) is False
    assert sorted(os.listdir(loc)) == files1

    # changed fingerprint: rewrite happens (marker updated); the
    # cross-session re-registration branch is covered by
    # test_write_bucketed_external_reregistration_exchange_free
    assert write_bucketed(
        orders.limit(100), t,
        bucket_by=["o_orderkey"], num_buckets=4, fingerprint="fp2",
    ) is True
    import json

    with open(os.path.join(loc, _MARKER)) as f:
        assert json.load(f)["fingerprint"] == "fp2"
    assert spark.table(t).count() == 100

    # orphan guard: no catalog entry + marker-stamped dir -> renamed
    # aside to <loc>.stale, then the write proceeds
    spark.sql(f"DROP TABLE {t}")
    os.makedirs(loc, exist_ok=True)
    with open(os.path.join(loc, _MARKER), "w") as f:
        f.write("{}")
    with open(os.path.join(loc, "junk.parquet"), "w") as f:
        f.write("stale bytes")
    assert write_bucketed(
        orders, t, bucket_by=["o_orderkey"], num_buckets=4, fingerprint="fp3"
    ) is True
    assert os.path.exists(os.path.join(loc + ".stale", "junk.parquet"))
    assert spark.table(t).count() == orders.count()
    spark.sql(f"DROP TABLE {t}")
    import shutil

    shutil.rmtree(loc + ".stale", ignore_errors=True)


def test_write_bucketed_schema_change_defeats_fingerprint_skip(spark, sf_dir):
    """The marker stores the schema DDL: a caller that changes the
    written column set under an UNCHANGED fingerprint must trigger a
    rewrite, not silently reuse old files (which would mis-declare the
    new schema over old data on the cross-session re-register path)."""
    import json
    import os
    import shutil
    from urllib.parse import urlparse

    from strom_spark.scale import _MARKER

    t = "b_schema_orders"
    spark.sql(f"DROP TABLE IF EXISTS {t}")
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    loc = os.path.join(wh, t)
    shutil.rmtree(loc, ignore_errors=True)
    shutil.rmtree(loc + ".stale", ignore_errors=True)
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    two_cols = orders.select("o_orderkey", "o_totalprice")
    three_cols = orders.select("o_orderkey", "o_totalprice", "o_orderstatus")

    assert write_bucketed(
        two_cols, t, bucket_by=["o_orderkey"], num_buckets=4, fingerprint="fp1"
    ) is True
    with open(os.path.join(loc, _MARKER)) as f:
        assert "o_totalprice" in json.load(f)["schema"]
    # same fingerprint + same schema: skip
    assert write_bucketed(
        two_cols, t, bucket_by=["o_orderkey"], num_buckets=4, fingerprint="fp1"
    ) is False
    # same fingerprint, WIDER schema: must rewrite
    assert write_bucketed(
        three_cols, t, bucket_by=["o_orderkey"], num_buckets=4, fingerprint="fp1"
    ) is True
    assert spark.table(t).columns == three_cols.columns
    spark.sql(f"DROP TABLE {t}")
    shutil.rmtree(loc + ".stale", ignore_errors=True)


def test_write_bucketed_external_reregistration_exchange_free(spark, sf_dir):
    """The cross-session ride-free path end-to-end IN-PROCESS: write a
    bucketed table, drop only the catalog entry by converting the
    managed table's files into an external-location table (the same
    DDL write_bucketed's re-registration emits), and verify a
    same-key join off the re-registered table plans ZERO exchanges."""
    import os
    import shutil
    from urllib.parse import urlparse

    ta, tb = "b_ext_orders", "b_ext_lineitem"
    for t in (ta, tb):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_quantity"
    )
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    write_bucketed(
        orders, ta, bucket_by=["o_orderkey"], num_buckets=4, fingerprint="x1"
    )
    write_bucketed(
        li, tb, bucket_by=["o_orderkey"], num_buckets=4, fingerprint="x1"
    )
    # preserve files, drop catalog entries: copy dirs aside, drop
    # managed tables (deletes originals), move the copies back
    for t in (ta, tb):
        loc = os.path.join(wh, t)
        shutil.copytree(loc, loc + ".keep")
        spark.sql(f"DROP TABLE {t}")
        os.rename(loc + ".keep", loc)
    # fresh-catalog call with the SAME fingerprint: must skip the write
    # and re-register EXTERNAL with the bucket spec intact
    assert write_bucketed(
        orders, ta, bucket_by=["o_orderkey"], num_buckets=4, fingerprint="x1"
    ) is False
    assert write_bucketed(
        li, tb, bucket_by=["o_orderkey"], num_buckets=4, fingerprint="x1"
    ) is False
    typ = (
        spark.sql(f"DESCRIBE TABLE EXTENDED {ta}")
        .filter(F.col("col_name") == "Type")
        .first()[1]
    )
    assert typ.strip().upper() == "EXTERNAL"
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table(ta).join(spark.table(tb), "o_orderkey")
        tree = _plan(joined).split("\n\n")[0]
        assert "Exchange" not in tree
        assert joined.count() == li.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    for t in (ta, tb):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(os.path.join(wh, t), ignore_errors=True)


def test_detect_hot_keys_finds_only_the_hot_key(spark):
    """detect_hot_keys (r11): the rows-per-key threshold derived from
    advisoryPartitionSizeInBytes flags exactly the dominating key —
    uniform keys stay below it — and the explicit threshold_rows
    override behaves the same."""
    from strom_spark.scale import detect_hot_keys, estimate_row_bytes

    # 900 rows on key 1, ~1 row on everything else
    left = spark.createDataFrame(
        [(1 if i % 10 else i, i) for i in range(9000)], "k long, v long"
    )
    row_b = estimate_row_bytes(left)
    assert row_b == 16  # two longs
    # advisory sized so the threshold lands between 10 and 8100 rows
    got = detect_hot_keys(left, "k", advisory_bytes=100 * row_b)
    assert got == [1]
    got2 = detect_hot_keys(left, "k", threshold_rows=100)
    assert got2 == [1]
    # threshold above every key -> nothing is hot
    assert detect_hot_keys(left, "k", threshold_rows=10**9) == []
    # max_keys bounds the collect
    two_hot = spark.createDataFrame(
        [((i % 2) + 1, i) for i in range(1000)]
        + [(100 + i, i) for i in range(50)],
        "k long, v long",
    )
    got3 = detect_hot_keys(two_hot, "k", threshold_rows=100, max_keys=1)
    assert got3 == [1] or got3 == [2]


def test_salted_join_auto_hot_keys(spark):
    """hot_keys='auto' (r11): detection feeds the salt list, result is
    row-identical to the plain join; when nothing is hot the join
    degrades to the plain unsalted join."""
    from strom_spark.scale import salted_join as sj

    left = spark.createDataFrame(
        [(1 if i % 10 else i, i) for i in range(9000)], "k long, v long"
    )
    right = spark.createDataFrame(
        [(i, f"r{i}") for i in range(100)], "k long, name string"
    )
    prev = spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB")
    try:
        # 1600B advisory / 16B rows = 100-row threshold -> key 1 is hot
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1600b")
        plain = left.join(right, "k").select("k", "v", "name")
        auto = sj(left, right, ["k"], salt=8, hot_keys="auto").select(
            "k", "v", "name"
        )
        assert sorted(map(tuple, auto.collect())) == sorted(
            map(tuple, plain.collect())
        )
        # nothing hot at the default 64MB advisory -> plain join plan
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB")
        cold = sj(left, right, ["k"], salt=8, hot_keys="auto")
        assert "__salt" not in cold.columns
        assert cold.count() == plain.count()
    finally:
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", prev)

    import pytest as _pytest

    with _pytest.raises(ValueError, match="'typo'"):
        sj(left, right, ["k"], hot_keys="typo")


def test_hot_key_salted_join_equals_plain_join(spark):
    """hot_keys salting (r10): only the listed keys spread/replicate —
    row-identical to the plain join, non-hot right rows are NOT
    replicated, and left outer keeps unmatched left rows exactly
    once."""
    left = spark.createDataFrame(
        [(1 if i % 10 else i, i) for i in range(1000)], "k long, v long"
    )
    right = spark.createDataFrame(
        [(i, f"r{i}") for i in range(100)], "k long, name string"
    )
    plain = left.join(right, "k").select("k", "v", "name")
    hot = salted_join(
        left, right, ["k"], salt=8, hot_keys=[1]
    ).select("k", "v", "name")
    assert sorted(map(tuple, hot.collect())) == sorted(map(tuple, plain.collect()))

    # left outer: unmatched left rows (k >= 100) survive exactly once
    plain_lo = left.join(right, "k", "left").select("k", "v", "name")
    hot_lo = salted_join(
        left, right, ["k"], salt=8, how="left", hot_keys=[1]
    ).select("k", "v", "name")
    assert sorted(map(tuple, hot_lo.collect()), key=str) == sorted(
        map(tuple, plain_lo.collect()), key=str
    )

    import pytest as _pytest

    with _pytest.raises(ValueError, match="single-column"):
        salted_join(left, right, ["k", "v"], hot_keys=[1])


def test_spread_fires_on_single_row_group_file(spark, tmp_path):
    """The r12 decade wall: a big SINGLE-row-group parquet file splits
    into many byte ranges, but only the range holding the row-group
    start produces rows — split count looks healthy while all rows ride
    one task.  spread() must detect the concentration via the parquet
    footer and repartition; a genuinely multi-row-group layout with the
    same split count must stay a no-op (no gratuitous shuffle)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from strom_spark.io import spread

    n = 20_000
    tbl = pa.table(
        {"id": list(range(n)), "text": ["lorem ipsum dolor sit amet " * 8] * n}
    )
    one_rg = str(tmp_path / "one_rg.parquet")
    many_rg = str(tmp_path / "many_rg.parquet")
    target = spark.sparkContext.defaultParallelism
    floor = max(2, target // 2)
    pq.write_table(tbl, one_rg, row_group_size=n, compression="none")
    # healthy file gets ~2*floor row groups whatever the box's
    # parallelism — a fixed divisor fails spuriously when floor > 64
    pq.write_table(
        tbl, many_rg, row_group_size=max(1, n // (2 * floor)), compression="none"
    )
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        # force splits >> floor so the old split-count guard would no-op
        size = __import__("os").path.getsize(one_rg)
        spark.conf.set(
            "spark.sql.files.maxPartitionBytes", str(max(4096, size // (2 * floor)))
        )
        df = spark.read.parquet(one_rg)
        assert df.rdd.getNumPartitions() >= floor  # guard's blind spot
        nonempty = df.rdd.mapPartitions(
            lambda it: [1] if next(iter(it), None) is not None else []
        ).count()
        assert nonempty == 1  # ...hiding total row concentration
        out = spread(df)
        assert out.rdd.getNumPartitions() == target
        assert out.count() == n

        # healthy layout, same split count: spread returns df untouched
        df2 = spark.read.parquet(many_rg)
        assert df2.rdd.getNumPartitions() >= floor
        assert spread(df2) is df2
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)


def test_cache_registry_release(spark):
    """Operator-internal persists register with strom_spark.cache so a
    long-lived session can bulk-release them at pipeline end instead of
    waiting on LRU eviction (r12 advice)."""
    from strom_spark import release_caches
    from strom_spark.cache import pin

    df = pin(spark.range(1000))
    df.count()
    assert df.storageLevel.useMemory
    assert release_caches() >= 1
    assert not (df.storageLevel.useMemory or df.storageLevel.useDisk)
    assert release_caches() == 0  # registry drained, idempotent

    # end-to-end: an auto-mode operator's internal persists are tracked
    from strom_spark.flow import Flow
    from strom_spark.operators.dedup import MinHashLSHPairs

    docs = spark.createDataFrame(
        [{"doc_id": i, "text": f"alpha beta gamma {i} delta epsilon"} for i in range(50)]
    )
    MinHashLSHPairs(
        "d", "p", threshold=0.8, num_hashes=None, rows_per_band=None
    )(Flow({"d": docs}))["p"].count()
    assert release_caches() >= 1


def test_local_cpus_rejects_malformed_value(monkeypatch):
    """SPARK_GRAFT_CPUS is parsed in one place; garbage fails loudly
    with the variable's name instead of a bare int() traceback."""
    from strom_spark.session import local_cpus

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert local_cpus() == 3
    for bad in ("four", "", "0", "-2", "2.5"):
        monkeypatch.setenv("SPARK_GRAFT_CPUS", bad)
        with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
            local_cpus()
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert local_cpus() == (os.cpu_count() or 4)


def test_config_env_vars_match_readme(spark):
    """Knob drift guard: the env vars the library reads are exactly the
    README Configuration list, and the settings whose A/Bs are decided
    resolve to their literal values in the session get_spark() builds."""
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    read = set()
    for dirpath, _, files in os.walk(os.path.join(root, "strom_spark")):
        for f in files:
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f)) as fh:
                    read |= set(re.findall(r'os\.environ\.get\(\s*"(\w+)"', fh.read()))
    with open(os.path.join(root, "README.md")) as fh:
        config = fh.read().split("### Configuration", 1)[1].split("\n#", 1)[0]
    documented = set(re.findall(r"^- `(\w+)` —", config, re.M))
    assert read == documented, (sorted(read), sorted(documented))

    conf = spark.sparkContext.getConf()
    assert conf.get("spark.ui.enabled") == "false"
    assert conf.get("spark.sql.join.preferSortMergeJoin") == "false"
    assert conf.get("spark.io.compression.codec") == "lz4"


def test_release_caches_leaves_cache_manager_empty(spark):
    """Every operator persist goes through strom_spark.cache.pin and
    every lineage cut through strom_spark.cache.cut, so after
    release_caches() the session's CacheManager holds nothing and no
    RDD persisted during the test is left — including the persists
    that used to bypass the registry (the Gopher repetition helper and
    Splitter(cache=True)) and the per-round localCheckpoints of the
    loop operators."""
    from strom_spark import (
        ConnectedComponents,
        Flow,
        GramMatrix,
        Iterate,
        PHashNearDupPairs,
        SimHashDedup,
        Splitter,
        release_caches,
    )
    from strom_spark.functions.text import gopher_repetition_stats

    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    release_caches()
    spark.catalog.clearCache()  # start from an empty cache
    assert cache_manager.isEmpty()
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())

    phashes = spark.createDataFrame(
        [(i, format(i * 0x9E3779B97F4A7C15 % (1 << 64), "064b"))
         for i in range(12)]
        + [(100, "0" * 64), (101, "0" * 63 + "1")],
        "asset_id bigint, phash string",
    )
    pairs = PHashNearDupPairs("p", "pairs", max_distance=2)(Flow({"p": phashes}))
    assert (100, 101) in {(r.id_a, r.id_b) for r in pairs["pairs"].collect()}

    docs = spark.createDataFrame(
        [(1, "a b c a b c a b c\nsame line\nsame line"),
         (2, "one two three four five")],
        "doc_id bigint, text string",
    )
    # persist_min_rows=1 takes the pinned-subtree regime as well
    reps = gopher_repetition_stats(docs, "doc_id", "text", persist_min_rows=1)
    assert reps.count() == 2

    split = Splitter(
        "d", {"odd": "doc_id % 2 = 1", "even": "doc_id % 2 = 0"}, cache=True
    )(Flow({"d": docs}))
    assert split["odd"].count() == 1 and split["even"].count() == 1

    # values 0..4 need 1-5 rounds of +1: a cut after each of 5 rounds
    looped = Iterate(
        "n", body=lambda df: df.withColumn("v", F.col("v") + 1),
        exit_when=F.col("v") >= 5, max_iterations=10, checkpoint_every=1,
    )(Flow({"n": spark.range(40).select("id", (F.col("id") % 5).alias("v"))}))
    assert sorted({r.v for r in looped["n"].collect()}) == [5]

    rng = random.Random(7)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 30, 3)]
        + [(rng.randrange(40, 60), rng.randrange(40, 60)) for _ in range(15)],
        "src bigint, dst bigint",
    )
    comps = ConnectedComponents("e", "c")(Flow({"e": edges}))
    labels = {r.node: r.component for r in comps["c"].collect()}
    assert labels[0] == labels[1] == 0 and labels[3] == 3

    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta"]
    base = " ".join(words * 3)
    texts = [(i, base + f" tail{i % 3}") for i in range(6)] + [
        (10 + i, " ".join(rng.sample(words, 8)) + f" solo{i}") for i in range(4)
    ]
    dedup = SimHashDedup("d", "k", max_distance=3)(
        Flow({"d": spark.createDataFrame(texts, "doc_id bigint, text string")})
    )
    keep = {r.id: r.keep_id for r in dedup["k"].collect()}
    assert len(keep) == 10 and keep[0] == 0

    vecs = spark.createDataFrame(
        [([float(rng.randint(-3, 3)) for _ in range(4)],) for _ in range(12)],
        "embedding array<double>",
    )
    gram = GramMatrix("v", "g", id_col=None)(Flow({"v": vecs}))
    assert gram["g"].count() == 10  # upper triangle of a 4x4 matrix

    assert not cache_manager.isEmpty()
    released = release_caches()
    assert cache_manager.isEmpty()
    assert set(jsc.getPersistentRDDs().keySet()) - before == set()
    # 3 repetition pins, splitter input, ConnectedComponents' edge pin;
    # cuts still held by the outputs above: 5 Iterate rounds, the last
    # ConnectedComponents and SimHashDedup rounds, GramMatrix's ids
    assert released >= 13


def test_spread_idempotent_across_layers(spark, tmp_path):
    """Registry-level spread(load_table(...)) followed by an operator's
    internal _spread must NOT add a second exchange: the row-group
    probe skips any plan that already contains an Exchange (r13
    consolidation — one rebalance discipline, one shuffle)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from strom_spark.io import spread

    n = 20_000
    tbl = pa.table(
        {"id": list(range(n)), "text": ["lorem ipsum dolor sit amet " * 8] * n}
    )
    p = str(tmp_path / "one_rg2.parquet")
    pq.write_table(tbl, p, row_group_size=n, compression="none")
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        import os as _os

        size = _os.path.getsize(p)
        floor = max(2, spark.sparkContext.defaultParallelism // 2)
        spark.conf.set(
            "spark.sql.files.maxPartitionBytes", str(max(4096, size // (2 * floor)))
        )
        df = spark.read.parquet(p)
        once = spread(df)
        assert once is not df  # first layer fires on the 1-row-group scan
        twice = spread(once)
        assert twice is once  # second layer sees the Exchange and no-ops
        # narrow transform between layers: still no second exchange
        sel = once.select("id", "text")
        assert spread(sel) is sel
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)


def test_spread_fires_through_broadcast_join(spark, tmp_path):
    """r14 advice: a BroadcastExchange (tiny dim side of a BHJ) does
    NOT redistribute the probe side — a single-row-group scan
    broadcast-joined to a 3-row dim still rides one task, and the old
    bare-substring 'Exchange' check wrongly treated that plan as
    already spread.  Only SHUFFLE exchanges may suppress the probe."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from strom_spark.io import spread

    n = 20_000
    tbl = pa.table(
        {
            "doc_id": list(range(n)),
            "cat": [i % 3 for i in range(n)],
            "text": ["lorem ipsum dolor sit amet " * 8] * n,
        }
    )
    p = str(tmp_path / "one_rg_bhj.parquet")
    pq.write_table(tbl, p, row_group_size=n, compression="none")
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        import os as _os

        floor = max(2, spark.sparkContext.defaultParallelism // 2)
        size = _os.path.getsize(p)
        spark.conf.set(
            "spark.sql.files.maxPartitionBytes", str(max(4096, size // (2 * floor)))
        )
        dim = spark.createDataFrame(
            [(0, "a"), (1, "b"), (2, "c")], "cat long, name string"
        )
        joined = spark.read.parquet(p).join(F.broadcast(dim), "cat")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" in plan and "hashpartitioning" not in plan
        out = spread(joined)
        assert out is not joined  # broadcast no longer masks the 1-RG scan
        assert out.count() == n
        # a genuine shuffle exchange still suppresses (idempotency)
        assert spread(out) is out
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)


def test_spread_rebalance_key_choice(spark):
    """r14 advice: _rebalance prefers an id-like hash key (payload
    duplicates must not collapse into one partition), falls back to
    every hash-safe column, and to plain round-robin when nothing is
    hashable (MapType raises in Catalyst's hash expression)."""
    from pyspark.sql import functions as F

    from strom_spark.io import spread

    target = spark.sparkContext.defaultParallelism

    # id-like column present: hash key is exactly that subset
    df = spark.range(1000).select(
        F.col("id").alias("doc_id"), F.lit("same payload").alias("text")
    ).coalesce(1)
    out = spread(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(doc_id" in plan
    assert out.rdd.getNumPartitions() == target

    # duplicate payload rows with distinct ids spread evenly, not 1 bucket
    counts = out.rdd.mapPartitions(lambda it: [sum(1 for _ in it)]).collect()
    assert max(counts) < 1000  # would be 1000 if hashed on the payload

    # MapType column: un-hashable -> plain repartition, no exception
    mp = spark.createDataFrame(
        [({"k": i},) for i in range(50)], "m map<string,int>"
    ).coalesce(1)
    out_mp = spread(mp)
    assert out_mp.rdd.getNumPartitions() == target
    assert out_mp.count() == 50

    # map + id column: id is hash-safe, used as the key
    mp_id = spark.createDataFrame(
        [(i, {"k": i}) for i in range(50)], "doc_id long, m map<string,int>"
    ).coalesce(1)
    out_mp_id = spread(mp_id)
    plan2 = out_mp_id._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(doc_id" in plan2
    assert out_mp_id.count() == 50
