"""Superset / routing / ANN ops added beyond the reference surface:
rollup-cube Agg modes, set ops, IVF ANN recall, approx distinct,
SplitterTree hash routing with a custom partition expression, and the
telegram re-batching workload."""

import pytest
from pyspark.sql import functions as F

from strom_spark import (
    Agg,
    CosineTopK,
    Flow,
    IVFTopK,
    SetOp,
    SplitterTree,
)


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_agg_rollup_and_cube(spark):
    rows = [
        {"a": "x", "b": "p", "v": 1},
        {"a": "x", "b": "q", "v": 2},
        {"a": "y", "b": "p", "v": 4},
    ]
    df = spark.createDataFrame(rows)
    roll = Agg("s", "out", by=["a", "b"], mode="rollup", aggs={"s": F.sum("v")})(
        Flow({"s": df})
    )["out"]
    got = {(r["a"], r["b"]): r["s"] for r in roll.collect()}
    assert got[(None, None)] == 7
    assert got[("x", None)] == 3
    assert got[("x", "q")] == 2
    cube = Agg("s", "out", by=["a", "b"], mode="cube", aggs={"s": F.sum("v")})(
        Flow({"s": df})
    )["out"]
    cgot = {(r["a"], r["b"]): r["s"] for r in cube.collect()}
    assert cgot[(None, "p")] == 5  # cube adds the b-only slice


def test_agg_grouping_sets(spark):
    rows = [
        {"a": "x", "b": "p", "v": 1},
        {"a": "x", "b": "q", "v": 2},
        {"a": "y", "b": "p", "v": 4},
    ]
    df = spark.createDataFrame(rows)
    gs = Agg(
        "s",
        "out",
        by=["a", "b"],
        mode="grouping_sets",
        sets=[["a"], []],
        aggs={"s": F.sum("v")},
    )(Flow({"s": df}))["out"]
    got = {(r["a"], r["b"]): r["s"] for r in gs.collect()}
    # exactly the requested sets: per-a subtotals + grand total, no
    # (a, b) detail rows and no b-only slice
    assert got == {("x", None): 3, ("y", None): 4, (None, None): 7}
    import pytest

    with pytest.raises(ValueError, match="sets"):
        Agg("s", "o", by=["a"], mode="grouping_sets", aggs={"s": F.sum("v")})
    with pytest.raises(ValueError, match="sets"):
        Agg("s", "o", by=["a"], sets=[["a"]], aggs={"s": F.sum("v")})


def test_set_ops(spark):
    l = spark.createDataFrame([(1,), (2,), (3,)], ["k"])
    r = spark.createDataFrame([(2,), (3,), (4,)], ["k"])
    inter = SetOp("intersect", "l", "r", "o")(Flow({"l": l, "r": r}))["o"]
    assert sorted(x["k"] for x in inter.collect()) == [2, 3]
    ex = SetOp("except", "l", "r", "o")(Flow({"l": l, "r": r}))["o"]
    assert sorted(x["k"] for x in ex.collect()) == [1]

    # BAG semantics respect multiplicities: m left copies minus n right
    # copies survive except_all max(m-n, 0) times; intersect_all keeps
    # min(m, n); union_all keeps m+n
    lb = spark.createDataFrame([(1,), (1,), (1,), (2,), (3,)], ["k"])
    rb = spark.createDataFrame([(1,), (2,), (2,), (4,)], ["k"])
    exa = SetOp("except_all", "l", "r", "o")(Flow({"l": lb, "r": rb}))["o"]
    assert sorted(x["k"] for x in exa.collect()) == [1, 1, 3]
    ina = SetOp("intersect_all", "l", "r", "o")(Flow({"l": lb, "r": rb}))["o"]
    assert sorted(x["k"] for x in ina.collect()) == [1, 2]
    una = SetOp("union_all", "l", "r", "o")(Flow({"l": lb, "r": rb}))["o"]
    assert una.count() == 9

    import pytest as _pytest
    with _pytest.raises(ValueError, match="op must be"):
        SetOp("xor", "l", "r", "o")


def test_splitter_tree_partition_expr_disjoint_cover(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    bucket = F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10).cast(
        "bigint"
    )
    names = [f"p{i}" for i in range(4)]
    flow = SplitterTree("events", names, mode="hash", partition_expr=bucket)(
        Flow({"events": ev})
    )
    counts = [flow[n].count() for n in names]
    assert sum(counts) == ev.count()  # disjoint cover
    assert all(c > 0 for c in counts)  # md5 spreads


def test_ivf_recall_vs_bruteforce(spark, emb):
    queries = emb.filter(F.col("vec_id") < 10)
    exact = CosineTopK("corpus", "queries", "knn", k=5)(
        Flow({"corpus": emb, "queries": queries})
    )["knn"]
    approx = IVFTopK("corpus", "queries", "ann", k=5, n_centroids=16, n_probe=4)(
        Flow({"corpus": emb, "queries": queries})
    )["ann"]
    truth = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    got = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    # the test embeddings are ~uniform on the sphere (no cluster
    # structure), the worst case for IVF: recall must still clearly
    # beat the scanned-fraction baseline (n_probe/n_centroids = 0.25)
    assert len(got & truth) / len(truth) >= 0.4

    # n_probe == n_centroids degrades to exact brute force
    full = IVFTopK("corpus", "queries", "ann", k=5, n_centroids=8, n_probe=8)(
        Flow({"corpus": emb, "queries": queries})
    )["ann"]
    assert {(r["query_id"], r["neighbor_id"]) for r in full.collect()} == truth


def _assert_simhash_pairs_exact(spark, sf_dir, bits: int, d: int) -> None:
    """SimHashPairs returns EXACTLY the pairs a brute-force Hamming
    over the same packed signatures finds."""
    from itertools import combinations

    from strom_spark.operators.dedup import SimHashPairs, _simhash_sig_int

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sigs = {
        r["id"]: r["sig"]
        for r in _simhash_sig_int(docs, "doc_id", "text", bits).collect()
    }
    expected = set()
    for a, b in combinations(sorted(sigs), 2):
        h = bin((sigs[a] ^ sigs[b]) & (2**64 - 1)).count("1")
        if h <= d:
            expected.add((a, b, h))
    got = {
        (r["d1"], r["d2"], r["hamming"])
        for r in SimHashPairs("docs", "p", max_distance=d, bits=bits)(
            Flow({"docs": docs})
        )["p"].collect()
    }
    assert got == expected


def test_simhash64_block_split_is_exact(spark, sf_dir):
    """64-bit SimHash (the wide-block scale config): the block-split
    candidate machinery must return EXACTLY the pairs a brute-force
    hamming over the same signatures finds (pigeonhole recall proof
    holds for any bit width)."""
    _assert_simhash_pairs_exact(spark, sf_dir, bits=64, d=4)


@pytest.mark.parametrize("bits,d", [(64, 0), (32, 0), (64, 15)])
def test_simhash_pairs_block_layouts_match_brute_force(spark, sf_dir, bits, d):
    """The extreme block layouts the validator accepts — one block
    spanning the whole 64-bit signature (its mask is every bit of a
    signed long), one 32-bit block, sixteen blocks — each return
    exactly the brute-force Hamming pairs."""
    _assert_simhash_pairs_exact(spark, sf_dir, bits, d)


def test_simhash_dedup_full_width_block(spark, sf_dir):
    """SimHashDedup(bits=64, max_distance=0) buckets on the whole
    signature: each doc keeps the least id sharing its exact
    signature."""
    from strom_spark.operators.dedup import SimHashDedup, _simhash_sig_int

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sigs = {
        r["id"]: r["sig"] for r in _simhash_sig_int(docs, "doc_id", "text", 64).collect()
    }
    got = {
        r["id"]: r["keep_id"]
        for r in SimHashDedup("docs", "keep", max_distance=0, bits=64)(
            Flow({"docs": docs})
        )["keep"].collect()
    }
    assert got == {i: min(j for j in sigs if sigs[j] == s) for i, s in sigs.items()}


def test_global_row_number_matches_single_partition(spark, sf_dir):
    """The distributed total-order rank (range partition + prefix
    offsets) must equal the single-partition row_number, and must not
    put everything in one partition."""
    from pyspark.sql import Window as W

    from strom_spark.operators.relational import global_row_number

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    got = global_row_number(ev, ["event_id"], rn_col="rn")
    ref = ev.withColumn("rn", F.row_number().over(W.orderBy("event_id")).cast("bigint"))
    assert sorted((r.event_id, r.rn) for r in got.select("event_id", "rn").collect()) == sorted(
        (r.event_id, r.rn) for r in ref.select("event_id", "rn").collect()
    )
    # the plan must never funnel rows through a single-partition
    # exchange (AQE may still coalesce tiny TEST outputs post-shuffle)
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        got.explain("formatted")
    assert "SinglePartition" not in buf.getvalue()


def test_simhash_dedup_clusters_match_union_find(spark, sf_dir):
    """SimHashDedup's distributed min-label propagation must equal a
    driver-side union-find over the same doc/block-bucket edges —
    and emit one row per doc (linear output; pair enumeration is
    O(cluster²) and is exactly what this operator avoids)."""
    from strom_spark.operators.dedup import SimHashDedup, _simhash_sig_int

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = {
        r["id"]: r["keep_id"]
        for r in SimHashDedup("docs", "keep", max_distance=4)(Flow({"docs": docs}))[
            "keep"
        ].collect()
    }
    sigs = {r["id"]: r["sig"] for r in _simhash_sig_int(docs, "doc_id", "text").collect()}
    # union-find over shared (block_index, block_bits)
    parent = {i: i for i in sigs}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    widths = [6, 6, 6, 6, 8]
    buckets = {}
    for i, sig in sigs.items():
        pos = 0
        for b, w in enumerate(widths):
            pos += w
            bits = (sig >> (32 - pos)) & ((1 << w) - 1)
            buckets.setdefault((b, bits), []).append(i)
    for members in buckets.values():
        for m in members[1:]:
            ra, rb = find(members[0]), find(m)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    expected = {i: min(j for j in sigs if find(j) == find(i)) for i in sigs}
    assert got == expected
    assert len(got) == docs.count()


def test_minhash_dedup_matches_union_find_over_verified_pairs(spark, sf_dir):
    """MinHashDedup = connected components of the VERIFIED LSH pair
    graph: keep_id must equal a driver-side union-find over the exact
    pairs MinHashLSHPairs emits, with isolated docs keeping themselves
    (one row per distinct doc — the precision contrast with
    SimHashDedup's bucket-superset merge)."""
    from strom_spark.operators.dedup import MinHashDedup, MinHashLSHPairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = {
        r["id"]: r["keep_id"]
        for r in MinHashDedup("docs", "keep", threshold=0.8)(Flow({"docs": docs}))[
            "keep"
        ].collect()
    }
    pairs = MinHashLSHPairs("docs", "p", threshold=0.8)(Flow({"docs": docs}))[
        "p"
    ].collect()
    ids = [r["doc_id"] for r in docs.select("doc_id").collect()]
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in pairs:
        ra, rb = find(r["d1"]), find(r["d2"])
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    roots = {i: find(i) for i in ids}
    comp_min: dict[int, int] = {}
    for i, r in roots.items():
        comp_min[r] = min(comp_min.get(r, i), i)
    expected = {i: comp_min[roots[i]] for i in ids}
    assert got == expected
    assert len(got) == len(ids)
    # sanity: at least one real merge exists at this SF, and merged
    # docs merge through verified pairs only
    assert any(k != v for k, v in got.items())


def test_approx_distinct_within_tolerance(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    exact = ev.select(F.countDistinct("user_id").alias("n")).collect()[0]["n"]
    approx = ev.select(F.approx_count_distinct("user_id").alias("n")).collect()[0]["n"]
    assert abs(approx - exact) / exact <= 0.05


def test_rebatch_lines_invariants(spark, sf_dir):
    import __spark_entry__ as entry

    out = entry.queries()["rebatch_lines"](spark, sf_dir).collect()
    assert out
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # every line fits unless it is a single over-long word; text round-trips
    from strom_spark.functions import text as TXT

    norm = {r["doc_id"]: r["n"] for r in docs.select("doc_id", TXT.normalize("text").alias("n")).collect()}
    by_doc = {}
    for r in out:
        assert len(r["line"]) <= 100 or " " not in r["line"]
        by_doc.setdefault(r["doc_id"], []).append((r["line_no"], r["line"]))
    for doc_id, lines in by_doc.items():
        joined = " ".join(l for _, l in sorted(lines))
        assert joined == norm[doc_id]


def test_ivf_index_probe_is_partition_pruned(spark, emb, tmp_path):
    """Persisted IVF index: the probe scan must open only the probed
    centroid partitions (PartitionFilters in the plan), agree with
    exact search when it probes every list, and agree with the
    in-memory IVFTopK at the same pruned config."""
    import contextlib
    import io

    from strom_spark import IVFIndex, ivf_search

    path = str(tmp_path / "ivf_index")
    IVFIndex("corpus", path, n_centroids=8)(Flow({"corpus": emb}))
    queries = emb.filter(F.col("vec_id") < 10)
    got = ivf_search(spark, path, queries, k=5, n_probe=8)  # probe all -> exact
    exact = CosineTopK("corpus", "queries", "knn", k=5)(
        Flow({"corpus": emb, "queries": queries})
    )["knn"]
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, exact.collect()))

    pruned = ivf_search(spark, path, queries, k=5, n_probe=2)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pruned.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "centroid_id" in plan
    assert pruned.count() == 50
    # the index and the in-memory operator build the same lists
    cols = ["query_id", "neighbor_id", "cosine", "rank"]
    inmem = IVFTopK("corpus", "queries", "knn", k=5, n_centroids=8, n_probe=2)(
        Flow({"corpus": emb, "queries": queries})
    )["knn"]
    assert sorted(map(tuple, pruned.select(*cols).collect())) == sorted(
        map(tuple, inmem.select(*cols).collect())
    )


def test_ivf_string_ids_end_to_end(spark, emb, tmp_path):
    """The whole IVF family must work with STRING vector ids — the
    kernels derive the id type from the input schema rather than
    assuming bigint."""
    from strom_spark import IVFIndex, IVFTopK, ivf_search

    semb = emb.select(
        F.concat(F.lit("doc-"), F.col("vec_id")).alias("vec_id"), "embedding"
    )
    queries = semb.filter(F.col("vec_id").isin("doc-1", "doc-2", "doc-3"))
    out = IVFTopK("c", "q", "knn", k=3, n_centroids=8, n_probe=8)(
        Flow({"c": semb, "q": queries})
    )["knn"].collect()
    assert len(out) == 9 and all(r.neighbor_id.startswith("doc-") for r in out)

    path = str(tmp_path / "ivf_sidx")
    IVFIndex("corpus", path, n_centroids=8)(Flow({"corpus": semb}))
    got = ivf_search(spark, path, queries, k=3, n_probe=8).collect()
    assert sorted((r.query_id, r.neighbor_id, r.rank) for r in got) == sorted(
        (r.query_id, r.neighbor_id, r.rank) for r in out
    )


def test_approx_distinct_within_rsd_bound(spark, sf_dir):
    """Quantifies the HLL++ error behind approx_distinct_users (whose
    registered artifact asserts a 5% flag at rsd=0.01 — a 5-sigma
    margin): estimates must sit within the configured relative standard
    deviation of the exact COUNT(DISTINCT) — checked per event_type at
    3x rsd (99.7% band; deterministic for fixed data+implementation)."""
    from pyspark.sql import functions as F

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    rsd = 0.05
    both = (
        events.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd).alias("approx"),
            F.countDistinct("user_id").alias("exact"),
        )
        .collect()
    )
    assert len(both) > 0
    for r in both:
        assert abs(r.approx - r.exact) <= max(3 * rsd * r.exact, 1), (
            r.event_type,
            r.approx,
            r.exact,
        )


def test_asof_join_semantics(spark):
    """Backward as-of join: latest right row at-or-before each left
    row per key; exact matches included; tolerance nulls out stale
    matches (pandas merge_asof semantics, one-shuffle lowering)."""
    import pandas as pd

    from strom_spark import AsofJoin, Flow

    T = pd.Timestamp
    l = spark.createDataFrame(pd.DataFrame({
        "pid": [1, 2, 3, 4],
        "k": ["a", "a", "a", "b"],
        "ts": [T("2024-01-01 00:05"), T("2024-01-01 00:10"),
               T("2024-01-01 00:00"), T("2024-01-01 00:07")],
    }))
    r = spark.createDataFrame(pd.DataFrame({
        "k": ["a", "a", "b"],
        "ts": [T("2024-01-01 00:03"), T("2024-01-01 00:10"), T("2024-01-01 00:08")],
        "cid": [100, 200, 300],
    }))
    out = AsofJoin("l", "r", "o", key="k", value_cols=["cid"])(
        Flow({"l": l, "r": r})
    )["o"]
    got = {row.pid: row.cid for row in out.collect()}
    assert got == {1: 100, 2: 200, 3: None, 4: None}
    # tolerance 60s: pid 1's match is 120s old -> nulled; exact match survives
    out2 = AsofJoin("l", "r", "o", key="k", value_cols=["cid"], tolerance_s=60)(
        Flow({"l": l, "r": r})
    )["o"]
    got2 = {row.pid: row.cid for row in out2.collect()}
    assert got2 == {1: None, 2: 200, 3: None, 4: None}


def test_range_join_point_differential(spark):
    """RangeJoin point mode vs a naive cross-join filter on random
    data: identical pair sets for every bucket width, including widths
    much smaller / larger than the interval lengths."""
    import random

    from strom_spark import Flow, RangeJoin

    rng = random.Random(7)
    pts = [{"pid": i, "p": rng.randint(0, 1000), "g": rng.choice(["a", "b"])}
           for i in range(80)]
    ivs = []
    for i in range(40):
        s = rng.randint(0, 950)
        ivs.append({"iid": i, "s": s, "e": s + rng.randint(0, 120),
                    "g": rng.choice(["a", "b"])})
    want = {(p["pid"], v["iid"])
            for p in pts for v in ivs
            if p["g"] == v["g"] and v["s"] <= p["p"] < v["e"]}
    want_incl = {(p["pid"], v["iid"])
                 for p in pts for v in ivs
                 if p["g"] == v["g"] and v["s"] <= p["p"] <= v["e"]}
    L = spark.createDataFrame(pts)
    R = spark.createDataFrame(ivs)
    for w in (7, 64, 5000):
        out = RangeJoin("L", "R", "o", point="p", right_start="s",
                        right_end="e", bucket=w, extra_on=["g"])(
            Flow({"L": L, "R": R}))["o"]
        assert {(r.pid, r.iid) for r in out.collect()} == want
    out = RangeJoin("L", "R", "o", point="p", right_start="s", right_end="e",
                    bucket=64, extra_on=["g"], end_inclusive=True)(
        Flow({"L": L, "R": R}))["o"]
    assert {(r.pid, r.iid) for r in out.collect()} == want_incl


def test_range_join_overlap_differential(spark):
    """Overlap mode: half-open interval overlap, each pair exactly once
    (canonical-bucket dedup, no dropDuplicates), inverted intervals
    dropped, name collisions rejected."""
    import random

    from strom_spark import Flow, RangeJoin

    rng = random.Random(11)
    ls, rs = [], []
    for i in range(60):
        a = rng.randint(0, 800)
        ls.append({"lid": i, "ls": a, "le": a + rng.randint(0, 150)})
        b = rng.randint(0, 800)
        rs.append({"rid": i, "rs_": b, "re_": b + rng.randint(0, 150)})
    # one inverted interval on each side: must silently drop, not crash
    ls.append({"lid": 900, "ls": 500, "le": 400})
    rs.append({"rid": 901, "rs_": 500, "re_": 400})
    want = sorted((l["lid"], r["rid"]) for l in ls for r in rs
                  if l["ls"] < l["le"] and r["rs_"] < r["re_"]
                  and l["ls"] < r["re_"] and r["rs_"] < l["le"])
    L = spark.createDataFrame(ls)
    R = spark.createDataFrame(rs)
    for w in (13, 100, 4000):
        out = RangeJoin("L", "R", "o", left_start="ls", left_end="le",
                        right_start="rs_", right_end="re_", bucket=w)(
            Flow({"L": L, "R": R}))["o"]
        got = sorted((r.lid, r.rid) for r in out.collect())
        assert got == want  # exactly-once: sorted lists, not sets

    with pytest.raises(ValueError, match="disjoint"):
        RangeJoin("L", "R", "o", left_start="ls", left_end="le",
                  right_start="rs_", right_end="re_", bucket=10)(
            Flow({"L": L, "R": L.withColumnRenamed("lid", "rid")}))


def test_range_join_auto_bucket(spark):
    """bucket omitted ⇒ auto-sized from the median interval span; the
    result must be row-identical to any manual width (the width only
    affects the plan, never the semantics)."""
    import random

    from strom_spark import Flow, RangeJoin

    rng = random.Random(23)
    pts = [{"pid": i, "p": rng.randint(0, 1000)} for i in range(70)]
    ivs = []
    for i in range(35):
        s = rng.randint(0, 950)
        ivs.append({"iid": i, "s": s, "e": s + rng.randint(1, 90)})
    L, R = spark.createDataFrame(pts), spark.createDataFrame(ivs)
    auto = RangeJoin("L", "R", "o", point="p", right_start="s", right_end="e")(
        Flow({"L": L, "R": R}))["o"]
    manual = RangeJoin("L", "R", "o", point="p", right_start="s", right_end="e",
                       bucket=50)(Flow({"L": L, "R": R}))["o"]
    assert sorted((r.pid, r.iid) for r in auto.collect()) == \
           sorted((r.pid, r.iid) for r in manual.collect())

    # overlap mode auto-sizing, exactly-once emission preserved
    lvs = [{"lid": i, "ls": rng.randint(0, 800), "le": 0} for i in range(30)]
    for d in lvs:
        d["le"] = d["ls"] + rng.randint(1, 120)
    Lo = spark.createDataFrame(lvs)
    Ro = spark.createDataFrame(
        [{"rid": d["lid"] + 500, "rs_": d["ls"] - 3, "re_": d["le"] + 3} for d in lvs]
    )
    auto_o = RangeJoin("L", "R", "o", left_start="ls", left_end="le",
                       right_start="rs_", right_end="re_")(
        Flow({"L": Lo, "R": Ro}))["o"]
    manual_o = RangeJoin("L", "R", "o", left_start="ls", left_end="le",
                         right_start="rs_", right_end="re_", bucket=64)(
        Flow({"L": Lo, "R": Ro}))["o"]
    assert sorted((r.lid, r.rid) for r in auto_o.collect()) == \
           sorted((r.lid, r.rid) for r in manual_o.collect())

    with pytest.raises(ValueError, match="auto-size"):
        RangeJoin("L", "R", "o", point="p", right_start="s", right_end="e")(
            Flow({"L": L, "R": R.filter("s > e")}))


def test_range_join_timestamp_points(spark):
    """Timestamp columns lower to epoch-micros longs transparently."""
    import pandas as pd

    from strom_spark import Flow, RangeJoin

    T = pd.Timestamp
    ev = spark.createDataFrame(pd.DataFrame({
        "eid": [1, 2, 3],
        "ets": [T("2024-01-01 00:05"), T("2024-01-01 01:00"), T("2024-01-02 00:00")],
    }))
    win = spark.createDataFrame(pd.DataFrame({
        "wid": [10, 20],
        "ws": [T("2024-01-01 00:00"), T("2024-01-01 00:30")],
        "we": [T("2024-01-01 00:10"), T("2024-01-01 02:00")],
    }))
    out = RangeJoin("e", "w", "o", point="ets", right_start="ws",
                    right_end="we", bucket=3600 * 1_000_000)(
        Flow({"e": ev, "w": win}))["o"]
    assert {(r.eid, r.wid) for r in out.collect()} == {(1, 10), (2, 20)}


def test_quantiles_differential(spark):
    """Quantiles vs numpy's linear-interpolation quantile on random
    groups, including a singleton group and an exact-index hit."""
    import random

    import numpy as np

    from strom_spark import Flow, Quantiles

    rng = random.Random(5)
    rows = []
    for g, n in (("a", 101), ("b", 17), ("c", 1)):
        for i in range(n):
            rows.append({"g": g, "id": i, "v": round(rng.uniform(0, 100), 3)})
    out = Quantiles(
        "s", "q", value_col="v",
        quantiles={"p25": 0.25, "p50": 0.5, "p99": 0.99},
        by=["g"], tie_breaker="id",
    )(Flow({"s": spark.createDataFrame(rows)}))["q"]
    got = {r.g: r for r in out.collect()}
    for g in ("a", "b", "c"):
        vals = np.array([r["v"] for r in rows if r["g"] == g])
        for name, p in (("p25", 0.25), ("p50", 0.5), ("p99", 0.99)):
            assert got[g][name] == pytest.approx(np.quantile(vals, p), abs=1e-9), (g, name)
        assert got[g]["n"] == len(vals)
    with pytest.raises(ValueError, match="outside"):
        Quantiles("s", value_col="v", quantiles={"bad": 1.5})


def test_quantiles_approx_rank_error_bound(spark):
    """mode='approx' (Greenwald-Khanna sketch) guarantees rank error
    <= n/accuracy: locate each approx value in the sorted data and
    check its rank distance from the target (mirrors the HLL
    error-bound test)."""
    import random

    from strom_spark import Flow, Quantiles

    rng = random.Random(17)
    n = 20_000
    rows = [{"id": i, "v": rng.gauss(0, 1000)} for i in range(n)]
    acc = 100  # rank error bound = n/acc = 200
    out = Quantiles(
        "s", "q", value_col="v",
        quantiles={"p10": 0.1, "p50": 0.5, "p90": 0.9},
        mode="approx", accuracy=acc,
    )(Flow({"s": spark.createDataFrame(rows)}))["q"]
    got = out.collect()[0]
    assert got.n == n
    svals = sorted(r["v"] for r in rows)
    for name, p in (("p10", 0.1), ("p50", 0.5), ("p90", 0.9)):
        v = got[name]
        # rank of the returned value in the exact sorted order
        import bisect
        rank = bisect.bisect_left(svals, v)
        assert abs(rank - p * n) <= n / acc + 1, (name, rank, p * n)

    with pytest.raises(ValueError, match="mode"):
        Quantiles("s", value_col="v", quantiles={"m": 0.5}, mode="nope")


def test_heavy_hitters_differential(spark):
    """HeavyHitters (two-pass Misra-Gries) is EXACT: identical to the
    plain groupBy-HAVING on a zipf-ish distribution, including with a k
    small enough that the sketch actually evicts; k too small for the
    guarantee raises instead of silently missing items."""
    import random

    from strom_spark import Flow, HeavyHitters

    rng = random.Random(31)
    # ~30 hot values + a long tail of near-singletons
    vals = [f"hot{i}" for i in range(30) for _ in range(rng.randint(50, 200))]
    vals += [f"cold{i}" for i in range(5000) for _ in range(rng.randint(1, 2))]
    rng.shuffle(vals)
    df = spark.createDataFrame([{"v": v} for v in vals]).repartition(8)
    n = len(vals)
    min_count = 40  # every hot value qualifies, no cold one does
    assert n / 512 <= min_count
    out = HeavyHitters("s", "o", value_col="v", min_count=min_count, k=512)(
        Flow({"s": df})
    )["o"]
    got = {(r.v, r.n) for r in out.collect()}
    from collections import Counter

    want = {(v, c) for v, c in Counter(vals).items() if c > min_count}
    assert got == want and len(want) == 30

    with pytest.raises(ValueError, match="raise k"):
        HeavyHitters("s", "o", value_col="v", min_count=2, k=16)(
            Flow({"s": df})
        )

    # the output column round-trips the INPUT dtype (the sketch's
    # internal string view must not leak): bigint ids stay bigint
    ints = spark.createDataFrame(
        [{"v": i % 3} for i in range(300)], schema="v bigint"
    ).repartition(4)
    iout = HeavyHitters("s", "o", value_col="v", min_count=50, k=64)(
        Flow({"s": ints})
    )["o"]
    assert iout.schema["v"].dataType.simpleString() == "bigint"
    assert {(r.v, r.n) for r in iout.collect()} == {(0, 100), (1, 100), (2, 100)}


def test_count_min_sketch_invariants(spark):
    """CountMinSketch (Cormode & Muthukrishnan 2005): every point
    estimate is >= the true count (one-sided error); with a width
    comfortably above the key cardinality the estimates are EXACT for
    this seed set; and two partition sketches merged by summing
    (seed, bucket) counters equal the single-pass sketch — the
    mergeability that makes CMS the bounded-state rollup primitive."""
    import pytest
    from collections import Counter

    from strom_spark import CountMinSketch, Flow, cms_estimate

    vals = [i % 7 for i in range(350)] + [99] * 13
    truth = Counter(vals)
    df = spark.createDataFrame([{"k": v} for v in vals], "k bigint").repartition(6)
    flow = Flow({"s": df})
    sk = CountMinSketch("s", "o", key_col="k", depth=4, width=512)(flow)["o"]
    grid = sk.collect()
    assert len(grid) <= 4 * 512
    assert sum(r.cnt for r in grid) == 4 * len(vals)

    keys = spark.createDataFrame([{"k": k} for k in truth], "k bigint")
    est = {
        r.k: r.est_count
        for r in cms_estimate(sk, keys, key_col="k", depth=4, width=512).collect()
    }
    for k, c in truth.items():
        assert est[k] >= c
        assert est[k] == c  # 8 keys x 512 buckets: collision-free here

    # a key never inserted estimates from untouched buckets -> 0
    ghost = spark.createDataFrame([{"k": 123456}], "k bigint")
    assert cms_estimate(sk, ghost, key_col="k", depth=4, width=512).collect()[0].est_count == 0

    # mergeability: sketch(A) + sketch(B) == sketch(A union B)
    a, b = vals[:100], vals[100:]
    mk = lambda part: CountMinSketch("s", "o", key_col="k", depth=4, width=512)(  # noqa: E731
        Flow({"s": spark.createDataFrame([{"k": v} for v in part], "k bigint")})
    )["o"]
    merged = (
        mk(a).unionByName(mk(b)).groupBy("seed", "bucket").agg(F.sum("cnt").alias("cnt"))
    )
    assert {(r.seed, r.bucket, r.cnt) for r in merged.collect()} == {
        (r.seed, r.bucket, r.cnt) for r in grid
    }

    with pytest.raises(ValueError, match="depth"):
        CountMinSketch("s", "o", key_col="k", depth=0)


def test_profile_columns(spark):
    """ProfileColumns: null/distinct counts exact, numeric min/max
    rendered through DECIMAL(18,6) (no engine-specific double text),
    strings lexicographic, unsupported types profile counts-only with
    '' min/max, approx mode estimates within HLL tolerance, unknown
    columns raise."""
    import datetime

    import pytest
    from strom_spark import Flow, ProfileColumns

    ts = datetime.datetime(2024, 1, 1)
    rows = [
        (1, 0.5, "b", ts),
        (2, None, "a", ts),
        (2, 1.25, None, ts),
    ]
    df = spark.createDataFrame(rows, "k bigint, x double, s string, t timestamp")
    out = {
        r.column: r
        for r in ProfileColumns("d", "p")(Flow({"d": df}))["p"].collect()
    }
    assert set(out) == {"k", "x", "s", "t"}
    assert out["k"].n_rows == 3 and out["k"].n_nulls == 0 and out["k"].n_distinct == 2
    assert out["k"].min_val == "1.000000" and out["k"].max_val == "2.000000"
    assert out["x"].n_nulls == 1 and out["x"].n_distinct == 2
    assert out["x"].min_val == "0.500000" and out["x"].max_val == "1.250000"
    assert out["s"].min_val == "a" and out["s"].max_val == "b" and out["s"].n_nulls == 1
    assert out["t"].min_val == "" and out["t"].n_distinct == 1  # counts-only type
    approx = {
        r.column: r.n_distinct
        for r in ProfileColumns("d", "p", distinct="approx")(
            Flow({"d": df})
        )["p"].collect()
    }
    assert approx["k"] in (1, 2, 3)  # HLL estimate, tiny input -> exact-ish
    with pytest.raises(ValueError, match="not in input"):
        ProfileColumns("d", "p", columns=["nope"])(Flow({"d": df}))
    with pytest.raises(ValueError, match="distinct"):
        ProfileColumns("d", "p", distinct="nope")

    # DECIMAL(38,6) render: values past the old DECIMAL(18,6) range
    # (|x| >= 1e12) profile correctly instead of silently becoming ''
    big = spark.createDataFrame(
        [(50_000_000_000_000,), (7,)], "k bigint"
    )
    r = ProfileColumns("d", "p")(Flow({"d": big}))["p"].collect()[0]
    assert r.max_val == "50000000000000.000000" and r.min_val == "7.000000"
    # a value DECIMAL(38,6) cannot hold fails LOUDLY, not as ''
    huge = spark.createDataFrame([(1e35,), (2.0,)], "x double")
    with pytest.raises(Exception, match="does not fit DECIMAL"):
        ProfileColumns("d", "p")(Flow({"d": huge}))["p"].collect()


def test_batch_only_components_reject_streams(spark):
    """Corpus-statistics components raise a TYPED, actionable error on
    streaming frames instead of Spark's opaque AnalysisException; the
    approx quantile path, a single partial+final agg, stays
    stream-legal."""
    from strom_spark import Flow, Quantiles
    from strom_spark.operators.textrank import (
        BM25Score,
        TfIdfTopTerms,
        UnigramLMScore,
    )

    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .selectExpr(
            "value AS doc_id", "CAST(value AS STRING) AS text", "CAST(value AS DOUBLE) AS v"
        )
    )
    assert stream.isStreaming
    flow = Flow({"s": stream})
    for comp in (
        BM25Score("s", "o", id_col="doc_id", text_col="text", terms=["x"]),
        TfIdfTopTerms("s", "o", id_col="doc_id", text_col="text"),
        UnigramLMScore("s", "o", id_col="doc_id", text_col="text"),
        Quantiles("s", "o", value_col="v", quantiles={"p50": 0.5}),
    ):
        with pytest.raises(TypeError, match="batch-only.*foreachBatch"):
            comp.transform(flow)
    # approx mode lowers to one aggregation — legal on a stream
    q = Quantiles("s", "o", value_col="v", quantiles={"p50": 0.5}, mode="approx")
    assert q.transform(flow)["o"].isStreaming


def test_quantiles_approx_streaming_differential(spark, sf_dir):
    """Approx quantiles over an availableNow stream drain to the SAME
    result as the identical batch aggregation — true streaming parity,
    not just a plan-compiles check."""
    import shutil
    import tempfile

    from strom_spark import Flow, Quantiles, load_table
    from strom_spark.streaming.control import run_available

    d = tempfile.mkdtemp(prefix="strom_qstream_")
    try:
        load_table(spark, sf_dir, "events").write.mode("overwrite").parquet(d)
        schema = spark.read.parquet(d).schema
        stream = spark.readStream.schema(schema).parquet(d)
        q = Quantiles(
            "s", "o", value_col="value",
            quantiles={"p50": 0.5, "p90": 0.9}, by=["event_type"],
            mode="approx", accuracy=10000,
        )
        out = q(Flow({"s": stream}))["o"]
        run_available(out, query_name="t_qstream", output_mode="complete")
        got = {r.event_type: r for r in spark.sql("SELECT * FROM t_qstream").collect()}
        want = {
            r.event_type: r
            for r in q(Flow({"s": spark.read.parquet(d)}))["o"].collect()
        }
        assert set(got) == set(want) and got
        for k in want:
            assert got[k].n == want[k].n
            # same sketch algorithm over the same rows; micro-batch
            # boundaries may perturb insertion order, so allow the
            # sketch's own rank tolerance rather than exact equality
            assert got[k].p50 == pytest.approx(want[k].p50, rel=0.05)
            assert got[k].p90 == pytest.approx(want[k].p90, rel=0.05)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_bloom_filter_invariants(spark):
    """BloomFilter: (a) NO false negatives ever — every inserted key
    probes hit; (b) mergeability — two half-corpus filters OR-merged
    word-by-word equal the full build exactly; (c) the deliberately
    tiny filter produces false positives (the one-sided error is
    real, not a no-op); (d) parameter validation."""
    import pytest
    from strom_spark import BloomFilter, Flow, bloom_contains

    keys = spark.range(0, 400).select(F.col("id").alias("k"))
    members = keys.filter(F.col("k") % 4 == 0)  # 100 members
    kw = dict(key_col="k", n_words=4, k=4)  # m=252 bits: dense load

    sk = BloomFilter("m", "s", **kw)(Flow({"m": members}))["s"]
    hits = bloom_contains(sk, keys, **kw)
    rows = {r.k: r.bloom_hit for r in hits.collect()}
    false_negs = [k for k in range(0, 400, 4) if rows[k] != 1]
    assert false_negs == []
    fps = sum(rows[k] for k in range(400) if k % 4 != 0)
    assert fps > 0  # dense load must produce false positives

    # mergeability: OR of two half-filters == the full filter
    h1 = BloomFilter("m", "s", **kw)(
        Flow({"m": members.filter(F.col("k") < 200)})
    )["s"]
    h2 = BloomFilter("m", "s", **kw)(
        Flow({"m": members.filter(F.col("k") >= 200)})
    )["s"]
    merged = (
        h1.unionByName(h2)
        .groupBy("word_idx")
        .agg(F.bit_or("word").alias("word"))
    )
    full = {(r.word_idx, r.word) for r in sk.collect()}
    assert {(r.word_idx, r.word) for r in merged.collect()} == full

    with pytest.raises(ValueError, match="n_words"):
        BloomFilter("m", "s", key_col="k", n_words=0)


def test_bloom_member_expr_matches_keyed_probe(spark):
    """The fact-side Column form (bloom_member_expr) must decide
    membership EXACTLY like the keyed probe (bloom_contains) on the
    same collected words — for both the portable md5 hash and the
    production xxhash64 hash — and the xxhash64 filter must still
    guarantee zero false negatives."""
    from strom_spark import BloomFilter, Flow, bloom_contains
    from strom_spark.operators.sketch import bloom_member_expr

    keys = spark.range(0, 300).select(F.col("id").alias("k"))
    members = keys.filter(F.col("k") % 3 == 0)
    for h in ("md5", "xxhash64"):
        kw = dict(key_col="k", n_words=4, k=4, hash=h)
        sk = BloomFilter("m", "s", **kw)(Flow({"m": members}))["s"]
        words = {r.word_idx: r.word for r in sk.collect()}
        via_expr = {
            r.k
            for r in keys.filter(
                bloom_member_expr(words, F.col("k"), n_words=4, k=4, hash=h)
            ).collect()
        }
        via_probe = {
            r.k for r in bloom_contains(sk, keys, **kw).collect() if r.bloom_hit == 1
        }
        assert via_expr == via_probe, h
        assert {k for k in range(0, 300, 3)} <= via_expr, h  # no false negs
    with pytest.raises(ValueError, match="hash"):
        BloomFilter("m", "s", key_col="k", hash="sha1")


def test_ivf_auto_defaults_resolve(spark, sf_dir):
    """r10 production defaults: n_centroids=None auto-sizes to
    max(4, round(sqrt(N))) from one corpus count and n_probe=None to
    ceil(k/4), clamped to k — and the auto run returns well-formed
    top-k output."""
    from strom_spark import Flow
    from strom_spark.operators.similarity import IVFTopK

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = emb.count()
    op = IVFTopK("c", "q", "o", k=3)
    k, probe = op._resolve(emb)
    import math

    assert k == max(4, round(math.sqrt(n)))
    # r11 small-N guard: below min_ivf_n rows auto probes ALL lists
    # (exact search — IVF can't win on a one-broadcast-batch corpus);
    # above it, the 25% scan fraction
    assert probe == (k if n < 1024 else -(-k // 4))
    big = IVFTopK("c", "q", "o", k=3, min_ivf_n=1)
    kb, pb = big._resolve(emb)
    assert (kb, pb) == (k, -(-k // 4))  # guard disabled -> ceil(k/4)
    small = IVFTopK("c", "q", "o", k=3, min_ivf_n=10**9)
    ks, ps = small._resolve(emb)
    assert (ks, ps) == (k, k)  # guard always on -> exact
    # explicit pins are honored and n_probe clamps to n_centroids
    assert IVFTopK("c", "q", "o", n_centroids=8, n_probe=99)._resolve(emb) == (8, 8)
    assert IVFTopK("c", "q", "o", n_centroids=8, n_probe=2)._resolve(emb) == (8, 2)
    # an explicit n_probe is never overridden by the guard
    assert IVFTopK("c", "q", "o", n_probe=2, min_ivf_n=10**9)._resolve(emb) == (k, 2)

    out = op(Flow({"c": emb, "q": emb.filter(F.col("vec_id") < 2)}))["o"]
    rows = out.collect()
    assert {r.query_id for r in rows} == {0, 1}
    assert all(1 <= r.rank <= 3 for r in rows)


def test_const_array_literals_bit_identical_to_lit(spark):
    """r14: const_double_array / const_long_array build the literal
    through ONE parsed SQL expression instead of per-element py4j lit
    calls — every element must stay bit-identical to the F.lit form,
    including subnormals, -0.0 and values needing full 17-digit
    round-trip; non-finite doubles fall back to F.lit."""
    import struct

    from pyspark.sql import functions as F

    from strom_spark.functions.vectors import const_double_array, const_long_array

    doubles = [0.1 + 0.2, 5e-324, -0.0, 2**-52, 1e300, -1e-300, 123456789.123456789]
    longs = [0, 1, -1, 2**62, -(2**63), (1 << 63) - 1]
    row = spark.range(1).select(
        const_double_array(doubles).alias("d"),
        F.lit([float(x) for x in doubles]).alias("dl"),
        const_long_array(longs).alias("g"),
        F.lit(longs).alias("gl"),
    ).collect()[0]
    assert [struct.pack(">d", x) for x in row.d] == [struct.pack(">d", x) for x in row.dl]
    assert row.g == row.gl == longs
    nf = [1.0, float("inf"), float("nan")]
    got = spark.range(1).select(const_double_array(nf).alias("x")).collect()[0].x
    assert got[0] == 1.0 and got[1] == float("inf") and got[2] != got[2]
