"""LLM-data-pipeline operators: dedup family, similarity search, text
analysis, multimodal plumbing."""

import pytest
from pyspark.sql import functions as F

from strom_spark import (
    CosineLSHJoin,
    CosineTopK,
    EmbeddingNearDupPairs,
    ExactDedup,
    Flow,
    MediaFeatures,
    MinHashLSHPairs,
    NgramJaccardPairs,
    SimHash,
    SimHashPairs,
    Transformer,
    synthetic_assets,
)
from strom_spark.functions import text as TXT


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_exact_dedup(spark):
    rows = [
        {"doc_id": 1, "text": "Hello  World"},
        {"doc_id": 2, "text": "hello world"},  # same after normalization
        {"doc_id": 3, "text": "different"},
    ]
    flow = Flow({"docs": spark.createDataFrame(rows)})
    out = ExactDedup("docs", "dedup")(flow)
    got = {(r.keep_id, r.n_copies) for r in out["dedup"].collect()}
    assert got == {(1, 2), (3, 1)}
    out2 = ExactDedup("docs", "kept", keep="rows")(flow)
    assert sorted(r.doc_id for r in out2["kept"].collect()) == [1, 3]


def test_ngram_jaccard_finds_planted_pairs(docs):
    out = NgramJaccardPairs("docs", "pairs", threshold=0.8)(Flow({"docs": docs}))
    pairs = out["pairs"].collect()
    assert len(pairs) > 0  # testdata has planted near-dups
    assert all(r.d1 < r.d2 and 0.8 <= r.jaccard <= 1.0 for r in pairs)


def test_minhash_lsh_matches_exact(docs):
    """LSH candidates + exact verification must equal the exact
    jaccard pairs at this threshold (high-recall band config)."""
    flow = Flow({"docs": docs})
    exact = NgramJaccardPairs("docs", "p", threshold=0.8)(flow)["p"]
    lsh = MinHashLSHPairs("docs", "p", threshold=0.8)(flow)["p"]
    e = {(r.d1, r.d2, r.jaccard) for r in exact.collect()}
    l = {(r.d1, r.d2, r.jaccard) for r in lsh.collect()}
    assert e == l
    assert len(e) > 0


def test_minhash_auto_banding_resolution():
    """Auto (rows, bands) from the S-curve (r12): pins are never
    overridden; the resolved config holds the recall contract at the
    threshold and fits the hash budget; invalid contracts raise."""
    import math

    assert MinHashLSHPairs("d")._resolve() == (32, 2)  # pinned default
    for t in (0.5, 0.7, 0.8, 0.9, 0.99):
        m = MinHashLSHPairs(
            "d", num_hashes=None, rows_per_band=None, threshold=t
        )
        nh, r = m._resolve()
        b = nh // r
        assert nh == b * r and nh <= m.max_hashes
        assert 1 - (1 - t**r) ** b >= m.target_recall
    # sharper than the pinned 16x2 at the default threshold: fewer
    # mid-similarity false-positive candidates (the sf10 spill surface)
    nh, r = MinHashLSHPairs(
        "d", num_hashes=None, rows_per_band=None, threshold=0.8
    )._resolve()
    b = nh // r
    fp_auto = 1 - (1 - 0.4**r) ** b
    fp_pinned = 1 - (1 - 0.4**2) ** 16
    assert fp_auto < fp_pinned / 2
    with pytest.raises(ValueError, match="pinned together"):
        MinHashLSHPairs("d", rows_per_band=None)
    with pytest.raises(ValueError, match="target_recall"):
        MinHashLSHPairs(
            "d", num_hashes=None, rows_per_band=None, target_recall=1.0
        )
    with pytest.raises(ValueError, match="cannot hold recall"):
        MinHashLSHPairs(
            "d", num_hashes=None, rows_per_band=None, threshold=0.2,
            max_hashes=8,
        )._resolve()


def test_minhash_auto_matches_exact(docs):
    """The auto-banded production config must still equal the exact
    Jaccard pairs on the real corpus (recall contract at work)."""
    flow = Flow({"docs": docs})
    exact = NgramJaccardPairs("docs", "p", threshold=0.8)(flow)["p"]
    lsh = MinHashLSHPairs(
        "docs", "p", threshold=0.8, num_hashes=None, rows_per_band=None
    )(flow)["p"]
    e = {(r.d1, r.d2, round(r.jaccard, 9)) for r in exact.collect()}
    l = {(r.d1, r.d2, round(r.jaccard, 9)) for r in lsh.collect()}
    assert e == l and len(e) > 0


def test_minhash_hot_bucket_star_guard(spark):
    """A pathological corpus (many near-identical docs collapsing into
    one band bucket) must NOT materialize |bucket|² candidates: over
    ``max_bucket_rows`` the bucket degrades to star pairs around the
    bucket-min id, bounding candidates at O(|bucket|) while preserving
    connectivity (every member verifies against the root at j=1)."""
    from strom_spark.operators.dedup import MinHashDedup

    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 6
    rows = [{"doc_id": i, "text": text} for i in range(60)] + [
        {"doc_id": 1000 + i, "text": f"unique words only here {i} "
         + " ".join(f"tok{i}w{j}" for j in range(30))}
        for i in range(5)
    ]
    docs = spark.createDataFrame(rows)
    guarded = MinHashLSHPairs(
        "d", "p", threshold=0.8, max_bucket_rows=10
    )(Flow({"d": docs}))["p"]
    got = {(r.d1, r.d2) for r in guarded.collect()}
    # star shape: identical docs pair with the min id (0), not all-pairs
    assert {(0, i) for i in range(1, 60)} <= got
    # chain shape: neighbors in (h0, id) order — identical docs share
    # h0, so consecutive ids link (the mixed-bucket connectivity path)
    assert {(i, i + 1) for i in range(1, 59)} <= got
    assert len(got) < 60 * 59 / 2  # quadratic pair set NOT materialized
    # cluster semantics unchanged: one component, root keeps all
    keep = MinHashDedup(
        "d", "k", threshold=0.8
    )(Flow({"d": docs}))["k"].collect()
    comp = {r.keep_id for r in keep if r.id < 1000}
    assert comp == {0}
    # max_bucket_rows=None: guard off, FULL exact pair set by choice
    # (oracle-parity mode for corpora with dup groups above any cap)
    unguarded = MinHashLSHPairs(
        "d", "p", threshold=0.8, max_bucket_rows=None
    )(Flow({"d": docs}))["p"]
    full = {(r.d1, r.d2) for r in unguarded.collect()}
    assert {(a, b) for a in range(60) for b in range(a + 1, 60)} <= full


def test_simhash_and_pairs(docs):
    flow = Flow({"docs": docs})
    sig = SimHash("docs", "sig")(flow)["sig"]
    row = sig.first()
    assert len(row.simhash) == 32 and set(row.simhash) <= {"0", "1"}
    pairs = SimHashPairs("docs", "pairs", max_distance=3)(flow)["pairs"]
    for r in pairs.limit(5).collect():
        assert r.hamming <= 3 and r.d1 < r.d2


def test_simhash_dedup_partitioned_persist_path_identical(docs, monkeypatch):
    """The >= _PARTITION_PERSIST_MIN_ROWS branch (two join-key-
    partitioned persisted edge copies — the 100 TB shuffle-regime
    path) must produce bit-identical clusters to the small-corpus
    checkpoint-only branch AQE broadcast-serves."""
    from strom_spark.operators import dedup
    from strom_spark.operators.dedup import SimHashDedup

    small = docs.limit(200)

    def clusters():
        return (
            SimHashDedup("d", "o", max_distance=4)(Flow({"d": small}))["o"]
            .toPandas()
            .sort_values("id")
            .reset_index(drop=True)
        )

    base = clusters()
    monkeypatch.setattr(dedup, "_PARTITION_PERSIST_MIN_ROWS", 1)
    forced = clusters()
    assert base.equals(forced)


def test_embedding_near_dup_and_lsh(emb):
    flow = Flow({"emb": emb})
    exact = EmbeddingNearDupPairs("emb", "p", threshold=0.3)(flow)["p"]
    e = {(r.d1, r.d2) for r in exact.collect()}
    lsh = CosineLSHJoin("emb", "p", threshold=0.3, n_tables=16, bits_per_table=6)(flow)["p"]
    l = {(r.d1, r.d2) for r in lsh.collect()}
    # LSH is a subset (no false positives after verification)
    assert l <= e


def test_cosine_lsh_auto_sizing(emb):
    """r11 auto defaults: bits_per_table=None resolves to
    ceil(log2(N/target_bucket_rows)) clamped [6,24] from one corpus
    count, n_tables=None to the smallest count holding target_recall
    at the threshold under the SRP S-curve; explicit pins are never
    overridden; thresholds below the LSH-viable regime raise with the
    physics instead of going quadratic."""
    import math

    op = CosineLSHJoin("e", "p", threshold=0.9)
    t, b = op._resolve(emb)
    n = emb.count()
    assert b == max(6, min(24, math.ceil(math.log2(n / 256)))) if n > 256 else b == 6
    p = (1 - math.acos(0.9) / math.pi) ** b
    assert t == max(4, math.ceil(math.log(0.1) / math.log(1 - p)))
    # explicit pins respected
    assert CosineLSHJoin("e", "p", n_tables=24, bits_per_table=6)._resolve(emb) == (24, 6)
    # auto mode produces verified pairs end-to-end on planted dups
    dup = emb.limit(5).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding",
        *[c for c in emb.columns if c not in ("vec_id", "embedding")],
    )
    pairs = CosineLSHJoin("e", "p", threshold=0.99)(
        Flow({"e": emb.unionByName(dup)})
    )["p"]
    assert pairs.filter("cosine >= 0.999999").count() >= 5
    # sub-viable threshold raises once bits grow with N: simulate the
    # 200k-corpus operating point by pinning bits to the value auto
    # would pick there (10) — 0.3-cosine then needs ~400 tables
    with pytest.raises(ValueError, match="LSH-viable"):
        CosineLSHJoin("e", "p", threshold=0.3, bits_per_table=10)._resolve(emb)


def test_cosine_lsh_portable_mode(emb):
    """Portable SRP-LSH (r10): md5-parity Rademacher planes over
    trunc-quantized int64 vectors.  (a) output is a subset of the
    exact pairs (verification is exact); (b) identical-vector planted
    duplicates ALWAYS collide (every sign bit equal) and surface with
    cosine 1.0; (c) the run is deterministic (no seed, no RNG)."""
    exact = EmbeddingNearDupPairs(
        "emb", "p", threshold=0.3, on_overflow="tile"
    )(Flow({"emb": emb}))["p"]
    e = {(r.d1, r.d2) for r in exact.collect()}
    lsh_op = CosineLSHJoin(
        "emb", "p", threshold=0.3, n_tables=24, bits_per_table=6,
        portable=True,
    )
    got1 = {(r.d1, r.d2, r.cosine) for r in lsh_op(Flow({"emb": emb}))["p"].collect()}
    assert {(d1, d2) for d1, d2, _ in got1} <= e and len(got1) > 0
    got2 = {(r.d1, r.d2, r.cosine) for r in lsh_op(Flow({"emb": emb}))["p"].collect()}
    assert got1 == got2  # deterministic, seedless

    # planted exact duplicates: identical vectors share every bucket
    dup = emb.limit(5).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding",
        *[c for c in emb.columns if c not in ("vec_id", "embedding")],
    )
    corpus = emb.unionByName(dup)
    found = {
        (r.d1, r.d2): r.cosine
        for r in lsh_op(Flow({"emb": corpus}))["p"].collect()
    }
    base_ids = [r.vec_id for r in emb.limit(5).select("vec_id").collect()]
    for vid in base_ids:
        assert found.get((vid, vid + 10_000_000)) == 1.0


def test_rademacher_planes_portable_hash(spark):
    """The md5-parity plane derivation matches what a SQL engine
    computes from the same recipe — checked against DuckDB directly so
    a drift in the string format or parity convention fails here, not
    in a driver sweep."""
    import duckdb

    from strom_spark.operators.similarity import _rademacher_planes

    P = _rademacher_planes(8, 6)
    con = duckdb.connect()
    rows = con.execute(
        """
        SELECT i, d,
          CASE WHEN ('0x' || substring(md5(CAST(i AS VARCHAR) || '_' || CAST(d AS VARCHAR)), 1, 1))::INT % 2 = 1
               THEN 1 ELSE -1 END AS s
        FROM range(6) r1(i), range(8) r2(d)
        """
    ).fetchall()
    for i, d, s in rows:
        assert P[i, d] == s, (i, d)


def test_cosine_topk(spark, emb):
    flow = Flow({"corpus": emb, "queries": emb.filter(F.col("vec_id") < 3)})
    out = CosineTopK("corpus", "queries", "knn", k=5)(flow)["knn"]
    rows = out.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == {0, 1, 2}
    for q, rs in by_q.items():
        assert [r.rank for r in sorted(rs, key=lambda r: r.rank)] == [1, 2, 3, 4, 5]
        sims = [r.cosine for r in sorted(rs, key=lambda r: r.rank)]
        assert sims == sorted(sims, reverse=True)
        assert all(r.neighbor_id != q for r in rs)


def test_scalar_quantize_hand_computed(spark):
    """ScalarQuantize (SQ8): hand-computed int8 codes — the max-|v|
    element maps to ±127 exactly, zero vectors quantize to zeros with
    scale 0, and quantized cosine of identical-direction vectors stays
    exactly 1 (uniform per-vector scaling preserves direction)."""
    from strom_spark import CosineTopK, Flow, ScalarQuantize

    df = spark.createDataFrame(
        [
            (1, [2.0, -4.0, 1.0]),     # amax 4 -> s = 31.75
            (2, [0.0, 0.0, 0.0]),      # zero vector
            (3, [20.0, -40.0, 10.0]),  # same direction as 1, 10x scale
        ],
        "vec_id bigint, embedding array<double>",
    )
    out = {r.vec_id: r for r in ScalarQuantize("e", "q")(Flow({"e": df}))["q"].collect()}
    # 2*31.75 = 63.5 -> HALF_UP 64; -4 -> -127 exactly; 1 -> 31.75 -> 32
    assert out[1].qvec == [64, -127, 32]
    assert out[1].scale == 127.0 / 4.0
    assert out[2].qvec == [0, 0, 0] and out[2].scale == 0.0
    assert out[3].qvec == [64, -127, 32]  # direction preserved exactly
    # quantized cosine of same-direction vectors is exactly 1
    qz = ScalarQuantize("e", "q")(Flow({"e": df.filter(F.col("vec_id") != 2)}))["q"]
    knn = CosineTopK("c", "q", "o", k=1, vec_col="qvec")(
        Flow({"c": qz, "q": qz.filter(F.col("vec_id") == 1)})
    )["o"].collect()
    assert knn[0].neighbor_id == 3 and knn[0].cosine == 1.0


def test_cooccurrence_jaccard_hand_computed(spark):
    """CoOccurrenceJaccard (item-item CF): hand-computed Jaccard over
    3 baskets, tie-break on the item id at top-k, min_jaccard filter,
    and the max_group_size cap dropping a mega-basket's pairs
    entirely (the stop-shingle discipline)."""
    from strom_spark import CoOccurrenceJaccard, Flow

    rows = [("g1", 1), ("g1", 2), ("g1", 3), ("g2", 1), ("g2", 2),
            ("g3", 2), ("g3", 4),
            # mega-basket: size 4 > cap 3 -> contributes nothing
            ("g4", 10), ("g4", 11), ("g4", 12), ("g4", 13)]
    df = spark.createDataFrame(rows, "g string, i bigint")
    pairs = CoOccurrenceJaccard(
        "s", "o", group_col="g", item_col="i", max_group_size=3
    )(Flow({"s": df}))["o"]
    got = {(r.i, r.other): r.jaccard for r in pairs.collect()}
    assert got == {
        (1, 2): round(2 / 3, 6),  # shares g1, g2
        (1, 3): 0.5,              # 1/(2+1-1)
        (2, 3): round(1 / 3, 6),
        (2, 4): round(1 / 3, 6),
    }
    top = CoOccurrenceJaccard(
        "s", "o", group_col="g", item_col="i", top_k=2, max_group_size=3
    )(Flow({"s": df}))["o"]
    by2 = sorted((r.rank, r.other) for r in top.filter(F.col("i") == 2).collect())
    assert by2 == [(1, 1), (2, 3)]  # J=2/3 first; 1/3 tie broken on id 3 < 4
    flt = CoOccurrenceJaccard(
        "s", "o", group_col="g", item_col="i", min_jaccard=0.4, max_group_size=3
    )(Flow({"s": df}))["o"]
    assert {(r.i, r.other) for r in flt.collect()} == {(1, 2), (1, 3)}


def test_cooccurrence_jaccard_caps_before_collect_set(spark):
    """Mega-group bound: every collect_set aggregate of
    CoOccurrenceJaccard reads an input already filtered to the groups
    whose exact distinct-item count (the max of a dense rank over the
    group) is within max_group_size, so a mega-group's item set is
    never built.  The cap counts DISTINCT items: g1's repeated row
    keeps it at 2."""
    from strom_spark import CoOccurrenceJaccard, Flow

    rows = [("g1", 1), ("g1", 2), ("g1", 2)] + [("mega", i) for i in range(10)]
    df = spark.createDataFrame(rows, "g string, i bigint")
    out = CoOccurrenceJaccard(
        "s", "o", group_col="g", item_col="i", max_group_size=2
    )(Flow({"s": df}))["o"]

    def walk(node):
        yield node
        ch = node.children()
        for k in range(ch.size()):
            yield from walk(ch.apply(k))

    aggs = [
        n for n in walk(out._jdf.queryExecution().analyzed())
        if n.nodeName() == "Aggregate"
        and "collect_set(" in n.aggregateExpressions().toString()
    ]
    assert aggs
    for agg in aggs:
        caps = [
            n for n in walk(agg.child())
            if n.nodeName() == "Filter"
            and n.condition().toString().endswith(" <= 2)")
            and "dense_rank(" in n.child().toString()
        ]
        assert len(caps) == 1, agg.toString()
    assert [tuple(r) for r in out.collect()] == [(1, 2, 1.0)]


def test_rrf_fusion_hand_computed(spark):
    """RRFFusion (Cormack et al. 2009): hand-computed fusion of two
    3-row lists with one overlapping id — contributions are
    round(1/(k0+rank), 6), ranks break score ties on the id, and the
    per_list_k cut drops ids beyond the cut BEFORE ranking."""
    import pytest
    from strom_spark import RRFFusion

    a = spark.createDataFrame(
        [(1, 9.0), (2, 5.0), (3, 5.0), (4, 1.0)], "doc_id bigint, score double"
    )
    b = spark.createDataFrame(
        [(3, 0.9), (5, 0.8), (6, 0.7)], "doc_id bigint, score double"
    )
    out = RRFFusion(
        ["a", "b"], "fused", id_col="doc_id", k0=60, per_list_k=3
    )(Flow({"a": a, "b": b}))["fused"]
    rows = {r.doc_id: r for r in out.collect()}
    # list a ranks: 1->1, 2->2 (tie 5.0 broken on id), 3->3; 4 is cut
    # list b ranks: 3->1, 5->2, 6->3
    assert set(rows) == {1, 2, 3, 5, 6}
    assert 4 not in rows
    assert rows[1].rrf_score == round(1 / 61, 6)
    assert rows[2].rrf_score == round(1 / 62, 6)
    # overlap: doc 3 sums both lists' contributions, best_rank = 1
    assert rows[3].rrf_score == round(round(1 / 63, 6) + round(1 / 61, 6), 6)
    assert rows[3].n_lists == 2 and rows[3].best_rank == 1
    assert rows[5].n_lists == 1 and rows[5].best_rank == 2
    with pytest.raises(ValueError):
        RRFFusion(["a"], "f")
    with pytest.raises(ValueError):
        RRFFusion(["a", "b"], "f", score_cols=["s"])


def test_mmr_rerank_hand_computed(spark):
    """MMRRerank (Carbonell & Goldstein 1998) on a 3-candidate set
    with EQUAL relevance where diversity must decide: a and a2 are
    identical vectors (sim 1), b sits at sim 0.8 to a — after a wins
    rank 1 on the id tie-break, b must beat the redundant a2 at rank 2
    despite equal relevance.  Scores are hand-computed in the exact
    decimal arithmetic the operator and oracle share."""
    import pytest
    from strom_spark import MMRRerank

    r = 3 / 10**0.5 / 1.0  # cos(q, a) = 3/sqrt(10) -> rounds 0.948683
    cands = spark.createDataFrame(
        [(0, 1, r), (0, 2, r), (0, 3, r), (9, 5, 0.5)],
        "query_id bigint, cand_id bigint, rel double",
    )
    vecs = spark.createDataFrame(
        [(1, [3.0, 1.0, 0.0]), (2, [3.0, 1.0, 0.0]), (3, [3.0, -1.0, 0.0]),
         (5, [1.0, 1.0, 0.0])],
        "vec_id bigint, embedding array<double>",
    )
    out = MMRRerank(
        "c", "v", "o", k=3, lambda_=0.7, rel_col="rel",
    )(Flow({"c": cands, "v": vecs}))["o"]
    rows = sorted(
        ((r_.query_id, r_.mmr_rank, r_.cand_id, r_.mmr_score) for r_ in out.collect())
    )
    # q0 rank1: all rels tie at 0.948683 -> smallest id (1); score
    # 0.7*0.948683 = 0.6640781 -> 0.664078
    # q0 rank2: b (id 3) 0.664078-0.3*0.8 beats a2 (id 2) 0.664078-0.3*1
    assert rows == [
        (0, 1, 1, 0.664078),
        (0, 2, 3, 0.424078),
        (0, 3, 2, 0.364078),
        (9, 1, 5, 0.35),
    ]
    # k cuts the selection, not just the output
    out2 = MMRRerank("c", "v", "o", k=1, lambda_=0.7, rel_col="rel")(
        Flow({"c": cands, "v": vecs})
    )["o"]
    assert sorted((r_.query_id, r_.cand_id) for r_ in out2.collect()) == [(0, 1), (9, 5)]
    with pytest.raises(ValueError, match="lambda_"):
        MMRRerank("c", "v", "o", lambda_=1.5)
    # the bound raises inside the Python worker -> surfaces wrapped
    with pytest.raises(Exception, match="max_candidates"):
        MMRRerank("c", "v", "o", max_candidates=2)(
            Flow({"c": cands, "v": vecs})
        )["o"].collect()


def test_mmr_rerank_missing_vector_policy(spark):
    """A candidate id absent from the vectors stream must FAIL LOUDLY
    by default (an inner join used to drop it silently, returning
    fewer than k rows with no error); on_missing='skip' opts into the
    drop and still ranks the survivors."""
    import pytest
    from strom_spark import MMRRerank

    cands = spark.createDataFrame(
        [(0, 1, 0.9), (0, 99, 0.8)],
        "query_id bigint, cand_id bigint, rel double",
    )
    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id bigint, embedding array<double>"
    )
    with pytest.raises(Exception, match="absent from the vectors stream"):
        MMRRerank("c", "v", "o", k=2)(
            Flow({"c": cands, "v": vecs})
        )["o"].collect()
    rows = MMRRerank("c", "v", "o", k=2, on_missing="skip")(
        Flow({"c": cands, "v": vecs})
    )["o"].collect()
    assert [(r.cand_id, r.mmr_rank) for r in rows] == [(1, 1)]
    with pytest.raises(ValueError, match="on_missing"):
        MMRRerank("c", "v", "o", on_missing="ignore")


def test_text_functions(spark, docs):
    flow = Flow({"docs": docs})
    out = Transformer(
        "docs",
        select={
            "doc_id": "doc_id",
            "n_tokens": TXT.token_count("text"),
            "n_bpe": TXT.bpe_token_count("text"),
            "lang": TXT.lang_id("text"),
            "fp": TXT.fingerprint("text"),
            **{k: v for k, v in TXT.quality_features("text").items() if k == "quality_score"},
        },
    )(flow)["docs"]
    rows = out.limit(20).collect()
    for r in rows:
        assert r.n_tokens > 0 and r.n_bpe >= r.n_tokens - 1
        assert r.lang in ("en", "de", "fr", "es", "und")
        assert len(r.fp) == 32
        assert 0.0 <= r.quality_score <= 1.0


def test_media_features(spark):
    assets = synthetic_assets(spark, n=30)
    flow = Flow({"assets": assets})
    out = MediaFeatures("assets", "features")(flow)["features"]
    rows = out.collect()
    assert len(rows) == 30
    for r in rows:
        assert len(r.feat) == 8
        assert len(r.content_hash) == 32
        assert r.n_bytes >= 16
    # strict mode surfaces the stub explicitly
    with pytest.raises(NotImplementedError):
        MediaFeatures("assets", "f", strict=True)(flow)


def test_short_doc_shingles_are_empty(spark):
    """Docs shorter than k tokens/chars yield EMPTY shingle arrays and
    must not crash shingling or the dedup operators built on it (the
    unguarded form threw INVALID_PARAMETER_VALUE.START on sub-k docs
    because sequence(1, 0) is a descending [1, 0] in Spark)."""
    rows = [
        {"doc_id": 1, "text": ""},
        {"doc_id": 2, "text": "one"},
        {"doc_id": 3, "text": "two words"},
        {"doc_id": 4, "text": "now three tokens"},
        {"doc_id": 5, "text": "four whole tokens here"},
    ]
    df = spark.createDataFrame(rows)
    got = {
        r.doc_id: (r.ws, r.cs)
        for r in df.select(
            "doc_id",
            F.size(TXT.word_shingles("text", k=3)).alias("ws"),
            F.size(TXT.char_shingles("text", k=5)).alias("cs"),
        ).collect()
    }
    assert got[1] == (0, 0)  # empty text: no shingles of either kind
    assert got[2][0] == 0 and got[2][1] == 0  # "one" < 3 tokens, < 5 chars
    assert got[3][0] == 0 and got[3][1] > 0
    assert got[4] == (1, len("now three tokens") - 4)
    assert got[5][0] == 2
    # dedup operators run end-to-end over the short-doc corpus
    flow = Flow({"docs": df})
    NgramJaccardPairs("docs", "p", threshold=0.5)(flow)["p"].collect()
    MinHashLSHPairs("docs", "p2", threshold=0.5)(flow)["p2"].collect()


def test_simhash_block_config_validated():
    with pytest.raises(ValueError, match="max_distance"):
        SimHashPairs("d", "p", max_distance=16)
    with pytest.raises(ValueError, match="bits"):
        SimHashPairs("d", "p", max_distance=3, bits=3)
    from strom_spark import SimHashDedup
    with pytest.raises(ValueError, match="max_distance"):
        SimHashDedup("d", "p", max_distance=-1)


def test_embedding_gemm_tiling_matches_untiled(spark, emb):
    """Over max_broadcast_rows the gemm side is hash-tiled (bounded
    driver/executor memory); pairs must be identical to the untiled
    broadcast, with no cross-tile duplicates."""
    flow = Flow({"e": emb})
    base = EmbeddingNearDupPairs("e", "p", threshold=0.3)(flow)["p"]
    tiled = EmbeddingNearDupPairs(
        "e", "p", threshold=0.3, max_broadcast_rows=100, on_overflow="tile"
    )(flow)["p"]
    b = {(r.d1, r.d2, r.cosine) for r in base.collect()}
    t_rows = tiled.collect()
    t = {(r.d1, r.d2, r.cosine) for r in t_rows}
    assert len(t_rows) == len(t)  # no duplicate pairs across tiles
    assert t == b and len(b) > 0
    with pytest.raises(ValueError, match="max_broadcast_rows"):
        EmbeddingNearDupPairs(
            "e", "p", max_broadcast_rows=100, on_overflow="error"
        )(flow)["p"]


def test_wav_decode_real_format(spark):
    """wav_decode is a REAL decoder: build genuine 16-bit PCM WAV
    files with the stdlib wave module, decode, and check features
    against independently computed values; then run the same blobs
    through MediaFeatures(decode_fn=wav_decode) on Spark."""
    import io
    import math
    import struct
    import wave

    def make_wav(freq_hz, sr=8000, n=800, amp=10000, nch=1):
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(nch)
            w.setsampwidth(2)
            w.setframerate(sr)
            frames = b"".join(
                struct.pack("<h", int(amp * math.sin(2 * math.pi * freq_hz * i / sr))) * nch
                for i in range(n)
            )
            w.writeframes(frames)
        return buf.getvalue()

    from strom_spark import wav_decode

    blob = make_wav(440.0)
    nch, sr, nf, dur_ms, peak, mean, rms, zc = wav_decode(blob)
    assert (nch, sr, nf) == (1.0, 8000.0, 800.0)
    assert dur_ms == 100.0
    assert 9990 <= peak <= 10000
    # 440 Hz over 0.1 s -> 44 cycles -> ~88 zero crossings
    assert 80 <= zc <= 96
    assert abs(rms - 10000 / math.sqrt(2)) < 150
    # unsupported width raises instead of faking
    with pytest.raises(Exception):
        wav_decode(b"RIFF not a wav")

    rows = [
        {"asset_id": i, "media_type": "audio", "content": make_wav(100.0 * (i + 1))}
        for i in range(6)
    ]
    df = spark.createDataFrame(rows, schema="asset_id bigint, media_type string, content binary")
    out = MediaFeatures("a", "f", decode_fn=wav_decode)(Flow({"a": df}))["f"]
    got = {r.asset_id: r.feat for r in out.collect()}
    assert len(got) == 6
    for i in range(6):
        assert got[i][:4] == [1.0, 8000.0, 800.0, 100.0]
        expect_zc = 2 * 100.0 * (i + 1) * 0.1  # 2 crossings per cycle
        assert abs(got[i][7] - expect_zc) <= 8


def test_bmp_decode_real_format(spark):
    """bmp_decode is a REAL decoder: parse genuine 24-bit BI_RGB BMP
    bytes (bottom-up rows, 4-byte stride padding), check the decoded
    features against closed forms, certify the row flip via the
    top-left pixel, and reject malformed/unsupported payloads."""
    import struct

    from strom_spark import bmp_decode, bmp_synth

    for i in (0, 3, 7, 123):
        w, h, g = 5 + (i % 6), 3 + (i % 4), i % 256
        feats = bmp_decode(bmp_synth(i))
        assert feats == [
            float(w), float(h), float(w * h),
            (w - 1) / 2, float(g), (h - 1) / 2,
            0.587 * g,
            0.299 * ((w - 1) / 2) + 0.587 * g + 0.114 * ((h - 1) / 2),
        ]

    # top-down BMP (negative height) decodes with NO flip: build one by
    # flipping the header sign and reordering rows, features identical
    blob = bmp_synth(3)
    w, h = 5 + 3, 3 + 3
    stride = (w * 3 + 3) & ~3
    rows = [blob[54 + y * stride : 54 + (y + 1) * stride] for y in range(h)]
    topdown = (
        blob[:22] + struct.pack("<i", -h) + blob[26:54] + b"".join(reversed(rows))
    )
    assert bmp_decode(topdown) == bmp_decode(blob)

    with pytest.raises(ValueError, match="not a BMP"):
        bmp_decode(b"PNG....")
    with pytest.raises(ValueError, match="truncated BMP header"):
        bmp_decode(b"BM" + b"\x00" * 10)
    with pytest.raises(ValueError, match="only 24-bit"):
        # rewrite bpp to 8
        bad = bytearray(bmp_synth(0))
        struct.pack_into("<H", bad, 28, 8)
        bmp_decode(bytes(bad))
    with pytest.raises(ValueError, match="truncated BMP raster"):
        bmp_decode(bmp_synth(0)[:-4])

    # through the Spark pipeline, batched
    rows = [
        {"asset_id": i, "media_type": "image", "content": bmp_synth(i)}
        for i in range(8)
    ]
    df = spark.createDataFrame(
        rows, schema="asset_id bigint, media_type string, content binary"
    )
    out = MediaFeatures("a", "f", decode_fn=bmp_decode)(Flow({"a": df}))["f"]
    got = {r.asset_id: r.feat for r in out.collect()}
    assert len(got) == 8
    for i in range(8):
        assert got[i] == bmp_decode(bmp_synth(i))


def test_y4m_parse_real_format(spark):
    """y4m_parse is a REAL YUV4MPEG2 parser: header tags, FRAME
    walking, C420 frame sizing, even-spacing sampling; malformed
    payloads raise typed errors; FrameSample explodes one row per
    sampled frame with correct timestamps."""
    from strom_spark import Flow, FrameSample, y4m_frames, y4m_parse, y4m_synth

    blob = y4m_synth(3)
    w, h, fn, fd, frames = y4m_parse(blob)
    assert (w, h, fn, fd, len(frames)) == (8, 6, 25, 1, 11)
    assert all(len(fr) == 48 + 24 for fr in frames)
    assert [fr[0] for fr in frames] == [(3 * 7 + j * 11) % 256 for j in range(11)]

    # C444 sizing and explicit fps tag
    c444 = b"YUV4MPEG2 W2 H2 F30:1 C444\n" + b"FRAME\n" + bytes(range(12))
    w, h, fn, fd, frames = y4m_parse(c444)
    assert (w, h, fn, fd) == (2, 2, 30, 1) and frames == [bytes(range(12))]

    # even-spacing: source index i * total // k
    sampled = y4m_frames(blob, 4)
    assert [s[0] for s in sampled] == [
        (3 * 7 + ((i * 11) // 4) * 11) % 256 for i in range(4)
    ]
    assert len(y4m_frames(blob, 100)) == 11  # short clip: every frame

    with pytest.raises(ValueError, match="not a YUV4MPEG2"):
        y4m_parse(b"RIFF....")
    with pytest.raises(ValueError, match="missing W/H"):
        y4m_parse(b"YUV4MPEG2 F25:1\nFRAME\n")
    with pytest.raises(ValueError, match="odd dimensions"):
        y4m_parse(b"YUV4MPEG2 W3 H2\n")
    with pytest.raises(ValueError, match="unsupported Y4M chroma"):
        y4m_parse(b"YUV4MPEG2 W2 H2 C422\n")
    # 10/12-bit 4:2:0 and 444alpha have different bytes-per-sample /
    # plane counts: must refuse upfront, not half-consume a frame and
    # blame the FRAME marker
    with pytest.raises(ValueError, match="unsupported Y4M chroma"):
        y4m_parse(b"YUV4MPEG2 W2 H2 C420p10\n")
    with pytest.raises(ValueError, match="unsupported Y4M chroma"):
        y4m_parse(b"YUV4MPEG2 W2 H2 C444alpha\n")
    with pytest.raises(ValueError, match="corrupt Y4M FRAME"):
        y4m_parse(b"YUV4MPEG2 W2 H2\nBOGUS\n" + b"\x00" * 6)
    with pytest.raises(ValueError, match="truncated Y4M frame payload"):
        y4m_parse(y4m_synth(0)[:-10])

    # through FrameSample: one row per sampled frame, ts = dur*i//n
    df = spark.createDataFrame(
        [{"asset_id": 7, "content": y4m_synth(7), "duration_ms": 480}],
        schema="asset_id bigint, content binary, duration_ms bigint",
    )
    rows = sorted(
        (r.frame_idx, r.frame_ts_ms, r.frame[0])
        for r in FrameSample("a", "f", n_frames=4, frame_fn=y4m_frames)(
            Flow({"a": df})
        )["f"].collect()
    )
    total = 8 + (7 % 5)
    assert rows == [
        (i, 480 * i // 4, (7 * 7 + ((i * total) // 4) * 11) % 256)
        for i in range(4)
    ]


def test_per_component_chunk_knob(spark):
    """Per-component ``chunk`` (reference lib/gen_mix.ex:7: events per
    message through ONE component): Arrow batches are re-sliced to at
    most chunk rows before the Python fn sees them — observable as a
    batch-size column — and the output data is IDENTICAL to the
    unchunked run; invalid chunk values raise."""
    from strom_spark import Flow, MediaFeatures, PandasMap, wav_decode, wav_synth

    df = spark.createDataFrame(
        [(i,) for i in range(40)], "id bigint"
    ).coalesce(1)

    def tag_batch(pdf):
        return pdf.assign(bs=len(pdf))

    chunked = PandasMap("d", tag_batch, "id bigint, bs int", chunk=3)(
        Flow({"d": df})
    )["d"].collect()
    assert max(r.bs for r in chunked) <= 3
    assert sorted(r.id for r in chunked) == list(range(40))
    unchunked = PandasMap("d", tag_batch, "id bigint, bs int")(
        Flow({"d": df})
    )["d"].collect()
    assert max(r.bs for r in unchunked) > 3  # the knob actually changed things

    # MediaFeatures: chunked decode == unchunked decode, row for row
    assets = spark.createDataFrame(
        [{"asset_id": i, "media_type": "audio", "content": wav_synth(i)} for i in range(10)],
        schema="asset_id bigint, media_type string, content binary",
    ).coalesce(1)
    feats = lambda c: sorted(
        (r.asset_id, tuple(r.feat))
        for r in MediaFeatures("a", "f", decode_fn=wav_decode, chunk=c)(
            Flow({"a": assets})
        )["f"].collect()
    )
    assert feats(2) == feats(None) and len(feats(2)) == 10

    with pytest.raises(ValueError, match="chunk"):
        PandasMap("d", tag_batch, "id bigint", chunk=0)
    with pytest.raises(ValueError, match="chunk"):
        MediaFeatures("a", "f", chunk=-1)


def test_wav_synth_closed_forms():
    """wav_synth's square wave hits wav_decode's features exactly at
    their closed forms (the contract the audio_features oracle
    states)."""
    from strom_spark import wav_decode, wav_synth

    for i in (0, 1, 19, 49, 499):
        nf = 160 + (i % 50) * 2
        amp = 1000 + (i % 20) * 100
        assert wav_decode(wav_synth(i)) == [
            1.0, 8000.0, float(nf), nf / 8.0,
            float(amp), 0.0, float(amp), float(nf - 1),
        ]


def test_winnowing_guarantee_and_edges(spark):
    """Winnowing (SIGMOD'03) guarantee: any contiguous shared span of
    >= w+k-1 tokens leaves at least one shared fingerprint.  Here
    k=3, w=4 -> spans of 6+ tokens must collide; sub-k docs yield no
    fingerprints at all."""
    from strom_spark import WinnowFingerprints

    span = "alpha beta gamma delta epsilon zeta"  # 6 tokens
    rows = [
        {"doc_id": 1, "text": f"left filler words {span} right tail words"},
        {"doc_id": 2, "text": f"completely different prefix tokens {span}"},
        {"doc_id": 3, "text": "nothing in common with the others at all"},
        {"doc_id": 4, "text": "too short"},
    ]
    df = spark.createDataFrame(rows)
    out = WinnowFingerprints("d", "f")(Flow({"d": df}))["f"]
    by_doc = {}
    for r in out.collect():
        by_doc.setdefault(r.id, set()).add(r.fp)
    assert by_doc[1] & by_doc[2], "6-token shared span must share a fingerprint"
    assert not (by_doc[1] & by_doc[3])
    assert 4 not in by_doc  # sub-k doc: no grams, no fingerprints
    # set mode returns the same fingerprints as sorted arrays
    st = WinnowFingerprints("d", "f", mode="set")(Flow({"d": df}))["f"]
    got = {r.id: list(r.fps) for r in st.collect()}
    assert set(got[1]) == by_doc[1] and got[1] == sorted(got[1])


def test_hash_sampling_family(spark, docs):
    """Deterministic sampling: HashSample hits its fraction within
    binomial noise and is EXACTLY reproducible; HashSplit partitions
    disjointly; GroupCap keeps at most n per group, stably."""
    from strom_spark import GroupCap, HashSample, HashSplit

    flow = Flow({"d": docs})
    n = docs.count()
    samp = HashSample("d", "s", key_col="doc_id", fraction=0.3)(flow)["s"]
    n_s = samp.count()
    assert abs(n_s - 0.3 * n) < 4 * (0.3 * 0.7 * n) ** 0.5
    ids1 = sorted(r.doc_id for r in samp.collect())
    ids2 = sorted(
        r.doc_id
        for r in HashSample("d", "s", key_col="doc_id", fraction=0.3)(flow)["s"].collect()
    )
    assert ids1 == ids2  # reproducible, not a seeded RNG
    assert ids1 != sorted(
        r.doc_id
        for r in HashSample("d", "s", key_col="doc_id", fraction=0.3, salt="other")(flow)["s"].collect()
    )

    split = HashSplit(
        "d", "sp", key_col="doc_id", splits={"train": 0.8, "val": 0.1, "test": 0.1}
    )(flow)["sp"]
    per = {r.split: r.n for r in split.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert sum(per.values()) == n  # disjoint and exhaustive
    assert per["train"] > per["val"] and per["train"] > per["test"]

    capped = GroupCap("d", "c", by="source", key_col="doc_id", n=7)(flow)["c"]
    sizes = [r.n for r in capped.groupBy("source").agg(F.count("*").alias("n")).collect()]
    assert all(s <= 7 for s in sizes) and len(sizes) > 0

    with pytest.raises(ValueError, match="sum to 1"):
        HashSplit("d", "sp", key_col="doc_id", splits={"a": 0.5, "b": 0.4})
    with pytest.raises(ValueError, match="fraction"):
        HashSample("d", "s", key_col="doc_id", fraction=1.5)


def test_mixture_sample(spark, docs):
    """MixtureSample: per-group rates respected within binomial noise,
    rate-1.0 groups kept whole, rate-0.0 groups dropped entirely,
    unlisted groups use the default, and the kept set is exactly
    reproducible (same portable hash membership as HashSample)."""
    from strom_spark import MixtureSample

    flow = Flow({"d": docs})
    base = {r.source: r.n for r in docs.groupBy("source").agg(F.count("*").alias("n")).collect()}
    rates = {"src0": 1.0, "src1": 0.5, "src2": 0.0}
    mixed = MixtureSample(
        "d", "m", key_col="doc_id", group_col="source", rates=rates, default=0.25
    )(flow)["m"]
    per = {r.source: r.n for r in mixed.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert per["src0"] == base["src0"]  # rate 1.0 keeps everything
    assert "src2" not in per  # rate 0.0 drops the group
    for src, n0 in base.items():
        r = rates.get(src, 0.25)
        if 0 < r < 1:
            assert abs(per.get(src, 0) - r * n0) <= 4 * (r * (1 - r) * n0) ** 0.5 + 1, src
    again = MixtureSample(
        "d", "m", key_col="doc_id", group_col="source", rates=rates, default=0.25
    )(flow)["m"]
    assert sorted(r.doc_id for r in mixed.collect()) == sorted(
        r.doc_id for r in again.collect()
    )

    with pytest.raises(ValueError, match="rate"):
        MixtureSample("d", "m", key_col="doc_id", group_col="source", rates={"x": 1.5})
    with pytest.raises(ValueError, match="at least one"):
        MixtureSample("d", "m", key_col="doc_id", group_col="source", rates={})


def test_streaming_exact_dedup(spark):
    """StreamingExactDedup: first row per fingerprint survives across
    micro-batches, duplicate content later in the stream is dropped,
    state bounded by the watermark."""
    import shutil
    import tempfile

    import pandas as pd

    from strom_spark import StreamingExactDedup
    from strom_spark.streaming.control import run_available

    d = tempfile.mkdtemp(prefix="strom_sdedup_")
    try:
        T0 = pd.Timestamp("2024-01-01 00:00:00")
        M = pd.Timedelta(minutes=1)
        pd.DataFrame(
            {"doc_id": [1, 2, 3], "text": ["aa", "bb", "Aa "], "ts": [T0, T0 + M, T0 + 2 * M]}
        ).astype({"doc_id": "int64", "ts": "datetime64[us]"}).to_parquet(f"{d}/f1.parquet")
        pd.DataFrame(
            {"doc_id": [4, 5], "text": ["bb", "cc"], "ts": [T0 + 3 * M, T0 + 4 * M]}
        ).astype({"doc_id": "int64", "ts": "datetime64[us]"}).to_parquet(f"{d}/f2.parquet")

        stream = (
            spark.readStream.schema("doc_id bigint, text string, ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
            .withWatermark("ts", "1 hour")
        )
        flow = StreamingExactDedup("docs", "kept")(Flow({"docs": stream}))
        run_available(flow["kept"], query_name="t_sdedup", output_mode="append")
        kept = sorted(r.doc_id for r in spark.sql("SELECT * FROM t_sdedup").collect())
        # 3 dups 1 after normalization ("Aa " -> "aa"); 4 dups 2 across batches
        assert kept == [1, 2, 5]
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_bm25_differential(spark):
    """BM25Score vs a pure-python reference implementation on a tiny
    corpus (exact same tokenizer semantics)."""
    import math

    from strom_spark import BM25Score, Flow

    corpus = {
        1: "spark merge join window spark",
        2: "the quick brown fox",
        3: "window window window merge",
        4: "spark",
        5: "",
    }
    terms, k1, b = ["spark", "window"], 1.2, 0.75
    docs = [{"doc_id": i, "text": t} for i, t in corpus.items()]
    toks = {i: [w for w in t.lower().split() if w] for i, t in corpus.items()}
    N = len(toks)
    avgdl = sum(len(w) for w in toks.values()) / N
    dfreq = {t: sum(1 for w in toks.values() if t in w) for t in terms}
    want = {}
    for i, w in toks.items():
        s = 0.0
        for t in terms:
            tf = w.count(t)
            if tf == 0:
                continue
            idf = math.log((N - dfreq[t] + 0.5) / (dfreq[t] + 0.5) + 1.0)
            s += round(idf * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * len(w) / avgdl)), 6)
        if s:
            want[i] = round(s, 6)
    out = BM25Score("d", "o", id_col="doc_id", text_col="text", terms=terms)(
        Flow({"d": spark.createDataFrame(docs)})
    )["o"]
    got = {r.doc_id: round(r.bm25, 6) for r in out.collect()}
    assert got == want
    # higher tf of a rarer term must outrank a common one
    assert got[1] > got[4]
    # the two lowerings must agree exactly: force the wide-bag
    # (explode + groupBy) path with max_inline_terms=0 — same scores,
    # including the duplicate-term-in-bag dedup semantics
    wide = BM25Score(
        "d", "o", id_col="doc_id", text_col="text",
        terms=terms + ["spark"], max_inline_terms=0,
    )(Flow({"d": spark.createDataFrame(docs)}))["o"]
    got_wide = {r.doc_id: round(r.bm25, 6) for r in wide.collect()}
    assert got_wide == want


def test_tfidf_top_terms_ranking(spark):
    """TfIdfTopTerms: corpus-wide terms get idf 0; rank ties break by
    term text; k truncates per document."""
    from strom_spark import Flow, TfIdfTopTerms

    docs = [
        {"doc_id": 1, "text": "common apple apple banana"},
        {"doc_id": 2, "text": "common banana"},
        {"doc_id": 3, "text": "common cherry"},
    ]
    out = TfIdfTopTerms("d", "o", id_col="doc_id", text_col="text", k=2)(
        Flow({"d": spark.createDataFrame(docs)})
    )["o"]
    rows = {(r.doc_id, r.rank): (r.term, r.tfidf) for r in out.collect()}
    # doc 1: apple (tf=2, df=1) beats banana (tf=1, df=2); 'common' (df=N) has tfidf 0
    assert rows[(1, 1)][0] == "apple"
    assert rows[(1, 2)][0] == "banana"
    # every doc emits exactly k=2 rows here (>=2 distinct terms each)
    assert len(rows) == 6
    # idf 0 for corpus-wide term: 'common' can only appear with tfidf 0.0
    for (_, _), (term, s) in rows.items():
        if term == "common":
            assert s == 0.0


def test_connected_components_differential(spark):
    """ConnectedComponents vs python union-find on a random graph plus
    a 64-node path (exercises pointer jumping: converges well under the
    30-round cap where pure neighbor-min would need 64)."""
    import random

    from strom_spark import ConnectedComponents, Flow

    rng = random.Random(3)
    edges = [(rng.randint(0, 200), rng.randint(0, 200)) for _ in range(120)]
    edges += [(1000 + i, 1000 + i + 1) for i in range(64)]  # long path
    edges += [(5000, 5000)]  # self loop

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {n: find(n) for n in parent}

    df = spark.createDataFrame([{"src": a, "dst": b} for a, b in edges])
    out = ConnectedComponents("e", "cc")(Flow({"e": df}))["cc"]
    got = {r.node: r.component for r in out.collect()}
    assert got == want

    with pytest.raises(ValueError, match="integral"):
        ConnectedComponents("e", "cc")(
            Flow({"e": df.withColumn("src", F.col("src").cast("string"))})
        )


def test_ppm_decode_real_format(spark):
    """ppm_decode is a REAL decoder: build genuine P6 (binary, with a
    header comment) and P3 (ASCII) PPM images, decode, check exact
    means; then run through MediaFeatures(decode_fn=ppm_decode)."""
    from strom_spark import Flow, MediaFeatures, ppm_decode

    # 2x2 P6: red, green, blue, white — mean_r = (255+0+0+255)/4
    raster = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 255, 255, 255])
    p6 = b"P6\n# a comment\n2 2\n255\n" + raster
    w, h, mx, npx, mr, mg, mb, luma = ppm_decode(p6)
    assert (w, h, mx, npx) == (2.0, 2.0, 255.0, 4.0)
    assert (mr, mg, mb) == (127.5, 127.5, 127.5)
    assert luma == pytest.approx(127.5)

    p3 = b"P3\n2 1\n255\n255 0 0  0 0 255\n"
    w, h, mx, npx, mr, mg, mb, _ = ppm_decode(p3)
    assert (w, h, npx) == (2.0, 1.0, 2.0)
    assert (mr, mg, mb) == (127.5, 0.0, 127.5)

    for bad in (b"", b"P5\n1 1\n255\n\x00", b"P6\n2 2\n65535\n" + raster, p6[:-4]):
        with pytest.raises(ValueError):
            ppm_decode(bad)

    assets = spark.createDataFrame(
        [{"asset_id": 1, "media_type": "image", "content": p6},
         {"asset_id": 2, "media_type": "image", "content": p3}],
        schema="asset_id bigint, media_type string, content binary",
    )
    out = MediaFeatures("a", "f", decode_fn=ppm_decode)(Flow({"a": assets}))["f"]
    feats = {r.asset_id: r.feat for r in out.collect()}
    assert feats[1][:4] == [2.0, 2.0, 255.0, 4.0]
    assert feats[2][4:7] == [127.5, 0.0, 127.5]


def test_media_resize_real_ppm(spark):
    """MediaResize really resizes PPM: a 4x4 quadrant image shrinks to
    2x2 with the exact nearest-neighbor pixels; the output re-decodes
    with ppm_decode; non-PPM payloads pass through with resized=false
    (or raise in strict mode)."""
    from strom_spark import Flow, MediaResize, ppm_decode, ppm_resize

    # 4x4: top-left red, top-right green, bottom-left blue, bottom-right white
    px = {"r": [255, 0, 0], "g": [0, 255, 0], "b": [0, 0, 255], "w": [255, 255, 255]}
    rows = ["rrgg", "rrgg", "bbww", "bbww"]
    raster = bytes(v for row in rows for c in row for v in px[c])
    p6 = b"P6\n4 4\n255\n" + raster

    small = ppm_resize(p6, 2, 2)
    assert small.startswith(b"P6\n2 2\n255\n")
    # nearest-neighbor at exact 2x downscale picks pixels (0,0) (0,2) (2,0) (2,2)
    assert list(small[-12:]) == px["r"] + px["g"] + px["b"] + px["w"]
    w, h, *_ = ppm_decode(small)
    assert (w, h) == (2.0, 2.0)
    # upscale round-trips the quadrant structure
    big = ppm_resize(small, 4, 4)
    assert ppm_resize(big, 2, 2) == small

    assets = spark.createDataFrame(
        [{"asset_id": 1, "media_type": "image", "content": p6},
         {"asset_id": 2, "media_type": "video", "content": b"\x00\x01\x02mp4ish"}],
        schema="asset_id bigint, media_type string, content binary",
    )
    out = MediaResize("a", "o", target_w=2, target_h=2)(Flow({"a": assets}))["o"]
    got = {r.asset_id: r for r in out.collect()}
    assert got[1].resized and (got[1].width, got[1].height) == (2, 2)
    assert bytes(got[1].content) == small
    assert not got[2].resized and got[2].width is None
    assert bytes(got[2].content) == b"\x00\x01\x02mp4ish"  # untouched

    # executor-side raise arrives wrapped in PySpark's PythonException
    with pytest.raises(Exception, match="not a PPM"):
        MediaResize(
            "a", "o", target_w=2, target_h=2, strict=True
        )(Flow({"a": assets}))["o"].collect()


def test_frame_sample_plumbing(spark):
    """FrameSample: one output row per sampled frame with index and
    duration-proportional timestamp; deterministic fake frames (no
    video codecs here); strict mode raises NotImplementedError."""
    from strom_spark import Flow, FrameSample, synthetic_assets

    assets = synthetic_assets(spark, n=9).filter("media_type = 'video'")
    n_videos = assets.count()
    out = FrameSample("a", "o", n_frames=4)(Flow({"a": assets}))["o"]
    rows = out.collect()
    assert len(rows) == 4 * n_videos
    by_asset = {}
    for r in rows:
        by_asset.setdefault(r.asset_id, []).append(r)
    durs = {r.asset_id: r.duration_ms for r in assets.collect()}
    for aid, frs in by_asset.items():
        assert sorted(f.frame_idx for f in frs) == [0, 1, 2, 3]
        for f in frs:
            if durs[aid] is not None:
                assert f.frame_ts_ms == durs[aid] * f.frame_idx // 4
            assert isinstance(bytes(f.frame), bytes)
    # determinism: same input -> identical frames
    again = FrameSample("a", "o", n_frames=4)(Flow({"a": assets}))["o"].collect()
    assert sorted((r.asset_id, r.frame_idx, bytes(r.frame)) for r in again) == \
           sorted((r.asset_id, r.frame_idx, bytes(r.frame)) for r in rows)

    with pytest.raises(NotImplementedError, match="frame_fn"):
        FrameSample("a", "o", strict=True)(Flow({"a": assets}))

    # NULL duration_ms (arrives as NaN through Arrow) must yield NULL
    # timestamps, not crash the task — images in synthetic_assets have
    # duration_ms=None, so run over the WHOLE mixed-media table
    mixed = synthetic_assets(spark, n=9)
    got = FrameSample("a", "o", n_frames=2)(Flow({"a": mixed}))["o"].collect()
    img_ids = {r.asset_id for r in mixed.filter("media_type = 'image'").collect()}
    assert any(r.asset_id in img_ids and r.frame_ts_ms is None for r in got)


def test_frame_sample_real_decoder_seam(spark):
    """The frame_fn injection point carries REAL decoded frame bytes +
    timestamps end-to-end: a self-describing container format is packed
    on the driver, decoded inside the mapInPandas kernel by a
    parse-then-sample decoder (the ffmpeg shape), and every sampled
    frame's exact payload, index, and duration-proportional timestamp
    come back out.  Also exercises a STRING asset id — the output id
    type is derived from the input schema, not hardcoded bigint.

    The decoder is a CLOSURE (pickled by value): a module-level test
    function would pickle by reference and fail to import on executors."""
    import struct

    from strom_spark import Flow, FrameSample

    def _svc_pack(frames):
        # tiny self-describing container: magic 'SVC1' + uint16 frame
        # count + per-frame uint32 length-prefixed payload
        out = [b"SVC1", struct.pack(">H", len(frames))]
        for fr in frames:
            out.append(struct.pack(">I", len(fr)))
            out.append(fr)
        return b"".join(out)

    def _svc_decode(content, n_frames):
        # the realistic external-decoder shape: parse the container,
        # materialize all frames, return n_frames evenly spaced ones —
        # what an ffmpeg-backed decode-then-sample does; raises on
        # malformed input like a codec would
        import struct as _s

        if bytes(content[:4]) != b"SVC1":
            raise ValueError("not an SVC container")
        total = _s.unpack(">H", bytes(content[4:6]))[0]
        frames, off = [], 6
        for _ in range(total):
            (ln,) = _s.unpack(">I", bytes(content[off : off + 4]))
            off += 4
            frames.append(bytes(content[off : off + ln]))
            off += ln
        if not frames:
            return []
        k = min(n_frames, len(frames))
        return [frames[i * len(frames) // k] for i in range(k)]

    # 3 videos with known distinct frames; string ids
    vids = {}
    for v in range(3):
        frames = [bytes([v * 40 + i]) * (i + 3) for i in range(10 + v * 3)]
        vids[f"vid-{v}"] = frames
    assets = spark.createDataFrame(
        [
            {"asset_id": aid, "content": _svc_pack(frs), "duration_ms": 9000 + 100 * j}
            for j, (aid, frs) in enumerate(sorted(vids.items()))
        ],
        schema="asset_id string, content binary, duration_ms bigint",
    ).repartition(3)

    out = FrameSample("a", "o", n_frames=4, frame_fn=_svc_decode)(
        Flow({"a": assets})
    )["o"]
    assert out.schema["asset_id"].dataType.simpleString() == "string"
    rows = out.collect()
    assert len(rows) == 4 * 3
    durs = {f"vid-{v}": 9000 + 100 * j for j, v in enumerate(range(3))}
    for r in rows:
        frames = vids[r.asset_id]
        # the decoder sampled evenly: frame i of 4 is frames[i*len//4]
        assert bytes(r.frame) == frames[r.frame_idx * len(frames) // 4]
        assert r.frame_ts_ms == durs[r.asset_id] * r.frame_idx // 4

    # malformed container + strict decoder: the error surfaces (no
    # silent fake fallback when a real decoder is injected)
    bad = spark.createDataFrame(
        [{"asset_id": "x", "content": b"JUNK", "duration_ms": 5}],
        schema="asset_id string, content binary, duration_ms bigint",
    )
    with pytest.raises(Exception, match="SVC"):
        FrameSample("a", "o", n_frames=2, frame_fn=_svc_decode)(
            Flow({"a": bad})
        )["o"].collect()


def test_media_resize_degenerate_ppm_passthrough(spark):
    """A zero-width PPM header parses as far as the raster but must be
    rejected as degenerate — passing through (resized=false) in lax
    mode instead of an IndexError killing the task."""
    from strom_spark import Flow, MediaResize, ppm_parse

    with pytest.raises(ValueError, match="degenerate"):
        ppm_parse(b"P6\n0 5\n255\n")
    assets = spark.createDataFrame(
        [{"asset_id": 1, "media_type": "image", "content": b"P6\n0 5\n255\n"}],
        schema="asset_id bigint, media_type string, content binary",
    )
    out = MediaResize("a", "o", target_w=2, target_h=2)(Flow({"a": assets}))["o"]
    r = out.collect()[0]
    assert not r.resized and bytes(r.content) == b"P6\n0 5\n255\n"


def test_pii_redaction_known_cases(spark):
    """redact_pii replaces emails/IPs/phones with typed placeholders
    and pii_counts audits them; clean text passes through untouched."""
    from strom_spark.functions.text import pii_counts, redact_pii

    rows = [
        (1, "mail me at jane.doe+x@example.co.uk or call +1-555-123-4567"),
        (2, "server 10.0.255.3 responded; backup at 192.168.1.1"),
        (3, "no pii here, just words and the number 1234567890123"),
    ]
    df = spark.createDataFrame(rows, "id bigint, text string")
    counts = pii_counts("text")
    out = df.select(
        "id",
        redact_pii("text").alias("red"),
        counts["n_email"].alias("e"),
        counts["n_ipv4"].alias("i"),
        counts["n_phone"].alias("p"),
    ).collect()
    by = {r.id: r for r in out}
    assert by[1].e == 1 and by[1].p == 1
    assert "<EMAIL>" in by[1].red and "<PHONE>" in by[1].red
    assert "jane" not in by[1].red and "4567" not in by[1].red
    assert by[2].i == 2 and by[2].red.count("<IPV4>") == 2
    # a bare 13-digit id is NOT a phone (no separators) and stays
    assert (by[3].e, by[3].i, by[3].p) == (0, 0, 0)
    assert by[3].red == rows[2][1]


def test_repetition_stats_differential(spark):
    """repetition_stats vs hand-computed ratios: a degenerate loop
    scores near 1, varied text scores 1/(n-k+1), <k-token docs drop."""
    from strom_spark.functions.text import repetition_stats

    rows = [
        (1, "spam spam spam spam spam spam spam spam"),   # 6 grams, all equal
        (2, "one two three four five six"),               # 4 distinct grams
        (3, "too short"),                                  # < 3 tokens: omitted
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r.doc_id: r for r in repetition_stats(df, "doc_id", "text", k=3).collect()}
    assert set(got) == {1, 2}
    assert got[1].rep_ratio == pytest.approx(1.0) and got[1].n_grams == 6
    assert got[2].rep_ratio == pytest.approx(0.25) and got[2].n_grams == 4


def test_decontaminate_differential(spark):
    """Decontaminate vs pure-python shingle overlap: flag counts match
    exactly; drop mode removes exactly the flagged docs; eval docs
    shorter than k contribute nothing; reserved-column clash raises."""
    from strom_spark import Decontaminate, Flow

    train = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "pack my box with five dozen liquor jugs"),
        (3, "the quick brown cat sits on the warm mat"),
        (4, "completely unrelated text about spark plans"),
    ]
    ev = [
        (100, "the quick brown fox runs"),   # shares shingles with 1 and 3
        (101, "five dozen liquor jugs here"),  # shares with 2
        (102, "xy"),                           # < k tokens: no shingles
    ]

    def sh(text, k=3):
        w = text.split()
        return {" ".join(w[i : i + k]) for i in range(len(w) - k + 1)}

    ev_grams = set().union(*(sh(t) for _, t in ev))
    want = {
        d: len(sh(t) & ev_grams) for d, t in train if sh(t) & ev_grams
    }

    T = spark.createDataFrame(train, "doc_id bigint, text string")
    E = spark.createDataFrame(ev, "doc_id bigint, text string")
    out = Decontaminate("t", "e", "o", k=3, min_overlap=1)(
        Flow({"t": T, "e": E})
    )["o"]
    got = {r.doc_id: r.n_contaminated for r in out.collect() if r.contaminated}
    assert got == want and 4 not in got

    kept = Decontaminate("t", "e", "o", k=3, min_overlap=1, mode="drop")(
        Flow({"t": T, "e": E})
    )["o"]
    assert sorted(r.doc_id for r in kept.collect()) == sorted(
        d for d, _ in train if d not in want
    )

    with pytest.raises(ValueError, match="clashes"):
        Decontaminate("t", "e", "o")(
            Flow({"t": T.withColumn("contaminated", F.lit(True)), "e": E})
        )
    # the streaming lowering's scratch columns are reserved too: a
    # train __toks would be silently clobbered+dropped there while the
    # batch lowering preserves it — refuse in BOTH lowerings
    with pytest.raises(ValueError, match="clashes"):
        Decontaminate("t", "e", "o")(
            Flow({"t": T.withColumn("__toks", F.lit(1)), "e": E})
        )


def test_unigram_lm_differential(spark):
    """UnigramLMScore vs pure python on a tiny corpus: rare-token docs
    must score higher than boilerplate; exact values match."""
    import math

    from strom_spark import Flow, UnigramLMScore

    corpus = {
        1: "the the the the",
        2: "the quick zephyr",
        3: "xylophone quux",
    }
    toks = {i: t.split() for i, t in corpus.items()}
    all_toks = [t for w in toks.values() for t in w]
    T, V = len(all_toks), len(set(all_toks))
    ct = {t: all_toks.count(t) for t in set(all_toks)}
    want = {}
    for i, w in toks.items():
        s = sum(
            round(w.count(t) * -math.log((ct[t] + 1.0) / (T + 1.0 * V)), 6)
            for t in set(w)
        )
        want[i] = round(s / len(w), 9)
    out = UnigramLMScore("d", "o", id_col="doc_id", text_col="text")(
        Flow({"d": spark.createDataFrame(
            [{"doc_id": i, "text": t} for i, t in corpus.items()])})
    )["o"]
    got = {r.doc_id: round(r.nll, 9) for r in out.collect()}
    assert got == want
    assert got[3] > got[2] > got[1]  # rarer tokens -> higher surprise
    with pytest.raises(ValueError, match="alpha"):
        UnigramLMScore("d", "o", id_col="doc_id", text_col="text", alpha=0)


def test_line_dedup_removes_boilerplate_preserves_order(spark):
    """LineDedup: a line in > max_docs distinct docs vanishes from ALL
    docs; surviving lines keep original order; blank lines are
    structural (never counted, never dropped); a doc whose every line
    is boilerplate disappears; per-doc audit counts reconcile."""
    from strom_spark import Flow, LineDedup

    boiler = "accept all cookies"
    rows = [
        (1, f"alpha one\n{boiler}\n\nalpha two"),
        (2, f"{boiler}\nbeta one"),
        (3, f"gamma one\n{boiler}"),
        (4, f"delta one\n  {boiler}  \ndelta two"),  # trimmed form matches
        (5, boiler),  # fully boilerplate -> dropped doc
        (6, "epsilon only"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {
        r.doc_id: r
        for r in LineDedup("d", max_docs=4)(Flow({"d": df}))["d"].collect()
    }
    assert set(out) == {1, 2, 3, 4, 6}  # doc 5 fully dropped
    assert out[1].text == "alpha one\n\nalpha two"  # blank line survives
    assert out[1].n_kept == 3 and out[1].n_dropped == 1
    assert out[2].text == "beta one"
    assert out[4].text == "delta one\ndelta two"  # whitespace-variant dropped
    assert out[6].text == "epsilon only" and out[6].n_dropped == 0
    # below threshold: nothing dropped anywhere
    loose = LineDedup("d", max_docs=5)(Flow({"d": df}))["d"]
    assert loose.agg(F.sum("n_dropped")).collect()[0][0] == 0


def test_line_dedup_custom_separator(spark):
    """sep is a literal (regex-quoted), round-tripped on re-assembly."""
    from strom_spark import Flow, LineDedup

    rows = [(i, "keep me. the same sentence. tail") for i in range(3)] + [
        (9, "solo. the same sentence")
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {
        r.doc_id: r
        for r in LineDedup("d", sep=". ", max_docs=3)(Flow({"d": df}))[
            "d"
        ].collect()
    }
    assert out[0].text == "keep me. tail"
    assert out[9].text == "solo"
    assert out[9].n_dropped == 1


def test_temperature_mix_flattens_toward_small_groups(spark):
    """TemperatureMix: kept counts ∝ n^alpha — the smallest group is
    untouched (rate 1), larger groups shrink toward it; alpha=1 is the
    identity; membership is deterministic across runs."""
    from strom_spark import Flow, TemperatureMix

    rows = [(i, "big") for i in range(6400)] + [
        (10_000 + i, "mid") for i in range(1600)
    ] + [(20_000 + i, "small") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id bigint, source string")

    def kept(alpha):
        out = TemperatureMix(
            "d", key_col="doc_id", group_col="source", alpha=alpha
        )(Flow({"d": df}))["d"]
        return {r.source: r.n for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()}

    half = kept(0.5)
    # expected ∝ sqrt(n): big ~ sqrt(6400*100)=800, mid ~ sqrt(1600*100)=400
    assert half["small"] == 100  # smallest group keeps everything
    assert abs(half["big"] - 800) < 120 and abs(half["mid"] - 400) < 90
    assert kept(1.0) == {"big": 6400, "mid": 1600, "small": 100}  # identity
    flat = kept(0.0)  # every group flattens to ~n_min
    assert abs(flat["big"] - 100) < 40 and abs(flat["mid"] - 100) < 40
    assert kept(0.5) == half  # pure-function membership: identical rerun
    with pytest.raises(ValueError, match="alpha"):
        TemperatureMix("d", key_col="doc_id", group_col="source", alpha=1.5)

    # NULL group: treated as its own group (null-safe join), so
    # alpha=1 is the identity for NULL-group rows too — they are not
    # silently dropped by the rates join.
    with_null = df.union(
        spark.createDataFrame(
            [(30_000 + i, None) for i in range(50)],
            "doc_id bigint, source string",
        )
    )
    ident = TemperatureMix(
        "d", key_col="doc_id", group_col="source", alpha=1.0
    )(Flow({"d": with_null}))["d"]
    by_group = {
        r.source: r.n
        for r in ident.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert by_group == {"big": 6400, "mid": 1600, "small": 100, None: 50}


def test_phrase_blocklist_word_boundary_semantics(spark):
    """PhraseBlocklist: whole-word-sequence matching on normalized
    text (case/whitespace insensitive), multi-length phrases in one
    pass, no substring false positives; drop mode removes matched
    docs; empty/blank phrases are ignored."""
    from strom_spark import Flow, PhraseBlocklist

    docs = spark.createDataFrame(
        [
            (1, "Click HERE to   unsubscribe now"),  # case+spacing variant
            (2, "subscribe is fine"),  # substring of a phrase word: no hit
            (3, "the winner takes it all"),
            (4, "winner takes nothing"),  # partial phrase: no hit
            (5, "click here to unsubscribe and the winner takes it"),
            (6, None),  # NULL text: 0 hits, kept — both lowerings
        ],
        "doc_id bigint, text string",
    )
    deny = spark.createDataFrame(
        [("here to unsubscribe",), ("winner takes it",), ("",), ("   ",)],
        "phrase string",
    )
    out = {
        r.doc_id: (r.n_blocklisted, r.blocked)
        for r in PhraseBlocklist("d", "p", "o")(
            Flow({"d": docs, "p": deny})
        )["o"].collect()
    }
    assert out[1] == (1, True)
    assert out[2] == (0, False)
    assert out[3] == (1, True)
    assert out[4] == (0, False)
    assert out[5] == (2, True)
    assert out[6] == (0, False)  # NULL text must not flag (nor NULL out)

    kept = PhraseBlocklist("d", "p", "o", mode="drop")(
        Flow({"d": docs, "p": deny})
    )["o"]
    assert sorted(r.doc_id for r in kept.collect()) == [2, 4, 6]

    # the inline predicate lowering (small driver-known list) and the
    # shingle-join lowering (max_inline=0) must agree exactly
    joined = {
        r.doc_id: (r.n_blocklisted, r.blocked)
        for r in PhraseBlocklist("d", "p", "o", max_inline=0)(
            Flow({"d": docs, "p": deny})
        )["o"].collect()
    }
    assert joined == out

    with pytest.raises(ValueError, match="mode"):
        PhraseBlocklist("d", "p", "o", mode="scan")
    with pytest.raises(ValueError, match="max_inline"):
        PhraseBlocklist("d", "p", "o", max_inline=-1)


def test_c4_rules_each_rule_both_ways(spark):
    """c4_rules (Raffel et al. 2020 §2.2): each line/page rule is
    exercised both ways on a handcrafted corpus — kept lines, each
    drop reason, the 3-sentence gate, lorem-ipsum and brace drops —
    and kept_text is the exact newline-join of surviving lines."""
    from strom_spark.functions.text import c4_rules

    good = "this line has at least five words."
    docs = [
        # all lines survive, 4 sentences, clean page -> keep
        {"doc_id": 1, "text": "\n".join([good] * 4)},
        # line drops: no terminal punct / <5 words / javascript
        {"doc_id": 2, "text": "\n".join([
            good,
            "this line has no terminal punctuation",
            "too few words here.",
            "this line mentions JavaScript code sadly.",
            good,
            good,
        ])},
        # page gate: only 2 sentences survive -> c4_keep = 0
        {"doc_id": 3, "text": "\n".join([good] * 2)},
        # lorem ipsum page drop (lines themselves fine)
        {"doc_id": 4, "text": "\n".join([good] * 3 + ["some Lorem Ipsum filler text here."])},
        # curly brace page drop
        {"doc_id": 5, "text": "\n".join([good] * 3) + "\nvar x = {1};"},
        {"doc_id": 6, "text": ""},
        {"doc_id": 7, "text": None},
    ]
    c4 = c4_rules("text")
    rows = {
        r["doc_id"]: r
        for r in spark.createDataFrame(
            docs, "doc_id bigint, text string"
        ).select("doc_id", *[c4[k].alias(k) for k in c4]).collect()
    }
    assert rows[1]["c4_keep"] == 1 and rows[1]["n_kept_lines"] == 4
    assert rows[1]["n_sentences"] == 4
    assert rows[1]["kept_text"] == "\n".join([good] * 4)
    # three drop reasons each remove exactly one line
    assert rows[2]["n_lines"] == 6 and rows[2]["n_kept_lines"] == 3
    assert rows[2]["c4_keep"] == 1  # 3 surviving sentences
    assert rows[3]["n_sentences"] == 2 and rows[3]["c4_keep"] == 0
    assert rows[4]["has_lorem_ipsum"] == 1 and rows[4]["c4_keep"] == 0
    assert rows[4]["n_kept_lines"] == 4  # the lorem LINE itself survives
    assert rows[5]["has_curly_brace"] == 1 and rows[5]["c4_keep"] == 0
    for i in (6, 7):
        assert rows[i]["n_kept_lines"] == 0 and rows[i]["c4_keep"] == 0
        assert rows[i]["kept_text"] == ""


def test_fineweb_rules_each_rule_both_ways(spark):
    """fineweb_rules (Penedo et al. 2024 §3.6): each of the three
    FineWeb custom filters fails in exactly one handcrafted doc while
    a baseline doc passes all three, and the duplicated-line char
    fraction matches a hand-computed value (the sorted-neighbor scan
    must count EVERY occurrence of a repeated line, not n-1)."""
    from strom_spark.functions.text import fineweb_rules

    long_a = "this long line ends with terminal punctuation mark."  # 52
    long_b = "another long line that also ends with a full stop."
    long_c = "a third long distinct line closing with a period too."
    nopunct = "this long line has no terminal punctuation at its end"
    docs = [
        # baseline: all three pass
        {"doc_id": 1, "text": "\n".join([long_a, long_b, long_c])},
        # fails only r_line_punct (ratio 0 <= 0.12)
        {"doc_id": 2, "text": "\n".join([nopunct, nopunct + " xx", nopunct + " yy"])},
        # fails only r_dup_line_chars: long_a twice -> 104/155 >= 0.1
        {"doc_id": 3, "text": "\n".join([long_a, long_a, long_b])},
        # fails only r_short_lines: 3/3 short but all punctuated
        {"doc_id": 4, "text": "short one.\nshort two.\nshort three."},
        {"doc_id": 5, "text": ""},
        {"doc_id": 6, "text": None},
    ]
    fw = fineweb_rules("text")
    rows = {
        r["doc_id"]: r
        for r in spark.createDataFrame(
            docs, "doc_id bigint, text string"
        ).select("doc_id", *[fw[k].alias(k) for k in fw]).collect()
    }
    assert rows[1]["fineweb_keep"] == 1 and rows[1]["n_rules_passed"] == 3
    assert rows[2]["r_line_punct"] == 0 and rows[2]["n_rules_passed"] == 2
    assert rows[3]["r_dup_line_chars"] == 0 and rows[3]["n_rules_passed"] == 2
    # both occurrences of the duplicated line count toward dup chars
    assert rows[3]["dup_line_char_frac"] == round(
        2 * len(long_a) / (2 * len(long_a) + len(long_b)), 6
    )
    assert rows[4]["r_short_lines"] == 0 and rows[4]["short_line_ratio"] == 1.0
    assert rows[4]["r_line_punct"] == 1 and rows[4]["n_rules_passed"] == 2
    # empty/null: one empty line -> punct+short fail, dup passes (0 chars)
    for i in (5, 6):
        assert rows[i]["n_lines"] == 1 and rows[i]["n_rules_passed"] == 1
        assert rows[i]["r_dup_line_chars"] == 1 and rows[i]["fineweb_keep"] == 0


def test_flesch_reading_ease_hand_computed(spark):
    """flesch_reading_ease (Flesch 1948): hand-computed scores — the
    published constants over exact ratios, the >=1 syllable-per-word
    floor for vowel-free words, the sentence floor of 1, and the
    empty-doc identity 206.835."""
    from strom_spark.functions.text import flesch_reading_ease

    docs = [
        (1, "The cat sat. It ran!"),   # 5 words, 2 sentences, 5 syllables
        (2, "tsk 123"),                # two vowel-free words -> 2 syllables
        (3, ""),
        (4, None),
    ]
    fr = flesch_reading_ease("text")
    rows = {
        r.doc_id: r
        for r in spark.createDataFrame(docs, "doc_id bigint, text string")
        .select("doc_id", *[fr[k].alias(k) for k in fr])
        .collect()
    }
    assert (rows[1].n_words, rows[1].n_sentences, rows[1].n_syllables) == (5, 2, 5)
    # 206.835 - 1.015*2.5 - 84.6*1.0
    assert rows[1].flesch == 119.6975
    assert (rows[2].n_words, rows[2].n_sentences, rows[2].n_syllables) == (2, 1, 2)
    # exact-decimal combine: 206.835 - 1.015*2 - 84.6*1 (Python float
    # subtraction of the same constants is off by an ulp — the
    # operator's decimal arithmetic is the defined answer)
    assert rows[2].flesch == 120.205
    for i in (3, 4):
        assert rows[i].n_words == 0 and rows[i].n_sentences == 1
        assert rows[i].flesch == 206.835


def test_unigram_entropy_stats_hand_computed(spark):
    """unigram_entropy_stats (RedPajama-V2 rps_doc_unigram_entropy):
    hand-computed entropy on a 3-token doc, zero entropy on a
    single-type doc (including the -0.0 contribution path), empty and
    null docs omitted, and normalization (case/whitespace) folds
    variants into one type."""
    import math
    from decimal import Decimal, ROUND_HALF_UP

    from strom_spark.functions.text import unigram_entropy_stats

    def r6(x):
        return float(Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP))

    df = spark.createDataFrame(
        [
            (1, "a a b"),
            (2, "x x x"),
            (3, ""),
            (4, None),
            (5, "The   THE the"),
        ],
        "doc_id bigint, text string",
    )
    rows = {
        r.doc_id: r
        for r in unigram_entropy_stats(df, "doc_id", "text").collect()
    }
    assert set(rows) == {1, 2, 5}  # empty/null docs have no types
    assert rows[1].n_tokens == 3 and rows[1].n_types == 2
    assert rows[1].type_token_ratio == 2 / 3
    want = r6(-(2 / 3) * math.log(2 / 3)) + r6(-(1 / 3) * math.log(1 / 3))
    assert rows[1].unigram_entropy == r6(want)
    assert rows[2].n_types == 1 and rows[2].unigram_entropy == 0.0
    # normalization: case + whitespace variants are ONE type
    assert rows[5].n_tokens == 3 and rows[5].n_types == 1
    assert rows[5].unigram_entropy == 0.0


def test_gopher_repetition_stats_hand_computed(spark):
    """gopher_repetition_stats (Rae et al. 2021 Table A1): every
    family checked against hand-computed fractions — dup lines (count
    + char forms), dup paragraphs, top-n-gram char fractions
    (including the faithful-to-paper >1 on overlapping repeats), and
    the overlap-guarded dup-n-gram covered-position fractions."""
    from strom_spark.functions.text import gopher_repetition_stats

    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (2, "menu\nmenu\nmenu\nbody text here\nfooter\nfooter"),
        (3, "spam spam spam spam spam spam"),
        (4, "one two three four five six one two three four five six extra"),
        (5, ""),
        (6, None),
        (7, "para one here\n\npara one here\n\npara two"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = (
        gopher_repetition_stats(df, "doc_id", "text")
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    # doc 2: lines menu×3 / body×1 / footer×2 → (6-3)/6; chars (2·4 +
    # 1·6) / (3·4 + 14 + 2·6)
    assert out.loc[2, "dup_line_frac"] == 0.5
    assert out.loc[2, "dup_line_char_frac"] == round(14 / 38, 6)
    # doc 3: top 2-gram "spam spam" c=5, token-chars 8, tc=24 → >1
    # (the paper's un-de-overlapped top family); dup-5-gram covers all
    # six positions exactly once
    assert out.loc[3, "top_2_gram_char_frac"] == round(40 / 24, 6)
    assert out.loc[3, "dup_5_gram_char_frac"] == 1.0
    assert out.loc[3, "repetition_pass"] == 0
    # doc 4: the repeated 6-token span covers 12 of 13 positions →
    # 44 of 49 token chars, for BOTH n=5 and n=6
    assert out.loc[4, "dup_5_gram_char_frac"] == round(44 / 49, 6)
    assert out.loc[4, "dup_6_gram_char_frac"] == round(44 / 49, 6)
    # doc 7: paragraphs 'para one here'×2 + 'para two' → (3-2)/3;
    # chars 13 / (2·13 + 8)
    assert out.loc[7, "dup_para_frac"] == round(1 / 3, 6)
    assert out.loc[7, "dup_para_char_frac"] == round(13 / 34, 6)
    # clean doc 1: all dup fractions 0; empty/null docs pass all 13
    assert out.loc[1, "dup_line_frac"] == 0.0
    assert out.loc[1, "dup_5_gram_char_frac"] == 0.0
    for i in (5, 6):
        assert out.loc[i, "repetition_pass"] == 1
        assert out.loc[i, "n_rules_passed"] == 13
    # the >= persist_min_rows branch (100 TB pinned-subtree path) is
    # bit-identical to the small-corpus unpinned path
    forced = (
        gopher_repetition_stats(df, "doc_id", "text", persist_min_rows=1)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    assert out.equals(forced)


def test_gopher_rules_each_rule_both_ways(spark):
    """gopher_rules (Rae et al. 2021 A1.1): a handcrafted corpus where
    each rule fails in exactly one doc while a baseline doc passes all
    seven — so every flag is exercised both ways and the composite
    counts are exact."""
    from strom_spark.functions.text import gopher_rules

    good = ("the data and the model have to work with care " * 6).strip()
    docs = [
        # passes all 7: 60 words, mean len ~3.6, stopwords present
        {"doc_id": 1, "text": good},
        # r_word_count: 5 words only
        {"doc_id": 2, "text": "the model and that have"},
        # r_mean_word_len: long pseudo-words (mean > 10)
        {"doc_id": 3, "text": ("the supercalifragilistic and "
                               "antidisestablishmentarianism that have "
                               "internationalization characteristically "
                               "uncharacteristically " * 12) + "to of with"},
        # r_symbol_ratio: dense '#'
        {"doc_id": 4, "text": good + " " + "# " * 20},
        # r_bullet_lines: every line a bullet
        {"doc_id": 5, "text": "\n".join("- " + good for _ in range(4))},
        # r_ellipsis_lines: every line ends '...'
        {"doc_id": 6, "text": "\n".join(good + " ..." for _ in range(4))},
        # r_alpha_words: majority numeric tokens
        {"doc_id": 7, "text": good + " " + " ".join(str(i) for i in range(200))},
        # r_stop_words: 60 words, none of the gopher 8
        {"doc_id": 8, "text": ("alpha beta gamma delta epsilon " * 12).strip()},
    ]
    g = gopher_rules("text")
    rows = {
        r["doc_id"]: r
        for r in spark.createDataFrame(docs)
        .select("doc_id", *[g[k].alias(k) for k in g])
        .collect()
    }
    assert rows[1]["gopher_pass"] == 1 and rows[1]["n_rules_passed"] == 7
    fail_map = {
        2: "r_word_count",
        3: "r_mean_word_len",
        4: "r_symbol_ratio",
        5: "r_bullet_lines",
        6: "r_ellipsis_lines",
        7: "r_alpha_words",
        8: "r_stop_words",
    }
    for doc_id, flag in fail_map.items():
        assert rows[doc_id][flag] == 0, (doc_id, flag, rows[doc_id])
        assert rows[doc_id]["gopher_pass"] == 0
    # bullets/ellipsis docs still pass the OTHER line rule
    assert rows[5]["r_ellipsis_lines"] == 1 and rows[6]["r_bullet_lines"] == 1
    # empty text: 0 words, nothing passes word count, no crash
    empty = (
        spark.createDataFrame([{"doc_id": 9, "text": ""}, {"doc_id": 10, "text": None}])
        .select("doc_id", *[g[k].alias(k) for k in g])
        .collect()
    )
    for r in empty:
        assert r["n_words"] == 0 and r["r_word_count"] == 0 and r["gopher_pass"] == 0


def test_substring_dedup_keep_first_semantics(spark):
    """SubstringDedup (Lee et al. 2022, keep-first): cross-doc runs
    survive only at their first global occurrence, within-doc repeats
    collapse, unique docs pass untouched, and a doc that is entirely
    duplicated text disappears."""
    from strom_spark import Flow, SubstringDedup

    docs = [
        # docs 1/2 share the 6-token run "a b c d e f"; doc 1 first
        {"doc_id": 1, "text": "x a b c d e f y"},
        {"doc_id": 2, "text": "p q a b c d e f r"},
        # internal repetition: "m n o p q r" twice in one doc
        {"doc_id": 3, "text": "m n o p q r z m n o p q r"},
        {"doc_id": 4, "text": "unique tokens only here nothing repeats at all"},
        # exact copy of doc 1: every window non-canonical -> fully
        # covered -> dropped from the output
        {"doc_id": 5, "text": "x a b c d e f y"},
        # shorter than k: no windows, passes untouched
        {"doc_id": 6, "text": "tiny doc"},
    ]
    out = SubstringDedup("d", "o", k=6)(
        Flow({"d": spark.createDataFrame(docs)})
    )["o"]
    got = {r.doc_id: (r.text, r.n_kept, r.n_dropped) for r in out.collect()}
    assert got == {
        1: ("x a b c d e f y", 8, 0),
        2: ("p q r", 3, 6),
        3: ("m n o p q r z", 7, 6),
        4: ("unique tokens only here nothing repeats at all", 8, 0),
        6: ("tiny doc", 2, 0),
    }
    with pytest.raises(ValueError, match="k must be"):
        SubstringDedup("d", "o", k=1)
    # batch-only contract: occurrence counts are corpus statistics
    from strom_spark.component import require_batch  # noqa: F401  (typed error below)
    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .selectExpr("value AS doc_id", "CAST(value AS STRING) AS text")
    )
    with pytest.raises(TypeError, match="SubstringDedup is batch-only"):
        SubstringDedup("d", "o")(Flow({"d": stream}))


def test_substring_dedup_pre_collapse_equivalence(spark):
    """pre_collapse_exact_dups=True is a PLAN change, not a semantics
    change: on a corpus loaded with exact-duplicate docs (long copies
    that must drop, short windowless copies that must survive, plus
    cross-doc shared runs) the collapsed pipeline's output equals the
    naive pipeline's row for row."""
    from strom_spark import Flow, SubstringDedup

    docs = [
        {"doc_id": 1, "text": "x a b c d e f y"},
        {"doc_id": 2, "text": "p q a b c d e f r"},
        {"doc_id": 3, "text": "m n o p q r z m n o p q r"},
        {"doc_id": 4, "text": "unique tokens only here nothing repeats at all"},
        {"doc_id": 6, "text": "tiny doc"},
    ]
    # viral mass: 40 exact copies of doc 1 (>= k tokens -> all drop)
    # and 15 copies of the sub-k doc (windowless -> all survive)
    docs += [{"doc_id": 100 + i, "text": "x a b c d e f y"} for i in range(40)]
    docs += [{"doc_id": 200 + i, "text": "tiny doc"} for i in range(15)]
    df = spark.createDataFrame(docs)

    def run(**kw):
        out = SubstringDedup("d", "o", k=6, **kw)(Flow({"d": df}))["o"]
        return sorted((r.doc_id, r.text, r.n_kept, r.n_dropped) for r in out.collect())

    naive = run()
    collapsed = run(pre_collapse_exact_dups=True)
    assert collapsed == naive
    # the copies really took both re-expansion paths
    ids = {t[0] for t in collapsed}
    assert not any(100 <= i < 140 for i in ids)  # long copies dropped
    assert all(200 + i in ids for i in range(15))  # short copies survive


def test_semdedup_pivot_matches_bruteforce(spark, emb):
    """Pivot-mode SemDeDup vs a literal numpy replay of the definition:
    nearest-of-8-lowest-id-pivots assignment (round-6 cosine, lowest
    centroid id on ties), then is_dup = any smaller-id cluster-mate at
    cosine >= threshold."""
    import numpy as np

    from strom_spark import SemDeDup

    out = (
        SemDeDup("e", "f", threshold=0.3, n_clusters=8, centroids="pivot")(
            Flow({"e": emb})
        )["f"]
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )

    pdf = emb.toPandas().sort_values("vec_id").reset_index(drop=True)
    X = np.stack(pdf["embedding"].to_list()).astype("float64")
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-30)
    ids = pdf["vec_id"].to_numpy()
    C = X[:8]
    S = np.round(X @ C.T, 6)
    # argmax with first-index (= lowest pivot id) tie-break
    cid = ids[np.argmax(S, axis=1)]
    P = np.round(X @ X.T, 6)
    is_dup = np.array(
        [
            any(
                cid[j] == cid[i] and ids[j] < ids[i] and P[j, i] >= 0.3
                for j in range(len(ids))
            )
            for i in range(len(ids))
        ]
    )
    assert (out["centroid_id"].to_numpy() == cid).all()
    assert (out["is_dup"].to_numpy() == is_dup).all()
    assert is_dup.any()  # the threshold exercises the flag path


def test_semdedup_kmeans_path(spark, emb):
    """Production kmeans mode: same output contract, every centroid id
    in [0, k), flags deterministic across reruns (seeded training)."""
    from strom_spark import SemDeDup

    mk = lambda: (
        SemDeDup("e", "f", threshold=0.3, n_clusters=4, centroids="kmeans")(
            Flow({"e": emb})
        )["f"]
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    a, b = mk(), mk()
    assert a.equals(b)
    assert a["centroid_id"].between(0, 3).all()
    assert len(a) == emb.count()
    # keep-first: the globally lowest id can never be flagged
    assert not a.loc[a["vec_id"].idxmin(), "is_dup"]


def test_semdedup_auto_k(spark, emb):
    """Auto cluster count (r12): n_clusters=None resolves k =
    ceil(N/target_cluster_rows) clamped to [1, sample_size/4] — the
    linear-Σc² production sizing; pins are never overridden; planted
    identical vectors are always flagged at any resolved k."""
    from strom_spark import SemDeDup

    # resolution math (no data pass needed beyond the count)
    n = emb.count()
    op = SemDeDup("e", "f", n_clusters=None, target_cluster_rows=100)
    slim = emb.select(
        F.col("vec_id").cast("bigint").alias("id"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    k, _ = op._resolve_k(slim)
    assert k == min(op.sample_size // 4, -(-n // 100))
    assert SemDeDup("e", "f", n_clusters=7)._resolve_k(slim)[0] == 7  # pin
    # planted-dup determinism at auto-k: identical vectors share a
    # cluster at ANY k, the larger id is flagged
    keep = [c for c in emb.columns if c != "vec_id"]
    planted = emb.filter(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"), *keep
    )
    flags = SemDeDup(
        "e", "f", threshold=0.95, n_clusters=None, centroids="kmeans",
        target_cluster_rows=256,
    )(Flow({"e": emb.unionByName(planted)}))["f"]
    flagged = {
        r.vec_id for r in flags.filter(
            (F.col("vec_id") >= 10_000_000) & F.col("is_dup")
        ).collect()
    }
    assert flagged == {10_000_000 + i for i in range(5)}


def test_semdedup_cluster_cap_raises(spark, emb):
    from strom_spark import SemDeDup

    with pytest.raises(Exception, match="max_cluster_rows"):
        SemDeDup(
            "e",
            "f",
            threshold=0.3,
            n_clusters=2,
            centroids="pivot",
            max_cluster_rows=10,
        )(Flow({"e": emb}))["f"].collect()


def test_dsir_weights_prefers_target_vocab(spark):
    """A document written in the target sample's vocabulary must
    outweigh one written in off-target vocabulary, and empty docs
    weigh exactly 0 with 0 features."""
    from strom_spark import DSIRWeights

    corpus = spark.createDataFrame(
        [
            {"doc_id": 1, "text": "alpha beta alpha beta gamma"},
            {"doc_id": 2, "text": "zeta eta theta zeta eta"},
            {"doc_id": 3, "text": None},
            {"doc_id": 4, "text": "alpha"},  # 1 token -> no bigrams
        ]
    )
    target = spark.createDataFrame(
        [{"doc_id": 10, "text": "alpha beta gamma alpha"}]
    )
    out = (
        DSIRWeights("d", "t", "w", n_buckets=64)(
            Flow({"d": corpus, "t": target})
        )["w"]
        .toPandas()
        .set_index("doc_id")
    )
    assert len(out) == 4
    assert out.loc[1, "dsir_weight"] > out.loc[2, "dsir_weight"]
    assert out.loc[3, "dsir_weight"] == 0.0 and out.loc[3, "n_feats"] == 0
    # unigrams + bigrams: 5 tokens -> 5 + 4 features
    assert out.loc[1, "n_feats"] == 9
    # single token: unigram only, and target vocab -> positive-ish weight
    assert out.loc[4, "n_feats"] == 1
    assert out.loc[4, "dsir_weight"] > out.loc[2, "dsir_weight"]


def test_dsir_requires_batch(spark):
    from strom_spark import DSIRWeights

    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .selectExpr("value AS doc_id", "CAST(value AS STRING) AS text")
    )
    batch = spark.createDataFrame([{"doc_id": 1, "text": "a b"}])
    with pytest.raises(TypeError, match="DSIRWeights is batch-only"):
        DSIRWeights("d", "t", "w")(Flow({"d": stream, "t": batch}))


def test_semdedup_requires_batch(spark):
    from strom_spark import SemDeDup

    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .selectExpr("value AS vec_id", "array(CAST(value AS FLOAT)) AS embedding")
    )
    with pytest.raises(TypeError, match="SemDeDup is batch-only"):
        SemDeDup("e", "f")(Flow({"e": stream}))


def test_stupid_backoff_lm(spark):
    """Hand-computed Stupid Backoff on a 3-doc corpus: fluent repeats
    of a corpus-frequent bigram score LOWER than the same unigrams in
    unseen order; single-token and empty docs behave."""
    import math

    from strom_spark import StupidBackoffLM

    corpus = spark.createDataFrame(
        [
            {"doc_id": 1, "text": "a b a b"},
            {"doc_id": 2, "text": "b a b a"},
            {"doc_id": 3, "text": "c c"},
            {"doc_id": 4, "text": None},
        ]
    )
    out = (
        StupidBackoffLM("d", "o", id_col="doc_id", text_col="text")(
            Flow({"d": corpus})
        )["o"]
        .toPandas()
        .set_index("doc_id")
    )
    # null-text doc excluded; 3 scored rows
    assert len(out) == 3 and 4 not in out.index
    assert out.loc[1, "n_tok"] == 4
    # corpus: N=10, c(a)=4, c(b)=4, c(c)=2; bigrams: ab=3, ba=3, cc=1
    # doc 1 "a b a b": -ln(4/10) - ln(3/4) - ln(3/4) - ln(3/4), /4
    exp1 = (
        round(-math.log(4 / 10), 6) + 3 * round(-math.log(3 / 4), 6)
    ) / 4
    assert abs(out.loc[1, "sb_nll"] - exp1) < 1e-9
    # doc 3 "c c": -ln(2/10) - ln(1/2), /2
    exp3 = (round(-math.log(2 / 10), 6) + round(-math.log(1 / 2), 6)) / 2
    assert abs(out.loc[3, "sb_nll"] - exp3) < 1e-9
    # fluency separation: doc 3's rare-vocab doc scores higher than
    # doc 1's frequent-bigram doc
    assert out.loc[3, "sb_nll"] > out.loc[1, "sb_nll"]


def test_stupid_backoff_penalizes_unseen_order(spark):
    """A doc whose bigrams never occur in the rest of the corpus pays
    the 0.4-backoff unigram price at every non-initial position."""
    import math

    from strom_spark import StupidBackoffLM

    corpus = spark.createDataFrame(
        [
            {"doc_id": 1, "text": "x y x y x y"},
            {"doc_id": 2, "text": "y y x x y x"},  # yy/xx unseen-ish
        ]
    )
    out = (
        StupidBackoffLM("d", "o", id_col="doc_id", text_col="text")(
            Flow({"d": corpus})
        )["o"]
        .toPandas()
        .set_index("doc_id")
    )
    assert out.loc[2, "sb_nll"] > out.loc[1, "sb_nll"]


def test_image_phash_properties(spark):
    """aHash invariances on real decoded BMPs: the hash sees geometry
    (dims change it), not the constant color plane (G offset cancels);
    identical images collapse to one group via ImagePHash."""
    from strom_spark import Flow, ImagePHash, bmp_phash, bmp_synth

    # ids 1 and 13: same (w, h) = (6, 4) pattern? w=5+id%6, h=3+id%4
    # id 1 -> (6, 4); id 13 -> (6, 4) with different G plane
    assert bmp_phash(bmp_synth(1)) == bmp_phash(bmp_synth(13))
    # id 2 -> (7, 5): different geometry, different hash
    assert bmp_phash(bmp_synth(1)) != bmp_phash(bmp_synth(2))
    h = bmp_phash(bmp_synth(1))
    assert len(h) == 64 and set(h) <= {"0", "1"}

    rows = [{"asset_id": i, "content": bmp_synth(i)} for i in (1, 13, 2)]
    out = (
        ImagePHash("a", "p")(Flow({"a": spark.createDataFrame(rows)}))["p"]
        .toPandas()
        .set_index("asset_id")
    )
    assert out.loc[1, "phash"] == out.loc[13, "phash"]
    assert out.loc[1, "phash"] != out.loc[2, "phash"]
    assert out.loc[1, "n_bits_set"] == out.loc[1, "phash"].count("1")


def test_image_phash_rejects_non_bmp(spark):
    from strom_spark import bmp_phash

    with pytest.raises(ValueError, match="not a BMP"):
        bmp_phash(b"JFIF not a bmp")


def test_phash_near_dup_pairs_exact(spark):
    """Pigeonhole candidate generation must lose NOTHING vs the
    brute-force Hamming computation, and distances must be exact."""
    import itertools

    from strom_spark import Flow, PHashNearDupPairs, bmp_phash, bmp_synth

    rows = [
        {"asset_id": i, "phash": bmp_phash(bmp_synth(i))} for i in range(24)
    ]
    d = 6
    out = (
        PHashNearDupPairs("p", "pairs", max_distance=d)(
            Flow({"p": spark.createDataFrame(rows)})
        )["pairs"]
        .toPandas()
        .sort_values(["id_a", "id_b"])
        .reset_index(drop=True)
    )
    expect = []
    for a, b in itertools.combinations(rows, 2):
        dist = sum(x != y for x, y in zip(a["phash"], b["phash"]))
        if dist <= d:
            expect.append((a["asset_id"], b["asset_id"], dist))
    got = list(out.itertuples(index=False, name=None))
    assert sorted(got) == sorted(expect)
    assert len(expect) > 0  # the corpus actually exercises the path


def test_image_phash_on_error_policies(spark):
    """A single corrupt or None blob must not silently poison the
    scan: default 'raise' aborts loudly, 'null' keeps an auditable
    null row, 'skip' drops the bad asset — good rows identical."""
    import pandas as pd

    from strom_spark import Flow, ImagePHash, bmp_phash, bmp_synth

    rows = [
        {"asset_id": 1, "content": bmp_synth(1)},
        {"asset_id": 2, "content": b"JFIF not a bmp"},
        {"asset_id": 3, "content": None},
        {"asset_id": 4, "content": bmp_synth(4)},
    ]
    df = spark.createDataFrame(rows, "asset_id int, content binary")

    with pytest.raises(Exception):  # noqa: B017 — executor-side abort
        ImagePHash("a", "p")(Flow({"a": df}))["p"].collect()

    null_out = (
        ImagePHash("a", "p", on_error="null")(Flow({"a": df}))["p"]
        .toPandas()
        .set_index("asset_id")
        .sort_index()
    )
    assert len(null_out) == 4
    assert null_out.loc[1, "phash"] == bmp_phash(bmp_synth(1))
    assert null_out.loc[2, "phash"] is None and null_out.loc[3, "phash"] is None
    assert pd.isna(null_out.loc[2, "n_bits_set"])

    skip_out = (
        ImagePHash("a", "p", on_error="skip")(Flow({"a": df}))["p"]
        .toPandas()
        .set_index("asset_id")
        .sort_index()
    )
    assert list(skip_out.index) == [1, 4]
    assert skip_out.loc[4, "phash"] == bmp_phash(bmp_synth(4))

    with pytest.raises(ValueError, match="on_error"):
        ImagePHash("a", "p", on_error="ignore")


def test_phash_pairs_nbits_mismatch_fails_loudly(spark):
    """A dim=4 ImagePHash (16-char hash) against the default
    n_bits=64 used to silently drop every pair (empty substrings ->
    NULL packed longs -> NULL distances); now it raises."""
    from strom_spark import Flow, ImagePHash, PHashNearDupPairs, bmp_synth

    rows = [{"asset_id": i, "content": bmp_synth(i)} for i in range(6)]
    hashes = ImagePHash("a", "p", dim=4)(
        Flow({"a": spark.createDataFrame(rows, "asset_id int, content binary")})
    )["p"]
    with pytest.raises(Exception, match="phash length 16 != n_bits=64"):
        PHashNearDupPairs("p", "o")(Flow({"p": hashes}))["o"].collect()
    # matching n_bits works
    ok = PHashNearDupPairs("p", "o", n_bits=16, max_distance=2)(
        Flow({"p": hashes})
    )["o"].collect()
    assert isinstance(ok, list)
    # the fingerprint packs into one bigint: wider hashes fail at
    # construction, not with a cast error at run time
    with pytest.raises(ValueError, match="exceeds 64 bits"):
        PHashNearDupPairs("p", "o", n_bits=128)


def test_gram_matrix_hand_computed(spark):
    """GramMatrix: X^T X of [[1,2],[3,4]] is [[10,14],[14,20]] — the
    upper triangle carries each cell once with the row count, and a
    numpy differential on random integers (exact products, no rounding
    ambiguity) confirms every cell."""
    import numpy as np

    from strom_spark import Flow, GramMatrix

    X = [[1.0, 2.0], [3.0, 4.0]]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(X)], "vec_id bigint, embedding array<double>"
    )
    out = {(r.i, r.j): (r.dot, r.n_rows) for r in GramMatrix("e", "g")(
        Flow({"e": df})
    )["g"].collect()}
    assert out == {(0, 0): (10.0, 2), (0, 1): (14.0, 2), (1, 1): (20.0, 2)}

    rng = np.random.default_rng(7)
    Y = rng.integers(-5, 6, size=(20, 4)).astype(float)
    dfy = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(Y)],
        "vec_id bigint, embedding array<double>",
    )
    got = {(r.i, r.j): r.dot for r in GramMatrix("e", "g")(Flow({"e": dfy}))["g"].collect()}
    G = Y.T @ Y
    for i in range(4):
        for j in range(i, 4):
            assert got[(i, j)] == G[i, j], (i, j)

    # shuffle in the input lineage: the in-row pair generation has no
    # row ids to mispair, so a repartitioned/aggregated upstream gives
    # the identical matrix (the monotonically_increasing_id self-join
    # this replaced silently corrupted exactly this shape)
    shuffled = (
        dfy.repartition(8, "vec_id")
        .groupBy("vec_id")
        .agg(F.first("embedding").alias("embedding"))
    )
    got2 = {
        (r.i, r.j): r.dot
        for r in GramMatrix("e", "g")(Flow({"e": shuffled}))["g"].collect()
    }
    assert got2 == got


def test_gram_matrix_id_col_uniqueness_guard(spark):
    """The id_col fast path trusts the caller's column to be a unique
    row key — a duplicated (or null) id fans out the row-keyed
    self-join and silently inflates Gram cells, so the operator must
    refuse loudly instead (r10 advice fix)."""
    import pytest as _pytest

    from strom_spark import Flow, GramMatrix

    dup = spark.createDataFrame(
        [(1, [1.0, 2.0]), (1, [3.0, 4.0])],
        "vec_id bigint, embedding array<double>",
    )
    with _pytest.raises(ValueError, match="not a unique row key"):
        GramMatrix("e", "g", id_col="vec_id")(Flow({"e": dup}))["g"].collect()

    withnull = spark.createDataFrame(
        [(1, [1.0, 2.0]), (None, [3.0, 4.0])],
        "vec_id bigint, embedding array<double>",
    )
    with _pytest.raises(ValueError, match="not a unique row key"):
        GramMatrix("e", "g", id_col="vec_id")(Flow({"e": withnull}))["g"].collect()

    # unique ids still pass and match the keyless path
    ok = spark.createDataFrame(
        [(7, [1.0, 2.0]), (9, [3.0, 4.0])],
        "vec_id bigint, embedding array<double>",
    )
    got = {(r.i, r.j): r.dot for r in GramMatrix("e", "g", id_col="vec_id")(
        Flow({"e": ok})
    )["g"].collect()}
    assert got == {(0, 0): 10.0, (0, 1): 14.0, (1, 1): 20.0}


def test_neighbor_mean_features_hand_computed(spark):
    """NeighborMeanFeatures (GraphSAGE-mean): hand-computed per-dim
    neighbor means on a 3-node directed star, undirected symmetrize
    doubles the edge set correctly, and nodes without in-edges
    (directed mode) produce no rows."""
    from strom_spark import Flow, NeighborMeanFeatures

    edges = spark.createDataFrame([(1, 2), (1, 3)], "src bigint, dst bigint")
    feats = spark.createDataFrame(
        [(1, [10.0, 0.0]), (2, [1.0, 2.0]), (3, [3.0, 4.0])],
        "vec_id bigint, embedding array<double>",
    )
    out = NeighborMeanFeatures("e", "f", "o", directed=True)(
        Flow({"e": edges, "f": feats})
    )["o"]
    rows = {(r.node, r.dim): (r.mean_val, r.n_neighbors) for r in out.collect()}
    # directed: only node 1 aggregates (its out-neighbors 2 and 3)
    assert set(n for n, _ in rows) == {1}
    assert rows[(1, 0)] == (2.0, 2) and rows[(1, 1)] == (3.0, 2)
    # undirected: 2 and 3 each see node 1's features
    out2 = NeighborMeanFeatures("e", "f", "o")(Flow({"e": edges, "f": feats}))["o"]
    rows2 = {(r.node, r.dim): (r.mean_val, r.n_neighbors) for r in out2.collect()}
    assert rows2[(2, 0)] == (10.0, 1) and rows2[(3, 1)] == (0.0, 1)
    assert rows2[(1, 0)] == (2.0, 2)


def test_triangle_count_hand_computed(spark):
    """TriangleCount (Suri & Vassilvitskii 2011) on the diamond K4
    minus one edge: triangles {1,2,3} and {2,3,4} -> participation
    1:1, 2:2, 3:2, 4:1.  Duplicate edges (both orders), self-loops,
    and triangle-free nodes must not perturb the counts; a
    triangle-free graph returns zero rows."""
    from strom_spark import Flow, TriangleCount

    edges = spark.createDataFrame(
        [
            (1, 2), (1, 3), (2, 3), (2, 4), (3, 4),
            (2, 1),          # reversed duplicate
            (3, 2), (3, 2),  # repeated duplicate
            (4, 4),          # self loop
            (4, 5),          # dangling edge: node 5 is in no triangle
        ],
        "src bigint, dst bigint",
    )
    out = {
        r.node: r.n_triangles
        for r in TriangleCount("e", "t")(Flow({"e": edges}))["t"].collect()
    }
    assert out == {1: 1, 2: 2, 3: 2, 4: 1}
    # triangle-free: a path graph
    path = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "src bigint, dst bigint")
    assert TriangleCount("e", "t")(Flow({"e": path}))["t"].count() == 0


def _python_triangle_counts(rows):
    """Reference per-node triangle participation: canonicalize each
    edge to (min, max), drop self-loops, dedupe, enumerate every
    u < v < w with all three edges present, and credit each vertex."""
    from collections import Counter
    from itertools import combinations

    und = {(min(u, v), max(u, v)) for u, v in rows if u != v}
    nodes = sorted({n for e in und for n in e})
    credit = Counter()
    for u, v, w in combinations(nodes, 3):
        if (u, v) in und and (u, w) in und and (v, w) in und:
            credit.update((u, v, w))
    return dict(credit)


def test_triangle_count_matches_python_counter(spark):
    """TriangleCount's adjacency-intersect closure against a pure-Python
    triangle counter on a seeded random multigraph with duplicate
    edges, reversed duplicates, self-loops, a hub, and dangling
    nodes."""
    import random

    from strom_spark import Flow, TriangleCount

    rng = random.Random(1543)
    rows = [(rng.randrange(40), rng.randrange(40)) for _ in range(400)]
    rows += [(0, i) for i in range(1, 30)]  # hub
    rows += [(7, 7), (3, 3)]  # self loops
    edges = spark.createDataFrame(rows, "src bigint, dst bigint")
    got = {
        r.node: r.n_triangles
        for r in TriangleCount("e", "t")(Flow({"e": edges}))["t"].collect()
    }
    want = _python_triangle_counts(rows)
    assert got == want and len(want) > 10


def test_triangle_count_bounded_modes(spark):
    """r13 decade modes.  max_degree: a hub (node 0, degree 5) sits in
    triangles with every spoke pair; capping at its spokes' degree
    removes exactly the hub's edges and the count is exact on the
    induced subgraph.  edge_sample: p=1.0 is the identity; p<1 scales
    by 1/p³ and a kept triangle reads 8.0 at p=0.5."""
    from strom_spark import Flow, TriangleCount

    # hub 0 connected to 1..5; spokes form a cycle 1-2-3-4-5-1
    hub_edges = [(0, i) for i in range(1, 6)]
    cycle = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 1)]
    g = spark.createDataFrame(hub_edges + cycle, "src bigint, dst bigint")
    full = {
        r.node: r.n_triangles
        for r in TriangleCount("e", "t")(Flow({"e": g}))["t"].collect()
    }
    assert full[0] == 5  # hub closes every cycle edge
    # cap 4 < hub degree 5: hub removed, spokes alone (a C5) have none
    capped = TriangleCount("e", "t", max_degree=4)(Flow({"e": g}))["t"]
    assert capped.count() == 0
    # cap above every degree: identical to full
    capped_hi = {
        r.node: r.n_triangles
        for r in TriangleCount("e", "t", max_degree=100)(
            Flow({"e": g})
        )["t"].collect()
    }
    assert capped_hi == full
    # edge_sample=1.0: exact, bigint
    same = {
        r.node: r.n_triangles
        for r in TriangleCount("e", "t", edge_sample=1.0)(
            Flow({"e": g})
        )["t"].collect()
    }
    assert same == full
    # p=0.5 on a single triangle: either all 3 edges survive the coin
    # (counts = 1/p³ = 8.0 per node) or the output is empty
    tri = spark.createDataFrame([(1, 2), (2, 3), (1, 3)], "src bigint, dst bigint")
    est = TriangleCount("e", "t", edge_sample=0.5, seed=7)(
        Flow({"e": tri})
    )["t"].collect()
    assert est == [] or sorted(r.n_triangles for r in est) == [8.0, 8.0, 8.0]

    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_degree"):
        TriangleCount("e", "t", max_degree=1)
    with _pytest.raises(ValueError, match="edge_sample"):
        TriangleCount("e", "t", edge_sample=0.0)
    with _pytest.raises(ValueError, match="wedge_budget"):
        TriangleCount("e", "t", wedge_budget=0)


def test_triangle_count_combined_modes_raw_degrees(spark):
    """r14 advice: with edge_sample AND max_degree combined, the cap
    must read RAW canonical-graph degrees (pre-coin), not sampled
    degrees — otherwise the cap is seed-dependent and not oracle-
    replayable.  edge_sample=1.0 keeps every edge, so any divergence
    between (cap alone) and (cap + sample@1.0) would expose a
    post-sample degree source; and at p<1 the kept-triangle counts on
    a capped graph must still be 1/p³-scaled."""
    from strom_spark import Flow, TriangleCount

    hub_edges = [(0, i) for i in range(1, 6)]
    cycle = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 1)]
    g = spark.createDataFrame(hub_edges + cycle, "src bigint, dst bigint")

    capped = {
        r.node: r.n_triangles
        for r in TriangleCount("e", "t", max_degree=4)(Flow({"e": g}))["t"].collect()
    }
    combined = {
        r.node: r.n_triangles
        for r in TriangleCount("e", "t", max_degree=4, edge_sample=1.0)(
            Flow({"e": g})
        )["t"].collect()
    }
    assert combined == capped  # raw-degree cap, identity coin

    # p<1 on a capped graph: single triangle among low-degree nodes
    # plus a hub wired to everything; cap removes the hub, coin either
    # keeps the whole triangle (8.0 each) or drops it
    tri = [(1, 2), (2, 3), (1, 3)]
    hub = [(9, n) for n in (1, 2, 3)] + [(9, i) for i in range(10, 17)]
    g2 = spark.createDataFrame(tri + hub, "src bigint, dst bigint")
    est = TriangleCount("e", "t", max_degree=3, edge_sample=0.5, seed=7)(
        Flow({"e": g2})
    )["t"].collect()
    assert est == [] or sorted(r.n_triangles for r in est) == [8.0, 8.0, 8.0]
    assert all(r.node in (1, 2, 3) for r in est)  # hub sheared pre-coin


def test_triangle_count_wedge_budget_guard(spark):
    """r14: the Σd² guard fires BEFORE the wedge join materializes —
    a RuntimeError naming the measured volume and the remedies, the
    CosineLSHJoin auto-discipline applied to graphs.  max_degree
    skips the guard (explicit m·K bound); edge_sample discounts the
    effective volume by p²; wedge_budget=None disables."""
    import pytest as _pytest

    from strom_spark import Flow, TriangleCount

    hub_edges = [(0, i) for i in range(1, 6)]
    cycle = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 1)]
    g = spark.createDataFrame(hub_edges + cycle, "src bigint, dst bigint")
    # degrees: hub 5, spokes 3 each -> Σd² = 25 + 5*9 = 70

    with _pytest.raises(RuntimeError, match="wedge_budget"):
        TriangleCount("e", "t", wedge_budget=69)(Flow({"e": g}))
    # budget exactly at the volume: passes (guard is strict-greater)
    ok = TriangleCount("e", "t", wedge_budget=70)(Flow({"e": g}))["t"]
    assert ok.count() == 6  # hub + every spoke sits in >= 1 triangle
    # max_degree skips the guard entirely
    TriangleCount("e", "t", max_degree=4, wedge_budget=1)(Flow({"e": g}))["t"].count()
    # edge_sample discounts by p²: 70 * 0.25 = 17.5 <= 18 passes
    TriangleCount("e", "t", edge_sample=0.5, wedge_budget=18)(Flow({"e": g}))
    with _pytest.raises(RuntimeError, match="effective"):
        TriangleCount("e", "t", edge_sample=0.5, wedge_budget=17)(Flow({"e": g}))
    # None disables
    TriangleCount("e", "t", wedge_budget=None)(Flow({"e": g}))["t"].count()


def test_pagerank_empty_and_damping_guards(spark):
    from strom_spark import Flow, PageRank

    empty = spark.createDataFrame([], "src string, dst string")
    with pytest.raises(ValueError, match="no edges"):
        PageRank("e", "pr")(Flow({"e": empty}))
    # damping quantization: 0.9996 rounds to 1000/1000 (teleport term
    # zeroed) and must be rejected despite passing 0 < d < 1
    with pytest.raises(ValueError, match="quantizes"):
        PageRank("e", "pr", damping=0.9996)
    with pytest.raises(ValueError, match="quantizes"):
        PageRank("e", "pr", damping=0.0001)
    PageRank("e", "pr", damping=0.9994)  # boundary OK


def test_phash_pairs_hot_block_cap(spark):
    """max_block_freq mirrors the NgramJaccardPairs stop-shingle cap:
    a non-binding cap changes NOTHING; a binding cap drops pairs whose
    only agreeing blocks are viral (the flat-image skew hazard) while
    keeping pairs that also agree on a normal block."""
    from strom_spark import Flow, PHashNearDupPairs

    # 8-bit hashes, max_distance=1 -> 2 blocks of 4 bits.  Build a
    # viral first block ('0000' shared by everyone) and distinct
    # second blocks except for ids 4 and 5, which also agree on their
    # second block '1010'.
    rows = [
        {"asset_id": 0, "phash": "0000" + "0001"},
        {"asset_id": 1, "phash": "0000" + "0011"},  # d=1 vs id 0
        {"asset_id": 2, "phash": "0000" + "0111"},  # d=1 vs id 1 (blk1 differs)
        {"asset_id": 3, "phash": "0000" + "1111"},
        {"asset_id": 4, "phash": "0000" + "1010"},
        {"asset_id": 5, "phash": "0000" + "1010"},  # d=0 vs id 4
    ]
    df = spark.createDataFrame(rows)

    def run(cap):
        out = PHashNearDupPairs(
            "p", "o", max_distance=1, n_bits=8, max_block_freq=cap
        )(Flow({"p": df}))["o"]
        return sorted((r.id_a, r.id_b) for r in out.collect())

    uncapped = run(None)
    assert uncapped == [(0, 1), (1, 2), (2, 3), (4, 5)]
    assert run(100) == uncapped  # non-binding cap: identical output
    # cap=3 kills the viral all-zeros block-0 bucket (6 members).  The
    # pairs (0,1), (1,2), (2,3) agree on block 0 only and go with it;
    # (4,5) also agrees on block 1, whose '1010' bucket (2 members)
    # stays under the cap, so it survives even though its FIRST
    # agreeing block is the dropped one
    assert run(3) == [(4, 5)]
    with pytest.raises(ValueError, match="max_block_freq"):
        PHashNearDupPairs("p", "o", max_block_freq=1)


def test_phash_pairs_require_batch(spark):
    from strom_spark import Flow, PHashNearDupPairs

    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .selectExpr("value AS asset_id", "repeat('0', 64) AS phash")
    )
    with pytest.raises(TypeError, match="PHashNearDupPairs is batch-only"):
        PHashNearDupPairs("p", "o")(Flow({"p": stream}))


def test_pagerank_star_graph(spark):
    """Hand-checkable fixed-point PageRank on a 3-node star (hub h
    with spokes a, b; symmetric edges): the hub must outrank the
    spokes, spokes tie exactly, total mass stays <= 1 and > 0.9
    (bounded floor leakage), and reruns are bit-identical."""
    from strom_spark import Flow, PageRank

    edges = spark.createDataFrame(
        [("h", "a"), ("h", "b"), ("a", "h"), ("b", "h")], "src string, dst string"
    )
    mk = lambda: (
        PageRank("e", "pr", iterations=5)(Flow({"e": edges}))["pr"]
        .toPandas()
        .set_index("node")
        .sort_index()
    )
    out, again = mk(), mk()
    assert out.equals(again)  # bit-identical across runs
    assert len(out) == 3
    assert out.loc["h", "rank"] > out.loc["a", "rank"]
    assert out.loc["a", "rank"] == out.loc["b", "rank"]  # exact symmetry
    total = out["rank"].sum()
    assert 0.9 < total <= 1.0 + 1e-12


def test_capture_loop_plans_sees_iterative_bodies(spark):
    """The planprobe hook must expose one DataFrame per round whose
    plan shows the REAL per-round cost (>= 1 shuffle exchange for
    PageRank's dst-keyed aggregate).  Since the r15 lazy unroll,
    iteration counts below ``_TRUNCATE_EVERY`` keep the whole loop in
    ONE un-truncated plan (that is the optimization: partitioning
    flows between rounds instead of being erased by a per-round
    localCheckpoint), while counts past the cadence still truncate —
    so the probe remains the only way to see EVERY round's body."""
    from strom_spark import Flow, PageRank, capture_loop_plans

    edges = spark.createDataFrame(
        [("h", "a"), ("h", "b"), ("a", "h"), ("b", "h")], "src string, dst string"
    )
    with capture_loop_plans() as captured:
        out = PageRank("e", "pr", iterations=3)(Flow({"e": edges}))["pr"]
    stages = [s for s, _ in captured]
    assert stages.count("PageRank/round") == 3
    assert "PageRank/setup" in stages
    body = [d for s, d in captured if s == "PageRank/round"][-1]
    body_plan = body._jdf.queryExecution().executedPlan().toString()
    final_plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" in body_plan  # the per-round shuffle is visible
    # lazy unroll: below the truncation cadence the final plan keeps
    # the whole loop's lineage (no checkpoint erases it)
    assert PageRank._TRUNCATE_EVERY > 3
    assert "Exchange" in final_plan
    # past the cadence, lineage IS truncated: the final plan starts at
    # the last checkpoint and the probe is the only view of rounds 1..6
    with capture_loop_plans() as captured7:
        out7 = PageRank("e", "pr", iterations=7)(Flow({"e": edges}))["pr"]
    assert [s for s, _ in captured7].count("PageRank/round") == 7
    plan7 = out7._jdf.queryExecution().executedPlan().toString()
    assert "ScanExistingRDD" in plan7 or "Scan ExistingRDD" in plan7
    # inactive outside the context: no stray capture, no cost
    from strom_spark import planprobe

    assert planprobe._active is None


def test_loop_body_probe_exposes_hidden_quadratic_join(spark):
    """End-to-end proof the round-8 gate closes the blindness it was
    built for: an Iterate whose BODY plans a CartesianProduct is
    invisible in the post-loop plan once lineage is truncated, but the
    captured loop-body plan shows it — exactly what the CI sweep
    (test_topology_dsl.test_no_quadratic_join_sweep) asserts on."""
    from strom_spark import Flow, capture_loop_plans
    from strom_spark.operators.loop import Iterate

    df = spark.range(6).selectExpr("id AS v")
    dim = spark.range(3).selectExpr("id AS d")

    def body(looping):
        # a quadratic accident: non-equi crossJoin inside the loop
        return (
            looping.crossJoin(dim)
            .groupBy("v")
            .agg(F.count(F.lit(1)).alias("__n"))
            .selectExpr("v + 1 AS v")
        )

    with capture_loop_plans() as cap:
        out = Iterate(
            "s", "o", body=body, exit_when="v >= 6", checkpoint_every=1
        )(Flow({"s": df}))["o"]
        out.count()
    bodies = [d for s, d in cap if s == "Iterate/round"]
    assert bodies, "Iterate probe did not fire"
    body_plans = [
        b._jdf.queryExecution().executedPlan().toString() for b in bodies
    ]
    assert any(
        "CartesianProduct" in p or "BroadcastNestedLoopJoin" in p
        for p in body_plans
    ), "the quadratic join inside the loop body is not visible to the probe"


def test_static_adjacency_no_per_round_edge_shuffle(spark):
    """The round-8 scale guarantee, pinned at the PLAN level: the
    iterative graph operators' static edge tables are persisted
    partitioned on their join keys, so a round body must read them
    via InMemoryTableScan with NO Exchange between the cache scan and
    the join (edges shuffle once for the whole run; only node-sized
    state moves per round).  A refactor back to localCheckpoint (or a
    lost repartition) reintroduces an edge-sized shuffle EVERY round
    at 100 TB — this test fails on exactly that."""
    from strom_spark import Flow, PageRank, capture_loop_plans
    from strom_spark.operators.graph import ConnectedComponents

    # big-enough synthetic edge list that AQE cannot hide the shape
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        edges = spark.range(20_000).selectExpr(
            "CAST(id % 997 AS BIGINT) AS src",
            "CAST((id * 31) % 1009 + 10000 AS BIGINT) AS dst",
        ).distinct()
        with capture_loop_plans() as cap:
            PageRank("e", "pr", iterations=2)(Flow({"e": edges}))["pr"].count()
            ConnectedComponents("e2", "cc", max_iterations=2)(
                Flow({"e2": edges})
            )["cc"].count()

        def cache_scan_feeds_join_unshuffled(body) -> bool:
            """True iff some InMemoryTableScan reaches its SMJ/SHJ with
            no Exchange in between (scan…sort/filter…join only)."""
            plan = body._jdf.queryExecution().executedPlan().toString()
            lines = plan.splitlines()
            for i, line in enumerate(lines):
                if "InMemoryTableScan" not in line:
                    continue
                # walk UP (to lower indentation): the parent chain from
                # the cache scan to its join must contain no Exchange
                indent = len(line) - len(line.lstrip(" :+-*("))
                j = i - 1
                ok = True
                cur = indent
                while j >= 0 and ok:
                    li = lines[j]
                    ind = len(li) - len(li.lstrip(" :+-*("))
                    if ind < cur:
                        cur = ind
                        if "Exchange" in li and "Reused" not in li:
                            ok = False
                        if "Join" in li:
                            return ok
                    j -= 1
            return False

        pr_body = [d for s, d in cap if s == "PageRank/round"][-1]
        cc_body = [d for s, d in cap if s == "ConnectedComponents/round"][-1]
        assert cache_scan_feeds_join_unshuffled(pr_body), (
            "PageRank round body: the persisted adjacency no longer "
            "reaches its join without an Exchange"
        )
        assert cache_scan_feeds_join_unshuffled(cc_body), (
            "ConnectedComponents round body: the persisted sym edges no "
            "longer reach their join without an Exchange"
        )
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_pagerank_requires_batch(spark):
    from strom_spark import Flow, PageRank

    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .selectExpr("CAST(value AS STRING) AS src", "CAST(value + 1 AS STRING) AS dst")
    )
    with pytest.raises(TypeError, match="PageRank is batch-only"):
        PageRank("e", "pr")(Flow({"e": stream}))


def test_arrow_pair_kernels_bit_identical(spark, monkeypatch):
    """r14 Arrow kernel: CosineTopK's broadcast-matrix mapInArrow scan
    must be BIT-identical to the JVM HOF fold on every pair — including
    the edge cases the fold defines the semantics for: ragged rows
    (zip_with null-pads -> null), null elements (poisoned running sum
    -> null), empty vectors (fold seed 0.0), and -0.0 products (the
    +0.0 fold seed makes the first -0.0 product round to +0.0)."""
    from strom_spark import CosineTopK, Flow
    from strom_spark.functions import vectors as V

    default_cap = V.ARROW_TILE_MAX_BYTES
    df = spark.createDataFrame(
        [
            (0, [0.3, -0.7, 0.11]),
            (1, [1e-300, 2.0, -3.5]),          # subnormal-product territory
            (2, [-0.0, 1.0, 0.25]),            # -0.0 element
            (3, [0.5, 0.25]),                  # ragged (dim 2)
            (4, None),                         # missing vector
            (5, [float(i + 1) / 7 for i in range(3)]),
        ],
        "vec_id bigint, embedding array<double>",
    )
    q = df.filter(F.col("vec_id") < 3)

    def knn(corpus, queries, cap_bytes=None):
        """(sorted rows, plan has MapInArrow) for one CosineTopK run."""
        monkeypatch.setattr(V, "ARROW_TILE_MAX_BYTES", cap_bytes or default_cap)
        out = CosineTopK("c", "q", "o", k=10)(
            Flow({"c": corpus, "q": queries})
        )["o"]
        plan = out._jdf.queryExecution().executedPlan().toString()
        return sorted(tuple(r) for r in out.collect()), "MapInArrow" in plan

    # r15 byte guard (verdict #9): with a 1-byte tile cap the Arrow
    # scan bails to the JVM broadcast path — the reference rows, and
    # the executed plan carries no MapInArrow node
    jvm, jvm_arrow = knn(df, q, cap_bytes=1)
    assert not jvm_arrow
    arrow, used_arrow = knn(df, q)
    assert used_arrow
    assert arrow == jvm and len(jvm) > 0

    # ragged query set: a SHORT first row and long later rows.  The
    # guard sizes the tile from the longest vector, so a cap between
    # the first-row estimate (3 × 2 × 8 B) and the max-row estimate
    # (3 × 64 × 8 B) must still take the JVM path
    long_rows = [
        (i, [float((i * 7 + j) % 11) - 5.0 for j in range(64)])
        for i in (11, 12, 13)
    ]
    ragged = spark.createDataFrame(
        [(10, [0.5, -0.25])] + long_rows,
        "vec_id bigint, embedding array<double>",
    ).coalesce(1)
    rq = ragged.filter(F.col("vec_id") < 13)
    ragged_jvm, _ = knn(ragged, rq, cap_bytes=1)
    ragged_capped, ragged_arrow = knn(ragged, rq, cap_bytes=3 * 2 * 8 + 100)
    assert not ragged_arrow
    assert ragged_capped == ragged_jvm and len(ragged_jvm) > 0
    # uncapped, the ragged tile runs in Arrow and still matches
    ragged_uncapped, ragged_arrow = knn(ragged, rq)
    assert ragged_arrow and ragged_uncapped == ragged_jvm
