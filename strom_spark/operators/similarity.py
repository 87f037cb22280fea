"""Similarity search over embedding columns (array<float>).

Two paths:

  - **CosineTopK** — exact brute force: broadcast the (small) query
    set, linear scan of the corpus, per-query top-k via window rank.
    This IS the right 100 TB plan for small query sets: embarrassingly
    parallel, no corpus shuffle, one narrow shuffle of the (tiny)
    per-partition top-k results.
  - **CosineLSHJoin** — random-hyperplane (sign) LSH: H deterministic
    hyperplanes (seeded numpy, shipped as literal arrays — a few KB),
    each vector hashed to a sign bit-string; ``n_tables`` independent
    tables of ``bits_per_table`` bits each form bucket keys.  Vectors
    meet only within a bucket -> sub-quadratic candidate pairs,
    verified with the exact dot product.  Approximate recall (tunable
    via tables × bits), exact precision.

Both compute similarity with JVM higher-order functions — no Python.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from ..cache import cut as _cut, pin as _pin
from ..component import Component
from ..flow import Flow
from ..functions import vectors as V
from ..io import spread as _io_spread

import weakref

#: k-means training memo, scoped to a corpus DataFrame OBJECT (r15):
#: ivf_index_search trains IVFIndex and the in-memory IVFTopK off the
#: same frame in one build — identical seeded training, two sample
#: jobs.  Weak keys mean the entry dies with the frame; a fresh
#: DataFrame per bench run guarantees nothing survives across runs.
_TRAIN_MEMO: "weakref.WeakKeyDictionary[DataFrame, dict]" = (
    weakref.WeakKeyDictionary()
)


class CosineTopK(Component):
    """Exact top-k nearest neighbors (cosine) for each query vector.

    ``queries``: name of a flow stream holding (id_col, vec_col) query
    rows — small enough to broadcast.  Output: (query_id, neighbor_id,
    cosine, rank) with rank 1..k, self-matches excluded, deterministic
    tie-break on neighbor id.
    """

    def __init__(
        self,
        input: str,
        queries: str,
        output: str,
        *,
        k: int = 10,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        max_broadcast_rows: int = 1_000_000,
        on_overflow: str = "tile",
        label: str | None = None,
    ):
        if on_overflow not in ("tile", "error"):
            raise ValueError("on_overflow must be 'tile' or 'error'")
        self.input = input
        self.queries = queries
        self.output = output
        self.k = k
        self.id_col = id_col
        self.vec_col = vec_col
        self.max_broadcast_rows = max_broadcast_rows
        self.on_overflow = on_overflow
        self.label = label

    def transform(self, flow: Flow) -> Flow:
        from functools import reduce

        # Materialize the slim query projection ONCE: the guard's count
        # and the broadcast scan (and every tile filter) then reuse the
        # checkpointed rows instead of recomputing upstream lineage.
        # vectors ride pre-cast to array<double> (r14): float→double is
        # exact, and casting ONCE per row removes the per-element casts
        # the interpreted fold would otherwise pay per PAIR (measured
        # ~9% off the corpus×query scan at sf0.1, 0 value changes)
        queries = flow[self.queries].select(
            F.col(self.id_col).alias("query_id"),
            F.col(self.vec_col).cast("array<double>").alias("__qv"),
            V.norm(F.col(self.vec_col).cast("array<double>")).alias("__qn"),
        ).transform(_cut)
        # Norms are precomputed ONCE per row (scalar next to the raw
        # vector) and the per-pair cosine is dot/(qn*cn) — the exact
        # double sequence DuckDB's list_cosine_similarity evaluates, so
        # 6dp-rounded scores are BIT-identical to the SQL oracle (the
        # earlier normalize-then-dot form rounded each element first
        # and could flip the 6th decimal on boundary pairs).
        corpus = flow[self.input].select(
            F.col(self.id_col).alias("neighbor_id"),
            F.col(self.vec_col).cast("array<double>").alias("__cv"),
            V.norm(F.col(self.vec_col).cast("array<double>")).alias("__cn"),
        )

        def scan(qtile):
            return (
                corpus.join(F.broadcast(qtile), F.col("query_id") != F.col("neighbor_id"))
                .withColumn(
                    "cosine",
                    F.round(
                        V.dot("__qv", "__cv") / (F.col("__qn") * F.col("__cn")),
                        6,
                    ),
                )
                .select("query_id", "neighbor_id", "cosine")
            )

        # GUARD (same pattern as dedup.EmbeddingNearDupPairs): the
        # small-query assumption is enforced, not just documented.  A
        # forced broadcast never backs off — above the bound, hash-TILE
        # the query side so each broadcast is one bounded tile (each
        # query lives in exactly one tile; no cross-tile duplicates).
        n_q = queries.count()
        from strom_spark.planprobe import probe_bounded_broadcast

        probe_bounded_broadcast("CosineTopK/queries", n_q, self.max_broadcast_rows)
        if n_q <= self.max_broadcast_rows:
            # Arrow broadcast-matrix scan (r14, guide §4.2): the same
            # bounded query tile a broadcast join would ship, crossed
            # with corpus batches in one vectorized mapInArrow pass —
            # fold-ordered numpy dots are bit-identical to the JVM HOF
            # fold at a fraction of its interpreted per-element cost.
            # Falls back to the JVM broadcast-join scan on unmapped id
            # types and on tiles over the byte cap.
            sims = self._scan_arrow(corpus, queries, n_q)
            if sims is None:
                sims = scan(queries)
        elif self.on_overflow == "error":
            raise ValueError(
                f"CosineTopK: query set has {n_q} rows > max_broadcast_rows="
                f"{self.max_broadcast_rows}; use on_overflow='tile' or the "
                "IVF/LSH paths for bulk query loads"
            )
        else:
            # NOTE: hash tiling bounds each tile only in EXPECTATION —
            # xxhash64 skew or duplicate query_id values can push one
            # tile past max_broadcast_rows (acceptable heuristic, same
            # as dedup's; use a row_number range if a hard cap matters).
            n_tiles = -(-n_q // self.max_broadcast_rows)  # ceil
            tiled = queries.withColumn(
                "__tile", F.pmod(F.xxhash64("query_id"), F.lit(n_tiles)).cast("int")
            )
            sims = reduce(
                lambda a, b: a.unionAll(b),
                [
                    scan(tiled.filter(F.col("__tile") == t).drop("__tile"))
                    for t in range(n_tiles)
                ],
            )
        w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
        out = (
            sims.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= self.k)
        )
        return flow.without(self.input, self.queries).with_stream(self.output, out)

    def _scan_arrow(self, corpus: DataFrame, queries: DataFrame, n_q: int):
        """Broadcast-matrix pair scan (r14, guide §4.2): collect the
        guard-bounded query tile once (the exact rows a broadcast join
        ships to every executor anyway), cross it with corpus batches
        inside ONE vectorized ``mapInArrow`` pass, and emit
        (neighbor, query, dot) rows.  Only the slim corpus projection
        crosses the Python boundary; per batch the kernel runs two
        numpy ufuncs per dimension instead of an interpreted lambda
        eval per element per pair.  The per-pair double sequence is
        bit-identical to the JVM fold (same association order, same
        +0.0 seed, float→double casts exact; see vectors._fold_dot_row),
        and the division by the JVM-precomputed norms plus the 6dp
        round stay in the JVM — so cosines cannot move by one bit.
        Ragged corpus batches and malformed query rows take a per-row
        Python fold that replicates ``zip_with`` null semantics.
        Returns None when an id type has no Arrow mapping (caller
        keeps the JVM broadcast-join scan)."""
        import numpy as np
        import pyarrow as pa

        nid_t = corpus.schema["neighbor_id"].dataType.simpleString()
        qid_t = queries.schema["query_id"].dataType.simpleString()
        qid_pa = V.pa_type_for(qid_t)
        if qid_pa is None or V.pa_type_for(nid_t) is None:
            return None
        # BYTE guard (r15, verdict #9): the row guard alone lets a
        # high-dim tile blow the driver — rows × dim × 8 is the real
        # footprint.  Size it from the LONGEST query vector (one cheap
        # aggregate off the checkpointed frame — conservative for
        # ragged input, where a short first row would under-estimate)
        # and bail to the JVM broadcast scan when the estimated matrix
        # exceeds the cap; under the cap, ONE collect of the slim (id,
        # vec, norm) projection is bounded by construction.
        d_max = queries.agg(F.max(F.size("__qv"))).first()[0] or 0
        if n_q * max(d_max, 1) * 8 > V.ARROW_TILE_MAX_BYTES:
            return None
        rows = queries.collect()  # bounded by the byte guard above
        good, bad = [], []
        d0 = None
        for r in rows:
            v = r["__qv"]
            if v is not None and all(x is not None for x in v):
                if d0 is None:
                    d0 = len(v)
                if len(v) == d0:
                    good.append(r)
                    continue
            bad.append(r)
        Q = (
            np.array([r["__qv"] for r in good], dtype="float64")
            if good
            else np.zeros((0, d0 or 0))
        )
        qn = np.array([r["__qn"] for r in good], dtype="float64")
        qids = [r["query_id"] for r in good]
        bad_rows = [(r["query_id"], r["__qv"], r["__qn"]) for r in bad]
        bq = corpus.sparkSession.sparkContext.broadcast(
            (qids, Q, qn, bad_rows)
        )
        schema = (
            f"neighbor_id {nid_t}, __cn double, query_id {qid_t}, "
            f"__qn double, __dot double"
        )
        names = ["neighbor_id", "__cn", "query_id", "__qn", "__dot"]
        uniform, fold_row = V._uniform_matrix, V._fold_dot_row

        def compute(batches):
            import numpy as np
            import pyarrow as pa

            qids, Q, qn, bad_rows = bq.value
            m, d = Q.shape
            qid_arr = pa.array(qids, type=qid_pa)
            for batch in batches:
                n = batch.num_rows
                if n == 0:
                    continue
                nid_col, cn_col = batch.column(0), batch.column(2)
                C = uniform(batch.column(1), n)
                matrix_ok = C is not None and C.shape[1] == d and m > 0
                if matrix_ok:
                    # bound each emitted batch at ~4M pair rows
                    qc_step = max(1, 4_000_000 // max(n, 1))
                    for q0 in range(0, m, qc_step):
                        Qc = Q[q0:q0 + qc_step]
                        qc = Qc.shape[0]
                        acc = np.zeros((n, qc))
                        for i in range(d):
                            acc = acc + C[:, i:i + 1] * Qc[None, :, i]
                        rep = pa.array(
                            np.repeat(np.arange(n, dtype="int64"), qc)
                        )
                        til = pa.array(
                            np.tile(np.arange(q0, q0 + qc, dtype="int64"), n)
                        )
                        yield pa.RecordBatch.from_arrays(
                            [
                                nid_col.take(rep),
                                cn_col.take(rep),
                                qid_arr.take(til),
                                pa.array(
                                    np.tile(qn[q0:q0 + qc], n),
                                    type=pa.float64(),
                                ),
                                pa.array(acc.ravel(), type=pa.float64()),
                            ],
                            names=names,
                        )
                # per-row fold: malformed queries always; ALL queries
                # when the corpus batch itself is ragged/null-bearing
                leftovers = (
                    bad_rows
                    if matrix_ok
                    else [
                        (q, Q[j].tolist(), float(qn[j]))
                        for j, q in enumerate(qids)
                    ]
                    + bad_rows
                )
                if leftovers:
                    xs = batch.column(1).to_pylist()
                    nids = nid_col.to_pylist()
                    cns = cn_col.to_pylist()
                    out = {k: [] for k in names}
                    for qid_v, qv, qn_v in leftovers:
                        for i in range(n):
                            out["neighbor_id"].append(nids[i])
                            out["__cn"].append(cns[i])
                            out["query_id"].append(qid_v)
                            out["__qn"].append(qn_v)
                            out["__dot"].append(fold_row(xs[i], qv))
                    yield pa.RecordBatch.from_arrays(
                        [
                            pa.array(out["neighbor_id"], type=nid_col.type),
                            pa.array(out["__cn"], type=pa.float64()),
                            pa.array(out["query_id"], type=qid_pa),
                            pa.array(out["__qn"], type=pa.float64()),
                            pa.array(out["__dot"], type=pa.float64()),
                        ],
                        names=names,
                    )

        sims = corpus.mapInArrow(compute, schema)
        return (
            sims.filter(F.col("query_id") != F.col("neighbor_id"))
            .withColumn(
                "cosine",
                F.round(F.col("__dot") / (F.col("__qn") * F.col("__cn")), 6),
            )
            .select("query_id", "neighbor_id", "cosine")
        )

    def input_names(self) -> Sequence[str]:
        return (self.input, self.queries)

    def output_names(self) -> Sequence[str]:
        return (self.output,)


class IVFTopK(Component):
    """IVF (inverted-file) approximate top-k cosine neighbors.

    The scale path next to brute-force ``CosineTopK``: k-means-lite
    centroids trained on a bounded deterministic sample driver-side,
    then one linear ``mapInPandas`` scan assigns every corpus vector to
    its nearest centroid (batch GEMM against the broadcast centroid
    matrix — the inverted lists).  Each query probes only its
    ``n_probe`` nearest lists; candidates reach the exact cosine
    rerank through an equi-join on ``centroid_id``, so only
    ~n_probe/n_centroids of the corpus is scanned per query.
    ``n_probe == n_centroids`` degrades gracefully to exact brute
    force.  Output matches CosineTopK: (query_id, neighbor_id, cosine,
    rank).

    At 100 TB: training cost is bounded by ``sample_size`` (constant),
    assignment is one embarrassingly-parallel scan, and the probe join
    shuffles only centroid-bucketed slices — for repeated query loads,
    persist the assigned corpus partitioned by centroid_id and the
    probe becomes partition pruning.

    ``n_centroids=None`` (the r10 PRODUCTION default) auto-sizes the
    list count to ``max(4, round(sqrt(N)))`` from one corpus count —
    the classical IVF balance point (per-query probe work ~
    n_probe·N/k rows vs k centroid dots; k≈sqrt(N) equalizes them),
    and the r9 recall/cost curve (SCALE.md) measured that at a FIXED
    scan fraction more lists strictly help recall.  ``n_probe=None``
    then probes ``ceil(k/4)`` lists (a 25% scan fraction, the same
    fraction the old 16/4 default ran) — EXCEPT below ``min_ivf_n``
    corpus rows (default 1024), where auto falls back to exact brute
    force (``n_probe=k``): at a few hundred vectors the whole corpus
    is one broadcast batch, IVF saves nothing, and quantization noise
    on so few lists is the dominant recall cost (measured 0.595 at
    N=500 in r10 — the only sub-0.6 point on the curve).  Pass
    explicit ints to pin a benchmark-scale config.
    """

    def __init__(
        self,
        input: str,
        queries: str,
        output: str,
        *,
        k: int = 10,
        n_centroids: int | None = None,
        n_probe: int | None = None,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        sample_size: int = 4096,
        iters: int = 5,
        seed: int = 13,
        max_broadcast_rows: int = 1_000_000,
        min_ivf_n: int = 1024,
        label: str | None = None,
    ):
        self.input = input
        self.queries = queries
        self.output = output
        self.k = k
        self.n_centroids = n_centroids
        self.n_probe = n_probe
        self.id_col = id_col
        self.vec_col = vec_col
        self.sample_size = sample_size
        self.iters = iters
        self.seed = seed
        self.max_broadcast_rows = max_broadcast_rows
        self.min_ivf_n = min_ivf_n
        self.label = label

    def _resolve(self, corpus: DataFrame) -> tuple[int, int]:
        """(n_centroids, n_probe) with the auto (None) defaults
        resolved from one corpus count: k = max(4, round(sqrt(N))),
        n_probe = ceil(k/4) — or n_probe = k (exact search) when the
        corpus is below ``min_ivf_n`` rows, where IVF cannot win
        (r11 small-N guard).  Shared by IVFTopK and IVFIndex."""
        k = self.n_centroids
        n_probe = getattr(self, "n_probe", None)
        if k is None:
            n = corpus.count()
            k = max(4, int(round(n**0.5)))
            if n_probe is None and n < getattr(self, "min_ivf_n", 1024):
                n_probe = k
        if n_probe is None:
            n_probe = -(-k // 4)  # ceil
        return k, min(n_probe, k)

    def _train(self, corpus: DataFrame, n_centroids: int) -> np.ndarray:
        # r15: memoized per (corpus DataFrame OBJECT, params) — NOT
        # per data/path.  ivf_index_search builds IVFIndex and the
        # in-memory IVFTopK off the SAME corpus frame in one query
        # build; both trained identically (seeded) and each paid the
        # TakeOrdered+toPandas sample job.  A WeakKeyDictionary on the
        # frame object scopes the memo to one build: every bench run
        # constructs a fresh DataFrame, so nothing survives across
        # runs (the intra-execution-reuse discipline, same as persist).
        key = (n_centroids, self.sample_size, self.iters, self.seed,
               self.id_col, self.vec_col)
        per_df = _TRAIN_MEMO.setdefault(corpus, {})
        hit = per_df.get(key)
        if hit is not None:
            return hit
        sample = (
            corpus.select(F.col(self.id_col).alias("id"), F.col(self.vec_col).alias("v"))
            .orderBy("id")
            .limit(self.sample_size)
            .toPandas()
        )
        X = np.stack(sample["v"].to_list()).astype("float64")
        X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-30)
        rng = np.random.default_rng(self.seed)
        k = min(n_centroids, len(X))
        C = X[rng.choice(len(X), size=k, replace=False)]
        for _ in range(self.iters):
            assign = np.argmax(X @ C.T, axis=1)
            for j in range(k):
                members = X[assign == j]
                if len(members):
                    c = members.mean(axis=0)
                    C[j] = c / max(np.linalg.norm(c), 1e-30)
        per_df[key] = C
        return C

    def transform(self, flow: Flow) -> Flow:
        import pandas as pd

        corpus = flow[self.input]
        n_centroids, n_probe = self._resolve(corpus)
        C = self._train(corpus, n_centroids)
        spark = corpus.sparkSession
        bc = spark.sparkContext.broadcast(C)

        slim = corpus.select(
            F.col(self.id_col).alias("neighbor_id"),
            F.col(self.vec_col).cast("array<double>").alias("v"),
        )
        nid_type = slim.schema["neighbor_id"].dataType.simpleString()

        def assign(batches):
            M = bc.value
            for batch in batches:
                if not len(batch):
                    continue
                B = np.stack(batch["v"].to_list()).astype("float64")
                B /= np.maximum(np.linalg.norm(B, axis=1, keepdims=True), 1e-30)
                cid = np.argmax(B @ M.T, axis=1)
                # normalization is INTERNAL to centroid assignment; the
                # RAW vector rides on so the exact rerank uses the same
                # dot/(qn*nn) double sequence as CosineTopK/the oracle
                yield pd.DataFrame(
                    {
                        "neighbor_id": batch["neighbor_id"],
                        "centroid_id": cid.astype("int32"),
                        "nv": list(batch["v"]),
                    }
                )

        assigned = slim.mapInPandas(
            assign,
            schema=f"neighbor_id {nid_type}, centroid_id int, nv array<double>",
        ).withColumn("nn", V.norm("nv"))

        probe_df = _probe_assign(
            flow[self.queries], C, n_probe, self.id_col, self.vec_col
        )
        joined = _probe_join(
            assigned, probe_df, self.max_broadcast_rows
        ).filter(F.col("query_id") != F.col("neighbor_id"))
        sims = _rerank_cosine(joined)
        w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
        out = sims.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= self.k)
        return flow.without(self.input, self.queries).with_stream(self.output, out)

    def input_names(self) -> Sequence[str]:
        return (self.input, self.queries)

    def output_names(self) -> Sequence[str]:
        return (self.output,)


class IVFIndex(Component):
    """Persist the IVF inverted lists: assign every corpus vector to
    its nearest centroid and write parquet PARTITIONED BY centroid_id.

    This is what makes IVF pay off (see SCALE.md): a one-shot IVFTopK
    re-scans the corpus for assignment, but against a persisted index
    the probe is a partition-PRUNED scan — only n_probe/n_centroids of
    the files are even opened (PartitionFilters in the plan, asserted
    in tests).  Centroids are stored alongside as
    ``<path>/_centroids.json``.
    """

    def __init__(
        self,
        input: str,
        path: str,
        *,
        n_centroids: int | None = None,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        sample_size: int = 4096,
        iters: int = 5,
        seed: int = 13,
        label: str | None = None,
    ):
        self.input = input
        self.path = path
        self.n_centroids = n_centroids
        self.id_col = id_col
        self.vec_col = vec_col
        self.sample_size = sample_size
        self.iters = iters
        self.seed = seed
        self.label = label

    def transform(self, flow: Flow) -> Flow:
        import json

        import pandas as pd

        corpus = flow[self.input]
        trainer = IVFTopK(
            "c",
            "q",
            "o",
            n_centroids=self.n_centroids,
            id_col=self.id_col,
            vec_col=self.vec_col,
            sample_size=self.sample_size,
            iters=self.iters,
            seed=self.seed,
        )
        n_centroids, _ = trainer._resolve(corpus)
        C = trainer._train(corpus, n_centroids)
        bc = corpus.sparkSession.sparkContext.broadcast(C)
        slim = corpus.select(
            F.col(self.id_col).alias("neighbor_id"),
            F.col(self.vec_col).cast("array<double>").alias("v"),
        )
        nid_type = slim.schema["neighbor_id"].dataType.simpleString()

        def assign(batches):
            M = bc.value
            for batch in batches:
                if not len(batch):
                    continue
                B = np.stack(batch["v"].to_list()).astype("float64")
                B /= np.maximum(np.linalg.norm(B, axis=1, keepdims=True), 1e-30)
                # store the RAW vector: the search-time rerank computes
                # dot/(qn*nn) JVM-side (CosineTopK's exact sequence)
                yield pd.DataFrame(
                    {
                        "neighbor_id": batch["neighbor_id"],
                        "centroid_id": np.argmax(B @ M.T, axis=1).astype("int32"),
                        "nv": list(batch["v"]),
                    }
                )

        assigned = slim.mapInPandas(
            assign,
            schema=f"neighbor_id {nid_type}, centroid_id int, nv array<double>",
        )
        # r15 (guide §6): repartition ON the write-partition key first.
        # A dynamic-partition write without it has every upstream task
        # write one file per centroid it holds — tasks × centroids tiny
        # files at scale (and at small SF, ONE task writing all k files
        # sequentially); hash-clustering by centroid_id gives each
        # centroid one writer, ≤ k files total, written in parallel.
        (
            assigned.repartition("centroid_id")
            .write.mode("overwrite")
            .partitionBy("centroid_id")
            .parquet(self.path)
        )
        with open(f"{self.path}/_centroids.json", "w") as f:
            json.dump(C.tolist(), f)
        return flow  # index write is a side effect; flow unchanged

    def input_names(self) -> Sequence[str]:
        return (self.input,)

    def output_names(self) -> Sequence[str]:
        return ()


def _probe_assign(
    queries: DataFrame, C: np.ndarray, n_probe: int, id_col: str, vec_col: str
) -> DataFrame:
    """Per-query probe list as a DISTRIBUTED frame: one exploded row
    (query_id, centroid_id, RAW qv + its JVM-computed norm qn) per
    probed centroid, built
    with a mapInPandas GEMM against the broadcast centroid matrix.  No
    driver-side collect of the query set — a billion-row query load
    assigns probes with the same embarrassingly-parallel scan the
    corpus side uses.  Materialized via localCheckpoint so the
    broadcast-size count below doesn't recompute upstream lineage."""
    import pandas as pd

    bc = queries.sparkSession.sparkContext.broadcast(C)
    n_probe = min(n_probe, len(C))
    slim = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    # preserve the caller's id type (string doc ids etc.), same as
    # _sig_frame — a hardcoded bigint would break non-integral id_col
    id_type = slim.schema["query_id"].dataType.simpleString()

    def probe(batches):
        M = bc.value
        for batch in batches:
            if not len(batch):
                continue
            Q = np.stack(batch["v"].to_list()).astype("float64")
            Q /= np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-30)
            idx = np.argsort(-(Q @ M.T), axis=1)[:, :n_probe]
            qids, cids, qvs = [], [], []
            # normalization ranks centroids only; the RAW vector rides
            # on for the JVM-side exact rerank (dot/(qn*nn))
            for qid, qv, row in zip(batch["query_id"], batch["v"], idx):
                for cid in row:
                    qids.append(qid)
                    cids.append(int(cid))
                    qvs.append(list(qv))
            yield pd.DataFrame({"query_id": qids, "centroid_id": cids, "qv": qvs})

    out = slim.mapInPandas(
        probe, schema=f"query_id {id_type}, centroid_id int, qv array<double>"
    ).withColumn("qn", V.norm("qv"))
    return _cut(out)


def _rerank_cosine(joined: DataFrame) -> DataFrame:
    """Exact cosine rerank of a probe-join pair frame carrying
    (query_id, neighbor_id, qv, nv, qn, nn) — the JVM HOF fold."""
    return joined.withColumn(
        "cosine",
        F.round(V.dot("qv", "nv") / (F.col("qn") * F.col("nn")), 6),
    ).select("query_id", "neighbor_id", "cosine")


def _probe_join(
    corpus_side: DataFrame, probe_df: DataFrame, max_broadcast_rows: int
) -> DataFrame:
    """Equi-join corpus assignments to probe rows on centroid_id:
    broadcast the probe side only while it fits the bound, else fall
    back to a plain shuffled hash join (AQE-planned) — the guard that
    keeps a huge query load from OOMing every executor.  probe_df must
    be materialized (localCheckpoint) so count + join share one pass."""
    if probe_df.count() <= max_broadcast_rows:
        return corpus_side.join(F.broadcast(probe_df), "centroid_id")
    return corpus_side.join(probe_df, "centroid_id")


def ivf_search(
    spark,
    index_path: str,
    queries: DataFrame,
    *,
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_broadcast_rows: int = 1_000_000,
    return_probed: bool = False,
):
    """Search a persisted :class:`IVFIndex`: per query pick the
    ``n_probe`` nearest centroids, scan ONLY those partitions
    (partition pruning on ``centroid_id``), exact-rerank.  Output
    matches CosineTopK: (query_id, neighbor_id, cosine, rank).

    Probe assignment is distributed (``_probe_assign``); the only
    driver-side materialization is the DISTINCT probed centroid ids —
    bounded by n_centroids, never by query count — which drive the
    partition-pruning filter on the index scan.  With
    ``return_probed=True`` returns ``(df, probed_centroid_ids)`` so a
    caller can assert how much of the index was pruned without
    parsing plan text."""
    import json

    with open(f"{index_path}/_centroids.json") as f:
        C = np.array(json.load(f))
    probe_df = _probe_assign(queries, C, n_probe, id_col, vec_col)
    needed = sorted(
        r.centroid_id for r in probe_df.select("centroid_id").distinct().collect()
    )
    index = (
        spark.read.parquet(index_path)
        .filter(F.col("centroid_id").isin(needed))
        .withColumn("nn", V.norm("nv"))
    )
    sims = _rerank_cosine(
        _probe_join(index, probe_df, max_broadcast_rows).filter(
            F.col("query_id") != F.col("neighbor_id")
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    out = sims.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
    return (out, needed) if return_probed else out


def _hyperplanes(dim: int, n: int, seed: int) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n, dim)).tolist()


def _rademacher_planes(dim: int, n: int) -> np.ndarray:
    """±1 (Rademacher) hyperplanes derived from md5 parity — PORTABLE
    and seedless: plane ``p``, dim ``d`` is +1 iff the low bit of the
    first hex nibble of ``md5(f"{p}_{d}")`` is set, so ANY engine with
    an md5 function (DuckDB, Spark, Python) reconstructs the identical
    matrix and an oracle can replay the bucketing bit-exactly.
    Rademacher entries are a standard sign-random-projection choice
    (Achlioptas 2003 database-friendly projections; Charikar 2002
    SimHash) — for sign hashing only the direction's distribution
    matters, not Gaussianity."""
    import hashlib

    M = np.empty((n, dim), dtype="int64")
    for p in range(n):
        for d in range(dim):
            h = hashlib.md5(f"{p}_{d}".encode()).hexdigest()
            M[p, d] = 1 if int(h[0], 16) & 1 else -1
    return M


def _sig_frame(
    df: DataFrame, id_col: str, vec_col: str, planes: np.ndarray, n_tables: int, bits: int,
    quantize_scale: int | None = None,
) -> DataFrame:
    """(id, sigs array<bigint>) — every table signature for every row,
    computed as ONE Arrow-batched GEMM per batch against the broadcast
    plane matrix, each table's sign bits packed into a bigint.

    Why not pure Column expressions: one expression tree per plane dot
    product inlines n_tables × bits × dim literal nodes into the plan
    (12k+ for a 48×4×64 config) and codegen of that tree dominates
    wall-clock, while the HOF form over a 2-D literal re-evaluates the
    shared sign vector per table (no common-subexpression reuse across
    lambda scopes) and is quadratically worse.  Sign hashing IS a
    matrix multiply — the same call the IVF assignment kernel makes —
    so it runs as one (vectorized, C) ``X @ P.T`` per Arrow batch.
    Normalization is skipped: sign(v·p) is invariant to positive row
    scaling.  Exact cosine verification stays JVM-side.

    ``quantize_scale`` (the portable mode): vectors are quantized to
    ``trunc(x * scale)`` int64 and the planes must be int64 (±1
    Rademacher) — the sign dot is then EXACT integer arithmetic, so an
    oracle replaying ``trunc`` + md5-parity planes in SQL reproduces
    every bucket bit-for-bit (float dot products would differ in the
    last ulp across engines and flip near-zero sign bits; trunc is
    exact on any double, unlike round, whose half-to-even/half-away
    conventions differ between numpy and SQL engines)."""
    import pandas as pd

    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(
        np.asarray(planes, dtype="int64" if quantize_scale else "float64")
    )
    pows = np.array([1 << (bits - 1 - i) for i in range(bits)], dtype="int64")
    slim = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    id_type = slim.schema["id"].dataType.simpleString()

    def kernel(batches):
        P = bc.value
        for batch in batches:
            if not len(batch):
                continue
            X = np.stack(batch["v"].to_list()).astype("float64")
            if quantize_scale:
                # int64 GEMM: exact, engine-replayable sign bits
                X = np.trunc(X * quantize_scale).astype("int64")
            S = (X @ P.T) >= 0  # (n, n_tables*bits) sign bits
            S = S.reshape(len(X), n_tables, bits).astype("int64")
            sigs = S @ pows  # radix-pack each table -> (n, n_tables)
            yield pd.DataFrame({"id": batch["id"], "sigs": list(sigs)})

    return slim.mapInPandas(kernel, schema=f"id {id_type}, sigs array<bigint>")


class CosineLSHJoin(Component):
    """Approximate near-neighbor pairs: random-hyperplane LSH buckets,
    exact-verified.  Output: (d1, d2, cosine) with cosine >= threshold,
    d1 < d2.  Recall ~ 1-(1-(1-θ/π)^bits)^tables for angle θ.

    ``portable=True`` swaps the seeded Gaussian planes for md5-parity
    ±1 Rademacher planes applied to ``trunc(x·quantize_scale)`` int64
    vectors — the signature dot becomes EXACT integer arithmetic that
    a SQL oracle replays bit-for-bit (see _rademacher_planes /
    _sig_frame), and the exact-cosine verify runs the same
    normalize→GEMM→round-6 float64 kernel the oracle-green blocked
    GEMM uses.  Same plan shape, fully auditable buckets.

    **Auto sizing (r11, the production default).**  With
    ``bits_per_table`` FIXED while the corpus grows, candidate volume
    is quadratic: expected bucket occupancy is N/2^bits per table, so
    candidates ~ n_tables · N²/2^bits — the r11 sf10 probe filled 75 GB
    of shuffle disk at 200k vectors on a pinned 24×6 config (2^6 = 64
    buckets per table CANNOT bound a growing corpus).  Defaults are
    therefore ``bits_per_table=None`` → ceil(log2(N /
    target_bucket_rows)) from one corpus count (clamped [6, 24]) and
    ``n_tables=None`` → the smallest table count holding
    ``target_recall`` at the threshold boundary under the SRP S-curve
    recall = 1-(1-p^bits)^tables, p = 1-θ/π.  Candidate volume is then
    ~ n_tables · N · target_bucket_rows — LINEAR in N at a held recall
    contract.  Thresholds below the LSH-viable regime (p^bits so small
    that the implied table count exceeds ``max_tables``) raise with
    the physics spelled out instead of silently going quadratic —
    sub-~0.5-cosine "near-dup" joins belong on the exact primitives
    (EmbeddingNearDupPairs / SemDeDup), not LSH (SCALE.md "SRP
    physics")."""

    def __init__(
        self,
        input: str,
        output: str | None = None,
        *,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        dim: int = 64,
        threshold: float = 0.9,
        n_tables: int | None = None,
        bits_per_table: int | None = None,
        target_bucket_rows: int = 256,
        target_recall: float = 0.9,
        max_tables: int = 64,
        seed: int = 42,
        portable: bool = False,
        quantize_scale: int = 1_000_000,
        label: str | None = None,
    ):
        if bits_per_table is not None and not 0 < bits_per_table <= 62:
            raise ValueError("bits_per_table must be in [1, 62] (bigint-packed)")
        if not 0.0 < target_recall < 1.0:
            raise ValueError(
                f"target_recall={target_recall} must be in (0, 1): the SRP "
                "S-curve solve takes log(1-recall), so recall 1.0 is not a "
                "probabilistic contract — for recall-1 behaviour pin "
                "n_tables/bits_per_table explicitly (as cosine_lsh_pairs "
                "does) and LSH degenerates to exhaustive bucketing"
            )
        self.input = input
        self.output = output or input
        self.id_col = id_col
        self.vec_col = vec_col
        self.dim = dim
        self.threshold = threshold
        self.n_tables = n_tables
        self.bits_per_table = bits_per_table
        self.target_bucket_rows = int(target_bucket_rows)
        self.target_recall = float(target_recall)
        self.max_tables = int(max_tables)
        self.seed = seed
        self.portable = portable
        self.quantize_scale = quantize_scale
        self.label = label

    def _resolve(self, df: DataFrame) -> tuple[int, int]:
        """(n_tables, bits_per_table) with the auto (None) defaults
        resolved from one corpus count — the IVF auto-k discipline
        (IVFTopK._resolve).  Explicit pins are never overridden."""
        import math

        bits = self.bits_per_table
        tables = self.n_tables
        if bits is None:
            n = df.count()
            bits = max(6, min(24, math.ceil(
                math.log2(max(n, 1) / self.target_bucket_rows)
            ) if n > self.target_bucket_rows else 6))
        if tables is None:
            theta = math.acos(min(max(self.threshold, -1.0), 1.0))
            p_bit = 1.0 - theta / math.pi
            p_table = p_bit ** bits
            if p_table < 1e-12:
                p_table = 0.0
            needed = (
                math.ceil(math.log(1.0 - self.target_recall)
                          / math.log(1.0 - p_table))
                if 0.0 < p_table < 1.0 else (1 if p_table >= 1.0 else 10**9)
            )
            if needed > self.max_tables:
                raise ValueError(
                    f"threshold={self.threshold} needs {needed} LSH tables at "
                    f"{bits} bits to hold recall {self.target_recall} "
                    f"(p_bit={p_bit:.3f}, p_table={p_table:.2e}) — below the "
                    f"LSH-viable regime; use the exact primitives "
                    f"(EmbeddingNearDupPairs / SemDeDup) or pin n_tables/"
                    f"bits_per_table explicitly to accept the recall/cost"
                )
            tables = max(4, needed)
        return tables, bits

    def transform(self, flow: Flow) -> Flow:
        df = flow[self.input]
        if self.bits_per_table is None:
            # Auto sizing counts the corpus inside _resolve; when the
            # input is a composed Flow (not a base table) that count
            # would execute the whole upstream pipeline a second time
            # ahead of signature materialization.  Persist first so the
            # count materializes the cache and signatures read from it
            # (MEMORY_AND_DISK; freed by Spark's LRU — an eager
            # unpersist here would land before the lazy output plan
            # ever executed and force the recompute back in).  The
            # spread() ahead of the persist is the scan rebalance: a
            # single-row-group corpus file collapses to one non-empty
            # scan task, which would single-thread the signature GEMM
            # and cache every later pass as 1 partition
            # (dedup.py:MinHashLSHPairs.transform).  Row-group aware
            # and a no-op when the flow already shuffled upstream.
            df = _pin(_io_spread(df))
        n_tables, bits_per_table = self._resolve(df)
        if self.portable:
            # raw vectors: the verify kernel normalizes in float64 and
            # np.rounds to 6dp — byte-identical to the oracle-green
            # blocked-GEMM verification (EmbeddingNearDupPairs._gemm_one)
            normed = df.select(
                F.col(self.id_col).alias("id"),
                F.col(self.vec_col).cast("array<double>").alias("v"),
            )
            planes = _rademacher_planes(
                self.dim, n_tables * bits_per_table
            )
        else:
            # hoisted-norm normalize (the one-expression form
            # re-evaluates the norm fold per ELEMENT — O(dim²)
            # interpreted, paid TWICE via the v1/v2 verify joins)
            normed = V.l2_normalize_select(
                df.select(F.col(self.id_col).alias("id"),
                          F.col(self.vec_col).alias("__rv")),
                "id", "__rv", "v",
            )
            planes = _hyperplanes(self.dim, n_tables * bits_per_table, self.seed)
        # Join key is (table, signature): pure integer equi-join,
        # candidates never leave their bucket partition.  The VECTORS
        # do not ride the explode or the self-join at all — replicating
        # a wide embedding n_tables× and shipping two copies through
        # every candidate row would dominate the shuffle volume; they
        # are re-attached by id AFTER dedup, when only unique candidate
        # pairs remain.
        # Explicit width on the bucket shuffle: the self-join's INPUT is
        # tiny but its OUTPUT fans out ~|bucket|² per bucket — AQE's
        # coalescing sees only input bytes and would funnel the whole
        # fan-out through one task.  Repartitioning on the join key at
        # the session's shuffle width both parallelizes the fan-out and
        # pre-satisfies the join's distribution (no second exchange).
        n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        # Candidate dedup strategy is ADAPTIVE in n_tables (round 5):
        #   - narrow configs (production, <= 16 tables): keep a pair only
        #     in its FIRST matching table via an unrolled compare chain
        #     over the packed-int signature arrays — ordinal gets, no
        #     per-row allocation, ZERO extra shuffle.  The chain is
        #     O(n_tables) boolean terms per candidate and the join must
        #     carry both sides' sigs arrays, so its cost grows with
        #     table count twice over;
        #   - wide configs (recall-demo, > 16 tables): emit slim
        #     (d1, d2) candidates (sigs dropped BEFORE the self-join)
        #     and dedup with one dropDuplicates shuffle of two ints —
        #     measured 15.9s -> ~4s at 96 tables x 500 vectors, where
        #     the 95-term chain + 2x768-byte sig payloads dominated.
        use_chain = n_tables <= 16
        sig = _sig_frame(
            df, self.id_col, self.vec_col, np.asarray(planes),
            n_tables, bits_per_table,
            quantize_scale=self.quantize_scale if self.portable else None,
        )
        cols = ["id", "sigs"] if use_chain else ["id"]
        bucketed = (
            sig.select(*cols, F.posexplode(F.col("sigs")).alias("t", "bucket"))
            .repartition(n_part, "t", "bucket")
        )
        a, b = bucketed.alias("a"), bucketed.alias("b")
        joined = a.join(
            b,
            (F.col("a.t") == F.col("b.t"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        if use_chain:
            first_match = F.lit(True)
            for j in range(n_tables - 1):
                first_match = first_match & (
                    (F.lit(j) >= F.col("a.t"))
                    | (F.col("a.sigs")[j] != F.col("b.sigs")[j])
                )
            cand = joined.filter(first_match).select(
                F.col("a.id").alias("d1"), F.col("b.id").alias("d2")
            )
        else:
            cand = joined.select(
                F.col("a.id").alias("d1"), F.col("b.id").alias("d2")
            ).dropDuplicates(["d1", "d2"])
        v1 = normed.select(F.col("id").alias("d1"), F.col("v").alias("v1"))
        v2 = normed.select(F.col("id").alias("d2"), F.col("v").alias("v2"))
        paired = cand.join(v1, "d1").join(v2, "d2")
        id_t = paired.schema["d1"].dataType.simpleString()

        portable = self.portable

        def verify(batches):
            import pandas as pd

            for batch in batches:
                if not len(batch):
                    continue
                A = np.stack(batch["v1"].to_list())
                B = np.stack(batch["v2"].to_list())
                if portable:
                    # raw vectors: same float64 normalize -> dot ->
                    # np.round(6) sequence as the oracle-green blocked
                    # GEMM, so the cosine hash-matches
                    # round(list_cosine_similarity(...), 6)
                    A = A / np.maximum(
                        np.linalg.norm(A, axis=1, keepdims=True), 1e-30
                    )
                    B = B / np.maximum(
                        np.linalg.norm(B, axis=1, keepdims=True), 1e-30
                    )
                    cos = np.round(np.einsum("ij,ij->i", A, B), 6)
                else:
                    cos = np.einsum("ij,ij->i", A, B)
                yield pd.DataFrame(
                    {"d1": batch["d1"], "d2": batch["d2"], "cosine": cos}
                )

        # exact verification as one vectorized row-wise dot per Arrow
        # batch — candidate counts are the cost driver here and an
        # interpreted per-element HOF fold over millions of pairs is
        # 10-100x slower than the C einsum (same tradeoff as the
        # signature GEMM and dedup's tiled-GEMM verify).  The ROUNDING
        # stays JVM-side: F.round is exact BigDecimal HALF_UP, the same
        # function every oracle-compared score in this repo uses —
        # np.round is scaled-rint (half-to-even, documented-inexact
        # scaling) and could flip a 6th decimal against the oracle.
        # (Portable mode instead np.rounds inside the kernel — the
        # byte-identical sequence to the oracle-green blocked GEMM,
        # which the registered oracle compares against
        # list_cosine_similarity; re-rounding there would be a no-op.)
        out = paired.mapInPandas(
            verify, schema=f"d1 {id_t}, d2 {id_t}, cosine double"
        )
        if not portable:
            out = out.withColumn("cosine", F.round(F.col("cosine"), 6))
        out = out.filter(F.col("cosine") >= self.threshold)
        return flow.without(self.input).with_stream(self.output, out)

    def input_names(self) -> Sequence[str]:
        return (self.input,)

    def output_names(self) -> Sequence[str]:
        return (self.output,)


class RRFFusion(Component):
    """Reciprocal Rank Fusion of N retrieval result lists (Cormack,
    Clarke & Buettcher, SIGIR 2009): ``RRF(d) = sum over lists of
    1 / (k0 + rank_list(d))`` — the standard score-free fusion for
    HYBRID retrieval (lexical BM25 + dense embedding top-k), robust to
    incomparable score scales because only ranks enter the sum.

    Each input stream holds (id_col, score_col) rows from one ranker.
    The list is first cut to ``per_list_k`` by (score desc, id asc) —
    in Spark that is a distributed TakeOrderedAndProject (per-partition
    top-k, then a k-row merge: no global sort, no full shuffle), which
    is what makes the fusion safe at corpus scale: the only
    single-partition step, the row_number ranking window, ever sees at
    most ``per_list_k`` rows per list.  Ranks are assigned on the
    6dp-ROUNDED score with the id as tie-break, and each contribution
    ``1/(k0+rank)`` is rounded to 6dp and summed as DECIMAL(18,6), so
    the fused score is independent of union/shuffle order and
    hash-matches a SQL oracle exactly.

    Output: (id_col, rrf_score, n_lists, best_rank) — every id that
    appears in at least one cut list; downstream callers take their
    own top-n.  k0=60 is the published default.
    """

    def __init__(
        self,
        inputs: Sequence[str],
        output: str,
        *,
        id_col: str = "doc_id",
        score_cols: Sequence[str] | None = None,
        k0: int = 60,
        per_list_k: int = 20,
        label: str | None = None,
    ):
        if len(inputs) < 2:
            raise ValueError("RRFFusion: need at least 2 ranked lists to fuse")
        if score_cols is not None and len(score_cols) != len(inputs):
            raise ValueError("RRFFusion: score_cols must match inputs 1:1")
        if k0 < 1 or per_list_k < 1:
            raise ValueError("RRFFusion: k0 and per_list_k must be >= 1")
        self.inputs = tuple(inputs)
        self.output = output
        self.id_col = id_col
        self.score_cols = tuple(score_cols) if score_cols else ("score",) * len(inputs)
        self.k0 = k0
        self.per_list_k = per_list_k
        self.label = label

    def transform(self, flow: Flow) -> Flow:
        from functools import reduce

        ranked = []
        for name, score_col in zip(self.inputs, self.score_cols):
            lst = flow[name].select(
                F.col(self.id_col).alias("__id"),
                F.round(F.col(score_col).cast("double"), 6).alias("__s"),
            )
            # distributed top-k cut; the global window below then ranks
            # a bounded (<= per_list_k) single partition — by design.
            cut = lst.orderBy(F.col("__s").desc(), F.col("__id")).limit(self.per_list_k)
            w = W.orderBy(F.col("__s").desc(), F.col("__id"))
            ranked.append(
                cut.withColumn("__rank", F.row_number().over(w)).select("__id", "__rank")
            )
        fused = (
            reduce(lambda a, b: a.unionByName(b), ranked)
            .withColumn(
                "__c",
                F.round(F.lit(1.0) / (F.lit(self.k0) + F.col("__rank")), 6).cast(
                    "decimal(18,6)"
                ),
            )
            .groupBy("__id")
            .agg(
                F.sum("__c").cast("double").alias("rrf_score"),
                F.count("*").alias("n_lists"),
                F.min("__rank").alias("best_rank"),
            )
            .withColumnRenamed("__id", self.id_col)
        )
        return flow.without(*self.inputs).with_stream(self.output, fused)

    def input_names(self) -> Sequence[str]:
        return self.inputs

    def output_names(self) -> Sequence[str]:
        return (self.output,)


class MMRRerank(Component):
    """Maximal Marginal Relevance diversified re-ranking (Carbonell &
    Goldstein, SIGIR 1998): greedily select k results where each pick
    maximizes ``lambda * rel(d) - (1 - lambda) * max sim(d, s)`` over
    the already-selected set s — the standard redundancy-suppressing
    rerank after a dense top-k retrieval.

    Inputs: ``candidates`` (query_col, cand_col, rel_col — e.g. the
    output of CosineTopK) and ``vectors`` (id_col, vec_col) to score
    candidate-candidate redundancy.  Scale shape: the candidate list
    per query is top-C bounded UPSTREAM, so the per-query self-join is
    C^2 rows and the greedy loop runs in an applyInPandas group of at
    most C(C-1)/2 + C rows — linear in the number of queries, never in
    the corpus.  ``max_candidates`` enforces the bound (hard error,
    not a silent spill into O(C^2) over an unbounded list).
    ``on_missing`` governs candidates whose id is absent from the
    vectors stream: ``'error'`` (default) raises at execution time —
    a silent drop could return fewer than k rows — while ``'skip'``
    opts into dropping them before the greedy loop.

    Determinism / oracle parity: relevance and every pairwise cosine
    are 6dp-rounded JVM-side (F.round, with the dot/(na*nb) double
    sequence a SQL oracle computes); the Python loop combines them in
    EXACT DECIMAL arithmetic — ``lambda`` is taken as a decimal
    literal, products of 6dp inputs are exact, HALF_UP to 6dp — so the
    score never depends on binary-double rounding at a decimal half
    (where engines disagree); argmax ties break on the smaller
    candidate id.  Output: (query_col, cand_col, mmr_rank 1..k,
    mmr_score at selection time).
    """

    def __init__(
        self,
        candidates: str,
        vectors: str,
        output: str,
        *,
        k: int = 5,
        lambda_: float = 0.7,
        query_col: str = "query_id",
        cand_col: str = "cand_id",
        rel_col: str = "rel",
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        max_candidates: int = 1000,
        on_missing: str = "error",
        label: str | None = None,
    ):
        if not 0.0 <= lambda_ <= 1.0:
            raise ValueError("MMRRerank: lambda_ must be in [0, 1]")
        if k < 1:
            raise ValueError("MMRRerank: k must be >= 1")
        if on_missing not in ("error", "skip"):
            raise ValueError("MMRRerank: on_missing must be 'error' or 'skip'")
        self.candidates = candidates
        self.vectors = vectors
        self.output = output
        self.k = k
        self.lambda_ = lambda_
        self.query_col = query_col
        self.cand_col = cand_col
        self.rel_col = rel_col
        self.id_col = id_col
        self.vec_col = vec_col
        self.max_candidates = max_candidates
        self.on_missing = on_missing
        self.label = label

    def transform(self, flow: Flow) -> Flow:
        cands = flow[self.candidates].select(
            F.col(self.query_col).alias("__q"),
            F.col(self.cand_col).alias("__c"),
            F.round(F.col(self.rel_col).cast("double"), 6).alias("__rel"),
        )
        # raw vector + precomputed norm: per-pair cosine is dot/(na*nb)
        # — the same double sequence as DuckDB's list_cosine_similarity
        # (see CosineTopK), so pairwise redundancy rounds identically
        # pre-cast once per row: the pair dot then folds doubles with no
        # per-element casts (exact; see CosineTopK)
        vecs = flow[self.vectors].select(
            F.col(self.id_col).alias("__id"),
            F.col(self.vec_col).cast("array<double>").alias("__v"),
            V.norm(F.col(self.vec_col).cast("array<double>")).alias("__n"),
        )

        # A candidate id absent from the vectors stream cannot be
        # redundancy-scored; an inner join would drop it SILENTLY and
        # the query could return fewer than k rows with no error.
        # Default 'error' fails loudly at execution time — the guard
        # rides the load-bearing __n column (a side-channel assert
        # column would be pruned away by Catalyst); 'skip' opts into
        # the documented drop.
        joined = cands.join(vecs, F.col("__c") == F.col("__id"), "left")
        if self.on_missing == "error":
            joined = joined.withColumn(
                "__n",
                F.when(
                    F.col("__id").isNull(),
                    F.raise_error(
                        F.concat(
                            F.lit("MMRRerank: candidate id "),
                            F.col("__c").cast("string"),
                            F.lit(
                                " is absent from the vectors stream "
                                "(pass on_missing='skip' to drop it)"
                            ),
                        )
                    ).cast("double"),
                ).otherwise(F.col("__n")),
            )
        else:
            joined = joined.filter(F.col("__id").isNotNull())
        # cv is TINY (top-C candidates per query) but its lineage is
        # the whole upstream retrieval — consumed by both self-join
        # sides, so pin it once (shared-lineage rule; persisting a
        # candidate-sized table is always worth the cache write)
        cv = (
            joined
            .select("__q", "__c", "__rel", "__v", "__n")
            .transform(_pin)
        )
        a, b = cv.alias("a"), cv.alias("b")
        pairs = a.join(
            b,
            (F.col("a.__q") == F.col("b.__q")) & (F.col("a.__c") < F.col("b.__c")),
        ).select(
            F.col("a.__q").alias("__q"),
            F.col("a.__c").alias("ca"),
            F.col("b.__c").alias("cb"),
            F.round(
                V.dot(F.col("a.__v"), F.col("b.__v"))
                / (F.col("a.__n") * F.col("b.__n")),
                6,
            ).alias("s"),
            F.col("a.__rel").alias("rel_a"),
            F.col("b.__rel").alias("rel_b"),
        )
        # self rows carry singleton candidates (and every rel) through
        # the pair representation, so a 1-candidate query still ranks
        selfrows = cv.select(
            "__q",
            F.col("__c").alias("ca"),
            F.col("__c").alias("cb"),
            F.lit(1.0).alias("s"),
            F.col("__rel").alias("rel_a"),
            F.col("__rel").alias("rel_b"),
        )
        packed = pairs.unionByName(selfrows)

        qt = dict(cands.dtypes)["__q"]
        ct = dict(cands.dtypes)["__c"]
        k, lam, max_c = self.k, self.lambda_, self.max_candidates

        def greedy(pdf):
            import pandas as pd
            from decimal import Decimal, ROUND_HALF_UP

            # The score combination runs in EXACT DECIMAL arithmetic:
            # lam * rel lands exactly on a decimal half whenever rel is
            # a 6dp-rounded value (e.g. 0.7 * 0.371485 = 0.2600395),
            # where binary-double rounding (DuckDB rounds the binary
            # value: -> ...039) and shortest-repr HALF_UP (Spark/Python:
            # -> ...040) disagree.  Decimal products of 6dp inputs with
            # the decimal literal weights are exact, so HALF_UP to 6dp
            # is the same number in every engine.
            LAM = Decimal(str(lam))
            MU = Decimal("1") - LAM
            Q6 = Decimal("0.000001")

            def score_of(rel: float, ms: float) -> float:
                d = LAM * Decimal(f"{rel:.6f}") - MU * Decimal(f"{ms:.6f}")
                return float(d.quantize(Q6, ROUND_HALF_UP))

            rels: dict = {}
            sim: dict = {}
            for ca, cb, s, ra, rb in zip(
                pdf["ca"], pdf["cb"], pdf["s"], pdf["rel_a"], pdf["rel_b"]
            ):
                rels[ca] = ra
                rels[cb] = rb
                if ca != cb:
                    sim[(ca, cb)] = s
                    sim[(cb, ca)] = s
            if len(rels) > max_c:
                raise ValueError(
                    f"MMRRerank: {len(rels)} candidates in one query group > "
                    f"max_candidates={max_c}; bound the list upstream (top-C)"
                )
            qid = pdf["__q"].iloc[0]
            selected: list = []
            out = []
            remaining = set(rels)
            while remaining and len(selected) < k:
                best, best_score = None, None
                for d in sorted(remaining):
                    # max redundancy to the selected set — may be
                    # NEGATIVE (cosine), so only an empty set gives 0
                    ms = (
                        max(sim.get((d, s2), 0.0) for s2 in selected)
                        if selected
                        else 0.0
                    )
                    score = score_of(rels[d], ms)
                    if best is None or score > best_score:
                        best, best_score = d, score
                selected.append(best)
                remaining.discard(best)
                out.append((qid, best, len(selected), best_score))
            return pd.DataFrame(
                out, columns=["query_id", "cand_id", "mmr_rank", "mmr_score"]
            )

        out = packed.groupBy("__q").applyInPandas(
            greedy,
            schema=f"query_id {qt}, cand_id {ct}, mmr_rank int, mmr_score double",
        )
        out = out.withColumnRenamed("query_id", self.query_col).withColumnRenamed(
            "cand_id", self.cand_col
        )
        return flow.without(self.candidates, self.vectors).with_stream(self.output, out)

    def input_names(self) -> Sequence[str]:
        return (self.candidates, self.vectors)

    def output_names(self) -> Sequence[str]:
        return (self.output,)


class ScalarQuantize(Component):
    """Per-vector symmetric int8 scalar quantization of an embedding
    column — the standard SQ8 memory path for vector search at scale
    (FAISS ``SQ8`` / IVF-SQ8): ``q_i = round(v_i * 127 / amax)`` with
    ``amax = max |v_i|``, stored alongside the ``scale = 127/amax``
    needed to dequantize.  4x smaller vectors mean 4x more corpus per
    executor page and 4x less shuffle/broadcast bandwidth — at 100 TB
    the vector bytes, not the arithmetic, are the cost driver.

    COSINE survives quantization without the scale: per-vector uniform
    scaling preserves direction, so ``cos(q_a, q_b)`` needs only the
    int arrays — and because every term of the int dot/norms is an
    exact small integer, the downstream CosineTopK arithmetic is
    bit-identical in any engine (no float-fold ulp concerns at all).
    Rounding-to-integer is itself engine-safe: a shortest-repr "N.5"
    double IS exactly N.5 (representable), where Spark's HALF_UP and
    DuckDB's half-away-from-zero agree — unlike 6dp rounding, there is
    no repr-vs-binary boundary.

    Pure Column expressions (one narrow projection, zero Python, zero
    shuffle).  Zero vectors quantize to all-zero ints with scale 0.
    Output: (id_col, qvec array<int>, scale double).
    """

    def __init__(
        self,
        input: str,
        output: str,
        *,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        label: str | None = None,
    ):
        self.input = input
        self.output = output
        self.id_col = id_col
        self.vec_col = vec_col
        self.label = label

    def transform(self, flow: Flow) -> Flow:
        v = F.col(self.vec_col).cast("array<double>")
        amax = F.array_max(F.transform(v, lambda x: F.abs(x)))
        s = F.when(amax > 0, F.lit(127.0) / amax).otherwise(F.lit(0.0))
        out = flow[self.input].select(
            F.col(self.id_col),
            F.transform(v, lambda x: F.round(x * s).cast("int")).alias("qvec"),
            s.alias("scale"),
        )
        return flow.without(self.input).with_stream(self.output, out)

    def input_names(self) -> Sequence[str]:
        return (self.input,)

    def output_names(self) -> Sequence[str]:
        return (self.output,)


class CoOccurrenceJaccard(Component):
    """Item-item Jaccard similarity from (group, item) co-occurrence —
    the classic "customers who bought X" / item-based collaborative
    filtering primitive (Linden et al. 2003, Amazon item-item CF),
    and the transactional twin of the text-side NgramJaccardPairs:
    ``J(u, v) = |groups(u) ∩ groups(v)| / |groups(u) ∪ groups(v)|``.

    Plan (r15, guide §2.3/§2.4): ONE ``collect_set`` aggregate keyed
    on the group replaces the old distinct-postings pass +
    group-keyed equi-self-join — dedup and pair generation ride the
    same exchange.  The ``max_group_size`` cap (groups with more
    distinct items are DROPPED: the stop-shingle discipline — a
    pathological mega-basket would contribute |basket|^2 pairs and
    owns the worst reducer; a ceiling this generous only ever sheds
    degenerate carts) is applied BEFORE that aggregate: an exact
    per-group distinct count (a windowed dense rank) filters the
    input, so a mega-group's item set is never built.  Pairs explode
    in-row from the sorted item set (i < j ⇒ u < v, the identical
    pair multiset the self-join produced) straight into the
    map-side-partial (u, v) count; item sizes explode from the same persisted group
    frame — which is group-sized, far narrower than the old postings
    cache.  Jaccard is rounded 6dp (small-integer ratios —
    engine-exact).  With ``top_k`` set, pairs are symmetrized and
    ranked per item ((jaccard desc, id) — one keyed window).  Fan-out
    is sum of |group|^2 — linear in rows when group sizes are
    bounded, which the cap enforces rather than assumes.

    Output: (item_col, other, jaccard) pairs (item < other), or with
    ``top_k``: (item_col, other, jaccard, rank) per-item top-k.
    """

    def __init__(
        self,
        input: str,
        output: str,
        *,
        group_col: str,
        item_col: str,
        top_k: int | None = None,
        min_jaccard: float = 0.0,
        max_group_size: int = 10_000,
        label: str | None = None,
    ):
        if top_k is not None and top_k < 1:
            raise ValueError("CoOccurrenceJaccard: top_k must be >= 1")
        if max_group_size < 2:
            raise ValueError("CoOccurrenceJaccard: max_group_size must be >= 2")
        self.input = input
        self.output = output
        self.group_col = group_col
        self.item_col = item_col
        self.top_k = top_k
        self.min_jaccard = min_jaccard
        self.max_group_size = max_group_size
        self.label = label

    def transform(self, flow: Flow) -> Flow:
        # r15 (guide §2.3/§2.4): one group-keyed collect_set does the
        # distinct (set semantics) and feeds in-row pair generation —
        # the old plan shuffled distinct postings, then self-joined
        # them on the group key.  collect_set partial-merges map-side,
        # so its exchange carries per-group partial sets (≈ the same
        # bytes the distinct shuffle carried, in far fewer rows).
        # The cap is applied BEFORE any item set is built: an exact
        # distinct-item count per group (dense rank of the item, then
        # its max over the group — two windows on the exchange the
        # collect_set reuses; a window buffer spills, a set does not).
        # A semi-join on a countDistinct aggregate gives the same bound
        # but scans the input twice: on copurchase_similar_parts (sf0.1,
        # local[4], warm-min medians) it cost +9 % over no cap, where
        # this form measured no change.
        # Null items are dropped first: collect_set ignores them anyway.
        g = W.partitionBy("__g")
        groups = (
            flow[self.input]
            .select(F.col(self.group_col).alias("__g"), F.col(self.item_col).alias("__i"))
            .filter(F.col("__i").isNotNull())
            .withColumn("__r", F.dense_rank().over(g.orderBy("__i")))
            .withColumn("__k", F.max("__r").over(g))
            .filter(F.col("__k") <= self.max_group_size)
            .groupBy("__g")
            .agg(F.sort_array(F.collect_set("__i")).alias("__items"))
            .select("__items")
        )
        # consumed twice (pairs + sizes): persist the group-sized sets
        # frame — strictly narrower than the old postings cache
        groups = _pin(groups)
        sizes = (
            groups.select(F.explode("__items").alias("__i"))
            .groupBy("__i")
            .agg(F.count(F.lit(1)).alias("__n"))
        )
        # sorted set ⇒ index order IS item order: pairs (i < j) are
        # exactly the (u < v) pairs the equi-self-join produced
        pair_expr = F.explode(
            F.flatten(
                F.transform(
                    "__items",
                    lambda x, i: F.transform(
                        F.slice(F.col("__items"), i + F.lit(2), F.size("__items")),
                        lambda y: F.struct(x.alias("u"), y.alias("v")),
                    ),
                )
            )
        )
        pairs = (
            groups.select(pair_expr.alias("__p"))
            .groupBy(F.col("__p.u").alias("u"), F.col("__p.v").alias("v"))
            .agg(F.count(F.lit(1)).alias("__c"))
        )
        jac = (
            pairs.join(sizes.withColumnRenamed("__i", "u").withColumnRenamed("__n", "nu"), "u")
            .join(sizes.withColumnRenamed("__i", "v").withColumnRenamed("__n", "nv"), "v")
            .select(
                "u",
                "v",
                F.round(
                    F.col("__c") / (F.col("nu") + F.col("nv") - F.col("__c")), 6
                ).alias("jaccard"),
            )
            .filter(F.col("jaccard") >= self.min_jaccard)
        )
        if self.top_k is None:
            out = jac.select(
                F.col("u").alias(self.item_col), F.col("v").alias("other"), "jaccard"
            )
        else:
            both = jac.select(
                F.col("u").alias(self.item_col), F.col("v").alias("other"), "jaccard"
            ).unionByName(
                jac.select(
                    F.col("v").alias(self.item_col), F.col("u").alias("other"), "jaccard"
                )
            )
            w = W.partitionBy(self.item_col).orderBy(
                F.col("jaccard").desc(), F.col("other")
            )
            out = both.withColumn("rank", F.row_number().over(w)).filter(
                F.col("rank") <= self.top_k
            )
        return flow.without(self.input).with_stream(self.output, out)

    def input_names(self) -> Sequence[str]:
        return (self.input,)

    def output_names(self) -> Sequence[str]:
        return (self.output,)


class GramMatrix(Component):
    """Distributed Gram matrix ``X^T X`` of an embedding column — the
    sufficient statistic for PCA / covariance / ridge regression at
    scale: ship the (dim x dim) matrix to the driver and eigensolve
    there; the DATA never leaves the cluster and the driver state is
    dim^2 regardless of row count (the classic "normal equations"
    pattern for distributed linear models).

    Plan: ONE posexplode to (row, i, x_i) skinny rows — the row ids
    assigned by ``monotonically_increasing_id`` and PINNED with
    ``localCheckpoint(eager=True)`` BEFORE the self-join, so both join
    sides read the SAME materialized ids (an unpinned nondeterministic
    id re-evaluates per side and silently mispairs rows after an
    upstream shuffle or task retry — the pin-before-self-join
    discipline) — then the row-keyed self-join produces the upper
    triangle (i <= j) and one keyed aggregation on (i, j) with
    map-side partial sums: shuffle bounded by dim^2 cardinality,
    never by rows.  (A join-free variant generating pairs in-row with
    nested ``transform`` HOFs was measured 25x SLOWER at sf0.1 —
    higher-order functions evaluate interpreted per element while the
    join path stays in whole-stage codegen.)  Per-pair contributions
    are ``round(x_i * x_j, 6)`` summed as DECIMAL(18,6): products of
    full-mantissa floats have 17-digit reprs (no decimal-half
    boundary), and the decimal sum is shuffle-order independent — so
    the matrix hash-matches a SQL oracle exactly.

    Output (long-form upper triangle): (i int, j int, dot double,
    n_rows bigint).
    """

    def __init__(
        self,
        input: str,
        output: str,
        *,
        vec_col: str = "embedding",
        id_col: str | None = None,
        label: str | None = None,
    ):
        self.input = input
        self.output = output
        self.vec_col = vec_col
        self.id_col = id_col
        self.label = label

    def transform(self, flow: Flow) -> Flow:
        src = flow[self.input]
        if self.id_col is not None:
            # a REAL row key: deterministic across join sides by
            # construction, no materialization needed — the fast path.
            # The key MUST be unique: a duplicated id fans out the
            # row-keyed self-join and silently inflates Gram cells (the
            # same silent-corruption class the localCheckpoint pin
            # closes on the synthetic path).  One cheap two-agg scan
            # guards it loudly; callers that cannot afford the scan
            # should pass id_col=None and take the pinned synthetic id.
            total, n, nd = src.agg(
                F.count(F.lit(1)), F.count(self.id_col),
                F.countDistinct(self.id_col),
            ).collect()[0]
            if not (total == n == nd):
                raise ValueError(
                    f"GramMatrix: id_col={self.id_col!r} is not a unique row "
                    f"key ({total} rows, {n} non-null, {nd} distinct) — "
                    "duplicate/null ids fan out or drop rows in the self-join "
                    "and corrupt the Gram cells; dedup the input or use "
                    "id_col=None for a pinned synthetic key"
                )
            df = src.select(
                F.col(self.id_col).alias("__r"),
                F.col(self.vec_col).cast("array<double>").alias("__v"),
            )
        else:
            # no key available: pin synthetic ids with an eager
            # localCheckpoint so both self-join sides read the SAME
            # materialized ids (an unpinned nondeterministic id
            # re-evaluates per side and silently mispairs rows after
            # an upstream shuffle or task retry)
            df = src.select(
                F.monotonically_increasing_id().alias("__r"),
                F.col(self.vec_col).cast("array<double>").alias("__v"),
            ).transform(_cut)
        ex = df.select("__r", F.posexplode("__v").alias("i", "x"))
        a, b = ex.alias("a"), ex.alias("b")
        pairs = a.join(
            b, (F.col("a.__r") == F.col("b.__r")) & (F.col("a.i") <= F.col("b.i"))
        ).select(
            F.col("a.i").alias("i"),
            F.col("b.i").alias("j"),
            F.round(F.col("a.x") * F.col("b.x"), 6).cast("decimal(18,6)").alias("c"),
        )
        out = (
            pairs.groupBy("i", "j")
            .agg(
                F.sum("c").cast("double").alias("dot"),
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            )
        )
        return flow.without(self.input).with_stream(self.output, out)

    def input_names(self) -> Sequence[str]:
        return (self.input,)

    def output_names(self) -> Sequence[str]:
        return (self.output,)
