"""Connected components over a distributed edge list.

The reference's Loop origin (``lib/loop.ex``; SURVEY §7.3) expresses
cyclic dataflow but ships no graph algorithms; connected components is
THE graph primitive a dedup pipeline needs (near-dup pair graph →
cluster representative).  ``SimHashDedup`` inlines a bipartite variant
of this; ``ConnectedComponents`` is the general form over any
``(src, dst)`` edge list, so LSH/embedding/winnowing pair outputs can
all be clustered with the same operator.

Algorithm: min-label propagation with POINTER JUMPING.  Each round
does

  1. neighbor min: ``lab(v) ← min(lab(v), min over neighbors u of
     lab(u))`` — one shuffle keyed on node id;
  2. pointer jump: ``lab(v) ← min(lab(v), lab(lab(v)))`` — labels are
     themselves node ids, so a label's label is also a reachable node;
     this halves label-chain depth every round (Shiloach-Vishkin
     style), giving O(log n) rounds instead of O(diameter) — a 1M-hop
     chain converges in ~20 rounds, not 1M.

Labels only decrease and only to reachable node ids, so at fixpoint
both endpoints of every edge agree and every component carries its
minimum node id.  ``sum(lab)`` is a monotone potential: an unchanged
sum IS the fixpoint, detected with one scalar agg per round (no
join+count change detector).  State is one row per node; pairs beyond
the input edges are never materialized.  Lineage is truncated per
round with ``localCheckpoint`` (driver fixpoint loop = the reference's
Loop pattern).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import functions as F

from ..cache import cut as _cut, pin as _pin
from ..component import Component
from ..flow import Flow
from ..planprobe import probe_loop_plan


class ConnectedComponents(Component):
    """``input`` is an edge stream with columns ``src``/``dst``
    (integral ids); emits ``(node_col, component_col)`` with one
    row per node appearing in an edge, ``component_col`` = the minimum
    node id of the node's connected component.  Isolated nodes (no
    edges) are their own representatives and can be unioned in by the
    caller if needed.
    """

    def __init__(
        self,
        input: str,
        output: str | None = None,
        *,
        src: str = "src",
        dst: str = "dst",
        node_col: str = "node",
        component_col: str = "component",
        max_iterations: int = 30,
        label: str | None = None,
    ):
        self.input = input
        self.output = output or input
        self.src, self.dst = src, dst
        self.node_col, self.component_col = node_col, component_col
        self.max_iterations = int(max_iterations)
        self.label = label

    def transform(self, flow: Flow) -> Flow:
        df = flow[self.input]
        numeric = ("tinyint", "smallint", "int", "bigint", "long", "integer")
        dtypes = dict(df.dtypes)
        for c in (self.src, self.dst):
            if dtypes.get(c) not in numeric:
                raise ValueError(
                    f"node ids must be integral for the sum-potential fixpoint "
                    f"detector; column {c!r} is {dtypes.get(c)} — hash or "
                    "dense-rank string ids to longs first"
                )

        # the symmetric edge table is STATIC: persist it PARTITIONED
        # ON THE JOIN KEY (b) instead of localCheckpoint — a
        # checkpointed scan reports unknown partitioning, so every
        # round's neighbor-min join re-shuffled the EDGE table (the
        # big side at 100 TB); with the partitioned persist only the
        # node-sized label state exchanges per round (the PageRank
        # static-adjacency discipline, round 8)
        sym = df.select(
            F.col(self.src).alias("a"), F.col(self.dst).alias("b")
        ).unionAll(
            df.select(F.col(self.dst).alias("a"), F.col(self.src).alias("b"))
        )
        probe_loop_plan("ConnectedComponents/setup", sym)
        sym = sym.repartition("b").transform(_pin)
        labels = sym.select("a").distinct().select("a", F.col("a").alias("lab"))
        # r15 (guide §2.3, verdict #5): FRONTIER-SHRINKING propagation.
        # The neighbor-min join only needs labels that CHANGED last
        # round: a node absorbed every neighbor's label the round after
        # that neighbor last changed (labels only decrease, so an
        # unchanged neighbor can never contribute a new minimum).  The
        # per-round label states are therefore BIT-IDENTICAL to the old
        # full-state join — same labels every round, same round count,
        # same output — but the edge-sized join's label side shrinks
        # with the frontier (empirically ~n → ~0 over the ~log(n)
        # rounds), so per-round shuffle bytes fall off instead of
        # staying node-sized.  The pointer-jump join stays full-state:
        # it is node-sized on both sides and its source (stepped) is
        # needed in full anyway.  Termination: empty frontier ⟺ no
        # label changed ⟺ the old sum-potential is stable (decrease-
        # only), one count per round on the just-checkpointed frame.
        frontier = labels
        for _ in range(self.max_iterations):
            # NOTE (r14): SHUFFLE_HASH hints on the label side (the
            # PageRank loop move) were tried and REVERTED — measured
            # cc_label_invariant 3.6 s → 5.8 s at sf0.1.  Unlike
            # PageRank's two joins per round, the CC round body is
            # three joins over rapidly-shrinking checkpointed state;
            # the per-round SHJ build cost across ~log(n) rounds beat
            # the sorts it saved.
            nbr = (
                sym.join(frontier.select(F.col("a").alias("b"), "lab"), "b")
                .groupBy("a")
                .agg(F.min("lab").alias("nmin"))
            )
            stepped = labels.join(nbr, "a", "left").select(
                "a",
                F.col("lab").alias("__old"),
                F.least("lab", F.coalesce("nmin", "lab")).alias("lab"),
            )
            jump = stepped.select(F.col("a").alias("p"), F.col("lab").alias("plab"))
            labels = stepped.join(jump, stepped.lab == jump.p, "left").select(
                "a",
                "__old",
                F.least("lab", F.coalesce("plab", "lab")).alias("lab"),
            )
            probe_loop_plan("ConnectedComponents/round", labels)
            labels = _cut(labels)
            frontier = labels.filter(F.col("lab") != F.col("__old")).select(
                "a", "lab"
            )
            n_changed = frontier.count()
            labels = labels.select("a", "lab")
            if n_changed == 0:
                break
        out = labels.select(
            F.col("a").alias(self.node_col), F.col("lab").alias(self.component_col)
        )
        return flow.without(self.input).with_stream(self.output, out)

    def input_names(self) -> Sequence[str]:
        return (self.input,)

    def output_names(self) -> Sequence[str]:
        return (self.output,)


class PageRank(Component):
    """Distributed PageRank over a ``(src, dst)`` edge list — the
    canonical iterative graph workload (Page et al. 1999; the
    Pregel/GraphX showcase algorithm), expressed as ``k`` rounds of
    pure DataFrame joins+aggregates with lineage truncated per round
    (the Iterate/ConnectedComponents driver-loop pattern).

    Arithmetic is FIXED-POINT INTEGER throughout: ranks are bigints
    scaled by ``10^precision`` and every per-edge contribution is
    ``(num·r) div (den·deg)`` with damping as the exact rational
    num/den — no floating point in the loop at all, so all ``k``
    iterations are bit-exact, order-independent, engine-portable, and
    retry-stable (a double-rounding formulation was measured to
    diverge from a SQL replay on ~1%% of nodes: Spark rounds the
    shortest decimal repr, other engines round the binary value, and
    exact fixed-point inputs make half-boundary hits common — integer
    div has no boundary to disagree on).  Floor division leaks ≤1
    scaled unit per edge per round — standard fixed-point mass
    leakage, identical in every engine.

    Per round:  ``r₊(v) = base + Σ_{u→v} (num·r(u)) div (den·deg(u))``
    with ``base = ((den−num)·SCALE) div (den·N)``.

    Param contract: ``damping`` is QUANTIZED to the nearest 1/1000
    (the exact rational ``round(damping·1000)/1000`` — e.g. 0.8567 is
    scored as 0.857); values whose quantization would leave (0, 1)
    (below 0.0005 or ≥ 0.9995) are rejected at construction.

    Plan shape at 100 TB: the static (src, dst, deg) adjacency and N
    are computed once and PERSISTED PARTITIONED ON ``src`` (GraphX's
    static edge-partitioning discipline — a localCheckpoint would
    report unknown partitioning and re-shuffle the edge table every
    round; measured −51% shuffle/round at 10× edges); rank state is
    likewise persisted per round (r15) so it comes out of the
    nodes⋈contrib join already hash-partitioned on the node id and the
    next round's joins reuse the layout — the ONLY per-round shuffle
    left is the dst-keyed contribution aggregate, PageRank's
    irreducible data movement — linear in edges, state linear in nodes;
    hot destination nodes (the web's power law) hit the same AQE skew
    path as any keyed aggregate.  Dangling nodes (out-degree 0) keep the base rank
    and leak their damped mass — the standard simplification; pass
    symmetric edges (both directions) when mass conservation matters.

    Output: ``(node_col, rank_col)`` — one row per node appearing as a
    source or destination; rank = scaled bigint cast to double / SCALE
    (the scaled integer itself is the exact value).
    """

    def __init__(
        self,
        input: str,
        output: str | None = None,
        *,
        src: str = "src",
        dst: str = "dst",
        node_col: str = "node",
        rank_col: str = "rank",
        iterations: int = 5,
        damping: float = 0.85,
        precision: int = 12,
        label: str | None = None,
    ):
        if iterations < 1:
            raise ValueError("iterations must be >= 1")
        if not 0 < damping < 1:
            raise ValueError("damping must be in (0, 1)")
        # damping is quantized to the exact rational round(d*1000)/1000
        # (millesimal fixed-point — see class docstring).  Reject
        # values whose quantization collapses to 0 or 1: num=1000
        # would zero the teleport term (base=0) despite passing the
        # open-interval check above.
        if not 1 <= int(round(damping * 1000)) <= 999:
            raise ValueError(
                f"damping={damping} quantizes to "
                f"{int(round(damping * 1000))}/1000 which leaves the "
                "(0, 1) open interval — use a value in [0.0005, 0.9994]"
            )
        if not 6 <= precision <= 15:
            raise ValueError("precision must be in [6, 15] (bigint headroom)")
        self.input = input
        self.output = output or input
        self.src, self.dst = src, dst
        self.node_col, self.rank_col = node_col, rank_col
        self.iterations = int(iterations)
        self.damping = float(damping)
        self.precision = int(precision)
        self.label = label

    #: lazy-unroll lineage-truncation cadence (r15): rounds between
    #: localCheckpoints of the rank state.  6 keeps planning linear for
    #: arbitrary iteration counts while the registered 5-round queries
    #: never truncate (one job, zero rank-side exchanges).
    _TRUNCATE_EVERY = 6

    def transform(self, flow: Flow) -> Flow:
        from ..component import require_batch

        df = flow[self.input]
        require_batch(
            df, "PageRank", "the iterative rank fixpoint needs the whole edge list"
        )
        scale = 10 ** self.precision
        num = int(round(self.damping * 1000))
        den = 1000
        edges = df.select(
            F.col(self.src).alias("__src"), F.col(self.dst).alias("__dst")
        ).transform(_cut)
        # the static tables are PERSISTED PARTITIONED ON THEIR JOIN
        # KEYS, not localCheckpointed: a checkpointed RDD scan reports
        # unknown partitioning, so every round's edges⋈ranks SMJ
        # re-shuffled the EDGE table — the big side — per iteration
        # (measured by the round-8 loop-body plan audit: 4 exchanges/
        # round, edge-sized).  A partitioned persist keeps
        # outputPartitioning visible to Catalyst, so per round only
        # the node-sized rank state exchanges and the contribution
        # aggregate shuffles — edges are shuffled ONCE for the whole
        # run (the GraphX static-edge-partitioning discipline; at 100
        # TB edges ≫ nodes, this is the dominant term).
        nodes = (
            edges.select(F.col("__src").alias("__node"))
            .unionAll(edges.select(F.col("__dst").alias("__node")))
            .distinct()
            .repartition("__node")
            .transform(_pin)
        )
        # the degree table is STATIC — join it into the edge list once,
        # instead of re-joining every round (saves one join per
        # iteration; this is the materialized (src, dst, deg)
        # adjacency a real deployment would keep partitioned on src)
        deg = edges.groupBy("__src").agg(F.count(F.lit(1)).alias("__deg"))
        adjacency = edges.join(deg, "__src").repartition("__src")
        probe_loop_plan("PageRank/setup", adjacency)
        edges = _pin(adjacency)
        n = nodes.count()
        if n == 0:
            raise ValueError(
                "PageRank: input has no edges/nodes "
                f"(flow {self.input!r} is empty)"
            )
        init = scale // n
        base = (den - num) * scale // (den * n)

        # r15 (guide §2.4, verdict #4): the rank loop UNROLLS LAZILY —
        # no per-round localCheckpoint/persist/action at all.  The old
        # eager checkpoint reported unknown partitioning, so every
        # round paid (a) one rank-side Exchange into the edges⋈ranks
        # join and (b) one driver job to materialize; the unrolled plan
        # lets partitioning FLOW instead: initial ranks project off the
        # __node-partitioned nodes cache, each round's output comes out
        # of the nodes⋈contrib join hash-partitioned on __node, and the
        # next round's SHJ against the __src-partitioned edge cache
        # consumes it in place.  Loop-probe audit
        # (plans/r15/pagerank_order_part_loop_*.txt): round 1 shrinks
        # 25 → 14 Exchanges; the one per-round shuffle left is the
        # dst-keyed contribution aggregate — PageRank's irreducible
        # data movement.  (A persist+count per round was tried first
        # and REVERTED: planning over the growing cached lineage cost
        # 55 s of driver time at 5 rounds.)  Lineage is truncated every
        # ``_TRUNCATE_EVERY`` rounds so high iteration counts cannot
        # blow up planning — at the registered iterations=5 the plan
        # never truncates and the whole run is ONE job.  Arithmetic is
        # untouched integer fixed-point — bit-identical under any
        # caching/partitioning/pipelining.
        ranks = nodes.select(
            "__node", F.lit(init).cast("bigint").alias("__rank")
        )
        for it in range(self.iterations):
            # SHUFFLE_HASH hint on the node-sized rank state (r14,
            # guide §3.1): without it the planner picks sort-merge and
            # re-SORTS the edge side — the big side, persisted but not
            # ordered — EVERY round (5 edge-sized sorts per run).  A
            # shuffled hash join builds its table from the rank rows
            # (node-sized per partition by construction — the operator
            # keeps one row per node) and streams edges unsorted.
            # Join/aggregate results are integer and order-independent,
            # so the plan change cannot move a single rank bit.
            contrib = (
                edges.join(ranks.hint("shuffle_hash"),
                           edges["__src"] == ranks["__node"])
                .select(
                    F.col("__dst").alias("__node"),
                    (F.lit(num) * F.col("__rank")).alias("__a"),
                    (F.lit(den) * F.col("__deg")).alias("__b"),
                )
                .select("__node", F.expr("__a div __b").alias("__c"))
                .groupBy("__node")
                .agg(F.sum("__c").cast("bigint").alias("__in"))
            )
            ranks = nodes.join(contrib.hint("shuffle_hash"), "__node", "left").select(
                "__node",
                (F.lit(base) + F.coalesce(F.col("__in"), F.lit(0)))
                .cast("bigint")
                .alias("__rank"),
            )
            probe_loop_plan("PageRank/round", ranks)
            if (it + 1) % self._TRUNCATE_EVERY == 0 and (
                it + 1
            ) < self.iterations:
                # cadence truncation only (never on the last round):
                # the checkpoint costs one eager job and the NEXT round
                # re-exchanges the rank state once — amortized over
                # _TRUNCATE_EVERY rounds of zero-exchange flow
                ranks = _cut(ranks)
        out = ranks.select(
            F.col("__node").alias(self.node_col),
            (F.col("__rank").cast("double") / F.lit(float(scale))).alias(
                self.rank_col
            ),
        )
        return flow.without(self.input).with_stream(self.output, out)

    def input_names(self) -> Sequence[str]:
        return (self.input,)

    def output_names(self) -> Sequence[str]:
        return (self.output,)


class TriangleCount(Component):
    """Exact per-node triangle counts over an undirected edge list via
    DEGREE-ORIENTED wedge joins (Suri & Vassilvitskii 2011, "Counting
    triangles and the curse of the last reducer"; the MapReduce-native
    triangle algorithm).  Orient every edge from its (degree, id)-
    smaller endpoint to the larger; generate wedges only at each
    node's oriented OUT-neighbors and close them against the oriented
    edge set.  Every triangle has exactly ONE vertex both of whose
    partners are (degree, id)-larger, so each triangle is emitted
    exactly once — no /3 correction, no duplicates.

    Why the orientation is the whole scale story: wedge fan-out is
    sum over v of d_out(v)^2 with d_out <= sqrt(2m) GUARANTEED, so one
    celebrity node with a million raw neighbors no longer owns a
    10^12-row reducer — the skew is provably sheared before the join.

    Plan (r15 adjacency-intersect): canonical-edge distinct (1
    shuffle), degree agg (1), two keyed degree joins, then ONE
    node-sized adjacency build (collect_list of oriented out-neighbors,
    bounded at sqrt(2m) per node) joined onto both endpoints of every
    oriented edge; triangles close per edge via ``array_intersect`` —
    each triangle found exactly once at its (deg, id)-lowest edge with
    the third vertex as witness.  Every join is equi-keyed, nothing is
    quadratic in a raw degree, and the former wedge self-join (which
    materialized and SHUFFLED Σd_out² three-column rows to a closure
    join) is gone.  The oriented edge table is consumed twice
    (adjacency build + edge stream) and is persisted, not recomputed
    (the shared-lineage discipline).  Counts are exact integers:
    bit-identical in any engine.

    **Bounded modes (r13 — the decade defense).**  The orientation
    bounds d_out at sqrt(2m), but TOTAL wedge volume Σ d_out² is
    unbounded in m: the sf10 co-purchase graph measured Σd² = 3.0e10
    at 120M edges WITHOUT any degree tail (max degree 273) — billions
    of wedge rows exhausted 78 GB of shuffle disk on the doubled run.
    Two opt-in bounds, for the two distinct failure shapes:

    * ``max_degree=K`` — drop every edge incident to a node whose RAW
      canonical degree exceeds K, then count EXACTLY on the induced
      subgraph.  The power-law defense: on a Zipf graph a few hubs own
      most of Σd², and shearing them bounds wedge volume at ~m·K.
      Deterministic, engine-replayable (an SQL oracle recomputes
      degrees and the filter), and copy-symmetric.  Documented bias:
      triangles through hub nodes are not counted.  On a FLAT dense
      graph (this corpus) a cap either removes little volume or most
      nodes — use sampling there.
    * ``edge_sample=p`` — DOULION (Tsourakakis et al. 2009): keep each
      canonical edge iff xxhash64(u, v, seed) lands under p
      (deterministic coin), count on the sampled graph, scale per-node
      counts by 1/p³ (each triangle survives w.p. p³ → unbiased
      estimator; ``count_col`` becomes DOUBLE).  The volume defense:
      wedges shrink ~p², so p=0.1 turns the sf10 join into ~1% of the
      shuffle.  When combined with ``max_degree``, the cap still reads
      RAW canonical-graph degrees (computed pre-coin), so the predicate
      stays seed-independent and oracle-replayable.

    **Wedge-budget guard (r14 — the CosineLSHJoin discipline).**  The
    degree frame is already materialized, so one extra aggregate gives
    the raw wedge-volume bound Σd² before any expensive join runs.
    When the EFFECTIVE volume — Σd² unsampled, p²·Σd² under
    ``edge_sample`` — exceeds ``wedge_budget`` (default 8e9 — geometric middle
    between the certified sf1.0 co-purchase graph at Σd² = 3.0e9 and
    the sf10 wall measured at 3.0e10, which DNF'd on 78 GB of wedge
    shuffle), transform() raises with the measured
    number and the two remedies, instead of letting the user discover
    a tens-of-billions-row wedge join at runtime.  ``max_degree``
    skips the guard — the cap bounds fan-out at m·K by construction,
    an explicit scale decision.  ``wedge_budget=None`` disables.

    Output: (node_col, count_col) for every node in >= 1 triangle
    (bigint exact, or double estimate under ``edge_sample``).
    """

    def __init__(
        self,
        input: str,
        output: str | None = None,
        *,
        src: str = "src",
        dst: str = "dst",
        node_col: str = "node",
        count_col: str = "n_triangles",
        max_degree: int | None = None,
        edge_sample: float | None = None,
        seed: int = 42,
        wedge_budget: int | None = 8_000_000_000,
        label: str | None = None,
    ):
        if max_degree is not None and max_degree < 2:
            raise ValueError("max_degree must be >= 2 (a triangle needs degree 2)")
        if edge_sample is not None and not 0.0 < edge_sample <= 1.0:
            raise ValueError("edge_sample must be in (0, 1]")
        if wedge_budget is not None and wedge_budget < 1:
            raise ValueError("wedge_budget must be >= 1 (or None to disable)")
        self.input = input
        self.output = output or input
        self.src, self.dst = src, dst
        self.node_col, self.count_col = node_col, count_col
        self.max_degree = max_degree
        self.edge_sample = edge_sample
        self.seed = seed
        self.wedge_budget = wedge_budget
        self.label = label

    def transform(self, flow: Flow) -> Flow:
        df = flow[self.input]
        # NOTE (r14): materializing the canonical edge set here (eager
        # localCheckpoint, so the caller's edge build runs once instead
        # of twice) was tried and REVERTED: an interleaved A/B first
        # suggested ~25% off, but steady-state isolated runs on a
        # quiet box measured 5.4 s → 7.3 s at sf0.1 — the checkpoint
        # write of the full edge table costs more than the second
        # edge build, the same verdict an earlier round recorded for a
        # MEMORY_AND_DISK persist (docstring above).  The double edge
        # build stands as the measured-cheaper shape at both small and
        # large SF (at scale the edge build is one scan+shuffle;
        # checkpointing writes edge-sized bytes to local disk).
        und = (
            df.filter(F.col(self.src) != F.col(self.dst))
            .select(
                F.least(self.src, self.dst).alias("u"),
                F.greatest(self.src, self.dst).alias("v"),
            )
            .distinct()
        )
        # degrees via ONE explode (not a self-unionAll — that consumes
        # the edge build twice); the NODE-sized result is persisted
        # because it joins twice (u-side and v-side) — caching 1 row
        # per node is cheap insurance, caching the EDGE table is not
        # (measured 2x slower at sf0.1; the edge build runs twice —
        # deg materialization + orient join — which is the floor).
        # Degrees come from the PRE-sample canonical edge set (r14
        # advice): with edge_sample + max_degree combined, the cap must
        # apply to the documented RAW canonical-graph degrees, not
        # seed-dependent sampled degrees — otherwise the cap predicate
        # isn't oracle-replayable.  Orientation by raw degree is valid
        # on the sampled subgraph too (any total order orients; the
        # sampled out-degree is <= the raw oriented out-degree, so the
        # sqrt(2m) fan-out bound still holds).
        deg = (
            und.select(F.explode(F.array("u", "v")).alias("n"))
            .groupBy("n")
            .agg(F.count(F.lit(1)).alias("d"))
            .transform(_pin)
        )
        if self.wedge_budget is not None and self.max_degree is None:
            # one agg over the persisted NODE-sized degree frame — the
            # edge build it forces runs exactly once (cached) and was
            # needed by every downstream join anyway.  Raw Σd² bounds
            # the wedge-join row count; sampling shrinks it ~p².
            sum_d2 = (
                deg.agg(F.sum(F.col("d").cast("double") * F.col("d")).alias("s"))
                .collect()[0]["s"]
            ) or 0.0
            effective = sum_d2 * (
                float(self.edge_sample) ** 2
                if self.edge_sample is not None
                else 1.0
            )
            if effective > self.wedge_budget:
                raise RuntimeError(
                    f"TriangleCount wedge volume Σd² = {sum_d2:.3g}"
                    + (
                        f" (× p² = {effective:.3g} effective)"
                        if self.edge_sample is not None
                        else ""
                    )
                    + f" exceeds wedge_budget = {self.wedge_budget:.3g}: the "
                    "wedge join would materialize that many candidate rows "
                    "(the sf10 co-purchase graph hit this wall at 3.0e10 "
                    "without any degree tail).  Bound it with max_degree=K "
                    "(exact on the induced subgraph, volume <= m*K), a "
                    "smaller edge_sample=p (unbiased estimate, volume ~ "
                    "p^2*Σd²), or raise/disable wedge_budget explicitly."
                )
        if self.edge_sample is not None and self.edge_sample < 1.0:
            # DOULION coin: deterministic per canonical edge — the
            # same edge always lands the same side at any partitioning
            und = und.filter(
                F.pmod(F.xxhash64("u", "v", F.lit(self.seed)), F.lit(1_000_000))
                < int(self.edge_sample * 1_000_000)
            )
        withdeg = (
            und.join(deg.withColumnRenamed("n", "u").withColumnRenamed("d", "du"), "u")
            .join(deg.withColumnRenamed("n", "v").withColumnRenamed("d", "dv"), "v")
        )
        if self.max_degree is not None:
            # Zipf-tail shear: degrees here are the RAW canonical-graph
            # degrees (not recomputed post-filter), so the cap is a
            # pure per-edge predicate an oracle replays verbatim, and
            # the count is EXACT on the induced low-degree subgraph
            withdeg = withdeg.filter(
                (F.col("du") <= self.max_degree)
                & (F.col("dv") <= self.max_degree)
            )
        fwd = (F.col("du") < F.col("dv")) | (
            (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
        )
        ori = withdeg.select(
            F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("a"),
            F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("b"),
        ).transform(_pin)

        # r15 (guide §2.3, verdict #1): ADJACENCY-INTERSECT instead of
        # the wedge self-join + closure equi-join.  The old shape
        # materialized Σd_out² wedge ROWS and shuffled them (plus a
        # second shuffle of ori) to the (x, y) closure join — the
        # measured dominant cost.  Equivalent formulation: orient each
        # triangle x<y<z by the same (deg, id) total order; its three
        # oriented edges are x→y, x→z, y→z, so z ∈ N⁺(x) ∩ N⁺(y) holds
        # at edge (x, y) and at NO other edge of that triangle (y∉N⁺(z),
        # x∉N⁺(y)) — each triangle is found exactly once, at its unique
        # lowest edge, with the third vertex as the intersect witness.
        # Per triangle the credits are x += 1, y += 1 (the edge
        # endpoints, once per witness) and z += 1 (each witness) —
        # the identical integer multiset the wedge plan produced.
        # Cost shape: one node-sized adjacency build (collect_list is
        # bounded at d_out ≤ sqrt(2m) by the orientation), two keyed
        # joins of the edge list against it, and a per-edge
        # array_intersect — the only bulky exchange carries adjacency
        # ARRAYS (8 B/element) instead of 3-column wedge rows, and the
        # wedge-row materialization + its (x, y) exchange are gone
        # (plan: 2 of 4 post-orient Exchanges removed; AQE broadcasts
        # the node-sized adj at small SF).  Σd² still bounds the
        # intersect WORK, so the wedge_budget guard above is unchanged.
        adj = ori.groupBy("a").agg(F.collect_list("b").alias("__nb"))
        withadj = ori.join(
            adj.select(F.col("a"), F.col("__nb").alias("__na")), "a"
        ).join(
            adj.select(F.col("a").alias("b"), F.col("__nb").alias("__onb")), "b"
        )
        tri_w = withadj.select(
            "a", "b", F.array_intersect("__na", "__onb").alias("__w")
        ).filter(F.size("__w") > 0)
        # single-pass per-node credit explode: (a, |w|), (b, |w|), and
        # each witness z with 1 — no second consumption of tri_w
        credits = tri_w.select(
            F.explode(
                F.concat(
                    F.array(
                        F.struct(
                            F.col("a").alias("n"),
                            F.size("__w").cast("bigint").alias("c"),
                        ),
                        F.struct(
                            F.col("b").alias("n"),
                            F.size("__w").cast("bigint").alias("c"),
                        ),
                    ),
                    F.transform(
                        "__w",
                        lambda z: F.struct(
                            z.alias("n"), F.lit(1).cast("bigint").alias("c")
                        ),
                    ),
                )
            ).alias("__p")
        )
        counts = (
            credits.groupBy(F.col("__p.n").alias(self.node_col))
            .agg(F.sum("__p.c").cast("bigint").alias(self.count_col))
        )
        if self.edge_sample is not None and self.edge_sample < 1.0:
            # DOULION unbias: each triangle survives the coin w.p. p³
            counts = counts.withColumn(
                self.count_col,
                F.col(self.count_col) / F.lit(float(self.edge_sample) ** 3),
            )
        return flow.without(self.input).with_stream(self.output, counts)

    def input_names(self) -> Sequence[str]:
        return (self.input,)

    def output_names(self) -> Sequence[str]:
        return (self.output,)


class NeighborMeanFeatures(Component):
    """One-hop neighbor feature aggregation — the GraphSAGE-mean layer
    (Hamilton et al. 2017) as a dataframe op: for every node with
    edges, the element-wise MEAN of its neighbors' feature vectors.
    The building block of feature propagation / label spreading /
    embedding smoothing over a similarity or interaction graph.

    Plan: join features onto the edge list (keyed), ``posexplode`` the
    neighbor vector, ONE keyed aggregation on (node, dim).  Exploding
    to (edge x dim) skinny rows IS the scalable shape: the shuffle
    carries fixed-width rows partitioned by (node, dim) — no
    collect_list of whole vectors per node (a hot node with a million
    neighbors would otherwise materialize a million vectors in one
    aggregation buffer; here its load spreads over ``dim`` keys and
    map-side partial sums bound the shuffle by cardinality, not
    degree).

    Cross-engine determinism: each component is 6dp-rounded and
    summed as DECIMAL(18,6) (shuffle-order independent), then divided
    by the bigint neighbor count — hash-exact against a SQL oracle.
    Output is LONG-FORM (node_col, dim int, mean_val double, n_neighbors
    bigint): engine-portable (no array-column hashing) and directly
    joinable back into wide form when needed.
    """

    def __init__(
        self,
        edges: str,
        features: str,
        output: str,
        *,
        src: str = "src",
        dst: str = "dst",
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        node_col: str = "node",
        directed: bool = False,
        label: str | None = None,
    ):
        self.edges = edges
        self.features = features
        self.output = output
        self.src, self.dst = src, dst
        self.id_col = id_col
        self.vec_col = vec_col
        self.node_col = node_col
        self.directed = directed
        self.label = label

    def transform(self, flow: Flow) -> Flow:
        e = flow[self.edges].select(
            F.col(self.src).alias("__n"), F.col(self.dst).alias("__nb")
        )
        if not self.directed:
            e = e.unionAll(
                flow[self.edges].select(
                    F.col(self.dst).alias("__n"), F.col(self.src).alias("__nb")
                )
            )
        feats = flow[self.features].select(
            F.col(self.id_col).alias("__nb"),
            F.col(self.vec_col).cast("array<double>").alias("__v"),
        )
        joined = e.join(feats, "__nb")
        exploded = joined.select(
            "__n", F.posexplode("__v").alias("dim", "__x")
        )
        out = (
            exploded.groupBy("__n", "dim")
            .agg(
                F.sum(F.round(F.col("__x"), 6).cast("decimal(18,6)"))
                .cast("double")
                .alias("__s"),
                F.count(F.lit(1)).alias("n_neighbors"),
            )
            .select(
                F.col("__n").alias(self.node_col),
                "dim",
                (F.col("__s") / F.col("n_neighbors")).alias("mean_val"),
                F.col("n_neighbors").cast("bigint").alias("n_neighbors"),
            )
        )
        return flow.without(self.edges, self.features).with_stream(self.output, out)

    def input_names(self) -> Sequence[str]:
        return (self.edges, self.features)

    def output_names(self) -> Sequence[str]:
        return (self.output,)
