"""Relational components the reference lacks (SURVEY §2.3 "does NOT
have") — exposed as the idiomatic Spark superset: sort, limit, top-k,
distinct, set ops, dedup-by-key.  All one-liner lowerings; they exist
so the Flow/Pipeline surface is complete."""

from __future__ import annotations

from typing import Any, Callable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..cache import cut as _cut
from ..component import Component, require_batch
from ..flow import Flow
from .transformer import _PerStream, _resolve_expr


class Sort(_PerStream):
    def __init__(self, name_or_names, *cols: Any, ascending: bool = True, label: str | None = None):
        super().__init__(name_or_names, label=label)
        self.cols = cols
        self.ascending = ascending

    def transform_df(self, df):
        cols = [_resolve_expr(c, df) if not isinstance(c, str) else F.col(c) for c in self.cols]
        if not self.ascending:
            cols = [c.desc() for c in cols]
        return df.orderBy(*cols)


class Limit(_PerStream):
    def __init__(self, name_or_names, n: int, *, label: str | None = None):
        super().__init__(name_or_names, label=label)
        self.n = n

    def transform_df(self, df):
        return df.limit(self.n)


class Distinct(_PerStream):
    """``dropDuplicates`` — full-row distinct or by subset of columns
    (keeps an arbitrary row per key; for deterministic keep-rules use
    ``TopKPerGroup(k=1)``)."""

    def __init__(self, name_or_names, subset: Sequence[str] | None = None, *, label: str | None = None):
        super().__init__(name_or_names, label=label)
        self.subset = list(subset) if subset else None

    def transform_df(self, df):
        return df.dropDuplicates(self.subset) if self.subset else df.distinct()


class TopK(Component):
    """Global top-k by ordering expressions.  Lowering is
    ``orderBy().limit(k)`` which Spark executes as a distributed
    TakeOrdered — per-partition top-k then merge on the driver; no full
    sort, no full shuffle.  Always pass a tie-breaker for deterministic
    result sets."""

    def __init__(self, input: str, output: str | None = None, *, k: int, order_by: Sequence[Any], label: str | None = None):
        self.input = input
        self.output = output or input
        self.k = k
        self.order_by = list(order_by)
        self.label = label

    def transform(self, flow: Flow) -> Flow:
        df = flow[self.input]
        cols = [F.col(c) if isinstance(c, str) else _resolve_expr(c, df) for c in self.order_by]
        out = df.orderBy(*cols).limit(self.k)
        return flow.without(self.input).with_stream(self.output, out)

    def input_names(self):
        return (self.input,)

    def output_names(self):
        return (self.output,)


class TopKPerGroup(Component):
    """Top-k rows per group: ``row_number() over (partitionBy...orderBy...)
    <= k``.  The standard scalable pattern — one shuffle on the group
    key, no global sort."""

    def __init__(
        self,
        input: str,
        output: str | None = None,
        *,
        k: int,
        partition_by: Sequence[str],
        order_by: Sequence[Any],
        rank_col: str | None = None,
        label: str | None = None,
    ):
        self.input = input
        self.output = output or input
        self.k = k
        self.partition_by = list(partition_by)
        self.order_by = list(order_by)
        self.rank_col = rank_col
        self.label = label

    def transform(self, flow: Flow) -> Flow:
        df = flow[self.input]
        cols = [F.col(c) if isinstance(c, str) else _resolve_expr(c, df) for c in self.order_by]
        w = W.partitionBy(*self.partition_by).orderBy(*cols)
        rn = F.row_number().over(w)
        out = df.withColumn("__rn", rn).filter(F.col("__rn") <= self.k)
        out = out.withColumnRenamed("__rn", self.rank_col) if self.rank_col else out.drop("__rn")
        return flow.without(self.input).with_stream(self.output, out)

    def input_names(self):
        return (self.input,)

    def output_names(self):
        return (self.output,)


def global_row_number(df: DataFrame, order_by: Sequence[Any], rn_col: str = "__rn", num_partitions: int | None = None) -> DataFrame:
    """Distributed global ``row_number`` over a total order — the
    scalable replacement for ``row_number() OVER (ORDER BY ...)``
    (which funnels every row through ONE partition).

    Classic pattern: range-repartition on the sort key (order-preserving
    across partition ids), pin the partitioning (localCheckpoint — range
    boundaries are sampled, so the counts job and the rank job must see
    the SAME split), count rows per partition, broadcast the tiny
    prefix-offset map, then per-partition local rank + offset.  Work per
    partition is O(rows/partition log) instead of a single sorted
    straggler.

    ``order_by`` must define a UNIQUE total order (add a tie-breaker
    column): ties straddling a range boundary would otherwise get
    partition-dependent ranks.
    """
    spark = df.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism
    cols = [F.col(c) if isinstance(c, str) else c for c in order_by]
    ranged = (
        df.repartitionByRange(n, *cols)
        .withColumn("__gpid", F.spark_partition_id())
        .transform(_cut)
    )
    counts = sorted(
        (r["__gpid"], r["cnt"])
        for r in ranged.groupBy("__gpid").agg(F.count("*").alias("cnt")).collect()
    )
    offsets, acc = {}, 0
    for pid, cnt in counts:
        offsets[pid] = acc
        acc += cnt
    off = F.element_at(
        F.create_map(*[F.lit(v) for pid_off in offsets.items() for v in pid_off]),
        F.col("__gpid"),
    )
    w = W.partitionBy("__gpid").orderBy(*cols)
    return (
        ranged.withColumn(rn_col, (F.row_number().over(w) + off).cast("bigint"))
        .drop("__gpid")
    )


class RowNumber(Component):
    """Row-numbering as a component: per-group ``row_number`` when
    ``partition_by`` is given (one shuffle on the key), else the
    distributed global total-order rank via :func:`global_row_number`."""

    def __init__(
        self,
        input: str,
        output: str | None = None,
        *,
        order_by: Sequence[Any],
        partition_by: Sequence[str] = (),
        rn_col: str = "rn",
        label: str | None = None,
    ):
        self.input = input
        self.output = output or input
        self.order_by = list(order_by)
        self.partition_by = tuple(partition_by)
        self.rn_col = rn_col
        self.label = label

    def transform(self, flow: Flow) -> Flow:
        df = flow[self.input]
        cols = [F.col(c) if isinstance(c, str) else _resolve_expr(c, df) for c in self.order_by]
        if self.partition_by:
            w = W.partitionBy(*self.partition_by).orderBy(*cols)
            out = df.withColumn(self.rn_col, F.row_number().over(w).cast("bigint"))
        elif not df.isStreaming and df.rdd.getNumPartitions() > 4:
            out = global_row_number(df, cols, rn_col=self.rn_col)
        else:
            # tiny single-split input: one-core sort beats a range shuffle
            w = W.orderBy(*cols)
            out = df.withColumn(self.rn_col, F.row_number().over(w).cast("bigint"))
        return flow.without(self.input).with_stream(self.output, out)

    def input_names(self):
        return (self.input,)

    def output_names(self):
        return (self.output,)


class SetOp(Component):
    """Set ops between two named streams — both SQL semantics families:
    DISTINCT (``union``/``intersect``/``except``) and BAG/ALL
    (``union_all``/``intersect_all``/``except_all``, which respect
    multiplicities: a row occurring m times left and n times right
    survives ``except_all`` max(m-n, 0) times — the multiset algebra
    behind "views that outnumber purchases" queries)."""

    _OPS = ("union", "intersect", "except", "union_all", "intersect_all", "except_all")

    def __init__(self, op: str, left: str, right: str, output: str, *, label: str | None = None):
        if op not in self._OPS:
            raise ValueError(f"op must be one of {'|'.join(self._OPS)}")
        self.op = op
        self.left = left
        self.right = right
        self.output = output
        self.label = label

    def transform(self, flow: Flow) -> Flow:
        l, r = flow[self.left], flow[self.right]
        if self.op == "union":
            out = l.unionByName(r, allowMissingColumns=True).distinct()
        elif self.op == "union_all":
            out = l.unionByName(r, allowMissingColumns=True)
        elif self.op == "intersect":
            out = l.intersect(r)
        elif self.op == "intersect_all":
            out = l.intersectAll(r)
        elif self.op == "except_all":
            out = l.exceptAll(r)
        else:
            out = l.subtract(r)  # EXCEPT DISTINCT semantics
        return flow.without(self.left, self.right).with_stream(self.output, out)

    def input_names(self):
        return (self.left, self.right)

    def output_names(self):
        return (self.output,)


class Quantiles(Component):
    """EXACT grouped quantiles (quantile_cont semantics) without the
    engine's native percentile: rank rows per group (one shuffle on
    the group key), keep the <=2 bracketing rows per requested
    quantile, linearly interpolate with the EXPLICIT formula

        pos  = 1 + p * (n - 1)
        v    = v[floor(pos)] + (pos - floor(pos)) * (v[floor(pos)+1] - v[floor(pos)])

    Both the Spark plan and a SQL oracle can evaluate this exact IEEE
    expression, which makes results engine-portable where native
    ``percentile``/``quantile_cont`` internals are not.  Per-group
    state is O(1) after the rank; the sort is the per-group window,
    fully parallel across groups.  For very hot single groups at 100 TB
    prefer ``approx_percentile`` (documented tradeoff) — exact global
    quantiles need a total sort.

    Emits one row per group: ``by`` columns + one column per entry of
    ``quantiles`` (name -> p in [0, 1]) + ``n``.

    ``mode='approx'`` swaps the rank window for ``percentile_approx``
    (Greenwald-Khanna sketch): one partial+final aggregation, no
    per-group sort, bounded state — the right plan for a very hot
    single group at 100 TB.  The sketch guarantees a RANK error of at
    most ``n / accuracy`` per group (value error follows the local data
    density; bound-tested in tests/test_superset_ops.py).
    """

    def __init__(
        self,
        input: str,
        output: str | None = None,
        *,
        value_col: str,
        quantiles: "dict[str, float]",
        by: Sequence[str] = (),
        tie_breaker: str | None = None,
        mode: str = "exact",
        accuracy: int = 10000,
        label: str | None = None,
    ):
        for name, p in quantiles.items():
            if not 0.0 <= p <= 1.0:
                raise ValueError(f"quantile {name}={p} outside [0, 1]")
        if mode not in ("exact", "approx"):
            raise ValueError("mode must be 'exact' or 'approx'")
        if accuracy <= 0:
            raise ValueError("accuracy must be positive")
        self.input = input
        self.output = output or input
        self.value_col = value_col
        self.quantiles = dict(quantiles)
        self.by = list(by)
        self.tie_breaker = tie_breaker
        self.mode = mode
        self.accuracy = int(accuracy)
        self.label = label

    def transform(self, flow: Flow) -> Flow:
        df = flow[self.input]
        if self.mode == "approx":
            aggs = [
                F.percentile_approx(
                    self.value_col, F.lit(p), F.lit(self.accuracy)
                ).alias(name)
                for name, p in self.quantiles.items()
            ]
            # percentile_approx ignores NULLs, so n must count the same
            # population the sketch measured (non-null values), or the
            # rank-error bound n/accuracy lies on null-bearing columns
            aggs.append(F.count(self.value_col).alias("n"))
            out = df.groupBy(*self.by).agg(*aggs)
            return flow.without(self.input).with_stream(self.output, out)
        require_batch(
            df, "Quantiles", "exact quantiles need a full per-group rank"
        )
        order = [F.col(self.value_col)]
        if self.tie_breaker:
            order.append(F.col(self.tie_breaker))
        w = W.partitionBy(*self.by).orderBy(*order)
        wc = W.partitionBy(*self.by)
        ranked = df.select(
            *self.by,
            F.col(self.value_col).alias("__v"),
            F.row_number().over(w).alias("__rn"),
            F.count(F.lit(1)).over(wc).alias("__n"),
        )
        lo = {
            name: F.floor(F.lit(1.0) + F.lit(p) * (F.col("__n") - F.lit(1)))
            for name, p in self.quantiles.items()
        }
        keep = None
        for name in self.quantiles:
            c = (F.col("__rn") == lo[name]) | (F.col("__rn") == lo[name] + 1)
            keep = c if keep is None else (keep | c)
        aggs = []
        for name, p in self.quantiles.items():
            pos = F.lit(1.0) + F.lit(p) * (F.col("__n") - F.lit(1))
            vlo = F.max(F.when(F.col("__rn") == lo[name], F.col("__v")))
            vhi = F.max(F.when(F.col("__rn") == lo[name] + 1, F.col("__v")))
            frac = F.max(F.when(F.col("__rn") == lo[name], pos - F.floor(pos)))
            aggs.append(
                (vlo + frac * (F.coalesce(vhi, vlo) - vlo)).alias(name)
            )
        aggs.append(F.max("__n").alias("n"))
        out = ranked.filter(keep).groupBy(*self.by).agg(*aggs)
        return flow.without(self.input).with_stream(self.output, out)

    def input_names(self) -> Sequence[str]:
        return (self.input,)

    def output_names(self) -> Sequence[str]:
        return (self.output,)


class HeavyHitters(Component):
    """EXACT heavy hitters (items with frequency > ``min_count``) via
    the standard two-pass sketch-then-verify lowering:

      1. **Candidate pass** — per-partition Misra-Gries summaries of
         ``k`` counters (``mapInPandas``, state bounded by ``k`` per
         partition regardless of input size), merged with a single
         bounded aggregation.  MG's guarantee: any item with true count
         > n/k survives every summary and the merge, so with
         ``min_count >= n/k`` the candidate set is a SUPERSET of the
         true heavy hitters (the operator enforces this by raising
         when n/k > min_count — the user must widen k).
      2. **Verify pass** — exact count of ONLY the candidates (a
         broadcast semi-join of at most ``k`` values against the
         input), filtered to > min_count.

    Output is therefore EXACT — (value, n) for every value with true
    frequency > min_count — while the wide state of a full groupBy on
    a high-cardinality column is replaced by k counters per partition
    plus a count restricted to <= k candidate values.  At 100 TB this
    is the difference between shuffling every distinct URL/token and
    shuffling only plausibly-frequent ones.

    The input is scanned exactly TWICE (the information-theoretic floor
    for exact heavy hitters): the sketch pass also carries the
    per-partition row counts, and its tiny output is localCheckpointed
    so the total-count, the guarantee check, and the candidate filter
    all read the materialized summary instead of re-scanning.

    ``min_count`` is the row-count threshold; pass a CALLABLE
    ``n -> int`` (e.g. ``lambda n: n // 100`` for "more than 1%") to
    derive it from the total row count without a separate count job.
    NULL values are EXCLUDED — a SQL ``GROUP BY`` would emit a NULL
    group, this operator never does (filter upstream if nulls matter).
    """

    def __init__(
        self,
        input: str,
        output: str | None = None,
        *,
        value_col: str,
        min_count: "int | Callable[[int], int]",
        k: int = 1024,
        label: str | None = None,
    ):
        if not callable(min_count) and min_count <= 0:
            raise ValueError("min_count must be positive")
        if k <= 1:
            raise ValueError("k must be > 1")
        self.input = input
        self.output = output or input
        self.value_col = value_col
        self.min_count = min_count if callable(min_count) else int(min_count)
        self.k = int(k)
        self.label = label

    def transform(self, flow: Flow) -> Flow:
        import pandas as pd

        df = flow[self.input]
        require_batch(
            df, "HeavyHitters", "the exact verify pass re-scans the input"
        )
        k = self.k
        slim = df.select(
            F.col(self.value_col).cast("string").alias("__v")
        ).filter(F.col("__v").isNotNull())

        def mg_partition(batches):
            # one Misra-Gries summary per PARTITION (state: k counters);
            # mapInPandas streams batches, so the summary spans them.
            # VECTORIZED via the mergeable-summaries formulation
            # (Agarwal/Cormode et al.): each Arrow batch's exact
            # value_counts (C speed, no per-row Python) is itself an
            # error-free summary; merge = pointwise sum, then when more
            # than k-1 counters survive, subtract the k-th largest
            # count from all and drop the non-positive.  Each such
            # decrement of c removes >= k*c mass, so the total
            # decrement any item suffers is <= n_p/k — exactly the
            # classic per-row MG bound, and the n//k slack in the
            # candidate filter below is unchanged.  Measured 4.4x
            # faster than the per-row loop on a 20M-row unique-tail
            # corpus (SCALE.md HeavyHitters row).
            # A sentinel row (__v NULL — impossible as data, nulls are
            # filtered above) carries the partition's row count so the
            # total needs no second scan.
            import heapq

            counters: dict[str, int] = {}
            seen = 0
            for batch in batches:
                vc = batch["__v"].value_counts()
                seen += int(vc.sum())
                for v, c in vc.items():
                    counters[v] = counters.get(v, 0) + int(c)
                if len(counters) > k - 1:
                    cutoff = heapq.nlargest(k, counters.values())[-1]
                    counters = {
                        v: c - cutoff for v, c in counters.items() if c > cutoff
                    }
            yield pd.DataFrame(
                {
                    "__v": list(counters) + [None],
                    "est": list(counters.values()) + [seen],
                }
            )

        # ONE scan produces the summary; localCheckpoint pins its tiny
        # result (<= k x partitions rows) for the count + filter below
        summary = slim.mapInPandas(
            mg_partition, schema="__v string, est bigint"
        ).transform(_cut)
        n_rows = (
            summary.filter(F.col("__v").isNull()).agg(F.sum("est")).collect()[0][0]
            or 0
        )
        min_count = (
            self.min_count(n_rows) if callable(self.min_count) else self.min_count
        )
        if min_count <= 0:
            raise ValueError(f"derived min_count={min_count} must be positive")

        # enforce the guarantee precondition: n/k must not exceed
        # min_count, else a true heavy hitter could be evicted
        if n_rows / k > min_count:
            raise ValueError(
                f"HeavyHitters: n/k = {n_rows}/{k} = {n_rows / k:.0f} exceeds "
                f"min_count={min_count}; raise k to at least "
                f"{-(-n_rows // min_count)} to guarantee no heavy hitter "
                "is missed"
            )
        # merged summary: summing per-partition estimates keeps the
        # superset guarantee (sums only over-count survivors).  MG error
        # <= n/k: candidates with est + n/k <= min_count cannot be heavy
        # hitters; the rest verify exactly.  NO forced broadcast: the
        # candidate set is bounded per partition (k-1 survivors) but the
        # merged union can reach (k-1) x partitions rows at cluster
        # scale — AQE converts the join to broadcast when runtime stats
        # allow and backs off when they don't (the repo-wide hint
        # doctrine, enforced by plans/audit.py).
        cands = (
            summary.filter(F.col("__v").isNotNull())
            .groupBy("__v")
            .agg(F.sum("est").alias("est"))
            .filter(F.col("est") + F.lit(n_rows // k) > min_count)
        )

        # the sketch works over a string view of the value; round-trip
        # the output column back to the INPUT's type so callers see the
        # same dtype they fed in (bigint ids stay bigint)
        out = (
            slim.join(cands.select("__v"), "__v")
            .groupBy("__v")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > min_count)
            .select(
                F.col("__v")
                .cast(df.schema[self.value_col].dataType)
                .alias(self.value_col),
                "n",
            )
        )
        return flow.without(self.input).with_stream(self.output, out)

    def input_names(self) -> Sequence[str]:
        return (self.input,)

    def output_names(self) -> Sequence[str]:
        return (self.output,)


class ProfileColumns(Component):
    """One-pass column profiler — the scalable ``df.summary()``:
    per-column row/null/distinct counts plus min/max, emitted
    LONG-FORM (one row per column) so the profile of a 1,000-column
    table is still one tidy frame.  min/max are rendered as STRINGS —
    numerics through DECIMAL(18,6) (the one double→text path that is
    byte-identical across engines; raw double formatting is not),
    strings lexicographically (byte order in both Spark and DuckDB),
    other types as '' — so the output has NO null cells and
    hash-compares cleanly (engine NULL/NaN renderings differ).

    Plan: ONE wide global aggregate (partial+final — a single scan,
    no keyed shuffle), then a narrow explode of the per-column struct
    array into rows.  ``distinct='exact'`` uses count(DISTINCT) —
    Spark plans the multi-column distinct via EXPAND (one duplicated
    pass per profiled column), which is the honest cost of exactness
    and the right choice up to tens of columns; ``distinct='approx'``
    swaps in HLL (approx_count_distinct) for ONE true pass at 100 TB
    — same plan shape, estimates instead of exact counts (and no SQL
    oracle hash, so the registered query profiles with exact mode).

    Output: (column, n_rows, n_nulls, n_distinct, min_val, max_val).
    """

    _NUMERIC = ("tinyint", "smallint", "int", "integer", "bigint", "long",
                "float", "double", "decimal")

    def __init__(
        self,
        input: str,
        output: str,
        *,
        columns: "Sequence[str] | None" = None,
        distinct: str = "exact",
        label: str | None = None,
    ):
        if distinct not in ("exact", "approx"):
            raise ValueError("ProfileColumns: distinct must be 'exact' or 'approx'")
        self.input = input
        self.output = output
        self.columns = tuple(columns) if columns else None
        self.distinct = distinct
        self.label = label

    def transform(self, flow: Flow) -> Flow:
        df = flow[self.input]
        cols = self.columns or tuple(df.columns)
        dtypes = dict(df.dtypes)
        missing = [c for c in cols if c not in dtypes]
        if missing:
            raise ValueError(f"ProfileColumns: columns not in input: {missing}")
        cnt_d = (
            (lambda c: F.count_distinct(F.col(c)))
            if self.distinct == "exact"
            else (lambda c: F.approx_count_distinct(F.col(c)))
        )
        def render(agg_col, t, c):
            numeric = any(t.startswith(n) for n in self._NUMERIC)
            if numeric:
                # DECIMAL(38,6) covers every integral type and all but
                # astronomically-large doubles; a value the cast still
                # can't hold (|x| >= 1e32, or NaN) must FAIL LOUDLY —
                # a profiler silently reporting '' for min/max is the
                # exact defect it exists to surface
                # try_cast: under ANSI mode a plain cast would throw
                # Spark's opaque NUMERIC_VALUE_OUT_OF_RANGE mid-agg;
                # NULL-on-overflow + the coalesce below converts that
                # into this operator's actionable error instead
                rendered = agg_col.try_cast("decimal(38,6)").cast("string")
                return F.when(agg_col.isNull(), F.lit(None).cast("string")).otherwise(
                    F.coalesce(
                        rendered,
                        F.raise_error(
                            F.concat(
                                F.lit(
                                    f"ProfileColumns: column '{c}' min/max "
                                    "does not fit DECIMAL(38,6) (overflow or "
                                    "NaN) — cannot render portably"
                                )
                            )
                        ).cast("string"),
                    )
                )
            if t == "string":
                return agg_col
            return F.lit("")

        structs = []
        for c in cols:
            t = dtypes[c]
            structs.append(
                F.struct(
                    F.lit(c).alias("column"),
                    F.count(F.lit(1)).alias("n_rows"),
                    (F.count(F.lit(1)) - F.count(F.col(c))).alias("n_nulls"),
                    cnt_d(c).alias("n_distinct"),
                    F.coalesce(render(F.min(F.col(c)), t, c), F.lit("")).alias("min_val"),
                    F.coalesce(render(F.max(F.col(c)), t, c), F.lit("")).alias("max_val"),
                )
            )
        wide = df.agg(F.array(*structs).alias("__p"))
        out = wide.select(F.explode("__p").alias("__s")).select("__s.*").select(
            "column",
            F.col("n_rows").cast("bigint"),
            F.col("n_nulls").cast("bigint"),
            F.col("n_distinct").cast("bigint"),
            "min_val", "max_val",
        )
        return flow.without(self.input).with_stream(self.output, out)

    def input_names(self) -> Sequence[str]:
        return (self.input,)

    def output_names(self) -> Sequence[str]:
        return (self.output,)
