"""Splitter / SplitterTree: 1 stream -> N (reference ``lib/splitter.ex``).

Semantics preserved exactly from the reference: each output filters the
input **independently** (``Enum.split_with`` per output,
``lib/splitter.ex:73-80``), so one event can reach 0, 1, or all outputs
— hence independent ``df.filter`` per branch, NOT a when/otherwise
router (SURVEY §7.4.4).  The list form duplicates the stream to every
output (``lib/splitter.ex:38-45``).

Catalyst shares the underlying scan across branches; when the branches
are materialized separately and the input is expensive, pass
``cache=True`` to persist the input once (registered with
:func:`strom_spark.release_caches`).

``SplitterTree`` ``mode: :hash`` hash-partitions events by
``phash2(event, n)`` (``lib/splitter_tree.ex:56-68``).  When the goal is
*routing to named substreams* we mirror it with
``pmod(hash(cols), n) == i`` filters; when the goal is *parallelism*
(the common case at scale) the right Spark tool is
``repartition(n, cols)`` — exposed as ``Repartition``.
"""

from __future__ import annotations

from typing import Any, Mapping, Sequence

from pyspark.sql import functions as F

from ..cache import pin as _pin
from ..component import Component
from ..flow import Flow
from .transformer import _resolve_expr


class Splitter(Component):
    def __init__(
        self,
        input: str,
        outputs: "Sequence[str] | Mapping[str, Any]",
        *,
        cache: bool = False,
        label: str | None = None,
    ):
        self.input = input
        if isinstance(outputs, Mapping):
            self.outputs: dict[str, Any] = dict(outputs)
        else:
            # list form: duplicate stream to every output (copy mode)
            self.outputs = {name: None for name in outputs}
        self.cache = cache
        self.label = label

    def transform(self, flow: Flow) -> Flow:
        df = flow[self.input]
        if self.cache and not df.isStreaming:
            df = _pin(df)
        adds = {}
        for name, pred in self.outputs.items():
            adds[name] = df if pred is None else df.filter(_resolve_expr(pred, df))
        return flow.without(self.input).updated(adds)

    def input_names(self) -> Sequence[str]:
        return (self.input,)

    def output_names(self) -> Sequence[str]:
        return tuple(self.outputs)


class SplitterTree(Component):
    """Fan-out tree (reference ``lib/splitter_tree.ex``).

    ``mode="copy"``: every output is the same stream (N refs — free).
    ``mode="hash"``: route each event to output ``i`` where
    ``i = pmod(hash(partition_cols...), n)`` — deterministic disjoint
    partitioning, the analog of ``:erlang.phash2(event, n)``.

    ``partition_expr`` overrides the bucket hash with any integer
    Column (e.g. an md5-derived engine-portable hash, or a business
    rule); it is taken ``pmod n``.
    """

    def __init__(
        self,
        input: str,
        outputs: Sequence[str],
        *,
        mode: str = "copy",
        partition_by: Sequence[str] = (),
        partition_expr=None,
        label: str | None = None,
    ):
        if mode not in ("copy", "hash"):
            raise ValueError("mode must be 'copy' or 'hash'")
        self.input = input
        self.outputs = tuple(outputs)
        self.mode = mode
        self.partition_by = tuple(partition_by)
        self.partition_expr = partition_expr
        self.label = label

    def transform(self, flow: Flow) -> Flow:
        df = flow[self.input]
        n = len(self.outputs)
        adds = {}
        if self.mode == "copy":
            for name in self.outputs:
                adds[name] = df
        else:
            if self.partition_expr is not None:
                bucket = F.pmod(self.partition_expr, F.lit(n))
            else:
                cols = [F.col(c) for c in self.partition_by] or [F.col(c) for c in df.columns]
                bucket = F.pmod(F.hash(*cols), F.lit(n))
            for i, name in enumerate(self.outputs):
                adds[name] = df.filter(bucket == i)
        return flow.without(self.input).updated(adds)

    def input_names(self) -> Sequence[str]:
        return (self.input,)

    def output_names(self) -> Sequence[str]:
        return self.outputs


class Repartition(Component):
    """Hash-partition for *parallelism* (what SplitterTree-hash is for
    in the reference's words-count example): one stream, physically
    repartitioned on key columns so the downstream agg/join shuffles
    once, here, on the right key."""

    def __init__(self, name: str, num_partitions: int | None = None, partition_by: Sequence[str] = (), *, label: str | None = None):
        self.name = name
        self.num_partitions = num_partitions
        self.partition_by = tuple(partition_by)
        self.label = label

    def transform(self, flow: Flow) -> Flow:
        df = flow[self.name]
        cols = [F.col(c) for c in self.partition_by]
        if self.num_partitions and cols:
            df = df.repartition(self.num_partitions, *cols)
        elif cols:
            df = df.repartition(*cols)
        elif self.num_partitions:
            df = df.repartition(self.num_partitions)
        return flow.with_stream(self.name, df)

    def input_names(self) -> Sequence[str]:
        return (self.name,)

    def output_names(self) -> Sequence[str]:
        return (self.name,)
