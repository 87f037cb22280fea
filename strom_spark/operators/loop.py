"""Loop: the reference's feedback edge (``lib/loop.ex``) — the same
struct is a sink (append) and a source (pop; halts after a quiet
timeout), enabling cyclic flows: numbers loop through +1 until >= 10
(``test/loop_test.exs:41-57``).

Spark DAGs are acyclic, so the cycle moves to the driver (SURVEY
§7.4): ``Iterate`` re-applies a body pipeline to the "looping" subset
until it's empty or ``max_iterations`` is hit — the classic driver-side
fixpoint loop (same shape as iterative graph algorithms on Spark).
Each iteration is a full distributed job; ``checkpoint_every`` truncates
lineage so long loops don't blow up the plan.

For streaming feedback, ``streaming/control.py``'s foreachBatch-to-
staging pattern is the analog (write each batch to a staging dir that a
second query reads).
"""

from __future__ import annotations

from typing import Any, Callable, Sequence

from pyspark.sql import DataFrame

from ..cache import cut as _cut
from ..component import Component
from ..flow import Flow
from ..planprobe import probe_loop_plan


class Iterate(Component):
    """Driver-side fixpoint iteration.

    ``body``: DataFrame -> DataFrame applied each round to the rows
    still looping.  ``exit_when``: predicate expression; rows matching
    it leave the loop into the output, the rest feed back.  Terminates
    when no rows remain or ``max_iterations`` is reached (remaining
    rows are appended to the output to avoid silent data loss, mirroring
    the reference's drain-on-timeout).
    """

    def __init__(
        self,
        input: str,
        output: str | None = None,
        *,
        body: Callable[[DataFrame], DataFrame],
        exit_when: Any,
        max_iterations: int = 100,
        # r14 (guide §5 localCheckpoint-to-cut-lineage): every round
        # ADDS two filters + the body to the lineage, and the exit
        # branches replay that whole chain again in the final union —
        # with the old cadence of 10 the loop re-scanned the source
        # O(rounds) times.  A/B on the 10-round golden workload at
        # sf0.1 (fresh sessions, warm-min): every=10 1.21 s, every=2
        # 1.08 s, every=3 0.94 s — truncating every ~3 rounds balances
        # checkpoint writes (shrinking remainder) against lineage
        # replay, and at scale keeps the replayed-plan depth bounded.
        checkpoint_every: int = 3,
        label: str | None = None,
    ):
        self.input = input
        self.output = output or input
        self.body = body
        self.exit_when = exit_when
        self.max_iterations = max_iterations
        self.checkpoint_every = checkpoint_every
        self.label = label

    def transform(self, flow: Flow) -> Flow:
        from .transformer import _resolve_expr

        df = flow[self.input]
        done_parts: list[DataFrame] = []
        looping = df
        for i in range(self.max_iterations):
            pred = _resolve_expr(self.exit_when, looping)
            done_parts.append(looping.filter(pred))
            looping = looping.filter(~pred)
            # isEmpty() is the loop condition — unavoidable action, one
            # lightweight job per round (it stops at the first row).
            if looping.isEmpty():
                break
            looping = self.body(looping)
            probe_loop_plan("Iterate/round", looping)
            if self.checkpoint_every and (i + 1) % self.checkpoint_every == 0:
                looping = _cut(looping)
        else:
            done_parts.append(looping)  # drain on max_iterations
        from functools import reduce

        out = reduce(lambda a, b: a.unionByName(b), done_parts)
        return flow.without(self.input).with_stream(self.output, out)

    def input_names(self) -> Sequence[str]:
        return (self.input,)

    def output_names(self) -> Sequence[str]:
        return (self.output,)
