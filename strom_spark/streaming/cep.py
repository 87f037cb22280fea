"""Streaming CEP: the reference's parcels problem with real event-time
timers.

Reference (``test/examples/parcels_test.exs:144-201``): a ``decide``
transformer keeps ``{to_ship, created_at}`` per order in an Agent and
emits ``ALL_PARCELS_SHIPPED`` when every parcel arrived, or
``THRESHOLD_EXCEEDED`` when a parcel arrives past the deadline — plus a
tick stream so orders whose parcels never arrive still decide
(``test/examples/window_test.exs``-style processing-time ticks).

Spark-first translation: one keyed stateful operator over the *mixed*
order+parcel stream (``applyInPandasWithState``), with the tick stream
replaced by **event-time timers**: an order's deadline is
``created_at + timeout``; each state row's timer sits at its earliest
deadline, and when the watermark passes a deadline the order decides.
Late/out-of-order parcels are handled by event time natively — parcels
arriving before their order simply accumulate in state (the reference
needs an explicit ``force_order`` stage for this,
``parcels_test.exs:106-142``).

At scale: state is per hash bucket of orders.  Each order lands in
bucket ``pmod(xxhash64(key), _BUCKETS)``; one state row per bucket holds
that bucket's open orders as parallel arrays, and one kernel call per
touched bucket runs the order state machine for all of them, so a
trigger pays PySpark's per-group cost (Arrow slice, pandas frames, state
pickle, state-store get/put) at most ``_BUCKETS`` times, however many
orders it touches.  ``_BUCKETS`` therefore also caps the operator's task
parallelism.  Decided orders keep a small tombstone (so late/duplicate
events can't re-open them) that is dropped one timeout past the
deadline — memory tracks the working set plus one timeout window, not
history.  ``_BUCKETS`` and the array layout are part of the checkpoint:
a checkpoint written by the earlier one-row-per-order layout fails
Spark's state-schema check on restart, and changing ``_BUCKETS`` needs a
fresh checkpoint too (orders would move to other buckets).
"""

from __future__ import annotations

from typing import Iterator, Sequence

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..component import Component
from ..flow import Flow

#: per bucket: the open and tombstoned orders as parallel arrays, then
#: the buffered timestamps of parcels whose order is not seen yet
_STATE_SCHEMA = (
    "ids array<bigint>, expected array<int>, deadline array<double>, "
    "on_time array<int>, decided array<boolean>, "
    "pend_ids array<bigint>, pend_ts array<double>"
)
#: hash buckets of orders: one state row and at most one kernel call per
#: trigger each.  Fixed here, never read from the session or the
#: environment: a different value on restart would route an order to a
#: different bucket than its state.
_BUCKETS = 32
_OUT_SCHEMA = "order_id bigint, decision string"

ALL_SHIPPED = "ALL_PARCELS_SHIPPED"
THRESHOLD = "THRESHOLD_EXCEEDED"


class StreamingMatchDecide(Component):
    """Keyed order/parcel matching with an event-time deadline.

    Input stream rows (a mixed order+parcel stream, watermarked on
    ``ts_col``):

      - order rows: ``type_col == order_type``, carrying
        ``expected_col`` (how many parcels must arrive) and the order
        timestamp (deadline = ts + timeout_s);
      - parcel rows: ``type_col == parcel_type``.

    Decision per order key:

      - ``ALL_PARCELS_SHIPPED``: the expected number of parcels arrived
        and none after the deadline;
      - ``THRESHOLD_EXCEEDED``: a parcel arrived past the deadline, or
        the event-time watermark passed the deadline with parcels still
        missing (state timeout — no tick stream needed).

    Unbounded state: a parcel whose order never arrives stays in its
    bucket's ``pend_ids``/``pend_ts`` for the life of the query.  It
    has no deadline, so neither the expiry pass nor a timer drops it,
    and a stream carrying such parcels never empties its state.
    """

    def __init__(
        self,
        input: str,
        output: str,
        *,
        key: str,
        type_col: str = "type",
        order_type: str = "ORDER_CREATED",
        parcel_type: str = "PARCEL_SHIPPED",
        expected_col: str = "expected",
        ts_col: str = "ts",
        timeout_s: float,
        label: str | None = None,
    ):
        self.input = input
        self.output = output
        self.key = key
        self.type_col = type_col
        self.order_type = order_type
        self.parcel_type = parcel_type
        self.expected_col = expected_col
        self.ts_col = ts_col
        self.timeout_s = timeout_s
        self.label = label

    def transform_df(self, df: DataFrame) -> DataFrame:
        key_col, type_col = self.key, self.type_col
        order_type, parcel_type = self.order_type, self.parcel_type
        expected_col, ts_col, timeout_s = self.expected_col, self.ts_col, self.timeout_s
        timeout_ms = timeout_s * 1000

        # Throughput: the per-group protocol of applyInPandasWithState
        # costs ~2 ms of Python per group, far more than the state
        # machine, so groups are hash buckets of orders, not orders:
        # a trigger makes at most _BUCKETS calls (which also caps this
        # stage's task parallelism), and expiry and tombstone GC ride
        # the same call instead of a second per-order timer visit.  The
        # price: each call reads and rewrites its whole bucket, so a
        # trigger's Python cost grows with the open orders in the
        # buckets it touches, not only with the events it reads.
        #
        # Per-order invariant (multi-batch safe): the decision replayed
        # in GLOBAL event-time order is ALL_SHIPPED iff the count of
        # ON-TIME parcels (ts <= deadline) reaches `expected` —
        # ts-sorted, every on-time parcel precedes every late one, so
        # the first break of the reference's scan is equivalent — and
        # THRESHOLD otherwise, decided once the watermark passes the
        # deadline and no on-time parcel can still arrive.  Counts
        # commute, so events need no sort within a call.  Parcels that
        # land BEFORE their ORDER_CREATED event cannot be classified
        # yet (deadline unknown): their timestamps buffer in
        # pend_ids/pend_ts and are re-checked against the deadline when
        # the order event sets it, so a pre-order batch split cannot
        # launder a late parcel into an on-time count.
        def kernel(_bucket, pdfs: Iterator[pd.DataFrame], state: GroupState):
            # order id -> [expected, deadline, on_time, decided]
            orders: dict[int, list] = {}
            pending: dict[int, list[float]] = {}
            if state.exists:
                ids, exps, dls, ons, decs, pend_ids, pend_ts = state.get
                orders = {k: [e, d, o, c] for k, e, d, o, c in zip(ids, exps, dls, ons, decs)}
                for k, ts in zip(pend_ids, pend_ts):
                    pending.setdefault(k, []).append(ts)
            out: list[tuple[int, str]] = []

            for pdf in pdfs:
                tss = (pdf[ts_col].values.astype("datetime64[us]").astype("int64") / 1e6).tolist()
                for k, t, ts, n in zip(
                    pdf[key_col].tolist(), pdf[type_col].tolist(), tss, pdf[expected_col].tolist()
                ):
                    o = orders.get(k)
                    if o is not None and o[3]:
                        # tombstone: a late/duplicate event for a decided
                        # order neither re-opens it nor decides it twice
                        continue
                    if t == order_type:
                        # a duplicate ORDER of an open order resets
                        # expected and deadline and keeps its count
                        deadline = ts + timeout_s
                        on_time = o[2] if o is not None else 0
                        on_time += sum(1 for p in pending.pop(k, ()) if p <= deadline)
                        o = orders[k] = [int(n), deadline, on_time, False]
                    elif t == parcel_type:
                        if o is None:
                            pending.setdefault(k, []).append(ts)  # order unseen
                            continue
                        if ts > o[1]:
                            # late parcel: never counts; THRESHOLD comes
                            # from the deadline (deciding here would race
                            # an on-time parcel in a later batch)
                            continue
                        o[2] += 1
                    else:
                        continue  # ticks and other types keep no state
                    if o[2] >= o[0]:
                        o[3] = True
                        out.append((k, ALL_SHIPPED))

            # one expiry pass: an open order past its deadline decides
            # THRESHOLD; a tombstone is dropped one timeout later
            wm = state.getCurrentWatermarkMs()
            timer = None
            for k in list(orders):
                _, deadline, _, decided = orders[k]
                expiry = int(deadline * 1000 + timeout_ms) if decided else int(deadline * 1000)
                if expiry < wm:
                    del orders[k]
                    if not decided:
                        out.append((k, THRESHOLD))
                elif timer is None or expiry < timer:
                    timer = expiry

            if orders or pending:
                exps, dls, ons, decs = (list(c) for c in zip(*orders.values())) if orders else ([],) * 4
                state.update((
                    list(orders), exps, dls, ons, decs,
                    [k for k, tss in pending.items() for _ in tss],
                    [ts for tss in pending.values() for ts in tss],
                ))
                if timer is not None:
                    # event-time timers must sit above the watermark
                    state.setTimeoutTimestamp(max(timer, wm + 1))
            else:
                state.remove()
            if out:
                yield pd.DataFrame(out, columns=["order_id", "decision"])

        bucketed = df.withColumn("__bucket", F.pmod(F.xxhash64(key_col), F.lit(_BUCKETS)))
        return bucketed.groupBy("__bucket").applyInPandasWithState(
            kernel,
            outputStructType=_OUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )

    def transform(self, flow: Flow) -> Flow:
        return flow.without(self.input).with_stream(self.output, self.transform_df(flow[self.input]))

    def input_names(self) -> Sequence[str]:
        return (self.input,)

    def output_names(self) -> Sequence[str]:
        return (self.output,)
