"""Fuzzy string matching: edit-distance self-join without all-pairs.

Entity resolution over a column of names/titles ("find every pair of
strings within Levenshtein distance d") is quadratic if done naively —
at 100 TB it must be candidate-generated.  This operator implements
the ED-Join recipe (Xiao, Wang, Lin, VLDB'08): an edit distance of at
most ``d`` can disturb at most ``q*d`` of a string's q-grams, so two
strings within distance ``d`` must (a) have lengths within ``d`` and
(b) share at least one gram among their ``q*d + 1`` RAREST grams
(prefix filtering under a global canonical gram order — rarest-first
minimizes index fan-out).  The plan:

  1. one pass extracts distinct q-grams per string;
  2. global gram frequencies (vocab-sized, the canonical order) are
     joined back and each string keeps its ``q*d + 1`` rarest grams —
     the inverted-index prefix;
  3. the index self-joins on the gram (shuffle on the gram key, never
     all-pairs; fan-out is bounded by the rarest-gram postings);
  4. candidates are verified with the exact ``levenshtein`` built-in
     (JVM codegen, no Python).

The prefix-filter theorem needs at least ``q*d + 1`` grams per string
(a pigeonhole over the at-most-``q*d`` destroyed grams): SHORT strings
("abcd" vs "abxd" at q=3 share zero grams yet have distance 1) would
be silently missed.  Strings short enough that either side of a
qualifying pair could have ``<= q*d`` grams — length below
``q*(d+1) - 1 + d`` — therefore ALSO emit sentinel grams for their
length band ``[len, len+d]``, making every short pair within the
length filter a candidate by construction.  With that, the join is
EXACT: it returns precisely the pairs a brute-force scan would (the
property test checks this against brute force over random strings).
Short-string candidates are per-length-band all-pairs — inherent
(dense tiny-string neighborhoods), bounded by the short population.

For SMALL distances (d <= 2) over short strings — names, titles, ids,
the entity-resolution regime — the DELETION-NEIGHBORHOOD strategy
(FastSS; Bocek et al. 2007) is far stronger than q-gram prefixes:
if ed(s1, s2) <= d then deleting the <= d edited characters from each
side leaves a COMMON string, so s1 and s2 must share a member of
their <= d-deletion neighborhoods (a superset condition — verified
exactly afterwards).  Deletion variants are nearly unique (an 18-char
name has 19 distance-1 variants, almost none shared by non-neighbors),
so candidate volume collapses to ~output size where q-gram postings
go hot on structured/zero-padded names (measured: 15k "Customer#%09d"
names at d=1 — the digit grams of small ids are all frequent, 10M+
q-gram candidates vs ~300k deletion candidates).  ``strategy='auto'``
picks deletion for d <= 2 and q-gram prefixes otherwise; neighborhood
size is O(len^d) per string, which is why larger d falls back.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..cache import pin as _pin
from ..component import Component, require_batch
from ..flow import Flow


class EditDistanceJoin(Component):
    """All pairs of rows of ``input`` whose ``str_col`` values are
    within Levenshtein distance ``max_dist`` (pairs ordered
    ``id1 < id2``; exact, sub-quadratic via q-gram prefix filtering).
    Emits ``(id1, id2, dist)``."""

    def __init__(
        self,
        input: str,
        output: str | None = None,
        *,
        id_col: str,
        str_col: str,
        max_dist: int = 1,
        q: int = 3,
        strategy: str = "auto",
        label: str | None = None,
    ):
        if max_dist < 1:
            raise ValueError("max_dist must be >= 1")
        if q < 2:
            raise ValueError("q must be >= 2")
        if strategy not in ("auto", "deletion", "qgram"):
            raise ValueError(f"unknown strategy {strategy!r}")
        if strategy == "deletion" and max_dist > 2:
            raise ValueError(
                "deletion strategy is O(len^d) variants per string; "
                "use strategy='qgram' for max_dist > 2"
            )
        self.input = input
        self.output = output or input
        self.id_col = id_col
        self.str_col = str_col
        self.max_dist = max_dist
        self.q = q
        self.strategy = strategy
        self.label = label

    def transform(self, flow: Flow) -> Flow:
        df = flow[self.input]
        require_batch(
            df,
            "EditDistanceJoin",
            "the canonical gram order is a full-corpus frequency table",
        )
        q, d = self.q, self.max_dist
        if self.strategy == "deletion" or (
            self.strategy == "auto" and d <= 2
        ):
            return self._deletion(flow, df)
        prefix_len = q * d + 1
        base = df.select(
            F.col(self.id_col).alias("__id"),
            F.col(self.str_col).alias("__s"),
            F.length(self.str_col).alias("__len"),
        )
        # distinct q-grams per string; strings short enough that a
        # qualifying partner could have <= q*d grams additionally emit
        # length-band sentinels [len, len+d] so short pairs are always
        # candidates (see module docstring — exactness)
        short_max = q * (d + 1) - 1 + d
        real = F.when(F.col("__len") >= q, F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.col("__len") - q + 1),
                lambda i: F.col("__s").substr(i, F.lit(q)),
            )
        )).otherwise(F.array().cast("array<string>"))
        sentinels = F.when(
            F.col("__len") <= short_max,
            F.transform(
                F.sequence(F.col("__len"), F.col("__len") + d),
                lambda l: F.concat(F.lit("__S"), l.cast("string"), F.lit("__")),
            ),
        ).otherwise(F.array().cast("array<string>"))
        grams = base.select(
            "__id", "__len", F.explode(real).alias("__g")
        )
        sent = base.select(
            "__id", "__len", F.explode(sentinels).alias("__g")
        )
        freq = grams.groupBy("__g").agg(F.count(F.lit(1)).alias("__df"))
        w = Window.partitionBy("__id").orderBy("__df", "__g")
        # sentinels bypass prefix selection — pruning one would break
        # the short-pair guarantee (they are deliberately frequent)
        # the prefix rows CARRY the (short) string payload so the
        # verify runs inline on the candidate join output — a
        # duplicate candidate (pair sharing several prefix grams) pays
        # an extra codegen levenshtein instead of a pair-set DISTINCT
        # shuffle plus two candidate-sized id->string joins, which on
        # a low-selectivity corpus (structured ids: ~10M candidates
        # from 15k strings) dominated the runtime ~4x.  Dedup happens
        # AFTER verify, on the true-pair set only.
        # Explicit width on the gram shuffle: the self-join's INPUT is
        # tiny (prefix_len rows per string) but its OUTPUT fans out
        # ~|posting|² per gram — AQE's coalescing sees only input
        # bytes and would funnel the whole fan-out (and every inline
        # levenshtein) through one task.  Repartitioning on the join
        # key at the session's shuffle width parallelizes the fan-out
        # and pre-satisfies the join's distribution (the same fix
        # CosineLSHJoin carries, similarity.py).
        n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        # prefix feeds BOTH self-join sides — pin post-repartition so
        # the cached partitioning satisfies the join on each side
        # instead of re-running the gram/frequency/rank subtree twice
        # (r14, the shared-lineage rule)
        prefix = (
            grams.join(freq, "__g")
            .withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= prefix_len)
            .select("__id", "__len", "__g")
            .unionByName(sent)
            .join(base.select("__id", "__s"), "__id")
            .repartition(n_part, "__g")
            .transform(_pin)
        )
        a, b = prefix.alias("a"), prefix.alias("b")
        out = (
            a.join(
                b,
                (F.col("a.__g") == F.col("b.__g"))
                & (F.col("a.__id") < F.col("b.__id"))
                & (F.abs(F.col("a.__len") - F.col("b.__len")) <= d),
            )
            .withColumn("dist", F.levenshtein(F.col("a.__s"), F.col("b.__s")))
            .filter(F.col("dist") <= d)
            .select(
                F.col("a.__id").alias("id1"),
                F.col("b.__id").alias("id2"),
                F.col("dist"),
            )
            .dropDuplicates(["id1", "id2"])
        )
        return flow.without(self.input).with_stream(self.output, out)

    def _deletion(self, flow: Flow, df) -> Flow:
        """FastSS deletion-neighborhood lowering (d <= 2): explode the
        <= d-deletion variants, equi-join on the variant string, verify
        with exact levenshtein.  The variant arrays are built with pure
        SQL HOFs (codegen); an empty/1-char string degenerates to junk
        variants {s, ''} which only ever WIDEN the candidate set — the
        inline verify keeps the join exact."""
        d = self.max_dist
        base = df.select(
            F.col(self.id_col).alias("__id"),
            F.col(self.str_col).alias("__s"),
            F.length(self.str_col).alias("__len"),
        )
        d1 = (
            "transform(sequence(1, greatest(length(__s), 1)), "
            "i -> concat(substring(__s, 1, i-1), substring(__s, i+1)))"
        )
        variants = f"array_union(array(__s), {d1})"
        if d == 2:
            d2 = (
                f"flatten(transform({d1}, "
                "v -> transform(sequence(1, greatest(length(v), 1)), "
                "j -> concat(substring(v, 1, j-1), substring(v, j+1)))))"
            )
            variants = f"array_union({variants}, array_distinct({d2}))"
        n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        # explicit width on the variant shuffle: same AQE fan-out
        # blindness guard as the q-gram path / CosineLSHJoin
        # the variant-exploded frame feeds BOTH self-join sides: pin it
        # once (post-repartition, so the persisted partitioning is the
        # join's own and neither side re-shuffles) instead of paying
        # scan + variant explosion + exchange per side (r14, the
        # shared-lineage rule)
        exploded = (
            base.select(
                "__id", "__len", "__s", F.explode(F.expr(variants)).alias("__v")
            )
            .repartition(n_part, "__v")
            .transform(_pin)
        )
        a, b = exploded.alias("a"), exploded.alias("b")
        out = (
            a.join(
                b,
                (F.col("a.__v") == F.col("b.__v"))
                & (F.col("a.__id") < F.col("b.__id"))
                & (F.abs(F.col("a.__len") - F.col("b.__len")) <= d),
            )
            .withColumn("dist", F.levenshtein(F.col("a.__s"), F.col("b.__s")))
            .filter(F.col("dist") <= d)
            .select(
                F.col("a.__id").alias("id1"),
                F.col("b.__id").alias("id2"),
                F.col("dist"),
            )
            .dropDuplicates(["id1", "id2"])
        )
        return flow.without(self.input).with_stream(self.output, out)

    def input_names(self) -> Sequence[str]:
        return (self.input,)

    def output_names(self) -> Sequence[str]:
        return (self.output,)
