"""Deduplication components for training-data pipelines.

Five strategies, all expressed as shuffle-conscious DataFrame plans:

  - **ExactDedup** — hash-groupBy on a content fingerprint.  One
    shuffle on the 128-bit key; at 100 TB this is the cheapest possible
    dedup (fingerprint computed in the scan, map-side partial agg).
  - **NgramJaccardPairs** — exact Jaccard over k-word shingles via an
    inverted-index self-join (shingle -> doc postings), NOT an O(n²)
    cross join: only docs sharing a shingle ever meet.  The optional
    ``max_shingle_freq`` drops ultra-common shingles (stop-shingles) —
    at web scale a handful of boilerplate shingles would otherwise
    create quadratic hot postings; dropping them is both a skew fix and
    standard practice.
  - **MinHashLSHPairs** — MinHash signatures + banded LSH: candidate
    pairs meet only inside an LSH band bucket (b bands × r rows), then
    are verified with exact Jaccard.  Sub-quadratic candidate
    generation; the verify join touches only candidates.
  - **SimHashPairs** — 32/64-bit SimHash; pairs within Hamming distance d
    found by the block-split trick (split the bit-string into d+1
    blocks; any pair at distance <= d shares a block — pigeonhole, so
    recall is exact), verified by true Hamming distance.
  - **EmbeddingNearDupPairs** — cosine near-dup over an embedding
    column; all-pairs via self-join is the exact baseline, with
    magnitude blocking unavailable for cosine — the scale path is the
    LSH variant in ``similarity.py``.

Hashing uses md5 (engine-portable, oracle-parity); pass
``hash_fn="xxhash64"`` where parity is not required for ~2-3× faster
signatures.
"""

from __future__ import annotations

from typing import Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cache import cut as _cut, pin as _pin
from ..component import Component
from ..flow import Flow
from ..functions import hamming as H
from ..functions import text as TXT
from ..functions import vectors as V
from ..io import spread as _spread
from ..planprobe import probe_loop_plan
from .similarity import spherical_kmeans


class ExactDedup(Component):
    """One row per distinct normalized text: the kept (minimum) id, the
    duplicate count.  ``keep='rows'`` instead returns the surviving
    full rows (left-semi join back — no wide shuffle of payload)."""

    def __init__(
        self,
        input: str,
        output: str | None = None,
        *,
        id_col: str = "doc_id",
        text_col: str = "text",
        keep: str = "summary",
        label: str | None = None,
    ):
        self.input = input
        self.output = output or input
        self.id_col = id_col
        self.text_col = text_col
        self.keep = keep
        self.label = label

    def transform(self, flow: Flow) -> Flow:
        df = flow[self.input]
        fp = TXT.fingerprint(self.text_col)
        summary = (
            df.select(F.col(self.id_col), fp.alias("fingerprint"))
            .groupBy("fingerprint")
            .agg(
                F.min(self.id_col).alias("keep_id"),
                F.count("*").alias("n_copies"),
            )
        )
        if self.keep == "summary":
            out = summary
        else:
            keep_ids = summary.select(F.col("keep_id").alias(self.id_col))
            out = df.join(keep_ids, on=self.id_col, how="left_semi")
        return flow.without(self.input).with_stream(self.output, out)

    def input_names(self) -> Sequence[str]:
        return (self.input,)

    def output_names(self) -> Sequence[str]:
        return (self.output,)




class StreamingExactDedup(Component):
    """Exact dedup over an UNBOUNDED stream: keep the first-arriving
    row per content fingerprint, with state garbage-collected by the
    watermark (``dropDuplicatesWithinWatermark``) — the streaming
    counterpart of :class:`ExactDedup`'s batch keep='rows'.

    Requires the input stream to carry a watermark.  At 100 TB-rate
    ingest the keyed dedup state is bounded by fingerprints seen
    within one watermark delay, not history — the standard exactly-
    once ingest-dedup pattern (duplicates separated by more than the
    delay are out of contract, exactly like Spark's own semantics).
    """

    def __init__(
        self,
        input: str,
        output: str | None = None,
        *,
        text_col: str = "text",
        label: str | None = None,
    ):
        self.input = input
        self.output = output or input
        self.text_col = text_col
        self.label = label

    def transform(self, flow: Flow) -> Flow:
        df = flow[self.input]
        with_fp = df.withColumn("fingerprint", TXT.fingerprint(self.text_col))
        out = with_fp.dropDuplicatesWithinWatermark(["fingerprint"])
        return flow.without(self.input).with_stream(self.output, out)

    def input_names(self) -> Sequence[str]:
        return (self.input,)

    def output_names(self) -> Sequence[str]:
        return (self.output,)


class WinnowFingerprints(Component):
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm): ordered k-gram hashes -> distinct
    minima of every w-window, i.e. a position-robust fingerprint set
    ~2/(w+1) the size of the gram sequence with a guaranteed-match
    window of w+k-1 tokens.

    Output ``mode='rows'`` (default): exploded (id, fp) posting rows —
    the shape downstream overlap joins want; ``mode='set'``: one row
    per doc with the sorted fingerprint array.

    100 TB design: everything is a narrow Column expression (md5 +
    integer conv + array HOFs, no Python, no shuffle); the only wide
    operation downstream is whatever consumes the postings.  Compare
    :class:`NgramJaccardPairs` (set-overlap semantics) — winnowing is
    the CONTIGUOUS-match detector (plagiarism/quotation/boilerplate),
    not a bag-similarity measure.
    """

    def __init__(
        self,
        input: str,
        output: str | None = None,
        *,
        id_col: str = "doc_id",
        text_col: str = "text",
        k: int = 3,
        window: int = 4,
        mode: str = "rows",
        label: str | None = None,
    ):
        if mode not in ("rows", "set"):
            raise ValueError("mode must be 'rows' or 'set'")
        self.input = input
        self.output = output or input
        self.id_col = id_col
        self.text_col = text_col
        self.k = k
        self.window = window
        self.mode = mode
        self.label = label

    def transform(self, flow: Flow) -> Flow:
        df = flow[self.input]
        # each derived array is projected to a BOUND column before the
        # next HOF consumes it (per-element re-evaluation trap,
        # functions/text.py)
        staged = (
            _spread(df.select(F.col(self.id_col).alias("id"), F.col(self.text_col).alias("__text")))
            .select("id", TXT.tokens("__text").alias("__toks"))
            .select("id", TXT.ordered_shingles(F.col("__toks"), self.k).alias("__grams"))
            .select("id", F.transform("__grams", TXT.kgram_hash).alias("__hashes"))
            .select("id", TXT.winnow(F.col("__hashes"), self.window).alias("fps"))
        )
        if self.mode == "set":
            out = staged.select("id", "fps")
        else:
            out = staged.select("id", F.explode("fps").alias("fp"))
        return flow.without(self.input).with_stream(self.output, out)

    def input_names(self) -> Sequence[str]:
        return (self.input,)

    def output_names(self) -> Sequence[str]:
        return (self.output,)


def _shingle_postings(df: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    """(id, shingle) postings list — distinct k-word shingles.

    Tokens are projected to a bound column BEFORE shingling so the
    normalize-regex runs once per document, not once per shingle (HOF
    lambdas re-evaluate derived subtrees per element)."""
    slim = _spread(df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text")))
    toks = slim.select("id", TXT.tokens("__text").alias("__toks"))
    return toks.select(
        "id", F.explode(TXT.shingles_of_tokens(F.col("__toks"), k)).alias("shingle")
    )


def _jaccard_pairs(
    postings: DataFrame,
    threshold: float,
    max_shingle_freq: int | None,
) -> DataFrame:
    """Inverted-index join -> intersection counts -> Jaccard.

    Scale notes: the postings self-join shuffles on `shingle` (skew
    handled by max_shingle_freq + AQE); intersection counts shuffle on
    the (d1, d2) pair key.  Both keys are high-cardinality ->
    well-distributed."""
    if max_shingle_freq is not None:
        freq_ok = (
            postings.groupBy("shingle")
            .agg(F.count("*").alias("__f"))
            .filter(F.col("__f") <= max_shingle_freq)
            .drop("__f")
        )
        postings = postings.join(freq_ok, "shingle", "left_semi")
    sizes = postings.groupBy("id").agg(F.count("*").alias("n"))
    a = postings.alias("a")
    b = postings.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("d1"), F.col("b.id").alias("d2"))
        .agg(F.count("*").alias("c"))
    )
    sa = sizes.select(F.col("id").alias("d1"), F.col("n").alias("na"))
    sb = sizes.select(F.col("id").alias("d2"), F.col("n").alias("nb"))
    return (
        inter.join(sa, "d1")
        .join(sb, "d2")
        # no rounding: a single int/int double division is bit-identical
        # across engines, and rounding tie-breaks are not
        .withColumn("jaccard", F.col("c") / (F.col("na") + F.col("nb") - F.col("c")))
        .filter(F.col("jaccard") >= threshold)
        .select("d1", "d2", "jaccard")
    )


class NgramJaccardPairs(Component):
    """Exact near-duplicate pairs by k-word-shingle Jaccard >=
    ``threshold``.  Output: (d1, d2, jaccard), d1 < d2."""

    def __init__(
        self,
        input: str,
        output: str | None = None,
        *,
        id_col: str = "doc_id",
        text_col: str = "text",
        k: int = 3,
        threshold: float = 0.8,
        max_shingle_freq: int | None = None,
        label: str | None = None,
    ):
        self.input = input
        self.output = output or input
        self.id_col = id_col
        self.text_col = text_col
        self.k = k
        self.threshold = threshold
        self.max_shingle_freq = max_shingle_freq
        self.label = label

    def transform(self, flow: Flow) -> Flow:
        postings = _shingle_postings(flow[self.input], self.id_col, self.text_col, self.k)
        out = _jaccard_pairs(postings, self.threshold, self.max_shingle_freq)
        return flow.without(self.input).with_stream(self.output, out)

    def input_names(self) -> Sequence[str]:
        return (self.input,)

    def output_names(self) -> Sequence[str]:
        return (self.output,)


class MinHashLSHPairs(Component):
    """MinHash + banded LSH near-dup pairs, verified by Jaccard.

    Each shingle is hashed once, h = xxhash64(shingle) mod (2^31 - 1);
    for seed i in 0..num_hashes-1, sig_i = min over shingles of
    (a_i·h + b_i) mod (2^31 - 1).  Bands of ``rows_per_band``
    signatures become bucket keys; only same-bucket pairs are
    candidates (sub-quadratic).  Candidates are then verified with a
    Jaccard join restricted to candidate ids, so the output has no
    false positives; recall is the standard
    LSH S-curve (32 hashes / 16 bands × 2 rows -> P(catch | j=0.8) ≈
    1-(1-0.64)^16 ≈ 0.9999).

    **Auto banding (r12 — the CosineLSHJoin auto-sizing discipline,
    similarity.py).**  ``rows_per_band=None`` resolves (rows, bands)
    from the Jaccard threshold's S-curve at ``target_recall``: the
    LARGEST rows-per-band whose implied band count b =
    ⌈log(1-R)/log(1-t^r)⌉ fits the ``max_hashes`` budget — the
    sharpest filter the budget affords.  Sharper bands are the scale
    lever: the pinned 16×2 config admits a candidate at Jaccard 0.5
    with P ≈ 1-(1-0.25)^16 ≈ 0.99 — on a Zipf corpus nearly every
    mid-similarity pair ships two full shingle arrays through the
    verify join (the r11 sf10 probe's 12.8× wall was adjudicated as
    exactly this shuffle spilling at the heap boundary) — while the
    auto config at t=0.8 (r=4, b=18) cuts that to ≈ 0.69 (0.37 at
    j=0.4) and keeps P(catch | j ≥ t) ≥ R.  The default budget is 96,
    NOT higher, for two measured reasons (sf1.0, r12): the signature
    min-agg must stay under Spark's whole-stage-codegen field limit
    (spark.sql.codegen.maxFields = 100 — at 120 hash columns the
    aggregate falls back to interpreted eval and the signature pass
    5x'd), and a 64-budget r=3 config under-filters (P(cand | j=0.5)
    = 0.82 floods the verify join: 45s vs 8s warm).  Pins are never
    overridden.

    **Hot-bucket guard (on by default; ``max_bucket_rows=None``
    disables it).**  A pathological shingle set (thousands of
    near-identical docs sharing one band signature) makes one bucket
    quadratic — |bucket|²/2 candidates — which no banding choice can
    bound.  Buckets over ``max_bucket_rows`` degrade to O(|bucket|)
    candidates: STAR pairs (every member vs the bucket's min id) plus
    CHAIN pairs linking neighbors in (first-minhash, id) order, so
    equal-h0 near-duplicate strata stay path-connected even when they
    don't verify against the star root.  This is an approximation with
    honest limits: above the cap the output is NOT the full
    exact-Jaccard pair set, and a hot-bucket member keeps its
    component in :class:`MinHashDedup` only if its star or chain edge
    (or a co-occurrence in a healthy bucket) survives exact
    verification — a mixed-similarity hot bucket can drop true
    ≥threshold pairs.  For strict exact-pairs parity (oracle
    registrations, corpora with known duplicate groups larger than the
    cap) pass ``max_bucket_rows=None`` and accept the quadratic
    bucket.

    **Auto shuffle sizing (auto mode only).**  One corpus count sizes
    the band-bucket/verify shuffle width at ⌈N /
    ``target_partition_docs``⌉ partitions (floored at the session's
    ``spark.sql.shuffle.partitions``, capped 2048): at sf10 the
    session's 32 partitions put ~16k docs' shingle arrays in every
    sort-merge task, past the spill line; 4k docs/partition holds the
    per-task working set flat as N grows.  The input is persisted
    before counting (it feeds the signature and both verify subtrees
    anyway — the count materializes the cache instead of running a
    composed upstream twice; CosineLSHJoin.transform discipline).
    """

    def __init__(
        self,
        input: str,
        output: str | None = None,
        *,
        id_col: str = "doc_id",
        text_col: str = "text",
        k: int = 3,
        threshold: float = 0.8,
        num_hashes: int | None = 32,
        rows_per_band: int | None = 2,
        target_recall: float = 0.9999,
        max_hashes: int = 96,
        max_bucket_rows: int | None = 5000,
        target_partition_docs: int = 4096,
        label: str | None = None,
    ):
        if num_hashes is not None and rows_per_band is not None and (
            num_hashes % rows_per_band
        ):
            raise ValueError("num_hashes must be divisible by rows_per_band")
        if (num_hashes is None) != (rows_per_band is None):
            raise ValueError(
                "num_hashes and rows_per_band must be pinned together or "
                "both None (auto resolves the pair from the S-curve; "
                "pinning one alone leaves the band count unconstrained)"
            )
        if not 0.0 < target_recall < 1.0:
            raise ValueError(
                f"target_recall={target_recall} must be in (0, 1): the "
                "S-curve solve takes log(1-recall); for recall-1 intent pin "
                "num_hashes/rows_per_band explicitly"
            )
        if not 0.0 < threshold <= 1.0:
            raise ValueError("threshold must be in (0, 1]")
        self.input = input
        self.output = output or input
        self.id_col = id_col
        self.text_col = text_col
        self.k = k
        self.threshold = threshold
        self.num_hashes = num_hashes
        self.rows_per_band = rows_per_band
        self.target_recall = float(target_recall)
        self.max_hashes = int(max_hashes)
        self.max_bucket_rows = (
            None if max_bucket_rows is None else int(max_bucket_rows)
        )
        self.target_partition_docs = int(target_partition_docs)
        self.label = label

    def _resolve(self) -> tuple[int, int]:
        """(num_hashes, rows_per_band) with the auto (None) defaults
        resolved from the threshold's S-curve — pure math, no data
        pass (unlike CosineLSHJoin's bits, the band keyspace is a full
        64-bit hash, so occupancy is driven by TRUE signature
        collisions, not corpus size).  Explicit pins are never
        overridden."""
        import math

        if self.rows_per_band is not None:
            return int(self.num_hashes), int(self.rows_per_band)
        t = min(self.threshold, 0.999999)
        log_miss = math.log(1.0 - self.target_recall)
        best = None
        # cost b·r is NOT monotone in r (≈ c·r/t^r dips then climbs),
        # so scan the whole range and keep the sharpest fit
        for r in range(1, 17):
            p = t ** r
            if not 0.0 < p < 1.0:
                continue
            b = max(1, math.ceil(log_miss / math.log(1.0 - p)))
            if b * r <= self.max_hashes:
                best = (b * r, r)
        if best is None:
            raise ValueError(
                f"threshold={self.threshold} cannot hold recall "
                f"{self.target_recall} within max_hashes={self.max_hashes} "
                f"at any rows_per_band in [1, 16] — lower target_recall, "
                f"raise max_hashes, or pin num_hashes/rows_per_band "
                f"explicitly"
            )
        return best

    def _doc_shingles(self, df: DataFrame) -> DataFrame:
        """(id, sh: array<string>) — distinct shingle set per doc, no
        explode/shuffle; the one subtree both the signature and the
        verify paths hang off."""
        slim = _spread(
            df.select(F.col(self.id_col).alias("id"), F.col(self.text_col).alias("__text"))
        )
        toks = slim.select("id", TXT.tokens("__text").alias("__toks"))
        return toks.select(
            "id", TXT.shingles_of_tokens(F.col("__toks"), self.k).alias("sh")
        )

    #: Mersenne prime 2^31 - 1: (a*h + b) stays under 2^62 — no long
    #: overflow under ANSI mode
    _P = (1 << 31) - 1

    def signatures(self, df: DataFrame) -> DataFrame:
        """(id, h0..h{n-1}) — one shuffle (groupBy id), min-agg per seed."""
        num_hashes, _ = self._resolve()
        return self._signatures_from_shingles(self._doc_shingles(df), num_hashes)

    def _signatures_from_shingles(
        self, doc_sh: DataFrame, num_hashes: int
    ) -> DataFrame:
        """Signature frame off an existing (id, sh) shingle frame — the
        transform path hands in its (persisted, in auto mode) shingle
        subtree so tokenization isn't re-derived per consumer.

        Each shingle is string-hashed ONCE (xxhash64); the n min-hash
        "permutations" are modular linear transforms a_i*h + b_i mod
        (2^31-1) of that one hash — the standard MinHash family (same
        as Spark MLlib's MinHashLSH).  Per posting: 1 string hash + n
        long mul/add/mod in codegen, ~n× cheaper than re-hashing the
        string per seed.  The LSH output needs no cross-engine hash
        parity — candidates are verified with exact Jaccard, so the
        hash only affects recall, not correctness."""
        import random

        postings = doc_sh.select("id", F.explode("sh").alias("shingle")).select(
            "id", F.pmod(F.xxhash64("shingle"), F.lit(self._P)).alias("__h")
        )
        rng = random.Random(97)
        coeffs = [
            (rng.randrange(1, self._P), rng.randrange(0, self._P))
            for _ in range(num_hashes)
        ]
        # ONE parsed named_struct of all n min-aggs instead of n
        # Column trees built through individual py4j calls (r14, the
        # const_double_array discipline): the 72-agg auto config cost
        # ~0.6 s of DRIVER time per query build the parser does in
        # ~0.06 s — and the bench (build + count per run) pays that
        # build on every run.  Values bit-identical: same bigint
        # pmod(a*h+b, P) arithmetic, literals parsed as the same longs.
        se = "named_struct(" + ", ".join(
            f"'h{i}', min(pmod({a}L * __h + {b}L, {self._P}L))"
            for i, (a, b) in enumerate(coeffs)
        ) + ")"
        return (
            postings.groupBy("id")
            .agg(F.expr(se).alias("__sig"))
            .select("id", "__sig.*")
        )

    def transform(self, flow: Flow) -> Flow:
        from pyspark.sql import Window

        df = flow[self.input]
        num_hashes, rows_per_band = self._resolve()
        auto = self.rows_per_band is None
        n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        if auto:
            # Scan rebalance: a corpus written as ONE parquet row group
            # (this repo's documents.parquet at every SF) gives Spark
            # byte-range splits that collapse to a single non-empty
            # task — scan, tokenize, shingle, AND the persist below all
            # run single-threaded, and every later pass reads the
            # 1-partition cache.  spread() (row-group aware since r13)
            # detects the concentration from the parquet footer and
            # repartitions only then — when the flow already shuffled
            # upstream (e.g. a registry-level spread()) this is a no-op
            # instead of a second exchange.
            df = _spread(df)
        doc_sh = self._doc_shingles(df)
        if auto:
            # shared three ways (signature postings + both verify
            # sides) AND counted for sizing: persist so the count
            # materializes the cache every consumer then reads, instead
            # of running tokenization 3x / a composed upstream 4x
            # (CosineLSHJoin discipline).
            # History: the PINNED path does not persist — the lazy
            # cache WRITE of the shingle-set frame, the widest in the
            # plan, lands on the first consumer's critical path.  r14
            # measured it with array<string> shingles
            # (dedup_minhash_clusters 2.6 s → 3.7 s at sf0.1), and
            # again with the narrower int64 shingle hashes (since
            # reverted) in plans/r15/minhash_pin_ab.jsonl: warm-min
            # without the persist 2.943 s vs 3.462 s with it on
            # dedup_minhash_clusters, 2.313 s vs 2.471 s on
            # dedup_minhash_lsh.
            doc_sh = _pin(doc_sh)
            n_docs = doc_sh.count()
            n_part = min(
                2048, max(n_part, -(-n_docs // self.target_partition_docs))
            )
        sig = self._signatures_from_shingles(doc_sh, num_hashes)
        n_bands = num_hashes // rows_per_band
        # one LONG key per band: xxhash64(band, row hashes...) — integer
        # shuffle/join keys; a (vanishingly rare) 64-bit collision only
        # adds a candidate, which exact verification then rejects
        # one parsed array literal (see the signature named_struct
        # note): SQL int literals hash identically to F.lit(int)
        band_keys = F.expr(
            "array(" + ",".join(
                "xxhash64(" + ",".join(
                    [str(b)]
                    + [f"h{b * rows_per_band + r}" for r in range(rows_per_band)]
                ) + ")"
                for b in range(n_bands)
            ) + ")"
        )
        # ONE explicit exchange on bk (at the auto-sized width) feeds
        # the hot-bucket window AND pre-satisfies the self-join's
        # distribution — the window's partitionBy and both join sides
        # reuse it instead of shuffling again
        buckets = sig.select(
            F.col("id"), F.col("h0").alias("__s0"), F.explode(band_keys).alias("bk")
        )
        buckets = buckets.repartition(n_part, "bk")
        if self.max_bucket_rows is None:
            # guard disabled (oracle-parity / pinned registrations):
            # the FULL same-bucket pair set, quadratic in the largest
            # bucket by explicit caller choice
            ba, bb = buckets.alias("a"), buckets.alias("b")
            candidates = (
                ba.join(
                    bb,
                    (F.col("a.bk") == F.col("b.bk")) & (F.col("a.id") < F.col("b.id")),
                )
                .select(F.col("a.id").alias("d1"), F.col("b.id").alias("d2"))
                .distinct()
            )
        else:
            w = Window.partitionBy("bk")
            marked = buckets.withColumn(
                "__n", F.count(F.lit(1)).over(w)
            ).withColumn("__root", F.min("id").over(w))
            healthy = marked.filter(F.col("__n") <= self.max_bucket_rows).select(
                "id", "bk"
            )
            hot = marked.filter(F.col("__n") > self.max_bucket_rows)
            # hot-bucket guard: oversized buckets degrade to O(|bucket|)
            # candidates — STAR pairs (member, bucket-min; root =
            # min(id) so d1 < d2 by construction) plus CHAIN pairs
            # linking neighbors in (h0, id) order.  Equal first-minhash
            # strata are near-duplicate subgroups, so the chain gives
            # every subgroup a verifiable path even when its members
            # don't verify against the star root (a mixed-similarity
            # hot bucket); connectivity is still only guaranteed for
            # members whose star or chain edge passes exact
            # verification — the full |bucket|²/2 set is intentionally
            # NOT materialized (it is the quadratic being guarded
            # against).
            # star + chain from ONE windowed pass (a single hot subtree
            # in the plan — the lead() sort rides the same bk
            # partitioning as the count/min window): explode both pair
            # shapes per member, drop the degenerate rows (root's own
            # star = (root,root); the last member's chain has a null
            # next)
            chain_w = Window.partitionBy("bk").orderBy("__s0", "id")
            hot_pairs = (
                hot.withColumn("__next", F.lead("id").over(chain_w))
                .select(
                    F.explode(
                        F.array(
                            F.struct(
                                F.col("__root").alias("d1"),
                                F.col("id").alias("d2"),
                            ),
                            F.struct(
                                F.least("id", "__next").alias("d1"),
                                F.greatest("id", "__next").alias("d2"),
                            ),
                        )
                    ).alias("__p")
                )
                .select("__p.d1", "__p.d2")
                .filter(
                    F.col("d1").isNotNull()
                    & F.col("d2").isNotNull()
                    & (F.col("d1") != F.col("d2"))
                )
            )
            ba, bb = healthy.alias("a"), healthy.alias("b")
            candidates = (
                ba.join(
                    bb,
                    (F.col("a.bk") == F.col("b.bk")) & (F.col("a.id") < F.col("b.id")),
                )
                .select(F.col("a.id").alias("d1"), F.col("b.id").alias("d2"))
                .unionByName(hot_pairs)
                .distinct()
            )
        # verify with exact jaccard on the two shingle SETS — candidates
        # are few, so per-pair array_intersect beats re-deriving an
        # inverted-index join (half the plan, no second postings pass).
        # Explicit widths on both verify exchanges: the frames carry
        # full shingle arrays, the sf10 spill surface
        s1 = doc_sh.select(F.col("id").alias("d1"), F.col("sh").alias("__s1"))
        s2 = doc_sh.select(F.col("id").alias("d2"), F.col("sh").alias("__s2"))
        out = (
            candidates.repartition(n_part, "d1")
            .join(s1, "d1")
            .repartition(n_part, "d2")
            .join(s2, "d2")
            .withColumn("__c", F.size(F.array_intersect("__s1", "__s2")))
            # int/int double division — bit-identical to the oracle
            .withColumn(
                "jaccard",
                F.col("__c") / (F.size("__s1") + F.size("__s2") - F.col("__c")),
            )
            .filter(F.col("jaccard") >= self.threshold)
            .select("d1", "d2", "jaccard")
        )
        return flow.without(self.input).with_stream(self.output, out)

    def input_names(self) -> Sequence[str]:
        return (self.input,)

    def output_names(self) -> Sequence[str]:
        return (self.output,)


class MinHashDedup(Component):
    """Cluster-level near-dup dedup over the VERIFIED MinHash-LSH pair
    graph: one ``(id, keep_id)`` row per distinct input doc,
    ``keep_id`` = the minimum doc id of the doc's connected component
    in the exact-Jaccard >= threshold graph.  Docs in no near-dup pair
    keep themselves.

    Precision contrast with :class:`SimHashDedup`: that operator
    merges components of the *bucket* graph (a pigeonhole superset —
    unrelated docs sharing one block can over-merge), while this one
    merges only pairs that PASSED exact Jaccard verification, so every
    merge is a true near-dup at the threshold.  The price is that the
    verified pair set is materialized — bounded by the corpus's
    physical near-dup density, not by bucket collisions, but still
    O(cluster²) for a cluster of c mutual near-dups.  For corpora with
    pathological duplication (thousands of identical copies), run
    :class:`ExactDedup` first to collapse identical docs, or use
    :class:`SimHashDedup` (label propagation over buckets, never
    materializes pairs).

    Components come from :class:`~strom_spark.operators.graph.
    ConnectedComponents` min-label propagation: per round the static
    symmetric edge table is persisted partitioned on the join key and
    only node-sized label state shuffles; pointer jumping converges in
    O(log diameter) rounds (near-dup components are shallow — the
    graph is dense inside a cluster).

    Reference parity: cluster-representative dedup (keep the minimum
    id) — the reference's dedup flows compose pair generation with a
    grouping stage (SURVEY §2.3 routing/group rows); here the grouping
    is transitive closure, the semantics a user actually wants from
    "dedup this corpus by near-duplicate clusters".
    """

    def __init__(
        self,
        input: str,
        output: str | None = None,
        *,
        id_col: str = "doc_id",
        text_col: str = "text",
        k: int = 3,
        threshold: float = 0.8,
        num_hashes: int | None = 32,
        rows_per_band: int | None = 2,
        target_recall: float = 0.9999,
        max_iterations: int = 30,
        label: str | None = None,
    ):
        self.input = input
        self.output = output or input
        self.id_col = id_col
        self.text_col = text_col
        self.k = k
        self.threshold = threshold
        self.num_hashes = num_hashes
        self.rows_per_band = rows_per_band
        self.target_recall = float(target_recall)
        self.max_iterations = int(max_iterations)
        self.label = label

    def transform(self, flow: Flow) -> Flow:
        from .graph import ConnectedComponents

        df = flow[self.input]
        pairs = MinHashLSHPairs(
            "__docs",
            "__pairs",
            id_col=self.id_col,
            text_col=self.text_col,
            k=self.k,
            threshold=self.threshold,
            num_hashes=self.num_hashes,
            rows_per_band=self.rows_per_band,
            target_recall=self.target_recall,
        )(Flow({"__docs": df}))["__pairs"]
        comp = ConnectedComponents(
            "__edges", "__cc", max_iterations=self.max_iterations
        )(
            Flow(
                {
                    "__edges": pairs.select(
                        F.col("d1").alias("src"), F.col("d2").alias("dst")
                    )
                }
            )
        )["__cc"]
        # universe = every distinct input id; isolated docs (no verified
        # near-dup pair) are their own representatives
        ids = df.select(F.col(self.id_col).alias("id")).distinct()
        out = ids.join(
            comp.select(F.col("node").alias("id"), F.col("component")),
            "id",
            "left",
        ).select("id", F.coalesce("component", F.col("id")).alias("keep_id"))
        return flow.without(self.input).with_stream(self.output, out)

    def input_names(self) -> Sequence[str]:
        return (self.input,)

    def output_names(self) -> Sequence[str]:
        return (self.output,)


def _simhash_bit_cond(j: int):
    """Per-token condition for signature bit j (1-based, MSB-first).
    Bits 1..32 use the high bit of md5 hex digit j (>= '8'); bits
    33..64 use the second bit (digit in [4-7c-f]) of digit j-32 — two
    independent bits per digit, 64 total from one md5."""
    if j <= 32:
        return F.substring("__h", j, 1) >= "8"
    return F.substring("__h", j - 32, 1).isin(*"4567cdef")


def _simhash_sig_int(df: DataFrame, id_col: str, text_col: str, bits: int = 32) -> DataFrame:
    """(id, sig bigint) via explode + single codegen'd hash aggregate.

    The naive per-row expression (bits × aggregate-lambda, each
    re-hashing every token) is ~50× slower: higher-order functions are
    interpreted and defeat common-subexpression elimination.  Here md5
    runs once per token, then ``bits`` conditional sums ride one hash
    aggregate — one shuffle on the doc id, whole-stage codegen
    throughout.  The signature packs into a single bigint (bit j,
    MSB-first at position bits-j) so downstream Hamming distance is one
    ``bit_count(a ^ b)`` and block extraction is shift+mask — all
    integer codegen, no string ops.  ``bits=64`` doubles block width in
    SimHashPairs (fewer bucket collisions on heavily-colliding
    corpora, SCALE.md)."""
    if bits not in (32, 64):
        raise ValueError("bits must be 32 or 64")
    slim = _spread(df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text")))
    toks = slim.select(
        "id", F.explode(TXT.tokens("__text")).alias("tok")
    ).withColumn("__h", F.md5("tok"))
    bit_aggs = [
        (F.sum(F.when(_simhash_bit_cond(j), 1).otherwise(0)) * 2 > F.count("*"))
        .cast("long")
        .alias(f"__b{j}")
        for j in range(1, bits + 1)
    ]
    sig = toks.groupBy("id").agg(*bit_aggs)
    from functools import reduce

    # shiftleft-OR packing: bit 1 lands on the sign bit for bits=64,
    # which plain arithmetic (×2^63) cannot express in a signed long
    packed = reduce(
        lambda a, b: a.bitwiseOR(b),
        [F.shiftleft(F.col(f"__b{j}"), bits - j) for j in range(1, bits + 1)],
    )
    return sig.select("id", packed.alias("sig"))


def _simhash_sig(df: DataFrame, id_col: str, text_col: str, bits: int = 32) -> DataFrame:
    """(id, simhash) — the bit-string form (oracle-portable)."""
    return _simhash_sig_int(df, id_col, text_col, bits).select(
        "id", F.lpad(F.bin("sig"), bits, "0").alias("simhash")
    )


class SimHash(Component):
    """Per-document 32-bit SimHash bit-string: (id, simhash)."""

    def __init__(
        self,
        input: str,
        output: str | None = None,
        *,
        id_col: str = "doc_id",
        text_col: str = "text",
        label: str | None = None,
    ):
        self.input = input
        self.output = output or input
        self.id_col = id_col
        self.text_col = text_col
        self.label = label

    def transform(self, flow: Flow) -> Flow:
        out = _simhash_sig(flow[self.input], self.id_col, self.text_col)
        return flow.without(self.input).with_stream(self.output, out)

    def input_names(self) -> Sequence[str]:
        return (self.input,)

    def output_names(self) -> Sequence[str]:
        return (self.output,)


class SimHashPairs(Component):
    """Pairs within Hamming distance <= ``max_distance`` of
    ``bits``-bit SimHash.  Block-split candidate generation (exact
    recall by pigeonhole: distance <= d => some block of d+1 is
    identical), then exact Hamming verification (``functions/hamming.py``).
    Candidate join shuffles on one integer key per (block index, block
    bits) — distributed, never all-pairs.
    ``bits=64`` doubles block width — fewer bucket collisions when many
    documents share signature prefixes (the scale knob, SCALE.md)."""

    def __init__(
        self,
        input: str,
        output: str | None = None,
        *,
        id_col: str = "doc_id",
        text_col: str = "text",
        max_distance: int = 3,
        bits: int = 32,
        label: str | None = None,
    ):
        H.validate_blocks(max_distance, bits)
        self.input = input
        self.output = output or input
        self.id_col = id_col
        self.text_col = text_col
        self.max_distance = max_distance
        self.bits = bits
        self.label = label

    def transform(self, flow: Flow) -> Flow:
        df = flow[self.input]
        bits = self.bits
        # the (id, sig) frame feeds BOTH sides of the block self-join;
        # without a pin each side re-runs the tokenize+hash+bit-agg
        # signature pipeline (r14, the shared-lineage rule — the plan
        # showed the documents scan and both Generates twice).  Two
        # longs per doc, the cheapest cache in the family.
        sig = (
            _simhash_sig_int(df, self.id_col, self.text_col, bits)
            .transform(_pin)
        )
        out = H.near_pairs(sig, self.max_distance, bits).select(
            F.col("id_a").alias("d1"),
            F.col("id_b").alias("d2"),
            F.col("distance").alias("hamming"),
        )
        return flow.without(self.input).with_stream(self.output, out)

    def input_names(self) -> Sequence[str]:
        return (self.input,)

    def output_names(self) -> Sequence[str]:
        return (self.output,)


class SimHashDedup(Component):
    """Cluster-level near-dup dedup: one (id, keep_id) row per doc,
    keep_id = min id of the doc's connected component in the
    share-a-simhash-block graph.

    Why not SimHashPairs + group?  With heavy duplication the pair set
    is O(cluster²) — measured: 50k docs with 10× duplication produce
    ~98M pairs.  Dedup only needs the component representative, so this
    operator propagates min-labels over the bipartite doc→block-bucket
    graph to a fixpoint: per iteration two hash-shuffles (bucket min,
    doc min), state linear in docs+buckets, pairs never materialized.
    Driver-side fixpoint loop = the reference's Loop pattern
    (``lib/loop.ex``, SURVEY §7.3) with lineage truncated per round.

    Semantics: components of the *bucket* graph — a superset of the
    hamming<=d graph (pigeonhole guarantees every true near-dup pair
    shares a block; unrelated docs sharing one block may over-merge —
    the standard web-scale tradeoff; widen with ``bits=64`` for
    precision).
    """

    def __init__(
        self,
        input: str,
        output: str | None = None,
        *,
        id_col: str = "doc_id",
        text_col: str = "text",
        max_distance: int = 3,
        bits: int = 32,
        max_iterations: int = 15,
        label: str | None = None,
    ):
        H.validate_blocks(max_distance, bits)
        self.input = input
        self.output = output or input
        self.id_col = id_col
        self.text_col = text_col
        self.max_distance = max_distance
        self.bits = bits
        self.max_iterations = max_iterations
        self.label = label

    def transform(self, flow: Flow) -> Flow:
        df = flow[self.input]
        bits = self.bits
        sig = _simhash_sig_int(df, self.id_col, self.text_col, bits)
        keys = H.block_keys(F.col("sig"), self.max_distance, bits)
        edges = sig.select("id", F.explode(F.array(*keys)).alias("bk"))
        probe_loop_plan("SimHashDedup/setup", edges)
        # the doc→block edge table is static and each round joins it
        # twice (labels on id, bucket minima on bk).  Checkpoint it once
        # so no round re-runs the upstream simhash signature pipeline;
        # the one copy serves both joins (a persisted copy partitioned
        # per join key measured slower up to 250k edges at sf1.0; see
        # the SimHashDedup A/B in SCALE.md).
        edges = _cut(edges)
        labels = (
            edges.select("id").distinct().select("id", F.col("id").alias("lab"))
        )
        # labels only ever decrease, so sum(lab) is a monotone potential:
        # unchanged sum == fixpoint.  One tiny agg per round instead of a
        # join+count change detector.
        prev_sum = None
        for _ in range(self.max_iterations):
            bmin = edges.join(labels, "id").groupBy("bk").agg(
                F.min("lab").alias("bmin")
            )
            doc_min = edges.join(bmin, "bk").groupBy("id").agg(
                F.min("bmin").alias("nlab")
            )
            labels = labels.join(doc_min, "id", "left").select(
                "id", F.least("lab", F.coalesce("nlab", "lab")).alias("lab")
            )
            probe_loop_plan("SimHashDedup/round", labels)
            labels = _cut(labels)  # truncate lineage per round
            cur_sum = labels.agg(F.sum("lab")).collect()[0][0]
            if cur_sum == prev_sum:
                break
            prev_sum = cur_sum
        out = labels.select(F.col("id"), F.col("lab").alias("keep_id"))
        return flow.without(self.input).with_stream(self.output, out)

    def input_names(self) -> Sequence[str]:
        return (self.input,)

    def output_names(self) -> Sequence[str]:
        return (self.output,)


class EmbeddingNearDupPairs(Component):
    """Cosine near-duplicate pairs over an embedding column — exact
    all-pairs via blocked matrix multiply.

    One side is collected+broadcast as a normalized float64 matrix;
    ``mapInPandas`` streams corpus blocks and computes block × matrixᵀ
    with numpy GEMM — vectorized, no pair materialization, linear scan
    of the corpus.  Batch-only: the guard count and the collect need
    the whole corpus at build time.

    The broadcast side is GUARDED: a cheap count first, and above
    ``max_broadcast_rows`` the broadcast side is hash-TILED — each tile
    is collected/broadcast on its own and scanned against the full
    corpus, so driver and executor memory are bounded by one tile
    regardless of corpus size (classic blocked all-pairs GEMM; total
    work is the same O(n²) dot products, n_tiles corpus scans).  Every
    (d1 < d2) pair lands in exactly the tile owning d2 — no cross-tile
    duplicates, no distinct shuffle.

    **This op is exact-by-design and therefore O(N²) COMPUTE at any
    tiling** — above ``max_broadcast_rows`` (the documented corpus
    bound) the DEFAULT is now ``on_overflow='error'``: tiling bounds
    *memory*, not *work*, so a 100 TB pipeline must switch to the
    sub-quadratic ``similarity.CosineLSHJoin`` (bucketed, oracle-
    replayable in portable mode) or ``SemDeDup`` (cluster-blocked)
    above the bound.  Pass ``on_overflow='tile'`` explicitly to accept
    the quadratic cost (recall-measurement runs, bounded backfills).
    """

    def __init__(
        self,
        input: str,
        output: str | None = None,
        *,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        threshold: float = 0.95,
        max_broadcast_rows: int = 2_000_000,
        on_overflow: str = "error",
        label: str | None = None,
    ):
        if on_overflow not in ("tile", "error"):
            raise ValueError("on_overflow must be 'tile' or 'error'")
        self.input = input
        self.output = output or input
        self.id_col = id_col
        self.vec_col = vec_col
        self.threshold = threshold
        self.max_broadcast_rows = max_broadcast_rows
        self.on_overflow = on_overflow
        self.label = label

    def _gemm_one(self, slim: DataFrame, side: DataFrame) -> DataFrame:
        """Full-corpus scan (``slim``) against one collected+broadcast
        side; emits (d1 < d2) pairs where d2 is on the broadcast side."""
        import numpy as np
        import pandas as pd

        pdf = side.toPandas()
        if pdf.empty:
            # a hash tile can come up empty (small overflow counts /
            # skewed ids); np.stack on an empty list would raise
            return slim.sparkSession.createDataFrame(
                [], "d1 bigint, d2 bigint, cosine double"
            )
        ids_all = pdf["id"].to_numpy()
        M = np.stack(pdf["v"].to_list()).astype("float64")
        M /= np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-30)
        bc = slim.sparkSession.sparkContext.broadcast((ids_all, M))
        threshold = self.threshold

        def block(batches):
            b_ids, b_M = bc.value
            for batch in batches:
                ids = batch["id"].to_numpy()
                B = np.stack(batch["v"].to_list()).astype("float64")
                B /= np.maximum(np.linalg.norm(B, axis=1, keepdims=True), 1e-30)
                S = np.round(B @ b_M.T, 6)
                ii, jj = np.nonzero(S >= threshold)
                keep = ids[ii] < b_ids[jj]
                if keep.any():
                    yield pd.DataFrame(
                        {
                            "d1": ids[ii][keep],
                            "d2": b_ids[jj][keep],
                            "cosine": S[ii, jj][keep],
                        }
                    )

        return slim.mapInPandas(block, schema="d1 bigint, d2 bigint, cosine double")

    def _gemm(self, df: DataFrame) -> DataFrame:
        from functools import reduce

        slim = df.select(
            F.col(self.id_col).cast("bigint").alias("id"),
            F.col(self.vec_col).cast("array<double>").alias("v"),
        )
        n = slim.count()  # cheap guard: one count agg before any collect
        if n <= self.max_broadcast_rows:
            return self._gemm_one(slim, slim)
        if self.on_overflow == "error":
            raise ValueError(
                f"EmbeddingNearDupPairs: corpus has {n} vectors > "
                f"max_broadcast_rows={self.max_broadcast_rows}; use "
                "on_overflow='tile' or the sub-quadratic CosineLSHJoin"
            )
        n_tiles = -(-n // self.max_broadcast_rows)  # ceil division
        tiled = slim.withColumn(
            "__tile", F.pmod(F.xxhash64("id"), F.lit(n_tiles)).cast("int")
        )
        # one localCheckpoint so the n_tiles collects + n_tiles corpus
        # scans reuse a materialized slim instead of re-reading source
        tiled = _cut(tiled)
        parts = [
            self._gemm_one(
                tiled.drop("__tile"),
                tiled.filter(F.col("__tile") == t).drop("__tile"),
            )
            for t in range(n_tiles)
        ]
        return reduce(lambda a, b: a.unionAll(b), parts)

    def transform(self, flow: Flow) -> Flow:
        from ..component import require_batch

        df = flow[self.input]
        require_batch(
            df,
            "EmbeddingNearDupPairs",
            "the guard count and the broadcast collect need the whole corpus",
        )
        out = self._gemm(df)
        return flow.without(self.input).with_stream(self.output, out)

    def input_names(self) -> Sequence[str]:
        return (self.input,)

    def output_names(self) -> Sequence[str]:
        return (self.output,)


class Decontaminate(Component):
    """Cross-corpus n-gram DECONTAMINATION — the canonical pre-training
    step: flag (or drop) every training document that shares at least
    ``min_overlap`` distinct k-word shingles with ANY document of an
    evaluation/benchmark corpus, so eval answers don't leak into
    training data.

    Lowering (linear, no pair materialization):

      1. distinct (doc, shingle) postings of the TRAIN side (the same
         inverted-index unit NgramJaccardPairs uses);
      2. the DISTINCT shingle set of the EVAL side — eval identity is
         irrelevant, only membership, so the join side collapses to
         one row per unique eval shingle;
      3. equi-join postings x eval-shingles on the shingle and count
         per train doc.  Because the eval set is distinct, each train
         posting matches AT MOST ONCE — join output is bounded by the
         train posting count, never quadratic;
      4. ``mode='flag'``: all train columns + ``n_contaminated`` +
         ``contaminated``; ``mode='drop'``: contaminated docs removed.

    No forced broadcast on the eval side (a benchmark suite is usually
    tiny, but "usually" is not a bound) — AQE broadcasts it when
    runtime stats allow.  At 100 TB the train side shuffles once on
    the shingle key and once on the doc id, both high-cardinality.

    STREAMING: a streaming TRAIN side lowers to a narrow per-row
    filter instead — the contamination decision is row-local once
    eval-shingle membership is known (a doc's count of distinct
    shingles hitting the eval set needs no cross-doc state), so the
    DISTINCT eval shingle set (eval must be batch; bounded by
    ``max_broadcast_shingles``) is collected once, broadcast, and an
    Arrow-batched pandas UDF counts membership over each doc's
    shingle array.  Zero shuffle, zero streaming state — every
    delivery mode Structured Streaming has is legal.  The shingle
    array itself is built by the SAME Column expressions as the batch
    postings, so the two lowerings agree exactly
    (differentially tested in tests/test_streaming.py).

    Broadcast lifetime: the eval-shingle set is FROZEN at
    plan-construction time — a restarted stream re-runs transform and
    re-collects it, but a long-RUNNING query never sees eval-side
    changes (restart to pick them up).  The broadcast variable lives
    as long as the plan that references it; it is deliberately not
    destroyed on query termination (the lazily-executed plan may be
    re-triggered), so a long-lived session instantiating MANY
    Decontaminate components accumulates one eval-set broadcast per
    instantiation — reuse the component/plan, or call
    ``spark.sparkContext._jsc.sc().cleaner()``-driven GC by dropping
    references, rather than re-instantiating per micro-batch.  (Same
    contract for :class:`PhraseBlocklist`'s streaming phrase set.)
    """

    def __init__(
        self,
        train: str,
        eval: str,
        output: str,
        *,
        id_col: str = "doc_id",
        text_col: str = "text",
        eval_text_col: str | None = None,
        k: int = 3,
        min_overlap: int = 1,
        mode: str = "flag",
        max_broadcast_shingles: int = 1_000_000,
        label: str | None = None,
    ):
        if mode not in ("flag", "drop"):
            raise ValueError("mode must be 'flag' or 'drop'")
        if min_overlap < 1:
            raise ValueError("min_overlap must be >= 1")
        if max_broadcast_shingles < 1:
            raise ValueError("max_broadcast_shingles must be >= 1")
        self.train, self.eval, self.output = train, eval, output
        self.id_col = id_col
        self.text_col = text_col
        self.eval_text_col = eval_text_col or text_col
        self.k = int(k)
        self.min_overlap = int(min_overlap)
        self.mode = mode
        self.max_broadcast_shingles = int(max_broadcast_shingles)
        self.label = label

    def _eval_grams(self, ev: DataFrame) -> DataFrame:
        ev_slim = _spread(ev.select(F.col(self.eval_text_col).alias("__text")))
        ev_toks = ev_slim.select(TXT.tokens("__text").alias("__toks"))
        return (
            ev_toks.select(
                F.explode(
                    TXT.shingles_of_tokens(F.col("__toks"), self.k)
                ).alias("shingle")
            )
            .distinct()
        )

    def _transform_streaming(self, flow: Flow, train: DataFrame, ev: DataFrame) -> Flow:
        from ..component import require_batch

        require_batch(
            ev,
            "Decontaminate (eval side)",
            "the broadcast membership set is the full distinct eval "
            "shingle vocabulary",
        )
        shingles = [
            r[0]
            for r in self._eval_grams(ev)
            .limit(self.max_broadcast_shingles + 1)
            .collect()
        ]
        if len(shingles) > self.max_broadcast_shingles:
            raise ValueError(
                "Decontaminate: eval shingle set exceeds "
                f"max_broadcast_shingles={self.max_broadcast_shingles}; "
                "raise the bound or run the batch join lowering per "
                "micro-batch via streaming.control.transform_per_batch"
            )
        bset = train.sparkSession.sparkContext.broadcast(frozenset(shingles))
        min_overlap = self.min_overlap

        @F.pandas_udf("long")
        def _n_in_eval(arrs: pd.Series) -> pd.Series:
            s = bset.value
            return arrs.apply(
                lambda a: 0 if a is None else sum(1 for g in a if g in s)
            )

        # bind the token array to a real column before shingling (HOF
        # lambdas re-evaluate derived subtrees per element — see
        # shingles_of_tokens's docstring); shingles_of_tokens is
        # already distinct, matching the batch postings' unit set
        scored = (
            train.withColumn("__toks", TXT.tokens(self.text_col))
            .withColumn(
                "__n_raw",
                _n_in_eval(TXT.shingles_of_tokens(F.col("__toks"), self.k)),
            )
            .withColumn(
                # batch parity: the join lowering filters the overlap
                # agg to >= min_overlap BEFORE the left join, so
                # sub-threshold counts surface as 0 there — mirror that
                "n_contaminated",
                F.when(F.col("__n_raw") >= min_overlap, F.col("__n_raw"))
                .otherwise(F.lit(0))
                .cast("long"),
            )
            .drop("__toks", "__n_raw")
        )
        if self.mode == "drop":
            out = scored.filter(
                F.col("n_contaminated") < min_overlap
            ).drop("n_contaminated")
        else:
            out = scored.withColumn(
                "contaminated", F.col("n_contaminated") >= min_overlap
            )
        return flow.without(self.train, self.eval).with_stream(self.output, out)

    def transform(self, flow: Flow) -> Flow:
        train, ev = flow[self.train], flow[self.eval]
        # __toks/__n_raw are the streaming lowering's scratch columns:
        # withColumn would silently CLOBBER same-named train columns
        # there (the batch lowering preserves every train column), so
        # the clash check covers them for both lowerings.
        for reserved in ("n_contaminated", "contaminated", "__toks", "__n_raw"):
            if reserved in train.columns:
                raise ValueError(
                    f"Decontaminate: train column {reserved!r} clashes with an "
                    "output or scratch column — rename it first"
                )
        if train.isStreaming:
            return self._transform_streaming(flow, train, ev)
        postings = _shingle_postings(train, self.id_col, self.text_col, self.k)
        ev_grams = self._eval_grams(ev)
        overlap = (
            postings.join(ev_grams, "shingle")
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("n_contaminated"))
            .filter(F.col("n_contaminated") >= self.min_overlap)
        )
        if self.mode == "drop":
            out = train.join(
                overlap.select(F.col("id").alias(self.id_col)),
                self.id_col,
                "left_anti",
            )
        else:
            out = (
                train.join(
                    overlap.select(
                        F.col("id").alias(self.id_col), "n_contaminated"
                    ),
                    self.id_col,
                    "left",
                )
                .withColumn(
                    "n_contaminated", F.coalesce("n_contaminated", F.lit(0))
                )
                .withColumn("contaminated", F.col("n_contaminated") >= self.min_overlap)
            )
        return flow.without(self.train, self.eval).with_stream(self.output, out)

    def input_names(self) -> Sequence[str]:
        return (self.train, self.eval)

    def output_names(self) -> Sequence[str]:
        return (self.output,)


class LineDedup(Component):
    """Corpus-level LINE deduplication (the CCNet / RefinedWeb
    boilerplate-removal step): a line whose normalized (trimmed) form
    occurs in more than ``max_docs`` DISTINCT documents is boilerplate
    (navigation bars, cookie banners, license headers) and is removed
    from EVERY document; each document is re-assembled from its
    surviving lines in original order.  Documents whose lines are all
    boilerplate disappear from the output (CCNet drops them too).
    Blank lines are structural, never counted or dropped.

    Output: ``(id_col, text_col, n_kept, n_dropped)`` — the rebuilt
    text plus per-document audit counts.

    Lowering (no O(n²) anywhere):
      1. ``posexplode(split(text, sep))`` — a narrow fan-out carrying
         (doc, pos, line);
      2. line-frequency agg ``countDistinct(doc)`` keyed on the trimmed
         line — ONE shuffle, map-side partial agg, state bounded by
         distinct-line count;
      3. a LEFT join against the ``> max_docs`` tail marks dropped
         lines — the tail is tiny by construction (boilerplate
         repeats, that's what makes it boilerplate), AQE broadcasts it
         at runtime (repo hint doctrine: no forced broadcast on an
         SF-growing subtree);
      4. re-assembly AND audit counts come from ONE groupBy(doc) over
         the marked lines: an order-restoring
         ``array_sort(collect_list(struct(pos, line, dup)))`` filtered
         on the mark — the payload shuffles once, keyed on the doc id,
         and the input is scanned exactly TWICE (frequency pass +
         marked pass), not per-derived-aggregate.

    At 100 TB the frequency table is the only global state and it
    combines map-side; everything else is narrow or keyed on doc id.
    Reference analog: none (Strom has no corpus ops) — this is part of
    the training-data superset, next to Decontaminate above.
    """

    def __init__(
        self,
        input: str,
        output: str | None = None,
        *,
        id_col: str = "doc_id",
        text_col: str = "text",
        sep: str = "\n",
        max_docs: int = 4,
        label: str | None = None,
    ):
        if max_docs < 1:
            raise ValueError("max_docs must be >= 1")
        self.input = input
        self.output = output or input
        self.id_col = id_col
        self.text_col = text_col
        self.sep = sep
        self.max_docs = int(max_docs)
        self.label = label

    def transform(self, flow: Flow) -> Flow:
        from ..component import require_batch

        df = flow[self.input]
        require_batch(
            df, "LineDedup", "the line-frequency pass re-scans the corpus"
        )
        # \Q..\E: literal (non-regex) separator for Java's split
        sep_rx = "\\Q" + self.sep + "\\E"
        lines = df.filter(F.col(self.text_col).isNotNull()).select(
            F.col(self.id_col),
            F.posexplode(F.split(F.col(self.text_col), sep_rx)).alias(
                "pos", "line"
            ),
        )
        keyed = lines.withColumn("__k", F.trim(F.col("line")))
        frequent = (
            keyed.filter(F.col("__k") != "")
            .groupBy("__k")
            .agg(F.countDistinct(self.id_col).alias("__nd"))
            .filter(F.col("__nd") > self.max_docs)
            .select("__k")
        )
        marked = keyed.join(
            frequent.withColumn("__dup", F.lit(True)), "__k", "left"
        )
        ordered = F.array_sort(
            F.collect_list(
                F.struct(F.col("pos"), F.col("line"), F.col("__dup"))
            )
        )
        kept_arr = F.filter(ordered, lambda s: s["__dup"].isNull())
        out = (
            marked.groupBy(self.id_col)
            .agg(
                F.array_join(
                    F.transform(kept_arr, lambda s: s["line"]), self.sep
                ).alias(self.text_col),
                F.size(kept_arr).cast("bigint").alias("n_kept"),
                (F.count(F.lit(1)) - F.size(kept_arr))
                .cast("bigint")
                .alias("n_dropped"),
            )
            .filter(F.col("n_kept") > 0)
        )
        return flow.without(self.input).with_stream(self.output, out)

    def input_names(self) -> Sequence[str]:
        return (self.input,)

    def output_names(self) -> Sequence[str]:
        return (self.output,)


class SubstringDedup(Component):
    """EXACT SUBSTRING deduplication at token-window granularity — the
    corpus-level dedup of Lee et al. 2022 ("Deduplicating Training
    Data Makes Language Models Better"), which removes repeated spans
    WITHIN and ACROSS documents that document-level dedup (ExactDedup/
    MinHash) cannot see: licence headers pasted mid-document, quoted
    chunks, templated paragraphs.

    Semantics (keep-first): every ``k``-token window of the normalized
    token stream is an occurrence; a window string occurring more than
    once in the corpus is DUPLICATED; the FIRST occurrence in global
    ``(doc id, position)`` order is canonical and kept; every token
    position covered by a NON-canonical occurrence of a duplicated
    window is removed.  Documents rebuild from surviving tokens in
    order; fully-covered documents drop (LineDedup discipline).
    Output: ``(id_col, text_col, n_kept, n_dropped)``.

    Lowering (the Spark-first stand-in for Lee et al.'s suffix
    array — no suffix sorting, no O(n²)):
      1. one narrow pass builds per-doc token arrays; windows come
         from ``transform(sequence)`` + ``posexplode`` — (doc, pos,
         window) rows, n per corpus token;
      2. occurrences key on ``md5(window)`` (128-bit: collision odds
         are 2^-128-scale even at 10^12 windows, and the shuffle
         carries 32 hex chars instead of k tokens — the k× volume
         amplification is the whole reason Lee et al. needed suffix
         arrays, md5 keying is what makes the declarative form scale);
         ONE exchange computes both the occurrence count and the
         global first-occurrence rank (two window functions over the
         same partitioning);
      3. covered positions: non-canonical dup occurrences explode
         their k positions → distinct (doc, tokpos) — keyed shuffle;
      4. reassembly: position-exploded tokens LEFT ANTI join covered
         (doc, tokpos), then the LineDedup order-restoring
         ``array_sort(collect_list(struct(pos, tok)))`` groupBy(doc).

    State is linear in corpus tokens; every shuffle keys on
    (hash) / (doc, pos) / (doc) — no hot keys beyond genuinely viral
    substrings, which AQE skew-splits.  The dominant real-world viral
    source — a document repeated verbatim 10^5 times — is collapsed
    BEFORE the k-times window amplification by
    ``pre_collapse_exact_dups=True``: a doc-granular md5 collapse to
    the min-id representative, semantics-preserving by construction
    (copies with >= k tokens are fully covered by the
    representative's canonical windows and drop; shorter copies are
    windowless and re-expand verbatim; cross-group decisions are
    unchanged because every window a copy shares is also shared with
    its representative).  Reference analog: none (training-data
    superset, the span-level sibling of LineDedup).
    """

    def __init__(
        self,
        input: str,
        output: str | None = None,
        *,
        id_col: str = "doc_id",
        text_col: str = "text",
        k: int = 50,
        pre_collapse_exact_dups: bool = False,
        label: str | None = None,
    ):
        if k < 2:
            raise ValueError("k must be >= 2 (token window length)")
        self.input = input
        self.output = output or input
        self.id_col = id_col
        self.text_col = text_col
        self.k = int(k)
        self.pre_collapse_exact_dups = bool(pre_collapse_exact_dups)
        self.label = label

    def transform(self, flow: Flow) -> Flow:
        from pyspark.sql import Window

        from ..component import require_batch

        df = flow[self.input]
        require_batch(
            df, "SubstringDedup",
            "window occurrence counts and canonical ranks are "
            "full-corpus statistics",
        )
        k = self.k
        members = None
        if self.pre_collapse_exact_dups:
            # VIRAL-WINDOW PRE-PASS: the documented residual skew risk
            # of this operator is a window string with pathological
            # occurrence mass — in practice driven by exact-duplicate
            # DOCUMENTS (boilerplate pages repeated 10^5 times), whose
            # every window lands in ONE hot `partitionBy(__h)` window
            # partition AFTER the k-times token amplification.
            # Collapsing exact dups FIRST (one doc-granular md5-keyed
            # shuffle, before any amplification) is semantics-
            # preserving, not an approximation:
            #   * the min-id doc of each identical-text group is the
            #     group's first occurrence in global (id, pos) order,
            #     so it is canonical for every within-group window
            #     whether or not the copies are present;
            #   * every non-representative copy with >= k tokens has
            #     ALL positions covered by non-canonical occurrences
            #     of the representative's windows -> drops entirely;
            #   * copies with < k tokens have no windows -> survive
            #     unchanged;
            #   * cross-group decisions are unaffected: any window
            #     shared with a copy is also shared with the
            #     representative, so its duplicated-flag and canonical
            #     owner are identical with the copies removed.
            # The copies are re-expanded from these rules after the
            # core pass.  The hashed input is pinned: reps, tagged and
            # members all read it, and unpinned each would re-run the
            # input's whole lineage.
            grouped = _pin(
                df.filter(F.col(self.text_col).isNotNull()).select(
                    F.col(self.id_col),
                    F.col(self.text_col),
                    F.md5(F.col(self.text_col)).alias("__th"),
                )
            )
            reps = grouped.groupBy("__th").agg(
                F.min(self.id_col).alias("__rep")
            )
            tagged = grouped.join(reps, "__th")
            df = tagged.filter(F.col(self.id_col) == F.col("__rep")).select(
                self.id_col, self.text_col
            )
            members = tagged.filter(F.col(self.id_col) != F.col("__rep")).select(
                self.id_col, self.text_col
            )
        # PERSIST the tokenized corpus: it feeds BOTH the window pass
        # and the rebuild pass, and without the pin Catalyst plans each
        # consumer with its own copy of the ENTIRE upstream lineage —
        # in the curation_v5 composite that re-ran the full 22-shuffle
        # curation pipeline twice (45 exchanges → 28 with the pin).
        # MEMORY_AND_DISK: same materialization cost class as one
        # shuffle of the token arrays; Spark LRU evicts.
        toks = (
            df.filter(F.col(self.text_col).isNotNull())
            .select(
                F.col(self.id_col).alias("__id"),
                F.filter(
                    TXT.tokens(self.text_col), lambda x: x != F.lit("")
                ).alias("__w"),
            )
            .transform(_pin)
        )
        n = F.size("__w")
        win_arr = F.when(
            n >= F.lit(k),
            F.transform(
                F.sequence(F.lit(0), n - F.lit(k)),
                lambda p: F.md5(F.concat_ws(" ", F.slice("__w", p + 1, k))),
            ),
        ).otherwise(F.array().cast("array<string>"))
        occ = toks.select(
            "__id", F.posexplode(win_arr).alias("__p", "__h")
        )
        wh = Window.partitionBy("__h")
        marked = occ.select(
            "__id",
            "__p",
            F.count(F.lit(1)).over(wh).alias("__cnt"),
            F.row_number()
            .over(wh.orderBy("__id", "__p"))
            .alias("__rn"),
        )
        covered = (
            marked.filter((F.col("__cnt") > 1) & (F.col("__rn") > 1))
            .select(
                "__id",
                F.explode(
                    F.sequence(F.col("__p"), F.col("__p") + F.lit(k - 1))
                ).alias("__tp"),
            )
            .distinct()
        )
        # mark-and-aggregate (the LineDedup discipline): a LEFT join
        # marks covered tokens and ONE groupBy(doc) computes rebuilt
        # text + BOTH audit counts from the order-restored array — no
        # separate dropped-count aggregate, no second doc-keyed join
        pos_toks = toks.select(
            "__id", F.posexplode("__w").alias("__tp", "__tok")
        )
        marked_toks = pos_toks.join(
            covered.withColumn("__c", F.lit(True)), ["__id", "__tp"], "left"
        )
        ordered = F.array_sort(
            F.collect_list(F.struct("__tp", "__tok", "__c"))
        )
        kept_arr = F.filter(ordered, lambda s: s["__c"].isNull())
        rebuilt = (
            marked_toks.groupBy("__id")
            .agg(
                F.array_join(
                    F.transform(kept_arr, lambda s: s["__tok"]), " "
                ).alias(self.text_col),
                F.size(kept_arr).cast("bigint").alias("n_kept"),
                (F.count(F.lit(1)) - F.size(kept_arr))
                .cast("bigint")
                .alias("n_dropped"),
            )
            .filter(F.col("n_kept") > 0)
            .withColumnRenamed("__id", self.id_col)
        )
        if members is not None:
            # re-expand collapsed exact-dup copies: < k tokens ->
            # windowless, survive verbatim; >= k tokens -> fully
            # covered by the representative's canonical windows, drop
            mw = F.filter(
                TXT.tokens(self.text_col), lambda x: x != F.lit("")
            )
            short = (
                members.withColumn("__n", F.size(mw))
                .filter((F.col("__n") < k) & (F.col("__n") > 0))
                .select(
                    self.id_col,
                    F.array_join(mw, " ").alias(self.text_col),
                    F.col("__n").cast("bigint").alias("n_kept"),
                    F.lit(0).cast("bigint").alias("n_dropped"),
                )
            )
            rebuilt = rebuilt.unionByName(short)
        return flow.without(self.input).with_stream(self.output, rebuilt)

    def input_names(self) -> Sequence[str]:
        return (self.input,)

    def output_names(self) -> Sequence[str]:
        return (self.output,)


class PhraseBlocklist(Component):
    """Banned-phrase filtering against a PHRASE TABLE — the content
    compliance step of a release pipeline (slurs, titles under legal
    hold, known-bad boilerplate): flag or drop every document whose
    normalized text contains any blocklisted phrase as a whole-WORD
    sequence.

    Matching is exact word-boundary phrase matching on the normalized
    (lowercased, whitespace-collapsed) text — NOT substring LIKE over
    every (doc × phrase) pair, which is quadratic in exactly the way
    a 100 TB corpus can't pay.  Lowering: phrases normalize and group
    by word-length; for each distinct length L the docs explode their
    L-word shingles ONCE and equi-join the phrase set (AQE broadcasts
    a blocklist-sized side); matches aggregate per doc.  The only
    driver materialization is the DISTINCT PHRASE WORD-LENGTH set —
    bounded by the longest phrase, never by either table.

    ``mode='flag'`` appends ``n_blocklisted`` (distinct phrases
    matched) and ``blocked``; ``mode='drop'`` anti-joins the matched
    doc set away.  Reference analog: none (training-data superset,
    sibling of :class:`Decontaminate` — same inverted-match shape
    with a curated list standing in for the eval corpus).

    ADAPTIVE lowering: when the phrase table is small enough to be
    driver-known (``<= max_inline`` phrases, the typical curated
    blocklist), matching compiles to a pure Column predicate chain
    over the normalized text — ZERO extra scans, zero shuffle, and
    STREAM-legal, which also keeps composed pipelines narrow (the
    join lowering scans its input per distinct phrase length, which
    multiplies through a composed subtree).  Larger tables use the
    shingle-join lowering above.  Set ``max_inline=0`` to force the
    join path (the registered query does, so the oracle certifies
    the inverted lowering, not the predicate chain).

    STREAMING docs with a beyond-inline phrase table (round 7) lower
    the same way streaming :class:`Decontaminate` does: the normalized
    phrase set (bounded by ``max_broadcast_phrases``, typed error
    beyond — a blocklist is curated, not corpus-sized) is collected
    once, grouped by word length, broadcast, and per-doc distinct
    matches count in an Arrow-batched pandas UDF over the token
    array — no stream-side shuffle, no per-micro-batch phrase scan.
    Differential-tested against the batch join lowering in
    tests/test_streaming.py.  Like Decontaminate, the phrase set
    is FROZEN at plan-construction time; restart the query to pick up
    blocklist changes.
    """

    def __init__(
        self,
        docs: str,
        phrases: str,
        output: str,
        *,
        id_col: str = "doc_id",
        text_col: str = "text",
        phrase_col: str = "phrase",
        mode: str = "flag",
        max_inline: int = 64,
        max_broadcast_phrases: int = 1_000_000,
        label: str | None = None,
    ):
        if mode not in ("flag", "drop"):
            raise ValueError(f"mode must be 'flag' or 'drop', got {mode!r}")
        if max_inline < 0:
            raise ValueError("max_inline must be >= 0")
        if max_broadcast_phrases < 1:
            raise ValueError("max_broadcast_phrases must be >= 1")
        self.docs = docs
        self.phrases = phrases
        self.output = output
        self.id_col = id_col
        self.text_col = text_col
        self.phrase_col = phrase_col
        self.mode = mode
        self.max_inline = int(max_inline)
        self.max_broadcast_phrases = int(max_broadcast_phrases)
        self.label = label

    def _transform_streaming(self, flow: Flow, docs, p) -> Flow:
        """Broadcast-membership lowering for streaming docs (the
        streaming Decontaminate pattern, dedup.py:930): ``p`` is the
        normalized distinct phrase frame."""
        import pandas as pd

        rows = p.limit(self.max_broadcast_phrases + 1).collect()
        if len(rows) > self.max_broadcast_phrases:
            raise ValueError(
                "PhraseBlocklist: phrase table exceeds "
                f"max_broadcast_phrases={self.max_broadcast_phrases} on a "
                "streaming input; raise the bound or run the batch join "
                "lowering per micro-batch via streaming.control.transform_per_batch"
            )
        by_len: dict[int, frozenset] = {}
        for (ph,) in rows:
            by_len.setdefault(len(ph.split(" ")), set()).add(ph)
        by_len = {L: frozenset(s) for L, s in by_len.items()}
        b = docs.sparkSession.sparkContext.broadcast(by_len)

        @F.pandas_udf("long")
        def _n_hits(toks: pd.Series) -> pd.Series:
            bl = b.value

            def count(a):
                if a is None:
                    return 0
                n = 0
                for L, s in bl.items():
                    if len(a) >= L:
                        # distinct L-shingles present in the blocklist
                        # (batch parity: count_distinct of matched
                        # phrases; join with " " matches concat_ws)
                        n += len(
                            {
                                g
                                for i in range(len(a) - L + 1)
                                if (g := " ".join(a[i : i + L])) in s
                            }
                        )
                return n

            return toks.apply(count)

        scored = docs.withColumn(
            "n_blocklisted", _n_hits(TXT.tokens(self.text_col))
        )
        if self.mode == "drop":
            out = scored.filter(F.col("n_blocklisted") == 0).drop(
                "n_blocklisted"
            )
        else:
            out = scored.withColumn("blocked", F.col("n_blocklisted") > 0)
        return flow.without(self.docs, self.phrases).with_stream(
            self.output, out
        )

    def transform(self, flow: Flow) -> Flow:
        from ..component import require_batch

        docs = flow[self.docs]
        phrases = flow[self.phrases]
        require_batch(
            phrases, "PhraseBlocklist", "phrase lengths drive the plan"
        )
        if self.max_inline > 0:
            inline = [
                r[0]
                for r in phrases.select(
                    TXT.normalize(self.phrase_col).alias("__p")
                )
                .filter(F.length("__p") > 0)
                .distinct()
                .limit(self.max_inline + 1)
                .collect()
            ]
            if len(inline) <= self.max_inline:
                padded = F.concat(
                    F.lit(" "), TXT.normalize(self.text_col), F.lit(" ")
                )
                matched = [
                    padded.contains(f" {p} ").cast("int") for p in sorted(inline)
                ]
                n_hits = sum(matched[1:], matched[0]) if matched else F.lit(0)
                # NULL text: contains() propagates NULL, which would
                # make drop mode silently DELETE null-text docs while
                # the join lowering keeps them (0 hits).  Coalesce so
                # both lowerings agree: null text ⇒ 0 hits, kept.
                n_hits = F.coalesce(n_hits, F.lit(0))
                if self.mode == "drop":
                    out = docs.filter(n_hits == 0)
                else:
                    out = docs.withColumn(
                        "n_blocklisted", n_hits.cast("bigint")
                    ).withColumn("blocked", F.col("n_blocklisted") > 0)
                return flow.without(self.docs, self.phrases).with_stream(
                    self.output, out
                )
        p = (
            phrases.select(TXT.normalize(self.phrase_col).alias("__p"))
            .filter(F.length("__p") > 0)
            .distinct()
        )
        if docs.isStreaming:
            return self._transform_streaming(flow, docs, p)
        lengths = sorted(
            r[0]
            for r in p.select(
                F.size(F.split("__p", " ")).alias("__L")
            )
            .distinct()
            .collect()
        )
        toks = docs.select(
            F.col(self.id_col), TXT.tokens(self.text_col).alias("__t")
        )
        per_len = [
            toks.select(
                self.id_col,
                F.explode(
                    TXT.shingles_of_tokens(F.col("__t"), L)
                ).alias("__p"),
            )
            for L in lengths
        ]
        if per_len:
            shingled = per_len[0]
            for part in per_len[1:]:
                shingled = shingled.unionByName(part)
            hits = (
                shingled.join(p, "__p")
                .groupBy(self.id_col)
                .agg(F.count_distinct("__p").alias("n_blocklisted"))
            )
        else:  # empty blocklist: nothing matches
            hits = docs.select(self.id_col).limit(0).withColumn(
                "n_blocklisted", F.lit(0).cast("bigint")
            )
        if self.mode == "drop":
            out = docs.join(hits.select(self.id_col), self.id_col, "left_anti")
        else:
            out = (
                docs.join(hits, self.id_col, "left")
                .withColumn(
                    "n_blocklisted",
                    F.coalesce("n_blocklisted", F.lit(0)).cast("bigint"),
                )
                .withColumn("blocked", F.col("n_blocklisted") > 0)
            )
        return flow.without(self.docs, self.phrases).with_stream(
            self.output, out
        )

    def input_names(self) -> Sequence[str]:
        return (self.docs, self.phrases)

    def output_names(self) -> Sequence[str]:
        return (self.output,)


class SemDeDup(Component):
    """Semantic deduplication over an embedding column — SemDeDup
    (Abbas et al. 2023, arXiv:2303.09540): cluster the embedding space,
    then find near-duplicates ONLY within each cluster by exact
    pairwise cosine, keeping the lowest-id member of every duplicate
    pair (keep-first — the same convention as ``SimHashDedup`` /
    ``LineDedup``; delta vs the paper's keep-farthest-from-centroid
    rule: keep-first is deterministic under corpus regeneration and
    engine-portable, and the kept COUNT per cluster is identical).

    Clustering is what makes semantic dedup tractable at 100 TB: the
    pairwise work drops from O(N²) to Σ cᵢ² over cluster sizes — with
    balanced clusters (c ≈ N/k) that is N²/k, and k grows with the
    corpus (the paper runs 110k clusters over LAION).  The per-cluster
    scan is one ``applyInPandas`` GEMM keyed on ``centroid_id`` — a
    single shuffle, NO pair materialization (output is one row per
    vector); each cluster is loaded whole by one task, exactly the
    paper's cluster-at-a-time computation shape.  ``max_cluster_rows``
    guards the per-task memory bound — above it, raise and ask for a
    larger ``n_clusters`` (the scale knob), never silently spill into
    an all-pairs join.

    Centroid strategies:

      - ``'kmeans'`` (production): spherical Lloyd training on a
        bounded deterministic sample (``similarity.spherical_kmeans``,
        shared with the IVF family), assignment via one broadcast-GEMM
        ``mapInPandas`` scan — linear, embarrassingly parallel.
      - ``'pivot'`` (deterministic / oracle-parity): the ``n_clusters``
        lowest-id vectors ARE the centroids and assignment is a
        pure-JVM codegen argmax over literal arrays (round-6 cosine,
        lowest-centroid-id tie-break) — ANSI-SQL-expressible, so the
        whole pipeline is hash-verifiable against a DuckDB oracle.
        Identical downstream plumbing; only the centroid source
        differs.

    Output: one row per vector — ``(id_col, centroid_id, is_dup)``;
    ``is_dup`` marks vectors with a SMALLER-id cluster-mate at cosine
    >= ``threshold``.

    **Auto cluster count (r12 — the same corpus-adaptive discipline
    as CosineLSHJoin bits and MinHash banding).**  At FIXED k the
    per-cluster work Σcᵢ² ≈ N²/k is quadratic in the corpus — the
    identical failure mode the r11 sf10 probe caught in fixed-bits
    LSH (a constant-way partition cannot bound a growing corpus).
    ``n_clusters=None`` resolves k = ⌈N / ``target_cluster_rows``⌉
    from one corpus count (clamped to [1, ``sample_size``/4] so Lloyd
    always has ≥4 sample points per centroid), making Σcᵢ² ≈
    N·target_cluster_rows — LINEAR at a held per-cluster bound; the
    paper scales k the same way (110k clusters over LAION).  Past
    N ≈ (sample_size/4)·target_cluster_rows the clamp re-grows
    clusters — ``sample_size`` is the scale knob to raise with the
    corpus, and ``max_cluster_rows`` still hard-fails before any
    silent quadratic.  Explicit k pins are never overridden.
    """

    def __init__(
        self,
        input: str,
        output: str | None = None,
        *,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        threshold: float = 0.95,
        n_clusters: int | None = 16,
        centroids: str = "kmeans",
        sample_size: int = 4096,
        iters: int = 5,
        seed: int = 13,
        max_cluster_rows: int = 2_000_000,
        target_cluster_rows: int = 4096,
        label: str | None = None,
    ):
        if centroids not in ("kmeans", "pivot"):
            raise ValueError("centroids must be 'kmeans' or 'pivot'")
        if n_clusters is not None and n_clusters < 1:
            raise ValueError("n_clusters must be >= 1 (or None for auto)")
        self.input = input
        self.output = output or input
        self.id_col = id_col
        self.vec_col = vec_col
        self.threshold = threshold
        self.n_clusters = n_clusters
        self.centroids = centroids
        self.sample_size = sample_size
        self.iters = iters
        self.seed = seed
        self.max_cluster_rows = max_cluster_rows
        self.target_cluster_rows = int(target_cluster_rows)
        self.label = label

    def _resolve_k(self, slim: DataFrame) -> tuple[int, DataFrame]:
        """(k, slim) with ``n_clusters=None`` resolved from one corpus
        count; the input is persisted first so the count materializes
        the cache for the assignment scan instead of re-running a
        composed upstream (CosineLSHJoin discipline)."""
        if self.n_clusters is not None:
            return int(self.n_clusters), slim
        # scan rebalance before persisting: a single-row-group corpus
        # file collapses to one non-empty scan task, which would make
        # the assignment GEMM and the persist single-threaded (see
        # MinHashLSHPairs.transform).  spread() is row-group aware and
        # a no-op when the flow already shuffled upstream.
        slim = _pin(_spread(slim))
        n = slim.count()
        cap = max(1, self.sample_size // 4)
        k = min(cap, max(1, -(-n // self.target_cluster_rows)))
        return k, slim

    def _assign_pivot(self, slim: DataFrame, k: int) -> DataFrame:
        """JVM-only assignment against the k lowest-id vectors:
        argmax over literal centroid arrays via an orderable-struct
        ``array_max`` — round-6 cosine first, then lowest centroid id
        (encoded as max of -id).  Bounded driver state: k rows."""
        import numpy as np

        rows = slim.orderBy("id").limit(k).collect()
        if not rows:
            raise ValueError("SemDeDup: input has no vectors")
        # hoisted-norm normalize — the one-expression l2_normalize
        # re-evaluates the norm fold per ELEMENT, O(dim²) interpreted
        # per row.  The pivot dots stay HOF folds: an unrolled chain
        # embeds the pivot floats as literals, so every k-pivot set
        # compiles fresh k×dim-term Janino methods (measured 1.7 s →
        # 6.4 s at sf0.1, the LloydKMeans lesson).
        normed = V.l2_normalize_select(slim, "id", "v", "nv")
        cands = []
        for r in rows:
            p = np.asarray(r["v"], dtype="float64")
            p /= max(float(np.linalg.norm(p)), 1e-30)
            pv = F.array(*[F.lit(float(x)) for x in p])
            cos = F.round(V.dot(F.col("nv"), pv), 6)
            cands.append(
                F.struct(
                    cos.alias("c"),
                    F.lit(-int(r["id"])).cast("bigint").alias("nc"),
                )
            )
        best = F.array_max(F.array(*cands))
        return normed.select(
            "id", (-best["nc"]).alias("centroid_id"), "nv"
        )

    def _assign_kmeans(self, slim: DataFrame, k: int) -> DataFrame:
        """Bounded-sample Lloyd training driver-side (the IVF family's
        ``spherical_kmeans``), then one linear broadcast-GEMM
        assignment scan."""
        import numpy as np

        # sample in xxhash64(id) order, NOT id order: still fully
        # deterministic, but coverage is pseudo-random over the corpus
        # — lowest-id sampling would bias the centroids toward crawl
        # order / first domain when ids correlate with ingest order
        # (id as tie-break keeps determinism under hash collisions)
        sample = (
            slim.orderBy(F.xxhash64("id"), "id")
            .limit(self.sample_size)
            .toPandas()
        )
        if sample.empty:
            raise ValueError("SemDeDup: input has no vectors")
        C = spherical_kmeans(sample["v"], k, self.iters, self.seed)
        bc = slim.sparkSession.sparkContext.broadcast(C)

        def assign_batches(batches):
            M = bc.value
            for batch in batches:
                if not len(batch):
                    continue
                B = np.stack(batch["v"].to_list()).astype("float64")
                B /= np.maximum(np.linalg.norm(B, axis=1, keepdims=True), 1e-30)
                # round-6 before argmax: same tie convention as the
                # pivot path (first max index = lowest centroid id)
                cid = np.argmax(np.round(B @ M.T, 6), axis=1)
                yield pd.DataFrame(
                    {
                        "id": batch["id"],
                        "centroid_id": cid.astype("int64"),
                        "nv": list(B),
                    }
                )

        return slim.mapInPandas(
            assign_batches, schema="id bigint, centroid_id bigint, nv array<double>"
        )

    def _flag(self, assigned: DataFrame) -> DataFrame:
        """One GEMM per cluster: id-sorted members, S = round(G·Gᵀ, 6),
        ``is_dup[j] = any(S[i, j] >= θ for i < j)`` — strict lower
        triangle, so the lowest-id member of every duplicate pair
        survives.  No pair rows ever materialize."""
        import numpy as np

        threshold = self.threshold
        cap = self.max_cluster_rows

        def per_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
            if len(pdf) > cap:
                raise ValueError(
                    f"SemDeDup: cluster {int(pdf['centroid_id'].iloc[0])} has "
                    f"{len(pdf)} rows > max_cluster_rows={cap}; raise "
                    "n_clusters (the scale knob) so clusters fit one task"
                )
            pdf = pdf.sort_values("id").reset_index(drop=True)
            G = np.stack(pdf["nv"].to_list()).astype("float64")
            S = np.round(G @ G.T, 6)
            hit = np.tril(S >= threshold, k=-1)
            return pd.DataFrame(
                {
                    "id": pdf["id"],
                    "centroid_id": pdf["centroid_id"],
                    "is_dup": hit.any(axis=1),
                }
            )

        return assigned.groupBy("centroid_id").applyInPandas(
            per_cluster, schema="id bigint, centroid_id bigint, is_dup boolean"
        )

    def transform(self, flow: Flow) -> Flow:
        from ..component import require_batch

        df = flow[self.input]
        require_batch(
            df,
            "SemDeDup",
            "centroid training/collection and per-cluster pairwise scans "
            "need the whole corpus",
        )
        slim = df.select(
            F.col(self.id_col).cast("bigint").alias("id"),
            F.col(self.vec_col).cast("array<double>").alias("v"),
        )
        k, slim = self._resolve_k(slim)
        assigned = (
            self._assign_pivot(slim, k)
            if self.centroids == "pivot"
            else self._assign_kmeans(slim, k)
        )
        out = self._flag(assigned).select(
            F.col("id").alias(self.id_col), "centroid_id", "is_dup"
        )
        return flow.without(self.input).with_stream(self.output, out)

    def input_names(self) -> Sequence[str]:
        return (self.input,)

    def output_names(self) -> Sequence[str]:
        return (self.output,)
