"""Corpus relevance scoring: TF-IDF vectors and BM25 ranking.

The reference's text handling stops at per-event string transforms
(``lib/transformer.ex`` composition; the telegram/word-count examples
in ``test/examples_test.exs``); corpus-level term statistics are a
beyond-reference capability a training-data pipeline needs for query
mining, boilerplate detection, and relevance filtering.

Plan shape (the part that must survive 100 TB):

  * ONE pass computes per-doc term frequencies AND doc length — the
    doc length rides the explode as a grouping column, so there is no
    second full-corpus join just to attach ``dl``;
  * corpus stats (N, avgdl) are a single-row aggregate, attached by
    broadcast; per-term document frequencies are ``|vocab∩terms|``
    rows, also broadcast — the only wide shuffles key on
    ``(doc, term)`` and then ``doc``, both well distributed;
  * per-(doc,term) contributions are rounded and summed as
    DECIMAL so the final score is order-independent (floating-point
    addition is not associative; a shuffle must not change the hash).

BM25 uses the "+1" idf variant ``ln(1 + (N - df + .5)/(df + .5))``,
which is non-negative even for terms in most documents.
"""

from __future__ import annotations

from typing import Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cache import cut as _cut, pin as _pin
from ..component import Component, require_batch
from ..flow import Flow
from ..functions import text as TXT


class BM25Score(Component):
    """Score each document of ``input`` against a bag of query
    ``terms`` with Okapi BM25; emits one row per matching document:
    ``(id_col, score_col)``.  Documents containing none of the terms
    are omitted (their score is exactly 0).

    ``k1`` (term-frequency saturation) and ``b`` (length
    normalization) are the standard Robertson parameters.

    ADAPTIVE lowering on ``len(terms)`` (round 7): small bags (the
    search-query case, ``<= max_inline_terms``) compile to a per-doc
    tf VECTOR + one broadcast single-row stats aggregate — ZERO wide
    shuffles; larger bags fall back to the explode → groupBy(doc,
    term) → df → score lowering, whose cost is independent of
    ``len(terms)`` (the inline form's per-doc work and codegen size
    are O(|terms|), which inverts somewhere in the tens of terms).
    Both lowerings round per-term contributions to 6 digits and sum
    as DECIMAL in deterministic order, so they agree bit-for-bit and
    either can be oracle-checked by the same SQL.
    """

    def __init__(
        self,
        input: str,
        output: str,
        *,
        id_col: str,
        text_col: str,
        terms: Sequence[str],
        k1: float = 1.2,
        b: float = 0.75,
        score_col: str = "bm25",
        max_inline_terms: int = 32,
        label: str | None = None,
    ):
        if not terms:
            raise ValueError("terms must be non-empty")
        if max_inline_terms < 0:
            raise ValueError("max_inline_terms must be >= 0")
        self.input, self.output = input, output
        self.id_col, self.text_col = id_col, text_col
        self.terms = [t.lower() for t in terms]
        self.k1, self.b = float(k1), float(b)
        self.score_col = score_col
        self.max_inline_terms = int(max_inline_terms)
        self.label = label

    def _transform_wide_bag(self, flow: Flow, df) -> Flow:
        """Beyond-inline term bags: the pre-round-7 lowering — one
        explode pass carries doc length as a grouping column (no
        second full-corpus join), per-term df and corpus stats attach
        by broadcast, contributions re-aggregate per doc.  Four keyed
        shuffles, but per-row cost independent of ``len(terms)``."""
        toks = df.select(
            F.col(self.id_col).alias("__id"),
            F.filter(TXT.tokens(self.text_col), lambda x: x != F.lit("")).alias("__w"),
        )
        stats = toks.agg(
            F.count(F.lit(1)).alias("__n"),
            F.avg(F.size("__w")).alias("__avgdl"),
        )
        tf = (
            toks.select("__id", F.size("__w").alias("__dl"), F.explode("__w").alias("__t"))
            .filter(F.col("__t").isin(self.terms))
            .groupBy("__id", "__dl", "__t")
            .agg(F.count(F.lit(1)).alias("__tf"))
        )
        dfreq = tf.groupBy("__t").agg(F.count(F.lit(1)).alias("__df"))
        scored = tf.join(F.broadcast(dfreq), "__t").crossJoin(F.broadcast(stats))
        idf = F.log(
            (F.col("__n") - F.col("__df") + F.lit(0.5)) / (F.col("__df") + F.lit(0.5))
            + F.lit(1.0)
        )
        norm = F.lit(1.0 - self.b) + F.lit(self.b) * F.col("__dl") / F.col("__avgdl")
        contrib = idf * (F.col("__tf") * F.lit(self.k1 + 1.0)) / (
            F.col("__tf") + F.lit(self.k1) * norm
        )
        out = (
            scored.select(
                "__id", F.round(contrib, 6).cast("decimal(18,6)").alias("__c")
            )
            .groupBy("__id")
            .agg(F.sum("__c").cast("double").alias(self.score_col))
            .withColumnRenamed("__id", self.id_col)
        )
        return flow.without(self.input).with_stream(self.output, out)

    def transform(self, flow: Flow) -> Flow:
        # Round-7 plan diet (was: explode -> groupBy(doc,term) ->
        # groupBy(term) -> join-back -> groupBy(doc), 4 wide shuffles +
        # a second corpus tokenize for N/avgdl).  The query bag is
        # SMALL by construction (a search query, not the vocabulary),
        # so per-(doc,term) rows never need to exist: each doc carries
        # a fixed-width tf VECTOR (one int per query term, computed
        # with size/filter HOFs inside the single tokenize pass), and
        # N, avgdl, AND every per-term df collapse into ONE single-row
        # aggregate broadcast back to the scoring scan.  ZERO wide
        # shuffles — the whole operator is two narrow passes over a
        # lazily-checkpointed (id, dl, tfs) frame (~O(|terms|) ints per
        # doc; at 100 TB this pins row-count-sized state instead of
        # re-tokenizing the corpus for the stats branch).  Per-term
        # contributions are still rounded then summed as DECIMAL in
        # fixed term order, preserving the cross-engine hash contract.
        df = flow[self.input]
        require_batch(df, "BM25Score", "corpus-wide N/avgdl/df statistics need the whole corpus")
        terms = list(dict.fromkeys(self.terms))
        if len(terms) > self.max_inline_terms:
            return self._transform_wide_bag(flow, df)
        toks = df.select(
            F.col(self.id_col).alias("__id"),
            F.filter(TXT.tokens(self.text_col), lambda x: x != F.lit("")).alias("__w"),
        )
        def _count_of(t):
            # single-arg lambda, built per term: a two-parameter lambda
            # with a default would be treated as filter's (value, index)
            # form, binding the term to the INDEX column
            return F.size(F.filter("__w", lambda x: x == F.lit(t)))

        slim = toks.select(
            "__id",
            F.size("__w").alias("__dl"),
            F.array(*[_count_of(t) for t in terms]).alias("__tfs"),
        ).transform(_cut, eager=False)
        stats = slim.agg(
            F.count(F.lit(1)).alias("__n"),
            F.avg("__dl").alias("__avgdl"),
            *[
                F.sum((F.col("__tfs")[i] > 0).cast("long")).alias(f"__df{i}")
                for i in range(len(terms))
            ],
        )
        scored = slim.filter(
            F.exists("__tfs", lambda v: v > F.lit(0))
        ).crossJoin(F.broadcast(stats))
        norm = F.lit(1.0 - self.b) + F.lit(self.b) * F.col("__dl") / F.col(
            "__avgdl"
        )
        total = F.lit(0).cast("decimal(18,6)")
        for i in range(len(terms)):
            tf = F.col("__tfs")[i].cast("double")
            idf = F.log(
                (F.col("__n") - F.col(f"__df{i}") + F.lit(0.5))
                / (F.col(f"__df{i}") + F.lit(0.5))
                + F.lit(1.0)
            )
            contrib = idf * (tf * F.lit(self.k1 + 1.0)) / (
                tf + F.lit(self.k1) * norm
            )
            # absent terms contribute an exact 0 (tf=0 numerator), so
            # no per-term guard is needed; rounding keeps parity with
            # the per-(doc,term) oracle formulation
            total = total + F.round(contrib, 6).cast("decimal(18,6)")
        out = scored.select(
            F.col("__id").alias(self.id_col),
            total.cast("double").alias(self.score_col),
        )
        return flow.without(self.input).with_stream(self.output, out)

    def input_names(self) -> Sequence[str]:
        return (self.input,)

    def output_names(self) -> Sequence[str]:
        return (self.output,)


class TfIdfTopTerms(Component):
    """Per-document top-``k`` characteristic terms by TF-IDF, the
    standard boilerplate/topic fingerprint.  Emits
    ``(id_col, term, tfidf, rank)`` with rank 1..k per document,
    deterministic ties broken by term text.

    tf is raw count, idf is ``ln(N / df)`` (no smoothing — every term
    seen has df >= 1).  Stopword-ish terms (df == N) get idf 0 and
    never outrank content terms.
    """

    def __init__(
        self,
        input: str,
        output: str,
        *,
        id_col: str,
        text_col: str,
        k: int = 3,
        min_token_len: int = 2,
        label: str | None = None,
    ):
        self.input, self.output = input, output
        self.id_col, self.text_col = id_col, text_col
        self.k, self.min_token_len = int(k), int(min_token_len)
        self.label = label

    def transform(self, flow: Flow) -> Flow:
        from pyspark.sql import Window

        df = flow[self.input]
        require_batch(df, "TfIdfTopTerms", "document-frequency statistics and per-doc rank windows need the whole corpus")
        toks = df.select(
            F.col(self.id_col).alias("__id"),
            F.filter(
                TXT.tokens(self.text_col),
                lambda x: F.length(x) >= F.lit(self.min_token_len),
            ).alias("__w"),
        )
        # corpus size: a count over the RAW input (no tokenize — every
        # doc counts, tokenized-empty or not), so the stats branch
        # never re-runs the tokenizer
        n_docs = df.agg(F.count(F.lit(1)).alias("__n"))
        tf = (
            toks.select("__id", F.explode("__w").alias("__t"))
            .groupBy("__id", "__t")
            .agg(F.count(F.lit(1)).alias("__tf"))
        )
        # document frequency as a WINDOW over the term (round 7): the
        # old groupBy(term) + join-back needed the vocab aggregated on
        # __t AND tf re-exchanged on __t — two wide shuffles where one
        # suffices.  count(*) over partitionBy(__t) computes df with a
        # single exchange of the (doc,term) frame; hot-term skew is
        # identical to what the join's __t exchange already had.
        wt = Window.partitionBy("__t")
        # rank on the ROUNDED score: raw doubles from ln() can differ
        # in the last ulp across engines, which would flip the order of
        # near-equal terms; rounding first makes near-ties exact ties,
        # which the term text then breaks deterministically
        scored = tf.withColumn(
            "__df", F.count(F.lit(1)).over(wt)
        ).crossJoin(F.broadcast(n_docs)).select(
            "__id",
            "__t",
            F.round(
                F.col("__tf").cast("double")
                * F.log(F.col("__n").cast("double") / F.col("__df")),
                6,
            ).alias("__s"),
        )
        w = Window.partitionBy("__id").orderBy(F.desc("__s"), F.asc("__t"))
        out = (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= self.k)
            .select(
                F.col("__id").alias(self.id_col),
                F.col("__t").alias("term"),
                F.col("__s").alias("tfidf"),
                "rank",
            )
        )
        return flow.without(self.input).with_stream(self.output, out)

    def input_names(self) -> Sequence[str]:
        return (self.input,)

    def output_names(self) -> Sequence[str]:
        return (self.output,)


class UnigramLMScore(Component):
    """Per-document mean negative log-likelihood under an add-alpha
    unigram language model trained on the corpus itself — the classic
    cheap "perplexity" proxy for quality/outlier filtering of training
    data (docs full of rare tokens score high; boilerplate scores
    low).

    Emits ``(id_col, n_tok, score_col)`` for documents with at least
    one token; ``score_col`` = sum(tf * -ln p(t)) / n_tok with
    ``p(t) = (ct + alpha) / (T + alpha * V)``.

    Plan shape: same skeleton as :class:`BM25Score` — one explode pass
    carries ``n_tok`` as a grouping column; corpus totals are a
    broadcast single row; the term-count join SHUFFLES on the term
    (vocab can be huge — never broadcast); per-(doc,term)
    contributions are rounded and summed as DECIMAL so the score is
    independent of shuffle order.
    """

    def __init__(
        self,
        input: str,
        output: str | None = None,
        *,
        id_col: str,
        text_col: str,
        alpha: float = 1.0,
        score_col: str = "nll",
        label: str | None = None,
    ):
        if alpha <= 0:
            raise ValueError("alpha must be positive (add-alpha smoothing)")
        self.input, self.output = input, output or input
        self.id_col, self.text_col = id_col, text_col
        self.alpha = float(alpha)
        self.score_col = score_col
        self.label = label

    def transform(self, flow: Flow) -> Flow:
        df = flow[self.input]
        require_batch(df, "UnigramLMScore", "the unigram LM is trained on full-corpus term counts")
        toks = df.select(
            F.col(self.id_col).alias("__id"),
            F.filter(TXT.tokens(self.text_col), lambda x: x != F.lit("")).alias("__w"),
        )
        tok = toks.select("__id", F.size("__w").alias("__n"), F.explode("__w").alias("__t"))
        tf = tok.groupBy("__id", "__n", "__t").agg(F.count(F.lit(1)).alias("__tf"))
        # "train" phase: corpus term counts, materialized eagerly.
        # Without this the ct / stats / join branches each re-run the
        # corpus explode (column pruning makes the three subtrees
        # differ, so Catalyst cannot ReusedExchange them — verified on
        # the physical plan: 3 scans).  Checkpointing only the
        # VOCAB-sized table keeps the operator at exactly two corpus
        # passes with nothing corpus-sized ever cached.
        ct = (
            tok.groupBy("__t")
            .agg(F.count(F.lit(1)).alias("__ct"))
            .transform(_cut)
        )
        stats = ct.agg(
            F.sum("__ct").cast("double").alias("__total"),
            F.count(F.lit(1)).cast("double").alias("__vocab"),
        )
        p = (F.col("__ct") + F.lit(self.alpha)) / (
            F.col("__total") + F.lit(self.alpha) * F.col("__vocab")
        )
        contrib = F.col("__tf") * (-F.log(p))
        out = (
            tf.join(ct, "__t")
            .crossJoin(F.broadcast(stats))
            .select("__id", "__n", F.round(contrib, 6).cast("decimal(18,6)").alias("__c"))
            .groupBy("__id", "__n")
            .agg((F.sum("__c").cast("double") / F.col("__n")).alias(self.score_col))
            .select(
                F.col("__id").alias(self.id_col),
                F.col("__n").alias("n_tok"),
                self.score_col,
            )
        )
        return flow.without(self.input).with_stream(self.output, out)

    def input_names(self) -> Sequence[str]:
        return (self.input,)

    def output_names(self) -> Sequence[str]:
        return (self.output,)


class SliceDivergence(Component):
    """Per-slice KL divergence KL(P_slice || P_corpus) between a
    corpus slice's unigram distribution and the whole corpus — the
    distribution-shift monitor of a training-data pipeline (a source
    whose token distribution drifts from the mixture is boilerplate,
    spam, or mis-routed content; sort descending and audit the top).

    Emits one row per value of ``group_col``:
    ``(group_col, n_tok, kl_col)`` with
    ``KL = sum_t p_t * ln(p_t / c_t)``, ``p_t = cst/Ns``,
    ``c_t = ct/N``.  Every slice token occurs in the corpus by
    construction (support(P) subset of support(C)), so no smoothing is
    needed and KL is finite and >= 0.

    Plan shape: ONE corpus explode -> per-(slice, term) counts ``cst``
    (the sufficient statistic — eagerly checkpointed, like
    UnigramLMScore's term table, so the three derived aggregates don't
    re-scan the corpus); corpus term counts, slice totals, and the
    grand total are all SECOND aggregations of ``cst`` (no second
    corpus pass).  The only wide shuffles key on (slice, term) and
    term; slice totals join unhinted (AQE broadcasts the handful of
    rows), the grand total is a 1-row broadcast attach.  Per-term
    contributions are rounded and summed as DECIMAL so the score is
    shuffle-order independent (the BM25Score discipline).
    """

    def __init__(
        self,
        input: str,
        output: str | None = None,
        *,
        group_col: str,
        text_col: str,
        kl_col: str = "kl",
        label: str | None = None,
    ):
        self.input, self.output = input, output or input
        self.group_col, self.text_col = group_col, text_col
        self.kl_col = kl_col
        self.label = label

    def transform(self, flow: Flow) -> Flow:
        df = flow[self.input]
        require_batch(
            df, "SliceDivergence", "slice and corpus unigram distributions are full-corpus statistics"
        )
        tok = df.select(
            F.col(self.group_col).alias("__g"),
            F.explode(F.filter(TXT.tokens(self.text_col), lambda x: x != F.lit(""))).alias("__t"),
        )
        cst = (
            tok.groupBy("__g", "__t")
            .agg(F.count(F.lit(1)).alias("__cst"))
            .transform(_cut)
        )
        ct = cst.groupBy("__t").agg(F.sum("__cst").alias("__ct"))
        ns = cst.groupBy("__g").agg(F.sum("__cst").alias("__ns"))
        n = ns.agg(F.sum("__ns").alias("__n"))
        p = F.col("__cst").cast("double") / F.col("__ns")
        ratio = (F.col("__cst").cast("double") * F.col("__n")) / (
            F.col("__ns").cast("double") * F.col("__ct")
        )
        out = (
            cst.join(ct, "__t")
            .join(ns, "__g")
            .crossJoin(F.broadcast(n))
            .select(
                "__g",
                "__ns",
                F.round(p * F.log(ratio), 6).cast("decimal(18,6)").alias("__c"),
            )
            .groupBy("__g", "__ns")
            .agg(F.sum("__c").cast("double").alias(self.kl_col))
            .select(
                F.col("__g").alias(self.group_col),
                F.col("__ns").alias("n_tok"),
                self.kl_col,
            )
        )
        return flow.without(self.input).with_stream(self.output, out)

    def input_names(self) -> Sequence[str]:
        return (self.input,)

    def output_names(self) -> Sequence[str]:
        return (self.output,)


class DSIRWeights(Component):
    """Data Selection via Importance Resampling weights (DSIR — Xie et
    al. 2023, arXiv:2302.03169): score every document of ``docs`` by
    how much more likely its hashed n-gram features are under a
    TARGET-domain sample than under the raw corpus —

        w(d) = Σ_b  n(d, b) · [ ln p̂_target(b) − ln p̂_raw(b) ]

    over ``n_buckets`` hash buckets of unigram+bigram features, with
    add-``alpha`` smoothed bucket probabilities.  The published recipe
    for "select pre-training data that looks like the domain you care
    about" — the top-weight fraction is the importance-resampled
    subset.

    Plan shape at 100 TB: the ONLY corpus-sized shuffles key on
    ``(doc, bucket)`` and then ``doc`` (both well distributed); the
    bucket log-ratio table is ≤ ``n_buckets`` rows — broadcast — and
    corpus totals are single-row broadcast aggregates.  Features are
    built with array HOFs in the scan (no explode-then-window), the
    hash is the portable md5-prefix (functions/text.kgram_hash), and
    per-bucket contributions are rounded and summed as DECIMAL so the
    final weight is order-independent and engine-portable (the
    BM25Score convention).

    Output: one row per ``docs`` document — ``(id_col, n_feats,
    weight_col)``; documents with no features (empty text) weigh 0.

    RAW/SCORE SPLIT + STREAMING (round 8): pass ``raw`` to estimate
    the raw-corpus bucket distribution on a SEPARATE batch corpus and
    score ``docs`` against the frozen (raw, target) log-ratio table —
    after estimation the table is static, the Decontaminate /
    StupidBackoffLM frozen-statistics shape.  A STREAMING ``docs``
    then lowers to zero-shuffle, zero-state per-row scoring: the
    ≤ ``n_buckets``-row ratio table is collected once, broadcast, and
    an Arrow-batched pandas UDF replays the batch arithmetic exactly
    (same Column-expression featurization and md5 bucket hash, exact
    DECIMAL accumulation of cnt·log-ratio — differentially tested in
    tests/test_streaming.py).  Both lowerings share the batch
    semantics for buckets ABSENT from the raw estimate: those
    features drop from n_feats and the weight (the batch inner join),
    and a doc with no raw-seen feature scores (0, 0.0).  Broadcast
    lifetime follows the Decontaminate contract.
    """

    def __init__(
        self,
        docs: str,
        target: str,
        output: str,
        *,
        id_col: str = "doc_id",
        text_col: str = "text",
        n_buckets: int = 10_000,
        alpha: float = 1.0,
        weight_col: str = "dsir_weight",
        raw: str | None = None,
        label: str | None = None,
    ):
        if n_buckets < 1:
            raise ValueError("n_buckets must be >= 1")
        if alpha <= 0:
            raise ValueError("alpha must be > 0 (smoothing keeps ln finite)")
        self.docs, self.target, self.output = docs, target, output
        self.id_col, self.text_col = id_col, text_col
        self.n_buckets = int(n_buckets)
        self.alpha = float(alpha)
        self.weight_col = weight_col
        self.raw = raw
        self.label = label

    def _grams(self) -> "Column":
        """Unigram+bigram feature array over ``text_col`` — the one
        featurization both lowerings share."""
        fw = F.filter(TXT.tokens(self.text_col), lambda x: x != F.lit(""))
        n = F.size(fw)
        bigrams = F.when(
            n >= 2,
            F.zip_with(
                F.slice(fw, 1, n - 1),
                F.slice(fw, 2, n - 1),
                lambda a, b: F.concat(a, F.lit(" "), b),
            ),
        ).otherwise(F.array().cast("array<string>"))
        return F.concat(fw, bigrams)

    def _doc_buckets(self, df: DataFrame) -> DataFrame:
        """(id, bucket, cnt) — unigram+bigram features hashed into
        ``n_buckets`` via the portable md5-prefix, built with array
        HOFs in the scan."""
        return (
            df.select(
                F.col(self.id_col).alias("__id"),
                F.explode(self._grams()).alias("__g"),
            )
            .select(
                "__id",
                F.pmod(TXT.kgram_hash(F.col("__g")), F.lit(self.n_buckets)).alias(
                    "__b"
                ),
            )
            .groupBy("__id", "__b")
            .agg(F.count(F.lit(1)).alias("__cnt"))
        )

    def _ratio(self, raw_b: DataFrame, tgt_b: DataFrame) -> DataFrame:
        """The ≤ n_buckets-row log-ratio table from the aggregated raw
        and target bucket counts."""
        raw_tot = raw_b.agg(F.sum("__cr").alias("__nr"))
        tgt_tot = tgt_b.agg(F.sum("__ct").alias("__nt"))
        a, bkt = F.lit(self.alpha), F.lit(float(self.n_buckets))
        return (
            raw_b.join(tgt_b, "__b", "left")
            .crossJoin(F.broadcast(raw_tot))
            .crossJoin(F.broadcast(tgt_tot))
            .select(
                "__b",
                F.round(
                    F.log(
                        (F.coalesce("__ct", F.lit(0)) + a)
                        / (F.col("__nt") + a * bkt)
                    )
                    - F.log((F.col("__cr") + a) / (F.col("__nr") + a * bkt)),
                    6,
                )
                .cast("decimal(18,6)")
                .alias("__lr"),
            )
        )

    def _transform_streaming(
        self, flow: Flow, docs: DataFrame, raw_src: DataFrame, target: DataFrame
    ) -> Flow:
        raw_b = (
            self._doc_buckets(raw_src)
            .groupBy("__b")
            .agg(F.sum("__cnt").alias("__cr"))
            .transform(_pin)
        )
        tgt_b = (
            self._doc_buckets(target)
            .groupBy("__b")
            .agg(F.sum("__cnt").alias("__ct"))
            .transform(_pin)
        )
        # ≤ n_buckets rows; __lr arrives as decimal.Decimal, so the
        # replay accumulates cnt·lr EXACTLY like the batch DECIMAL sum
        lrmap = {r["__b"]: r["__lr"] for r in self._ratio(raw_b, tgt_b).collect()}
        blr = docs.sparkSession.sparkContext.broadcast(lrmap)

        @F.pandas_udf("struct<n_feats:bigint,w:double>")
        def _score(arrs: pd.Series) -> pd.DataFrame:
            from collections import Counter
            from decimal import Decimal

            m = blr.value
            ns: list = []
            ws: list = []
            for a in arrs:
                cnts = Counter(int(b) for b in a) if a is not None else {}
                nf = 0
                tot = Decimal(0)
                for b, c in cnts.items():
                    lr = m.get(b)
                    if lr is None:
                        continue  # bucket unseen in raw: batch inner join drops it
                    nf += c
                    tot += lr * c
                ns.append(nf)
                ws.append(float(tot))
            return pd.DataFrame({"n_feats": ns, "w": ws})

        # bind the gram array to a real column before hashing (HOF
        # lambdas re-evaluate derived subtrees per element)
        out = (
            docs.withColumn("__grams", self._grams())
            .withColumn(
                "__bs",
                F.transform(
                    F.col("__grams"),
                    lambda g: F.pmod(TXT.kgram_hash(g), F.lit(self.n_buckets)),
                ),
            )
            .withColumn("__s", _score("__bs"))
            .select(
                self.id_col,
                F.col("__s.n_feats").alias("n_feats"),
                F.col("__s.w").alias(self.weight_col),
            )
        )
        return flow.without(self.docs, self.target, self.raw).with_stream(
            self.output, out
        )

    def transform(self, flow: Flow) -> Flow:
        docs = flow[self.docs]
        target = flow[self.target]
        raw_src = flow[self.raw] if self.raw is not None else None
        require_batch(
            target, "DSIRWeights", "corpus and target bucket distributions need full passes"
        )
        if raw_src is not None:
            require_batch(
                raw_src,
                "DSIRWeights (raw side)",
                "the raw bucket distribution is a full-corpus estimate",
            )
        if docs.isStreaming:
            if raw_src is None:
                raise TypeError(
                    "DSIRWeights is batch-only without a `raw` corpus: a "
                    "stream cannot estimate its own raw bucket "
                    "distribution — pass raw=<batch corpus> to score the "
                    "stream against the frozen (raw, target) log-ratio"
                )
            return self._transform_streaming(flow, docs, raw_src, target)
        require_batch(
            docs, "DSIRWeights", "corpus and target bucket distributions need full passes"
        )

        # PERSIST the shared intermediates: without it, Catalyst plans
        # every consumer with its own copy of the lineage (measured: 19
        # exchanges / 6 scans — the corpus tokenize+hash+shuffle ran
        # THREE times and the target's twice).  ``doc_b`` is the one
        # corpus-sized pin (MEMORY_AND_DISK — same materialization cost
        # class as the shuffle that produces it); the bucket tables are
        # ≤ n_buckets rows.  Every pin is registered with
        # strom_spark.cache — call strom_spark.release_caches() at
        # pipeline end in a long-lived session; until then Spark's
        # LRU eviction keeps memory bounded.
        doc_b = _pin(self._doc_buckets(docs))
        if raw_src is None:
            raw_b = (
                doc_b.groupBy("__b")
                .agg(F.sum("__cnt").alias("__cr"))
                .transform(_pin)
            )
        else:
            raw_b = (
                self._doc_buckets(raw_src)
                .groupBy("__b")
                .agg(F.sum("__cnt").alias("__cr"))
                .transform(_pin)
            )
        tgt_b = (
            self._doc_buckets(target)
            .groupBy("__b")
            .agg(F.sum("__cnt").alias("__ct"))
            .transform(_pin)
        )
        ratio = self._ratio(raw_b, tgt_b)

        weighted = (
            doc_b.join(F.broadcast(ratio), "__b")
            .groupBy("__id")
            .agg(
                F.sum("__cnt").alias("__nf"),
                F.sum(F.col("__cnt") * F.col("__lr")).cast("double").alias("__w"),
            )
        )
        ids = docs.select(F.col(self.id_col).alias("__id")).distinct()
        out = (
            ids.join(weighted, "__id", "left")
            .select(
                F.col("__id").alias(self.id_col),
                F.coalesce("__nf", F.lit(0)).cast("bigint").alias("n_feats"),
                F.coalesce("__w", F.lit(0.0)).alias(self.weight_col),
            )
        )
        drop = (
            (self.docs, self.target)
            if self.raw is None
            else (self.docs, self.target, self.raw)
        )
        return flow.without(*drop).with_stream(self.output, out)

    def input_names(self) -> Sequence[str]:
        if self.raw is not None:
            return (self.docs, self.target, self.raw)
        return (self.docs, self.target)

    def output_names(self) -> Sequence[str]:
        return (self.output,)


class StupidBackoffLM(Component):
    """Per-document mean negative log-score under a corpus-trained
    BIGRAM language model with Stupid Backoff (Brants et al. 2007,
    "Large Language Models in Machine Translation" — the smoothing
    designed FOR distributed corpus-count LMs: no discounting pass,
    no normalization, just counts and one backoff constant):

        S(wᵢ | wᵢ₋₁) = c(wᵢ₋₁wᵢ) / c(wᵢ₋₁)        if the bigram occurs
                     = λ · c(wᵢ) / N               otherwise (λ = 0.4)
        S(w₁)        = c(w₁) / N                   (sentence-initial)

    Emits ``(id_col, n_tok, score_col)`` with ``score_col`` =
    Σ −ln S / n_tok — the bigram upgrade of :class:`UnigramLMScore`'s
    perplexity proxy: fluent word ORDER now scores low, shuffled or
    boilerplate-spliced text scores high, which is exactly the CCNet-
    style LM quality gate.  Corpus-trained counts mean every token and
    every seen bigram has c > 0 — no zero probabilities by
    construction.

    Plan shape (the BM25Score/UnigramLMScore skeleton): count tables
    are vocab-/bigram-vocab-sized and eagerly localCheckpointed (the
    "train" phase — the published reason Stupid Backoff scales is that
    training IS this distributed count job); the score joins SHUFFLE
    on the token / (prev, cur) keys — never broadcast, bigram vocab is
    web-scale; corpus total N attaches as a broadcast single row;
    per-position contributions are rounded and summed as DECIMAL so
    the score is independent of shuffle order.  Nothing corpus-sized
    is ever cached.

    TRAIN/SCORE SPLIT + STREAMING (round 8): pass ``train`` to train
    the count tables on a SEPARATE batch corpus and score ``input``
    against those frozen counts — the counts are static after
    training, exactly the Decontaminate broadcast-membership shape.
    A STREAMING ``input`` then lowers to zero-shuffle, zero-state
    per-row scoring: the vocab-/bigram-vocab-sized count dicts are
    collected once (bounded by ``max_broadcast_counts`` — raise the
    bound or score via ``streaming.control.transform_per_batch`` if the train vocabulary
    exceeds it), broadcast, and an Arrow-batched pandas UDF replays
    the batch arithmetic per document (same Column-expression
    tokenization, same per-(prev,cur) grouping, same HALF_UP 6-dp
    rounding and exact decimal summation), so the two lowerings agree
    (differentially tested in tests/test_streaming.py).  Cross-corpus
    OOV policy (both lowerings): positions whose CURRENT token is
    outside the train vocabulary are skipped (they still count toward
    ``n_tok``); a document with no in-vocabulary token scores NULL.
    Broadcast lifetime follows the Decontaminate contract
    (dedup.py:Decontaminate docstring): frozen at plan construction,
    one broadcast per component instantiation.
    """

    def __init__(
        self,
        input: str,
        output: str | None = None,
        *,
        id_col: str,
        text_col: str,
        backoff: float = 0.4,
        score_col: str = "sb_nll",
        train: str | None = None,
        train_text_col: str | None = None,
        max_broadcast_counts: int = 2_000_000,
        label: str | None = None,
    ):
        if not 0 < backoff <= 1:
            raise ValueError("backoff must be in (0, 1]")
        if max_broadcast_counts < 1:
            raise ValueError("max_broadcast_counts must be >= 1")
        self.input, self.output = input, output or input
        self.id_col, self.text_col = id_col, text_col
        self.backoff = float(backoff)
        self.score_col = score_col
        self.train = train
        self.train_text_col = train_text_col or text_col
        self.max_broadcast_counts = int(max_broadcast_counts)
        self.label = label

    def _train_toks(self, train_df, text_col: str):
        """Non-empty token arrays of the train corpus — the same
        Column expressions the score side uses."""
        return train_df.select(
            F.filter(TXT.tokens(text_col), lambda x: x != F.lit("")).alias("__w")
        ).filter(F.size("__w") > 0)

    def _count_tables(self, toks):
        """Vocab-sized unigram/bigram count tables from a token-array
        DataFrame (column ``__w``), pinned eagerly (the UnigramLMScore
        discipline — without the pin each score branch re-runs the
        corpus explode)."""
        tok = toks.select(F.explode("__w").alias("__t"))
        uc = (
            tok.groupBy("__t").agg(F.count(F.lit(1)).alias("__uc"))
            .transform(_cut)
        )
        bigrams = toks.select(
            F.explode(
                F.zip_with(
                    F.slice("__w", 1, F.size("__w") - 1),
                    F.slice("__w", 2, F.size("__w") - 1),
                    lambda a, b: F.struct(a.alias("p"), b.alias("c")),
                )
            ).alias("__bg")
        )
        bc = (
            bigrams.groupBy(
                F.col("__bg.p").alias("__bp"), F.col("__bg.c").alias("__bc_t")
            )
            .agg(F.count(F.lit(1)).alias("__bc"))
            .transform(_cut)
        )
        return uc, bc

    def _transform_streaming(self, flow: Flow, score_src, train_src) -> Flow:
        require_batch(
            train_src,
            "StupidBackoffLM (train side)",
            "the count tables are full-corpus aggregates",
        )
        uc, bc = self._count_tables(
            self._train_toks(train_src, self.train_text_col)
        )
        cap = self.max_broadcast_counts
        uc_rows = uc.limit(cap + 1).collect()
        bc_rows = bc.limit(cap + 1).collect()
        if len(uc_rows) > cap or len(bc_rows) > cap:
            raise ValueError(
                "StupidBackoffLM: train vocabulary exceeds "
                f"max_broadcast_counts={cap}; raise the bound or run the "
                "batch join lowering per micro-batch via streaming.control.transform_per_batch"
            )
        u = {r["__t"]: r["__uc"] for r in uc_rows}
        b = {(r["__bp"], r["__bc_t"]): r["__bc"] for r in bc_rows}
        # matches stats = sum(__uc) cast double in the batch lowering
        tot = float(sum(u.values()))
        lam = self.backoff
        sc = score_src.sparkSession.sparkContext
        bu, bb = sc.broadcast(u), sc.broadcast(b)

        @F.pandas_udf("struct<n_tok:int,nll:double>")
        def _score(arrs: pd.Series) -> pd.DataFrame:
            import math
            from collections import Counter
            from decimal import ROUND_HALF_UP, Decimal

            uv, bv = bu.value, bb.value
            q = Decimal("0.000001")
            ns: list = []
            scores: list = []
            for a in arrs:
                toks = list(a) if a is not None else []
                n = len(toks)
                ns.append(n)
                if n == 0:
                    scores.append(None)
                    continue
                # group identical (prev, cur) pairs first: the batch
                # plan aggregates counts per pair and rounds ONE
                # contribution per group — replay that exactly
                pairs: Counter = Counter()
                for i, cur in enumerate(toks):
                    pairs[(toks[i - 1] if i >= 1 else None, cur)] += 1
                total = Decimal(0)
                any_contrib = False
                for (prev, cur), cnt in pairs.items():
                    cuc = uv.get(cur)
                    if cuc is None:
                        continue  # OOV cur: batch inner join drops it
                    if prev is None:
                        s = cuc / tot
                    else:
                        bcnt = bv.get((prev, cur))
                        if bcnt is not None:
                            s = bcnt / uv[prev]
                        else:
                            s = lam * cuc / tot
                    # Decimal(repr(x)) == BigDecimal.valueOf(double):
                    # both quantize the SHORTEST decimal repr HALF_UP,
                    # matching Spark's round(double, 6) exactly
                    total += Decimal(repr(cnt * (-math.log(s)))).quantize(
                        q, rounding=ROUND_HALF_UP
                    )
                    any_contrib = True
                scores.append(float(total) / n if any_contrib else None)
            return pd.DataFrame({"n_tok": ns, "nll": scores})

        # the token array is built by the SAME Column expressions as
        # the batch lowering, so tokenization parity is structural
        out = (
            score_src.select(
                F.col(self.id_col),
                F.filter(
                    TXT.tokens(self.text_col), lambda x: x != F.lit("")
                ).alias("__w"),
            )
            .filter(F.size("__w") > 0)
            .withColumn("__s", _score("__w"))
            .select(
                self.id_col,
                F.col("__s.n_tok").alias("n_tok"),
                F.col("__s.nll").alias(self.score_col),
            )
        )
        return flow.without(self.input, self.train).with_stream(self.output, out)

    def transform(self, flow: Flow) -> Flow:
        df = flow[self.input]
        train_df = flow[self.train] if self.train is not None else df
        if self.train is not None and df.isStreaming:
            return self._transform_streaming(flow, df, train_df)
        require_batch(
            df,
            "StupidBackoffLM",
            "the bigram LM is trained on full-corpus counts (pass a "
            "batch `train` corpus to score a stream against frozen "
            "counts)",
        )
        toks = df.select(
            F.col(self.id_col).alias("__id"),
            F.filter(TXT.tokens(self.text_col), lambda x: x != F.lit("")).alias("__w"),
        ).filter(F.size("__w") > 0)

        # (id, n, prev, cur) positions: posexplode is 0-based, so the
        # predecessor of the token at p is element_at(w, p) (1-based)
        pos = toks.select(
            "__id",
            "__w",
            F.size("__w").alias("__n"),
            F.posexplode("__w").alias("__p", "__cur"),
        ).select(
            "__id",
            "__n",
            F.when(F.col("__p") >= 1, F.element_at("__w", F.col("__p"))).alias("__prev"),
            "__cur",
        )
        grouped = pos.groupBy("__id", "__n", "__prev", "__cur").agg(
            F.count(F.lit(1)).alias("__cnt")
        )

        if self.train is not None:
            require_batch(
                train_df,
                "StupidBackoffLM (train side)",
                "the count tables are full-corpus aggregates",
            )
            uc, bc = self._count_tables(
                self._train_toks(train_df, self.train_text_col)
            )
        else:
            uc, bc = self._count_tables(toks)
        stats = uc.agg(F.sum("__uc").cast("double").alias("__tot"))

        cur_c = uc.select(F.col("__t").alias("__cur"), F.col("__uc").alias("__cuc"))
        prev_c = uc.select(F.col("__t").alias("__prev"), F.col("__uc").alias("__puc"))
        joined = (
            grouped.join(cur_c, "__cur")
            .join(prev_c, "__prev", "left")
            .join(
                bc.withColumnRenamed("__bp", "__prev").withColumnRenamed(
                    "__bc_t", "__cur"
                ),
                ["__prev", "__cur"],
                "left",
            )
            .crossJoin(F.broadcast(stats))
        )
        s = (
            F.when(F.col("__prev").isNull(), F.col("__cuc") / F.col("__tot"))
            .when(F.col("__bc").isNotNull(), F.col("__bc") / F.col("__puc"))
            .otherwise(F.lit(self.backoff) * F.col("__cuc") / F.col("__tot"))
        )
        contrib = F.col("__cnt") * (-F.log(s))
        agg = (
            joined.select(
                "__id", "__n", F.round(contrib, 6).cast("decimal(18,6)").alias("__c")
            )
            .groupBy("__id", "__n")
            .agg((F.sum("__c").cast("double") / F.col("__n")).alias(self.score_col))
        )
        if self.train is not None:
            # cross-corpus: the inner join on cur_c drops OOV
            # positions, and a doc with NO in-vocab token vanishes
            # from the aggregate — re-attach the full doc set so such
            # docs surface with a NULL score (streaming-lowering
            # parity; impossible in the self-trained form, where every
            # token is in vocab by construction)
            base = toks.select("__id", F.size("__w").alias("__n"))
            agg = base.join(agg, ["__id", "__n"], "left")
        out = agg.select(
            F.col("__id").alias(self.id_col),
            F.col("__n").alias("n_tok"),
            self.score_col,
        )
        drop = (self.input,) if self.train is None else (self.input, self.train)
        return flow.without(*drop).with_stream(self.output, out)

    def input_names(self) -> Sequence[str]:
        if self.train is not None:
            return (self.input, self.train)
        return (self.input,)

    def output_names(self) -> Sequence[str]:
        return (self.output,)
