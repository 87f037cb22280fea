"""Text-analysis expression builders for large-scale corpus pipelines.

Everything here is a **pure Column expression** (JVM-side, whole-stage
codegen, no Python in the hot path) so it runs at 100 TB scan speed and
is replicable as ANSI SQL for the DuckDB oracle.  Hashing uses md5 hex
strings because md5 is bit-identical across engines (Spark's
xxhash64/hash have no DuckDB equivalent); where oracle parity doesn't
matter, swap ``hash_fn=F.xxhash64`` for ~2-3× cheaper hashing.

Covers SURVEY's training-data-pipeline surface: tokenization + token
counting (whitespace + BPE-ish regex), shingling, document
fingerprinting, 32-bit SimHash, language ID (marker-token heuristic),
and quality scoring (length/punct/stopword/repetition features).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..cache import pin as _pin

#: BPE-ish pre-tokenizer: letter runs, digit runs, single punctuation
BPE_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

#: marker stopwords per language for the n-gram/marker heuristic
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "a"),
    "de": ("der", "die", "das", "und", "ist", "nicht"),
    "fr": ("le", "la", "les", "et", "est", "une"),
    "es": ("el", "los", "las", "y", "es", "una"),
}

STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")


def _c(col: "Column | str") -> Column:
    return F.col(col) if isinstance(col, str) else col


def normalize(col: "Column | str") -> Column:
    """Lowercase, collapse whitespace, trim — the canonical form used
    for fingerprints and exact dedup."""
    return F.trim(F.regexp_replace(F.lower(_c(col)), r"\s+", " "))


def tokens(col: "Column | str") -> Column:
    """Whitespace tokens of the normalized text (no empty tokens)."""
    return F.split(normalize(col), " ")


def token_count(col: "Column | str") -> Column:
    t = tokens(col)
    # empty text -> split returns [""] -> count 0
    return F.size(F.filter(t, lambda x: x != F.lit("")))


def bpe_token_count(col: "Column | str") -> Column:
    """Token count under the BPE-ish regex pre-tokenizer."""
    return F.size(F.regexp_extract_all(_c(col), F.lit(BPE_REGEX), 0))


def fingerprint(col: "Column | str") -> Column:
    """Deterministic 128-bit content fingerprint (hex) of the
    normalized text — the exact-dedup key.  Hashing the normalized form
    makes the fingerprint whitespace/case-insensitive."""
    return F.md5(normalize(col))


def shingles_of_tokens(t: Column, k: int) -> Column:
    """Distinct k-shingles of an already-bound token-array COLUMN.

    ``t`` must be a plain column reference (not a derived expression):
    higher-order-function lambdas re-evaluate their body's whole
    subtree per element, so passing ``tokens(text)`` directly would run
    the normalize-regex once per shingle index (~50× slowdown at
    corpus scale).  Callers project the token array first.

    Docs with fewer than ``k`` tokens yield an EMPTY shingle array (the
    guard matters: ``sequence(1, 0)`` is a *descending* [1, 0] in Spark
    and ``slice(t, 0, k)`` then throws INVALID_PARAMETER_VALUE.START)."""
    n = F.size(t)
    idx = F.when(
        n >= F.lit(k), F.sequence(F.lit(1), n - F.lit(k - 1))
    ).otherwise(F.array().cast("array<int>"))
    sh = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(t, i, k)))
    return F.array_distinct(sh)


def word_shingles(col: "Column | str", k: int = 3) -> Column:
    """Array of distinct k-word shingles (space-joined) — the unit set
    for Jaccard/MinHash dedup.  Prefer projecting ``tokens`` to a
    column and calling :func:`shingles_of_tokens` in hot paths (see
    its docstring for the per-element re-evaluation trap)."""
    return shingles_of_tokens(tokens(col), k)


def char_shingles(col: "Column | str", k: int = 5) -> Column:
    """Array of distinct k-char shingles of the normalized text.

    Texts shorter than ``k`` chars produce an EMPTY array (without the
    guard, substring's index clamping silently returned the truncated
    whole string — two unrelated short docs then shared "shingles",
    inflating Jaccard similarity)."""
    s = normalize(col)
    n = F.length(s)
    idx = F.when(
        n >= F.lit(k), F.sequence(F.lit(1), n - F.lit(k - 1))
    ).otherwise(F.array().cast("array<int>"))
    return F.array_distinct(F.transform(idx, lambda i: F.substring(s, i, k)))


def ordered_shingles(t: Column, k: int) -> Column:
    """k-shingles of a bound token-array column IN ORDER (not
    deduplicated) — winnowing needs positional windows, so unlike
    :func:`shingles_of_tokens` duplicates and order are preserved.
    Sub-k docs yield an empty array (same guard)."""
    n = F.size(t)
    idx = F.when(
        n >= F.lit(k), F.sequence(F.lit(1), n - F.lit(k - 1))
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(t, i, k)))


def kgram_hash(g: Column) -> Column:
    """Portable 32-bit rolling-gram hash: first 8 hex digits of md5 as
    an integer — bit-identical in Spark (``conv(substr(md5),16,10)``)
    and DuckDB (``('0x'||substring(md5,1,8))::UBIGINT``)."""
    return F.conv(F.substring(F.md5(g), 1, 8), 16, 10).cast("bigint")


def winnow(hashes: Column, w: int) -> Column:
    """Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken,
    "Winnowing: Local Algorithms for Document Fingerprinting",
    SIGMOD'03): the distinct minima of every length-``w`` window over
    the ordered k-gram hash sequence, sorted.  Guarantees every match
    of length >= w+k-1 tokens shares a fingerprint, while storing only
    ~2/(w+1) of the hashes.

    ``hashes`` must be a bound column (HOF re-evaluation trap, see
    :func:`shingles_of_tokens`).  Docs with fewer than ``w`` hashes
    (but at least one) contribute their global minimum; empty hash
    sequences yield an empty fingerprint set."""
    n = F.size(hashes)
    starts = (
        F.when(n >= F.lit(w), F.sequence(F.lit(1), n - F.lit(w - 1)))
        .when(n >= F.lit(1), F.array(F.lit(1)))
        .otherwise(F.array().cast("array<int>"))
    )
    mins = F.transform(starts, lambda i: F.array_min(F.slice(hashes, i, w)))
    return F.array_sort(F.array_distinct(mins))


def _marker_hits(toks: Column, markers: tuple[str, ...]) -> Column:
    arr = F.array(*[F.lit(m) for m in markers])
    return F.size(F.filter(toks, lambda x: F.array_contains(arr, x)))


def lang_id(col: "Column | str") -> Column:
    """Marker-token language heuristic: score = count of language
    marker tokens; argmax wins, ties broken in fixed order
    en > de > fr > es; no markers at all -> 'und' (undetermined)."""
    t = tokens(col)
    scores = {lang: _marker_hits(t, m) for lang, m in LANG_MARKERS.items()}
    best = F.greatest(*scores.values())
    result = F.lit("und")
    # build reversed so earlier langs win ties via later when() override
    for lang in reversed(list(LANG_MARKERS)):
        result = F.when((scores[lang] > 0) & (scores[lang] == best), F.lit(lang)).otherwise(result)
    return result


def quality_features(col: "Column | str") -> dict[str, Column]:
    """Quality-scoring features (all double, rounded for oracle
    stability): n_chars, n_tokens, avg_token_len, punct_ratio,
    stopword_ratio, uniq_token_ratio, plus a composite [0,1] score."""
    c = _c(col)
    t = tokens(col)
    n_tok = token_count(col)
    n_chars = F.length(c)
    n_punct = F.size(F.regexp_extract_all(c, F.lit(r"[^A-Za-z0-9\s]"), 0))
    sw = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(t, lambda x: F.array_contains(sw, x)))
    n_uniq = F.size(F.array_distinct(t))
    safe_tok = F.greatest(n_tok, F.lit(1))
    avg_len = F.length(F.concat_ws("", t)) / safe_tok
    punct_ratio = n_punct / F.greatest(n_chars, F.lit(1))
    stop_ratio = n_stop / safe_tok
    uniq_ratio = n_uniq / safe_tok
    # composite: reward mid-length docs with stopwords, low punctuation,
    # vocabulary variety — a transparent, deterministic heuristic.
    # NOTE: no rounding anywhere — every term is the same IEEE op
    # sequence in any engine, so raw doubles are bit-identical, whereas
    # round() tie-breaking differs across engines on exact dyadic ties.
    length_score = F.least(n_tok / F.lit(100.0), F.lit(1.0))
    score = (
        F.lit(0.3) * length_score
        + F.lit(0.25) * F.least(stop_ratio * 5, F.lit(1.0))
        + F.lit(0.25) * (F.lit(1.0) - F.least(punct_ratio * 10, F.lit(1.0)))
        + F.lit(0.2) * uniq_ratio
    )
    return {
        "n_chars": n_chars.cast("bigint"),
        "n_tokens": n_tok.cast("bigint"),
        "avg_token_len": avg_len.cast("double"),
        "punct_ratio": punct_ratio.cast("double"),
        "stopword_ratio": stop_ratio.cast("double"),
        "uniq_token_ratio": uniq_ratio.cast("double"),
        "quality_score": score.cast("double"),
    }


def c4_rules(col: "Column | str") -> dict[str, Column]:
    """The published C4 cleaning heuristics (Raffel et al. 2020,
    "Exploring the Limits of Transfer Learning…", §2.2 — the rule set
    that produced the C4 corpus), as pure Column expressions (JVM
    codegen, zero Python, one narrow scan):

    Line filter (a line survives iff ALL of):
      1. ends in a terminal punctuation mark ('.', '!', '?', '"')
      2. contains at least 5 words
      3. does not contain the word "javascript" (case-insensitive)
    Page gates:
      4. at least 3 sentences (counted as terminal-punctuation marks
         in the SURVIVING lines — a deterministic engine-portable
         stand-in for C4's sentence splitter)
      5. no "lorem ipsum" (case-insensitive)
      6. no curly brace '{'

    (C4's badwords blocklist is deliberately NOT inlined here —
    compose with :class:`PhraseBlocklist`, which is that rule as a
    first-class scalable operator.)

    Returns per-doc counts (``n_lines``, ``n_kept_lines``,
    ``n_sentences``, ``kept_chars``), the page flags
    (``has_lorem_ipsum``, ``has_curly_brace``), the combined
    ``c4_keep`` gate, and ``kept_text`` (the surviving lines
    newline-joined — the cleaned document a pipeline would feed
    downstream).  All counts are integers and every comparison is
    integer — cross-engine deterministic with no rounding."""
    c = F.coalesce(_c(col), F.lit(""))
    lines = F.split(c, "\n")

    def words(l):  # noqa: E743 — same normalization as gopher_rules
        return F.filter(
            F.split(F.trim(F.regexp_replace(l, r"\s+", " ")), " "),
            lambda x: x != F.lit(""),
        )

    def keep_line(l):
        t = F.trim(l)
        return (
            (
                t.endswith(".")
                | t.endswith("!")
                | t.endswith("?")
                | t.endswith('"')
            )
            & (F.size(words(l)) >= 5)
            & ~F.lower(l).contains("javascript")
        )

    kept = F.filter(lines, keep_line)
    kept_text = F.concat_ws("\n", kept)
    n_sent = F.size(F.regexp_extract_all(kept_text, F.lit("[.!?]"), 0))
    has_lorem = F.lower(c).contains("lorem ipsum")
    has_brace = c.contains("{")
    c4_keep = (n_sent >= 3) & ~has_lorem & ~has_brace
    return {
        "n_lines": F.size(lines).cast("bigint"),
        "n_kept_lines": F.size(kept).cast("bigint"),
        "n_sentences": n_sent.cast("bigint"),
        "kept_chars": F.length(kept_text).cast("bigint"),
        "has_lorem_ipsum": has_lorem.cast("bigint"),
        "has_curly_brace": has_brace.cast("bigint"),
        "c4_keep": c4_keep.cast("bigint"),
        "kept_text": kept_text,
    }


def collapse_repeated_lines(col: "Column | str") -> dict[str, Column]:
    """Intra-document repeated-line collapse — the page-LOCAL
    boilerplate dedup (CCNet-style: nav menus, footers, cookie
    banners repeated within one page), complementing the corpus-level
    :class:`LineDedup` (which drops lines frequent ACROSS documents):
    keep the FIRST occurrence of each distinct line, preserving
    order.  Pure Column expressions — ``array_distinct`` keeps
    first-occurrence order, so the whole collapse is one narrow
    projection, zero shuffle, zero Python.

    Returns ``n_lines``, ``n_distinct_lines``, ``cleaned_chars`` and
    ``cleaned_text`` (the collapsed document, newline-joined)."""
    c = F.coalesce(_c(col), F.lit(""))
    lines = F.split(c, "\n")
    distinct = F.array_distinct(lines)
    cleaned = F.array_join(distinct, "\n")
    return {
        "n_lines": F.size(lines).cast("bigint"),
        "n_distinct_lines": F.size(distinct).cast("bigint"),
        "cleaned_chars": F.length(cleaned).cast("bigint"),
        "cleaned_text": cleaned,
    }


#: the 8 canonical Gopher stop words (Rae et al. 2021, A1.1)
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(col: "Column | str") -> dict[str, Column]:
    """The published Gopher quality-filter rules (Rae et al. 2021,
    "Scaling Language Models", Appendix A1.1 — the documented
    pre-training text gates, also the backbone of later FineWeb-style
    pipelines), as pure Column expressions (JVM codegen, zero Python):

      1. word count in [50, 100,000]
      2. mean word length in [3, 10]
      3. symbol-to-word ratio ('#' or '...') <= 0.1
      4. < 90% of lines start with a bullet ('-', '*', '•')
      5. < 30% of lines end with '...'
      6. >= 80% of words contain an alphabetic character
      7. >= 2 of the 8 Gopher stop words present

    Every fraction is an int/int division — the identical IEEE op in
    any engine, so the boolean flags are cross-engine deterministic
    without rounding.  Returns per-rule flags (int 0/1), the passed
    count, and the all-rules ``gopher_pass`` gate, plus n_words and
    mean_word_len for auditing."""
    c = F.coalesce(_c(col), F.lit(""))
    w = F.filter(F.split(F.trim(F.regexp_replace(F.lower(c), r"\s+", " ")), " "),
                 lambda x: x != F.lit(""))
    n = F.size(w)
    safe_n = F.greatest(n, F.lit(1))
    mean_wl = F.length(F.concat_ws("", w)) / safe_n
    n_sym = F.size(F.regexp_extract_all(c, F.lit("#"), 0)) + F.size(
        F.regexp_extract_all(c, F.lit(r"\.\.\."), 0)
    )
    lines = F.split(c, "\n")
    n_lines = F.greatest(F.size(lines), F.lit(1))
    n_bullet = F.size(
        F.filter(
            lines,
            lambda l: F.trim(l).startswith("-")
            | F.trim(l).startswith("*")
            | F.trim(l).startswith("•"),
        )
    )
    n_ellipsis = F.size(F.filter(lines, lambda l: F.trim(l).endswith("...")))
    n_alpha = F.size(F.filter(w, lambda x: x.rlike("[a-z]")))
    n_stop = sum(
        (F.array_contains(w, s).cast("int") for s in GOPHER_STOPWORDS[1:]),
        F.array_contains(w, GOPHER_STOPWORDS[0]).cast("int"),
    )
    flags = {
        "r_word_count": (n >= 50) & (n <= 100_000),
        "r_mean_word_len": (mean_wl >= 3.0) & (mean_wl <= 10.0),
        "r_symbol_ratio": (n_sym / safe_n) <= 0.1,
        "r_bullet_lines": (n_bullet / n_lines) < 0.9,
        "r_ellipsis_lines": (n_ellipsis / n_lines) < 0.3,
        "r_alpha_words": (n_alpha / safe_n) >= 0.8,
        "r_stop_words": n_stop >= 2,
    }
    passed = sum(
        (v.cast("int") for v in list(flags.values())[1:]),
        list(flags.values())[0].cast("int"),
    )
    out = {k: v.cast("bigint") for k, v in flags.items()}
    out["n_words"] = n.cast("bigint")
    out["mean_word_len"] = F.round(mean_wl, 6).cast("double")
    out["n_rules_passed"] = passed.cast("bigint")
    out["gopher_pass"] = (passed == len(flags)).cast("bigint")
    return out


def fineweb_rules(col: "Column | str") -> dict[str, Column]:
    """The three published FineWeb custom filters (Penedo et al. 2024,
    "The FineWeb Datasets", §3.6 — the rules FineWeb adds ON TOP of
    its Gopher/C4 baseline, selected there for the largest measured
    downstream win), as pure Column expressions (JVM codegen, zero
    Python, zero shuffle).  A document is DROPPED when any of:

      1. fraction of lines ending in terminal punctuation
         ('.', '!', '?', '"') is <= 0.12
      2. fraction of characters in duplicated lines (line occurrences
         whose exact text appears >= 2 times in the document) is
         >= 0.1
      3. fraction of lines shorter than 30 characters is >= 0.67

    Lines are ``split(text, '\\n')`` (empty lines count, matching the
    published per-line accounting); the punctuation check trims the
    line first, the length check uses the raw line.  Duplicated-line
    chars are found without any shuffle: ``array_sort`` the line list
    and keep occurrences equal to a sorted neighbor (``F.get`` is
    0-based and NULL out-of-bounds, so the ends need no guard) —
    O(L log L) per document inside one narrow projection.

    Every ratio is the same long/long IEEE division in any engine, so
    the flags hash-match cross-engine without tolerance.  Returns the
    audit ratios (rounded 6dp), per-rule flags, the passed count, and
    the combined ``fineweb_keep`` gate.

    Compose after :func:`gopher_rules` / :func:`c4_rules` the way the
    published pipeline does; corpus-level dedup stays with the
    dedicated operators (operators/dedup.py)."""
    c = F.coalesce(_c(col), F.lit(""))
    lines = F.split(c, "\n")
    n_lines = F.size(lines)
    safe_lines = F.greatest(n_lines, F.lit(1))

    def _terminal(l):  # noqa: E743 — same trim discipline as c4_rules
        t = F.trim(l)
        return t.endswith(".") | t.endswith("!") | t.endswith("?") | t.endswith('"')

    n_punct_lines = F.size(F.filter(lines, _terminal))
    n_short_lines = F.size(F.filter(lines, lambda l: F.length(l) < 30))

    srt = F.array_sort(lines)
    dup_occ = F.filter(
        srt,
        lambda x, i: (x == F.get(srt, i - 1)) | (x == F.get(srt, i + 1)),
    )
    chars_of = lambda arr: F.aggregate(  # noqa: E731
        arr, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )
    total_chars = chars_of(lines)
    dup_chars = chars_of(dup_occ)

    punct_ratio = n_punct_lines / safe_lines
    short_ratio = n_short_lines / safe_lines
    dup_frac = dup_chars / F.greatest(total_chars, F.lit(1))
    flags = {
        "r_line_punct": punct_ratio > 0.12,
        "r_dup_line_chars": dup_frac < 0.1,
        "r_short_lines": short_ratio < 0.67,
    }
    passed = sum(
        (v.cast("int") for v in list(flags.values())[1:]),
        list(flags.values())[0].cast("int"),
    )
    out = {k: v.cast("bigint") for k, v in flags.items()}
    out["n_lines"] = n_lines.cast("bigint")
    out["line_punct_ratio"] = F.round(punct_ratio, 6).cast("double")
    out["dup_line_char_frac"] = F.round(dup_frac, 6).cast("double")
    out["short_line_ratio"] = F.round(short_ratio, 6).cast("double")
    out["n_rules_passed"] = passed.cast("bigint")
    out["fineweb_keep"] = (passed == len(flags)).cast("bigint")
    return out


#: PII patterns — conservative subset whose regex semantics are
#: identical under Java regex (Spark) and RE2 (DuckDB): no backrefs,
#: no lookaround, explicit character classes only.
PII_PATTERNS = {
    # local@domain.tld
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    # dotted-quad IPv4 (octet ranges not validated — redaction favors
    # recall; 999.1.1.1 redacts too, harmless)
    "ipv4": r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}",
    # +1-555-123-4567 / (555) 123 4567 / 555.123.4567 — 10+ digits in
    # common groupings; anchored on a separator-or-start so plain long
    # numbers (ids) survive
    "phone": r"\+?[0-9]{1,3}[-. (]{1,2}[0-9]{3}[-. )]{1,2}[0-9]{3}[-. ]?[0-9]{4}",
}


def redact_pii(col: "Column | str", kinds: "tuple[str, ...]" = ("email", "ipv4", "phone")) -> Column:
    """Replace every match of the selected PII pattern classes with
    ``<KIND>`` placeholders — the standard scrubbing pass before
    training-data release.  Pure ``regexp_replace`` chain: JVM-side,
    codegen, zero Python; patterns are restricted to the Java/RE2
    common dialect so the same expression is oracle-checkable."""
    out = _c(col)
    for kind in kinds:
        out = F.regexp_replace(out, PII_PATTERNS[kind], f"<{kind.upper()}>")
    return out


def pii_counts(col: "Column | str") -> "dict[str, Column]":
    """Per-class PII match counts (bigint) — the audit signal next to
    the redaction."""
    return {
        f"n_{kind}": F.size(
            F.regexp_extract_all(_c(col), F.lit(pat), 0)
        ).cast("bigint")
        for kind, pat in PII_PATTERNS.items()
    }


def kgrams_of_tokens(t: Column, k: int) -> Column:
    """NON-distinct k-gram array of a bound token column — the unit
    for repetition analysis, where duplicate grams are the signal
    (``shingles_of_tokens`` deliberately dedups; this doesn't).  Same
    bound-column contract and <k-token empty-array guard."""
    n = F.size(t)
    idx = F.when(
        n >= F.lit(k), F.sequence(F.lit(1), n - F.lit(k - 1))
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(t, i, k)))


#: the published Gopher repetition thresholds (Rae et al. 2021, Table
#: A1): a document PASSES a rule when its fraction is <= the bound
GOPHER_REPETITION_THRESHOLDS: dict[str, float] = {
    "dup_line_frac": 0.30,
    "dup_para_frac": 0.30,
    "dup_line_char_frac": 0.20,
    "dup_para_char_frac": 0.20,
    "top_2_gram_char_frac": 0.20,
    "top_3_gram_char_frac": 0.18,
    "top_4_gram_char_frac": 0.16,
    "dup_5_gram_char_frac": 0.15,
    "dup_6_gram_char_frac": 0.14,
    "dup_7_gram_char_frac": 0.13,
    "dup_8_gram_char_frac": 0.12,
    "dup_9_gram_char_frac": 0.11,
    "dup_10_gram_char_frac": 0.10,
}


def gopher_repetition_stats(
    df,
    id_col: str,
    text_col: str,
    persist_min_rows: int = 2_000_000,
    n_rows: "int | None" = None,
):
    """The complete published Gopher REPETITION rule set (Rae et al.
    2021, "Scaling Language Models", Table A1 — the 13 repetitious-
    text filters that complement the A1.1 quality rules in
    :func:`gopher_rules`), per document:

      * ``dup_line_frac`` / ``dup_para_frac`` — fraction of lines /
        paragraphs ('\\n' / '\\n\\n' separated) that are repeats of an
        earlier one: ``(n − n_distinct) / n``;
      * ``dup_line_char_frac`` / ``dup_para_char_frac`` — fraction of
        line/paragraph characters inside occurrences BEYOND the first
        of each distinct value: ``Σ (c−1)·len / Σ c·len``;
      * ``top_{2,3,4}_gram_char_frac`` — characters covered by the
        most frequent n-gram over total token characters:
        ``c_top · charlen(top) / Σ len(token)`` (ties break to the
        lexicographically smallest gram — deterministic, engine-
        portable); charlen counts token characters only (gram length
        minus its n−1 separators).  Faithful-to-paper quirk: the
        published recipe does NOT de-overlap the top family (only the
        dup family is overlap-guarded), so a degenerate
        ``spam spam spam…`` doc scores > 1 here — exactly what public
        reimplementations compute, and far beyond every threshold
        either way;
      * ``dup_{5..10}_gram_char_frac`` — characters of token
        POSITIONS covered by any n-gram occurring more than once,
        over total token characters — overlapping occurrences count
        each position once (the paper's "taking care not to count
        characters … more than once"; the SubstringDedup
        covered-position discipline).

    Emits every fraction (rounded 6 dp — int/int divisions, engine-
    exact), ``n_rules_passed`` against the published thresholds
    (``GOPHER_REPETITION_THRESHOLDS``) and the all-rules
    ``repetition_pass`` gate.

    Plan shape: lines/paragraphs are two keyed (doc, value)
    aggregates; ALL NINE n-gram sizes ride ONE exploded (doc, n, pos,
    gram) pipeline (n joins the explode as a column — no nine-fold
    scan), one keyed count, a pivot per family; covered positions
    explode+distinct exactly like SubstringDedup.  Every shuffle keys
    on (doc, …) — linear in corpus tokens at any scale.  Above
    ``persist_min_rows`` the shared subtrees (tokenized corpus, gram
    counts) are PERSISTED: five family branches consume them, and
    without the pin Catalyst re-plans the full scan+tokenize per
    branch (the DSIR/SubstringDedup lesson — 8 parquet scans
    unpinned), which at 100 TB means re-reading the corpus eight
    times.  Below the bound the recomputation is cheaper than cache
    materialization (measured on the 5k-doc benchmark corpus: 0.96 s
    unpinned vs 2.9-3.5 s pinned — the SimHashDedup adaptive-persist
    tradeoff, same resolution).  ``n_rows`` is an optional row-count
    hint: when given, no counting pass runs at all; when None, the
    slim (__id, text) projection is persisted and ITS count doubles
    as cache materialization for the three branches that consume it
    — never a raw-input pass whose work nothing reuses."""
    from pyspark.sql import DataFrame  # noqa: F401 — signature doc

    slim = df.select(
        F.col(id_col).alias("__id"),
        F.coalesce(F.col(text_col), F.lit("")).alias("__t"),
    )
    # Row count picks the persist regime.  Counting the RAW input
    # would be a full extra corpus pass whose work nothing reuses; so
    # either the caller supplies the count as a hint (free — pipelines
    # usually know it), or we persist the slim (__id, __t) projection
    # FIRST and let its count double as cache materialization — the
    # projection is consumed by three+ branches below (line family,
    # paragraph family, tokenizer), so the pass is work the pipeline
    # needed anyway (the PHashNearDupPairs pattern).
    if n_rows is None:
        slim = _pin(slim)
        n_rows = slim.count()
    pin_subtrees = n_rows >= persist_min_rows
    ids = slim.select("__id").distinct()

    def _family(sep: str, prefix: str) -> DataFrame:
        vals = slim.select(
            "__id", F.explode(F.split("__t", sep)).alias("__v")
        )
        per = vals.groupBy("__id", "__v").agg(F.count(F.lit(1)).alias("__c"))
        return per.groupBy("__id").agg(
            (
                (F.sum("__c") - F.count(F.lit(1)))
                / F.sum("__c")
            ).alias(f"{prefix}_frac_raw"),
            (
                F.sum((F.col("__c") - 1) * F.length("__v"))
                / F.greatest(
                    F.sum(F.col("__c") * F.length("__v")), F.lit(1)
                )
            ).alias(f"{prefix}_char_frac_raw"),
        )

    lines = _family("\n", "dup_line")
    paras = _family("\n\n", "dup_para")

    toks = slim.select(
        "__id",
        F.filter(tokens("__t"), lambda x: x != F.lit("")).alias("__w"),
    )
    if pin_subtrees:
        toks = _pin(toks)
    tchars = toks.select(
        "__id",
        F.aggregate(
            "__w", F.lit(0).cast("bigint"), lambda acc, x: acc + F.length(x)
        ).alias("__tc"),
    )
    poslen = toks.select(
        "__id", F.posexplode("__w").alias("__tp", "__tok")
    ).select("__id", "__tp", F.length("__tok").alias("__len"))

    # ONE (doc, n, pos, gram) pipeline for all nine n values
    wn = toks.select(
        "__id",
        "__w",
        F.explode(F.array(*[F.lit(n) for n in range(2, 11)])).alias("__nn"),
    ).filter(F.size("__w") >= F.col("__nn"))
    grams = wn.select(
        "__id",
        "__nn",
        F.explode(
            F.sequence(F.lit(0), F.size("__w") - F.col("__nn"))
        ).alias("__p"),
        "__w",
    ).select(
        "__id",
        "__nn",
        "__p",
        F.array_join(
            F.slice("__w", F.col("__p") + 1, F.col("__nn")), " "
        ).alias("__g"),
    )
    gcnt = grams.groupBy("__id", "__nn", "__g").agg(
        F.count(F.lit(1)).alias("__c")
    )
    if pin_subtrees:
        gcnt = _pin(gcnt)

    # top family (n = 2..4): min(struct(-c, g)) == ORDER BY c DESC, g
    top = (
        gcnt.filter(F.col("__nn") <= 4)
        .groupBy("__id", "__nn")
        .agg(
            F.min(
                F.struct((-F.col("__c")).alias("nc"), F.col("__g").alias("g"))
            ).alias("__top")
        )
        .select(
            "__id",
            "__nn",
            (
                (-F.col("__top.nc"))
                * (F.length("__top.g") - (F.col("__nn") - 1))
            ).alias("__topch"),
        )
        .groupBy("__id")
        .pivot("__nn", [2, 3, 4])
        .agg(F.first("__topch"))
        .select(
            "__id",
            *[F.col(str(n)).alias(f"__top{n}") for n in (2, 3, 4)],
        )
    )

    # dup family (n = 5..10): covered token positions of repeated grams
    dup_pos = (
        grams.filter(F.col("__nn") >= 5)
        .join(
            gcnt.filter((F.col("__nn") >= 5) & (F.col("__c") > 1)).select(
                "__id", "__nn", "__g"
            ),
            ["__id", "__nn", "__g"],
        )
        .select(
            "__id",
            "__nn",
            F.explode(
                F.sequence(F.col("__p"), F.col("__p") + F.col("__nn") - 1)
            ).alias("__tp"),
        )
        .distinct()
    )
    dup = (
        dup_pos.join(poslen, ["__id", "__tp"])
        .groupBy("__id", "__nn")
        .agg(F.sum("__len").alias("__dch"))
        .groupBy("__id")
        .pivot("__nn", list(range(5, 11)))
        .agg(F.first("__dch"))
        .select(
            "__id",
            *[F.col(str(n)).alias(f"__dup{n}") for n in range(5, 11)],
        )
    )

    joined = (
        ids.join(lines, "__id", "left")
        .join(paras, "__id", "left")
        .join(tchars, "__id", "left")
        .join(top, "__id", "left")
        .join(dup, "__id", "left")
    )
    tc = F.greatest(F.coalesce("__tc", F.lit(0)), F.lit(1))
    fracs = {
        "dup_line_frac": F.coalesce("dup_line_frac_raw", F.lit(0.0)),
        "dup_line_char_frac": F.coalesce("dup_line_char_frac_raw", F.lit(0.0)),
        "dup_para_frac": F.coalesce("dup_para_frac_raw", F.lit(0.0)),
        "dup_para_char_frac": F.coalesce("dup_para_char_frac_raw", F.lit(0.0)),
        **{
            f"top_{n}_gram_char_frac": F.coalesce(
                F.col(f"__top{n}") / tc, F.lit(0.0)
            )
            for n in (2, 3, 4)
        },
        **{
            f"dup_{n}_gram_char_frac": F.coalesce(
                F.col(f"__dup{n}") / tc, F.lit(0.0)
            )
            for n in range(5, 11)
        },
    }
    rounded = {
        k: F.round(v, 6).cast("decimal(18,6)").cast("double")
        for k, v in fracs.items()
    }
    passed = None
    for k, thr in GOPHER_REPETITION_THRESHOLDS.items():
        flag = (rounded[k] <= F.lit(thr)).cast("int")
        passed = flag if passed is None else passed + flag
    return joined.select(
        F.col("__id").alias(id_col),
        *[v.alias(k) for k, v in rounded.items()],
        passed.cast("bigint").alias("n_rules_passed"),
        (passed == len(GOPHER_REPETITION_THRESHOLDS))
        .cast("bigint")
        .alias("repetition_pass"),
    )


def repetition_stats(df, id_col: str, text_col: str, k: int = 3):
    """Gopher-style repetition signal per document: ``rep_ratio`` =
    occurrences of the single most frequent k-gram / total k-gram
    occurrences (1/(n-k+1) for repetition-free text, →1 for degenerate
    loops), plus ``n_grams``.  Docs with < k tokens are omitted
    (no grams to measure).

    Plan: explode NON-distinct grams → per-(doc, gram) count → per-doc
    max/sum — two keyed aggregations, no per-element HOF over derived
    arrays (a transform-over-distinct-with-filter form re-evaluates
    the gram array per element and is quadratic per document)."""
    slim = df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__text"))
    toks = slim.select("__id", tokens("__text").alias("__toks"))
    grams = toks.select(
        "__id", F.explode(kgrams_of_tokens(F.col("__toks"), k)).alias("__g")
    )
    per_gram = grams.groupBy("__id", "__g").agg(F.count(F.lit(1)).alias("__c"))
    return (
        per_gram.groupBy("__id")
        .agg(
            F.max("__c").alias("__top"),
            F.sum("__c").alias("n_grams"),
        )
        .select(
            F.col("__id").alias(id_col),
            (F.col("__top").cast("double") / F.col("n_grams").cast("double")).alias(
                "rep_ratio"
            ),
            F.col("n_grams").cast("bigint").alias("n_grams"),
        )
    )


def unigram_entropy_stats(df, id_col: str, text_col: str):
    """Per-document unigram (word-type) entropy and type/token ratio —
    the ``rps_doc_unigram_entropy`` quality signal RedPajama-V2
    publishes (Together 2023), complementing the Gopher/C4/FineWeb
    rule families: ``H = sum over types of -(c/n) * ln(c/n)`` — low H
    flags keyword-stuffed / template pages that repetition RATIOS can
    miss when the repeats are spread across many positions.

    Plan: explode tokens -> ONE keyed (doc, word) count, a window sum
    for the doc total on the already-shuffled rows, one final keyed
    agg.  Per-type contributions are rounded 6dp and summed as
    DECIMAL(18,6), so the entropy is independent of shuffle order and
    hash-matches a SQL oracle.  Documents with zero tokens have no
    types and are omitted (both engines).

    Returns (id_col, n_tokens, n_types, type_token_ratio,
    unigram_entropy)."""
    from pyspark.sql import Window as W

    slim = df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__text"))
    per_w = (
        slim.select("__id", F.explode(tokens("__text")).alias("__w"))
        .filter(F.col("__w") != "")  # empty text tokenizes to ['']
        .groupBy("__id", "__w")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    p = F.col("__c") / F.col("__n")  # bigint/bigint -> IEEE double
    per = per_w.withColumn("__n", F.sum("__c").over(W.partitionBy("__id")))
    return (
        per.groupBy("__id")
        .agg(
            F.max("__n").alias("__nn"),
            F.count(F.lit(1)).alias("n_types"),
            F.sum(F.round((-p) * F.log(p), 6).cast("decimal(18,6)")).alias("__e"),
        )
        .select(
            F.col("__id").alias(id_col),
            F.col("__nn").cast("bigint").alias("n_tokens"),
            F.col("n_types").cast("bigint").alias("n_types"),
            (F.col("n_types") / F.col("__nn")).alias("type_token_ratio"),
            F.col("__e").cast("double").alias("unigram_entropy"),
        )
    )


def flesch_reading_ease(col: "Column | str") -> dict[str, Column]:
    """Flesch Reading Ease (Flesch 1948, the published formula used
    as a document-quality signal in curation pipelines):

        206.835 - 1.015 * (words/sentences) - 84.6 * (syllables/words)

    Deterministic engine-portable stand-ins, documented like
    :func:`c4_rules`' sentence counter: sentences = terminal-mark
    count ('.', '!', '?'), floored at 1; syllables = vowel-group runs
    ``[aeiouy]+`` in the lowercased text, plus 1 for each word with
    no vowel (so every word counts >= 1 syllable).

    Cross-engine arithmetic discipline: both ratios are int/int IEEE
    divisions rounded 6dp (int ratios never land on the repr-half
    boundary: power-of-two denominators are exactly representable —
    both engines round away from zero — and any other denominator
    has a 17-digit repr), then the three published constants combine
    in EXACT DECIMAL so no double product can land on a decimal half.
    Returns n_words, n_sentences, n_syllables, and ``flesch``."""
    from decimal import Decimal

    c = F.coalesce(_c(col), F.lit(""))
    w = F.filter(tokens(c), lambda x: x != F.lit(""))
    n_words = F.size(w)
    safe_w = F.greatest(n_words, F.lit(1))
    n_sent = F.greatest(F.size(F.regexp_extract_all(c, F.lit(r"[.!?]"), 0)), F.lit(1))
    vowel_groups = F.size(F.regexp_extract_all(F.lower(c), F.lit("[aeiouy]+"), 0))
    no_vowel_words = F.size(F.filter(w, lambda x: ~x.rlike("[aeiouy]")))
    n_syl = vowel_groups + no_vowel_words
    r1 = F.round(n_words / n_sent, 6).cast("decimal(18,6)")
    r2 = F.round(n_syl / safe_w, 6).cast("decimal(18,6)")
    flesch = (
        F.lit(Decimal("206.835"))
        - F.lit(Decimal("1.015")) * r1
        - F.lit(Decimal("84.6")) * r2
    )
    return {
        "n_words": n_words.cast("bigint"),
        "n_sentences": n_sent.cast("bigint"),
        "n_syllables": n_syl.cast("bigint"),
        "flesch": F.round(flesch, 6).cast("double"),
    }
