"""Web-payload extraction + text-analysis kernels.

Plays the role of the reference's feature-extraction preamble
(/root/reference/data_pipeline.py:40-45): raw payload -> typed columns. Per
BASELINE.json input_hint the extractor must be deterministic with
byte-identical output per url — so the algorithm here is FROZEN (pure
``re`` on decoded UTF-8; no html-lib dependency whose version could drift)
and covered by golden-digest tests.

Hot-path split:
- geo-coordinate extraction (``geo.position`` meta tag) is a **pure Column
  regexp** — JVM-side, codegen'd, no Python involved;
- full html->text strip runs as an Arrow-batched pandas UDF (string work on
  bytes is genuinely outside Catalyst's vocabulary);
- language-ID / quality / token stats are pure Column expressions.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

_TAG_RE = re.compile(rb"<head\b.*?</head>|<[^>]*>", re.DOTALL)
_WS_RE = re.compile(rb"[ \t\r\f\v]+")

_TITLE = r"<title>(.*?)</title>"


# -- geotag extraction: stays JVM-side ---------------------------------------


_GEO_META_ONE = r'<meta name="geo\.position" content="(-?\d+\.\d+;-?\d+\.\d+)"/>'


def geo_latlon(html_str: Column) -> Column:
    """Both coordinates of the geo.position meta tag in ONE regex pass:
    struct(lat, lon), nulls when absent. On the geotag flagship the regex
    IS the dominant cost, so pipelines extract once and project the
    struct fields. Value-identical to Python ``re`` over the same pattern
    (pinned in tests)."""
    v = F.regexp_extract(html_str, _GEO_META_ONE, 1)
    parts = F.split(v, ";")
    return F.struct(
        F.when(v != "", F.element_at(parts, 1).cast("double")).alias("lat"),
        F.when(v != "", F.element_at(parts, 2).cast("double")).alias("lon"),
    )


# -- frozen html->text extractor (Arrow batch) -------------------------------


def extract_text_bytes(html: bytes) -> str:
    """FROZEN algorithm: drop <head>, strip tags, collapse spaces per line,
    join non-empty lines with newline. Operates on raw bytes then decodes
    UTF-8 — byte-identical per input forever.
    """
    body = _TAG_RE.sub(b"\n", html)
    body = _WS_RE.sub(b" ", body)
    lines = [ln.strip() for ln in body.split(b"\n")]
    return b"\n".join([ln for ln in lines if ln]).decode("utf-8", errors="replace")


def extract_text_with_title(html: bytes) -> str:
    """Engine's golden extraction: '<title>\\n<body text>'. Matches the
    generator's ``text`` column byte-for-byte (the input_hint invariant)."""
    m = re.search(_TITLE.encode(), html, re.DOTALL)
    title = m.group(1).decode("utf-8", errors="replace") if m else ""
    body = extract_text_bytes(html)
    return f"{title}\n{body}" if title else body


def extract_text_udf():
    @F.pandas_udf("string")
    def _extract(html: pd.Series) -> pd.Series:
        # null payload -> null text (a WARC record with no body must not
        # abort the stage: re.search(None) raises TypeError)
        return html.map(
            lambda b: extract_text_with_title(b) if b is not None else None
        )

    return _extract


# -- text analysis: pure Column expressions ----------------------------------

STOPWORDS = [
    "the", "and", "of", "to", "a", "in", "is", "it", "that", "for",
    "on", "with", "as", "was", "at", "by", "an", "be", "this", "are",
]


def token_count(text: Column) -> Column:
    """Whitespace token count; SQL twin: len(regexp_split_to_array(...))."""
    t = F.trim(text)
    return F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, r"\s+"))).cast("long")


def stopword_ratio(text: Column) -> Column:
    """Fraction of whitespace tokens that are stopwords (lowercased)."""
    toks = F.split(F.lower(F.trim(text)), r"\s+")
    stop = F.size(F.filter(toks, lambda w: w.isin(STOPWORDS)))
    return stop.cast("double") / F.greatest(F.size(toks), F.lit(1)).cast("double")


def quality_score(text: Column) -> Column:
    """Composite quality heuristic in [0, 1]: length band + healthy
    stopword ratio. Deterministic arithmetic; SQL-twinned in the
    oracle queries."""
    ln = F.length(text).cast("double")
    len_score = F.least(ln / F.lit(500.0), F.lit(1.0))
    stop_score = F.least(stopword_ratio(text) * 4.0, F.lit(1.0))
    # least() SKIPS nulls (the recurring least/greatest trap): without
    # the guard a NULL text scores least(NULL, 1.0) = a perfect 1.0 and
    # sails through every quality filter. NULL in, NULL out.
    return F.when(
        text.isNull(), F.lit(None).cast("double")
    ).otherwise(F.round((len_score + stop_score) / 2.0, 6))


def lang_guess(text: Column) -> Column:
    """Tiny deterministic language-ID heuristic: stopword-list voting over
    en/de/fr function words. Not a real model — the point is the *operator
    shape* (per-row classification entirely in Column space)."""
    toks = F.split(F.lower(F.trim(text)), r"\s+")

    def hits(words: list[str]) -> Column:
        return F.size(F.filter(toks, lambda w: w.isin(words)))

    en = hits(["the", "and", "of", "is", "to"])
    de = hits(["der", "die", "und", "ist", "das"])
    fr = hits(["le", "la", "et", "est", "les"])
    return (
        F.when((en >= de) & (en >= fr) & (en > 0), "en")
        .when((de >= fr) & (de > 0), "de")
        .when(fr > 0, "fr")
        .otherwise("unknown")
    )


BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"


def bpe_ish_token_count(text: Column) -> Column:
    """Subword-style token count: alpha runs, single digits, single
    punctuation marks (the GPT-2-ish pre-tokenizer shape, simplified to a
    pattern with identical semantics in Java regex and RE2 so the oracle
    can replay it). Pure Column expr via regexp_count."""
    return F.regexp_count(text, F.lit(BPE_ISH_PATTERN)).cast("long")


def words(text: Column) -> Column:
    """Lowercased whitespace tokens, empties removed."""
    return F.filter(F.split(F.lower(text), r"\s+"), lambda x: x != "")


def word_bigrams(toks: Column) -> Column:
    """Adjacent word pairs of a token-array column (empty if < 2 tokens).

    IMPORTANT for consumers: pass a *materialized column* (stage the
    token array in a prior select) — nested higher-order lambdas over an
    inline expression make codegen re-derive it per element, turning an
    O(n^2) row into O(n^4) (measured 26 s vs 0.2 s on 500 short docs).
    """
    n = F.size(toks)
    bigrams = F.transform(
        F.sequence(F.lit(1), F.greatest(n - 1, F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(toks, i, 2)),
    )
    return F.when(n < 2, F.array().cast("array<string>")).otherwise(bigrams)


def dup_word_ratio(toks: Column) -> Column:
    """Fraction of word occurrences that repeat an earlier word
    (1 - distinct/total) — the Gopher-style repetition signal over a
    token-array column. 0.0 for empty text."""
    n = F.size(toks)
    return F.when(n == 0, F.lit(0.0)).otherwise(
        F.lit(1.0) - F.size(F.array_distinct(toks)).cast("double") / n.cast("double")
    )


def top_bigram_share(bg: Column) -> Column:
    """Share of the most frequent bigram in a bigram-array column — high
    values flag boilerplate/templated text. O(distinct^2) per row in JVM
    array exprs (docs are short; no UDF, no shuffle)."""
    top = F.array_max(
        F.transform(
            F.array_distinct(bg), lambda b: F.size(F.filter(bg, lambda x: x == b))
        )
    )
    return F.when(F.size(bg) == 0, F.lit(0.0)).otherwise(
        top.cast("double") / F.size(bg).cast("double")
    )


def winnow_fingerprints(text: str, k: int = 8, window: int = 4) -> list[int]:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD'03):
    min k-gram hash per sliding window of ``window`` hashes; robust
    position-independent signature used for plagiarism/near-dup detection.
    numpy kernel for the Arrow UDF below."""
    import numpy as np

    from geocore_spark.functions import hashing as hsh

    norm = " ".join(text.lower().split())
    if len(norm) < k:
        norm = norm.ljust(k, "\x00")
    data = np.frombuffer(norm.encode("utf-8", "replace"), dtype=np.uint8).astype(np.uint64)
    mod = np.uint64((1 << 61) - 1)
    base = np.uint64(257)
    powers = np.empty(k, dtype=np.uint64)
    powers[k - 1] = np.uint64(1)
    for i in range(k - 2, -1, -1):
        powers[i] = (powers[i + 1] * base) % mod
    n = len(data) - k + 1
    idx = np.arange(n)[:, None] + np.arange(k)[None, :]
    h = (data[idx] * powers[None, :] % mod).sum(axis=1) % mod
    _ = hsh
    if n <= window:
        return sorted({int(h.min())})
    w = np.lib.stride_tricks.sliding_window_view(h, window)
    return sorted({int(v) for v in w.min(axis=1)})


def winnow_udf(k: int = 8, window: int = 4):
    import pandas as pd

    @F.pandas_udf("array<long>")
    def _win(text: pd.Series) -> pd.Series:
        return text.map(lambda t: winnow_fingerprints(t or "", k, window))

    return _win


def fingerprint64(text: Column) -> Column:
    """Deterministic 64-bit document fingerprint: xxhash64 of the
    whitespace-normalized lowercased text (rolling-hash role; JVM-side)."""
    norm = F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")
    return F.xxhash64(norm)


def compression_ratio_udf(level: int = 6):
    """Arrow-batched zlib compression ratio: len(compress(utf8)) / len(utf8).

    The classic cheap gibberish/boilerplate detector (used alongside the
    Gopher repetition signals): highly repetitive boilerplate compresses
    far below ~0.3, random noise stays near 1.0, natural prose sits
    between. zlib at a fixed level is bit-deterministic for a given
    input, so the signal is reproducible across runs and executors.
    Null/empty text -> null (no 0/0). Python is unavoidable here (no JVM
    zlib surface in Spark SQL), so it pays the Arrow batch boundary once
    per ~10k rows, not per row.
    """
    import zlib

    @F.pandas_udf("double")
    def _ratio(text: pd.Series) -> pd.Series:
        def one(s):
            if s is None or s == "":
                return None
            raw = s.encode("utf-8")
            return len(zlib.compress(raw, level)) / len(raw)

        return text.map(one)

    return _ratio
