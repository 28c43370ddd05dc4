"""Text-analysis column functions for training-data pipelines.

All JVM-side expressions (no Python in the hot path): token counting,
character-class ratios, stopword-based quality scoring,
language-ID heuristics and document fingerprinting over a ``text`` column
(e.g. the ``documents`` table).  Each has a DuckDB-expressible twin used by
the oracle gate.  The one exception is ``vocab_token_count`` — the
pluggable real-tokenizer hook — which is an Arrow-batched pandas UDF by
necessity (greedy vocab segmentation is not expressible as a JVM column
function) and is opt-in, never on the default path.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

# tiny per-language stopword dictionaries for the lang-ID heuristic
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "los", "del", "se"],
    "de": ["der", "die", "und", "das", "ist", "von", "den", "mit", "für", "auf"],
    "fr": ["le", "la", "et", "les", "des", "un", "une", "que", "dans", "pour"],
}


def ws_tokens(text: Column) -> Column:
    """Whitespace tokens; empty/blank text -> empty array."""
    t = F.trim(text)
    return F.when(F.length(t) == 0, F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )


def token_count(text: Column) -> Column:
    return F.size(ws_tokens(text)).cast("long")


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-flavored token estimate: word pieces + standalone punctuation.

    A cheap upper-structure proxy for tokenizer counts: alphanumeric runs
    count 1 per ceil(len/4) (~4 chars per BPE token) plus punctuation marks.
    """
    words = F.filter(ws_tokens(text), lambda w: F.length(w) > 0)
    word_tokens = F.aggregate(
        words,
        F.lit(0).cast("long"),
        lambda acc, w: acc + F.ceil(F.length(w) / 4.0).cast("long"),
    )
    punct = F.length(F.regexp_replace(text, r"[^\p{Punct}]", ""))
    return (word_tokens + punct).cast("long")


def vocab_token_count(text: Column, vocab, unk_is_char: bool = True) -> Column:
    """Token count under a REAL tokenizer vocabulary: greedy
    longest-prefix-match segmentation (the WordPiece decode rule) of each
    whitespace word against ``vocab``; unmatched text consumes one token
    per character (``unk_is_char=True``, byte-fallback-style) or one per
    residual run.

    This is the pluggable hook that lets token budgets reflect an actual
    tokenizer instead of the ``bpe_ish_token_count`` proxy: pass the
    model's merge/piece table as ``vocab``.  Arrow-batched
    pandas UDF.  ``vocab`` may be a plain iterable of pieces (fine for
    toy vocabs — it rides the task closure) or a
    ``pyspark.Broadcast`` of one — the scale-safe default for a
    100k-piece production vocab: the UDF closure captures only the
    broadcast handle, the piece set ships ONCE per executor and is
    rebuilt once per Python worker (memoized), never serialized per
    task.  NULL text counts 0.
    """
    from pyspark.broadcast import Broadcast

    if isinstance(vocab, Broadcast):
        # validate on the driver (Broadcast.value works driver-side) but
        # capture only the HANDLE in the UDF closure — capturing the
        # materialized set would re-serialize it into every task
        if not frozenset(vocab.value):
            raise ValueError("vocab_token_count needs a non-empty vocab")
    else:
        vocab = frozenset(vocab)
        if not vocab:
            raise ValueError("vocab_token_count needs a non-empty vocab")

    _state: dict = {}

    def _resolve() -> tuple[frozenset, int]:
        # once per Python worker process (workers are reused across tasks)
        if not _state:
            src = vocab.value if isinstance(vocab, Broadcast) else vocab
            pieces = frozenset(src)
            _state["pieces"] = pieces
            _state["max_len"] = max(len(p) for p in pieces)
        return _state["pieces"], _state["max_len"]

    def _count_word(word: str, pieces: frozenset, max_len: int) -> int:
        i, n, c = 0, len(word), 0
        while i < n:
            for ln in range(min(max_len, n - i), 0, -1):
                if word[i : i + ln] in pieces:
                    c += 1
                    i += ln
                    break
            else:
                c += 1
                i += 1 if unk_is_char else _unk_run(word, i, pieces, max_len)
        return c

    def _unk_run(word: str, i: int, pieces: frozenset, max_len: int) -> int:
        j = i
        n = len(word)
        while j < n and not any(
            word[j : j + ln] in pieces for ln in range(1, min(max_len, n - j) + 1)
        ):
            j += 1
        return max(j - i, 1)

    @F.pandas_udf("long")
    def _vocab_count(texts: pd.Series) -> pd.Series:
        pieces, max_len = _resolve()
        return pd.Series(
            [
                sum(_count_word(w, pieces, max_len) for w in t.split())
                if t
                else 0
                for t in texts.fillna("")
            ],
            dtype="int64",
            index=texts.index,
        )

    return _vocab_count(text)


def punct_ratio(text: Column) -> Column:
    n = F.length(text)
    p = F.length(F.regexp_replace(text, r"[^\p{Punct}]", ""))
    return F.when(n > 0, p / n).otherwise(F.lit(0.0))


def digit_ratio(text: Column) -> Column:
    n = F.length(text)
    d = F.length(F.regexp_replace(text, r"[^0-9]", ""))
    return F.when(n > 0, d / n).otherwise(F.lit(0.0))


def stopword_count(text: Column, lang: str = "en") -> Column:
    words = STOPWORDS[lang]
    toks = F.transform(ws_tokens(text), lambda w: F.lower(w))
    return F.size(F.filter(toks, lambda w: w.isin(words))).cast("long")


def stopword_ratio(text: Column, lang: str = "en") -> Column:
    n = token_count(text)
    return F.when(n > 0, stopword_count(text, lang) / n).otherwise(F.lit(0.0))


def quality_score(text: Column) -> Column:
    """Heuristic [0,1] quality: long enough, mostly letters, some stopwords.

    The usual pre-training heuristics (length / punctuation / stopword
    density), deliberately simple and fully expression-based.
    """
    n_tok = token_count(text)
    len_ok = F.least(n_tok / F.lit(20.0), F.lit(1.0))
    punct_pen = F.greatest(F.lit(0.0), F.lit(1.0) - punct_ratio(text) * 4)
    digit_pen = F.greatest(F.lit(0.0), F.lit(1.0) - digit_ratio(text) * 4)
    stop_ok = F.least(stopword_ratio(text) * 4, F.lit(1.0))
    return (len_ok * 0.4 + punct_pen * 0.2 + digit_pen * 0.2 + stop_ok * 0.2).cast(
        "double"
    )


def _hits(toks: Column, words: list[str]) -> Column:
    # NB: the lambda must take exactly ONE parameter — pyspark treats a
    # second parameter (even defaulted) as the element-index argument
    return F.size(F.filter(toks, lambda w: w.isin(words)))


def lang_guess(text: Column) -> Column:
    """Argmax of per-language stopword hits; 'und' (undetermined) on ties
    at zero."""
    toks = F.transform(ws_tokens(text), lambda w: F.lower(w))
    scores = {lang: _hits(toks, ws) for lang, ws in STOPWORDS.items()}
    best = F.greatest(*scores.values())
    out = F.lit("und")
    # deterministic tie-break: language order as declared
    for lang in reversed(list(STOPWORDS)):
        out = F.when((scores[lang] == best) & (best > 0), F.lit(lang)).otherwise(out)
    return out


def normalize_text(text: Column) -> Column:
    """Canonical form for exact-dup detection: lowercase, collapse
    whitespace, strip."""
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


def fingerprint_md5(text: Column) -> Column:
    """Normalized-content fingerprint: equal for texts that differ only
    in case and whitespace."""
    return F.md5(normalize_text(text))


def bind_once(col: Column, f) -> Column:
    """Evaluate ``col`` ONCE per row and pass the result into ``f`` as a
    bound lambda variable.

    Referencing a Catalyst EXPRESSION inside a higher-order-function
    lambda inlines the whole expression per element — e.g. an n-gram
    builder that slices ``split(text)`` inside ``transform(sequence(...))``
    re-tokenizes the document for EVERY window, turning a linear scan
    into O(len^2) (measured: 3.2x on the 12M-window span bench).
    ``transform`` over a one-element array is the expression-level `let`:
    the element IS a bound variable, so inner references are O(1)."""
    return F.element_at(F.transform(F.array(col), f), 1)


def hash60(col: Column) -> Column:
    """First 60 bits of md5 as a non-negative int64.  md5 (not
    xxhash64) so an external SQL engine recomputes identical keys —
    DuckDB twin: ``('0x' || substr(md5(x), 1, 15))::BIGINT``."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


# -- PII scrubbing (emails / URLs / IPv4) ------------------------------------
# Patterns restricted to syntax Java regex and RE2 (DuckDB) interpret
# identically — character classes, bounded repetition, \b, (?:...) — so the
# redaction is exactly reproducible in the SQL oracle.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
# explicit whitespace class, NOT \s: Java's \s includes \x0B (vertical
# tab) but RE2's does not, so a \s-based negation tokenizes differently
# across engines on control-character text
URL_RE = "https?://[^ \t\n\r\x0b\f]+"
IPV4_RE = r"\b(?:\d{1,3}\.){3}\d{1,3}\b"


def pii_counts(text: Column):
    """(n_emails, n_urls, n_ips) — the audit numbers a scrubbing pass
    reports per document."""
    return (
        F.regexp_count(text, F.lit(EMAIL_RE)).cast("long"),
        F.regexp_count(text, F.lit(URL_RE)).cast("long"),
        F.regexp_count(text, F.lit(IPV4_RE)).cast("long"),
    )


def redact_pii(text: Column) -> Column:
    """Replace emails -> [EMAIL], then URLs -> [URL], then bare IPv4s ->
    [IP].  Fixed application order makes the result deterministic when
    patterns could overlap (an email inside a URL)."""
    out = F.regexp_replace(text, EMAIL_RE, "[EMAIL]")
    out = F.regexp_replace(out, URL_RE, "[URL]")
    return F.regexp_replace(out, IPV4_RE, "[IP]")
