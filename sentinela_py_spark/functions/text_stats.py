"""Text-analysis column builders for the training-data pipeline surface.

All pure Column expressions (whole-stage codegen, no Python in the hot
path): token counting, quality scoring, stopword-based language ID,
document fingerprinting. Reference analog: the text normalization layer at
sentinela/extraction/normalization.py (M1-M4 in SURVEY.md §2.8) — here
generalized to corpus-scale document analytics.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Stopword sets per language for the n-gram/stopword language heuristic.
# Deliberately small + deterministic; real deployments swap in fasttext-style
# models behind the same column contract.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "una", "los", "las"),
    "fr": ("le", "la", "les", "de", "et", "un", "une", "des", "du", "que"),
    "de": ("der", "die", "das", "und", "ein", "eine", "zu", "den", "von", "mit"),
    "pt": ("o", "a", "de", "que", "e", "do", "da", "em", "um", "para"),
}

ENGLISH_STOPWORDS = LANG_STOPWORDS["en"]


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization as an array column."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(c, " ")


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


def word_shingles(text: Column | str, k: int = 3) -> Column:
    """k-word shingles as an array column, empty for docs with < k tokens.

    Built from k aligned ``slice``s folded with ``zip_with`` — no
    per-element subscripting.  This form is ~6x faster than a
    ``transform(sequence(...), i -> words[i]...)`` pipeline (measured at
    sf0.1): the slices are computed once per row instead of re-evaluating
    ``split``+``element_at`` per shingle element, and no CASE guard is
    needed because ``slice(words, s, greatest(n-k+1, 0))`` is naturally
    empty for short docs — which also matches the DuckDB oracle's
    ``generate_series(1, 0) = []`` semantics under ANSI mode (no
    INVALID_ARRAY_INDEX_IN_ELEMENT_AT on 0/1/2-token docs)."""
    words = tokens(text)
    n_sh = F.greatest(F.size(words) - F.lit(k - 1), F.lit(0))
    out = F.slice(words, F.lit(1), n_sh)
    for off in range(1, k):
        nxt = F.slice(words, F.lit(off + 1), n_sh)
        out = F.zip_with(out, nxt, lambda acc, w: F.concat_ws(" ", acc, w))
    return out


def winnow_fingerprint(text: Column | str) -> Column:
    """Winnowing (MOSS-style rolling-hash) document fingerprint: hash the
    k-gram sequence (k = 3), take the minimum of every w-wide (w = 4)
    sliding window, and digest the sorted distinct minima. Local minima
    are position-stable,
    so insertions/deletions outside a window leave the rest of the
    fingerprint intact — the property bag-of-words digests lack — while
    the w-window guarantees ≥ one selected hash per w consecutive grams
    (the winnowing coverage bound). Pure column algebra: the rolling
    window is w aligned slices folded with least(), the same
    no-per-element-subscripting shape as ``word_shingles``."""
    sh = word_shingles(text, 3)
    h_expr = F.transform(
        sh, lambda g: F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("long")
    )

    # Let-bind the hash array through a 1-element transform: `h` below is a
    # lambda VARIABLE (cheap reference), so the md5 pipeline evaluates once
    # per row instead of once per slice — Catalyst does not CSE repeated
    # subtrees inside a single expression, and the w inline copies measured
    # ~5x slower at sf0.1.
    def _body(h: Column) -> Column:
        n_win = F.greatest(F.size(h) - F.lit(3), F.lit(0))
        mins = F.slice(h, F.lit(1), n_win)
        for off in range(1, 4):
            mins = F.zip_with(mins, F.slice(h, F.lit(off + 1), n_win), lambda a, b: F.least(a, b))
        # Standard winnowing for sequences shorter than the window: one
        # window over the whole hash array (min of all hashes), NOT the
        # empty selection — otherwise every doc with < k+w-1 tokens would
        # share one spurious 'duplicate' digest. Truly gram-less docs
        # (< k tokens) still share the empty-selection digest.
        mins = F.when(
            (F.size(h) > 0) & (F.size(h) < 4), F.array(F.array_min(h))
        ).otherwise(mins)
        selected = F.array_sort(F.array_distinct(mins))
        return F.md5(F.concat_ws("-", F.transform(selected, lambda x: x.cast("string"))))

    return F.transform(F.array(h_expr), _body).getItem(0)


def stopword_count(text: Column | str, stopwords: tuple[str, ...] = ENGLISH_STOPWORDS) -> Column:
    toks = tokens(text)
    quoted = ", ".join(f"'{s}'" for s in stopwords)
    return F.size(F.filter(toks, lambda t: t.isin(*stopwords)))


def avg_token_len(text: Column | str) -> Column:
    """Mean token length = (chars - separators) / tokens, integer-exact."""
    c = F.col(text) if isinstance(text, str) else text
    n_tok = token_count(c)
    total_chars = F.length(c) - (n_tok - F.lit(1))  # chars minus the spaces
    return total_chars.cast("double") / n_tok.cast("double")


def quality_score(text: Column | str) -> Column:
    """Deterministic [0,1] quality heuristic: rewards mid-length docs and a
    healthy stopword ratio — the shape of C4/Gopher-style quality rules."""
    c = F.col(text) if isinstance(text, str) else text
    n_tok = token_count(c).cast("double")
    sw_ratio = stopword_count(c).cast("double") / n_tok
    len_ok = F.when((n_tok >= 20) & (n_tok <= 100000), F.lit(0.5)).otherwise(F.lit(0.0))
    sw_ok = F.when((sw_ratio >= 0.05) & (sw_ratio <= 0.6), F.lit(0.5)).otherwise(F.lit(0.0))
    return len_ok + sw_ok


def doc_fingerprint(text: Column | str) -> Column:
    """Order-insensitive content fingerprint: md5 over the sorted distinct
    token set. Identical token bags → identical fingerprint, robust to
    word order shuffling (a cheap near-dup signal)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(F.split(c, " ")))))


def add1_logp(cnt, total, support) -> Column:
    """``ln((cnt + 1) / (total + support))`` — THE add-1-smoothed
    log-likelihood kernel, one definition for every bag/bigram language
    model in the engine (r13, r12 verdict #6): the char-bigram quality
    LM (`plans.textops._qr_charlm`), the word-bigram LM twin — micro-
    logp model build and the frozen-scoring unseen-mass backoffs
    (`_qr_wordlm` / `qr_frozen_model` / `qr_score_frozen`) — and DSIR's
    two hashed-gram bag models (`operators.sampling.dsir_log_weights`,
    whose importance ratio is a difference of two of these).

    Bit-discipline: numerator ``(cnt + 1)`` casts to double, then ONE
    IEEE division against ``(total + support)`` as double — exactly the
    expression every caller historically inlined, so extracting the
    kernel changed no output bits (pinned by the unchanged oracles).
    ``cnt = lit(0)`` gives the add-1 unseen mass ``ln(1/(total+V))``.
    Rounding (6dp vs integer micro-units) stays at the call sites — it
    is a SERIALIZATION choice of each model format, not part of the
    smoothing."""
    return F.log((cnt + F.lit(1)).cast("double") / (total + support).cast("double"))
