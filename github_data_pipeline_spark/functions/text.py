"""Text-analysis column expressions for the training-data pipeline.

Language-ID, quality scoring, token counting and document fingerprinting
over the ``documents`` table — all as built-in-function expressions
(JVM-side, codegen-friendly), no Python in the hot path. Designed so the
same arithmetic is expressible in ANSI SQL for oracle checking: integer
counts and single final divisions only (see functions/money.py for why).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TOKEN_SPLIT_PATTERN = r"\s+"

# Tiny deterministic marker-word lists per language for the n-gram/stopword
# language-ID heuristic. Real corpora would use trained profiles; the
# heuristic structure (per-language hit counts -> argmax with lexicographic
# tiebreak) is what matters and is what the oracle re-implements.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "is"),
    "de": ("der", "die", "das", "und", "ist"),
    "es": ("el", "la", "de", "que", "es"),
    "fr": ("le", "la", "et", "les", "est"),
    "zh": ("de5", "shi4", "le5", "zai4", "he2"),
}

EN_STOPWORDS = ("the", "a", "an", "of", "and", "to", "in", "is", "it", "on")

FINGERPRINT_MOD = 1_000_003


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def tokens(c: Column | str) -> Column:
    """Whitespace tokenization with empty tokens dropped."""
    return F.filter(
        F.split(F.trim(_col(c)), TOKEN_SPLIT_PATTERN), lambda t: t != F.lit("")
    )


def tokens_sql(expr: str = "text") -> str:
    """DuckDB twin of :func:`tokens` for a VARCHAR expression ``expr``
    (pass ``lower(text)`` for the case-folded LM vocabulary). The
    ``''`` filter matters: DuckDB's split keeps a phantom empty token
    for leading/trailing non-space whitespace and for empty text."""
    return (
        f"list_filter(string_split_regex(trim({expr}), "
        f"'{TOKEN_SPLIT_PATTERN}'), t -> t <> '')"
    )


def token_count(c: Column | str) -> Column:
    return F.size(tokens(c))


def stopword_hits(tok: Column, words: tuple[str, ...] = EN_STOPWORDS) -> Column:
    """Number of tokens found in `words` (lowercased exact match)."""
    wordset = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(tok, lambda t: F.array_contains(wordset, F.lower(t))))


def stopword_hits_sql(toks: str, words: tuple[str, ...] = EN_STOPWORDS) -> str:
    """DuckDB twin of :func:`stopword_hits` over a list column ``toks``."""
    wordset = ", ".join(f"'{w}'" for w in words)
    return f"len(list_filter({toks}, t -> list_contains([{wordset}], lower(t))))"


def char_count(tok: Column) -> Column:
    """Total characters across tokens (exact int, order-independent)."""
    return F.aggregate(tok, F.lit(0), lambda acc, t: acc + F.length(t))


def lang_scores(tok: Column) -> dict[str, Column]:
    """Per-language marker-hit counts."""
    return {lang: stopword_hits(tok, markers) for lang, markers in LANG_MARKERS.items()}


def lang_id(tok: Column) -> Column:
    """Argmax language by marker hits; ties break lexicographically.

    One ``array_max`` over ``struct(score, -rank, lang)`` with the
    languages in sorted order: a higher score wins, and among equal
    scores the lower rank — the lexicographically first language.
    Pass a column reference, not an expression: each language's score
    re-evaluates ``tok``."""
    scores = lang_scores(tok)
    cands = [
        F.struct(
            scores[lang].alias("score"),
            F.lit(-rank).alias("rank"),
            F.lit(lang).alias("lang"),
        )
        for rank, lang in enumerate(sorted(scores))
    ]
    return F.array_max(F.array(*cands))["lang"]


def lang_id_sql(toks: str) -> str:
    """DuckDB twin of :func:`lang_id` over a list column ``toks``."""
    cands = ", ".join(
        f"{{'score': {stopword_hits_sql(toks, LANG_MARKERS[lang])}, "
        f"'rank': {-rank}, 'lang': '{lang}'}}"
        for rank, lang in enumerate(sorted(LANG_MARKERS))
    )
    return f"list_max([{cands}]).lang"


def word_ngrams(tok: Column, n: int) -> Column:
    """Word n-gram shingles: ARRAY<STRING> of space-joined n-token
    windows, one array per row. For a row-per-gram stream use
    :func:`token_windows` instead."""
    idx = F.sequence(F.lit(1), F.size(tok) - (n - 1))
    grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(tok, i, n)))
    return F.when(F.size(tok) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def word_ngrams_sql(toks: str, n: int) -> str:
    """DuckDB twin of :func:`word_ngrams` over a list column ``toks``."""
    gram = " || ' ' || ".join(
        f"{toks}[i + {k}]" if k else f"{toks}[i]" for k in range(n)
    )
    return (
        f"list_transform(generate_series(1, greatest(len({toks}) - {n - 1}, 0)),"
        f" i -> {gram})"
    )


def token_windows(
    df: DataFrame,
    toks: Column | str,
    n: int,
    *keep: str,
    pad: tuple[int, int] = (0, 0),
) -> DataFrame:
    """(*keep, start, w0..w{n-1}): one row per n-token window of ``toks``.

    ``start`` is the 0-based index of the window's first token and runs
    from ``-pad[0]`` to ``size - n + pad[1]``; ``wk`` is token
    ``start + k``, NULL past either end. ``pad=(0, 0)`` gives exactly
    the windows of :func:`word_ngrams`; a pad adds edge windows hanging
    off the front or the back. Rows too short for one window emit
    nothing.

    A generator, not ``word_ngrams``' transform: higher-order functions
    evaluate outside whole-stage codegen, while the Generate over the
    start sequence and the ``get`` projection above it compile."""
    before, after = pad
    t = df.select(*keep, _col(toks).alias("_toks")).where(
        F.size("_toks") >= n - before - after
    )
    starts = F.sequence(F.lit(-before), F.size("_toks") - (n - after))
    gen = t.select(*keep, "_toks", F.explode(starts).alias("start"))
    start = F.col("start")
    return gen.select(
        *keep,
        "start",
        *[
            F.get("_toks", start + k if k else start).alias(f"w{k}")
            for k in range(n)
        ],
    )


def window_gram(k: int) -> Column:
    """The first ``k`` tokens of a :func:`token_windows` row joined by
    spaces — the string :func:`word_ngrams` emits; NULL when any of
    them is past the end."""
    parts = [F.col("w0")]
    for i in range(1, k):
        parts += [F.lit(" "), F.col(f"w{i}")]
    return F.concat(*parts) if k > 1 else parts[0]


def token_poly_hash(t: Column) -> Column:
    """Cheap deterministic per-token hash from length + boundary chars.

    Used by the *oracle-checkable* fingerprint path; production
    fingerprints should use :func:`fingerprint64`.
    """
    return (
        F.length(t) * 961
        + F.ascii(F.substring(t, 1, 1)) * 31
        + F.ascii(F.substring(t, -1, 1))
    ).cast("long")


def fingerprint_rolling(tok: Column) -> Column:
    """Order-sensitive rolling document fingerprint (Karp-Rabin shape).

    ``acc = (acc * 31 + h(token)) mod 1_000_003`` folded left-to-right —
    exactly reproducible in ANSI SQL via a reduce/fold, unlike engine-
    specific hash functions.
    """
    return F.aggregate(
        tok,
        F.lit(0).cast("long"),
        lambda acc, t: (acc * 31 + token_poly_hash(t)) % FINGERPRINT_MOD,
    )


def fingerprint64(c: Column | str) -> Column:
    """Production 64-bit content fingerprint (xxhash64, JVM-side)."""
    return F.xxhash64(_col(c))


# --- curation cleaning (pre-tokenization normalization) -----------------
#
# The standard text-cleaning passes a training pipeline applies before
# quality scoring / dedup / tokenization. All pure regexp_replace
# chains — JVM-side, whole-stage-codegen, no Python in the path.

_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_IPV4_RE = r"\b(?:\d{1,3}\.){3}\d{1,3}\b"
_LONG_ID_RE = r"\b\d{9,}\b"
_HTML_TAG_RE = r"<[^<>]{1,256}>"
_CONTROL_RE = r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]"


def strip_html(c: Column | str) -> Column:
    """Drop HTML/XML tags (bounded tag length guards against quadratic
    regex behavior on adversarial '<' runs)."""
    return F.regexp_replace(_col(c), _HTML_TAG_RE, " ")


def remove_control_chars(c: Column | str) -> Column:
    """Strip C0 control characters (keep \\t \\n \\r)."""
    return F.regexp_replace(_col(c), _CONTROL_RE, "")


def normalize_whitespace(c: Column | str) -> Column:
    """Collapse whitespace runs to single spaces and trim."""
    return F.trim(F.regexp_replace(_col(c), r"\s+", " "))


def mask_pii(c: Column | str) -> Column:
    """Replace emails, IPv4 addresses and long digit runs with typed
    placeholder tokens — the redaction pass before text leaves the
    curation boundary."""
    out = F.regexp_replace(_col(c), _EMAIL_RE, "<EMAIL>")
    out = F.regexp_replace(out, _IPV4_RE, "<IP>")
    return F.regexp_replace(out, _LONG_ID_RE, "<ID>")


def clean_text(c: Column | str) -> Column:
    """The composed curation cleaner: tags -> control chars -> PII ->
    whitespace. Order matters (tag innards may contain PII-ish runs;
    whitespace collapse last)."""
    return normalize_whitespace(mask_pii(remove_control_chars(strip_html(c))))


# --- intra-document repetition (C4/RefinedWeb-style) --------------------


def dedupe_lines(c: Column | str) -> Column:
    """Keep the FIRST occurrence of each line, drop later repeats and
    blank lines — the boilerplate-line pass (nav bars, cookie banners,
    repeated headers) that runs before whitespace normalization
    collapses newlines. array_distinct preserves first-occurrence
    order, so this is pure codegen with no Python in the path."""
    lines = F.transform(F.split(_col(c), r"\n"), lambda l: F.trim(l))
    kept = F.filter(F.array_distinct(lines), lambda l: F.length(l) > 0)
    return F.array_join(kept, "\n")


def max_ngram_repetition(tok: Column, n: int = 2) -> Column:
    """Fraction of a doc's n-gram occurrences taken by its single most
    frequent n-gram — the standard intra-doc repetition score (a doc
    that is one phrase looped scores near 1.0; natural text stays
    low). Computed as the longest run in the SORTED shingle array via
    one array fold: no explode, no shuffle, no UDF."""
    grams = F.array_sort(word_ngrams(tok, n))
    zero = F.lit(0).cast("long")
    acc0 = F.struct(
        F.lit("").alias("prev"), zero.alias("run"), zero.alias("best")
    )

    def step(acc: Column, g: Column) -> Column:
        new_run = F.when(g == acc["prev"], acc["run"] + 1).otherwise(
            F.lit(1).cast("long")
        )
        return F.struct(
            g.alias("prev"),
            new_run.alias("run"),
            F.greatest(acc["best"], new_run).alias("best"),
        )

    best = F.aggregate(grams, acc0, step, lambda a: a["best"])
    return F.when(
        F.size(grams) > 0, best.cast("double") / F.size(grams)
    ).otherwise(F.lit(0.0))
