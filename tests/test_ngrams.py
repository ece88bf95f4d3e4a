"""Word tokens and word n-grams: the stream primitive
(``functions/text.token_windows``), the per-row array builder
(``word_ngrams``) and their DuckDB twins (``tokens_sql``,
``word_ngrams_sql``), checked against each other on text whose
whitespace sits where the two engines' splitters differ."""

from __future__ import annotations

import ast
import pathlib
import re

import duckdb
import pytest
from pyspark.sql import functions as F

from github_data_pipeline_spark.functions import text as T

STRINGS = [
    "the cat sat on the mat the cat sat",
    "   ",
    "",
    "aa aa bb aa aa bb cc",
    "\t\n  \n",
    "\tthe cat sat on the mat",
    "one two three four five six seven eight nine\n",
    "one",
    "aa bb",
    "a  b\tc\nd e f g h i j k",
]

# (n, pad) for every window shape a builder uses
WINDOW_SHAPES = [
    (1, (0, 0)),
    (2, (0, 0)),
    (3, (0, 0)),
    (8, (0, 0)),
    (2, (0, 1)),
    (3, (1, 0)),
    (3, (0, 2)),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        list(enumerate(STRINGS)), "doc_id long, text string"
    )


@pytest.fixture(scope="module")
def spark_tokens(docs):
    rows = docs.select("doc_id", T.tokens("text").alias("t")).collect()
    return {r["doc_id"]: list(r["t"]) for r in rows}


def _duck(select: str) -> list[list]:
    """``select`` evaluated by DuckDB over each string as ``text``, with
    its twin tokens as ``t``."""
    sql = (
        f"SELECT {select} FROM (SELECT text, {T.tokens_sql()} AS t"
        " FROM (SELECT ?::VARCHAR AS text))"
    )
    con = duckdb.connect()
    try:
        return [con.execute(sql, [s]).fetchone()[0] for s in STRINGS]
    finally:
        con.close()


def _spark_arrays(docs, col) -> list[list]:
    return [
        list(r[0]) for r in docs.orderBy("doc_id").select(col).collect()
    ]


def test_tokens_sql_matches_tokens(docs):
    assert _duck("t") == _spark_arrays(docs, T.tokens("text"))


def test_tokens_sql_lowercase_form(docs):
    assert _duck(T.tokens_sql("lower(text)")) == _spark_arrays(
        docs, T.tokens(F.lower("text"))
    )


@pytest.mark.parametrize("n", [1, 2, 3, 8])
def test_word_ngrams_sql_matches_word_ngrams(docs, n):
    want = _spark_arrays(docs, T.word_ngrams(T.tokens("text"), n))
    assert _duck(T.word_ngrams_sql("t", n)) == want
    assert any(want)  # non-vacuous at every n


@pytest.mark.parametrize("n,pad", WINDOW_SHAPES)
def test_token_windows_match_word_ngrams(docs, spark_tokens, n, pad):
    """Every window shape in use, against windows derived from the
    collected token arrays: full windows join to exactly the
    ``word_ngrams`` strings, padded edge windows carry NULL past the
    ends, and rows too short for one window emit nothing."""
    before, after = pad
    rows = T.token_windows(
        docs, T.tokens("text"), n, "doc_id", pad=pad
    ).collect()
    got = sorted(
        (r["doc_id"], r["start"], tuple(r[f"w{k}"] for k in range(n)))
        for r in rows
    )
    want = []
    for doc, toks in spark_tokens.items():
        if len(toks) < n - before - after:
            continue
        for start in range(-before, len(toks) - n + after + 1):
            want.append(
                (
                    doc,
                    start,
                    tuple(
                        toks[start + k] if 0 <= start + k < len(toks) else None
                        for k in range(n)
                    ),
                )
            )
    assert got == sorted(want)

    full = sorted(
        (doc, " ".join(w)) for doc, _, w in got if None not in w
    )
    arrays = docs.select(
        "doc_id", F.explode(T.word_ngrams(T.tokens("text"), n)).alias("g")
    ).collect()
    assert full == sorted((r["doc_id"], r["g"]) for r in arrays)
    assert full  # non-vacuous
    if pad != (0, 0):
        assert any(None in w for _, _, w in got)


def test_window_gram_joins_with_spaces_and_nulls_past_end(docs):
    rows = (
        T.token_windows(docs, T.tokens("text"), 3, "doc_id", pad=(0, 2))
        .where(F.col("doc_id") == 8)  # "aa bb"
        .select("start", *[T.window_gram(k).alias(f"g{k}") for k in (1, 2, 3)])
        .orderBy("start")
        .collect()
    )
    assert [tuple(r) for r in rows] == [
        (0, "aa", "aa bb", None),
        (1, "bb", None, None),
    ]


def test_tagged_gram_stream_matches_hof_form(spark):
    """The repetition-gates gram stream (token_windows padded two past
    the end, one (k, gram) row per k) must equal the interpreted
    transform()-built gram arrays as a (doc, source, k, gram)
    multiset, including the document-tail short grams (dropped via
    null-propagating concat) and empty/whitespace-only documents
    (dropped entirely by both forms)."""
    docs = spark.createDataFrame(
        [
            (1, "srcA", "the cat sat on the mat the cat sat"),
            (2, "srcA", "   "),  # whitespace-only: no tokens
            (3, "srcB", ""),  # empty
            (4, "srcB", "one"),  # single token: no bigrams/trigrams
            (5, "srcB", "aa bb"),  # two tokens: one bigram, no trigram
            (6, "srcB", "aa aa bb aa aa bb cc"),
        ],
        "doc_id long, source string, text string",
    )
    toks = T.tokens("text")

    def tagged(arr, k):
        return F.transform(
            arr, lambda g: F.struct(F.lit(k).alias("k"), g.alias("g"))
        )

    hof = docs.select(
        "doc_id",
        "source",
        F.explode(
            F.concat(
                tagged(toks, 1),
                tagged(T.word_ngrams(toks, 2), 2),
                tagged(T.word_ngrams(toks, 3), 3),
            )
        ).alias("p"),
    ).select("doc_id", "source", "p.k", "p.g")
    want = sorted(map(tuple, hof.collect()))
    stream = (
        T.token_windows(docs, toks, 3, "doc_id", "source", pad=(0, 2))
        .select(
            "doc_id",
            "source",
            F.inline(
                F.array(
                    *[
                        F.struct(
                            F.lit(k).alias("k"), T.window_gram(k).alias("g")
                        )
                        for k in (1, 2, 3)
                    ]
                )
            ),
        )
        .where(F.col("g").isNotNull())
    )
    got = sorted(map(tuple, stream.collect()))
    assert got == want
    # non-vacuity: every k present, tail grams really dropped
    ks = {r[2] for r in got}
    assert ks == {1, 2, 3}
    assert (4, "srcB", 1, "one") in got
    assert not any(r[0] == 4 and r[2] > 1 for r in got)
    assert not any(r[0] in (2, 3) for r in got)


# --- one definition: the guard -------------------------------------------

PKG = pathlib.Path(__file__).resolve().parents[1] / "github_data_pipeline_spark"

# the whitespace split (DuckDB) in any string form: '\s+' or '\\s+'
_WS_SPLIT = re.compile(r"string_split_regex\(.*\\{1,2}s\+")
_SHINGLE_HASH = re.compile(r"substr\(md5\([^)]*\),\s*1,\s*15\)")
_MINHASH_MIN = re.compile(r"MIN\(\(")
_BAND_STRUCT = re.compile(r"'band':")


def _sources():
    for path in sorted(PKG.rglob("*.py")):
        yield path.relative_to(PKG).as_posix(), path.read_text()


def _offenders(pattern: re.Pattern, allowed: str) -> list[str]:
    return [
        f"{rel}:{i}"
        for rel, text in _sources()
        if rel != allowed
        for i, line in enumerate(text.splitlines(), 1)
        if pattern.search(line)
    ]


def test_whitespace_tokenizer_sql_only_in_text_module():
    assert _offenders(_WS_SPLIT, "functions/text.py") == []


def test_shingle_hash_and_minhash_sql_only_in_neardup():
    for pattern in (_SHINGLE_HASH, _MINHASH_MIN, _BAND_STRUCT):
        assert _offenders(pattern, "operators/neardup.py") == [], pattern


def test_no_private_fragment_imports_between_plan_modules():
    bad = []
    for rel, text in _sources():
        for node in ast.walk(ast.parse(text)):
            if (
                isinstance(node, ast.ImportFrom)
                and (node.module or "").rsplit(".", 1)[-1]
                in ("dedup_plans", "lm_plans")
            ):
                bad += [
                    f"{rel}: {a.name}"
                    for a in node.names
                    if a.name.startswith("_")
                ]
    assert bad == []
