"""Adversarial corpus shapes the committed fixtures don't contain
(round-5 review findings): whitespace-only / empty documents must not
diverge the engines (DuckDB's string split yields a phantom '' token
unless filtered), and the BPE-encoder oracle's no-op sentinel must be
inert for documents containing a literal \\x02 pretoken."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest


def _docs_pdf(rows):
    return pd.DataFrame(
        [
            {
                "doc_id": i,
                "text": t,
                "lang": "en",
                "source": s,
                "n_chars": len(t),
            }
            for i, (s, t) in enumerate(rows)
        ]
    )


def _run_both(spark, module_name, query_name, pdf, sf_dir="unused"):
    """Run the registry builder (load_table patched to the adversarial
    frame) and its DuckDB oracle over the same rows. Builders that size
    joins from the parquet footer need ``sf_dir`` to hold the rows as
    ``documents.parquet``."""
    import importlib

    from github_data_pipeline_spark.plans import all_plans

    mod = importlib.import_module(
        f"github_data_pipeline_spark.plans.{module_name}"
    )
    sdf = spark.createDataFrame(pdf)
    orig = mod.load_table
    mod.load_table = lambda _s, _d, _t: sdf
    try:
        q = all_plans()[query_name]
        spark_rows = {
            tuple(r) for r in q.builder(spark, sf_dir).collect()
        }
    finally:
        mod.load_table = orig
    con = duckdb.connect()
    con.register("documents", pdf)
    oracle_rows = {tuple(r) for r in con.execute(q.oracle).fetchall()}
    con.close()
    return spark_rows, oracle_rows


ADVERSARIAL = [
    ("srcA", "the cat sat on the mat the cat sat"),
    ("srcA", "   "),  # whitespace-only: DuckDB split yields ['']
    ("srcB", ""),  # empty text
    ("srcB", "aa aa bb aa aa bb cc"),
    ("srcB", "\t\n  \n"),
    ("srcA", "\tthe cat sat on the mat"),  # leading tab: leading ''
    ("srcA", "one two three four five six seven eight nine\n"),  # trailing ''
    ("srcA", ""),
    ("srcB", "zero one two three four five six seven eight nine\n"),
]

# Oracles built on functions/text.tokens_sql that read only documents:
# each must agree with T.tokens on text that starts or ends with
# non-space whitespace, and on empty text.
TOKENIZER_TWIN_ENTRIES = [
    ("text_plans", "doc_token_profile"),
    ("text_plans", "lang_id_confusion"),
    ("text_plans", "doc_quality_by_source"),
    ("text_plans", "doc_sampling_gates"),
    ("mining_plans", "doc_dup_ngram_rate"),
    ("substring_plans", "substring_dup_spans"),
    ("source_overlap_plans", "source_shingle_overlap"),
    ("dedup_plans", "neardup_jaccard_pairs"),
    ("dedup_plans", "neardup_cluster_keepers"),
    ("dedup_plans", "minhash_lsh_candidates"),
    ("dedup_plans", "jaccard_prefix_filter_pairs"),
    ("snm_plans", "snm_neardup_pairs"),
    ("lsh_incremental_plans", "lsh_incremental_index"),
    ("lsh_incremental_plans", "lsh_capped_star_components"),
    ("curation_plans", "decontam_overlap"),
]


@pytest.mark.parametrize("module_name,query_name", TOKENIZER_TWIN_ENTRIES)
def test_tokenizer_twin_edge_docs(spark, tmp_path, module_name, query_name):
    pdf = _docs_pdf(ADVERSARIAL)
    pdf.to_parquet(tmp_path / "documents.parquet")
    got, want = _run_both(spark, module_name, query_name, pdf, str(tmp_path))
    assert got == want


def test_repetition_gates_whitespace_only_docs(spark):
    got, want = _run_both(
        spark, "repetition_plans", "doc_repetition_gates", _docs_pdf(ADVERSARIAL)
    )
    assert got == want


def test_mixture_whitespace_only_docs(spark):
    got, want = _run_both(
        spark, "mixture_plans", "mixture_alpha_sampling", _docs_pdf(ADVERSARIAL)
    )
    assert got == want


def test_bpe_encoder_sentinel_inert_with_x02_pretoken(spark, tmp_path):
    """A corpus yielding fewer than N_MERGES merges exercises the
    oracle's COALESCE no-op rounds; a literal \\x02 character is a
    valid punctuation pretoken and must survive them."""
    import importlib

    from github_data_pipeline_spark.plans import all_plans

    pdf = _docs_pdf(
        [
            ("srcA", "ab ab ab \x02 cd \x02"),
            ("srcA", "ab cd cd"),
        ]
    )
    enc_mod = importlib.import_module(
        "github_data_pipeline_spark.plans.bpe_encode_plans"
    )
    bpe_mod = importlib.import_module(
        "github_data_pipeline_spark.plans.bpe_plans"
    )
    sdf = spark.createDataFrame(pdf)
    orig_enc, orig_bpe = enc_mod.load_table, bpe_mod.load_table
    # isolate the merges artifact so the tiny corpus trains fresh
    import os

    os.environ["SPARK_GRAFT_CACHE_DIR"] = str(tmp_path)
    enc_mod.load_table = lambda _s, _d, _t: sdf
    bpe_mod.load_table = lambda _s, _d, _t: sdf
    try:
        q = all_plans()["bpe_encoded_profile"]
        spark_rows = {tuple(r) for r in q.builder(spark, str(tmp_path)).collect()}
    finally:
        enc_mod.load_table = orig_enc
        bpe_mod.load_table = orig_bpe
        del os.environ["SPARK_GRAFT_CACHE_DIR"]
    con = duckdb.connect()
    con.register("documents", pdf)
    oracle_rows = {tuple(r) for r in con.execute(q.oracle).fetchall()}
    # subword mass must include the two \x02 pretokens on both sides
    assert spark_rows == oracle_rows
    (row,) = spark_rows
    assert row[1] == 9  # pretokens: 7 words + 2 x02 marks... see below
