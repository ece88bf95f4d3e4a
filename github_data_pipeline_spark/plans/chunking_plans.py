"""Registry entry for context-window chunking (operators/chunking.py).

The local cell-exact checker and tests/test_chunking.py pin it, and
bench.py times it with the rest of the oracle set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.chunking import chunk_documents
from ..sources.tables import load_table
from .core import REGISTRY

_add = REGISTRY.add

_CHUNK = 512
_OVERLAP = 64
_STEP = _CHUNK - _OVERLAP


@_add(
    "doc_chunk_windows",
    f"""
    WITH d AS (
      SELECT doc_id, COALESCE(text, '') AS text FROM documents
    ), c AS (
      SELECT doc_id,
             u.i - 1 AS chunk_idx,
             substr(text, (u.i - 1) * {_STEP} + 1, {_CHUNK}) AS chunk_text
      FROM d,
           UNNEST(generate_series(
             1, 1 + (GREATEST(length(text) - {_CHUNK}, 0) + {_STEP - 1}) // {_STEP}
           )) AS u(i)
    )
    SELECT doc_id,
           CAST(chunk_idx AS BIGINT) AS chunk_idx,
           CAST(length(chunk_text) AS BIGINT) AS chunk_len,
           md5(chunk_text) AS chunk_fp
    FROM c
    """,
    doc="Context-window chunking: split each document into 512-char "
    "windows overlapping by 64, the training-sequence preparation "
    "step upstream of operators/packing.py. Entirely map-side "
    "(sequence + posexplode + substring inside whole-stage codegen, "
    "zero shuffles), so it scales linearly with corpus bytes. The "
    "oracle reproduces the integer ceil-division chunk count and "
    "fingerprints every chunk with md5 — a cell-exact proof that both "
    "engines cut identical windows.",
    tags=("text", "chunking", "training"),
)
def doc_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    chunks = chunk_documents(docs, chunk_chars=_CHUNK, overlap=_OVERLAP)
    return chunks.select(
        "doc_id",
        "chunk_idx",
        F.length("chunk_text").cast("long").alias("chunk_len"),
        F.md5("chunk_text").alias("chunk_fp"),
    )
