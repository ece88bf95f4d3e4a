"""Deterministic document identity — the engine's dedup/upsert keys.

Re-expresses the reference's ES ``_id`` generators
(``src/indexing/schema.py:303-366``): every logical table has a stable
primary key so re-ingesting upserts instead of duplicating. Keys are the
merge keys for the incremental layer (operators/incremental.py).
"""

from __future__ import annotations

import hashlib
import json
from typing import Any

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(x: Column | str) -> Column:
    return F.col(x) if isinstance(x, str) else x


# --- the repo-wide md5-h32 family --------------------------------------
#
# One definition for "first 8 hex chars of md5 as a long" — the
# deterministic 32-bit hash every sampler/sketch/split in this engine
# keys on (budget sampling, train/val/test splits, KMV sketches).
# Keeping the Column and SQL renderings side by side is the parity
# contract: they must never drift independently.


def md5_h32(c: Column) -> Column:
    """32-bit md5 prefix of ``CAST(c AS STRING)`` as a long."""
    return F.conv(F.substring(F.md5(c.cast("string")), 1, 8), 16, 10).cast(
        "long"
    )


def md5_h32_sql(x: str) -> str:
    """DuckDB twin of :func:`md5_h32` for an expression ``x``."""
    return (
        f"CAST(('0x' || substr(md5(CAST({x} AS VARCHAR)), 1, 8)) AS BIGINT)"
    )


# --- per-table key expressions (schema.py:303-366) ---------------------


def key_issue(repo_name: Column | str, number: Column | str) -> Column:
    return F.concat_ws("#", _c(repo_name), F.lit("issue"), _c(number))


def key_contributor(repo_name: Column | str, login: Column | str) -> Column:
    return F.concat_ws("#", _c(repo_name), F.lit("contrib"), _c(login))


# --- canonical-JSON content hash (schema.py:25-29) ----------------------


def stable_hash_id(cols: dict[str, Column | str], salt: str = "") -> Column:
    """sha1 over canonical JSON of the given fields.

    The reference canonicalizes with ``json.dumps(sort_keys=True,
    separators=(",", ":"))`` then SHA-1. Spark's ``to_json`` uses the same
    separators but does NOT sort keys — so we build the struct with fields
    pre-sorted by name, which yields byte-identical JSON for the scalar
    types the reference hashes (strings / integers / booleans / null).
    """
    fields = [_c(cols[name]).alias(name) for name in sorted(cols)]
    # ignoreNullFields=false: json.dumps keeps nulls, so must we —
    # Spark's default silently drops them and breaks hash parity
    doc = F.to_json(F.struct(*fields), {"ignoreNullFields": "false"})
    return F.sha1(F.concat(doc, F.lit(salt)))


def canonical_json(cols: dict[str, Column | str]) -> Column:
    """The sorted-key, compact-separator JSON string itself (the byte
    input of stable_hash_id) — oracle-comparable directly."""
    fields = [_c(cols[name]).alias(name) for name in sorted(cols)]
    return F.to_json(F.struct(*fields), {"ignoreNullFields": "false"})


def stable_hash_id_py(doc: dict[str, Any], salt: str = "") -> str:
    """Driver-side twin of :func:`stable_hash_id` for tests/oracles."""
    canonical = json.dumps(
        doc, sort_keys=True, separators=(",", ":"), ensure_ascii=False
    )
    return hashlib.sha1((canonical + salt).encode("utf-8")).hexdigest()
