"""Bronze-layer normalization transforms.

The reference's ingest-time enrichments (``src/retrieval/collectors.py``)
re-expressed as column transforms:

* issues feed split — GitHub's issues endpoint returns PRs too; rows
  with a non-null ``pull_request`` are dropped (collectors.py:590);
* commit detail enrichment — ``files_changed`` = non-null filenames,
  ``files_changed_count`` = its size (collectors.py:137-138, 505-518);
* repo-meta ``repo_name`` fallback — full_name else owner/name
  (collectors.py:562-568); every other row is stamped at fetch time
  (sources/github_client.py);
* contributors recomputation — the reference trusts GitHub's
  pre-aggregated endpoint (collectors.py:666-669); we can also derive
  it from commits with one grouped count (SURVEY §2.4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def split_issues_feed(raw_issues: DataFrame) -> DataFrame:
    """Drop PR rows from the issues feed (pull_request non-null)."""
    return raw_issues.filter(F.col("pull_request").isNull())


def enrich_commit_files(commits: DataFrame) -> DataFrame:
    """Derive files_changed / files_changed_count from the files array."""
    names = F.filter(
        F.transform(F.col("files"), lambda f: f.getField("filename")),
        lambda x: x.isNotNull(),
    )
    return commits.withColumn(
        "files_changed", F.coalesce(names, F.array().cast("array<string>"))
    ).withColumn("files_changed_count", F.size(F.col("files_changed")))


def normalize_repo_meta(raw_meta: DataFrame) -> DataFrame:
    """The reference's repo-meta normalization quirk (collectors.py:
    557-569): the stored ``repo_name`` comes from the API's ``full_name``
    when present, else falls back to the owner/name pair from the
    request context."""
    return raw_meta.withColumn(
        "repo_name",
        F.coalesce(
            F.col("full_name"),
            F.concat_ws("/", F.col("owner.login"), F.col("name")),
        ),
    )


def contributions_from_commits(commits: DataFrame) -> DataFrame:
    """Recompute per-login contribution counts from the commits table —
    lets the engine cross-check GitHub's pre-aggregated contributors."""
    return (
        commits.filter(F.col("author.login").isNotNull())
        .groupBy(F.col("author.login").alias("login"))
        .agg(F.count(F.lit(1)).alias("contributions"))
    )
