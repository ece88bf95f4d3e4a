"""End-to-end pipeline: raw per-repo inputs -> the nine logical tables.

The Spark analog of the reference's ``process_repo`` orchestration
(``src/retrieval/runner.py:27-77``) and of the indexing phase's table
routing (``src/indexing/indexer.py:115-178``): normalization, derived
datasets, canonical storage and a SQL view surface — but as a DAG of
DataFrame transforms the scheduler parallelizes, not a serial loop.
``write_repo_tables`` submits every table's write at once, one Python
thread per table, so the small write jobs overlap on the executors;
each thread inherits the caller's local properties (job group, call
site, scheduler pool).

A user of the reference maps their flow 1:1:

    repo_meta/issues/prs/commits/contributors  -> bronze inputs
    find_prs_with_linked_issues  -> operators.linkers
    find_issues_closed_by_...    -> operators.linkers
    find_cross_project_links     -> operators.linkers
    collect_repo_blame rollup    -> operators.blame
    save_json / ES bulk          -> sources.sinks
    ES|QL analytics              -> spark.sql over register_views()
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.util import inheritable_thread_target

from .operators.blame import blame_file_rollup
from .operators.ingest import enrich_commit_files, split_issues_feed
from .operators.linkers import (
    find_cross_repo_links,
    find_issues_closed_by_commits,
    find_prs_with_linked_issues,
)
from .sources.sinks import write_table

DERIVED_TABLES = (
    "issues",
    "pull_requests",
    "commits",
    "prs_with_linked_issues",
    "issues_closed_by_commits",
    "cross_repo_links",
    "repo_blame",
)


def process_repo(
    raw: dict[str, DataFrame],
    repo_name: str,
    max_prs: int = 0,
) -> dict[str, DataFrame]:
    """Raw inputs -> normalized + derived logical tables (one repo).

    ``raw`` keys: issues_raw, pull_requests, commits_raw, pr_commits,
    and optionally repo_meta, contributors, blame_ranges,
    target_details, external_issue_authors.
    """
    issues = split_issues_feed(raw["issues_raw"])
    commits = enrich_commit_files(raw["commits_raw"])
    prs = raw["pull_requests"]
    external = raw.get("external_issue_authors")

    out: dict[str, DataFrame] = {
        "issues": issues,
        "pull_requests": prs,
        "commits": commits,
        "prs_with_linked_issues": find_prs_with_linked_issues(
            prs,
            raw.get("pr_commits"),
            commits,
            issues,
            repo_name,
            max_prs=max_prs,
            external_issue_authors=external,
        ),
        "issues_closed_by_commits": find_issues_closed_by_commits(
            commits, issues, repo_name, external_issue_authors=external
        ),
        "cross_repo_links": find_cross_repo_links(
            issues, prs, repo_name, target_details=raw.get("target_details")
        ),
    }
    if "repo_meta" in raw:
        out["repo_meta"] = raw["repo_meta"]
    elif "repo_meta_raw" in raw:
        # raw API shape: apply the full_name -> repo_name normalization
        # quirk at ingest (reference collectors.py:557-569)
        from .operators.ingest import normalize_repo_meta

        out["repo_meta"] = normalize_repo_meta(raw["repo_meta_raw"])
    if "contributors" in raw:
        out["contributors"] = raw["contributors"]
    if "issue_comments" in raw:
        out["issue_comments"] = raw["issue_comments"]
    if "blame_ranges" in raw:
        out["repo_blame"] = blame_file_rollup(raw["blame_ranges"], commits)
    return out


def write_repo_tables(
    tables: dict[str, DataFrame], base_dir: str
) -> dict[str, str]:
    """Persist every produced table partitioned by repo_name.

    The writes run as concurrent Spark jobs, one Python thread per
    table, so their per-job fixed costs (planning, broadcasts, codegen,
    file commits) overlap instead of queueing. Each thread runs under
    its own ``inheritable_thread_target`` wrapper: the wrapper clones
    the caller's local properties once, so a shared one would let one
    write's SQL execution id leak into another's thread.

    Returns ``{name: path}`` in ``tables`` order. On failure every write
    still runs to completion and the first failure in table order is
    raised; tables after it are written too. Each write overwrites its
    own path, so a rerun converges.
    """
    if not tables:
        return {}
    spark = next(iter(tables.values())).sparkSession
    paths = {name: os.path.join(base_dir, name) for name in tables}
    with ThreadPoolExecutor(max_workers=len(tables)) as pool:
        futures = [
            pool.submit(
                inheritable_thread_target(spark)(write_table), df, paths[name]
            )
            for name, df in tables.items()
        ]
    for f in futures:
        f.result()
    return paths


def register_views(
    spark: SparkSession,
    tables: dict[str, DataFrame],
    prefix: str = "",
) -> None:
    """Expose the logical tables as temp views — the spark.sql surface
    replacing the reference's ES|QL layer (docs/test_scenario.md).
    Nested derived tables also get exploded companion views so SQL
    users query flat rows (SURVEY §7 hard-part 5)."""
    from pyspark.sql import functions as F

    for name, df in tables.items():
        df.createOrReplaceTempView(prefix + name)
    if "prs_with_linked_issues" in tables:
        tables["prs_with_linked_issues"].select(
            "repo_name",
            "pr_number",
            "merged",
            F.posexplode("links").alias("link_seq", "link"),
        ).select(
            "repo_name", "pr_number", "merged", "link_seq", "link.*"
        ).createOrReplaceTempView(prefix + "pr_links")
    if "repo_blame" in tables:
        tables["repo_blame"].select(
            "repo_name",
            "ref",
            "path",
            "total_lines",
            F.explode("authors").alias("a"),
        ).select(
            "repo_name",
            "ref",
            "path",
            F.col("total_lines").alias("file_total_lines"),
            F.col("a.author").alias("author"),
            F.col("a.total_lines").alias("author_lines"),
        ).createOrReplaceTempView(prefix + "blame_authors")
