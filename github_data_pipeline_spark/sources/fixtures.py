"""Deterministic in-memory GitHub-domain fixtures (FIXTURES.md shapes).

One repo ``owner/repo`` with issues / PRs / commits / pr_commits /
blame ranges wired to exercise every linker branch the reference's
unit tests pin (``tests/test_linkers.py``,
``docs/test_scenario.md``): keyword-adjacent and sentence-scoped
closing refs, bare ``#N`` defaulting, cross-repo mentions in both
hash and URL form, the squash/short-body merge-scan guard, the
invalid-merge-sha drop quirk, PR rows hiding in the issues feed, and
null-author commits falling back to the git author name.
"""

from __future__ import annotations

import zlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from .. import schemas
from .tables import rows_to_dataframe

REPO = "owner/repo"


def _issues_rows() -> list[dict]:
    def issue(number, state, login, comments=0, body=None, created=None,
              updated=None, closed=None, pull_request=None, title=None,
              reactions=None):
        return {
            "repo_name": REPO,
            "id": 1000 + number,
            "number": number,
            "state": state,
            "title": title or f"Issue {number}",
            "body": body,
            "user": {"login": login, "id": zlib.crc32(login.encode()) % 1000},
            "labels": [],
            "assignees": [],
            "milestone": None,
            "comments": comments,
            "author_association": "NONE",
            # dynamic-key map (reference schema.py:89): None on rows the
            # API omitted it, {} when present-but-empty — both must
            # survive ingest and aggregate as zero
            "reactions": reactions,
            "state_reason": None,
            "created_at": created or "2023-01-01T00:00:00Z",
            "updated_at": updated or "2023-06-01T00:00:00Z",
            "closed_at": closed,
            "html_url": f"https://github.com/{REPO}/issues/{number}",
            "pull_request": pull_request,
        }

    return [
        issue(1, "open", "alice", comments=2,
              body="See other/repo#1 for context.",
              reactions={"+1": 3, "heart": 1}),
        issue(2, "closed", "bob", closed="2023-03-01T00:00:00Z",
              reactions={"laugh": 2}),
        issue(5, "open", "alice", comments=1, body="Plain text.",
              reactions={}),
        issue(12, "closed", "carol", body="Duplicate of #2.",
              closed="2023-04-01T00:00:00Z",
              reactions={"+1": 1, "-1": 4, "confused": 2}),
        issue(25, "closed", "dave", comments=1,
              closed="2023-05-01T00:00:00Z"),
        issue(33, "open", "erin",
              body="Blocked by https://github.com/ext/lib/issues/7",
              reactions={"rocket": 1}),
        # a PR masquerading in the issues feed — ingest must drop it;
        # its reactions must not leak into issue totals
        issue(99, "open", "zed", pull_request={"url": "pr-url"},
              reactions={"+1": 100}),
        issue(133, "closed", "grace", closed="2023-07-01T00:00:00Z",
              reactions={"eyes": 2, "+1": 1}),
        issue(155, "open", "frank"),
    ]


def _pr_rows() -> list[dict]:
    def pr(number, title, body, merged_at=None, merge_sha=None, login="dev",
           created=None, state="open"):
        return {
            "repo_name": REPO,
            "id": 2000 + number,
            "number": number,
            "state": state,
            "locked": False,
            "draft": False,
            "title": title,
            "body": body,
            "user": {"login": login, "id": hash(login) % 1000},
            "created_at": created or f"2024-01-{number - 90:02d}T00:00:00Z",
            "updated_at": None,
            "closed_at": merged_at,
            "merged_at": merged_at,
            "merge_commit_sha": merge_sha,
            "labels": [],
            "assignees": [],
            "requested_reviewers": [],
            "head": {"ref": "feat", "sha": "h"},
            "base": {"ref": "main", "sha": "b"},
            "author_association": "NONE",
            "html_url": f"https://github.com/{REPO}/pull/{number}",
        }

    return [
        # keyword-adjacent bare ref; merged; merge commit has no refs
        pr(101, "Fix #1", "", merged_at="2024-01-15T00:00:00Z",
           merge_sha="mc101", login="dev1", state="closed"),
        # cross-repo closing ref + bare no-kw ref in a second sentence
        pr(102, "Update docs", "Closes other/repo#2. Also see #5.",
           login="dev2"),
        # body contains 'squash' and is long -> merge commit NOT scanned
        pr(103, "Refactor", "This will be squash merged eventually.",
           merge_sha="mc103", login="dev3"),
        # merged closing ref; valid merge sha with ref-free message
        pr(104, "Fix stuff", "Fixes #155", merged_at="2024-02-01T00:00:00Z",
           merge_sha="mc104", login="dev4", state="closed"),
        # no refs at all -> excluded from output
        pr(105, "No refs here", "nothing interesting", login="dev5"),
        # bare ref without kw in title; short body -> merge commit scanned
        pr(106, "Improve #33 handling.", "tidy",
           merge_sha="mc106", login="dev6"),
        # the invalid-merge-sha quirk: sha resolves to no commit -> the
        # whole PR is dropped even though the title has a closing ref
        pr(107, "Fixes #12", "", merged_at="2024-02-10T00:00:00Z",
           merge_sha="badsha", login="dev7", state="closed"),
    ]


def _commit_rows() -> list[dict]:
    def commit(sha, message, login=None, name=None, date=None, files=()):
        file_objs = [
            {"filename": f, "status": "modified", "additions": 1,
             "deletions": 0, "previous_filename": None}
            for f in files
        ]
        return {
            "repo_name": REPO,
            "sha": sha,
            "node_id": f"n-{sha}",
            "commit": {
                "message": message,
                "author": {"name": name or login or "anon",
                           "email": f"{(login or name or 'anon')}@x",
                           "date": date or "2022-01-01T00:00:00Z"},
                "committer": {"name": "bot", "email": "bot@x",
                              "date": date or "2022-01-01T00:00:00Z"},
            },
            "author": {"login": login, "id": 1} if login else None,
            "committer": {"login": "bot", "id": 2},
            "parents": [],
            "files": file_objs,
            "stats": {"additions": len(file_objs), "deletions": 0,
                      "total": len(file_objs)},
            "files_changed": None,
            "files_changed_count": None,
            "html_url": f"https://github.com/{REPO}/commit/{sha}",
        }

    return [
        commit("c1", "Fixes #1\n\nLonger description here.", login="dave",
               date="2014-12-01T03:00:00Z", files=("a.py", "b.py")),
        # null author object -> identity falls back to commit.author.name
        commit("c2", "Closes #2. Cleanup.", name="Ann On",
               date="2020-05-05T00:00:00Z", files=("a.py",)),
        commit("c3", "resolve other/repo#2 partially", login="erin",
               date="2024-08-23T16:24:18Z", files=("b.py",)),
        commit("c7", "Close #133", login="grace",
               date="2023-06-15T00:00:00Z"),
        commit("c8", "This closes #133 for real", login="dave",
               date="2023-06-20T00:00:00Z"),
        commit("mc101", "Merge pull request from branch", login="dev1",
               date="2024-01-15T00:00:00Z"),
        commit("mc103", "whatever", login="dev3"),
        commit("mc104", "merge without refs", login="dev4",
               date="2024-02-01T00:00:00Z"),
        commit("mc106", "Squashed work\n\nResolves ext/lib#7", login="dev6",
               date="2024-02-05T00:00:00Z"),
    ]


PR_COMMITS_SCHEMA = "pr_number int, commit_seq int, message string"

_PR_COMMITS = [
    (101, 0, "Implement fix\n\nFixes #1"),
    (102, 0, "typo"),
    (106, 0, "WIP refs #2"),
]

TARGET_DETAILS_SCHEMA = (
    "repo_name string, number int, is_pull_request boolean, url string, "
    "created_at string, author string"
)

_TARGET_DETAILS = [
    ("other/repo", 1, False, "https://github.com/other/repo/issues/1",
     "2022-01-01T00:00:00Z", "ext-a"),
    ("other/repo", 2, True, "https://github.com/other/repo/pull/2",
     "2022-02-01T00:00:00Z", "ext-pr-author"),
    ("ext/lib", 7, False, "https://github.com/ext/lib/issues/7",
     "2022-03-01T00:00:00Z", "libber"),
]

EXTERNAL_AUTHORS_SCHEMA = "repo_name string, number int, author string"

_EXTERNAL_AUTHORS = [
    ("other/repo", 2, "ext-pr-author"),
    ("ext/lib", 7, "libber"),
]


def _repo_meta_raw_rows() -> list[dict]:
    """Raw /repos/{owner}/{repo} responses BEFORE the reference's
    normalization (collectors.py:557-569): repo_name is derived from
    full_name (row 1) or the owner/name fallback (row 2, full_name
    absent) by operators/ingest.normalize_repo_meta."""
    return [
        {
            "id": 501,
            "name": "repo",
            "full_name": REPO,
            "private": False,
            "fork": False,
            "description": "Primary fixture repository",
            "homepage": None,
            "language": "Python",
            "topics": ["pipeline", "analytics"],
            "default_branch": "main",
            "created_at": "2021-01-01T00:00:00Z",
            "updated_at": "2024-02-01T00:00:00Z",
            "pushed_at": "2024-02-10T00:00:00Z",
            "stargazers_count": 42,
            "watchers_count": 42,
            "forks_count": 7,
            "open_issues_count": 6,
            "size": 2048,
            "owner": {"login": "owner", "id": 1, "type": "User"},
            "license": {"key": "mit", "name": "MIT License", "spdx_id": "MIT"},
        },
        {
            # full_name missing -> repo_name falls back to owner/name
            "id": 502,
            "name": "lib",
            "full_name": None,
            "private": False,
            "fork": True,
            "description": None,
            "homepage": None,
            "language": None,
            "topics": [],
            "default_branch": "master",
            "created_at": "2020-06-01T00:00:00Z",
            "updated_at": "2023-12-01T00:00:00Z",
            "pushed_at": None,
            "stargazers_count": 5,
            "watchers_count": 5,
            "forks_count": 0,
            "open_issues_count": 1,
            "size": 64,
            "owner": {"login": "ext", "id": 9, "type": "Organization"},
            "license": None,
        },
    ]


def _contributor_rows() -> list[dict]:
    """GitHub's pre-aggregated contributors endpoint
    (collectors.py:666-669). 'grace' is deliberately stale (+4 vs the
    commits table) and 'ghost' has no commits at all, while dev3's
    commit is missing here — so the drift query has rows on every
    full-outer-join branch."""

    def contrib(login, contributions, uid):
        return {
            "repo_name": REPO,
            "login": login,
            "id": uid,
            "type": "User",
            "site_admin": False,
            "contributions": contributions,
            "html_url": f"https://github.com/{login}",
        }

    return [
        contrib("dave", 2, 11),
        contrib("erin", 1, 12),
        contrib("grace", 5, 13),   # stale: commits say 1
        contrib("dev1", 1, 14),
        contrib("dev4", 1, 15),
        contrib("dev6", 1, 16),
        contrib("ghost", 4, 17),   # no commits at all
        # dev3 is missing although the commits table has one of theirs
    ]


def _issue_comment_rows() -> list[dict]:
    """Per-issue comments point lookup (collectors.py:660-663), stamped
    with (repo_name, issue_number) from the request context. Counts
    agree with the issues rows' ``comments`` field."""

    def comment(issue_number, cid, login, body, created):
        return {
            "repo_name": REPO,
            "issue_number": issue_number,
            "id": cid,
            "user": {"login": login, "id": hash(login) % 1000},
            "body": body,
            "author_association": "NONE",
            "created_at": created,
            "updated_at": created,
            "html_url": (
                f"https://github.com/{REPO}/issues/"
                f"{issue_number}#issuecomment-{cid}"
            ),
        }

    return [
        comment(1, 9001, "bob", "Can reproduce on main.",
                "2023-01-02T10:00:00Z"),
        comment(1, 9002, "alice", "Tracking in other/repo#1.",
                "2023-01-03T11:00:00Z"),
        comment(5, 9003, "dave", "Any updates here?",
                "2023-02-01T09:00:00Z"),
        comment(25, 9004, "alice", "Closing as fixed.",
                "2023-05-01T08:00:00Z"),
    ]


def _blame_rows() -> list[dict]:
    def rg(path, start, end, sha, login=None, name=None, date=None, age=1):
        return {
            "repo_name": REPO,
            "ref": "main",
            "path": path,
            "startingLine": start,
            "endingLine": end,
            "age": age,
            "commit": {
                "oid": sha,
                "committedDate": date or "2022-01-01T00:00:00Z",
                "message": f"touch {path}\n\ndetail",
                "author": {
                    "name": name or (login and login.title()) or "anon",
                    "email": "x@x",
                    "user": {"login": login} if login else None,
                },
            },
        }

    return [
        rg("a.py", 1, 10, "c1", login="dave", date="2014-12-01T03:00:00Z"),
        rg("a.py", 11, 15, "c2", name="Ann On", date="2020-05-05T00:00:00Z"),
        rg("a.py", 16, 16, "c1", login="dave", date="2014-12-01T03:00:00Z"),
        rg("b.py", 1, 5, "c3", login="erin", date="2024-08-23T16:24:18Z"),
    ]


def fixture_rows() -> dict[str, tuple[list, StructType | str]]:
    """The fixture set as ``{table: (rows, schema)}``, before any Spark."""
    # raw API shape: repo_name not yet stamped (normalize_repo_meta
    # derives it), so the column is absent entirely
    repo_meta_raw_schema = StructType(
        [f for f in schemas.REPO_META.fields if f.name != "repo_name"]
    )
    return {
        "repo_meta_raw": (_repo_meta_raw_rows(), repo_meta_raw_schema),
        "contributors": (_contributor_rows(), schemas.CONTRIBUTORS),
        "issue_comments": (_issue_comment_rows(), schemas.ISSUE_COMMENTS),
        "issues_raw": (_issues_rows(), schemas.ISSUES),
        "pull_requests": (_pr_rows(), schemas.PULL_REQUESTS),
        "commits_raw": (_commit_rows(), schemas.COMMITS),
        "pr_commits": (_PR_COMMITS, PR_COMMITS_SCHEMA),
        "target_details": (_TARGET_DETAILS, TARGET_DETAILS_SCHEMA),
        "external_issue_authors": (_EXTERNAL_AUTHORS, EXTERNAL_AUTHORS_SCHEMA),
        "blame_ranges": (_blame_rows(), schemas.BLAME_RANGE_INPUT),
    }


def load_fixtures(spark: SparkSession) -> dict[str, DataFrame]:
    """Build the full fixture set as DataFrames with the typed schemas."""
    return {
        name: rows_to_dataframe(spark, rows, schema)
        for name, (rows, schema) in fixture_rows().items()
    }
