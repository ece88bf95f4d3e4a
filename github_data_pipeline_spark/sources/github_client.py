"""GitHub API ingestion client — the engine's source connector.

Behavioral contract pinned to the reference's HTTP layer
(``src/retrieval/http_client.py:244-415``), re-designed for use inside
a distributed engine:

* exponential backoff ``base * 2^(attempt-1)`` with jitter, bounded
  retries; network exceptions retry then re-raise;
* 401 -> rotate token, terminal when rotation impossible;
* 403/429 rate-limit detection via ``X-RateLimit-Remaining``/``Reset``/
  ``Retry-After``: rotate through tokens first, long-sleep only after a
  full wrap (single token: immediate long-sleep), wait capped by
  ``max_wait_on_403``;
* terminal statuses {400, 404, 410, 422} return immediately;
* pagination follows ``Link: rel="next"`` (cursor or page), normalizes
  ``per_page``, stamps ``repo_name`` on every row, honors ``max_pages``;

Distribution-specific deviations (SURVEY §7 hard parts 6-7): the
transport, clock and sleeper are injectable — tests and executors never
really sleep an hour; a driver-side coordinator should bound ingestion
parallelism per token rather than letting every executor hit the same
budget. The client itself is picklable (plain data + callables passed
at call time), so it can ride ``foreachPartition``.
"""

from __future__ import annotations

import random
import time
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any
from urllib.parse import parse_qsl, urlencode, urlparse, urlunparse

TERMINAL_STATUSES = frozenset({400, 404, 410, 422})


@dataclass
class Response:
    """Minimal transport-agnostic response."""

    status_code: int
    headers: dict[str, str] = field(default_factory=dict)
    json_body: Any = None
    text: str = ""

    def json(self) -> Any:
        return self.json_body


Transport = Callable[[str, str, dict[str, str]], Response]


@dataclass
class GithubClientConfig:
    tokens: tuple[str, ...] = ()
    per_page: int = 100
    max_retries: int = 6
    backoff_base_sec: float = 2.0
    max_wait_on_403: float = 180.0
    rate_limit_reset_wait_sec: float = 3600.0
    user_agent: str = "github-data-pipeline-spark"


class RetriesExhausted(RuntimeError):
    pass


class GithubClient:
    """Retry/backoff/token-rotating REST client over a pluggable transport.

    ``transport(method, url, headers) -> Response`` does the I/O —
    a requests-based transport in production, a scripted fake in tests
    (the reference mocks at the same seam, tests/test_http_client.py).
    """

    def __init__(
        self,
        transport: Transport,
        config: GithubClientConfig | None = None,
        sleeper: Callable[[float], None] = time.sleep,
        clock: Callable[[], float] = time.time,
        rng: Callable[[], float] = random.random,
    ) -> None:
        self.transport = transport
        self.config = config or GithubClientConfig()
        self.sleeper = sleeper
        self.clock = clock
        self.rng = rng
        self.token_index = 0
        self.sleep_log: list[tuple[str, float]] = []

    # -- token rotation ------------------------------------------------

    def _current_token(self) -> str | None:
        toks = self.config.tokens
        if not toks:
            return None
        return toks[self.token_index % len(toks)] or None

    def _switch_token(self) -> bool:
        toks = self.config.tokens
        if len(toks) <= 1:
            return False
        self.token_index = (self.token_index + 1) % len(toks)
        return True

    def _headers(self) -> dict[str, str]:
        h = {
            "Accept": "application/vnd.github.v3+json",
            "User-Agent": self.config.user_agent,
        }
        tok = self._current_token()
        if tok:
            h["Authorization"] = f"token {tok}"
        return h

    # -- sleeping ------------------------------------------------------

    def _sleep(self, kind: str, base: float) -> None:
        jitter = base * 0.25 * (0.5 - self.rng())
        self.sleep_log.append((kind, base))
        self.sleeper(max(0.0, base + jitter))

    # -- core ----------------------------------------------------------

    def request(self, method: str, url: str, body: str | None = None) -> Response:
        cfg = self.config
        last_exc: Exception | None = None
        rotated_for_rate_limit = False
        wrapped = False

        for attempt in range(1, cfg.max_retries + 1):
            try:
                if body is None:
                    resp = self.transport(method, url, self._headers())
                else:
                    resp = self.transport(method, url, self._headers(), body)
            except Exception as exc:  # network failure -> backoff+retry
                last_exc = exc
                self._sleep("net-retry", cfg.backoff_base_sec * 2 ** (attempt - 1))
                continue

            if 200 <= resp.status_code < 300:
                return resp

            if resp.status_code == 401:
                if self._switch_token():
                    continue
                return resp

            if resp.status_code in (403, 429):
                hdrs = resp.headers or {}
                remaining = hdrs.get("X-RateLimit-Remaining")
                reset = hdrs.get("X-RateLimit-Reset")
                retry_after = hdrs.get("Retry-After")
                is_rate_limited = remaining == "0" or (
                    reset is not None and str(reset).isdigit()
                )
                if is_rate_limited:
                    n = len(cfg.tokens)
                    exhausted_rotation = rotated_for_rate_limit and (
                        wrapped or (n > 0 and self.token_index == n - 1)
                    )
                    if n <= 1 or exhausted_rotation:
                        self.sleep_log.append(
                            ("rate-limit-reset", cfg.rate_limit_reset_wait_sec)
                        )
                        self.sleeper(cfg.rate_limit_reset_wait_sec)
                        rotated_for_rate_limit = wrapped = False
                        continue
                    prev = self.token_index
                    if self._switch_token():
                        wrapped = prev == n - 1
                        rotated_for_rate_limit = True
                        continue
                if retry_after and str(retry_after).isdigit():
                    wait = float(int(retry_after))
                elif reset is not None and str(reset).isdigit():
                    wait = max(0.0, int(reset) - self.clock()) + 1
                else:
                    wait = cfg.backoff_base_sec * 2 ** (attempt - 1)
                self._sleep("backoff-403", min(wait, cfg.max_wait_on_403))
                rotated_for_rate_limit = wrapped = False
                continue

            if resp.status_code in TERMINAL_STATUSES:
                return resp

            if attempt < cfg.max_retries:
                self._sleep("retry", cfg.backoff_base_sec * 2 ** (attempt - 1))
                continue
            return resp

        if last_exc:
            raise last_exc
        raise RetriesExhausted(f"{method} {url} failed after {cfg.max_retries}")

    # -- pagination ----------------------------------------------------

    def _normalize_pagination_url(self, url: str) -> str:
        parsed = urlparse(url)
        params = parse_qsl(parsed.query, keep_blank_values=True)
        if not any(k == "per_page" for k, _ in params):
            params.append(("per_page", str(self.config.per_page)))
        return urlunparse(parsed._replace(query=urlencode(params, doseq=True)))

    @staticmethod
    def _next_link(link_header: str | None) -> str | None:
        if not link_header:
            return None
        for part in link_header.split(","):
            section = part.strip()
            if 'rel="next"' not in section:
                continue
            start = section.find("<")
            end = section.find(">", start + 1)
            if start != -1 and end != -1:
                return section[start + 1 : end]
        return None

    def paged_get(
        self, url: str, owner: str, repo: str, *, max_pages: int = 0
    ) -> list[dict[str, Any]]:
        """Follow Link headers, stamp repo_name, cap pages."""
        results: list[dict[str, Any]] = []
        next_url: str | None = self._normalize_pagination_url(url)
        page = 0
        while next_url:
            if max_pages and page >= max_pages:
                break
            resp = self.request("GET", next_url)
            if resp.status_code != 200:
                break
            batch = resp.json()
            if not isinstance(batch, list) or not batch:
                break
            for entry in batch:
                entry["repo_name"] = f"{owner}/{repo}"
            results.extend(batch)
            page += 1
            nxt = self._next_link(resp.headers.get("Link"))
            next_url = self._normalize_pagination_url(nxt) if nxt else None
        return results


    # -- GraphQL (blame scans, collectors.py:240-279) -------------------

    def graphql(
        self, url: str, query: str, variables: dict[str, Any]
    ) -> dict[str, Any]:
        """POST a GraphQL query through the same retry/rotation stack.

        The transport receives the payload via a header side-channel to
        stay signature-compatible; the requests transport moves it to
        the JSON body. Returns the ``data`` object ({} on error), the
        reference's run_graphql_query contract (http_client.py:125-241).
        """
        import json as _json

        resp = self.request(
            "POST", url, body=_json.dumps({"query": query, "variables": variables})
        )
        if resp.status_code != 200:
            return {}
        body = resp.json() or {}
        if body.get("errors"):
            return {}
        return body.get("data") or {}

    def list_repo_files(
        self, base_url: str, owner: str, repo: str, branch: str
    ) -> list[str]:
        """GET git/trees/{branch}?recursive=1 -> blob paths
        (collectors.py:220-237); truncation surfaces as a flag the
        caller may log."""
        resp = self.request(
            "GET", f"{base_url}/repos/{owner}/{repo}/git/trees/{branch}?recursive=1"
        )
        if resp.status_code != 200:
            return []
        body = resp.json() or {}
        tree = body.get("tree") or []
        return [
            t["path"]
            for t in tree
            if t.get("type") == "blob" and t.get("path")
        ]


def requests_transport(timeout: float = 30.0) -> Transport:
    """Production transport (import-guarded: offline containers)."""
    import requests  # noqa: PLC0415

    session = requests.Session()

    def _t(
        method: str, url: str, headers: dict[str, str], body: str | None = None
    ) -> Response:
        r = session.request(
            method, url, headers=headers, timeout=timeout, data=body
        )
        try:
            body = r.json()
        except Exception:
            body = None
        return Response(
            status_code=r.status_code,
            headers=dict(r.headers),
            json_body=body,
            text=r.text or "",
        )

    return _t
