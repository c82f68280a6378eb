"""Reddit listing REST source (SURVEY.md §2.A A1-A3).

Reference semantics re-expressed, not copied (Fetch_reddit.py:66-204):

* **A2 OAuth2 client-credentials** with a cached token refreshed 60 s
  before expiry and invalidated on 401/403; anonymous public-endpoint
  fallback when no client id/secret is configured.
* **A3 retry policy**: up to 8 attempts; exponential backoff 2→64 s
  (×2) plus jitter ``uniform(0, 1.7)``; honors a numeric ``Retry-After``
  header; retries on HTTP {429, 403, 500, 502, 503, 504} and network
  errors; raises after exhaustion.
* **A1 listing fetch**: GET ``/r/{subreddit}/new`` with
  ``limit=min(limit,100), raw_json=1``; rows are
  ``data.children[].data`` projected to the REDDIT_RAW fields,
  early-stopped at ``limit``.

Connector design: the fetch is a DRIVER-SIDE edge concern — tens of rows
per run (BASELINE.md) — materialized into a DataFrame with an explicit
schema. Everything is dependency-injected (``transport``, ``sleep``,
``clock``) so tests run hermetically on recorded payloads; the default
transport is stdlib ``urllib`` (no extra deps). At real scale a
partitioned fetch would shard cursor ranges over ``mapInPandas``; the
listing API is inherently serial (an ``after`` cursor), so driver-side
is the honest design.
"""

from __future__ import annotations

import json
import random
import time
import urllib.error
import urllib.parse
import urllib.request
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

from reddit_apache_airflow_postgres_pipeline_spark.schemas import REDDIT_RAW
from reddit_apache_airflow_postgres_pipeline_spark.session import local_df

RETRYABLE_STATUS = {429, 403, 500, 502, 503, 504}
MAX_ATTEMPTS = 8
BACKOFF_BASE_S = 2.0
BACKOFF_CAP_S = 64.0
JITTER_MAX_S = 1.7
USER_AGENT = "reddit-pipeline-spark/1.0"

# transport(url, headers) -> (status, response_headers, body_bytes)
Transport = Callable[[str, dict[str, str]], tuple[int, dict[str, str], bytes]]


def _urllib_transport(url: str, headers: dict[str, str]) -> tuple[int, dict[str, str], bytes]:
    req = urllib.request.Request(url, headers=headers)
    try:
        with urllib.request.urlopen(req, timeout=15) as resp:
            return resp.status, dict(resp.headers), resp.read()
    except urllib.error.HTTPError as e:
        return e.code, dict(e.headers or {}), e.read()


@dataclass
class OAuthTokenCache:
    """A2: client-credentials token with expiry-aware refresh."""

    client_id: str
    client_secret: str
    transport: Transport = _urllib_transport
    clock: Callable[[], float] = time.time
    _token: str | None = None
    _expires_at: float = 0.0

    def get(self) -> str | None:
        if self._token and self.clock() < self._expires_at - 60.0:
            return self._token
        data = urllib.parse.urlencode({"grant_type": "client_credentials"}).encode()
        import base64

        basic = base64.b64encode(
            f"{self.client_id}:{self.client_secret}".encode()
        ).decode()
        req = urllib.request.Request(
            "https://www.reddit.com/api/v1/access_token",
            data=data,
            headers={"Authorization": f"Basic {basic}", "User-Agent": USER_AGENT},
        )
        try:
            with urllib.request.urlopen(req, timeout=15) as resp:
                payload = json.loads(resp.read())
        except (urllib.error.URLError, OSError, ValueError):
            return None
        self._token = payload.get("access_token")
        self._expires_at = self.clock() + float(payload.get("expires_in", 3600))
        return self._token

    def invalidate(self) -> None:
        self._token, self._expires_at = None, 0.0


@dataclass
class RedditSource:
    """Listing fetcher with the reference's retry envelope."""

    subreddit: str
    limit: int = 40
    token_cache: OAuthTokenCache | None = None
    transport: Transport = _urllib_transport
    sleep: Callable[[float], None] = time.sleep
    rng: random.Random = field(default_factory=lambda: random.Random())

    def _url(self, authed: bool, page_limit: int, after: str | None = None) -> str:
        q: dict[str, Any] = {"limit": page_limit, "raw_json": 1}
        if after:
            q["after"] = after
        params = urllib.parse.urlencode(q)
        if authed:
            return f"https://oauth.reddit.com/r/{self.subreddit}/new?{params}"
        return f"https://www.reddit.com/r/{self.subreddit}/new.json?{params}"

    def fetch_rows(self) -> list[dict[str, Any]]:
        """A1+A3: listing GET with retry/backoff → projected row dicts.

        Reference parity for ``limit ≤ 100``: ONE request with
        ``limit=min(limit,100)`` and client-side early stop
        (Fetch_reddit.py:116,170-171). EXTENSION beyond the reference
        (which simply caps at 100): for ``limit > 100`` the fetch
        paginates with the listing's ``data.after`` cursor, 100 rows per
        page, stopping early at ``limit`` rows or when the cursor ends —
        each page gets the full retry envelope."""
        rows: list[dict[str, Any]] = []
        after: str | None = None
        while len(rows) < self.limit:
            remaining = self.limit - len(rows)
            page, after = self._fetch_page(min(remaining, 100), after)
            rows.extend(page[:remaining])
            if after is None or not page:
                break  # listing exhausted before limit
        return rows

    def _fetch_page(
        self, page_limit: int, after: str | None
    ) -> tuple[list[dict[str, Any]], str | None]:
        """One listing page under the A3 retry envelope; returns
        (rows, next-page cursor)."""
        last_err: Exception | None = None
        for attempt in range(MAX_ATTEMPTS):
            token = self.token_cache.get() if self.token_cache else None
            headers = {"User-Agent": USER_AGENT}
            if token:
                headers["Authorization"] = f"Bearer {token}"
            try:
                status, resp_headers, body = self.transport(
                    self._url(authed=token is not None, page_limit=page_limit,
                              after=after),
                    headers,
                )
            except OSError as e:  # network error → retry
                last_err = e
                self._backoff(attempt, None)
                continue
            if status in (401, 403) and self.token_cache:
                self.token_cache.invalidate()
            if status in RETRYABLE_STATUS:
                last_err = RuntimeError(f"HTTP {status} from listing endpoint")
                self._backoff(attempt, resp_headers.get("Retry-After"))
                continue
            if status != 200:
                raise RuntimeError(f"listing fetch failed: HTTP {status}")
            return parse_listing_page(body, page_limit)
        raise RuntimeError(f"listing fetch exhausted {MAX_ATTEMPTS} attempts") from last_err

    def _backoff(self, attempt: int, retry_after: str | None) -> None:
        delay = min(BACKOFF_BASE_S * (2**attempt), BACKOFF_CAP_S)
        if retry_after:
            try:
                delay = max(delay, float(retry_after))
            except ValueError:
                pass
        self.sleep(delay + self.rng.uniform(0, JITTER_MAX_S))


def parse_listing(body: bytes | str, limit: int) -> list[dict[str, Any]]:
    """``data.children[].data`` → REDDIT_RAW row dicts, early-stop at
    ``limit`` (API order newest-first is preserved)."""
    return parse_listing_page(body, limit)[0]


def parse_listing_page(
    body: bytes | str, limit: int
) -> tuple[list[dict[str, Any]], str | None]:
    """:func:`parse_listing` plus the listing's ``data.after`` cursor
    (fullname of the last item, None on the final page)."""
    payload = json.loads(body)
    after = (payload.get("data") or {}).get("after")
    rows: list[dict[str, Any]] = []
    for child in (payload.get("data") or {}).get("children") or []:
        d = child.get("data") or {}
        rows.append(
            {
                "name": d.get("name"),
                "id": d.get("id"),
                "created_utc": float(d["created_utc"]) if d.get("created_utc") is not None else None,
                "score": int(d["score"]) if d.get("score") is not None else None,
                "num_comments": int(d["num_comments"]) if d.get("num_comments") is not None else None,
                "title": d.get("title"),
                "author": d.get("author"),
                "permalink": d.get("permalink"),
                "subreddit": d.get("subreddit"),
                "link_flair_text": d.get("link_flair_text"),
            }
        )
        if len(rows) >= limit:
            break
    return rows, after


def reddit_listing_df(
    spark: SparkSession, rows: list[dict[str, Any]]
) -> DataFrame:
    """Materialize fetched rows as the REDDIT_RAW relation."""
    return local_df(spark, rows, REDDIT_RAW)


def listing_json_df(spark: SparkSession, payloads: list[str | bytes]) -> DataFrame:
    """Distributed parse of raw listing payloads: the F1 nested
    projection as a Spark plan — ``from_json`` with the declared
    REDDIT_LISTING schema, ``explode(data.children)``, project
    ``.data.*`` (SURVEY.md §1.1).

    ``parse_listing``/``fetch_rows`` is the driver-side row path for
    interactive fetches; THIS is the shape for bulk archives (a directory
    of listing JSON files — swap the literal payload column for
    ``spark.read.text(dir)`` and the same plan applies)."""
    from pyspark.sql import functions as F

    from reddit_apache_airflow_postgres_pipeline_spark.schemas import REDDIT_LISTING

    raw = local_df(
        spark,
        [(p.decode() if isinstance(p, bytes) else p,) for p in payloads],
        "payload string",
    )
    parsed = raw.select(
        F.from_json("payload", REDDIT_LISTING).alias("j")
    )
    return parsed.select(
        F.explode("j.data.children").alias("c")
    ).select("c.data.*")
