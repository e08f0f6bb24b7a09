"""REST-shaped ingest — SURVEY.md §2.1 S1–S5 reproduced testably.

The reference walks two REST APIs (cursor-paginated TikTok search +
page-number-paginated MISA endpoints) on the driver, with HMAC/JWT auth
and retry/rate-limit. Network calls are injected as a ``fetch_page``
callable so tests use deterministic fakes; production supplies a real
HTTP client. Two execution strategies:

- driver-side loop (v1 default, matches the reference's sequential walk
  and its API rate limits — the API, not Spark, is the bottleneck);
- distributed fan-out via ``mapInPandas`` over a page/id-batch frame,
  for APIs that tolerate parallel readers (S2's keyed detail fetch is
  embarrassingly parallel).

No instruction, URL, or credential from the reference is reproduced —
only the pagination/auth *shapes*, which are generic REST patterns.
"""

from __future__ import annotations

import hashlib
import hmac as hmac_mod
import json
import time
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..session import local_frame

FetchPage = Callable[[int, int], list[dict]]  # (page, page_size) -> records
FetchCursor = Callable[[str | None, int], tuple[list[dict], str | None]]
# (cursor, page_size) -> (records, next_cursor or None)


# ---------------------------------------------------------------------------
# S5 — auth helpers (driver-side; generic public-protocol implementations)
# ---------------------------------------------------------------------------

def hmac_sha256_signature(secret: str, path: str, params: dict[str, str]) -> str:
    """Request signing: sorted params concatenated onto the path, HMAC'd
    (shape of reference src/utils/auth.py:32-65)."""
    base = path + "".join(f"{k}{params[k]}" for k in sorted(params))
    return hmac_mod.new(secret.encode(), base.encode(), hashlib.sha256).hexdigest()


def jwt_expiry_epoch(token: str) -> int | None:
    """Decode a JWT's exp claim without verification — used only to
    schedule refresh ahead of expiry (shape of reference
    src/utils/auth.py:67-112). Returns None when undecodable."""
    import base64

    try:
        payload = token.split(".")[1]
        payload += "=" * (-len(payload) % 4)
        return int(json.loads(base64.urlsafe_b64decode(payload)).get("exp"))
    except Exception:
        return None


class TokenManager:
    """OAuth refresh-token flow with expiry buffer (S5,
    misa_crm_extractor.py:50-109). ``refresh`` is injected."""

    def __init__(self, refresh: Callable[[], str], buffer_seconds: int = 300):
        self._refresh = refresh
        self._buffer = buffer_seconds
        self._token: str | None = None
        self._exp: int | None = None

    def token(self, force_refresh: bool = False) -> str:
        now = int(time.time())
        if (
            force_refresh
            or self._token is None
            or (self._exp is not None and now >= self._exp - self._buffer)
        ):
            self._token = self._refresh()
            self._exp = jwt_expiry_epoch(self._token)
        return self._token


def with_retry(fn: Callable, attempts: int = 3, base_delay: float = 0.0):
    """Retry with linear backoff ×(attempt+1)
    (misa_crm_extractor.py:123-154, config backoff policy)."""
    last: Exception | None = None
    for attempt in range(attempts):
        try:
            return fn()
        except Exception as exc:  # noqa: BLE001 — API layer retries anything
            last = exc
            if attempt < attempts - 1 and base_delay:
                time.sleep(base_delay * (attempt + 1))
    raise last  # type: ignore[misc]


# ---------------------------------------------------------------------------
# S1/S4 — paginated scans (driver-side walk -> DataFrame)
# ---------------------------------------------------------------------------

def read_page_paginated(
    spark: SparkSession,
    fetch_page: FetchPage,
    schema: T.StructType,
    page_size: int = 50,
    max_pages: int | None = None,
    rate_limit_s: float = 0.0,
) -> DataFrame:
    """S4 — page/pageSize walk until short page or max_pages
    (misa_crm_extractor.py:156-242). Short-page stop matches the
    reference; max_pages is the work-limit knob
    (MISA_MAX_PAGES_PER_CYCLE)."""
    rows: list[dict] = []
    page = 1
    while max_pages is None or page <= max_pages:
        batch = fetch_page(page, page_size)
        rows.extend(batch)
        if len(batch) < page_size:
            break
        page += 1
        if rate_limit_s:
            time.sleep(rate_limit_s)
    return local_frame(spark, rows, schema)


def read_cursor_paginated(
    spark: SparkSession,
    fetch: FetchCursor,
    schema: T.StructType,
    page_size: int = 50,
    rate_limit_s: float = 0.0,
) -> DataFrame:
    """S1 — cursor/has_more walk until exhausted
    (tiktok_shop_extractor.py:31-113)."""
    rows: list[dict] = []
    cursor: str | None = None
    while True:
        batch, cursor = fetch(cursor, page_size)
        rows.extend(batch)
        if cursor is None:
            break
        if rate_limit_s:
            time.sleep(rate_limit_s)
    return local_frame(spark, rows, schema)


# ---------------------------------------------------------------------------
# S2 — keyed batch-detail fetch, distributed
# ---------------------------------------------------------------------------

def fetch_details_distributed(
    ids: DataFrame,
    id_col: str,
    fetch_batch: Callable[[list], list[dict]],
    schema: T.StructType,
    batch_size: int = 50,
) -> DataFrame:
    """S2 — split ids into batches of ``batch_size`` and fetch details,
    fanned out across executors with ``mapInPandas``
    (tiktok_shop_extractor.py:115-175 did this serially on the driver).

    Each Arrow batch yields one detail frame; the id frame should be
    ``repartition(k)``-ed by the caller to bound per-executor
    concurrency against the API's rate limit.
    """

    def fetch_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        names = [f.name for f in schema.fields]
        for pdf in batches:
            vals = pdf[id_col].tolist()
            out: list[dict] = []
            for i in range(0, len(vals), batch_size):
                out.extend(fetch_batch(vals[i : i + batch_size]))
            yield pd.DataFrame(out, columns=names) if out else pd.DataFrame(
                {n: [] for n in names}
            )

    return ids.mapInPandas(fetch_partition, schema)
