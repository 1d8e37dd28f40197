"""In-process stand-ins for the two network endpoints the ingest workload
calls: the image host and the cursor-paginated tweet API. Both serve
seeded content, so the stages measure the program and not a network."""

from __future__ import annotations

import hashlib

from social_and_media_data_ingestion_spark.sinks.image_download import PermanentFetchError


class PlannedFetcher:
    """Image fetcher with planted failures. ``plan`` maps url -> number
    of transient failures before success (-1: permanent 404). Attempts
    are counted per instance; each Spark task gets its own copy."""

    def __init__(self, plan: dict[str, int]):
        self.plan = plan
        self.seen: dict[str, int] = {}

    def __call__(self, url: str) -> bytes:
        n = self.seen[url] = self.seen.get(url, 0) + 1
        fails = self.plan[url]
        if fails < 0:
            raise PermanentFetchError(f"HTTP 404: {url}")
        if n <= fails:
            raise ConnectionError(f"transient failure {n} for {url}")
        return hashlib.sha256(url.encode()).digest() * 64


class PageServer:
    """fetch(next_token) -> page, over pages linked by ``tok<i>`` tokens."""

    def __init__(self, pages: list[dict]):
        self.pages = pages

    def __call__(self, token: str | None) -> dict:
        return self.pages[0 if token is None else int(token[3:])]
