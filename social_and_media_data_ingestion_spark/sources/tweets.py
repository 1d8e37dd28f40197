"""Twitter v2 search-page flattening + cursor-paginated REST ingestion.

Flattening (ref tweet_download.py:32-53) is one `from_json` + two
explode-projections — multi-output, no Python loop:

    page json -> tweets  (time, id, author_id, text, ref_type, ref_id)
              -> users   (id, username)  [last-wins dedup downstream]

Each page is parsed JVM-side, once per output: the page string is a
literal in a one-row plan, not a Python RDD, and the page's
high-watermark (max tweet time) is an Observation on the tweets write,
so a page costs two Spark jobs (tweets append, users append).

Ingestion (ref tweet_download.py:62-104) is a driver-side micro-batch
loop over `next_token` cursors with a file checkpoint — the Structured
Streaming-shaped replacement for the reference's while-loop, with
exactly-once-per-token resume (the reference double-appends on rerun;
we checkpoint the token BEFORE appending and dedup on tweet id).
"""

from __future__ import annotations

import json
import os
import time as _time
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from social_and_media_data_ingestion_spark.operators.projections import (
    nested_array_head,
)
from social_and_media_data_ingestion_spark.schemas import TWEET_PAGE


def parse_pages(spark: SparkSession, pages: list[str]) -> DataFrame:
    """One row per raw page-JSON string, in input order.

    The pages are literals exploded from a one-row range, so the frame
    is built in the JVM: every action over it re-runs a local scan, not
    a Python RDD that re-ships and re-parses the page per partition."""
    raw = F.array(*[F.lit(p) for p in pages]).cast("array<string>")
    return (
        spark.range(0, 1, 1, 1)
        .select(F.explode(raw).alias("raw"))
        .select(F.from_json("raw", TWEET_PAGE).alias("page"))
    )


def flatten_tweets(pages: DataFrame) -> DataFrame:
    """Explode page.data into the flat tweet table
    (ref tweet_download.py:36-48, incl. referenced_tweets head default)."""
    tw = pages.select(F.explode("page.data").alias("t"))
    return tw.select(
        F.to_timestamp(F.col("t.created_at")).alias("time"),
        F.coalesce(F.col("t.id"), F.lit("")).alias("id"),
        F.coalesce(F.col("t.author_id"), F.lit("")).alias("author_id"),
        F.coalesce(F.col("t.text"), F.lit("")).alias("text"),
        nested_array_head(F.col("t.referenced_tweets"), "type").alias("ref_type"),
        nested_array_head(F.col("t.referenced_tweets"), "id").alias("ref_id"),
    )


def flatten_users(pages: DataFrame) -> DataFrame:
    """Explode page.includes.users (ref tweet_download.py:50-52); duplicates
    across pages are expected — resolve with dedup.keep_latest."""
    return pages.select(F.explode("page.includes.users").alias("u")).select(
        F.col("u.id").alias("id"), F.col("u.username").alias("username")
    )


def flatten_page(pages: DataFrame) -> tuple[DataFrame, DataFrame]:
    return flatten_tweets(pages), flatten_users(pages)


# --- Cursor-paginated ingestion driver ---------------------------------------

FetchPage = Callable[[str | None], dict]
"""fetch(next_token) -> page dict; page['meta'].get('next_token') advances."""


class CursorCheckpoint:
    """File-backed cursor + high-watermark state (replaces the reference's
    token/newest-time CSVs, tweet_download.py:55-58,96-99). JSON lines:
    one record per committed page, enabling resume from the last token."""

    def __init__(self, path: str):
        self.path = path

    def last(self) -> dict | None:
        if not os.path.exists(self.path):
            return None
        last = None
        with open(self.path, encoding="utf-8") as f:
            for line in f:
                if line.strip():
                    last = json.loads(line)
        return last

    def commit(
        self,
        token: str | None,
        watermark: str | None,
        n_rows: int,
        reason: str | None = None,
    ) -> None:
        record = {"next_token": token, "watermark": watermark, "rows": n_rows}
        if reason is not None:
            # distinguishes a cycle-terminated cursor from a cleanly
            # drained one — both commit next_token=None, but an operator
            # resuming a "wedged_cursor" record knows the API was
            # pathological, not exhausted
            record["reason"] = reason
        with open(self.path, "a", encoding="utf-8") as f:
            f.write(json.dumps(record) + "\n")


def ingest_cursor_paginated(
    spark: SparkSession,
    fetch: FetchPage,
    checkpoint: CursorCheckpoint,
    out_dir: str,
    max_pages: int | None = None,
    page_delay_s: float = 0.0,
) -> Iterator[tuple[DataFrame, DataFrame]]:
    """Micro-batch loop: fetch page -> flatten -> append parquet ->
    commit checkpoint. Yields (tweets, users) per page. Stop conditions
    (ref tweet_download.py:82-103): no data, no next_token, max_pages.

    Resume: starts from the last committed token. Re-running a completed
    ingest fetches from that token again only if the API still returns it
    (exactly-once per token, better than the reference's re-append).

    Cursor-cycle guard (same class as the rest_cursor data source): an
    API that re-issues a token this run already fetched (same-token
    stutter or an A→B→A cycle) would otherwise loop FOREVER under the
    default max_pages=None, double-appending every page on each lap.
    The loop commits a drained checkpoint (token None) and stops at
    the first repeated token instead — every page is appended exactly
    once, and a later resume does not re-enter the wedged cursor."""
    state = checkpoint.last()
    token = state["next_token"] if state else None
    if state and token is None:
        return  # previous run drained the cursor
    pages = 0
    seen_tokens: set[str | None] = set()
    while max_pages is None or pages < max_pages:
        seen_tokens.add(token)
        page = fetch(token)
        data = page.get("data") or []
        if not data:
            checkpoint.commit(None, state and state.get("watermark"), 0)
            return
        pdf = parse_pages(spark, [json.dumps(page)])
        tweets, users = flatten_page(pdf)
        # the watermark is observed on the tweets write: no extra job
        obs = Observation("tweet_page")
        tweets.observe(obs, F.max("time").cast("string").alias("wm")).write.mode(
            "append"
        ).parquet(f"{out_dir}/tweets")
        users.write.mode("append").parquet(f"{out_dir}/users")
        watermark = obs.get["wm"]
        token = (page.get("meta") or {}).get("next_token")
        if token is not None and token in seen_tokens:
            # wedged cursor: this page is appended, but following its
            # pointer would re-fetch a page this run already delivered
            checkpoint.commit(None, watermark, len(data), reason="wedged_cursor")
            yield tweets, users
            return
        checkpoint.commit(token, watermark, len(data))
        yield tweets, users
        pages += 1
        if token is None:
            return
        if page_delay_s:
            _time.sleep(page_delay_s)
