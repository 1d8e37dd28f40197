"""Ingest drivers read each input once.

`extract_*`'s bad-row side output is one filter over one scan (no
second scan of the same NDJSON and no Union), with the rows and columns
of the two-branch spelling it replaced. `ingest_cursor_paginated`
parses each page JVM-side (no Python RDD under the writes) and observes
the page watermark on the tweets write, so a page costs exactly two
Spark jobs. Job counts come from `SparkContext.statusTracker` under one
job group."""

from __future__ import annotations

import json
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from social_and_media_data_ingestion_spark.io import read_ndjson, split_corrupt
from social_and_media_data_ingestion_spark.schemas import (
    CORRUPT_COL,
    REDDIT_SUBMISSION,
)
from social_and_media_data_ingestion_spark.sources.reddit import (
    extract_submissions,
)
from social_and_media_data_ingestion_spark.sources.tweets import (
    CursorCheckpoint,
    ingest_cursor_paginated,
)

RECORDS = [
    {"title": "spark one", "selftext": "", "author": "a1",
     "subreddit": "dataeng", "created_utc": 1600000000, "permalink": "/p/1"},
    {"title": "spark two", "selftext": "x", "author": "a2",
     "subreddit": "dataeng", "created_utc": "1600000001"},
    {"title": "spark nan ts", "author": "a3", "subreddit": "dataeng",
     "created_utc": "not-a-number"},
    {"title": "spark float ts", "author": "a4", "subreddit": "dataeng",
     "created_utc": "1.5e9x"},
    {"title": "spark no ts", "author": "a5", "subreddit": "dataeng"},
    {"title": None, "author": "a6", "subreddit": "other", "created_utc": 7},
]
CORRUPT = ["{not json", '{"title": "unterminated', "[1, 2", "plain text"]


@pytest.fixture
def ndjson(tmp_path):
    p = tmp_path / "subs.jsonl"
    p.write_text(
        "\n".join([json.dumps(r) for r in RECORDS] + CORRUPT), encoding="utf-8"
    )
    return str(p)


def _two_branch_bad(good, bad):
    """The spelling the one-scan split replaced: corrupt rows from one
    branch, rows with an unusable created_utc from another, unioned."""
    has_ts = F.col("created_utc").try_cast("long").isNotNull()
    bad_ts = good.filter(~has_ts).withColumn(
        CORRUPT_COL, F.to_json(F.struct(*good.columns))
    )
    return bad.select(*bad_ts.columns).unionByName(bad_ts)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _assert_same_rows(got, want):
    assert got.columns == want.columns
    assert got.schema == want.schema
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_bad_side_is_one_scan_without_union(spark, ndjson):
    _, bad = extract_submissions(spark, ndjson, ["dataeng"], ["spark"])
    plan = _plan(bad)
    assert plan.count("FileScan") == 1, plan
    assert "Union" not in plan, plan


def test_bad_side_matches_two_branch_spelling(spark, ndjson):
    matched, bad = extract_submissions(spark, ndjson, ["dataeng"], ["spark"])
    good, corrupt = split_corrupt(read_ndjson(spark, ndjson, REDDIT_SUBMISSION))
    _assert_same_rows(bad, _two_branch_bad(good, corrupt))
    # 4 corrupt lines + 3 rows whose created_utc is not an integer
    assert bad.count() == 7
    assert {r.author for r in matched.collect()} == {"a1", "a2"}


def test_landing_dir_bad_side_matches_two_branch_spelling(spark, ndjson, tmp_path):
    landing = str(tmp_path / "landing")
    matched, bad = extract_submissions(
        spark, ndjson, ["dataeng"], ["spark"], landing_dir=landing
    )
    plan = _plan(bad)
    assert plan.count("FileScan") == 1 and "Union" not in plan, plan
    good_schema = T.StructType(
        [f for f in REDDIT_SUBMISSION.fields if f.name != CORRUPT_COL]
    )
    good = spark.read.schema(good_schema).parquet(f"{landing}/good")
    corrupt = spark.read.schema(REDDIT_SUBMISSION).parquet(f"{landing}/bad")
    _assert_same_rows(bad, _two_branch_bad(good, corrupt))
    direct_m, direct_b = extract_submissions(spark, ndjson, ["dataeng"], ["spark"])
    _assert_same_rows(bad, direct_b)
    _assert_same_rows(matched, direct_m)


def _page(ids, next_token=None, with_time=True):
    return {
        "data": [
            {
                "id": str(i),
                **(
                    {"created_at": f"2022-01-0{1 + i % 9}T00:00:{i % 60:02d}.000Z"}
                    if with_time
                    else {}
                ),
                "author_id": f"u{i % 3}",
                "text": f"tweet {i}",
            }
            for i in ids
        ],
        "includes": {"users": [{"id": f"u{i % 3}", "username": f"n{i}"} for i in ids]},
        "meta": {"next_token": next_token} if next_token else {},
    }


PAGES = {
    None: _page([5, 1, 3], next_token="t1"),
    "t1": _page([10, 12], next_token="t2", with_time=False),
    "t2": _page([20, 27, 21], next_token=None),
}


def test_cursor_ingest_two_jobs_per_page_and_no_python_rdd(spark, tmp_path):
    sc = spark.sparkContext
    group = f"ingest-single-read-{time.monotonic_ns()}"
    ckpt = CursorCheckpoint(str(tmp_path / "ckpt.jsonl"))
    try:
        sc.setJobGroup(group, "tweets")
        batches = list(
            ingest_cursor_paginated(spark, PAGES.get, ckpt, str(tmp_path / "out"))
        )
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(batches) == len(PAGES)
    assert jobs == 2 * len(PAGES)
    for tweets, users in batches:
        assert "ExistingRDD" not in _plan(tweets)
        assert "ExistingRDD" not in _plan(users)


def test_committed_watermark_is_max_time_of_appended_rows(spark, tmp_path):
    ckpt = CursorCheckpoint(str(tmp_path / "ckpt.jsonl"))
    out = str(tmp_path / "out")
    list(ingest_cursor_paginated(spark, PAGES.get, ckpt, out))
    with open(ckpt.path, encoding="utf-8") as f:
        records = [json.loads(line) for line in f if line.strip()]
    tweets = spark.read.parquet(f"{out}/tweets")
    want = []
    for page in PAGES.values():
        ids = [t["id"] for t in page["data"]]
        want.append(
            tweets.filter(F.col("id").isin(ids))
            .agg(F.max("time").cast("string"))
            .collect()[0][0]
        )
    assert want[1] is None  # the page whose tweets lack created_at
    assert [r["watermark"] for r in records] == want
    assert [r["rows"] for r in records] == [3, 2, 3]
    assert [r["next_token"] for r in records] == ["t1", "t2", None]
