"""The benchmark workloads. Each one stages its seeded inputs, runs one
untimed pass that warms the engine and checks every output, then the
passes the runner times. A pass returns its wall time, the latency of each
operation (a registry query or an ingest stage) and, when traced, the
per-layer numbers of that pass."""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time

import duckdb
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import Observation

from perfbench import gen
from perfbench.fetch import PageServer, PlannedFetcher
from perfbench.layers import SparkProbe
from social_and_media_data_ingestion_spark import io
from social_and_media_data_ingestion_spark.plans.tables import TABLES
from social_and_media_data_ingestion_spark.schemas import SUBREDDIT_DIM
from social_and_media_data_ingestion_spark.sinks.image_download import download_images
from social_and_media_data_ingestion_spark.sources.html_articles import DIALECTS, parse_articles
from social_and_media_data_ingestion_spark.sources.reddit import (
    extract_comments,
    extract_submissions,
    with_scan_metrics,
)
from social_and_media_data_ingestion_spark.sources.tweets import (
    CursorCheckpoint,
    ingest_cursor_paginated,
)
from social_and_media_data_ingestion_spark.streaming.pipeline import (
    append_to_parquet,
    windowed_counts,
)
from tools.verify_local import canon

CURATION = ["corpus_full_curation", "dedup_shingle_containment", "graph_triangle_suppliers"]
INGEST_STAGES = ["extract_land", "html", "tweets", "images", "stream"]


def _add(layer: dict, values: dict) -> None:
    for k, v in values.items():
        layer[k] = layer.get(k, 0.0) + v


def _dir_size(path: str) -> tuple[int, int]:
    files = [os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs
             if not f.startswith(".") and not f.startswith("_")]
    return len(files), sum(os.path.getsize(f) for f in files)


class Ctx:
    """What a pass needs from the run: the session, the tracer and, in
    traced passes, the status-store probe."""

    def __init__(self, spark, tracer, cores: int):
        self.spark = spark
        self.tracer = tracer
        self.cores = cores
        self.probe = SparkProbe(spark)
        self.t_offset = time.perf_counter() - time.time()
        self.group = ""

    def jobs(self, group: str, layer: dict, parent: int | None = None) -> dict:
        """Adds the group's Spark jobs to ``layer`` and as child spans."""
        parent = self.tracer.current() if parent is None else parent
        stats = self.probe.jobs(group, self.tracer, parent, self.t_offset)
        _add(layer, {f"exec.{k}": v for k, v in stats.items()})
        return stats


# --- curation --------------------------------------------------------------------


class CurationWorkload:
    """Registry queries over the ten test tables at sf 0.01 (500
    documents, 500 embeddings)."""

    names = CURATION

    def stage(self, work: str, seed: int) -> dict:
        self.dir = f"{work}/tables"
        return gen.registry_tables(self.dir, seed, sf=0.01, n_docs=500, n_emb=500)

    def check_pass(self, ctx: Ctx, reg: dict) -> tuple[int, list[str]]:
        """Every query on Spark vs its oracle_sql() on DuckDB over the
        generated tables, compared like tools/verify_local.py."""
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.dir}/{t}.parquet')")
        failures = []
        for name in self.names:
            d = reg[name]
            try:
                sdf = d.spark(ctx.spark, self.dir).toPandas()
            except Exception as e:  # noqa: BLE001 - counted as a failed operation
                failures.append(f"{name}: spark raised {type(e).__name__}: {str(e)[:200]}")
                continue
            if d.oracle is None:
                continue
            odf = con.execute(d.oracle).fetchdf()
            if len(sdf) != len(odf) or sorted(sdf.columns) != sorted(odf.columns):
                failures.append(f"{name}: shape spark={sdf.shape} oracle={odf.shape}")
            elif not canon(sdf).equals(canon(odf)):
                failures.append(f"{name}: values differ")
        con.close()
        return len(self.names), failures

    def timed_pass(self, ctx: Ctx, reg: dict, p: int, traced: bool) -> dict:
        tr, probe = ctx.tracer, ctx.probe
        layer: dict[str, float] = {}
        lat, failures = [], []
        t_pass = time.perf_counter()
        with tr.span(f"pass{p}", "run"):
            for name in self.names:
                t0 = time.perf_counter()
                try:
                    with tr.span(name, "query"):
                        probe.group(f"p{p}b:{name}")
                        with tr.span("build", "plans") as b:
                            df = reg[name].spark(ctx.spark, self.dir)
                        build_s = time.perf_counter() - t0
                        if traced:
                            jobs = ctx.jobs(f"p{p}b:{name}", layer, b["id"])
                            _add(layer, {
                                "plans.build_s": build_s, f"plans.build_s.{name}": build_s,
                                "plans.build_jobs": jobs["jobs"],
                                "plans.build_job_s": jobs["job_wall_s"],
                                "plans.build_driver_s": build_s - jobs["job_wall_s"],
                            })
                            with tr.span("catalyst", "catalyst"):
                                phases = SparkProbe.catalyst_ms(df)
                            _add(layer, {f"catalyst.{ph}_ms": ms for ph, ms in phases.items()})
                        probe.group(f"p{p}e:{name}")
                        t1 = time.perf_counter()
                        with tr.span("exec", "exec") as x:
                            df.write.format("noop").mode("overwrite").save()
                        exec_s = time.perf_counter() - t1
                        if traced:
                            ctx.jobs(f"p{p}e:{name}", layer, x["id"])
                            _add(layer, {"exec.s": exec_s, f"exec.s.{name}": exec_s})
                except Exception as e:  # noqa: BLE001 - counted as a failed operation
                    failures.append(f"{name}: {type(e).__name__}: {str(e)[:200]}")
                lat.append(time.perf_counter() - t0)
                if traced:
                    rows, nbytes = probe.python_traffic()
                    _add(layer, {"exec.python_rows": rows, "exec.python_bytes": nbytes})
        return {"pass_s": time.perf_counter() - t_pass, "ops": lat, "failures": failures,
                "layer": layer}


# --- ingest ---------------------------------------------------------------------


class IngestWorkload:
    """extract -> land, HTML parse, paginated tweets, image sink and an
    availableNow stream, over seeded inputs with planted outcomes."""

    SIZES = dict(lines=30_000, html_files=4, html_blocks=25, tweet_pages_n=2,
                 tweets_per_page=500, images=160, stream_n_files=6, stream_rows=8_000)

    def stage(self, work: str, seed: int) -> dict:
        self.dir, self.work = f"{work}/ingest", work
        inv, self.planted = gen.ingest_inputs(self.dir, seed, **self.SIZES)
        self.keywords = open(f"{self.dir}/keywords.txt").read().split()
        with open(f"{self.dir}/tweet_pages.json") as fh:
            self.pages = json.load(fh)
        with open(f"{self.dir}/image_plan.json") as fh:
            self.plan = json.load(fh)
        self.input_bytes = inv["submissions"]["bytes"] + inv["comments"]["bytes"]
        self.allow_rows = inv["subreddits"]["rows"]
        return inv

    def check_pass(self, ctx: Ctx, reg: dict) -> tuple[int, list[str]]:
        out = self.timed_pass(ctx, reg, -1, traced=False)
        return len(INGEST_STAGES), out["failures"]

    def timed_pass(self, ctx: Ctx, reg: dict, p: int, traced: bool) -> dict:
        spark, tr, probe = ctx.spark, ctx.tracer, ctx.probe
        out = f"{self.work}/out{p}"
        layer, lat, failures, seen = {}, {}, [], {}
        t_pass = time.perf_counter()
        with tr.span(f"pass{p}", "run"):
            for stage in INGEST_STAGES:
                ctx.group = f"p{p}:{stage}"
                probe.group(ctx.group)
                t0 = time.perf_counter()
                try:
                    with tr.span(stage, "stage"):
                        seen[stage] = getattr(self, f"_{stage}")(ctx, out, layer)
                        if traced:
                            ctx.jobs(ctx.group, layer)
                            if stage == "extract_land":
                                # those jobs also read the allowlist once per dump
                                scan = ctx.jobs(ctx.group + ":scan", layer)["input_rows"]
                                layer["sources.lines_in"] = scan - 2 * self.allow_rows
                except Exception as e:  # noqa: BLE001 - counted as a failed operation
                    failures.append(f"{stage}: {type(e).__name__}: {str(e)[:200]}")
                lat[stage] = time.perf_counter() - t0
                if traced:
                    rows, nbytes = probe.python_traffic()
                    _add(layer, {"exec.python_rows": rows, "exec.python_bytes": nbytes})
        pass_s = time.perf_counter() - t_pass
        failures += self._check(out, seen)
        layer["ingest_rows_per_s"] = self.SIZES["lines"] / lat["extract_land"]
        if traced:
            layer["exec.s"] = layer.get("exec.job_wall_s", 0.0)
            files, nbytes = _dir_size(f"{out}/land")
            layer.update({"io.files_written": files, "io.bytes_written": nbytes,
                          "io.write_amplification": nbytes / self.input_bytes})
        shutil.rmtree(out, ignore_errors=True)
        return {"pass_s": pass_s, "ops": list(lat.values()), "failures": failures,
                "layer": layer, "stage_s": lat, "stream": seen.get("stream")}

    @staticmethod
    def ingest_metrics(passes: list[dict]) -> dict[str, float]:
        """The ingest-only end-to-end figures, over the passes whose
        stream stage completed (a failed stage is counted in ``failed``)."""
        out = {"ingest_rows_per_s": statistics.median(
            p["layer"]["ingest_rows_per_s"] for p in passes)}
        streamed = [p for p in passes if p["stream"]]
        if streamed:
            trig = [ms for p in streamed for ms in p["stream"]["trigger_ms"]]
            out.update({
                "stream_rows_per_s": statistics.median(
                    p["layer"]["stream_rows_per_s"] for p in streamed),
                "stream_trigger_ms.p50": statistics.median(trig),
                "stream_trigger_ms.p90": pct(trig, 90),
            })
        return out

    # each stage returns what the check needs and fills ``layer``

    def _extract_land(self, ctx, out, layer):
        spark, tr = ctx.spark, ctx.tracer
        obs = {}
        with tr.span("extract_build", "sources"):
            t0 = time.perf_counter()
            allow = io.read_csv_dim(spark, f"{self.dir}/subreddits.csv", SUBREDDIT_DIM)
            frames = {}
            for kind, fn in (("submissions", extract_submissions), ("comments", extract_comments)):
                matched, bad = fn(spark, f"{self.dir}/{kind}/*.zst", allow, self.keywords)
                for side, df in (("matched", matched), ("bad", bad)):
                    obs[kind, side] = Observation(f"{kind}_{side}")
                    frames[kind, side] = with_scan_metrics(df, obs[kind, side])
            layer["sources.extract_build_s"] = time.perf_counter() - t0
        with tr.span("land", "io"):
            t0 = time.perf_counter()
            for (kind, side), df in frames.items():
                # the matched side's jobs scan every line once: their
                # input records are the lines read
                ctx.probe.group(ctx.group + (":scan" if side == "matched" else ""))
                io.write_parquet(df, f"{out}/land/{kind}_{side}")
            layer["io.land_s"] = time.perf_counter() - t0
        counts = {k: o.get["n_total"] for k, o in obs.items()}
        layer["sources.matched_rows"] = sum(v for (_, side), v in counts.items() if side == "matched")
        layer["sources.bad_lines"] = sum(v for (_, side), v in counts.items() if side == "bad")
        return counts

    def _html(self, ctx, out, layer):
        t0 = time.perf_counter()
        ob = Observation("html")
        dfs = [parse_articles(ctx.spark, f"{self.dir}/html/{d}/*.html", d) for d in DIALECTS]
        union = dfs[0].unionByName(dfs[1]).unionByName(dfs[2])
        io.write_parquet(with_scan_metrics(union, ob), f"{out}/land/html")
        layer["sources.html_parse_s"] = time.perf_counter() - t0
        layer["sources.html_rows"] = ob.get["n_total"]
        return ob.get["n_total"]

    def _tweets(self, ctx, out, layer):
        os.makedirs(out, exist_ok=True)
        ckpt = CursorCheckpoint(f"{out}/tweets.ckpt")
        page_s, t0 = [], time.perf_counter()
        for tweets, _users in ingest_cursor_paginated(
            ctx.spark, PageServer(self.pages), ckpt, f"{out}/tweets"
        ):
            t1 = time.perf_counter()
            ctx.tracer.add("page", "sources", t0, t1, ctx.tracer.current())
            page_s.append(t1 - t0)
            t0 = t1
        layer["sources.tweet_page_s"] = statistics.median(page_s)
        layer["sources.tweet_rows"] = sum(
            pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
            for d, _, fs in os.walk(f"{out}/tweets/tweets") for f in fs if f.endswith(".parquet"))
        return layer["sources.tweet_rows"]

    def _images(self, ctx, out, layer):
        t0 = time.perf_counter()
        urls = pd.DataFrame({"id": [str(i) for i in range(len(self.plan))], "url": list(self.plan)})
        res = download_images(
            ctx.spark.createDataFrame(urls), f"{out}/images", fetcher=PlannedFetcher(self.plan),
            backoff_base_s=0, politeness_s=(0, 0), concurrency=ctx.cores,
        ).toPandas()
        layer["sinks.image_s"] = time.perf_counter() - t0
        attempts = int(res["attempts"].sum())
        layer["sinks.image_fetch_attempts"] = attempts
        layer["sinks.image_retries"] = attempts - len(res)
        layer["sinks.image_ok_ratio"] = int(res["ok"].sum()) / attempts
        return {"ok": int(res["ok"].sum()), "failed": int((~res["ok"]).sum()), "attempts": attempts}

    def _stream(self, ctx, out, layer):
        spark = ctx.spark
        src = f"{self.dir}/stream_in"
        schema = spark.read.parquet(src).schema
        events = spark.readStream.schema(schema).option("maxFilesPerTrigger", 2).parquet(src)
        t0 = time.perf_counter()
        q = append_to_parquet(windowed_counts(events, "ts"), f"{out}/stream", f"{out}/stream_ckpt")
        q.awaitTermination()
        wall = time.perf_counter() - t0
        progress = q.recentProgress
        trig = [pr["durationMs"].get("triggerExecution", 0) for pr in progress]
        state = [pr["stateOperators"][0] for pr in progress if pr["stateOperators"]]
        parent = ctx.tracer.current()
        t = t0
        for ms in trig:
            ctx.tracer.add("trigger", "streaming", t, t + ms / 1e3, parent)
            t += ms / 1e3
        layer.update({
            "stream_rows_per_s": self.planted["stream_rows"] / wall,
            "stream_trigger_ms.p50": pct(trig, 50), "stream_trigger_ms.p90": pct(trig, 90),
            "streaming.triggers": len(progress),
            "streaming.add_batch_ms": sum(pr["durationMs"].get("addBatch", 0) for pr in progress),
            "streaming.wal_commit_ms": sum(pr["durationMs"].get("walCommit", 0) for pr in progress),
            "streaming.state_rows": max((s["numRowsTotal"] for s in state), default=0),
            "streaming.state_memory_bytes": max((s["memoryUsedBytes"] for s in state), default=0),
            "streaming.rows_dropped_by_watermark": sum(s["numRowsDroppedByWatermark"] for s in state),
        })
        return {"wall": wall, "trigger_ms": trig,
                "input_rows": sum(pr["numInputRows"] for pr in progress)}

    def _check(self, out: str, seen: dict) -> list[str]:
        """Outputs against the counts the generator planted, and the
        stream's windows against a DuckDB GROUP BY over its input."""
        pl, bad = self.planted, []

        def expect(what, got, want):
            if got != want:
                bad.append(f"{what}: got {got}, planted {want}")

        if "extract_land" in seen:
            for kind in ("submissions", "comments"):
                expect(f"{kind} matched", seen["extract_land"][kind, "matched"], pl[kind]["matched"])
                expect(f"{kind} bad", seen["extract_land"][kind, "bad"], pl[kind]["bad"])
        if "html" in seen:
            expect("html rows", seen["html"], sum(pl["html"].values()))
        if "tweets" in seen:
            expect("tweet rows", seen["tweets"], pl["tweets"])
        if "images" in seen:
            expect("images", seen["images"], pl["images"])
        if "stream" in seen:
            expect("stream input rows", seen["stream"]["input_rows"], pl["stream_rows"])
            con = duckdb.connect()
            want = con.execute(f"""
                WITH e AS (SELECT epoch_us(ts) AS us FROM read_parquet('{self.dir}/stream_in/*.parquet')),
                     wm AS (SELECT max(us) - 600000000 AS wm FROM e)
                SELECT us // 300000000 * 300000000 AS w, count(*) AS n FROM e
                GROUP BY 1 HAVING w + 300000000 <= (SELECT wm FROM wm) ORDER BY 1""").fetchall()
            got = con.execute(f"""SELECT epoch_us(window_start) AS w, n
                FROM read_parquet('{out}/stream/*.parquet') ORDER BY 1""").fetchall()
            con.close()
            if got != want:
                bad.append(f"stream windows: {len(got)} emitted vs {len(want)} expected, or counts differ")
        return bad


def pct(values: list[float], q: int) -> float:
    """Nearest-rank percentile."""
    if not values:
        return 0.0
    s = sorted(values)
    return s[max(0, min(len(s) - 1, -(-q * len(s) // 100) - 1))]


WORKLOADS = {"curation": CurationWorkload, "ingest": IngestWorkload}
