"""Seeded input generator for the benchmark workloads.

Every input is synthesized from ``numpy.random.default_rng(seed)``; the
same seed gives byte-identical files. Nothing outside the output
directory is read. Each generator returns an *inventory* (rows, files and
bytes of every input it wrote) and, for the ingest inputs, the counts it
planted so the benchmark can check the program's outputs against them.

Table shapes follow the registry's test tables (``plans/tables.TABLES``):
independent uniform columns, TPC-H-like keys and domains, an ``events``
table ordered by time, ``documents`` over a 30-word vocabulary with a
share of near-duplicates, and unit-norm 64-d ``embeddings``.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DOC_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.5, 0.125, 0.125, 0.125, 0.125]


def _stamp(days_from: str, n_days: int, rng, n: int) -> np.ndarray:
    base = np.datetime64(days_from, "D")
    return (base + rng.integers(0, n_days + 1, n).astype("timedelta64[D]")).astype(
        "datetime64[us]"
    )


def _write(table: pa.Table, path: str, inv: dict, name: str) -> None:
    pq.write_table(table, path)
    inv[name] = {"rows": table.num_rows, "files": 1, "bytes": os.path.getsize(path)}


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int, near_dup_share: float) -> list[str]:
    """Random texts of 10-100 vocabulary words. A fixed share of them
    are near-duplicates: a copy of an original text with two token
    edits and a ``dup`` marker, so dedup finds near (not exact) copies.
    Only originals are copied, which keeps the cluster shape (and the
    work dedup does) the same from seed to seed."""
    vocab = np.array(DOC_VOCAB)
    n_dup = int(n * near_dup_share)
    is_dup = np.zeros(n, bool)
    is_dup[n - 1 - rng.permutation(n // 2)[:n_dup]] = True
    texts: list[str] = []
    originals: list[int] = []
    for i in range(n):
        if is_dup[i]:
            toks = texts[originals[int(rng.integers(0, len(originals)))]].split()
            for pos in rng.choice(len(toks), 2, replace=False):
                toks[pos] = str(vocab[rng.integers(0, len(vocab))])
            texts.append(" ".join(toks + ["dup"]))
        else:
            originals.append(i)
            k = int(rng.integers(10, 101))
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), k)]))
    return texts


def registry_tables(out: str, seed: int, sf: float, n_docs: int, n_emb: int) -> dict:
    """The ten registry tables at scale ``sf`` (TPC-H row ratios:
    lineitem = 6 M x sf) plus ``n_docs`` documents and ``n_emb``
    embeddings. Returns the inventory."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    inv: dict = {}
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(15, int(15_000 * sf))
    p = lambda name: f"{out}/{name}.parquet"  # noqa: E731

    _write(
        pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        p("region"), inv, "region",
    )
    _write(
        pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        p("nation"), inv, "nation",
    )
    _write(
        pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }),
        p("customer"), inv, "customer",
    )
    _write(
        pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }),
        p("supplier"), inv, "supplier",
    )
    names = np.array([f"{a} {n}" for a in P_ADJ for n in P_NOUN])
    pk = np.arange(n_part, dtype=np.int64)
    _write(
        pa.table({
            "p_partkey": pk,
            "p_name": names[rng.integers(0, len(names), n_part)],
            "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
                rng.integers(0, 25, n_part)
            ],
            "p_type": np.array(P_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
        }),
        p("part"), inv, "part",
    )
    _write(
        pa.table({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _stamp("1995-01-01", 2404, rng, n_ord),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
        }),
        p("orders"), inv, "orders",
    )
    _write(
        pa.table({
            "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": _stamp("1995-01-02", 2498, rng, n_li),
        }),
        p("lineitem"), inv, "lineitem",
    )
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n_ev)) + np.datetime64("2024-01-01", "us")
    _write(
        pa.table({
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": ts,
            "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }),
        p("events"), inv, "events",
    )
    texts = _documents(rng, n_docs, near_dup_share=0.05)
    _write(
        pa.table({
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)],
            "source": np.array([f"src{i}" for i in range(20)])[
                rng.integers(0, 20, n_docs)
            ],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }),
        p("documents"), inv, "documents",
    )
    vecs = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(
        pa.table({
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n_emb).astype(np.int32),
        }),
        p("embeddings"), inv, "embeddings",
    )
    return inv


# --- ingest inputs ------------------------------------------------------------


def _words(rng, n: int, lo: int, hi: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    out: set[str] = set()
    while len(out) < n:
        out.add("".join(letters[rng.integers(0, 26, int(rng.integers(lo, hi + 1)))]))
    return sorted(out)


def _dir_inventory(path: str, rows: int) -> dict:
    files = [os.path.join(path, f) for f in sorted(os.listdir(path))]
    return {"rows": rows, "files": len(files), "bytes": sum(map(os.path.getsize, files))}


def _reddit(out: str, rng, kind: str, n_lines: int, n_files: int, allow, deny, kws, filler):
    """zstd NDJSON dump with planted outcomes. Returns (planted, inventory).
    Outcomes per line: 1 % corrupt JSON, 0.5 % missing created_utc (both
    'bad'); valid lines are on the allowlist half the time (random case)
    and carry a keyword (random case, inside a longer token) a fifth of
    the time. Filler words never contain a keyword, so a line matches
    iff it is valid, allowlisted and planted with a keyword."""
    os.makedirs(out, exist_ok=True)
    n = n_lines
    r = rng.random(n)
    allowed = rng.random(n) < 0.5
    sub_idx = rng.integers(0, len(allow), n)
    upper = rng.random(n) < 0.5
    n_words = rng.integers(5, 30, n)
    words = filler[rng.integers(0, len(filler), (n, 30))]
    hit = rng.random(n) < 0.2
    kw_idx = rng.integers(0, len(kws), n)
    pos = (rng.random(n) * n_words).astype(int)
    cut = (rng.random(n) * n_words).astype(int)
    corrupt, no_ts = r < 0.01, (r >= 0.01) & (r < 0.015)
    lines = []
    for i in range(n):
        if corrupt[i]:
            lines.append('{"title": "unterminated, "subreddit": ')
            continue
        sub = (allow if allowed[i] else deny)[sub_idx[i]]
        sub = sub.upper() if upper[i] else sub
        text = list(words[i, : n_words[i]])
        if hit[i]:
            text[pos[i]] = "x" + kws[kw_idx[i]].upper() + "s"
        rec = {"author": f"u{i % 9973}", "subreddit": sub}
        if kind == "submissions":
            rec.update(title=" ".join(text[: cut[i]]), selftext=" ".join(text[cut[i]:]),
                       permalink=f"/r/{sub}/{i}")
        else:
            rec.update(body=" ".join(text), id=f"c{i}", link_id=f"t3_{i // 7}",
                       parent_id=f"t3_{i // 7}")
        if not no_ts[i]:
            ts = 1_600_000_000 + i
            rec["created_utc"] = str(ts) if i % 3 == 0 else ts
        lines.append(json.dumps(rec))
    per_file = -(-n // n_files)
    for f in range(n_files):
        chunk = lines[f * per_file:(f + 1) * per_file]
        with pa.output_stream(f"{out}/part-{f:02d}.jsonl.zst", compression="zstd") as fh:
            fh.write(("\n".join(chunk) + "\n").encode())
    valid = ~corrupt & ~no_ts
    matched = int((valid & allowed & hit).sum())
    bad = int((corrupt | no_ts).sum())
    return {"lines": n_lines, "matched": matched, "bad": bad}, _dir_inventory(out, n_lines)


_FAZ = """<div class="single-document"><pre class="docTitle">Titel {i}</pre>
<pre class="docSource">FAZ, {d:02d}.03.2021, Nr. {i}</pre><pre class="docAuthor">Von A{i}</pre>
<pre class="text">{body}</pre><pre class="docImage">b{i}.jpg</pre></div>"""
_ART = """<div class="article {blk}"><div id="hd">Title {i}</div><div class="author">A{i}</div>
<div class="leadParagraph">Zeitung, {d} März 2021</div>
<span class="articleParagraph {para}">{body} <b>term{i}</b>.</span>
<span class="articleParagraph {para}">{body}</span><p>Document</p><p>DOC{i}</p></div>"""


def _html(out: str, rng, n_files: int, blocks: int, filler) -> dict:
    """Article pages in the three dialects. Returns rows per dialect."""
    rows = {}
    for dialect, blk, para in (
        ("faz", None, None),
        ("en_article", "enArticle", "enarticleParagraph"),
        ("de_article", "deArticle", "dearticleParagraph"),
    ):
        d = f"{out}/{dialect}"
        os.makedirs(d, exist_ok=True)
        for f in range(n_files):
            parts = []
            for b in range(blocks):
                i = f * blocks + b
                body = " ".join(filler[rng.integers(0, len(filler), 60)])
                day = int(rng.integers(1, 29))
                tpl = _FAZ if blk is None else _ART
                parts.append(tpl.format(i=i, d=day, body=body, blk=blk, para=para))
            with open(f"{d}/page-{f:03d}.html", "w", encoding="utf-8") as fh:
                fh.write("<html><body>\n" + "\n".join(parts) + "\n</body></html>\n")
        rows[dialect] = n_files * blocks
    return rows


def _tweet_pages(seed: int, n_pages: int, per_page: int) -> list[dict]:
    """Twitter v2 search pages linked by next_token (the last has none)."""
    rng = np.random.default_rng(seed)
    t0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    pages = []
    for p in range(n_pages):
        data, users = [], {}
        for j in range(per_page):
            k = p * per_page + j
            uid = str(int(rng.integers(0, 5000)))
            users[uid] = {"id": uid, "username": f"user{uid}"}
            tw = {
                "id": str(10**12 + k),
                "created_at": (t0 + dt.timedelta(seconds=k)).strftime("%Y-%m-%dT%H:%M:%S.000Z"),
                "author_id": uid,
                "text": f"tweet {k} about stream ingestion",
            }
            if k % 4 == 0:
                tw["referenced_tweets"] = [{"type": "retweeted", "id": str(10**12 + k // 2)}]
            data.append(tw)
        meta = {"next_token": f"tok{p + 1}"} if p + 1 < n_pages else {}
        pages.append({"data": data, "includes": {"users": list(users.values())}, "meta": meta})
    return pages


def _image_plan(seed: int, n: int) -> dict[str, int]:
    """url -> number of transient failures before success; -1 marks a
    permanent 404 and 99 a URL that fails every attempt."""
    rng = np.random.default_rng(seed)
    plan = {}
    for i in range(n):
        r = rng.random()
        fails = -1 if r < 0.05 else 99 if r < 0.08 else 1 if r < 0.2 else 2 if r < 0.25 else 0
        plan[f"https://img.example/{i}.jpg"] = fails
    return plan


def _stream_files(out: str, rng, n_files: int, rows_per_file: int) -> dict:
    """Event files in time order (file k holds minutes [20k, 20k+20)),
    so no row arrives behind the watermark."""
    os.makedirs(out, exist_ok=True)
    base = np.datetime64("2024-03-01T00:00:00", "us")
    for k in range(n_files):
        offs = np.sort(rng.integers(0, 20 * 60 * 1_000_000, rows_per_file))
        ts = base + (k * 20 * 60 * 1_000_000 + offs).astype("timedelta64[us]")
        tbl = pa.table({
            "event_id": np.arange(k * rows_per_file, (k + 1) * rows_per_file, dtype=np.int64),
            "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
            "user_id": rng.integers(0, 500, rows_per_file).astype(np.int64),
        })
        pq.write_table(tbl, f"{out}/ev-{k:03d}.parquet")
    return _dir_inventory(out, n_files * rows_per_file)


def ingest_inputs(out: str, seed: int, lines: int, html_files: int, html_blocks: int,
                  tweet_pages_n: int, tweets_per_page: int, images: int,
                  stream_n_files: int, stream_rows: int) -> tuple[dict, dict]:
    """All ingest inputs. Returns (inventory, planted)."""
    rng = np.random.default_rng(seed)
    kws = _words(rng, 100, 7, 10)
    filler = np.array([w for w in _words(rng, 400, 3, 8) if not any(k in w for k in kws)])
    subs = _words(rng, 8000, 6, 14)
    allow, deny = subs[::2], subs[1::2]
    os.makedirs(out, exist_ok=True)
    with open(f"{out}/subreddits.csv", "w") as fh:
        fh.write("subr\n" + "\n".join(allow) + "\n")
    with open(f"{out}/keywords.txt", "w") as fh:
        fh.write("\n".join(kws) + "\n")
    inv, planted = {}, {}
    for kind, share in (("submissions", 0.5), ("comments", 0.5)):
        planted[kind], inv[kind] = _reddit(
            f"{out}/{kind}", rng, kind, int(lines * share), 4, allow, deny, kws, filler
        )
    inv["subreddits"] = {"rows": len(allow), "files": 1,
                         "bytes": os.path.getsize(f"{out}/subreddits.csv")}
    planted["html"] = _html(f"{out}/html", rng, html_files, html_blocks, filler)
    for dialect, n in planted["html"].items():
        inv[f"html_{dialect}"] = _dir_inventory(f"{out}/html/{dialect}", n)
    planted["tweets"] = tweet_pages_n * tweets_per_page
    with open(f"{out}/tweet_pages.json", "w") as fh:
        json.dump(_tweet_pages(seed + 2, tweet_pages_n, tweets_per_page), fh)
    inv["tweet_pages"] = {"rows": planted["tweets"], "files": 1,
                          "bytes": os.path.getsize(f"{out}/tweet_pages.json")}
    plan = _image_plan(seed + 1, images)
    with open(f"{out}/image_plan.json", "w") as fh:
        json.dump(plan, fh)
    planted["images"] = {
        "ok": sum(f in (0, 1, 2) for f in plan.values()),
        "failed": sum(f in (-1, 99) for f in plan.values()),
        "attempts": sum({-1: 1, 99: 3}.get(f, f + 1) for f in plan.values()),
    }
    inv["image_urls"] = {"rows": images, "files": 1,
                         "bytes": os.path.getsize(f"{out}/image_plan.json")}
    inv["stream_events"] = _stream_files(f"{out}/stream_in", rng, stream_n_files, stream_rows)
    planted["stream_rows"] = stream_n_files * stream_rows
    return inv, planted
