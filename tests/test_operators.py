"""Operator unit tests: dedup determinism/idempotence, union conservation,
datetime round-trips, near-dup building blocks (SURVEY §5 item 3)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from social_and_media_data_ingestion_spark.functions.datetime_funcs import (
    dotted_date_to_iso,
    epoch_to_timestamp,
    german_date_to_iso,
)
from social_and_media_data_ingestion_spark.operators.dedup import (
    exact_dedup_keep_first,
    keep_latest,
    minhash_lsh_candidates,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
    word_shingles,
)
from social_and_media_data_ingestion_spark.operators.similarity import (
    cosine_topk,
    ivf_topk,
    lsh_bucketed_topk,
)


def test_dedup_keep_first_deterministic_and_idempotent(spark):
    df = spark.createDataFrame(
        [(3, "x"), (1, "x"), (2, "y"), (5, "x")], ["id", "text"]
    )
    once = exact_dedup_keep_first(df, "text", "id")
    assert {(r.id, r.text) for r in once.collect()} == {(1, "x"), (2, "y")}
    twice = exact_dedup_keep_first(once, "text", "id")
    assert sorted(twice.collect()) == sorted(once.collect())


def test_keep_latest(spark):
    base = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [("u1", base, "old"), ("u1", base + dt.timedelta(1), "new"),
         ("u2", base, "only")],
        ["id", "ts", "name"],
    )
    got = {r.id: r.name for r in keep_latest(df, "id", "ts", "name").collect()}
    assert got == {"u1": "new", "u2": "only"}


def test_union_conserves_rows(spark):
    a = spark.createDataFrame([(1, "a")], ["id", "v"])
    b = spark.createDataFrame([("b", 2)], ["v", "id"])
    u = a.unionByName(b)
    assert u.count() == 2
    assert {tuple(r) for r in u.collect()} == {(1, "a"), (2, "b")}


def test_epoch_roundtrip(spark):
    df = spark.createDataFrame([("1600000000",), ("oops",), (None,)], ["e"])
    got = df.select(epoch_to_timestamp("e").alias("ts")).collect()
    assert got[0].ts == dt.datetime(2020, 9, 13, 12, 26, 40)
    assert got[1].ts is None and got[2].ts is None


def test_german_and_dotted_dates(spark):
    df = spark.createDataFrame(
        [("7. März 2021",), ("15. Dezember 1999",), ("garbage",)], ["d"]
    )
    got = [r.iso for r in df.select(german_date_to_iso("d").alias("iso")).collect()]
    assert got == ["2021-03-07", "1999-12-15", None]
    df2 = spark.createDataFrame([("01.02.2021 rest",)], ["d"])
    assert df2.select(dotted_date_to_iso("d").alias("x")).first().x == "2021-02-01 rest"


DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy cat"),   # near-dup of 1
    (3, "completely different words entirely here now"),
    (4, "the quick brown fox jumps over the lazy dog"),   # exact dup of 1
]


def test_word_shingles(spark):
    df = spark.createDataFrame([(1, "a b c d")], ["id", "text"])
    got = {r.shingle for r in word_shingles(df, "id", "text", 3).collect()}
    assert got == {"a b c", "b c d"}
    # shorter than n -> no shingles
    df2 = spark.createDataFrame([(1, "a b")], ["id", "text"])
    assert word_shingles(df2, "id", "text", 3).count() == 0


def test_minhash_identical_docs_same_sig(spark):
    df = spark.createDataFrame(DOCS, ["id", "text"])
    sigs = {r.id: tuple(r.sig) for r in minhash_signatures(df, "id", "text").collect()}
    assert sigs[1] == sigs[4]
    assert sigs[1] != sigs[3]


def test_minhash_lsh_finds_near_dups(spark):
    df = spark.createDataFrame(DOCS, ["id", "text"])
    sigs = minhash_signatures(df, "id", "text", n=2)
    pairs = {
        (r.id_a, r.id_b) for r in minhash_lsh_candidates(sigs).collect()
    }
    assert (1, 4) in pairs           # exact dups always collide
    assert (1, 3) not in pairs and (3, 4) not in pairs


def test_minhash_lsh_hot_bucket_fallback(spark):
    """max_bucket=1 forces EVERY bucket down the banded self-join path;
    the candidate pair set must be identical to the in-row fast path."""
    df = spark.createDataFrame(DOCS, ["id", "text"])
    sigs = minhash_signatures(df, "id", "text", n=2)
    fast = {(r.id_a, r.id_b) for r in minhash_lsh_candidates(sigs).collect()}
    slow = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_candidates(sigs, max_bucket=1).collect()
    }
    assert fast == slow and (1, 4) in slow


def test_ngram_jaccard(spark):
    df = spark.createDataFrame(DOCS, ["id", "text"])
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(df, "id", "text", n=1, threshold=0.5).collect()
    }
    assert pairs[(1, 4)] == 1.0
    assert 0.5 <= pairs[(1, 2)] < 1.0
    assert (1, 3) not in pairs


def test_simhash_clusters_exact_dups(spark):
    df = spark.createDataFrame(DOCS, ["id", "text"])
    sigs = {r.id: r.simhash for r in simhash(df, "id", "text").collect()}
    assert sigs[1] == sigs[4]
    assert sigs[1] != sigs[3]


EMB = [
    (1, [1.0, 0.0, 0.0]),
    (2, [0.9, 0.1, 0.0]),
    (3, [0.0, 1.0, 0.0]),
    (4, [0.0, 0.0, 1.0]),
]


def test_cosine_topk(spark):
    df = spark.createDataFrame(EMB, ["vec_id", "embedding"])
    q = df.filter(F.col("vec_id") == 1)
    got = [
        (r.neighbor_id, r.rank)
        for r in cosine_topk(df, q, k=2).orderBy("rank").collect()
    ]
    assert got == [(2, 1), (3, 2)]


def test_lsh_and_ivf_rank_nearest_first(spark):
    df = spark.createDataFrame(EMB, ["vec_id", "embedding"])
    q = df.filter(F.col("vec_id") == 1)
    lsh = lsh_bucketed_topk(df, q, k=2, planes=2).orderBy("rank").collect()
    assert lsh and lsh[0].neighbor_id == 2  # nearest survives bucketing
    ivf = ivf_topk(df, q, k=2, n_centroids=2, nprobe=2).orderBy("rank").collect()
    assert ivf and ivf[0].neighbor_id == 2


def test_lloyd_centroids_converge_to_cluster_means(spark):
    """Two tight clusters with seed ids 0 (cluster A) and 1 (cluster B):
    one Lloyd round must land each centroid on its cluster's mean."""
    from social_and_media_data_ingestion_spark.operators.similarity import (
        lloyd_centroids,
    )

    a = [[1.0, 0.0], [0.8, 0.2], [0.9, 0.1]]
    b = [[0.0, 1.0], [0.2, 0.8], [0.1, 0.9]]
    rows = [(0, a[0]), (1, b[0]), (2, a[1]), (3, a[2]), (4, b[1]), (5, b[2])]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cent = dict(lloyd_centroids(df, n_centroids=2, iters=1))
    assert cent[0] == [0.9, 0.1]  # mean of cluster A
    assert cent[1] == [0.1, 0.9]  # mean of cluster B
    # deterministic: second invocation identical
    again = dict(lloyd_centroids(df, n_centroids=2, iters=1))
    assert again == cent


# seed 0's norm underflows (5e-324 squares to 0); vector 0 then has a NULL
# cosine to every centroid and joins the smallest id, seed 1, whose only
# other member is itself: their mean rounds (6dp) to all zeros
ZERO_NORM_EMB = [
    (0, [5e-324, 0.0]),
    (1, [1e-100, 1e-100]),
    (2, [1.0, 0.0]),
    (3, [0.0, 1.0]),
    (4, [0.9, 0.1]),
    (5, [0.2, 0.8]),
]


def test_lloyd_drops_zero_norm_seeds_and_centroids(spark):
    """A zero-norm seed and an updated centroid that rounds to all zeros
    drop out instead of dividing by a zero norm (an ANSI DIVIDE_BY_ZERO
    under Spark); a zero-norm query gets NULL cosines, not a crash."""
    from social_and_media_data_ingestion_spark.operators.similarity import (
        lloyd_centroids,
    )

    df = spark.createDataFrame(ZERO_NORM_EMB, "vec_id bigint, embedding array<double>")
    assert [c for c, _ in lloyd_centroids(df, n_centroids=4, iters=1)] == [2, 3]
    got = ivf_topk(
        df, df.filter(F.col("vec_id") <= 2), k=2, n_centroids=4, nprobe=2,
        lloyd_iters=2,
    ).collect()
    assert {r.query_id for r in got} == {0, 1, 2}
    assert all(r.cosine is None for r in got if 0 in (r.query_id, r.neighbor_id))


def test_lloyd_registry_queries_match_oracle_on_all_zero_centroid(spark, tmp_path):
    """The three Lloyd registry queries agree with their DuckDB oracles
    when a refined centroid rounds to all zeros: seed 0 points along
    (1, -1) with float32-subnormal components and only its subnormal
    look-alikes join it, while seeds 1..7 cover the positive quadrant
    every 15 degrees and take every other vector."""
    import math

    import duckdb

    from social_and_media_data_ingestion_spark.plans.queries import registry

    def unit(deg, r=1.0):
        return [r * math.cos(math.radians(deg)), r * math.sin(math.radians(deg))]

    rows = (
        [(0, [1e-40, -1e-40])]
        + [(i, unit(15 * (i - 1))) for i in range(1, 8)]
        + [(i, unit((i * 37) % 90, 1 + i % 3)) for i in range(8, 40)]
        + [(40, [2e-40, -2e-40]), (41, [1e-40, -3e-40])]
    )
    spark.createDataFrame(
        [(i, v, i % 2) for i, v in rows],
        "vec_id bigint, embedding array<float>, label int",
    ).write.parquet(str(tmp_path / "embeddings.parquet"))
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{tmp_path}/embeddings.parquet/*.parquet')"
    )

    def canon(records):
        return sorted(
            tuple("NULL" if v is None or v != v else f"{v:.6f}"
                  if isinstance(v, float) else str(v) for v in r)
            for r in records
        )

    reg = registry()
    for name in ("emb_lloyd_centroids", "sim_ivf_lloyd_topk", "sim_ivf_lloyd_recall"):
        sdf = reg[name].spark(spark, str(tmp_path))
        want = con.execute(reg[name].oracle)
        cols = [d[0] for d in want.description]
        assert canon(sdf.select(*cols).collect()) == canon(want.fetchall()), name


def test_pq_encode_codebook_members_self_code(spark):
    """Vectors that ARE the codewords must encode to their own code id."""
    from social_and_media_data_ingestion_spark.operators.similarity import (
        pq_codebooks,
        pq_encode,
    )

    rows = [
        (0, [1.0, 0.0, 0.0, 1.0]),
        (1, [0.0, 1.0, 1.0, 0.0]),
        (2, [0.9, 0.1, 0.1, 0.9]),  # near vector 0 in both subspaces
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    books = pq_codebooks(df, m_subvectors=2, n_codes=2)
    assert len(books) == 2 and len(books[0]) == 2 and len(books[0][0]) == 2
    codes = {r.id: list(r.codes) for r in pq_encode(df, books).collect()}
    assert codes[0] == [0, 0] and codes[1] == [1, 1] and codes[2] == [0, 0]


def test_pq_topk_and_l2_topk_nearest_first(spark):
    from social_and_media_data_ingestion_spark.operators.similarity import (
        l2_topk,
        pq_topk,
    )

    df = spark.createDataFrame(EMB, ["vec_id", "embedding"])
    q = df.filter(F.col("vec_id") == 1)
    exact = l2_topk(df, q, k=2).orderBy("rank").collect()
    assert [r.neighbor_id for r in exact] == [2, 3]
    # ADC hand-check (codebook = subvectors of vecs 1,2; sub=1):
    #   n2 -> recon [0.9,0.1,0], d=0.02; n3 -> same recon, d=0.02 (tie, id
    #   order); n4 -> recon [0.9,0,0], d=0.01 -> ranks FIRST. Quantization
    #   reordering vs exact is expected — that's what the recall audit
    #   (emb_pq_recall) quantifies.
    approx = pq_topk(df, q, k=2, m_subvectors=3, n_codes=2).orderBy("rank").collect()
    assert [r.neighbor_id for r in approx] == [4, 2]
    assert abs(approx[0].approx_dist - 0.01) < 1e-9


def test_ivf_lloyd_matches_exact_on_separable_data(spark):
    df = spark.createDataFrame(EMB, ["vec_id", "embedding"])
    q = df.filter(F.col("vec_id") == 1)
    got = ivf_topk(
        df, q, k=2, n_centroids=2, nprobe=2, lloyd_iters=2
    ).orderBy("rank").collect()
    assert got and got[0].neighbor_id == 2


def test_pagerank_star_graph(spark):
    """Undirected star (hub 0 - spokes 1..4): the hub must dominate, the
    spokes must tie, and total mass stays ~1 (no dangling loss with
    bidirectional edges)."""
    from social_and_media_data_ingestion_spark.operators.graph import pagerank

    spokes = [1, 2, 3, 4]
    rows = [(0, s) for s in spokes] + [(s, 0) for s in spokes]
    edges = spark.createDataFrame(rows, ["src", "dst"])
    pr = {r.node: r.pr for r in pagerank(edges, iters=5).collect()}
    assert pr[0] > pr[1]
    assert len({pr[s] for s in spokes}) == 1  # spokes identical
    assert abs(sum(pr.values()) - 1.0) < 1e-6
    # deterministic across invocations
    again = {r.node: r.pr for r in pagerank(edges, iters=5).collect()}
    assert again == pr


def test_sql_double_literal_exact_roundtrip(spark):
    """The SQL-string expression compiler embeds doubles as
    CAST('<repr>' AS DOUBLE); every IEEE-754 double must survive the
    round-trip bit-exactly (repr is shortest-round-trip decimal)."""
    import math
    import random
    import struct

    from social_and_media_data_ingestion_spark.operators.similarity import (
        _sql_arr,
    )

    random.seed(3)
    vals = [0.0, -0.0, 1.0, -1.5, 1e-300, -1e300, 2.0**-52, math.pi]
    for _ in range(40):
        b = random.getrandbits(64)
        v = struct.unpack("<d", struct.pack("<Q", b))[0]
        if math.isnan(v) or math.isinf(v):
            continue
        vals.append(v)
    row = spark.sql(f"SELECT {_sql_arr(vals)} AS a").first()
    got = list(row.a)
    assert len(got) == len(vals)
    for g, w in zip(got, vals):
        assert struct.pack("<d", g) == struct.pack("<d", w), (g, w)
