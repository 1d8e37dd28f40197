"""The curation builders run each lineage once: job-count guards, edge
cases of the connected-components / candidate-verify / triangle-count
rewrites, and the pin-reclamation guard of the curation pipeline.

Job counts are deterministic for a fixed fixture and session config
(AQE decides exchange vs broadcast from data sizes, not from timing), so
the guard below does not depend on machine load. Counts come from
`SparkContext.statusTracker` under one job group per phase."""

from __future__ import annotations

import gc
import threading
import time
import warnings

import pytest

from social_and_media_data_ingestion_spark.operators.dedup import (
    connected_components,
    ngram_jaccard_pairs,
)
from social_and_media_data_ingestion_spark.operators.graph import triangle_count


@pytest.fixture(scope="module")
def tables(tmp_path_factory) -> str:
    """The curation benchmark's seeded tables (sf 0.01, 500 documents)."""
    from perfbench import gen

    out = str(tmp_path_factory.mktemp("curation_tables"))
    gen.registry_tables(out, seed=1, sf=0.01, n_docs=500, n_emb=500)
    return out


# (build jobs, execution jobs) upper bounds per query on `tables`,
# measured with shuffle_partitions=8 (the suite's session). Before the
# one-lineage rewrite the same fixture measured corpus_full_curation
# (39, 13), dedup_shingle_containment (5, 4) and
# graph_triangle_suppliers (19, 1).
_JOB_BOUNDS = {
    "corpus_full_curation": (19, 7),
    "dedup_shingle_containment": (5, 4),
    "graph_triangle_suppliers": (5, 12),
}


def _jobs_in(sc, group: str) -> int:
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("name", sorted(_JOB_BOUNDS))
def test_curation_builders_job_counts(spark, tables, name):
    """Build-time and execution jobs of each curation headliner stay
    under the bounds. The first call warms the session-level state the
    count depends on (the exact-dedup cache entry); the second is
    counted."""
    from social_and_media_data_ingestion_spark.plans.queries import registry

    sc = spark.sparkContext
    q = registry()[name]
    try:
        for rep in range(2):
            tag = f"jobguard-{name}-{rep}-{time.monotonic_ns()}"
            sc.setJobGroup(f"{tag}-build", "build")
            df = q.spark(spark, tables)
            sc.setJobGroup(f"{tag}-exec", "exec")
            df.write.format("noop").mode("overwrite").save()
        got = (_jobs_in(sc, f"{tag}-build"), _jobs_in(sc, f"{tag}-exec"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    max_build, max_exec = _JOB_BOUNDS[name]
    assert got[0] <= max_build and got[1] <= max_exec, (
        f"{name}: (build, exec) jobs {got} exceed {_JOB_BOUNDS[name]}"
    )


# ------------------------------------------------------ connected components


def _cc(edges, **kw) -> dict:
    return {r["id"]: r["cluster_id"] for r in connected_components(edges, **kw).collect()}


def test_connected_components_empty_edges_returns_without_hanging(spark):
    """The convergence probe is an observed metric of the round's pin
    job; on an empty edge frame that job still runs and reports 0, so
    the Observation never blocks."""
    edges = spark.createDataFrame([], "id_a bigint, id_b bigint")
    out: dict = {}
    t = threading.Thread(target=lambda: out.setdefault("rows", _cc(edges)), daemon=True)
    t.start()
    t.join(180)
    assert not t.is_alive(), "connected_components hung on empty edges"
    assert out["rows"] == {}


def test_connected_components_duplicate_and_self_loop_edges(spark):
    """Duplicate edges, both orientations and (x, x) self-loops only feed
    the same value to min() again; an isolated (x, x) node is its own
    cluster."""
    edges = spark.createDataFrame(
        [(1, 2), (1, 2), (2, 1), (2, 3), (3, 3), (7, 7), (5, 6), (6, 5)],
        "id_a bigint, id_b bigint",
    )
    assert _cc(edges) == {1: 1, 2: 1, 3: 1, 7: 7, 5: 5, 6: 5}


def test_connected_components_max_iter_one_is_the_seed_round(spark):
    """max_iter=1 runs only the seed round: each node takes the least of
    its own id and its neighbors' ids, and a chain longer than one hop
    warns."""
    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "id_a bigint, id_b bigint")
    with pytest.warns(RuntimeWarning, match="max_iter=1"):
        got = _cc(edges, max_iter=1)
    assert got == {1: 1, 2: 1, 3: 2, 4: 3}
    # a star converges in the seed round: no warning
    star = spark.createDataFrame([(1, 2), (1, 3)], "id_a bigint, id_b bigint")
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        assert _cc(star, max_iter=2) == {1: 1, 2: 1, 3: 1}


def test_connected_components_string_ids(spark):
    """String ids keep their native type and the string order."""
    edges = spark.createDataFrame(
        [("bob", "al"), ("al", "cy"), ("zed", "yan")], "id_a string, id_b string"
    )
    rows = connected_components(edges).collect()
    assert all(isinstance(r["id"], str) for r in rows)
    assert {r["id"]: r["cluster_id"] for r in rows} == {
        "al": "al", "bob": "al", "cy": "al", "yan": "yan", "zed": "yan",
    }


def test_connected_components_mixed_ids_chain(spark):
    """Mixed endpoint types normalize to string across several rounds."""
    edges = spark.createDataFrame(
        [(3, "2"), (2, "1"), (9, "x")], "id_a bigint, id_b string"
    )
    assert _cc(edges) == {"1": "1", "2": "1", "3": "1", "9": "9", "x": "9"}


# --------------------------------------------------------- candidate verify

_DOCS = [
    (1, "alpha beta gamma delta epsilon zeta"),
    (2, "alpha beta gamma delta epsilon eta"),
    (3, "alpha beta gamma totally other words"),
    (4, "nothing in common with anything"),
    (5, "short"),
    (6, None),
    (7, "   "),
    (8, "alpha beta gamma delta epsilon zeta"),
]


def _pairs(df) -> dict:
    return {(r.id_a, r.id_b): r.jaccard for r in df.collect()}


@pytest.mark.parametrize("n", [1, 3])
@pytest.mark.parametrize("threshold", [0.0, 0.3])
def test_candidate_verify_matches_index_path(spark, n, threshold):
    """With candidates the verify is row-local, yet its rows are the
    index path's rows restricted to the candidates: pairs sharing no
    shingle, short and NULL texts drop out even at threshold 0.0;
    reversed, self and duplicate candidate pairs do not add rows."""
    docs = spark.createDataFrame(_DOCS, "doc_id bigint, text string")
    ids = [d[0] for d in _DOCS]
    cand_rows = [(a, b) for a in ids for b in ids if a < b]
    cand_rows += [(2, 1), (3, 3), (1, 2), (1, 2)]
    cand = spark.createDataFrame(cand_rows, "id_a bigint, id_b bigint")
    full = _pairs(ngram_jaccard_pairs(docs, "doc_id", "text", n=n, threshold=threshold))
    got = ngram_jaccard_pairs(
        docs, "doc_id", "text", n=n, threshold=threshold, candidates=cand
    )
    assert got.columns == ["id_a", "id_b", "jaccard"]
    rows = got.collect()
    assert len(rows) == len({(r.id_a, r.id_b) for r in rows})
    assert _pairs(got) == full
    assert (1, 4) not in full  # no shared shingle, even at threshold 0.0


def test_candidate_verify_restricts_to_candidates(spark):
    docs = spark.createDataFrame(_DOCS, "doc_id bigint, text string")
    cand = spark.createDataFrame([(1, 8), (1, 4), (5, 6)], "id_a bigint, id_b bigint")
    got = _pairs(ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.0, candidates=cand))
    assert got == {(1, 8): 1.0}


def test_candidate_verify_unions_duplicate_doc_ids(spark):
    """A doc id on several rows verifies with the union of its rows'
    shingle sets, as the index path's distinct (id, shingle) frame
    does."""
    rows = _DOCS + [(2, "completely different second text for two")]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    cand = spark.createDataFrame(
        [(a, b) for a in range(1, 9) for b in range(1, 9) if a < b],
        "id_a bigint, id_b bigint",
    )
    full = _pairs(ngram_jaccard_pairs(docs, "doc_id", "text", n=1, threshold=0.0))
    got = _pairs(ngram_jaccard_pairs(docs, "doc_id", "text", n=1, threshold=0.0, candidates=cand))
    assert got == full


# ------------------------------------------------------------ triangle count


def test_triangle_count_empty_graph_is_one_lazy_row(spark):
    """An empty graph yields (0, NULL, NULL), and building the frame runs
    no Spark job: the count, the wedge sum and the clustering are one
    lazy one-row plan."""
    sc = spark.sparkContext
    group = f"tri-empty-{time.monotonic_ns()}"
    edges = spark.createDataFrame([], "src bigint, dst bigint")
    try:
        sc.setJobGroup(group, "build")
        df = triangle_count(edges)
        built = _jobs_in(sc, group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert built == 0
    assert df.schema.simpleString() == (
        "struct<n_triangles:bigint,n_wedges:bigint,clustering:double>"
    )
    assert [tuple(r) for r in df.collect()] == [(0, None, None)]


def test_triangle_count_rounds_clustering_like_the_oracle(spark):
    """Clustering is 3t/w rounded half-up at 1e-6 inside the plan: a
    triangle with a pendant edge has t=1, w=5 -> 0.6; a 7-node wheel
    minus a spoke exercises a repeating decimal."""
    import math

    tri_tail = spark.createDataFrame([(1, 2), (2, 3), (1, 3), (3, 4)], "src bigint, dst bigint")
    assert tuple(triangle_count(tri_tail).first()) == (1, 5, 0.6)
    rim = [(i, i % 6 + 1) for i in range(1, 7)]
    spokes = [(0, i) for i in range(1, 6)]
    wheel = spark.createDataFrame(rim + spokes, "src bigint, dst bigint")
    got = triangle_count(wheel).first()
    degs = [5, 3, 3, 3, 3, 3, 2]
    w = sum(d * (d - 1) // 2 for d in degs)
    assert (got.n_triangles, got.n_wedges) == (4, w)
    assert got.clustering == math.floor(3.0 * 4 / w * 1_000_000 + 0.5) / 1_000_000


# ---------------------------------------------------------- pin reclamation


def _persistent_rdds(sc) -> int:
    for _ in range(3):
        gc.collect()
        sc._jvm.System.gc()
        time.sleep(0.5)
    return sc._jsc.getPersistentRDDs().size()


def test_curation_pipeline_pins_are_reclaimed(spark, tables):
    """Repeated persist=True pipeline runs must not accumulate pinned
    RDDs. The near-dedup stage's plan scans the connected-components
    pin, which is new on every call, so caching it added one cache
    manager entry per call — each holding its cached blocks and the
    pin it scans until an explicit unpersist (+2 persistent RDDs per
    call, unbounded). Its checkpoint is reclaimed once dropped."""
    from pyspark.sql import functions as F

    from social_and_media_data_ingestion_spark.pipelines import (
        pretraining_corpus_pipeline,
    )
    from social_and_media_data_ingestion_spark.plans.tables import t

    sc = spark.sparkContext
    docs = t(spark, tables, "documents")

    def run_once() -> None:
        stages = pretraining_corpus_pipeline(
            docs.filter(F.col("source") != "src0"),
            docs.filter(F.col("source") == "src0"),
            persist=True,
        )
        stages["decontaminated"].write.format("noop").mode("overwrite").save()

    for _ in range(2):
        run_once()
    settled = _persistent_rdds(sc)
    for _ in range(4):
        run_once()
    grown = _persistent_rdds(sc) - settled
    assert grown <= 2, f"{grown} more persistent RDDs after 4 more pipeline runs"
