"""End-to-end pretraining-corpus pipeline: the engine's operators composed
the way a production data-curation run chains them.

Stage order (each a pure DataFrame -> DataFrame transform, so the whole
chain is ONE Catalyst plan per output and stages fuse where possible):

    raw documents
      -> quality gate        (lang-ID, token-length band, punctuation)
      -> exact dedup         (rolling-fingerprint keep-first)
      -> near-dup dedup      (LSH candidates -> Jaccard verify ->
                              connected components -> canonical selection)
      -> decontamination     (drop docs sharing bigram shingles with the
                              eval split beyond a threshold)
      -> packed contexts / temperature weights (downstream feeders)

Scale posture: every stage is covered by the per-operator scale notes in
the registry (SCALE.md §3); nothing here introduces a new shuffle class.
The intermediate `survivors` frames are returned so callers can persist
between stages on a real cluster (recomputation would otherwise repeat
the LSH work when both outputs are materialized).

Reference parity: this is the batch generalization of the reference's
filter-project-dedup chains (parser_media_articles.py:80-120) with the
LLM-curation stages a 100 TB corpus additionally needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from social_and_media_data_ingestion_spark.operators import dedup as D
from social_and_media_data_ingestion_spark.operators import text_analysis as TA


def quality_gate(
    docs: DataFrame,
    text_col: str = "text",
    lang: str = "en",
    min_tokens: int = 10,
    max_tokens: int = 1000,
    max_punct_ratio: float = 0.2,
) -> DataFrame:
    """Keep documents that pass lang-ID, token-length, and punctuation
    gates. Pure map — filters fuse into the scan."""
    return docs.filter(
        (TA.language_id(text_col) == lang)
        & TA.ws_token_count(text_col).cast("long").between(min_tokens, max_tokens)
        & (TA.punct_ratio(text_col) <= max_punct_ratio)
    )


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep-first exact dedup on the rolling content fingerprint (one
    shuffle keyed on the fingerprint)."""
    w = Window.partitionBy("__fp").orderBy(id_col)
    return (
        docs.withColumn("__fp", TA.rolling_fingerprint(text_col))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__fp", "__rn")
    )


def near_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_col: str = "n_chars",
    threshold: float = 0.75,
    shingle_n: int = 3,
) -> DataFrame:
    """Near-dup removal: LSH candidates -> exact Jaccard verify ->
    connected components -> keep the canonical member per cluster
    (max keep_col, id tie-break). Docs in no cluster survive as-is.

    shingle_n=3 (word 3-grams) is load-bearing at scale: unigram
    shingles give unrelated docs high background Jaccard, so minhash
    bands collide constantly and the LSH candidate set degenerates
    toward all-pairs (measured 6.8M candidate pairs from 4.3k docs on
    the synthetic corpus — 73% of n^2/2). 3-gram shingles make the
    background overlap ~0 while true near-dups keep most shingles, so
    candidates stay proportional to the real duplicate count."""
    sigs = D.minhash_signatures(docs, id_col, text_col, n=shingle_n, num_hashes=8)
    cand = D.minhash_lsh_candidates(sigs, bands=4, rows_per_band=2)
    edges = D.ngram_jaccard_pairs(
        docs, id_col, text_col, n=shingle_n, threshold=threshold, candidates=cand
    )
    clusters = D.connected_components(edges)
    member = clusters.join(
        docs.select(F.col(id_col).alias("id"), F.col(keep_col).alias("__keep")),
        "id",
    )
    # the canonical member heads its cluster ordered by keep_col (NULLs
    # last), then id; every member whose id differs from it is dropped.
    # One window exchange instead of a max-aggregate plus an anti join
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("__keep").desc_nulls_last(), F.col("id").asc()
    )
    drop = (
        member.withColumn("__canon", F.first("id").over(w))
        .filter(F.col("id") != F.col("__canon"))
        .select(F.col("id").alias(id_col))
    )
    return docs.join(drop, id_col, "left_anti")


def decontaminate(
    docs: DataFrame,
    eval_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_overlap: float = 0.1,
) -> DataFrame:
    """Drop training docs whose distinct word-3-gram overlap with the
    eval set exceeds max_overlap. Eval shingles broadcast; probe is
    map-side. 3-grams (matching the standalone corpus_decontaminate
    operator) rather than bigrams: with a small vocabulary a large
    enough eval split covers the entire bigram space, flagging EVERY
    training doc as contaminated — longer shingles keep the overlap
    signal tied to actual shared passages (the reason production
    decontamination sweeps use 8-13-gram windows)."""

    def shingle_set(df: DataFrame, with_id: bool) -> DataFrame:
        # token array let-bound as lambda var tk — evaluated once per
        # row, not once per shingle (see dedup._sql_shingles)
        arr = (
            rf"flatten(transform(array(filter(split(lower(trim({text_col})),"
            r" '\\s+'), x -> x != '')), tk -> "
            "CASE WHEN size(tk) >= 3 THEN "
            "transform(sequence(1, size(tk) - 2), "
            "i -> concat(element_at(tk, i), ' ', element_at(tk, i+1), "
            "' ', element_at(tk, i+2))) "
            "ELSE CAST(array() AS ARRAY<STRING>) END))"
        )
        cols = [F.col(id_col)] if with_id else []
        return df.select(
            *cols, F.explode(F.array_distinct(F.expr(arr))).alias("shingle")
        )

    tr = shingle_set(docs, with_id=True)
    ev = shingle_set(eval_docs, with_id=False).distinct()
    tot = tr.groupBy(id_col).agg(F.count("*").alias("__n"))
    hit = (
        tr.join(F.broadcast(ev), "shingle")
        .groupBy(id_col)
        .agg(F.count("*").alias("__h"))
    )
    contaminated = (
        tot.join(hit, id_col)
        .filter(F.col("__h") / F.col("__n") > max_overlap)
        .select(id_col)
    )
    return docs.join(contaminated, id_col, "left_anti")


def pretraining_corpus_pipeline(
    docs: DataFrame,
    eval_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_overlap: float = 0.1,
    persist: bool = False,
) -> dict[str, DataFrame]:
    """Full curation chain; returns every stage so callers can persist
    between the expensive ones and audit per-stage attrition.

    persist=True pins the exact-dedup and near-dedup survivor frames:
    the downstream stages each re-derive signatures/shingles from their
    input, so without a pin the gate+dedup lineage re-executes once per
    later stage (measured ~2x end-to-end on the composite oracle query).
    The exact frame is cached: its plan is the same on every call over
    the same input, so repeated calls share one cache entry. The near
    frame is localCheckpoint-ed instead: its plan scans the connected-
    components pin, which is new on every call, so a cache entry would
    never be shared — and the session's cache manager holds every entry
    (and the pinned blocks its plan scans) until an explicit unpersist,
    one more per call. A checkpoint is reclaimed once the frame is
    dropped. Under AQE eager=False still runs the near stage's
    shuffle-map stages at build time; only its last stage waits for an
    action."""
    gated = quality_gate(docs, text_col)
    exact = exact_dedup(gated, id_col, text_col)
    if persist:
        exact = exact.persist()
    near = near_dedup(exact, id_col, text_col)
    if persist:
        near = near.localCheckpoint(eager=False)
    clean = decontaminate(near, eval_docs, id_col, text_col, max_overlap=max_overlap)
    return {
        "quality_gate": gated,
        "exact_dedup": exact,
        "near_dedup": near,
        "decontaminated": clean,
    }
