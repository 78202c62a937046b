"""Streaming assign-only ANN ingestion == batch index build, and
streaming matches == batch search against the earlier slice
(streaming/ann_stream.py). Mirrors the dedup_stream equivalence
discipline: vectors arrive across several files, the model is trained
ONCE before the stream starts, and every batch is matched against
everything ingested before it."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from scripts_toolkit_spark.ext.ann_index import build_ann_index
from scripts_toolkit_spark.ext.similarity import (
    auto_n_cells,
    deterministic_centroids,
    normalize_vectors,
)
from scripts_toolkit_spark.io.catalog import load_table
from scripts_toolkit_spark.streaming.ann_stream import (
    make_ann_ingest_processor,
    start_ann_ingest,
)


def _setup(spark, sf_dir, tmp_path):
    emb = load_table(spark, sf_dir, "embeddings")
    first = emb.where("vec_id % 3 = 0")
    second = emb.where("vec_id % 3 <> 0")
    # model trained once, offline, on the first slice
    normed = normalize_vectors(first).localCheckpoint()
    cents = deterministic_centroids(normed, auto_n_cells(normed)).localCheckpoint()
    index_path = str(tmp_path / "ix")
    cents.write.parquet(index_path + "/centroids")
    src = str(tmp_path / "vec_in")
    first.coalesce(1).write.mode("append").parquet(src)
    second.coalesce(1).write.mode("append").parquet(src)
    return emb, cents, index_path, src


def test_stream_store_matches_batch(spark, sf_dir, tmp_path):
    emb, cents, index_path, src = _setup(spark, sf_dir, tmp_path)
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = start_ann_ingest(
        stream,
        index_path=index_path,
        matches_path=str(tmp_path / "matches"),
        checkpoint=str(tmp_path / "ckpt"),
        k=3,
        n_probe=3,
    )
    q.awaitTermination()

    # 1. store parity: the streamed store must be row-identical to a
    # one-shot batch build over the full corpus with the SAME model
    one_path = str(tmp_path / "oneshot")
    build_ann_index(emb, one_path, centroids=cents)
    streamed = {
        (r["vec_id"], r["cell_id"], tuple(r["embedding"]))
        for r in spark.read.parquet(index_path + "/vectors").collect()
    }
    oneshot = {
        (r["vec_id"], r["cell_id"], tuple(r["embedding"]))
        for r in spark.read.parquet(one_path + "/vectors").collect()
    }
    assert streamed == oneshot
    assert streamed, "degenerate: empty store"

    # 2. matches semantics: every match pairs a later-batch query with an
    # EARLIER-batch neighbor, ranked cosine-descending per query
    rows = spark.read.parquet(str(tmp_path / "matches")).collect()
    assert rows, "degenerate: no cross-batch matches"
    assert all(r["query_id"] % 3 != 0 and r["neighbor_id"] % 3 == 0 for r in rows)
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["cos_sim"]))
    for _q, rs in by_q.items():
        rs.sort()
        sims = [s for _, s in rs]
        assert sims == sorted(sims, reverse=True)


def test_stream_matches_prebuilt_corpus(spark, sf_dir, tmp_path):
    """Round-6 ADVICE #1 regression: the documented flow — `build_ann_index`
    FIRST (which pre-populates /vectors), then stream late batches — must
    let streamed queries match against the PRE-BUILT corpus. The build
    stamps batch_id = -1 and partitions by batch_id, so the processor's
    `batch_id < current` prior-store filter includes it; before the fix the
    pre-built rows projected NULL batch_id and were silently dropped."""
    emb = load_table(spark, sf_dir, "embeddings")
    first = emb.where("vec_id % 3 = 0")
    second = emb.where("vec_id % 3 <> 0")
    index_path = str(tmp_path / "ix")
    # full batch build over the first slice: centroids AND /vectors
    build_ann_index(first, index_path)
    src = str(tmp_path / "vec_in")
    second.coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = start_ann_ingest(
        stream,
        index_path=index_path,
        matches_path=str(tmp_path / "matches"),
        checkpoint=str(tmp_path / "ckpt"),
        k=3,
        n_probe=3,
    )
    q.awaitTermination()
    rows = spark.read.parquet(str(tmp_path / "matches")).collect()
    assert rows, "streamed batch found no neighbors in the pre-built corpus"
    assert all(r["query_id"] % 3 != 0 and r["neighbor_id"] % 3 == 0 for r in rows)
    # the store now holds both slices under a uniform partitioned layout
    store = spark.read.parquet(index_path + "/vectors")
    assert store.count() == emb.count()
    assert {r["batch_id"] for r in store.select("batch_id").distinct().collect()} == {-1, 0}


def test_stream_spilled_store_matches_batch(spark, sf_dir, tmp_path):
    """Round-9 verdict Next #7: the streaming ingester must honor the
    index's stored n_home — a spill-built (n_home=2) index streamed into
    stays row-identical to a one-shot spilled build (copies included),
    cross-batch matching sees the spilled copies, and no (query, neighbor)
    pair duplicates within a batch (pairs can arise from both shared
    cells)."""
    emb = load_table(spark, sf_dir, "embeddings")
    first = emb.where("vec_id % 3 = 0")
    second = emb.where("vec_id % 3 <> 0")
    index_path = str(tmp_path / "ix")
    build_ann_index(first, index_path, n_home=2)  # meta carries the width
    cents = spark.read.parquet(index_path + "/centroids")
    src = str(tmp_path / "vec_in")
    second.coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = start_ann_ingest(
        stream,
        index_path=index_path,
        matches_path=str(tmp_path / "matches"),
        checkpoint=str(tmp_path / "ckpt"),
        k=3,
        n_probe=3,
    )
    q.awaitTermination()

    one_path = str(tmp_path / "oneshot")
    build_ann_index(emb, one_path, centroids=cents, n_home=2)
    streamed = {
        (r["vec_id"], r["cell_id"], r["probe_rank"], tuple(r["embedding"]))
        for r in spark.read.parquet(index_path + "/vectors").collect()
    }
    oneshot = {
        (r["vec_id"], r["cell_id"], r["probe_rank"], tuple(r["embedding"]))
        for r in spark.read.parquet(one_path + "/vectors").collect()
    }
    assert streamed == oneshot
    assert len(streamed) == 2 * emb.count(), "spilled copies missing from store"

    rows = spark.read.parquet(str(tmp_path / "matches")).collect()
    assert rows, "degenerate: no cross-batch matches"
    assert all(r["query_id"] % 3 != 0 and r["neighbor_id"] % 3 == 0 for r in rows)
    pairs = [(r["batch_id"], r["query_id"], r["neighbor_id"]) for r in rows]
    assert len(pairs) == len(set(pairs)), "duplicate pair from shared cells"


def test_ann_ingest_replay_idempotent(spark, sf_dir, tmp_path):
    """At-least-once foreachBatch: re-invoking the processor with the SAME
    (batch, batch_id) must leave both sinks byte-identical (dynamic
    partition overwrite), never duplicated."""
    emb, cents, index_path, _src = _setup(spark, sf_dir, tmp_path)
    proc = make_ann_ingest_processor(index_path, str(tmp_path / "matches"), k=3, n_probe=3)
    b0 = emb.where("vec_id % 3 = 0")
    b1 = emb.where("vec_id % 3 <> 0")
    proc(b0, 0)
    proc(b1, 1)
    store1 = sorted(
        (r["vec_id"], r["batch_id"]) for r in spark.read.parquet(index_path + "/vectors").collect()
    )
    matches1 = sorted(
        tuple(r) for r in spark.read.parquet(str(tmp_path / "matches")).collect()
    )
    proc(b1, 1)  # replay the second batch
    store2 = sorted(
        (r["vec_id"], r["batch_id"]) for r in spark.read.parquet(index_path + "/vectors").collect()
    )
    matches2 = sorted(
        tuple(r) for r in spark.read.parquet(str(tmp_path / "matches")).collect()
    )
    assert store1 == store2
    assert matches1 == matches2


def _plain_codebook(spark, emb):
    """A fixed-size PLAIN codebook (64 codes, m=4, sub_dim=16) trained on
    the whole corpus, as a two-level store takes it."""
    from scripts_toolkit_spark.ext.similarity import pq_subspace_codebook

    normed = normalize_vectors(emb).localCheckpoint()
    picks = deterministic_centroids(normed, 64).select(
        F.col("cell_id").alias("code"), "centroid"
    )
    return pq_subspace_codebook(picks, 4, 16).localCheckpoint()


def _residual_codebook(spark, emb):
    """A caller-provided RESIDUAL codebook (the seeded construction over
    16 cells, 64 codes, m=4, sub_dim=16), as a two-level store takes it."""
    from scripts_toolkit_spark.ext.ann_index import _seeded_residual_model

    normed = normalize_vectors(emb).localCheckpoint()
    _cents, cb, _rows, _cb_rows = _seeded_residual_model(
        spark, normed, 16, 64, 4, 16, "vec_id", "embedding"
    )
    return cb.localCheckpoint()


# store composition -> (build kwargs, use_pq, codebook factory or None)
STORE_COMPOSITIONS = {
    "ivf": ({}, False, None),
    "ivf_spilled": ({"n_home": 2}, False, None),
    "two_level_ivf": ({"two_level": True}, False, None),
    "two_level_pq": ({"two_level": True}, True, _plain_codebook),
    "two_level_residual": ({"two_level": True, "residual": True}, True, _residual_codebook),
    "residual_spilled_pq": (
        {"n_cells": 8, "n_home": 2, "residual": True, "pq_n_codes": 64, "m": 4, "sub_dim": 16},
        True,
        None,
    ),
}


def _vec_rows(spark, path):
    return {
        (r["vec_id"], r["cell_id"], r["probe_rank"], tuple(r["embedding"]))
        for r in spark.read.parquet(path + "/vectors").collect()
    }


def _code_rows(spark, path):
    return {
        (r["vec_id"], r["cell_id"], r["probe_rank"], tuple(r["ncodes"]))
        for r in spark.read.parquet(path + "/codes").collect()
    }


def _match_rows(spark, matches_path, batch_id):
    return {
        (r["query_id"], r["neighbor_id"], r["rank"], r["cos_sim"])
        for r in spark.read.parquet(matches_path).collect()
        if r["batch_id"] == batch_id
    }


@pytest.mark.parametrize("composition", list(STORE_COMPOSITIONS))
def test_stream_pq_residual_spilled_matches_and_parity(spark, sf_dir, tmp_path, composition):
    """The stream searches and writes exactly as the batch verbs do, on
    every store composition (flat IVF at n_home 1 and 2, two-level IVF,
    two-level plain PQ, two-level residual PQ, residual × spilled PQ):

      - per-batch matches == `search_index` with the batch as external
        queries over a reference store holding exactly the PRIOR batches
        (stream==batch parity, IVF or compressed-domain),
      - the final /vectors (and /codes on a codebook-built store) are
        row-identical to a build+append chain with the same stored model,
      - replaying a batch leaves matches, /vectors and /codes
        byte-identical (per-batch_id dynamic overwrite on every sink)."""
    from scripts_toolkit_spark.ext.ann_index import append_to_index, search_index

    build_kw, use_pq, codebook = STORE_COMPOSITIONS[composition]
    emb = load_table(spark, sf_dir, "embeddings")
    if codebook is not None:
        build_kw = dict(build_kw, sub_codebook=codebook(spark, emb))
    b0 = emb.where("vec_id % 3 = 0")
    b1 = emb.where("vec_id % 3 = 1")
    b2 = emb.where("vec_id % 3 = 2")
    index_path = str(tmp_path / "ix")
    matches_path = str(tmp_path / "matches")
    # model trained ONCE on the first slice; every knob lands in meta
    build_ann_index(b0, index_path, **build_kw)
    proc = make_ann_ingest_processor(
        index_path, matches_path, k=3, n_probe=3, use_pq=use_pq, rerank_factor=8
    )
    proc(b1, 1)
    proc(b2, 2)

    # reference: batch verbs over the same deterministic build
    ref_path = str(tmp_path / "ref")
    build_ann_index(b0, ref_path, **build_kw)
    search_kw = dict(k=3, n_probe=3, use_pq=use_pq, rerank_factor=8)
    exp1 = {tuple(r) for r in search_index(spark, ref_path, queries=b1, **search_kw).collect()}
    append_to_index(spark, ref_path, b1)
    exp2 = {tuple(r) for r in search_index(spark, ref_path, queries=b2, **search_kw).collect()}
    append_to_index(spark, ref_path, b2)

    got1 = _match_rows(spark, matches_path, 1)
    got2 = _match_rows(spark, matches_path, 2)
    assert got1 == exp1 and got1, "batch-1 matches diverge from search_index"
    assert got2 == exp2 and got2, "batch-2 matches diverge from search_index"

    n_home = build_kw.get("n_home", 1)
    assert _vec_rows(spark, index_path) == _vec_rows(spark, ref_path)
    assert len(_vec_rows(spark, index_path)) == n_home * emb.count()
    if use_pq:
        assert _code_rows(spark, index_path) == _code_rows(spark, ref_path)

    def state():
        return (
            sorted(tuple(r) for r in spark.read.parquet(matches_path).collect()),
            sorted(_vec_rows(spark, index_path)),
            sorted(_code_rows(spark, index_path)) if use_pq else None,
        )

    pre = state()
    proc(b2, 2)  # replay
    assert state() == pre


def test_stream_after_retrain_matches_batch_chain(spark, sf_dir, tmp_path):
    """A `retrain_index` between micro-batches takes effect on the next
    batch: the stream reads the stored model every batch, so
    build(b0) → stream b1 → retrain → stream b2 leaves the same store as
    build(b0) → append(b1) → retrain → append(b2), and b2's matches
    equal `search_index` over the retrained store. The seeded residual ×
    spilled store rebuilds both centroids and codebook on retrain."""
    from scripts_toolkit_spark.ext.ann_index import (
        append_to_index,
        retrain_index,
        search_index,
    )

    build_kw, _use_pq, _cb = STORE_COMPOSITIONS["residual_spilled_pq"]
    emb = load_table(spark, sf_dir, "embeddings")
    b0 = emb.where("vec_id % 3 = 0")
    b1 = emb.where("vec_id % 3 = 1")
    b2 = emb.where("vec_id % 3 = 2")
    index_path = str(tmp_path / "ix")
    matches_path = str(tmp_path / "matches")
    build_ann_index(b0, index_path, **build_kw)
    proc = make_ann_ingest_processor(
        index_path, matches_path, k=3, n_probe=3, use_pq=True, rerank_factor=8
    )
    proc(b1, 1)
    retrain_index(spark, index_path)
    proc(b2, 2)

    ref_path = str(tmp_path / "ref")
    build_ann_index(b0, ref_path, **build_kw)
    append_to_index(spark, ref_path, b1)
    retrain_index(spark, ref_path)
    exp2 = {
        tuple(r)
        for r in search_index(
            spark, ref_path, queries=b2, k=3, n_probe=3, use_pq=True, rerank_factor=8
        ).collect()
    }
    append_to_index(spark, ref_path, b2)

    assert _vec_rows(spark, index_path) == _vec_rows(spark, ref_path)
    assert _code_rows(spark, index_path) == _code_rows(spark, ref_path)
    got2 = _match_rows(spark, matches_path, 2)
    assert got2 == exp2 and got2, "post-retrain matches diverge from search_index"


def test_lifecycle_compact_delete_between_batches(spark, sf_dir, tmp_path):
    """Round-8 verdict "What's missing" #3: compact/delete are pinned
    standalone, but a real operator runs them BETWEEN micro-batches. The
    composition contract: after append(b0) -> append(b1) -> compact ->
    delete -> append(b2),

      - the post-compact store is a single batch_id = -1 partition and
        index_health reads appended_frac = 0 (compact's documented effect),
      - the NEXT micro-batch still cross-batch matches (compacted rows
        pass the batch_id < current prior-store filter) and deleted ids
        never surface as neighbors,
      - replaying that batch is still idempotent (its dynamic partition
        overwrite is untouched by the earlier compact),
      - the final store is row-identical to a one-shot build over the
        surviving corpus with the SAME model (store==batch parity)."""
    from scripts_toolkit_spark.ext.ann_index import (
        compact_index,
        delete_from_index,
        index_health,
    )

    emb, cents, index_path, _src = _setup(spark, sf_dir, tmp_path)
    matches_path = str(tmp_path / "matches")
    proc = make_ann_ingest_processor(index_path, matches_path, k=3, n_probe=3)
    b0 = emb.where("vec_id % 3 = 0")
    b1 = emb.where("vec_id % 3 = 1")
    b2 = emb.where("vec_id % 3 = 2")
    proc(b0, 0)
    proc(b1, 1)

    compact_index(spark, index_path)
    store = spark.read.parquet(index_path + "/vectors")
    assert {r["batch_id"] for r in store.select("batch_id").distinct().collect()} == {-1}
    health = index_health(spark, index_path).collect()[0]
    assert health["appended_frac"] == 0.0

    victims = emb.where("vec_id % 30 = 0").select("vec_id")
    n_victims = victims.count()
    assert n_victims > 0, "degenerate: no victims at this SF"
    delete_from_index(spark, index_path, victims)
    assert (
        spark.read.parquet(index_path + "/vectors").count()
        == b0.count() + b1.count() - n_victims
    )

    proc(b2, 2)
    victim_ids = {r["vec_id"] for r in victims.collect()}
    m2 = spark.read.parquet(matches_path).where("batch_id = 2").collect()
    assert m2, "post-compact/delete batch found no cross-batch matches"
    assert all(r["query_id"] % 3 == 2 for r in m2)
    assert all(r["neighbor_id"] not in victim_ids for r in m2)

    # replay idempotency of the post-lifecycle batch
    store1 = sorted(
        (r["vec_id"], r["batch_id"], r["cell_id"])
        for r in spark.read.parquet(index_path + "/vectors").collect()
    )
    matches1 = sorted(tuple(r) for r in spark.read.parquet(matches_path).collect())
    proc(b2, 2)
    store2 = sorted(
        (r["vec_id"], r["batch_id"], r["cell_id"])
        for r in spark.read.parquet(index_path + "/vectors").collect()
    )
    matches2 = sorted(tuple(r) for r in spark.read.parquet(matches_path).collect())
    assert store1 == store2
    assert matches1 == matches2

    # store==batch parity over the SURVIVING corpus with the same model
    one_path = str(tmp_path / "oneshot")
    survivors = emb.join(victims, "vec_id", "left_anti")
    build_ann_index(survivors, one_path, centroids=cents)
    streamed = {
        (r["vec_id"], r["cell_id"], tuple(r["embedding"]))
        for r in spark.read.parquet(index_path + "/vectors").collect()
    }
    oneshot = {
        (r["vec_id"], r["cell_id"], tuple(r["embedding"]))
        for r in spark.read.parquet(one_path + "/vectors").collect()
    }
    assert streamed == oneshot


def test_stream_two_level_store_matches_batch(spark, sf_dir, tmp_path):
    """r12: the streaming ingester honors the persisted TWO-LEVEL routing
    (meta two_level) — per-batch assignment goes coarse-to-fine with the
    stored threshold-pick centroids (bigint cell ids; no flat centroid
    collect), and the streamed store stays row-identical to a one-shot
    two-level build over the same corpus with the same model."""
    emb = load_table(spark, sf_dir, "embeddings")
    first = emb.where("vec_id % 3 = 0")
    rest_a = emb.where("vec_id % 3 = 1")
    rest_b = emb.where("vec_id % 3 = 2")
    index_path = str(tmp_path / "ix2l")
    build_ann_index(first, index_path, two_level=True)

    src = str(tmp_path / "vec_in")
    rest_a.coalesce(1).write.mode("append").parquet(src)
    rest_b.coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = start_ann_ingest(
        stream,
        index_path=index_path,
        matches_path=str(tmp_path / "matches"),
        checkpoint=str(tmp_path / "ckpt"),
        k=3,
        n_probe=3,
    )
    q.awaitTermination()

    one_path = str(tmp_path / "oneshot")
    stored_cents = spark.read.parquet(index_path + "/centroids").localCheckpoint()
    build_ann_index(emb, one_path, centroids=stored_cents, two_level=True)
    streamed = {
        (r["vec_id"], r["cell_id"], tuple(r["embedding"]))
        for r in spark.read.parquet(index_path + "/vectors").collect()
    }
    oneshot = {
        (r["vec_id"], r["cell_id"], tuple(r["embedding"]))
        for r in spark.read.parquet(one_path + "/vectors").collect()
    }
    assert streamed == oneshot
    assert streamed, "degenerate: empty store"

    rows = spark.read.parquet(str(tmp_path / "matches")).collect()
    assert rows, "degenerate: no cross-batch matches"
    # every match pairs a later-batch query with an earlier-batch neighbor
    assert all(r["query_id"] % 3 != 0 for r in rows)


def test_stream_two_level_pq_store_matches_batch(spark, sf_dir, tmp_path):
    """r13 (round-12 verdict Next #3, streamed): a TWO-LEVEL store built
    with a trained fixed-size PLAIN codebook ingests by stream with
    use_pq=True — the per-batch cross-batch match runs compressed-domain
    over the prior store's /codes (read through the bigint-cell widened
    schema), each batch's codes append under the same per-batch_id
    overwrite, and the streamed store + codes stay row-identical to a
    one-shot two-level PQ build with the same model."""
    from pyspark.sql import functions as F

    from scripts_toolkit_spark.ext.similarity import (
        deterministic_centroids,
        normalize_vectors,
        pq_subspace_codebook,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    normed = normalize_vectors(emb).localCheckpoint()
    cb = pq_subspace_codebook(
        deterministic_centroids(normed, 64).select(
            F.col("cell_id").alias("code"), "centroid"
        ),
        4,
        16,
    ).localCheckpoint()
    first = emb.where("vec_id % 3 = 0")
    rest_a = emb.where("vec_id % 3 = 1")
    rest_b = emb.where("vec_id % 3 = 2")
    index_path = str(tmp_path / "ix2lpq")
    build_ann_index(first, index_path, two_level=True, sub_codebook=cb)

    src = str(tmp_path / "vec_in")
    rest_a.coalesce(1).write.mode("append").parquet(src)
    rest_b.coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = start_ann_ingest(
        stream,
        index_path=index_path,
        matches_path=str(tmp_path / "matches"),
        checkpoint=str(tmp_path / "ckpt"),
        k=3,
        n_probe=3,
        use_pq=True,
    )
    q.awaitTermination()

    one_path = str(tmp_path / "oneshot")
    stored_cents = spark.read.parquet(index_path + "/centroids").localCheckpoint()
    build_ann_index(emb, one_path, centroids=stored_cents, two_level=True, sub_codebook=cb)
    streamed = {
        (r["vec_id"], r["cell_id"])
        for r in spark.read.parquet(index_path + "/vectors").collect()
    }
    oneshot = {
        (r["vec_id"], r["cell_id"])
        for r in spark.read.parquet(one_path + "/vectors").collect()
    }
    assert streamed == oneshot and streamed
    streamed_codes = {
        (r["vec_id"], r["cell_id"], tuple(r["ncodes"]))
        for r in spark.read.parquet(index_path + "/codes").collect()
    }
    oneshot_codes = {
        (r["vec_id"], r["cell_id"], tuple(r["ncodes"]))
        for r in spark.read.parquet(one_path + "/codes").collect()
    }
    assert streamed_codes == oneshot_codes and streamed_codes

    rows = spark.read.parquet(str(tmp_path / "matches")).collect()
    assert rows, "degenerate: no compressed cross-batch matches"
    assert all(r["query_id"] % 3 != 0 for r in rows)


def test_stream_two_level_residual_store_matches_batch(spark, sf_dir, tmp_path):
    """r14 (round-13 verdict Next #2, streamed): a TWO-LEVEL store built
    with a caller-provided RESIDUAL codebook ingests by stream with
    use_pq=True — the per-batch cross-batch match builds its
    per-(query, cell) residual LUTs through the DISTRIBUTED centroid
    join (no centroid-matrix collect), each batch's per-copy residual
    codes append under the per-batch_id overwrite, and the streamed
    store + codes stay row-identical to a one-shot composed build with
    the same model."""
    from scripts_toolkit_spark.ext.ann_index import _seeded_residual_model
    from scripts_toolkit_spark.ext.similarity import normalize_vectors

    emb = load_table(spark, sf_dir, "embeddings")
    normed = normalize_vectors(emb).localCheckpoint()
    _cents, cb, _rows, _cb_rows = _seeded_residual_model(
        spark, normed, 16, 64, 4, 16, "vec_id", "embedding"
    )
    cb = cb.localCheckpoint()
    first = emb.where("vec_id % 3 = 0")
    rest_a = emb.where("vec_id % 3 = 1")
    rest_b = emb.where("vec_id % 3 = 2")
    index_path = str(tmp_path / "ix2lres")
    build_ann_index(first, index_path, two_level=True, residual=True, sub_codebook=cb)

    src = str(tmp_path / "vec_in")
    rest_a.coalesce(1).write.mode("append").parquet(src)
    rest_b.coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = start_ann_ingest(
        stream,
        index_path=index_path,
        matches_path=str(tmp_path / "matches"),
        checkpoint=str(tmp_path / "ckpt"),
        k=3,
        n_probe=3,
        use_pq=True,
    )
    q.awaitTermination()

    one_path = str(tmp_path / "oneshot")
    stored_cents = spark.read.parquet(index_path + "/centroids").localCheckpoint()
    build_ann_index(
        emb, one_path, centroids=stored_cents, two_level=True,
        residual=True, sub_codebook=cb,
    )
    streamed_codes = {
        (r["vec_id"], r["cell_id"], tuple(r["ncodes"]))
        for r in spark.read.parquet(index_path + "/codes").collect()
    }
    oneshot_codes = {
        (r["vec_id"], r["cell_id"], tuple(r["ncodes"]))
        for r in spark.read.parquet(one_path + "/codes").collect()
    }
    assert streamed_codes == oneshot_codes and streamed_codes

    rows = spark.read.parquet(str(tmp_path / "matches")).collect()
    assert rows, "degenerate: no residual compressed cross-batch matches"
    assert all(r["query_id"] % 3 != 0 for r in rows)
