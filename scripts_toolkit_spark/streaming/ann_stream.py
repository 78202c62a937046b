"""Streaming assign-only ingestion into the persistent ANN index
(SURVEY §2.12 × §2.9 [extension]): the continuous form of
`ext/ann_index.append_to_index` for vector corpora that arrive
file-by-file, plus streaming similarity MATCHING of each batch against
everything ingested before it.

Shape: `foreachBatch` against a PRE-BUILT index (`build_ann_index` runs
once, before the stream starts — a 100 TB pipeline trains its model
offline). The batch builder stamps its rows batch_id = -1 and partitions
the store by batch_id, so a pre-populated corpus passes the
`batch_id < current` prior-store filter and participates in cross-batch
matching from the first streamed batch
(tests/test_ann_stream.py::test_stream_matches_prebuilt_corpus).

Each micro-batch is three calls into the store's own code, so the
stream searches and writes exactly as the batch verbs do:

    1. assign once: read the stored model, normalize the batch and
       assign it `max(n_probe, n_home)` cells deep (`_assign_stored`),
       materialized — its first n_probe ranks are the match probes, its
       first n_home ranks the rows to store;
    2. `_rank_probed` over the PRIOR store (batch_id < current) — the
       ranking core of `search_index`, IVF or compressed-domain
       (`use_pq`) — gives the batch's top-k matches;
    3. `_write_stored` writes the batch's /vectors partition and, on a
       codebook-built store, its /codes partition.

State lives in the parquet store, not executor memory — restart-safe,
and the model is re-read every batch, so a `retrain_index` between
batches takes effect on the next one. An incrementally-ingested store is
row-identical to the `build_ann_index` + `append_to_index` chain over
the same vectors with the same model, and each batch's matches equal
`search_index` with the batch as queries over the prior store
(tests/test_ann_stream.py).

Exactly-once OUTPUT despite at-least-once foreachBatch execution: the
same discipline as streaming/dedup_stream.py — every sink (matches,
/vectors, /codes) partitions by batch_id and writes with
dynamic-partition OVERWRITE, so a replayed batch rewrites its own
partitions; the match reads only store rows with batch_id < current, so
a replay never matches against its own half-written rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from scripts_toolkit_spark.ext.ann_index import (
    _assign_stored,
    _rank_probed,
    _write_stored,
    batch_ids,
    read_model,
)
from scripts_toolkit_spark.materialize import materialize as _materialize


def make_ann_ingest_processor(
    index_path: str,
    matches_path: str,
    k: int = 3,
    n_probe: int = 3,
    use_pq: bool = False,
    rerank_factor: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Build the foreachBatch callable (exposed for the replay-idempotency
    test). Requires `{index_path}/centroids` to exist (build the model
    first with `build_ann_index`, or write centroids directly).

    A batch is assign once → `_rank_probed` over the prior store →
    `_write_stored` (module docstring). The stored model and its meta
    (n_home, residual, two-level routing, codebook) are read every batch
    through the control-plane seam — driver-side on a local store — so
    the stream honors every store composition the batch verbs do: a
    spilled store stores n_home copies per vector and its matches probe
    all stored copies with pair dedup; a codebook-built store keeps
    /codes in row parity with /vectors.

    `use_pq=True` (requires a codebook-built index) matches in the
    compressed domain, as `search_index(use_pq=True)` does: ADC
    shortlists over the prior store's /codes, exact rerank against its
    raw vectors."""

    def _process(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        model = read_model(spark, index_path, use_pq)
        # the store's rows carry vec_id / embedding
        rows = batch.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding"))
        assigned = _assign_stored(
            rows, model, max(n_probe, model.n_home), normalize=True
        ).transform(_materialize)
        if batch_ids(spark, index_path):

            def prior(sub: str) -> DataFrame:
                return spark.read.parquet(f"{index_path}/{sub}").where(
                    F.col("batch_id") < F.lit(batch_id)
                )

            matches = _rank_probed(
                assigned.where(F.col("probe_rank") <= n_probe),
                assigned.where(F.col("probe_rank") == 1),
                prior("vectors"),
                prior("codes") if use_pq else None,
                model, k, rerank_factor,
            )
        else:  # first batch: the store is not created yet
            matches = spark.createDataFrame(
                [], "query_id bigint, neighbor_id bigint, rank int, cos_sim double"
            )
        (
            matches.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(matches_path)
        )
        _write_stored(
            spark, index_path, assigned.where(F.col("probe_rank") <= model.n_home),
            batch_id, model,
        )

    return _process


def start_ann_ingest(
    vector_stream: DataFrame,
    index_path: str,
    matches_path: str,
    checkpoint: str,
    k: int = 3,
    n_probe: int = 3,
    use_pq: bool = False,
    rerank_factor: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Start the streaming ingestion query (availableNow callers drive it
    to completion with awaitTermination). The committed matches output
    holds, per query vector, its top-k cosine matches among all vectors
    ingested in EARLIER batches — exactly once (per-batch_id
    dynamic-partition overwrite absorbs foreachBatch replays).
    `use_pq=True` matches against the prior store's compressed codes
    (codebook-built index required; honors meta residual/n_home)."""
    process = make_ann_ingest_processor(
        index_path, matches_path, k=k, n_probe=n_probe,
        use_pq=use_pq, rerank_factor=rerank_factor,
        id_col=id_col, vec_col=vec_col,
    )
    return (
        vector_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
