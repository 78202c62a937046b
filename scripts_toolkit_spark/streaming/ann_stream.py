"""Streaming assign-only ingestion into the persistent ANN index
(SURVEY §2.12 × §2.9 [extension]): the continuous form of
`ext/ann_index.append_to_index` for vector corpora that arrive
file-by-file, plus streaming similarity MATCHING of each batch against
everything ingested before it.

Shape: `foreachBatch` against a PRE-BUILT index (`build_ann_index` runs
once, before the stream starts — a 100 TB pipeline trains its model
offline and never retrains in the hot path). The batch builder stamps its
rows batch_id = -1 and partitions the store by batch_id, so a
pre-populated corpus passes the `batch_id < current` prior-store filter
and participates in cross-batch matching from the first streamed batch
(tests/test_ann_stream.py::test_stream_matches_prebuilt_corpus):

    per micro-batch B:
      1. normalize B's vectors, assign home cells with the STORED
         centroids (literal-codebook kernel — no shuffle),
      2. IVF-search B against the PRIOR store (batch_id < current):
         probe n_probe stored cells, exact cosine, per-query top-k →
         append to the matches sink,
      3. append B's encoded rows to the store.

State lives in the parquet store, not executor memory — restart-safe.
An incrementally-ingested store is row-identical to a one-shot
`build_ann_index` over the same vectors with the same model (the batch
parity contract, extended to streams by
tests/test_ann_stream.py::test_stream_store_matches_batch).

Exactly-once OUTPUT despite at-least-once foreachBatch execution: the
same discipline as streaming/dedup_stream.py — every sink (matches,
/vectors, and since r11 /codes) partitions by batch_id and writes with
dynamic-partition OVERWRITE, so a replayed batch rewrites its own
partitions; the match join reads only store rows with batch_id <
current, so a replay never matches against its own half-written rows.

r11 (round-10 verdict Next #2): `use_pq=True` switches the cross-batch
match to the COMPRESSED-DOMAIN search (stored m-int codes + ADC
shortlists through the same `_pq_rank` pipeline as
`search_index(use_pq=True)`), honoring the index's meta residual/n_home
— the full best-recall store configuration now serves a stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from scripts_toolkit_spark.ext.ann_index import (
    _assign_stored,
    _cent_np_pos_from_rows,
    _centroid_rows_from_store,
    _codebook_from_rows,
    _codebook_rows,
    _collect_centroids,
    _encode_codes,
    _meta_dict,
    _meta_n_home_residual,
    _meta_two_level,
    batch_ids,
)
from scripts_toolkit_spark.ext.similarity import (
    _dot,
    _dot_rows_kernel,
    _pq_rank,
    attach_pq_lut,
    normalize_vectors,
)
from scripts_toolkit_spark.materialize import materialize as _materialize

def _store_schema(cell_type: str = "int") -> str:
    """Store-read schema, parameterized on the cell_id type (advisor r12:
    the former STORE_SCHEMA.replace('cell_id int', ...) string surgery
    would silently no-op on a reformat). Two-level stores carry bigint
    cell ids — the threshold pick's cells are the seed vectors' own ids."""
    return (
        f"vec_id bigint, embedding array<double>, cell_id {cell_type}, "
        "probe_rank int, batch_id bigint"
    )


def _codes_schema(cell_type: str = "int") -> str:
    return (
        f"vec_id bigint, ncodes array<int>, cell_id {cell_type}, "
        "probe_rank int, batch_id bigint"
    )


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

    The index's spilled-assignment width (meta n_home, 1 when absent) is
    honored per batch: new rows land in their n_home nearest cells, the
    cross-batch match probes ALL stored copies (the recall lift reaches
    the stream), and (query, neighbor) pairs dedup before ranking — so a
    spill-built index ingested by stream stays row-identical to a
    one-shot spilled build (tests/test_ann_stream.py parity, n_home=2).

    `use_pq=True` (r11 — round-10 verdict Next #2; requires a
    CODEBOOK-built index) switches the cross-batch match to the
    COMPRESSED-DOMAIN search a 100 TB serving store runs: candidates
    carry the stored m-int code arrays (the prior store's /codes rows,
    `batch_id < current`), ADC shortlists per (query, probed cell)
    through the same `_pq_rank` pipeline as `search_index(use_pq=True)`,
    and only the bounded shortlist joins back to raw vectors for the
    exact rerank. Honors meta residual=true (per-cell residual query
    LUTs against the stored per-copy residual codes). The stored model
    is KB control plane, collected once per processor and cached — the
    stream never retrains. Whenever a codebook exists, each batch's
    codes are ALSO encoded and appended to /codes under the same
    per-batch_id dynamic-partition overwrite, so /codes keeps row-parity
    with /vectors and replays stay exactly-once."""
    model_cache: dict = {}

    def _process(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        cents = spark.read.parquet(index_path + "/centroids")
        meta = _meta_dict(spark, index_path)  # ONE meta read per batch (r14, driver-side r15)
        n_home, residual = _meta_n_home_residual(meta)
        two_level, _sp = _meta_two_level(meta)
        # the stored model (flat centroid rows, codebook rows) is read
        # once per processor through the control-plane seam and cached
        # (r15) — each batch's assign and encode skip their collect jobs
        if "cent_rows" not in model_cache:
            model_cache["cent_rows"] = _centroid_rows_from_store(
                spark, index_path, meta
            )
            model_cache["cb_rows"] = _codebook_rows(spark, index_path)
        cent_rows_l, cb_rows = model_cache["cent_rows"], model_cache["cb_rows"]
        if use_pq and cb_rows is None:
            raise ValueError(
                "use_pq=True requires a codebook-built index "
                f"({index_path}/codebook is missing)"
            )
        # a two-level store (meta two_level, r12) streams two-level as
        # well: the per-batch assignment routes coarse-to-fine and never
        # collects the stored centroid set — the same ONE max(n_probe,
        # n_home)-deep ranking serves stored rows and match probes. Its
        # cell ids are the threshold-pick seeds' own (bigint) ids, so the
        # store-read schema widens accordingly.
        normed = normalize_vectors(batch, id_col, vec_col)
        assigned = _assign_stored(
            normed, cents, max(n_probe, n_home), meta, cent_rows_l, id_col, vec_col
        ).transform(_materialize)
        cell_type = "bigint" if two_level else "int"
        store_schema = _store_schema(cell_type)
        new_rows = assigned.where(F.col("probe_rank") <= n_home).select(
            F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding"),
            "cell_id", "probe_rank",
        )
        old = (
            spark.read.schema(store_schema)
            .parquet(index_path + "/vectors")
            .where(F.col("batch_id") < F.lit(batch_id))
            if batch_ids(spark, index_path)
            else None  # first batch: store not created yet
        )
        if old is not None and use_pq:
            # compressed-domain cross-batch match (same pipeline as
            # search_index(use_pq=True), prior-store codes as the corpus)
            if "cb" not in model_cache:
                model_cache["cb"] = _codebook_from_rows(cb_rows)
                # two-level stores never collect the centroid set (r14:
                # the residual LUT join below resolves centroids per cell)
                if not two_level:
                    model_cache["cent"] = (
                        _cent_np_pos_from_rows(cent_rows_l)
                        if cent_rows_l is not None
                        else _collect_centroids(cents)
                    )
            cb_np, m, n_codes, sub_dim = model_cache["cb"]
            q_assigned = assigned.where(F.col("probe_rank") <= n_probe)
            if residual and two_level:
                # distributed per-(query, cell) residual LUTs — centroid
                # equi-joined from the stored frame (r14 — round-13
                # verdict Next #2); bit-identical to the cent_np path
                cent = cents.select("cell_id", F.col("centroid").alias("__cent"))
                lutted = (
                    attach_pq_lut(
                        q_assigned.join(cent, "cell_id"),
                        cb_np, m, n_codes, sub_dim, vec_col,
                        residual=True, centroid_col="__cent",
                    )
                    .drop("__cent")
                    .transform(_materialize)
                )
                qlut = lutted.select(F.col(id_col).alias("query_id"), "cell_id", "lut")
                qlut_keys = ["query_id", "cell_id"]
            elif residual:
                cent_np, cent_pos = model_cache["cent"]
                lutted = attach_pq_lut(
                    q_assigned, cb_np, m, n_codes, sub_dim, vec_col,
                    residual=True, cent_np=cent_np, cent_pos=cent_pos,
                ).transform(_materialize)
                qlut = lutted.select(F.col(id_col).alias("query_id"), "cell_id", "lut")
                qlut_keys = ["query_id", "cell_id"]
            else:
                lutted = attach_pq_lut(
                    q_assigned, cb_np, m, n_codes, sub_dim, vec_col
                ).transform(_materialize)
                qlut = lutted.where(F.col("is_home")).select(
                    F.col(id_col).alias("query_id"), "lut"
                )
                qlut_keys = ["query_id"]
            queries_f = lutted.select(F.col(id_col).alias("query_id"), "cell_id")
            old_codes = (
                spark.read.schema(_codes_schema(cell_type))
                .parquet(index_path + "/codes")
                .where(F.col("batch_id") < F.lit(batch_id))
                .select(F.col("vec_id").alias("neighbor_id"), "cell_id", "ncodes")
            )
            # rerank legs: one raw vector per id on both sides
            qv = assigned.where(F.col("probe_rank") == 1).select(
                F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
            )
            nv_src = old.where(F.col("probe_rank") == 1) if n_home > 1 else old
            nv = nv_src.select(
                F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("nv")
            )
            # gather shape mirrors search_index (r14): pre-gather only in
            # residual mode — see the `_pq_rank` docstring
            matches = _pq_rank(
                queries_f, qlut, qlut_keys, old_codes, qv, nv,
                m, n_codes, k, rerank_factor, n_home, pre_gather=residual,
            )
        elif old is not None:
            queries = assigned.where(F.col("probe_rank") <= n_probe).select(
                F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"), "cell_id"
            )
            corpus = old.select(
                F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv"),
                "cell_id",
            )
            # cross-batch scoring is MODE-CONDITIONAL (r14, measured —
            # same A/B as search_index's non-PQ leg): n_home == 1 routes
            # through the Arrow dot kernel; a spilled store's doubled
            # candidate volume makes shipping qv+cv through the Python
            # boundary cost more than the in-place fold saves. Identical
            # float64 ops either way.
            pairs = (
                queries.join(corpus, "cell_id")
                .where(F.col("query_id") != F.col("neighbor_id"))
                .select("query_id", "neighbor_id", "qv", "cv")
            )
            if n_home > 1:
                scored = pairs.select(
                    "query_id",
                    "neighbor_id",
                    _dot(F.col("qv"), F.col("cv")).alias("cos_sim"),
                )
            else:
                scored = _dot_rows_kernel(pairs, "qv", "cv", out_col="cos_sim")
            if n_home > 1:
                # a pair can arise from up to n_home shared cells (every
                # stored copy scores the identical dot) — dedup first
                scored = scored.dropDuplicates(["query_id", "neighbor_id"])
            w = Window.partitionBy("query_id").orderBy(
                F.desc("cos_sim"), F.asc("neighbor_id")
            )
            matches = (
                scored.withColumn("rank", F.row_number().over(w))
                .where(F.col("rank") <= k)
                .select(
                    "query_id", "neighbor_id",
                    F.col("rank").cast("int").alias("rank"), "cos_sim",
                )
            )
        else:
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
        (
            new_rows.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(index_path + "/vectors")
        )
        if cb_rows is not None:
            # keep /codes row-parity with /vectors for the NEXT batches'
            # compressed match — same exactly-once partition overwrite,
            # encoded from the cached codebook rows (r15)
            (
                _encode_codes(
                    new_rows, index_path, cb_rows, meta, cents, cent_rows_l,
                    "vec_id", "embedding",
                )
                .withColumn("batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch_id")
                .parquet(index_path + "/codes")
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
