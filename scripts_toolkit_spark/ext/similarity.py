"""Similarity search over embedding columns
(SURVEY.md §2.12 [extension], north star: BASELINE.json).

Two paths:
- `brute_force_topk`: exact cosine top-k — the correctness baseline,
  O(N·M·d); fine up to ~10^7 pair-dims.
- `lsh_topk`: random-hyperplane LSH. Hyperplane matrix derives from md5
  (deterministic, no stored model); vectors bucket by sign pattern; search
  only within bucket. The scale path: candidate count drops ~2^bits and the
  bucket join is an equi-join (shuffle on bucket key, AQE-skew-safe)
  instead of a cross join.

Determinism contract: the dot product is a SEQUENTIAL LEFT FOLD in float64
over the element index. `F.aggregate` evaluates sequentially per row, so the
result is independent of partitioning/shuffle order, and any engine that
folds left in index order (DuckDB `list_reduce`) reproduces it bit-for-bit.
(Decimal accumulation was rejected: Spark's double→decimal cast goes
through the shortest-string representation while DuckDB converts the exact
binary expansion, so their decimal images of the same double differ.)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from scripts_toolkit_spark.materialize import materialize as _materialize


def _dot(a: Column, b: Column) -> Column:
    """Sequential float64 fold of sum(a[i]*b[i]); float32→float64 element
    casts and products are exact, fold order is fixed → deterministic."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def cosine(a: Column, b: Column) -> Column:
    """Deterministic cosine: sequential dot folds, IEEE sqrt/divide."""
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query (self-pairs excluded), deterministic
    tiebreak on neighbor id."""
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    scored = (
        q.crossJoin(c)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", cosine(F.col("qv"), F.col("cv")).alias("cos_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("int").alias("rank"), "cos_sim")
    )


def hyperplane(dim: int, plane_idx: int) -> Column:
    """Deterministic pseudo-random ±1 hyperplane from md5 parity — no RNG,
    no stored model, identical in any engine.

    The signs are row-INDEPENDENT, so they are computed ONCE here in Python
    (hashlib md5 — bit-identical to any engine's md5) and emitted as a
    literal array. The previous form built 64 md5 *expressions* per plane,
    which Catalyst evaluated per ROW — thousands of md5 calls per vector
    (measured 21.6s → 1.6s for the sf0.1 embedding near-dup demo). A SQL
    oracle recomputing the signs with its own md5 gets the same values."""
    import hashlib

    return F.array(
        *[
            F.lit(
                1.0
                if int(hashlib.md5(f"h{plane_idx}|{i}".encode()).hexdigest()[:2], 16) % 2 == 0
                else -1.0
            )
            for i in range(dim)
        ]
    )


def lsh_bucket(vec: Column, dim: int, bits: int = 8, table: int = 0) -> Column:
    """Sign-pattern bucket id over `bits` md5-derived hyperplanes (distinct
    per `table` for OR-amplification). The ±1 dot is the same deterministic
    sequential fold, so bucketing is stable across engines/partitionings."""
    out = F.lit(0).cast("long")
    for j in range(bits):
        d = _dot(vec, hyperplane(dim, table * 1000 + j))
        out = out + F.when(d > 0, F.lit(1 << j).cast("long")).otherwise(F.lit(0).cast("long"))
    return out


# Above this many centroid doubles (cells × dim), ivf_assign stops
# collecting the codebook into a plan literal and falls back to a
# broadcast cross join — a √N-scaled cell count on a billion-vector
# corpus is tens of MB, too big for an expression tree.
_IVF_LITERAL_MAX_DOUBLES = 65536

# Above this many EXPECTED survivor doubles (~8·n_cells·dim — what
# `deterministic_centroids` collects to the driver for its exact rank),
# `pick_centroids` routes to the fully-distributed `threshold_centroids`
# instead: with constant-occupancy sizing n_cells ∝ N, the exact pick's
# survivor collect is itself corpus-scale at extreme N (round-7 verdict
# "What's wrong" #2 — the last driver-side corpus-scale collect on the
# default dedup path). Kept as a SEPARATE knob from
# _IVF_LITERAL_MAX_DOUBLES so tests can force each branch independently.
_PICK_COLLECT_MAX_DOUBLES = 65536


def corpus_stats(
    vectors: DataFrame,
    vec_col: str = "embedding",
    n_rows: int | None = None,
    dim: int | None = None,
) -> tuple[int, int]:
    """(row count, vector dim) in ONE driver job — the cold path of every
    ANN entry point needs both, and a separate `.count()` + `.first()`
    each schedule a full job with fresh codegen (a measured slice of the
    ANN family's cold-start, round-7 verdict Next #3). Pass whichever is
    already known to skip the job entirely."""
    if n_rows is not None and dim is not None:
        return n_rows, dim
    # ignorenulls: a NULL first-seen vector would report dim=0 and
    # silently disable every 8·n_cells·dim cap check downstream
    row = vectors.agg(
        F.count(F.lit(1)).alias("__n"),
        F.first(vec_col, ignorenulls=True).alias("__v"),
    ).first()
    if n_rows is None:
        n_rows = int(row["__n"])
    if dim is None:
        dim = len(row["__v"]) if row["__v"] is not None else 0
    return n_rows, dim


def local_rows_df(spark, rows, schema) -> DataFrame:
    """Driver-local KB control-plane frame on ONE slice (r14, guide §6
    small-files): `createDataFrame(rows)` parallelizes over
    defaultParallelism slices, so every write of such a frame emits ~32
    near-empty files and every later read/collect schedules ~32 tiny
    tasks (measured 0.2-0.4 s per collect of a 44-row /centroids store).
    One slice makes writes single-file and collects single-task. This is
    the sanctioned alternative to the FORBIDDEN `coalesce(1)`-before-
    write (CLAUDE.md r12: coalescing a 32-slice parallelized frame makes
    ONE task evaluate all 32 pickled parents sequentially); with one
    slice at creation there is nothing to coalesce. Only for frames
    bounded by construction (picked centroids, codebooks, meta rows)."""
    if not rows:
        return spark.createDataFrame(rows, schema)
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)


def pick_centroids(
    vectors: DataFrame,
    n_cells: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    mode: str = "auto",
    n_rows: int | None = None,
) -> DataFrame:
    """Centroid pick with the scale branch built in — the default entry
    point for `semantic_cells` and `ivf_topk(n_cells=None)`:

    - while the exact pick's expected survivor collect (8·n_cells·dim
      doubles) fits `_PICK_COLLECT_MAX_DOUBLES`, use
      `deterministic_centroids` (exactly n_cells centroids, contiguous
      cell ids, bit-identical to a global sort);
    - past it, use `threshold_centroids`: NO driver collect, binomial
      |centroids| ≈ n_cells (immaterial for cell SIZING), cell_id = the
      seed vector's own id (downstream grouping needs distinctness, not
      contiguity).

    `mode` pins a branch explicitly ('exact' / 'threshold') for tests and
    SQL-oracle demos; 'auto' applies the cap. Both picks are md5-prefix
    deterministic, so either branch replays in SQL."""
    if mode not in ("auto", "exact", "threshold"):
        # a typo must not silently become 'auto' and change which branch runs
        raise ValueError(f"pick_centroids mode must be auto/exact/threshold, got {mode!r}")
    if mode == "exact":
        return deterministic_centroids(vectors, n_cells, id_col, vec_col, n_rows=n_rows)
    if mode == "threshold":
        return threshold_centroids(vectors, n_cells, id_col, vec_col, n_rows=n_rows)
    if dim is None or n_rows is None:
        n_rows, dim = corpus_stats(vectors, vec_col, n_rows=n_rows, dim=dim)
    if 8 * n_cells * dim > _PICK_COLLECT_MAX_DOUBLES:
        return threshold_centroids(vectors, n_cells, id_col, vec_col, n_rows=n_rows)
    return deterministic_centroids(vectors, n_cells, id_col, vec_col, n_rows=n_rows)


def pick_is_local(mode: str, n_cells: int, dim: int) -> bool:
    """Whether `pick_centroids` with these inputs returns a DRIVER-LOCAL
    frame (the exact pick collects survivors and re-emits them as a
    parallelized literal frame — NO corpus lineage, trivially
    re-evaluable) or a corpus-lineage distributed one (the threshold pick
    never touches the driver). Callers use this to skip the lineage-cut
    checkpoint on the local branch: there is no corpus scan to cut, and
    the checkpoint job costs more than re-evaluating the literal rows
    (a measured slice of the ANN cold start, round-8 verdict Next #3).
    Mirrors pick_centroids' own branch predicate exactly; pinned against
    drift by tests/test_ext.py::test_pick_is_local_matches_pick_centroids."""
    if mode == "exact":
        return True
    if mode == "threshold":
        return False
    return 8 * n_cells * dim <= _PICK_COLLECT_MAX_DOUBLES


# The numpy row-block kernels below are the ONE copy of the store's
# normalize / assign / PQ-encode arithmetic: the Arrow `mapInPandas`
# kernels (`ivf_assign`, `attach_pq_lut`) and the driver-side append
# (`ann_index.append_to_index`) all call them, so a vector gets the same
# bits whichever side computes it. Each replays its Catalyst twin's fold
# order (the sequential left folds of `_dot` / `_l2sq`). The PQ kernel and
# the driver append feed blocks of at most KERNEL_BLOCK_ROWS rows, so the
# |block| × m·n_codes·sub_dim temporaries stay bounded.
KERNEL_BLOCK_ROWS = 1024


def normalize_rows(X):
    """Unit-L2 rows of the float64 matrix `X`, in `normalize_vectors`'
    fold order: acc = x0·x0, then i-ascending adds, IEEE sqrt, per-element
    divide — bit-identical to the Catalyst expression. A zero row divides
    to NaN here (Catalyst under ANSI raises instead): callers refuse
    non-finite results."""
    import numpy as np

    acc = X[:, 0] * X[:, 0]
    for i in range(1, X.shape[1]):
        acc = acc + X[:, i] * X[:, i]
    return X / np.sqrt(acc)[:, None]


def nearest_cells(X, cents_np, k: int):
    """Column positions of each row's `k` nearest centroids, best first:
    the |block| × cells affinity accumulated i-ascending like `_dot`'s
    fold (acc = p0 ≡ 0.0 + p0; acc = acc + p_i), then a stable argsort
    over −aff — with cell_id-ascending columns, ties break to the lower
    cell exactly like the (aff desc, cell_id asc) comparator, and −0.0 ==
    0.0 under IEEE compare as in the comparator."""
    import numpy as np

    acc = X[:, 0][:, None] * cents_np[None, :, 0]
    for i in range(1, cents_np.shape[1]):
        acc = acc + X[:, i][:, None] * cents_np[None, :, i]
    return np.argsort(-acc, axis=1, kind="stable")[:, :k]


def pq_l2sq_codes(V, CB):
    """(d2, codes) of a block of (residual or plain) vectors `V` (n, m·sub_dim)
    against the codebook `CB` (m, n_codes, sub_dim): d2[j, s, code] =
    L2²(subvector_s, codeword) accumulated i-ascending like `_l2sq`'s fold,
    and codes[j, s] its first-occurrence argmin (int32) — over
    code-ascending columns that is the (d2 asc, code asc) comparator of
    `lut_codes_expr` and `pq_code_arrays`."""
    import numpy as np

    m, _n_codes, sub_dim = CB.shape
    V = V.reshape(len(V), m, sub_dim)
    diff = V[:, :, None, :] - CB[None, :, :, :]
    sq = diff * diff
    acc = sq[..., 0]
    for i in range(1, sub_dim):
        acc = acc + sq[..., i]
    return acc, np.argmin(acc, axis=2).astype(np.int32)


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    with_rank: bool = False,
    n_cells: int | None = None,
    dim: int | None = None,
    centroid_rows: list | None = None,
) -> DataFrame:
    """IVF coarse quantization: assign each vector to its `n_probe` nearest
    centroids (by the deterministic sequential-fold dot). Searching with
    n_probe > 1 is the standard IVF recall knob: a query near a cell
    boundary still meets its neighbors.

    Centroids are KB-scale control plane; up to `_IVF_LITERAL_MAX_DOUBLES`
    they ship in the task closure and assignment is ONE shuffle-free
    Arrow `mapInPandas` pass — the full |batch|×cells affinity matrix is
    vectorized numpy with the SAME sequential i-ascending accumulation as
    `_dot` (bit-identical; see the kernel comment). Two earlier shapes,
    both slower: a crossJoin + row_number window (|vectors|·n_cells rows
    through a shuffle and sort) and a literal-array Catalyst projection
    (interpreted higher-order fold, ~cells·dim lambda steps per row).
    Beyond the cap (√N-scaled cell counts at corpus scale) it falls back
    to the broadcast cross join + window. Ordering parity: ties on aff
    (−0.0 == 0.0, no NaN for finite inputs) break on the lower cell_id,
    exactly the window's orderBy(aff desc, cell_id asc).

    `with_rank=True` appends the probe rank (1 = home) as `probe_rank` —
    free in both paths (the kernel already has the argsort order; the
    fallback already computes the row_number) — so a probe-ladder sweep
    can slice ONE max-n_probe assignment instead of re-assigning per
    level.

    Branch routing happens BEFORE any driver collect (round-8 verdict
    "What's wrong" #4 — the old shape collected the full frame, THEN
    checked the cap, so an over-cap frame paid the corpus-scale collect
    the fallback exists to avoid). `n_cells`/`dim` steer the guard:
    caller-supplied when already known (every hot internal caller — no
    extra job), else ONE count+first stats job over the centroid frame
    (KB-scale and usually checkpointed/parquet — cheap). A
    threshold-pick caller's n_cells is the binomial EXPECTATION, not the
    exact row count; that is fine — the guard is routing, and the kernel
    branch always builds from the rows it actually collects.

    `centroid_rows` (r14): the centroid frame's [(cell_id, [float])] rows
    when the caller ALREADY holds them driver-side (a pick it just
    collected, a store model it just read) — skips both the stats job and
    the re-collect of `centroids`. Must be the exact rows of `centroids`
    (doubles round-trip bit-exactly, so a prior collect qualifies);
    `centroids` is still used for schema and as the over-cap fallback."""
    if centroid_rows is not None:
        n_cells = len(centroid_rows)
        dim = len(centroid_rows[0][1]) if centroid_rows else 0
    if n_cells is None or dim is None:
        n_cells, dim = corpus_stats(centroids, "centroid", n_rows=n_cells, dim=dim)
    rows: list = []
    if 0 < n_cells * dim <= _IVF_LITERAL_MAX_DOUBLES:
        rows = (
            sorted((int(c), list(v)) for c, v in centroid_rows)
            if centroid_rows is not None
            else sorted(
                (int(r["cell_id"]), list(r["centroid"]))
                for r in centroids.select("cell_id", "centroid").collect()
            )
        )
    if rows:
        # Arrow-vectorized kernel (decoder-class batch Python, §2.11): the
        # former expression form scored every cell with an INTERPRETED
        # higher-order fold (~cells·dim lambda steps per row — measured
        # ~3.5 s for 44 cells × 2 k vectors at sf0.1); numpy runs the same
        # arithmetic vectorized in ~ms, BIT-IDENTICAL by construction
        # (`nearest_cells`; columns are cell_id-ascending).
        import numpy as np

        from pyspark.sql.types import BooleanType, IntegerType, LongType, StructField, StructType

        cents_np = np.asarray([c for _cid, c in rows], dtype=np.float64)
        # cell_id rides the CENTROID frame's id type: contiguous int for the
        # exact pick, the seed vector's own (long) id for the threshold pick
        # — so both ivf_assign branches emit the identical schema either way
        cell_t = centroids.schema["cell_id"].dataType
        cell_np_t = np.int64 if isinstance(cell_t, LongType) else np.int32
        cell_ids_np = np.asarray([cid for cid, _ in rows], dtype=cell_np_t)
        k_eff = min(n_probe, len(rows))
        id_field = vectors.schema[id_col]
        vec_field = vectors.schema[vec_col]
        out_schema = StructType(
            [
                StructField(id_col, id_field.dataType, id_field.nullable),
                StructField(vec_col, vec_field.dataType, vec_field.nullable),
                StructField("cell_id", cell_t, False),
                StructField("is_home", BooleanType(), False),
            ]
            + ([StructField("probe_rank", IntegerType(), False)] if with_rank else [])
        )

        def _assign(pdf_iter):
            import pandas as pd

            for pdf in pdf_iter:
                n = len(pdf)
                if n == 0:
                    continue
                X = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
                order = nearest_cells(X, cents_np, k_eff)
                cols = {
                    id_col: pdf[id_col].to_numpy().repeat(k_eff),
                    vec_col: pdf[vec_col].to_numpy().repeat(k_eff),
                    "cell_id": cell_ids_np[order].reshape(-1),
                    "is_home": np.tile(np.arange(k_eff) == 0, n),
                }
                if with_rank:
                    cols["probe_rank"] = np.tile(
                        (np.arange(k_eff) + 1).astype(np.int32), n
                    )
                yield pd.DataFrame(cols)

        return vectors.select(id_col, vec_col).mapInPandas(_assign, out_schema)
    c = F.broadcast(centroids.select("cell_id", F.col("centroid")))
    scored_df = vectors.crossJoin(c).select(
        id_col,
        vec_col,
        "cell_id",
        _dot(F.col(vec_col), F.col("centroid")).alias("aff"),
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("aff"), F.asc("cell_id"))
    ranked = scored_df.withColumn("r", F.row_number().over(w)).where(F.col("r") <= n_probe)
    rank_cols = [F.col("r").cast("int").alias("probe_rank")] if with_rank else []
    return ranked.select(
        id_col, vec_col, "cell_id", (F.col("r") == 1).alias("is_home"), *rank_cols
    )


def ivf_assign_two_level(
    vectors: DataFrame,
    centroids: DataFrame,
    super_probe: int = 4,
    n_super: int | None = None,
    n_probe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    with_rank: bool = False,
    n_cells: int | None = None,
    dim: int | None = None,
) -> DataFrame:
    """Coarse-to-fine IVF assignment for cell counts that outgrow the flat
    literal codebook (the documented `ivf_assign` scale hole: with
    constant-occupancy cells n_cells ∝ N, so at 10⁹ vectors the flat
    codebook is millions of centroids — no task closure holds it, and the
    broadcast-crossJoin fallback scores N·n_cells pairs).

    Two levels bound both sides:
      1. pick √n_cells SUPER-centroids FROM the centroid frame
         (`deterministic_centroids` over (cell_id, centroid) — same
         md5-prefix recipe, so the pick is SQL-replayable), and assign
         every centroid to its home super-cell with the flat kernel
         (n_cells rows × √n_cells supers — KB-scale);
      2. assign each VECTOR to its `super_probe` nearest super-centroids
         (flat kernel over √n_cells supers — closure-sized again), then
         equi-join on super_id to ONLY those supers' centroids and take
         the `n_probe` best by the same deterministic sequential-fold dot
         (ties break low cell_id, the `ivf_assign` comparator).

    Candidate volume: N · super_probe · (n_cells/n_super) ≈
    N·super_probe·√n_cells pairs through an EQUI-join — never N·n_cells,
    never a crossJoin. Exactness contract: identical to flat `ivf_assign`
    whenever the true nearest centroid's home super is among the probed
    supers — guaranteed when super_probe == n_super (pytest-pinned
    equality), high-recall for small super_probe on clustered data
    (pytest floor). Recursion gives further levels at extreme N.
    Deterministic end-to-end → DuckDB-replayable."""
    import math

    # one count+first job only when the caller didn't already know the
    # centroid frame's shape (same cost as the former bare .count())
    if n_cells is None or dim is None:
        n_cells, dim = corpus_stats(centroids, "centroid", n_rows=n_cells, dim=dim)
    if n_super is None:
        n_super = max(4, int(math.ceil(math.sqrt(float(n_cells)))))
    # ONE survivor collect serves the supers frame AND both flat-kernel
    # assigns below (r14): the former shape collected the created frame
    # again inside each ivf_assign — two extra driver jobs per call.
    # NOTE (advisor r14 #3): a threshold-pick caller's `n_cells` may be
    # the binomial EXPECTATION, not the realized centroid count — fine
    # for correctness (the md5 pick is a prefix property, so the picked
    # supers are identical; an over-estimate only starts the widening
    # threshold narrower and can cost extra widening collects). Callers
    # that KNOW the realized count (meta-backed store verbs since r14)
    # pass it and never widen.
    super_rows = exact_pick_rows(
        centroids, n_super, id_col="cell_id", vec_col="centroid",
        n_rows=n_cells,  # shape already known above — no second count job
    )
    supers = local_rows_df(
        vectors.sparkSession, super_rows, "cell_id int, centroid array<double>"
    )
    # each centroid's home super-cell (rename: ivf_assign emits `cell_id`
    # for the ASSIGNED super, which would collide with the centroid's id)
    cent_in = centroids.select(
        F.col("cell_id").alias("c_id"), F.col("centroid").alias("c_vec")
    )
    cent_super = (
        ivf_assign(
            cent_in, supers, 1, id_col="c_id", vec_col="c_vec",
            centroid_rows=super_rows,
        )
        .select("c_id", "cell_id")
        .withColumnRenamed("cell_id", "super_id")
        .withColumnRenamed("c_id", "cell_id")
    )
    probed = (
        ivf_assign(
            vectors, supers, super_probe, id_col=id_col, vec_col=vec_col,
            centroid_rows=super_rows,
        )
        .select(id_col, vec_col, "cell_id")
        .withColumnRenamed("cell_id", "super_id")
    )
    # fine-level affinity stays the CATALYST fold (r14, measured): an
    # Arrow-kernel variant shipped vec+centroid (2·dim doubles) per
    # candidate row through the Python boundary and LOST to the
    # interpreted fold in a controlled A/B (ann_index_two_level min-of-5
    # 3.98 → 4.77 s, ann_threshold_cells 2.28 → 2.55 s) — the fold
    # evaluates in place, the kernel pays serialization on every byte
    # (guide §4.1: you control how many columns cross; here that is the
    # whole payload, so crossing is the cost)
    cand = (
        probed.join(cent_super, "super_id")
        .join(centroids.select("cell_id", "centroid"), "cell_id")
        .select(
            id_col,
            vec_col,
            "cell_id",
            _dot(F.col(vec_col), F.col("centroid")).alias("aff"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("aff"), F.asc("cell_id"))
    ranked = cand.withColumn("r", F.row_number().over(w)).where(F.col("r") <= n_probe)
    rank_cols = [F.col("r").cast("int").alias("probe_rank")] if with_rank else []
    return ranked.select(
        id_col, vec_col, "cell_id", (F.col("r") == 1).alias("is_home"), *rank_cols
    )


def deterministic_centroids(
    vectors: DataFrame,
    n_cells: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_rows: int | None = None,
) -> DataFrame:
    """Model-free centroid pick: the n_cells vectors with the smallest
    md5(id) (a deterministic pseudo-random sample). A k-means refinement
    can replace this without changing the search path.

    Scale shape: a bare `Window.orderBy(h)` would move the whole corpus to
    ONE partition for a global sort. Instead, pre-filter with a hash-prefix
    threshold (expected ~8·n_cells survivors — a distributed scan+filter),
    collect the survivors' (hash, id, vector) rows (KB-scale) to rank
    driver-side, and emit the winners as a local centroid frame. Because
    the filter keeps exactly the rows with the globally smallest hash
    prefixes, the picked set is identical to a global sort's whenever
    ≥ n_cells rows pass; the deterministic fallback loop widens the
    threshold (then drops it entirely for tiny inputs) if not. No global
    sort, no single-partition window, no vector ever leaves an executor
    except the ~8·n_cells survivors.
    """
    return local_rows_df(
        vectors.sparkSession,
        exact_pick_rows(vectors, n_cells, id_col, vec_col, n_rows=n_rows),
        "cell_id int, centroid array<double>",
    )


def exact_pick_rows(
    vectors: DataFrame,
    n_cells: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_rows: int | None = None,
) -> list:
    """The exact md5-prefix pick as DRIVER-SIDE rows [(cell_id, [float])]
    — the body of `deterministic_centroids` (see its docstring for the
    threshold/widening recipe). Split out (r14) so callers that need BOTH
    the frame and the literal rows (`ivf_assign_two_level`'s supers feed
    two flat-kernel assigns) collect the survivors ONCE instead of
    re-collecting the created frame per consumer."""
    h = F.md5(F.col(id_col).cast("string"))
    n = vectors.count() if n_rows is None else n_rows
    oversample = 8
    while True:
        frac = min(1.0, (oversample * n_cells) / max(n, 1))
        if frac >= 1.0:
            survivors = vectors
        else:
            # hex strings of equal length compare lexicographically ==
            # numerically; 8 hex chars of the md5 prefix give 32-bit grain
            bound = format(max(1, int(frac * (1 << 32))), "08x")
            survivors = vectors.where(F.substring(h, 1, 8) < F.lit(bound))
        ranked = survivors.select(
            h.alias("__h"), F.col(id_col).alias("__id"), F.col(vec_col).alias("__v")
        ).collect()
        if frac >= 1.0 or len(ranked) >= n_cells:
            break
        oversample *= 4
    picked = sorted(((r["__h"], r["__id"], r["__v"]) for r in ranked))[: n_cells]
    # the survivors' VECTORS were collected with their rank keys (still
    # KB-scale: ~8·n_cells vectors), so the centroid rows are built
    # directly — the former broadcast join back into the corpus cost an
    # extra distributed job per call for data the driver already held.
    # Doubles round-trip exactly (Python float ≡ IEEE 754 binary64).
    return [(i, [float(v) for v in vec]) for i, (_hh, _pid, vec) in enumerate(picked)]


def threshold_centroids(
    vectors: DataFrame,
    n_cells: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_rows: int | None = None,
) -> DataFrame:
    """FULLY-DISTRIBUTED centroid pick for extreme cell counts — the last
    driver-side step in the constant-occupancy chain removed.

    `deterministic_centroids` collects ~8·n_cells survivor VECTORS to the
    driver to rank them exactly; with n_cells ∝ N (constant-occupancy
    sizing) that collect is itself corpus-scale at extreme N (n_cells =
    16M ⇒ ~128M vectors through the driver). This variant never collects:
    a vector is a centroid iff its 32-bit md5 prefix falls under
    floor(n_cells/N · 2³²) — a distributed scan+filter — and its CELL ID
    IS ITS OWN id (unique and deterministic; downstream grouping needs
    distinctness, not contiguity). The trade, documented: the pick is
    BINOMIAL — E[|centroids|] = n_cells with ~√n_cells jitter — instead
    of exactly n_cells, which is immaterial for cell SIZING. Pairs with
    `ivf_assign_two_level` for the end-to-end extreme-N path; both halves
    are md5/arithmetic-deterministic, so the combination replays in SQL.
    Returns (cell_id = id, centroid)."""
    n = vectors.count() if n_rows is None else n_rows
    frac = min(1.0, float(n_cells) / max(n, 1))
    if frac >= 1.0:
        return vectors.select(
            F.col(id_col).alias("cell_id"), F.col(vec_col).alias("centroid")
        )
    bound = format(max(1, int(frac * (1 << 32))), "08x")
    h = F.md5(F.col(id_col).cast("string"))
    return vectors.where(F.substring(h, 1, 8) < F.lit(bound)).select(
        F.col(id_col).alias("cell_id"), F.col(vec_col).alias("centroid")
    )


def refine_centroids(
    vectors: DataFrame,
    centroids: DataFrame,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tol: float | None = None,
    history: list[float] | None = None,
    n_cells: int | None = None,
    dim: int | None = None,
) -> DataFrame:
    """Lloyd (k-means) refinement of the coarse centroids: assign each
    vector to its nearest centroid (same deterministic dot), recompute
    each cell's centroid as the element-wise mean via posexplode →
    per-(cell, position) partial-aggregated avg → array re-assembly. Empty
    cells keep their previous centroid.

    Convergence: `iters` is the iteration CAP; with `tol` set, iteration
    stops early once the maximum centroid L2 movement falls to ≤ tol. The
    movement metric is a one-row aggregate over the frame the round's
    checkpoint just materialized (the connected_components discipline — no
    extra join job). Pass `history` (a list) to receive the per-iteration
    max movements for monitoring.

    Scale shape: the mean is a map-side-combined hash aggregate over
    (cell_id, pos) — N×dim skinny rows, never a per-cell collect.
    Determinism note: a distributed float mean is summation-order-dependent
    in the last bits, so the REFINED path is a model-building library
    routine (recall-tested); the oracle-gated demo query keeps the seeded
    centroids whose pipeline is bit-reproducible."""
    # cell count and dim are loop invariants (the left join below keeps
    # every cell) — resolve once, skip the per-iteration stats job
    if n_cells is None or dim is None:
        n_cells, dim = corpus_stats(centroids, "centroid", n_rows=n_cells, dim=dim)
    for _ in range(iters):
        assigned = ivf_assign(
            vectors, centroids, n_probe=1, id_col=id_col, vec_col=vec_col,
            n_cells=n_cells, dim=dim,
        )
        means = (
            assigned.select("cell_id", F.posexplode(vec_col))
            .groupBy("cell_id", "pos")
            .agg(F.avg("col").alias("m"))
            .groupBy("cell_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
                ).alias("new_centroid")
            )
        )
        updated = (
            centroids.join(means, "cell_id", "left")
            .select(
                "cell_id",
                F.col("centroid").alias("__prev"),
                F.coalesce(F.col("new_centroid"), F.col("centroid")).alias("centroid"),
            )
            .transform(_materialize)
        )
        centroids = updated.drop("__prev")
        if tol is not None or history is not None:
            movement = updated.agg(
                F.max(
                    F.sqrt(
                        F.aggregate(
                            F.zip_with(
                                "__prev",
                                "centroid",
                                lambda a, b: (a.cast("double") - b.cast("double"))
                                * (a.cast("double") - b.cast("double")),
                            ),
                            F.lit(0.0),
                            lambda acc, x: acc + x,
                        )
                    )
                ).alias("mv")
            ).first()["mv"]
            if history is not None:
                history.append(movement if movement is not None else 0.0)
            if tol is not None and (movement is None or movement <= tol):
                break
    return centroids


def auto_n_cells(vectors: DataFrame, n_rows: int | None = None) -> int:
    """√N cell count (floored, min 16) — the standard IVF sizing: with
    n_cells ≈ √N, candidate volume is ~N^1.5·n_probe instead of
    N²/n_cells, and per-cell lists stay ~√N. floor(sqrt(double)) exactly
    matches the SQL replay `greatest(16, floor(sqrt(count(*))))`."""
    import math

    n = vectors.count() if n_rows is None else n_rows
    return max(16, int(math.floor(math.sqrt(float(n)))))


def ivf_topk(
    vectors: DataFrame,
    n_cells: int | None = 16,
    n_probe: int = 2,
    k: int = 3,
    refine_iters: int = 0,
    n_home: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: corpus side indexed by home cell, query side
    probes its n_probe nearest cells; exact cosine within probed cells.
    The join is equi-keyed on cell_id — no cross join; candidate volume
    ≈ N²·n_probe/n_cells. `n_cells=None` → `auto_n_cells` (√N).

    `n_home` > 1 spills the CORPUS side into each vector's n_home nearest
    cells (FAISS multiple-assignment / ScaNN-SOAR — the same knob as
    `ivfpq_topk(n_home=...)`): boundary neighbors become reachable from
    either side at n_home× the candidate volume plus one pair-dedup
    shuffle (a pair can then arise from up to n_home shared cells).

    Scale branches (both inert at oracle SFs, so the SQL replay holds):
    past the survivor-collect cap the centroid pick routes to the
    fully-distributed `threshold_centroids` (`pick_centroids`), and past
    the literal-codebook cap the assignment routes coarse-to-fine
    (`ivf_assign_two_level`) instead of the crossJoin fallback."""
    n_rows, dim = corpus_stats(vectors, vec_col)
    if n_cells is None:
        n_cells = auto_n_cells(vectors, n_rows=n_rows)
    cents = pick_centroids(vectors, n_cells, id_col, vec_col, dim=dim, n_rows=n_rows)
    # lineage-cut ONLY for the distributed (threshold) pick — it derives
    # from a corpus scan the assign step would otherwise re-plan per join
    # leg. The exact pick is already a driver-local literal frame with no
    # corpus lineage: a checkpoint job would cost more than simply
    # re-evaluating its rows where consumed.
    if not pick_is_local("auto", n_cells, dim):
        cents = cents.transform(_materialize)
    if refine_iters:
        cents = refine_centroids(
            vectors, cents, refine_iters, id_col, vec_col, n_cells=n_cells, dim=dim
        )
    # norms materialize INTO the assignment checkpoint: the in-cell exact
    # cosine otherwise re-folds sqrt(Σv²) for BOTH vectors on every
    # candidate pair — ~n_probe·N/n_cells pairs per vector. Precomputed
    # sqrt(dot(v,v)) is the identical expression → identical bits.
    n_ranks = max(n_probe, n_home)
    if n_cells * dim <= _IVF_LITERAL_MAX_DOUBLES:
        probed = ivf_assign(
            vectors, cents, n_ranks, id_col, vec_col,
            with_rank=n_home > 1, n_cells=n_cells, dim=dim,
        )
    else:
        probed = ivf_assign_two_level(
            vectors, cents, super_probe=4, n_probe=n_ranks, id_col=id_col, vec_col=vec_col,
            with_rank=n_home > 1, n_cells=n_cells, dim=dim,
        )
    assigned = (
        probed
        .withColumn("nrm", F.sqrt(_dot(F.col(vec_col), F.col(vec_col))))
        .transform(_materialize)
    )
    corpus_rows = (
        assigned.where(F.col("probe_rank") <= n_home)
        if n_home > 1
        else assigned.where(F.col("is_home"))
    )
    corpus = corpus_rows.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        F.col("nrm").alias("cn"),
        "cell_id",
    )
    query_rows = (
        assigned.where(F.col("probe_rank") <= n_probe)
        if n_home > n_probe
        else assigned
    )
    queries = query_rows.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.col("nrm").alias("qn"),
        "cell_id",
    )
    # n_home == 1: home-only corpus leg ⇒ a pair can arise from at most
    # one shared cell; no dedup shuffle needed. n_home > 1: up to n_home
    # shared cells ⇒ dedup pairs (identical cos_sim on every copy).
    # Candidate scoring is MODE-CONDITIONAL (r14, measured A/B): with
    # n_home == 1 the Arrow dot kernel beats the interpreted `_dot` fold
    # (ann_topk_ivf min-of-5 2.50 → 2.23 s); with spilled copies the
    # candidate volume doubles and shipping qv+cv (2·dim doubles) per
    # pair through the Python boundary LOSES to the in-place fold
    # (ann_topk_spilled 3.07 → 3.63 s). Identical bits either way — the
    # kernel is the parity-pinned `_dot` twin, the divide stays Catalyst.
    pairs = (
        queries.join(corpus, "cell_id")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "qv", "cv", "qn", "cn")
    )
    if n_home > 1:
        scored = pairs.select(
            "query_id",
            "neighbor_id",
            (_dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))).alias(
                "cos_sim"
            ),
        )
    else:
        scored = _dot_rows_kernel(pairs, "qv", "cv", out_col="__dot").select(
            "query_id",
            "neighbor_id",
            (F.col("__dot") / (F.col("qn") * F.col("cn"))).alias("cos_sim"),
        )
    if n_home > 1:
        scored = scored.dropDuplicates(["query_id", "neighbor_id"])
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("int").alias("rank"), "cos_sim")
    )


def ivf_topk_filtered(
    vectors: DataFrame,
    attrs: DataFrame,
    match_cols: list[str],
    n_cells: int | None = 16,
    n_probe: int = 2,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ATTRIBUTE-CONSTRAINED IVF top-k (r14 [extension]) — filtered
    vector search, the production shape FAISS exposes as IDSelector and
    pgvector as `WHERE attr = x ORDER BY embedding <=> q`: each query's
    top-k among ONLY the neighbors that AGREE with it on `match_cols`
    (e.g. same language, same tenant, same shard-date).

    The scale-critical design point: equality predicates COMPOSE INTO
    THE CANDIDATE JOIN KEY — candidates equi-join on (cell_id,
    *match_cols), so ineligible pairs are pruned BEFORE the shuffle and
    candidate volume only SHRINKS vs the unfiltered search. The naive
    alternative — post-filtering an unfiltered top-k — silently returns
    fewer than k eligible rows (or none) whenever the true same-attr
    neighbors rank below the global top-k; this operator guarantees k
    eligible results whenever the probed cells contain k eligible
    neighbors (the same IVF approximation as `ivf_topk`, pinned exact
    at exhaustive n_probe by
    tests/test_ext.py::test_filtered_topk_exhaustive_exact).

    `attrs` is (id_col, *match_cols) — SF-linear, joined plain (no
    broadcast hint; AQE decides). Deterministic end-to-end (same
    contract as `ivf_topk`) → SQL-replayable; the registered demo is
    `ann_topk_same_lang`."""
    n_rows, dim = corpus_stats(vectors, vec_col)
    if n_cells is None:
        n_cells = auto_n_cells(vectors, n_rows=n_rows)
    cents = pick_centroids(vectors, n_cells, id_col, vec_col, dim=dim, n_rows=n_rows)
    if not pick_is_local("auto", n_cells, dim):
        cents = cents.transform(_materialize)
    if n_cells * dim <= _IVF_LITERAL_MAX_DOUBLES:
        probed = ivf_assign(vectors, cents, n_probe, id_col, vec_col, n_cells=n_cells, dim=dim)
    else:
        probed = ivf_assign_two_level(
            vectors, cents, super_probe=4, n_probe=n_probe, id_col=id_col,
            vec_col=vec_col, n_cells=n_cells, dim=dim,
        )
    assigned = (
        probed.withColumn("nrm", F.sqrt(_dot(F.col(vec_col), F.col(vec_col))))
        .join(attrs.select(id_col, *match_cols), id_col)
        .transform(_materialize)
    )
    corpus = assigned.where(F.col("is_home")).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        F.col("nrm").alias("cn"),
        "cell_id",
        *match_cols,
    )
    queries = assigned.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.col("nrm").alias("qn"),
        "cell_id",
        *match_cols,
    )
    # Arrow dot kernel for the candidate scoring (r14, guide §4.1 — same
    # swap as `ivf_topk`); the norm divide stays Catalyst
    scored = _dot_rows_kernel(
        queries.join(corpus, ["cell_id", *match_cols])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", *match_cols, "neighbor_id", "qv", "cv", "qn", "cn"),
        "qv", "cv", out_col="__dot",
    ).select(
        "query_id",
        *match_cols,
        "neighbor_id",
        (F.col("__dot") / (F.col("qn") * F.col("cn"))).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id", *match_cols, "neighbor_id",
            F.col("rank").cast("int").alias("rank"), "cos_sim",
        )
    )


def _l2sq(a: Column, b: Column) -> Column:
    """Sequential float64 fold of sum((a[i]-b[i])^2) — same determinism
    contract as `_dot` (fixed fold order, IEEE ops)."""
    diffs = F.zip_with(a, b, lambda x, y: (x.cast("double") - y.cast("double")) ** F.lit(2))
    return F.aggregate(diffs, F.lit(0.0), lambda acc, x: acc + x)


def normalize_vectors(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, unit-L2-norm vector) — the standard pre-step for cosine-metric
    PQ: on unit vectors, L2² = 2 − 2·cos, so L2 ranking is monotone in
    cosine and the quantizer optimizes the metric the search uses.
    Deterministic: sequential-fold norm + per-element IEEE double divide
    (replayed in DuckDB by the same list_transform / list_reduce, and in
    numpy by `normalize_rows`)."""
    n = F.sqrt(_dot(F.col(vec_col), F.col(vec_col)))
    return vectors.select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double") / n).alias(vec_col),
    )


def residual_vectors(
    normed: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int | None = None,
    dim: int | None = None,
) -> DataFrame:
    """(id, v − c(home cell)) over the normalized image — the residual
    cloud `train_pq_codebook` should train on when the search path runs
    `ivfpq_topk(residual=True)` (FAISS default: codewords tile the small
    near-origin residuals, not the unit sphere). One assign pass
    (literal-codebook kernel, no shuffle) + an element-wise zip."""
    assigned = ivf_assign(
        normed, centroids, 1, id_col, vec_col, n_cells=n_cells, dim=dim
    ).where(F.col("is_home"))
    c = F.broadcast(centroids.select("cell_id", "centroid"))
    return assigned.join(c, "cell_id").select(
        F.col(id_col),
        F.zip_with(
            F.col(vec_col), "centroid", lambda v, ce: v.cast("double") - ce.cast("double")
        ).alias(vec_col),
    )


def _subvectors(
    vectors: DataFrame, m: int, sub_dim: int, id_col: str, vec_col: str
) -> DataFrame:
    """(id, s, sub): split each vector into m contiguous sub_dim-wide
    subvectors — a narrow map (m rows/vector), no shuffle."""
    return vectors.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("s"),
                        F.slice(F.col(vec_col), s * sub_dim + 1, sub_dim).alias("sub"),
                    )
                    for s in range(m)
                ]
            )
        ).alias("e"),
    ).select(id_col, F.col("e.s").alias("s"), F.col("e.sub").alias("sub"))


def pq_subspace_codebook(codebook: DataFrame, m: int, sub_dim: int) -> DataFrame:
    """(s, code, csub): per-subspace codewords as slices of full-width
    (code, centroid) rows — the seeded, model-free codebook layout (one
    table serves all m subspaces)."""
    return codebook.select(
        "code",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("s"),
                        F.slice(F.col("centroid"), s * sub_dim + 1, sub_dim).alias("csub"),
                    )
                    for s in range(m)
                ]
            )
        ).alias("e"),
    ).select(F.col("e.s").alias("s"), "code", F.col("e.csub").alias("csub"))


def train_pq_codebook(
    vectors: DataFrame,
    m: int = 4,
    sub_dim: int = 16,
    n_codes: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-subspace Lloyd (k-means) training of the PQ codebook — the
    refinement that turns the seeded slice-codebook into codewords that
    actually tile each subspace. Same discipline as `refine_centroids`:
    assignment by fold-ordered L2 argmin (tiebreak code asc), new codeword
    = element-wise mean via posexplode → (s, code, pos) hash aggregate →
    array re-assembly; empty codes keep their previous codeword.

    Distributed float means are summation-order-dependent in the last
    bits, so the TRAINED path is a model-building routine (recall-tested
    in pytest); the oracle-gated demo keeps the seeded slice codebook
    whose pipeline is bit-reproducible."""
    init = deterministic_centroids(vectors, n_codes, id_col, vec_col).transform(_materialize)
    cb = pq_subspace_codebook(
        init.select(F.col("cell_id").alias("code"), "centroid"), m, sub_dim
    ).transform(_materialize)
    subs = _subvectors(vectors, m, sub_dim, id_col, vec_col).transform(_materialize)
    for _ in range(iters):
        scored = subs.join(F.broadcast(cb), "s").select(
            id_col, "s", "code", "sub", _l2sq(F.col("sub"), F.col("csub")).alias("d2")
        )
        # aggregate argmin (pq_codes discipline): min_by can't tie — codes
        # are distinct within a (vector, subspace) group
        assigned = (
            scored.groupBy(id_col, "s")
            .agg(
                F.min(F.struct("d2", "code")).alias("b"),
                F.min_by("sub", F.struct("d2", "code")).alias("sub"),
            )
            .select("s", F.col("b.code").alias("code"), "sub")
        )
        means = (
            assigned.select("s", "code", F.posexplode("sub"))
            .groupBy("s", "code", "pos")
            .agg(F.avg("col").alias("mv"))
            .groupBy("s", "code")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "mv"))), lambda e: e["mv"]
                ).alias("new_csub")
            )
        )
        cb = (
            cb.join(means, ["s", "code"], "left")
            .select("s", "code", F.coalesce("new_csub", "csub").alias("csub"))
            .transform(_materialize)
        )
    return cb


def pq_codes(
    vectors: DataFrame,
    codebook: DataFrame,
    m: int = 4,
    sub_dim: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization encoding: split each vector into `m` contiguous
    `sub_dim`-wide subvectors and assign each to its nearest (L2) codebook
    entry in that subspace → `m` small-int codes per vector (the FAISS PQ
    storage layout: m·log2(codes) bits instead of dim·32).

    `codebook` is (code, centroid) — tiny, broadcast; subspace entries are
    slices of the same centroid rows, so one table serves all m subspaces.
    Deterministic: L2 by sequential fold, argmin tiebreak on code asc.

    Scale shape: explode-to-subvectors is a narrow map (m rows/vector);
    the assignment is a broadcast join + aggregate argmin keyed on
    (vector, subspace) — map-side partial combine, no window sort, no
    global shuffle of raw vectors."""
    sub_cb = pq_subspace_codebook(codebook, m, sub_dim)
    scored = _pq_all_distances(vectors, sub_cb, m, sub_dim, id_col, vec_col)
    # aggregate argmin (min over struct(d2, code) = orderBy d2 asc, code
    # asc), NOT row_number over an n_codes-row window: the hash aggregate
    # partial-combines map-side to one row per (vector, subspace) before
    # any shuffle, where the window shuffles and SORTS all n_codes rows
    # per group (round-4 verdict: the cheapest 2× on the bench board)
    return (
        scored.groupBy(id_col, "s")
        .agg(F.min(F.struct("d2", "code")).alias("b"))
        .select(id_col, "s", F.col("b.code").alias("code"), F.col("b.d2").alias("d2"))
    )


def attach_pq_lut(
    assigned: DataFrame,
    cb_np,
    m: int,
    n_codes: int,
    sub_dim: int,
    vec_col: str = "embedding",
    residual: bool = False,
    cent_np=None,
    cent_pos: dict | None = None,
    with_codes: bool = False,
    code_rank_limit: int | None = None,
    centroid_col: str | None = None,
) -> DataFrame:
    """Append the per-row ADC LUT column (`lut`, m·n_codes doubles:
    lut[s·n_codes + code] = L2²(subvector_s, codeword)) in one Arrow
    kernel pass over an `ivf_assign` frame — the shared engine of
    `ivfpq_topk` and the stored-index compressed search
    (`ann_index.search_index(use_pq=True)`).

    Plain mode computes LUTs on HOME rows only (one LUT per vector);
    residual mode on EVERY probe row from the vector's residual wrt that
    row's cell (`cent_np`/`cent_pos` map cell_id → centroid). The
    arithmetic is the same i-ascending float64 accumulation as `_l2sq`'s
    sequential fold — bit-identical to the Catalyst expression, so code
    assignments derived from the LUT equal `pq_codes`' join-based argmin
    (pinned by test_stored_pq_search_equals_ivfpq).

    `with_codes=True` ALSO emits the per-subspace argmin codes (`ncodes`,
    m ints) from the same LUT while it is hot in the kernel — np.argmin's
    first-occurrence tie rule over cell-ascending columns is exactly
    `lut_codes_expr`'s array_min-over-(d2, code) comparator, and dropping
    that m·n_codes Catalyst expression from the corpus leg removes its
    whole-stage-codegen compile from the query's cold path (round-7
    verdict Next #3).

    `code_rank_limit` widens the plain-mode row selection from is_home to
    `probe_rank <= limit` (requires an ivf_assign(with_rank=True) frame)
    — the spilled-assignment (n_home > 1) corpus leg needs codes on every
    stored copy; plain-mode codes are cell-independent, so the copies
    carry identical ncodes.

    `centroid_col` (r14 — round-13 verdict Next #2, the DISTRIBUTED
    residual mode): instead of indexing a driver-collected `cent_np`
    matrix by `cent_pos[cell_id]`, each row carries ITS OWN cell's
    centroid in this column (the caller equi-joins the centroid FRAME on
    cell_id beforehand) — so residual encode/search never collects the
    O(n_cells) centroid matrix, which is exactly the collect the
    two-level store exists to remove. The subtraction is the same
    float64 elementwise op on the same doubles (parquet/collect both
    round-trip IEEE binary64 exactly), so codes/LUTs are BIT-IDENTICAL
    to the cent_np path for the same (vector, cell, model) — pinned by
    test_two_level_residual_store_matches_flat."""
    import numpy as np

    from pyspark.sql.types import ArrayType, DoubleType, IntegerType, StructField, StructType

    lut_schema = StructType(
        list(assigned.schema.fields)
        + [StructField("lut", ArrayType(DoubleType()), True)]
        + ([StructField("ncodes", ArrayType(IntegerType()), True)] if with_codes else [])
    )
    _m, _nc, _sd, _residual = m, n_codes, sub_dim, residual
    _rank_lim = code_rank_limit
    _cent_col = centroid_col

    def _lut(pdf_iter):
        CB = cb_np.reshape(_m, _nc, _sd)
        for pdf in pdf_iter:
            if len(pdf) == 0:
                continue
            luts = [None] * len(pdf)
            codes = [None] * len(pdf)
            if _residual:
                idx = np.arange(len(pdf))
                if _cent_col is None:
                    cellpos = np.asarray(
                        [cent_pos[int(c)] for c in pdf["cell_id"]], dtype=np.int64
                    )
            elif _rank_lim is not None:
                idx = np.nonzero((pdf["probe_rank"].to_numpy() <= _rank_lim))[0]
            else:
                idx = np.nonzero(pdf["is_home"].to_numpy())[0]
            for lo in range(0, len(idx), KERNEL_BLOCK_ROWS):
                chunk = idx[lo : lo + KERNEL_BLOCK_ROWS]
                V = np.asarray(
                    [np.asarray(pdf[vec_col].iloc[i], dtype=np.float64) for i in chunk]
                )
                if _residual and _cent_col is not None:
                    V = V - np.asarray(
                        [np.asarray(pdf[_cent_col].iloc[i], dtype=np.float64) for i in chunk]
                    )
                elif _residual:
                    V = V - cent_np[cellpos[chunk]]
                d2, cmin = pq_l2sq_codes(V, CB)
                flat = d2.reshape(len(chunk), _m * _nc)
                for row_i, j_loc in enumerate(chunk):
                    luts[j_loc] = flat[row_i]
                    if with_codes:
                        codes[j_loc] = cmin[row_i]
            out = pdf.copy()
            out["lut"] = luts
            if with_codes:
                out["ncodes"] = codes
            yield out

    return assigned.mapInPandas(_lut, lut_schema)


def lut_codes_expr(m: int, n_codes: int) -> Column:
    """argmin codes from a `lut` column: array of m codes, ties to the
    lower code (array_min over (d2, code) structs ≡ orderBy d2, code)."""
    return F.array(
        *[
            F.array_min(
                F.zip_with(
                    F.slice("lut", s * n_codes + 1, n_codes),
                    F.sequence(F.lit(0), F.lit(n_codes - 1)),
                    lambda d, c: F.struct(d.alias("d2"), c.alias("code")),
                )
            )["code"]
            for s in range(m)
        ]
    )


def seeded_residual_codebook_rows(
    seed_rows: list, cent_np, m: int, sub_dim: int
) -> list:
    """Driver-side construction of the SEEDED residual codebook, shared by
    `ivfpq_topk(residual=True)` and the persistent index
    (`ann_index.build_ann_index(residual=True)`) so the STORED model is
    bit-identical to the ad-hoc one: the md5-picked seed vectors' residuals
    wrt their own home centroid, sliced into m per-subspace codewords
    (prototype-verified in r9: slice-of-centroid codewords are unit-scale
    and quantize the near-origin residual cloud badly — seeds must be
    residuals themselves). `seed_rows` is [(code, vector)] code-ascending
    with contiguous codes; `cent_np` the cell_id-ascending centroid matrix.
    Homes use the same i-ascending float64 accumulation as the assignment
    kernel (argmax dot; stable argsort ties to the lower cell), so the
    residual cloud equals what `ivf_assign` produces for the same rows.
    Returns [(s, code, csub)] rows for a `s int, code int,
    csub array<double>` frame. KB-scale control plane throughout."""
    import numpy as np

    seeds = np.asarray([v for _c, v in seed_rows], dtype=np.float64)
    homes = nearest_cells(seeds, cent_np, 1)[:, 0]
    resid_seeds = seeds - cent_np[homes]
    return [
        (s, c, [float(x) for x in resid_seeds[c, s * sub_dim : (s + 1) * sub_dim]])
        for s in range(m)
        for c in range(len(resid_seeds))
    ]


def pq_code_arrays(
    vectors: DataFrame,
    sub_codebook: DataFrame,
    m: int,
    sub_dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, ncodes array<int>): the PQ encoding as ONE array per vector —
    the storage layout a persisted index keeps (m small ints instead of
    dim·8 bytes). Broadcast codebook join + aggregate argmin (map-side
    combine), then one (vector) gather; same tiebreak as `pq_codes`."""
    assigned = (
        _pq_all_distances(vectors, sub_codebook, m, sub_dim, id_col, vec_col)
        .groupBy(id_col, "s")
        .agg(F.min(F.struct("d2", "code")).alias("b"))
    )
    return assigned.groupBy(id_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("s", F.col("b.code").alias("code")))),
            lambda e: e["code"].cast("int"),
        ).alias("ncodes")
    )


def ivfpq_topk(
    vectors: DataFrame,
    n_cells: int | None = 16,
    n_probe: int = 3,
    k: int = 3,
    m: int = 4,
    sub_dim: int = 16,
    rerank_factor: int = 4,
    pq_n_codes: int | None = None,
    sub_codebook: DataFrame | None = None,
    centroids: DataFrame | None = None,
    residual: bool = False,
    n_home: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ approximate top-k — the FAISS-standard compressed-domain
    search with the standard refinement step:

    1. L2-NORMALIZE the corpus (unit norm ⇒ L2² = 2 − 2·cos, so the PQ/IVF
       L2 machinery ranks by the cosine metric the exact baseline uses —
       the round-3 recall bug was exactly this mismatch on unnormalized
       vectors).
    2. IVF cells generate candidates (equi-join on cell_id, as `ivf_topk`).
    3. Candidates rank by ASYMMETRIC DISTANCE (ADC): the query's exact
       subvectors against the neighbor's PQ codes — sum over subspaces of
       query→codeword L2², never touching the neighbor's raw vector.
    4. EXACT RERANK: the ADC top-(rerank_factor·k) shortlist PER PROBED
       CELL is re-scored by exact cosine (a skinny equi-join back to the
       unit vectors) and the final top-k ranks by cosine — ADC's
       quantization error picks the shortlist, not the final order.
       Per-cell (rather than global) shortlisting is the round-6 recall
       fix: a global ADC top-(f·k) lets one quantization-friendly cell
       crowd out every other probe's candidates; per-cell lists keep each
       probe's best in play and the exact rerank arbitrates (measured
       +0.06–0.08 recall at identical candidate volume).

    At 100 TB this is the shape that wins: the candidate join carries
    only (id, m codes) — a few bytes/vector instead of dim·4; each
    (query, probed cell)'s candidates GATHER into one row, the query's
    LUT (m·n_codes distances against the literal codebook) joins once,
    and ADC + the top-(rerank_factor·k) shortlist evaluate as array
    expressions (Σ_s lut[s·n_codes + code_s] added in fixed s order →
    bit-reproducible; slice∘array_sort ≡ the (adc asc, id asc) window
    top-k without sorting the full candidate set). The rerank join
    touches n_probe·rerank_factor·k rows per query; on unit vectors
    cosine = plain dot (sequential fold).

    `pq_n_codes` decouples codebook size from IVF cell count (more
    codewords = finer quantization; the md5-prefix pick is a prefix
    property, so one centroid collect serves both). `sub_codebook`: an
    optional pre-trained (s, code, csub) from `train_pq_codebook`
    (pytest-only path — distributed float means); default is the
    md5-seeded codebook, deterministic end-to-end → oracle-replayable.
    `centroids`: optional pre-built (cell_id, centroid) over the
    NORMALIZED image (e.g. Lloyd-refined via `refine_centroids`, or a
    persisted index's stored centroids). `residual=True` switches to
    FAISS-default residual encoding: each vector encodes v − c(home
    cell) and the query builds ONE LUT PER PROBED CELL from its own
    residual wrt that cell — residuals are small, so the same codebook
    budget quantizes far finer (the recall-test path; the oracle-gated
    demo keeps the plain encoding whose SQL replay stays one-LUT).

    `n_home` > 1 switches the CORPUS side to SPILLED (multi-)assignment —
    the FAISS multiple-assignment / ScaNN-SOAR discipline: each corpus
    vector is stored in its `n_home` nearest cells, so a true neighbor
    sitting just across a cell boundary is reachable from EITHER cell.
    Diagnosis behind it (round-8 verdict Next #4): at the pytest config
    the seeded recall was CANDIDATE-bound, not quantization-bound — the
    probed cells contained only 0.709 of the true pairs, so no codebook
    improvement (OPQ-style rotations measured +0.01–0.02) could pass
    0.71; spilling the corpus to 2 homes lifts the reachable bound and
    measured recall to 0.82 with rerank_factor=16. Costs, documented:
    n_home× the candidate volume and one dropDuplicates shuffle of the
    shortlist (a pair can now arise from up to n_home shared cells).
    Query probes and spilled homes come from ONE assignment pass
    (max(n_probe, n_home) ranks, sliced by probe_rank). Deterministic
    end-to-end → SQL-replayable (the corpus leg reads r <= n_home
    instead of r = 1; plain-mode codes are cell-independent, so both
    copies carry identical ncodes)."""
    # repartition first: single-file parquet arrives as 1-2 partitions and
    # everything downstream of the checkpoint that is NARROW (the literal-
    # codebook LUT projection especially) would otherwise run on 1-2 cores
    par = vectors.sparkSession.sparkContext.defaultParallelism
    normed = normalize_vectors(
        vectors.repartition(par), id_col, vec_col
    ).transform(_materialize)
    n_rows, _dim0 = corpus_stats(normed, vec_col)
    if n_cells is None:
        n_cells = auto_n_cells(normed, n_rows=n_rows)
    n_codes = pq_n_codes or n_cells
    # the md5-prefix pick is needed unless the caller supplied BOTH model
    # frames; it stays LAZY — its one and only consumer is the driver
    # collect below, so an eager checkpoint would be a whole extra job
    # (the old shape ran ckpt + collect + codebook-collect: three first-run
    # plan compiles on the cold path, round-8 verdict Next #3)
    big = (
        deterministic_centroids(
            normed, max(n_cells, n_codes), id_col, vec_col, n_rows=n_rows
        )
        if centroids is None or sub_codebook is None
        else None
    )
    # Neighbor-side compressed codes + query-side distance LUT come from
    # ONE projection over the normalized vectors, stored as per-vector
    # ARRAYS: lut[s·n_codes + code] = d2, codes[s] = argmin code. The
    # codebook is KB-scale control plane (its centroid pick already
    # collects survivors driver-side), so it rides along as a LITERAL
    # (s, csub) array: d2 = the same _l2sq sequential fold against exact
    # double literals — bit-identical to computing it through a join.
    # Round-4 shape — explode to (id, s, code, d2) rows, broadcast-join
    # the codebook, window-argmin, then join per candidate pair on
    # (query, s, code) and pivot — shuffled pairs × m rows through two
    # joins and an aggregate; array gets against a per-query LUT do the
    # same lookups inside one projection. The argmin ties break on the
    # lower code (array_min over struct(d2, code) ≡ orderBy d2, code).
    import numpy as np

    # ONE collect of the materialized pick serves the IVF centroids, the
    # seeded codebook (slices of the same rows — plain Python slicing of
    # the collected doubles is bit-identical to the former
    # pq_subspace_codebook F.slice plan), and the residual seeds: the old
    # shape ran three driver jobs (cents collect, codebook collect, and
    # ivf_assign's internal re-collect) whose first-run plan compiles were
    # a measured slice of the query's cold start (round-8 verdict Next #3).
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    if centroids is not None:
        cent_rows = sorted(
            (int(r["cell_id"]), list(r["centroid"]))
            for r in centroids.select("cell_id", "centroid").collect()
        )
        cell_t = centroids.schema["cell_id"].dataType
        big_rows = None
    else:
        big_rows = sorted((int(r["cell_id"]), list(r["centroid"])) for r in big.collect())
        cent_rows = [(c, v) for c, v in big_rows if c < n_cells]
        cell_t = IntegerType()
    cent_np = np.asarray([v for _c, v in cent_rows], dtype=np.float64)
    cent_pos = {c: i for i, (c, _v) in enumerate(cent_rows)}
    # rebuild the centroid frame from the rows just collected: a literal
    # ONE-slice frame (r14) — it only serves as ivf_assign's schema/
    # fallback anchor now that the kernel codebook rides `centroid_rows`
    cents = local_rows_df(
        vectors.sparkSession,
        cent_rows,
        StructType(
            [
                StructField("cell_id", cell_t, False),
                StructField("centroid", ArrayType(DoubleType()), False),
            ]
        ),
    )
    if sub_codebook is None and residual:
        # Seeded RESIDUAL codebook: the md5-smallest n_codes corpus
        # vectors' residuals wrt their home centroid (prototype-verified:
        # slice-of-centroid codewords are unit-scale and quantize the
        # near-origin residual cloud badly). Same KB-scale control plane —
        # the picked vectors were already collected for the centroid pick;
        # the home argmax reuses the kernel's i-ascending accumulation.
        # Built DIRECTLY as driver rows (r14): the former createDataFrame
        # + immediate self-collect round-tripped the same tuples through
        # an extra job; sorted() over the raw tuples is the identical
        # (s, code) ordering and the doubles never leave the driver.
        if big_rows is None:
            big_rows = sorted(
                (int(r["cell_id"]), list(r["centroid"])) for r in big.collect()
            )
        cb_rows = sorted(
            seeded_residual_codebook_rows(
                [(c, v) for c, v in big_rows if c < n_codes], cent_np, m, sub_dim
            )
        )
    elif sub_codebook is None:
        # plain seeded codebook: subspace slices of the picked rows, built
        # driver-side from the rows already collected (the values pass
        # through unchanged — identical doubles to the F.slice plan)
        if big_rows is None:
            big_rows = sorted(
                (int(r["cell_id"]), list(r["centroid"])) for r in big.collect()
            )
        cb_rows = sorted(
            (s, c, v[s * sub_dim : (s + 1) * sub_dim])
            for c, v in big_rows
            if c < n_codes
            for s in range(m)
        )
    else:
        cb_rows = sorted(
            ((r["s"], r["code"], list(r["csub"])) for r in sub_codebook.collect())
        )
    # a tiny corpus yields fewer centroids than requested: the stride of
    # the LUT below is the ACTUAL contiguous per-subspace code count
    n_codes = len(cb_rows) // m
    # LUT entry j = s·n_codes + code (s-major), the same layout the ADC
    # lookups below index. Computed in an Arrow-vectorized pass (same
    # §2.11 class as the assignment kernel): the former literal-array
    # Catalyst fold ran m·n_codes·sub_dim INTERPRETED lambda steps per
    # home row (~4096 × rows — the dominant ivfpq cost at sf0.1); numpy
    # evaluates the identical arithmetic — (x−y)·(x−y) per element
    # (Spark's (x−y)**2 and DuckDB's explicit multiply agree on these
    # values, as the green oracle rows prove), accumulated i-ascending
    # exactly like `_l2sq`'s sequential fold — in milliseconds,
    # chunked so the (rows × m·n_codes × sub_dim) tensor stays ~30 MB.
    # The LUT still fuses INTO the assignment materialization — computed
    # on home rows only in plain mode (one LUT per vector), or on EVERY
    # probe row in residual mode (one LUT per (vector, probed cell), each
    # from the vector's residual wrt that cell) — so ONE checkpoint serves
    # the corpus codes, the query LUT(s), and the cell assignment.
    cb_np = np.asarray([csub for _s, _code, csub in cb_rows], dtype=np.float64)
    # cent_rows is already on the driver for the PQ LUT — the guard AND
    # the kernel codebook are free (no re-collect of the literal frame)
    assigned0 = ivf_assign(
        normed, cents, max(n_probe, n_home), id_col, vec_col,
        with_rank=n_home > 1,
        centroid_rows=cent_rows,
    )
    # with_codes: the corpus-side argmin codes come out of the SAME kernel
    # pass (np first-occurrence argmin == lut_codes_expr's comparator) so
    # the m·n_codes Catalyst code expression never enters the plan — its
    # whole-stage-codegen compile was a measured chunk of the query's cold
    # first run (round-7 verdict Next #3)
    assigned = attach_pq_lut(
        assigned0, cb_np, m, n_codes, sub_dim, vec_col,
        residual=residual, cent_np=cent_np, cent_pos=cent_pos, with_codes=True,
        code_rank_limit=n_home if n_home > 1 else None,
    ).transform(_materialize)
    corpus_rows = (
        assigned.where(F.col("probe_rank") <= n_home)
        if n_home > 1
        else assigned.where(F.col("is_home"))
    )
    corpus = corpus_rows.select(
        F.col(id_col).alias("neighbor_id"),
        "cell_id",
        "ncodes",
    )
    query_rows = (
        assigned.where(F.col("probe_rank") <= n_probe)
        if n_home > n_probe
        else assigned
    )
    queries = query_rows.select(F.col(id_col).alias("query_id"), "cell_id")
    if residual:
        qlut = query_rows.select(F.col(id_col).alias("query_id"), "cell_id", "lut")
        qlut_keys = ["query_id", "cell_id"]
    else:
        qlut = assigned.where(F.col("is_home")).select(
            F.col(id_col).alias("query_id"), "lut"
        )
        qlut_keys = ["query_id"]
    # n_home == 1: no pair dedup needed — the corpus leg is HOME cells
    # only, and a vector has exactly one home cell, so a (query, neighbor)
    # pair can arise from at most one shared cell and a dropDuplicates
    # here would be a full extra shuffle of the candidate set for nothing.
    # n_home > 1: a pair can arise from up to n_home shared cells — the
    # SHORTLIST (bounded: ≤ n_probe·f·k rows/query, far smaller than the
    # candidate set) dedups before the rerank instead.
    # ADC + shortlist + rerank: the shared `_pq_rank` pipeline. Gather
    # shape is MODE-CONDITIONAL (r14 — round-13 verdict "What's wrong"
    # #1): residual pre-gathers per cell (its LUT join is (query, cell)-
    # keyed and re-shuffled with the streamed candidates — the measured
    # r13 win), plain streams the candidate join through a hash aggregate
    # (the r13 pre-gather cost the plain family 1.5–1.8× — the per-cell
    # array was materialized + array_sort'ed per probe row). Rows are
    # bit-identical either way; see the `_pq_rank` docstring.
    qv = normed.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    nv = normed.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nv"))
    return _pq_rank(
        queries, qlut, qlut_keys, corpus, qv, nv,
        m, n_codes, k, rerank_factor, n_home, pre_gather=residual,
    )


def _dot_rows_kernel(
    df: DataFrame, a_col: str, b_col: str, out_col: str = "cos_sim",
) -> DataFrame:
    """Arrow-vectorized per-row dot of two vector columns, DROPPING the
    vector columns from the output — the exact-rerank engine of
    `_pq_rank` (r14 — round-13 verdict Next #5: the rerank attribution
    showed the INTERPRETED `_dot` fold — 64 lambda steps per row, no
    codegen for higher-order functions — was the dominant stage of
    residual serving after the r13 gather fix: +1.25 s for 372k rerank
    rows at sf0.1 where this kernel does the same arithmetic in ~ms).

    BIT-IDENTICAL to `_dot` by construction (the `ivf_assign` kernel
    argument): per-element products are the same float64 IEEE
    multiplies, and the accumulation starts `0.0 + p0` then adds
    i-ascending — exactly the sequential left fold (including the
    signed-zero case: the fold's initial 0.0 + (−0.0) = +0.0 is
    reproduced, which matters because cos_sim is a hashed OUTPUT value,
    not just a ranking key). The oracle rows stay green on DuckDB's
    list_reduce replay — pinned by the tri-SF ANN oracle family."""
    import numpy as np

    from pyspark.sql.types import DoubleType, StructField, StructType

    drop = (a_col, b_col)
    keep = [f.name for f in df.schema.fields if f.name not in drop]
    out_schema = StructType(
        [f for f in df.schema.fields if f.name in keep]
        + [StructField(out_col, DoubleType(), True)]
    )

    def _k(pdf_iter):
        for pdf in pdf_iter:
            if len(pdf) == 0:
                continue
            A = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf[a_col]])
            B = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf[b_col]])
            acc = 0.0 + A[:, 0] * B[:, 0]
            for i in range(1, A.shape[1]):
                acc = acc + A[:, i] * B[:, i]
            out = pdf[keep].copy()
            out[out_col] = acc
            yield out

    return df.mapInPandas(_k, out_schema)


def _pq_rank(
    queries_f: DataFrame,
    qlut: DataFrame,
    qlut_keys: list,
    corpus_codes: DataFrame,
    qv: DataFrame,
    nv: DataFrame,
    m: int,
    n_codes: int,
    k: int,
    rerank_factor: int,
    n_home: int,
    pre_gather: bool = False,
) -> DataFrame:
    """The compressed-domain candidate→top-k pipeline shared by
    `ivfpq_topk` and the stored index's ranking core
    (`ann_index._rank_probed`, which serves `search_index(use_pq=True)`
    and the streaming ingester's PQ match): gather each
    probe row's candidates (with their m-code arrays), join the query's
    LUT, self-pair filter, ADC as array expressions (fixed s-ascending
    sum — bit-reproducible), per-(query, cell) top-(rerank_factor·k)
    shortlists via slice∘array_sort over (adc_dist, neighbor_id) structs
    (≡ a row_number window's (adc asc, id asc) top-k), pair dedup when
    the corpus is spilled, exact-cosine rerank against the raw-vector
    legs, per-query top-k.

    `pre_gather` picks the GATHER shape — both produce the identical
    per-(query, cell) candidate SET and comparator, so rows are
    bit-identical either way (pinned by the stored==ad-hoc parity
    pytests); the knob is pure plan shape, measured per mode (r14 —
    round-13 verdict "What's wrong" #1):

    - False (plain PQ, one LUT per query): STREAM the probe×codes
      equi-join output through a hash aggregate keyed (query_id,
      cell_id). The candidate rows are skinny (id + m small ints), the
      aggregate partial-combines map-side, and no per-cell array is
      copied to every probe row. r13 made this path pre-gather too and
      the plain family regressed 1.5–1.8× (ann_topk_spilled 4.0→7.0 s,
      ann_topk_ivfpq 3.2→5.2 s robust-min) — the per-cell array
      materialized + array_sort'ed PER PROBE ROW cost more than the
      candidate re-shuffle it saved.
    - True (residual mode, one LUT per (query, probed cell)): pre-gather
      the corpus codes ONCE per cell (|cells| rows out) and score each
      probe row's cell array inline. Here the streamed shape's candidate
      gather re-shuffled ~|queries|·n_probe·occupancy rows AND the
      (query, cell)-keyed LUT join re-shuffled with it — the dominant
      serving stage (SCALING.md round-13 attribution; store_split
      serving 6.9 → 4.0 s). Per-cell array size is occupancy-bounded
      (constant-occupancy design: n_cells ∝ N) — the same bound a probe
      of the cell already pays, so the shape survives 100×.

    Inputs: `queries_f` (query_id, cell_id) probe rows; `qlut`
    (query_id[, cell_id], lut) joined on `qlut_keys` (residual mode keys
    per cell); `corpus_codes` (neighbor_id, cell_id, ncodes); `qv`/`nv`
    (id, vector) rerank legs — one row per id.

    pre_gather CONTRACT (r15): `qlut` must BE the probe-row frame —
    exactly one row per (query, probed cell), carrying its lut — which
    every residual caller already satisfies (they project queries_f and
    qlut off the same assigned frame). The former queries_f ⋈ qlut
    recombination was an identity self-join re-shuffling the probe rows;
    it is gone, and `queries_f` is unused on this branch."""
    shortlist_n = rerank_factor * k

    if pre_gather:
        # ONE collect_list(struct) keeps (id, codes) pairing authoritative,
        # then JVM array ops split it into PARALLEL PRIMITIVE arrays (r15):
        # Arrow hands array<long>/array<int> to the kernel as numpy-ready
        # buffers, where the former array<struct> decoded to a Python dict
        # PER CANDIDATE inside the kernel loop (~|candidates| dict gets per
        # probe row — the dominant slice of residual serving's 3.3 s
        # gather+ADC stage in the r15 attribution probe).
        cells = (
            corpus_codes.groupBy("cell_id")
            .agg(F.collect_list(F.struct("neighbor_id", "ncodes")).alias("cands"))
            .select(
                "cell_id",
                F.transform("cands", lambda c: c["neighbor_id"]).alias("nids"),
                F.flatten(F.transform("cands", lambda c: c["ncodes"])).alias(
                    "codes_flat"
                ),
            )
        )
        # `queries_f` ⋈ `qlut` is an IDENTITY self-join in residual mode —
        # every caller builds both from the same probe-row frame, so the
        # probe rows carry their LUT already (r15: one shuffle join
        # removed; the contract is pinned below by using qlut alone)
        gathered = qlut.join(cells, "cell_id")
        filter_self = True  # per-cell arrays still hold the query's own row
    else:
        cand = (
            queries_f.join(corpus_codes, "cell_id")
            .where(F.col("query_id") != F.col("neighbor_id"))
            .select("query_id", "cell_id", "neighbor_id", "ncodes")
        )
        gathered = (
            cand.groupBy("query_id", "cell_id")
            .agg(F.collect_list(F.struct("neighbor_id", "ncodes")).alias("cands"))
            .join(qlut, qlut_keys)
        )
        filter_self = False  # already dropped before the gather
    # The ADC + per-(query, cell) top-(rf·k) shortlist is MODE-CONDITIONAL
    # like the gather itself (r14, measured paired A/B at sf0.1 with a
    # non-PQ control query as the noise floor):
    #
    # - pre_gather=True (residual): ONE Arrow kernel (guide §4.2 — the
    #   per-probe-row ADC over the pre-gathered cell array is the
    #   dominant per-row work, and Catalyst higher-order functions never
    #   enter codegen: `transform(cands, adc)` pays m interpreted `get`s
    #   + adds PER CANDIDATE, then `array_sort`s the full struct array).
    #   The kernel does the identical arithmetic — adc starts at the s=0
    #   lookup and adds s-ascending (same IEEE float64 chain) — and
    #   `np.lexsort((nid, adc))` reproduces the struct comparator
    #   exactly: (adc asc, neighbor asc), total order because a neighbor
    #   appears at most once per cell and L2² LUT sums are never
    #   NaN/−0.0. Bit-identical shortlists → bit-identical reranked rows
    #   (pinned by the stored==ad-hoc parity pytests + tri-SF oracles).
    # - pre_gather=False (plain PQ): keep the Catalyst expression — the
    #   streamed hash-aggregate shape emits skinny (query, cell) arrays
    #   and the paired A/B read a wash vs the control's noise floor, so
    #   the extra Python boundary crossing buys nothing here (guide
    #   §4.1: crossing costs bytes; only pay it where per-row work wins).
    from pyspark.sql.types import StructField, StructType

    sl_schema = StructType(
        [
            StructField(
                "query_id", queries_f.schema["query_id"].dataType, True
            ),
            StructField(
                "neighbor_id", corpus_codes.schema["neighbor_id"].dataType, True
            ),
        ]
    )

    def _sl_kernel(pdf_iter):
        # FULLY VECTORIZED shortlist (r15): every probe row's candidates
        # concatenate into flat arrays, ADC evaluates as one fancy-indexed
        # sum over (row, code) pairs, and the per-row top-(rf·k) falls out
        # of ONE global lexsort keyed (row, adc, nid) + a cumcount slice.
        # Comparator identical to the former per-row np.lexsort((nid,
        # adc)) — (adc asc, nid asc) within each row, total order because
        # a neighbor appears at most once per cell and L2² LUT sums are
        # never NaN/−0.0 — so shortlists are BIT-IDENTICAL (pinned by the
        # stored==ad-hoc parity pytests + tri-SF oracles).
        import numpy as np
        import pandas as pd

        for pdf in pdf_iter:
            nrows = len(pdf)
            if nrows == 0:
                continue
            nids_l = [np.asarray(x) for x in pdf["nids"]]
            lens = np.asarray([len(x) for x in nids_l], dtype=np.int64)
            if int(lens.sum()) == 0:
                continue
            nids_all = np.concatenate(nids_l)
            codes_all = np.concatenate(
                [np.asarray(x, dtype=np.int64) for x in pdf["codes_flat"]]
            ).reshape(-1, m)
            row_idx = np.repeat(np.arange(nrows), lens)
            lut_mat = np.asarray(
                [np.asarray(x, dtype=np.float64) for x in pdf["lut"]]
            )
            total = lut_mat[row_idx, codes_all[:, 0]]
            for s in range(1, m):
                total = total + lut_mat[row_idx, s * n_codes + codes_all[:, s]]
            qids = pdf["query_id"].to_numpy()
            if filter_self:
                keep = nids_all != qids[row_idx]
                row_idx, nids_all, total = row_idx[keep], nids_all[keep], total[keep]
                if len(row_idx) == 0:
                    continue
            order = np.lexsort((nids_all, total, row_idx))
            r_sorted = row_idx[order]
            # cumcount within each row's sorted run → first shortlist_n
            starts = np.flatnonzero(np.r_[True, r_sorted[1:] != r_sorted[:-1]])
            run_lens = np.diff(np.r_[starts, len(r_sorted)])
            pos = np.arange(len(r_sorted)) - np.repeat(starts, run_lens)
            sel = pos < shortlist_n
            yield pd.DataFrame(
                {
                    "query_id": qids[r_sorted[sel]],
                    "neighbor_id": nids_all[order][sel],
                }
            )

    if pre_gather:
        shortlist = gathered.select("query_id", "nids", "codes_flat", "lut").mapInPandas(
            _sl_kernel, sl_schema
        )
    else:

        def _adc(c: Column) -> Column:
            total = None
            for s in range(m):
                part = F.get("lut", F.lit(s * n_codes) + F.get(c["ncodes"], s))
                total = part if total is None else total + part
            return F.struct(
                total.alias("adc_dist"), c["neighbor_id"].alias("neighbor_id")
            )

        shortlist = gathered.select(
            "query_id",
            F.explode(
                F.slice(F.array_sort(F.transform("cands", _adc)), 1, shortlist_n)
            ).alias("sl"),
        ).select("query_id", F.col("sl.neighbor_id").alias("neighbor_id"))
    if n_home > 1:
        # spilled copies can shortlist the same pair from up to n_home
        # shared cells — dedup the (bounded) shortlist before the rerank
        shortlist = shortlist.dropDuplicates(["query_id", "neighbor_id"])
    # exact rerank through the Arrow dot kernel (r14): the joins stay
    # broadcast-shaped; only the interpreted per-row fold is replaced
    reranked = _dot_rows_kernel(
        shortlist.join(qv, "query_id").join(nv, "neighbor_id").select(
            "query_id", "neighbor_id", "qv", "nv"
        ),
        "qv",
        "nv",
        "cos_sim",
    )
    wk = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        reranked.withColumn("rank", F.row_number().over(wk))
        .where(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", F.col("rank").cast("int").alias("rank"), "cos_sim"
        )
    )


def _pq_all_distances(
    vectors: DataFrame,
    sub_codebook: DataFrame,
    m: int,
    sub_dim: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(vec, subspace, code) → L2² distance for EVERY codebook entry —
    serves both as the PQ assignment input (argmin per subspace) and the
    query-side ADC lookup table. `sub_codebook` is (s, code, csub)."""
    subs = _subvectors(vectors, m, sub_dim, id_col, vec_col)
    cb = F.broadcast(sub_codebook)
    return subs.join(cb, "s").select(
        id_col, "s", "code", _l2sq(F.col("sub"), F.col("csub")).alias("d2")
    )


def quantize_embeddings(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_vec: bool = False,
) -> DataFrame:
    """Per-vector symmetric int8 quantization — the 4× embedding-storage
    cut a 100 TB vector corpus wants: scale = max|v|/127,
    q[i] = round(v[i]/scale) ∈ [-127, 127]. Deterministic (double divide +
    round-half-away-from-zero, identical in Spark and DuckDB), so
    quantization is oracle-replayable; search re-ranks on the dequantized
    image q[i]·scale."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    scale = F.array_max(F.transform(v, lambda x: F.abs(x))) / F.lit(127.0)
    cols = [c for c in vectors.columns if c != id_col] if keep_vec else []
    return vectors.select(
        F.col(id_col),
        *cols,
        scale.alias("q_scale"),
        F.transform(v, lambda x: F.round(x / scale).cast("int")).alias("q"),
    )


def dequantize(q: Column, scale: Column) -> Column:
    return F.transform(q, lambda x: x.cast("double") * scale)


def lsh_topk(
    vectors: DataFrame,
    dim: int,
    k: int = 3,
    bits: int = 8,
    tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: exact cosine ranking within sign buckets, with
    OR-amplification across `tables` independent hash tables (standard LSH
    recall boost: P[candidate] = 1 − (1 − p^bits)^tables).

    Plan shape: each vector emits `tables` (table, bucket) keys — a single
    explode + equi-join on (table, bucket), then per-query dedup + window
    top-k. No cross join anywhere; candidate volume is controlled by
    (bits, tables)."""
    keys = F.array(
        *[
            F.struct(
                F.lit(t).alias("tbl"),
                lsh_bucket(F.col(vec_col), dim, bits, table=t).alias("bucket"),
            )
            for t in range(tables)
        ]
    )
    v = vectors.select(F.col(id_col), F.col(vec_col), F.explode(keys).alias("k")).select(
        id_col, vec_col, F.col("k.tbl").alias("tbl"), F.col("k.bucket").alias("bucket")
    )
    a = v.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"), "tbl", "bucket")
    b = v.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"), "tbl", "bucket")
    cand = (
        a.join(b, ["tbl", "bucket"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "qv", "cv")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cand.select(
        "query_id", "neighbor_id", cosine(F.col("qv"), F.col("cv")).alias("cos_sim")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("int").alias("rank"), "cos_sim")
    )


def auto_n_cells_occupancy(
    vectors: DataFrame, target_cell_size: int = 64, n_rows: int | None = None
) -> int:
    """Constant-occupancy cell count: n_cells = ceil(N / target), min 16.
    With cell occupancy pinned at ~target, in-cell pair volume is
    ~N·target/2 — LINEAR in N — unlike the √N sizing (`auto_n_cells`)
    whose N²/√N = N^1.5 pair volume is superlinear (measured blowing up
    at 10× in SCALING.md's scale-probe table). This is the published
    SemDeDup discipline: k grows with the corpus, cluster size does not.
    Exactly matches the SQL replay
    `greatest(16, CAST(ceil(CAST(count(*) AS DOUBLE) / target) AS INT))`."""
    import math

    n = vectors.count() if n_rows is None else n_rows
    return max(16, int(math.ceil(float(n) / float(target_cell_size))))


def semantic_cells(
    vectors: DataFrame,
    n_cells: int | None = None,
    target_cell_size: int = 64,
    split_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pick: str = "auto",
) -> DataFrame:
    """Cell assignment for `semantic_dedup`, exposed so tests can measure
    candidate volume directly: (id, vec, nrm, cell_id, sub_id).

    Two scale guarantees:
    1. Constant occupancy — `n_cells=None` sizes cells at ~target_cell_size
       vectors each (`auto_n_cells_occupancy`), so expected in-cell pairs
       are ~N·target/2, linear in N.
    2. Bounded worst case — a skewed cell that still collects more than
       split_factor·target vectors is split into ceil(cnt/target)
       sub-cells by an md5 sub-hash of the id, capping any single cell's
       pair volume at ~(split_factor·target)²/2 regardless of skew.
       Recall trade (documented): τ-similar mates landing in different
       sub-cells of an oversized cell are missed; sub-splitting only
       triggers past the split threshold, never for well-sized cells.
    The sub-hash is the engine-portable md5 prefix (same convention as the
    sampling/CMS queries), so the oracle replays it verbatim.

    `pick` ('auto'/'exact'/'threshold', see `pick_centroids`): past the
    survivor-collect cap the default pick is the fully-distributed
    threshold pick — no driver-side vector collect anywhere on the
    extreme-N path (round-7 verdict Next #1)."""
    n_rows, dim = corpus_stats(vectors, vec_col)
    if n_cells is None:
        n_cells = auto_n_cells_occupancy(vectors, target_cell_size, n_rows=n_rows)
    cents = pick_centroids(
        vectors, n_cells, id_col, vec_col, dim=dim, mode=pick, n_rows=n_rows
    )
    # lineage-cut only for the distributed threshold pick (see ivf_topk)
    if not pick_is_local(pick, n_cells, dim):
        cents = cents.transform(_materialize)
    # constant occupancy means n_cells ∝ N — past the literal-codebook cap
    # the flat path would degrade to the crossJoin fallback (N·n_cells
    # pairs; measured 6.5× slower at 80k vectors, SCALING.md). Route to
    # the coarse-to-fine assignment there. Below the cap (every oracle-
    # gated SF) the flat branch runs, so the SQL replay stays valid;
    # past it the assignment is the high-recall bounded-probe
    # approximation — a documented trade alongside the sub-split's.
    if n_cells * dim <= _IVF_LITERAL_MAX_DOUBLES:
        homed = ivf_assign(vectors, cents, 1, id_col, vec_col, n_cells=n_cells, dim=dim)
    else:
        homed = ivf_assign_two_level(
            vectors, cents, super_probe=4, id_col=id_col, vec_col=vec_col,
            n_cells=n_cells, dim=dim,
        )
    assigned = (
        homed.withColumn("nrm", F.sqrt(_dot(F.col(vec_col), F.col(vec_col))))
        .transform(_materialize)
    )
    # per-cell occupancy: n_cells rows (KB control plane) — AQE broadcasts
    counts = assigned.groupBy("cell_id").agg(F.count(F.lit(1)).alias("__cnt"))
    sub_hash = F.conv(
        F.substring(F.md5(F.concat(F.lit("sub|"), F.col(id_col).cast("string"))), 1, 8),
        16,
        10,
    ).cast("long")
    n_sub = F.ceil(F.col("__cnt").cast("double") / F.lit(float(target_cell_size))).cast(
        "long"
    )
    return (
        assigned.join(counts, "cell_id")
        .withColumn(
            "sub_id",
            F.when(F.col("__cnt") > split_factor * target_cell_size, sub_hash % n_sub)
            .otherwise(F.lit(0).cast("long")),
        )
        .drop("__cnt")
    )


def semantic_dedup(
    vectors: DataFrame,
    n_cells: int | None = None,
    tau: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target_cell_size: int = 64,
    split_factor: int = 4,
    pick: str = "auto",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al., 2023, public):
    cluster the embedding space coarsely, then inside each cluster drop
    every vector that is cosine-≥-tau similar to a lower-id clustermate —
    the keep-lowest-id rule makes the survivor set deterministic without a
    connected-components pass. Returns the DROP list:
    (vec_id, cell_id, keeper_id = smallest matching lower id).

    Scale shape: centroids are the deterministic md5-prefix pick,
    assignment is the literal-codebook projection (`ivf_assign`, no
    shuffle), and the pair search is an equi-join on (cell_id, sub_id)
    with CONSTANT ~target_cell_size occupancy (`semantic_cells`) —
    candidate volume ~N·target/2, linear in N, with skewed cells
    sub-split so no single cell exceeds ~(split_factor·target)² pairs.
    (The pre-r7 √N sizing gave ~N^1.5 pairs — measured superlinear in
    SCALING.md's probe table; pass an explicit `n_cells` to reproduce.)
    The within-cell compare reuses the precomputed norms, so each pair
    costs one fold. Deterministic end-to-end (same contract as `ivf_topk`)
    → SQL-replayable. At extreme N the n_cells∝N literal codebook itself
    outgrows the task closure; `ivf_assign_two_level` is the scale path
    there (√n_cells super-centroids, bounded per-vector probes —
    exhaustive-probe equality and clustered-data recall pytest-pinned,
    oracle-replayed by `ann_two_level_assign`)."""
    assigned = semantic_cells(
        vectors, n_cells, target_cell_size, split_factor, id_col, vec_col, pick
    )
    keep = assigned.select(
        "cell_id",
        "sub_id",
        F.col(id_col).alias("keeper_id"),
        F.col(vec_col).alias("kv"),
        F.col("nrm").alias("kn"),
    )
    cand = assigned.select("cell_id", "sub_id", id_col, vec_col, "nrm")
    pairs = (
        keep.join(cand, ["cell_id", "sub_id"])
        .where(F.col("keeper_id") < F.col(id_col))
        .where(
            _dot(F.col("kv"), F.col(vec_col)) / (F.col("kn") * F.col("nrm")) >= F.lit(tau)
        )
    )
    return pairs.groupBy(id_col, "cell_id").agg(F.min("keeper_id").alias("keeper_id"))
