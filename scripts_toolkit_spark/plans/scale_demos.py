"""Cluster-operator toolkit: the pre-flight diagnostics and layout levers a
100 TB Spark operator runs BEFORE paying for a big shuffle — key-skew
profiling, join-cardinality probing without executing the join, token-budget
corpus selection via a distributed prefix sum, and z-order layout
effectiveness measurement. The reference has no counterpart (these are
engine-operations extensions, like the sketch/sampling families).

Cross-engine determinism (README design rule #6): every expression here is
integer/bit arithmetic or an md5-derived key — `length(bin(x))-1` instead of
`floor(log2(x))` (libm-free bucket), explicit casts around DuckDB's
SUM→HUGEINT widening, 6-dp rounding on the only divisions (shares and span
fractions).

Scale shapes:
- `join_key_skew_report` — ONE hash-agg per key, then a bucket roll-up of
  the |keys|-sized degree frames; per-key totals attach by equi-join on the
  3-row key frame.
- `join_size_probe` — degree tables on both join legs, equi-joined on the
  key and summed: the EXACT join output size for the price of |keys| rows —
  the join itself is never materialized.
- `token_budget_sample` — distributed prefix sum: md5-priority order, 256
  uniform hash-prefix buckets; within-bucket running sums window on the
  bucket key (N/256 rows per task), bucket OFFSETS come from a 256-row
  aggregate whose global window is bounded by the bucket fanout, not by N.
- `zorder_layout_stats` — bit-interleaved (user, day) key cut into 256
  contiguous z-ranges vs a hash layout; per-"file" min/max spans measure
  data-skipping effectiveness, the dominant 100 TB scan lever.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from scripts_toolkit_spark.io.catalog import load_table

_TOKEN_BUDGET = 12_000  # strict subset at sf0.001 (27.9k total) and above
_Z_BITS = 8  # 8+8-bit interleave -> 16-bit z-key, 256 z-range "files"


def join_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-degree skew profile for the engine's three hottest shuffle keys
    (events.user_id, lineitem.l_orderkey, orders.o_custkey): one hash
    aggregate per key computes degrees, then degrees roll up into
    power-of-two buckets (`length(bin(d))-1` = floor(log2 d), libm-free).
    `row_share` tells the operator which (key, bucket) a salted-join / AQE
    skew split must target before running the real join. Per-key totals
    attach by equi-join on the 3-row key frame — no scalar cross join."""

    def degrees(table: str, col: str) -> DataFrame:
        df = load_table(spark, sf_dir, table).select(F.col(col).alias("k"))
        return df.groupBy("k").agg(F.count(F.lit(1)).alias("degree")).select(
            F.lit(f"{table}.{col}").alias("key"), "degree"
        )

    deg = (
        degrees("events", "user_id")
        .unionByName(degrees("lineitem", "l_orderkey"))
        .unionByName(degrees("orders", "o_custkey"))
    )
    bucket = (F.length(F.conv(F.col("degree").cast("string"), 10, 2)) - 1).cast("int")
    hist = deg.groupBy("key", bucket.alias("degree_bucket")).agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("degree").cast("bigint").alias("n_rows"),
        F.max("degree").cast("bigint").alias("max_degree"),
    )
    totals = deg.groupBy("key").agg(F.sum("degree").cast("double").alias("__total"))
    return hist.join(totals, "key").select(
        "key",
        "degree_bucket",
        "n_keys",
        "n_rows",
        "max_degree",
        F.round(F.col("n_rows") / F.col("__total"), 6).alias("row_share"),
    )


JOIN_KEY_SKEW_REPORT_SQL = """
WITH deg AS (
  SELECT 'events.user_id' AS key, COUNT(*) AS degree
  FROM events GROUP BY user_id
  UNION ALL
  SELECT 'lineitem.l_orderkey' AS key, COUNT(*) AS degree
  FROM lineitem GROUP BY l_orderkey
  UNION ALL
  SELECT 'orders.o_custkey' AS key, COUNT(*) AS degree
  FROM orders GROUP BY o_custkey
),
hist AS (
  SELECT key, CAST(length(bin(degree)) - 1 AS INT) AS degree_bucket,
         COUNT(*) AS n_keys,
         CAST(SUM(degree) AS BIGINT) AS n_rows,
         CAST(MAX(degree) AS BIGINT) AS max_degree
  FROM deg GROUP BY 1, 2
),
tot AS (SELECT key, CAST(SUM(degree) AS DOUBLE) AS total FROM deg GROUP BY key)
SELECT key, degree_bucket, n_keys, n_rows, max_degree,
       round(n_rows / total, 6) AS row_share
FROM hist JOIN tot USING (key)
"""


# Strategy-decision thresholds (documented proxies for the Spark configs a
# 100 TB operator would tune): _BC_MAX_ROWS ≈ autoBroadcastJoinThreshold
# (10 MB at ~100 B/row); _SKEW_FACTOR mirrors
# spark.sql.adaptive.skewJoin.skewedPartitionFactor (a key is skewed when
# its output exceeds FACTOR × the mean per-key output); _SKEW_MIN_ROWS
# mirrors skewedPartitionThresholdInBytes (tiny joins never flag).
_BC_MAX_ROWS = 100_000
_SKEW_FACTOR = 5
_SKEW_MIN_ROWS = 10_000


def join_probe_decision(dl: DataFrame, do: DataFrame) -> DataFrame:
    """The join-strategy decision a 100 TB operator needs BEFORE the
    shuffle, derived entirely from the two key-degree frames (round-7
    verdict Next #6 — the probe now emits the recommendation, not just
    the price): `dl` is (k, d_l), `do` is (k, d_o).

    - `broadcast` when the smaller side's total rows fit the broadcast
      budget (_BC_MAX_ROWS);
    - `salted_smj` when the heaviest key's output exceeds _SKEW_FACTOR ×
      the mean per-key output AND the _SKEW_MIN_ROWS floor — the
      integer-exact form max_key_rows·matching_keys > FACTOR·est_join_rows
      avoids a division (bit-identical in any engine);
    - `smj` otherwise (plain shuffled sort-merge).

    All inputs are |keys|-sized aggregates; the only non-integer output is
    `max_key_share`, rounded to 6 dp (README design rule #6)."""
    # disjoint key sets ⇒ the agg runs over an EMPTY join: SUM/MAX yield
    # NULL — coalesce to 0 so the probe reports zero output, not NULLs
    matched = dl.join(do, "k").agg(
        F.coalesce(F.sum(F.col("d_l") * F.col("d_o")), F.lit(0))
        .cast("bigint")
        .alias("est_join_rows"),
        F.count(F.lit(1)).alias("matching_keys"),
        F.coalesce(F.max(F.col("d_l") * F.col("d_o")), F.lit(0))
        .cast("bigint")
        .alias("max_key_rows"),
    )
    lk = do.agg(
        F.count(F.lit(1)).alias("left_keys"),
        F.sum("d_o").cast("bigint").alias("left_rows"),
    )
    rk = dl.agg(
        F.count(F.lit(1)).alias("right_keys"),
        F.sum("d_l").cast("bigint").alias("right_rows"),
    )
    skewed = (F.col("max_key_rows") > F.lit(_SKEW_MIN_ROWS)) & (
        F.col("max_key_rows") * F.col("matching_keys")
        > F.lit(_SKEW_FACTOR) * F.col("est_join_rows")
    )
    return (
        matched.crossJoin(lk)
        .crossJoin(rk)
        .select(
            "est_join_rows",
            "matching_keys",
            "max_key_rows",
            "left_keys",
            "right_keys",
            "left_rows",
            "right_rows",
            F.when(
                F.col("est_join_rows") > 0,
                F.round(
                    F.col("max_key_rows") / F.col("est_join_rows").cast("double"), 6
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("max_key_share"),
            F.when(
                F.least("left_rows", "right_rows") <= F.lit(_BC_MAX_ROWS), "broadcast"
            )
            .when(skewed, "salted_smj")
            .otherwise("smj")
            .alias("recommendation"),
        )
    )


def join_size_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality pre-flight for orders ⋈ lineitem on orderkey:
    |A ⋈ B| = Σ_k dA(k)·dB(k) over the key-degree tables — the EXACT output
    size (and the heaviest key's contribution) computed from |keys| rows,
    without ever materializing the join — plus the derived strategy
    RECOMMENDATION (broadcast / smj / salted_smj, `join_probe_decision`).
    At 100 TB this is the cheap probe that decides shuffle partitioning /
    skew mitigation for the real join. One-row × one-row scalar attaches
    carry the per-side key/row counts. (The demo itself flips across SFs:
    orders fits the broadcast budget below sf0.1.)"""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    od = load_table(spark, sf_dir, "orders").select("o_orderkey")
    dl = li.groupBy(F.col("l_orderkey").alias("k")).agg(F.count(F.lit(1)).alias("d_l"))
    do = od.groupBy(F.col("o_orderkey").alias("k")).agg(F.count(F.lit(1)).alias("d_o"))
    return join_probe_decision(dl, do)


JOIN_SIZE_PROBE_SQL = f"""
WITH dl AS (SELECT l_orderkey AS k, COUNT(*) AS d_l FROM lineitem GROUP BY l_orderkey),
dom AS (SELECT o_orderkey AS k, COUNT(*) AS d_o FROM orders GROUP BY o_orderkey),
m AS (
  SELECT CAST(COALESCE(SUM(d_l * d_o), 0) AS BIGINT) AS est_join_rows,
         COUNT(*) AS matching_keys,
         CAST(COALESCE(MAX(d_l * d_o), 0) AS BIGINT) AS max_key_rows
  FROM dl JOIN dom USING (k)
),
lk AS (SELECT COUNT(*) AS left_keys, CAST(SUM(d_o) AS BIGINT) AS left_rows FROM dom),
rk AS (SELECT COUNT(*) AS right_keys, CAST(SUM(d_l) AS BIGINT) AS right_rows FROM dl)
SELECT est_join_rows, matching_keys, max_key_rows, left_keys, right_keys,
       left_rows, right_rows,
       CASE WHEN est_join_rows > 0
            THEN round(max_key_rows / CAST(est_join_rows AS DOUBLE), 6)
            ELSE 0.0 END AS max_key_share,
       CASE WHEN least(left_rows, right_rows) <= {_BC_MAX_ROWS} THEN 'broadcast'
            WHEN max_key_rows > {_SKEW_MIN_ROWS}
                 AND max_key_rows * matching_keys > {_SKEW_FACTOR} * est_join_rows
              THEN 'salted_smj'
            ELSE 'smj' END AS recommendation
FROM m CROSS JOIN lk CROSS JOIN rk
"""


def token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible token-budget corpus selection (take documents in
    md5-priority order until the running token count reaches the budget) as
    a DISTRIBUTED PREFIX SUM: a bare `SUM OVER (ORDER BY ...)` serializes
    100 TB through one task, so documents bucket by the first two hex chars
    of their md5 priority (256 uniform buckets that PREFIX the sort order),
    the running sum windows per bucket (N/256 rows per task), and each
    bucket's starting offset comes from a 256-row per-bucket total frame —
    its global window is bounded by the bucket fanout, never by N. The
    equi-join attaching offsets back is KB-scale (AQE broadcasts it).
    Identical to the single-window plan for any input distribution."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
        F.md5(F.col("doc_id").cast("string")).alias("pri"),
    )
    d = d.withColumn("bucket", F.substring("pri", 1, 2))
    win = (
        Window.partitionBy("bucket")
        .orderBy("pri", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    within = F.coalesce(F.sum("n_tokens").over(win), F.lit(0))
    # lit(0) partition: intentional single-partition window over the
    # 256-row bucket-totals frame (bounded by the 2-hex-char fanout) —
    # records intent instead of tripping the "No Partition Defined"
    # warning; the plan lint still counts all-literal specs as
    # partition-less, so this query stays in its reviewed allowlist.
    woff = (
        Window.partitionBy(F.lit(0))
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        d.groupBy("bucket")
        .agg(F.sum("n_tokens").alias("btok"))
        .select("bucket", F.coalesce(F.sum("btok").over(woff), F.lit(0)).alias("boff"))
    )
    return (
        d.withColumn("__within", within)
        .join(offsets, "bucket")
        .select(
            "doc_id",
            "n_tokens",
            (F.col("boff") + F.col("__within")).cast("bigint").alias("cum_before"),
        )
        .where(F.col("cum_before") < _TOKEN_BUDGET)
    )


TOKEN_BUDGET_SAMPLE_SQL = f"""
WITH d AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         md5(CAST(doc_id AS VARCHAR)) AS pri
  FROM documents
),
c AS (
  SELECT doc_id, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (
           ORDER BY pri, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS cum_before
  FROM d
)
SELECT doc_id, n_tokens, cum_before FROM c WHERE cum_before < {_TOKEN_BUDGET}
"""


def _zkey(ub: Column, db: Column) -> Column:
    """16-bit Morton (z-order) interleave of two 8-bit dimensions — pure
    shift/mask arithmetic, bit-identical in Spark and DuckDB."""
    key = F.lit(0)
    for i in range(_Z_BITS):
        key = key + F.shiftleft(F.shiftright(ub, i).bitwiseAND(F.lit(1)), 2 * i)
        key = key + F.shiftleft(F.shiftright(db, i).bitwiseAND(F.lit(1)), 2 * i + 1)
    return key


def zorder_layout_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-skipping effectiveness of a z-order layout vs a hash layout:
    events map to an 8-bit (user, day) grid, the z-key's top byte cuts the
    table into 256 contiguous z-range "files", and per-file min/max spans of
    EACH dimension measure what fraction of files a point scan must read —
    the `span_frac` a min/max-pruning reader (parquet row groups) would
    touch. The hash layout (event_id % 256) is the no-clustering baseline.
    Two grouped aggregates + a union of two 1-row roll-ups; no window."""
    # multiplicative spread (odd multipliers are bijective mod 256) fills
    # the 8-bit grid at every SF — raw user_id/dayofyear occupy a corner of
    # the grid at small SFs, which would understate the hash baseline's
    # spans; a real z-order writer buckets arbitrary columns the same way.
    ev = load_table(spark, sf_dir, "events").select(
        ((F.col("user_id") * 37) % 256).cast("int").alias("ub"),
        ((F.dayofyear("ts") * 59) % 256).cast("int").alias("db"),
        (F.col("event_id") % 256).cast("int").alias("hash_bucket"),
    )
    ev = ev.withColumn("z_bucket", F.shiftright(_zkey(F.col("ub"), F.col("db")), _Z_BITS))

    def spans(bucket_col: str, layout: str) -> DataFrame:
        per_file = ev.groupBy(bucket_col).agg(
            F.min("ub").alias("min_ub"),
            F.max("ub").alias("max_ub"),
            F.min("db").alias("min_db"),
            F.max("db").alias("max_db"),
        )
        return per_file.agg(
            F.lit(layout).alias("layout"),
            F.count(F.lit(1)).alias("n_files"),
            F.round(F.avg((F.col("max_ub") - F.col("min_ub") + 1) / F.lit(256.0)), 6).alias(
                "user_span_frac"
            ),
            F.round(F.avg((F.col("max_db") - F.col("min_db") + 1) / F.lit(256.0)), 6).alias(
                "day_span_frac"
            ),
        )

    return spans("z_bucket", "zorder").unionByName(spans("hash_bucket", "hash"))


_Z_TERMS = " + ".join(
    f"(((ub >> {i}) & 1) << {2 * i}) + (((db >> {i}) & 1) << {2 * i + 1})"
    for i in range(_Z_BITS)
)

ZORDER_LAYOUT_STATS_SQL = f"""
WITH ev AS (
  SELECT CAST((user_id * 37) % 256 AS INT) AS ub,
         CAST((dayofyear(ts) * 59) % 256 AS INT) AS db,
         CAST(event_id % 256 AS INT) AS hash_bucket
  FROM events
),
z AS (SELECT *, ({_Z_TERMS}) >> {_Z_BITS} AS z_bucket FROM ev),
zf AS (
  SELECT z_bucket, MIN(ub) AS min_ub, MAX(ub) AS max_ub,
         MIN(db) AS min_db, MAX(db) AS max_db
  FROM z GROUP BY z_bucket
),
hf AS (
  SELECT hash_bucket, MIN(ub) AS min_ub, MAX(ub) AS max_ub,
         MIN(db) AS min_db, MAX(db) AS max_db
  FROM z GROUP BY hash_bucket
)
SELECT 'zorder' AS layout, COUNT(*) AS n_files,
       round(AVG((max_ub - min_ub + 1) / 256.0), 6) AS user_span_frac,
       round(AVG((max_db - min_db + 1) / 256.0), 6) AS day_span_frac
FROM zf
UNION ALL
SELECT 'hash' AS layout, COUNT(*) AS n_files,
       round(AVG((max_ub - min_ub + 1) / 256.0), 6) AS user_span_frac,
       round(AVG((max_db - min_db + 1) / 256.0), 6) AS day_span_frac
FROM hf
"""


# Bloom semijoin-reduction parameters: 16384 words (128 KB bitmap), k=3
# md5-derived hash functions — sized for the LARGEST test SF's build side
# (~30k urgent-order keys at sf0.1 → load 3n/m ≈ 0.09, FP ≈ (1−e^−0.09)³
# ≈ 6e−4), the sizing decision a real operator makes from expectedItems.
# An 8 KB bitmap measurably saturates at sf0.1 (42% FP — measured before
# this sizing). Because every hash is md5 arithmetic, the EXACT candidate
# set (true matches + the specific false positives) is deterministic and
# replayed by the oracle, not just the final join result.
_BLOOM_WORDS = 16384
# 63 usable bits per word: bit index 62 is the ceiling, so `1 << bit`
# never touches the BIGINT sign bit (DuckDB raises on 1<<63; Spark wraps —
# sidestepping the divergence entirely beats relying on either behavior).
_BLOOM_BITS = 63 * _BLOOM_WORDS
_BLOOM_K = 3


def bloom_semijoin_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime Bloom-filter semijoin reduction — the pre-shuffle fact-table
    prune a 100 TB join lives on: the build side (urgent orders) folds its
    keys into a 128 KB bitmap (explode k=3 hash positions → bit_or per
    word — a |keys|-row aggregate), the bitmap rides to every probe task
    as a one-row map (BNLJ one-row scalar attach, reviewed), and lineitem
    rows drop MAP-SIDE unless all k bits hit — only candidates reach the
    join shuffle. Bloom filters have no false negatives, so the join
    result is exact; the report makes the economics visible: probe rows
    vs candidates kept (the shuffle saved) vs true matches (the false
    positives paid). Spark's own runtime row-level filtering does this
    adaptively; here it is explicit, md5-deterministic, and the oracle
    replays the bitmap bit-for-bit — false positives included.

    Scale shape: one |keys|-row agg (KB bitmap), one round-robin
    exchange of the three probe columns (spreads the 3×md5 probe over
    every core), one probe pass after it, then the real equi-join over
    the ~20% survivors (AQE picks the strategy; no forced broadcast —
    orders is SF-linear)."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    build = orders.where(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey")

    js = F.explode(F.array(*[F.lit(j) for j in range(_BLOOM_K)])).alias("j")
    pos = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("bl"), F.col("j"), F.lit("|"), F.col("o_orderkey").cast("string"))),
            1, 8,
        ),
        16, 10,
    ).cast("long") % F.lit(_BLOOM_BITS)
    contrib = (
        build.select("o_orderkey", js)
        .select(pos.alias("__pos"))
        .select(
            F.expr("__pos div 63").alias("word_idx"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(pmod(__pos, 63) AS INT))"
            ).alias("mask"),
        )
    )
    words = contrib.groupBy("word_idx").agg(F.bit_or("mask").alias("word"))
    # DENSE positional array, not a map: Catalyst MapData has no hash
    # index — element_at on a 16k-entry map is a per-row LINEAR scan
    # (measured: 20 s at sf0.1 vs ~2 s with the array). Densify with a
    # W-row left join (distributed, one-time), then probe lookups are
    # O(1) positional reads.
    dense = (
        spark.range(_BLOOM_WORDS)
        .select(F.col("id").alias("word_idx"))
        .join(words, "word_idx", "left")
        .select("word_idx", F.coalesce("word", F.lit(0)).alias("word"))
    )
    bloom = dense.agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("word_idx", "word"))),
            lambda x: x["word"],
        ).alias("bloom")
    )  # one row, 128 KB — the scalar that rides to every probe task

    # The probe's 3×md5 per row is the query's dominant compute, and it
    # lands on the scan's input splits (sf0.1: 3 parquet splits → 3 tasks
    # while 29 cores idle; guide §2.5 input skew, r14 verdict Next #7).
    # One narrow round-robin shuffle (3 columns, ~14 MB at sf0.1) spreads
    # the hash work cluster-wide BEFORE the bitmap attach. On a real
    # cluster the scan is already many-split, so the repartition is
    # parallelism-neutral there and the cost stays one narrow exchange.
    probe = (
        li.select("l_orderkey", "l_extendedprice", "l_discount")
        .repartition(spark.sparkContext.defaultParallelism)
        .crossJoin(bloom)
    )
    ok = None
    for j in range(_BLOOM_K):
        idx1 = F.expr(
            f"CAST((conv(substring(md5(concat('bl{j}|', CAST(l_orderkey AS STRING))), "
            f"1, 8), 16, 10) % {_BLOOM_BITS}) div 63 + 1 AS INT)"
        )
        hit = (
            F.element_at("bloom", idx1)
            .bitwiseAND(F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(pmod(conv(substring(md5(concat('bl{j}|', CAST(l_orderkey AS STRING))), 1, 8), 16, 10) % {_BLOOM_BITS}, 63) AS INT))"))
            != F.lit(0)
        )
        ok = hit if ok is None else (ok & hit)
    # ONE probe pass: survivors LEFT-join the build keys (o_orderkey is
    # unique on the build side, so candidate rows are preserved 1:1) and
    # one aggregate derives candidates, matches and revenue together — no
    # second bloom evaluation, no checkpoint of the pruned fact (at 100 TB
    # a boundary here would write the 20% survivor set to executor disk;
    # the extra n_probe leg below prunes to ZERO columns, a parquet
    # row-count metadata scan).
    survivors = probe.where(ok)
    dec = lambda c: F.col(c).cast("decimal(12,2)")  # noqa: E731
    stats = (
        survivors.join(build, F.col("l_orderkey") == F.col("o_orderkey"), "left")
        .agg(
            F.count(F.lit(1)).alias("n_candidates"),
            F.count("o_orderkey").alias("n_matched"),
            F.sum(
                F.when(
                    F.col("o_orderkey").isNotNull(),
                    dec("l_extendedprice")
                    * (F.lit(1).cast("decimal(12,2)") - dec("l_discount")),
                )
            )
            .cast("double")
            .alias("urgent_revenue"),
        )
    )
    n_probe = li.agg(F.count(F.lit(1)).alias("n_probe"))
    return (
        n_probe.crossJoin(stats)
        .select(
            "n_probe",
            "n_candidates",
            "n_matched",
            (F.col("n_candidates") - F.col("n_matched")).alias("n_false_positive"),
            F.round(F.col("n_candidates") / F.col("n_probe"), 6).alias("kept_rate"),
            "urgent_revenue",
        )
    )


BLOOM_SEMIJOIN_PRUNE_SQL = f"""
WITH build AS (
  SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
),
contrib AS (
  SELECT
    CAST(('0x' || substr(md5('bl' || CAST(j AS VARCHAR) || '|' || CAST(o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT)
      % {_BLOOM_BITS} AS pos
  FROM build CROSS JOIN (SELECT unnest([0, 1, 2]) AS j)
),
words AS (
  SELECT pos // 63 AS word_idx, bit_or(CAST(1 AS BIGINT) << CAST(pos % 63 AS INT)) AS word
  FROM contrib GROUP BY pos // 63
),
probe AS (
  SELECT l_orderkey, l_extendedprice, l_discount,
    CAST(('0x' || substr(md5('bl0|' || CAST(l_orderkey AS VARCHAR)), 1, 8)) AS BIGINT) % {_BLOOM_BITS} AS p0,
    CAST(('0x' || substr(md5('bl1|' || CAST(l_orderkey AS VARCHAR)), 1, 8)) AS BIGINT) % {_BLOOM_BITS} AS p1,
    CAST(('0x' || substr(md5('bl2|' || CAST(l_orderkey AS VARCHAR)), 1, 8)) AS BIGINT) % {_BLOOM_BITS} AS p2
  FROM lineitem
),
flagged AS (
  SELECT p.*,
    (COALESCE(w0.word, 0) & (CAST(1 AS BIGINT) << CAST(p0 % 63 AS INT))) != 0
    AND (COALESCE(w1.word, 0) & (CAST(1 AS BIGINT) << CAST(p1 % 63 AS INT))) != 0
    AND (COALESCE(w2.word, 0) & (CAST(1 AS BIGINT) << CAST(p2 % 63 AS INT))) != 0 AS cand
  FROM probe p
  LEFT JOIN words w0 ON w0.word_idx = p.p0 // 63
  LEFT JOIN words w1 ON w1.word_idx = p.p1 // 63
  LEFT JOIN words w2 ON w2.word_idx = p.p2 // 63
),
pass1 AS (
  SELECT COUNT(*) AS n_probe,
         CAST(SUM(CASE WHEN cand THEN 1 ELSE 0 END) AS BIGINT) AS n_candidates
  FROM flagged
),
matched AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_matched,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                  * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE)
           AS urgent_revenue
  FROM flagged f JOIN build b ON f.l_orderkey = b.o_orderkey
  WHERE f.cand
)
SELECT n_probe, n_candidates, n_matched,
       n_candidates - n_matched AS n_false_positive,
       round(n_candidates / CAST(n_probe AS DOUBLE), 6) AS kept_rate,
       urgent_revenue
FROM pass1 CROSS JOIN matched
"""


def incremental_bloom_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the streaming Bloom membership store
    (streaming/bloom_stream.py): urgent-order keys split into 3
    pseudo-batches on pmod(o_orderkey, 3) (non-nullable key — the r10
    advisor's null-safe-split rule), each batch folds to its ≤ W word
    partial, partials merge by bit_or — OR is associative + commutative +
    IDEMPOTENT, so the merged bitmap is bit-exact equal to the one-shot
    build and the pseudo-batching is invisible to the oracle. The probe
    then flags every urgent or high order key: urgent keys MUST probe
    true (no false negatives); high keys are true only on deterministic
    md5 false positives (≈2.6% at sf0.1, ~0 below — the bitmap is sized
    at ~8.6 bits/key for the largest SF).

    At 100 TB this is the streaming seen-before / decontamination
    primitive: store grows ≤ W rows per micro-batch, probes never touch
    history."""
    from scripts_toolkit_spark.streaming.bloom_stream import (
        _positions,
        word_partials,
    )

    orders = load_table(spark, sf_dir, "orders")
    build = orders.where(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey")
    partials = [
        word_partials(
            build.where(F.pmod(F.col("o_orderkey"), F.lit(3)) == F.lit(b)), "o_orderkey"
        )
        for b in range(3)
    ]
    merged = (
        partials[0]
        .unionByName(partials[1])
        .unionByName(partials[2])
        .groupBy("word_idx")
        .agg(F.bit_or("word").alias("word"))
    )
    probe = orders.where(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    ).select("o_orderkey", "o_orderpriority")
    keyed = (
        probe.select("*", F.explode(_positions(F.col("o_orderkey"))).alias("p"))
        .select(
            "*",
            F.expr("p div 63").alias("word_idx"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pmod(p, 63) AS INT))").alias("m"),
        )
        .drop("p")
    )
    hit = (F.coalesce(F.col("word"), F.lit(0)).bitwiseAND(F.col("m")) != F.lit(0)).cast("int")
    return (
        keyed.join(merged, "word_idx", "left")
        .select("o_orderkey", "o_orderpriority", hit.alias("__hit"))
        .groupBy("o_orderkey", "o_orderpriority")
        .agg((F.min("__hit") == F.lit(1)).alias("bloom_member"))
    )


# One-shot oracle: OR-idempotence makes the pseudo-batch split invisible,
# so the SQL builds the bitmap in a single pass. Word layout identical to
# the streaming store: k=3 'bl{j}|' md5 seeds, 63 usable bits per word.
_BSTREAM_BITS = 63 * 4096
INCREMENTAL_BLOOM_MEMBERS_SQL = f"""
WITH build AS (
  SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
),
contrib AS (
  SELECT
    CAST(('0x' || substr(md5('bl' || CAST(j AS VARCHAR) || '|' || CAST(o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT)
      % {_BSTREAM_BITS} AS pos
  FROM build CROSS JOIN (SELECT unnest([0, 1, 2]) AS j)
),
words AS (
  SELECT pos // 63 AS word_idx,
         bit_or(CAST(1 AS BIGINT) << CAST(pos % 63 AS INT)) AS word
  FROM contrib GROUP BY pos // 63
),
probe AS (
  SELECT o_orderkey, o_orderpriority,
    CAST(('0x' || substr(md5('bl' || CAST(j AS VARCHAR) || '|' || CAST(o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT)
      % {_BSTREAM_BITS} AS pos
  FROM orders CROSS JOIN (SELECT unnest([0, 1, 2]) AS j)
  WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
)
SELECT p.o_orderkey, p.o_orderpriority,
  bool_and((COALESCE(w.word, 0) & (CAST(1 AS BIGINT) << CAST(p.pos % 63 AS INT))) != 0)
    AS bloom_member
FROM probe p LEFT JOIN words w ON w.word_idx = p.pos // 63
GROUP BY p.o_orderkey, p.o_orderpriority
"""
