"""Attribution probe for the RESIDUAL store's serving leg (r13 — round-12
verdict Next #4: store_split showed residual serving at 6.9 s vs 0.37 s
plain; decompose the search wall into its stages before trimming).

Builds the exact ann_index_residual store configuration once (n_home=2,
residual, seeded 64-code book), then times CUMULATIVE prefixes of the
search pipeline with noop sinks (warm, min of 3):

  assign     — two consumers' shared probe assignment (ivf_assign)
  lut        — + per-(query, probed-cell) residual LUT kernel + materialize
  shortlist  — + cell gather, qlut join, ADC array sort, explode
  full       — + pair dedup, raw-vector rerank joins, per-query top-k

Run exclusively (no parallel pytest/bench — CLAUDE.md contention rule).
"""
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from scripts_toolkit_spark.ext import ann_index as ANN  # noqa: E402
from scripts_toolkit_spark.ext.similarity import attach_pq_lut, ivf_assign  # noqa: E402
from scripts_toolkit_spark.io.catalog import load_table  # noqa: E402
from scripts_toolkit_spark.materialize import materialize as _materialize  # noqa: E402
from scripts_toolkit_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
K, N_PROBE, RERANK = 3, 4, 16


def _noop(df):
    df.write.mode("overwrite").format("noop").save()


def timed(fn, repeat=3):
    runs = []
    for _ in range(repeat):
        t0 = time.time()
        fn()
        runs.append(time.time() - t0)
    return round(min(runs), 3)


def main():
    spark = get_spark("probe-residual")
    emb = load_table(spark, SF_DIR, "embeddings")
    base = emb.where(F.col("vec_id") % 5 != 0)
    late = emb.where(F.col("vec_id") % 5 == 0)
    path = "/tmp/probe_residual_store/" + spark.sparkContext.applicationId
    shutil.rmtree(path, ignore_errors=True)
    ANN.build_ann_index(base, path, n_home=2, residual=True, pq_n_codes=64, m=4, sub_dim=16)
    ANN.append_to_index(spark, path, late)

    # replicate search_index(use_pq=True) stage by stage
    cents = spark.read.parquet(path + "/centroids")
    store = spark.read.parquet(path + "/vectors")
    n_home, _res = ANN._meta_n_home_residual(ANN._meta_dict(spark, path))
    home = store.where(F.col("probe_rank") == 1)
    q_normed = home.select("vec_id", "embedding")
    cb_np, m, n_codes, sub_dim = ANN._codebook_from_rows(ANN._codebook_rows(spark, path))
    cent_np, cent_pos = ANN._collect_centroids(cents)

    def stage_assign():
        _noop(ivf_assign(q_normed, cents, N_PROBE, "vec_id", "embedding"))

    def _lut_frame():
        qa0 = ivf_assign(q_normed, cents, N_PROBE, "vec_id", "embedding")
        return attach_pq_lut(
            qa0, cb_np, m, n_codes, sub_dim, "embedding",
            residual=True, cent_np=cent_np, cent_pos=cent_pos,
        ).transform(_materialize)

    def stage_lut():
        _noop(_lut_frame())

    def _shortlist(assigned):
        # mirrors the r13 _pq_rank shape: per-CELL corpus pre-gather, no
        # per-(query, cell) re-shuffle of the candidate join output
        qlut = assigned.select(F.col("vec_id").alias("query_id"), "cell_id", "lut")
        queries_f = assigned.select(F.col("vec_id").alias("query_id"), "cell_id")
        corpus_codes = spark.read.parquet(path + "/codes").select(
            F.col("vec_id").alias("neighbor_id"), "cell_id", "ncodes"
        )
        cells = corpus_codes.groupBy("cell_id").agg(
            F.collect_list(F.struct("neighbor_id", "ncodes")).alias("cands")
        )
        gathered = queries_f.join(cells, "cell_id").join(qlut, ["query_id", "cell_id"])

        def _adc(c):
            total = None
            for s in range(m):
                part = F.get("lut", F.lit(s * n_codes) + F.get(c["ncodes"], s))
                total = part if total is None else total + part
            return F.struct(total.alias("adc_dist"), c["neighbor_id"].alias("neighbor_id"))

        others = F.filter("cands", lambda c: c["neighbor_id"] != F.col("query_id"))
        return gathered.select(
            "query_id",
            F.explode(
                F.slice(F.array_sort(F.transform(others, _adc)), 1, RERANK * K)
            ).alias("sl"),
        ).select("query_id", F.col("sl.neighbor_id").alias("neighbor_id"))

    def stage_shortlist():
        _noop(_shortlist(_lut_frame()))

    def stage_full():
        _noop(ANN.search_index(spark, path, k=K, n_probe=N_PROBE, use_pq=True, rerank_factor=RERANK))

    # warm order: full first (pays cold once), then prefixes
    results = {}
    stage_full()  # cold warmup, unbilled
    results["full"] = timed(stage_full)
    results["assign"] = timed(stage_assign)
    results["lut"] = timed(stage_lut)
    results["shortlist"] = timed(stage_shortlist)
    la = os.getloadavg()[0]
    print({
        "sf_dir": SF_DIR,
        "stages_cumulative_warm_min": results,
        "deltas": {
            "assign": results["assign"],
            "lut_kernel+mat": round(results["lut"] - results["assign"], 3),
            "gather+adc+explode": round(results["shortlist"] - results["lut"], 3),
            "dedup+rerank+topk": round(results["full"] - results["shortlist"], 3),
        },
        "loadavg_1m": round(la, 2),
    })
    shutil.rmtree(path, ignore_errors=True)


if __name__ == "__main__":
    main()
