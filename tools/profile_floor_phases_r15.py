"""Phase-level timing inside the two heaviest gates (r15 measure-first):
similarity_ivf_pq_recall_floor (in-memory IVFADC+R at production dials)
and similarity_ivf_pq_residual_indexed_recall_at_5 (persisted layout).

Each phase is timed on a warm session, min-of-2 full repetitions.
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from hbase_taggregator_spark.queries import QUERIES, load_table  # noqa: E402
from hbase_taggregator_spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.1"


def t(label, fn, acc):
    t0 = time.time()
    out = fn()
    dt = time.time() - t0
    acc[label] = min(acc.get(label, dt), dt)
    return out


def floor_phases(spark, acc):
    from hbase_taggregator_spark.operators.similarity import (
        _ivf_residuals,
        _materialize_cell_means,
        ivf_assign,
        l2_topk,
        pq_codebooks,
        pq_encode,
        pq_refine_codebooks,
    )
    from hbase_taggregator_spark.queries_r13 import (
        IVFPQ_FLOOR_M as M,
        IVFPQ_FLOOR_NCODES as NC,
        IVFPQ_FLOOR_NPROBE as NP,
        IVFPQ_FLOOR_RERANK_K as RK,
    )
    from hbase_taggregator_spark.util import ensure_parallelism

    emb = load_table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    cents = emb.orderBy("vec_id").limit(16).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cvec")
    )
    assigned = t(
        "1_assign_plan", lambda: ivf_assign(
            ensure_parallelism(emb), cents, "embedding", "vec_id", n_probe=1
        ), acc,
    )  # includes the cents collect job
    mean_cents = t(
        "2_cell_means_collect",
        lambda: _materialize_cell_means(assigned, "embedding"), acc,
    )
    enc_corpus = _ivf_residuals(assigned, mean_cents, "embedding").select(
        "vec_id", F.col("__rvec").alias("embedding"), "cent_id"
    )
    books = t(
        "3_codebooks_collect",
        lambda: pq_codebooks(enc_corpus, M, NC, "vec_id", "embedding", 64),
        acc,
    )
    books2 = t(
        "4_refine_collect",
        lambda: pq_refine_codebooks(
            enc_corpus, books, M, "vec_id", "embedding", 64, iters=1
        ),
        acc,
    )
    codes = pq_encode(
        enc_corpus, books2, M, "vec_id", "embedding", 64, keep=["cent_id"]
    )
    t(
        "5_encode_exec_noop",
        lambda: codes.write.format("noop").mode("overwrite").save(), acc,
    )
    t(
        "6_exact_gt_noop",
        lambda: l2_topk(emb, queries, k=5)
        .write.format("noop").mode("overwrite").save(), acc,
    )
    # full gate for reference
    t(
        "7_full_gate",
        lambda: QUERIES["similarity_ivf_pq_recall_floor"](spark, SF)
        .write.format("noop").mode("overwrite").save(),
        acc,
    )


def indexed_phases(spark, acc):
    from hbase_taggregator_spark.operators.similarity import (
        ivf_pq_topk_indexed,
        l2_topk,
        read_ivf_cell_means,
        read_ivf_codebooks,
        read_ivf_index,
        write_ivf_index,
    )
    from hbase_taggregator_spark.queries_r13 import (
        IVFPQR_M,
        IVFPQR_NCODES,
        IVFPQR_NPROBE,
        RECALL_K,
        _recall_frame,
    )

    emb = load_table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    cents = emb.orderBy("vec_id").limit(16).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cvec")
    )
    with tempfile.TemporaryDirectory() as d:
        t(
            "i1_write_index",
            lambda: write_ivf_index(
                emb, cents, f"{d}/ivfpqr", pq=True, pq_residual=True,
                pq_m=IVFPQR_M, pq_codes=IVFPQR_NCODES, pq_refine_iters=1,
            ),
            acc,
        )
        idx = read_ivf_index(spark, f"{d}/ivfpqr")
        books = t(
            "i2_read_codebooks",
            lambda: read_ivf_codebooks(spark, f"{d}/ivfpqr"), acc,
        )
        means = read_ivf_cell_means(spark, f"{d}/ivfpqr")
        pq = ivf_pq_topk_indexed(
            idx, queries, cents, books, k=RECALL_K, m=IVFPQR_M,
            n_probe=IVFPQR_NPROBE, residual_means=means,
        ).select("query_id", "vec_id")
        exact = l2_topk(emb, queries, k=RECALL_K).select("query_id", "vec_id")
        rec = _recall_frame(spark, queries, pq, exact)
        t("i3_serve_collect", lambda: rec.collect(), acc)


def main() -> None:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        app_name="profile-floor-r15", master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
    )
    spark.sparkContext.setLogLevel("ERROR")
    QUERIES["ts_max_900"](spark, SF).write.format("noop").mode(
        "overwrite"
    ).save()

    acc: dict[str, float] = {}
    for _ in range(2):
        floor_phases(spark, acc)
    for _ in range(2):
        indexed_phases(spark, acc)
    for k in sorted(acc):
        print(f"{k:28s} {acc[k]:7.2f}s")
    spark.stop()


if __name__ == "__main__":
    main()
