"""ANN recall/latency trade-off bench (VERDICT r6 next-step #7).

Measures mean recall@10 (vs the exact brute-force top-10) and warm
min-of-3 wall for every ANN variant the engine ships, across
nprobe ∈ {1, 2, 4, 8} for the IVF family — the table a deployment
actually picks an index from. Regenerates the SCALE.md "ANN
recall/latency" table:

    python tools/ann_bench.py [sf_dir ...]     # default sf0.1

Panel contracts match the adjudicated queries (pipeline/pq.py /
sq.py / similarity.py): 5-query panel (vec_id < 5), first-8 cells,
first-16-by-id PQ codebooks, dim 64. Indexes (SQ codes, PQ codes,
IVF assignment) are built ONCE per sf and cached before timing — the
bench times SEARCH, which is what an index trades recall for.
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

N_PROBES = (1, 2, 4, 8)
K = 10
REPS = 3


def _mean_recall(spark, approx, exact) -> float:
    from tcrd_spark.pipeline.similarity import recall_at_k

    row = recall_at_k(approx, exact).agg(F.avg("recall")).first()
    return round(float(row[0]), 4)


def _time(build) -> float:
    build().collect()  # warm (plans, broadcasts, codegen)
    best = float("inf")
    for _ in range(REPS):
        t0 = time.perf_counter()
        build().collect()
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def bench_sf(spark, sf_dir: str) -> list[tuple]:
    from tcrd_spark.pipeline.dedup import EMB_DIM
    from tcrd_spark.pipeline.pq import (
        _KSUB,
        _M,
        deterministic_codebooks,
        ivf_pq_topk,
        pq_encode,
        pq_rerank_topk,
        pq_topk,
        pq_train_codebooks,
    )
    from tcrd_spark.pipeline.similarity import (
        assign_cells,
        brute_force_topk,
        ivf_topk,
    )
    from tcrd_spark.pipeline.sq import sq_dequant_frame
    from tcrd_spark.sources.lake import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
    ).cache()
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    ).cache()
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cell_id"), F.col("embedding").alias("cell_vec")
    ).cache()
    n = corpus.count()

    # indexes, built once and cached (the persisted-index stand-in)
    deq = sq_dequant_frame(corpus, EMB_DIM).cache()
    deq.count()
    cb_row = deterministic_codebooks(corpus, EMB_DIM, _M, _KSUB).cache()
    cb_row.count()
    coded = pq_encode(corpus, cb_row, EMB_DIM, _M).cache()
    coded.count()
    assigned = assign_cells(corpus, cents, EMB_DIM).select(
        "c_id", "c_vec", "cell_id"
    ).cache()
    assigned.count()
    coded_cells = pq_encode(
        assigned, cb_row, EMB_DIM, _M, extra_cols=("cell_id",)
    ).cache()
    coded_cells.count()

    exact = brute_force_topk(qs, corpus, EMB_DIM, k=K).cache()
    exact.count()

    sf = os.path.basename(sf_dir.rstrip("/"))
    rows = []

    def add(variant, nprobe, build):
        wall = _time(build)
        rec = _mean_recall(spark, build(), exact)
        rows.append((sf, n, variant, nprobe if nprobe else "—", rec, wall))
        print(f"  {variant:<12} nprobe={nprobe or '—':<3} "
              f"recall@{K}={rec:<7} wall={wall}s", flush=True)

    add("brute", None, lambda: brute_force_topk(qs, corpus, EMB_DIM, k=K))
    add("sq8", None, lambda: brute_force_topk(qs, deq, EMB_DIM, k=K))
    add("pq-adc", None, lambda: pq_topk(qs, coded, cb_row, EMB_DIM, _M, k=K))
    add(
        "pq+rerank", None,
        lambda: pq_rerank_topk(
            qs, coded, cb_row, corpus, EMB_DIM, _M, k=K, shortlist=50
        ),
    )
    # trained codebooks: the deployment path (the adjudicated queries
    # pin the weaker first-16-by-id contract for oracle determinism)
    cb_tr = pq_train_codebooks(corpus, EMB_DIM, _M, _KSUB).cache()
    cb_tr.count()
    coded_tr = pq_encode(corpus, cb_tr, EMB_DIM, _M).cache()
    coded_tr.count()
    add(
        "pq-trained", None,
        lambda: pq_topk(qs, coded_tr, cb_tr, EMB_DIM, _M, k=K),
    )
    add(
        "pq-tr+rerank", None,
        lambda: pq_rerank_topk(
            qs, coded_tr, cb_tr, corpus, EMB_DIM, _M, k=K, shortlist=50
        ),
    )
    for np_ in N_PROBES:
        add(
            "ivf", np_,
            lambda np_=np_: ivf_topk(
                qs, corpus, cents, EMB_DIM, k=K, n_probe=np_
            ),
        )
    for np_ in N_PROBES:
        add(
            "ivf-pq", np_,
            lambda np_=np_: ivf_pq_topk(
                qs, coded_cells, cb_row, cents, EMB_DIM, _M, k=K,
                n_probe=np_,
            ),
        )
    for df in (corpus, qs, cents, deq, cb_row, coded, assigned,
               coded_cells, exact, cb_tr, coded_tr):
        df.unpersist()
    return rows


def main(argv=None) -> int:
    args = list(argv if argv is not None else sys.argv[1:])
    sf_dirs = args or ["/root/testdata/sf0.1"]

    from tcrd_spark.session import get_spark

    spark = get_spark("ann_bench")
    spark.sparkContext.setLogLevel("ERROR")

    all_rows = []
    for sf_dir in sf_dirs:
        print(f"== {sf_dir}", flush=True)
        all_rows += bench_sf(spark, sf_dir)

    print("\n| sf | n_vecs | variant | nprobe | recall@10 | wall (s) |")
    print("|---|---|---|---|---|---|")
    for r in all_rows:
        print("| " + " | ".join(str(x) for x in r) + " |")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
