"""ANN quality probe: recall@k of every approximate similarity path
against exact brute-force ground truth, on the real testdata embeddings.

Speed without recall numbers is half a benchmark — this is the "measure,
don't guess" companion to the scaling results in SCALE.md for the
approximate tier:

- sign-LSH buckets (lsh_topk, with and without multiprobe)
- IVF inverted lists (ivf_topk, nprobe sweep)
- PQ ADC (pq_topk, pure compressed domain + exact-refine)
- IVF+PQ (ivfpq_topk, residual-coded, partition-pruned)

Ground truth = knn_join (exact cosine) for a deterministic query sample.
Results print as one JSON line; paste the table into SCALE.md.

The testdata embeddings are unit-normalized near-random directions
(max pairwise cosine ~0.37, p90 ~0.17 at sf0.01): neighbor order there
is separated by hair-thin similarity gaps, which HEAVY quantization
cannot preserve — recall on such data measures the data's structure,
not the index. Pass ``clustered`` as sf_dir to evaluate on a planted
clustered corpus instead (the regime ANN indexes exist for), and report
BOTH tables.

Usage: python tools/ann_eval.py [sf_dir|clustered] [n_queries] [k]
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_queries = int(sys.argv[2]) if len(sys.argv) > 2 else 20
    k = int(sys.argv[3]) if len(sys.argv) > 3 else 10

    from pyspark.sql import SparkSession, functions as F

    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from commercepulse_data_pipeline_spark.operators import similarity as sim

    if sf_dir == "clustered":
        # planted corpus: 20 cluster directions in 64-dim, 50 members
        # each with small angular noise, unit-normalized — the regime
        # where neighbor structure is real
        import math
        import random

        rng = random.Random(42)
        dirs = []
        for _ in range(20):
            v = [rng.gauss(0, 1) for _ in range(64)]
            n = math.sqrt(sum(x * x for x in v))
            dirs.append([x / n for x in v])
        rows = []
        vid = 0
        for d in dirs:
            for _ in range(50):
                v = [x + rng.gauss(0, 0.08) for x in d]
                n = math.sqrt(sum(x * x for x in v))
                rows.append((vid, [x / n for x in v]))
                vid += 1
        e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    else:
        e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = e.where(F.col("vec_id") % 97 == 0).limit(n_queries)
    qrows = [(r["vec_id"], list(r["embedding"])) for r in queries.collect()]

    # metric-matched ground truth: sign-LSH approximates COSINE order,
    # the IVF/PQ family ranks by L2 — grading one against the other's
    # ground truth would misreport recall (caught on the first run).
    exact_cos = sim.knn_join(e, queries, k=k, exclude_self=True)
    corpus_rows = [(r["vec_id"], list(r["embedding"])) for r in e.collect()]

    def exact_l2_rows() -> list[tuple[int, int, int]]:
        out = []
        for qid, qv in qrows:
            scored = sorted(
                (sum((a - b) * (a - b) for a, b in zip(qv, v)), vid)
                for vid, v in corpus_rows if vid != qid
            )[:k]
            out += [(qid, vid, i + 1) for i, (_, vid) in enumerate(scored)]
        return out

    exact_l2 = spark.createDataFrame(
        exact_l2_rows(), "query_id long, neighbor_id long, rank int"
    ).localCheckpoint(eager=True)

    def mean_recall(approx_rows: list[tuple[int, int, int]], truth) -> float:
        """approx_rows: (query_id, neighbor_id, rank<=k)."""
        approx = spark.createDataFrame(
            approx_rows, "query_id long, neighbor_id long, rank int"
        )
        rec = sim.recall_at_k(truth, approx, k=k)
        row = rec.agg(F.avg("recall")).head()
        return round(float(row[0]), 4)

    results: dict[str, float] = {}

    # -- sign-LSH (single-query path, per query vector), probe sweep
    for probes in (1, 3):
        rows = []
        for qid, qv in qrows:
            top = sim.lsh_topk(
                e.where(F.col("vec_id") != qid), qv, k=k,
                n_planes=8, probes=probes,
            ).collect()
            rows += [(qid, r["vec_id"], i + 1) for i, r in enumerate(top)]
        results[f"lsh_probes{probes}"] = mean_recall(rows, exact_cos)

    # -- IVF, nprobe sweep
    assigned, cents = sim.ivf_assign(e, n_centroids=8, iters=1)
    assigned = assigned.localCheckpoint(eager=True)
    for nprobe in (1, 2, 4):
        rows = []
        for qid, qv in qrows:
            top = sim.ivf_topk(
                assigned.where(F.col("vec_id") != qid), cents, qv,
                k=k, nprobe=nprobe,
            ).collect()
            rows += [(qid, r["vec_id"], i + 1) for i, r in enumerate(top)]
        results[f"ivf_nprobe{nprobe}"] = mean_recall(rows, exact_cos)

    # -- PQ: pure ADC and ADC + exact refine
    books = sim.pq_train(e, m=4, n_codes=16, iters=1)
    enc = sim.pq_encode(e, books).localCheckpoint(eager=True)
    rows, rows_ref, rows_frac = [], [], []
    for qid, qv in qrows:
        base = enc.where(F.col("vec_id") != qid)
        top = sim.pq_topk(base, books, qv, k=k).collect()
        rows += [(qid, r["vec_id"], i + 1) for i, r in enumerate(top)]
        ref = sim.pq_topk(base, books, qv, k=k, refine=10 * k).collect()
        rows_ref += [(qid, r["vec_id"], i + 1) for i, r in enumerate(ref)]
        # fractional refine (r10): shortlist = 10% OF THE CORPUS — the
        # width that stays honest as the corpus grows (SCALE.md r9
        # finding: a fixed width dilutes at 4x corpus). Resolved ONCE
        # outside _resolve_refine: passing 0.1 here would re-count the
        # corpus per query (loop-invariant — r10 self-review).
        frac_w = max(k, -(-len(corpus_rows) // 10))
        frac = sim.pq_topk(base, books, qv, k=k, refine=frac_w).collect()
        rows_frac += [(qid, r["vec_id"], i + 1) for i, r in enumerate(frac)]
    results["pq_adc"] = mean_recall(rows, exact_l2)
    # refine re-ranks by exact COSINE -> cosine ground truth
    results[f"pq_adc_refine{10 * k}"] = mean_recall(rows_ref, exact_cos)
    results["pq_adc_refine_frac0.1"] = mean_recall(rows_frac, exact_cos)

    # -- IVF+PQ (residual-coded), nprobe sweep
    with tempfile.TemporaryDirectory() as td:
        idx = os.path.join(td, "ivfpq")
        sim.write_ivfpq_index(e, idx, n_centroids=8, m=4, n_codes=16, iters=1)
        for nprobe in (2, 4):
            rows = []
            for qid, qv in qrows:
                top = [
                    r for r in sim.ivfpq_topk(
                        spark, idx, qv, k=k + 1, nprobe=nprobe
                    ).collect()
                    if r["vec_id"] != qid
                ][:k]
                rows += [(qid, r["vec_id"], i + 1) for i, r in enumerate(top)]
            results[f"ivfpq_nprobe{nprobe}"] = mean_recall(rows, exact_l2)
        rows = []
        for qid, qv in qrows:
            top = [
                r for r in sim.ivfpq_topk(
                    spark, idx, qv, k=k + 1, nprobe=2,
                    refine=10 * k, corpus=e,
                ).collect()
                if r["vec_id"] != qid
            ][:k]
            rows += [(qid, r["vec_id"], i + 1) for i, r in enumerate(top)]
        # refine re-ranks by exact cosine -> cosine ground truth
        results[f"ivfpq_nprobe2_refine{10 * k}"] = mean_recall(rows, exact_cos)
        rows = []
        frac_w = max(k, -(-len(corpus_rows) // 10))  # resolved once
        for qid, qv in qrows:
            top = [
                r for r in sim.ivfpq_topk(
                    spark, idx, qv, k=k + 1, nprobe=2,
                    refine=frac_w, corpus=e,
                ).collect()
                if r["vec_id"] != qid
            ][:k]
            rows += [(qid, r["vec_id"], i + 1) for i, r in enumerate(top)]
        results["ivfpq_nprobe2_refine_frac0.1"] = mean_recall(rows, exact_cos)

    print(json.dumps({
        "sf_dir": sf_dir, "n_queries": len(qrows), "k": k,
        "recall_at_k": results,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
