"""ANN quality harness: measured recall@k + latency per index type.

Runs the three approximate top-k paths (SRP-LSH, IVF, PQ) against the
exact brute-force baseline over a sample of stored query vectors and
prints a markdown table of recall@k and per-query wall time — the
accuracy/latency tradeoff a user picks an index by.

    python tools/ann_quality.py [sf_dir] [n_queries] [k]
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_queries = int(sys.argv[2]) if len(sys.argv) > 2 else 12
    k = int(sys.argv[3]) if len(sys.argv) > 3 else 10

    from pyspark.sql import functions as F

    from healthcare_data_warehouse_spark.operators.similarity import (
        brute_force_topk,
        lsh_topk,
        lsh_topk_multitable,
    )
    from healthcare_data_warehouse_spark.session import get_spark
    from healthcare_data_warehouse_spark.sources.loaders import load_table

    spark = get_spark("ann-quality")
    emb = load_table(spark, sf_dir, "embeddings").persist()
    n = emb.count()
    qids = [r["vec_id"] for r in
            emb.select("vec_id").orderBy("vec_id").limit(n_queries).collect()]

    import tempfile

    from healthcare_data_warehouse_spark.operators.similarity import (
        ivf_build_index,
        ivf_topk_indexed,
        pq_build_index,
        pq_topk_indexed,
    )

    # ingest-time indexes built ONCE (the 100 TB serving path)
    idx = tempfile.mkdtemp(prefix="ann_quality_")
    ivf_dir, pq_dir = os.path.join(idx, "ivf"), os.path.join(idx, "pq")
    t0 = time.perf_counter()
    ivf_build_index(emb, ivf_dir, n_lists=16)
    ivf_build_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    pq_build_index(emb, pq_dir, m=8, codebook_k=16)
    pq_build_s = time.perf_counter() - t0
    qvecs = {r["vec_id"]: r["embedding"] for r in
             emb.select("vec_id", "embedding").collect()}

    methods = {
        "brute-force (exact)": lambda q: brute_force_topk(emb, q, k=k),
        "SRP-LSH single-bucket": lambda q: lsh_topk(
            emb, q, k=k, n_planes=8, probe_hamming=0),
        "SRP-LSH multi-probe H<=1": lambda q: lsh_topk(
            emb, q, k=k, n_planes=8, probe_hamming=1),
        "SRP-LSH 4 tables x 5 planes, H<=1": lambda q: lsh_topk_multitable(
            emb, q, k=k, n_planes=5, n_tables=4, probe_hamming=1),
        "IVF indexed (16 lists, probe 4)": lambda q: ivf_topk_indexed(
            spark, ivf_dir, qvecs[q], k=k, n_probe=4, exclude_id=q),
        # probe sweep: the recall knob, measured — recall must climb
        # toward 1.0 as probed lists approach n_lists (at probe=16 the
        # scan is exhaustive and any shortfall would be a bucketing bug)
        "IVF indexed (16 lists, probe 8)": lambda q: ivf_topk_indexed(
            spark, ivf_dir, qvecs[q], k=k, n_probe=8, exclude_id=q),
        "IVF indexed (16 lists, probe 12)": lambda q: ivf_topk_indexed(
            spark, ivf_dir, qvecs[q], k=k, n_probe=12, exclude_id=q),
        "IVF indexed (16 lists, probe 16 = exhaustive)": lambda q:
            ivf_topk_indexed(spark, ivf_dir, qvecs[q], k=k, n_probe=16,
                             exclude_id=q),
        "PQ indexed (m=8, refine 100)": lambda q: pq_topk_indexed(
            spark, pq_dir, qvecs[q], k=k, refine=100, exclude_id=q),
        # refine sweep: PQ's recall knob — the ADC shortlist size fed to
        # the exact re-rank; at refine = corpus size the ADC order stops
        # mattering and recall must reach 1.0
        "PQ indexed (m=8, refine 200)": lambda q: pq_topk_indexed(
            spark, pq_dir, qvecs[q], k=k, refine=200, exclude_id=q),
        "PQ indexed (m=8, refine 400)": lambda q: pq_topk_indexed(
            spark, pq_dir, qvecs[q], k=k, refine=400, exclude_id=q),
        "PQ indexed (m=8, refine 800)": lambda q: pq_topk_indexed(
            spark, pq_dir, qvecs[q], k=k, refine=800, exclude_id=q),
        # the resolved defaults (target_recall=0.9): what a caller gets
        # with NO knobs — must measure >= 0.9 here, or the calibration
        # tables in operators/similarity.py need re-pinning
        "IVF indexed (DEFAULT: target_recall 0.9)": lambda q:
            ivf_topk_indexed(spark, ivf_dir, qvecs[q], k=k, exclude_id=q),
        "PQ indexed (DEFAULT: target_recall 0.9)": lambda q:
            pq_topk_indexed(spark, pq_dir, qvecs[q], k=k, exclude_id=q),
    }

    exact: dict[int, set] = {}
    rows = []
    for name, fn in methods.items():
        # warm one query so JIT/codegen/KMeans-class loading is out of
        # the timed loop
        fn(qids[0]).collect()
        recalls, times = [], []
        for q in qids:
            t0 = time.perf_counter()
            got = [r["vec_id"] for r in fn(q).collect()]
            times.append(time.perf_counter() - t0)
            if name.startswith("brute"):
                exact[q] = set(got)
                recalls.append(1.0)
            else:
                recalls.append(len(set(got) & exact[q]) / max(1, len(exact[q])))
        rows.append((name, sum(recalls) / len(recalls),
                     sum(times) / len(times)))

    print(f"corpus: {n} vectors, {n_queries} queries, k={k} ({sf_dir})")
    print(f"index build (once per ingest): IVF {ivf_build_s:.1f}s, "
          f"PQ {pq_build_s:.1f}s")
    print("| index | recall@%d | mean latency (s) |" % k)
    print("|---|---|---|")
    for name, rec, lat in rows:
        print(f"| {name} | {rec:.2f} | {lat:.3f} |")
    spark.stop()


if __name__ == "__main__":
    main()
