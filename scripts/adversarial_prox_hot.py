"""Adversarial hot-term SCALECHECK for the banded proximity prefilter
(r13 verdict item 2): one query term at tf ~10^3 per long document.

The unbanded pair stage materializes tf_a x tf_b position pairs per
document BEFORE the window filter (10^6 rows/doc here); the banded
__bk join bounds the product by near-window term density.  This script
times both forms on the same corpus and asserts bit-equal output.

    python3 scripts/adversarial_prox_hot.py [n_docs] [tf]
"""

from __future__ import annotations

import os
import sys
import time

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_DOCS = int(sys.argv[1]) if len(sys.argv) > 1 else 100
TF = int(sys.argv[2]) if len(sys.argv) > 2 else 1000
WINDOW = 8


def _unbanded(pos_post, queries, window):
    """The pre-r14 pair stage, verbatim shape: join on (query_id,
    doc_id) only, gap filter after the full product."""
    qa = queries.select("query_id", F.col("term_a").alias("__term"))
    qb = queries.select("query_id", F.col("term_b").alias("__term"))
    pa = (pos_post.join(F.broadcast(qa), "__term")
          .select("query_id", "doc_id", F.col("__pos").alias("__pa")))
    pb = (pos_post.join(F.broadcast(qb), "__term")
          .select("query_id", "doc_id", F.col("__pos").alias("__pb")))
    pairs = (
        pa.join(pb, ["query_id", "doc_id"])
        .select("query_id", "doc_id",
                F.abs(F.col("__pa") - F.col("__pb")).alias("__gap"))
        .where(F.col("__gap") <= F.lit(int(window)))
    )
    return pairs.groupBy("query_id", "doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.min("__gap").cast("long").alias("min_gap"))


def main():
    from lsh_spark.operators.retrieval import proximity_search
    from lsh_spark.plans import get_spark
    from lsh_spark.operators.training_ops import _words

    spark = get_spark(app_name="lsh_spark-prox-hot", master="local[32]",
                      shuffle_partitions=32,
                      extra_conf={"spark.driver.memory": "16g"})

    # each doc: TF interleaved (alpha, beta) occurrences separated by
    # one filler token -> both query terms at tf ~10^3, every alpha
    # within window of ~3 betas (near-window density is LOW while the
    # full product is tf^2 = 10^6 pairs/doc)
    body = " ".join("alpha x beta" for _ in range(TF))
    docs = spark.range(N_DOCS).select(
        F.col("id").alias("doc_id"), F.lit(body).alias("text"))
    docs = docs.localCheckpoint(eager=True)  # exclude synthesis cost
    q = spark.createDataFrame([(0, "alpha", "beta")],
                              "query_id long, term_a string, term_b string")

    pos_post = docs.select(
        F.col("doc_id"),
        F.posexplode(_words(F.col("text"))).alias("__pos", "__term"))

    banded = proximity_search(docs, q, window=WINDOW)
    unbanded = _unbanded(pos_post, q, WINDOW)

    results = {}
    for name, df in (("banded", banded), ("unbanded", unbanded)):
        best = None
        rows = None
        for _ in range(2):
            t0 = time.time()
            rows = sorted((r.doc_id, r.n_pairs, r.min_gap)
                          for r in df.collect())
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        results[name] = (best, rows)
        print(f"{name}: best-of-2 {best:.2f} s, {len(rows)} result rows")

    assert results["banded"][1] == results["unbanded"][1], \
        "banded output diverged from the naive product"
    print(f"corpus: {N_DOCS} docs x tf {TF} per term, window {WINDOW}; "
          f"naive product = {N_DOCS * TF * TF:,} pairs")
    print(f"speedup: {results['unbanded'][0] / results['banded'][0]:.1f}x")


if __name__ == "__main__":
    main()
