#!/usr/bin/env python
"""Measure the BM25 retrieval decades on the query-preserving scaled corpora.

Records, per SF dir (1x = sf0.1, 10x = .bench/sf1ext, 100x = .bench/sf10ext):
  - cold (memo-build + query) and warm-median scan-path `search_bm25_topk`
  - warm-median maintained-path (`adopt_token_stats` + the same query)
  - result rows and SUM(n_matched-proxy): distinct matched docs across
    queries — must be non-zero at every SF for the rows to be honest
    (the r9 generator suffixed every token, so scaled matches were 0).

Usage: python scripts/bm25_scaling.py
"""

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from databricks_incremental_lakehouse_spark.session import build_spark  # noqa: E402
from databricks_incremental_lakehouse_spark import memo  # noqa: E402
from databricks_incremental_lakehouse_spark.registry import QUERIES  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SFS = {
    "1x": "/root/testdata/sf0.1",
    "10x": os.path.join(REPO, ".bench", "sf1ext"),
    "100x": os.path.join(REPO, ".bench", "sf10ext"),
}
REPS = 3


def main() -> None:
    spark = build_spark()
    q = QUERIES["search_bm25_topk"]
    for label, sf_dir in SFS.items():
        if not os.path.isdir(sf_dir):
            print(f"{label}: MISSING {sf_dir}")
            continue
        memo.clear()
        t0 = time.time()
        rows = q(spark, sf_dir).collect()
        cold = time.time() - t0
        n_docs = len({r["doc_id"] for r in rows})
        warm = []
        for _ in range(REPS):
            t0 = time.time()
            q(spark, sf_dir).collect()
            warm.append(time.time() - t0)
        # maintained path: build the warehouse, adopt, re-time
        from databricks_incremental_lakehouse_spark.llmdata import incrstats

        memo.clear()  # the warehouse is a memo entry: build it after the clear
        root = incrstats._warehouse_for(spark, sf_dir)
        incrstats.adopt_token_stats(spark, sf_dir, root)
        q(spark, sf_dir).collect()  # warm-up
        maint = []
        for _ in range(REPS):
            t0 = time.time()
            q(spark, sf_dir).collect()
            maint.append(time.time() - t0)
        memo.clear()
        print(
            f"{label}: rows={len(rows)} matched_docs={n_docs} "
            f"cold={cold:.2f}s warm={statistics.median(warm):.2f}s "
            f"maintained={statistics.median(maint):.2f}s"
        )


if __name__ == "__main__":
    main()
