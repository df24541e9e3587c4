#!/usr/bin/env python
"""Sweep IVF (nlist, iters, nprobe) for recall vs the exact top-k
(VERDICT r6 #6; re-swept r9 for the sqrt(N) nlist dial): pick the
smallest config clearing recall >= 0.8.

Recall = |IVF pairs ∩ exact pairs| / |exact pairs| over the query set.
Also times the search-only phase (probe over a prebuilt assignment) so
the cost of raising nprobe is visible next to the recall it buys.

With no explicit CONFIGS entry for a corpus size, the shipped dial is
nlist = clamp(isqrt(N), 16, 4096) and nprobe = ceil(5/8 * nlist) — the
`auto` row reports what production code will actually use at that SF.

Usage: python scripts/ivf_recall_sweep.py [sf_dir ...]
"""

import json
import sys
import time

sys.path.insert(0, ".")

from databricks_incremental_lakehouse_spark.llmdata import similarity as S
from databricks_incremental_lakehouse_spark.session import build_spark

DIRS = sys.argv[1:] or ["/root/testdata/sf0.001"]
# (nlist, iters, nprobe): the grid around the shipped sqrt(N) dial; None
# entries mean "what _nlist_for/_nprobe_for pick" (the auto config)
CONFIGS = [
    (None, 2, None),
    (16, 2, 10), (16, 2, 11),
    (22, 2, 12), (22, 2, 14), (22, 2, 16),
    (32, 2, 20), (44, 2, 28),
    # decayed-probe rows (r9 verdict #5): can the search family hold the
    # 0.8 lock at a sub-linear scan fraction? Measured r10 at sf0.1
    # (nlist=44): 10 -> 0.56, 14 (=2*sqrt(44)) -> 0.68, 20 -> 0.84,
    # 22 -> 0.88, 28 (auto 5/8) -> 0.94 — recall == scanned fraction on
    # this structureless corpus, so NO (constant fraction justified;
    # clustered stores pick the sqrt width by build-time calibration).
    (44, 2, 10), (44, 2, 14), (44, 2, 20), (44, 2, 22),
]


def main() -> None:
    spark = build_spark(app_name="ivf_sweep")
    spark.sparkContext.setLogLevel("ERROR")
    for sf in DIRS:
        exact = {
            (r.query_id, r.neighbor_id)
            for r in S.sim_topk_bruteforce(spark, sf).collect()
        }
        for nlist, iters, nprobe in CONFIGS:
            S.KMEANS_ITERS = iters
            t0 = time.time()
            cent_rows, cells, nl = S._kmeans_cells(S._emb(spark, sf), nlist)
            np_ = nprobe if nprobe is not None else S._nprobe_for(nl)
            cells = cells.localCheckpoint(eager=True)  # isolate search cost
            t_build = time.time() - t0
            t0 = time.time()
            ivf = {
                (r.query_id, r.neighbor_id)
                for r in S._ivf_search(spark, sf, cent_rows, cells, np_).collect()
            }
            t_search = time.time() - t0
            print(json.dumps({
                "sf": sf, "nlist": nl, "iters": iters, "nprobe": np_,
                "auto": nlist is None,
                "recall": round(len(ivf & exact) / len(exact), 3),
                "build_s": round(t_build, 2), "search_s": round(t_search, 2),
            }))
    spark.stop()


if __name__ == "__main__":
    main()
