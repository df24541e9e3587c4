"""Fast-hash (xxhash64) vs portable (md5) sweep over every registered
query that consumes the ``texthash`` hash family (r4 VERDICT item 7).

One session; per query: one untimed warm-up, then REPS timed runs per
mode, medians reported. The portable family is the driver-contract
default (DuckDB-replayable); ``texthash.set_fast_hash(True)`` selects
the production path with identical plan shapes. Output: one JSON line with
``{query: {"portable": s, "fast": s, "ratio": portable/fast}}``.

Usage: python scripts/fast_hash_sweep.py [sf_dir]
"""

from __future__ import annotations

import json
import statistics
import sys
import time

sys.path.insert(0, "/root/repo")

from databricks_incremental_lakehouse_spark.llmdata import texthash  # noqa: E402
from databricks_incremental_lakehouse_spark.registry import QUERIES  # noqa: E402
from databricks_incremental_lakehouse_spark.session import build_spark  # noqa: E402

REPS = 3

# every registered query whose plan contains the hash60/seeded_hash60
# family (shingle signatures, sketch seeds, sampling thresholds,
# fingerprints, content keys)
HASH_QUERIES = [
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_ngram_jaccard_capped",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_simhash_pairs",
    "dedup_substring_spans",
    "dedup_substring_clean",
    "dedup_clusters",
    "text_fingerprint",
    "text_decontamination",
    "sketch_hll_distinct",
    "sketch_cms_heavy_hitters",
    "sample_stratified",
    "sample_temperature",
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = build_spark(app_name="fast-hash-sweep")
    spark.sparkContext.setLogLevel("ERROR")

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    results: dict[str, dict[str, float]] = {}
    for mode, fast in (("portable", False), ("fast", True)):
        texthash.set_fast_hash(fast)
        for name in HASH_QUERIES:
            noop(QUERIES[name](spark, sf_dir))  # warm-up, untimed
            ts = []
            for _ in range(REPS):
                t0 = time.time()
                noop(QUERIES[name](spark, sf_dir))
                ts.append(time.time() - t0)
            results.setdefault(name, {})[mode] = round(statistics.median(ts), 2)
    texthash.set_fast_hash(False)

    for name, r in results.items():
        r["ratio"] = round(r["portable"] / r["fast"], 2) if r["fast"] else None
    print(json.dumps({"sf_dir": sf_dir, "reps": REPS, "results": results}))
    spark.stop()


if __name__ == "__main__":
    main()
