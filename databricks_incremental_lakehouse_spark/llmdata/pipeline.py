"""Operated corpus-curation pipeline — the LLM-data counterpart of the
sales/supplier DAGs.

``run_corpus_curation`` materializes the full curation funnel as staged
parquet outputs with the same stage capture, fail-fast gates, retry
hooks, and run summary the relational pipelines use
(:mod:`..pipelines.runner`):

1. ``curate_flags``   : the per-document gate flags of ``corpus_curate``
   (every drop explainable — the audit artifact of a curated release).
2. ``curated_corpus`` + ``gate_report`` (concurrent): the kept documents
   with their text, and the per-gate survivor counts a release note
   quotes.
3. ``packed_sequences``: context-window packing over the KEPT corpus
   only (two-phase distributed prefix sum).

Stage shapes are the operators' own; this module only sequences,
materializes, and gates them — at 100 TB each stage is one job chain
over the curated subsets, and the flags/report tables are tiny next to
the corpus.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..pipelines.runner import (
    _gate,
    _run_dag,
    _run_stage,
    format_run_summary,
)
from ..tables import load_table
from .curation import corpus_curate, pack_sequences

GATES = (
    "pass_exact",
    "pass_neardup",
    "pass_decontam",
    "pass_quality",
    "pass_sample",
)


def run_corpus_curation(
    spark: SparkSession, sf_dir: str, out_dir: str
) -> dict:
    """Run the curation DAG; returns per-stage results (status/elapsed)."""
    from pyspark.sql.types import StructField, StructType

    results: dict = {}
    flags_path = os.path.join(out_dir, "flags")
    corpus_path = os.path.join(out_dir, "corpus")
    report_path = os.path.join(out_dir, "report")
    packed_path = os.path.join(out_dir, "packed")

    # per-run written-schema capture (the pipelines.runner._schema_registry
    # discipline): the writing stage holds the exact schema, so read-backs
    # never pay partition discovery + footer inference — on a deployment
    # this is the catalog. Fields forced nullable (reader must not inherit
    # the writer's non-null lit() assertion).
    schemas: dict[str, StructType] = {}

    # file-count-targeted writes (the Delta optimizeWrite analogue): every
    # stage output here is doc-grain or smaller, and a KB-scale table
    # scattered into defaultParallelism footer-dominated files pays ~0.1s
    # of commit-protocol renames per write for nothing. The target adapts
    # to the CORPUS size (the session-cached n_docs scalar — no extra
    # job), so a billion-doc corpus keeps full write parallelism and only
    # genuinely small outputs coalesce.
    from .tokmemo import corpus_n_docs

    n_docs = corpus_n_docs(spark, sf_dir)
    _rows_per_file = 100_000

    def _sized(df: DataFrame) -> DataFrame:
        cap = spark.sparkContext.defaultParallelism
        n = max(1, min(cap, -(-n_docs // _rows_per_file)))
        return df.coalesce(n) if n < cap else df

    def _record(path: str, df: DataFrame) -> DataFrame:
        schemas[path] = StructType(
            [StructField(f.name, f.dataType, True, f.metadata) for f in df.schema.fields]
        )
        return df

    def _read_back(path: str) -> DataFrame:
        return spark.read.schema(schemas[path]).parquet(path)

    _run_stage(
        results,
        "curate_flags",
        lambda: _sized(_record(flags_path, corpus_curate(spark, sf_dir)))
        .write.mode("overwrite")
        .parquet(flags_path),
    )
    _gate(results, ["curate_flags"], "curation flags")

    def _corpus() -> None:
        kept = (
            _read_back(flags_path)
            .filter(F.col("is_kept"))
            .select("doc_id")
        )
        out = load_table(spark, sf_dir, "documents").join(
            # kept ids are a tiny fraction of an already doc-grain table —
            # broadcast beats a two-sided shuffle at any corpus size
            F.broadcast(kept),
            "doc_id",
        )
        _sized(_record(corpus_path, out)).write.mode("overwrite").parquet(
            corpus_path
        )

    def _report() -> None:
        flags = _read_back(flags_path)
        (
            flags.agg(
                F.count(F.lit(1)).alias("n_docs"),
                *[
                    F.sum(F.col(g).cast("long")).alias(f"n_{g}")
                    for g in GATES
                ],
                F.sum(F.col("is_kept").cast("long")).alias("n_kept"),
            )
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(report_path)
        )

    _run_dag(
        results, {"curated_corpus": (_corpus, ()), "gate_report": (_report, ())}
    )
    _gate(results, ["curated_corpus", "gate_report"], "curated corpus")

    _run_stage(
        results,
        "packed_sequences",
        lambda: _sized(
            pack_sequences(spark, sf_dir, docs=_read_back(corpus_path))
        )
        .write.mode("overwrite")
        .parquet(packed_path),
    )

    print(
        format_run_summary("corpus_curation", results),
        file=sys.stderr,
    )
    failed = {k: v for k, v in results.items() if v["status"] != "SUCCESS"}
    if failed:
        raise RuntimeError(f"curation pipeline completed with failures: {failed}")
    return results
