"""Maintenance policy for the maintained-store lifecycle jobs.

VERDICT r11 #3: the lifecycle jobs exist as code — ``rebucket_store`` /
``compact_store`` (operators/layout.py), ``recluster_ivf_store``
(similarity.py), ``vacuum_table`` (operators/layout.py) — but nothing
decided WHEN to run them; at 100 TB they run on a schedule driven by
store telemetry. This module is that decision as a query:
``maintenance_report`` reads each maintained store's sidecar meta plus
cheap filesystem/footer telemetry (never a data scan) and emits one row
per (store, job) with the measured signal, the configured threshold, and
a ``due`` flag. A deployment's scheduler runs exactly the rows where
``due`` — the policy is data + config, not prose.

Thresholds resolve like the pipeline settings: the ``"maintenance"``
block of ``configs/{env}.json``, then inline defaults:

- ``rebucket_rows_per_bucket``: a hash-bucketed append store (band index,
  shingle inverted index) is designed so a probe's per-bucket read stays
  batch-proportional; once average rows/bucket exceeds this, probes pay a
  growing tax (the +28% measured at 10x, BASELINE.md r11) and
  ``rebucket_store`` to ~rows/threshold buckets restores the design.
- ``recluster_arrival_fraction``: the IVF append store ingests with a
  FROZEN codebook; once arrivals since the last train exceed this
  fraction of the trained corpus, quantization drift warrants
  ``recluster_ivf_store`` (which resets the fraction to zero).
- ``compact_files_per_dir``: every append ingest adds a file wave per
  touched bucket/cell dir; past this many files per dir the probe's
  open/footer overhead dominates (measured as a probe SLOWDOWN in the
  r11 rebucket work) and ``compact_store`` bin-packs it back.
- ``vacuum_debris_dirs``: leftover ``.<name>.old`` swap backups or
  ``*._staging`` dirs from interrupted jobs; any at all means
  ``vacuum_table`` should run (they are invisible to readers but
  accumulate forever).

The report is registered as an oracle-FREE query (the signals are
filesystem/sidecar state, not SQL over the test tables — the driver
records its weaker rows-only check); the policy itself is pytest-locked
(tests/test_llmdata.py): threshold resolution, due-flag arithmetic, and
recluster resetting the arrival fraction.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..config import load_env_config
from ..operators.layout import (
    STAGING_SUFFIXES as _STAGING_SUFFIXES,
)
from ..operators.layout import read_store_meta, table_file_stats, vacuum_table

MAINT_DEFAULTS = {
    "rebucket_rows_per_bucket": 2000,
    "recluster_arrival_fraction": 0.25,
    "compact_files_per_dir": 4,
    "vacuum_debris_dirs": 1,
}


def maintenance_thresholds() -> dict:
    """Effective thresholds: the ``"maintenance"`` block of
    ``configs/{env}.json``, then :data:`MAINT_DEFAULTS`."""
    out = dict(MAINT_DEFAULTS)
    block = load_env_config().get("maintenance", {})
    # unparsable overrides raise (r12 review): a typo'd operational knob
    # silently reverting to the default is exactly the quiet failure the
    # repo's fail-loud stance exists to prevent (_live_num_buckets)
    for k in out:
        if k in block:
            try:
                out[k] = type(MAINT_DEFAULTS[k])(block[k])
            except (TypeError, ValueError) as exc:
                raise ValueError(
                    f"config maintenance.{k}={block[k]!r} "
                    f"is not a valid {type(MAINT_DEFAULTS[k]).__name__}"
                ) from exc
    return out


def _debris_dirs(path: str) -> int:
    """Count crash debris under ``path``: ``.<name>.old`` swap backups
    whose destination EXISTS (stale — recovery would drop them) and
    staging leftovers from any lifecycle job (merge ``._staging``,
    ``rebucket_store``'s ``._rebucket``, ``recluster_ivf_store``'s
    ``._recluster``, ``optimize_compact``'s ``._compact``). A backup
    whose destination is missing is NOT debris — it is the only
    surviving copy and recovery restores it, so vacuum-due must not
    count it."""
    n = 0
    if not os.path.isdir(path):
        return 0
    parent, base = os.path.split(path.rstrip("/"))
    # sibling staging dirs are matched EXACTLY (base + suffix): a prefix
    # match would count another store's debris (cells_v2._staging next to
    # cells) that vacuum_table(path) can never remove — the due flag
    # would then be un-clearable by running the job (r12 review)
    sibling_staging = {base + s for s in _STAGING_SUFFIXES}
    for name in os.listdir(parent) if os.path.isdir(parent) else []:
        if name == f".{base}.old" and os.path.isdir(path):
            n += 1
        if name in sibling_staging:
            n += 1
    for dirpath, dirs, _files in os.walk(path):
        for name in dirs:
            if name.endswith(_STAGING_SUFFIXES):
                n += 1
            elif name.startswith(".") and name.endswith(".old"):
                if os.path.isdir(os.path.join(dirpath, name[1:-4])):
                    n += 1
    return n


def _store_rows(spark: SparkSession, path: str) -> int:
    """Row count from parquet footers only (Spark's metadata-only count —
    no column data is read). At 100 TB the same number comes from the
    transaction log / manifest, never a listing+footer pass."""
    return spark.read.parquet(path).count()


def _bucketed_store_rows(
    spark: SparkSession, store: str, path: str, thr: dict
) -> list[tuple]:
    # missing sidecar on an existing store is corruption — the probe path
    # refuses it loudly (incrdedup._live_num_buckets), and the report must
    # not paper over the same failure with a made-up bucket count
    from .incrdedup import _live_num_buckets

    nb = _live_num_buckets(path)
    rows = _store_rows(spark, path)
    per_bucket = rows / nb if nb else float(rows)
    stats = table_file_stats(path)
    max_files = max((n for _rel, n, _b in stats), default=0)
    debris = _debris_dirs(path)
    return [
        (
            store,
            "rebucket",
            "avg_rows_per_bucket",
            round(per_bucket, 3),
            float(thr["rebucket_rows_per_bucket"]),
            per_bucket > thr["rebucket_rows_per_bucket"],
        ),
        (
            store,
            "compact",
            "max_files_per_dir",
            float(max_files),
            float(thr["compact_files_per_dir"]),
            max_files > thr["compact_files_per_dir"],
        ),
        (
            store,
            "vacuum",
            "debris_dirs",
            float(debris),
            float(thr["vacuum_debris_dirs"]),
            debris >= thr["vacuum_debris_dirs"],
        ),
    ]


REPORT_SCHEMA = (
    "store string, job string, metric string, value double,"
    " threshold double, due boolean"
)


def _store_paths(spark: SparkSession, sf_dir: str) -> dict[str, str]:
    """The session's maintained stores by report name — the single
    store->path mapping the report (signals) and the executor (jobs)
    share, so a due row always names a path the executor can act on.
    First call pays the builds the append-family queries share."""
    from .incrdedup import _dedup_band_index, _exact_pair_index
    from .similarity import _ivf_append_index

    band_path, _arr = _dedup_band_index(spark, sf_dir)
    sh_path, _e, _l, _cc, _a = _exact_pair_index(spark, sf_dir)
    _cent, ivf_path, _nlist = _ivf_append_index(spark, sf_dir)
    return {
        "dedup_band_index": band_path,
        "shingle_pair_index": sh_path,
        "ivf_append_index": ivf_path,
    }


def maintenance_report(
    spark: SparkSession, sf_dir: str, thresholds: dict | None = None
) -> DataFrame:
    """One row per (maintained store, lifecycle job): the measured signal
    vs its configured threshold and the resulting ``due`` decision — the
    schedule a deployment would execute. Ensures the session stores exist
    (first call pays the builds the append-family queries share), then
    reads ONLY sidecars, file listings, and parquet footers."""
    thr = dict(maintenance_thresholds())
    if thresholds:
        thr.update(thresholds)

    paths = _store_paths(spark, sf_dir)
    rows: list[tuple] = []
    rows += _bucketed_store_rows(
        spark, "dedup_band_index", paths["dedup_band_index"], thr
    )
    rows += _bucketed_store_rows(
        spark, "shingle_pair_index", paths["shingle_pair_index"], thr
    )

    ivf_path = paths["ivf_append_index"]
    meta = read_store_meta(ivf_path)
    ivf_rows = _store_rows(spark, ivf_path)
    trained = int(meta.get("trained_rows", 0)) or ivf_rows
    arrival_frac = max(0.0, (ivf_rows - trained) / trained) if trained else 0.0
    stats = table_file_stats(ivf_path)
    max_files = max((n for _rel, n, _b in stats), default=0)
    ivf_debris = _debris_dirs(ivf_path)
    rows += [
        (
            "ivf_append_index",
            "recluster",
            "arrival_fraction_since_train",
            round(arrival_frac, 6),
            float(thr["recluster_arrival_fraction"]),
            arrival_frac > thr["recluster_arrival_fraction"],
        ),
        (
            "ivf_append_index",
            "compact",
            "max_files_per_dir",
            float(max_files),
            float(thr["compact_files_per_dir"]),
            max_files > thr["compact_files_per_dir"],
        ),
        (
            "ivf_append_index",
            "vacuum",
            "debris_dirs",
            float(ivf_debris),
            float(thr["vacuum_debris_dirs"]),
            ivf_debris >= thr["vacuum_debris_dirs"],
        ),
    ]
    return spark.createDataFrame(rows, REPORT_SCHEMA)


def run_due_maintenance(
    spark: SparkSession,
    sf_dir: str,
    thresholds: dict | None = None,
    max_retries: int = 0,
    retry_delay: float = 0.0,
) -> dict:
    """Execute the schedule :func:`maintenance_report` decides (VERDICT
    r12 #3 — the report said WHEN, nothing ran the jobs): for every row
    where ``due``, invoke the matching lifecycle job on that store under
    the pipeline runner's stage capture (timing/status/retries —
    pipelines/runner.py ``_run_stage``), in report order — rebucket /
    recluster first, compact next, vacuum last per store, so a rewrite
    never immediately re-dirties a just-vacuumed store.

    Job dispatch is generic: the bucketed stores' sidecars record their
    ``key_col``, the rebucket target is ``ceil(rows / threshold)`` buckets
    (restores the designed per-bucket size with the due test's own
    arithmetic — post-job average <= threshold, so the flag clears), and
    each job's completion resets its signal (compaction bin-packs to the
    floor, vacuum removes exactly what ``_debris_dirs`` counts, recluster
    restamps ``trained_rows``). Running it twice is therefore a no-op the
    second time — idempotence is pytest-locked.

    Returns ``{"executed": {stage: capture}, "skipped": [stage, ...],
    "thresholds": thr}``; a failed job is captured as ``FAILED`` (the
    caller's gate decides fate, the runner contract), never raised.

    At 100 TB this is the scheduler tick: run it off the serving path on
    a cadence; each job is itself linear-pass/off-path by design."""
    from math import ceil

    from ..operators.layout import compact_store, rebucket_store
    from ..pipelines.runner import _run_stage

    thr = dict(maintenance_thresholds())
    if thresholds:
        thr.update(thresholds)
    paths = _store_paths(spark, sf_dir)
    report = maintenance_report(spark, sf_dir, thresholds=thr).collect()

    def _job(store: str, job: str, path: str):
        if job == "rebucket":

            def run() -> None:
                key_col = read_store_meta(path).get("key_col")
                if not key_col:
                    raise ValueError(
                        f"store {store} at {path} has no key_col in its "
                        "sidecar — cannot rebucket"
                    )
                rows = _store_rows(spark, path)
                target = max(1, ceil(rows / thr["rebucket_rows_per_bucket"]))
                rebucket_store(spark, path, key_col, target)

            return run
        if job == "compact":
            return lambda: compact_store(spark, path)
        if job == "vacuum":
            return lambda: vacuum_table(path)
        if job == "recluster":
            from .similarity import recluster_ivf_store

            return lambda: recluster_ivf_store(spark, sf_dir)
        raise ValueError(f"unknown maintenance job {job!r} for {store!r}")

    executed: dict = {}
    skipped: list[str] = []
    for r in report:
        stage = f"{r.store}:{r.job}"
        if not r.due:
            skipped.append(stage)
            continue
        _run_stage(
            executed, stage, _job(r.store, r.job, paths[r.store]),
            max_retries, retry_delay,
        )
    return {"executed": executed, "skipped": skipped, "thresholds": thr}


def register_all(register) -> None:
    # oracle-free by design: the signals are sidecar/filesystem state, not
    # SQL over the test tables — the driver records a rows-only check and
    # the policy arithmetic is pytest-locked instead
    register("maintenance_report", maintenance_report)
