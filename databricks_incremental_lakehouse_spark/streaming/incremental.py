"""Incremental ingestion — Structured Streaming + keyed merge upsert.

The reference is named "incremental" but re-overwrites every table per run
(INSERT OVERWRITE, extract_orders.py:72-88; SURVEY.md gestalt). This module
supplies the genuinely incremental path named as the rebuild's north star
(BASELINE.json ``spark_approach``): a streaming source -> watermark ->
keyed dedup -> ``foreachBatch`` merge into the target table.

On Databricks/Delta runtimes the merge body is ``DeltaTable.merge`` (MERGE
INTO keyed on the same PKs the reference dedups on); this harness has no
Delta, so :func:`merge_upsert` implements the same upsert contract over a
parquet directory hash-bucketed on the merge key. Semantics match MERGE
WHEN MATCHED UPDATE SET * / WHEN NOT MATCHED INSERT *.

Scale notes: the target is partitioned by ``_kb = pmod(xxhash64(keys),
num_buckets)`` so a micro-batch rewrites ONLY the buckets containing
updated keys — O(batch x table/num_buckets), not O(table). Untouched
bucket directories are never opened; their files stay byte-identical
(asserted in tests). Each touched bucket is rebuilt in a staging dir and
swapped in with two directory renames (new data is fully written before
the old is unlinked; a crash between the renames leaves the previous
image in ``.<bucket>.old`` (dot-prefixed so partition discovery ignores
it), restored automatically on the next merge — the narrow non-atomic
window Delta's transaction log closes). ``num_buckets`` scales with table
size (date/key-range partitioning at prod; 1000s of buckets at 100 TB).
Streaming dedup state is bounded by the watermark via
``dropDuplicatesWithinWatermark``.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import threading
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructField, StructType
from ..pinning import pin

from ..operators import dedup_latest

# internal key-bucket partition column of merge targets (derivable from the
# merge keys, so it is dropped on read — see read_merge_target)
BUCKET_COL = "_kb"


def _key_bucket(keys: Sequence[str], num_buckets: int):
    return F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(num_buckets)).cast(
        "int"
    )


def _ns_cond(left: DataFrame, right: DataFrame, cols: Sequence[str]):
    """Null-safe equi-join condition on ``cols``. Merge/CDC key columns may
    legitimately hold NULL (e.g. a CDC totals target grouped by a nullable
    column); plain ``=`` never matches NULL, so a plain-equality semi/anti
    join silently drops or duplicates the NULL-keyed group. ``eqNullSafe``
    stays a hash-joinable equi-predicate, so plan shape is unchanged."""
    cond = left[cols[0]].eqNullSafe(right[cols[0]])
    for c in cols[1:]:
        cond = cond & left[c].eqNullSafe(right[c])
    return cond


# sidecar recording the physical layout of a merge target; lives inside the
# target dir. The leading '_' with no '=' keeps Spark's file listing from
# treating it as data (HadoopFSUtils.shouldFilterOutPathName).
META_FILE = "_merge_meta.json"
# staged sidecar image (dot-prefixed: invisible to Spark's file listing),
# promoted over META_FILE by a single atomic rename — see _promote_meta
_META_STAGED = f".{META_FILE}.staged"


def _nullable_schema(schema):
    """Rebuild ``schema`` with every field nullable. Explicit-schema reads
    apply the declared nullability verbatim; after a widening evolution,
    untouched buckets backfill NULL into the new column, so a schema that
    declares it non-nullable (e.g. a lit()-derived update column) would let
    the optimizer exploit a false IsNotNull assertion and silently drop or
    mis-simplify rows. Every pinned/explicit schema goes through here."""
    return StructType(
        [StructField(f.name, f.dataType, True, f.metadata) for f in schema.fields]
    )


def _write_meta(
    target_path: str,
    keys: Sequence[str],
    num_buckets: int,
    bucket_keys: Sequence[str],
    partition_cols: Sequence[str],
    schema=None,
    staged: bool = False,
) -> None:
    """Write the sidecar atomically: temp file + os.rename, so a crash
    mid-write can never leave a truncated JSON where the sidecar was (the
    table would otherwise become unreadable on every subsequent read).
    ``staged=True`` leaves the image under the dot-prefixed staged name for
    :func:`_promote_meta` — the merge stages the evolved schema BEFORE its
    bucket swaps and promotes it after, so readers never see swapped data
    under an older pinned schema (and recovery promotes a leftover stage)."""
    payload = {
        "keys": list(keys),
        "num_buckets": int(num_buckets),
        "bucket_keys": list(bucket_keys),
        "partition_cols": list(partition_cols),
    }
    if schema is not None:
        # authoritative payload schema (bucket col excluded): single-footer
        # inference sees only the first-listed file, so an evolved column
        # living in other buckets would be invisible to inference — the
        # sidecar is the source of truth for readers and later merges.
        # Pinned all-nullable: see _nullable_schema.
        payload["schema"] = _nullable_schema(schema).jsonValue()
    final = os.path.join(target_path, _META_STAGED if staged else META_FILE)
    tmp = os.path.join(target_path, f".{META_FILE}.tmp")
    with open(tmp, "w") as f:
        json.dump(payload, f)
    os.rename(tmp, final)


def _promote_meta(target_path: str) -> None:
    """Atomically promote a staged sidecar image over META_FILE (no-op when
    none is staged). Promoting a stage left by a crash is always safe: the
    staged schema is a superset of the stored one (evolution never drops
    columns) and all-nullable, so files not yet carrying a column read NULL
    — whereas the stale schema would HIDE physically present data."""
    staged = os.path.join(target_path, _META_STAGED)
    if os.path.isfile(staged):
        os.rename(staged, os.path.join(target_path, META_FILE))


def _read_meta(target_path: str, strict: bool = False) -> dict | None:
    """``strict=False`` (read paths): a corrupt/unreadable sidecar (legacy
    pre-atomic writers could truncate it) must not take the table down —
    fall back to the footer-union read path, which every caller handles
    (meta=None). ``strict=True`` (the MERGE path): a merge without the
    sidecar's num_buckets could scatter a key across two buckets and
    silently duplicate it — data corruption beats unavailability, so the
    merge fails loudly instead."""
    _promote_meta(target_path)  # finish a promote interrupted by a crash
    p = os.path.join(target_path, META_FILE)
    if not os.path.isfile(p):
        return None
    try:
        with open(p) as f:
            return json.load(f)
    except (json.JSONDecodeError, OSError) as exc:
        if strict:
            raise ValueError(
                f"corrupt merge sidecar {p!r}: refusing to merge without "
                "the stored bucket layout (a wrong num_buckets would "
                "silently duplicate keys). Restore or delete the sidecar "
                f"after verifying the layout. Original error: {exc}"
            ) from exc
        return None


def _stored_schema(meta: dict | None) -> StructType | None:
    """The sidecar's pinned payload schema, forced nullable (this covers
    sidecars pinned before the rule: files from buckets untouched since an
    evolution backfill NULL into the new column, so a non-null declaration
    would be a lie the optimizer can exploit). None without one."""
    if meta is None or not meta.get("schema"):
        return None
    return _nullable_schema(StructType.fromJson(meta["schema"]))


def _has_table(target_path: str) -> bool:
    """Whether a TABLE lives at ``target_path`` — a merge sidecar (staged
    or promoted) or any parquet data. A directory holding only auxiliary
    files (e.g. the fold watermark's intent stamp, written before the
    first fold lands) is NOT a table: treating it as one sent the merge
    down the existing-table read path against zero files."""
    if not os.path.isdir(target_path):
        return False
    if os.path.isfile(os.path.join(target_path, META_FILE)) or os.path.isfile(
        os.path.join(target_path, _META_STAGED)
    ):
        return True
    for _dirpath, _dirs, files in os.walk(target_path):
        if any(f.endswith(".parquet") for f in files):
            return True
    return False


def _backup_path(dst: str) -> str:
    # leading '.' => ignored by Spark partition discovery even though the
    # name contains '=' (unlike '<dir>.old', which would be parsed as a
    # partition value and flip the bucket column to string)
    parent, base = os.path.split(dst.rstrip("/"))
    return os.path.join(parent, f".{base}.old")


# Serializes every swap publish against every swap recovery in this
# process (r12 review): without it a reader that probes a store during a
# live swap's mid-window (after rename(dst, old), before rename(src,
# dst)) sees the store missing, "recovers" the backup, and the swapper's
# final rename then fails with ENOTEMPTY. Both sides are driver-side
# metadata ops (renames; the expensive parquet writes happen before the
# swap), so the lock costs nothing on the serving path. RLock because a
# lifecycle job may recover-then-swap in one thread.
_SWAP_LOCK = threading.RLock()


def _swap_dir(src: str, dst: str) -> None:
    """Replace ``dst`` with ``src`` via renames: the new image is complete
    on disk before the old one is unlinked. Holds :data:`_SWAP_LOCK`
    across both renames so in-process readers (``_recover_swaps``) can
    never observe — and "fix" — the mid-swap window."""
    with _SWAP_LOCK:
        old = _backup_path(dst)
        if os.path.isdir(old):
            shutil.rmtree(old)
        if os.path.isdir(dst):
            os.rename(dst, old)
        os.rename(src, dst)
        shutil.rmtree(old, ignore_errors=True)


def _recover_swaps(target_path: str) -> None:
    """Finish any swap interrupted between its two renames.

    A leftover ``.<name>.old`` whose ``<name>`` is missing is the ONLY
    surviving copy of that bucket (the crash hit after the old image was
    moved aside but before the new one landed) — restore it. If ``<name>``
    exists the swap completed; the backup is stale and safe to drop.
    Walks the whole tree so nested layouts (``year=Y/_kb=N``) recover too.
    Serialized against live swaps via :data:`_SWAP_LOCK` — a mid-swap
    window is indistinguishable from a crash by filesystem state alone,
    so recovery must wait for any in-flight publish to finish (at which
    point the store exists again and recovery is a no-op).
    """
    parent, base = os.path.split(target_path.rstrip("/"))
    with _SWAP_LOCK:
        whole = os.path.join(parent, f".{base}.old")
        if os.path.isdir(whole) and not os.path.isdir(target_path):
            os.rename(whole, target_path)
        if not os.path.isdir(target_path):
            return
        pending = []
        for dirpath, dirs, _files in os.walk(target_path):
            for name in dirs:
                if name.startswith(".") and name.endswith(".old"):
                    pending.append((dirpath, name))
        for dirpath, name in pending:
            dst = os.path.join(dirpath, name[1:-4])
            old = os.path.join(dirpath, name)
            if os.path.isdir(dst):
                shutil.rmtree(old)
            else:
                os.rename(old, dst)


def _leaf_dirs(root: str, levels: int) -> set[str]:
    """Relative ``col=value/.../_kb=N`` leaf partition dirs under ``root``
    (``levels`` path segments deep). Glob's default skips dotted backups."""
    pat = os.path.join(root, *(["*=*"] * levels))
    return {os.path.relpath(p, root) for p in glob.glob(pat) if os.path.isdir(p)}


def _dir_bucket(rel_dir: str) -> int:
    return int(os.path.basename(rel_dir).split("=", 1)[1])


def _dir_in_scope(rel_dir: str, partition_scope: dict | None) -> bool:
    if not partition_scope:
        return True
    seen = dict(
        seg.split("=", 1) for seg in rel_dir.split(os.sep) if "=" in seg
    )
    return all(
        seen.get(col) in {str(v) for v in vals}
        for col, vals in partition_scope.items()
        if col in seen
    )


def read_merge_target(spark: SparkSession, target_path: str) -> DataFrame:
    """Read a merge target without its internal bucket partition column.

    After schema evolution a column may live only in the buckets rewritten
    since it appeared, and single-footer inference would hide it whenever
    those buckets do not list first. The meta sidecar's pinned schema is
    the fast path: an EXPLICIT-schema read touches no footers at all
    (name-based parquet projection backfills NULLs where a file lacks the
    column, partition dirs still discovered) and fixes the column order.
    Legacy targets without a schema sidecar fall back to the footer-UNION
    read (``mergeSchema``)."""
    schema = _stored_schema(_read_meta(target_path))
    if schema is not None:
        return (
            spark.read.schema(schema)
            .parquet(target_path)
            .select(*[f.name for f in schema.fields])
        )
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(target_path)
        .drop(BUCKET_COL)
    )


def _recover_changelog(changelog_dir: str) -> None:
    """Finish a checkpoint swap interrupted between its two renames: a
    ``.commit=N.old`` backup whose ``commit=N`` is missing is the only
    surviving copy of that commit — restore it (mirror of
    :func:`_recover_swaps` for the feed). Stale ``.commit=*._staging``
    dirs are left alone: dot-prefixed, they are invisible to every read
    path, and the writer that owns the slot clears them before writing."""
    if not os.path.isdir(changelog_dir):
        return
    for name in os.listdir(changelog_dir):
        if name.startswith(".commit=") and name.endswith(".old"):
            dst = os.path.join(changelog_dir, name[1:-4])
            old = os.path.join(changelog_dir, name)
            if os.path.isdir(dst):
                shutil.rmtree(old)
            else:
                os.rename(old, dst)


def _next_commit(changelog_dir: str) -> int:
    # counts EVERY commit=* dir, committed or not: a partial dir from a
    # pre-staging crash must keep its sequence number squatted so the next
    # staged commit cannot collide with it on publish
    os.makedirs(changelog_dir, exist_ok=True)
    _recover_changelog(changelog_dir)
    seqs = [
        int(os.path.basename(p).split("=", 1)[1])
        for p in glob.glob(os.path.join(changelog_dir, "commit=*"))
        if os.path.isdir(p)
    ]
    return max(seqs, default=-1) + 1


def _committed_dirs(changelog_dir: str) -> list[str]:
    """Commit dirs carrying a ``_SUCCESS`` marker, in sequence order. A dir
    without the marker is a torn write (crash mid-write before the staging
    rename existed, pre-fix feeds) and must not be read as committed."""
    return sorted(
        (
            p
            for p in glob.glob(os.path.join(changelog_dir, "commit=*"))
            if os.path.isdir(p) and os.path.isfile(os.path.join(p, "_SUCCESS"))
        ),
        key=lambda p: int(os.path.basename(p).split("=", 1)[1]),
    )


def _publish_commit(staging: str, final: str) -> None:
    """Atomically promote a fully-written staged commit dir into the feed
    (or a staged delta into a totals target's pending deltas). A squatting
    partial dir (no ``_SUCCESS``) is garbage from a torn pre-fix write —
    replaced; a committed dir at the same slot means a second writer raced
    this one, which the single-writer contract forbids."""
    if os.path.isdir(final):
        if os.path.isfile(os.path.join(final, "_SUCCESS")):
            raise RuntimeError(
                f"commit {final!r} already exists — concurrent "
                "writers on one merge target are not supported"
            )
        shutil.rmtree(final)
    os.rename(staging, final)


def read_changelog(spark: SparkSession, changelog_dir: str) -> DataFrame:
    """Read a merge target's change data feed: the payload columns plus
    ``_op`` (insert | update | delete) and the partition-discovered
    ``commit`` sequence number. Only commits with a ``_SUCCESS`` marker
    are read — a torn commit dir is invisible, never half-applied."""
    _recover_changelog(changelog_dir)
    dirs = _committed_dirs(changelog_dir)
    if not dirs:
        # no committed commits: defer to the plain read so the caller sees
        # the standard empty-/missing-path analysis error
        return spark.read.parquet(changelog_dir)
    return (
        spark.read.option("basePath", changelog_dir)
        # commits written before a schema evolution lack the new columns;
        # the footer-union read surfaces them as NULLs instead of hiding
        # them behind whichever commit's footer lists first
        .option("mergeSchema", "true")
        .parquet(*dirs)
    )


def read_as_of(
    spark: SparkSession,
    changelog_dir: str,
    keys: Sequence[str],
    commit: int,
) -> DataFrame:
    """Time travel: the merge target's state as of ``commit``
    (inclusive), reconstructed from the change data feed — the
    ``VERSION AS OF`` read Delta offers, expressed as one window over the
    feed: for each key, the latest state-bearing change row (insert /
    update_postimage / delete) up to the commit decides presence and
    payload. One shuffle on the keys over O(changes <= commit) rows; no
    dependence on the current table files, so historical states survive
    in-place bucket swaps."""
    log = read_changelog(spark, changelog_dir).filter(
        (F.col("commit") <= commit) & (F.col("_op") != "update_preimage")
    )
    w = Window.partitionBy(*keys).orderBy(F.col("commit").desc())
    return (
        log.withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") == 1) & (F.col("_op") != "delete"))
        .drop("_rn", "_op", "commit")
    )


def checkpoint_changelog(
    spark: SparkSession,
    changelog_dir: str,
    keys: Sequence[str],
    upto: int,
) -> None:
    """Squash commits ``0..upto`` into one base snapshot commit — the
    checkpointing that keeps time travel sustainable: ``read_as_of``
    replays O(changes since checkpoint), not the table's whole history,
    and the feed's storage stops growing with dead intermediate states.

    The state as of ``upto`` is materialized (all rows as ``insert`` —
    exactly what an initial-load commit looks like), atomically swapped
    in as ``commit=upto``, and only then are the earlier commit dirs
    removed. The ordering makes every crash point safe: until the swap
    completes nothing has been deleted (full history intact); after it,
    the snapshot at ``upto`` supersedes every older commit per key, so a
    partially-finished deletion pass changes no ``read_as_of(>= upto)``
    result. An interrupted swap itself is finished by
    :func:`_recover_changelog` on the next read/write.
    (Unrelated to the totals tombstones of :func:`apply_cdf_delta`.)
    Reads at or after ``upto`` are unaffected (asserted in tests); reads
    BEFORE the checkpoint are no longer possible — the retention
    trade-off every log-structured system makes.

    MUST NOT run while (or before) a file-source streaming consumer of
    this feed (:func:`incremental_cdf_aggregate_stream`) holds a
    checkpoint on it: the squashed snapshot's files are NEW paths, so such
    a consumer re-applies the full state as fresh inserts on top of totals
    it already holds — double counting. Checkpoint a feed only when its
    streaming consumers are reset (fresh checkpoint dir) or retired; the
    docstring of :func:`incremental_cdf_aggregate_stream` states the same
    contract from the consumer side."""
    _recover_changelog(changelog_dir)
    state = read_as_of(spark, changelog_dir, keys, upto).withColumn(
        "_op", F.lit("insert")
    )
    staging = os.path.join(changelog_dir, f".commit={upto}._staging")
    shutil.rmtree(staging, ignore_errors=True)
    state.write.parquet(staging)  # materialized BEFORE any dir is touched
    final = os.path.join(changelog_dir, f"commit={upto}")
    _swap_dir(staging, final)
    for p in glob.glob(os.path.join(changelog_dir, "commit=*")):
        if os.path.isdir(p) and int(os.path.basename(p).split("=", 1)[1]) < upto:
            shutil.rmtree(p)


def restore_to_commit(
    spark: SparkSession,
    target_path: str,
    changelog_dir: str,
    keys: Sequence[str],
    commit: int,
) -> None:
    """Delta ``RESTORE TABLE ... VERSION AS OF`` analogue: roll the merge
    target back to its state as of ``commit``, expressed as ONE full-image
    scoped merge — updates = the historical state (:func:`read_as_of`),
    scope = every bucket key present in either the current table or the
    restored image. The merge then deletes rows created since the commit
    (in scope, absent from updates), reverts changed rows, and re-inserts
    rows deleted since — and, because it IS a merge, the restore itself
    lands in the change data feed as a new commit (inserts/updates/deletes
    describing the rollback), exactly Delta's restore-is-a-new-version
    semantics: history is never rewritten, downstream CDF consumers see
    the rollback as ordinary changes.

    Cost is O(table + changes<=commit) — a restore is inherently a
    full-image operation; the bucketed layout still bounds each swap to
    its dirs. Layout params (bucket keys, partition cols) come from the
    target's sidecar, so callers cannot scatter the restored image across
    a different layout."""
    meta = _read_meta(target_path, strict=True)
    if meta is None:
        raise ValueError(
            f"{target_path!r} has no merge sidecar — not a merge target"
        )
    if list(meta["keys"]) != list(keys):
        raise ValueError(
            f"restore keys {list(keys)!r} do not match the target's stored "
            f"keys {meta['keys']!r}"
        )
    bucket_keys = list(meta["bucket_keys"])
    state = read_as_of(spark, changelog_dir, keys, commit)
    scope = (
        read_merge_target(spark, target_path)
        .select(*bucket_keys)
        .unionByName(state.select(*bucket_keys))
        .distinct()
    )
    merge_upsert(
        spark,
        state,
        target_path,
        keys=keys,
        bucket_keys=bucket_keys,
        partition_cols=meta.get("partition_cols", ()),
        scope=scope,
        changelog_dir=changelog_dir,
    )


def merge_upsert(
    spark: SparkSession,
    updates: DataFrame,
    target_path: str,
    keys: Sequence[str],
    tiebreak_cols: Sequence[str] | None = None,
    num_buckets: int = 16,
    bucket_keys: Sequence[str] | None = None,
    scope: DataFrame | None = None,
    partition_cols: Sequence[str] = (),
    partition_scope: dict[str, Sequence] | None = None,
    deletes: DataFrame | None = None,
    on_match: str = "update",
    changelog_dir: str | None = None,
    touched_buckets: Sequence[int] | None = None,
) -> None:
    """Upsert ``updates`` into the bucketed parquet table at ``target_path``.

    Equivalent to ``MERGE INTO target USING updates ON keys WHEN MATCHED
    THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *`` — last-writer-wins
    within ``updates`` via the deterministic keep-latest dedup. With
    ``scope``, the semantics extend to Delta's ``WHEN NOT MATCHED BY SOURCE
    THEN DELETE`` restricted to the scoped key values: every target row
    whose ``bucket_keys`` match a scope row is replaced wholesale by the
    rows in ``updates`` (which may be none — a scoped delete). That is the
    changed-key refresh contract: the caller supplies the COMPLETE new
    image of each scoped key. ``deletes`` adds ``WHEN MATCHED THEN DELETE``:
    a DataFrame of full-key rows to drop exactly (needed e.g. when an
    entity's bucket key changes — the old image lives in a bucket the new
    image does not touch). ``on_match="keep"`` is the insert-only merge
    (``WHEN NOT MATCHED THEN INSERT *`` with no matched clause): an
    existing key's stored row wins over any re-delivery — the keep-FIRST
    registry semantics (e.g. a streaming content-hash dedup registry);
    incompatible with ``scope``/``deletes``, which assume the caller
    replaces stored images. Together these paths cover the whole Delta
    MERGE surface.

    Layout: rows land in ``<partition_cols...>/_kb=pmod(xxhash64(
    bucket_keys), num_buckets)`` dirs. ``bucket_keys`` (default ``keys``)
    must be a subset of ``keys`` so a key's rows always share a bucket;
    using a coarser bucket key (e.g. the order key for line-grain rows)
    makes whole-entity replacement partition-restricted. ``partition_cols``
    add visible partitions ahead of the hash bucket (e.g. ``order_year``)
    so downstream range predicates prune files; ``partition_scope``
    (col -> allowed values) additionally restricts the merge's read+swap
    set when the caller knows which partition values can hold affected
    rows (old image ∪ new image).

    Partition-restricted: only buckets containing an updated/scoped key
    are read, merged, and swapped; every other bucket's files are
    untouched. The bucket-id collect is bounded by ``num_buckets``, never
    by data size.

    The target's layout (``keys``/``bucket_keys``/``partition_cols`` +
    ``num_buckets``) is pinned in a ``_merge_meta.json`` sidecar on initial
    write; later merges validate the key spec and USE THE STORED bucket
    count, so a caller passing a different ``num_buckets`` cannot silently
    scatter a key across two buckets and duplicate it. Empty micro-batches
    (all rows dropped by watermark dedup, or an empty source file) are a
    no-op — they neither materialize a file-less target nor touch any
    bucket.

    ``changelog_dir`` enables the change data feed (Delta CDF analogue,
    same ``_op`` vocabulary as Delta's ``_change_type``): each merge
    appends its row-level changes under ``changelog_dir/commit=N`` (N
    monotonic per merge) — ``insert`` (key did not exist),
    ``update_preimage`` + ``update_postimage`` (key replaced: the stored
    row and its replacement), ``delete`` (the removed preimage; produced
    by ``deletes`` rows and by scoped keys whose new image omits them).
    Preimages are what let a downstream consumer find VACATED values (a
    row whose partition value changed appears in both its old and new
    location). The change computation reuses the already-bucket-pruned
    ``current`` read, so its cost is bounded by the touched buckets like
    the merge itself. Replaying commits in order over an empty state
    (applying postimages, ignoring preimages) reconstructs the target
    exactly (asserted in tests) — the contract downstream incremental
    consumers (gold refresh, registries, audits) need.
    """
    bucket_keys = list(bucket_keys) if bucket_keys is not None else list(keys)
    partition_cols = list(partition_cols)
    if not set(bucket_keys) <= set(keys):
        raise ValueError(
            f"bucket_keys {bucket_keys!r} must be a subset of keys {list(keys)!r}"
        )
    if on_match not in ("update", "keep"):
        raise ValueError(f"on_match must be 'update' or 'keep', got {on_match!r}")
    if on_match == "keep" and (scope is not None or deletes is not None):
        raise ValueError("on_match='keep' cannot be combined with scope/deletes")

    _recover_swaps(target_path)
    initial = not _has_table(target_path)
    meta = None
    if not initial:
        meta = _read_meta(target_path, strict=True)
        if meta is not None:
            for fld, val in (
                ("keys", list(keys)),
                ("bucket_keys", bucket_keys),
                ("partition_cols", partition_cols),
            ):
                if list(meta.get(fld, val)) != val:
                    raise ValueError(
                        f"merge {fld} {val!r} do not match the target's "
                        f"stored {fld} {meta[fld]!r} ({target_path})"
                    )
            num_buckets = int(meta["num_buckets"])

    evolved_cols: list[str] = []
    if not initial:
        # Schema evolution (Delta mergeSchema semantics). Widening is free:
        # the bucket-pruned read applies the updates schema by NAME, so a
        # stored file missing a new column yields NULLs. The dangerous
        # direction is a NARROWER later batch: rewritten buckets would
        # silently drop an evolved column while untouched buckets keep it
        # (per-bucket schema divergence — found by probing). So stored
        # columns missing from the updates are re-added (``evolved_cols``;
        # matched rows later INHERIT their stored values, Delta's UPDATE
        # SET * behavior), and a same-name type conflict fails loudly.
        # The stored schema comes from the meta sidecar (authoritative);
        # legacy targets without one fall back to the footer-UNION read —
        # single-footer inference sees only the first-listed file and
        # misses evolved columns living elsewhere (r7 review reproduction).
        stored_schema = _stored_schema(meta) or (
            spark.read.option("mergeSchema", "true").parquet(target_path).schema
        )
        for fld in stored_schema.fields:
            if fld.name == BUCKET_COL:
                continue
            if fld.name not in updates.columns:
                updates = updates.withColumn(
                    fld.name, F.lit(None).cast(fld.dataType)
                )
                evolved_cols.append(fld.name)
            elif updates.schema[fld.name].dataType != fld.dataType:
                raise ValueError(
                    f"schema evolution type conflict on {fld.name!r}: "
                    f"stored {fld.dataType.simpleString()} vs updates "
                    f"{updates.schema[fld.name].dataType.simpleString()} "
                    f"({target_path})"
                )
    updates = dedup_latest(updates, keys=keys, tiebreak_cols=tiebreak_cols)
    updates = updates.withColumn(BUCKET_COL, _key_bucket(bucket_keys, num_buckets))
    if scope is not None:
        scope = (
            scope.select(*bucket_keys)
            .distinct()
            .withColumn(BUCKET_COL, _key_bucket(bucket_keys, num_buckets))
        )
    if deletes is not None:
        deletes = (
            deletes.select(*keys)
            .distinct()
            .withColumn(BUCKET_COL, _key_bucket(bucket_keys, num_buckets))
        )
    changes = None
    if initial:
        merged = updates
        touched = None
        if changelog_dir is not None:  # initial load: everything is an insert
            changes = updates.drop(BUCKET_COL).withColumn("_op", F.lit("insert"))
    else:
        if touched_buckets is not None:
            # caller-supplied bucket set (apply_doc_updates collects one
            # set for both of its merges; re-collecting would re-run the
            # updates lineage). The caller ASSERTS every updates/scope/
            # deletes row hashes into these buckets under the stored bucket
            # count (_key_bucket over the same columns); staged strays are
            # refused in _commit_buckets, before any swap.
            touched = set(touched_buckets)
        else:
            tsrc = updates.select(BUCKET_COL)
            if scope is not None:
                tsrc = tsrc.unionByName(scope.select(BUCKET_COL))
            if deletes is not None:
                tsrc = tsrc.unionByName(deletes.select(BUCKET_COL))
            touched = {r[0] for r in tsrc.distinct().collect()}
        if not touched:  # empty micro-batch: nothing to merge
            return
        # partition filter -> only the touched bucket dirs are scanned;
        # explicit schema so a (legacy) file-less target cannot poison the
        # read; forced nullable so NULL-backfilled evolved columns cannot
        # trip a false non-null assertion (see _nullable_schema)
        current = (
            spark.read.schema(_nullable_schema(updates.schema))
            .parquet(target_path)
            .filter(F.col(BUCKET_COL).isin(sorted(touched)))
        )
        if partition_scope:
            for col, vals in partition_scope.items():
                current = current.filter(F.col(col).isin(list(vals)))
        if evolved_cols and on_match == "update":
            # current is referenced twice on this (rare) path — by the
            # inherit slice below and by the merge image — so pin the
            # touched-bucket read once
            current = pin(current)
            # Delta's UPDATE SET * preserves target-only columns on matched
            # rows: a source that never learned about an evolved column
            # must not NULL it out on re-delivery/update. Pull the stored
            # values for matched keys from the already-pruned current read
            # (new keys keep the NULL placeholder).
            inherit = current.select(
                *[F.col(k).alias(f"__ik_{k}") for k in keys],
                *[F.col(c).alias(f"__cur_{c}") for c in evolved_cols],
            )
            cond = None
            for k in keys:
                c = updates[k].eqNullSafe(inherit[f"__ik_{k}"])
                cond = c if cond is None else (cond & c)
            updates = updates.join(inherit, cond, "left")
            for c in evolved_cols:
                updates = updates.withColumn(c, F.col(f"__cur_{c}")).drop(
                    f"__cur_{c}"
                )
            updates = updates.drop(*[f"__ik_{k}" for k in keys])
        # every key-matching join below is null-safe: a NULL in a merge key
        # (legal for e.g. CDC totals grouped on a nullable column) must
        # match its stored NULL row, or the merge both keeps the stale row
        # and inserts the new one
        if changelog_dir is None:
            if on_match == "keep":
                # insert-only: stored rows win; only genuinely new keys land
                ck = current.select(*keys)
                new_rows = updates.join(
                    ck, _ns_cond(updates, ck, keys), "left_anti"
                )
                merged = current.unionByName(new_rows)
            else:
                if scope is None:
                    uk = updates.select(*keys)
                    kept = current.join(
                        uk, _ns_cond(current, uk, keys), "left_anti"
                    )
                else:
                    sk = scope.select(*bucket_keys)
                    kept = current.join(
                        sk, _ns_cond(current, sk, bucket_keys), "left_anti"
                    )
                if deletes is not None:
                    dk = deletes.select(*keys)
                    kept = kept.join(dk, _ns_cond(kept, dk, keys), "left_anti")
                merged = kept.unionByName(updates)
        else:
            # Changelog-bearing merge: ONE null-safe full-outer join of
            # updates vs the touched stored rows classifies every key and
            # yields BOTH the change rows and the merged image. Both sides
            # are key-unique (updates via dedup_latest, the target by merge
            # invariant), so the join is 1:1 and each piece is a row-local
            # predicate over it:
            #   insert        = update present, stored absent
            #   pre/postimage = both present (on_match='update')
            #   delete        = stored-only and (in scope | in deletes)
            #   kept row      = stored row the anti-join chain above keeps
            #                   (a key-matched row outside the bucket-key
            #                   scope is kept ALONGSIDE its update)
            # Pinned: two consumers, the change write and the staging write.
            ucols = list(updates.columns)  # payload + BUCKET_COL
            payload = [c for c in ucols if c != BUCKET_COL]
            u = updates.select(
                *[F.col(c).alias(f"_u_{c}") for c in ucols],
                F.lit(True).alias("_u_p"),
            )
            cfrm = current.select(
                *[F.col(c).alias(f"_c_{c}") for c in ucols],
                F.lit(True).alias("_c_p"),
            )
            jcond = None
            for k in keys:
                e = F.col(f"_u_{k}").eqNullSafe(F.col(f"_c_{k}"))
                jcond = e if jcond is None else (jcond & e)
            j = u.join(cfrm, jcond, "full_outer")
            if scope is not None:
                sfl = scope.select(
                    *[F.col(k).alias(f"_s_{k}") for k in bucket_keys]
                ).withColumn("_s_p", F.lit(True))
                scond = None
                for k in bucket_keys:
                    e = F.col(f"_c_{k}").eqNullSafe(F.col(f"_s_{k}"))
                    scond = e if scond is None else (scond & e)
                j = j.join(F.broadcast(sfl), scond, "left")
            if deletes is not None:
                dfl = deletes.select(
                    *[F.col(k).alias(f"_d_{k}") for k in keys]
                ).withColumn("_d_p", F.lit(True))
                dcond = None
                for k in keys:
                    e = F.col(f"_c_{k}").eqNullSafe(F.col(f"_d_{k}"))
                    dcond = e if dcond is None else (dcond & e)
                j = j.join(F.broadcast(dfl), dcond, "left")
            j = pin(j)
            up = F.coalesce(F.col("_u_p"), F.lit(False))
            cp = F.coalesce(F.col("_c_p"), F.lit(False))
            sp = (
                F.coalesce(F.col("_s_p"), F.lit(False))
                if scope is not None
                else F.lit(False)
            )
            dp = (
                F.coalesce(F.col("_d_p"), F.lit(False))
                if deletes is not None
                else F.lit(False)
            )

            def _as_struct(side: str, cols: list[str], op: str | None):
                fields = [F.col(f"_{side}_{c}").alias(c) for c in cols]
                if op is not None:
                    fields.append(F.lit(op).alias("_op"))
                return F.struct(*fields)

            # change rows: payload columns + _op, one array element per
            # piece (a scope-AND-deletes hit emits two delete rows)
            elems = [F.when(up & ~cp, _as_struct("u", payload, "insert"))]
            if on_match != "keep":
                elems += [
                    F.when(up & cp, _as_struct("c", payload, "update_preimage")),
                    F.when(up & cp, _as_struct("u", payload, "update_postimage")),
                ]
                if scope is not None:
                    elems.append(
                        F.when(cp & ~up & sp, _as_struct("c", payload, "delete"))
                    )
                if deletes is not None:
                    elems.append(
                        F.when(cp & ~up & dp, _as_struct("c", payload, "delete"))
                    )
            changes = j.select(
                F.explode(F.array_compact(F.array(*elems))).alias("_e")
            ).select("_e.*")

            # merged image from the same pinned join
            if on_match == "keep":
                u_emit = up & ~cp
                c_emit = cp
            else:
                c_emit = (cp & ~up) if scope is None else (cp & ~sp)
                if deletes is not None:
                    c_emit = c_emit & ~dp
                u_emit = up
            merged = j.select(
                F.explode(
                    F.array_compact(
                        F.array(
                            F.when(u_emit, _as_struct("u", ucols, None)),
                            F.when(c_emit, _as_struct("c", ucols, None)),
                        )
                    )
                ).alias("_m")
            ).select("_m.*")

    _commit_buckets(
        merged, target_path, keys, num_buckets, bucket_keys, partition_cols,
        touched, meta, partition_scope, changes, changelog_dir,
    )


def _commit_buckets(
    merged: DataFrame,
    target_path: str,
    keys: Sequence[str],
    num_buckets: int,
    bucket_keys: Sequence[str],
    partition_cols: Sequence[str],
    touched: set[int] | None,
    meta: dict | None = None,
    partition_scope: dict | None = None,
    changes: DataFrame | None = None,
    changelog_dir: str | None = None,
) -> None:
    """The write half of :func:`merge_upsert` and of the CDF totals
    compaction (:func:`apply_cdf_delta`): commit ``merged`` (with
    ``BUCKET_COL``; EVERY row the ``touched`` buckets keep, or the whole
    table when ``touched`` is None) over the stored sidecar ``meta``.
    Staging write, stray check, schema stage, swaps, stale dirs, empty
    placeholder, schema promote, publish. A whole-table commit is ONE swap
    of the target dir: the layout sidecar and the target's other
    top-level files (a fold's intent stamp) are staged with the data, so
    no crash can leave the data without them.
    ``changes`` is staged as a hidden commit before any swap and published
    into the feed after the last — the feed never holds a commit the table
    did not apply, and a torn write is invisible (reads need ``_SUCCESS``).
    The residual window: a crash between the final swap and the publish
    loses the feed's copy of an applied commit."""
    partition_cols = list(partition_cols)
    initial = touched is None
    staging = target_path.rstrip("/") + "._staging"
    shutil.rmtree(staging, ignore_errors=True)
    levels = len(partition_cols) + 1
    # cluster rows by their destination dir before the write: each
    # (partition..., bucket) dir then receives one file from one task
    # instead of a sliver from every shuffle partition — file count stays
    # O(dirs), not O(dirs x shuffle_partitions). At 100 TB the same shuffle
    # is what Delta's optimizeWrite performs.
    merged.repartition(*partition_cols, BUCKET_COL).write.mode(
        "overwrite"
    ).partitionBy(*partition_cols, BUCKET_COL).parquet(staging)
    # swap exactly the partition dirs the write produced (not the pre-write
    # collect, whose lineage is recomputed by the write and could diverge
    # under a nondeterministic source)
    staged = _leaf_dirs(staging, levels)
    strays = set() if initial else {_dir_bucket(rel) for rel in staged} - touched
    if strays:
        # the touched_buckets contract, enforced from the listing (no Spark
        # job): a staged bucket whose current image was never read would
        # replace that bucket with the batch's rows alone
        shutil.rmtree(staging, ignore_errors=True)
        raise ValueError(
            f"merge into {target_path} wrote buckets {sorted(strays)} outside "
            f"touched_buckets {sorted(touched)}"
        )
    if initial and not staged:  # empty initial batch: no file-less target
        shutil.rmtree(staging, ignore_errors=True)
        return
    pending_changelog = None
    if changes is not None:
        commit_no = _next_commit(changelog_dir)
        cl_staging = os.path.join(changelog_dir, f".commit={commit_no}._staging")
        shutil.rmtree(cl_staging, ignore_errors=True)
        changes.write.parquet(cl_staging)
        pending_changelog = (
            cl_staging,
            os.path.join(changelog_dir, f"commit={commit_no}"),
        )
    new_schema = merged.drop(BUCKET_COL).schema
    schema_changed = not initial and (
        meta is None
        or meta.get("schema") != _nullable_schema(new_schema).jsonValue()
    )
    if schema_changed:
        # stage the (possibly evolved) schema BEFORE any bucket swap: a
        # crash between the last swap and the pin would otherwise leave
        # readers on a stale schema that hides the evolved column until
        # some later merge re-carries it. Promoted after the swaps (and by
        # recovery); never visible to Spark's listing while staged.
        _write_meta(
            target_path, keys, num_buckets, bucket_keys, partition_cols,
            schema=new_schema, staged=True,
        )
    if initial:
        if os.path.isdir(target_path):
            for name in os.listdir(target_path):
                src = os.path.join(target_path, name)
                if os.path.isfile(src) and not os.path.exists(
                    os.path.join(staging, name)
                ):
                    shutil.copy2(src, staging)
        _write_meta(
            staging, keys, num_buckets, bucket_keys, partition_cols,
            schema=new_schema,
        )
        _swap_dir(staging, target_path)
    else:
        for rel in sorted(staged):
            dst = os.path.join(target_path, rel)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            _swap_dir(os.path.join(staging, rel), dst)
        # an affected dir absent from staging lost ALL its rows (scoped
        # delete or a key that moved partition value) — drop it
        stale = {
            rel
            for rel in _leaf_dirs(target_path, levels)
            if _dir_bucket(rel) in touched and _dir_in_scope(rel, partition_scope)
        } - staged
        for rel in sorted(stale):
            shutil.rmtree(os.path.join(target_path, rel))
        shutil.rmtree(staging, ignore_errors=True)
        if not _leaf_dirs(target_path, levels):
            # a delete/scoped merge removed the LAST row: materialize the
            # empty state as one zero-row, schema-bearing file so the target
            # stays readable (a dir with only _merge_meta.json fails schema
            # inference). Placeholder partition values ("0") carry zero
            # rows, so they never surface in results; numeric/string
            # partition cols both parse.
            leaf = os.path.join(
                target_path, *[f"{c}=0" for c in partition_cols], f"{BUCKET_COL}=0"
            )
            merged.drop(*partition_cols, BUCKET_COL).limit(0).coalesce(
                1
            ).write.mode("overwrite").parquet(leaf)
        if schema_changed:
            _promote_meta(target_path)
    if pending_changelog is not None:
        # the table now fully holds this merge — publish its change commit
        _publish_commit(*pending_changelog)


def incremental_events_stream(
    spark: SparkSession,
    source_dir: str,
    target_path: str,
    checkpoint_dir: str,
    watermark: str = "1 hour",
    available_now: bool = True,
) -> StreamingQuery:
    """File-source streaming ingest of events with watermarked dedup and
    merge upsert per micro-batch.

    ``readStream`` file source at ``source_dir`` (parquet, events schema with
    a proper timestamp ``ts``); ``withWatermark('ts', watermark)`` +
    ``dropDuplicatesWithinWatermark('event_id')`` dedups re-deliveries while
    letting the watermark EVICT per-key state — plain
    ``dropDuplicates('event_id')`` would only purge state when the event-time
    column is among the dedup keys, growing without bound on a long stream.

    Dedup here is deliberately KEEP-FIRST: events are immutable facts, so a
    re-delivery within the watermark horizon is a duplicate of an identical
    payload, not an update. Mutable-row streams (bronze tables) get
    last-writer-wins from the keyed ``dedup_latest`` inside
    :func:`merge_upsert` instead (see :func:`incremental_bronze_stream`).
    Each micro-batch merges into the target keyed on ``event_id``.
    """
    static = spark.read.parquet(source_dir)
    stream = (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
        # watermarks require TIMESTAMP (LTZ); sources written with
        # spark.sql.timestampType=TIMESTAMP_NTZ would otherwise fail analysis
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["event_id"])
    )

    def _merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        merge_upsert(
            batch_df.sparkSession,
            batch_df,
            target_path,
            keys=["event_id"],
        )

    writer = (
        stream.writeStream.foreachBatch(_merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# pending merge-on-read deltas of a CDF totals target, one ``d=<seq>`` dir
# per fold. The leading '_' with no '=' keeps Spark's scan of the target
# from listing them (as for META_FILE); read_cdf_totals adds them in.
DELTAS_DIR = "_deltas"


def _delta_dirs(target_path: str) -> list[str]:
    """The published deltas of a totals target, in publish order (glob's
    default skips a dot-prefixed staging dir)."""
    return sorted(
        glob.glob(os.path.join(target_path, DELTAS_DIR, "d=*")),
        key=lambda p: int(os.path.basename(p).split("=", 1)[1]),
    )


def _parquet_rows(path: str) -> int:
    """Rows written under ``path``, summed from the files' footers — no
    Spark job."""
    import pyarrow.parquet as pq

    return sum(
        pq.read_metadata(f).num_rows
        for f in glob.glob(os.path.join(path, "*.parquet"))
    )


def _read_totals(spark: SparkSession, target_path: str) -> DataFrame:
    """Every group of a CDC totals target, tombstones included: its base
    plus its pending deltas (see :func:`apply_cdf_delta`) summed per
    group, in the base's column order and types. With no pending delta
    the plan is the plain base read."""
    _recover_swaps(target_path)
    totals = read_merge_target(spark, target_path)
    deltas = _delta_dirs(target_path)
    if not deltas:
        return totals
    keys = _read_meta(target_path)["keys"]
    # groupBy is null-safe: a NULL group's base row pairs with its deltas
    return (
        totals.unionByName(spark.read.schema(totals.schema).parquet(*deltas))
        .groupBy(*keys)
        .agg(*[F.sum(c).alias(c) for c in totals.columns if c not in keys])
        .select(*totals.columns)
    )


# byte width of each integral Spark type (by typeName): a batch's group
# column may widen into a stored integral column at least as wide
_INT_WIDTH = {"byte": 1, "short": 2, "integer": 4, "long": 8}


def apply_cdf_delta(
    batch_df: DataFrame,
    target_path: str,
    group_cols: Sequence[str],
    sum_cols: Sequence[str],
) -> None:
    """Fold one batch of change rows into the grouped totals target —
    the delta arithmetic of :func:`incremental_cdf_aggregate_stream`,
    exposed for direct (batch) use and for the property tests that feed
    commits in arbitrary order (deltas are commutative sums, so any
    interleaving must converge to the same totals).

    Merge-on-read (Delta's append-now, compact-later shape): the first
    fold creates the base table through :func:`merge_upsert`. Every later
    fold aggregates the batch to one signed ``(group_cols, n_rows,
    sum_*)`` row per group (one shuffle) and publishes it as a new delta
    dir with one rename; no stored row is read or rewritten.
    :func:`read_cdf_totals` sums the base and the pending deltas. When the
    pending deltas reach the target's stored ``num_buckets``, a compaction
    sums them into a new base, which replaces the whole target in one
    swap and so retires them: reads open at most ``num_buckets`` deltas,
    and a fold rewrites 1/``num_buckets`` of the table amortized. An empty
    batch publishes nothing (decided from the written files' footers, not
    by a Spark job).

    Groups whose row count reaches zero are KEPT as explicit zero rows
    (tombstones, bounded by distinct groups ever seen), by the deltas and
    by the compaction: under out-of-order application a group can be
    TRANSIENTLY zero or negative (a preimage arriving before its matching
    insert), and dropping it would lose the partial sum — the bug the
    property test found when this filtered ``n_rows > 0``. Out-of-order
    is not hypothetical: a file-source drain lists ``commit=10`` before
    ``commit=2``. Read live groups with :func:`read_cdf_totals`, which
    filters the tombstones."""
    group_cols = list(group_cols)
    sum_cols = list(sum_cols)
    sign = F.when(
        F.col("_op").isin("insert", "update_postimage"), F.lit(1)
    ).otherwise(F.lit(-1))
    delta = (
        batch_df.withColumn("_sign", sign)
        .groupBy(*group_cols)
        .agg(
            F.sum("_sign").cast("long").alias("n_rows"),
            *[
                F.sum(F.col("_sign") * F.col(c)).cast("double").alias(f"sum_{c}")
                for c in sum_cols
            ],
        )
    )
    sess = batch_df.sparkSession
    _recover_swaps(target_path)
    # an existing TABLE is one with a merge sidecar or parquet data — a
    # directory holding only auxiliary files (e.g. the fold watermark's
    # intent stamp, written before the first fold lands) is still an empty
    # target
    if not _has_table(target_path):
        # the first fold creates the base (an empty batch creates none)
        merge_upsert(sess, delta, target_path, keys=group_cols)
        return
    # strict: a corrupt sidecar over real data must fail loudly, never
    # read-as-empty
    meta = _read_meta(target_path, strict=True)
    if meta is None:
        raise ValueError(
            f"cdf totals target {target_path!r} has data but no merge "
            "sidecar; refusing to treat it as empty"
        )
    if (meta["keys"], meta["bucket_keys"]) != (group_cols, group_cols):
        raise ValueError(
            f"cdf totals target {target_path!r} is keyed on {meta['keys']!r}"
        )
    schema = _stored_schema(meta)
    if schema is None:  # legacy target: no pinned schema in its sidecar
        schema = read_merge_target(sess, target_path).schema
    if sorted(delta.columns) != sorted(schema.fieldNames()):
        raise ValueError(f"cdf delta {delta.schema} does not match {target_path!r}")
    # a group column must have the stored type, or be an integral type
    # narrower than a stored integral type. Checked before the coalesce
    # below, whose coercion would silently turn a long into a stored string.
    stored = {f.name: f.dataType for f in schema.fields}
    for f in delta.schema.fields:
        if f.name in group_cols and f.dataType != stored[f.name]:
            width = _INT_WIDTH.get(f.dataType.typeName())
            if width is None or width > _INT_WIDTH.get(stored[f.name].typeName(), 0):
                raise ValueError(
                    f"cdf delta {delta.schema} does not match {target_path!r}"
                )
    # coalescing with a NULL of the stored type widens a narrower group
    # column to it; a wider one would split the table's physical type
    delta = delta.select(
        *[
            F.coalesce(F.lit(None).cast(f.dataType), F.col(f.name)).alias(f.name)
            if f.name in group_cols
            else F.col(f.name)
            for f in schema.fields
        ]
    )
    if [f.dataType for f in delta.schema] != [f.dataType for f in schema]:
        raise ValueError(f"cdf delta {delta.schema} does not match {target_path!r}")
    deltas = _delta_dirs(target_path)
    seq = int(os.path.basename(deltas[-1]).split("=", 1)[1]) + 1 if deltas else 0
    staging = os.path.join(target_path, f".d={seq}._staging")
    shutil.rmtree(staging, ignore_errors=True)
    delta.write.parquet(staging)
    if not _parquet_rows(staging):  # empty batch: nothing to fold
        shutil.rmtree(staging)
        return
    os.makedirs(os.path.join(target_path, DELTAS_DIR), exist_ok=True)
    _publish_commit(staging, os.path.join(target_path, DELTAS_DIR, f"d={seq}"))
    nb = int(meta["num_buckets"])
    if len(deltas) + 1 >= nb:
        # compaction: a crash before its swap leaves base + deltas, which
        # read the same totals; _recover_swaps finishes a cut swap
        _commit_buckets(
            _read_totals(sess, target_path).withColumn(
                BUCKET_COL, _key_bucket(group_cols, nb)
            ),
            target_path, group_cols, nb, group_cols, [], None, meta,
        )


def read_cdf_totals(spark: SparkSession, target_path: str) -> DataFrame:
    """The live groups of a CDC totals target (tombstoned zero-count
    groups excluded)."""
    return _read_totals(spark, target_path).filter(F.col("n_rows") > 0)


def incremental_cdf_aggregate_stream(
    spark: SparkSession,
    changelog_dir: str,
    target_path: str,
    checkpoint_dir: str,
    group_cols: Sequence[str],
    sum_cols: Sequence[str],
    available_now: bool = True,
) -> StreamingQuery:
    """Maintain grouped SUM/COUNT aggregates from a merge target's change
    data feed — the canonical CDC consumer: the aggregate stays current
    WITHOUT ever rescanning the base table, because every change row
    carries enough to adjust it (+postimage/insert, -preimage/delete).

    Each micro-batch of change rows reduces to one signed delta per
    group (a map-side-combined aggregate over the batch only), appended
    to the totals target as a pending delta without reading its stored
    rows; :func:`read_cdf_totals` sums base and deltas, and a compaction
    every ``num_buckets`` deltas folds them into the base (see
    :func:`apply_cdf_delta`). Deltas are commutative sums, so commit
    files may arrive in any order; emptied groups persist as zero-count
    tombstones and are excluded by :func:`read_cdf_totals`. At 100 TB
    this is the difference between O(changes) and O(affected partitions)
    per refresh: even the partition-restricted re-aggregate needs to
    rescan affected partitions; the CDC consumer touches only the change
    rows.

    Contract with :func:`checkpoint_changelog`: the feed must NOT be
    checkpointed while this consumer's streaming checkpoint references it —
    the squashed snapshot arrives as new files and would be re-applied as
    fresh inserts on top of totals already held (double counting). After a
    feed checkpoint, restart consumers with a FRESH checkpoint dir and an
    empty totals target so they rebuild from the snapshot commit."""
    group_cols = list(group_cols)
    sum_cols = list(sum_cols)
    static = spark.read.parquet(changelog_dir)
    stream = (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(changelog_dir)
    )

    def _apply(batch_df: DataFrame, _batch_no: int) -> None:
        apply_cdf_delta(batch_df, target_path, group_cols, sum_cols)

    writer = (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def incremental_minhash_registry_stream(
    spark: SparkSession,
    source_dir: str,
    registry_path: str,
    dups_path: str,
    checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming NEAR-dup admission: arriving documents are flagged if any
    of their MinHash-LSH band keys is already registered, else their bands
    are admitted — the approximate-near-dup extension of the exact
    content-hash registry (and the design COVERAGE.md called out as the
    natural next step of :func:`incremental_corpus_dedup_stream`).

    Per micro-batch: band rows form on the batch only (one codegen'd
    wide-agg signature per doc); a doc is flagged when any band matches
    the registry OR a lower-id doc of its own batch, then ALL the batch's
    bands merge keep-first into the registry — the banded inverted index
    of the batch LSH operator, built incrementally, so the flagged set
    equals the batch candidate set restricted to earlier arrivals (the
    equivalence the test asserts). Registration costs
    O(batch x registry/num_buckets) via the bucket-pruned merge; flagged
    docs append to ``dups_path`` with their earliest match. Candidates
    carry LSH's usual false-positive rate; exact-Jaccard verification
    over the flagged log stays a batch job, as in the batch operator.

    Mechanism boundary (VERDICT r10 #7 — two near-dup front doors, split
    documented): this registry is the ADMISSION GATE — candidate-level
    (LSH false positives included, by design: an admission decision wants
    recall and answers inline), keep-first, attributing each flag to the
    EARLIEST match, and therefore arrival-order-dependent. The maintained
    band index (:mod:`..llmdata.incrdedup`) is the AUDIT PROBE — verified
    exact-Jaccard pairs over the base/arrival split, order-free. They
    share the banded-signature derivation (``minhash_bands``) but
    deliberately NOT a store: the gate keeps FIRST-seen bands only (a
    re-admitted duplicate must keep pointing at the original), while the
    probe's store appends every doc's bands (an audit must see every
    copy). Their agreement on the same feed is test-locked
    (tests/test_streaming.py): verification only removes candidates, so
    the gate flags a superset — every probe-verified pair's
    later-arriving side is gate-flagged."""
    from ..llmdata.dedup import minhash_bands

    static = spark.read.parquet(source_dir)
    stream = (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
    )

    def _admit(batch_df: DataFrame, _batch_no: int) -> None:
        sess = batch_df.sparkSession
        bands = minhash_bands(batch_df).transform(pin)
        matches = []
        if os.path.isdir(registry_path):
            meta = _read_meta(registry_path)
            nb = int(meta["num_buckets"])
            buckets = sorted(
                {
                    r[0]
                    for r in bands.select(
                        _key_bucket(["band", "band_key"], nb).alias("b")
                    )
                    .distinct()
                    .collect()
                }
            )
            reg = (
                sess.read.parquet(registry_path)
                .filter(F.col(BUCKET_COL).isin(buckets))
                .drop(BUCKET_COL)
            )
            matches.append(
                bands.join(
                    reg.withColumnRenamed("doc_id", "matched_doc_id"),
                    ["band", "band_key"],
                )
            )
        # within-batch: a doc also matches a lower-id batchmate's band
        matches.append(
            bands.join(
                bands.select(
                    "band",
                    "band_key",
                    F.col("doc_id").alias("matched_doc_id"),
                ),
                ["band", "band_key"],
            ).filter(F.col("matched_doc_id") < F.col("doc_id"))
        )
        cand = matches[0]
        for m in matches[1:]:
            cand = cand.unionByName(m)
        flagged = (
            cand.groupBy("doc_id")
            .agg(
                F.min("matched_doc_id").alias("matched_doc_id"),
                F.count(F.lit(1)).alias("n_band_matches"),
            )
            .transform(pin)
        )
        if flagged.count() > 0:
            flagged.write.mode("append").parquet(dups_path)
        merge_upsert(
            sess,
            bands,
            registry_path,
            keys=["band", "band_key"],
            tiebreak_cols=["doc_id"],
            on_match="keep",
        )

    writer = (
        stream.writeStream.foreachBatch(_admit)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def incremental_curated_corpus_stream(
    spark: SparkSession,
    source_dir: str,
    target_path: str,
    checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Continuous corpus curation: arriving document files pass the
    Gopher quality battery, then enter the exact-dedup registry.

    The composition of :func:`~..llmdata.docquality.gopher_flags` (pure
    per-row expression work — the gate costs one codegen'd scan of the
    micro-batch plus its bigram aggregate) with the insert-only content-
    hash registry of :func:`incremental_corpus_dedup_stream`. Order
    matters at scale: gating BEFORE registry admission means rejected
    documents never cost a registry bucket read, and the registry stays
    O(distinct ACCEPTED docs). Keep-first semantics make the result
    independent of arrival order up to the first accepted copy of each
    content — drained over a static corpus it equals the batch pipeline
    ``gopher pass -> exact dedup (min doc_id)``, which is what the test
    asserts."""
    from ..llmdata.docquality import gopher_flags

    static = spark.read.parquet(source_dir)
    stream = (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
    )

    def _merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        accepted = (
            gopher_flags(batch_df)
            .filter(F.col("pass_gopher"))
            .select("doc_id")
            .join(batch_df, "doc_id")
        )
        registry = accepted.select(
            F.md5(F.trim(F.lower(F.col("text")))).alias("content_md5"),
            "doc_id",
            "lang",
            "source",
        )
        merge_upsert(
            batch_df.sparkSession,
            registry,
            target_path,
            keys=["content_md5"],
            tiebreak_cols=["doc_id"],
            on_match="keep",
        )

    writer = (
        stream.writeStream.foreachBatch(_merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# primary keys per bronze table — the same PKs the reference dedups on
# (extract_orders.py:63, extract_lineitem.py:72-75, …); partsupp is derived
# (bronze_partsupp), not ingested, so it has no incremental source path.
BRONZE_MERGE_KEYS = {
    "orders": ["o_orderkey"],
    "customers": ["c_custkey"],
    "lineitem": ["l_orderkey", "l_linenumber"],  # composite
    "suppliers": ["s_suppkey"],
    "parts": ["p_partkey"],
    "nation": ["n_nationkey"],
    "region": ["r_regionkey"],
}


def incremental_bronze_stream(
    spark: SparkSession,
    table: str,
    source_dir: str,
    target_path: str,
    checkpoint_dir: str,
    batch_id: str | None = None,
) -> StreamingQuery:
    """Incremental bronze ingest for any source table — the north-star
    replacement for the reference's daily INSERT OVERWRITE
    (extract_orders.py:72-88): stream newly arrived files, run the SAME
    bronze cleaning (project -> audit -> null filter -> keep-latest dedup,
    via the batch builder's ``raw=`` parameter) on each micro-batch, and
    MERGE on the table's primary key (:data:`BRONZE_MERGE_KEYS` —
    composite for lineitem).

    Last-writer-wins across batches: a re-delivered key replaces the
    stored image instead of re-ingesting the full snapshot. At production
    scale the merge body is Delta ``MERGE INTO``; here it is the parquet
    :func:`merge_upsert` with identical semantics.
    """
    from ..bronze import BRONZE_BUILDERS
    from ..constants import FIXED_BATCH_ID

    if table not in BRONZE_MERGE_KEYS:
        raise ValueError(
            f"no incremental source path for {table!r}; one of "
            f"{sorted(BRONZE_MERGE_KEYS)}"
        )
    builder = BRONZE_BUILDERS[table]
    keys = BRONZE_MERGE_KEYS[table]
    bid = batch_id or FIXED_BATCH_ID
    static = spark.read.parquet(source_dir)
    stream = spark.readStream.schema(static.schema).parquet(source_dir)

    def _merge_batch(batch_df: DataFrame, _batch_no: int) -> None:
        cleaned = builder(batch_df.sparkSession, sf_dir="", batch_id=bid, raw=batch_df)
        merge_upsert(batch_df.sparkSession, cleaned, target_path, keys=keys)

    return (
        stream.writeStream.foreachBatch(_merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )


def incremental_bronze_orders_stream(
    spark: SparkSession,
    source_dir: str,
    target_path: str,
    checkpoint_dir: str,
    batch_id: str | None = None,
) -> StreamingQuery:
    """Orders specialization of :func:`incremental_bronze_stream`."""
    return incremental_bronze_stream(
        spark, "orders", source_dir, target_path, checkpoint_dir, batch_id
    )


def incremental_corpus_dedup_stream(
    spark: SparkSession,
    source_dir: str,
    target_path: str,
    checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming exact-dedup registry over a growing document corpus — the
    incremental twin of the batch ``dedup_exact`` query.

    Newly arrived document files are streamed; each micro-batch hashes
    normalized text to ``content_md5`` and merges into a registry keyed on
    the hash with ``on_match='keep'`` (insert-only): the FIRST document
    seen with a given content wins, re-deliveries and later duplicates
    never displace it, and a duplicate inside one batch resolves to its
    min ``doc_id`` via the merge's keyed dedup. The registry holds one
    row per distinct content — O(distinct docs), bucketed by hash — so
    admitting a new batch costs O(batch x registry/num_buckets), not a
    rescan of the corpus: exactly how a 100 TB training-data pipeline
    keeps global exact dedup incremental. (Near-dup state is different:
    MinHash signatures would be registered the same way, but candidate
    verification joins stay batch jobs over the registry.)
    """
    static = spark.read.parquet(source_dir)
    stream = (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
    )

    def _merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        registry = batch_df.select(
            F.md5(F.trim(F.lower(F.col("text")))).alias("content_md5"),
            "doc_id",
            "lang",
            "source",
        )
        merge_upsert(
            batch_df.sparkSession,
            registry,
            target_path,
            keys=["content_md5"],
            tiebreak_cols=["doc_id"],
            on_match="keep",
        )

    writer = (
        stream.writeStream.foreachBatch(_merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
