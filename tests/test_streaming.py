"""Streaming: event-time window operators (oracle parity runs in
test_registry) + the real Structured Streaming incremental-merge path."""

import os

from pyspark.sql import functions as F

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from databricks_incremental_lakehouse_spark.bronze import bronze_lineitem, bronze_orders
from databricks_incremental_lakehouse_spark.streaming import (
    incremental_bronze_orders_stream,
    incremental_bronze_stream,
    incremental_events_stream,
    merge_upsert,
    read_merge_target,
    stateful_user_totals_stream,
)
from databricks_incremental_lakehouse_spark.tables import load_table


def test_merge_upsert_semantics(spark, tmp_path):
    target = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], "id long, name string, v double"
    )
    merge_upsert(spark, base, target, keys=["id"])
    upd = spark.createDataFrame(
        [(2, "b2", 21.0), (3, "c", 30.0)], "id long, name string, v double"
    )
    merge_upsert(spark, upd, target, keys=["id"])
    got = {r.id: (r.name, r.v) for r in read_merge_target(spark, target).collect()}
    assert got == {1: ("a", 10.0), 2: ("b2", 21.0), 3: ("c", 30.0)}


def test_merge_upsert_touches_only_updated_partitions(spark, tmp_path):
    """Partition-restricted merge: after an upsert, every file in a bucket
    that holds no updated key is byte-identical (same path, same bytes) —
    the merge never rewrote it."""

    def snapshot(root):
        out = {}
        for dirpath, _dirs, files in os.walk(root):
            for f in files:
                p = os.path.join(dirpath, f)
                with open(p, "rb") as fh:
                    out[os.path.relpath(p, root)] = fh.read()
        return out

    target = str(tmp_path / "t")
    base = spark.range(200).selectExpr("id", "CAST(id AS STRING) AS payload")
    merge_upsert(spark, base, target, keys=["id"], num_buckets=8)
    before = snapshot(target)

    upd = spark.createDataFrame([(7, "updated")], "id long, payload string")
    merge_upsert(spark, upd, target, keys=["id"], num_buckets=8)
    after = snapshot(target)

    from databricks_incremental_lakehouse_spark.streaming.incremental import BUCKET_COL

    touched = {
        r[0]
        for r in upd.selectExpr(
            f"CAST(pmod(xxhash64(id), 8) AS INT) AS {BUCKET_COL}"
        ).collect()
    }
    assert len(touched) == 1
    untouched_before = {
        p: b
        for p, b in before.items()
        if not any(p.startswith(f"{BUCKET_COL}={t}/") for t in touched)
        and not p.startswith("_")
    }
    for p, b in untouched_before.items():
        assert after.get(p) == b, f"untouched partition file {p} was rewritten"
    # and the update really landed
    got = {r.id: r.payload for r in read_merge_target(spark, target).collect()}
    assert got[7] == "updated" and got[8] == "8" and len(got) == 200


def test_incremental_stream_matches_batch_dedup(spark, sf_smoke, tmp_path):
    # stage the events table as a multi-file streaming source
    events = load_table(spark, sf_smoke, "events")
    source = str(tmp_path / "source")
    events.repartition(3).write.parquet(source)

    target = str(tmp_path / "target")
    chk = str(tmp_path / "chk")
    # files arrive in arbitrary order here, so use a watermark wider than
    # the data span — lateness-dropping is covered by the watermark test
    q = incremental_events_stream(spark, source, target, chk, watermark="365 days")
    q.awaitTermination(120)

    streamed = read_merge_target(spark, target)
    assert streamed.count() == events.select("event_id").distinct().count()
    # every event made it through, keyed dedup intact
    assert (
        streamed.select(F.sum("event_id")).first()[0]
        == events.select(F.sum("event_id")).first()[0]
    )
    assert os.path.isdir(chk)


def test_incremental_bronze_orders_upsert(spark, sf_smoke, tmp_path):
    """North-star incremental ingest: initial drain equals the batch bronze
    snapshot; a later update file replaces the matched key and inserts the
    new one — no full re-overwrite."""
    raw = load_table(spark, sf_smoke, "orders")
    src = str(tmp_path / "ord_src")
    tgt = str(tmp_path / "ord_tgt")
    chk = str(tmp_path / "ord_chk")
    raw.write.mode("append").parquet(src)

    q = incremental_bronze_orders_stream(spark, src, tgt, chk)
    q.awaitTermination(120)
    batch = bronze_orders(spark, sf_smoke)
    got = read_merge_target(spark, tgt)
    assert got.count() == batch.count()
    assert got.exceptAll(batch).count() == 0 and batch.exceptAll(got).count() == 0

    # incremental update: one existing key with a new image + one new key
    some_key = batch.select("o_orderkey").orderBy("o_orderkey").first()[0]
    new_key = batch.agg(F.max("o_orderkey")).first()[0] + 1
    upd = spark.createDataFrame(
        [
            (some_key, 999, "U", 1.0, "1999-01-01", "1-URGENT"),
            (new_key, 999, "N", 2.0, "1999-01-02", "2-HIGH"),
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate string, o_orderpriority string",
    ).withColumn(
        "o_orderdate", F.col("o_orderdate").cast(dict(raw.dtypes)["o_orderdate"])
    )
    upd.write.mode("append").parquet(src)
    q = incremental_bronze_orders_stream(spark, src, tgt, chk)
    q.awaitTermination(120)

    got2 = read_merge_target(spark, tgt)
    assert got2.count() == batch.count() + 1
    updated = got2.filter(F.col("o_orderkey") == some_key).collect()
    assert len(updated) == 1 and updated[0].o_custkey == 999
    assert got2.filter(F.col("o_orderkey") == new_key).count() == 1


def test_incremental_bronze_lineitem_composite_key(spark, sf_smoke, tmp_path):
    """The generalized incremental path merges on the composite
    (l_orderkey, l_linenumber) key and matches the batch snapshot."""
    raw = load_table(spark, sf_smoke, "lineitem")
    src = str(tmp_path / "li_src")
    tgt = str(tmp_path / "li_tgt")
    chk = str(tmp_path / "li_chk")
    raw.write.parquet(src)
    q = incremental_bronze_stream(spark, "lineitem", src, tgt, chk)
    q.awaitTermination(120)
    batch = bronze_lineitem(spark, sf_smoke)
    got = read_merge_target(spark, tgt)
    assert got.count() == batch.count()
    assert got.exceptAll(batch).count() == 0 and batch.exceptAll(got).count() == 0


def test_incremental_bronze_rejects_derived_table(spark, tmp_path):
    with pytest.raises(ValueError, match="partsupp"):
        incremental_bronze_stream(spark, "partsupp", "/nope", "/nope", "/nope")


def test_stateful_totals_match_batch_aggregate(spark, sf_smoke, tmp_path):
    """applyInPandasWithState running totals: after draining the source —
    in two incremental chunks, state persisting across runs via the
    checkpoint — the merged target equals the batch groupBy aggregate."""
    events = load_table(spark, sf_smoke, "events")
    first, second = events.filter(F.col("event_id") % 2 == 0), events.filter(
        F.col("event_id") % 2 == 1
    )
    source = str(tmp_path / "st_source")
    target = str(tmp_path / "st_target")
    chk = str(tmp_path / "st_chk")

    first.write.mode("append").parquet(source)
    q = stateful_user_totals_stream(spark, source, target, chk)
    q.awaitTermination(120)
    second.write.mode("append").parquet(source)
    q = stateful_user_totals_stream(spark, source, target, chk)
    q.awaitTermination(120)

    got = {
        r.user_id: (r.event_count, round(r.total_value, 6), r.last_ts)
        for r in read_merge_target(spark, target).collect()
    }
    want = {
        r.user_id: (r.event_count, round(r.total_value, 6), r.last_ts)
        for r in events.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            F.sum("value").alias("total_value"),
            F.max("ts").alias("last_ts"),
        )
        .collect()
    }
    assert got == want


def test_watermark_drops_late_events(spark, tmp_path):
    """Events older than the watermark horizon are dropped by streaming
    dedup once the watermark has advanced past them."""
    src = str(tmp_path / "wm_src")
    on_time = spark.createDataFrame(
        [(1, "2024-01-02 12:00:00", 1, "a", 1.0, "{}")],
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    late = spark.createDataFrame(
        [(2, "2024-01-01 00:00:00", 1, "a", 1.0, "{}")],
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    on_time.write.mode("append").parquet(src)

    target = str(tmp_path / "wm_target")
    chk = str(tmp_path / "wm_chk")
    q = incremental_events_stream(spark, src, target, chk, watermark="1 hour")
    q.awaitTermination(120)
    # second run: a file full of events far behind the advanced watermark
    late.write.mode("append").parquet(src)
    q = incremental_events_stream(spark, src, target, chk, watermark="1 hour")
    q.awaitTermination(120)

    ids = {r.event_id for r in read_merge_target(spark, target).collect()}
    assert ids == {1}


def test_merge_upsert_empty_updates(spark, tmp_path):
    """0-row updates are a no-op on both a fresh and an existing target:
    no file-less target is materialized, and a later merge still works."""
    target = str(tmp_path / "empty_t")
    schema = "id long, v double"
    empty = spark.createDataFrame([], schema)

    # fresh target: nothing should be created
    merge_upsert(spark, empty, target, keys=["id"])
    assert not os.path.isdir(target)

    base = spark.createDataFrame([(1, 10.0), (2, 20.0)], schema)
    merge_upsert(spark, base, target, keys=["id"])
    # existing target: empty merge leaves it byte-identical
    merge_upsert(spark, empty, target, keys=["id"])
    got = {r.id: r.v for r in read_merge_target(spark, target).collect()}
    assert got == {1: 10.0, 2: 20.0}
    # and a real merge after the empty one still lands
    merge_upsert(
        spark, spark.createDataFrame([(3, 30.0)], schema), target, keys=["id"]
    )
    assert read_merge_target(spark, target).count() == 3


def test_merge_upsert_meta_pins_layout(spark, tmp_path):
    """The stored _merge_meta.json wins over a caller-supplied num_buckets,
    so a mismatched bucket count cannot duplicate keys; mismatched keys
    raise instead of corrupting."""
    target = str(tmp_path / "meta_t")
    schema = "id long, v double"
    base = spark.range(50).selectExpr("id", "CAST(id AS DOUBLE) AS v")
    merge_upsert(spark, base, target, keys=["id"], num_buckets=8)

    upd = spark.range(50).selectExpr("id", "CAST(id + 100 AS DOUBLE) AS v")
    merge_upsert(spark, upd, target, keys=["id"], num_buckets=16)  # wrong count
    got = read_merge_target(spark, target)
    assert got.count() == 50  # no duplicated keys
    assert got.agg(F.min("v")).first()[0] == 100.0  # updates won

    with pytest.raises(ValueError, match="stored keys"):
        merge_upsert(spark, base, target, keys=["v"])


def test_swap_crash_recovery_restores_backup(spark, tmp_path):
    """A backup dir left by a crash between _swap_dir's two renames (the
    bucket dir missing, '.<name>.old' the only copy) is restored by the
    next merge, and is invisible to Spark reads in the meantime."""
    import shutil

    from databricks_incremental_lakehouse_spark.streaming.incremental import (
        BUCKET_COL,
    )

    target = str(tmp_path / "crash_t")
    base = spark.range(100).selectExpr("id", "CAST(id AS STRING) AS payload")
    merge_upsert(spark, base, target, keys=["id"], num_buckets=4)
    total = read_merge_target(spark, target).count()

    # simulate the crash window: old image moved aside, new one never landed
    bucket = next(
        n for n in sorted(os.listdir(target)) if n.startswith(BUCKET_COL + "=")
    )
    os.rename(
        os.path.join(target, bucket), os.path.join(target, f".{bucket}.old")
    )
    # the dotted backup must be ignored by partition discovery (no string
    # partition value, no double-count)
    partial = spark.read.parquet(target)
    assert dict(partial.dtypes)[BUCKET_COL] == "int"
    assert partial.count() < total

    # next merge recovers the backup before merging
    merge_upsert(
        spark,
        spark.createDataFrame([(1000, "new")], "id long, payload string"),
        target,
        keys=["id"],
    )
    assert read_merge_target(spark, target).count() == total + 1
    assert not any(n.endswith(".old") for n in os.listdir(target))
    shutil.rmtree(target)


def test_reader_recovery_blocks_during_live_swap(tmp_path):
    """r12 review: a reader probing a store inside a LIVE swap's
    mid-window (dst renamed aside, new image not yet landed) must NOT
    'recover' the backup — that restore makes the swapper's final rename
    fail with ENOTEMPTY. Recovery serializes on _SWAP_LOCK: the reader
    blocks until the publish lands, then reads the NEW image. Pure
    filesystem test; simulates the swapper by holding the lock across a
    hand-performed mid-window."""
    import json
    import threading
    import time

    from databricks_incremental_lakehouse_spark.operators.layout import (
        STORE_META,
        read_store_meta,
    )
    from databricks_incremental_lakehouse_spark.streaming import incremental as inc

    dst = str(tmp_path / "store")
    src = str(tmp_path / "store._staging")
    for path, ver in ((dst, "old"), (src, "new")):
        os.makedirs(path)
        with open(os.path.join(path, STORE_META), "w") as fh:
            json.dump({"image": ver}, fh)

    got = {}

    def reader():
        got["meta"] = read_store_meta(dst)

    old = os.path.join(str(tmp_path), ".store.old")
    with inc._SWAP_LOCK:
        os.rename(dst, old)  # the swapper's first rename — mid-window now
        t = threading.Thread(target=reader)
        t.start()
        deadline = time.monotonic() + 0.8
        while not os.path.isdir(dst) and time.monotonic() < deadline:
            time.sleep(0.02)
        # the reader must not have restored the backup while we hold the lock
        assert not os.path.isdir(dst), "reader recovered during a live swap"
        assert not got, "reader finished inside the swap window"
        os.rename(src, dst)  # the swapper's second rename — published
        import shutil

        shutil.rmtree(old, ignore_errors=True)
    t.join(timeout=10)
    assert not t.is_alive()
    # the reader woke after the publish and saw the NEW image, untouched
    assert got["meta"] == {"image": "new"}
    assert read_store_meta(dst) == {"image": "new"}


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ops=st.lists(
        st.tuples(
            st.sampled_from(["upsert", "replace_scope", "delete"]),
            st.lists(
                st.tuples(
                    st.integers(min_value=0, max_value=6),  # entity (scope key)
                    st.integers(min_value=0, max_value=2),  # item within entity
                    st.integers(min_value=0, max_value=99),  # payload version
                ),
                min_size=0,
                max_size=6,
            ),
        ),
        min_size=1,
        max_size=5,
    )
)
def test_merge_upsert_model_property(spark, tmp_path_factory, ops):
    """Randomized op sequences against a dict reference model. Semantics:
    - upsert: last-writer-wins per (entity, item) key
    - replace_scope: every stored row of the batch's entities is replaced
      by exactly the batch's rows (entity-complete image)
    - delete: exact-key removal
    Bucketing is by entity (coarser than the key), so items of one entity
    always share a bucket — the layout the silver fact uses."""
    root = str(tmp_path_factory.mktemp("merge_prop"))
    target = os.path.join(root, "t")
    cdf = os.path.join(root, "cdf")
    model: dict = {}
    for op, rows in ops:
        # dedup within batch: keep-latest == minimal tiebreak ordering
        batch: dict = {}
        for e, i, v in rows:
            k = (e, i)
            batch[k] = min(v, batch[k]) if k in batch else v
        df = spark.createDataFrame(
            [(e, i, v) for (e, i), v in sorted(batch.items())] or [],
            "entity int, item int, payload int",
        )
        if op == "upsert":
            merge_upsert(
                spark, df, target, keys=["entity", "item"],
                bucket_keys=["entity"], num_buckets=4, changelog_dir=cdf,
            )
            model.update(batch)
        elif op == "replace_scope":
            merge_upsert(
                spark, df, target, keys=["entity", "item"],
                bucket_keys=["entity"], num_buckets=4,
                scope=df.select("entity"), changelog_dir=cdf,
            )
            scoped = {e for (e, _i) in batch}
            model = {k: v for k, v in model.items() if k[0] not in scoped}
            model.update(batch)
        else:  # delete
            if not os.path.isdir(target):
                continue
            merge_upsert(
                spark,
                df.limit(0),
                target,
                keys=["entity", "item"],
                bucket_keys=["entity"],
                num_buckets=4,
                deletes=df.select("entity", "item"),
                changelog_dir=cdf,
            )
            model = {k: v for k, v in model.items() if k not in batch}
        if os.path.isdir(target):
            got = {
                (r.entity, r.item): r.payload
                for r in read_merge_target(spark, target).collect()
            }
            assert got == model, f"after {op}: {got} != {model}"
        else:
            assert model == {} or op == "delete"

    # the change feed must replay to the same final state: apply postimages
    # and inserts, drop deletes, ignore preimages, in commit order
    if os.path.isdir(cdf):
        from databricks_incremental_lakehouse_spark.streaming import read_changelog

        replay: dict = {}
        log = read_changelog(spark, cdf).collect()
        by_commit: dict = {}
        for r in log:
            by_commit.setdefault(r.commit, []).append(r)
        for c in sorted(by_commit):
            for r in by_commit[c]:
                if r._op == "delete":
                    replay.pop((r.entity, r.item), None)
                elif r._op != "update_preimage":
                    replay[(r.entity, r.item)] = r.payload
        assert replay == model, f"changelog replay diverged: {replay} != {model}"


def test_incremental_corpus_dedup_keep_first(spark, sf_smoke, tmp_path):
    """Streaming exact-dedup registry: duplicates arriving in LATER batches
    must not displace the first-seen document (on_match='keep'), and the
    final registry must hold exactly one row per distinct content."""
    from databricks_incremental_lakehouse_spark.streaming import (
        incremental_corpus_dedup_stream,
    )

    import glob
    import shutil

    docs = load_table(spark, sf_smoke, "documents")
    source = str(tmp_path / "source")
    os.makedirs(source)

    def stage_file(df, name):
        staging = str(tmp_path / f"_stage_{name}")
        df.coalesce(1).write.parquet(staging)
        part = glob.glob(os.path.join(staging, "part-*.parquet"))[0]
        shutil.move(part, os.path.join(source, name))

    # file 0: the original corpus (single file => first micro-batch)
    stage_file(docs, "f0.parquet")
    # file 1: re-deliveries of 20 originals under NEW higher doc_ids —
    # exact duplicates that must lose to the first-seen rows
    dupes = (
        docs.orderBy("doc_id")
        .limit(20)
        .select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            "text",
            "lang",
            F.lit("redelivery").alias("source"),
            "n_chars",
        )
    )
    stage_file(dupes, "f1.parquet")

    target = str(tmp_path / "target")
    chk = str(tmp_path / "chk")
    q = incremental_corpus_dedup_stream(spark, source, target, chk)
    q.awaitTermination(120)

    got = {
        r.content_md5: r.doc_id for r in read_merge_target(spark, target).collect()
    }
    expected = {
        r.content_md5: r.kept_doc_id
        for r in docs.select(
            F.md5(F.trim(F.lower(F.col("text")))).alias("content_md5"), "doc_id"
        )
        .groupBy("content_md5")
        .agg(F.min("doc_id").alias("kept_doc_id"))
        .collect()
    }
    assert got == expected  # registry == batch dedup_exact survivors
    assert all(d < 1_000_000 for d in got.values())  # no re-delivery won


def test_incremental_curated_corpus_stream(spark, sf_smoke, tmp_path):
    """Streaming curation front door: drained over a static corpus split
    across files, the registry must equal the batch pipeline (gopher pass
    -> exact dedup keeping min doc_id), and a re-delivered duplicate of an
    accepted document must not displace the first-seen row."""
    import glob
    import shutil

    from databricks_incremental_lakehouse_spark.llmdata.docquality import (
        gopher_flags,
    )
    from databricks_incremental_lakehouse_spark.streaming import (
        incremental_curated_corpus_stream,
    )

    docs = load_table(spark, sf_smoke, "documents")
    source = str(tmp_path / "source")
    os.makedirs(source)

    def stage_file(df, name):
        staging = str(tmp_path / f"_stage_{name}")
        df.coalesce(1).write.parquet(staging)
        part = glob.glob(os.path.join(staging, "part-*.parquet"))[0]
        shutil.move(part, os.path.join(source, name))

    half_a = docs.filter(F.col("doc_id") % 2 == 0)
    half_b = docs.filter(F.col("doc_id") % 2 == 1)
    stage_file(half_a, "f0.parquet")
    stage_file(half_b, "f1.parquet")
    # re-deliver accepted docs under new ids: must all lose keep-first
    accepted_ids = [
        r.doc_id
        for r in gopher_flags(docs).filter(F.col("pass_gopher")).limit(10).collect()
    ]
    redeliver = docs.filter(F.col("doc_id").isin(accepted_ids)).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        "text",
        "lang",
        F.lit("redelivery").alias("source"),
        "n_chars",
    )
    stage_file(redeliver, "f2.parquet")

    target = str(tmp_path / "target")
    chk = str(tmp_path / "chk")
    q = incremental_curated_corpus_stream(spark, source, target, chk)
    q.awaitTermination(120)

    got = {
        r.content_md5: r.doc_id for r in read_merge_target(spark, target).collect()
    }
    passed = gopher_flags(docs).filter(F.col("pass_gopher")).select("doc_id")
    expected = {
        r.content_md5: r.kept_doc_id
        for r in passed.join(docs, "doc_id")
        .select(
            F.md5(F.trim(F.lower(F.col("text")))).alias("content_md5"), "doc_id"
        )
        .groupBy("content_md5")
        .agg(F.min("doc_id").alias("kept_doc_id"))
        .collect()
    }
    assert got == expected
    assert all(d < 1_000_000 for d in got.values())
    # the gate actually rejected something, else the test is vacuous
    assert docs.count() > gopher_flags(docs).filter(F.col("pass_gopher")).count()


def test_merge_changelog_replay(spark, tmp_path):
    """Change data feed: ops are classified per commit (insert vs update
    vs delete with preimage payloads), and replaying the changelog in
    commit order over empty state reconstructs the target exactly."""
    from databricks_incremental_lakehouse_spark.streaming import read_changelog

    target = str(tmp_path / "t")
    cdf = str(tmp_path / "cdf")
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "id long, name string, v double",
    )
    merge_upsert(spark, base, target, keys=["id"], changelog_dir=cdf)
    # commit 1: update 2, insert 4
    merge_upsert(
        spark,
        spark.createDataFrame(
            [(2, "b2", 21.0), (4, "d", 40.0)], "id long, name string, v double"
        ),
        target,
        keys=["id"],
        changelog_dir=cdf,
    )
    # commit 2: exact-key delete of 1, update 3
    merge_upsert(
        spark,
        spark.createDataFrame([(3, "c2", 31.0)], "id long, name string, v double"),
        target,
        keys=["id"],
        deletes=spark.createDataFrame([(1,)], "id long"),
        changelog_dir=cdf,
    )
    log = read_changelog(spark, cdf).collect()
    by_commit = {}
    for r in log:
        by_commit.setdefault(r.commit, []).append(r)
    assert {(r.id, r._op) for r in by_commit[0]} == {
        (1, "insert"), (2, "insert"), (3, "insert")
    }
    assert {(r.id, r._op) for r in by_commit[1]} == {
        (2, "update_preimage"), (2, "update_postimage"), (4, "insert")
    }
    assert {(r.id, r._op) for r in by_commit[2]} == {
        (3, "update_preimage"), (3, "update_postimage"), (1, "delete")
    }
    # preimages carry the replaced row, deletes the removed row
    (upre,) = [r for r in by_commit[1] if r._op == "update_preimage"]
    assert (upre.name, upre.v) == ("b", 20.0)
    (pre,) = [r for r in by_commit[2] if r._op == "delete"]
    assert (pre.name, pre.v) == ("a", 10.0)

    # replay reconstructs the final target
    state = {}
    for c in sorted(by_commit):
        for r in by_commit[c]:
            if r._op == "delete":
                del state[r.id]
            elif r._op != "update_preimage":
                state[r.id] = (r.name, r.v)
    got = {r.id: (r.name, r.v) for r in read_merge_target(spark, target).collect()}
    assert state == got


def test_merge_changelog_scoped_delete_and_keep(spark, tmp_path):
    """Scope-replacement emits deletes for keys whose new image omits
    them; insert-only (keep) merges log only genuinely-new keys."""
    from databricks_incremental_lakehouse_spark.streaming import read_changelog

    target = str(tmp_path / "t")
    cdf = str(tmp_path / "cdf")
    base = spark.createDataFrame(
        [(1, 1, "x"), (1, 2, "y"), (2, 1, "z")],
        "ord long, line long, s string",
    )
    merge_upsert(
        spark, base, target, keys=["ord", "line"], bucket_keys=["ord"],
        changelog_dir=cdf,
    )
    # replace order 1 wholesale with a single line: line 2 must log delete
    scope = spark.createDataFrame([(1,)], "ord long")
    merge_upsert(
        spark,
        spark.createDataFrame([(1, 1, "x2")], "ord long, line long, s string"),
        target,
        keys=["ord", "line"],
        bucket_keys=["ord"],
        scope=scope,
        changelog_dir=cdf,
    )
    log = read_changelog(spark, cdf).filter(F.col("commit") == 1).collect()
    assert {(r.ord, r.line, r._op) for r in log} == {
        (1, 1, "update_preimage"), (1, 1, "update_postimage"), (1, 2, "delete")
    }

    # keep-first registry: re-delivered key logs nothing, new key inserts
    reg = str(tmp_path / "reg")
    rcdf = str(tmp_path / "rcdf")
    merge_upsert(
        spark,
        spark.createDataFrame([("h1", 10)], "h string, doc long"),
        reg, keys=["h"], on_match="keep", changelog_dir=rcdf,
    )
    merge_upsert(
        spark,
        spark.createDataFrame([("h1", 99), ("h2", 20)], "h string, doc long"),
        reg, keys=["h"], on_match="keep", changelog_dir=rcdf,
    )
    log2 = read_changelog(spark, rcdf).filter(F.col("commit") == 1).collect()
    assert {(r.h, r.doc, r._op) for r in log2} == {("h2", 20, "insert")}


def test_cdf_aggregate_stream_matches_batch(spark, tmp_path):
    """CDC consumer invariant: after draining the change feed of a target
    that saw inserts, updates (month moved!, value changed) and deletes,
    the maintained (group -> n_rows, sum) table equals a batch groupBy of
    the final target state — and a fully-deleted group's row is gone."""
    from databricks_incremental_lakehouse_spark.streaming import (
        incremental_cdf_aggregate_stream,
    )

    target = str(tmp_path / "t")
    cdf = str(tmp_path / "cdf")
    schema = "id long, m int, v double"
    merge_upsert(
        spark,
        spark.createDataFrame(
            [(1, 1, 10.0), (2, 1, 20.0), (3, 2, 30.0), (4, 3, 40.0)], schema
        ),
        target, keys=["id"], changelog_dir=cdf,
    )
    # move id=2 to month 2 with a new value; insert id=5 into month 1
    merge_upsert(
        spark,
        spark.createDataFrame([(2, 2, 25.0), (5, 1, 50.0)], schema),
        target, keys=["id"], changelog_dir=cdf,
    )
    # delete id=4: month 3 empties out entirely
    merge_upsert(
        spark,
        spark.createDataFrame([], schema),
        target, keys=["id"],
        deletes=spark.createDataFrame([(4,)], "id long"),
        changelog_dir=cdf,
    )

    totals = str(tmp_path / "totals")
    chk = str(tmp_path / "chk")
    q = incremental_cdf_aggregate_stream(
        spark, cdf, totals, chk, group_cols=["m"], sum_cols=["v"]
    )
    q.awaitTermination(120)

    from databricks_incremental_lakehouse_spark.streaming import read_cdf_totals

    got = {
        r.m: (r.n_rows, r.sum_v)
        for r in read_cdf_totals(spark, totals).collect()
    }
    expect = {
        r.m: (r.n, r.s)
        for r in read_merge_target(spark, target)
        .groupBy("m")
        .agg(F.count("*").alias("n"), F.sum("v").alias("s"))
        .collect()
    }
    assert got == expect
    assert 3 not in got  # emptied group tombstoned, excluded from live reads
    stored = {r.m: r.n_rows for r in read_merge_target(spark, totals).collect()}
    assert stored[3] == 0  # ...but its tombstone persists for commutativity


def test_minhash_registry_stream_matches_batch_candidates(spark, sf_correct, tmp_path):
    """Streaming near-dup admission must flag exactly the docs that share
    an LSH band with ANY earlier-arriving doc — i.e. the batch band index
    built incrementally. Reference model: simulate the band registry in
    python from batch-computed band rows, in the same file order."""
    import glob
    import shutil

    from databricks_incremental_lakehouse_spark.llmdata.dedup import minhash_bands
    from databricks_incremental_lakehouse_spark.streaming import (
        incremental_minhash_registry_stream,
    )

    docs = load_table(spark, sf_correct, "documents")
    source = str(tmp_path / "source")
    os.makedirs(source)

    def stage_file(df, name):
        staging = str(tmp_path / f"_stage_{name}")
        df.coalesce(1).write.parquet(staging)
        part = glob.glob(os.path.join(staging, "part-*.parquet"))[0]
        shutil.move(part, os.path.join(source, name))

    # two files split by doc_id so arrival order == id order is plausible
    # for the model; near-dup families in this corpus span the id range
    stage_file(docs.filter(F.col("doc_id") < 250), "f0.parquet")
    stage_file(docs.filter(F.col("doc_id") >= 250), "f1.parquet")

    registry = str(tmp_path / "registry")
    dups = str(tmp_path / "dups")
    chk = str(tmp_path / "chk")
    q = incremental_minhash_registry_stream(spark, source, registry, dups, chk)
    q.awaitTermination(180)

    band_rows = minhash_bands(docs).collect()
    by_doc = {}
    for r in band_rows:
        by_doc.setdefault(r.doc_id, []).append((r.band, r.band_key))
    seen = {}
    expect_flagged = {}
    for batch in ([d for d in sorted(by_doc) if d < 250],
                  [d for d in sorted(by_doc) if d >= 250]):
        batch_matches = {}
        for d in batch:
            hits = [
                seen[bk] for bk in by_doc[d] if bk in seen
            ] + [
                o for o in batch
                if o < d and set(by_doc[o]) & set(by_doc[d])
            ]
            if hits:
                batch_matches[d] = min(hits)
        for d in batch:
            for bk in by_doc[d]:
                if bk not in seen or seen[bk] > d:
                    seen[bk] = d
        expect_flagged.update(batch_matches)

    got = {
        r.doc_id: r.matched_doc_id
        for r in spark.read.parquet(dups).collect()
    } if os.path.isdir(dups) else {}
    assert set(got) == set(expect_flagged)
    for d, m in got.items():
        assert m == expect_flagged[d], (d, m, expect_flagged[d])
    assert got, "no near-dups flagged — stream is vacuous on this corpus"
    # registry keeps the first-seen doc per band
    reg = {
        (r.band, r.band_key): r.doc_id
        for r in read_merge_target(spark, registry).collect()
    }
    assert reg == seen


def test_read_as_of_time_travel(spark, tmp_path):
    """VERSION AS OF reconstruction: the state read from the change feed
    at each commit must equal the snapshot the target held right after
    that merge -- including across updates, deletes, and a key that is
    deleted then re-inserted."""
    from databricks_incremental_lakehouse_spark.streaming import read_as_of

    target = str(tmp_path / "t")
    cdf = str(tmp_path / "cdf")
    schema = "id long, v string"
    batches = [
        dict(updates=[(1, "a"), (2, "b")]),
        dict(updates=[(2, "b2"), (3, "c")]),
        dict(updates=[], deletes=[1]),
        dict(updates=[(1, "a-again"), (3, "c2")]),
    ]
    snapshots = []
    for b in batches:
        merge_upsert(
            spark,
            spark.createDataFrame(b["updates"], schema),
            target,
            keys=["id"],
            deletes=(
                spark.createDataFrame([(i,) for i in b["deletes"]], "id long")
                if b.get("deletes")
                else None
            ),
            changelog_dir=cdf,
        )
        snapshots.append(
            {r.id: r.v for r in read_merge_target(spark, target).collect()}
        )

    for commit, snap in enumerate(snapshots):
        got = {r.id: r.v for r in read_as_of(spark, cdf, ["id"], commit).collect()}
        assert got == snap, (commit, got, snap)


def test_restore_to_commit_rolls_back_and_logs(spark, tmp_path):
    """RESTORE VERSION AS OF: after restoring to commit N the live table
    must equal the historical snapshot (creates since N deleted, changes
    reverted, deletes re-inserted); the restore lands as a NEW feed commit
    (history never rewritten) so time travel to the pre-restore head still
    works; and a second restore to the same commit is a data no-op."""
    from databricks_incremental_lakehouse_spark.streaming import (
        read_as_of,
        restore_to_commit,
    )

    target = str(tmp_path / "t")
    cdf = str(tmp_path / "cdf")
    schema = "id long, v string"
    batches = [
        dict(updates=[(1, "a"), (2, "b")]),
        dict(updates=[(2, "b2"), (3, "c")]),
        dict(updates=[(4, "d")], deletes=[1]),
    ]
    snapshots = []
    for b in batches:
        merge_upsert(
            spark,
            spark.createDataFrame(b["updates"], schema),
            target,
            keys=["id"],
            deletes=(
                spark.createDataFrame([(i,) for i in b["deletes"]], "id long")
                if b.get("deletes")
                else None
            ),
            changelog_dir=cdf,
        )
        snapshots.append(
            {r.id: r.v for r in read_merge_target(spark, target).collect()}
        )

    restore_to_commit(spark, target, cdf, keys=["id"], commit=0)
    live = {r.id: r.v for r in read_merge_target(spark, target).collect()}
    assert live == snapshots[0]  # 1 back, 3/4 gone, 2 reverted to "b"
    # the restore is commit 3: pre-restore head still time-travels intact
    pre_head = {r.id: r.v for r in read_as_of(spark, cdf, ["id"], 2).collect()}
    assert pre_head == snapshots[2]
    post = {r.id: r.v for r in read_as_of(spark, cdf, ["id"], 3).collect()}
    assert post == snapshots[0]
    # idempotent: restoring again to the same state changes nothing
    restore_to_commit(spark, target, cdf, keys=["id"], commit=3)
    again = {r.id: r.v for r in read_merge_target(spark, target).collect()}
    assert again == snapshots[0]
    # wrong key spec fails loudly instead of scattering the layout
    import pytest as _pytest

    with _pytest.raises(ValueError):
        restore_to_commit(spark, target, cdf, keys=["v"], commit=0)


def test_checkpoint_changelog_preserves_later_reads(spark, tmp_path):
    """Squashing commits 0..N into a base snapshot must leave every read
    at or after N identical (including the live head), shrink the feed to
    the checkpoint + later commits, and keep accepting new merges."""
    from databricks_incremental_lakehouse_spark.streaming import (
        checkpoint_changelog,
        read_as_of,
        read_changelog,
    )

    target = str(tmp_path / "t")
    cdf = str(tmp_path / "cdf")
    schema = "id long, v string"
    for batch in (
        [(1, "a"), (2, "b")],
        [(2, "b2"), (3, "c")],
        [(1, "a2")],
        [(4, "d")],
    ):
        merge_upsert(
            spark, spark.createDataFrame(batch, schema), target,
            keys=["id"], changelog_dir=cdf,
        )
    before = {
        c: {r.id: r.v for r in read_as_of(spark, cdf, ["id"], c).collect()}
        for c in (2, 3)
    }
    checkpoint_changelog(spark, cdf, ["id"], upto=2)
    commits = {r.commit for r in read_changelog(spark, cdf).select("commit").distinct().collect()}
    assert commits == {2, 3}
    for c in (2, 3):
        got = {r.id: r.v for r in read_as_of(spark, cdf, ["id"], c).collect()}
        assert got == before[c], c
    # the feed keeps working after the checkpoint
    merge_upsert(
        spark, spark.createDataFrame([(5, "e")], schema), target,
        keys=["id"], changelog_dir=cdf,
    )
    head = {r.id: r.v for r in read_as_of(spark, cdf, ["id"], 4).collect()}
    assert head == {r.id: r.v for r in read_merge_target(spark, target).collect()}


@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    batches=st.lists(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=7),  # id
                st.text(alphabet="xyz", min_size=1, max_size=3),  # payload
                st.booleans(),  # this row is a delete of the id
            ),
            min_size=1,
            max_size=4,
        ),
        min_size=2,
        max_size=4,
    ),
    data=st.data(),
)
def test_restore_property(spark, tmp_path_factory, batches, data):
    """For ANY merge/delete history and ANY commit in it: restore makes
    the live table equal read_as_of at that commit, and every pre-restore
    historical read is unchanged (history append-only)."""
    from databricks_incremental_lakehouse_spark.streaming import (
        read_as_of,
        restore_to_commit,
    )

    tmp = tmp_path_factory.mktemp("restore_prop")
    target, cdf = str(tmp / "t"), str(tmp / "cdf")
    schema = "id long, v string"
    n_commits = 0
    for batch in batches:
        ups = [(i, v) for i, v, is_del in batch if not is_del]
        # a delete of a key also being upserted in the same batch is
        # ambiguous — drop such deletes (merge applies updates last anyway)
        dels = sorted(
            {i for i, _v, is_del in batch if is_del}
            - {i for i, _v in ups}
        )
        if not ups and (not dels or n_commits == 0):
            # deletes are meaningless before the initial load (and an
            # empty micro-batch is a no-op that commits nothing) — seed
            ups = [(0, "seed")]
        merge_upsert(
            spark,
            spark.createDataFrame(ups, schema) if ups else spark.createDataFrame([], schema),
            target,
            keys=["id"],
            deletes=(
                spark.createDataFrame([(i,) for i in dels], "id long")
                if dels and n_commits > 0
                else None
            ),
            changelog_dir=cdf,
        )
        n_commits += 1
    pick = data.draw(st.integers(min_value=0, max_value=n_commits - 1))
    history = {
        c: {r.id: r.v for r in read_as_of(spark, cdf, ["id"], c).collect()}
        for c in range(n_commits)
    }
    restore_to_commit(spark, target, cdf, keys=["id"], commit=pick)
    live = {r.id: r.v for r in read_merge_target(spark, target).collect()}
    assert live == history[pick], (pick, live, history[pick])
    for c in range(n_commits):  # pre-restore reads untouched
        got = {r.id: r.v for r in read_as_of(spark, cdf, ["id"], c).collect()}
        assert got == history[c], c


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    batches=st.lists(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=9),   # id
                st.integers(min_value=0, max_value=3),   # group
                st.integers(min_value=0, max_value=50),  # value
            ),
            min_size=1,
            max_size=5,
        ),
        min_size=1,
        max_size=4,
    ),
    order=st.randoms(),
)
def test_cdf_delta_property(spark, tmp_path_factory, batches, order):
    """Random upsert batches through a changelogged merge target, the
    change feed's commits applied to the totals in a RANDOM order — the
    totals must equal a batch groupBy of the final target (commutative
    deltas; keys moving groups exercise the preimage arithmetic)."""
    from databricks_incremental_lakehouse_spark.streaming import (
        apply_cdf_delta,
        read_changelog,
    )

    root = str(tmp_path_factory.mktemp("cdf_prop"))
    target = os.path.join(root, "t")
    cdf = os.path.join(root, "cdf")
    totals = os.path.join(root, "totals")
    for rows in batches:
        dedup = {}
        for i, g, v in rows:
            dedup[i] = (g, float(v))
        merge_upsert(
            spark,
            spark.createDataFrame(
                [(i, g, v) for i, (g, v) in sorted(dedup.items())],
                "id long, g int, v double",
            ),
            target,
            keys=["id"],
            changelog_dir=cdf,
        )

    log = read_changelog(spark, cdf)
    commits = [r.commit for r in log.select("commit").distinct().collect()]
    order.shuffle(commits)
    for c in commits:
        apply_cdf_delta(
            log.filter(F.col("commit") == c).drop("commit"),
            totals,
            ["g"],
            ["v"],
        )

    from databricks_incremental_lakehouse_spark.streaming import read_cdf_totals

    got = {
        r.g: (r.n_rows, r.sum_v)
        for r in read_cdf_totals(spark, totals).collect()
    }
    expect = {
        r.g: (r.n, r.s)
        for r in read_merge_target(spark, target)
        .groupBy("g")
        .agg(F.count("*").alias("n"), F.sum("v").alias("s"))
        .collect()
    }
    assert got == expect, (got, expect)


def test_cdf_delta_null_group(spark, tmp_path):
    """A NULL-valued group column must accumulate like any other group:
    the totals join and the merge's key joins are null-safe, so the stored
    NULL-group row pairs with its delta instead of forking into two
    partial rows (one silently dropped by plain equality)."""
    from databricks_incremental_lakehouse_spark.streaming import (
        apply_cdf_delta,
        read_cdf_totals,
    )

    totals = str(tmp_path / "totals")
    b1 = spark.createDataFrame(
        [(None, 1.0, "insert"), ("a", 2.0, "insert")],
        "g string, v double, _op string",
    )
    apply_cdf_delta(b1, totals, ["g"], ["v"])
    b2 = spark.createDataFrame(
        [(None, 10.0, "insert"), (None, 1.0, "update_preimage"),
         (None, 5.0, "update_postimage")],
        "g string, v double, _op string",
    )
    apply_cdf_delta(b2, totals, ["g"], ["v"])
    got = {r.g: (r.n_rows, r.sum_v) for r in read_cdf_totals(spark, totals).collect()}
    # NULL group: +1 (insert v=1) +1 (insert v=10) -1+1 (update 1->5) = 2 rows, 15.0
    assert got == {None: (2, 15.0), "a": (1, 2.0)}


def test_changelog_commit_published_after_swap(spark, tmp_path):
    """Crash-safety contract of the feed: a torn commit dir (no _SUCCESS)
    is invisible to read_changelog, its slot is not reused, and a stranded
    checkpoint-swap backup is recovered on the next read."""
    import shutil

    from databricks_incremental_lakehouse_spark.streaming import read_changelog
    from databricks_incremental_lakehouse_spark.streaming.incremental import (
        _next_commit,
    )

    target = str(tmp_path / "t")
    cdf = str(tmp_path / "cdf")
    df1 = spark.createDataFrame([(1, 10.0)], "id long, v double")
    merge_upsert(spark, df1, target, keys=["id"], changelog_dir=cdf)
    df2 = spark.createDataFrame([(1, 11.0), (2, 20.0)], "id long, v double")
    merge_upsert(spark, df2, target, keys=["id"], changelog_dir=cdf)
    assert sorted(
        {r.commit for r in read_changelog(spark, cdf).select("commit").collect()}
    ) == [0, 1]

    # simulate a torn write: a commit dir without _SUCCESS
    torn = os.path.join(cdf, "commit=2")
    os.makedirs(torn)
    with open(os.path.join(torn, "part-garbage.parquet"), "wb") as fh:
        fh.write(b"\x00not parquet")
    assert sorted(
        {r.commit for r in read_changelog(spark, cdf).select("commit").collect()}
    ) == [0, 1], "torn commit must be invisible"
    assert _next_commit(cdf) == 3, "torn commit must keep its slot squatted"

    # a merge over the torn slot... next merge publishes at commit=3
    df3 = spark.createDataFrame([(3, 30.0)], "id long, v double")
    merge_upsert(spark, df3, target, keys=["id"], changelog_dir=cdf)
    assert sorted(
        {r.commit for r in read_changelog(spark, cdf).select("commit").collect()}
    ) == [0, 1, 3]

    # stranded checkpoint-swap backup: commit dir moved aside, no new image
    shutil.rmtree(torn)
    os.rename(os.path.join(cdf, "commit=3"), os.path.join(cdf, ".commit=3.old"))
    assert sorted(
        {r.commit for r in read_changelog(spark, cdf).select("commit").collect()}
    ) == [0, 1, 3], "recovery must restore the stranded backup"


def test_checkpoint_changelog_crash_ordering(spark, tmp_path):
    """checkpoint_changelog deletes older commits only AFTER the snapshot
    swap: mid-sequence states (snapshot landed, older commits partially
    present) must read identically at/after the checkpoint commit."""
    from databricks_incremental_lakehouse_spark.streaming import (
        checkpoint_changelog,
        read_as_of,
        read_changelog,
    )

    target = str(tmp_path / "t")
    cdf = str(tmp_path / "cdf")
    for i, rows in enumerate([[(1, 1.0)], [(1, 2.0), (2, 5.0)], [(3, 7.0)]]):
        merge_upsert(
            spark,
            spark.createDataFrame(rows, "id long, v double"),
            target,
            keys=["id"],
            changelog_dir=cdf,
        )
    checkpoint_changelog(spark, cdf, ["id"], upto=1)
    # snapshot present at commit=1; commit=0 removed, commit=2 untouched
    commits = sorted(
        {r.commit for r in read_changelog(spark, cdf).select("commit").collect()}
    )
    assert commits == [1, 2]
    state = {r.id: r.v for r in read_as_of(spark, cdf, ["id"], 2).collect()}
    assert state == {1: 2.0, 2: 5.0, 3: 7.0}


# --- crash-injected recovery properties (r4 VERDICT item 8) ---------------


class _Boom(RuntimeError):
    """Injected crash marker."""


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    batches=st.lists(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=9),  # key
                st.integers(min_value=0, max_value=99),  # payload
            ),
            min_size=1,
            max_size=5,
        ),
        min_size=2,
        max_size=4,
    ),
    crash_at=st.integers(min_value=0, max_value=3),
    crash_site=st.sampled_from(["publish", "pre_swap", "mid_swap"]),
)
def test_changelog_crash_recovery_property(
    spark, tmp_path_factory, batches, crash_at, crash_site
):
    """Crash-inject one merge of a random upsert sequence at each distinct
    fault point of the two-phase commit, redeliver the same batch (the
    at-least-once recovery every file-based streaming source performs),
    and assert full convergence: table == model, changelog replay == model
    (so any CDC aggregate over the feed converges too), time travel at the
    head commit == model, and no backup/committed-marker debris remains.

    Fault points:
    - ``publish``  — after every bucket swap, before the changelog commit
      rename: the table holds the merge, the feed does not (the documented
      residual window; redelivery re-emits the images as updates).
    - ``pre_swap`` — after the changelog staging write, before ANY bucket
      swap: nothing applied anywhere.
    - ``mid_swap`` — inside ``_swap_dir`` between its two renames: the old
      bucket image moved aside, the new one never landed; ``_recover_swaps``
      must restore the backup before the retry merges.
    """
    import shutil

    import databricks_incremental_lakehouse_spark.streaming.incremental as inc
    from databricks_incremental_lakehouse_spark.streaming import (
        read_as_of,
        read_changelog,
    )

    root = str(tmp_path_factory.mktemp("crash_prop"))
    target = os.path.join(root, "t")
    cdf = os.path.join(root, "cdf")
    crash_idx = min(crash_at, len(batches) - 1)

    def run(df):
        merge_upsert(
            spark, df, target, keys=["k"], num_buckets=4, changelog_dir=cdf
        )

    real_publish, real_swap = inc._publish_commit, inc._swap_dir

    def crash_publish(staging, final):
        raise _Boom(f"publish({staging})")

    def crash_pre_swap(src, dst):
        raise _Boom(f"pre_swap({dst})")

    def crash_mid_swap(src, dst):
        old = inc._backup_path(dst)
        if os.path.isdir(old):
            shutil.rmtree(old)
        if os.path.isdir(dst):
            os.rename(dst, old)
        raise _Boom(f"mid_swap({dst})")

    model: dict = {}
    for bi, rows in enumerate(batches):
        batch = dict(rows)  # unique keys; later tuples win like the merge
        df = spark.createDataFrame(
            sorted(batch.items()), "k int, payload int"
        )
        if bi == crash_idx:
            try:
                if crash_site == "publish":
                    inc._publish_commit = crash_publish
                elif crash_site == "pre_swap":
                    inc._swap_dir = crash_pre_swap
                else:
                    inc._swap_dir = crash_mid_swap
                with pytest.raises(_Boom):
                    run(df)
            finally:
                inc._publish_commit, inc._swap_dir = real_publish, real_swap
            run(df)  # redelivery of the same batch
        else:
            run(df)
        model.update(batch)
        got = {
            (r.k): r.payload for r in read_merge_target(spark, target).collect()
        }
        assert got == model, f"batch {bi} ({crash_site}): {got} != {model}"

    # feed replay == model (inserts/postimages applied in commit order)
    log = read_changelog(spark, cdf).collect()
    replay: dict = {}
    for r in sorted(log, key=lambda r: r.commit):
        if r._op == "delete":
            replay.pop(r.k, None)
        elif r._op != "update_preimage":
            replay[r.k] = r.payload
    assert replay == model, f"replay diverged after {crash_site} crash"

    # time travel at the head commit == model
    head = max(r.commit for r in log)
    asof = {r.k: r.payload for r in read_as_of(spark, cdf, ["k"], head).collect()}
    assert asof == model

    # no recovery debris: every commit dir committed, no .old backups
    for name in os.listdir(cdf):
        if name.startswith("commit="):
            assert os.path.isfile(os.path.join(cdf, name, "_SUCCESS")), name
        assert not name.endswith(".old"), name
    for dirpath, dirs, _files in os.walk(target):
        for d in dirs:
            assert not d.endswith(".old"), os.path.join(dirpath, d)


def test_checkpoint_changelog_swap_crash_recovers(spark, tmp_path):
    """A crash inside checkpoint_changelog's snapshot swap (backup rename
    done, snapshot rename not) leaves ``commit=N`` missing with
    ``.commit=N.old`` as the only copy — the next read must restore it
    (full history intact, nothing deleted), and re-running the checkpoint
    must then complete normally."""
    import shutil

    import databricks_incremental_lakehouse_spark.streaming.incremental as inc
    from databricks_incremental_lakehouse_spark.streaming import (
        checkpoint_changelog,
        read_as_of,
        read_changelog,
    )

    target = str(tmp_path / "t")
    cdf = str(tmp_path / "cdf")
    for rows in [[(1, 1.0)], [(1, 2.0), (2, 5.0)], [(3, 7.0)]]:
        merge_upsert(
            spark,
            spark.createDataFrame(rows, "id long, v double"),
            target,
            keys=["id"],
            changelog_dir=cdf,
        )

    real_swap = inc._swap_dir

    def crash_mid_swap(src, dst):
        old = inc._backup_path(dst)
        if os.path.isdir(old):
            shutil.rmtree(old)
        if os.path.isdir(dst):
            os.rename(dst, old)
        raise _Boom(f"mid_swap({dst})")

    inc._swap_dir = crash_mid_swap
    try:
        with pytest.raises(_Boom):
            checkpoint_changelog(spark, cdf, ["id"], upto=1)
    finally:
        inc._swap_dir = real_swap

    # nothing deleted, interrupted swap finished on read: all three commits
    commits = sorted(
        {r.commit for r in read_changelog(spark, cdf).select("commit").collect()}
    )
    assert commits == [0, 1, 2]
    state = {r.id: r.v for r in read_as_of(spark, cdf, ["id"], 2).collect()}
    assert state == {1: 2.0, 2: 5.0, 3: 7.0}

    # the retried checkpoint completes and preserves reads at/after upto
    checkpoint_changelog(spark, cdf, ["id"], upto=1)
    commits = sorted(
        {r.commit for r in read_changelog(spark, cdf).select("commit").collect()}
    )
    assert commits == [1, 2]
    state = {r.id: r.v for r in read_as_of(spark, cdf, ["id"], 2).collect()}
    assert state == {1: 2.0, 2: 5.0, 3: 7.0}


def test_stream_stream_join_equals_batch(spark, sf_correct, tmp_path):
    """The watermarked stream-stream inner join must emit EXACTLY the
    batch interval-join's pairs — same rows, same payloads, each exactly
    once (Spark emits stream-stream inner matches eagerly; the watermark
    only bounds state). Drains a private copy of the events source so the
    registry memo is not involved."""
    import os
    import shutil

    from databricks_incremental_lakehouse_spark.streaming.joins import (
        events_view_purchase_join,
        view_purchase_join_stream,
    )

    src = str(tmp_path / "src")
    os.makedirs(src)
    shutil.copy(
        os.path.join(sf_correct, "events.parquet"),
        os.path.join(src, "events.parquet"),
    )
    q = view_purchase_join_stream(
        spark, src, str(tmp_path / "tgt"), str(tmp_path / "ckpt")
    )
    assert q.awaitTermination(300), "stream-stream join did not drain"

    def keyed(rows):
        return {
            (r.view_event_id, r.purchase_event_id): (
                r.user_id, r.view_ts, r.purchase_ts, r.view_value,
                r.purchase_value, r.delay_us,
            )
            for r in rows
        }

    streamed = spark.read.parquet(str(tmp_path / "tgt")).collect()
    batch = events_view_purchase_join(spark, sf_correct).collect()
    assert len(streamed) == len(batch) > 0  # no duplicate emissions
    assert keyed(streamed) == keyed(batch)
    # the interval bound binds: some same-user view/purchase pairs fall
    # outside it (else the time condition is vacuous on this corpus)
    from databricks_incremental_lakehouse_spark.tables import load_table
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_correct, "events")
    all_pairs = (
        ev.filter(F.col("event_type") == "view")
        .select(F.col("user_id"), F.col("event_id").alias("v_id"))
        .join(
            ev.filter(F.col("event_type") == "purchase").select(
                F.col("user_id"), F.col("event_id").alias("p_id")
            ),
            "user_id",
        )
        .count()
    )
    assert all_pairs > len(batch)


def test_stream_stream_left_join_watermark_horizon(spark, sf_correct, tmp_path):
    """The LEFT OUTER drain must emit (a) exactly the inner join's match
    rows and (b) a NULL row for precisely the unmatched views older than
    the end-of-stream watermark horizon (min over both legs of max event
    time - delay); unmatched views younger than the horizon stay in
    state, unemitted. The horizon must bind (some views unemitted) and
    the null set must be non-trivial."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from databricks_incremental_lakehouse_spark.streaming.joins import (
        JOIN_BOUND_MIN,
        events_view_purchase_join,
        view_purchase_join_stream,
    )
    from databricks_incremental_lakehouse_spark.tables import load_table

    src = str(tmp_path / "src")
    os.makedirs(src)
    shutil.copy(
        os.path.join(sf_correct, "events.parquet"),
        os.path.join(src, "events.parquet"),
    )
    q = view_purchase_join_stream(
        spark, src, str(tmp_path / "tgt"), str(tmp_path / "ckpt"),
        how="left_outer",
    )
    assert q.awaitTermination(300), "left-outer stream join did not drain"
    out = spark.read.parquet(str(tmp_path / "tgt"))

    matches = {
        (r.view_event_id, r.purchase_event_id)
        for r in out.filter(F.col("purchase_event_id").isNotNull()).collect()
    }
    batch = {
        (r.view_event_id, r.purchase_event_id)
        for r in events_view_purchase_join(spark, sf_correct).collect()
    }
    assert matches == batch

    ev = load_table(spark, sf_correct, "events")
    views = ev.filter(F.col("event_type") == "view")
    purch = ev.filter(F.col("event_type") == "purchase")
    wm_v, wm_p = (
        views.agg(F.max("ts")).collect()[0][0],
        purch.agg(F.max("ts")).collect()[0][0],
    )
    import datetime

    horizon = min(wm_v, wm_p).replace(microsecond=0) + datetime.timedelta(
        milliseconds=min(wm_v, wm_p).microsecond // 1000
    ) - datetime.timedelta(hours=1)
    matched_views = {v for v, _p in batch}
    expect_nulls = {
        r.event_id
        for r in views.collect()
        if r.event_id not in matched_views
        and r.ts + datetime.timedelta(minutes=JOIN_BOUND_MIN) < horizon
    }
    got_nulls = {
        r.view_event_id
        for r in out.filter(F.col("purchase_event_id").isNull()).collect()
    }
    assert got_nulls == expect_nulls
    assert expect_nulls  # the null path is exercised
    n_views = views.count()
    assert len(got_nulls) + len(matched_views) < n_views  # horizon binds


def test_stream_stream_join_drops_late_data_across_drains(spark, tmp_path):
    """Watermark semantics across restarts: after a first drain advances
    the watermark (persisted in the checkpoint), a second drain must DROP
    rows arriving with event times below it — a late view/purchase pair
    that would match in batch never emits — while an on-time pair in the
    same second batch emits normally. This is the behavior that bounds
    state at 100 TB: accepting arbitrarily late rows would mean keeping
    the whole history in the state store."""
    import datetime
    import os

    from databricks_incremental_lakehouse_spark.streaming.joins import (
        view_purchase_join_stream,
    )

    src = str(tmp_path / "src")
    os.makedirs(src)
    base = datetime.datetime(2024, 3, 1, 12, 0, 0)

    def ev(eid, ts, uid, etype):
        return (eid, ts, uid, etype, 1.0, "{}")

    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    # batch 1: one on-time pair + an anchor event 10 days ahead on BOTH
    # legs, pushing each leg's watermark far past `base`
    b1 = [
        ev(1, base, 100, "view"),
        ev(2, base + datetime.timedelta(minutes=5), 100, "purchase"),
        ev(3, base + datetime.timedelta(days=10), 999, "view"),
        ev(4, base + datetime.timedelta(days=10), 999, "purchase"),
    ]
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(src)
    q = view_purchase_join_stream(
        spark, src, str(tmp_path / "tgt"), str(tmp_path / "ckpt")
    )
    assert q.awaitTermination(300)
    first = {
        (r.view_event_id, r.purchase_event_id)
        for r in spark.read.parquet(str(tmp_path / "tgt")).collect()
    }
    assert (1, 2) in first

    # batch 2: a LATE pair back at `base` (far below the restored
    # watermark) and an ON-TIME pair near the anchor
    near = base + datetime.timedelta(days=10, minutes=1)
    b2 = [
        ev(11, base + datetime.timedelta(minutes=1), 200, "view"),
        ev(12, base + datetime.timedelta(minutes=6), 200, "purchase"),
        ev(13, near, 300, "view"),
        ev(14, near + datetime.timedelta(minutes=2), 300, "purchase"),
    ]
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(src)
    q2 = view_purchase_join_stream(
        spark, src, str(tmp_path / "tgt"), str(tmp_path / "ckpt")
    )
    assert q2.awaitTermination(300)
    after = {
        (r.view_event_id, r.purchase_event_id)
        for r in spark.read.parquet(str(tmp_path / "tgt")).collect()
    }
    assert (13, 14) in after  # on-time pair emitted
    assert (11, 12) not in after  # late pair DROPPED by the watermark


def test_stream_session_windows_watermark_horizon(spark, sf_correct, tmp_path):
    """The drained streaming sessionization must emit exactly the batch
    gaps-and-islands sessions whose end has passed the end-of-stream
    watermark horizon (ms-floored max event time - 1h), each exactly once
    with identical aggregates; younger sessions stay in state, unemitted,
    and the horizon must bind (some sessions withheld)."""
    import os
    import shutil

    from databricks_incremental_lakehouse_spark.streaming.windows import (
        SESSION_WATERMARK_DELAY,
        events_session_windows,
        session_windows_stream,
    )

    assert SESSION_WATERMARK_DELAY == "1 hour"
    src = str(tmp_path / "src")
    os.makedirs(src)
    shutil.copy(
        os.path.join(sf_correct, "events.parquet"),
        os.path.join(src, "events.parquet"),
    )
    q = session_windows_stream(
        spark, src, str(tmp_path / "tgt"), str(tmp_path / "ckpt")
    )
    assert q.awaitTermination(300), "sessionization did not drain"

    def keyed(rows):
        return {
            (r.user_id, r.session_start): (
                r.session_end, r.event_count, r.total_value
            )
            for r in rows
        }

    streamed = keyed(spark.read.parquet(str(tmp_path / "tgt")).collect())
    ev = load_table(spark, sf_correct, "events")
    horizon_row = ev.select(
        (
            F.timestamp_millis(
                (F.unix_micros(F.max(F.col("ts").cast("timestamp"))) / 1000)
                .cast("bigint")
            )
            - F.expr("INTERVAL 1 HOUR")
        ).alias("h")
    ).collect()[0]
    batch = events_session_windows(spark, sf_correct).collect()
    expected = keyed(r for r in batch if r.session_end < horizon_row.h)
    assert 0 < len(expected) < len(batch)  # the horizon binds
    assert streamed == expected


def test_stream_tumbling_hourly_watermark_horizon(spark, sf_correct, tmp_path):
    """The drained streaming tumbling aggregation must emit exactly the
    batch hourly buckets whose end has passed the end-of-stream watermark
    horizon, each exactly once; younger buckets stay in state (the
    horizon must bind)."""
    import os
    import shutil

    from databricks_incremental_lakehouse_spark.streaming.windows import (
        events_tumbling_hourly,
        tumbling_hourly_stream,
    )

    src = str(tmp_path / "src")
    os.makedirs(src)
    shutil.copy(
        os.path.join(sf_correct, "events.parquet"),
        os.path.join(src, "events.parquet"),
    )
    q = tumbling_hourly_stream(
        spark, src, str(tmp_path / "tgt"), str(tmp_path / "ckpt")
    )
    assert q.awaitTermination(300), "tumbling stream did not drain"

    def keyed(rows):
        return {
            (r.window_start, r.event_type): (
                r.event_count, r.total_value, r.avg_value
            )
            for r in rows
        }

    streamed = keyed(spark.read.parquet(str(tmp_path / "tgt")).collect())
    ev = load_table(spark, sf_correct, "events")
    horizon = ev.select(
        (
            F.timestamp_millis(
                (F.unix_micros(F.max(F.col("ts").cast("timestamp"))) / 1000)
                .cast("bigint")
            )
            - F.expr("INTERVAL 1 HOUR")
        ).alias("h")
    ).collect()[0].h
    batch = events_tumbling_hourly(spark, sf_correct).collect()
    import datetime

    expected = keyed(
        type("R", (), {
            "window_start": r.window_start, "event_type": r.event_type,
            "event_count": r.event_count, "total_value": r.total_value,
            "avg_value": r.avg_value,
        })()
        for r in batch
        if r.window_start + datetime.timedelta(hours=1) < horizon
    )
    assert 0 < len(expected) < len(batch)  # the horizon binds
    assert streamed == expected


def test_stateful_funnel_order_independent(spark, sf_smoke, tmp_path):
    """The streaming funnel must equal the batch cascaded-min funnel even
    when micro-batches arrive in REVERSE time order (one file per drained
    batch), proving the state fold is arrival-order independent — the
    property the candidate-list pruning bounds must not break."""
    from databricks_incremental_lakehouse_spark.streaming.stateful import (
        stateful_funnel_stream,
    )
    from databricks_incremental_lakehouse_spark.streaming.temporal import (
        events_funnel,
    )

    from pyspark.sql.window import Window

    events = load_table(spark, sf_smoke, "events")
    src = str(tmp_path / "src")
    # 4 files, each a contiguous DESCENDING time slice: the earliest
    # events land in the LAST micro-batch
    ranked = events.withColumn(
        "slice", F.ntile(4).over(Window.orderBy(F.desc("ts"), "event_id"))
    )
    for i in range(1, 5):
        ranked.filter(F.col("slice") == i).drop("slice").coalesce(1).write.mode(
            "append"
        ).parquet(src)

    q = stateful_funnel_stream(
        spark,
        src,
        str(tmp_path / "target"),
        str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    assert q.awaitTermination(300)
    assert q.lastProgress is not None

    got = {
        r.user_id: (r.t_view, r.t_click, r.t_purchase, r.reached_step)
        for r in spark.read.parquet(str(tmp_path / "target")).collect()
    }
    expect = {
        r.user_id: (r.t_view, r.t_click, r.t_purchase, r.reached_step)
        for r in events_funnel(spark, sf_smoke).collect()
    }
    assert got == expect
    assert any(v[3] == 3 for v in expect.values())  # corpus exercises full depth


def test_scd2_apply_batches_converge_to_batch_derivation(spark, sf_smoke, tmp_path):
    """Applying the observation stream in event-time-ordered micro-batches
    must produce byte-for-byte the batch SCD2 derivation: the seeded
    run-collapse + (user_id, version) upsert is the incremental twin of
    the one-pass query. Splits chosen so batch boundaries fall INSIDE
    attribute runs (the seed-extends-open-row path) as well as between
    them (the close-and-insert path)."""
    from databricks_incremental_lakehouse_spark.streaming.scd import (
        _tier_observations,
        scd2_apply_batch,
        scd2_user_tier_history,
    )

    obs = _tier_observations(spark, sf_smoke)
    lo, hi = obs.agg(F.min("ts"), F.max("ts")).first()
    span = hi - lo
    cuts = [lo + span / 4, lo + span / 2, lo + 3 * span / 4]
    target = str(tmp_path / "scd2")

    batches = [
        obs.filter(F.col("ts") <= F.lit(cuts[0])),
        obs.filter((F.col("ts") > F.lit(cuts[0])) & (F.col("ts") <= F.lit(cuts[1]))),
        obs.filter((F.col("ts") > F.lit(cuts[1])) & (F.col("ts") <= F.lit(cuts[2]))),
        obs.filter(F.col("ts") > F.lit(cuts[2])),
    ]
    for b in batches:
        scd2_apply_batch(spark, b, target)

    from databricks_incremental_lakehouse_spark.streaming import read_merge_target

    cols = ["user_id", "version", "tier", "valid_from", "valid_to", "is_current", "n_obs"]
    got = sorted(map(tuple, read_merge_target(spark, target).select(*cols).collect()))
    want = sorted(map(tuple, scd2_user_tier_history(spark, sf_smoke).select(*cols).collect()))
    assert got == want
    # the corpus exercises both multi-version users and open current rows
    assert any(r[5] for r in want) and any(r[1] >= 3 for r in want)


def test_scd2_planted_sequence(spark, tmp_path):
    """Hand-checked SCD2 semantics on a planted A,A,B,A sequence: three
    versions, touching validity intervals, n_obs per run, single current
    row — and a mid-run batch split extends the open row in place."""
    from databricks_incremental_lakehouse_spark.streaming import read_merge_target
    from databricks_incremental_lakehouse_spark.streaming.scd import scd2_apply_batch

    rows = [
        (1, "2024-01-01 00:00:00", 10, 0),
        (1, "2024-01-02 00:00:00", 11, 0),
        (1, "2024-01-03 00:00:00", 12, 1),
        (1, "2024-01-04 00:00:00", 13, 0),
    ]
    obs = spark.createDataFrame(
        rows, "user_id long, ts string, event_id long, tier int"
    ).withColumn("ts", F.col("ts").cast("timestamp"))

    target = str(tmp_path / "scd2")
    scd2_apply_batch(spark, obs.filter("event_id <= 10"), target)  # run 1 opens
    scd2_apply_batch(spark, obs.filter("event_id = 11"), target)  # same-run extend
    scd2_apply_batch(spark, obs.filter("event_id >= 12"), target)  # B then back to A

    got = {
        r.version: (r.tier, str(r.valid_from), r.valid_to and str(r.valid_to),
                    r.is_current, r.n_obs)
        for r in read_merge_target(spark, target).collect()
    }
    assert got == {
        1: (0, "2024-01-01 00:00:00", "2024-01-03 00:00:00", False, 2),
        2: (1, "2024-01-03 00:00:00", "2024-01-04 00:00:00", False, 1),
        3: (0, "2024-01-04 00:00:00", None, True, 1),
    }


def test_scd2_point_in_time_exercises_both_sides(spark, sf_smoke):
    """The PIT join must be non-degenerate on this corpus: purchases
    before a user's first profile observation keep NULL tier, later ones
    carry a real historical version — and at least one enriched purchase
    must carry a tier that is NOT the user's CURRENT tier (proof the join
    reads history, not the latest image)."""
    from databricks_incremental_lakehouse_spark.streaming.scd import (
        scd2_point_in_time_purchases,
        scd2_user_tier_history,
    )

    res = scd2_point_in_time_purchases(spark, sf_smoke)
    rows = res.collect()
    assert any(r.tier_tier is None for r in rows)
    assert any(r.tier_tier is not None for r in rows)

    current = {
        r.user_id: r.tier
        for r in scd2_user_tier_history(spark, sf_smoke).filter("is_current").collect()
    }
    assert any(
        r.tier_tier is not None and r.tier_tier != current.get(r.user_id)
        for r in rows
    )


def test_scd2_stream_converges_and_resumes(spark, sf_smoke, tmp_path):
    """The streaming SCD2 front door: time-ordered observation files
    drained one per trigger must converge to the batch derivation over
    the fed span; files arriving AFTER a drain are picked up by the next
    drain from the checkpoint (exactly-once continuation, no rescan of
    already-applied files)."""
    from databricks_incremental_lakehouse_spark.streaming import read_merge_target
    from databricks_incremental_lakehouse_spark.streaming.scd import (
        _tier_observations,
        incremental_scd2_stream,
        scd2_collapse,
    )

    obs = _tier_observations(spark, sf_smoke)
    lo, hi = obs.agg(F.min("ts"), F.max("ts")).first()
    span = hi - lo
    cuts = [lo + span / 4, lo + span / 2, lo + 3 * span / 4]
    src = str(tmp_path / "src")
    target = str(tmp_path / "scd2")
    ckpt = str(tmp_path / "ckpt")

    slices = [
        obs.filter(F.col("ts") <= F.lit(cuts[0])),
        obs.filter((F.col("ts") > F.lit(cuts[0])) & (F.col("ts") <= F.lit(cuts[1]))),
        obs.filter((F.col("ts") > F.lit(cuts[1])) & (F.col("ts") <= F.lit(cuts[2]))),
    ]

    def _land(sl, stamp):
        """Append one file and pin a strictly increasing mtime: the file
        source orders new files by modification time, and the SCD2 apply
        contract needs the time-ordered slices applied in order."""
        import os

        sl.coalesce(1).write.mode("append").parquet(src)
        for name in os.listdir(src):
            if name.endswith(".parquet"):
                fp = os.path.join(src, name)
                if os.path.getmtime(fp) > stamp - 1:
                    os.utime(fp, (stamp, stamp))
        return stamp + 10

    stamp = 1_000_000_000.0
    for sl in slices:
        stamp = _land(sl, stamp)

    q = incremental_scd2_stream(spark, src, target, ckpt, max_files_per_trigger=1)
    assert q.awaitTermination(300)

    cols = ["user_id", "version", "tier", "valid_from", "valid_to", "is_current", "n_obs"]
    got = sorted(map(tuple, read_merge_target(spark, target).select(*cols).collect()))
    want = sorted(
        map(tuple, scd2_collapse(obs.filter(F.col("ts") <= F.lit(cuts[2]))).select(*cols).collect())
    )
    assert got == want

    # late span arrives after the first drain: resume from the checkpoint
    _land(obs.filter(F.col("ts") > F.lit(cuts[2])), stamp)
    q2 = incremental_scd2_stream(spark, src, target, ckpt, max_files_per_trigger=1)
    assert q2.awaitTermination(300)
    got2 = sorted(map(tuple, read_merge_target(spark, target).select(*cols).collect()))
    want2 = sorted(map(tuple, scd2_collapse(obs).select(*cols).collect()))
    assert got2 == want2


def test_scd2_apply_is_replay_idempotent(spark, sf_smoke, tmp_path):
    """foreachBatch is at-least-once: re-applying an already-absorbed
    batch (crash between merge commit and checkpoint) must be a byte-level
    no-op — the high-water mark drops every re-delivered observation —
    and a PARTIALLY overlapping batch absorbs only its new observations."""
    from databricks_incremental_lakehouse_spark.streaming import read_merge_target
    from databricks_incremental_lakehouse_spark.streaming.scd import (
        _tier_observations,
        scd2_apply_batch,
        scd2_collapse,
    )

    obs = _tier_observations(spark, sf_smoke)
    lo, hi = obs.agg(F.min("ts"), F.max("ts")).first()
    mid = lo + (hi - lo) / 2
    b1 = obs.filter(F.col("ts") <= F.lit(mid))
    target = str(tmp_path / "scd2")

    scd2_apply_batch(spark, b1, target)
    snap = sorted(map(tuple, read_merge_target(spark, target).collect()))
    scd2_apply_batch(spark, b1, target)  # full replay
    assert sorted(map(tuple, read_merge_target(spark, target).collect())) == snap

    # overlapping redelivery: first half again + the rest
    scd2_apply_batch(spark, obs, target)
    cols = ["user_id", "version", "tier", "valid_from", "valid_to", "is_current", "n_obs"]
    got = sorted(map(tuple, read_merge_target(spark, target).select(*cols).collect()))
    want = sorted(map(tuple, scd2_collapse(obs).select(*cols).collect()))
    assert got == want


def test_merge_schema_evolution(spark, tmp_path):
    """Delta mergeSchema semantics, exercised in the buckets where
    single-footer inference CANNOT see the evolved column (the r7 review
    reproduction): widening backfills stored rows with NULLs; a later
    NARROWER batch rewriting the evolved bucket preserves the column;
    a matched UPDATE from a source missing the column INHERITS the stored
    value (Delta UPDATE SET *); a type conflict fails loudly."""
    import pytest as _pytest

    from databricks_incremental_lakehouse_spark.streaming import (
        merge_upsert,
        read_merge_target,
    )

    t = str(tmp_path / "tbl")
    merge_upsert(
        spark,
        spark.createDataFrame([(i, f"v{i}") for i in range(40)], "k long, v string"),
        t,
        keys=["k"],
    )
    # pick the widening key in the lexicographically LAST bucket dir, and a
    # same-bucket neighbor whose narrow update will rewrite that bucket
    buckets = {
        r.k: r.b
        for r in spark.createDataFrame([(i,) for i in range(40)], "k long")
        .select("k", F.pmod(F.xxhash64("k"), F.lit(16)).cast("int").alias("b"))
        .collect()
    }
    first_dir = min(set(buckets.values()), key=lambda b: f"_kb={b}")
    candidates = [
        b
        for b in sorted(set(buckets.values()), key=lambda b: f"_kb={b}", reverse=True)
        if b != first_dir and sum(1 for v in buckets.values() if v == b) >= 2
    ]
    assert candidates, "no non-first bucket holds two keys"
    in_last = sorted(k for k, b in buckets.items() if b == candidates[0])
    wide_key, neighbor = in_last[0], in_last[1]

    merge_upsert(
        spark,
        spark.createDataFrame([(wide_key, "wide", 99)], "k long, v string, extra int"),
        t,
        keys=["k"],
    )
    got = {r.k: (r.v, r.extra) for r in read_merge_target(spark, t).collect()}
    assert got[wide_key] == ("wide", 99)
    assert got[neighbor] == (f"v{neighbor}", None)  # NULL backfill visible

    # narrower batch rewrites the evolved bucket via the neighbor key: the
    # evolved column must survive in the rewritten files
    merge_upsert(
        spark,
        spark.createDataFrame([(neighbor, "n2")], "k long, v string"),
        t,
        keys=["k"],
    )
    got = {r.k: (r.v, r.extra) for r in read_merge_target(spark, t).collect()}
    assert got[wide_key] == ("wide", 99)
    assert got[neighbor] == ("n2", None)

    # matched UPDATE from a source that never learned the evolved column:
    # the stored value is inherited, never nulled (Delta UPDATE SET *)
    merge_upsert(
        spark,
        spark.createDataFrame([(wide_key, "wide2")], "k long, v string"),
        t,
        keys=["k"],
    )
    got = {r.k: (r.v, r.extra) for r in read_merge_target(spark, t).collect()}
    assert got[wide_key] == ("wide2", 99)

    with _pytest.raises(ValueError, match="type conflict"):
        merge_upsert(
            spark,
            spark.createDataFrame([(5, "x", "not-an-int")], "k long, v string, extra string"),
            t,
            keys=["k"],
        )


def test_meta_sidecar_crash_discipline(spark, tmp_path):
    """The sidecar's crash windows (ADVICE r7): (a) a STAGED schema image
    left by a crash between the bucket swaps and the promote is promoted
    by the next read, so the evolved column is never hidden behind the
    stale pinned schema; (b) a corrupt sidecar degrades reads to the
    footer-union path but makes MERGES fail loudly (a wrong bucket count
    would silently duplicate keys); (c) the atomic temp+rename write
    leaves no ``.tmp`` debris visible to Spark."""
    import json as _json
    import os as _os

    import pytest as _pytest

    from databricks_incremental_lakehouse_spark.streaming import (
        merge_upsert,
        read_merge_target,
    )
    from databricks_incremental_lakehouse_spark.streaming.incremental import (
        META_FILE,
        _META_STAGED,
    )

    t = str(tmp_path / "tbl")
    merge_upsert(
        spark,
        spark.createDataFrame([(i, f"v{i}") for i in range(10)], "k long, v string"),
        t,
        keys=["k"],
    )
    # (a) simulate the crash: hand-stage an evolved schema image (as the
    # merge does pre-swap) WITHOUT promoting it; the stale META_FILE still
    # pins the narrow schema
    with open(_os.path.join(t, META_FILE)) as fh:
        meta = _json.load(fh)
    wide = dict(meta)
    wide_schema = dict(meta["schema"])
    wide_schema["fields"] = list(meta["schema"]["fields"]) + [
        {"name": "extra", "type": "integer", "nullable": True, "metadata": {}}
    ]
    wide["schema"] = wide_schema
    with open(_os.path.join(t, _META_STAGED), "w") as fh:
        _json.dump(wide, fh)
    got = read_merge_target(spark, t)
    assert "extra" in got.columns  # staged image promoted, column visible
    assert not _os.path.exists(_os.path.join(t, _META_STAGED))
    assert got.count() == 10

    # (b) corrupt sidecar: reads degrade, merges refuse
    with open(_os.path.join(t, META_FILE), "w") as fh:
        fh.write('{"keys": ["k"], "num_buck')  # truncated mid-write
    assert read_merge_target(spark, t).count() == 10  # footer-union path
    with _pytest.raises(ValueError, match="corrupt merge sidecar"):
        merge_upsert(
            spark,
            spark.createDataFrame([(1, "x")], "k long, v string"),
            t,
            keys=["k"],
        )

    # (c) restore a healthy sidecar; merge works again and no temp debris
    with open(_os.path.join(t, META_FILE), "w") as fh:
        _json.dump(meta, fh)
    merge_upsert(
        spark,
        spark.createDataFrame([(1, "x")], "k long, v string"),
        t,
        keys=["k"],
    )
    assert {r.v for r in read_merge_target(spark, t).filter("k = 1").collect()} == {"x"}
    assert not any(f.endswith(".tmp") for f in _os.listdir(t))


def test_stream_dedup_collapses_cross_batch_redelivery(spark, sf_smoke):
    """The doubled feed must collapse to exactly the distinct event set:
    output count equals the single-delivery count (half the fed rows) and
    event_ids are unique — the second delivery died in the dedup state
    store, since maxFilesPerTrigger=1 forces it into a later micro-batch."""
    from databricks_incremental_lakehouse_spark.streaming.windows import (
        stream_dedup_redelivery,
    )
    from databricks_incremental_lakehouse_spark.tables import load_table

    out = stream_dedup_redelivery(spark, sf_smoke)
    n_events = load_table(spark, sf_smoke, "events").count()
    assert out.count() == n_events  # fed 2x, kept 1x
    assert out.select("event_id").distinct().count() == n_events


def test_admission_gate_covers_audit_probe_pairs(spark, sf_correct, tmp_path):
    """VERDICT r10 #7 — the documented boundary between the two near-dup
    front doors, enforced: the streaming ADMISSION GATE (keep-first band
    registry, candidate-level) must flag the later-arriving side of every
    pair the maintained index's AUDIT PROBE verifies, when both consume
    the same feed (base docs arrive before the arrival batch, matching
    the index's split). Verification only removes candidates, so a gate
    miss would mean the two mechanisms disagree about the band
    derivation itself."""
    import glob
    import shutil

    from databricks_incremental_lakehouse_spark.llmdata.incrstats import (
        DOC_ARRIVAL_MOD,
    )
    from databricks_incremental_lakehouse_spark.registry import QUERIES
    from databricks_incremental_lakehouse_spark.streaming import (
        incremental_minhash_registry_stream,
    )

    docs = load_table(spark, sf_correct, "documents")
    source = str(tmp_path / "source")
    os.makedirs(source)

    def stage_file(df, name):
        staging = str(tmp_path / f"_stage_{name}")
        df.coalesce(1).write.parquet(staging)
        part = glob.glob(os.path.join(staging, "part-*.parquet"))[0]
        shutil.move(part, os.path.join(source, name))

    stage_file(docs.filter(F.col("doc_id") % DOC_ARRIVAL_MOD != 0), "f0.parquet")
    stage_file(docs.filter(F.col("doc_id") % DOC_ARRIVAL_MOD == 0), "f1.parquet")

    q = incremental_minhash_registry_stream(
        spark,
        source,
        str(tmp_path / "registry"),
        str(tmp_path / "dups"),
        str(tmp_path / "chk"),
    )
    # a False return means the stream is still running and the dups log is
    # partially written — fail HERE, not downstream with a confusing
    # "gate missed pairs" message (ADVICE r11)
    assert q.awaitTermination(180), "stream did not drain within 180s"
    dups = str(tmp_path / "dups")
    dup_rows = (
        spark.read.parquet(dups).collect() if os.path.isdir(dups) else []
    )
    flagged = {r.doc_id for r in dup_rows}
    # the gate's own attribution invariant, checked from the log itself
    # rather than re-encoding the tie-break in the test: a flag points at
    # an EARLIER match — an earlier FILE (base before arrival, by this
    # feed's construction), or a lower-id mate within the same file
    def _is_arrival(d):
        return d % DOC_ARRIVAL_MOD == 0

    for r in dup_rows:
        if _is_arrival(r.matched_doc_id) == _is_arrival(r.doc_id):
            assert r.matched_doc_id < r.doc_id, (
                f"within-batch flag {r.doc_id} attributes to a "
                f"non-earlier match {r.matched_doc_id}"
            )
        else:
            assert not _is_arrival(r.matched_doc_id) and _is_arrival(
                r.doc_id
            ), (
                f"cross-batch flag {r.doc_id} attributes to a LATER-file "
                f"match {r.matched_doc_id}"
            )

    pairs = QUERIES["dedup_minhash_append"](spark, sf_correct).collect()
    assert pairs, "vacuous: the audit probe verified no pairs"
    missed = []
    for r in pairs:
        a_arr = r.doc_a % DOC_ARRIVAL_MOD == 0
        b_arr = r.doc_b % DOC_ARRIVAL_MOD == 0
        if a_arr and b_arr:
            # within the arrival batch the gate flags SOME side of the
            # pair (whichever it attributes later — the attribution
            # invariant above pins the direction without the test
            # hard-coding it)
            if r.doc_a not in flagged and r.doc_b not in flagged:
                missed.append((r.doc_a, r.doc_b, "either"))
        else:
            # base file landed first, so the arrival side is strictly
            # later by construction of the feed
            later = r.doc_a if a_arr else r.doc_b
            if later not in flagged:
                missed.append((r.doc_a, r.doc_b, later))
    assert not missed, f"gate missed probe-verified pairs: {missed}"


def test_drain_once_refuses_a_partial_sink(spark, sf_smoke):
    """A drain that times out or errors is stopped, its temp root removed
    and nothing memoized (no later call may serve a partial sink); a good
    drain runs once per session and its root dies with the memo entry."""
    from databricks_incremental_lakehouse_spark import memo
    from databricks_incremental_lakehouse_spark.streaming.tuning import (
        copy_events,
        drain_once,
    )

    class FakeQuery:
        def __init__(self, outcome):
            self.outcome, self.stopped = outcome, False

        def awaitTermination(self, timeout):
            if isinstance(self.outcome, Exception):
                raise self.outcome
            return self.outcome

        def stop(self):
            self.stopped = True

    roots, queries = [], []

    def start_with(outcome):
        def start(src, target, ckpt):
            roots.append(os.path.dirname(target))
            assert os.listdir(src)  # the events copy is in place
            queries.append(FakeQuery(outcome))
            return queries[-1]

        return start

    key = ("fake_stream", sf_smoke)
    for outcome, err in ((False, TimeoutError), (RuntimeError("boom"), RuntimeError)):
        with pytest.raises(err):
            drain_once(spark, key, "fake_drain_", start_with(outcome), copy_events(sf_smoke))
        assert queries[-1].stopped
        assert not os.path.exists(roots[-1])
        assert memo.get(spark, key) is None

    target = drain_once(spark, key, "fake_drain_", start_with(True), copy_events(sf_smoke))
    again = drain_once(spark, key, "fake_drain_", start_with(True), copy_events(sf_smoke))
    assert again == target and len(queries) == 3
    memo.drop(spark, key)
    assert not os.path.exists(roots[-1])
