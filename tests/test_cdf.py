"""Streaming change-data-feed source (streaming/cdf.py): offsets over
the commit journal, per-transition changed-file diffs, exactly-once
restart from a checkpoint."""

import os

import pytest
from pyspark.sql import functions as F

from house_price_etl_pipeline_spark.streaming.cdf import (
    UpsertChangesStreamReader, _vals_equal, stream_upsert_changes)
from house_price_etl_pipeline_spark.streaming.ingest import (
    upsert_commit_batch, upsert_delete_where, upsert_merge_into)


def _build(spark, tmp_path, keep_versions=8):
    target = str(tmp_path / "tbl")
    b0 = spark.createDataFrame(
        [(1, 0, 10), (2, 0, 20), (3, 0, 30)], "k long, ord long, v long")
    upsert_commit_batch(b0, target, 0, key_cols=["k"], order_col="ord",
                        keep_versions=keep_versions)
    b1 = spark.createDataFrame(
        [(2, 1, 25), (3, 0, 30), (4, 1, 40)], "k long, ord long, v long")
    # k=2 update; k=3 re-upserted byte-EQUAL incl ord (must not
    # surface); k=4 insert
    upsert_commit_batch(b1, target, 1, key_cols=["k"], order_col="ord",
                        keep_versions=keep_versions)
    upsert_delete_where(spark, target, 2, "k = 1",
                        keep_versions=keep_versions)
    return target


def _drain_changes(spark, target, **kw):
    from house_price_etl_pipeline_spark.streaming.windows import _drain
    return _drain(stream_upsert_changes(spark, target, ["k"], **kw),
                  spark, output_mode="append")


def test_cdf_change_rows_and_version_attribution(spark, tmp_path):
    """Initial snapshot emits as version-0 inserts; an equal re-upsert
    emits nothing; update emits pre+post at the updating version;
    delete emits at the deleting version."""
    target = _build(spark, tmp_path)
    rows = sorted((r._commit_version, r.change_type, r.k, r.v)
                  for r in _drain_changes(spark, target).collect())
    assert rows == [
        (0, "insert", 1, 10), (0, "insert", 2, 20), (0, "insert", 3, 30),
        (1, "insert", 4, 40),
        (1, "update_postimage", 2, 25), (1, "update_preimage", 2, 20),
        (2, "delete", 1, 10),
    ]


def test_cdf_ord_column_counts_as_payload(spark, tmp_path):
    """Every table column is payload for the diff: a re-upsert that
    changes ONLY the order column surfaces as an update (matching
    read_upsert_changes' full-row eqNullSafe comparison)."""
    target = str(tmp_path / "tbl")
    b0 = spark.createDataFrame([(7, 0, 70)], "k long, ord long, v long")
    upsert_commit_batch(b0, target, 0, key_cols=["k"], order_col="ord",
                        keep_versions=8)
    b1 = spark.createDataFrame([(7, 1, 70)], "k long, ord long, v long")
    upsert_commit_batch(b1, target, 1, key_cols=["k"], order_col="ord",
                        keep_versions=8)
    rows = sorted((r.change_type, r.ord) for r in
                  _drain_changes(spark, target).collect()
                  if r._commit_version == 1)
    assert rows == [("update_postimage", 1), ("update_preimage", 0)]


def test_cdf_merge_commit_feeds_stream(spark, tmp_path):
    """A MERGE commit's changes flow through the feed like any other
    versioning op."""
    target = str(tmp_path / "tbl")
    b0 = spark.createDataFrame([(1, 0, 10), (2, 0, 20)],
                               "k long, ord long, v long")
    upsert_commit_batch(b0, target, 0, key_cols=["k"], order_col="ord",
                        keep_versions=8)
    src = spark.createDataFrame([(2, 0, 99), (5, 0, 50)],
                                "k long, ord long, v long")
    upsert_merge_into(spark, target, 1, src, ["k"], keep_versions=8)
    rows = sorted((r._commit_version, r.change_type, r.k)
                  for r in _drain_changes(spark, target).collect())
    assert rows == [(0, "insert", 1), (0, "insert", 2),
                    (1, "insert", 5),
                    (1, "update_postimage", 2), (1, "update_preimage", 2)]


def test_cdf_reads_changed_files_only(spark, tmp_path, monkeypatch):
    """With incremental commits, a transition's diff must open only the
    files the commit actually rewrote/retired — not the table."""
    import pyarrow.parquet as pq

    import house_price_etl_pipeline_spark.streaming.cdf as cdf

    monkeypatch.setenv("SPARK_GRAFT_INCREMENTAL_MIN_BYTES", "0")
    target = str(tmp_path / "tbl")
    b0 = spark.createDataFrame(
        [(i, 0, i) for i in range(50)], "k long, ord long, v long")
    b1 = spark.createDataFrame(
        [(i, 0, i) for i in range(50, 100)], "k long, ord long, v long")
    b2 = spark.createDataFrame([(60, 1, 9999)], "k long, ord long, v long")
    for bid, b in ((0, b0), (1, b1), (2, b2)):
        upsert_commit_batch(b, target, bid, key_cols=["k"],
                            order_col="ord", keep_versions=8)
    reader = UpsertChangesStreamReader(
        {"path": target, "key_cols": "k"})
    # transition 1→2: only the files the narrow update touched
    parts = reader.partitions({"n": 2}, {"n": 3})
    opened = []
    real = pq.ParquetFile

    def spy(p, *a, **k):
        opened.append(p)
        return real(p, *a, **k)

    monkeypatch.setattr(pq, "ParquetFile", spy)
    rows = [r for p in parts for r in reader.read(p)]
    assert sorted(r[-2] for r in rows) == ["update_postimage",
                                           "update_preimage"]
    # the transition rewrote exactly one file: the diff opens that
    # file's old and new incarnations and nothing else — a full diff
    # would open every file of BOTH versions (4 here)
    assert len(opened) == 2
    linked = {f for f in os.listdir(parts[0].prev_dir)
              if f.endswith(".parquet")} \
        & {f for f in os.listdir(parts[0].cur_dir)
           if f.endswith(".parquet")}
    assert linked and all(os.path.basename(p) not in linked
                          for p in opened)


def test_cdf_split_partitions_union_is_complete(spark, tmp_path):
    """partitions_per_version splits by stable key hash: the union of
    splits equals the unsplit feed, no dupes, no losses."""
    target = _build(spark, tmp_path)
    one = sorted(map(tuple, _drain_changes(spark, target).collect()))
    four = sorted(map(tuple, _drain_changes(
        spark, target, partitions_per_version=4).collect()))
    assert one == four and len(one) == 7


def test_cdf_checkpoint_restart_resumes_at_cursor(spark, tmp_path):
    """A file-sink drain with a checkpoint consumes versions 0-2; after
    a NEW commit, re-running the same checkpointed query emits ONLY the
    new version's changes — exactly-once across restarts."""
    target = _build(spark, tmp_path)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        q = (stream_upsert_changes(spark, target, ["k"])
             .writeStream.format("parquet")
             .option("path", out)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True)
             .start())
        q.awaitTermination()

    run_once()
    first = spark.read.parquet(out).count()
    assert first == 7
    b3 = spark.createDataFrame([(9, 9, 90)], "k long, ord long, v long")
    upsert_commit_batch(b3, target, 3, key_cols=["k"], order_col="ord",
                        keep_versions=8)
    run_once()
    after = spark.read.parquet(out)
    assert after.count() == 8
    new = [(r.change_type, r.k) for r in
           after.filter(F.col("_commit_version") == 3).collect()]
    assert new == [("insert", 9)]


def test_cdf_vals_equal_nan_and_null():
    assert _vals_equal(float("nan"), float("nan"))
    assert _vals_equal(None, None)
    assert not _vals_equal(None, 0)
    assert not _vals_equal(1.0, float("nan"))


def test_cdf_diff_stays_incremental_across_optimize(spark, tmp_path,
                                                    monkeypatch):
    """VERDICT r10 item 3: an incremental commit landing AFTER an
    OPTIMIZE hard-links against the OPTIMIZE dir's renamed files, so a
    diff against the prior VERSIONING dir would share no names and
    silently degrade to a whole-snapshot diff. The feed must pair each
    transition with the immediately preceding JOURNAL dir (compactions
    included — content-identical to the version they rewrote), keeping
    files-opened O(changed)."""
    import pyarrow.parquet as pq

    from house_price_etl_pipeline_spark.streaming.ingest import \
        optimize_upsert_target

    monkeypatch.setenv("SPARK_GRAFT_INCREMENTAL_MIN_BYTES", "0")
    target = str(tmp_path / "tbl")
    b0 = spark.createDataFrame(
        [(i, 0, i) for i in range(60)], "k long, ord long, v long")
    upsert_commit_batch(b0, target, 0, key_cols=["k"], order_col="ord",
                        keep_versions=8)
    # compact into 3 files so the post-OPTIMIZE update touches ONE
    optimize_upsert_target(spark, target, max_records_per_file=20,
                           keep_versions=8)
    upsert_commit_batch(
        spark.createDataFrame([(5, 1, 9999)], "k long, ord long, v long"),
        target, 1, key_cols=["k"], order_col="ord", keep_versions=8)
    reader = UpsertChangesStreamReader({"path": target, "key_cols": "k"})
    parts = reader.partitions({"n": 1}, {"n": 2})   # transition v0→v1
    opened = []
    real = pq.ParquetFile

    def spy(p, *a, **k):
        opened.append(p)
        return real(p, *a, **k)

    monkeypatch.setattr(pq, "ParquetFile", spy)
    rows = [r for p in parts for r in reader.read(p)]
    assert sorted(r[-2] for r in rows) == ["update_postimage",
                                           "update_preimage"]
    # changed-file diff: one rewritten file per side — a whole-snapshot
    # degradation would open all files of both versions (≥4 here)
    assert len(opened) == 2, opened
    # and the prev side must be the OPTIMIZE dir, not the v0 upsert dir
    assert "_compact_" in parts[0].prev_dir


def test_cdf_auto_splits_bound_task_memory(spark, tmp_path, monkeypatch):
    """VERDICT r10 item 2: a large (full-rewrite) transition must fan
    out across ceil(changed_bytes / cdf_split_bytes()) splits by
    default, each read() boxing ONLY its split's rows — peak Python
    heap per task stays ~split-sized instead of two snapshots."""
    import tracemalloc

    target = str(tmp_path / "tbl")
    n = 20_000
    b0 = spark.createDataFrame(
        [(i, 0, "x" * 64) for i in range(n)], "k long, ord long, pad string")
    upsert_commit_batch(b0, target, 0, key_cols=["k"], order_col="ord",
                        keep_versions=8)
    b1 = spark.createDataFrame(
        [(i, 1, "y" * 64) for i in range(n)], "k long, ord long, pad string")
    upsert_commit_batch(b1, target, 1, key_cols=["k"], order_col="ord",
                        keep_versions=8)   # full rewrite: every row changes
    # size the split target at 1/8th of the transition's actual changed
    # bytes so the auto-derivation must produce ~8 splits
    changed = sum(
        os.path.getsize(os.path.join(d, f))
        for d in (os.path.join(target + "_versions", "v0"),
                  os.path.join(target + "_versions", "v1"))
        for f in os.listdir(d) if f.endswith(".parquet"))
    monkeypatch.setenv("SPARK_GRAFT_CDF_SPLIT_BYTES", str(changed // 8))
    reader = UpsertChangesStreamReader({"path": target, "key_cols": "k"})
    parts = reader.partitions({"n": 1}, {"n": 2})
    assert len(parts) >= 4, len(parts)
    assert {p.split for p in parts} == set(range(parts[0].n_splits))
    peaks, total = [], 0
    for p in parts:
        tracemalloc.start()
        got = sum(1 for _ in reader.read(p))
        _, peak = tracemalloc.get_traced_memory()
        tracemalloc.stop()
        peaks.append(peak)
        total += got
    assert total == 2 * n   # every key is an update: pre+post per key
    # each task's peak must be a fraction of the whole transition's
    # boxed size — i.e. the split bound holds (unsplit, one task boxes
    # all 40k rows of both sides; here each sees ~1/n_splits of that)
    whole = sum(peaks)
    assert max(peaks) < 0.5 * whole, (max(peaks), whole)


def test_cdf_batch_jvm_route_equals_pysource(spark, tmp_path):
    """read_changes_batch (JVM full-outer differ, no Python workers)
    and the Python DataSource batch reader must emit identical rows
    over the same version range — the format-symmetry path is pinned
    to the production path."""
    from house_price_etl_pipeline_spark.streaming.cdf import (
        read_changes_batch, read_changes_batch_pysource)

    target = _build(spark, tmp_path)
    for kw in ({}, {"starting_version": 1},
               {"starting_version": 1, "ending_version": 1}):
        jvm = read_changes_batch(spark, target, ["k"], **kw)
        py = read_changes_batch_pysource(spark, target, ["k"], **kw)
        assert jvm.columns == py.columns
        assert sorted(map(tuple, jvm.collect())) \
            == sorted(map(tuple, py.collect())), kw
    # the JVM route's plan must contain no Python datasource scan
    plan = read_changes_batch(
        spark, target, ["k"])._jdf.queryExecution().executedPlan().toString()
    assert "PythonDataSource" not in plan and "BatchEvalPython" not in plan


def test_cdf_batch_reader_version_ranges(spark, tmp_path):
    """spark.read.format('upsert_changes') with inclusive
    starting/ending_version bounds returns exactly the in-range
    transitions; no bounds → the whole retained history, equal to the
    streamed feed."""
    from house_price_etl_pipeline_spark.streaming.cdf import \
        read_changes_batch

    target = _build(spark, tmp_path)
    full = sorted(map(tuple,
                      read_changes_batch(spark, target, ["k"]).collect()))
    streamed = sorted(map(tuple, _drain_changes(spark, target).collect()))
    assert full == streamed and len(full) == 7

    mid = read_changes_batch(spark, target, ["k"],
                             starting_version=1, ending_version=1)
    assert sorted((r.change_type, r.k) for r in mid.collect()) == [
        ("insert", 4), ("update_postimage", 2), ("update_preimage", 2)]
    tail = read_changes_batch(spark, target, ["k"], starting_version=2)
    assert [(r.change_type, r.k) for r in tail.collect()] \
        == [("delete", 1)]
    none = read_changes_batch(spark, target, ["k"], starting_version=9)
    assert none.count() == 0


def test_cdf_max_versions_per_trigger_bounds_batches(spark, tmp_path):
    """max_versions_per_trigger (Delta's maxFilesPerTrigger analog in
    version units) caps every trigger after the first: a running query
    that has drained version 0 sees three NEW commits arrive as three
    single-version micro-batches, each spanning exactly one version,
    and the union equals the uncapped drain. (The FIRST batch of a
    query run is uncapped — the Python DataSource offset protocol
    polls latestOffset before the reader learns its position.)"""
    target = str(tmp_path / "tbl")
    upsert_commit_batch(
        spark.createDataFrame([(1, 0, 10)], "k long, ord long, v long"),
        target, 0, key_cols=["k"], order_col="ord", keep_versions=8)

    batches = []

    def on_batch(df, _bid):
        rows = [(r._commit_version, r.change_type, r.k, r.v)
                for r in df.collect()]
        if rows:
            batches.append(rows)

    q = (stream_upsert_changes(spark, target, ["k"],
                               max_versions_per_trigger=1)
         .writeStream.foreachBatch(on_batch)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .start())
    try:
        q.processAllAvailable()
        assert len(batches) == 1          # v0 snapshot drained
        # backlog: three commits land while the query is running
        for i in (1, 2, 3):
            upsert_commit_batch(
                spark.createDataFrame([(1 + i, i, i * 100)],
                                      "k long, ord long, v long"),
                target, i, key_cols=["k"], order_col="ord",
                keep_versions=8)
        q.processAllAvailable()
    finally:
        q.stop()

    assert len(batches) == 4              # 1 snapshot + 3 capped
    for rows in batches[1:]:
        assert len({v for v, *_ in rows}) == 1   # one version per batch
    flat = sorted(r for rows in batches for r in rows)
    uncapped = sorted((r._commit_version, r.change_type, r.k, r.v)
                      for r in _drain_changes(spark, target).collect())
    assert flat == uncapped


def test_cdf_max_versions_option_validation(spark, tmp_path):
    target = _build(spark, tmp_path)
    with pytest.raises(Exception, match="max_versions_per_trigger"):
        # the reader raises at construction; Spark surfaces it on start
        UpsertChangesStreamReader(
            {"path": target, "key_cols": "k",
             "max_versions_per_trigger": "0"})


def test_cdf_stream_starting_version(spark, tmp_path):
    """Delta's streaming startingVersion: a NEW query with
    starting_version=1 emits version 1's changes (diff against v0, not
    an initial snapshot) and everything after — version 0's snapshot
    inserts never appear."""
    target = _build(spark, tmp_path)   # versions 0 (3 inserts), 1, 2
    rows = sorted(
        (r._commit_version, r.change_type, r.k)
        for r in _drain_changes(spark, target,
                                starting_version=1).collect())
    assert rows == [
        (1, "insert", 4),
        (1, "update_postimage", 2), (1, "update_preimage", 2),
        (2, "delete", 1),
    ]
    # starting past the head: an empty (but well-typed) feed
    assert _drain_changes(spark, target,
                          starting_version=99).count() == 0


def test_apply_changes_replicates_and_catches_up(spark, tmp_path):
    """APPLY CHANGES INTO: seed + per-version MERGE apply reproduce the
    source exactly; re-running is a no-op (source versions double as
    destination batch ids); later source commits catch up
    incrementally; the CDC op column never reaches the replica."""
    import os

    from pyspark.sql import functions as F

    from house_price_etl_pipeline_spark.streaming.cdf import (
        apply_changes_to_table)
    from house_price_etl_pipeline_spark.streaming.ingest import (
        read_upsert_version, upsert_commit_batch, upsert_delete_where,
        upsert_update_where)

    s = os.path.join(str(tmp_path), "src")
    d = os.path.join(str(tmp_path), "dst")
    df = spark.range(0, 40).select(F.col("id").alias("k"),
                                   (F.col("id") * 10).alias("v"))
    upsert_commit_batch(df, s, 0, key_cols=["k"], order_col="v",
                        keep_versions=16, incremental_min_bytes=0)
    up = spark.range(0, 10).select(
        F.col("id").alias("k"), F.lit(99999).cast("bigint").alias("v"))
    upsert_commit_batch(up, s, 1, key_cols=["k"], order_col="v",
                        keep_versions=16, incremental_min_bytes=0)
    upsert_delete_where(spark, s, 2, "k % 7 = 0", keep_versions=16,
                        incremental_min_bytes=0)
    assert apply_changes_to_table(spark, s, d, ["k"],
                                  keep_versions=16) == 3
    src_rows = {(r.k, r.v) for r in
                read_upsert_version(spark, s).collect()}
    assert {(r.k, r.v) for r in
            read_upsert_version(spark, d).collect()} == src_rows
    assert read_upsert_version(spark, d).columns == ["k", "v"]
    # idempotent
    assert apply_changes_to_table(spark, s, d, ["k"],
                                  keep_versions=16) == 0
    # incremental catch-up over an UPDATE
    upsert_update_where(spark, s, 3, "v = 99999", {"v": "v + 1"},
                        key_cols=["k"], keep_versions=16,
                        incremental_min_bytes=0)
    assert apply_changes_to_table(spark, s, d, ["k"],
                                  keep_versions=16) == 1
    assert {(r.k, r.v) for r in
            read_upsert_version(spark, d).collect()} == \
        {(r.k, r.v) for r in read_upsert_version(spark, s).collect()}


def test_merge_source_meta_cols_never_written(spark, tmp_path):
    """source_meta_cols: clause conditions may consult the column, but
    UPDATE/INSERT * must not write it or evolve the target schema —
    and it must not defeat the incremental COW path."""
    import os

    from pyspark.sql import functions as F

    from house_price_etl_pipeline_spark.streaming.ingest import (
        _journal_state, read_upsert_version, upsert_commit_batch,
        upsert_merge_into)

    t = os.path.join(str(tmp_path), "tbl")
    df = spark.range(0, 30).select(F.col("id").alias("k"),
                                   (F.col("id") * 10).alias("v"))
    upsert_commit_batch(df, t, 0, key_cols=["k"], order_col="v",
                        keep_versions=8, incremental_min_bytes=0)
    src = spark.createDataFrame(
        [(1, 111, "u"), (2, None, "d"), (100, 5, "u"), (200, 6, "d")],
        "k bigint, v bigint, _op string")
    upsert_merge_into(spark, t, 1, src, ["k"],
                      matched_delete="s._op = 'd'",
                      matched_update="s._op = 'u'",
                      not_matched_insert="s._op = 'u'",
                      keep_versions=8, incremental_min_bytes=0,
                      source_meta_cols=("_op",))
    snap = read_upsert_version(spark, t)
    assert snap.columns == ["k", "v"]          # no schema evolution
    got = {r.k: r.v for r in snap.collect()}
    assert got[1] == 111                        # updated
    assert 2 not in got                         # matched delete
    assert got[100] == 5                        # inserted
    assert 200 not in got                       # delete of absent key
    entry = _journal_state(t + "_versions")[0][-1]
    # meta col did not force the full-rewrite path
    assert entry.get("files_reused") is not None


def test_timestamp_based_feed_and_restore(spark, tmp_path):
    """startingTimestamp/endingTimestamp resolve against the
    commit-mtime clock (TIMESTAMP AS OF's), and RESTORE ... TIMESTAMP
    AS OF composes with all of restore's contracts."""
    import os
    import time

    from pyspark.sql import functions as F

    from house_price_etl_pipeline_spark.streaming.cdf import (
        read_changes_batch)
    from house_price_etl_pipeline_spark.streaming.ingest import (
        _commit_mtimes, read_upsert_version,
        restore_upsert_as_of_timestamp, upsert_commit_batch)

    t = os.path.join(str(tmp_path), "tbl")
    for i in range(3):
        df = spark.createDataFrame([(k, i) for k in range(4)],
                                   "k long, v long")
        upsert_commit_batch(df, t, i, key_cols=["k"], order_col="v",
                            keep_versions=8, incremental_min_bytes=0)
    mts = {c["version"]: mt
           for c, mt in _commit_mtimes(t + "_versions")}
    # feed from just after v0's commit time: v1 and v2 only
    ch = read_changes_batch(spark, t, ["k"],
                            starting_timestamp=mts[0] + 0.0005)
    assert set(r._commit_version for r in ch.collect()) == {1, 2}
    # ending bound too
    ch = read_changes_batch(spark, t, ["k"],
                            starting_timestamp=mts[0] + 0.0005,
                            ending_timestamp=mts[1])
    assert set(r._commit_version for r in ch.collect()) == {1}
    # beyond-latest start: the BATCH reader raises loudly (Delta's
    # behavior — a polling caller with a future timestamp must not be
    # handed silent emptiness; the STREAM keeps the empty-feed wait)
    import pytest as _pt
    with _pt.raises(ValueError, match="later than the table's latest"):
        read_changes_batch(spark, t, ["k"],
                           starting_timestamp=time.time() + 3600)
    # RESTORE TIMESTAMP AS OF v1's commit time
    restore_upsert_as_of_timestamp(spark, t, mts[1], as_version=10,
                                   keep_versions=8)
    assert read_upsert_version(spark, t).agg(
        F.max("v")).first()[0] == 1
    import pytest as _pytest
    with _pytest.raises(ValueError, match="earliest"):
        restore_upsert_as_of_timestamp(spark, t, mts[0] - 10,
                                       as_version=11)


def test_stream_apply_changes_follows_source(spark, tmp_path):
    """Continuous replication: the change-feed stream drives
    per-version MERGE applies under a checkpoint — seed through the
    same path (v0 inserts), resume applies only NEW versions, and a
    fresh checkpoint's full replay lands as journal no-ops (source
    versions double as destination batch ids)."""
    import os

    from pyspark.sql import functions as F

    from house_price_etl_pipeline_spark.streaming.cdf import (
        stream_apply_changes)
    from house_price_etl_pipeline_spark.streaming.ingest import (
        _journal_state, read_upsert_version, upsert_commit_batch,
        upsert_delete_where)

    s = os.path.join(str(tmp_path), "src")
    d = os.path.join(str(tmp_path), "dst")
    ck = os.path.join(str(tmp_path), "ckpt")
    df = spark.range(0, 30).select(F.col("id").alias("k"),
                                   (F.col("id") * 10).alias("v"))
    upsert_commit_batch(df, s, 0, key_cols=["k"], order_col="v",
                        keep_versions=16, incremental_min_bytes=0)
    up = spark.range(0, 5).select(
        F.col("id").alias("k"), F.lit(9999).cast("bigint").alias("v"))
    upsert_commit_batch(up, s, 1, key_cols=["k"], order_col="v",
                        keep_versions=16, incremental_min_bytes=0)
    q = stream_apply_changes(spark, s, d, ["k"], ck, keep_versions=16)
    q.awaitTermination()
    src_rows = {(r.k, r.v) for r in read_upsert_version(spark, s).collect()}
    assert {(r.k, r.v) for r in
            read_upsert_version(spark, d).collect()} == src_rows
    # new source commits; the checkpointed stream catches up
    upsert_delete_where(spark, s, 2, "k % 3 = 0", keep_versions=16,
                        incremental_min_bytes=0)
    q = stream_apply_changes(spark, s, d, ["k"], ck, keep_versions=16)
    q.awaitTermination()
    assert {(r.k, r.v) for r in
            read_upsert_version(spark, d).collect()} == \
        {(r.k, r.v) for r in read_upsert_version(spark, s).collect()}
    # a FRESH checkpoint replays the whole feed: journal no-ops only
    n_before = len(_journal_state(d + "_versions")[0])
    q = stream_apply_changes(spark, s, d, ["k"],
                             os.path.join(str(tmp_path), "ckpt2"),
                             keep_versions=16)
    q.awaitTermination()
    assert len(_journal_state(d + "_versions")[0]) == n_before
    assert {(r.k, r.v) for r in
            read_upsert_version(spark, d).collect()} == \
        {(r.k, r.v) for r in read_upsert_version(spark, s).collect()}


def test_apply_changes_coalesced_catch_up_equals_replay(spark, tmp_path):
    """Deep-lag CDC catch-up (VERDICT r11 item 1): a replica lagging
    more than ``coalesce_after`` versions catches up with ONE
    net-change MERGE (batch id = head) instead of one MERGE+commit per
    lagged version — final state identical to per-version replay, and
    a repeat call applies nothing."""
    import os

    from pyspark.sql import functions as F

    from house_price_etl_pipeline_spark.streaming.cdf import (
        apply_changes_to_table)
    from house_price_etl_pipeline_spark.streaming.ingest import (
        _journal_state, read_upsert_version, upsert_commit_batch,
        upsert_delete_where)

    s = os.path.join(str(tmp_path), "src")
    base = spark.range(0, 60).select(F.col("id").alias("k"),
                                     (F.col("id") * 10).alias("v"))
    upsert_commit_batch(base, s, 0, key_cols=["k"], order_col="v",
                        keep_versions=32, incremental_min_bytes=0)
    # versions 1..2 applied per-version; 3..12 arrive while lagged
    def _dml(v):
        if v % 4 == 3:
            upsert_delete_where(spark, s, v, f"k % 7 = {v % 7}",
                                keep_versions=32,
                                incremental_min_bytes=0)
        else:
            up = spark.range(v, v + 9).select(
                F.col("id").alias("k"),
                (F.col("id") * 100 + v).alias("v"))
            upsert_commit_batch(up, s, v, key_cols=["k"],
                                order_col="v", keep_versions=32,
                                incremental_min_bytes=0)

    for v in (1, 2):
        _dml(v)
    d_fast = os.path.join(str(tmp_path), "d_fast")
    d_slow = os.path.join(str(tmp_path), "d_slow")
    assert apply_changes_to_table(spark, s, d_fast, ["k"],
                                  keep_versions=32,
                                  coalesce_after=4) == 3  # ≤4 pending
    for v in range(3, 13):
        _dml(v)
    # deep lag: 10 pending > 4 → exactly ONE destination commit
    n_before = len(_journal_state(d_fast + "_versions")[0])
    assert apply_changes_to_table(spark, s, d_fast, ["k"],
                                  keep_versions=32,
                                  coalesce_after=4) == 1
    assert len(_journal_state(d_fast + "_versions")[0]) == n_before + 1
    # strict per-version replay of the same history
    assert apply_changes_to_table(spark, s, d_slow, ["k"],
                                  keep_versions=32,
                                  coalesce_after=None) == 13
    src_rows = {(r.k, r.v) for r in
                read_upsert_version(spark, s).collect()}
    assert {(r.k, r.v) for r in
            read_upsert_version(spark, d_fast).collect()} == src_rows
    assert {(r.k, r.v) for r in
            read_upsert_version(spark, d_slow).collect()} == src_rows
    # replica high-water = head on both; repeat call is a no-op
    assert apply_changes_to_table(spark, s, d_fast, ["k"],
                                  coalesce_after=4) == 0
    assert apply_changes_to_table(spark, s, d_slow, ["k"],
                                  coalesce_after=None) == 0
    # an EMPTY deep-lagged replica re-seeds from the head snapshot
    d_seed = os.path.join(str(tmp_path), "d_seed")
    assert apply_changes_to_table(spark, s, d_seed, ["k"],
                                  keep_versions=32,
                                  coalesce_after=0) == 1
    assert {(r.k, r.v) for r in
            read_upsert_version(spark, d_seed).collect()} == src_rows
    assert len(_journal_state(d_seed + "_versions")[0]) == 1


def test_stream_apply_changes_coalesces_deep_batch(spark, tmp_path):
    """The streaming twin: a resume that picks up many versions in one
    micro-batch nets them to each key's latest change and applies ONE
    MERGE — replica journal grows by one commit, state matches the
    source head, and inside-batch insert→delete keys net away."""
    import os

    from pyspark.sql import functions as F

    from house_price_etl_pipeline_spark.streaming.cdf import (
        stream_apply_changes)
    from house_price_etl_pipeline_spark.streaming.ingest import (
        _journal_state, read_upsert_version, upsert_commit_batch,
        upsert_delete_where)

    s = os.path.join(str(tmp_path), "src")
    df = spark.range(0, 40).select(F.col("id").alias("k"),
                                   (F.col("id") * 10).alias("v"))
    upsert_commit_batch(df, s, 0, key_cols=["k"], order_col="v",
                        keep_versions=32, incremental_min_bytes=0)
    # k 100..104 inserted at v1, deleted at v3 (nets away);
    # k 0..9 rewritten at v2
    ins = spark.range(100, 105).select(F.col("id").alias("k"),
                                       F.lit(1).cast("bigint").alias("v"))
    upsert_commit_batch(ins, s, 1, key_cols=["k"], order_col="v",
                        keep_versions=32, incremental_min_bytes=0)
    up = spark.range(0, 10).select(F.col("id").alias("k"),
                                   F.lit(7777).cast("bigint").alias("v"))
    upsert_commit_batch(up, s, 2, key_cols=["k"], order_col="v",
                        keep_versions=32, incremental_min_bytes=0)
    upsert_delete_where(spark, s, 3, "k >= 100", keep_versions=32,
                        incremental_min_bytes=0)
    d = os.path.join(str(tmp_path), "dst")
    ck = os.path.join(str(tmp_path), "ckpt")
    q = stream_apply_changes(spark, s, d, ["k"], ck, keep_versions=32,
                             coalesce_after=2)
    q.awaitTermination()
    assert {(r.k, r.v) for r in read_upsert_version(spark, d).collect()} \
        == {(r.k, r.v) for r in read_upsert_version(spark, s).collect()}
    # 4 source versions, ONE replica commit
    assert len(_journal_state(d + "_versions")[0]) == 1


def test_timestamp_clock_survives_garbage_mtimes(spark, tmp_path):
    """TIMESTAMP AS OF / startingTimestamp resolve through the
    IN-COMMIT timestamp (Delta ICT) — setting every commit file's
    mtime to garbage (an mtime-destroying copy, the object-store
    migration case) must not move history (VERDICT r11 item 2)."""
    import os

    from pyspark.sql import functions as F

    from house_price_etl_pipeline_spark.fsutil import commit_path
    from house_price_etl_pipeline_spark.streaming.cdf import (
        read_changes_batch)
    from house_price_etl_pipeline_spark.streaming.ingest import (
        _commit_mtimes, read_upsert_as_of_timestamp,
        restore_upsert_as_of_timestamp, read_upsert_version,
        upsert_commit_batch)

    t = os.path.join(str(tmp_path), "tbl")
    for i in range(3):
        df = spark.createDataFrame([(k, i) for k in range(4)],
                                   "k long, v long")
        upsert_commit_batch(df, t, i, key_cols=["k"], order_col="v",
                            keep_versions=8, incremental_min_bytes=0)
    cdir = os.path.join(t + "_versions", "_commits")
    mts = {c["version"]: mt for c, mt in _commit_mtimes(t + "_versions")}
    # trash every commit file's mtime: epoch for v0/v2, far future v1
    os.utime(commit_path(cdir, 0), (0, 0))
    os.utime(commit_path(cdir, 1), (2_000_000_000, 2_000_000_000))
    os.utime(commit_path(cdir, 2), (0, 0))
    # the clock is unchanged: it lives IN the journal entries
    assert {c["version"]: mt
            for c, mt in _commit_mtimes(t + "_versions")} == mts
    got = read_upsert_as_of_timestamp(spark, t, mts[1] + 0.0001)
    assert {r.v for r in got.collect()} == {1}
    ch = read_changes_batch(spark, t, ["k"],
                            starting_timestamp=mts[0] + 0.0005)
    assert set(r._commit_version for r in ch.collect()) == {1, 2}
    restore_upsert_as_of_timestamp(spark, t, mts[1] + 0.0001,
                                   as_version=10, keep_versions=8)
    assert read_upsert_version(spark, t).agg(
        F.max("v")).first()[0] == 1


def test_apply_changes_scd2_full_history(spark, tmp_path):
    """STORED AS SCD TYPE 2: the replica keeps every row version with
    __START_AT/__END_AT version stamps — an update closes the prior
    version and opens a new one, a delete closes without reopening, a
    re-insert after delete opens a fresh version; the open rows equal
    the source's current state; re-running is a no-op."""
    import os

    from pyspark.sql import functions as F

    from house_price_etl_pipeline_spark.streaming.cdf import (
        SCD2_END, SCD2_START, apply_changes_to_table)
    from house_price_etl_pipeline_spark.streaming.ingest import (
        read_upsert_version, upsert_commit_batch, upsert_delete_where)

    s = os.path.join(str(tmp_path), "src")
    d = os.path.join(str(tmp_path), "dst")

    def commit(b, rows):
        df = spark.createDataFrame(rows, "k bigint, v bigint")
        upsert_commit_batch(df, s, b, key_cols=["k"], order_col="v",
                            keep_versions=16, incremental_min_bytes=0)

    commit(0, [(1, 10), (2, 20), (3, 30)])        # seed
    commit(1, [(1, 11), (4, 40)])                 # update k=1, insert k=4
    upsert_delete_where(spark, s, 2, "k = 2", keep_versions=16,
                        incremental_min_bytes=0)  # delete k=2
    commit(3, [(1, 12), (2, 21)])                 # update k=1 again,
    #                                               re-insert k=2
    assert apply_changes_to_table(spark, s, d, ["k"], keep_versions=16,
                                  stored_as="scd2") == 4
    hist = {(r.k, r.v, r[SCD2_START], r[SCD2_END]) for r in
            read_upsert_version(spark, d).collect()}
    assert hist == {
        (1, 10, 0, 1), (1, 11, 1, 3), (1, 12, 3, None),
        (2, 20, 0, 2), (2, 21, 3, None),
        (3, 30, 0, None),
        (4, 40, 1, None),
    }
    # open rows == source current state
    open_rows = {(r.k, r.v) for r in
                 read_upsert_version(spark, d)
                 .filter(F.col(SCD2_END).isNull()).collect()}
    assert open_rows == {(r.k, r.v) for r in
                         read_upsert_version(spark, s).collect()}
    # idempotent; a later source commit catches up incrementally
    assert apply_changes_to_table(spark, s, d, ["k"], keep_versions=16,
                                  stored_as="scd2") == 0
    upsert_delete_where(spark, s, 4, "k = 1", keep_versions=16,
                        incremental_min_bytes=0)
    assert apply_changes_to_table(spark, s, d, ["k"], keep_versions=16,
                                  stored_as="scd2") == 1
    closed1 = {(r.k, r.v, r[SCD2_START], r[SCD2_END]) for r in
               read_upsert_version(spark, d)
               .filter("k = 1").collect()}
    assert closed1 == {(1, 10, 0, 1), (1, 11, 1, 3), (1, 12, 3, 4)}
    # the mode string is validated
    import pytest as _pytest
    with _pytest.raises(ValueError, match="scd1.*scd2|stored_as"):
        apply_changes_to_table(spark, s, d, ["k"], stored_as="scd3")


def test_stream_apply_changes_scd2_equals_batch(spark, tmp_path):
    """The streaming SCD2 applier reaches the exact history table the
    batch applier builds from the same source — v0 seeds through the
    merge (pure inserts into a not-yet-born replica), later versions
    close/open row versions per transition, and a checkpointed resume
    applies only new versions."""
    import os

    from pyspark.sql import functions as F

    from house_price_etl_pipeline_spark.streaming.cdf import (
        SCD2_END, SCD2_START, apply_changes_to_table,
        stream_apply_changes)
    from house_price_etl_pipeline_spark.streaming.ingest import (
        read_upsert_version, upsert_commit_batch, upsert_delete_where)

    s = os.path.join(str(tmp_path), "src")

    def commit(b, rows):
        df = spark.createDataFrame(rows, "k bigint, v bigint")
        upsert_commit_batch(df, s, b, key_cols=["k"], order_col="v",
                            keep_versions=16, incremental_min_bytes=0)

    commit(0, [(1, 10), (2, 20), (3, 30)])
    commit(1, [(1, 11), (4, 40)])
    upsert_delete_where(spark, s, 2, "k = 2", keep_versions=16,
                        incremental_min_bytes=0)

    d_stream = os.path.join(str(tmp_path), "dst_stream")
    d_batch = os.path.join(str(tmp_path), "dst_batch")
    ck = os.path.join(str(tmp_path), "ckpt")
    q = stream_apply_changes(spark, s, d_stream, ["k"], ck,
                             keep_versions=16, stored_as="scd2")
    q.awaitTermination()
    apply_changes_to_table(spark, s, d_batch, ["k"], keep_versions=16,
                           stored_as="scd2")

    def hist(t):
        return {(r.k, r.v, r[SCD2_START], r[SCD2_END]) for r in
                read_upsert_version(spark, t).collect()}

    assert hist(d_stream) == hist(d_batch)
    assert hist(d_stream) == {
        (1, 10, 0, 1), (1, 11, 1, None),
        (2, 20, 0, 2),
        (3, 30, 0, None),
        (4, 40, 1, None),
    }
    # checkpointed catch-up across a further update
    commit(3, [(1, 12)])
    q = stream_apply_changes(spark, s, d_stream, ["k"], ck,
                             keep_versions=16, stored_as="scd2")
    q.awaitTermination()
    assert {(r.k, r.v, r[SCD2_START], r[SCD2_END]) for r in
            read_upsert_version(spark, d_stream)
            .filter("k = 1").collect()} == {
        (1, 10, 0, 1), (1, 11, 1, 3), (1, 12, 3, None)}


def test_apply_changes_scd2_starting_version_bootstrap(spark, tmp_path):
    """startingVersion bootstrap (Delta CDF contract): seeding an empty
    SCD2 replica at version v (open rows, START=v) and replaying only
    later versions yields EXACTLY the full replay restricted to
    versions >= v — rows fully closed before v are absent, rows open
    across v have START clamped to v, everything after v is identical.
    Also pins: the bootstrap never touches versions < v (they may be
    pruned), and specifying it on a non-empty replica raises."""
    import os
    import shutil

    import pytest as _pytest
    from pyspark.sql import functions as F  # noqa: F401

    from house_price_etl_pipeline_spark.streaming.cdf import (
        SCD2_END, SCD2_START, apply_changes_to_table)
    from house_price_etl_pipeline_spark.streaming.ingest import (
        read_upsert_version, upsert_commit_batch, upsert_delete_where)

    s = os.path.join(str(tmp_path), "src")

    def commit(b, rows):
        df = spark.createDataFrame(rows, "k bigint, v bigint")
        upsert_commit_batch(df, s, b, key_cols=["k"], order_col="v",
                            keep_versions=16, incremental_min_bytes=0)

    commit(0, [(1, 10), (2, 20), (3, 30)])
    commit(1, [(1, 11), (4, 40)])
    upsert_delete_where(spark, s, 2, "k = 4", keep_versions=16,
                        incremental_min_bytes=0)   # k=4 dies before v2? no: AT v2
    commit(3, [(1, 12), (5, 50)])
    upsert_delete_where(spark, s, 4, "k = 3", keep_versions=16,
                        incremental_min_bytes=0)

    full = os.path.join(str(tmp_path), "full")
    apply_changes_to_table(spark, s, full, ["k"], keep_versions=16,
                           stored_as="scd2")
    seeded = os.path.join(str(tmp_path), "seeded")
    n = apply_changes_to_table(spark, s, seeded, ["k"], keep_versions=16,
                               stored_as="scd2", starting_version=2)
    assert n == 3  # seed at v2 + replay of v3 and v4 only

    def hist(t):
        return {(r.k, r.v, r[SCD2_START], r[SCD2_END]) for r in
                read_upsert_version(spark, t).collect()}

    # full replay restricted to versions >= 2: drop rows closed at or
    # before 2, clamp the survivors' START up to 2
    expected = {(k, v, max(st, 2), en) for (k, v, st, en) in hist(full)
                if en is None or en > 2}
    assert hist(seeded) == expected
    # concretely: k=4 (lived only v1->v2) is absent; k=2's v0 row is
    # open across v2 so it appears with START=2
    assert not any(k == 4 for k, *_ in hist(seeded))
    assert (2, 20, 2, None) in hist(seeded)

    # catch-up after bootstrap keeps working and stays aligned
    commit(5, [(1, 13)])
    assert apply_changes_to_table(spark, s, full, ["k"], keep_versions=16,
                                  stored_as="scd2") == 1
    assert apply_changes_to_table(spark, s, seeded, ["k"],
                                  keep_versions=16,
                                  stored_as="scd2") == 1
    expected = {(k, v, max(st, 2), en) for (k, v, st, en) in hist(full)
                if en is None or en > 2}
    assert hist(seeded) == expected

    # guards: non-empty replica / unknown version
    with _pytest.raises(ValueError, match="non-empty"):
        apply_changes_to_table(spark, s, seeded, ["k"], keep_versions=16,
                               stored_as="scd2", starting_version=3)
    fresh = os.path.join(str(tmp_path), "fresh")
    with _pytest.raises(ValueError, match="not a.*version"):
        apply_changes_to_table(spark, s, fresh, ["k"], keep_versions=16,
                               stored_as="scd2", starting_version=99)

    # the bootstrap reads only v2 and later: prune v0/v1 dirs entirely
    # and bootstrap a new replica — must still succeed
    from house_price_etl_pipeline_spark.streaming.ingest import (
        _journal_state)
    commits, _ = _journal_state(s + "_versions")
    for c in commits:
        if c["version"] < 2:
            shutil.rmtree(os.path.join(s + "_versions",
                                       c["version_name"]),
                          ignore_errors=True)
    boot2 = os.path.join(str(tmp_path), "boot2")
    apply_changes_to_table(spark, s, boot2, ["k"], keep_versions=16,
                           stored_as="scd2", starting_version=2)
    expected2 = {(k, v, max(st, 2), en) for (k, v, st, en) in hist(full)
                 if en is None or en > 2}
    assert hist(boot2) == expected2


def test_stream_apply_changes_scd2_under_source_contention(spark,
                                                           tmp_path):
    """VERDICT r12 item 7: streaming SCD2 under writer contention — a
    LIVE stream_apply_changes(stored_as="scd2") follows the source
    while a writer thread keeps committing to it (updates, deletes,
    re-inserts racing the applier's own replica commits), mirroring
    the r10 journal-checkpoint stress shape. Pins: the replica journals
    EVERY source transition (SCD2 never coalesces — one replica commit
    per source version, whatever micro-batch boundaries the race
    produced), the journal is gap-free, and the final history table is
    identical to a clean batch replay of the finished source."""
    import os
    import threading
    import time

    from pyspark.sql import functions as F  # noqa: F401

    from house_price_etl_pipeline_spark.streaming.cdf import (
        SCD2_END, SCD2_START, apply_changes_to_table,
        stream_apply_changes)
    from house_price_etl_pipeline_spark.streaming.ingest import (
        _journal_state, read_upsert_version, upsert_commit_batch,
        upsert_delete_where)

    s = os.path.join(str(tmp_path), "src")
    d = os.path.join(str(tmp_path), "dst")
    ck = os.path.join(str(tmp_path), "ckpt")

    def commit(b, rows):
        df = spark.createDataFrame(rows, "k bigint, v bigint")
        upsert_commit_batch(df, s, b, key_cols=["k"], order_col="v",
                            keep_versions=24, incremental_min_bytes=0)

    commit(0, [(k, k * 10) for k in range(8)])
    last_version = 10
    errors: list = []

    def source_writer():
        try:
            for b in range(1, last_version + 1):
                if b % 4 == 0:
                    upsert_delete_where(spark, s, b, f"k = {b % 8}",
                                        keep_versions=24,
                                        incremental_min_bytes=0)
                else:
                    commit(b, [(b % 8, b * 100), (8 + b, b)])
                time.sleep(0.05)
        except Exception as exc:  # pragma: no cover
            errors.append(exc)

    q = stream_apply_changes(spark, s, d, ["k"], ck, keep_versions=24,
                             stored_as="scd2", available_now=False)
    w = threading.Thread(target=source_writer)
    w.start()
    try:
        w.join()
        deadline = time.time() + 120
        while time.time() < deadline:
            commits, _ = _journal_state(d + "_versions")
            if commits and max(c["version"] for c in commits) \
                    >= last_version:
                break
            time.sleep(0.2)
    finally:
        q.stop()
    assert errors == []
    # tail drain in case the live stream was stopped mid-batch
    q = stream_apply_changes(spark, s, d, ["k"], ck, keep_versions=24,
                             stored_as="scd2")
    q.awaitTermination()

    commits, _ = _journal_state(d + "_versions")
    assert [c["seq"] for c in commits] == list(range(len(commits)))
    # every transition journaled: one replica commit per source version
    assert sorted(c["version"] for c in commits) == \
        list(range(last_version + 1))

    batch = os.path.join(str(tmp_path), "dst_batch")
    apply_changes_to_table(spark, s, batch, ["k"], keep_versions=24,
                           stored_as="scd2")

    def hist(t):
        return {(r.k, r.v, r[SCD2_START], r[SCD2_END]) for r in
                read_upsert_version(spark, t).collect()}

    assert hist(d) == hist(batch)
    # sanity on the history shape: deletes closed without reopening,
    # and open rows equal the source's final state
    open_rows = {(r.k, r.v) for r in
                 read_upsert_version(spark, d)
                 .filter(F.col(SCD2_END).isNull()).collect()}
    assert open_rows == {(r.k, r.v) for r in
                         read_upsert_version(spark, s).collect()}


def test_stream_cdf_refuses_versions_pruned_past_retention(spark, tmp_path):
    """A change-feed stream starting at version 0 of a table whose
    retention already removed versions 0 and 1 must fail loudly: a
    removed version dir walks as an empty file list, so diffing it
    would stamp v0's rows with a later version and drop v1's and v2's
    real changes. Batch time travel refuses the same versions."""
    from house_price_etl_pipeline_spark.streaming.ingest import (
        _journal_state, read_upsert_version)

    target = str(tmp_path / "tbl")
    for b, (lo, hi) in enumerate([(0, 200), (200, 400)]):
        df = spark.range(lo, hi).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v"),
            F.lit(0).alias("ord"))
        upsert_commit_batch(df, target, b, key_cols=["k"],
                            order_col="ord", keep_versions=2,
                            incremental_min_bytes=0, max_retries=4)
    for b in (2, 3):
        delta = spark.createDataFrame([(b, -b, b)],
                                      "k bigint, v bigint, ord int")
        upsert_commit_batch(delta, target, b, key_cols=["k"],
                            order_col="ord", keep_versions=2,
                            incremental_min_bytes=0, max_retries=4)
    vroot = target + "_versions"
    commits, _ = _journal_state(vroot)
    assert not os.path.isdir(os.path.join(vroot, commits[0]["version_name"]))
    q = (stream_upsert_changes(spark, target, ["k"])
         .writeStream.format("memory").queryName("pruned_feed_probe")
         .outputMode("append").trigger(availableNow=True).start())
    try:
        with pytest.raises(Exception, match="pruned past retention"):
            q.awaitTermination()
    finally:
        q.stop()
    with pytest.raises(FileNotFoundError, match="not retained"):
        read_upsert_version(spark, target, 1).count()
