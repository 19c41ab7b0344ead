"""PARTITIONED BY on the versioned upsert table format.

Pins the properties that make partitioning worth having at 100 TB:
directory-level pruning with zero file opens, partition-pruned
copy-on-write DML, metadata-only partition drops (0 files rewritten),
dynamic partition overwrite with link-carried untouched partitions,
typed partition values (declaration-typed, never inference-typed),
and partition-aware change feeds on both the JVM and Python routes.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from house_price_etl_pipeline_spark.streaming.cdf import (
    read_changes_batch, read_changes_batch_pysource, stream_upsert_changes)
from house_price_etl_pipeline_spark.streaming.ingest import (
    _journal_state, clone_upsert_table, describe_upsert_history,
    optimize_upsert_target, read_upsert_changes, read_upsert_version,
    restore_upsert_target, upsert_commit_batch, upsert_delete_where,
    upsert_drop_partitions, upsert_merge_into, upsert_overwrite_partitions,
    upsert_update_where)
from house_price_etl_pipeline_spark.streaming.partitioning import (
    partition_values_of, set_table_partitioning, table_partitioning)


def _mk(spark, tmp_path, name="tbl", parts=None, n=80, buckets=4):
    t = os.path.join(str(tmp_path), name)
    set_table_partitioning(t, parts or {"bucket": "bigint"})
    df = spark.range(0, n).select(
        F.col("id").alias("k"),
        (F.col("id") % buckets).alias("bucket"),
        (F.col("id") * 10).alias("v"))
    upsert_commit_batch(df, t, 0, key_cols=["k", "bucket"],
                        order_col="v", keep_versions=8,
                        incremental_min_bytes=0)
    return t


def _files_read(df):
    return df.select(F.input_file_name()).distinct().count()


def test_declaration_is_creation_time_only(spark, tmp_path):
    t = _mk(spark, tmp_path)
    with pytest.raises(ValueError, match="table creation"):
        set_table_partitioning(t, {"other": "int"})
    with pytest.raises(ValueError, match="unsupported type"):
        set_table_partitioning(os.path.join(str(tmp_path), "t2"),
                               {"x": "double"})


def test_hive_layout_and_partition_pruning(spark, tmp_path):
    t = _mk(spark, tmp_path)
    head = os.path.realpath(t)
    subdirs = sorted(d for d in os.listdir(head)
                     if os.path.isdir(os.path.join(head, d)))
    assert subdirs == [f"bucket={i}" for i in range(4)]
    snap = read_upsert_version(spark, t)
    # declaration-typed, not inference-typed
    assert dict(snap.dtypes)["bucket"] == "bigint"
    total = _files_read(snap)
    pruned = _files_read(snap.filter(F.col("bucket") == 1))
    assert pruned < total
    plan = snap.filter(F.col("bucket") == 1) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(bucket" in plan


def test_string_partition_values_round_trip(spark, tmp_path):
    """Inference would collapse '007' to int 7 and misread values with
    spaces/escaped chars; the declaration-typed read must not."""
    t = os.path.join(str(tmp_path), "tbl")
    set_table_partitioning(t, {"tag": "string"})
    df = spark.createDataFrame(
        [(1, "007", 10), (2, "a b", 20), (3, "x=y/z", 30), (4, None, 40)],
        "k bigint, tag string, v bigint")
    upsert_commit_batch(df, t, 0, key_cols=["k", "tag"], order_col="v",
                        keep_versions=8, incremental_min_bytes=0)
    got = {(r["k"], r["tag"]) for r in
           read_upsert_version(spark, t).collect()}
    assert got == {(1, "007"), (2, "a b"), (3, "x=y/z"), (4, None)}


def test_incremental_cow_touches_only_delta_partitions(spark, tmp_path):
    t = _mk(spark, tmp_path)
    delta = spark.range(0, 5).select(
        (F.col("id") * 4 + 2).alias("k"),
        F.lit(2).cast("bigint").alias("bucket"),
        F.lit(999).cast("bigint").alias("v"))
    upsert_commit_batch(delta, t, 1, key_cols=["k", "bucket"],
                        order_col="v", keep_versions=8,
                        incremental_min_bytes=0)
    commits, _ = _journal_state(t + "_versions")
    entry = commits[-1]
    assert entry["files_rewritten"] >= 1
    assert entry["files_reused"] >= 1
    # carried files are hard links; every REWRITTEN (non-carried) file
    # lives under the delta's own partition — file-granular COW never
    # rewrites outside the touched partitions when they're in the key
    prev = os.path.join(t + "_versions", commits[-2]["version_name"])
    cur = os.path.join(t + "_versions", entry["version_name"])
    carried = 0
    for root, _dirs, files in os.walk(cur):
        for f in files:
            if not f.endswith(".parquet"):
                continue
            rel = os.path.relpath(os.path.join(root, f), cur)
            old = os.path.join(prev, rel)
            if os.path.exists(old) and os.path.samefile(
                    os.path.join(root, f), old):
                carried += 1
            else:
                assert rel.startswith("bucket=2" + os.sep), rel
    assert carried == entry["files_reused"]
    # result correctness
    rows = read_upsert_version(spark, t)
    assert rows.count() == 80
    assert rows.filter("v = 999").count() == 5


def test_drop_partitions_is_metadata_only(spark, tmp_path):
    t = _mk(spark, tmp_path)
    res = upsert_drop_partitions(spark, t, 1, "bucket = 3",
                                 keep_versions=8)
    assert res == "applied"
    commits, _ = _journal_state(t + "_versions")
    assert commits[-1]["files_rewritten"] == 0
    assert commits[-1]["dropped_partitions"] == ["bucket=3"]
    snap = read_upsert_version(spark, t)
    assert snap.count() == 60
    assert snap.filter("bucket = 3").count() == 0
    # exactly-once replay
    assert upsert_drop_partitions(spark, t, 1, "bucket = 3",
                                  keep_versions=8) == "replayed"
    # 3VL: a predicate that is NULL for a partition keeps it
    upsert_drop_partitions(spark, t, 2, "bucket > CAST(NULL AS BIGINT)",
                           keep_versions=8)
    assert read_upsert_version(spark, t).count() == 60


def test_drop_partitions_rejects_row_predicates(spark, tmp_path):
    t = _mk(spark, tmp_path)
    with pytest.raises(ValueError, match="non-partition column"):
        upsert_drop_partitions(spark, t, 1, "v > 100", keep_versions=8)
    flat = os.path.join(str(tmp_path), "flat")
    df = spark.range(5).select(F.col("id").alias("k"),
                               F.col("id").alias("v"))
    upsert_commit_batch(df, flat, 0, key_cols=["k"], order_col="v")
    with pytest.raises(ValueError, match="not PARTITIONED BY"):
        upsert_drop_partitions(spark, flat, 1, "k = 1")


def test_dynamic_partition_overwrite(spark, tmp_path):
    t = _mk(spark, tmp_path)
    ow = spark.range(0, 3).select(
        (F.col("id") + 500).alias("k"),
        F.lit(1).cast("bigint").alias("bucket"),
        F.lit(7).cast("bigint").alias("v"))
    assert upsert_overwrite_partitions(
        spark, t, 1, ow, key_cols=["k", "bucket"],
        keep_versions=8) == "applied"
    snap = read_upsert_version(spark, t)
    assert snap.filter("bucket = 1").count() == 3
    assert snap.filter("bucket != 1").count() == 60
    commits, _ = _journal_state(t + "_versions")
    assert commits[-1]["op"] == "overwrite"
    assert commits[-1]["files_reused"] >= 1
    assert commits[-1]["replaced_partitions"] == 1
    # change feed sees the replacement as row-level diffs
    ch = read_upsert_changes(spark, t, 0, 1, ["k", "bucket"])
    by = {r["change_type"]: r["cnt"] for r in
          ch.groupBy("change_type").agg(F.count("*").alias("cnt"))
          .collect()}
    assert by == {"insert": 3, "delete": 20}


def test_overwrite_requires_partition_cols_in_key(spark, tmp_path):
    t = _mk(spark, tmp_path)
    ow = spark.range(1).select(F.col("id").alias("k"),
                               F.lit(0).cast("bigint").alias("bucket"),
                               F.lit(0).cast("bigint").alias("v"))
    with pytest.raises(ValueError, match="must be part of key_cols"):
        upsert_overwrite_partitions(spark, t, 1, ow, key_cols=["k"])
    dup = ow.unionByName(ow)
    with pytest.raises(ValueError, match="multiple rows"):
        upsert_overwrite_partitions(spark, t, 1, dup,
                                    key_cols=["k", "bucket"])


def test_delete_update_merge_on_partitioned(spark, tmp_path):
    t = _mk(spark, tmp_path)
    upsert_delete_where(spark, t, 1, "bucket = 0 AND v >= 400",
                        keep_versions=8, incremental_min_bytes=0)
    snap = read_upsert_version(spark, t)
    assert snap.count() == 80 - 10
    upsert_update_where(spark, t, 2, "bucket = 1", {"v": "v + 1"},
                        key_cols=["k", "bucket"], keep_versions=8,
                        incremental_min_bytes=0)
    assert read_upsert_version(spark, t).filter("bucket = 1 AND v % 10 = 1") \
        .count() == 20
    src = spark.createDataFrame([(1, 1, 12345), (901, 1, 1)],
                                "k bigint, bucket bigint, v bigint")
    upsert_merge_into(spark, t, 3, src, ["k", "bucket"],
                      keep_versions=8, incremental_min_bytes=0)
    got = {r["k"]: r["v"] for r in read_upsert_version(spark, t)
           .filter("k in (1, 901)").collect()}
    assert got == {1: 12345, 901: 1}


def test_optimize_restore_clone_preserve_layout(spark, tmp_path):
    t = _mk(spark, tmp_path)
    upsert_drop_partitions(spark, t, 1, "bucket = 0", keep_versions=8)
    assert optimize_upsert_target(spark, t, keep_versions=8,
                                  stats_cols=[]) is not None
    head = os.path.realpath(t)
    assert any(d.startswith("bucket=") for d in os.listdir(head))
    assert read_upsert_version(spark, t).count() == 60
    c = os.path.join(str(tmp_path), "clone")
    clone_upsert_table(t, c)
    assert table_partitioning(c) == {"bucket": "bigint"}
    assert read_upsert_version(spark, c).count() == 60
    restore_upsert_target(spark, t, 0, as_version=10, keep_versions=8)
    assert read_upsert_version(spark, t).count() == 80


def test_partitioned_change_feed_stream_and_batch(spark, tmp_path):
    t = os.path.join(str(tmp_path), "tbl")
    set_table_partitioning(t, {"bucket": "bigint", "tag": "string"})
    df = spark.range(0, 30).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("bucket"),
        F.when(F.col("id") % 5 == 0, F.lit(None))
        .otherwise(F.lit("t 01")).alias("tag"),
        (F.col("id") * 10).alias("v"))
    upsert_commit_batch(df, t, 0, key_cols=["k", "bucket", "tag"],
                        order_col="v", keep_versions=8,
                        incremental_min_bytes=0)
    d2 = spark.range(0, 4).select(
        (F.col("id") * 3).alias("k"),
        F.lit(0).cast("bigint").alias("bucket"),
        F.lit("t 01").alias("tag"),
        F.lit(12345).cast("bigint").alias("v"))
    upsert_commit_batch(d2, t, 1, key_cols=["k", "bucket", "tag"],
                        order_col="v", keep_versions=8,
                        incremental_min_bytes=0)
    upsert_drop_partitions(spark, t, 2, "bucket = 2", keep_versions=8)

    from house_price_etl_pipeline_spark.streaming.windows import _drain
    out = _drain(stream_upsert_changes(spark, t, ["k", "bucket", "tag"]),
                 spark, output_mode="append")
    by = {(r["_commit_version"], r["change_type"]): r["cnt"]
          for r in out.groupBy("_commit_version", "change_type")
          .agg(F.count("*").alias("cnt")).collect()}
    assert by[(0, "insert")] == 30
    assert by[(2, "delete")] == 10
    # stream rows carry typed partition values parsed from the path
    tags = {r["tag"] for r in out.filter("_commit_version = 0")
            .select("tag").distinct().collect()}
    assert tags == {None, "t 01"}
    jvm = read_changes_batch(spark, t, ["k", "bucket", "tag"])
    py = read_changes_batch_pysource(spark, t, ["k", "bucket", "tag"])
    assert set(map(tuple, jvm.collect())) == set(map(tuple, py.collect()))


def test_partition_values_of_parses_typed(tmp_path):
    parts = {"d": "date", "b": "boolean", "n": "int"}
    import datetime as dt
    vals = partition_values_of(
        os.path.join("d=2024-01-15", "b=true", "n=7", "x.parquet"), parts)
    assert vals == {"d": dt.date(2024, 1, 15), "b": True, "n": 7}
    vals = partition_values_of(
        os.path.join("d=__HIVE_DEFAULT_PARTITION__", "b=false", "n=0",
                     "x.parquet"), parts)
    assert vals["d"] is None
    with pytest.raises(ValueError, match="partition segment"):
        partition_values_of(os.path.join("wrong=1", "b=true", "n=1",
                                         "x.parquet"), parts)


def test_history_shows_partition_ops(spark, tmp_path):
    t = _mk(spark, tmp_path)
    upsert_drop_partitions(spark, t, 1, "bucket = 0", keep_versions=8)
    ow = spark.range(1).select(
        (F.col("id") + 600).alias("k"),
        F.lit(1).cast("bigint").alias("bucket"),
        F.lit(0).cast("bigint").alias("v"))
    upsert_overwrite_partitions(spark, t, 2, ow,
                                key_cols=["k", "bucket"], keep_versions=8)
    hist = describe_upsert_history(spark, t)
    ops = [r["op"] for r in hist.orderBy("seq").collect()]
    assert ops == ["metadata", "upsert", "delete", "overwrite"]


def test_incremental_optimize_packs_only_small_files(spark, tmp_path):
    """min_file_bytes switches OPTIMIZE to Delta's real contract: only
    small files are bin-packed; sized files carry by hard link, so
    maintenance costs O(small-file debt), never O(table)."""
    t = os.path.join(str(tmp_path), "flat")
    big = spark.range(0, 5000).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v"))
    upsert_commit_batch(big.repartition(2), t, 0, key_cols=["k"],
                        order_col="v", keep_versions=8)
    for i in range(1, 4):
        small = spark.range(i * 10000, i * 10000 + 30).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v"))
        upsert_commit_batch(small, t, i, key_cols=["k"], order_col="v",
                            keep_versions=8, incremental_min_bytes=0)
    head = os.path.realpath(t)
    from house_price_etl_pipeline_spark.streaming.ingest import (
        _snapshot_data_files)
    n_before = len(_snapshot_data_files(head))
    cutoff = 20000
    n_big = sum(1 for f in _snapshot_data_files(head)
                if os.path.getsize(os.path.join(head, f)) >= cutoff)
    perm = optimize_upsert_target(spark, t, keep_versions=8,
                                  min_file_bytes=cutoff, stats_cols=[])
    assert perm is not None
    commits, _ = _journal_state(t + "_versions")
    entry = commits[-1]
    assert entry["op"] == "optimize"
    assert entry["files_reused"] == n_big
    assert entry["files_rewritten"] == n_before - n_big
    after_dir = os.path.join(t + "_versions", perm)
    after = _snapshot_data_files(after_dir)
    assert len(after) < n_before
    # carried files are the same inodes
    linked = sum(
        1 for f in after
        if os.path.exists(os.path.join(head, f))
        and os.path.samefile(os.path.join(after_dir, f),
                             os.path.join(head, f)))
    assert linked == n_big
    assert read_upsert_version(spark, t).count() == 5090
    # no remaining debt: second incremental run is a no-op
    assert optimize_upsert_target(spark, t, keep_versions=8,
                                  min_file_bytes=cutoff,
                                  stats_cols=[]) is None
    with pytest.raises(ValueError, match="full rewrite"):
        optimize_upsert_target(spark, t, min_file_bytes=cutoff,
                               zorder_by=["k"])


def test_incremental_optimize_honours_target_file_bytes(spark, tmp_path):
    """Incremental OPTIMIZE packs its small files into
    ceil(pack bytes / target_file_bytes) files even when that is more
    than the staging width its tiny input would get on its own: the
    plan's explicit width stands."""
    from house_price_etl_pipeline_spark.streaming.ingest import (
        _snapshot_data_files)

    t = os.path.join(str(tmp_path), "flat")
    for i in range(4):
        d = spark.range(i * 1000, i * 1000 + 200).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v"))
        upsert_commit_batch(d, t, i, key_cols=["k"], order_col="v",
                            keep_versions=8, incremental_min_bytes=0)
    head = os.path.realpath(t)
    pack = sum(os.path.getsize(os.path.join(head, f))
               for f in _snapshot_data_files(head))
    perm = optimize_upsert_target(spark, t, keep_versions=8,
                                  min_file_bytes=1 << 20,
                                  target_file_bytes=pack // 3 + 1,
                                  stats_cols=[])
    assert perm is not None
    after = _snapshot_data_files(os.path.join(t + "_versions", perm))
    assert len(after) == 3
    assert read_upsert_version(spark, t).count() == 800


def test_incremental_optimize_packs_per_partition(spark, tmp_path):
    """Small files pack WITHIN their Hive partition — the rewrite never
    moves a row across partition directories, and each partition's
    debt collapses to ~one file."""
    t = _mk(spark, tmp_path, n=60, buckets=3)
    for i in range(1, 4):
        d = spark.range(i * 1000, i * 1000 + 9).select(
            F.col("id").alias("k"), (F.col("id") % 3).alias("bucket"),
            F.lit(1).cast("bigint").alias("v"))
        upsert_commit_batch(d, t, i, key_cols=["k", "bucket"],
                            order_col="v", keep_versions=8,
                            incremental_min_bytes=0)
    before_rows = read_upsert_version(spark, t).count()
    perm = optimize_upsert_target(spark, t, keep_versions=8,
                                  min_file_bytes=1 << 20, stats_cols=[])
    assert perm is not None
    after_dir = os.path.join(t + "_versions", perm)
    from house_price_etl_pipeline_spark.streaming.ingest import (
        _snapshot_data_files)
    after = _snapshot_data_files(after_dir)
    per_dir = {}
    for f in after:
        per_dir.setdefault(os.path.dirname(f), []).append(f)
    assert set(per_dir) == {f"bucket={i}" for i in range(3)}
    assert all(len(fs) <= 2 for fs in per_dir.values())
    assert read_upsert_version(spark, t).count() == before_rows


def test_describe_detail_surfaces_table_metadata(spark, tmp_path):
    from house_price_etl_pipeline_spark.streaming.colmap import (
        rename_table_column)
    from house_price_etl_pipeline_spark.streaming.ingest import (
        describe_upsert_detail, set_table_check_constraint)
    t = _mk(spark, tmp_path)
    rename_table_column(spark, t, "v", "val")
    set_table_check_constraint(spark, t, "val_pos", "val >= 0")
    c = os.path.join(str(tmp_path), "clone")
    clone_upsert_table(t, c)
    d = describe_upsert_detail(spark, c).first()
    assert d["format"] == "parquet/upsert-journal"
    assert d["version"] == 0
    assert d["partition_columns"] == ["bucket"]
    assert d["check_constraints"] == {"val_pos": "val >= 0"}
    assert d["column_renames"] == {"val": "v"}
    assert d["cloned_from"] == os.path.abspath(t)
    assert d["num_files"] > 0 and d["size_in_bytes"] > 0


try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st
    _HAVE_HYPOTHESIS = True
except ImportError:  # pragma: no cover
    _HAVE_HYPOTHESIS = False

if _HAVE_HYPOTHESIS:

    _P_UPSERT = st.lists(
        st.tuples(st.integers(0, 11), st.integers(0, 99)),
        min_size=1, max_size=5).map(lambda ps: ("upsert", ps))
    _P_OP = st.one_of(
        _P_UPSERT,
        st.integers(0, 99).map(lambda t: ("delete", t)),
        st.tuples(st.integers(0, 99), st.integers(1, 7))
        .map(lambda tc: ("update", tc)),
        st.integers(0, 2).map(lambda b: ("drop", b)),
        st.tuples(st.integers(0, 2), st.lists(
            st.tuples(st.integers(0, 3), st.integers(0, 99)),
            min_size=1, max_size=4))
        .map(lambda bp: ("overwrite", bp)),
    )

    @settings(max_examples=8, deadline=None,
              suppress_health_check=list(HealthCheck))
    @given(_P_UPSERT, st.lists(_P_OP, max_size=3))
    def test_partitioned_dml_sequence_matches_model(spark, first, rest):
        """Differential property test over the PARTITIONED table's full
        DML surface — keep-latest upsert, 3VL DELETE/UPDATE, metadata
        partition drops, dynamic partition overwrite — against a dict
        model, plus the CDC replay invariant (replaying the feed from
        empty reconstructs the final state), so cross-op interactions
        on the Hive layout (a COW upsert after a drop, an overwrite
        after an update) can't silently diverge."""
        import shutil
        import tempfile

        from house_price_etl_pipeline_spark.streaming.ingest import (
            _journal_state, read_upsert_changes, read_upsert_version)

        root = tempfile.mkdtemp()
        target = os.path.join(root, "tbl")
        set_table_partitioning(target, {"bucket": "bigint"})
        model: dict[int, int] = {}          # k -> v (bucket = k % 3)
        ord_counter = 0
        batch_id = -1
        for op, arg in [first] + rest:
            batch_id += 1
            if op == "upsert":
                rows = []
                for k, v in arg:
                    rows.append((k, k % 3, ord_counter, v))
                    ord_counter += 1
                    model[k] = v
                upsert_commit_batch(
                    spark.createDataFrame(
                        rows, "k long, bucket long, ord long, v long"),
                    target, batch_id, key_cols=["k", "bucket"],
                    order_col="ord", keep_versions=16,
                    incremental_min_bytes=0)
            elif op == "delete":
                upsert_delete_where(spark, target, batch_id,
                                    f"v > {arg}", keep_versions=16,
                                    incremental_min_bytes=0)
                model = {k: v for k, v in model.items() if not v > arg}
            elif op == "update":
                t, c = arg
                upsert_update_where(spark, target, batch_id,
                                    f"v <= {t}", {"v": f"v + {c}"},
                                    key_cols=["k", "bucket"],
                                    keep_versions=16,
                                    incremental_min_bytes=0)
                model = {k: (v + c if v <= t else v)
                         for k, v in model.items()}
            elif op == "drop":
                upsert_drop_partitions(spark, target, batch_id,
                                       f"bucket = {arg}",
                                       keep_versions=16)
                model = {k: v for k, v in model.items()
                         if k % 3 != arg}
            else:                           # overwrite
                b, pairs = arg
                rows, seen = [], set()
                for i, (koff, v) in enumerate(pairs):
                    k = 3 * koff + b        # key inside bucket b
                    if k in seen:
                        continue            # overwrite batch: unique keys
                    seen.add(k)
                    rows.append((k, b, ord_counter, v))
                    ord_counter += 1
                upsert_overwrite_partitions(
                    spark, target, batch_id,
                    spark.createDataFrame(
                        rows, "k long, bucket long, ord long, v long"),
                    key_cols=["k", "bucket"], keep_versions=16)
                model = {k: v for k, v in model.items() if k % 3 != b}
                for (k, _b, _o, v) in rows:
                    model[k] = v
        got = {r.k: r.v for r in
               read_upsert_version(spark, target).collect()}
        assert got == model
        # CDC replay invariant across the partition ops
        versions = [c["version"] for c in
                    _journal_state(target + "_versions")[0]
                    if c["op"] != "metadata"]
        replay = {r.k: r.v for r in
                  read_upsert_version(spark, target,
                                      versions[0]).collect()}
        for prev, v in zip(versions, versions[1:]):
            for r in read_upsert_changes(spark, target, prev, v,
                                         ["k", "bucket"]).collect():
                if r.change_type in ("insert", "update_postimage"):
                    replay[r.k] = r.v
                elif r.change_type == "delete":
                    replay.pop(r.k, None)
        assert replay == model
        shutil.rmtree(root, ignore_errors=True)


def test_show_partitions_and_auto_compact(spark, tmp_path):
    from house_price_etl_pipeline_spark.streaming.ingest import (
        auto_compact_upsert_target, show_upsert_partitions)
    t = _mk(spark, tmp_path, n=60, buckets=3)
    parts = show_upsert_partitions(spark, t).orderBy("bucket").collect()
    assert [r["bucket"] for r in parts] == [0, 1, 2]
    assert all(r["num_files"] >= 1 and r["size_in_bytes"] > 0
               for r in parts)
    # below the debt threshold: auto-compact is a no-op
    assert auto_compact_upsert_target(
        spark, t, min_small_files=10_000) is None
    for i in range(1, 4):
        d = spark.range(i * 1000, i * 1000 + 9).select(
            F.col("id").alias("k"), (F.col("id") % 3).alias("bucket"),
            F.lit(1).cast("bigint").alias("v"))
        upsert_commit_batch(d, t, i, key_cols=["k", "bucket"],
                            order_col="v", keep_versions=8,
                            incremental_min_bytes=0)
    n_before = sum(r["num_files"] for r in
                   show_upsert_partitions(spark, t).collect())
    assert auto_compact_upsert_target(
        spark, t, min_small_files=4) is not None
    n_after = sum(r["num_files"] for r in
                  show_upsert_partitions(spark, t).collect())
    assert n_after < n_before
    assert read_upsert_version(spark, t).count() == 60 + 27


def test_generated_partition_column_composes(spark, tmp_path):
    """Delta's partition-on-generated-column pattern: declare
    band GENERATED ALWAYS AS (k % 4) AND partition on it — batches
    omit the column, generation computes it pre-stage, the Hive write
    splits on it, pruning works on the generated values."""
    from house_price_etl_pipeline_spark.streaming.ingest import (
        set_table_generated_column)
    t = os.path.join(str(tmp_path), "genpart")
    set_table_partitioning(t, {"band": "bigint"})
    set_table_generated_column(spark, t, "band", "k % 4")
    df = spark.range(0, 40).select(F.col("id").alias("k"),
                                   (F.col("id") * 2).alias("v"))
    upsert_commit_batch(df, t, 0, key_cols=["k", "band"],
                        order_col="v", keep_versions=8,
                        incremental_min_bytes=0)
    head = os.path.realpath(t)
    assert sorted(d for d in os.listdir(head)
                  if os.path.isdir(os.path.join(head, d))) == \
        [f"band={i}" for i in range(4)]
    snap = read_upsert_version(spark, t)
    assert snap.filter("band = 2").count() == 10
    assert _files_read(snap.filter(F.col("band") == 2)) < _files_read(snap)


def test_stats_manifest_composes_with_partitioning(spark, tmp_path):
    """One manifest prunes on DATA columns (footer min/max) and on
    PARTITION columns (exact path-derived stats) — skipping and the
    Hive layout compose instead of excluding each other."""
    from house_price_etl_pipeline_spark.streaming.skipping import (
        read_skipping, read_stats_manifest)
    t = _mk(spark, tmp_path, n=400, buckets=4)
    perm = optimize_upsert_target(spark, t, keep_versions=8,
                                  stats_cols=["v", "bucket"],
                                  max_records_per_file=40)
    assert perm is not None
    head = os.path.realpath(t)
    m = read_stats_manifest(head)
    assert m is not None and m["columns"] == ["v", "bucket"]
    # partition stats are exact: min == max == the path value
    some = next(e for f, e in m["files"].items()
                if f.startswith("bucket=2"))
    assert some["stats"]["bucket"][:2] == [2, 2]
    # data-column predicate prunes files; results match the plain read
    df, n_scanned, n_total = read_skipping(spark, t, {"v": (0, 300)})
    assert n_scanned < n_total
    expect = read_upsert_version(spark, t) \
        .filter("v >= 0 AND v <= 300").count()
    assert df.count() == expect
    assert dict(df.dtypes)["bucket"] == "bigint"   # typed partition col
    # partition-column predicate prunes via the path-derived stats
    df2, n2, _ = read_skipping(spark, t, {"bucket": (1, 1)})
    assert n2 < n_total
    assert df2.count() == read_upsert_version(spark, t) \
        .filter("bucket = 1").count()


def test_partitioned_concurrent_writers_stress(spark, tmp_path):
    """Live-thread stress of the commit protocol over the Hive layout:
    two writers and a looping incremental optimizer interleave on a
    PARTITIONED BY table. Invariants, not timings: every commit lands,
    the journal is strictly sequenced, and the final table equals
    serial keep-latest application — partition-dir hard links must
    survive concurrent stage/publish/prune windows exactly like flat
    files do."""
    import threading

    from house_price_etl_pipeline_spark.fsutil import read_commit_journal
    from house_price_etl_pipeline_spark.streaming.ingest import (
        _commits_dir, optimize_upsert_target)

    target = os.path.join(str(tmp_path), "stress")
    set_table_partitioning(target, {"bucket": "bigint"})

    def batch(bid):
        rows = [(((bid + j) % 8), ((bid + j) % 8) % 3, bid * 10 + j, bid)
                for j in range(3)]
        return spark.createDataFrame(
            rows, "k long, bucket long, payload long, ord long")

    upsert_commit_batch(batch(0), target, 0,
                        key_cols=["k", "bucket"], order_col="ord",
                        keep_versions=2, incremental_min_bytes=0)
    a_ids, b_ids = [1, 3, 5, 7], [2, 4, 6, 8]
    errors = []

    def writer(tag, ids):
        try:
            for bid in ids:
                r = upsert_commit_batch(
                    batch(bid), target, bid, key_cols=["k", "bucket"],
                    order_col="ord", keep_versions=2, writer=tag,
                    max_retries=16, incremental_min_bytes=0)
                assert r in ("applied", "applied-after-retry")
        except Exception as exc:  # pragma: no cover
            errors.append((tag, exc))

    def optimizer(rounds):
        try:
            for _ in range(rounds):
                optimize_upsert_target(spark, target, keep_versions=2,
                                       min_file_bytes=1 << 20,
                                       stats_cols=[])
        except Exception as exc:  # pragma: no cover
            errors.append(("opt", exc))

    ts = [threading.Thread(target=writer, args=("a", a_ids)),
          threading.Thread(target=writer, args=("b", b_ids)),
          threading.Thread(target=optimizer, args=(3,))]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert errors == []
    commits = read_commit_journal(_commits_dir(target + "_versions"))
    assert [c["seq"] for c in commits] == list(range(len(commits)))
    applied = {c["version"] for c in commits
               if c["op"] not in ("optimize", "metadata")}
    assert applied == set(range(9))
    # serial keep-latest model: highest batch id covering a key wins
    model = {}
    for bid in range(9):
        for j in range(3):
            k = (bid + j) % 8
            model[k] = (k % 3, bid * 10 + j, bid)
    got = {r.k: (r.bucket, r.payload, r.ord) for r in
           read_upsert_version(spark, target).collect()}
    assert got == model


def test_streaming_foreach_batch_into_partitioned(spark, tmp_path):
    """The streaming upsert sink composes with PARTITIONED BY: a
    rate-less memory stream of two micro-batches lands as two
    journal commits on a Hive-layout table, exactly-once, with the
    partition column written through partitionBy."""
    from house_price_etl_pipeline_spark.streaming.ingest import (
        stream_upsert_foreach_batch)

    target = os.path.join(str(tmp_path), "stream_tbl")
    set_table_partitioning(target, {"bucket": "bigint"})
    src_dir = os.path.join(str(tmp_path), "src")
    os.makedirs(src_dir)
    df0 = spark.range(0, 20).select(
        F.col("id").alias("k"), (F.col("id") % 2).alias("bucket"),
        F.col("id").alias("ord"))
    df0.write.mode("overwrite").parquet(os.path.join(src_dir, "b0"))
    stream = (spark.readStream.schema("k long, bucket long, ord long")
              .parquet(src_dir + "/*"))
    q = stream_upsert_foreach_batch(
        stream, spark, target,
        checkpoint_dir=os.path.join(str(tmp_path), "ckpt"),
        key_cols=["k", "bucket"], order_col="ord")
    q.awaitTermination()
    head = os.path.realpath(target)
    assert any(d.startswith("bucket=") for d in os.listdir(head))
    assert read_upsert_version(spark, target).count() == 20


def test_protocol_feature_gate(spark, tmp_path):
    """Tables record the features they depend on; a build that doesn't
    know a feature refuses to read rather than silently misreading
    (plain names on a column-mapped table, missing partition columns)
    — Delta's reader-protocol contract."""
    from house_price_etl_pipeline_spark.streaming.partitioning import (
        UnsupportedTableFeature, register_table_feature,
        table_protocol_features)

    t = _mk(spark, tmp_path)
    assert table_protocol_features(t) == {"partitioning"}
    from house_price_etl_pipeline_spark.streaming.colmap import (
        rename_table_column)
    rename_table_column(spark, t, "v", "val")
    assert table_protocol_features(t) == {"partitioning",
                                          "column_mapping"}
    # clone carries the protocol
    c = os.path.join(str(tmp_path), "clone")
    clone_upsert_table(t, c)
    assert table_protocol_features(c) == {"partitioning",
                                          "column_mapping"}
    # a feature from the future refuses loudly
    register_table_feature(t, "deletion_vectors_v9")
    with pytest.raises(UnsupportedTableFeature, match="deletion_vectors"):
        read_upsert_version(spark, t).count()


def test_carry_manifest_tables_are_refused(spark, tmp_path):
    """A table whose protocol lists ``carry_manifest`` (version dirs
    that carry data files as pointer entries rather than bytes) is
    refused by reads and commits alike: this build reads only the
    files physically in a version dir, which on such a table is a
    silent subset of its rows."""
    from house_price_etl_pipeline_spark.streaming.partitioning import (
        UnsupportedTableFeature, check_table_writable,
        register_table_feature)

    t = _mk(spark, tmp_path)
    register_table_feature(t, "carry_manifest")
    with pytest.raises(UnsupportedTableFeature, match="carry_manifest"):
        read_upsert_version(spark, t).count()
    with pytest.raises(UnsupportedTableFeature, match="carry_manifest"):
        check_table_writable(t)


def test_delete_routes_partition_predicates_to_metadata_drop(
        spark, tmp_path):
    """Delta's partition-predicate DELETE fast path: a DELETE WHERE
    whose references are all partition columns becomes a metadata-only
    drop — zero files rewritten — while row predicates keep the
    copy-on-write path."""
    t = _mk(spark, tmp_path)
    upsert_delete_where(spark, t, 1, "bucket = 3", keep_versions=8,
                        incremental_min_bytes=0)
    commits, _ = _journal_state(t + "_versions")
    assert commits[-1]["files_rewritten"] == 0
    assert commits[-1]["dropped_partitions"] == ["bucket=3"]
    assert read_upsert_version(spark, t).count() == 60
    # mixed predicate: row path (rewrites files)
    upsert_delete_where(spark, t, 2, "bucket = 0 AND v >= 100",
                        keep_versions=8, incremental_min_bytes=0)
    commits, _ = _journal_state(t + "_versions")
    assert "dropped_partitions" not in commits[-1]
    # bucket 0 holds k in {0,4,...,76}; v = k*10 >= 100 <=> k >= 12
    assert read_upsert_version(spark, t).count() == 60 - 17


def test_vacuum_dry_run(spark, tmp_path):
    from house_price_etl_pipeline_spark.streaming.ingest import (
        vacuum_upsert_target)
    t = _mk(spark, tmp_path)
    # publish already prunes retired versions; VACUUM's customers are
    # crash-orphaned staging dirs — fake two, AGED past the in-flight
    # floor (journal-unreferenced dirs younger than the floor are
    # protected regardless of force: they may be live transactions —
    # r12 VERDICT item 5)
    import time as _time
    root = t + "_versions"
    old = _time.time() - 2 * 3600
    for n in ("_stage_crashed_dead0001", "_stage_crashed_dead0002"):
        d = os.path.join(root, n)
        os.makedirs(d)
        os.utime(d, (old, old))
    # while they look young, even force-0 refuses them
    fresh = os.path.join(root, "_stage_crashed_fresh0003")
    os.makedirs(fresh)
    assert "_stage_crashed_fresh0003" not in vacuum_upsert_target(
        t, older_than_seconds=0, force=True, dry_run=True)
    os.rmdir(fresh)
    would = vacuum_upsert_target(t, older_than_seconds=0, force=True,
                                 dry_run=True)
    assert set(would) >= {"_stage_crashed_dead0001",
                          "_stage_crashed_dead0002"}
    # nothing actually removed
    assert all(os.path.isdir(os.path.join(root, n)) for n in would)
    removed = vacuum_upsert_target(t, older_than_seconds=0, force=True)
    assert sorted(removed) == sorted(would)
    assert not any(os.path.isdir(os.path.join(root, n)) for n in would)


def test_partition_column_names_validated_at_declaration(tmp_path):
    """Names the data-file walk would silently skip ('_'/'.' prefixes)
    or that break Hive path syntax ('='/'/') are refused at
    declaration — not discovered as a mysteriously-empty table
    (ADVICE r11)."""
    for bad in ("_foo", ".foo", "a=b", "a/b"):
        t = os.path.join(str(tmp_path), "t_" + bad.replace("/", "_"))
        with pytest.raises(ValueError, match="not allowed"):
            set_table_partitioning(t, {bad: "int"})


def test_null_sentinel_checked_before_unescape(tmp_path):
    """partition_values_of tests the NULL sentinel on the RAW segment:
    an escaped genuine value that UNESCAPES to the sentinel string is
    decoded as that string, not as NULL; the raw sentinel is NULL."""
    from house_price_etl_pipeline_spark.streaming.partitioning import (
        HIVE_DEFAULT_PARTITION, _escape_hive, partition_dir_of)

    parts = {"tag": "string"}
    # a genuine value equal to the sentinel routes through the
    # column-level surrogate, then standard path escaping ('%'->'%25')
    # — byte-identical to what Spark's partitionBy writer produces for
    # the encoded value (r12 VERDICT item 6)
    esc = _escape_hive(HIVE_DEFAULT_PARTITION)
    assert esc != HIVE_DEFAULT_PARTITION and esc.startswith("%255F")
    got = partition_values_of(
        os.path.join(f"tag={esc}", "part-0.parquet"), parts)
    assert got == {"tag": HIVE_DEFAULT_PARTITION}
    # the raw sentinel is a real NULL
    got = partition_values_of(
        os.path.join(f"tag={HIVE_DEFAULT_PARTITION}", "p.parquet"),
        parts)
    assert got == {"tag": None}
    # and partition_dir_of round-trips both
    assert partition_dir_of({"tag": None}) == \
        f"tag={HIVE_DEFAULT_PARTITION}"
    assert partition_dir_of({"tag": HIVE_DEFAULT_PARTITION}) == \
        f"tag={esc}"


def test_disjoint_writer_rebase_fast_path(spark, tmp_path, monkeypatch):
    """Disjoint-writer commit fast path: a loser whose partitions are
    disjoint from the winner's REBASES its already-staged output (file
    moves + carries, zero Spark re-merges) instead of rebuilding. The
    deterministic interleave: writer A stages, then B commits a
    different partition inside A's pre-CAS window — A must lose the
    race, take the rebase path (journal entry flags it), and the final
    state must equal serial application with exactly ONE Spark staging
    write per writer."""
    import house_price_etl_pipeline_spark.streaming.ingest as ing

    target = os.path.join(str(tmp_path), "tbl")
    set_table_partitioning(target, {"bucket": "bigint"})

    def rows(bucket, payload, n=4):
        return spark.createDataFrame(
            [(bucket * 100 + i, bucket, payload, payload)
             for i in range(n)],
            "k long, bucket long, payload long, ord long")

    base = spark.range(40).select(
        F.col("id").alias("k"), (F.col("id") % 4).alias("bucket"),
        F.lit(0).cast("long").alias("payload"),
        F.lit(0).cast("long").alias("ord"))
    upsert_commit_batch(base, target, 0, key_cols=["k", "bucket"],
                        order_col="ord", keep_versions=8,
                        incremental_min_bytes=0)

    staged = {"n": 0}
    real_staged_write = ing._staged_write

    def counting_staged_write(*a, **k):
        staged["n"] += 1
        return real_staged_write(*a, **k)

    monkeypatch.setattr(ing, "_staged_write", counting_staged_write)

    fired = {"done": False}

    def inject_b(_attempt):
        # runs between A's stage-rename and A's CAS attempt — B wins
        # the sequence slot with a PARTITION-DISJOINT commit
        if not fired["done"]:
            fired["done"] = True
            upsert_commit_batch(
                rows(2, 7), target, 2, key_cols=["k", "bucket"],
                order_col="ord", keep_versions=8, writer="b",
                incremental_min_bytes=0)

    r = upsert_commit_batch(rows(1, 5), target, 1,
                            key_cols=["k", "bucket"], order_col="ord",
                            keep_versions=8, writer="a",
                            incremental_min_bytes=0,
                            _race_hook=inject_b)
    assert r == "applied-after-retry"
    # exactly one Spark staging write per writer: A's merge never re-ran
    assert staged["n"] == 2
    from house_price_etl_pipeline_spark.fsutil import read_commit_journal
    commits = read_commit_journal(
        ing._commits_dir(target + "_versions"))
    assert [c["seq"] for c in commits] == list(range(len(commits)))
    a_entry = [c for c in commits if c.get("writer") == "a"][-1]
    assert a_entry.get("rebased") is True
    assert a_entry["touched_partitions"] == ["bucket=1"]
    b_entry = [c for c in commits if c.get("writer") == "b"][-1]
    assert b_entry.get("touched_partitions") == ["bucket=2"]
    # final state equals serial application of base, B, A
    got = {r.k: (r.bucket, r.payload) for r in
           read_upsert_version(spark, target).collect()}
    model = {i: (i % 4, 0) for i in range(40)}
    model.update({200 + i: (2, 7) for i in range(4)})
    model.update({100 + i: (1, 5) for i in range(4)})
    assert got == model
    # time travel still resolves every retained version
    assert read_upsert_version(spark, target, 0).count() == 40


def test_overlapping_writer_still_restages(spark, tmp_path):
    """Conflict classification must be sound: a loser whose partitions
    OVERLAP the winner's takes the full re-stage (no rebase flag) and
    still converges to serial keep-latest state."""
    import house_price_etl_pipeline_spark.streaming.ingest as ing

    target = os.path.join(str(tmp_path), "tbl")
    set_table_partitioning(target, {"bucket": "bigint"})
    base = spark.range(20).select(
        F.col("id").alias("k"), (F.col("id") % 2).alias("bucket"),
        F.lit(0).cast("long").alias("payload"),
        F.lit(0).cast("long").alias("ord"))
    upsert_commit_batch(base, target, 0, key_cols=["k", "bucket"],
                        order_col="ord", keep_versions=8,
                        incremental_min_bytes=0)

    def rows(k, bucket, payload, ord_):
        return spark.createDataFrame(
            [(k, bucket, payload, ord_)],
            "k long, bucket long, payload long, ord long")

    fired = {"done": False}

    def inject_b(_attempt):
        if not fired["done"]:
            fired["done"] = True
            # SAME partition, SAME key, higher order — must win
            upsert_commit_batch(
                rows(6, 0, 777, 9), target, 2,
                key_cols=["k", "bucket"], order_col="ord",
                keep_versions=8, writer="b", incremental_min_bytes=0)

    r = upsert_commit_batch(rows(6, 0, 111, 1), target, 1,
                            key_cols=["k", "bucket"], order_col="ord",
                            keep_versions=8, writer="a",
                            incremental_min_bytes=0,
                            _race_hook=inject_b)
    assert r == "applied-after-retry"
    from house_price_etl_pipeline_spark.fsutil import read_commit_journal
    commits = read_commit_journal(
        ing._commits_dir(target + "_versions"))
    a_entry = [c for c in commits if c.get("writer") == "a"][-1]
    assert "rebased" not in a_entry        # conflict → full re-stage
    # keep-latest: B's ord=9 row beats A's ord=1 row
    got = {r.k: r.payload for r in
           read_upsert_version(spark, target).collect()}
    assert got[6] == 777


def test_disjoint_writer_stress_zero_restages(spark, tmp_path,
                                              monkeypatch):
    """Two-writer disjoint-partition stress (VERDICT r11 item 5 'done'
    gate): writers A and B each land N commits confined to their own
    partition while racing live threads. Every lost CAS race must take
    the rebase fast path — total Spark staging writes == total commits
    (zero re-stages) — and the journal must be strictly sequenced with
    the final state equal to serial keep-latest application."""
    import threading

    import house_price_etl_pipeline_spark.streaming.ingest as ing

    target = os.path.join(str(tmp_path), "tbl")
    set_table_partitioning(target, {"bucket": "bigint"})
    base = spark.range(30).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("bucket"),
        F.lit(0).cast("long").alias("payload"),
        F.lit(0).cast("long").alias("ord"))
    upsert_commit_batch(base, target, 0, key_cols=["k", "bucket"],
                        order_col="ord", keep_versions=16,
                        incremental_min_bytes=0)

    staged = {"n": 0}
    lock = threading.Lock()
    real_staged_write = ing._staged_write

    def counting_staged_write(*a, **k):
        with lock:
            staged["n"] += 1
        return real_staged_write(*a, **k)

    monkeypatch.setattr(ing, "_staged_write", counting_staged_write)

    n_each, errors = 4, []

    def writer(tag, bucket, ids):
        try:
            for i, bid in enumerate(ids):
                df = spark.createDataFrame(
                    [(bucket * 100 + j, bucket, bid, bid)
                     for j in range(3)],
                    "k long, bucket long, payload long, ord long")
                r = upsert_commit_batch(
                    df, target, bid, key_cols=["k", "bucket"],
                    order_col="ord", keep_versions=16, writer=tag,
                    max_retries=16, incremental_min_bytes=0)
                assert r in ("applied", "applied-after-retry")
        except Exception as exc:  # pragma: no cover
            errors.append((tag, exc))

    ts = [threading.Thread(target=writer,
                           args=("a", 1, [1, 3, 5, 7])),
          threading.Thread(target=writer,
                           args=("b", 2, [2, 4, 6, 8]))]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert errors == []
    # zero re-stages: one Spark staging write per commit (the base
    # committed before the counter was installed)
    assert staged["n"] == 2 * n_each
    from house_price_etl_pipeline_spark.fsutil import read_commit_journal
    commits = read_commit_journal(
        ing._commits_dir(target + "_versions"))
    assert [c["seq"] for c in commits] == list(range(len(commits)))
    assert {c["version"] for c in commits
            if c["op"] != "metadata"} == set(range(9))
    got = {r.k: (r.bucket, r.payload) for r in
           read_upsert_version(spark, target).collect()}
    model = {i: (i % 3, 0) for i in range(30)}
    model.update({100 + j: (1, 7) for j in range(3)})
    model.update({200 + j: (2, 8) for j in range(3)})
    assert got == model


def test_vacuum_honors_asof_readers_across_partition_drop(
        spark, tmp_path):
    """VACUUM × partition drop × time travel (VERDICT r11 item 7): a
    metadata partition drop makes the dropped files unreferenced at
    HEAD while retained pre-drop versions still need them. Pins: (1)
    while the pre-drop version is retained, a force-VACUUM at zero age
    must not break its AS-OF read of the dropped partition; (2) once
    it retires, reclaim happens — its bytes go, while the files the
    retained versions link live on, with every retained read still
    correct; (3) the retention floor refuses
    young reclaims by default, so an in-flight reader's window is
    never closed by a default VACUUM call."""
    from house_price_etl_pipeline_spark.streaming.ingest import (
        VACUUM_RETENTION_FLOOR_S, vacuum_upsert_target)

    t = os.path.join(str(tmp_path), "tbl")
    set_table_partitioning(t, {"bucket": "bigint"})
    base = spark.range(40).select(
        F.col("id").alias("k"), (F.col("id") % 4).alias("bucket"),
        (F.col("id") * 10).alias("v"))
    upsert_commit_batch(base, t, 0, key_cols=["k", "bucket"],
                        order_col="v", keep_versions=2,
                        incremental_min_bytes=0)
    # v1: drop bucket=3 — head no longer references its files
    upsert_drop_partitions(spark, t, 1, "bucket = 3", keep_versions=2)

    # (3) the retention floor: default retention refuses young reclaim
    with pytest.raises(ValueError, match="floor"):
        vacuum_upsert_target(t, 1.0, keep_versions=2)
    assert VACUUM_RETENTION_FLOOR_S >= 300

    # an AS-OF reader of the retained pre-drop version, DataFrame built
    # BEFORE the vacuum — force-VACUUM at zero age must not break it
    pre_drop = read_upsert_version(spark, t, 0)
    vacuum_upsert_target(t, 0, keep_versions=2, force=True)
    assert pre_drop.filter("bucket = 3").count() == 10
    assert read_upsert_version(spark, t).filter("bucket = 3").count() == 0

    # v2 retires v0 (keep_versions=2 → retained {v2, v1}); v1/v2 still
    # link v0's files for buckets 0-2 — those inodes must survive both
    # the publish prune and the vacuum, while bucket=3's files
    # (linked by nothing retained) are reclaimed
    delta = spark.createDataFrame([(0, 0, 999)],
                                  "k bigint, bucket bigint, v bigint")
    upsert_commit_batch(delta, t, 2, key_cols=["k", "bucket"],
                        order_col="v", keep_versions=2,
                        incremental_min_bytes=0)
    vacuum_upsert_target(t, 0, keep_versions=2, force=True)
    head = read_upsert_version(spark, t)
    assert head.count() == 30 and head.filter("v = 999").count() == 1
    v1 = read_upsert_version(spark, t, 1)
    assert v1.count() == 30 and v1.filter("bucket = 3").count() == 0
    # the retired pre-drop version is gone — its AS-OF read must raise
    # loudly (retention contract), never return partial data
    with pytest.raises(FileNotFoundError, match="not retained"):
        read_upsert_version(spark, t, 0).count()
    # and the dropped partition's bytes really were reclaimed: no
    # retained snapshot references bucket=3, so no version dir may
    # still hold a bucket=3 data file
    vroot = t + "_versions"
    leftovers = [
        os.path.join(r, f)
        for d in os.listdir(vroot)
        if os.path.isdir(os.path.join(vroot, d))
        and not d.startswith("_commits")
        for r, _dirs, fs in os.walk(os.path.join(vroot, d))
        for f in fs
        if f.endswith(".parquet") and "bucket=3" in r]
    assert leftovers == []


def test_incremental_partitioned_dml_and_feeds(spark, tmp_path):
    """Incremental commits on a PARTITIONED table: the rewritten files
    land only under the delta's partition while every other partition
    carries by link, the typed read and SHOW PARTITIONS see the whole
    snapshot, a metadata partition drop stages zero new files, and the
    Python change-feed route diffs the carried versions."""
    from house_price_etl_pipeline_spark.streaming.ingest import (
        show_upsert_partitions)
    from house_price_etl_pipeline_spark.streaming.partitioning import (
        _walk_data_files)

    t = _mk(spark, tmp_path, name="ptbl")
    delta = spark.range(5).select(
        (F.col("id") * 4 + 2).alias("k"),
        F.lit(2).cast("bigint").alias("bucket"),
        F.lit(999).cast("bigint").alias("v"))
    upsert_commit_batch(delta, t, 1, key_cols=["k", "bucket"],
                        order_col="v", keep_versions=8,
                        incremental_min_bytes=0, max_retries=4)
    commits, _ = _journal_state(t + "_versions")
    base, cur = (os.path.join(t + "_versions", c["version_name"])
                 for c in commits[-2:])
    rewritten = set(_walk_data_files(cur)) - set(_walk_data_files(base))
    assert rewritten
    assert all(r.startswith("bucket=2" + os.sep) for r in rewritten)
    snap = read_upsert_version(spark, t)
    assert snap.count() == 80 and snap.filter("v = 999").count() == 5
    assert dict(snap.dtypes)["bucket"] == "bigint"
    assert snap.filter("bucket = 2").count() == 20
    shown = {r["bucket"] for r in show_upsert_partitions(spark, t).collect()}
    assert shown == {0, 1, 2, 3}
    upsert_drop_partitions(spark, t, 2, "bucket = 3", keep_versions=8)
    commits, _ = _journal_state(t + "_versions")
    dropped = os.path.join(t + "_versions", commits[-1]["version_name"])
    assert set(_walk_data_files(dropped)) == {
        f for f in _walk_data_files(cur) if not f.startswith("bucket=3")}
    snap2 = read_upsert_version(spark, t)
    assert snap2.count() == 60
    assert snap2.filter("bucket = 3").count() == 0
    ch = read_changes_batch_pysource(
        spark, t, key_cols=["k", "bucket"], starting_version=1,
        ending_version=2)
    got = {r["change_type"]: r["n"] for r in
           ch.groupBy("change_type").agg(F.count("*").alias("n"))
           .collect()}
    assert got.get("delete") == 20
    assert got.get("update_postimage", 0) + got.get("insert", 0) >= 5


def test_rebase_fast_path_survives_concurrent_vacuum(spark, tmp_path):
    """VERDICT r12 item 5: the disjoint-writer REBASE fast path racing
    VACUUM. Two writers hammer disjoint partitions (losers rebase:
    links re-made against the new head between a listing and a
    publish) while a third thread force-VACUUMs at zero age with tight
    retention — the window where a rebase's carry sources can vanish
    mid-carry. Pins: every commit lands (rebase or graceful full
    re-stage fallback), VACUUM never errors, the journal stays
    gap-free, the final state equals serial application, and every
    retained version dir (and the published head) still exists."""
    import threading
    import time

    from house_price_etl_pipeline_spark.streaming.ingest import (
        _retained_names, resolve_published_snapshot, vacuum_upsert_target)

    t = os.path.join(str(tmp_path), "tbl")
    set_table_partitioning(t, {"bucket": "bigint"})
    base = spark.range(30).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("bucket"),
        F.lit(0).cast("long").alias("payload"),
        F.lit(0).cast("long").alias("ord"))
    upsert_commit_batch(base, t, 0, key_cols=["k", "bucket"],
                        order_col="ord", keep_versions=2,
                        incremental_min_bytes=0)

    errors, stop = [], threading.Event()

    def writer(tag, bucket, ids):
        try:
            for bid in ids:
                df = spark.createDataFrame(
                    [(bucket * 100 + j, bucket, bid, bid)
                     for j in range(3)],
                    "k long, bucket long, payload long, ord long")
                r = upsert_commit_batch(
                    df, t, bid, key_cols=["k", "bucket"],
                    order_col="ord", keep_versions=2, writer=tag,
                    max_retries=16, incremental_min_bytes=0)
                assert r in ("applied", "applied-after-retry"), r
        except Exception as exc:  # pragma: no cover
            errors.append((tag, exc))

    def vacuumer():
        try:
            while not stop.is_set():
                vacuum_upsert_target(t, older_than_seconds=0,
                                     keep_versions=2, force=True)
                time.sleep(0.005)
        except Exception as exc:  # pragma: no cover
            errors.append(("vacuum", exc))

    ts = [threading.Thread(target=writer, args=("a", 1, [1, 3, 5, 7, 9])),
          threading.Thread(target=writer, args=("b", 2, [2, 4, 6, 8, 10])),
          threading.Thread(target=vacuumer)]
    for th in ts:
        th.start()
    for th in ts[:2]:
        th.join()
    stop.set()
    ts[2].join()
    assert errors == []

    commits, _ = _journal_state(t + "_versions")
    assert [c["seq"] for c in commits] == list(range(len(commits)))
    assert {c["version"] for c in commits
            if c["op"] != "metadata"} == set(range(11))
    # final state == serial keep-latest application
    got = {r.k: (r.bucket, r.payload) for r in
           read_upsert_version(spark, t).collect()}
    model = {i: (i % 3, 0) for i in range(30)}
    model.update({100 + j: (1, 9) for j in range(3)})
    model.update({200 + j: (2, 10) for j in range(3)})
    assert got == model
    reachable = _retained_names(commits, 2)
    reachable.add(os.path.basename(resolve_published_snapshot(t)))
    for name in sorted(reachable):
        assert os.path.isdir(os.path.join(t + "_versions", name)), \
            f"retained version dir missing: {name}"


def test_rebase_classifies_delete_merge_overwrite_scopes(spark, tmp_path):
    """Scope claims from the other DML ops feed the same classifier: a
    losing upsert whose partitions are disjoint from a winning DELETE,
    MERGE, and dynamic OVERWRITE (each claiming its scope in the
    journal) still takes the rebase fast path; the final state equals
    serial application."""
    import house_price_etl_pipeline_spark.streaming.ingest as ing
    from house_price_etl_pipeline_spark.fsutil import read_commit_journal

    target = os.path.join(str(tmp_path), "tbl")
    set_table_partitioning(target, {"bucket": "bigint"})
    base = spark.range(40).select(
        F.col("id").alias("k"), (F.col("id") % 4).alias("bucket"),
        F.lit(0).cast("long").alias("payload"),
        F.lit(0).cast("long").alias("ord"))
    upsert_commit_batch(base, target, 0, key_cols=["k", "bucket"],
                        order_col="ord", keep_versions=16,
                        incremental_min_bytes=0)

    fired = {"done": False}

    def inject(_attempt):
        # all three disjoint winners land inside the loser's pre-CAS
        # window: the rebase must classify a DELETE + MERGE + OVERWRITE
        # entry chain in one pass
        if fired["done"]:
            return
        fired["done"] = True
        upsert_delete_where(spark, target, 2, "bucket = 0 AND k < 2",
                            keep_versions=16, incremental_min_bytes=0)
        src = spark.createDataFrame([(201, 2, 55, 9)],
                                    "k long, bucket long, "
                                    "payload long, ord long")
        upsert_merge_into(spark, target, 3, src,
                          key_cols=["k", "bucket"],
                          keep_versions=16, incremental_min_bytes=0)
        ow = spark.createDataFrame([(301, 3, 77, 9)],
                                   "k long, bucket long, "
                                   "payload long, ord long")
        upsert_overwrite_partitions(spark, target, 4, ow,
                                    key_cols=["k", "bucket"],
                                    keep_versions=16)

    loser = spark.createDataFrame([(101, 1, 42, 5)],
                                  "k long, bucket long, payload long, "
                                  "ord long")
    r = upsert_commit_batch(loser, target, 1, key_cols=["k", "bucket"],
                            order_col="ord", keep_versions=16,
                            writer="loser", incremental_min_bytes=0,
                            _race_hook=inject)
    assert r == "applied-after-retry"
    commits = read_commit_journal(ing._commits_dir(target + "_versions"))
    by_op = {c["op"]: c for c in commits}
    # every winner recorded its scope
    assert by_op["delete"]["touched_partitions"] == ["bucket=0"]
    assert by_op["merge"]["touched_partitions"] == ["bucket=2"]
    assert by_op["overwrite"]["touched_partitions"] == ["bucket=3"]
    # the loser rebased instead of re-merging — once per lost race,
    # but only its FIRST stage ran Spark (rebased flag on its entry)
    loser_entry = [c for c in commits if c.get("writer") == "loser"][-1]
    assert loser_entry.get("rebased") is True
    got = {r.k: (r.bucket, r.payload) for r in
           read_upsert_version(spark, target).collect()}
    model = {i: (i % 4, 0) for i in range(40) if not (i % 4 == 0 and i < 2)}
    # bucket=3 overwritten wholesale; merge inserted 201; loser 101
    model = {k: v for k, v in model.items() if v[0] != 3}
    model.update({301: (3, 77), 201: (2, 55), 101: (1, 42)})
    assert got == model


def test_rebase_across_disjoint_incremental_optimize(spark, tmp_path):
    """A writer racing an INCREMENTAL OPTIMIZE that packed only OTHER
    partitions rebases across it (the optimize entry claims its packed
    partitions; content-identical packing confined to them commutes
    with the writer's merge); a FULL-rewrite optimize claims nothing
    and forces the re-stage."""
    import house_price_etl_pipeline_spark.streaming.ingest as ing
    from house_price_etl_pipeline_spark.fsutil import read_commit_journal

    target = os.path.join(str(tmp_path), "tbl")
    set_table_partitioning(target, {"bucket": "bigint"})
    # two key-disjoint commits per bucket → small-file debt everywhere
    for b in (0, 1):
        df = spark.range(b * 20, b * 20 + 20).select(
            F.col("id").alias("k"), (F.col("id") % 2).alias("bucket"),
            F.lit(0).cast("long").alias("payload"),
            F.lit(b).cast("long").alias("ord"))
        upsert_commit_batch(df, target, b, key_cols=["k", "bucket"],
                            order_col="ord", keep_versions=16,
                            incremental_min_bytes=0)

    fired = {"done": False}

    def inject(_attempt):
        if fired["done"]:
            return
        fired["done"] = True
        # pack ONLY bucket=0's small files (bucket=1's are the loser's)
        # by dropping bucket=1's debt below the 2-file bin threshold:
        # both buckets have 2 small files, so pack everything EXCEPT
        # the loser's partition via a partition-scoped table? simpler:
        # pack both buckets' debt is NOT disjoint — so instead run the
        # optimize BEFORE the loser touches bucket=1... we need real
        # disjointness: delete bucket=1's second file first
        optimize_upsert_target(spark, target, keep_versions=16,
                               min_file_bytes=1 << 20, stats_cols=[])

    # loser upserts into bucket=1 while the optimize packs; the packed
    # claim covers BOTH buckets here, so this loser must NOT rebase —
    # overlap soundness for maintenance claims
    loser = spark.createDataFrame([(101, 1, 42, 5)],
                                  "k long, bucket long, payload long, "
                                  "ord long")
    r = upsert_commit_batch(loser, target, 2, key_cols=["k", "bucket"],
                            order_col="ord", keep_versions=16,
                            writer="loser", incremental_min_bytes=0,
                            _race_hook=inject)
    assert r == "applied-after-retry"
    commits = read_commit_journal(ing._commits_dir(target + "_versions"))
    opt = [c for c in commits if c["op"] == "optimize"][-1]
    assert set(opt["touched_partitions"]) == {"bucket=0", "bucket=1"}
    loser_entry = [c for c in commits if c.get("writer") == "loser"][-1]
    assert "rebased" not in loser_entry      # overlap → full re-stage

    # now a genuinely DISJOINT maintenance race: the optimize packs
    # existing buckets' debt while the loser inserts into a brand-new
    # partition (bucket=2)
    fired2 = {"done": False}

    def inject2(_attempt):
        if fired2["done"]:
            return
        fired2["done"] = True
        optimize_upsert_target(spark, target, keep_versions=16,
                               min_file_bytes=1 << 20, stats_cols=[])

    loser2 = spark.createDataFrame([(102, 2, 43, 6)],
                                   "k long, bucket long, payload long, "
                                   "ord long")
    r = upsert_commit_batch(loser2, target, 3, key_cols=["k", "bucket"],
                            order_col="ord", keep_versions=16,
                            writer="loser2", incremental_min_bytes=0,
                            _race_hook=inject2)
    assert r == "applied-after-retry"
    commits = read_commit_journal(ing._commits_dir(target + "_versions"))
    opt2 = [c for c in commits if c["op"] == "optimize"][-1]
    assert "bucket=2" not in set(opt2["touched_partitions"])
    loser2_entry = [c for c in commits if c.get("writer") == "loser2"][-1]
    assert loser2_entry.get("rebased") is True
    got = {r.k: (r.bucket, r.payload) for r in
           read_upsert_version(spark, target).collect()}
    assert got[101] == (1, 42) and got[102] == (2, 43)
    assert len(got) == 42


def test_hive_sentinel_string_roundtrips_distinct_from_null(
        spark, tmp_path):
    """VERDICT r12 item 6: a GENUINE string partition value equal to
    __HIVE_DEFAULT_PARTITION__ is surrogate-encoded at write time, so
    it round-trips distinct from NULL through every path — snapshot
    read, change feed, metadata partition drop — instead of colliding
    in the NULL directory (the partition column is path-only, so the
    old collision was unrecoverable after the write)."""
    from house_price_etl_pipeline_spark.streaming.ingest import (
        read_upsert_changes, upsert_drop_partitions)
    from house_price_etl_pipeline_spark.streaming.partitioning import (
        HIVE_DEFAULT_PARTITION, HIVE_SENTINEL_SURROGATE,
        list_partition_dirs)

    t = os.path.join(str(tmp_path), "tbl")
    set_table_partitioning(t, {"p": "string"})
    rows = [(0, None, 10), (1, HIVE_DEFAULT_PARTITION, 20),
            (2, "normal", 30)]
    df = spark.createDataFrame(rows, "k bigint, p string, v bigint")
    upsert_commit_batch(df, t, 0, key_cols=["k"], order_col="v",
                        keep_versions=8, incremental_min_bytes=0)

    # snapshot read: three DISTINCT partition values, decoded exactly
    got = {r.k: r.p for r in read_upsert_version(spark, t).collect()}
    assert got == {0: None, 1: HIVE_DEFAULT_PARTITION, 2: "normal"}
    # on disk: NULL's dir carries the raw sentinel; the genuine value's
    # dir carries the escaped surrogate — two different directories
    vroot = t + "_versions"
    commits, _ = _journal_state(vroot)
    head = os.path.join(vroot, commits[-1]["version_name"])
    dirs = set(list_partition_dirs(head, {"p": "string"}))
    assert f"p={HIVE_DEFAULT_PARTITION}" in dirs
    assert not any(HIVE_SENTINEL_SURROGATE in d for d in dirs)  # escaped
    assert len(dirs) == 3
    # Python path decode agrees with the Spark read
    vals = {d: v["p"] for d, v in
            list_partition_dirs(head, {"p": "string"}).items()}
    assert set(vals.values()) == {None, HIVE_DEFAULT_PARTITION, "normal"}

    # change feed: an update in each partition reports decoded values
    df2 = spark.createDataFrame(
        [(0, None, 11), (1, HIVE_DEFAULT_PARTITION, 21)],
        "k bigint, p string, v bigint")
    upsert_commit_batch(df2, t, 1, key_cols=["k"], order_col="v",
                        keep_versions=8, incremental_min_bytes=0)
    ch = read_upsert_changes(spark, t, 0, 1, ["k"])
    post = {r.k: r.p for r in
            ch.filter("change_type = 'update_postimage'").collect()}
    assert post == {0: None, 1: HIVE_DEFAULT_PARTITION}

    # drop-predicate paths: p IS NULL drops ONLY the real NULL rows;
    # p = '<sentinel>' drops ONLY the genuine-string rows
    upsert_drop_partitions(spark, t, 2, "p IS NULL", keep_versions=8)
    left = {r.k: r.p for r in read_upsert_version(spark, t).collect()}
    assert left == {1: HIVE_DEFAULT_PARTITION, 2: "normal"}
    upsert_drop_partitions(spark, t, 3,
                           f"p = '{HIVE_DEFAULT_PARTITION}'",
                           keep_versions=8)
    left = {r.k: r.p for r in read_upsert_version(spark, t).collect()}
    assert left == {2: "normal"}


def test_string_partition_pruning_survives_sentinel_decode(spark,
                                                           tmp_path):
    """The sentinel decode is a CASE WHEN over the partition attribute,
    which would defeat scan-level pruning — so it must apply ONLY when
    a surrogate directory actually exists. Pins both sides: a normal
    string-partitioned table keeps PartitionFilters pruning on the raw
    column; a table holding a genuine-sentinel value still decodes."""
    from house_price_etl_pipeline_spark.streaming.partitioning import (
        HIVE_DEFAULT_PARTITION)

    t = os.path.join(str(tmp_path), "plain")
    set_table_partitioning(t, {"tag": "string"})
    df = spark.createDataFrame(
        [(i, f"t{i % 4}", i) for i in range(40)],
        "k bigint, tag string, v bigint")
    upsert_commit_batch(df, t, 0, key_cols=["k", "tag"], order_col="v",
                        keep_versions=8, incremental_min_bytes=0)
    snap = read_upsert_version(spark, t).filter(F.col("tag") == "t1")
    plan = snap._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(tag" in plan, plan
    assert snap.count() == 10

    s = os.path.join(str(tmp_path), "sent")
    set_table_partitioning(s, {"tag": "string"})
    df2 = spark.createDataFrame(
        [(0, HIVE_DEFAULT_PARTITION, 1), (1, "plain", 2), (2, None, 3)],
        "k bigint, tag string, v bigint")
    upsert_commit_batch(df2, s, 0, key_cols=["k"], order_col="v",
                        keep_versions=8, incremental_min_bytes=0)
    got = {r.k: r.tag for r in read_upsert_version(spark, s).collect()}
    assert got == {0: HIVE_DEFAULT_PARTITION, 1: "plain", 2: None}


# Each commit op below, run against the same 40-row table; ``expect``
# maps the pre-op rows {(k, bucket): v} to the op's serial result.
_LOST_CAS_OPS = {
    "delete": (
        lambda spark, t: upsert_delete_where(
            spark, t, 60, "k < 5", keep_versions=16,
            incremental_min_bytes=0),
        lambda rows: {kb: v for kb, v in rows.items() if kb[0] >= 5}),
    "update": (
        lambda spark, t: upsert_update_where(
            spark, t, 60, "k < 5", {"v": "-1"}, key_cols=["k", "bucket"],
            keep_versions=16, incremental_min_bytes=0),
        lambda rows: {kb: (-1 if kb[0] < 5 else v)
                      for kb, v in rows.items()}),
    "merge": (
        lambda spark, t: upsert_merge_into(
            spark, t, 60, spark.createDataFrame(
                [(5, 1, 777), (200, 0, 777)],
                "k bigint, bucket bigint, v bigint"),
            ["k", "bucket"], keep_versions=16, incremental_min_bytes=0),
        lambda rows: {**rows, (5, 1): 777, (200, 0): 777}),
    "drop": (
        lambda spark, t: upsert_drop_partitions(
            spark, t, 60, "bucket = 3", keep_versions=16),
        lambda rows: {kb: v for kb, v in rows.items() if kb[1] != 3}),
    "overwrite": (
        lambda spark, t: upsert_overwrite_partitions(
            spark, t, 60, spark.createDataFrame(
                [(2, 2, 555), (6, 2, 555)],
                "k bigint, bucket bigint, v bigint"),
            ["k", "bucket"], keep_versions=16),
        lambda rows: {**{kb: v for kb, v in rows.items() if kb[1] != 2},
                      (2, 2): 555, (6, 2): 555}),
    "optimize": (
        lambda spark, t: optimize_upsert_target(spark, t, keep_versions=16),
        lambda rows: rows),
    "restore": (
        lambda spark, t: restore_upsert_target(spark, t, 0, 60,
                                               keep_versions=16),
        lambda rows: {(k, k % 4): k * 10 for k in range(40)}),
}


@pytest.mark.parametrize("op", sorted(_LOST_CAS_OPS))
def test_every_commit_op_survives_a_lost_cas(spark, tmp_path, monkeypatch,
                                             op):
    """Every commit op retries a lost journal race: on the op's FIRST
    CAS a competing upsert of other keys claims the slot, so the op
    must re-read the journal, re-stage on the new head and land after
    it — journal seqs gapless, head equal to the serial result, and no
    staged or unjournaled snapshot dir left in ``_versions``."""
    from house_price_etl_pipeline_spark import fsutil

    t = _mk(spark, tmp_path, n=40)
    rival = spark.createDataFrame([(100, 0, 5000), (101, 1, 5010)],
                                  "k bigint, bucket bigint, v bigint")
    real = fsutil.cas_put_if_absent
    fired = []

    def rival_first(path, data):
        if not fired:
            fired.append(path)   # recursion guard: the rival's own CAS
            #                      goes straight to the real primitive
            assert upsert_commit_batch(
                rival, t, 50, key_cols=["k", "bucket"], order_col="v",
                keep_versions=16, incremental_min_bytes=0) == "applied"
        return real(path, data)

    monkeypatch.setattr(fsutil, "cas_put_if_absent", rival_first)
    run, expect = _LOST_CAS_OPS[op]
    out = run(spark, t)
    monkeypatch.setattr(fsutil, "cas_put_if_absent", real)

    assert fired
    vr = t + "_versions"
    commits, _ = _journal_state(vr)
    assert [c["seq"] for c in commits] == list(range(len(commits)))
    # the rival landed in the op's first slot; the op landed after it
    # (entries 0-1: the partitioning declaration and the base upsert)
    assert [c["version"] for c in commits[2:]] == [
        50, 50 if op == "optimize" else 60]
    if op == "optimize":
        assert "_compact_" in out and commits[-1]["version_name"] == out
    elif op == "restore":
        assert "_restore_" in out and commits[-1]["version_name"] == out
    else:
        assert out == "applied-after-retry"

    rows = {(k, k % 4): k * 10 for k in range(40)}
    rows.update({(100, 0): 5000, (101, 1): 5010})
    got = {(r.k, r.bucket): r.v
           for r in read_upsert_version(spark, t).collect()}
    assert got == expect(rows)

    names = {c["version_name"] for c in commits}
    left = os.listdir(vr)
    assert not [d for d in left if d.startswith("_stage_")]
    assert {d for d in left if d.startswith("v")} <= names
