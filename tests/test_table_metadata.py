"""Table metadata lives in the commit journal: every declaration is a
commit ordered by the same CAS as the data commits, the head entry
carries the whole document, and nothing but the journal and snapshot
dirs sits under ``<target>_versions``."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from house_price_etl_pipeline_spark import fsutil
from house_price_etl_pipeline_spark.streaming.colmap import (
    drop_table_column, rename_table_column)
from house_price_etl_pipeline_spark.streaming.ingest import (
    CheckConstraintViolation, clone_upsert_table, describe_upsert_detail,
    read_upsert_changes, read_upsert_version, set_table_check_constraint,
    set_table_column_default, set_table_generated_column,
    set_table_identity_column, set_table_not_null, table_check_constraints,
    upsert_commit_batch)
from house_price_etl_pipeline_spark.streaming.partitioning import (
    set_table_partitioning)


def _base(spark, tmp_path, name="tbl", keep_versions=8):
    t = os.path.join(str(tmp_path), name)
    df = spark.createDataFrame([(1, 1), (2, 2), (3, 3)], "k long, v long")
    upsert_commit_batch(df, t, 0, key_cols=["k"], order_col="v",
                        keep_versions=keep_versions)
    return t


def test_add_constraint_serializes_with_a_racing_upsert(spark, tmp_path):
    """ADD CONSTRAINT committed between an upsert's stage and its CAS
    wins the slot; the upsert loses, re-validates under the new
    document and refuses its violating row — the head never holds a
    row that breaks a constraint the table declares."""
    t = _base(spark, tmp_path)
    bad = spark.createDataFrame([(4, -1)], "k long, v long")
    fired = []

    def add_constraint(_attempt):
        if not fired:
            fired.append(True)
            set_table_check_constraint(spark, t, "v_pos", "v > 0")

    with pytest.raises(CheckConstraintViolation, match="v_pos"):
        upsert_commit_batch(bad, t, 1, key_cols=["k"], order_col="v",
                            keep_versions=8, _race_hook=add_constraint)
    assert fired
    assert table_check_constraints(t) == {"v_pos": "v > 0"}
    assert read_upsert_version(spark, t).filter("v <= 0").count() == 0


def test_uncommitted_version_is_not_readable(spark, tmp_path):
    """A snapshot dir renamed to ``v1`` but not yet CAS-committed is no
    version: time travel inside that window raises instead of reading
    rows that may never commit."""
    t = _base(spark, tmp_path)
    batch = spark.createDataFrame([(7, 7), (8, 8), (9, 9)],
                                  "k long, v long")
    checked = []

    def read_in_window(_attempt):
        assert os.path.isdir(os.path.join(t + "_versions", "v1"))
        with pytest.raises(FileNotFoundError, match="not retained"):
            read_upsert_version(spark, t, 1)
        checked.append(True)

    assert upsert_commit_batch(batch, t, 1, key_cols=["k"], order_col="v",
                               keep_versions=8,
                               _race_hook=read_in_window) == "applied"
    assert checked
    assert read_upsert_version(spark, t, 1).count() == 6


def test_not_retained_error_reads_the_journal_once(spark, tmp_path,
                                                   monkeypatch):
    """The "not retained" error lists the retained versions from the
    journal it already read — not one full journal read per entry."""
    t = _base(spark, tmp_path, keep_versions=1)
    for v in range(1, 4):
        upsert_commit_batch(
            spark.createDataFrame([(10 + v, v)], "k long, v long"), t, v,
            key_cols=["k"], order_col="v", keep_versions=1)
    calls = []
    real = fsutil.read_commit_journal

    def counting(commits_dir):
        calls.append(commits_dir)
        return real(commits_dir)

    monkeypatch.setattr(fsutil, "read_commit_journal", counting)
    with pytest.raises(FileNotFoundError, match=r"retained=\[3\]"):
        read_upsert_version(spark, t, 0)
    assert len(calls) <= 2


def test_change_feed_reads_the_journal_once(spark, tmp_path, monkeypatch):
    """read_upsert_changes resolves both versions, both dirs and the
    metadata from ONE journal read, not one per version plus one."""
    t = _base(spark, tmp_path)
    upsert_commit_batch(spark.createDataFrame([(2, 5), (4, 4)],
                                              "k long, v long"),
                        t, 1, key_cols=["k"], order_col="v",
                        keep_versions=8)
    calls = []
    real = fsutil.read_commit_journal

    def counting(commits_dir):
        calls.append(commits_dir)
        return real(commits_dir)

    monkeypatch.setattr(fsutil, "read_commit_journal", counting)
    changes = read_upsert_changes(spark, t, 0, 1, ["k"])
    assert len(calls) == 1
    monkeypatch.undo()
    assert sorted((r.k, r.change_type) for r in changes.collect()) == [
        (2, "update_postimage"), (2, "update_preimage"), (4, "insert")]


def test_clone_metadata_is_atomic_with_its_commit(spark, tmp_path,
                                                  monkeypatch):
    """The clone's first journal entry carries the source's metadata:
    no separate metadata write can fail after the clone is committed
    and leave it unconstrained."""
    src = _base(spark, tmp_path, "src")
    set_table_check_constraint(spark, src, "v_pos", "v > 0")
    dst = os.path.join(str(tmp_path), "clone")

    def failing_write(*_a, **_k):
        raise OSError("metadata write failed")

    monkeypatch.setattr(fsutil, "atomic_write_json", failing_write)
    try:
        clone_upsert_table(src, dst)
    except OSError:
        pass
    monkeypatch.undo()
    bad = spark.createDataFrame([(4, -1)], "k long, v long")
    with pytest.raises(CheckConstraintViolation, match="v_pos"):
        upsert_commit_batch(bad, dst, 1, key_cols=["k"], order_col="v",
                            keep_versions=8)
    assert table_check_constraints(dst) == {"v_pos": "v > 0"}


def test_every_metadata_kind_lives_in_the_journal(spark, tmp_path):
    """Partitioning, identity, generated, DEFAULT, CHECK, NOT NULL,
    rename and drop column on one table, then an upsert: the versions
    root holds only the journal and snapshot dirs, and the head's
    metadata document is what DESCRIBE DETAIL reports."""
    t = os.path.join(str(tmp_path), "tbl")
    set_table_partitioning(t, {"bucket": "bigint"})
    set_table_identity_column(t, "uid")
    set_table_generated_column(spark, t, "v2", "v * 2")
    set_table_column_default(t, "note", "'n/a'")
    b0 = spark.range(0, 8).select(
        F.col("id").alias("k"), (F.col("id") % 2).alias("bucket"),
        F.col("id").alias("v"), F.lit("x").alias("extra"),
        F.lit(0).cast("bigint").alias("gone"))
    upsert_commit_batch(b0, t, 0, key_cols=["k", "bucket"], order_col="v",
                        keep_versions=8)
    set_table_check_constraint(spark, t, "v_nonneg", "v >= 0")
    set_table_not_null(spark, t, "note")
    rename_table_column(spark, t, "extra", "extra2")
    drop_table_column(spark, t, "gone")
    b1 = spark.range(6, 10).select(
        F.col("id").alias("k"), (F.col("id") % 2).alias("bucket"),
        (F.col("id") + 100).alias("v"), F.lit("y").alias("extra2"))
    upsert_commit_batch(b1, t, 1, key_cols=["k", "bucket"], order_col="v",
                        keep_versions=8)

    got = read_upsert_version(spark, t)
    assert sorted(got.columns) == sorted(
        ["k", "bucket", "v", "extra2", "v2", "note", "uid"])
    assert got.count() == 10
    assert got.filter("v2 <> v * 2 OR note IS NULL OR uid IS NULL") \
        .count() == 0

    root = t + "_versions"
    assert all(n == "_commits" or n.startswith("v")
               for n in os.listdir(root)), os.listdir(root)
    commits = fsutil.read_commit_journal(os.path.join(root, "_commits"))
    assert [c["op"] for c in commits] == [
        "metadata"] * 4 + ["upsert"] + ["metadata"] * 4 + ["upsert"]
    meta = fsutil.journal_head(os.path.join(root, "_commits"))["metadata"]
    assert set(meta) == {"partitioning", "column_mapping", "constraints",
                         "defaults", "generated", "identity", "protocol"}
    d = describe_upsert_detail(spark, t).first()
    assert d["partition_columns"] == list(meta["partitioning"])
    assert d["check_constraints"] == {
        n: (f"NOT NULL ({e['col']})" if isinstance(e, dict) else e)
        for n, e in meta["constraints"].items()}
    assert d["generated_columns"] == meta["generated"]
    assert json.loads(d["identity_column"]) == meta["identity"]
    assert d["column_renames"] == meta["column_mapping"]["renames"]
    assert d["dropped_columns"] == meta["column_mapping"]["dropped"]
    assert d["column_defaults"] == meta["defaults"]
    assert d["protocol_features"] == sorted(
        set(meta["protocol"].get("features", []))
        | set(meta["protocol"].get("writer_features", [])))
