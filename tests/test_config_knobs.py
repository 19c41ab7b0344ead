"""Deploy-knob tests: the pair-scale shuffle sizings must be overridable
via environment (SCALE.md) — the 100 TB claim is only actionable if a
cluster deployment can size them without code changes."""

from __future__ import annotations

from house_price_etl_pipeline_spark.operators.dedup import (
    dedup_shuffle_partitions,
)
from house_price_etl_pipeline_spark.plans.catalog import REGISTRY, load_all
from house_price_etl_pipeline_spark.streaming.windows import (
    stream_shuffle_partitions,
)

load_all()


def test_knobs_default_and_env_override(monkeypatch):
    assert dedup_shuffle_partitions() == 8
    assert stream_shuffle_partitions() == 8
    monkeypatch.setenv("SPARK_GRAFT_DEDUP_PARTITIONS", "12")
    monkeypatch.setenv("SPARK_GRAFT_STREAM_PARTITIONS", "5")
    assert dedup_shuffle_partitions() == 12
    assert stream_shuffle_partitions() == 5


def test_dedup_correct_at_non_default_partitioning(monkeypatch, spark, sf_dir):
    """Results must be partitioning-invariant: the same verified-pair set
    at a non-default shuffle width."""
    base = sorted(
        map(tuple, REGISTRY["dedup_ngram_jaccard_pairs"].fn(spark, sf_dir).collect())
    )
    monkeypatch.setenv("SPARK_GRAFT_DEDUP_PARTITIONS", "3")
    got = sorted(
        map(tuple, REGISTRY["dedup_ngram_jaccard_pairs"].fn(spark, sf_dir).collect())
    )
    assert got == base


def test_stream_correct_at_non_default_partitioning(monkeypatch, spark, sf_dir):
    """A streaming windowed agg drains to the same result with a
    different state-store count."""
    base = sorted(
        map(tuple, REGISTRY["stream_tumbling_hourly"].fn(spark, sf_dir).collect())
    )
    monkeypatch.setenv("SPARK_GRAFT_STREAM_PARTITIONS", "3")
    got = sorted(
        map(tuple, REGISTRY["stream_tumbling_hourly"].fn(spark, sf_dir).collect())
    )
    assert got == base


def test_protobuf_sdk_path_env_extendable(monkeypatch, tmp_path):
    """SPARK_GRAFT_PROTOBUF_PATH prepends candidate protobuf roots
    (highest priority first) without code changes (VERDICT r3 item 8);
    a host with the runtime at a custom path is honored by
    ensure_protobuf's search."""
    import importlib
    import os
    import shutil

    from house_price_etl_pipeline_spark._vendor import protobuf_compat as pc

    sdk = "/usr/lib/google-cloud-sdk/platform/google_appengine"
    custom = tmp_path / "my_sdk"
    if os.path.isdir(os.path.join(sdk, "google", "protobuf")):
        (custom / "google").mkdir(parents=True)
        os.symlink(os.path.join(sdk, "google", "protobuf"),
                   str(custom / "google" / "protobuf"))
    monkeypatch.setenv("SPARK_GRAFT_PROTOBUF_PATH",
                       f"{custom}{os.pathsep}/does/not/exist")
    importlib.reload(pc)
    try:
        assert pc._SDK_CANDIDATES[0] == str(custom)
        assert pc._SDK_CANDIDATES[1] == "/does/not/exist"
        assert pc._SDK_CANDIDATES[-1] == sdk  # default stays as fallback
        assert pc.ensure_protobuf()
    finally:
        monkeypatch.delenv("SPARK_GRAFT_PROTOBUF_PATH")
        importlib.reload(pc)



def test_incremental_commit_knobs(monkeypatch):
    from house_price_etl_pipeline_spark.config import \
        incremental_commit_min_bytes

    assert incremental_commit_min_bytes() == 64 * 1024 * 1024
    monkeypatch.setenv("SPARK_GRAFT_INCREMENTAL_MIN_BYTES", "1024")
    assert incremental_commit_min_bytes() == 1024


def test_stage_width_scales_with_input_bytes(monkeypatch, spark):
    """Staged writes size their width to the KNOWN input bytes
    (round-15: delta-scaled staging width): 1 partition for a tiny
    copy-on-write delta, growing with bytes, capped at the session's
    configured width — and the per-partition target is the module's
    STAGE_PARTITION_BYTES."""
    from house_price_etl_pipeline_spark.streaming import ingest
    from house_price_etl_pipeline_spark.streaming.ingest import \
        _stage_width

    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert _stage_width(spark, 0) == 1
    assert _stage_width(spark, 1) == 1
    assert _stage_width(spark, 32 << 20) == 1
    assert _stage_width(spark, (32 << 20) + 1) == min(2, cap)
    assert _stage_width(spark, 10 << 40) == cap
    monkeypatch.setattr(ingest, "STAGE_PARTITION_BYTES", 1024)
    assert _stage_width(spark, 4096) == min(4, cap)


def test_table_ops_leave_an_unset_width_unset(spark, tmp_path):
    """A session that never set ``spark.sql.shuffle.partitions`` reads
    it as unset after an upsert, a MERGE, a DELETE and an OPTIMIZE, and
    its whole conf is unchanged: a staged write's delta-scaled width (1
    for a tiny input) is set on the write's own private session, never
    on the caller's."""
    from house_price_etl_pipeline_spark.streaming.ingest import (
        optimize_upsert_target, upsert_commit_batch, upsert_delete_where,
        upsert_merge_into)

    key = "spark.sql.shuffle.partitions"
    width = spark.conf.get(key)
    target = str(tmp_path / "t")

    def batch(rows):
        return spark.createDataFrame(rows, "k long, v long")

    ops = [
        lambda: upsert_commit_batch(batch([(1, 1), (2, 2)]), target, 0,
                                    key_cols=["k"], order_col="v"),
        lambda: upsert_commit_batch(batch([(2, 3), (3, 3)]), target, 1,
                                    key_cols=["k"], order_col="v"),
        lambda: upsert_merge_into(spark, target, 2, batch([(1, 9)]),
                                  ["k"]),
        lambda: upsert_delete_where(spark, target, 3, "k = 3"),
        lambda: optimize_upsert_target(spark, target),
    ]
    try:
        spark.conf.unset(key)
        before = spark.conf.getAll
        for op in ops:
            op()
            assert spark.conf.get(key, None) is None
        assert spark.conf.getAll == before
    finally:
        spark.conf.set(key, width)
    assert sorted(tuple(r) for r in spark.read.parquet(target).collect()) \
        == [(1, 9), (2, 3)]
