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
    """Staged writes size their shuffle to the KNOWN input bytes
    (round-15: delta-scaled staging width): 1 partition for a tiny
    copy-on-write delta, growing with bytes, capped at the session's
    configured width — and the per-partition target is env-tunable."""
    from house_price_etl_pipeline_spark.streaming.ingest import \
        _stage_width

    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert _stage_width(spark, 0) == 1
    assert _stage_width(spark, 1) == 1
    assert _stage_width(spark, 32 << 20) == 1
    assert _stage_width(spark, (32 << 20) + 1) == min(2, cap)
    assert _stage_width(spark, 10 << 40) == cap
    monkeypatch.setenv("SPARK_GRAFT_STAGE_PARTITION_BYTES", "1024")
    assert _stage_width(spark, 4096) == min(4, cap)


def test_staging_conf_unsets_a_width_the_session_never_set(spark):
    """A session that never set ``spark.sql.shuffle.partitions`` must
    read it as unset again after a staged write: restoring "nothing"
    by skipping the restore would leave the delta-scaled width (1 for a
    tiny input) in the session for every later query."""
    from house_price_etl_pipeline_spark.streaming.ingest import \
        _staging_conf

    key = "spark.sql.shuffle.partitions"
    width = spark.conf.get(key)
    try:
        spark.conf.unset(key)
        assert spark.conf.get(key, None) is None
        with _staging_conf(spark, input_bytes_hint=1):
            assert spark.conf.get(key) == "1"
        assert spark.conf.get(key, None) is None
    finally:
        spark.conf.set(key, width)
