"""Engine-wide runtime knobs (env-driven, no code changes to deploy).

SPARK_GRAFT_EXACT_TWIN (default "1"): several approximate/sketch queries
(HLL distinct, approx percentiles, freqItems, MinHash/SimHash near-dup,
LSH/IVF ANN, streaming ingest dedup) follow the *exact-twin oracle*
pattern — the plan computes BOTH the production sketch path and its
exact ground truth, emits the DuckDB-reproducible exact rows plus an
in-plan quality boolean fed by the sketch path. That is the correctness
gate's shape, but the exact side is deliberately 100 TB-hostile (full
count-distinct expansion, uncapped inverted-index self-joins, brute-force
scoring). Setting SPARK_GRAFT_EXACT_TWIN=0 switches every such query to
its PRODUCTION plan: sketch/ANN/LSH output only, no exact sibling in the
plan — the mode a real deployment runs and the one `bench.py --production`
measures (BASELINE.md "production-mode bench").
"""

from __future__ import annotations

import os


def debug_checks_enabled() -> bool:
    """SPARK_GRAFT_DEBUG_CHECKS=1 re-enables invariant checks that
    production paths skip because the invariant holds by construction
    (e.g. the MERGE source-uniqueness pre-check under
    ``source_unique=True`` — ADVICE r14: an upstream dedup regression
    should fail loudly somewhere). Off by default, also in the test
    suite: only ``test_merge_source_unique_debug_checks_rearm_guard``
    sets it, to pin what it re-arms."""
    return os.environ.get("SPARK_GRAFT_DEBUG_CHECKS", "0") == "1"


def exact_twin_enabled() -> bool:
    """True (default) → twin-on: exact-ground-truth rows + in-plan quality
    boolean (the driver's value-hash gate). False → production plans."""
    return os.environ.get("SPARK_GRAFT_EXACT_TWIN", "1") != "0"


def cdf_split_bytes() -> int:
    """SPARK_GRAFT_CDF_SPLIT_BYTES (default 32 MiB): the change-feed
    stream reader sizes each version transition's partition count as
    ``ceil(changed_file_bytes / this)``, so one task never has to hold
    more than ~this much (compressed) changed data as Python objects —
    a full-rewrite commit on a big table fans out across workers
    instead of landing two whole snapshots in one Python heap
    (VERDICT r10 item 2). 32 MiB compressed ≈ a few hundred MB boxed,
    a comfortable per-worker bound; raise it to trade memory for fewer
    re-reads of the changed files (each split re-reads and filters)."""
    return int(os.environ.get("SPARK_GRAFT_CDF_SPLIT_BYTES",
                              str(32 * 1024 * 1024)))


def incremental_commit_min_bytes() -> int:
    """SPARK_GRAFT_INCREMENTAL_MIN_BYTES (default 64 MiB): snapshots
    smaller than this take the plain full rewrite even when incremental
    commits are enabled — the touched-file join costs a fixed extra
    Spark job per commit (~0.5 s locally), which beats rewriting a big
    table but LOSES to just rewriting a small one. The cost-based
    cutover a real engine makes; at the 100 TB target every snapshot
    clears it. Set to 0 to force the incremental plan regardless of
    size (tests and the oracled cow query do)."""
    return int(os.environ.get("SPARK_GRAFT_INCREMENTAL_MIN_BYTES",
                              str(64 * 1024 * 1024)))
