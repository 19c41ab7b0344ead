"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_batch --seed 1 --seconds 12 --trace 0

Run from the root of a source checkout. Generates the workload's inputs
from the seed under ``.perfbench_work/`` (removed at the end; a traced
run leaves its spans there as JSON lines), starts the session with
``get_spark(cores=nproc)``, warms up, runs the closed loop for
``--seconds``, checks every output, and prints one JSON object as the
last line of stdout: ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs with
spans and the Spark event log on and reports the per-layer metrics.
A summary with sample counts and host readings precedes the JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile

END_TO_END = {"setup_s": "s", "query_p50_ms": "ms", "rows_per_s": "rows/s"}
PER_LAYER = {
    "session.get_spark.s": "s",
    "csv_house.load_raw_csv.ms": "ms",
    "etl.clean_building_transactions.ms": "ms",
    "etl.clean_land_transactions.ms": "ms",
    "etl.materialize_partitioned.s": "s",
    "etl.materialize_partitioned.input_bytes": "bytes",
    "etl.materialize_partitioned.input_records": "count",
    "etl.materialize_partitioned.output_bytes": "bytes",
    "etl.materialize_partitioned.output_files": "count",
    "etl.materialize_partitioned.executor_cpu_s": "s",
    "etl.materialize_partitioned.gc_s": "s",
    "etl.materialize_partitioned.tasks": "count",
    "etl.rows_out_per_row_in": "ratio",
    "etl.avg_price_by_year.ms": "ms",
    "etl.avg_price_by_year.files_read": "count",
    "catalog.build.ms": "ms",
    "catalog.execute.ms": "ms",
    "catalog.jobs_per_query": "count",
    "catalog.driver_gap_ms": "ms",
    "catalog.shuffle_bytes": "bytes",
    "catalog.tasks": "count",
    "ingest.stream_upsert_foreach_batch.ms": "ms",
    "ingest.upsert_commit_batch.ms": "ms",
    "ingest.upsert_merge_into.ms": "ms",
    "ingest.upsert_delete_where.ms": "ms",
    "ingest.jobs_per_commit": "count",
    "ingest.driver_gap_ms": "ms",
    "ingest.commit_retries": "count",
    "ingest.files_rewritten": "count",
    "ingest.files_reused": "count",
    "ingest.bytes_staged_per_delta_byte": "ratio",
    "ingest.optimize_upsert_target.s": "s",
    "ingest.snapshot_files": "count",
    "ingest.read_upsert_version.ms": "ms",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "query_p90_ms": "ms",
    "catalog_p50_ms": "ms",
    "peak_rss_mb": "MB",
    "etl_rows_per_s": "rows/s",
    "ingest_rows_per_s": "rows/s",
    "commit_p50_ms": "ms",
    "commit_p90_ms": "ms",
    "freshness_p50_ms": "ms",
    "stored_bytes_per_input_byte": "ratio",
    "failed_ratio": "ratio",
    "traced.query_p50_ms": "ms",
    "traced.rows_per_s": "rows/s",
}


# per-layer metrics that are the per-call self time of one span name
SPAN_TIMES = (
    "csv_house.load_raw_csv.ms", "etl.clean_building_transactions.ms",
    "etl.clean_land_transactions.ms", "etl.materialize_partitioned.s",
    "etl.avg_price_by_year.ms", "catalog.build.ms", "catalog.execute.ms",
    "ingest.stream_upsert_foreach_batch.ms", "ingest.upsert_commit_batch.ms",
    "ingest.upsert_merge_into.ms", "ingest.upsert_delete_where.ms",
    "ingest.optimize_upsert_target.s", "ingest.read_upsert_version.ms",
)


def end_to_end(run) -> dict[str, float]:
    return {
        "setup_s": run.setup_s,
        "query_p50_ms": run.pct("query", 50),
        "rows_per_s": run.extra["rows_per_s"],
    }


def per_layer(run) -> dict[str, float]:
    """Per-layer metrics of a traced run: per-call self time of each
    span name, executor counters of the jobs joined to the spans, and
    the workload-specific figures the workload recorded."""
    from spans import attribute, covered, read_event_log, self_seconds

    spans = run.rec.spans
    jobs, files_read = read_event_log(os.environ["SPARK_GRAFT_EVENTLOG"])
    attribute(jobs, spans)
    by_id = {s.id: s for s in spans}
    timed = {s.id for s in spans if s.id >= run.first_timed_span}
    selfs = self_seconds(spans)
    op_kind = {s.op: s.name[3:] for s in spans
               if s.name.startswith("op.") and s.id in timed}
    out = {name: 0.0 for name in PER_LAYER}

    def per_call(name):
        xs = [selfs[s.id] for s in spans if s.name == name and s.id in timed]
        return statistics.mean(xs) if xs else 0.0, len(xs)

    for key in SPAN_TIMES:
        span, _, unit = key.rpartition(".")
        out[key] = per_call(span)[0] * (1000.0 if unit == "ms" else 1.0)
    out["session.get_spark.s"] = next(
        (s.end - s.start for s in spans if s.name == "session.get_spark"), 0.0)

    tjobs = [j for j in jobs if j.span in timed]
    mat = [j for j in tjobs if by_id[j.span].name == "etl.materialize_partitioned"]
    _, n_mat = per_call("etl.materialize_partitioned")
    if n_mat:
        for field, key in (("input_bytes", "input_bytes"),
                           ("input_records", "input_records"),
                           ("output_bytes", "output_bytes"),
                           ("cpu_s", "executor_cpu_s"), ("gc_s", "gc_s"),
                           ("tasks", "tasks")):
            out[f"etl.materialize_partitioned.{key}"] = \
                sum(getattr(j, field) for j in mat) / n_mat
        rows_in = run.extra["input_rows_per_pass"] * n_mat / 2
        out["etl.rows_out_per_row_in"] = \
            sum(j.output_records for j in mat) / rows_in
    q_spans = {s.id for s in spans if s.name == "etl.avg_price_by_year"
               and s.id in timed}
    if q_spans:
        execs = {j.execution for j in tjobs if j.span in q_spans}
        out["etl.avg_price_by_year.files_read"] = \
            sum(files_read.get(e, 0) for e in execs) / len(q_spans)

    def op_stats(kind):
        """(ops, jobs, mean driver gap ms, tasks, shuffle bytes) of the
        timed operations of ``kind``."""
        roots = [s for s in spans if s.name == "op." + kind and s.id in timed]
        if not roots:
            return 0, 0, 0.0, 0, 0
        mine = [j for j in tjobs if op_kind.get(by_id[j.span].op) == kind]
        gaps = []
        for r in roots:
            iv = [(j.start, j.end) for j in mine if by_id[j.span].op == r.op]
            gaps.append((r.end - r.start) - covered(iv, r.start, r.end))
        return (len(roots), len(mine), statistics.mean(gaps) * 1000.0,
                sum(j.tasks for j in mine),
                sum(j.shuffle_write_bytes for j in mine))

    n, nj, gap, tasks, shuffle = op_stats("catalog")
    if n:
        out.update({"catalog.jobs_per_query": nj / n,
                    "catalog.driver_gap_ms": gap,
                    "catalog.tasks": tasks / n,
                    "catalog.shuffle_bytes": shuffle / n})
    n, nj, gap, _, _ = op_stats("commit")
    if n:
        out["ingest.jobs_per_commit"] = nj / n
        out["ingest.driver_gap_ms"] = gap
        staged = sum(j.output_bytes for j in tjobs
                     if op_kind.get(by_id[j.span].op) == "commit")
        if run.extra.get("timed_landed_bytes"):
            out["ingest.bytes_staged_per_delta_byte"] = \
                staged / run.extra["timed_landed_bytes"]
    out["spark.executor_cpu_s"] = sum(j.cpu_s for j in tjobs)
    out["spark.gc_s"] = sum(j.gc_s for j in tjobs)
    out["spark.shuffle_write_bytes"] = float(sum(j.shuffle_write_bytes for j in tjobs))

    for key in PER_LAYER:
        if key in run.extra:
            out[key] = run.extra[key]
    out["query_p90_ms"] = run.pct("query", 90)
    out["catalog_p50_ms"] = run.pct("catalog", 50)
    out["commit_p50_ms"] = run.pct("commit", 50)
    out["commit_p90_ms"] = run.pct("commit", 90)
    out["freshness_p50_ms"] = run.pct("freshness", 50)
    out["failed_ratio"] = run.failed / max(1, run.attempted)
    e2e = end_to_end(run)
    out["traced.query_p50_ms"] = e2e["query_p50_ms"]
    out["traced.rows_per_s"] = e2e["rows_per_s"]
    return out


def summary(run, metrics: dict, units: dict) -> None:
    """Human-readable lines: every metric with its unit and the sample
    count behind each percentile, then the host readings."""
    counts = {k: len(v) for k, v in run.samples.items()}
    print(f"samples: {json.dumps(counts)}  attempted={run.attempted} "
          f"failed={run.failed} checks_failed={len(run.failures)}")
    def fmt(v):
        return "n/a" if v is None else f"{v:.6g}"
    for k, v in metrics.items():
        print(f"  {k} = {fmt(v)} {units[k]}")
    extra = {k: v for k, v in run.extra.items() if k not in metrics}
    for k in ("etl_rows_per_s", "ingest_rows_per_s", "stored_bytes_per_input_byte"):
        if k in extra:
            print(f"  {k} = {fmt(extra[k])}")
    if "peak_rss_mb" not in metrics:
        print(f"  peak_rss_mb = {run.extra['peak_rss_mb']:.6g} MB")
    for kind in ("query", "catalog", "commit", "freshness"):
        if counts.get(kind):
            print(f"  {kind}_p50_ms = {run.pct(kind, 50):.6g} ms  "
                  f"{kind}_p90_ms = {run.pct(kind, 90):.6g} ms (n={counts[kind]})")
    print("samples_ms: " + json.dumps(
        {k: [round(x, 1) for x in v] for k, v in run.samples.items()}))
    print("host: " + json.dumps({k: round(v, 4) for k, v in run.host.items()}))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "house_price_etl_pipeline_spark")):
        print("run from the root of a source checkout: "
              "house_price_etl_pipeline_spark/ not found", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    from workloads import WORKLOADS, Run
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    work = os.path.join(root, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub))
    # keep every scratch file of Python, Spark and the JVM in the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # -XX:-UsePerfData: the JVM would otherwise write its hsperfdata file
    # under the system /tmp whatever java.io.tmpdir says
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData'"
        " pyspark-shell")
    if args.trace:
        os.environ["SPARK_GRAFT_EVENTLOG"] = os.path.join(work, "eventlog")
    else:
        os.environ.pop("SPARK_GRAFT_EVENTLOG", None)
    tempfile.tempdir = os.path.join(work, "tmp")

    run = Run(args.seed, args.seconds, work, bool(args.trace))
    try:
        WORKLOADS[args.workload](run)
        if args.trace:
            metrics, units = per_layer(run), PER_LAYER
            # the spans outlive the run's work directory
            run.rec.dump(os.path.join(os.path.dirname(work),
                                      os.path.basename(work) + ".spans.jsonl"))
        else:
            metrics, units = end_to_end(run), END_TO_END
    finally:
        if run.spark is not None:
            from host import stop_spark
            stop_spark(run.spark)
        shutil.rmtree(work, ignore_errors=True)
    summary(run, metrics, units)
    print(json.dumps({
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if not run.failures else 1


if __name__ == "__main__":
    sys.exit(main())
