"""crawl4ai_spark benchmark.

    python3 perfbench/run.py --workload crawl_deep --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. Builds every input under
``.perfbench_runs/`` from the seed, runs the workload on local[N]
(N = min(4, usable cores)) and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``, Spark
event log and spans on). ``--record`` rewrites the default seed's
digests in ``perfbench/digests.json``. See ``perfbench/NOTES.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEFAULT_SEED = 1
DIGESTS = os.path.join(HERE, "digests.json")

END_TO_END = {
    "setup_s": "s",
    "pages_per_s": "1/s",
    "iter_s_p50": "s",
    "worker_peak_rss_mb": "MB",
}
# every traced run reports every name; a layer the workload bypasses reads 0
PER_LAYER = {
    "session.start_s": "s",
    "inputs.build_s": "s",
    "warmup_s": "s",
    "trace.iter_s_p50": "s",
    "trace.spans": "count",
    "crawl.bootstrap_s": "s",
    "crawl.fetch_extract_s": "s",
    "crawl.discover_dedup_s": "s",
    "crawl.commit_s": "s",
    "crawl.outside_laps_s": "s",
    "crawl.jobs_per_iter": "count",
    "crawl.rows_per_iter": "count",
    "crawl.new_urls_per_iter": "count",
    "snapshots.data_dirs": "count",
    "snapshots.readback_s": "s",
    "spark.tasks": "count",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.busy_core_frac": "frac",
    "warc.write_s": "s",
    "warc.scan_s": "s",
    "warc.scan_records_per_s": "1/s",
    "warc.scan_worker_peak_rss_mb": "MB",
    "warc.segment_raw_mb": "MB",
    "warc.segment_gz_mb": "MB",
    "html.parse_html_ms": "ms",
    "html.scrape_page_ms": "ms",
    "html.generate_markdown_parts_ms": "ms",
    "html.prune_fit_html_ms": "ms",
    "html.page_kb": "KB",
    "extract.s": "s",
    "extract.udf_overhead_frac": "frac",
    "curate.rule_gates_s": "s",
    "curate.exact_dedup_s": "s",
    "curate.minhash_s": "s",
    "curate.line_dedup_s": "s",
    "curate.span_s": "s",
    "curate.pii_s": "s",
    "curate.kept_frac": "frac",
    **{f"curate.dropped.{s}": "count" for s in (
        "lang", "gopher_quality", "gopher_repetition", "c4",
        "exact_dedup", "near_dedup", "line_dedup", "span_screen",
    )},
}


def _usable_cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=DEFAULT_SEED)
    p.add_argument("--seconds", type=float, default=30.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--keep", action="store_true",
                   help="keep the run directory (inputs, tables, event log)")
    p.add_argument("--record", action="store_true",
                   help="store this run's digests as the default seed's")
    return p.parse_args(argv)


def _exit_on_sigterm(signum, frame):
    raise SystemExit(128 + signum)


def main(argv=None) -> int:
    args = _parse_args(argv)
    signal.signal(signal.SIGTERM, _exit_on_sigterm)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        import crawl4ai_spark
    except ImportError as e:
        print(f"perfbench: the crawl4ai_spark package is not in {ROOT}: {e}", file=sys.stderr)
        return 2
    if os.path.dirname(os.path.abspath(crawl4ai_spark.__file__)) != os.path.join(ROOT, "crawl4ai_spark"):
        print(f"perfbench: crawl4ai_spark resolved outside {ROOT}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    if args.record and args.seed != DEFAULT_SEED:
        print(f"perfbench: --record needs --seed {DEFAULT_SEED}", file=sys.stderr)
        return 2

    run_dir = os.path.join(
        ROOT, ".perfbench_runs", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    )
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # keep every file Spark and Python write inside the run dir
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(run_dir, "warehouse"),
        # every JVM (launcher and driver): no hsperfdata file in /tmp
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
    })
    cores = min(4, _usable_cores())
    conf = {
        "spark.driver.memory": "3g",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.net.preferIPv4Stack=true -Djava.io.tmpdir={tmp}",
    }
    if args.trace:
        os.makedirs(os.path.join(run_dir, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(run_dir, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    digests = None
    if args.seed == DEFAULT_SEED and not args.record and os.path.exists(DIGESTS):
        with open(DIGESTS) as f:
            digests = json.load(f)

    from harness import Tracer, stop_spark
    from crawl4ai_spark.session import get_spark

    tracer = Tracer(enabled=bool(args.trace))
    spark = None
    try:
        t0 = time.perf_counter()
        with tracer.span("session.get_spark"):
            spark = get_spark(app_name="perfbench", cores=cores, extra_conf=conf)
            spark.sparkContext.setLogLevel("ERROR")
        ctx = Ctx(
            spark=spark, tracer=tracer, run_dir=run_dir, seed=args.seed,
            seconds=args.seconds, cores=cores,
            session_start_s=time.perf_counter() - t0, digests=digests,
        )
        res = WORKLOADS[args.workload](ctx)
    finally:
        # also on an error or SIGTERM: the JVM and the Python workers end here
        stop_spark(spark)
    for line in [*res.notes, f"iter_s_p50 is the median of {res.attempted} units"]:
        print(f"perfbench: {args.workload}: {line}", file=sys.stderr)

    if args.record:
        recorded = {}
        if os.path.exists(DIGESTS):
            with open(DIGESTS) as f:
                recorded = json.load(f)
        recorded.update(ctx.record)
        with open(DIGESTS, "w") as f:
            json.dump(recorded, f, indent=1, sort_keys=True)

    if args.trace:
        from summarise import summarise

        tracer.dump(os.path.join(run_dir, "spans.json"))
        with open(os.path.join(run_dir, "run.json"), "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed, "cores": cores,
                       "end_to_end": res.end_to_end}, f)
        values = dict.fromkeys(PER_LAYER, 0)
        values.update(res.per_layer)
        values.update(summarise(run_dir, cores)["metrics"])
        values["trace.iter_s_p50"] = res.end_to_end["iter_s_p50"]
        values["trace.spans"] = len(tracer.spans)
        units = PER_LAYER
    else:
        values, units = res.end_to_end, END_TO_END
    # a traced run keeps its spans and summary; the rest is regenerated
    for name in os.listdir(run_dir) if not args.keep else ():
        path = os.path.join(run_dir, name)
        if not args.trace or name not in ("spans.json", "summary.json", "run.json"):
            shutil.rmtree(path) if os.path.isdir(path) else os.remove(path)
    if not args.trace and not args.keep:
        os.rmdir(run_dir)
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
