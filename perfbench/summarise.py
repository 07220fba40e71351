"""Turn a traced run's Spark event log and spans into per-layer metrics.

    python3 perfbench/summarise.py <run dir>

prints the summary of a kept traced run (``spark.*`` metrics per measured
unit, the same broken down by action call site, and each span name's self
time: its duration minus the part its child spans cover).
"""

from __future__ import annotations

import glob
import json
import os
import sys
from collections import defaultdict


def load_events(eventlog_dir: str) -> list[dict]:
    events = []
    for path in sorted(glob.glob(os.path.join(eventlog_dir, "*"))):
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def _tasks(events: list[dict]):
    """(launch ms, call site, metrics dict) per finished task."""
    site_of_job, job_of_stage = {}, {}
    for e in events:
        if e.get("Event") == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            site_of_job[e["Job ID"]] = props.get("callSite.short", "?")
            for s in e.get("Stage IDs", []):
                job_of_stage.setdefault(s, e["Job ID"])
    for e in events:
        if e.get("Event") != "SparkListenerTaskEnd" or not e.get("Task Metrics"):
            continue
        info, m = e["Task Info"], e["Task Metrics"]
        sr, sw = m.get("Shuffle Read Metrics", {}), m.get("Shuffle Write Metrics", {})
        site = site_of_job.get(job_of_stage.get(e["Stage ID"]), "?")
        yield info["Launch Time"], site, {
            "tasks": 1,
            "task_run_s": m.get("Executor Run Time", 0) / 1e3,
            "task_cpu_s": m.get("Executor CPU Time", 0) / 1e9,
            "gc_s": m.get("JVM GC Time", 0) / 1e3,
            "shuffle_read_mb": (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / 2**20,
            "shuffle_write_mb": sw.get("Shuffle Bytes Written", 0) / 2**20,
            "spill_mb": m.get("Disk Bytes Spilled", 0) / 2**20,
        }


def spark_metrics(events: list[dict], spans: list[dict], cores: int):
    """Per-unit ``spark.*`` metrics over the measured phase, and the same
    totals per action call site."""
    phase = next(s for s in spans if s["name"] == "phase")
    units = sum(1 for s in spans if s["name"] == "unit" and s["parent"] == phase["id"])
    lo, hi = phase["start"] * 1e3, phase["end"] * 1e3
    total, by_site = defaultdict(float), defaultdict(lambda: defaultdict(float))
    for launch, site, m in _tasks(events):
        if lo <= launch <= hi:
            for k, v in m.items():
                total[k] += v
                by_site[site][k] += v / units
    wall = phase["end"] - phase["start"]
    out = {f"spark.{k}": total[k] / units for k in (
        "tasks", "task_run_s", "task_cpu_s", "gc_s",
        "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
    )}
    out["spark.busy_core_frac"] = total["task_run_s"] / (wall * cores)
    return out, {s: dict(v) for s, v in sorted(by_site.items())}


def self_times(spans: list[dict]) -> dict[str, float]:
    """Sum over spans of one name of (duration - union of its children)."""
    kids = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append((s["start"], s["end"]))
    out = defaultdict(float)
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for a, b in sorted(kids[s["id"]]):
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["name"]] += (s["end"] - s["start"]) - covered
    return dict(out)


def summarise(run_dir: str, cores: int) -> dict:
    with open(os.path.join(run_dir, "spans.json")) as f:
        spans = json.load(f)
    metrics, by_site = spark_metrics(load_events(os.path.join(run_dir, "eventlog")), spans, cores)
    summary = {"metrics": metrics, "by_call_site": by_site, "self_s": self_times(spans)}
    with open(os.path.join(run_dir, "summary.json"), "w") as f:
        json.dump(summary, f, indent=1)
    return summary


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit("usage: summarise.py <run dir>")
    with open(os.path.join(sys.argv[1], "run.json")) as f:
        cores = json.load(f)["cores"]
    print(json.dumps(summarise(sys.argv[1], cores), indent=1))
