"""Per-span Spark counters read from a local Spark event log.

The traced run enables `spark.eventLog.enabled` and tags every job with
the open span's path through `setJobDescription` (see tracer.py). This
module groups the log's task metrics by that description: jobs, tasks,
shuffle bytes and records, spill, input rows, task time and the
wall-clock intervals in which tasks ran.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

from tracer import _covered

COUNTERS = (
    "jobs", "tasks", "shuffle_write_bytes", "shuffle_write_records",
    "shuffle_read_bytes", "shuffle_read_records", "spill_bytes",
    "input_bytes", "input_rows", "output_rows", "task_run_s", "task_cpu_s",
    "gc_s",
)


def find_log(log_dir: str, app_id: str) -> str:
    hits = glob.glob(os.path.join(log_dir, f"*{app_id}*"))
    if not hits:
        raise FileNotFoundError(f"no event log for {app_id} under {log_dir}")
    return hits[0]


def read_counters(path: str, prefix: str = "perfbench:") -> dict[str, dict]:
    """description (without `prefix`) → counters; task intervals are kept
    under the `intervals` key as (start_s, end_s) pairs, epoch seconds."""
    stage_desc: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(lambda: {**{k: 0 for k in COUNTERS}, "intervals": []})
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
                if not desc.startswith(prefix):
                    continue
                desc = desc[len(prefix):]
                out[desc]["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_desc.setdefault(sid, desc)
            elif kind == "SparkListenerTaskEnd":
                desc = stage_desc.get(ev.get("Stage ID"))
                m = ev.get("Task Metrics")
                if desc is None or not m:
                    continue
                c = out[desc]
                info = ev.get("Task Info") or {}
                c["tasks"] += 1
                sw = m.get("Shuffle Write Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                inp = m.get("Input Metrics") or {}
                outp = m.get("Output Metrics") or {}
                c["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                c["shuffle_write_records"] += sw.get("Shuffle Records Written", 0)
                c["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                c["shuffle_read_records"] += sr.get("Total Records Read", 0)
                c["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                c["input_bytes"] += inp.get("Bytes Read", 0)
                c["input_rows"] += inp.get("Records Read", 0)
                c["output_rows"] += outp.get("Records Written", 0)
                c["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
                c["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                if info.get("Launch Time") and info.get("Finish Time"):
                    c["intervals"].append((info["Launch Time"] / 1e3, info["Finish Time"] / 1e3))
    return dict(out)


def under(counters: dict[str, dict], path: str) -> dict:
    """Sum the counters of `path` and of every description below it."""
    tot = {**{k: 0 for k in COUNTERS}, "intervals": []}
    for desc, c in counters.items():
        if desc == path or desc.startswith(path + "/"):
            for k in COUNTERS:
                tot[k] += c[k]
            tot["intervals"].extend(c["intervals"])
    return tot


def task_busy_s(c: dict) -> float:
    """Wall seconds in which at least one task of `c` was running."""
    if not c["intervals"]:
        return 0.0
    lo = min(a for a, _ in c["intervals"])
    hi = max(b for _, b in c["intervals"])
    return _covered(c["intervals"], lo, hi)
