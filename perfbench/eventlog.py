"""Build-phase breakdown from a Spark event log.

The per-task aggregation is the one ``scripts/stage_breakdown.py`` does
(run/CPU/GC time and shuffle bytes per stage), copied here so the
benchmark does not depend on the script.  What differs is the mapping of
stages to phases: Spark 4 names most stages after a thread-pool frame
(``$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java``), so
the call site no longer tells build phases apart.  Instead each job is
tied to its job group (one group per build / append / compact call) and
to the SQL execution that ran it, and the execution's write target names
the phase:

* ``conv_dim``  - the conversation dimension (zipWithIndex jobs, its
                  parquet write and count);
* ``docs``      - the docs table write and its count;
* ``tokenize``  - map side of the postings write (scan, split,
                  posexplode, shuffle write);
* ``encode_write`` - reduce side of the postings write (sort,
                  varint encode in pandas, parquet write);
* ``other``     - stats / doclens / lineage bookkeeping.

A job without an SQL execution takes the phase of the next job of its
group that has one (the RDD jobs that feed a write run just before it).
"""

from __future__ import annotations

import json
import os
import re
from collections import defaultdict

# the plan's detail block of the write node: "(n) Execute Insert...\n
# Input: [...]\nArguments: <target path>, ..."
_TARGET = re.compile(
    r"Execute InsertIntoHadoopFsRelationCommand\nInput[^\n]*\n"
    r"Arguments: ([^,\s]+)")


def read_events(path: str):
    """Events of one event log file (or of every file in a rolling log
    directory), in order.  Lines cut by a crash are skipped."""
    files = ([os.path.join(path, f) for f in sorted(os.listdir(path))
              if f.startswith("events_")] if os.path.isdir(path) else [path])
    for f in files:
        with open(f) as fh:
            for line in fh:
                try:
                    yield json.loads(line)
                except json.JSONDecodeError:
                    continue


def target_phase(plan: str) -> str:
    """Phase named by an SQL execution's physical plan."""
    m = _TARGET.search(plan)
    tgt = m.group(1) if m else ""
    for name in ("conv_dim", "postings", "docs"):
        if f"/{name}" in tgt:
            return name
    if tgt:
        return "other"
    # reads without a write: the counts that follow each write, and the
    # driver's reads of the bookkeeping tables
    if "/docs" in plan:
        return "docs"
    if any(f"/{t}" in plan for t in ("lineage", "metrics", "stats")):
        return "other"
    return "conv_dim" if "Exchange" in plan else "other"


def parse(path: str) -> dict:
    """Per job group: stage rows with phase, wall interval and task sums."""
    sql_phase: dict[int, str] = {}
    jobs: list[dict] = []
    stage_info: dict[int, dict] = {}
    task = defaultdict(lambda: defaultdict(float))
    for ev in read_events(path):
        kind = ev.get("Event", "")
        if kind.endswith("SQLExecutionStart"):
            sql_phase[ev["executionId"]] = target_phase(
                ev.get("physicalPlanDescription", ""))
        elif kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            sid = props.get("spark.sql.execution.id")
            jobs.append({"job": ev["Job ID"],
                         "group": props.get("spark.jobGroup.id"),
                         "sql": int(sid) if sid is not None else None,
                         "stages": list(ev.get("Stage IDs", []))})
        elif kind == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            if si.get("Submission Time") is None:
                continue  # skipped stage: its output was reused
            stage_info[si["Stage ID"]] = {
                "start_ms": si["Submission Time"],
                "end_ms": si.get("Completion Time", si["Submission Time"])}
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            t = task[ev["Stage ID"]]
            t["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            t["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            t["tasks"] += 1
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            t["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            t["shuffle_read_bytes"] += (sr.get("Local Bytes Read", 0)
                                        + sr.get("Remote Bytes Read", 0))
            t["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                 + m.get("Disk Bytes Spilled", 0))
            t["bytes_written"] += (m.get("Output Metrics") or {}).get(
                "Bytes Written", 0)
    groups: dict[str, list[dict]] = defaultdict(list)
    by_group: dict[str, list[dict]] = defaultdict(list)
    for j in jobs:
        by_group[j["group"]].append(j)
    for g, js in by_group.items():
        nxt = "other"
        for j in reversed(js):  # a job without SQL takes the next job's phase
            ph = sql_phase.get(j["sql"]) if j["sql"] is not None else None
            nxt = ph or nxt
            if ph == "postings":
                ph = None  # split below into tokenize / encode_write
            for sid in j["stages"]:
                if sid not in stage_info:
                    continue
                t = task.get(sid, {})
                phase = ph or nxt
                if phase == "postings":
                    phase = ("encode_write" if t.get("shuffle_read_bytes", 0)
                             else "tokenize")
                groups[g].append({"stage": sid, "phase": phase,
                                  **stage_info[sid],
                                  **{k: float(v) for k, v in t.items()}})
    return groups


def _union_s(rows: list[dict]) -> float:
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted((r["start_ms"], r["end_ms"]) for r in rows):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1e3


def summarize(rows: list[dict], wall_s: float) -> dict:
    """Phase wall time (union of stage intervals), driver gap (wall not
    covered by any stage) and task sums over one group's stage rows."""
    out = {f"{p}_s": _union_s([r for r in rows if r["phase"] == p])
           for p in ("conv_dim", "docs", "tokenize", "encode_write")}
    out["driver_gap_s"] = max(0.0, wall_s - _union_s(rows))
    for k in ("cpu_s", "gc_s", "shuffle_write_bytes", "shuffle_read_bytes",
              "spill_bytes", "bytes_written"):
        out[k] = sum(r.get(k, 0.0) for r in rows)
    return out
