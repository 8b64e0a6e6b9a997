"""Fold a Spark event log into per-layer rows.

Each layer call runs under ``sparkContext.setJobGroup(<layer>, ...)``;
``spark.jobGroup.id`` lands in every ``SparkListenerJobStart``'s
properties, which maps the job's stages, and through them every
``SparkListenerTaskEnd``, to that layer. Jobs of any other group
(set-up, checks) are ignored.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

# SQL accumulables the Python operators (mapInPandas, applyInPandas,
# pandas UDFs) publish on their tasks
PY_ACCUMULABLES = {
    "data sent to Python workers": "py_in_bytes",
    "data returned from Python workers": "py_out_bytes",
    "time to run Python workers": "py_run_ms",
    "time to initialize Python workers": "py_init_ms",
}

FIELDS = (
    "jobs", "stages", "tasks", "exec_run_ms", "exec_cpu_ns", "gc_ms",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
    "py_in_bytes", "py_out_bytes", "py_run_ms", "py_init_ms",
)


def _log_files(log_dir: str) -> list[str]:
    return sorted(
        os.path.join(log_dir, n) for n in os.listdir(log_dir)
        if not n.startswith(".")
    )


def fold(log_dir: str, layers: set[str]) -> dict[str, dict[str, float]]:
    """``{layer: {field: total}}`` for every layer in ``layers`` (zeros
    for a layer that ran no job)."""
    rows = {name: dict.fromkeys(FIELDS, 0) for name in layers}
    stage_layer: dict[int, str] = {}
    stages_seen: dict[str, set[int]] = defaultdict(set)
    for path in _log_files(log_dir):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id")
                    if group not in rows:
                        continue
                    rows[group]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_layer.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_layer.get(ev.get("Stage ID"))
                    if group is None:
                        continue
                    _add_task(rows[group], ev)
                    stages_seen[group].add(ev["Stage ID"])
    for group, sids in stages_seen.items():
        rows[group]["stages"] = len(sids)
    return rows


def _add_task(row: dict, ev: dict) -> None:
    row["tasks"] += 1
    m = ev.get("Task Metrics") or {}
    row["exec_run_ms"] += m.get("Executor Run Time", 0)
    row["exec_cpu_ns"] += m.get("Executor CPU Time", 0)
    row["gc_ms"] += m.get("JVM GC Time", 0)
    row["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    sw = m.get("Shuffle Write Metrics") or {}
    row["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    row["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                  + sr.get("Local Bytes Read", 0))
    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
        field = PY_ACCUMULABLES.get(acc.get("Name"))
        if field is not None:
            row[field] += int(acc.get("Update", 0))
