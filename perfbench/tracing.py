"""Measurement from outside the engine: host context, process-tree memory,
spans around the benchmark's calls, commit spans around ``LocalTable``, and
Spark's own per-operator SQL metrics and job/stage/task counts read back
from the event log of a traced run.

Each measured operation runs under its own Spark job group
(``perfbench-op-<n>``), so every job, task and SQL metric update in the
event log is attributed to exactly one operation.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

GROUP_PREFIX = "perfbench-op-"


def cpu_jiffies() -> dict:
    """Aggregate /proc/stat cpu line: busy, idle and steal jiffies."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return {"busy": 0, "steal": 0}
    idle = v[3] + v[4]
    return {"busy": sum(v) - idle, "steal": v[7] if len(v) > 7 else 0}


def host_delta(before: dict, after: dict) -> dict:
    hz = os.sysconf("SC_CLK_TCK")
    return {
        "host.steal_jiffies": after["steal"] - before["steal"],
        "host.busy_cpu_s": (after["busy"] - before["busy"]) / hz,
        "host.loadavg_1m": os.getloadavg()[0],
    }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                rest = f.read().rsplit(")", 1)[1].split()
            kids[int(rest[1])].append(int(stat.split("/")[2]))
        except (OSError, IndexError, ValueError):
            continue
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def peak_rss_mb() -> float:
    """Sum of peak resident set sizes (VmHWM) over this process and every
    descendant still alive: the JVM, the Python worker daemon and its
    workers. An upper bound on the tree's simultaneous peak."""
    total_kb = 0
    for p in descendants(os.getpid()):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


class Spans:
    """Named wall-clock spans, kept in memory and reported at the end."""

    def __init__(self):
        self.records: list[tuple[str, str | None, float]] = []

    @contextmanager
    def span(self, name: str, op: str | None = None):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.records.append((name, op, time.perf_counter() - t0))

    def total(self, name: str, op: str | None = None) -> float:
        return sum(d for n, o, d in self.records if n == name and (op is None or o == op))

    def count(self, name: str, op: str | None = None) -> int:
        return sum(1 for n, o, _ in self.records if n == name and (op is None or o == op))


def wrap_tableio(spans: Spans, current_op):
    """Record a ``sources.tableio.commit`` span around every
    ``LocalTable.append``/``overwrite``, with the number of data files the
    commit added. Returns a function that restores the originals."""
    from defactonlp_spark.sources.tableio import LocalTable

    originals = {m: getattr(LocalTable, m) for m in ("append", "overwrite")}

    def make(method, fn):
        def wrapped(self, *a, **kw):
            parent = self.current_snapshot()
            before = len(parent.files) if (parent and method == "append") else 0
            with spans.span("sources.tableio.commit", current_op()):
                snap = fn(self, *a, **kw)
            spans.records.append(("sources.tableio.files", current_op(), len(snap.files) - before))
            return snap

        return wrapped

    for m, fn in originals.items():
        setattr(LocalTable, m, make(m, fn))
    return lambda: [setattr(LocalTable, m, fn) for m, fn in originals.items()]


# -- Spark event log ----------------------------------------------------------


def _walk(plan: dict, exec_id: int, defs: dict) -> set[str]:
    """Record each plan node's metric ids with the node name and the names
    of the nodes below it; returns the subtree's node names."""
    below: set[str] = set()
    for c in plan.get("children", []):
        below |= _walk(c, exec_id, defs)
    name = plan.get("nodeName", "")
    for m in plan.get("metrics", []):
        defs[m["accumulatorId"]] = {
            "node": name,
            "desc": plan.get("simpleString", ""),
            "metric": m["name"],
            "exec": exec_id,
            "below": below,
        }
    return below | {name}


def read_event_log(log_dir: str) -> dict:
    """Per job group: jobs, stages, tasks, and summed SQL metric updates
    (with each accumulator's node and metric names). Each file is one
    session's log, with its own accumulator, stage and execution ids."""
    groups: dict[str, dict] = defaultdict(lambda: {"jobs": 0, "stages": set(), "tasks": 0, "acc": {}})
    for fi, path in enumerate(sorted(glob.glob(os.path.join(log_dir, "*")))):
        defs: dict[int, dict] = {}
        stage_group: dict[int, str] = {}
        exec_group: dict[int, str] = {}
        acc: dict[str, dict[int, float]] = defaultdict(lambda: defaultdict(float))
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"
                ):
                    _walk(ev["sparkPlanInfo"], ev["executionId"], defs)
                elif kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    g = props.get("spark.jobGroup.id")
                    if not g:
                        continue
                    groups[g]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = g
                    if "spark.sql.execution.id" in props:
                        exec_group[int(props["spark.sql.execution.id"])] = g
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev["Stage ID"])
                    if g is None:
                        continue
                    groups[g]["tasks"] += 1
                    groups[g]["stages"].add((fi, ev["Stage ID"]))
                    for a in ev["Task Info"].get("Accumulables", []):
                        # SQL metric updates are logged as decimal strings
                        if a.get("Metadata") == "sql" and "Update" in a:
                            acc[g][a["ID"]] += float(a["Update"])
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    g = exec_group.get(ev["executionId"])
                    if g is not None:
                        for acc_id, v in ev["accumUpdates"]:
                            acc[g][acc_id] += v
        for g, ids in acc.items():
            groups[g]["acc"].update({(fi, i): (defs.get(i), v) for i, v in ids.items()})
    out = {}
    for g, d in groups.items():
        d["stages"] = len(d["stages"])
        out[g] = d
    return out


def metric_sum(
    group: dict, node: str | None, metric: str, desc_has: str | None = None, above: str | None = None
) -> float:
    """Sum of one SQL metric over the group's plan nodes named ``node`` (any
    node if None); optionally only nodes whose description contains
    ``desc_has``, or that have an ``above`` node somewhere below them."""
    total = 0.0
    for d, v in group["acc"].values():
        if d is None or d["metric"] != metric or (node is not None and d["node"] != node):
            continue
        if desc_has is not None and desc_has not in d["desc"]:
            continue
        if above is not None and above not in d["below"]:
            continue
        total += v
    return total


def metric_instances(group: dict, node: str, metric: str) -> int:
    """How many plan-node instances of ``node`` reported a nonzero ``metric``."""
    return sum(
        1
        for d, v in group["acc"].values()
        if d is not None and d["node"] == node and d["metric"] == metric and v > 0
    )


def execs_with(group: dict, node: str, desc_has: str) -> set[int]:
    """SQL executions holding a ``node`` whose description has ``desc_has``."""
    return {
        d["exec"]
        for d, _ in group["acc"].values()
        if d is not None and d["node"] == node and desc_has in d["desc"]
    }


def metric_sum_in_execs(group: dict, execs: set[int], metric: str) -> float:
    """Sum of one SQL metric over every node of the given executions."""
    return sum(
        v for d, v in group["acc"].values() if d is not None and d["exec"] in execs and d["metric"] == metric
    )
