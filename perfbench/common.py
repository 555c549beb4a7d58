"""Pure helpers shared by the benchmark's orchestrator, its Spark legs and
its tests: entity-quality scoring, output hashing, sample summaries,
process-tree memory sampling and offline Spark event-log parsing.

Nothing here imports Spark, so the tests can exercise it directly.
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics
from collections import Counter


def pair_f1(labels: dict, truth: dict) -> float:
    """Pairwise F1 of predicted entity clusters against planted truth,
    from contingency counts (never by listing pairs).

    ``labels`` and ``truth`` map doc_id -> cluster id over the same docs.
    TP = sum over (entity, truth cluster) cells of C(n, 2); predicted and
    true pair counts are the same sum over rows and columns, and
    F1 = 2 TP / (predicted + true)."""
    if set(labels) != set(truth):
        raise ValueError(
            f"label/truth doc sets differ: {len(labels)} labelled, "
            f"{len(truth)} in truth")

    def pairs(counts) -> int:
        return sum(n * (n - 1) // 2 for n in counts)

    cells = Counter((labels[d], truth[d]) for d in labels)
    tp = pairs(cells.values())
    pred = pairs(Counter(labels.values()).values())
    true = pairs(Counter(truth.values()).values())
    if pred + true == 0:
        return 1.0
    return 2.0 * tp / (pred + true)


def label_hash(labels: dict) -> str:
    """Order-independent digest of a doc_id -> entity_id assignment."""
    h = hashlib.sha256()
    for doc in sorted(labels):
        h.update(f"{doc}\t{labels[doc]}\n".encode())
    return h.hexdigest()[:16]


def summarize(samples: list[float]) -> dict:
    """Median, sample count and the highest percentile that still has at
    least ten samples beyond it (None when fewer than eleven samples)."""
    xs = sorted(samples)
    out = {"median": statistics.median(xs), "n": len(xs),
           "pct": None, "pct_value": None}
    for p in (99.9, 99, 95, 90, 75):
        if len(xs) * (100 - p) / 100 >= 10:
            idx = min(len(xs) - 1, int(round(p / 100 * (len(xs) - 1))))
            out["pct"], out["pct_value"] = p, xs[idx]
            break
    return out


# -- memory -------------------------------------------------------------

def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces: split after its closing paren
    return raw[raw.rindex(")") + 2:].split()


def process_tree(root: int) -> list[int]:
    """``root`` and every live descendant (the leg's Python process, its
    JVM and the JVM's python workers)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields:
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def group_members(pgid: int) -> list[int]:
    """Live processes whose process group is ``pgid``."""
    out = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields and int(fields[2]) == pgid and fields[0] != "Z":
                out.append(int(name))
    return out


def tree_rss_mb(root: int) -> float:
    """Summed proportional RSS (Pss) of the tree: pages that forked
    python workers share with their daemon count once, not per worker."""
    total_kb = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                total_kb += next(int(line.split()[1]) for line in f
                                 if line.startswith("Pss:"))
        except (OSError, StopIteration, ValueError):
            continue
    return total_kb / 1024


# -- Spark event log ----------------------------------------------------

def parse_event_log(path: str, spans: list[dict]) -> dict:
    """Task metrics per span from a Spark JSON event log, read offline.

    A job belongs to the span named by its ``spark.jobGroup.id``
    property; a job without a group is attributed to the innermost span
    whose wall-clock window holds the job's submission time (jobs that a
    streaming query or a worker thread submits do not inherit the
    caller's group). Each task is counted in the span of the first job
    that lists its stage. Returns {span id: totals}."""
    by_group = {s["group"]: s["id"] for s in spans}
    by_depth = sorted(spans, key=lambda s: -s["depth"])
    stage_span: dict[int, str] = {}
    totals: dict[str, dict] = {}

    def bucket(span_id: str) -> dict:
        return totals.setdefault(span_id, {
            "jobs": 0, "tasks": 0, "tasks_failed": 0, "run_ms": 0,
            "gc_ms": 0, "shuffle_write_b": 0, "spill_b": 0})

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                span_id = by_group.get(group)
                if span_id is None:
                    t = ev.get("Submission Time", 0) / 1000.0
                    span_id = next((s["id"] for s in by_depth
                                    if s["t_start"] <= t <= s["t_end"]), None)
                if span_id is None:
                    continue
                bucket(span_id)["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_span.setdefault(sid, span_id)
            elif kind == "SparkListenerTaskEnd":
                span_id = stage_span.get(ev.get("Stage ID"))
                if span_id is None:
                    continue
                b = bucket(span_id)
                b["tasks"] += 1
                reason = (ev.get("Task End Reason") or {}).get("Reason")
                if reason != "Success":
                    b["tasks_failed"] += 1
                m = ev.get("Task Metrics") or {}
                b["run_ms"] += m.get("Executor Run Time", 0)
                b["gc_ms"] += m.get("JVM GC Time", 0)
                b["shuffle_write_b"] += (m.get("Shuffle Write Metrics") or {}
                                         ).get("Shuffle Bytes Written", 0)
                b["spill_b"] += m.get("Disk Bytes Spilled", 0)
    return totals
