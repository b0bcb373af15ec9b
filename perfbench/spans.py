"""Spans and per-layer numbers from Spark's own event log.

The benchmark opens one root span per op (a pipeline run, or one query)
and records its wall-clock start and end. Everything below the root comes
from the event log the benchmark's session writes:

- a job belongs to the op whose window holds its submission time (one
  client, so ops never overlap);
- jobs whose description is ``stage:<name>`` (set by ``plans.pipeline``)
  form that stage's span; the span's time is the union of its jobs'
  intervals, so its self time is that union (stage spans have no children);
- jobs without a stage label are ``unattributed``; they are counted, never
  dropped;
- the op's own self time is its wall minus the union of every job
  interval: the driver gap;
- a job that has no end, ends after its op's end, or started before the op
  and still runs inside it cannot be attributed; ``lost_jobs`` counts them
  and the benchmark fails a traced run that has any.
"""

from __future__ import annotations

import glob
import json
import math
import os

_MB = 1024.0 * 1024.0


def read_event_log(log_dir: str) -> dict:
    """Jobs (id -> submit/end ms, description, stage ids) and per-Spark-stage
    task sums (run time, shuffle bytes written) from the one
    application log in ``log_dir``."""
    paths = glob.glob(os.path.join(log_dir, "*"))
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {paths}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stage_sums: dict[int, dict] = {}
    with open(paths[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jid = ev["Job ID"]
                jobs[jid] = {
                    "submit": ev["Submission Time"],
                    "end": None,
                    "desc": props.get("spark.job.description") or "",
                }
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                s = stage_sums.setdefault(
                    ev["Stage ID"], {"run_ms": 0, "shuffle_b": 0}
                )
                s["run_ms"] += m.get("Executor Run Time", 0)
                s["shuffle_b"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
    for jid, job in jobs.items():
        job["run_ms"] = job["shuffle_b"] = 0
    for sid, sums in stage_sums.items():
        job = jobs.get(stage_job.get(sid))
        if job is not None:
            for k, v in sums.items():
                job[k] += v
    return jobs


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def _subtract_ms(a: list[tuple[float, float]], b: list[tuple[float, float]]) -> float:
    """Measure of union(a) minus union(b)."""
    return _union_ms(a + b) - _union_ms(b)


def op_spans(jobs: dict, op: dict) -> dict:
    """Break one op (``name``, ``start``/``end`` in epoch seconds) into its
    stage spans, unattributed jobs and driver gap. Times in seconds."""
    # the event log keeps whole milliseconds
    lo, hi = math.floor(op["start"] * 1000.0), math.ceil(op["end"] * 1000.0)
    mine, lost = [], 0
    for j in jobs.values():
        end = math.inf if j["end"] is None else j["end"]
        if lo <= j["submit"] <= hi:
            if end > hi:
                lost += 1
            else:
                mine.append(j)
        elif j["submit"] < lo < end:
            lost += 1
    stages: dict[str, dict] = {}
    labelled, unlabelled = [], []
    for j in mine:
        iv = (j["submit"], j["end"])
        if j["desc"].startswith("stage:"):
            s = stages.setdefault(
                j["desc"][len("stage:"):],
                {"intervals": [], "jobs": 0, "task_s": 0.0, "shuffle_mb": 0.0},
            )
            s["intervals"].append(iv)
            s["jobs"] += 1
            s["task_s"] += j["run_ms"] / 1000.0
            s["shuffle_mb"] += j["shuffle_b"] / _MB
            labelled.append(iv)
        else:
            unlabelled.append(iv)
    wall = (op["end"] - op["start"]) * 1000.0
    busy = _union_ms(labelled + unlabelled)
    out_stages = {
        name: {
            "wall_s": _union_ms(s["intervals"]) / 1000.0,
            "jobs": s["jobs"],
            "task_s": s["task_s"],
            "shuffle_mb": s["shuffle_mb"],
            "start": min(iv[0] for iv in s["intervals"]) / 1000.0,
            "end": max(iv[1] for iv in s["intervals"]) / 1000.0,
        }
        for name, s in stages.items()
    }
    return {
        "name": op["name"],
        "start": op["start"],
        "end": op["end"],
        "wall_s": wall / 1000.0,
        "jobs": len(mine),
        "task_s": sum(j["run_ms"] for j in mine) / 1000.0,
        "stages": out_stages,
        "unattributed_s": _subtract_ms(unlabelled, labelled) / 1000.0,
        "unattributed_jobs": len(unlabelled),
        "driver_gap_s": max(wall - busy, 0.0) / 1000.0,
        "lost_jobs": lost,
    }


def coverage(span: dict) -> float:
    """(sum of stage self time + unattributed + driver gap) / op wall.

    A printout, not a check: it is at least 1.0 by construction, 1.0 when
    stages run one after another and above 1.0 by the share of the wall
    during which two stages ran at once. Lost time shows as ``lost_jobs``."""
    accounted = (
        sum(s["wall_s"] for s in span["stages"].values())
        + span["unattributed_s"]
        + span["driver_gap_s"]
    )
    return accounted / span["wall_s"] if span["wall_s"] > 0 else 1.0


def write_spans(path: str, spans: list[dict]) -> None:
    """One flat span list: a root per op, its stage spans and its
    unattributed/gap leaves, each with id, parent, name, start and end."""
    flat = []
    for i, sp in enumerate(spans):
        root = f"op{i}"
        flat.append(
            {
                "id": root,
                "parent": None,
                "name": sp["name"],
                "start": sp["start"],
                "end": sp["end"],
                "self_s": sp["driver_gap_s"],
                "jobs": sp["jobs"],
                "unattributed_s": sp["unattributed_s"],
                "unattributed_jobs": sp["unattributed_jobs"],
                "lost_jobs": sp["lost_jobs"],
                "coverage": coverage(sp),
                **sp.get("attrs", {}),
            }
        )
        for name, st in sp["stages"].items():
            flat.append(
                {
                    "id": f"{root}.{name}",
                    "parent": root,
                    "name": f"stage:{name}",
                    "start": st["start"],
                    "end": st["end"],
                    "self_s": st["wall_s"],
                    "jobs": st["jobs"],
                    "task_s": st["task_s"],
                    "shuffle_mb": st["shuffle_mb"],
                }
            )
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump({"spans": flat}, f, indent=1)
