"""Per-layer metrics, derived after a run from spans and Spark counters.

Every per-layer metric is reported on every workload; a layer the
workload bypasses reads 0, which is itself the finding that it was not
touched (e.g. ``log.append.calls`` on ``pipeline_sf01``).
"""

from __future__ import annotations

import json
from collections import defaultdict

import numpy as np

from perfbench.tracer import self_times

# counters Spark derives from plan and data alone: the same query over
# the same tables must repeat them exactly, pass after pass
REPEATABLE = (
    "jobs", "stages", "tasks", "exchanges",
    "shuffle_read_bytes", "shuffle_write_bytes", "batches",
)


def pct(values, q: float) -> float:
    """Linear-interpolated percentile; 0 for an empty sample."""
    return float(np.percentile(values, q)) if len(values) else 0.0


def add_log_spans(run, path: str) -> None:
    """Fold one traced stretch's spans (written by the program) into the
    run's log-layer metrics."""
    with open(path) as fh:
        run.spans.extend(
            (d["id"], d["parent"], d["name"], d["start"], d["end"], d["n"])
            for d in map(json.loads, fh)
        )


def log_layers(spans: list[tuple]) -> dict[str, float]:
    by_id = {s[0]: s for s in spans}
    own = self_times(spans)
    named: dict[str, list[tuple]] = defaultdict(list)
    for s in spans:
        named[s[2]].append(s)

    def dur(s) -> float:
        return s[4] - s[3]

    def parent_name(s) -> str:
        p = by_id.get(s[1])
        return p[2] if p else ""

    req, app, read = named["server.request"], named["log.append"], named["log.read"]
    eng = [s for s in spans if s[2].startswith("engine.")]
    bounds: dict[int, float] = defaultdict(float)
    for s in named["log.lowest_offset"] + named["log.highest_offset"]:
        if parent_name(s) in ("engine.lowest_offset", "engine.highest_offset"):
            bounds[by_id[s[1]][1]] += dur(s)  # keyed by the request span
    scans, polls = named["sources.scan"], named["sources.min_offset"]
    return {
        "server.requests": len(req),
        "server.self_s": sum(own[s[0]] for s in req),
        "server.self_ms_p50": pct([own[s[0]] * 1e3 for s in req], 50),
        "engine.self_s": sum(own[s[0]] for s in eng),
        "acl.calls": len(named["acl.authorize"]),
        "acl.s": sum(dur(s) for s in named["acl.authorize"]),
        "log.append.calls": len(app),
        "log.append.records": sum(s[5] or 0 for s in app),
        "log.append_ms_p50": pct([dur(s) * 1e3 for s in app], 50),
        "log.append_ms_p99": pct([dur(s) * 1e3 for s in app], 99),
        "log.append_offset_lookup_s": sum(
            dur(s) for s in named["log.highest_offset"] if parent_name(s) == "log.append"
        ),
        "log.append_self_s": sum(own[s[0]] for s in app),
        "log.read.calls": len(read),
        "log.read_ms_p50": pct([dur(s) * 1e3 for s in read], 50),
        "log.read_ms_p99": pct([dur(s) * 1e3 for s in read], 99),
        "log.bounds_ms_p50": pct([v * 1e3 for v in bounds.values()], 50),
        "sources.scan_calls": len(scans),
        "sources.scan_s": sum(dur(s) for s in scans),
        "sources.min_offset_calls": len(polls),
        "sources.min_offset_s": sum(dur(s) for s in polls),
        "tail.useful_poll_ratio": (
            sum(s[5] or 0 for s in polls) / len(polls) if polls else 0.0
        ),
        "tail.backlog_max": max((s[5] or 0 for s in scans), default=0),
    }


def add_storage(run, closed: dict, user_bytes: int) -> None:
    """Storage counters listed from the log directory after the run, and
    the Spark jobs the server's context ran while serving."""
    st = closed["storage"]
    run.layer.update({
        "log.files": st["files"],
        "log.tail_bucket_files": st["tail_bucket_files"],
        "log.bytes_per_user_byte": st["bytes"] / user_bytes if user_bytes else 0.0,
        "log.spark_jobs": closed["spark_jobs"],
    })


def repeat_mismatches(first: list[dict], second: list[dict]) -> list[str]:
    """Repeatable counters that differ between two passes over the same
    tables, as ``query.counter a!=b``."""
    out = []
    for a, b in zip(first, second):
        for c in REPEATABLE:
            if a.get(c) != b.get(c):
                out.append(f"{a['name']}.{c} {a.get(c)}!={b.get(c)}")
    return out


def spark_layers(untraced: list[dict], traced: list[dict]) -> dict[str, float]:
    """Totals over the traced pass, one wall per query, and how many
    repeatable counters failed to repeat against the untraced pass."""

    def tot(key: str) -> float:
        return sum(r.get(key, 0) for r in traced)

    out = {
        "spark.build_s": tot("build_s"),
        "spark.exec_s": tot("exec_s"),
        "spark.jobs_build": tot("jobs_build"),
        "spark.jobs_exec": tot("jobs_exec"),
        "spark.plan_ms": tot("plan_ms"),
        "spark.stages": tot("stages"),
        "spark.tasks": tot("tasks"),
        "spark.exchanges": tot("exchanges"),
        "spark.exec_run_s": tot("exec_run_s"),
        "spark.exec_cpu_s": tot("exec_cpu_s"),
        "spark.gc_s": tot("gc_s"),
        "spark.shuffle_read_mb": tot("shuffle_read_bytes") / 2**20,
        "spark.shuffle_write_mb": tot("shuffle_write_bytes") / 2**20,
        "spark.counters_not_repeating": len(repeat_mismatches(untraced, traced)),
        "streaming.batches": tot("batches"),
        "streaming.trigger_s": tot("trigger_s"),
        "streaming.addbatch_s": tot("addbatch_s"),
        "streaming.state_rows": tot("state_rows"),
    }
    for r in traced:
        out[f"q.{r['name']}_s"] = r["wall_s"]
    return out
