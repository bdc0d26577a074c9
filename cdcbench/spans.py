"""Tracing from outside the engine: span wrappers around the engine's
public entry points, Spark job tagging, and a fold of Spark's event log
into per-span task metrics.

``Tracer.install`` replaces each traced function with a wrapper at the
attribute the engine looks it up through (a module global or a class
attribute), so no engine file changes. While the tracer is active, each
wrapper records a span (name, start, end, parent) in memory and sets the
Spark local property ``bench.span`` to the span id, so every job the
call submits carries it into the event log. ``fold_event_log`` then
attributes each task to the span whose job first ran the task's stage.
Lazy calls (``LakeTable.read``, ``dedupe_lww``, ``classify``,
``read_changes``) return a plan; their span covers planning only and the
jobs that execute the plan count under the caller.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager
from typing import Any, Callable, Iterator

SPAN_PROP = "bench.span"


class Tracer:
    """In-memory span recorder. Inactive until ``active`` is set, so the
    wrappers can stay installed through untraced stretches."""

    def __init__(self, sc: Any = None):
        self.sc = sc
        self.spans: list[dict[str, Any]] = []
        self.active = False
        self._stack: list[int] = []
        self._patches: list[tuple[Any, str, Any]] = []

    def _tag(self, sid: int | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(SPAN_PROP, None if sid is None else str(sid))

    @contextmanager
    def span(self, name: str) -> Iterator[dict[str, Any] | None]:
        if not self.active:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "parent": parent,
               "start": time.perf_counter(), "end": None, "attrs": {}}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._tag(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._tag(parent)

    def wrap(
        self,
        owner: Any,
        attr: str,
        name: str,
        on_result: Callable[[Any], dict] | None = None,
        on_args: Callable[..., dict] | None = None,
    ) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper.
        ``on_result``/``on_args`` return extra span attributes."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name) as rec:
                if rec is not None and on_args is not None:
                    rec["attrs"].update(on_args(*args, **kwargs))
                out = orig(*args, **kwargs)
                if rec is not None and on_result is not None:
                    rec["attrs"].update(on_result(out))
                return out

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def install_engine(self) -> None:
        """Wrap every engine entry point the workloads reach."""
        from etlbox_spark.engine import checkpoint, lake, merge, runner
        from etlbox_spark.operators import textdedup

        def merge_result(r: Any) -> dict:
            return {"counts": dict(r.counts), "offsets": dict(r.offsets), "skipped": r.skipped}

        self.wrap(runner, "replay", "runner.replay")
        # runner imported apply_epoch by name; textdedup imports it from
        # merge at call time — both bindings are wrapped
        self.wrap(runner, "apply_epoch", "merge.apply_epoch", on_result=merge_result)
        self.wrap(merge, "apply_epoch", "merge.apply_epoch", on_result=merge_result)
        self.wrap(merge, "dedupe_lww", "merge.dedupe_lww")
        self.wrap(merge, "classify", "merge.classify")
        self.wrap(merge, "read_changes", "merge.read_changes")
        lt = lake.LakeTable
        self.wrap(lt, "manifest", "lake.manifest")
        self.wrap(lt, "read", "lake.read")
        def root(table, *a, **k):
            return {"root": table.root}

        def version(v):
            return {"version": v}

        self.wrap(lt, "commit_buckets", "lake.commit_buckets", on_result=version, on_args=root)
        self.wrap(lt, "commit_delta_buckets", "lake.commit_delta_buckets",
                  on_result=version, on_args=root)
        self.wrap(lt, "compact", "lake.compact", on_result=lambda r: dict(r))
        self.wrap(lt, "lookup_keys", "lake.lookup_keys")
        self.wrap(checkpoint.Checkpoint, "record", "checkpoint.record")
        self.wrap(textdedup, "dedup_incremental", "textdedup.dedup_incremental")
        # the candidate and verified-edge frames are kept (not counted)
        # so the verified ratio can be counted after the traced call
        self.wrap(textdedup, "incremental_candidates", "textdedup.incremental_candidates",
                  on_result=lambda r: {"_frames": r})
        self.wrap(textdedup, "connected_components", "textdedup.connected_components",
                  on_args=lambda edges, *a, **k: {"_edges": edges})


# ------------------------------------------------------------ span math

def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict[str, Any]]) -> dict[int, float]:
    """Span id -> self time in seconds: the span's duration minus the part
    of its interval that its child spans cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        clipped = [(max(a, s["start"]), min(b, s["end"])) for a, b in kids.get(s["id"], [])]
        covered = _union_length([(a, b) for a, b in clipped if b > a])
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def descendants(spans: list[dict[str, Any]], root: int) -> set[int]:
    """``root`` and every span below it."""
    kids: dict[int, list[int]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s["id"])
    out, todo = set(), [root]
    while todo:
        sid = todo.pop()
        out.add(sid)
        todo += kids.get(sid, [])
    return out


# ------------------------------------------------------- event-log fold

METRIC_KEYS = (
    "jobs", "stages", "tasks", "run_ms", "gc_ms", "shuffle_read_bytes",
    "shuffle_write_bytes", "input_bytes", "output_bytes", "spill_bytes",
)


def _empty() -> dict[str, Any]:
    return {k: 0 for k in METRIC_KEYS}


def fold_event_log(lines: Iterator[str]) -> dict[str, Any]:
    """Fold a Spark JSON event log into per-span totals.

    Returns ``{"spans": {span_id: totals}, "task_times": {(span_id,
    stage_id): [run_ms, ...]}, "stage_reads": {(span_id, stage_id):
    shuffle_read_bytes}}``. A task is attributed through its stage to the
    lowest-numbered job that lists the stage (later jobs that list it
    skipped it), and that job to its ``bench.span`` property. Untagged
    jobs are ignored.
    """
    job_span: dict[int, int] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict[str, Any]] = []
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            prop = (ev.get("Properties") or {}).get(SPAN_PROP)
            if prop is None:
                continue
            job_span[jid] = int(prop)
            for sid in ev.get("Stage IDs", []):
                if sid not in stage_job or jid < stage_job[sid]:
                    stage_job[sid] = jid
        elif kind == "SparkListenerTaskEnd":
            tasks.append(ev)
    spans: dict[int, dict[str, Any]] = {}
    for jid, sp in job_span.items():
        spans.setdefault(sp, _empty())["jobs"] += 1
    task_times: dict[tuple[int, int], list[float]] = {}
    stage_reads: dict[tuple[int, int], int] = {}
    seen_stage: set[tuple[int, int]] = set()
    for ev in tasks:
        stage = ev["Stage ID"]
        jid = stage_job.get(stage)
        if jid is None or jid not in job_span:
            continue
        sp = job_span[jid]
        tot = spans.setdefault(sp, _empty())
        tm = ev.get("Task Metrics") or {}
        sr = tm.get("Shuffle Read Metrics") or {}
        sw = tm.get("Shuffle Write Metrics") or {}
        read = int(sr.get("Remote Bytes Read", 0)) + int(sr.get("Local Bytes Read", 0))
        if (sp, stage) not in seen_stage:
            seen_stage.add((sp, stage))
            tot["stages"] += 1
        tot["tasks"] += 1
        tot["run_ms"] += int(tm.get("Executor Run Time", 0))
        tot["gc_ms"] += int(tm.get("JVM GC Time", 0))
        tot["shuffle_read_bytes"] += read
        tot["shuffle_write_bytes"] += int(sw.get("Shuffle Bytes Written", 0))
        tot["input_bytes"] += int((tm.get("Input Metrics") or {}).get("Bytes Read", 0))
        tot["output_bytes"] += int((tm.get("Output Metrics") or {}).get("Bytes Written", 0))
        tot["spill_bytes"] += int(tm.get("Memory Bytes Spilled", 0)) + int(
            tm.get("Disk Bytes Spilled", 0)
        )
        task_times.setdefault((sp, stage), []).append(float(tm.get("Executor Run Time", 0)))
        stage_reads[(sp, stage)] = stage_reads.get((sp, stage), 0) + read
    return {"spans": spans, "task_times": task_times, "stage_reads": stage_reads}
