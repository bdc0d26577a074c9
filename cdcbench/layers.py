"""Per-layer metrics of a traced run: spans folded with Spark's event log.

Every metric is per unit of work in the traced cycles (an epoch for the
CDC workload, a batch for text dedup) unless its name says otherwise,
and 0 where the workload does not reach that layer.
"""

from __future__ import annotations

import os
import statistics
from typing import Any

import spans as sp
import stats


def gather(wl: Any, cycles: list, traced_flags: list[bool]) -> dict:
    """Collect, while the session is still up, what the fold needs: the
    spans, files each traced commit added, and counts of the candidate
    and verified-edge frames captured by the text-dedup spans."""
    from etlbox_spark.engine import LakeTable

    spans = wl.tracer.spans
    for s in spans:
        a = s["attrs"]
        if s["name"] in ("lake.commit_buckets", "lake.commit_delta_buckets") and "version" in a:
            t = LakeTable(a["root"])
            new = {e["path"] for e in t.manifest(a["version"]).files}
            old = {e["path"] for e in t.manifest(a["version"] - 1).files}
            a["files_written"] = len(new - old)
        if "_frames" in a:
            a["candidates"] = sum(f.count() for f in a.pop("_frames"))
        if "_edges" in a:
            a["verified"] = a.pop("_edges").count()
    traced = [op for c, t in zip(cycles, traced_flags) if t for op in c]
    journal = getattr(getattr(wl, "checkpoint", None), "journal_path", None)
    return {
        "spans": spans,
        "traced_ops": traced,
        "journal_bytes": os.path.getsize(journal) if journal and os.path.exists(journal) else 0,
        "journal_records": len(getattr(wl, "results", [])),
    }


def read_event_log(log_dir: str) -> dict:
    lines: list[str] = []
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name), encoding="utf-8") as f:
            lines += f.readlines()
    return sp.fold_event_log(iter(lines))


def per_layer(inputs: dict, log_dir: str, untraced_items_per_s: float | None) -> tuple[dict, dict]:
    """(metrics, per-span-name table) for the traced cycles."""
    spans = inputs["spans"]
    fold = read_event_log(log_dir)
    totals = fold["spans"]
    selfs = sp.self_times(spans)

    def sum_metric(ids: set[int], key: str) -> float:
        return float(sum(totals.get(i, {}).get(key, 0) for i in ids))

    def subtree(names: tuple[str, ...]) -> set[int]:
        out: set[int] = set()
        for s in spans:
            if s["name"] in names:
                out |= sp.descendants(spans, s["id"])
        return out

    def named(*names: str) -> list[dict]:
        return [s for s in spans if s["name"] in names]

    def dur_ms(ss: list[dict]) -> float:
        return 1000.0 * sum(s["end"] - s["start"] for s in ss)

    ops = inputs["traced_ops"]
    units = sum(op.kind == "commit" for op in ops) or 1
    items = sum(op.items for op in ops if op.kind == "commit") or 1

    # per-name table: calls, wall, self time and the Spark work of the
    # span's own jobs
    table: dict[str, dict[str, float]] = {}
    for s in spans:
        row = table.setdefault(s["name"], {"calls": 0, "ms": 0.0, "self_ms": 0.0,
                                           **{k: 0 for k in sp.METRIC_KEYS}})
        row["calls"] += 1
        row["ms"] += 1000.0 * (s["end"] - s["start"])
        row["self_ms"] += 1000.0 * selfs[s["id"]]
        for k in sp.METRIC_KEYS:
            row[k] += totals.get(s["id"], {}).get(k, 0)

    commit_tree = subtree(("bench.commit",))
    apply_ids = {s["id"] for s in named("merge.apply_epoch")}
    commits = named("lake.commit_buckets", "lake.commit_delta_buckets")
    compacts = [s for s in named("lake.compact") if s["attrs"].get("buckets_compacted")]
    lookups = named("bench.lookup")
    feeds = named("bench.feed")
    dedups = named("textdedup.dedup_incremental")

    skews = []
    for (sid, stage), times in fold["task_times"].items():
        if sid in apply_ids and fold["stage_reads"][(sid, stage)] > 0 and len(times) > 1:
            med = statistics.median(times)
            if med > 0:
                skews.append(max(times) / med)

    # useful-work ratios straight off MergeResult: offsets count dedupe
    # survivors per bucket, counts the classified actions
    delivered = sum(op.items for op in ops if op.kind == "commit" and "survivors" in op.extra)
    cdc_survivors = sum(op.extra["survivors"] for op in ops if op.kind == "commit" and "survivors" in op.extra)
    survivors, exists = 0, 0
    for s in named("merge.apply_epoch"):
        survivors += sum(o["rows"] for o in (s["attrs"].get("offsets") or {}).values())
        exists += (s["attrs"].get("counts") or {}).get("exists", 0)
    cands = sum(s["attrs"].get("candidates", 0) for s in named("textdedup.incremental_candidates"))
    verified = sum(s["attrs"].get("verified", 0) for s in named("textdedup.connected_components"))
    traced_rate = stats.summarize(ops)["items_per_s"]
    roots = named("bench.commit")
    root_ids = {s["id"] for s in roots}
    entries = [s for s in named("runner.replay", "textdedup.dedup_incremental") if s["parent"] in root_ids]

    def per(x: float, n: float) -> float:
        return x / n if n else 0.0

    m = {
        "merge.apply_epoch.self_ms": (per(1000.0 * sum(selfs[i] for i in apply_ids), units), "ms"),
        "merge.apply_epoch.shuffle_write_bytes": (per(sum_metric(apply_ids, "shuffle_write_bytes"), units), "B"),
        "spark.task_skew": (statistics.mean(skews) if skews else 0.0, "1"),
        "spark.jobs_per_epoch": (per(sum_metric(commit_tree, "jobs"), units), "count"),
        "spark.stages_per_epoch": (per(sum_metric(commit_tree, "stages"), units), "count"),
        "spark.shuffle_read_bytes_per_item": (per(sum_metric(commit_tree, "shuffle_read_bytes"), items), "B"),
        "lake.commit.ms": (per(dur_ms(commits), units), "ms"),
        "lake.commit.bytes_written": (
            per(sum_metric(subtree(("lake.commit_buckets", "lake.commit_delta_buckets")), "output_bytes"), units), "B"),
        "lake.commit.files_written": (per(sum(s["attrs"].get("files_written", 0) for s in commits), units), "count"),
        "lake.compact.ms": (per(dur_ms(compacts), len(compacts)), "ms"),
        "lake.compact.bytes_rewritten": (per(sum_metric(subtree(("lake.compact",)), "output_bytes"), len(compacts)), "B"),
        "lake.compact.files_before": (per(sum(s["attrs"]["files_before"] for s in compacts), len(compacts)), "count"),
        "lake.compact.files_after": (per(sum(s["attrs"]["files_after"] for s in compacts), len(compacts)), "count"),
        "lake.lookup_keys.ms": (per(dur_ms(lookups), len(lookups)), "ms"),
        "lake.lookup_keys.jobs": (per(sum_metric(subtree(("bench.lookup",)), "jobs"), len(lookups)), "count"),
        "lake.lookup_keys.input_bytes": (per(sum_metric(subtree(("bench.lookup",)), "input_bytes"), len(lookups)), "B"),
        "lake.manifest.calls": (per(len([s for s in named("lake.manifest") if s["id"] in commit_tree]), units), "count"),
        "lake.manifest.ms": (per(dur_ms([s for s in named("lake.manifest") if s["id"] in commit_tree]), units), "ms"),
        "checkpoint.record.ms": (per(dur_ms(named("checkpoint.record")), units), "ms"),
        "checkpoint.journal_bytes": (per(inputs["journal_bytes"], inputs["journal_records"]), "B"),
        "merge.read_changes.ms": (per(dur_ms(feeds), len(feeds)) if named("merge.read_changes") else 0.0, "ms"),
        "merge.read_changes.jobs": (
            per(sum_metric(subtree(("bench.feed",)), "jobs"), len(feeds)) if named("merge.read_changes") else 0.0,
            "count"),
        "merge.dedupe.survivor_ratio": (per(cdc_survivors, delivered), "1"),
        "merge.classify.exists_ratio": (per(exists, survivors), "1"),
        "textdedup.dedup_incremental.self_ms": (per(1000.0 * sum(selfs[s["id"]] for s in dedups), units), "ms"),
        "textdedup.dedup_incremental.jobs": (per(sum_metric(subtree(("textdedup.dedup_incremental",)), "jobs"), units),
                                             "count"),
        "textdedup.verified_ratio": (per(verified, cands), "1"),
        "spark.spill_bytes": (per(sum_metric({s["id"] for s in spans}, "spill_bytes"), units), "B"),
        "trace.overhead_ratio": (
            1.0 - traced_rate / untraced_items_per_s if traced_rate and untraced_items_per_s else 0.0, "1"),
        # share of commit wall in the entry call's own code, outside every
        # traced layer below it: for replay the runner's own time, for
        # dedup_incremental its shingling and MinHash jobs
        "trace.entry_self_share": (per(1000.0 * sum(selfs[s["id"]] for s in entries), dur_ms(roots)), "1"),
    }
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in m.items()}
    return metrics, {k: {kk: round(vv, 3) for kk, vv in row.items()} for k, row in sorted(table.items())}
