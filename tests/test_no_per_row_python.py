"""Lint gate (SURVEY.md §7 hard #4, BASELINE.json:15): no per-row Python
in the engine — no row-at-a-time F.udf, no rdd.map in etlbox_spark/."""

from __future__ import annotations

import pathlib
import re

PKG = pathlib.Path(__file__).resolve().parent.parent / "etlbox_spark"

BANNED = [
    re.compile(r"\bF\.udf\("),
    re.compile(r"@udf\b"),
    re.compile(r"\.rdd\b"),
    re.compile(r"\bflatMap\("),
    re.compile(r"\bmapPartitions\("),
]


def test_no_per_row_python_in_package():
    offenders = []
    for py in PKG.rglob("*.py"):
        text = py.read_text()
        for pat in BANNED:
            for m in pat.finditer(text):
                line = text[: m.start()].count("\n") + 1
                offenders.append(f"{py.relative_to(PKG.parent)}:{line}:{pat.pattern}")
    assert not offenders, f"per-row Python constructs found: {offenders}"


def test_collect_only_in_sanctioned_places():
    """collect() is allowed only where it pulls bounded metadata (bucket
    lists, centroids, per-partition counts, test sinks) — flag any new
    usage for review. joins.py: global_positions collects ≤ one row per
    partition (the zipWithIndex offset table). lake.py: lookup_keys
    collects one (key, hash, bucket) row per PROBE key from a local
    relation (LakeTable._probe_keys) — caller-bounded metadata, never
    table rows; the table rows a probe reads on the driver
    (engine/lookup.py, pyarrow, no collect) are bounded by the row gate
    lookup.DRIVER_MAX_ROWS on the pruned files' manifest counts.
    textdedup.py: dedup_incremental collects the nominated candidate
    CORPUS IDS to drive the pruned lookup_keys point read — HARD-capped
    at nomination_limit via limit(n+1) (r05): past the cap the fetch
    switches to a distributed semi-join, so the collect is never
    O(corpus) even for an adversarial batch. fsck.py:
    the distributed deep scan collects only error tuples + one counter
    row per partition — O(corruption findings), never O(files).
    merge.py: _probe_dirs_distributed collects one (index, schema-json)
    string per change dir — planning metadata for the generation
    grouping, a few hundred bytes per epoch, never data rows; and
    _apply_epoch_driver brings one small epoch's projected event rows
    back with toArrow() (Arrow batches, no per-row Python) from a local
    relation it built on the driver from the same rows — bounded by the
    driver gate at lookup.DRIVER_EPOCH_MAX_ROWS events (footer counts,
    checked before the read), and the events plus the snapshot rows it
    reads with pyarrow stay under lookup.DRIVER_MAX_ROWS."""
    allowed = {
        "merge.py", "similarity.py", "joins.py", "lake.py", "__init__.py",
        "textdedup.py", "fsck.py",
    }
    offenders = []
    for py in PKG.rglob("*.py"):
        if py.name in allowed:
            continue
        for i, line in enumerate(py.read_text().splitlines(), 1):
            if ".collect()" in line:
                offenders.append(f"{py}:{i}")
    assert not offenders, offenders
