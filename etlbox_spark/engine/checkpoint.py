"""Checkpoint / lineage / metrics (M5, BASELINE.json:14).

A checkpoint carries per-epoch, per-bucket offsets (max event_seq + row
count), per-action row counts, and the snapshot version produced — the
"per-partition lineage + metrics enabling resumable replay". The lake's
``committed_epochs`` set is the source of truth for exactly-once; the
checkpoint is the fast-resume index + audit trail on top of it.

Bounded at 10^5+ epochs (same class of fix as the lake's delta-record
manifests and [lo, hi] epoch runs): ``record()`` used to rewrite + fsync
the ENTIRE per-epoch lineage JSON every epoch — O(epochs²) total work
and a tens-of-MB rewrite per epoch on a long-lived tail. Now each epoch
appends ONE line to an append-only journal (``<path>.journal.jsonl`` —
the complete audit trail, O(1) per epoch), while the state file keeps
only (a) the fast-resume index as inclusive ``[lo, hi]`` runs of applied
epochs (O(#gaps) — epochs are near-contiguous by construction) and (b) a
sliding window of the most recent ``KEEP_RECENT`` epochs' full lineage
(what operators actually inspect after a run). A state file without
``done_runs`` is not one this module wrote; ``load()`` rejects it.

Crash-safety: the journal line lands before the state replace. A crash
between the two re-applies the epoch on resume (the lake's marker makes
it a no-op) and re-records it — a duplicate journal line, which
``lineage()`` tolerates (the last applied record per epoch wins). A crash
MID-append can tear the final line; the next ``record()`` isolates it
behind a leading newline and ``lineage()`` skips it (that epoch's retry
re-recorded it). The state file itself is always replaced atomically.
"""

from __future__ import annotations

import json
import os
import uuid
from typing import Any, Iterator

from .merge import MergeResult

# a run like [0, 10**15] in a tampered/corrupt state file must not OOM
# the driver materializing the range (same guard as the lake's epoch
# runs)
_MAX_EXPAND = 50_000_000


def _merge_into_runs(runs: list, ep: int) -> list:
    """Insert ``ep`` into sorted, non-overlapping inclusive runs."""
    out: list[list[int]] = []
    placed = False
    for lo, hi in sorted(tuple(r) for r in runs):
        if not placed:
            if ep < lo - 1:  # strictly before this run, with a gap
                out.append([ep, ep])
                placed = True
            elif ep <= hi + 1:  # adjacent to or inside this run
                lo, hi = min(lo, ep), max(hi, ep)
                placed = True
        out.append([lo, hi])
    if not placed:
        out.append([ep, ep])
    # merge any now-adjacent neighbors
    merged: list[list[int]] = []
    for lo, hi in out:
        if merged and lo <= merged[-1][1] + 1:
            merged[-1][1] = max(merged[-1][1], hi)
        else:
            merged.append([lo, hi])
    return merged


class Checkpoint:
    KEEP_RECENT = 64

    def __init__(self, path: str):
        self.path = path
        self.journal_path = f"{path}.journal.jsonl"

    def load(self) -> dict[str, Any]:
        if not os.path.exists(self.path):
            return {"last_epoch": None, "epochs": {}, "done_runs": []}
        with open(self.path, encoding="utf-8") as f:
            state = json.load(f)
        if "done_runs" not in state:
            raise ValueError(
                f"checkpoint state {self.path} has no done_runs (not a checkpoint file?)"
            )
        return state

    def last_epoch(self) -> int | None:
        return self.load()["last_epoch"]

    def done_epochs(self) -> "set[int]":
        """Applied (non-skipped) epochs — the fast-resume index."""
        out: set[int] = set()
        total = 0
        for lo, hi in self.load()["done_runs"]:
            # cap the TOTAL expansion, not per-run: several sub-cap runs
            # in a tampered state would otherwise still OOM the driver
            total += hi - lo + 1
            if total > _MAX_EXPAND:
                raise RuntimeError(
                    f"checkpoint runs expand past {_MAX_EXPAND} epochs "
                    f"(at [{lo}, {hi}]) — corrupt state file?"
                )
            out.update(range(lo, hi + 1))
        return out

    def record(self, result: MergeResult) -> None:
        state = self.load()
        entry = {
            "version": result.version,
            "skipped": result.skipped,
            "counts": result.counts,
            "changed_buckets": result.changed_buckets,
            "offsets": {str(k): v for k, v in result.offsets.items()},
            "path": result.path,
            "fallback": result.fallback,
        }
        # journal first (append-only, O(1) per epoch — the complete audit
        # trail)
        os.makedirs(os.path.dirname(self.path) or ".", exist_ok=True)
        # torn-append healing: a crash mid-append can leave a partial
        # final line with no newline — lead with one so the damaged line
        # stays isolated (lineage() skips it) instead of swallowing this
        # record into unparseable garbage
        lead = ""
        try:
            with open(self.journal_path, "rb") as jf:
                jf.seek(-1, os.SEEK_END)
                if jf.read(1) != b"\n":
                    lead = "\n"
        except (OSError, ValueError):
            pass  # absent or empty journal — nothing to heal
        with open(self.journal_path, "a", encoding="utf-8") as f:
            f.write(lead + json.dumps({"epoch": result.epoch_id, **entry}) + "\n")
            f.flush()
            os.fsync(f.fileno())

        # a skipped retry of an applied epoch carries no counts: it must not
        # hide the applied entry
        prev = state["epochs"].get(str(result.epoch_id))
        if not (result.skipped and prev is not None and not prev.get("skipped")):
            state["epochs"][str(result.epoch_id)] = entry
        if not result.skipped:
            state["done_runs"] = _merge_into_runs(state["done_runs"], result.epoch_id)
        # bound the inline window — full lineage lives in the journal
        keys = sorted(state["epochs"], key=int)
        for k in keys[: -self.KEEP_RECENT or None]:
            del state["epochs"][k]
        prev = state["last_epoch"]
        state["last_epoch"] = result.epoch_id if prev is None else max(prev, result.epoch_id)
        tmp = f"{self.path}.tmp.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(state, f, sort_keys=True)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self.path)

    def lineage(self) -> Iterator[dict[str, Any]]:
        """The full per-epoch audit trail, oldest first (the journal;
        empty before the first ``record()``). An epoch can appear more than
        once: a crash-retried epoch is re-recorded, and a retry that found
        the epoch committed records a skipped line with no counts.
        Consumers that want one record per epoch fold with "the last
        applied record wins" — the last line with ``skipped`` false, or
        the last line when the epoch was never applied here — the rule
        ``record()`` keeps for the state's window. A line torn by a crash
        mid-append is skipped (its epoch was re-recorded on resume — the
        healing newline in ``record()`` keeps the damage isolated)."""
        if not os.path.exists(self.journal_path):
            return
        with open(self.journal_path, encoding="utf-8") as f:
            for line in f:
                line = line.strip()
                if not line:
                    continue
                try:
                    rec = json.loads(line)
                except ValueError:
                    continue  # torn append from a crash
                yield rec
