"""MergeSpec / MergeMode — the engine-config analog of ETLBox's
attribute-based column roles (SURVEY.md §1.2, §2.6).

ETLBox marks columns with [IdColumn]/[CompareColumn]/[DeleteColumn] and
MergeProperties {IdPropertyNames, ComparePropertyNames, DeletionProperties};
MergeMode ∈ {Full, Delta, NoDeletions}. Ours is an explicit dataclass.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from enum import Enum


class MergeMode(str, Enum):
    """ETLBox DbMerge.MergeMode parity (BASELINE.json:6; the last two are
    the later-upstream additions noted in SURVEY.md §1.1).

    FULL        — destination keys absent from the source batch are deleted.
    DELTA       — binlog mode: deletions only via explicit tombstones.
    NO_DELETIONS— classified like FULL but deletes are suppressed at the
                  sink; the delta log still records them (existence flags).
    ONLY_UPDATES— like DELTA, but inserts are suppressed: a batch row whose
                  key is absent from the destination is dropped unlogged
                  (there is no existing row to flag). Tombstone hits are
                  suppressed too and logged as existence flags.
    INSERTS_ONLY— only new keys are written: matched keys are never
                  rewritten (updates and tombstone hits are suppressed and
                  logged as existence flags, old payload kept).
    """

    FULL = "full"
    DELTA = "delta"
    NO_DELETIONS = "no_deletions"
    ONLY_UPDATES = "only_updates"
    INSERTS_ONLY = "inserts_only"


class ChangeAction(str, Enum):
    """ETLBox ChangeAction parity: insert/update/delete/exists."""

    INSERT = "insert"
    UPDATE = "update"
    DELETE = "delete"
    EXISTS = "exists"


@dataclass(frozen=True)
class MergeSpec:
    """Column roles for the merge-apply (MergeProperties analog).

    key_cols     — [IdColumn]s: logical identity, e.g. (repo, path).
    seq_col      — total-order column for last-writer-wins dedupe.
    compare_cols — [CompareColumn]s: equal ⇒ ChangeAction.EXISTS (no write).
    op_col       — input op column: insert | update | delete (tombstone).
    on_malformed — dead-letter policy for events that would corrupt the
                   merge (NULL key column, NULL seq, NULL/unknown op) —
                   the ETLBox LinkErrorTo analog INSIDE the merge core:
                   * "ignore" (default): trust upstream, zero extra cost
                     (today's behavior — a NULL-keyed event would land as
                     a real NULL-keyed row via the null-safe join).
                   * "quarantine": route offenders to an underscore-
                     invisible ``_quarantine/epoch=N`` log next to the
                     delta log and merge the rest; count in
                     ``MergeResult.counts["quarantine"]``.
                   * "fail": raise on the first offender (poison-pill
                     stop-the-line).
    """

    key_cols: tuple[str, ...] = ("repo", "path")
    seq_col: str = "event_seq"
    compare_cols: tuple[str, ...] = ("commit", "lang", "content")
    op_col: str = "op"
    payload_cols: tuple[str, ...] = field(default=())
    on_malformed: str = "ignore"
