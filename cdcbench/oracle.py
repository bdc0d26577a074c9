"""Independent correctness oracles. They share no code with the engine."""

from __future__ import annotations

import hashlib
import re

import pandas as pd

def row_digest(values: tuple) -> str:
    """sha256 of a row's payload values; None and "" stay distinct."""
    return hashlib.sha256("\x1f".join("\x00" if v is None else str(v) for v in values).encode()).hexdigest()


def seed_state(seed: pd.DataFrame) -> dict[tuple[str, str], str]:
    """``(repo, path)`` -> sha256 of the payload, for snapshot rows."""
    return {
        (r.repo, r.path): row_digest((r.commit, r.lang, r.content))
        for r in seed.itertuples(index=False)
    }


def apply_events(state: dict, events: pd.DataFrame) -> dict:
    """Replay ``events`` onto ``state`` in place, last writer wins: the
    highest ``event_seq`` per key decides, and a delete removes the key."""
    last = events.sort_values("event_seq", kind="stable").drop_duplicates(
        subset=["repo", "path"], keep="last"
    )
    for r in last.itertuples(index=False):
        if r.op == "delete":
            state.pop((r.repo, r.path), None)
        else:
            state[(r.repo, r.path)] = row_digest((r.commit, r.lang, r.content))
    return state


def expected_actions(state: dict, events: pd.DataFrame) -> dict[str, int]:
    """Change-feed action counts of applying ``events`` to ``state`` (read
    before the epoch): per key, the last event against the old payload —
    absent key: insert; same sha256: exists; other sha256: update; delete
    of a present key: delete; delete of an absent key: nothing logged."""
    last = events.sort_values("event_seq", kind="stable").drop_duplicates(
        subset=["repo", "path"], keep="last"
    )
    counts: dict[str, int] = {}
    for r in last.itertuples(index=False):
        old = state.get((r.repo, r.path))
        if r.op == "delete":
            action = None if old is None else "delete"
        elif old is None:
            action = "insert"
        else:
            action = "exists" if old == row_digest((r.commit, r.lang, r.content)) else "update"
        if action:
            counts[action] = counts.get(action, 0) + 1
    return counts


def lww_state(seed: pd.DataFrame, events: pd.DataFrame) -> dict[tuple[str, str], str]:
    """The snapshot ``seed`` plus ``events``, replayed last-writer-wins."""
    return apply_events(seed_state(seed), events)


# ------------------------------------------------------- text dedup rule

def _norm(text: str) -> str:
    return re.sub(r"\s+", " ", text.strip().lower())


def _shingles(norm: str) -> frozenset[str]:
    toks = norm.split(" ")
    if len(toks) < 3:
        return frozenset([" ".join(toks)])
    return frozenset(" ".join(toks[i : i + 3]) for i in range(len(toks) - 2))


class IncrementalDedupOracle:
    """The anchored incremental rule of ``dedup_incremental``: a batch doc
    whose component over verified edges (normalized-text equality or word
    3-gram Jaccard >= threshold) touches a corpus document drops; a
    corpus-free component keeps its minimum id. Survivors join the corpus.

    An inverted shingle index finds the corpus documents sharing a
    shingle with a batch document, which every verified edge does."""

    def __init__(self, corpus: list[tuple[int, str]], threshold: float = 0.8):
        self.thr = threshold
        self.sh: dict[int, frozenset[str]] = {}
        self.norm: dict[int, str] = {}
        self.postings: dict[str, list[int]] = {}
        for i, t in corpus:
            self._add(i, t)

    def _add(self, i: int, text: str) -> None:
        n = _norm(text)
        self.norm[i] = n
        self.sh[i] = _shingles(n)
        for s in self.sh[i]:
            self.postings.setdefault(s, []).append(i)

    def _edge(self, na: str, sa: frozenset, nb: str, sb: frozenset) -> bool:
        if na == nb:
            return True
        return len(sa & sb) / len(sa | sb) >= self.thr

    def apply(self, batch: list[tuple[int, str]]) -> set[int]:
        """Survivors of ``batch``; they are added to the corpus."""
        norm = {i: _norm(t) for i, t in batch}
        sh = {i: _shingles(norm[i]) for i in norm}
        bids = sorted(norm)
        parent = {i: i for i in bids}

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for ai, a in enumerate(bids):
            for b in bids[ai + 1 :]:
                if self._edge(norm[a], sh[a], norm[b], sh[b]):
                    ra, rb = find(a), find(b)
                    parent[max(ra, rb)] = min(ra, rb)
        tainted = set()
        for b in bids:
            near = {c for s in sh[b] for c in self.postings.get(s, ())}
            if any(self._edge(norm[b], sh[b], self.norm[c], self.sh[c]) for c in near):
                tainted.add(find(b))
        survivors = {b for b in bids if find(b) == b and find(b) not in tainted}
        texts = dict(batch)
        for b in sorted(survivors):
            self._add(b, texts[b])
        return survivors
