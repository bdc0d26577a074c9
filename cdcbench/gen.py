"""Frozen input generators for the benchmark.

The benchmark owns its inputs so that an engine change cannot change the
workload. The CDC binlog follows the distribution of
``etlbox_spark.engine.gen.gen_events`` (zipf-skewed repos through the
inverse-CDF power transform, uniform paths, 60/30/10 insert/update/delete,
~2% verbatim re-delivery, five 48-hex content lines), but it is drawn with
NumPy from the workload seed and written with pyarrow before Spark starts,
so no input work runs inside the JVM or on any clock.

Every file is written in a fixed order with fixed writer settings, so the
same seed lands byte-identical files; ``fingerprint`` hashes them.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = ["py", "c", "rs", "md", "java"]
TS0 = 1_600_000_000

EVENT_SCHEMA = pa.schema(
    [
        ("event_seq", pa.int64()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("op", pa.string()),
        ("repo", pa.string()),
        ("path", pa.string()),
        ("commit", pa.string()),
        ("lang", pa.string()),
        ("content", pa.string()),
        ("schema_ver", pa.int32()),
    ]
)
ROW_SCHEMA = pa.schema(
    [
        ("repo", pa.string()),
        ("path", pa.string()),
        ("commit", pa.string()),
        ("lang", pa.string()),
        ("content", pa.string()),
    ]
)
DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])


def write_table(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def _key_strings(repo_idx: np.ndarray, path_idx: np.ndarray) -> tuple[list, list, list]:
    repos = [f"repo_{r:04d}" for r in repo_idx.tolist()]
    langs = [LANGS[p % len(LANGS)] for p in path_idx.tolist()]
    paths = [f"src/pkg{p % 7}/mod_{p}.{lg}" for p, lg in zip(path_idx.tolist(), langs)]
    return repos, paths, langs


def _payloads(rng: np.random.Generator, repos: list, paths: list) -> tuple[list, list]:
    """Commit ids and five-line bodies, random hex like the engine's
    sha2-derived ones."""
    n = len(repos)
    raw = rng.integers(0, 256, size=(n, 6 + 5 * 24), dtype=np.uint8)
    commits, contents = [], []
    for i in range(n):
        h = raw[i].tobytes().hex()
        commit = h[:12]
        body = "\n".join(f"line{j}: {h[12 + 48 * j:60 + 48 * j]}" for j in range(5))
        commits.append(commit)
        contents.append(f"// {repos[i]}/{paths[i]}@{commit}\n{body}")
    return commits, contents


def seed_rows(seed: int, n_repos: int, paths_per_repo: int) -> pa.Table:
    """Every key of an ``n_repos`` x ``paths_per_repo`` keyspace once:
    the initial snapshot of a large table."""
    rng = np.random.default_rng([seed, 1])
    repo_idx = np.repeat(np.arange(n_repos), paths_per_repo)
    path_idx = np.tile(np.arange(paths_per_repo), n_repos)
    repos, paths, langs = _key_strings(repo_idx, path_idx)
    commits, contents = _payloads(rng, repos, paths)
    return pa.table(
        {"repo": repos, "path": paths, "commit": commits, "lang": langs, "content": contents},
        schema=ROW_SCHEMA,
    )


def binlog_epoch(
    seed: int,
    epoch: int,
    first_seq: int,
    n_events: int,
    n_repos: int,
    paths_per_repo: int,
    skew: float = 1.5,
    dup_rate: float = 0.02,
    p_insert: float = 0.60,
    p_update: float = 0.30,
) -> pa.Table:
    """One epoch of ``n_events`` base events (plus ~``dup_rate``
    re-deliveries of identical rows), sequence numbers from
    ``first_seq``."""
    rng = np.random.default_rng([seed, 2, epoch])
    seq = np.arange(first_seq, first_seq + n_events, dtype=np.int64)
    repo_idx = np.floor(n_repos * rng.random(n_events) ** skew).astype(np.int64)
    path_idx = np.floor(paths_per_repo * rng.random(n_events)).astype(np.int64)
    u_op = rng.random(n_events)
    ops = np.where(u_op < p_insert, "insert", np.where(u_op < p_insert + p_update, "update", "delete"))
    repos, paths, langs = _key_strings(repo_idx, path_idx)
    commits, contents = _payloads(rng, repos, paths)
    is_del = ops == "delete"
    commits = [None if d else c for c, d in zip(commits, is_del.tolist())]
    langs = [None if d else lg for lg, d in zip(langs, is_del.tolist())]
    contents = [None if d else c for c, d in zip(contents, is_del.tolist())]
    t = pa.table(
        {
            "event_seq": seq,
            "ts": pa.array((TS0 + seq) * 1_000_000, pa.int64()).cast(pa.timestamp("us", tz="UTC")),
            "op": ops.tolist(),
            "repo": repos,
            "path": paths,
            "commit": commits,
            "lang": langs,
            "content": contents,
            "schema_ver": np.ones(n_events, dtype=np.int32),
        },
        schema=EVENT_SCHEMA,
    )
    # verbatim re-delivery: the duplicate follows its original
    take = np.repeat(np.arange(n_events), np.where(rng.random(n_events) < dup_rate, 2, 1))
    return t.take(pa.array(take))


def land_binlog(
    out_dir: str,
    seed: int,
    n_epochs: int,
    epoch_events: int,
    n_repos: int,
    paths_per_repo: int,
    first_seq: int = 0,
) -> None:
    """Write ``n_epochs`` epochs as ``epoch=N/part-0.parquet`` (the layout
    ``engine.runner.replay`` tails)."""
    for ep in range(n_epochs):
        t = binlog_epoch(
            seed, ep, first_seq + ep * epoch_events, epoch_events, n_repos, paths_per_repo
        )
        write_table(t, os.path.join(out_dir, f"epoch={ep}", "part-0.parquet"))


# ----------------------------------------------------------- text corpus

_VOCAB_SIZE = 50_000
_KEYWORDS = ["def", "return", "if", "for", "in", "import", "class", "while", "self", "None"]


def _doc(rng: np.random.Generator, n_tokens: int) -> list[str]:
    ids = rng.integers(0, _VOCAB_SIZE, size=n_tokens)
    kw = rng.random(n_tokens) < 0.15
    return [
        _KEYWORDS[i % len(_KEYWORDS)] if k else f"v{i}"
        for i, k in zip(ids.tolist(), kw.tolist())
    ]


def _near(rng: np.random.Generator, toks: list[str]) -> list[str]:
    """One interior token replaced: 3 of n-2 shingles change, so
    word-3-gram Jaccard is (n-5)/(n+1) (0.90 at 60 tokens)."""
    out = list(toks)
    i = int(rng.integers(3, len(out) - 3))
    out[i] = f"w{int(rng.integers(0, 10**9))}"
    return out


def _render(toks: list[str], shout: bool = False) -> str:
    """Source-file-like layout: 10 tokens per line. ``shout`` upper-cases
    it, which normalization undoes (an exact duplicate)."""
    lines = [" ".join(toks[i : i + 10]) for i in range(0, len(toks), 10)]
    s = "\n".join(lines)
    return s.upper() if shout else s


def corpus_docs(seed: int, n_docs: int, n_tokens: int = 60) -> list[tuple[int, str]]:
    """An already-deduplicated corpus: independent random documents over
    a 50k-token vocabulary share almost no word 3-grams."""
    rng = np.random.default_rng([seed, 3])
    return [(i, _render(_doc(rng, n_tokens))) for i in range(n_docs)]


def dedup_batch(
    seed: int,
    batch_no: int,
    first_id: int,
    n_docs: int,
    corpus: list[tuple[int, str]],
    n_tokens: int = 60,
    p_corpus_near: float = 0.15,
    p_corpus_exact: float = 0.05,
    p_batch_pair: float = 0.10,
) -> list[tuple[int, str]]:
    """A batch of ``n_docs`` new documents with planted duplicates:
    near and exact copies of corpus documents, and near/exact pairs
    inside the batch. The rest are fresh."""
    rng = np.random.default_rng([seed, 4, batch_no])
    out: list[tuple[int, str]] = []
    i = 0
    while len(out) < n_docs:
        u = rng.random()
        did = first_id + i
        if u < p_corpus_near:
            src = corpus[int(rng.integers(0, len(corpus)))][1]
            out.append((did, _render(_near(rng, src.split()))))
        elif u < p_corpus_near + p_corpus_exact:
            src = corpus[int(rng.integers(0, len(corpus)))][1]
            out.append((did, src.upper()))
        elif u < p_corpus_near + p_corpus_exact + p_batch_pair and len(out) + 2 <= n_docs:
            toks = _doc(rng, n_tokens)
            out.append((did, _render(toks)))
            twin = _render(toks, shout=True) if rng.random() < 0.3 else _render(_near(rng, toks))
            out.append((did + 1, twin))
            i += 1
        else:
            out.append((did, _render(_doc(rng, n_tokens))))
        i += 1
    return out


def land_docs(path: str, docs: list[tuple[int, str]]) -> None:
    write_table(
        pa.table({"doc_id": [d for d, _ in docs], "text": [t for _, t in docs]}, schema=DOC_SCHEMA),
        path,
    )


def fingerprint(root: str) -> str:
    """sha256 over every landed file (relative path + bytes), in sorted
    order: equal seeds give equal fingerprints."""
    h = hashlib.sha256()
    files = []
    for d, _, names in os.walk(root):
        files += [os.path.join(d, n) for n in names]
    for p in sorted(files):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()
