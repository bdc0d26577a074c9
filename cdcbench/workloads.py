"""The benchmark's workloads: closed loop, one writer, inputs landed
before any clock starts.

Each workload lands its inputs (``land``), builds its tables several
times over (``setup``), warms up on the last of them (``warmup``), then
runs whole cycles of timed operations (``cycle``) and finally checks the
result against an independent oracle (``check``). An operation is one
call through the engine's public API, timed on its own; ``Op`` records
it.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from dataclasses import dataclass, field
from typing import Any, Callable

import pandas as pd

import gen
import oracle
from spans import Tracer

@dataclass
class Op:
    kind: str  # commit | feed | lookup
    wall: float
    items: int = 0
    ok: bool = True
    error: str | None = None
    extra: dict[str, Any] = field(default_factory=dict)


def dir_bytes(*roots: str) -> int:
    total = 0
    for root in roots:
        for d, _, names in os.walk(root):
            total += sum(os.path.getsize(os.path.join(d, n)) for n in names)
    return total


def live_file_bytes(table: Any) -> int:
    """Bytes of the data files the latest manifest references."""
    return sum(os.path.getsize(os.path.join(table.root, e["path"])) for e in table.manifest().files)


def timed(tracer: Tracer, kind: str, fn: Callable[[], Any], items: int = 0) -> tuple[Op, Any]:
    """Run one operation inside a ``bench.<kind>`` span; an exception
    fails the operation, not the run."""
    with tracer.span(f"bench.{kind}"):
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
            return Op(kind, time.perf_counter() - t0, items, False, f"{type(e).__name__}: {e}"), None
        return Op(kind, time.perf_counter() - t0, items), out


def sink(df: Any) -> None:
    """Materialize a frame fully without moving rows to the driver."""
    df.write.format("noop").mode("overwrite").save()


# ------------------------------------------------------------- tail_mor


class TailMor:
    """Small binlog epochs tailed onto a large, seeded merge-on-read table
    with periodic compaction; after each commit a consumer reads that
    epoch's change feed and point-reads a key batch."""

    name = "tail_mor"
    unit = "epoch"
    SETUP_REPS = 3
    N_REPOS, PATHS = 100, 500  # 50k-row seeded table
    EPOCH_EVENTS = 1_000
    N_BUCKETS = 16
    COMPACT_EVERY = 3  # epochs per compaction cycle
    MAX_CYCLES = 4  # timed cycles the landed binlog allows
    LOOKUP_KEYS = 50
    # keys of each probe that the epoch just committed changed. A probe
    # skips every delta file whose Bloom filter holds none of its keys;
    # with uniform keys alone up to a third of the probes of a regular
    # epoch skipped them all and ran the plain read, 30-40% faster than
    # the merge-on-read path, so a run's median sat on either mode. With
    # these, every probe of a regular epoch merges and every probe after
    # a compaction reads plain: four merging probes of six per cycle put
    # the median inside the merge mode
    RECENT_KEYS = 5
    # two consumers per epoch: six feed reads and six probes per cycle,
    # enough for steady medians where three were not
    CONSUMERS = 2

    def __init__(self, work: str, seed: int, tracer: Tracer):
        self.work, self.seed, self.tracer = work, seed, tracer
        self.ev_dir = os.path.join(work, "events")
        self.seed_dir = os.path.join(work, "seed")
        self.next_epoch = 1  # epoch 0 is the seed commit
        self.results: list[Any] = []
        self.expected: dict[int, dict[str, int]] = {}  # epoch -> oracle action counts
        self.rng = random.Random(seed)

    # -- inputs
    def land(self) -> None:
        gen.write_table(gen.seed_rows(self.seed, self.N_REPOS, self.PATHS),
                   os.path.join(self.seed_dir, "part-0.parquet"))
        n = 1 + self.COMPACT_EVERY * self.MAX_CYCLES  # warm-up epoch + timed cycles
        # the binlog's epoch 0 is the seed commit's slot: land n+1, drop 0
        gen.land_binlog(self.ev_dir, self.seed, n + 1, self.EPOCH_EVENTS,
                        self.N_REPOS, self.PATHS, first_seq=self.N_REPOS * self.PATHS)
        shutil.rmtree(os.path.join(self.ev_dir, "epoch=0"))
        self.max_epoch = n

    # -- set-up
    def setup(self, spark: Any, rep: int) -> None:
        from pyspark.sql import types as T

        from etlbox_spark.engine import Checkpoint, LakeTable
        from etlbox_spark.functions.hashing import bucket_expr

        root = os.path.join(self.work, f"t{rep}")
        shutil.rmtree(root, ignore_errors=True)
        schema = T.StructType([T.StructField(c, T.StringType(), True)
                               for c in ("repo", "path", "commit", "lang", "content")])
        self.table = LakeTable.create(
            os.path.join(root, "lake"), schema, ["repo", "path"], n_buckets=self.N_BUCKETS,
            properties={"write.mode": "mor",
                        "compact.max.deltas.per.bucket": str(self.COMPACT_EVERY)},
        )
        rows = spark.read.parquet(self.seed_dir)
        self.table.overwrite(rows.withColumn("bucket", bucket_expr(self.N_BUCKETS, "repo", "path")), 0)
        self.delta_dir = os.path.join(root, "changes")
        self.checkpoint = Checkpoint(os.path.join(root, "checkpoint.json"))

    def start(self) -> None:
        """Oracle state of the set-up table (outside every clock)."""
        self.state = oracle.seed_state(pd.read_parquet(self.seed_dir))
        self.keyspace = sorted(self.state)

    # -- operations
    def _commit(self, spark: Any, ep: int) -> Op:
        from etlbox_spark.engine import MergeMode, MergeSpec, runner

        n = pd.read_parquet(os.path.join(self.ev_dir, f"epoch={ep}"), columns=["event_seq"]).shape[0]
        op, res = timed(self.tracer, "commit", lambda: runner.replay(
            spark, self.table, self.ev_dir, MergeSpec(), MergeMode.DELTA,
            delta_dir=self.delta_dir, checkpoint=self.checkpoint, epochs=[ep]), items=n)
        if op.ok:
            r = res[0]
            op.extra = {"survivors": sum(o["rows"] for o in r.offsets.values())}
            self.results.append(r)
        return op

    def _feed(self, spark: Any, ep: int) -> Op:
        from etlbox_spark.engine import merge

        op, _ = timed(self.tracer, "feed", lambda: sink(merge.read_changes(spark, self.delta_dir, from_epoch=ep)))
        return op

    def _lookup(self, spark: Any) -> Op:
        recent = self.rng.sample(self.changed, self.RECENT_KEYS)
        others = [k for k in self.rng.sample(self.keyspace, self.LOOKUP_KEYS) if k not in recent]
        keys = recent + others[:self.LOOKUP_KEYS - self.RECENT_KEYS]
        op, rows = timed(self.tracer, "lookup", lambda: self.table.lookup_keys(spark, keys).collect())
        if op.ok:
            got = {(r["repo"], r["path"]): oracle.row_digest((r["commit"], r["lang"], r["content"]))
                   for r in rows}
            want = {k: self.state[k] for k in keys if k in self.state}
            if got != want:
                op.ok, op.error = False, f"lookup mismatch on {len(set(got) ^ set(want))} keys"
        return op

    def _advance_oracle(self, ep: int) -> None:
        events = pd.read_parquet(os.path.join(self.ev_dir, f"epoch={ep}"))
        self.changed = sorted(set(zip(events["repo"], events["path"])))
        self.expected[ep] = oracle.expected_actions(self.state, events)
        oracle.apply_events(self.state, events)

    def _epoch(self, spark: Any) -> list[Op]:
        """Commit the next epoch; then each consumer reads its change feed
        and probes its own key batch."""
        ep = self.next_epoch
        self.next_epoch += 1
        op = self._commit(spark, ep)
        if not op.ok:
            return [op]
        self._advance_oracle(ep)
        ops = [op]
        for _ in range(self.CONSUMERS):
            ops += [self._feed(spark, ep), self._lookup(spark)]
        return ops

    def cycle(self, spark: Any) -> list[Op] | None:
        """One compaction cycle: COMPACT_EVERY epochs, the last of which
        compacts. None when the landed binlog is used up."""
        if self.next_epoch + self.COMPACT_EVERY - 1 > self.max_epoch:
            return None
        ops: list[Op] = []
        for _ in range(self.COMPACT_EVERY):
            ops += self._epoch(spark)
            if not ops[-1].ok:
                break
        return ops

    def warmup(self, spark: Any) -> list[Op]:
        """One epoch, then a compaction so the timed cycles start with no
        delta files, in phase with the compaction period."""
        ops = self._epoch(spark)
        self.table.compact(spark)
        return ops

    def lake_dirs(self) -> list[str]:
        return [self.table.root, self.delta_dir]

    def live_rows(self) -> int:
        return len(self.state)

    def tables(self) -> list[Any]:
        return [self.table]

    # -- correctness
    def check(self, spark: Any) -> list[str]:
        from pyspark.sql import functions as F

        from etlbox_spark.engine import merge

        errors = []
        snap = self.table.read(spark, with_bucket=False).toPandas()
        got = {(r.repo, r.path): oracle.row_digest((r.commit, r.lang, r.content))
               for r in snap.itertuples(index=False)}
        evs = pd.concat([pd.read_parquet(os.path.join(self.ev_dir, f"epoch={e}"))
                         for e in range(1, self.next_epoch)])
        want = oracle.lww_state(pd.read_parquet(self.seed_dir), evs)
        if len(snap) != len(got):
            errors.append(f"snapshot holds {len(snap) - len(got)} duplicate keys")
        if got != want:
            diff = set(got.items()) ^ set(want.items())
            errors.append(f"snapshot != LWW oracle on {len(diff)} (key, sha256) pairs")
        feed = {
            (int(r["epoch"]), r["action"]): int(r["count"])
            for r in merge.read_changes(spark, self.delta_dir)
            .groupBy("epoch", F.col("action")).count().collect()
        }
        for r in self.results:
            mine = {a: c for (e, a), c in feed.items() if e == r.epoch_id}
            if mine != {a: c for a, c in r.counts.items() if c}:
                errors.append(f"epoch {r.epoch_id}: feed actions {mine} != MergeResult {r.counts}")
            if mine != self.expected.get(r.epoch_id):
                errors.append(f"epoch {r.epoch_id}: feed actions {mine} != oracle {self.expected.get(r.epoch_id)}")
        errors += fsck_errors(self.table, delta_dir=self.delta_dir)
        return errors


# ---------------------------------------------------------- corpus_dedup


class CorpusDedup:
    """Equal batches of new source files, deduplicated incrementally
    against an already-deduplicated corpus and its LSH index; survivors
    commit into both tables."""

    name = "corpus_dedup"
    unit = "batch"
    SETUP_REPS = 2  # ~4 s each warm on a 4-vCPU VM; a third would push a run past a minute
    CORPUS_DOCS = 2_500
    BATCH_DOCS = 200
    N_BUCKETS = 8
    MAX_BATCHES = 5  # warm-up batch + at most four timed batches
    LOOKUP_KEYS = 50
    # a run times one batch (about 11 s of fixed per-job cost whatever
    # its size). Five consumers after it give five read-back and five
    # probe samples: a median that a few seconds of host CPU steal does
    # not move. Reads are timed only after a commit: right after the
    # cold warm-up batch they run up to 60% slower for about ten seconds.
    CONSUMERS = 5

    def __init__(self, work: str, seed: int, tracer: Tracer):
        self.work, self.seed, self.tracer = work, seed, tracer
        self.corpus_dir = os.path.join(work, "corpus")
        self.rng = random.Random(seed)
        self.next_batch = 0
        self.survivors: dict[int, set[int]] = {}

    def land(self) -> None:
        self.corpus = gen.corpus_docs(self.seed, self.CORPUS_DOCS)
        gen.land_docs(os.path.join(self.corpus_dir, "part-0.parquet"), self.corpus)
        self.batches = []
        next_id = self.CORPUS_DOCS
        for b in range(self.MAX_BATCHES):
            docs = gen.dedup_batch(self.seed, b, next_id, self.BATCH_DOCS, self.corpus)
            next_id = max(d for d, _ in docs) + 1
            gen.land_docs(self._batch_dir(b) + "/part-0.parquet", docs)
            self.batches.append(docs)

    def _batch_dir(self, b: int) -> str:
        return os.path.join(self.work, "batches", f"b{b}")

    def setup(self, spark: Any, rep: int) -> None:
        from pyspark.sql import types as T

        from etlbox_spark.engine import LakeTable
        from etlbox_spark.functions.hashing import bucket_expr
        from etlbox_spark.operators.textdedup import lsh_index_build

        root = os.path.join(self.work, f"t{rep}")
        shutil.rmtree(root, ignore_errors=True)
        schema = T.StructType([T.StructField("doc_id", T.LongType(), True),
                               T.StructField("text", T.StringType(), True)])
        self.corpus_t = LakeTable.create(os.path.join(root, "corpus"), schema, ["doc_id"],
                                         n_buckets=self.N_BUCKETS)
        docs = spark.read.parquet(self.corpus_dir)
        self.corpus_t.overwrite(docs.withColumn("bucket", bucket_expr(self.N_BUCKETS, "doc_id")), 1)
        self.index_t = lsh_index_build(self.corpus_t.read(spark, with_bucket=False),
                                       os.path.join(root, "index"), n_buckets=self.N_BUCKETS)

    def start(self) -> None:
        self.texts = dict(self.corpus)

    def cycle(self, spark: Any, consumers: int = CONSUMERS) -> list[Op] | None:
        """One batch: deduplicate and commit it; then each consumer reads
        its survivors back and point-reads its own key batch. None when
        the landed batches are used up."""
        from etlbox_spark.operators import textdedup

        b = self.next_batch
        if b >= self.MAX_BATCHES:
            return None
        self.next_batch += 1
        batch = spark.read.parquet(self._batch_dir(b))
        op, surv = timed(self.tracer, "commit", lambda: textdedup.dedup_incremental(
            spark, self.corpus_t, self.index_t, batch, commit_epoch=b + 2), items=self.BATCH_DOCS)
        if not op.ok:
            return [op]
        ids = sorted(int(r[0]) for r in surv.select("doc_id").collect())
        self.survivors[b] = set(ids)
        texts = dict(self.batches[b])
        self.texts.update((i, texts[i]) for i in ids)
        ops = [op]
        for _ in range(consumers):
            probe = self.rng.sample(range(self.CORPUS_DOCS), self.LOOKUP_KEYS)
            ops += [self._read_back(spark, "feed", ids), self._read_back(spark, "lookup", probe)]
        return ops

    def warmup(self, spark: Any) -> list[Op]:
        """One batch with one consumer: the reads need no more warming,
        and each run's set-up stays short."""
        return self.cycle(spark, consumers=1)

    def _read_back(self, spark: Any, kind: str, ids: list[int]) -> Op:
        keys = [(i,) for i in ids]
        op, rows = timed(self.tracer, kind, lambda: self.corpus_t.lookup_keys(spark, keys).collect())
        if op.ok:
            got = {int(r["doc_id"]): r["text"] for r in rows}
            if got != {i: self.texts[i] for i in ids}:
                op.ok, op.error = False, f"{kind} read-back mismatch"
        return op

    def lake_dirs(self) -> list[str]:
        return [self.corpus_t.root, self.index_t.root]

    def live_rows(self) -> int:
        return len(self.texts)

    def tables(self) -> list[Any]:
        return [self.corpus_t, self.index_t]

    def check(self, spark: Any) -> list[str]:
        errors = []
        rule = oracle.IncrementalDedupOracle(self.corpus)
        for b in range(self.next_batch):
            want = rule.apply(self.batches[b])
            if self.survivors.get(b) != want:
                got = self.survivors.get(b) or set()
                errors.append(f"batch {b}: {len(got ^ want)} survivors differ from the oracle")
        final = {int(r[0]) for r in self.corpus_t.read(spark).select("doc_id").collect()}
        if final != set(self.texts):
            errors.append(f"corpus holds {len(final ^ set(self.texts))} unexpected ids")
        idx = {int(r[0]) for r in self.index_t.read(spark).select("id").distinct().collect()}
        if idx != set(self.texts):
            errors.append(f"index holds {len(idx ^ set(self.texts))} unexpected ids")
        for t in self.tables():
            errors += fsck_errors(t)
        return errors


def fsck_errors(table: Any, delta_dir: str | None = None) -> list[str]:
    rep = table.fsck(delta_dir=delta_dir)
    if rep["ok"] and not rep["errors"]:
        return []
    return [f"fsck {table.root}: {e}" for e in rep["errors"]] or [f"fsck {table.root}: not ok"]


WORKLOADS = {w.name: w for w in (TailMor, CorpusDedup)}
