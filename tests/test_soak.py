"""Sustained multi-writer soak (VERDICT r04 #6).

test_concurrency.py drives individual conflict arms; this drives a LONG
seeded-random interleaving of four concurrent actors against one table —
the production deployment shape:

  1. the single ingest writer (epoch stream, MoR commits),
  2. a compaction loop,
  3. a delete_where actor (emitting change events),
  4. a tag + vacuum + untag loop,

all under the CAS manifest protocol, for a dozen epochs. Invariants at
the end: final state equals an independent pure-Python LWW replay of the
events minus the deleted namespace, every epoch committed exactly once,
the maintenance feed carries exactly the erased preimages, and after a
final compact + vacuum there are ZERO orphaned data files (on-disk set
== the kept manifests' referenced set).

Deterministic scheduling inputs (seeded RNG for events, jitter, and
actor cadence); thread interleaving itself varies run to run — the
invariants must hold under ANY interleaving, which is the point.
"""

from __future__ import annotations

import os
import random
import threading
import time

from etlbox_spark.engine import (
    ConcurrentCommitError,
    LakeTable,
    MergeMode,
    MergeSpec,
    apply_epoch,
    read_maintenance_changes,
)

from .conftest import EVENTS_SCHEMA, REPO_FILES_SCHEMA

SPEC = MergeSpec(compare_cols=("content",))
N_EPOCHS = 12
KEYS = [f"p{i}" for i in range(40)]
DEL_KEYS = [f"del{i}" for i in range(8)]


def _gen_epochs(seed: int):
    rng = random.Random(seed)
    seq = 0
    epochs = []
    # epoch 0 seeds the delete namespace; the ingest stream never touches
    # it again, so the erasure is order-independent vs later epochs
    first = []
    for k in DEL_KEYS:
        seq += 1
        first.append((seq, "insert", "r0", k, None, None, f"seed-{k}"))
    for _ in range(10):
        seq += 1
        first.append((seq, "insert", "r0", rng.choice(KEYS), None, None, f"c{seq}"))
    epochs.append(first)
    for _e in range(1, N_EPOCHS):
        rows = []
        for _ in range(14):
            seq += 1
            op = rng.choice(["insert", "update", "update", "delete"])
            rows.append((seq, op, "r0", rng.choice(KEYS), None, None, f"c{seq}"))
        epochs.append(rows)
    return epochs


def _py_oracle(epochs):
    state = {}
    for rows in epochs:
        for r in sorted(rows, key=lambda x: x[0]):
            k = (r[2], r[3])
            if r[1] == "delete":
                state.pop(k, None)
            else:
                state[k] = r[6]
    for k in DEL_KEYS:
        state.pop(("r0", k), None)
    return state


def test_multi_writer_soak(spark, tmp_path):
    t = LakeTable.create(
        str(tmp_path / "t"), REPO_FILES_SCHEMA, ["repo", "path"], 4,
        properties={"write.mode": "mor"},
    )
    delta_dir = str(tmp_path / "delta")
    epochs = _gen_epochs(seed=5)
    errors: list[BaseException] = []
    done = threading.Event()
    deleted_ok = threading.Event()
    rng = random.Random(99)
    jit = [rng.uniform(0.01, 0.12) for _ in range(200)]

    def ingest():
        try:
            for i, rows in enumerate(epochs):
                df = spark.createDataFrame(rows, EVENTS_SCHEMA)
                apply_epoch(spark, t, df, SPEC, MergeMode.DELTA, i, delta_dir=delta_dir)
                time.sleep(jit[i])
        except BaseException as e:  # noqa: BLE001 — surfaced below
            errors.append(e)
        finally:
            done.set()

    def compactor():
        i = 0
        while not done.is_set():
            try:
                t.compact(spark)
            except ConcurrentCommitError:
                pass  # retry next round — the maintenance contract
            except BaseException as e:  # noqa: BLE001
                errors.append(e)
                return
            i += 1
            time.sleep(jit[(i * 3) % len(jit)])

    def deleter():
        # wait until the namespace exists, then erase it (emitting)
        try:
            while not done.is_set() or not t.is_committed(0):
                if t.is_committed(0):
                    break
                time.sleep(0.05)
            while True:
                try:
                    res = t.delete_where(
                        spark, "path like 'del%'", emit_changes=True, delta_dir=delta_dir
                    )
                except ConcurrentCommitError:
                    time.sleep(0.1)
                    continue
                if res["rows_deleted"] > 0:
                    deleted_ok.set()
                    return
                if done.is_set():
                    # stream over; nothing matched means a prior attempt
                    # (or this one) already erased them
                    deleted_ok.set()
                    return
                time.sleep(0.08)
        except BaseException as e:  # noqa: BLE001
            errors.append(e)

    def tagger():
        # DELIBERATELY brutal retention: keep_versions=2 with tag/untag
        # churn advancing versions ~8x/sec would expire an epoch's
        # pinned classify snapshot mid-read — the r05 whole-span
        # in-flight pin (vacuum retains every version committed since
        # the oldest live marker, plus the latest at its creation) is
        # what makes this safe; this soak found the hole and now pins
        # the fix
        i = 0
        while not done.is_set():
            try:
                v = t.latest_version()
                t.tag(f"soak{i}", v)
                t.vacuum(keep_versions=2, grace_s=0.05)
                t.untag(f"soak{i}")
            except (ConcurrentCommitError, ValueError):
                pass  # tag raced a vacuum reclaim — detected + self-untagged
            except BaseException as e:  # noqa: BLE001
                errors.append(e)
                return
            i += 1
            time.sleep(jit[(i * 7) % len(jit)])

    audit_reports: list[dict] = []

    def auditor():
        # read-only fsck racing every writer: on a LIVE table transient
        # error reports are legal (a vacuum can expire a version between
        # fsck's listing and its walk; a log rename can race the
        # snapshot read) — the certification is that the audit NEVER
        # raises, never hangs, and never perturbs the writers
        i = 0
        while not done.is_set():
            try:
                r = t.fsck(
                    deep=(i % 3 == 0),
                    delta_dir=delta_dir if i % 2 else None,
                )
                assert isinstance(r, dict) and "ok" in r and "errors" in r
                audit_reports.append(r)
            except BaseException as e:  # noqa: BLE001
                errors.append(e)
                return
            i += 1
            time.sleep(jit[(i * 5) % len(jit)])

    threads = [
        threading.Thread(target=f)
        for f in (ingest, compactor, deleter, tagger, auditor)
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=600)
    assert not errors, errors
    assert deleted_ok.is_set()
    assert audit_reports, "the auditor never completed a single pass"

    # the namespace may have been erased BEFORE epoch 0's replay... no:
    # one ingest writer applies epochs in order and the deleter waits for
    # epoch 0's marker, so the erasure always sees the seeded rows.
    got = {(r.repo, r.path): r.content for r in t.read(spark).collect()}
    assert got == _py_oracle(epochs)
    assert sorted(t.manifest().committed_epochs) == list(range(N_EPOCHS))

    # the maintenance feed carries exactly the erased preimages
    maint = read_maintenance_changes(spark, delta_dir).collect()
    assert {r["path"] for r in maint} == set(DEL_KEYS)
    assert all(r["action"] == "delete" and r["content"] == f"seed-{r['path']}" for r in maint)

    # zero orphans: quiesce, fold, vacuum hard, then the on-disk data
    # files must equal the kept manifests' referenced set (each keeps its
    # checksum sidecar, which is not a data file)
    t.compact(spark)
    time.sleep(0.05)
    t.vacuum(keep_versions=1, grace_s=0.0)
    kept = t.manifest()
    referenced = {
        os.path.normpath(os.path.join(t.root, e["path"])) for e in kept.files
    }
    on_disk = set()
    for dirpath, _dirs, files in os.walk(os.path.join(t.root, "data")):
        for fn in files:
            if fn.endswith(".parquet"):
                on_disk.add(os.path.normpath(os.path.join(dirpath, fn)))
    assert on_disk == referenced, (
        f"orphans: {sorted(on_disk - referenced)[:3]} / "
        f"missing: {sorted(referenced - on_disk)[:3]}"
    )
    # a second vacuum finds nothing left to do
    stats = t.vacuum(keep_versions=1, grace_s=0.0)
    assert stats["files_deleted"] == 0
    # and the independent integrity audit agrees: after the whole churn
    # the on-disk state satisfies every commit-protocol invariant
    # (manifest chain, checkpoint agreement, file liveness, footer
    # stats, bloom membership, tag pins) with nothing orphaned
    report = t.fsck(deep=True)
    assert report["ok"], report["errors"]
    assert report["orphans"] == []
