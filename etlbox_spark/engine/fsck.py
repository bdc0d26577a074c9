"""Table integrity checker — a read-only ``fsck`` for :class:`LakeTable`.

Five rounds of concurrency machinery (optimistic-CAS delta-record
manifests, checkpoint sidecars + metadata compaction, vacuum pins,
healing renames) maintain the table's invariants across many racing
actors. ``fsck`` re-derives those invariants from the on-disk state
alone — no engine state, no Spark job — so an operator can audit a
table after a crash, a suspicious vacuum, or a soak of concurrent
writers (the multi-writer soak test closes with exactly this audit).
Iceberg analog: ``verify``-style snapshot tooling + orphan-file listing;
the checks themselves are this engine's own commit-protocol contracts:

* the ``_latest`` pointer parses and every retained version
  materializes (records parse; delta chains reach a full base; parents
  line up — ``_apply_delta_record`` raises on a broken chain);
* every checkpoint sidecar agrees with a records-only replay of the
  same version (when compaction still retains those records);
* every file entry of every retained snapshot points at an existing
  parquet file, with a sane bucket id and a known schema generation;
* ``deep=True`` additionally opens parquet footers: footer row count ==
  manifest ``rows``, footer key-hash min/max == manifest stats, and the
  inline Bloom (when present) decodes to its declared size and contains
  the file's min/max key hashes (both provably members — a Bloom that
  rejects them would produce silent false negatives in lookup pruning);
* ``tag.*`` properties and ``committed_epochs`` are well-formed, and a
  tag whose pinned version is no longer retained is an ERROR — that is
  precisely the narrowed-not-closed tag-vs-vacuum residue (ADVICE r04)
  made visible post-hoc;
* data files referenced by NO retained snapshot are reported as
  ``orphans`` (vacuum candidates, not errors); files newer than the
  latest commit record are assumed in-flight and only warned about.
  The listing is SUPPRESSED (with an ``orphans-suppressed`` warning)
  whenever any retained version failed to materialize — an unknown
  reference set would mislabel that version's live files as deletable.

Passing ``delta_dir`` extends the audit to the change log — the other
half of the exactly-once story (engine/merge.py's rename protocol):

* a visible ``epoch=N`` dir whose epoch the lake does NOT mark
  committed is the rename-protocol invariant broken — an ERROR when the
  retained history contains no ``rollback`` that could have unmarked it
  (after a rollback the stale dir is legal until re-replay rewrites it,
  so it degrades to a warning);
* interior gaps in the visible epoch range and unhealed ``_inflight``
  attempt dirs (incl. quarantine's) are warnings — all healable or
  legal states;
* a ``_maint/version=V`` change set must correspond to a lake commit
  (``V ≤ latest``) and, when V's record is retained, to a commit that
  actually declared a change emission (``change_token``) — a visible
  set without either is an ERROR (the heal protocol's proof broken).

Live tables: fsck is read-only and safe to run against a table with
active writers (the multi-writer soak races it against ingest,
compaction, emitting deletes and tag/vacuum churn), but a point-in-time
report taken mid-churn can carry TRANSIENT errors — a vacuum may expire
a version between fsck's listing and its walk, a change-log rename may
race the snapshot read. Authoritative verdicts need a quiesced table;
mid-flight runs certify only "never raises, never perturbs".

Cost model (100 TB honesty): the default pass is pure metadata —
O(retained versions) record parses + one ``stat`` per live file.
``deep=True`` opens one parquet FOOTER per live file of the latest
snapshot (no column data except nothing at all — footers carry the
stats); on a 10^5-file table that is ~10^5 small reads. Sequential on
the driver by default; pass ``spark=`` to run the footer scan as one
Arrow-batched Spark job (``mapInPandas`` over the entry list — same
checks, same error codes, O(#files / cores) wall), which is the mode a
10^5-file audit should use. An explicitly operator-invoked audit,
never a hot path either way.
"""

from __future__ import annotations

import json
import os
import time
from typing import Any

from pyspark.sql import types as T

from .lake import (
    KHASH_COL,
    STALE_ATTEMPT_S,
    LakeTable,
    Manifest,
    _apply_delta_record,
    _bloom_buf,
    _bloom_may_contain,
    _is_delta_record,
    _manifest_from_dict,
)

# a data file younger than the newest commit record (minus this grace)
# is presumed to belong to an in-flight commit, not orphaned garbage —
# same window vacuum uses to spare freshly written files
_INFLIGHT_GRACE_S = 60.0


def _err(report: dict, code: str, detail: str) -> None:
    report["errors"].append({"code": code, "detail": detail})


def _warn(report: dict, code: str, detail: str) -> None:
    report["warnings"].append({"code": code, "detail": detail})


def _retained_versions(meta_dir: str) -> list[int]:
    out = []
    for fn in os.listdir(meta_dir):
        if fn.startswith("v") and fn.endswith(".json") and not fn.endswith(".ckpt.json"):
            try:
                out.append(int(fn[1:-5]))
            except ValueError:
                continue  # not a record file (e.g. stray name)
    return sorted(out)


def _records_only_state(table: LakeTable, v: int, report: dict) -> Manifest | None:
    """Reconstruct snapshot ``v`` from commit records ALONE — ignoring
    checkpoint sidecars and the process cache — so a checkpoint can be
    verified against an independent replay. Returns None when metadata
    compaction has already dropped the records below ``v`` (then the
    checkpoint IS the only source of truth and can only be sanity-
    checked, not cross-checked)."""
    chain: list[dict[str, Any]] = []
    cur = v
    while True:
        try:
            rec = table._load_record(cur)
        except FileNotFoundError:
            return None  # compacted away — no independent replay possible
        except (json.JSONDecodeError, ValueError, OSError) as e:
            # ValueError covers UnicodeDecodeError: a byte-flipped record
            # is not valid UTF-8 before it is not valid JSON
            _err(report, "record-unreadable", f"v{cur}.json: {e}")
            return None
        if not _is_delta_record(rec):
            try:
                base = _manifest_from_dict(rec)
            except (TypeError, ValueError, KeyError) as e:
                _err(report, "record-unreadable", f"v{cur}.json: {type(e).__name__}: {e}")
                return None
            break
        chain.append(rec)
        try:
            parent = int(rec["parent"])
        except (KeyError, TypeError, ValueError):
            _err(report, "chain-corrupt", f"v{cur}.json: delta record without a parseable parent")
            return None
        if parent >= cur:
            # parents strictly decrease by protocol; a cycle would loop
            # this walk (and the engine's) forever — report, don't hang
            _err(report, "chain-corrupt", f"v{cur}.json: parent v{parent} does not decrease")
            return None
        cur = parent
    m = base
    for rec in reversed(chain):
        try:
            m = _apply_delta_record(m, rec)
        except Exception as e:
            _err(report, "chain-apply-failed", f"v{rec.get('version')}: {type(e).__name__}: {e}")
            return None
    return m


def _manifest_key(m: Manifest) -> tuple:
    return (
        m.version,
        m.key_cols,
        m.n_buckets,
        m.current_schema_version,
        sorted(m.schemas),
        sorted(m.files, key=lambda e: e["path"]),
        m.committed_epochs,
        sorted(m.properties.items(), key=lambda kv: kv[0]),
    )


def _deep_check_file(abspath: str, tag: str, e: dict) -> tuple[int, int, list]:
    """Footer/bloom checks for ONE live data file of the latest
    snapshot: footer row count vs manifest ``rows``, footer key-hash
    min/max vs manifest stats, inline Bloom decodes to its declared
    size and accepts the file's min/max key hashes (both provably
    members — a rejection would be a silent lookup false negative).
    Pure function of (path, manifest entry) so the distributed deep
    scan can ship it to executors; returns
    ``(footers_checked, blooms_checked, [(code, detail), ...])``."""
    import pyarrow.parquet as pq

    errors: list[tuple[str, str]] = []
    try:
        # the WHOLE interrogation is fallible: a flipped footer can open
        # fine and then raise from any lazy accessor (e.g. a non-UTF-8
        # column name breaking path_in_schema — found by the fuzzer)
        md = pq.ParquetFile(abspath).metadata
        num_rows = md.num_rows
        kmin = kmax = None
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                if col.path_in_schema != KHASH_COL:
                    continue
                st = col.statistics
                if st is None or not st.has_min_max:
                    continue
                kmin = st.min if kmin is None else min(kmin, st.min)
                kmax = st.max if kmax is None else max(kmax, st.max)
    except Exception as ex:  # corrupt footer
        return 0, 0, [("footer-unreadable", f"{tag}: {type(ex).__name__}: {ex}")]
    # a tampered entry without "rows" (shipped as null in distributed
    # mode) already reported entry-bad-rows and has nothing to compare
    # against: skip it rather than report the same fault twice
    if e.get("rows") is not None and num_rows != e["rows"]:
        errors.append(("rows-mismatch", f"{tag}: footer={num_rows} manifest={e['rows']}"))
    if kmin is not None and (e.get("khash_min"), e.get("khash_max")) != (kmin, kmax):
        errors.append(
            (
                "khash-stats-mismatch",
                f"{tag}: footer [{kmin},{kmax}] manifest "
                f"[{e.get('khash_min')},{e.get('khash_max')}]",
            )
        )
    bloom = e.get("khash_bloom")
    if bloom is None:
        return 1, 0, errors
    try:
        buf = _bloom_buf(bloom["z"])
    except Exception as ex:
        errors.append(("bloom-undecodable", f"{tag}: {type(ex).__name__}: {ex}"))
        return 1, 0, errors
    try:
        # tampered entries can defeat any of these (m a string, k
        # missing, ...) — the whole probe is one fallible unit
        if len(buf) != int(bloom["m"]) >> 3:
            errors.append(
                (
                    "bloom-size-mismatch",
                    f"{tag}: decoded {len(buf)}B, declared m={bloom['m']} "
                    f"({int(bloom['m']) >> 3}B)",
                )
            )
            return 1, 1, errors
        # min/max are actual member hashes: a Bloom that rejects either
        # would silently drop point lookups (false negative)
        for probe in {kmin, kmax} - {None}:
            if not _bloom_may_contain(bloom, [probe]):
                errors.append(
                    ("bloom-false-negative", f"{tag}: filter rejects in-file key hash {probe}")
                )
    except Exception as ex:
        errors.append(("bloom-undecodable", f"{tag}: {type(ex).__name__}: {ex}"))
    return 1, 1, errors


def _check_entry(
    table: LakeTable,
    m: Manifest,
    e: dict,
    deep: bool,
    report: dict,
    seen: "dict[str, bool]",
    deep_batch: "list | None" = None,
) -> None:
    if not isinstance(e, dict):
        # tampered state can materialize with non-object entries (e.g. a
        # checkpoint whose "files" is a list of strings) — report, don't
        # crash on e.get
        _err(report, "entry-malformed", f"v{m.version}: non-object file entry: {e!r:.80}")
        return
    path = e.get("path")
    tag = f"v{m.version}:{path}"
    if not isinstance(path, str) or not path:
        _err(report, "entry-no-path", f"v{m.version}: file entry without a path: {e!r}")
        return
    if not isinstance(e.get("rows"), int) or e["rows"] < 1:
        _err(report, "entry-bad-rows", f"{tag}: rows={e.get('rows')!r} (zero-row entries are never published)")
    b = e.get("bucket")
    if not isinstance(b, int) or not (0 <= b < m.n_buckets):
        _err(report, "entry-bad-bucket", f"{tag}: bucket={b!r} outside [0, {m.n_buckets})")
    sv = e.get("schema_version")
    if sv is not None and str(sv) not in m.schemas:
        _err(report, "entry-unknown-schema", f"{tag}: schema_version={sv!r} not in manifest schemas")
    abspath = os.path.join(table.root, path)
    if path not in seen:
        seen[path] = os.path.exists(abspath)
        if not seen[path]:
            _err(report, "file-missing", f"{tag}: data file gone (vacuum raced a pin, or external deletion)")
    if not seen[path] or not deep or m.version != report["latest_version"]:
        return
    # deep: parquet footer vs manifest (latest snapshot only — the one
    # readers serve from; older retained snapshots share most files)
    if deep_batch is not None:
        # distributed mode: defer the footer read to the Spark scan
        deep_batch.append((abspath, tag, e))
        return
    footers, blooms, errors = _deep_check_file(abspath, tag, e)
    report["checked"]["footers"] += footers
    report["checked"]["blooms"] += blooms
    for code, detail in errors:
        _err(report, code, detail)


def _suffix_int(name: str, prefix: str) -> int | None:
    try:
        return int(name[len(prefix):])
    except ValueError:
        return None


def _check_delta_log(
    table: LakeTable, delta_dir: str, latest: Manifest, versions: list[int], report: dict
) -> None:
    """Audit a change-log directory against the lake's commit state."""
    committed = set(latest.committed_epochs)
    # a retained rollback (or a truncated retained history, which could
    # hide one) means unmarked epoch dirs are a legal post-rollback
    # state rather than a broken rename protocol
    rollback_possible = 0 not in versions
    for v in versions:
        try:
            if table._load_record(v).get("operation") == "rollback":
                rollback_possible = True
                break
        except (OSError, json.JSONDecodeError, ValueError, AttributeError):
            rollback_possible = True  # unreadable record — can't prove
            break
    now = time.time()

    def _sweep(root: str, kind: str) -> list[int]:
        eps: list[int] = []
        try:
            names = os.listdir(root)
        except OSError:  # absent, or removed between check and listing
            return eps
        for fn in names:
            p = os.path.join(root, fn)
            if fn.startswith("epoch="):
                n = _suffix_int(fn, "epoch=")
                if n is None:
                    _warn(report, "stray-log-dir", f"{kind}: {fn}")
                elif n not in committed:
                    detail = (
                        f"{kind}: epoch={n} is visible but the lake does not "
                        f"mark epoch {n} committed"
                    )
                    if rollback_possible:
                        _warn(
                            report,
                            "epoch-dir-unmarked",
                            detail + " (a retained rollback could have "
                            "unmarked it; re-replay rewrites the dir)",
                        )
                    else:
                        _err(report, "epoch-dir-uncommitted", detail)
                else:
                    eps.append(n)
            elif fn.startswith("_inflight-epoch-"):
                n = _suffix_int(fn, "_inflight-epoch-")
                if n is not None and n in committed:
                    _warn(
                        report,
                        "unhealed-inflight-log",
                        f"{kind}: epoch {n} committed but its attempt dir was "
                        "never finalized (healed on the next replay of that epoch)",
                    )
                else:
                    try:
                        age = now - os.path.getmtime(p)
                    except OSError:
                        continue
                    if age > STALE_ATTEMPT_S:
                        _warn(report, "stale-log-attempt", f"{kind}: {fn} (crashed writer?)")
        return eps

    eps = _sweep(delta_dir, "delta-log")
    if eps:
        missing = sorted(set(range(min(eps), max(eps) + 1)) - set(eps))
        interior_committed = [e for e in missing if e in committed]
        if interior_committed:
            _warn(
                report,
                "epoch-dir-gap",
                f"delta-log: committed epochs {interior_committed} have no "
                "epoch dir inside the visible range (expiry takes a prefix; "
                "an interior gap means a dir was lost or that epoch was "
                "applied without a delta_dir)",
            )
    report["checked"]["log_epochs"] = len(eps)
    _sweep(os.path.join(delta_dir, "_quarantine"), "quarantine")
    _sweep(os.path.join(table.root, "_quarantine"), "quarantine")

    mroot = os.path.join(delta_dir, "_maint")
    n_maint = 0
    try:
        maint_names = os.listdir(mroot)
    except OSError:  # absent, or removed between check and listing
        maint_names = []
    if maint_names:
        for fn in maint_names:
            if fn.startswith("_"):
                try:
                    age = now - os.path.getmtime(os.path.join(mroot, fn))
                except OSError:
                    continue
                if age > STALE_ATTEMPT_S:
                    _warn(report, "stale-maint-attempt", f"_maint/{fn}")
                continue
            if not fn.startswith("version="):
                _warn(report, "stray-log-dir", f"_maint/{fn}")
                continue
            v = _suffix_int(fn, "version=")
            if v is None:
                _warn(report, "stray-log-dir", f"_maint/{fn}")
                continue
            n_maint += 1
            if v > latest.version:
                _err(
                    report,
                    "maint-set-future",
                    f"_maint/version={v} but the lake's latest commit is "
                    f"v{latest.version} (a visible set must prove its commit)",
                )
                continue
            if v in versions:
                try:
                    rec = table._load_record(v)
                except (OSError, json.JSONDecodeError, ValueError):
                    continue  # unreadable record reported by the chain pass
                if not isinstance(rec, dict):
                    continue  # non-object record reported by the chain pass
                if not rec.get("change_token"):
                    _err(
                        report,
                        "maint-set-unclaimed",
                        f"_maint/version={v} exists but commit v{v} declares "
                        "no change emission (change_token missing)",
                    )
    report["checked"]["maint_sets"] = n_maint


def _deep_scan_distributed(spark: Any, deep_batch: list, report: dict) -> None:
    """Run :func:`_deep_check_file` over every (abspath, tag, entry) of
    ``deep_batch`` as one Spark job. Entries travel as JSON strings (the
    inline blooms are already zlib+base64 text, a few KB each); each
    Arrow batch returns only its error tuples plus two counters, so the
    collect is O(errors), not O(files). Error order is made
    deterministic by sorting — partition arrival order is not."""
    entry_keys = ("rows", "khash_min", "khash_max", "khash_bloom")
    rows = [
        (a, t, json.dumps({k: e.get(k) for k in entry_keys})) for a, t, e in deep_batch
    ]

    def scan(batches):
        import pandas as pd

        for pdf in batches:
            recs = []
            footers = blooms = 0
            for a, t, ej in zip(pdf["abspath"], pdf["tag"], pdf["entry"]):
                f, b, errors = _deep_check_file(a, t, json.loads(ej))
                footers += f
                blooms += b
                recs.extend(
                    {"code": c, "detail": d, "footers": 0, "blooms": 0} for c, d in errors
                )
            recs.append({"code": None, "detail": None, "footers": footers, "blooms": blooms})
            yield pd.DataFrame(recs, columns=["code", "detail", "footers", "blooms"])

    parts = max(1, min(len(rows), spark.sparkContext.defaultParallelism * 2))
    out = (
        spark.createDataFrame(rows, "abspath string, tag string, entry string")
        .repartition(parts)
        .mapInPandas(scan, "code string, detail string, footers long, blooms long")
        .collect()
    )
    for r in sorted((r for r in out if r["code"] is not None), key=lambda r: (r["code"], r["detail"])):
        _err(report, r["code"], r["detail"])
    report["checked"]["footers"] += sum(r["footers"] for r in out)
    report["checked"]["blooms"] += sum(r["blooms"] for r in out)


def fsck(
    table: LakeTable,
    deep: bool = False,
    delta_dir: str | None = None,
    spark: Any = None,
) -> dict[str, Any]:
    """Audit ``table`` (and its change log when ``delta_dir`` is given);
    returns a report dict. ``ok`` is True iff no errors (warnings and
    orphans never fail the audit).

    With ``deep=True`` and a ``spark`` session, the per-file footer/
    bloom checks run as ONE Arrow-batched Spark job over the entry list
    (``mapInPandas``) instead of sequential driver reads — the scan is
    O(#files / cores) wall instead of O(#files), which is what makes a
    deep audit of a 10^5-file table practical. Same checks, same codes;
    only errors and two counters come back to the driver."""
    report: dict[str, Any] = {
        "ok": True,
        "root": table.root,
        "deep": deep,
        "latest_version": None,
        "errors": [],
        "warnings": [],
        "orphans": [],
        "checked": {"versions": 0, "files": 0, "footers": 0, "blooms": 0, "checkpoints": 0},
    }
    meta = table._meta_dir
    # 0. pointer
    try:
        latest = table.latest_version()
    except FileNotFoundError:
        _err(report, "no-pointer", "meta/_latest missing (table dropped or never created)")
        report["ok"] = False
        return report
    except ValueError as e:
        _err(report, "pointer-corrupt", f"meta/_latest unparseable: {e}")
        report["ok"] = False
        return report
    report["latest_version"] = latest

    versions = _retained_versions(meta)
    if latest not in versions:
        _err(report, "latest-record-missing", f"pointer says v{latest} but v{latest}.json is absent")

    # 1. every retained version materializes; collect snapshots
    snapshots: dict[int, Manifest] = {}
    for v in versions:
        try:
            snapshots[v] = table.manifest(v)
            report["checked"]["versions"] += 1
        except (
            FileNotFoundError,
            RuntimeError,
            json.JSONDecodeError,
            KeyError,
            IndexError,
            TypeError,
            ValueError,  # incl. UnicodeDecodeError from byte-flipped records
            OSError,
        ) as e:
            _err(report, "unmaterializable", f"v{v}: {type(e).__name__}: {e}")

    # 2. checkpoint sidecars agree with a records-only replay
    for fn in sorted(os.listdir(meta)):
        if not fn.endswith(".ckpt.json"):
            continue
        try:
            cv = int(fn[1 : -len(".ckpt.json")])
        except ValueError:
            _warn(report, "stray-meta-file", fn)
            continue
        try:
            with open(os.path.join(meta, fn), encoding="utf-8") as f:
                ck = _manifest_from_dict(json.load(f))
        except Exception as e:
            _err(report, "checkpoint-unreadable", f"{fn}: {e}")
            continue
        report["checked"]["checkpoints"] += 1
        if ck.version != cv:
            _err(report, "checkpoint-version-mismatch", f"{fn} declares version {ck.version}")
            continue
        replay = _records_only_state(table, cv, report) if cv in snapshots else None
        if replay is not None:
            try:
                divergent = _manifest_key(replay) != _manifest_key(ck)
            except Exception as e:  # noqa: BLE001 — tampered shapes break sort/items
                _err(
                    report,
                    "checkpoint-uncomparable",
                    f"{fn}: state shape defeats comparison: {type(e).__name__}: {e}",
                )
                continue
            if divergent:
                _err(
                    report,
                    "checkpoint-divergent",
                    f"{fn} state differs from the records-only replay of v{cv}",
                )

    # 3. per-snapshot file entries (existence everywhere; deep on latest)
    seen: dict[str, bool] = {}
    deep_batch: list | None = [] if (deep and spark is not None) else None
    for v in sorted(snapshots):
        m = snapshots[v]
        try:
            monotone = m.committed_epochs == sorted(set(m.committed_epochs))
        except TypeError:  # mixed-type epochs in tampered state
            monotone = False
        if not monotone:
            _err(report, "epochs-not-monotone", f"v{v}: committed_epochs {m.committed_epochs!r:.120}")
        if str(m.current_schema_version) not in m.schemas:
            _err(report, "current-schema-missing", f"v{v}: schema {m.current_schema_version} absent")
        else:
            try:
                T.StructType.fromJson(m.schemas[str(m.current_schema_version)])
            except Exception as e:
                _err(report, "schema-unparseable", f"v{v}: {e}")
        if isinstance(m.files, (list, tuple)):
            for e in m.files:
                _check_entry(table, m, e, deep, report, seen, deep_batch)
        else:
            _err(report, "entry-malformed", f"v{v}: files is not a list: {type(m.files).__name__}")
    report["checked"]["files"] = len(seen)
    if deep_batch:
        _deep_scan_distributed(spark, deep_batch, report)

    # 4. tags on the latest snapshot pin RETAINED versions
    if latest in snapshots and not isinstance(snapshots[latest].properties, dict):
        _err(
            report,
            "properties-malformed",
            f"v{latest}: properties is not an object: "
            f"{type(snapshots[latest].properties).__name__}",
        )
    elif latest in snapshots:
        for k, tv in snapshots[latest].properties.items():
            if not isinstance(k, str) or not k.startswith("tag."):
                continue
            try:
                tvi = int(tv)
            except (TypeError, ValueError):
                _err(report, "tag-unparseable", f"{k}={tv!r}")
                continue
            if tvi not in snapshots:
                _err(
                    report,
                    "tag-dangling",
                    f"{k} pins v{tvi}, which is no longer retained "
                    "(tag-vs-vacuum residue, ADVICE r04)",
                )

    # 5. stale writer markers
    now = time.time()
    for fn in os.listdir(meta):
        if fn.startswith(("_inflight.", "_restore-intent.")):
            try:
                age = now - os.path.getmtime(os.path.join(meta, fn))
            except OSError:
                continue  # removed concurrently — not stale
            if age > STALE_ATTEMPT_S:
                _warn(report, "stale-marker", f"{fn} is {age / 3600.0:.1f}h old (crashed writer?)")

    # 6. orphan data files (referenced by NO retained snapshot). If ANY
    # retained version failed to materialize, its references are unknown
    # — files only IT references would be mislabeled orphans, and an
    # operator script deleting report["orphans"] would destroy live data.
    # Suppress the listing rather than publish an untrustworthy one.
    if any(e["code"] in ("unmaterializable", "record-unreadable") for e in report["errors"]):
        _warn(
            report,
            "orphans-suppressed",
            "one or more retained versions failed to materialize — the "
            "orphan listing would be untrustworthy (a file referenced "
            "only by the broken version would be mislabeled); repair the "
            "metadata first",
        )
        live = None
    else:
        live = {
            os.path.normpath(e["path"])
            for m in snapshots.values()
            if isinstance(m.files, (list, tuple))
            for e in m.files
            if isinstance(e, dict) and isinstance(e.get("path"), str) and e["path"]
        }
    data_dir = table._data_dir
    try:
        newest_rec_mtime = os.path.getmtime(table._vpath(latest))
    except OSError:
        newest_rec_mtime = now
    for dirpath, _dirs, files in os.walk(data_dir) if live is not None else ():
        for fn in files:
            if not fn.endswith(".parquet"):
                continue
            p = os.path.join(dirpath, fn)
            rel = os.path.normpath(os.path.relpath(p, table.root))
            if rel in live:
                continue
            try:
                mt = os.path.getmtime(p)
            except OSError:
                continue  # deleted mid-walk (concurrent vacuum) — fine
            if mt >= newest_rec_mtime - _INFLIGHT_GRACE_S:
                _warn(report, "inflight-file", rel)
            else:
                report["orphans"].append(rel)
    report["orphans"].sort()

    # 7. change-log audit (opt-in — the log lives outside the table root)
    if delta_dir is not None and latest in snapshots:
        _check_delta_log(table, delta_dir, snapshots[latest], versions, report)

    report["ok"] = not report["errors"]
    return report
