#!/usr/bin/env python3
"""CDC engine benchmark: one workload run, one JSON result line.

    python3 cdcbench/run.py --workload tail_mor --seed 1 --seconds 12 --trace 0

Run from the root of a checkout of this repository; the engine is
imported from ``etlbox_spark/`` next to this directory. Inputs are
generated from ``--seed`` and landed before Spark starts. The run builds
its tables several times (set-up), warms up one cycle, then runs whole
cycles of timed operations until ``--seconds`` have been measured, checks
the result against an independent oracle and prints one context line and
then, as the last line, the result object. ``--trace 1`` runs the traced
variant: engine entry points wrapped in spans, Spark's event log on, and
per-layer metrics instead of end-to-end ones.

Everything the run writes lives under ``.cdcbench_work/`` in the checkout
and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# the operations are bound by per-job overhead: on a 4-vCPU VM local[2]
# ran as fast as local[4] and leaves headroom for JVM threads
MASTER_CORES = 2
HEAP = "3g"
DEFAULT_SEED = 1  # develop against this; seed 9001 is held out for checking a claimed gain


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=["tail_mor", "corpus_dedup"])
    p.add_argument("--seed", type=int, default=DEFAULT_SEED)
    p.add_argument("--seconds", type=float, default=12.0)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def proc_stat() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat; zeros where unavailable."""
    try:
        with open("/proc/stat", encoding="ascii") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return 0, 0
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def start_spark(work: str, cores: int, event_log: str | None):
    from etlbox_spark.session import get_spark

    conf = {
        "spark.driver.memory": HEAP,
        "spark.driver.extraJavaOptions": f"-Xms{HEAP}",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(app_name="cdcbench", master=f"local[{cores}]",
                     shuffle_partitions=cores, extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - any failure to exit ends in a kill
            proc.kill()
            proc.wait()


def gc_ms(spark) -> int:
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans)


def window_cycles(wl, spark, seconds: float, trace: bool) -> tuple[list, list[bool]]:
    """Run whole cycles until ``seconds`` of operations are measured.
    Traced runs alternate untraced and traced cycles in ABBA blocks so a
    warm-up trend cancels in the overhead ratio."""
    cycles, traced_flags, measured = [], [], 0.0
    pattern = (False, True, True, False) if trace else (False,)
    while True:
        block_done = len(cycles) % len(pattern) == 0
        if block_done and measured >= seconds:
            break
        traced = pattern[len(cycles) % len(pattern)]
        wl.tracer.active = traced
        try:
            ops = wl.cycle(spark)
        finally:
            wl.tracer.active = False
        if ops is None:  # inputs used up: stop at the last whole block
            while len(cycles) % len(pattern):
                cycles.pop()
                traced_flags.pop()
            break
        cycles.append(ops)
        traced_flags.append(traced)
        measured += sum(op.wall for op in ops)
        if not all(op.ok for op in ops):
            break
    return cycles, traced_flags


def run(args: argparse.Namespace, work: str) -> int:
    import gen
    import stats
    from spans import Tracer
    from workloads import WORKLOADS, dir_bytes, live_file_bytes

    trace = bool(args.trace)
    cores = min(MASTER_CORES, os.cpu_count() or 1)
    tracer = Tracer()
    wl = WORKLOADS[args.workload](os.path.join(work, "data"), args.seed, tracer)

    t0 = time.perf_counter()
    wl.land()
    gen_s = time.perf_counter() - t0
    fp = gen.fingerprint(wl.work)

    t0 = time.perf_counter()
    event_log = os.path.join(work, "eventlog") if trace else None
    spark = start_spark(work, cores, event_log)
    try:
        spark.range(1).count()
        jvm_s = time.perf_counter() - t0
        tracer.sc = spark.sparkContext
        if trace:
            tracer.install_engine()
        setup_walls = []
        for rep in range(wl.SETUP_REPS):
            t0 = time.perf_counter()
            wl.setup(spark, rep)
            setup_walls.append(time.perf_counter() - t0)
            if rep:
                shutil.rmtree(os.path.join(wl.work, f"t{rep - 1}"))
        wl.start()
        t0 = time.perf_counter()
        warm = wl.warmup(spark)
        warmup_s = time.perf_counter() - t0
        if not warm or not all(op.ok for op in warm):
            raise RuntimeError(f"warm-up failed: {[op.error for op in warm or [] if not op.ok]}")

        bytes0 = dir_bytes(*wl.lake_dirs())
        gc0, (steal0, tot0) = gc_ms(spark), proc_stat()
        w0 = time.perf_counter()
        cycles, traced_flags = window_cycles(wl, spark, args.seconds, trace)
        wall_clock = time.perf_counter() - w0
        gc1, (steal1, tot1) = gc_ms(spark), proc_stat()
        bytes1 = dir_bytes(*wl.lake_dirs())

        ops = [op for c in cycles for op in c]
        check_errors = wl.check(spark)
        live = sum(live_file_bytes(t) for t in wl.tables())
        live_rows = wl.live_rows()
        layer_inputs = None
        if trace:
            import layers

            layer_inputs = layers.gather(wl, cycles, traced_flags)
    finally:
        tracer.uninstall()
        stop_spark(spark)

    timed_ops = [op for c, t in zip(cycles, traced_flags) if not t for op in c]
    s = stats.summarize(timed_ops)
    # the timed operations plus the final oracle check
    attempted = len(ops) + 1
    failed = sum(not op.ok for op in ops) + bool(check_errors)
    errors = [f"{op.kind}: {op.error}" for op in ops if not op.ok] + check_errors
    all_items = sum(op.items for op in ops if op.kind == "commit")
    e2e = {
        "setup_s": (statistics.median(setup_walls) + warmup_s, "s"),
        "items_per_s": (s["items_per_s"], "1/s"),
        "commit_p50_ms": (s["commit_p50_ms"], "ms"),
        "feed_p50_ms": (s["feed_p50_ms"], "ms"),
        "lookup_p50_ms": (s["lookup_p50_ms"], "ms"),
        "write_bytes_per_item": ((bytes1 - bytes0) / all_items if all_items else None, "B"),
        "live_bytes_per_row": (live / live_rows if live_rows else None, "B"),
    }
    steal_pct = 100.0 * (steal1 - steal0) / (tot1 - tot0) if tot1 > tot0 else None
    context = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "input_sha256": fp, "master": f"local[{cores}]", "shuffle_partitions": cores,
        "heap": HEAP, "nproc": os.cpu_count(), "steal_pct": steal_pct,
        "spark.gc_share": (gc1 - gc0) / (wall_clock * 1000.0) if wall_clock else None,
        "gen_s": gen_s, "jvm_s": jvm_s, "setup_reps_s": setup_walls, "warmup_s": warmup_s,
        "cycles": len(cycles), "unit": wl.unit, "window_s": s["window_s"],
        "units": sum(op.kind == "commit" for op in timed_ops),
        **{f"{k}_tail_ms": s[f"{k}_tail_ms"] for k in ("commit", "feed", "lookup")},
        "op_ms": {k: [round(op.wall * 1000.0) for op in timed_ops if op.kind == k]
                  for k in ("commit", "feed", "lookup")},
        "failed_ops_ratio": failed / attempted,
        "errors": errors[:10],
        **{k: v for k, (v, _) in e2e.items()},
    }
    if trace:
        import layers

        metrics, self_times = layers.per_layer(layer_inputs, event_log, s["items_per_s"])
        metrics["spark.gc_share"] = {"value": context["spark.gc_share"], "unit": "1"}
        context["self_times"] = self_times
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(json.dumps({"context": context}, default=str))
    correct = not errors and all(m["value"] is not None for m in metrics.values())
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "etlbox_spark", "__init__.py")):
        print(f"cdcbench: no etlbox_spark package under {ROOT}; run from a checkout of the repository",
              file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".cdcbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # every JVM and temp file of the run stays inside the checkout; the
    # variable also reaches spark-submit's launcher JVM
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    tempfile.tempdir = None
    sys.path[:0] = [HERE, ROOT]
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass  # another run still owns it, or it is already gone


if __name__ == "__main__":
    sys.exit(main())
