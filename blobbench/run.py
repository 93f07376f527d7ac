"""Outside-in benchmark of the blob engine.

    python3 blobbench/run.py --workload order_api --seed 1 --seconds 10 --trace 0
    python3 blobbench/run.py --workload all --seed 1      # every workload, a table

Each run is one fresh process: it pins the environment, starts the
session, generates and loads its seeded inputs, runs the first, cold
operation (process start to session ready, plus that operation, is the
set-up time), warms the workload until its per-block time stops
falling, then times a fixed number of whole blocks. ``--seconds`` fixes that number (the blocks are sized to take
about that long on a 4-core host); it never cuts a run short, so every
run of a workload does identical work. Output checks run on every
operation, outside the timed region; a failed check counts as a failed
operation. The last stdout line is the result JSON; the full run record
(block series, trend, environment, counters) goes to stderr.

``--trace 1`` does the same work, but every second timed block runs
with spans and engine-wide counters cover the timed region; it reports
the per-layer metrics plus ``trace.overhead_pct`` (traced over untraced
blocks). See METRICS.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback
from collections import defaultdict

# a run writes only under its work dir: no bytecode caches in the checkout
sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "migrate_blob_data_from_rdbms_to_amazon_s3_spark"
WORKLOADS = ("order_api", "migrate_bulk")

END_TO_END = {
    "setup_s": "s",
    "latency_ms": "ms",
    "latency_tail_ms": "ms",
    "ops_per_s": "1/s",
    "mb_per_s": "MB/s",
    "bytes_stored_per_byte": "ratio",
}


class Recorder:
    """Timed operations of one region: per-type latency samples,
    attempted/failed counts and the timed wall time of each block."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.timed_s = 0.0
        self.payload_bytes = 0

    def op(self, kind: str, fn, check=None, span: str | None = None):
        """Time ``fn()`` as one operation of ``kind``; then, untimed,
        ``check(result)`` must return True or the operation fails."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.span(span or kind):
                out = fn()
        except Exception as e:  # a failed operation is counted, never dropped
            self.timed_s += time.perf_counter() - t0
            self.fail(f"{kind}: {type(e).__name__}: {e}"[:300])
            return None
        dt = time.perf_counter() - t0
        self.timed_s += dt
        self.samples[kind].append(dt)
        if check is not None:
            try:
                ok = check(out)
            except Exception as e:
                ok = False
                self.failures.append(f"{kind} check: {type(e).__name__}: {e}"[:300])
            if not ok:
                self.fail(f"{kind}: output check failed")
        return out

    def fail(self, why: str, n: int = 1) -> None:
        self.failed += n
        self.failures.append(why)


class Context:
    """What a workload may use: its seed, run length, work dir, session."""

    def __init__(self, args, work: str):
        self.name = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.work = work
        self.spark = None


def _workload(ctx):
    from importlib import import_module

    mod = {"order_api": "wl_order_api", "migrate_bulk": "wl_migrate"}[ctx.name]
    return import_module(f"blobbench.{mod}").Workload(ctx)


def measure(wl, tracer, alternate: bool):
    """The timed region: every block, whole, on the warmed state. With
    ``alternate``, every second block runs traced and records into its
    own recorder, so traced and untraced blocks share one warm-up curve.
    Returns (untraced recorder, its block walls, traced recorder, its
    block walls)."""
    plain, traced = Recorder(tracer), Recorder(tracer)
    walls = {id(plain): [], id(traced): []}
    for i, spec in enumerate(wl.blocks()):
        rec = traced if alternate and i % 2 else plain
        tracer.enabled = rec is traced
        before = rec.timed_s
        wl.block(rec, spec)
        walls[id(rec)].append(rec.timed_s - before)
    tracer.enabled = False
    return plain, walls[id(plain)], traced, walls[id(traced)]


def run_one(args) -> int:
    import signal

    from blobbench import harness

    # a terminated run still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    work = os.path.join(ROOT, ".blobbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return _run_in(args, work, harness)
    finally:
        _stop_spark(harness)
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def _stop_spark(harness) -> None:
    """Stop the session, the JVM and its Python workers, and wait until
    every process this run started has ended."""
    import signal

    from pyspark import SparkContext

    children = [p for p in harness.tree_pids(os.getpid()) if p != os.getpid()]
    sc = SparkContext._active_spark_context
    if sc is not None:
        try:
            sc.stop()
        except Exception:
            traceback.print_exc()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    else:  # stopped while the JVM was still starting
        _signal(children, signal.SIGTERM)
    deadline = time.time() + 10
    while children and time.time() < deadline:
        children = [p for p in children if _alive(p)]
        time.sleep(0.1)
    _signal(children, signal.SIGKILL)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _signal(pids, sig) -> None:
    for p in pids:
        try:
            os.kill(p, sig)
        except ProcessLookupError:
            pass


def _run_in(args, work: str, harness) -> int:
    env = harness.pin_environment(work, ROOT)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "env": {
            "nproc": harness.nproc(),
            "heap": env["SPARK_GRAFT_DRIVER_MEM"],
            "load1_at_start": harness.load1(),
        },
    }
    sys.path.insert(0, ROOT)
    from migrate_blob_data_from_rdbms_to_amazon_s3_spark import get_spark
    import pyspark

    ctx = Context(args, work)

    t0 = time.perf_counter()
    ctx.spark = spark = get_spark(app_name=f"blobbench-{args.workload}")
    get_spark_s = time.perf_counter() - t0
    session_ready_age = harness.process_age_s()
    record["env"].update(
        pyspark=pyspark.__version__,
        java=spark._jvm.java.lang.System.getProperty("java.version"),
        python=sys.version.split()[0],
    )

    wl = _workload(ctx)
    t0 = time.perf_counter()
    wl.load()
    record["load_s"] = time.perf_counter() - t0

    t0 = time.perf_counter()
    wl.first_op()
    first_op_s = time.perf_counter() - t0
    setup_s = session_ready_age + first_op_s

    warm = harness.warm_up(wl.warm_block, min_blocks=wl.WARM_MIN, max_blocks=wl.WARM_MAX)
    record["warmup_block_s"] = warm
    tracer = harness.Tracer(False)
    if args.trace:
        wl.instrument(tracer)
        counters = harness.Counters(spark)
        counters.start()
    host0, cpu0, w0 = harness.host_cpu_s(), harness.tree_cpu_s(), time.perf_counter()
    rec, walls, rec_t, walls_t = measure(wl, tracer, alternate=bool(args.trace))
    wall = time.perf_counter() - w0
    other = max(0.0, (harness.host_cpu_s() - host0) - (harness.tree_cpu_s() - cpu0))
    record["env"]["other_cpu_share"] = other / (harness.nproc() * wall)
    record["env"]["load1_at_end"] = harness.load1()
    if args.trace:
        cnt = counters.stop()
    final = wl.final_check(rec)
    summ = harness.summarize(rec.samples, walls)
    record["timed"] = summ
    record["final"] = final
    attempted = rec.attempted + rec_t.attempted
    failed = rec.failed + rec_t.failed
    failures = rec.failures + rec_t.failures

    if not args.trace:
        metrics = {
            "setup_s": setup_s,
            "latency_ms": summ["latency_ms"],
            "latency_tail_ms": summ["latency_tail_ms"],
            "ops_per_s": summ["ops_per_s"],
            "mb_per_s": rec.payload_bytes / 1e6 / summ["timed_wall_s"],
            "bytes_stored_per_byte": final["bytes_stored_per_byte"],
        }
    else:
        summ_t = harness.summarize(rec_t.samples, walls_t)
        n_ops = cnt["ops"] = summ["n_ops"] + summ_t["n_ops"]
        metrics = {
            "session.get_spark_s": get_spark_s,
            "session.first_op_s": first_op_s,
            "spark.jobs_per_op": cnt["jobs"] / n_ops,
            "spark.tasks_per_op": cnt["tasks"] / n_ops,
            "spark.input_rows_per_output_row": cnt["input_rows"]
            / max(1, cnt["output_rows"] + wl.rows_returned()),
            "spark.shuffle_mb_per_op": cnt["shuffle_bytes"] / 1e6 / n_ops,
            "process.cpu_s_per_op": cnt["cpu_s"] / n_ops,
            "jvm.gc_share": cnt["gc_ms"] / 1000.0 / cnt["wall_s"],
            "memory.peak_rss_mb": harness.tree_peak_rss_mb(),
            "host.other_cpu_share": cnt["other_cpu_share"],
            "trace.overhead_pct": 100.0 * (summ_t["latency_ms"] / summ["latency_ms"] - 1.0),
            **wl.layer_metrics(tracer, rec_t, cnt, final),
        }
        # a declared layer this workload never calls reads as measured: zero
        metrics = {**dict.fromkeys(_bench()["per_layer"], 0.0), **metrics}
        record["traced"] = {"timed": summ_t, "counters": cnt}

    record["failures"] = failures[:20]
    print(json.dumps(record, default=str), file=sys.stderr)
    units = _bench()["per_layer"]
    suffix = {"_ms": "ms", "_s": "s", "_pct": "%"}
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            k: {
                "value": float(v),
                "unit": END_TO_END.get(k)
                or units.get(k)
                or next((u for sfx, u in suffix.items() if k.endswith(sfx)), "ratio"),
            }
            for k, v in metrics.items()
        },
    }
    print(json.dumps(result))
    return 0


def _bench() -> dict:
    """BENCHMARK.json: the gated workloads and the per-layer units."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return {
        "workloads": [w["name"] for w in b["workloads"]],
        "per_layer": {m["name"]: m["unit"] for m in b["per_layer"]},
    }


def run_all(args) -> int:
    """Every gated workload in its own fresh process; prints one table."""
    rows = []
    for w in _bench()["workloads"]:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=600)
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or not lines:
            print(f"{w}: exit {out.returncode}", file=sys.stderr)
            return 1
        rows.append((w, json.loads(lines[-1])))
    for w, r in rows:
        print(f"{w}: attempted={r['attempted']} failed={r['failed']} correct={r['correct']}")
        for k, m in r["metrics"].items():
            print(f"  {k:44s} {m['value']:14.4f} {m['unit']}")
    print(json.dumps({w: r for w, r in rows}))
    return 0 if all(r["correct"] for _, r in rows) else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)) or not os.path.isfile(
        os.path.join(ROOT, "__spark_entry__.py")
    ):
        print(f"blobbench: no {PACKAGE} package next to {HERE}; nothing to measure",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
