"""Run one benchmark workload with a seed and print its metrics.

    python3 perfbench/run.py --workload label_upload --seed 1 --seconds 20 --trace 0

Run from the root of a checkout of the repository. The last line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``). The lines before it report
every metric with its unit and sample count, the per-operation
medians, the failure ratio and the run's environment. See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import shutil
import signal
import statistics
import sys
import time

ROOT = os.getcwd()
# end-to-end metrics gated by BENCHMARK.json, in output order
E2E = [("setup_s", "s"), ("wall_s", "s"), ("rows_per_s", "1/s"), ("peak_rss_mb", "MB")]
SETUP_REPS = 3


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_env(tmp_root: str) -> dict[str, str]:
    """Settings every run records. Everything the JVM, Spark and the
    Python workers write goes under ``tmp_root``."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_mb = int(f.readline().split()[1]) // 1024
    tmp = os.path.join(tmp_root, "tmp")
    local = os.path.join(tmp_root, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        # the package default (20g) exceeds small machines; a quarter of
        # memory, capped at 2g, leaves room for the workers
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1, min(2, mem_mb // 4096))}g",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
        ),
    }
    os.environ.update(env)
    return env


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "labelspark_spark", "__init__.py")):
        print(f"perfbench: no labelspark_spark package under {ROOT}; "
              "run from the root of a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    # SIGTERM unwinds like an exception, so the temp root is removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    load_avg = os.getloadavg()
    tmp_root = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(tmp_root, ignore_errors=True)
    os.makedirs(tmp_root)
    try:
        env = configure_env(tmp_root)
        result = run(args, WORKLOADS[args.workload], tmp_root)
    finally:
        shutil.rmtree(tmp_root, ignore_errors=True)
    import pyspark

    result["env"] = {
        **env, "pyspark": pyspark.__version__, "python": platform.python_version(),
        "load_avg_at_start": load_avg,
    }
    report(args, result)
    return 0


def run(args, workload_cls, tmp_root: str) -> dict:
    from perfbench import harness, tracing

    spark = None
    try:
        spark, session_s, jvm_pid = harness.start_session(tmp_root)
        tracer = harness.Tracer()
        wl = workload_cls(spark, args.seed, traced=bool(args.trace))

        # set-up: fresh inputs and transport state, made SETUP_REPS times
        # (median reported), then one warm-up round that pays JIT and
        # worker start before anything is timed
        reps = []
        for k in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.extra.clear()
            wl.prepare(os.path.join(tmp_root, f"run-{k}"), tracer)
            reps.append(time.perf_counter() - t0)
            if k:
                shutil.rmtree(os.path.join(tmp_root, f"run-{k - 1}"), ignore_errors=True)
        warm = harness.Runner(harness.Tracer(), None)
        t0 = time.perf_counter()
        wl.warm_up(warm)
        warm_s = time.perf_counter() - t0
        setup_extra = dict(wl.extra)

        counters = harness.SparkCounters(spark)
        runner = harness.Runner(tracer, counters)
        runner.on_op_end = wl.traced.transport.drain
        rounds = []
        wl.extra.clear()
        deadline = time.perf_counter() + args.seconds
        epoch = 0
        while True:
            # the traced run alternates untraced and traced epochs and
            # starts and ends untraced (at least U T U), so a drift during
            # the run (the JIT still warming) cancels out of the overhead
            traced = bool(args.trace) and epoch % 2 == 1
            wl.start_epoch()
            client = wl.traced if traced else wl.plain
            with tracing.patched(tracer, client) if traced else contextlib.nullcontext():
                tracer.enabled = traced
                for r in range(wl.rounds_per_epoch):
                    runner.start_round()
                    first_span = len(tracer.spans)
                    rows0 = runner.rows
                    wl.round(runner, client, r)
                    rounds.append({
                        "epoch": epoch,
                        "traced": traced,
                        "ops": list(runner.round_ops),
                        "op_s": sum(dt for _, dt in runner.round_ops),
                        "rows": runner.rows - rows0,
                        "spans": tracer.spans[first_span:],
                        "counters": dict(runner.round_counters),
                    })
                tracer.enabled = False
            epoch += 1
            done = time.perf_counter() >= deadline
            if done and (not args.trace or (epoch >= 3 and epoch % 2 == 1)):
                break
        peak = harness.peak_rss_mb(jvm_pid)
    finally:
        harness.stop_session(spark)

    plain = [r for r in rounds if not r["traced"]]
    traced_rounds = [r for r in rounds if r["traced"]]
    # the epoch is the unit: its rounds differ on purpose (label_upload's
    # spool grows across them), so wall_s is the median over epochs of
    # the mean round time within each
    plain_epochs = per_epoch_round_s(plain)
    epoch_rates = per_epoch_rows_per_s(plain)
    out = {
        "attempted": runner.attempted + warm.attempted,
        "failed": runner.failed + warm.failed,
        "failures": warm.failures + runner.failures,
        "rounds": len(plain),
        "e2e": {
            "setup_s": (session_s + harness.median(reps) + warm_s,
                        f"session start {session_s:.2f} + median of {len(reps)} input "
                        f"set-ups {harness.median(reps):.2f} + warm-up {warm_s:.2f}"),
            "wall_s": (harness.median(plain_epochs),
                       f"median of {len(plain_epochs)} epochs of {wl.rounds_per_epoch} rounds"),
            "rows_per_s": (harness.median(epoch_rates),
                           f"median of {len(epoch_rates)} epochs; "
                           f"{sum(r['rows'] for r in plain)} rows over {len(plain)} rounds"),
            "peak_rss_mb": (peak, "driver JVM + Python"),
        },
        "round_s": [r["op_s"] for r in plain],
        "ops": wl.op_medians(plain),
        "op_latency": {
            kind: [dt for r in plain for k, dt in r["ops"] if k == kind]
            for kind in dict.fromkeys(k for r in plain for k, _ in r["ops"])
        },
    }
    if args.trace:
        extra = {m: harness.median(v) for m, v in {**setup_extra, **wl.extra}.items()}
        extra["session.start_s"] = session_s
        overhead = harness.median(per_epoch_round_s(traced_rounds)) - out["e2e"]["wall_s"][0]
        out["per_layer"] = tracing.layer_metrics(
            traced_rounds, int(os.environ["SPARK_GRAFT_CPUS"]), extra, overhead
        )
        out["traced_rounds"] = len(traced_rounds)
        out_dir = os.path.join(ROOT, ".perfbench_out")
        tracing.write_spans(
            os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.jsonl"), traced_rounds
        )
    return out


def per_epoch_round_s(rounds: list[dict]) -> list[float]:
    """Mean round time of each epoch, in epoch order."""
    by_epoch: dict[int, list[float]] = {}
    for r in rounds:
        by_epoch.setdefault(r["epoch"], []).append(r["op_s"])
    return [sum(v) / len(v) for v in by_epoch.values()]


def per_epoch_rows_per_s(rounds: list[dict]) -> list[float]:
    """Input rows per second of operation time of each epoch, in epoch order."""
    by_epoch: dict[int, list[float]] = {}
    for r in rounds:
        rows_s = by_epoch.setdefault(r["epoch"], [0.0, 0.0])
        rows_s[0] += r["rows"]
        rows_s[1] += r["op_s"]
    return [rows / s for rows, s in by_epoch.values() if s]


def report(args, res: dict) -> None:
    attempted, failed = res["attempted"], res["failed"]
    print(f"perfbench {args.workload} seed={args.seed} seconds={args.seconds:g} trace={args.trace}")
    print("env " + json.dumps(res["env"], sort_keys=True))
    for name, (value, how) in res["e2e"].items():
        unit = dict(E2E)[name]
        print(f"  {name:<16} {value:12.4f} {unit:<4} ({how})")
    print("  rounds (s): " + " ".join(f"{v:.3f}" for v in res["round_s"]))
    for name, value, unit, n in res["ops"]:
        print(f"  {name:<16} {value:12.4f} {unit:<4} (median of {n})")
    for kind, values in res["op_latency"].items():
        print(f"    op {kind:<28} {statistics.median(values):9.4f} s (median of {len(values)})")
    ratio = failed / attempted if attempted else 1.0
    print(f"  {'failed_op_ratio':<16} {ratio:12.4f} ratio ({failed} of {attempted} operations)")
    for f in res["failures"][:20]:
        print(f"  FAILED {f.splitlines()[-1] if f.strip() else f}")
    if args.trace:
        print(f"  traced rounds: {res['traced_rounds']}, untraced rounds: {res['rounds']}")
        metrics = {}
        for name, value in res["per_layer"].items():
            unit = _layer_unit(name)
            metrics[name] = {"value": value, "unit": unit}
            print(f"  {name:<32} {value:14.6f} {unit}")
    else:
        metrics = {name: {"value": res["e2e"][name][0], "unit": unit} for name, unit in E2E}
    print(f"verdict: {'correct' if failed == 0 else 'INCORRECT'}")
    print(json.dumps({
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))


def _layer_unit(name: str) -> str:
    if name.endswith("_s") or name == "enrich.s":
        return "s"
    if name.endswith("bytes") or name == "sources.bytes_written":
        return "bytes"
    if name.endswith(("recall", "recall_at_k", "per_planted", "utilization")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
