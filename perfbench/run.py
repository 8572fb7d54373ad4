"""Benchmark entry point.

    python3 perfbench/run.py --workload batch_counts --seed 1 --seconds 10 --trace 0

Run from the repository root. Inputs are generated from the seed (and
cached by seed under .bench_work/), one Spark session runs at local[nproc],
and the last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones; with --trace 1 they are the per-layer ones from a
separate traced run, and a per-layer table is printed above the JSON.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

DEFAULT_SEED = 1
HELD_OUT_SEED = 7919  # never used while tuning; confirms a claimed gain


def probe_mops(seconds: float = 0.25) -> float:
    """Single-thread pure-Python spin rate, M increments/s."""
    t0 = time.perf_counter()
    n = x = 0
    while time.perf_counter() - t0 < seconds:
        for _ in range(100_000):
            x += 1
        n += 100_000
    return n / (time.perf_counter() - t0) / 1e6


def program_digest() -> str:
    """sha256 over the program's sources, for checkouts that are not git repos."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "bocadillo_spark")
    for d, _dirs, files in sorted(os.walk(pkg)):
        for name in sorted(files):
            if name.endswith(".py"):
                p = os.path.join(d, name)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    try:
        r = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return r.stdout.strip() if r.returncode == 0 else None


def fingerprint(spark, cores: int, seed: int) -> dict:
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "master": spark.sparkContext.master,
        "local_cores": cores,
        "probe_mops": round(probe_mops(), 2),
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "pyspark": pyspark.__version__,
        "git_commit": git_commit(),
        "program_sha256": program_digest(),
        "seed": seed,
        "default_seed": DEFAULT_SEED,
        "held_out_seed": HELD_OUT_SEED,
    }


def report(w: str, outcome, fp: dict, trace: bool) -> None:
    """Human-readable summary, printed above the JSON line."""
    from workloads import E2E_METRICS

    print(f"== {w}  seed={fp['seed']}  {fp['master']}  probe={fp['probe_mops']} Mops  "
          f"java={fp['java']}  pyspark={fp['pyspark']}  program={fp['program_sha256']}  "
          f"commit={fp['git_commit']}")
    print("corpus: " + json.dumps(outcome.info.get("corpus", {}), sort_keys=True))
    extra = {k: v for k, v in outcome.info.items() if k != "corpus"}
    if extra:
        print("run: " + json.dumps(extra, sort_keys=True))
    frac = outcome.failed / outcome.attempted if outcome.attempted else 1.0
    print(f"attempted={outcome.attempted} failed={outcome.failed} failed_frac={frac:.4f}")
    for msg in outcome.failures[:20]:
        print(f"  CHECK FAILED: {msg}")
    if not trace:
        for name, unit in E2E_METRICS:
            print(f"  {name:<16} {outcome.metrics.get(name, float('nan')):>14.6g} {unit}")
        return
    if outcome.prefix_table:
        print(f"  {'layer':<32}{'self_s':>9}{'prefix_s':>10}{'rows_in':>10}{'rows_out':>10}"
              f"{'shuffle_MB':>11}{'skew':>7}")
        for r in outcome.prefix_table:
            def f(k, fmt):
                v = r.get(k)
                return format(v, fmt) if isinstance(v, (int, float)) else format("-", ">" + fmt.split(".")[0].rstrip("df"))
            print(f"  {r['layer']:<32}{f('self_s', '9.3f')}{f('prefix_s', '10.3f')}"
                  f"{f('rows_in', '10d')}{f('rows_out', '10d')}{f('shuffle_mb', '11.2f')}"
                  f"{f('skew', '7.2f')}")
    lay = outcome.layers
    if "trace.untraced_wall_s" in lay:
        u = lay["trace.untraced_wall_s"]
        s = lay["trace.layer_sum_s"]
        gap = abs(s - u) / u if u else float("nan")
        print(f"  layer sum {s:.3f} s vs untraced pass {u:.3f} s (gap {gap:.1%}); "
              f"tracing overhead {lay['trace.overhead_frac']:+.1%}")
    for k in sorted(lay):
        print(f"  {k:<28} {lay[k]:.6g}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".bench_work")
    os.makedirs(work, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    sys.path[:0] = [HERE, ROOT]

    import workloads  # imports the program: fails where it is absent
    from tracing import ProcTree, Tracer, host_steal

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    trace = bool(args.trace)
    wl = workloads.WORKLOADS[args.workload](args.seed, work)
    wl.prepare(args.seconds)

    tracer, tree = Tracer(), ProcTree()
    t_setup0 = time.perf_counter()
    steal0 = host_steal()
    spark = workloads.start_spark(work, trace)
    try:
        outcome = wl.run(spark, args.seconds, trace, t_setup0, tracer, tree)
        steal1 = host_steal()
        outcome.info["host_steal_frac"] = round((steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]), 4)
        fp = fingerprint(spark, workloads.nproc(), args.seed)  # after the clock: not set-up
    finally:
        workloads.stop_spark(spark)

    if trace:
        names = [n for n, _u, _b in workloads.LAYER_METRICS]
        units = {n: u for n, u, _b in workloads.LAYER_METRICS}
        values = {n: float(outcome.layers.get(n, 0.0)) for n in names}
    else:
        units = dict(workloads.E2E_METRICS)
        values = {n: float(outcome.metrics[n]) for n in units}
    result = {
        "correct": outcome.failed == 0 and not outcome.failures,
        "attempted": int(outcome.attempted),
        "failed": int(outcome.failed),
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in values.items()},
    }
    stamp = f"{args.workload}-s{args.seed}-t{args.trace}-{tracer.run_id}"
    tracer.dump(os.path.join(work, "traces", f"{stamp}.json"))
    with open(os.path.join(work, "traces", f"{stamp}.result.json"), "w") as f:
        json.dump(
            {**result, "fingerprint": fp, "info": outcome.info, "failures": outcome.failures,
             "layers": outcome.layers, "prefix_table": outcome.prefix_table},
            f, indent=1, sort_keys=True, default=str,
        )
    report(args.workload, outcome, fp, trace)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
