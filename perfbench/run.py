"""qualityspark benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --smoke

Runs one workload (see BENCHMARK.json and perfbench/README.md) from the
root of a checkout: writes its inputs from the seed, sets up (session
start, inputs, reference answer, warm-up), then runs back-to-back
iterations in a closed loop with one client
for S seconds, checking every iteration's output.  Times are reported net
of hypervisor steal (``common.unstolen_share``).  ``--trace 1`` instead
runs the traced pass that times each layer.  The last stdout line is the
result JSON; the line before it is the environment record.

``--smoke`` runs every workload at toy size (``--small``), untraced and
traced, and checks that each metric BENCHMARK.json names is printed with
its unit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def stop_spark(spark) -> None:
    """Stops the session, the JVM and its Python workers, and waits for
    each process to end."""
    from pyspark import SparkContext
    from perfbench.common import _children
    kids = _children()
    todo, tree = list(kids.get(os.getpid(), ())), []
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(kids.get(pid, ()))
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.time() + 20
    for pid in tree:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, signal.SIGKILL)
    for pid in tree:    # reap direct children
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


def run_workload(name: str, seed: int, seconds: float, trace: bool,
                 small: bool = False) -> tuple[dict, dict, list[str]]:
    """Returns (result, environment record, human-readable lines)."""
    from perfbench import common
    from perfbench.workloads import WORKLOADS

    k = common.cores()
    work = os.path.join(common.WORK, f"{name}-{seed}")
    shutil.rmtree(work, ignore_errors=True)
    checks, spark = [], None
    try:
        t0, c0 = time.perf_counter(), common.cpu_clock()
        spark = common.start_spark(k)
        wl = WORKLOADS[name](spark, seed, small, work)
        checks.append(wl.setup())
        setup_raw, c1 = time.perf_counter() - t0, common.cpu_clock()
        setup_s = setup_raw * common.unstolen_share(c0, c1)
        env = common.environment(spark, k, seed, wl.sizes())
        env["setup_steal_share"] = common.steal_share(c0, c1)
        lines = [f"setup_s {setup_s:.3f} s net of steal, {setup_raw:.3f} s "
                 "raw (session start, inputs, reference, warm-up)"]
        if trace:
            labels, c_start = common.Labels(spark), common.cpu_clock()
            with common.RssSampler() as rss:
                layer = wl.trace(labels)
            env["steal_share"] = common.steal_share(c_start,
                                                    common.cpu_clock())
            layer["proc.peak_rss_mb"] = rss.peak
            checks.append(True)     # trace() raises on a wrong output
            want = {m["name"]: m["unit"] for m in spec()["per_layer"]}
            unknown = set(layer) - set(want)
            if unknown:
                raise RuntimeError(f"undeclared layer metrics {unknown}")
            # a layer this workload never calls spends 0 s / 0 jobs in it
            metrics = {n: {"value": float(layer.get(n, 0.0)), "unit": u}
                       for n, u in want.items()}
            if name == "webtext_run":
                top, prod = layer["ladder.top_s"], layer[
                    "pipeline.audit_noop_s"]
                lines.append(f"ladder top rung {top:.3f} s vs pipeline.audit "
                             f"noop {prod:.3f} s "
                             f"({abs(top - prod) / prod:.1%} apart)")
        else:
            clock, net = [], []     # (raw wall, busy, steal) per iteration
            c_start = common.cpu_clock()
            with common.RssSampler() as rss:
                end = time.perf_counter() + seconds
                # the next iteration starts only if it should end in time
                while not clock or (time.perf_counter() + statistics.median(
                        c[0] for c in clock) < end):
                    common.quiesce(spark)
                    c0 = common.cpu_clock()
                    t, ok = wl.iteration()
                    c1 = common.cpu_clock()
                    clock.append((t, c1[0] - c0[0], c1[1] - c0[1]))
                    net.append(t * common.unstolen_share(c0, c1))
                    checks.append(ok)
            env["steal_share"] = common.steal_share(c_start,
                                                    common.cpu_clock())
            env["iterations"] = [[round(x, 3) for x in c] for c in clock]
            q1, med, q3 = common.quartiles(net)
            r1, rmed, r3 = common.quartiles([c[0] for c in clock])
            metrics = {
                "wall_s": {"value": med, "unit": "s"},
                "docs_per_s": {"value": wl.records / med, "unit": "1/s"},
                "setup_s": {"value": setup_s, "unit": "s"},
            }
            lines.append(f"wall_s median {med:.4f} s net of steal, quartiles "
                         f"{q1:.4f} / {q3:.4f}, n={len(net)}")
            lines.append(f"raw wall median {rmed:.4f} s, quartiles "
                         f"{r1:.4f} / {r3:.4f}; steal took "
                         f"{env['steal_share']:.1%} of busy + stolen CPU "
                         "time")
            lines.append(f"docs_per_s {wl.records / med:.1f} "
                         f"({wl.records} records / median wall_s); raw "
                         f"{wl.records / rmed:.1f}")
            lines.append(f"peak_rss_mb {rss.peak:.1f} (driver + JVM + "
                         "Python workers, timed loop)")
        env["loadavg_after"] = os.getloadavg()
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    failed = checks.count(False)
    lines.append(f"fail_ratio {failed / len(checks):.4f} "
                 f"({failed} failed of {len(checks)} attempted: "
                 f"warm-up checks plus iterations)")
    result = {"correct": failed == 0, "attempted": len(checks),
              "failed": failed, "metrics": metrics}
    return result, env, lines


def smoke() -> int:
    """Every workload at toy size, untraced and traced: each metric name
    BENCHMARK.json declares is printed with its unit."""
    s = spec()
    want = {0: {m["name"]: m["unit"] for m in s["end_to_end"]},
            1: {m["name"]: m["unit"] for m in s["per_layer"]}}
    bad = []
    for w in s["workloads"]:
        for trace in (0, 1):
            # one process per run: a JVM serves one process for its life
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--small",
                 "--workload", w["name"], "--seed", "1", "--seconds", "1",
                 "--trace", str(trace)],
                cwd=ROOT, capture_output=True, text=True, timeout=600)
            out = proc.stdout.strip().splitlines()
            result = json.loads(out[-1]) if proc.returncode == 0 else {}
            got = {n: m["unit"]
                   for n, m in result.get("metrics", {}).items()}
            print(f"{w['name']} trace={trace}: "
                  + (json.dumps(result) if result else proc.stderr[-2000:]))
            if got != want[trace] or not result.get("correct"):
                bad.append((w["name"], trace))
    print("smoke ok" if not bad else f"smoke FAILED: {bad}")
    return 1 if bad else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--small", action="store_true",
                    help="toy input sizes (what --smoke runs)")
    args = ap.parse_args()
    try:
        import qualityspark     # noqa: F401  the program under test
        from perfbench.workloads import WORKLOADS
    except ImportError:
        traceback.print_exc()
        print("perfbench: the qualityspark sources are not in this "
              "checkout", file=sys.stderr)
        return 2
    if args.smoke:
        return smoke()
    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}")
    result, env, lines = run_workload(args.workload, args.seed, args.seconds,
                                      bool(args.trace), args.small)
    for line in lines:
        print(line)
    print(json.dumps({"env": env}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
