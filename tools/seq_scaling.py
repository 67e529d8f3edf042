"""Sequential-process N-vs-4N scaling measurement.

An interleaved two-persistent-JVM design (both levels alive at once)
turned out to contaminate itself: the nominally idle co-resident JVM keeps
burning ~1-6 cores (GC/netty/compiler threads are sized by MACHINE cores,
not by the local[N] task-thread count), so each level's timing includes
the other's background load.  Here exactly ONE JVM exists at any moment:

    for round in 1..R:  run level-N subprocess (warm + S samples), exit;
                        run level-4N subprocess, exit.

Per-level result = min over all samples of all rounds (quietest window,
host-contention-robust).  Usage:

    python tools/seq_scaling.py [docs] [rounds] [samples] [N] [4N]

Prints one JSON line; per-round progress on stderr.
"""

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WORKER = '''
import sys, time, json
sys.path.insert(0, "{repo}")
from qualityspark.session import get_spark
from pyspark.sql import functions as F
cpus = int(sys.argv[1]); docs = int(sys.argv[2]); samples = int(sys.argv[3])
spark = get_spark(master=f"local[{{cpus}}]", shuffle_partitions=cpus,
                  app=f"scale{{cpus}}")
spark.sparkContext.setLogLevel("ERROR")
spark.conf.set("spark.sql.files.maxPartitionBytes", str(4*1024*1024))
from qualityspark.pipeline import audit
def run_once(path):
    audit(spark.read.parquet(path)).agg(
        F.sum(F.length("scrubbed_text")),
        F.sum(F.col("keep").cast("long"))).collect()
run_once("/tmp/qs_bench_pages_30000.parquet")
run_once("/tmp/qs_bench_pages_30000.parquet")
P = f"/tmp/qs_bench_pages_{{docs}}.parquet"
ts = []
for _ in range(samples):
    t0 = time.time(); run_once(P); ts.append(round(time.time() - t0, 2))
print(json.dumps(ts), flush=True)
spark.stop()
'''


def ensure_corpus(docs: int):
    for n in (docs, 30_000):
        p = f"/tmp/qs_bench_pages_{n}.parquet"
        if not os.path.exists(p):
            code = (f'import sys; sys.path.insert(0, "{REPO}")\n'
                    'from qualityspark.session import get_spark\n'
                    'from qualityspark import synth\n'
                    'spark = get_spark(master="local[32]")\n'
                    f'synth.pages_df(spark, {n}, partitions=64)'
                    f'.write.mode("overwrite").parquet("{p}")\n'
                    'spark.stop()')
            subprocess.run([sys.executable, "-c", code], check=True)


def run_level(cpus: int, docs: int, samples: int) -> list[float]:
    out = subprocess.run(
        [sys.executable, "-c", WORKER.format(repo=REPO),
         str(cpus), str(docs), str(samples)],
        capture_output=True, text=True, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def main():
    docs = int(sys.argv[1]) if len(sys.argv) > 1 else 300_000
    rounds = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    samples = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    lo = int(sys.argv[4]) if len(sys.argv) > 4 else 4
    hi = int(sys.argv[5]) if len(sys.argv) > 5 else 4 * lo
    ensure_corpus(docs)
    res = {lo: [], hi: []}
    for r in range(rounds):
        for cpus in (lo, hi):
            ts = run_level(cpus, docs, samples)
            res[cpus].extend(ts)
            print(f"round {r} local[{cpus}]: {ts}", file=sys.stderr,
                  flush=True)
    t_lo, t_hi = min(res[lo]), min(res[hi])
    out = {f"t{lo}": t_lo, f"t{hi}": t_hi,
           "efficiency": round(t_lo / t_hi / (hi / lo), 3), "docs": docs,
           f"samples_t{lo}": res[lo], f"samples_t{hi}": res[hi]}
    print(json.dumps(out))


if __name__ == "__main__":
    main()
