"""Two-cluster-size scaling proxy: one parallelism level, steady-state.

Measures the extraction job repeatedly until JIT-compiled steady state
(throughput plateau), printing the best rep.  Run under ``taskset`` so
local[8] genuinely has 8 CPUs for JVM *and* Python workers — unpinned, the
8-thread JVM borrows the idle 24 cores for its Python workers and inflates
the baseline.

Findings baked in (see git history / BENCH.md):
- first 1-2 runs are 10-25× slower than steady state (whole-stage-codegen
  classes go through the interpreter until C2 kicks in);
- python workers pay ~1-2 s import on first task → warm the pool first;
- input must come from storage, not an inline generator, and be large
  enough that the measured run is ≥ 5 s at the highest parallelism.

Usage: [taskset -c 0-N] python scripts/scaling_run.py <cores> <n_turns> <parquet> [max_reps]
"""
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
from bench import extraction_throughput, warm_python_workers
from mopper_spark.session import get_spark

m, n, path = int(sys.argv[1]), int(sys.argv[2]), sys.argv[3]
max_reps = int(sys.argv[4]) if len(sys.argv) > 4 else 6

# Heap must scale WITH the simulated cluster size (1 GB/core): on a real
# cluster 4N executors bring 4N× heap, but a fixed local heap turns the
# high-parallelism run into a GC benchmark — measured 1.4M turns/s at 8 GB
# vs 2.3M at 32 GB on the same local[32] job.  A pre-exported
# SPARK_DRIVER_MEMORY wins, and -Xms below always matches it (Xms > Xmx
# would refuse to start the JVM).
heap = os.environ.get("SPARK_DRIVER_MEMORY") or f"{m}g"
os.environ["SPARK_DRIVER_MEMORY"] = heap

# one split per corpus file: packing small files into 128 MB splits would
# leave local[32] with ~5 tasks (split starvation — see
# bench.materialize_transcripts docstring)
s = get_spark(
    f"scaling-{m}",
    f"local[{m}]",
    shuffle_partitions=m,
    extra_conf={
        "spark.sql.files.maxPartitionBytes": str(4 * 1024 * 1024),
        "spark.sql.files.openCostInBytes": "0",
        # commit + fault the whole heap during (untimed) startup: lazy
        # heap commit turns steady-state GC into a host-page-fault storm
        # on virtualized memory — measured 60-80% SYSTEM cpu and rep
        # throughput collapsing 1.4M -> 0.3M turns/s without this
        "spark.driver.extraJavaOptions": f"-Xms{heap} -XX:+AlwaysPreTouch",
    },
)
print(
    f"# cores={m} heap={s.conf.get('spark.driver.memory')} "
    f"splits={s.read.parquet(path).rdd.getNumPartitions()}",
    file=sys.stderr,
)
warm_python_workers(s, m)
# Statistic: the BEST CONTIGUOUS 3-rep MEDIAN WINDOW among post-warmup
# reps.  Rationale, in two steps (BENCH.md):
# - a median (not max) of a window: a best-of-reps max statistic is noisy
#   (observed ±10% run-to-run swings in the efficiency ratio);
# - the best window (not just the last): ambient hypervisor steal is
#   ONE-SIDED noise — it can only slow a rep down, never speed it up — so
#   a steal burst landing on the fixed last-3 window understates true
#   steady-state capability (observed: identical code measuring 0.838
#   then 0.787 efficiency across two solo runs).  The max over sliding
#   3-rep medians estimates the un-stolen steady state while still
#   requiring 3 consecutive fast reps.
# C2 compilation lands by rep ~3, so the first two reps are warm-up.
reps = []
for i in range(max_reps):
    tp = extraction_throughput(s, n, path)
    reps.append(tp)
    print(f"# cores={m} rep={i} tp={tp:,.0f}", file=sys.stderr)
post = reps[2:] if len(reps) > 4 else reps[len(reps) // 2 :]
windows = [sorted(post[i : i + 3])[1] for i in range(len(post) - 2)] or [
    sorted(post)[len(post) // 2]
]
stat = max(windows)
print(
    f"# cores={m} best_window_median={stat:,.0f} "
    f"last_median={sorted(post[-3:])[1]:,.0f} best={max(reps):,.0f}",
    file=sys.stderr,
)
print(f"{stat:.1f}")
s.stop()
