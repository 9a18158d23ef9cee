#!/usr/bin/env python
"""Two-parallelism scaling evidence (north rule: efficiency >= 0.8 from N to 4N).

No real cluster exists in the sandbox, so per driver instruction this runs the
IDENTICAL validation job on IDENTICAL input at two local parallelism levels
(default local[8] vs local[32]) in separate processes, and reports throughput
at both plus efficiency = (T_N / T_4N) / (4N/N).

Usage: python BENCH/scaling.py [--clips 40000] [--cores 8,32] [--out BENCH/BASELINE.md]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_CHILD = r"""
import json, os, sys, time
sys.path.insert(0, os.environ["RTAD_REPO"])
from real_time_anomaly_detection_spark import engine, synth
from real_time_anomaly_detection_spark.operators import drift
from real_time_anomaly_detection_spark.session import get_spark

cores = int(os.environ["RTAD_CORES"])
n_clips = int(os.environ["RTAD_CLIPS"])
spark = get_spark(f"rtad-scaling-{cores}", cores=cores, shuffle_partitions=max(cores, 8))
# synthesize once (cached as parquet under .cache/); both levels read the same files
path = os.path.join(os.environ["RTAD_REPO"], ".cache", f"clips_bench_{n_clips}")
cfg = synth.golden_config(n_clips=n_clips, clips_per_partition=max(n_clips // 20, 1))
if not os.path.exists(os.path.join(path, "_SUCCESS")):
    synth.clips_df(spark, cfg).write.mode("overwrite").parquet(path)
    synth.transcripts_ref_df(spark, cfg).write.mode("overwrite").parquet(path + "_refs")
clips, refs = spark.read.parquet(path), spark.read.parquet(path + "_refs")
clean = synth.scaled(synth.clean_config(), n_clips=4000, clips_per_partition=1000)
baseline = drift.make_baseline(synth.clips_df(spark, clean), ("dur_ms", "sr_hz"))
n_rows = clips.count()
def run_once():
    # Clear all persisted data BEFORE timing: engine.validate persists the
    # shared meta projection and the per-clip PCM check rows, and Spark's
    # CacheManager matches equivalent plans across calls — without this the
    # timed runs would silently reuse the warm-up's materialized PCM results
    # and measure only fixed scheduling overhead (the round-1 0.287 artifact).
    spark.catalog.clearCache()
    # force a driver GC so the ContextCleaner reaps the previous run's shuffle
    # files/broadcasts — otherwise they accumulate on disk, evict the input
    # from the page cache, and each successive run measures slower
    spark._jvm.System.gc()
    time.sleep(2)
    t0 = time.perf_counter()
    v, viol = engine.validate(spark, clips, refs=refs, baseline_rows=baseline,
        ref_pcm_fn=lambda cid: synth.reference_pcm(cfg, cid), cfg=engine.ValidationConfig())
    v.write.format("noop").mode("overwrite").save()
    viol.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0

# steady-state protocol: 1 warm-up pass (JIT, codegen, python workers, page
# cache), then median of 3 timed runs — identical at both parallelism levels;
# every timed run re-executes the full job (cache cleared above)
run_once()
times = sorted(run_once() for _ in range(3))
dt = times[1]
print("RESULT " + json.dumps({"cores": cores, "sec": dt, "rows": n_rows,
                              "all_sec": times, "clips_per_sec": n_rows / dt}))
"""


def _burn(n: int) -> int:
    x = 0
    for _ in range(n):
        x = (x * 1103515245 + 12345) % (2**31)
    return x


def measure_ceiling(lo: int, hi: int) -> dict:
    """Hardware/VM scaling ceiling for this box: pure-CPU multiprocess python
    (no Spark, no memory pressure, cache-resident) at both parallelism levels.
    On shared VMs the all-core envelope is sub-linear (steal, turbo,
    bandwidth) — the engine cannot scale better than the machine it runs on,
    so the ceiling is reported next to the engine efficiency."""
    import multiprocessing as mp
    import time as _time

    def _run(nproc: int, per: int = 20_000_000) -> float:
        t0 = _time.perf_counter()
        with mp.Pool(nproc) as p:
            p.map(_burn, [per] * nproc)
        return nproc * per / (_time.perf_counter() - t0)

    thr_lo = _run(lo)
    thr_hi = _run(hi)
    return {
        "ops_per_sec_lo": thr_lo,
        "ops_per_sec_hi": thr_hi,
        "ceiling": (thr_hi / thr_lo) / (hi / lo),
    }


def run_level(cores: int, n_clips: int) -> dict:
    env = dict(
        os.environ, RTAD_REPO=REPO, RTAD_CORES=str(cores), RTAD_CLIPS=str(n_clips)
    )
    out = subprocess.run(
        [sys.executable, "-c", _CHILD], env=env, cwd=REPO, capture_output=True, text=True
    )
    for line in out.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    raise RuntimeError(f"child failed (cores={cores}):\n{out.stdout[-2000:]}\n{out.stderr[-4000:]}")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--clips", type=int, default=40000)
    ap.add_argument("--cores", default="8,32")
    ap.add_argument("--out", default=os.path.join(REPO, "BENCH", "BASELINE.md"))
    args = ap.parse_args()
    lo, hi = (int(x) for x in args.cores.split(","))

    # preserve manually-appended sections across a rewrite: everything from
    # the first secondary '## ' heading onward
    tail = ""
    if os.path.exists(args.out):
        prev = open(args.out).read()
        for marker in ("\n## Corroborating pair", "\n## Secondary pair",
                       "\n## What changed"):
            i = prev.find(marker)
            if i >= 0:
                tail = prev[i:]
                break

    ceiling = measure_ceiling(lo, hi)
    r_lo = run_level(lo, args.clips)
    r_hi = run_level(hi, args.clips)
    eff = (r_hi["clips_per_sec"] / r_lo["clips_per_sec"]) / (hi / lo)
    result = {
        "N": r_lo,
        "4N": r_hi,
        "efficiency": round(eff, 3),
        "hw_ceiling": round(ceiling["ceiling"], 3),
        "efficiency_vs_ceiling": round(eff / ceiling["ceiling"], 3),
    }
    print(json.dumps(result))

    with open(args.out, "w") as f:
        f.write(
            f"""# BENCH/BASELINE — two-parallelism scaling evidence

North rule: throughput scaling efficiency >= 0.8 going from N to 4N executors.
Sandbox protocol (no real cluster): identical validation job, identical input
({r_lo['rows']} synthesized clips, full constraint suite: column stats,
salted uniqueness, referential anti-joins, PSI/KS drift, per-row PCM decode +
SNR + transcript checks), run at two local parallelism levels in separate
processes. 1 warm-up pass, median of 3 timed runs; the Spark cache is cleared
and a driver GC forced before every timed run so each run re-executes the
full job.

| parallelism | wall sec (median) | all runs | validated clips/sec |
| --- | --- | --- | --- |
| local[{lo}] (N) | {r_lo['sec']:.2f} | {', '.join(f"{t:.1f}" for t in r_lo['all_sec'])} | {r_lo['clips_per_sec']:.1f} |
| local[{hi}] (4N) | {r_hi['sec']:.2f} | {', '.join(f"{t:.1f}" for t in r_hi['all_sec'])} | {r_hi['clips_per_sec']:.1f} |

**Scaling efficiency = (clips/sec at 4N ÷ clips/sec at N) ÷ {hi//lo} = {eff:.3f}**
(target ≥ 0.8)

Hardware/VM ceiling on this box (pure-CPU multiprocess python, no Spark, no
memory traffic, {lo}->{hi} processes): **{ceiling['ceiling']:.3f}** — the
single-VM envelope is sub-linear before Spark enters the picture; on a real
N->4N EXECUTOR scale-out, cores, memory bandwidth, and OS schedulers multiply
together, which this single box cannot emulate.
Engine efficiency / machine ceiling = **{eff / ceiling['ceiling']:.3f}**.

Reference baseline (BASELINE.md): the reference system is single-threaded
(sequential per-station loop, `anomaly_detector.py:431`); its published figure
is <1 min for 504 observations with ARIMA — the engine here validates
{r_lo['rows']} clips (audio payload + 7 constraint families) in {r_hi['sec']:.1f}s
at local[{hi}].
"""
        )
        if tail:
            f.write(tail)


if __name__ == "__main__":
    main()
