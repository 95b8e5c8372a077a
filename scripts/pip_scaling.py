"""PIP-operator scaling evidence (BASELINE.json north rule): the same
probe-mode PIP+tile job at two parallelism widths (N vs 4N) on identical
input, reporting points/sec at both and efficiency = throughput ratio /
width ratio.

Interleaved rounds with a fresh Spark session per round and best-of-K
in-session runs guard against the sandbox host's background load drift
(observed 3-7x wall noise). Each round ALSO runs a same-window host
control: a multiprocessing pool of the identical Python refine kernel at
the same width — the ratio of control throughputs is what the *host* can
scale in that window (shared microVM; neighbours steal cores and DRAM
bandwidth), so `eff_vs_host = spark_eff / control_eff` separates the
engine's scaling from the box's.

Usage: python scripts/pip_scaling.py [n_points] [rounds] [runs_per_round] [N] [4N]
(widths default 8 and 32; on a contended host 2 vs 8 needs only 8 free
cores and is far less noise-sensitive). Writes PIP_SCALING_{N}v{4N}.json,
prints one JSON line.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = r"""
import time, sys, json
sys.path.insert(0, "{repo}/scripts")
from pip_bench import build_inputs
from osmi_water_spark import get_spark
from osmi_water_spark.operators.spatial_join import pip_join
from osmi_water_spark.functions import cells as C
from pyspark.sql import functions as F
cpus, n_points, runs = {cpus}, {n_points}, {runs}
spark = get_spark(app_name=f"pip-scale-{cpus}", master="{master}",
                  shuffle_partitions=cpus * 2)
spark.sparkContext.setLogLevel("ERROR")
pts, parts = build_inputs(spark, n_points, 20000)
parts = parts.cache(); parts.count()
pip_join(pts.limit(10000), parts, salt=4).count()
best = None
for i in range(runs):
    t0 = time.time()
    pairs = pip_join(pts, parts, salt=8, unique_points=True)
    out = pairs.join(pts, "point_id").select(
        "point_id", "area_key", C.tile_id(F.col("lon"), F.col("lat"), 8).alias("tile_id"))
    out.count()
    w = time.time() - t0
    best = w if best is None or w < best else best
print("RESULT", json.dumps({{"cpus": cpus, "best_wall": round(best, 3)}}))
spark.stop()
"""

CONTROL = r"""
import time, sys, json
sys.path.insert(0, "{repo}")
import numpy as np, pyarrow as pa
from multiprocessing import Pool

def _build_probe():
    from osmi_water_spark.functions import wkb as W
    from osmi_water_spark.operators.spatial_join import CellProbeIndex
    n_polys = 20000
    ids = np.arange(n_polys)
    x0 = ((ids*29) % 3000)/10.0 - 150.0 + 0.025
    y0 = ((ids*31) % 1400)/10.0 - 70.0 + 0.025
    x1, y1 = x0+2.3, y0+1.7
    items = []
    for i in range(n_polys):
        r = np.array([[x0[i],y0[i]],[x1[i],y0[i]],[x1[i],y1[i]],
                      [x0[i],y1[i]],[x0[i],y0[i]]])
        items.append((str(i), W.wkb_polygon([r])))
    index = W.FlatPolygonIndex.build(items)
    res = 7; n = 1 << res
    pairs = []
    for i in range(n_polys):
        ix0 = int(np.floor((x0[i]+180)/360*n)); ix1 = int(np.floor((x1[i]+180)/360*n))
        iy0 = int(np.floor((y0[i]+90)/180*n)); iy1 = int(np.floor((y1[i]+90)/180*n))
        for iy in range(iy0, iy1+1):
            for ix in range(ix0, ix1+1):
                pairs.append(((res<<58)+(iy<<29)+ix, i))
    return CellProbeIndex(np.asarray(pairs, dtype=np.int64), index, [7],
                          [str(i) for i in range(n_polys)])

PROBE = None
def _init():
    global PROBE
    PROBE = _build_probe()

def _work(seed):
    from osmi_water_spark.operators.spatial_join import _probe_refine
    n = 100_000
    pid = np.arange(seed*n, (seed+1)*n, dtype=np.int64)
    lon = ((pid*97) % 350000)/1000.0 - 174.95
    lat = ((pid*211) % 160000)/1000.0 - 79.95
    rb = pa.RecordBatch.from_arrays(
        [pa.array(pid), pa.array(lon), pa.array(lat)],
        ["point_id", "lon", "lat"])
    t0 = time.time()
    for _ in range(8):
        list(_probe_refine(iter([rb]), PROBE, True))
    return time.time() - t0

if __name__ == "__main__":
    procs = {cpus}
    with Pool(procs, initializer=_init) as p:
        p.map(_work, range(procs))          # warm
        best = None
        for _ in range(2):
            t0 = time.time()
            p.map(_work, range(procs))
            w = time.time() - t0
            best = w if best is None or w < best else best
    print("RESULT", json.dumps(
        {{"cpus": procs, "control_wall": round(best, 3),
          "control_pts": procs * 800_000}}))
"""


def _run(code: str, pin_cpus: int | None = None) -> dict:
    # SPARK_GRAFT_PIN=1: pin the ENTIRE process tree (driver JVM, executor
    # JVMs, python workers) to exactly `pin_cpus` physical cores via
    # taskset. Without it a "2-core" local/local-cluster run physically
    # burns ~4-5 cores — python refine workers and the JVM's Arrow
    # serialization threads overlap beyond the advertised task slots
    # (measured round 4: an 8-slot run sustains ~11 cores' CPU) — which
    # deflates every width-ratio efficiency. Pinning makes "N cores" a
    # physical statement, like a real N-core cluster node.
    cmd = [sys.executable, "-c", code]
    if pin_cpus and os.environ.get("SPARK_GRAFT_PIN") == "1":
        cmd = ["taskset", "-c", f"0-{pin_cpus - 1}"] + cmd
    # retry once on a no-RESULT exit (transient executor-registration miss /
    # killed JVM), and surface the child's stderr instead of a bare
    # IndexError — same hardening as scaling.run_once
    last = None
    for attempt in range(2):
        out = subprocess.run(
            cmd, capture_output=True, text=True,
            timeout=int(os.environ.get("SPARK_GRAFT_RUN_TIMEOUT", "1800")), cwd=REPO,
        )
        lines = [l for l in out.stdout.splitlines() if l.startswith("RESULT")]
        if lines:
            return json.loads(lines[-1][7:])
        last = out
        print(f"_run attempt {attempt}: no RESULT line (rc={out.returncode}); "
              "stderr tail:", flush=True)
        print("\n".join(out.stderr.strip().splitlines()[-25:]), flush=True)
    raise RuntimeError(
        f"child produced no RESULT line after 2 attempts (rc={last.returncode})")


LC = os.environ.get("SPARK_GRAFT_LC") == "1"
LC_EXEC_CORES = int(os.environ.get("SPARK_GRAFT_LC_CORES", "2"))
LC_WORKER_MB = int(os.environ.get("SPARK_GRAFT_LC_MB", "6144"))


def _master(cpus: int) -> str:
    """SPARK_GRAFT_LC=1: same cores as N separate 2-core executor JVMs
    (local-cluster) instead of one local[N] heap."""
    if LC:
        return f"local-cluster[{max(1, cpus // LC_EXEC_CORES)},{LC_EXEC_CORES},{LC_WORKER_MB}]"
    return f"local[{cpus}]"


_LO_WIDTH: list[int] = []  # set by main(); used by the LO_RUNS1 override


def run_round(cpus: int, n_points: int, runs: int) -> float:
    # giant-input campaigns: a single narrow-width run can approach the
    # subprocess timeout — SPARK_GRAFT_LO_RUNS1=1 drops its in-bench
    # repeat, keeping best-of-K on the wide side (a slow narrow window
    # then INFLATES eff; the same-window host control stays next to the
    # number so the reader can tell). Recorded in runs_in_bench.
    if os.environ.get("SPARK_GRAFT_LO_RUNS1") == "1" and _LO_WIDTH and cpus == _LO_WIDTH[0]:
        runs = 1
    return _run(CHILD.format(repo=REPO, cpus=cpus, n_points=n_points,
                             runs=runs, master=_master(cpus)),
                pin_cpus=cpus)["best_wall"]


def run_control(cpus: int) -> float:
    r = _run(CONTROL.format(repo=REPO, cpus=cpus), pin_cpus=cpus)
    return r["control_pts"] / r["control_wall"]


def main() -> None:
    n_points = int(sys.argv[1]) if len(sys.argv) > 1 else 16_000_000
    rounds = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    runs = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    lo = int(sys.argv[4]) if len(sys.argv) > 4 else 8
    hi = int(sys.argv[5]) if len(sys.argv) > 5 else 32
    _LO_WIDTH[:] = [lo]
    if os.environ.get("SPARK_GRAFT_CTL_ONLY") == "1":
        # window probe: run ONLY the pinned numpy host control at both
        # widths (~1 min) and report what the host offers right now, so a
        # 20+ minute giant-input campaign is launched only into a window
        # whose control_eff clears the clean-window gate (>= ~0.9).
        c_lo, c_hi = run_control(lo), run_control(hi)
        ctl_eff = round((c_hi / c_lo) / (hi / lo), 3)
        print(json.dumps({
            "probe": "control_only", "widths": [lo, hi],
            f"control_thr{lo}": round(c_lo, 1),
            f"control_thr{hi}": round(c_hi, 1),
            "control_eff": ctl_eff,
            "loadavg": [round(x, 2) for x in os.getloadavg()],
        }))
        return
    best: dict[int, float] = {}
    ctl_best: dict[int, float] = {}
    for r in range(rounds):
        for cpus in (lo, hi):
            w = run_round(cpus, n_points, runs)
            c = run_control(cpus)
            print(f"round {r} cpus={cpus}: best {w}s "
                  f"({n_points/w:,.0f} pts/s) | host control {c:,.0f} pts/s",
                  flush=True)
            if cpus not in best or w < best[cpus]:
                best[cpus] = w
            if cpus not in ctl_best or c > ctl_best[cpus]:
                ctl_best[cpus] = c
    thr_lo, thr_hi = n_points / best[lo], n_points / best[hi]
    eff = round((thr_hi / thr_lo) / (hi / lo), 3)
    ctl_eff = round((ctl_best[hi] / ctl_best[lo]) / (hi / lo), 3)
    lo_runs = 1 if os.environ.get("SPARK_GRAFT_LO_RUNS1") == "1" else runs
    payload = {
        "points": n_points, "polys": 20000, "rounds": rounds,
        "runs_per_round": runs, "widths": [lo, hi],
        "runs_in_bench": {str(lo): lo_runs, str(hi): runs},
        "loadavg_end": [round(x, 2) for x in os.getloadavg()],
        **({"masters": [_master(lo), _master(hi)]} if LC else {}),
        **({"pinned": True} if os.environ.get("SPARK_GRAFT_PIN") == "1" else {}),
        f"wall{lo}": round(best[lo], 3), f"wall{hi}": round(best[hi], 3),
        f"thr{lo}": round(thr_lo, 1), f"thr{hi}": round(thr_hi, 1),
        "eff": eff,
        f"control_thr{lo}": round(ctl_best[lo], 1),
        f"control_thr{hi}": round(ctl_best[hi], 1),
        "control_eff": ctl_eff,
        "eff_vs_host": round(eff / ctl_eff, 3) if ctl_eff else None,
    }
    tag = "LC_" if LC else ""
    if os.environ.get("SPARK_GRAFT_PIN") == "1":
        tag += "PIN_"
    tag += os.environ.get("SPARK_GRAFT_OUT_TAG", "")
    with open(os.path.join(REPO, f"PIP_SCALING_{tag}{lo}v{hi}.json"), "w") as f:
        json.dump(payload, f, indent=2)
    print(json.dumps(payload))


if __name__ == "__main__":
    main()
