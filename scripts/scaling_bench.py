"""Two-parallelism scaling benchmark (north_rule evidence).

Runs the same gapfill + NN-fill job at local[N] and local[4N] on the
same deterministic input and reports throughput at both plus scaling
efficiency = (T_N / T_4N) / 4. Each run is a fresh JVM (subprocess)
so executors/cores are really different.

Usage: python scripts/scaling_bench.py [N] [--deploy]   (default N=8;
--deploy runs the job via spark-submit --py-files pkg.zip — the
north_rule's literal deployment path)
Writes/updates BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

JOB = r"""
import json, sys, time
sys.path.insert(0, "@REPO@")
from pyspark.sql import functions as F
from ssgp_toolbox_spark.session import get_spark
from ssgp_toolbox_spark import generator
from ssgp_toolbox_spark.io import images as img_io
from ssgp_toolbox_spark.operators import gapfill, nn_fill, stats

cpus = int(sys.argv[1])
spark = get_spark("scaling", master="local[%d]" % cpus)
# 6 sites x (12 history + 24 inputs) at 250x200 px -> ~2.8M gap
# pixels: the 4N run takes ~1 min of pure fill, so compute dominates
# scheduling overheads; identical deterministic input at both levels
sites = tuple("scl%d" % i for i in range(6))
imgs = stats.with_stats(img_io.with_id_parts(
    generator.images_df(spark, sites=sites, n_history=12, n_inputs=24,
                        num_partitions=96, shape=(250, 200))
)).cache()
imgs.count()

# steady-state measurement: run each job twice and report the second
# run — the first pass pays python-worker startup, broadcast unpickle,
# allocator/page-fault warmth and JIT, all of which a long-running
# cluster job amortizes to nothing (measured 1.5x first-run penalty)
def run_gap():
    t0 = time.time()
    out = gapfill.gapfill(imgs, method="Knn", predictor_configuration="Biome",
                          hyperparameters="Custom", params={"n_neighbors": 5},
                          chunk_px=2048)
    p = out.agg(F.sum("filled_px")).collect()[0][0]
    return p, time.time() - t0

def run_nn():
    t0 = time.time()
    nn = nn_fill.nn_fill(imgs.filter(F.col("role") == "input"))
    p = nn.agg(F.sum("filled_px")).collect()[0][0]
    return p, time.time() - t0

run_gap()
px, t_gap = run_gap()
run_nn()
npx, t_nn = run_nn()

print("RESULT " + json.dumps({"cpus": cpus, "gap_px": int(px),
      "t_gap": t_gap, "t_nn": t_nn, "nn_px": int(npx)}))
spark.stop()
"""


def _build_pkg_zip(workdir: str) -> str:
    """The north_rule deployment artifact: the library as a
    --py-files zip, exactly what a cluster submit ships."""
    import zipfile

    zp = os.path.join(workdir, "ssgp_pkg.zip")
    with zipfile.ZipFile(zp, "w") as zf:
        for root, _, files in os.walk(os.path.join(REPO, "ssgp_toolbox_spark")):
            for f in files:
                if f.endswith(".py"):
                    p = os.path.join(root, f)
                    zf.write(p, os.path.relpath(p, REPO))
    return zp


def run(cpus: int, deploy: bool = False) -> dict:
    script = JOB.replace("@REPO@", REPO)
    if deploy:
        # north_rule letter: the SAME job through spark-submit
        # --py-files at both parallelism levels (the JOB's
        # sys.path.insert is a no-op redundancy under --py-files)
        import tempfile

        with tempfile.TemporaryDirectory(prefix="scaling_deploy_") as td:
            zp = _build_pkg_zip(td)
            jb = os.path.join(td, "job.py")
            # strip the local-path shim so imports genuinely resolve
            # from the shipped --py-files zip
            stripped = script.replace(f'sys.path.insert(0, "{REPO}")', "pass")
            # if the JOB template's shim line ever drifts, the replace
            # above silently no-ops and the "deploy path" evidence
            # would actually import from the local repo — fail instead
            assert "sys.path.insert" not in stripped, \
                "deploy shim strip failed: JOB template drifted"
            with open(jb, "w") as f:
                f.write(stripped)
            # --driver-memory must be on the submit line: session.py's
            # spark.driver.memory=8g arrives after the driver JVM
            # exists and is ignored under spark-submit (the in-process
            # path picks it up because pyspark launches the JVM lazily)
            p = subprocess.run(
                ["spark-submit", "--master", f"local[{cpus}]",
                 "--driver-memory",
                 os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
                 "--py-files", zp, jb, str(cpus)],
                capture_output=True, text=True, timeout=1800)
    else:
        p = subprocess.run([sys.executable, "-c", script, str(cpus)],
                           capture_output=True, text=True, timeout=1800)
    for line in p.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[7:])
    raise RuntimeError(f"no RESULT line (rc={p.returncode}):\n{p.stderr[-2000:]}")


def main():
    args = [a for a in sys.argv[1:] if a != "--deploy"]
    deploy = "--deploy" in sys.argv[1:]
    n = int(args[0]) if args else 8
    lo = run(n, deploy)
    hi = run(4 * n, deploy)
    thr = lambda r, k, pk: r[pk] / r[k]
    g_lo, g_hi = thr(lo, "t_gap", "gap_px"), thr(hi, "t_gap", "gap_px")
    n_lo, n_hi = thr(lo, "t_nn", "nn_px"), thr(hi, "t_nn", "nn_px")
    eff_gap = (g_hi / g_lo) / 4
    eff_nn = (n_hi / n_lo) / 4
    report = {
        "N": n, "4N": 4 * n,
        "gapfill_px_per_sec": {"N": round(g_lo, 1), "4N": round(g_hi, 1)},
        "nn_px_per_sec": {"N": round(n_lo, 1), "4N": round(n_hi, 1)},
        "scaling_efficiency_gapfill": round(eff_gap, 3),
        "scaling_efficiency_nn": round(eff_nn, 3),
    }
    print(json.dumps(report, indent=2))
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    report["mode"] = "spark-submit --py-files" if deploy else "in-process"
    out = os.path.join(REPO, "BENCH",
                       f"scaling_N{n}_deploy.json" if deploy
                       else f"scaling_N{n}.json")
    with open(out, "w") as f:
        json.dump(report, f, indent=2)
    # BENCH/BASELINE.md is maintained by hand from these JSONs — do
    # not overwrite it here.
    return 0


if __name__ == "__main__":
    sys.exit(main())
