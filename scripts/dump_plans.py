"""Dump .explain('formatted') for the optimization round's evidence
(plans/r06/<query>_{before,after}.txt). Usage:
    python scripts/dump_plans.py <repo_root> <suffix> [outdir]
Run once against the round-start tree (suffix 'before', repo_root =
a worktree of the round-start commit) and once against the final tree
(suffix 'after')."""

import os
import sys

ROOT = sys.argv[1]
SUFFIX = sys.argv[2]
OUT = sys.argv[3] if len(sys.argv) > 3 else "/root/repo/plans/r06"
sys.path.insert(0, ROOT)

SF = "/root/testdata/sf0.1"

os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
from ssgp_toolbox_spark.session import get_spark  # noqa: E402

spark = get_spark("plans", master="local[32]")
spark.conf.set("spark.sql.session.timeZone", "UTC")

import __spark_entry__ as em  # noqa: E402

qs = em.queries()
NAMES = ["q01_pricing_summary", "q02_topk_revenue", "q03_region_revenue",
         "s01_cosine_topk", "s02_bucketed_topk", "s03_lsh_topk",
         "s04_ivf_topk", "s05_ivf_pq_topk", "d03_minhash_lsh",
         "d04_simhash", "d05_embedding_near_dups"]
os.makedirs(OUT, exist_ok=True)
for name in NAMES:
    df = qs[name](spark, SF)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")
    with open(os.path.join(OUT, f"{name}_{SUFFIX}.txt"), "w") as f:
        f.write(plan)
    print("wrote", name, SUFFIX, flush=True)

# operator-level plans for the raster bench rows (the bench thunks
# aggregate these DataFrames; streaming rows execute inside their
# query functions and have no single batch plan to dump)
from pyspark.sql import functions as F  # noqa: E402

from ssgp_toolbox_spark import generator  # noqa: E402
from ssgp_toolbox_spark.io import images as img_io  # noqa: E402
from ssgp_toolbox_spark.operators import (deep_gapfill, gapfill,  # noqa: E402
                                          nn_fill, stats)

imgs = stats.with_stats(img_io.with_id_parts(
    generator.images_df(spark, sites=("stp", "madrid"), n_history=12,
                        n_inputs=8, num_partitions=64, shape=(200, 160))))
OPS = {
    "gapfill_knn_biome": gapfill.gapfill(
        imgs, method="Knn", predictor_configuration="Biome",
        hyperparameters="Custom", params={"n_neighbors": 5}, chunk_px=1024),
    "gapfill_deep": deep_gapfill.gapfill_deep(
        imgs, method="Knn", predictor_configuration="Biome",
        hyperparameters="Custom", params={"n_neighbors": 5}, chunk_px=1024),
    "nn_fill": nn_fill.nn_fill(imgs.filter(F.col("role") == "input")),
}
for name, df in OPS.items():
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")
    with open(os.path.join(OUT, f"{name}_{SUFFIX}.txt"), "w") as f:
        f.write(plan)
    print("wrote", name, SUFFIX, flush=True)
spark.stop()
