"""Run the reference's published Comparison benchmark end-to-end.

Data: /root/reference/Comparison/{StPetersburg,Madrid,Vladivostok} —
MODIS MOD11A1 LST, synthetic gap ladders (8 sizes per site), committed
ground truth (actual_matrix) and the reference's own filled outputs
(model_outputs/SSGP-toolbox). Reference config for the published MAE
table (Comparison/Description.md:26-27):

    method='SVR', predictor_configuration='Biome',
    hyperparameters='RandomGridSearch', add_outputs=False

Metric convention verified against the committed outputs: MAE over the
GAP PIXELS ONLY reproduces every published number to the printed
precision (e.g. StPetersburg 4% → 0.417 ≈ published 0.42).

This script fills every ladder input with our Spark engine under the
same config (seeded RNG where the reference is unseeded;
max_iter=150 on the SVR dual CD — tighter than sklearn SVR's default
tol=1e-3 stopping) and writes BENCH/comparison_mae.json + a markdown
table to BENCH/COMPARISON.md.

    python scripts/comparison_bench.py [site ...]
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

import numpy as np

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

REF = "/root/reference/Comparison"
SITES = ["StPetersburg", "Madrid", "Vladivostok"]

# published MAE (°C) by site, in ascending-gap-percent order
# (Comparison/Description.md:38-62; Madrid's 4th column is labelled 29%
# there but the committed input file is 27_percent — keyed by file)
PUBLISHED = {
    "StPetersburg": {4: 0.42, 6: 0.42, 15: 0.35, 28: 0.39, 40: 0.43,
                     52: 0.48, 70: 0.47, 96: 0.87},
    "Madrid": {5: 0.53, 8: 0.89, 17: 0.76, 27: 0.79, 39: 0.69, 50: 0.84,
               78: 1.04, 94: 0.97},
    "Vladivostok": {5: 0.30, 10: 0.31, 15: 0.36, 28: 0.32, 44: 0.47,
                    50: 0.36, 74: 0.50, 93: 0.68},
}

GAP = -100.0


def site_images(site: str, pcts: list[int] | None = None):
    """Image rows (input_hint schema) + per-input (gap mask, actual)."""
    from ssgp_toolbox_spark import codecs

    d = f"{REF}/{site}"

    def row(image_id, m, gap_pct):
        m = np.asarray(m, dtype=np.float64)
        h, w = m.shape
        payload = codecs.encode(m, codecs.FMT_F64)
        caption = f"LST {site} {image_id.split('/')[-1]} gap={gap_pct}%"
        return (image_id, payload, int(w), int(h), codecs.FMT_F64, caption,
                codecs.phash64(m))

    rows, meta = [], {}
    for f in sorted(os.listdir(f"{d}/training_sample")):
        ts = f[:-4]
        rows.append(row(f"{site}/history/{ts}",
                        np.load(f"{d}/training_sample/{f}"), 0))
    biome = np.load(f"{d}/additional_matrices/biomes_matrix.npy")
    actual_name = os.listdir(f"{d}/actual_matrix")[0]
    base_ts = actual_name[:-4]
    actual = np.load(f"{d}/actual_matrix/{actual_name}").astype(np.float64)
    rows.append(row(f"{site}/extra/{base_ts}", biome, 0))
    for idx, f in enumerate(sorted(os.listdir(f"{d}/inputs"))):
        m = re.match(r"(\d{8}T\d{6})_(\d+)_percent\.npy", f)
        ts, pct = m.group(1), int(m.group(2))
        if pcts is not None and pct not in pcts:
            continue
        # unique parseable ts per ladder input (all share the base ts)
        fake_ts = ts[:-2] + f"{idx + 1:02d}"
        inp = np.load(f"{d}/inputs/{f}").astype(np.float64)
        image_id = f"{site}/input/{fake_ts}"
        rows.append(row(image_id, inp, pct))
        meta[image_id] = (pct, inp == GAP, actual)
    return rows, meta


def run_site(spark, site: str, pcts: list[int] | None = None,
             max_iter: int = 150) -> dict:
    from pyspark.sql import types as T

    from ssgp_toolbox_spark import codecs
    from ssgp_toolbox_spark.io import images as img_io
    from ssgp_toolbox_spark.operators import gapfill, stats

    rows, meta = site_images(site, pcts)
    schema = T.StructType([
        T.StructField("image_id", T.StringType()),
        T.StructField("bytes", T.BinaryType()),
        T.StructField("w", T.IntegerType()),
        T.StructField("h", T.IntegerType()),
        T.StructField("fmt", T.StringType()),
        T.StructField("caption", T.StringType()),
        T.StructField("phash", T.LongType()),
    ])
    imgs = stats.with_stats(img_io.with_id_parts(
        spark.createDataFrame(rows, schema)))
    t0 = time.time()
    out = gapfill.gapfill(
        imgs, predictor_configuration="Biome", method="SVR",
        hyperparameters="RandomGridSearch", params={"max_iter": max_iter},
        chunk_px=256).collect()
    dt = time.time() - t0
    d = f"{REF}/{site}"
    result = {}
    total_px = 0
    for r in out:
        pct, gaps, actual = meta[r["image_id"]]
        filled = codecs.decode(bytes(r["bytes"]), r["h"], r["w"], r["fmt"])
        mae = float(np.mean(np.abs(filled[gaps] - actual[gaps])))
        # reference's own committed fill for the same ladder input.
        # Madrid's input file says 27_percent but the committed output
        # (and the published table) say 29 — match by nearest pct.
        outs = os.listdir(f"{d}/model_outputs/SSGP-toolbox")
        exact = [f for f in outs if f.endswith(f"_{pct}_percent.npy")]
        if exact:
            ref_file = exact[0]
        else:
            ref_file = min(outs, key=lambda f: abs(
                int(re.match(r".*_(\d+)_percent\.npy", f).group(1)) - pct))
        ref_out = np.load(f"{d}/model_outputs/SSGP-toolbox/{ref_file}").astype(np.float64)
        ref_mae = float(np.mean(np.abs(ref_out[gaps] - actual[gaps])))
        result[pct] = {
            "mae": round(mae, 3),
            "ref_mae_committed": round(ref_mae, 3),
            "ref_mae_published": PUBLISHED[site].get(pct),
            "gap_px": int(gaps.sum()),
        }
        total_px += int(gaps.sum())
    result["_seconds"] = round(dt, 1)
    result["_px_per_sec"] = round(total_px / dt, 1)
    return result


def main():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
    from ssgp_toolbox_spark.session import get_spark

    # `--all` (or no args) = the full 3-site x 8-ladder sweep
    sites = [a for a in sys.argv[1:] if not a.startswith('-')] or SITES
    spark = get_spark("comparison-bench")
    results = {}
    for site in sites:
        results[site] = run_site(spark, site)
        print(f"{site}: {results[site]}")
    spark.stop()

    os.makedirs(f"{REPO}/BENCH", exist_ok=True)
    with open(f"{REPO}/BENCH/comparison_mae.json", "w") as f:
        json.dump(results, f, indent=1)

    lines = [
        "# Comparison benchmark — our engine vs the reference's published MAE",
        "",
        "Config: `method='SVR', predictor_configuration='Biome',",
        "hyperparameters='RandomGridSearch'` (Comparison/Description.md:26-27),",
        "gap-pixels-only MAE in °C (convention verified: it reproduces the",
        "published table from the committed model_outputs).",
        "Differences vs the reference come from its unseeded RNG (fold",
        "shuffles + RandomizedSearchCV draws) vs our seeded determinism, and",
        "our dual-CD linear SVR vs sklearn's libsvm SVR.",
        "",
    ]
    for site, res in results.items():
        lines += [f"## {site}", "",
                  "| gap % | ours (MAE °C) | reference committed | reference published |",
                  "|---|---|---|---|"]
        for pct in sorted(k for k in res if isinstance(k, int)):
            r = res[pct]
            lines.append(f"| {pct}% | {r['mae']:.3f} | "
                         f"{r['ref_mae_committed']:.3f} | "
                         f"{r['ref_mae_published']:.2f} |")
        lines += ["", f"wall: {res['_seconds']} s, "
                  f"{res['_px_per_sec']} gap px/s (local[32])", ""]
    with open(f"{REPO}/BENCH/COMPARISON.md", "w") as f:
        f.write("\n".join(lines))
    print(f"wrote BENCH/comparison_mae.json + BENCH/COMPARISON.md")


if __name__ == "__main__":
    main()
