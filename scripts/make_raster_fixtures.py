"""Generate the DuckDB oracle fixtures for the raster queries r01-r08.

Every expected value here is computed by the NAIVE numpy oracles in
tests/oracles.py (per-pixel loop transcriptions of the reference
semantics, bit-parity-tested against the engine kernels in
tests/test_raster_fixtures.py) — never by the Spark operators. The
only engine imports are the deterministic corpus *definition*
(generator.py: the same input rows the Spark queries consume) — the
expected TRANSFORMATION of that corpus is oracle-only.

Output: /root/repo/fixtures/rXX_expected.parquet, read by
__spark_entry__.oracle_sql() via DuckDB read_parquet(). Rerun with
    python scripts/make_raster_fixtures.py
(idempotent — everything is seeded)."""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))

import oracles  # noqa: E402
from ssgp_toolbox_spark import generator  # noqa: E402  (corpus definition only)

OUT = os.path.join(REPO, "fixtures")
SITE, H, W = "stp", 109, 62
GAP = oracles.GAP


def corpus(n_history, n_inputs):
    """The deterministic image matrices the raster queries consume
    (mirrors generator.site_rows for site 'stp', fmt npy-f64 —
    lossless, so decoded payload == these matrices exactly)."""
    hist = [(f"{SITE}/history/{generator.layer_ts(t)}",
             generator.make_layer(SITE, H, W, t, "history", 0.02))
            for t in range(n_history)]
    inputs = []
    for k in range(n_inputs):
        t = n_history + k
        frac = generator.GAP_LADDER[k % len(generator.GAP_LADDER)]
        inputs.append((f"{SITE}/input/{generator.layer_ts(t)}",
                       generator.make_layer(SITE, H, W, t, "input", frac)))
    codes = generator.zone_raster(SITE, H, W).astype(np.float64)
    extra = (f"{SITE}/extra/{generator.layer_ts(0)}", codes)
    return hist, inputs, extra


def write(name, cols):
    os.makedirs(OUT, exist_ok=True)
    pq.write_table(pa.table(cols), os.path.join(OUT, f"{name}.parquet"))
    n = len(next(iter(cols.values())))
    print(f"{name}: {n} rows")


def main():
    hist, inputs, extra = corpus(6, 2)
    tensor = np.stack([m for _, m in hist])
    codes = extra[1]

    # ---- r01: NN interpolation fill
    rows = {"image_id": [], "status": [], "filled_px": [], "phash": []}
    for iid, m in inputs:
        filled, status = oracles.nn_fill_fast_oracle(m)
        rows["image_id"].append(iid)
        rows["status"].append(status)
        rows["filled_px"].append(int((m == GAP).sum()) if status == "filled" else 0)
        rows["phash"].append(oracles.phash64_oracle(filled))
    write("r01_expected", rows)

    # ---- r02: Knn/Biome/Custom gapfill
    rows = {"image_id": [], "status": [], "filled_px": [],
            "mean_cv_mae_raw": [], "phash": []}
    for iid, m in inputs:
        filled, scores = oracles.gapfill_image_oracle(
            m, tensor, codes, oracles.stable_seed(iid), k=5)
        rows["image_id"].append(iid)
        rows["status"].append("filled")
        rows["filled_px"].append(int((m == GAP).sum()))
        rows["mean_cv_mae_raw"].append(float(np.mean(scores)))
        rows["phash"].append(oracles.phash64_oracle(filled))
    write("r02_expected", rows)

    # ---- r03: Discretizator grid (n_history=8, 12H, no collisions):
    # start = midnight of min ts (2019-09-01), end = midnight after max
    # ts + 1 day → 8 buckets, exactly one layer each (timeseries.py:73-101)
    import datetime as dt

    hist8, _, _ = corpus(8, 0)
    times = [dt.datetime.strptime(i.split("/")[-1], "%Y%m%dT%H%M%S")
             for i, _ in hist8]
    start = dt.datetime(times[0].year, times[0].month, times[0].day)
    end = dt.datetime(times[-1].year, times[-1].month, times[-1].day) + dt.timedelta(days=1)
    step = dt.timedelta(hours=12)
    n_buckets = int((end - start) / step)
    rows = {"site": [], "bucket": [], "n_layers": [], "centroid_s": []}
    for b in range(n_buckets):
        lo, hi = start + b * step, start + (b + 1) * step
        n = sum(1 for t in times if lo <= t < hi)
        if b == n_buckets - 1 and n == 0:  # trailing empty bucket dropped
            continue
        centroid = lo + step / 2
        rows["site"].append(SITE)
        rows["bucket"].append(b)
        rows["n_layers"].append(n)
        rows["centroid_s"].append(centroid.strftime("%Y%m%dT%H%M%S"))
    write("r03_expected", rows)

    # ---- r04: cellular cloud expansion, 2 iterations
    rows = {"image_id": [], "expanded_px": [], "phash": []}
    for iid, m in inputs:
        expanded = oracles.cellular_expand_oracle(
            m, codes, 2, oracles.stable_seed(iid))
        rows["image_id"].append(iid)
        rows["expanded_px"].append(int((expanded == GAP).sum() - (m == GAP).sum()))
        rows["phash"].append(oracles.phash64_oracle(expanded))
    write("r04_expected", rows)

    # ---- r05: multimodal features (all 9 images)
    rows = {"image_id": [], "fmt": [], "n_bytes": [], "mean_px_raw": []}
    for iid, m in hist + inputs + [extra]:
        rows["image_id"].append(iid)
        rows["fmt"].append("npy-f64")
        rows["n_bytes"].append(int(m.size * 8))
        rows["mean_px_raw"].append(float(m.mean()))
    write("r05_expected", rows)

    # ---- r06: checkpointed gapfill, one snapshot per input (counts;
    # value parity with one-shot gapfill is pytest-proven)
    rows = {"image_id": [], "status": [], "filled_px": []}
    for iid, m in inputs:
        rows["image_id"].append(iid)
        rows["status"].append("filled")
        rows["filled_px"].append(int((m == GAP).sum()))
    write("r06_expected", rows)

    # ---- r07: sequential add_outputs fill (Knn/Random/Custom)
    hist4, inputs4, _ = corpus(4, 2)
    res = oracles.sequential_gapfill_oracle(
        inputs4, np.stack([m for _, m in hist4]), oracles.stable_seed, k=5)
    rows = {"image_id": [], "status": [], "filled_px": [],
            "mean_cv_mae_raw": [], "phash": []}
    for (iid, m), (_, filled, scores) in zip(inputs4, res):
        rows["image_id"].append(iid)
        rows["status"].append("filled")
        rows["filled_px"].append(int((m == GAP).sum()))
        rows["mean_cv_mae_raw"].append(float(np.mean(scores)))
        rows["phash"].append(oracles.phash64_oracle(filled))
    write("r07_expected", rows)

    # ---- r09: Lasso/RandomGridSearch gapfill (grid-search mode e2e;
    # deterministic: full Lasso grid + sequential folds) on the small
    # 'mini' site (30×20, 8 history layers)
    mh, mw = 30, 20
    hist9 = np.stack([generator.make_layer("mini", mh, mw, t, "history", 0.02)
                      for t in range(8)])
    codes9 = generator.zone_raster("mini", mh, mw).astype(np.float64)
    inp9 = generator.make_layer("mini", mh, mw, 8, "input", 0.04)
    iid9 = f"mini/input/{generator.layer_ts(8)}"
    filled9, scores9 = oracles.gapfill_lasso_grid_image_oracle(
        inp9, hist9, codes9, oracles.stable_seed(iid9))
    write("r09_expected", {
        "image_id": [iid9], "status": ["filled"],
        "filled_px": [int((inp9 == GAP).sum())],
        "mean_cv_mae_raw": [float(np.mean(scores9))],
        "phash": [oracles.phash64_oracle(filled9)],
    })

    # ---- r11: S3 swath archive ingest (unzip → flags → flip → trim →
    # geoloc NN warp). Expected grids from the naive per-pixel
    # transcription (oracles.swath_ingest_oracle); the archives are the
    # deterministic generator fixtures the Spark query ingests.
    rows = {"image_id": [], "w": [], "h": [], "n_valid": [],
            "n_gap": [], "n_skip": [], "phash": []}
    for t in range(2):
        zb = generator.s3_swath_archive(SITE, t)
        grid = oracles.swath_ingest_oracle(
            zb, generator.SWATH_EXTENT, *generator.SWATH_RES)
        rows["image_id"].append(f"{SITE}/input/{generator.layer_ts(t)}")
        rows["w"].append(grid.shape[1])
        rows["h"].append(grid.shape[0])
        rows["n_valid"].append(int(((grid != GAP) & (grid != oracles.SKIP)
                                    & (grid != oracles.NODATA)).sum()))
        rows["n_gap"].append(int((grid == GAP).sum()))
        rows["n_skip"].append(int((grid == oracles.SKIP).sum()))
        rows["phash"].append(oracles.phash64_oracle(grid))
    write("r11_expected", rows)

    # ---- r12: MODIS A1/A2 sinusoidal tile ingest (QC policy → scale →
    # sentinels → sinusoidal inverse → NN warp); expected grids from
    # the naive transcription (oracles.modis_ingest_oracle)
    rows = {"image_id": [], "w": [], "h": [], "n_valid": [],
            "n_gap": [], "n_skip": [], "phash": []}
    for t in range(2):
        lst_raw, qc = generator.modis_tile(SITE, t)
        grid = oracles.modis_ingest_oracle(
            lst_raw, qc, generator.MODIS_GT, generator.SWATH_EXTENT,
            *generator.SWATH_RES)
        ts = f"2019{254 + t:03d}"
        import datetime as _dt
        ts = _dt.datetime.strptime(ts, "%Y%j").strftime("%Y%m%dT%H%M%S")
        rows["image_id"].append(f"{SITE}/input/{ts}")
        rows["w"].append(grid.shape[1])
        rows["h"].append(grid.shape[0])
        rows["n_valid"].append(int(((grid != GAP) & (grid != oracles.SKIP)
                                    & (grid != oracles.NODATA)).sum()))
        rows["n_gap"].append(int((grid == GAP).sum()))
        rows["n_skip"].append(int((grid == oracles.SKIP).sum()))
        rows["phash"].append(oracles.phash64_oracle(grid))
    write("r12_expected", rows)

    # ---- r13: bilinear resize of the two input rasters to 64×48;
    # expected values from a NAIVE per-pixel bilinear loop
    def naive_bilinear(m, out_h, out_w):
        hh, ww = m.shape
        out = np.empty((out_h, out_w))
        for i in range(out_h):
            for j in range(out_w):
                fy = (i + 0.5) * hh / out_h - 0.5
                fx = (j + 0.5) * ww / out_w - 0.5
                y0 = min(max(int(np.floor(fy)), 0), hh - 1)
                x0 = min(max(int(np.floor(fx)), 0), ww - 1)
                y1, x1 = min(y0 + 1, hh - 1), min(x0 + 1, ww - 1)
                wy = min(max(fy - y0, 0.0), 1.0)
                wx = min(max(fx - x0, 0.0), 1.0)
                out[i, j] = (m[y0, x0] * (1 - wy) * (1 - wx)
                             + m[y0, x1] * (1 - wy) * wx
                             + m[y1, x0] * wy * (1 - wx)
                             + m[y1, x1] * wy * wx)
        return out

    rows = {"image_id": [], "w": [], "h": [], "mean_px_raw": [], "phash": []}
    for iid, m in inputs:
        r = naive_bilinear(m, 64, 48)
        rows["image_id"].append(iid)
        rows["w"].append(48)
        rows["h"].append(64)
        rows["mean_px_raw"].append(float(r.mean()))
        rows["phash"].append(oracles.phash64_oracle(r))
    write("r13_expected", rows)

    # ---- r15: MOD09GA reflectance full chain (QC policy → /10000 →
    # NDVI / Liang albedo → clamps → overrides → sinusoidal inverse →
    # NN warp); expected grids from oracles.mod09_ingest_oracle
    rows = {"image_id": [], "w": [], "h": [], "n_valid": [],
            "n_gap": [], "n_skip": [], "phash": []}
    import datetime as _dt
    for product in ("albedo", "ndvi"):
        for t in range(2):
            bands, qc = generator.mod09_tile(SITE, t)
            grid = oracles.mod09_ingest_oracle(
                bands, qc, generator.MODIS_GT, generator.SWATH_EXTENT,
                *generator.SWATH_RES, product=product)
            ts = _dt.datetime.strptime(f"2019{254 + t:03d}",
                                       "%Y%j").strftime("%Y%m%dT%H%M%S")
            rows["image_id"].append(f"{SITE}/{product}/{ts}")
            rows["w"].append(grid.shape[1])
            rows["h"].append(grid.shape[0])
            rows["n_valid"].append(int(((grid != GAP) & (grid != oracles.SKIP)
                                        & (grid != oracles.NODATA)).sum()))
            rows["n_gap"].append(int((grid == GAP).sum()))
            rows["n_skip"].append(int((grid == oracles.SKIP).sum()))
            rows["phash"].append(oracles.phash64_oracle(grid))
    write("r15_expected", rows)

    # ---- r14: export-sink round trip (S9 GeoTIFF, S10 netCDF).
    # Expected values by SPEC ARITHMETIC, never by the encoders:
    # - phash of the round-tripped raster == phash of the f32-cast
    #   matrix (both sinks store float32; npy-f64 corpus is lossless)
    # - GeoTIFF size: TIFF 6.0 single-strip layout = 8B header
    #   + IFD(2 + 12 entries x 12 + 4) + 3 scale doubles + 6 tiepoint
    #   doubles + GeoKeyDirectory(4 keys x 4 shorts) + h*w*4 data
    # - netCDF size: classic CDF-1 header arithmetic (names padded to
    #   4, dims time/row/col/strlen, 2 att-less vars) + padded char
    #   block + f32 data
    # - georef literals round-trip unchanged; labels = the ts strings
    def name_len(s):
        return 4 + len(s) + (4 - len(s) % 4) % 4

    tif_bytes = (8 + (2 + 12 * 12 + 4) + 3 * 8 + 6 * 8 + 4 * 4 * 2
                 + H * W * 4)
    steps = [iid.split("/")[-1] for iid, _ in inputs]
    ts_len = max(len(s) for s in steps)
    nc_hdr = (4 + 4                                   # magic + numrecs
              + 8 + sum(name_len(n) + 4 for n in
                        ("time", "row", "col", "strlen"))
              + 8                                     # empty global atts
              + 8                                     # var_list tag+count
              + name_len("time") + 4 + 2 * 4 + 8 + 12
              + name_len("matrices") + 4 + 3 * 4 + 8 + 12)
    char_block = len(inputs) * ts_len
    char_block += (4 - char_block % 4) % 4
    nc_bytes = nc_hdr + char_block + len(inputs) * H * W * 4
    rows = {"image_id": [], "kind": [], "n_bytes": [], "phash": [],
            "epsg": [], "min_x": [], "max_y": [], "label": []}
    for (iid, m), step in zip(inputs, steps):
        ph = oracles.phash64_oracle(m.astype(np.float32).astype(np.float64))
        rows["image_id"].append(iid)
        rows["kind"].append("geotiff")
        rows["n_bytes"].append(tif_bytes)
        rows["phash"].append(ph)
        rows["epsg"].append(32635)
        rows["min_x"].append(300000.0)
        rows["max_y"].append(6200000.0)
        rows["label"].append(step)
        rows["image_id"].append(f"{SITE}/netcdf/{step}")
        rows["kind"].append("netcdf")
        rows["n_bytes"].append(nc_bytes)
        rows["phash"].append(ph)
        rows["epsg"].append(0)
        rows["min_x"].append(0.0)
        rows["max_y"].append(0.0)
        rows["label"].append(step)
    write("r14_expected", rows)

    # ---- r08: per-image perceptual hashes (the pair join + hamming
    # filter runs in DuckDB SQL itself, brute-force — independently
    # re-deriving what the engine does with the banded LSH join)
    base = generator.make_layer(SITE, H, W, 3, "history", 0.02)
    near = base.copy()
    valid = (near != GAP) & (near != oracles.SKIP) & (near != oracles.NODATA)
    near[valid] += 0.01
    all_imgs = hist + inputs + [extra] + [
        (f"{SITE}/input/20300101T000000", base),
        (f"{SITE}/input/20300101T120000", near),
    ]
    rows = {"image_id": [], "phash": []}
    for iid, m in all_imgs:
        rows["image_id"].append(iid)
        rows["phash"].append(oracles.phash64_oracle(m))
    write("r08_phash", rows)

    # ---- r19: nn_fill under a custom key_values encoding
    # (gapfiller.py:826-828 / 901-913): the SAME corpus with its
    # sentinels remapped to the custom codes, filled by the kv-aware
    # naive transcription. Codes chosen collision-free (valid data is
    # ~276..305 K).
    kv = {"gap": -7.5, "skip": -15.25, "NoData": -9999.0}
    rows = {"image_id": [], "status": [], "filled_px": [], "phash": []}
    for iid, m in inputs:
        mr = m.copy()
        mr[m == GAP] = kv["gap"]
        mr[m == oracles.SKIP] = kv["skip"]
        mr[m == oracles.NODATA] = kv["NoData"]
        filled, status = oracles.nn_fill_kv_oracle(
            mr, kv["gap"], kv["skip"], kv["NoData"])
        rows["image_id"].append(iid)
        rows["status"].append(status)
        rows["filled_px"].append(
            int((mr == kv["gap"]).sum()) if status == "filled" else 0)
        rows["phash"].append(oracles.phash64_oracle(
            filled, kv["gap"], kv["skip"], kv["NoData"]))
    write("r19_expected", rows)


if __name__ == "__main__":
    main()
