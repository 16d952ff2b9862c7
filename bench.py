"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line.

Two groups:
- relational/pipeline queries from __spark_entry__ on the harness
  parquet (scan/join/agg/window/dedup/ANN paths);
- raster throughput: NN-fill and kNN-Biome gapfill over a
  deterministic synthetic image table (the north metric —
  gap-filled pixels/sec — is reported as extra keys).

Noise handling (round-4 VERDICT #6): the host shows documented 2-3×
contention swings, so every timed row runs ``SPARK_GRAFT_BENCH_REPEATS``
times (default 3), INTERLEAVED — one full pass over all rows per
repeat, so a contended window hits all rows of that repeat rather
than all repeats of one row. ``queries`` carries the per-row MEDIAN
(the driver-compatible scalar); ``runs`` carries
{median, min, max} per row so round-over-round comparisons can see
the spread without forensic A/B sessions. Throughputs are computed
from the median time.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
REPEATS = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))

BENCH_QUERIES = [
    "q01_pricing_summary",
    "q02_topk_revenue",
    "q03_region_revenue",
    "q07_time_buckets",
    "q09_weighted_mean",
    "q12_cell_index",
    "d01_dedup_exact",
    "d03_minhash_lsh",
    "d04_simhash",
    "t01_token_stats",
    "t03_fingerprint",
    "t05_bpe_token_stats",
    "d07_dedup_clusters_star",
    "s01_cosine_topk",
    "s03_lsh_topk",
    "s05_ivf_pq_topk",
]


def lsh_recall(spark, qs) -> dict:
    """recall@5 of the LSH ANN (s03) vs brute force (s01) at SF_DIR,
    plus the candidate fraction (how much of the corpus the ANN
    actually scored — the pruning evidence)."""
    import numpy as np

    brute = {}
    for r in qs["s01_cosine_topk"](spark, SF_DIR).collect():
        brute.setdefault(r["qid"], set()).add(r["nid"])
    hits = 0
    for r in qs["s03_lsh_topk"](spark, SF_DIR).collect():
        if r["nid"] in brute.get(r["qid"], set()):
            hits += 1
    total = sum(len(v) for v in brute.values())

    from ssgp_toolbox_spark.functions import simsearch

    rows = spark.read.parquet(f"{SF_DIR}/embeddings.parquet") \
        .select("vec_id", "embedding").collect()
    E = np.array([r["embedding"] for r in rows], dtype=np.float64)
    ids = np.array([r["vec_id"] for r in rows])
    b, L = 3, 8
    planes = simsearch.hyperplanes(b * L, E.shape[1], seed=7)
    sig = (E @ planes.T > 0).astype(np.int64)
    keys = np.zeros((len(E), L), dtype=np.int64)
    for t in range(L):
        for j in range(b):
            keys[:, t] = keys[:, t] * 2 + sig[:, t * b + j]
    qsel = np.flatnonzero(ids < 10)
    fracs = []
    for qi in qsel:
        mask = (keys == keys[qi]).any(axis=1)
        mask[qi] = False
        fracs.append(mask.mean())
    ivf_hits = 0
    for r in qs["s04_ivf_topk"](spark, SF_DIR).collect():
        if r["nid"] in brute.get(r["qid"], set()):
            ivf_hits += 1
    pq_hits = 0
    for r in qs["s05_ivf_pq_topk"](spark, SF_DIR).collect():
        if r["nid"] in brute.get(r["qid"], set()):
            pq_hits += 1
    # the documented remedy when cell membership outgrows the coarse
    # default (125/cell at sf0.1 vs rerank=32): deepen the rerank
    pq_tuned_hits = 0
    emb_df = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    from pyspark.sql import functions as SF

    tuned = simsearch.ivf_pq_topk(
        emb_df, emb_df.filter(SF.col("vec_id") < 10), k=5, rerank=128)
    for r in tuned.collect():
        if r["nid"] in brute.get(r["qid"], set()):
            pq_tuned_hits += 1
    return {
        "lsh_recall_at_5": round(hits / total, 4) if total else float("nan"),
        "lsh_candidate_frac": round(float(np.mean(fracs)), 4),
        "ivf_recall_at_5": round(ivf_hits / total, 4) if total else float("nan"),
        "ivf_pq_recall_at_5": round(pq_hits / total, 4) if total else float("nan"),
        "ivf_pq_recall_at_5_rerank128": round(pq_tuned_hits / total, 4)
        if total else float("nan"),
    }


def clustered_lsh(spark) -> dict:
    """LSH pruning evidence on a CLUSTERED corpus (the shape real
    embedding spaces have): 10 Gaussian clusters, 2000 vectors. The
    harness parquet embeddings are near-orthogonal — a worst case
    where any recall>=0.9 configuration must admit a large candidate
    fraction. Here neighbor cosine is high (~0.86), so the documented
    knob (raise bits_per_table with neighbor similarity:
    simsearch.lsh_topk docstring) holds recall while the per-table
    collision probability of non-neighbors drops to ~2^-6 — frac ≪ 1.
    Reports recall@5 vs brute force and the candidate fraction."""
    import numpy as np
    from pyspark.sql import types as T

    from ssgp_toolbox_spark.functions import simsearch

    rng = np.random.default_rng(42)
    n_clusters, per, dim = 10, 200, 64
    centers = rng.standard_normal((n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    E = np.repeat(centers, per, axis=0) + 0.05 * rng.standard_normal(
        (n_clusters * per, dim))
    E = E.round(4)
    schema = T.StructType([
        T.StructField("vec_id", T.LongType(), False),
        T.StructField("embedding", T.ArrayType(T.FloatType()), False)])
    df = spark.createDataFrame(
        [(int(i), [float(v) for v in E[i]]) for i in range(len(E))], schema)
    # queries: one member of each cluster (ids 0, 200, 400, ...)
    qids = [i * per for i in range(n_clusters)]
    q = df.filter(df.vec_id.isin(qids))
    b, L = 6, 8
    brute = {}
    for r in simsearch.cosine_topk(df, q, k=5).collect():
        brute.setdefault(r["qid"], set()).add(r["nid"])
    hits = 0
    for r in simsearch.lsh_topk(df, q, k=5, bits_per_table=b, n_tables=L).collect():
        if r["nid"] in brute.get(r["qid"], set()):
            hits += 1
    total = sum(len(v) for v in brute.values())
    planes = simsearch.hyperplanes(b * L, dim, seed=7)
    sig = (E @ planes.T > 0).astype(np.int64)
    keys = np.zeros((len(E), L), dtype=np.int64)
    for t in range(L):
        for j in range(b):
            keys[:, t] = keys[:, t] * 2 + sig[:, t * b + j]
    fracs = []
    for qi in qids:
        mask = (keys == keys[qi]).any(axis=1)
        mask[qi] = False
        fracs.append(mask.mean())
    return {
        "clustered_lsh_recall_at_5": round(hits / total, 4) if total else float("nan"),
        "clustered_lsh_candidate_frac": round(float(np.mean(fracs)), 4),
    }


def raster_measurables(spark, values: dict):
    """(name, thunk) rows for the raster paths. Scale: 2 sites ×
    (12 history + 8 inputs) at reference-like shapes; NN additionally
    exercises the zero-shuffle plain path. Each thunk records its
    pixel count in ``values`` (constant across repeats) so
    throughput can be computed from the median time."""
    from pyspark.sql import functions as F

    from ssgp_toolbox_spark import generator
    from ssgp_toolbox_spark.io import images as img_io
    from ssgp_toolbox_spark.operators import (deep_gapfill, gapfill, nn_fill,
                                              stats)

    imgs = stats.with_stats(img_io.with_id_parts(
        generator.images_df(spark, sites=("stp", "madrid"),
                            n_history=12, n_inputs=8, num_partitions=64,
                            shape=(200, 160))
    )).cache()
    imgs.count()
    # warm-up (worker startup) so the timing is steady-state
    warm = imgs.filter(F.col("role") != "input").unionByName(
        imgs.filter(F.col("role") == "input").limit(2))
    gapfill.gapfill(warm, method="Knn", predictor_configuration="Biome",
                    hyperparameters="Custom", params={"n_neighbors": 5},
                    chunk_px=1024).agg(F.sum("filled_px")).collect()

    def run_gapfill():
        out = gapfill.gapfill(imgs, method="Knn",
                              predictor_configuration="Biome",
                              hyperparameters="Custom",
                              params={"n_neighbors": 5}, chunk_px=1024)
        values["gapfill_px"] = out.agg(F.sum("filled_px")).collect()[0][0] or 0

    def run_deep():
        # deep-history path: same fill, but no stacked history anywhere
        # — the bounded-memory plan (operators/deep_gapfill.py),
        # reported so the depth-robust path's throughput cost vs the
        # collected-stack plan of gapfill stays a measured number
        dout = deep_gapfill.gapfill_deep(imgs, method="Knn",
                                         predictor_configuration="Biome",
                                         hyperparameters="Custom",
                                         params={"n_neighbors": 5},
                                         chunk_px=1024)
        values["deep_px"] = dout.agg(F.sum("filled_px")).collect()[0][0] or 0

    def run_nn():
        # plain zero-shuffle NN path: at this scale the chunked
        # variant's two shuffles cost more than they save
        nn_out = nn_fill.nn_fill(imgs.filter(F.col("role") == "input"))
        values["nn_px"] = nn_out.agg(F.sum("filled_px")).collect()[0][0] or 0

    return [("gapfill_knn_biome", run_gapfill),
            ("gapfill_deep", run_deep),
            ("nn_fill", run_nn)]


def streaming_measurables(qs, spark, values: dict):
    """The r16-r18 contract queries timed end-to-end — each repeat is
    a fresh availableNow pass (source setup → micro-batch(es) →
    memory sink → collect), so a state-size or throughput regression
    in applyInPandasWithState / windowed min_by / the stream-static
    join stays a visible bench number."""
    from pyspark.sql import functions as F

    def run_r16():
        out = qs["r16_streaming_gapfill"](spark, SF_DIR)
        values["r16_px"] = out.agg(F.sum("filled_px")).collect()[0][0] or 0

    def make_counter(name, key):
        def run():
            values[key] = qs[name](spark, SF_DIR).count()
        return run

    return [("r16_streaming_gapfill", run_r16),
            ("r17_streaming_discretize",
             make_counter("r17_streaming_discretize", "r17_rows")),
            ("r18_streaming_dedup",
             make_counter("r18_streaming_dedup", "r18_rows")),
            ("s06_streaming_ann_serve",
             make_counter("s06_streaming_ann_serve", "s06_rows"))]


def dedup_state_micro() -> dict:
    """Streaming-dedup state kernel micro-bench (no Spark): 100k
    random hashes at radius=4 through BandedSeen — the per-row state
    cost isolated from micro-batch machinery, since at sf0.1 the r18
    row is dominated by availableNow setup. The pre-round-5 kernel
    (linear scan + np.append + 64-iteration popcount loop) measures
    ~1.8k hashes/s at only 5k state and degrades linearly; the banded
    index holds ~25k/s flat. candidate_frac is the fraction of
    brute-force comparisons the pigeonhole actually touched."""
    import numpy as np

    from ssgp_toolbox_spark.streaming.dedup_stream import BandedSeen

    rng = np.random.default_rng(3)
    hashes = rng.integers(-(2 ** 63), 2 ** 63, size=100_000, dtype=np.int64)
    seen = BandedSeen(4)
    t0 = time.time()
    for ph in hashes:
        if not seen.is_dup(int(ph)):
            seen.add(int(ph))
    dt = time.time() - t0
    brute_pairs = len(hashes) * (len(hashes) - 1) / 2
    return {
        "dedup_state_hashes_per_sec": round(len(hashes) / dt, 1),
        "dedup_state_candidate_frac": round(
            seen.candidates_examined / brute_pairs, 6),
    }


def main() -> None:
    os.environ.setdefault("SPARK_GRAFT_CPUS", CPUS)
    from ssgp_toolbox_spark.session import get_spark

    import __spark_entry__ as entrymod

    spark = get_spark("bench", master=f"local[{CPUS}]")
    qs = entrymod.queries()
    values: dict[str, int] = {}

    def make_query_thunk(name):
        def run():
            n = qs[name](spark, SF_DIR).count()
            assert n >= 0
        return run

    measurables = [(name, make_query_thunk(name)) for name in BENCH_QUERIES]
    measurables += raster_measurables(spark, values)
    measurables += streaming_measurables(qs, spark, values)

    samples: dict[str, list[float]] = {name: [] for name, _ in measurables}
    for _rep in range(REPEATS):
        for name, thunk in measurables:
            t0 = time.time()
            thunk()
            samples[name].append(time.time() - t0)

    timings = {name: round(statistics.median(ts), 3)
               for name, ts in samples.items()}
    runs = {name: {"median": round(statistics.median(ts), 3),
                   "min": round(min(ts), 3), "max": round(max(ts), 3)}
            for name, ts in samples.items()}

    extras = {
        "gapfill_px": int(values["gapfill_px"]),
        "gapfill_px_per_sec": round(
            values["gapfill_px"] / timings["gapfill_knn_biome"], 1),
        "gapfill_deep_px_per_sec": round(
            values["deep_px"] / timings["gapfill_deep"], 1),
        "nn_px_per_sec": round(values["nn_px"] / timings["nn_fill"], 1),
        "streaming_gapfill_px_per_sec": round(
            values["r16_px"] / timings["r16_streaming_gapfill"], 1),
        "streaming_discretize_rows_per_sec": round(
            values["r17_rows"] / timings["r17_streaming_discretize"], 2),
        "streaming_dedup_rows_per_sec": round(
            values["r18_rows"] / timings["r18_streaming_dedup"], 2),
    }
    extras.update(lsh_recall(spark, qs))
    extras.update(clustered_lsh(spark))
    extras.update(dedup_state_micro())
    total = round(sum(timings.values()), 3)
    sf = SF_DIR.rstrip("/").split("sf")[-1]
    print(json.dumps({
        "metric": "bench_suite_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "runs": runs,
        "repeats": REPEATS,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        **extras,
        "cpus": int(CPUS),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
