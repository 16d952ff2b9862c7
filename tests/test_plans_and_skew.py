"""Tier-4 (SURVEY.md §5.2): skew handling + physical-plan checks —
the plan, not just the result, is the deliverable at 100 TB."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from ssgp_toolbox_spark import codecs, generator
from ssgp_toolbox_spark.io import images as img_io
from ssgp_toolbox_spark.operators import gapfill, stats
from ssgp_toolbox_spark.sentinels import GAP


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _skewed_images(spark):
    """One 80%-gap image next to a 1%-gap one on a 60×50 site."""
    small = generator.make_layer("sk", 60, 50, 30, "input", 0.01)
    # 80% gaps: heavily skewed but still viable (valid_px > 101 — the
    # reference's own EP1 threshold; below it the image is excluded)
    hot = generator.make_layer("sk", 60, 50, 31, "input", 0.80)
    rows = [
        generator.image_row("sk", "input", "20190916T000000", small, codecs.FMT_F64, 1),
        generator.image_row("sk", "input", "20190916T120000", hot, codecs.FMT_F64, 80),
    ] + generator.site_rows("sk", n_history=3, n_inputs=0, shape=(60, 50))
    return stats.with_stats(img_io.with_id_parts(
        spark.createDataFrame(rows, schema=generator.IMAGE_COLUMNS)
    ))


def _gap_counts(df):
    return {r["image_id"]: r["gap_count"] for r in df.filter(
        (F.col("role") == "input") & (F.col("gap_count") > 0)).collect()}


def test_hot_image_fans_out(spark):
    """A 100×-denser gap image must split into proportionally many
    chunks spread over several tasks, while the light image stays one
    whole unit: asserted on the operator's own planner, fed what the
    operator feeds it."""
    df = _skewed_images(spark)
    chunk_px = 200
    counts = _gap_counts(df)
    hot_id, small_id = "sk/input/20190916T120000", "sk/input/20190916T000000"
    assert counts[hot_id] > 4 * counts[small_id]
    bins, split = gapfill.plan_fill(
        counts, spark.sparkContext.defaultParallelism, chunk_px)
    assert split == {hot_id}
    hot_chunks = sorted(c for b in bins for i, c in b if i == hot_id)
    assert hot_chunks == list(range(-(-counts[hot_id] // chunk_px)))
    assert len(hot_chunks) >= 10
    assert [c for b in bins for i, c in b if i == small_id] == [None]
    # end-to-end: the fill still completes and fills everything
    out = gapfill.gapfill(df, method="Knn", predictor_configuration="Biome",
                          hyperparameters="Custom", params={"n_neighbors": 5},
                          min_valid=101, chunk_px=chunk_px).collect()
    assert sorted(r["image_id"] for r in out) == sorted(counts)
    for r in out:
        m = codecs.decode(bytes(r["bytes"]), r["h"], r["w"], r["fmt"])
        assert (m == GAP).sum() == 0


def test_balanced_plan_ships_no_history_rows(spark):
    """History stacks travel in the fill task's closure, not as join
    rows: ``gapfill``'s plan must contain no hist_layers column
    (per-chunk Arrow transfer of multi-MB stacks was a measured 2.4×
    throughput loss). The fill is one pandas stage over a driver-built
    table with no Exchange; the assemble stage and its shuffle appear
    only when an image splits across tasks."""
    images = stats.with_stats(img_io.with_id_parts(
        generator.images_df(spark, sites=("stp",), n_history=2, n_inputs=1)
    ))
    mode = dict(method="Knn", predictor_configuration="Biome",
                hyperparameters="Custom", params={"n_neighbors": 5})
    plan = _plan(gapfill.gapfill(images, **mode))
    # names get truncated in the plan string, so count the operators
    assert plan.count("MapInPandas") == 1
    assert "Exchange" not in plan
    assert "hist_layers" not in plan
    hot = _plan(gapfill.gapfill(_skewed_images(spark), chunk_px=200, **mode))
    assert hot.count("MapInPandas") == 2  # fill + assemble
    assert "hist_layers" not in hot


def _unit_ranges(bins, counts, chunk_px):
    """(image_id, lo, hi) gap-scan range of every planned unit."""
    for b in bins:
        for i, c in b:
            lo = 0 if c is None else c * chunk_px
            hi = counts[i] if c is None else min(lo + chunk_px, counts[i])
            yield i, lo, hi


def _check_plan(counts, slots, chunk_px):
    bins, split = gapfill.plan_fill(counts, slots, chunk_px)
    share = -(-sum(counts.values()) // slots)
    assert 1 <= len(bins) <= slots
    # every gap px of every image is covered exactly once
    cover = {i: np.zeros(g, dtype=int) for i, g in counts.items()}
    for i, lo, hi in _unit_ranges(bins, counts, chunk_px):
        cover[i][lo:hi] += 1
    assert all((c == 1).all() for c in cover.values())
    for i, g in counts.items():
        units = [c for b in bins for j, c in b if j == i]
        if g <= share:  # at or below the share: one whole unit
            assert units == [None] and i not in split
        elif i in split:  # above it: chunk_px boundaries of its scan
            assert sorted(units) == list(range(-(-g // chunk_px)))
        else:  # all chunks landed in one bin: finished whole there
            assert units == [None]
    loads = [sum(hi - lo for _i, lo, hi in _unit_ranges([b], counts, chunk_px))
             for b in bins]
    largest = max(min(g, chunk_px) if g > share else g for g in counts.values())
    assert max(loads) <= share + largest
    # same input (in any order) → same plan
    assert gapfill.plan_fill(dict(reversed(list(counts.items()))),
                             slots, chunk_px) == (bins, split)
    return bins, split, share, loads


def test_plan_fill_hot_image_splits_light_ones_stay_whole():
    """No Spark: the hot image splits over every slot, the light ones
    stay whole, and with every whole image <= chunk_px the heaviest
    bin is within share + chunk_px."""
    counts = {f"s/input/{k:02d}": g
              for k, g in enumerate([4915, 205, 768, 90, 512, 333, 1, 60])}
    bins, split, share, loads = _check_plan(counts, 4, 512)
    assert split == {"s/input/00"}
    assert all(any(i == "s/input/00" for i, _ in b) for b in bins)
    assert max(loads) <= share + 512


@pytest.mark.parametrize("slots", [1, 3, 4, 12])
@pytest.mark.parametrize("chunk_px", [100, 1024])
@pytest.mark.parametrize("seed", [0, 1, 2])
def test_plan_fill_properties(slots, chunk_px, seed):
    rng = np.random.default_rng(seed)
    counts = {f"r/input/{k:03d}": int(g)
              for k, g in enumerate(rng.integers(1, 3000, size=20))}
    counts["r/input/hot"] = 40_000
    _check_plan(counts, slots, chunk_px)


def test_parquet_scan_pushdown(spark, tmp_path):
    """Viability predicates must reach the parquet scan (PushedFilters)
    and role values must prune directories (``role`` is the partition
    column; ``site`` is a data column, tests/test_table_layout.py)."""
    table = str(tmp_path / "imgs")
    df = stats.with_stats(img_io.with_id_parts(
        generator.images_df(spark, sites=("stp", "vlad"), n_history=2, n_inputs=1)
    ))
    img_io.append_snapshot(df, table)
    loaded = img_io.load(spark, table)
    q = loaded.filter((F.col("role") == "input") & (F.col("valid_px") > 101))
    plan = _plan(q)
    assert "PushedFilters: [" in plan and "valid_px" in plan.split("PushedFilters")[1][:200]
    # partition pruning: role is a directory-level column
    assert "PartitionFilters" in plan


def test_column_pruning(spark, tmp_path):
    """A 2-column projection must not read pixel payloads."""
    table = str(tmp_path / "imgs2")
    df = img_io.with_id_parts(generator.images_df(spark, sites=("stp",), n_history=2, n_inputs=1))
    img_io.append_snapshot(df, table)
    q = img_io.load(spark, table).select("image_id", "phash")
    plan = _plan(q)
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "bytes" not in read_schema and "caption" not in read_schema


@pytest.mark.parametrize("qname", ["r08_phash_dedup",
                                   "d05_embedding_near_dups",
                                   "s03_lsh_topk",
                                   "s02_bucketed_topk",
                                   "s04_ivf_topk"])
def test_banded_joins_have_no_cartesian_product(spark, qname):
    """The candidate-generation paths must stay equi-joins in the
    OPTIMIZED plan: no CartesianProduct / BroadcastNestedLoopJoin
    anywhere (r1 brief). Exception: s04's tiny broadcast-centroid
    probes are constant-side (n_cells rows) BroadcastNestedLoopJoins
    by design — asserted separately below."""
    import __spark_entry__ as em

    df = em.queries()[qname](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "CartesianProduct" not in plan, qname
    # since the round-4 literal-centroid rewrite s04 has no
    # nested-loop joins left either: assignment and probing are
    # narrow projections (simsearch.ivf_assign)
    assert "BroadcastNestedLoopJoin" not in plan, qname


def test_ivf_assignment_is_narrow(spark):
    """The corpus → cell assignment of the IVF index must be a
    zero-shuffle narrow projection: no Exchange, no Window, no join —
    centroids are driver-known literals (round-3 VERDICT 'What's
    wrong' #3). At 10^12 rows anything else multiplies or shuffles
    the corpus per Lloyd round."""
    from ssgp_toolbox_spark.functions import simsearch

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    e = simsearch._normalize(simsearch._cast(emb).select(
        F.col("vec_id").alias("nid"), F.col("emb")))
    cents = [[float(i == j) for j in range(64)] for i in range(16)]
    plan = _plan(simsearch.ivf_assign(e, cents))
    for banned in ("Exchange", "Window", "Join", "CartesianProduct"):
        assert banned not in plan, banned


def test_ivf_pq_encode_is_narrow(spark):
    """The IVF-PQ corpus encoder (vector → cell id + m residual
    codes, simsearch._pq_encode_udf) must stay a zero-shuffle narrow
    Arrow projection, like the plain IVF assignment it extends: at
    10^12 rows the encode pass is a map over the scan — the ONLY
    shuffle ivf_pq_topk pays before the bounded rerank is the
    by-cell cogroup."""
    import numpy as np

    from ssgp_toolbox_spark.functions import simsearch

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    e = simsearch._normalize(simsearch._cast(emb).select(
        F.col("vec_id").alias("nid"), F.col("emb")))
    C = np.eye(16, 64)
    books = np.zeros((8, 16, 8))
    books[:, 1, :] = 0.5
    enc = simsearch._pq_encode_udf((C, books))(F.col("emb"))
    coded = e.select("nid", enc.alias("_e")) \
        .select("nid", "_e.cid", "_e.codes")
    plan = _plan(coded)
    for banned in ("Exchange", "Window", "Join", "CartesianProduct"):
        assert banned not in plan, banned
    rows = coded.collect()
    assert len(rows) == 500 and all(len(r["codes"]) == 8 for r in rows)
