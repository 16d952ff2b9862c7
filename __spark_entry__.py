"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes every SQL-expressible operator of the engine
(SURVEY.md §2 mappings demonstrated on the TPC-H-ish harness tables,
plus the training-data pipeline functions on documents/embeddings);
``oracle_sql()`` carries the DuckDB-equivalent SQL. Raster operators
(gapfill, discretize, cellular automaton, tiling) are exercised on the
deterministic synthetic image table (generator.py); their oracles are
parquet fixtures under /root/repo/fixtures generated by the NAIVE
numpy transcriptions in tests/oracles.py (scripts/
make_raster_fixtures.py; bit-parity vs the engine kernels asserted in
tests/test_raster_fixtures.py), so every query below has a real
DuckDB-checked oracle.

Float policy: every floating aggregate is rounded (4-6 dp) in BOTH
engines; money sums go through DECIMAL(18,6) so the aggregation is
exact and engine-order-independent.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _local_df(spark: SparkSession, rows, schema) -> DataFrame:
    """Tiny literal row set as a SINGLE-partition DataFrame.

    ``spark.createDataFrame(list)`` parallelizes into
    defaultParallelism pickled-RDD slices; any ``coalesce(1)``
    downstream (the streaming drop files) then evaluates all of them
    SEQUENTIALLY through one Python worker — measured ~7 s for a
    4-row parquet drop at local[32], vs ~0.4 s for one slice. Row
    order and content are identical; only the slicing changes."""
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema)


def _dec(c):
    return F.col(c).cast("decimal(18,6)")


# --------------------------------------------------------------------
# relational operator demos (SURVEY.md §2 mappings on harness tables)
# --------------------------------------------------------------------


def _e2(c):
    """Money column as an exact scaled long (cents): the harness money
    columns are 2-decimal values stored as doubles, so ``round(x*100)``
    recovers the exact integer. Summing longs replaces the per-row
    BigDecimal multiply/add of the former DECIMAL(18,6) path (the
    values are identical: a 2dp double casts to DECIMAL(18,6) exactly,
    and the scaled-integer product/sum is the same exact number —
    overflow headroom ~8·10^9 lineitem rows ≈ sf1500)."""
    return F.round(F.col(c) * 100).cast("long")


def q01_pricing_summary(spark, sf):
    """A1/A3/A6 groupBy-agg (TPC-H Q1 shape)."""
    li = _t(spark, sf, "lineitem")
    out = (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(_e2("l_quantity")) / 100.0, 2).alias("sum_qty"),
            F.round(F.sum(_e2("l_extendedprice")) / 100.0, 2).alias("sum_base_price"),
            F.round(F.sum(_e2("l_extendedprice") * (F.lit(100) - _e2("l_discount"))) / 10000.0, 2).alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )
    return out


def q02_topk_revenue(spark, sf):
    """O2 top-k: 10 highest-revenue orders."""
    li = _t(spark, sf, "lineitem")
    rev = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum(_e2("l_extendedprice") * (F.lit(100) - _e2("l_discount"))) / 10000.0, 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )
    return rev


def q03_region_revenue(spark, sf):
    """Equi-join chain + broadcast small dims (S3 mapping)."""
    r = _t(spark, sf, "region")
    n = _t(spark, sf, "nation")
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(F.round(F.sum(_e2("o_totalprice")) / 100.0, 2).alias("revenue"),
             F.count("*").alias("n_orders"))
        .orderBy("r_name")
    )


def q04_bitflag_decode(spark, sf):
    """F11/F12/C2: two-bit QC policy decode via bitwiseAND."""
    e = _t(spark, sf, "events")
    qc = F.col("event_id").bitwiseAND(F.lit(3))
    quality = (F.when(qc == 0, "ok").when(qc == 1, "gap")
               .when(qc == 2, "skip").otherwise("nodata"))
    return (e.select(quality.alias("quality"))
            .groupBy("quality").agg(F.count("*").alias("n"))
            .orderBy("quality"))


def q05_value_clamp(spark, sf):
    """F13 range clamp: out-of-range -> gap sentinel class."""
    e = _t(spark, sf, "events")
    flag = F.when(~F.col("value").between(5.0, 95.0), "gap").otherwise("valid")
    return (e.groupBy("event_type", flag.alias("flag"))
            .agg(F.count("*").alias("n"),
                 F.round(F.avg("value"), 4).alias("avg_value"))
            .orderBy("event_type", "flag"))


def q06_viability_split(spark, sf):
    """F2/F3 branch split + unionByName recombine."""
    e = _t(spark, sf, "events")
    per_user = e.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias("n_err"),
    )
    viable = per_user.filter((F.col("n_events") > 5) & (F.col("n_err") > 0)) \
        .withColumn("branch", F.lit("viable"))
    passthrough = per_user.filter((F.col("n_events") > 5) & (F.col("n_err") == 0)) \
        .withColumn("branch", F.lit("passthrough"))
    return (viable.unionByName(passthrough)
            .groupBy("branch").agg(F.count("*").alias("n_users"),
                                   F.sum("n_events").alias("events"))
            .orderBy("branch"))


_BUCKET_ORIGIN = "2024-01-01 00:00:00"
_STEP = 43200  # 12H


def _bucket(col):
    return F.floor((F.unix_timestamp(col) - F.unix_timestamp(F.lit(_BUCKET_ORIGIN))) / _STEP).cast("int")


def q07_time_buckets(spark, sf):
    """J5/W1/A6: 12H tumbling grid incl. empty buckets (blank-layer
    analog) — grid generated declaratively via sequence+explode."""
    e = _t(spark, sf, "events")
    agg = e.groupBy(_bucket(F.col("ts")).alias("bucket")).agg(
        F.count("*").alias("n"), F.round(F.avg("value"), 4).alias("avg_value"))
    bounds = e.agg(F.max(_bucket(F.col("ts"))).alias("mx"))
    grid = bounds.select(F.explode(F.sequence(F.lit(0), F.col("mx"))).alias("bucket"))
    return (grid.join(agg, "bucket", "left")
            .select("bucket",
                    F.coalesce("n", F.lit(0)).alias("n"),
                    F.coalesce("avg_value", F.lit(-100.0)).alias("avg_value"))
            .orderBy("bucket"))


def q08_nearest_to_centroid(spark, sf):
    """W3: per-bucket row nearest to the bucket centroid
    (microsecond-precision distances so ranks are engine-portable)."""
    e = _t(spark, sf, "events")
    b = _bucket(F.col("ts"))
    origin_us = F.unix_micros(F.lit(_BUCKET_ORIGIN).cast("timestamp"))
    centroid_us = origin_us + ((b + F.lit(0.5)) * _STEP * 1_000_000).cast("long")
    dist = F.abs(F.unix_micros(F.col("ts").cast("timestamp")) - centroid_us)
    w = Window.partitionBy(b).orderBy(dist, F.col("ts"), F.col("event_id"))
    return (e.withColumn("bucket", b).withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("bucket", "event_id",
                    F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"))
            .orderBy("bucket"))


def q09_weighted_mean(spark, sf):
    """A7/W4: distance-rank weights n..1 per bucket, weighted mean."""
    e = _t(spark, sf, "events")
    b = _bucket(F.col("ts"))
    origin_us = F.unix_micros(F.lit(_BUCKET_ORIGIN).cast("timestamp"))
    centroid_us = origin_us + ((b + F.lit(0.5)) * _STEP * 1_000_000).cast("long")
    dist = F.abs(F.unix_micros(F.col("ts").cast("timestamp")) - centroid_us)
    w = Window.partitionBy("bucket")
    rnk = Window.partitionBy("bucket").orderBy(F.col("dist"), F.col("ts"), F.col("event_id"))
    df = (e.withColumn("bucket", b).withColumn("dist", dist)
          .withColumn("rank", F.row_number().over(rnk))
          .withColumn("n_in_bucket", F.count("*").over(w))
          .withColumn("weight", F.col("n_in_bucket") - F.col("rank") + 1))
    return (df.groupBy("bucket")
            .agg(F.round(F.sum(F.col("value") * F.col("weight")) / F.sum("weight"), 4).alias("wmean"),
                 F.count("*").alias("n"))
            .orderBy("bucket"))


def q10_amplitude(spark, sf):
    """A4: masked min/max/amplitude per group."""
    e = _t(spark, sf, "events")
    return (e.filter(F.col("value").between(5.0, 95.0))
            .groupBy("event_type")
            .agg(F.round(F.min("value"), 4).alias("vmin"),
                 F.round(F.max("value"), 4).alias("vmax"),
                 F.round(F.max("value") - F.min("value"), 4).alias("amplitude"))
            .orderBy("event_type"))


def q11_utm_zone(spark, sf):
    """C3: UTM EPSG code from lon/lat centroid arithmetic."""
    e = _t(spark, sf, "events")
    lon = (F.col("value") * 3.6) - 180.0
    lat = (F.col("user_id") % 180) - 90.0
    zone = (F.floor((lon + 180.0) / 6.0) % 60 + 1).cast("int")
    epsg = F.when(lat >= 0, zone + 32600).otherwise(zone + 32700)
    return (e.select(epsg.alias("epsg")).groupBy("epsg")
            .agg(F.count("*").alias("n")).orderBy("epsg"))


def q12_cell_index(spark, sf):
    """Tile index arithmetic (tiling.cell_expr) as plain columns."""
    from ssgp_toolbox_spark import tiling

    e = _t(spark, sf, "events")
    df = e.select(((F.col("value") * 3.6) - 180.0).alias("lon"),
                  ((F.col("user_id") % 180) - 90.0).cast("double").alias("lat"))
    return (df.select(tiling.cell_expr("lat", "lon", 5).alias("cell"))
            .groupBy("cell").agg(F.count("*").alias("n"))
            .orderBy("cell"))


def q13_sentinel_counts(spark, sf):
    """A1 sentinel counting as conditional aggregation."""
    e = _t(spark, sf, "events")
    return e.agg(
        F.sum(F.when(F.col("value") < 5.0, 1).otherwise(0)).alias("gap_like"),
        F.sum(F.when(F.col("value") > 95.0, 1).otherwise(0)).alias("skip_like"),
        F.sum(F.when(F.col("value").between(5.0, 95.0), 1).otherwise(0)).alias("valid_px"),
    )


# --------------------------------------------------------------------
# training-data pipeline functions
# --------------------------------------------------------------------


def d01_dedup_exact(spark, sf):
    from ssgp_toolbox_spark.functions import dedup

    return dedup.exact_dedup(_t(spark, sf, "documents")).orderBy("content_hash")


# planted near-duplicate docs (1-token edits → high 3-shingle Jaccard)
# shared verbatim with the DuckDB oracle so d02 returns discriminating
# non-empty pairs (the harness corpus has no textual near-dups)
PLANTED_DOCS = [
    (9001, "the quick brown fox jumps over the lazy dog near the quiet "
           "river bank at dawn while the birds sing softly in the mist"),
    (9002, "the quick brown fox jumps over the lazy dog near the quiet "
           "river bank at dusk while the birds sing softly in the mist"),
    (9003, "large scale data pipelines require careful partitioning and "
           "shuffle management to keep the throughput high under load"),
    (9004, "large scale data pipelines require careful partitioning and "
           "shuffle management to keep the latency low under load"),
    (9005, "completely unrelated short text about geospatial raster gap "
           "filling engines"),
]


def d02_jaccard_pairs(spark, sf):
    from ssgp_toolbox_spark.functions import dedup

    base = _t(spark, sf, "documents").filter(F.col("doc_id") < 100) \
        .select("doc_id", "text")
    planted = _local_df(spark, PLANTED_DOCS, base.schema)
    return dedup.jaccard_pairs(
        base.unionByName(planted), k=3, threshold=0.05
    ).orderBy("a", "b")


# boilerplate flood for the max_df contract query: 30 identical docs
# whose every shingle has document frequency 30 — above the cap, so
# the guard must drop them all BEFORE the quadratic shingle self-join
BOILER_DOCS = [
    (9500 + i, "this agreement is subject to the standard terms of "
               "service and conditions of the provider")
    for i in range(30)
]


def d08_jaccard_capped(spark, sf):
    """jaccard_pairs with the ``max_df`` hot-shingle guard (round-4
    VERDICT #3): the d02 corpus plus a 30-doc boilerplate flood.
    Uncapped, the flood alone is 435 pair rows through one shingle
    group (and at 10^6 copies would be 5·10^11); with max_df=10 every
    flood shingle is dropped before the self-join and the reported
    values are the exact Jaccard over the reduced shingle universe —
    the oracle applies the identical document-frequency filter."""
    from ssgp_toolbox_spark.functions import dedup

    base = _t(spark, sf, "documents").filter(F.col("doc_id") < 100) \
        .select("doc_id", "text")
    planted = _local_df(spark, PLANTED_DOCS + BOILER_DOCS, base.schema)
    return dedup.jaccard_pairs(
        base.unionByName(planted), k=3, threshold=0.05, max_df=10
    ).orderBy("a", "b")


def d03_minhash_lsh(spark, sf):
    from ssgp_toolbox_spark.functions import dedup

    return dedup.minhash_lsh_candidates(
        _t(spark, sf, "documents").filter(F.col("doc_id") < 200),
        k=3, n_hashes=16, bands=8,
    ).orderBy("a", "b")


def d04_simhash(spark, sf):
    from ssgp_toolbox_spark.functions import dedup

    return dedup.simhash(
        _t(spark, sf, "documents").filter(F.col("doc_id") < 100)
    ).orderBy("doc_id")


def _planted_embeddings():
    """Seeded near-duplicate embedding rows (3 close pairs + 1
    singleton), rounded to 6dp so the identical literals embed in the
    Spark plan and the DuckDB oracle. The harness embeddings are
    near-orthogonal (max pairwise cosine ≈ 0.5), so without planting
    a 0.95-cosine near-dup query proves nothing."""
    import numpy as np

    rng = np.random.default_rng(2024)
    rows = []
    for i in range(3):
        base = rng.standard_normal(64)
        twin = base + 0.02 * rng.standard_normal(64)
        rows.append((9001 + 2 * i, [float(v) for v in base.round(6)]))
        rows.append((9002 + 2 * i, [float(v) for v in twin.round(6)]))
    rows.append((9007, [float(v) for v in rng.standard_normal(64).round(6)]))
    return rows


def d05_embedding_near_dups(spark, sf):
    """Embedding-cosine near-dup pairs: LSH-banded candidates (shared
    hyperplanes) + exact cosine >= 0.95 verification — linear at
    scale, crossJoin-free (asserted in tests)."""
    from ssgp_toolbox_spark.functions import dedup

    base = _t(spark, sf, "embeddings").filter(F.col("vec_id") < 200) \
        .select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    planted = _local_df(spark, _planted_embeddings(), base.schema)
    return dedup.embedding_near_dups(base.unionByName(planted)) \
        .orderBy("a", "b")


def d06_dedup_clusters(spark, sf):
    """Near-dup cluster resolution: connected components over the
    MinHash-LSH candidate graph (dedup.cluster_pairs, min-label
    propagation), canonical keeper = component-min doc_id. Oracle:
    recursive transitive closure in DuckDB over the same pairs."""
    from ssgp_toolbox_spark.functions import dedup

    docs = _t(spark, sf, "documents").filter(F.col("doc_id") < 200)
    pairs = dedup.minhash_lsh_candidates(docs, k=3, n_hashes=16, bands=8)
    return dedup.cluster_pairs(pairs, vertices=docs.select("doc_id")) \
        .orderBy("doc_id")


def d07_dedup_clusters_star(spark, sf):
    """Same cluster resolution as d06 but via alternating large-star /
    small-star contraction (dedup.cluster_pairs_star, Kiveris et al.)
    — O(log^2 n) rounds at ANY component diameter, the scale path
    cluster_pairs' docstring defers to. Identical canonical-keeper
    semantics → identical recursive-CTE oracle."""
    from ssgp_toolbox_spark.functions import dedup

    docs = _t(spark, sf, "documents").filter(F.col("doc_id") < 200)
    pairs = dedup.minhash_lsh_candidates(docs, k=3, n_hashes=16, bands=8)
    return dedup.cluster_pairs_star(pairs, vertices=docs.select("doc_id")) \
        .orderBy("doc_id")


def t01_token_stats(spark, sf):
    from ssgp_toolbox_spark.functions import text

    return text.token_stats(_t(spark, sf, "documents")).orderBy("doc_id")


# real-language snippets (no apostrophes → SQL-literal safe) so the
# language-ID operator demonstrates discrimination: the harness corpus
# text is synthetic word soup, identical across its lang labels
PLANTED_LANG_DOCS = [
    (9101, "en", "the engine is that part of the plan that runs in the "
                 "cluster and writes to the table"),
    (9102, "es", "el problema de la memoria es que los datos no caben y "
                 "una parte se pierde por la red"),
    (9103, "fr", "le moteur est dans les machines et une partie des "
                 "resultats est dans le cache"),
    (9104, "de", "der plan ist nicht das problem und die daten sind ein "
                 "teil der arbeit"),
    (9105, "zh", "数据引擎在集群上运行并且填补空缺像素"),
    (9106, "ru", "данные и память работают в кластере а результат "
                 "пишется в таблицу"),
]


def t02_lang_id(spark, sf):
    from ssgp_toolbox_spark.functions import text

    base = _t(spark, sf, "documents").select("doc_id", "lang", "text")
    planted = _local_df(spark, PLANTED_LANG_DOCS, base.schema)
    return text.lang_id(base.unionByName(planted)).orderBy("doc_id")


def t04_quality_gate(spark, sf):
    """Keep/drop quality gate over token_stats metrics with auditable
    fail reasons (text.quality_gate). The library returns
    ``fail_reasons array<string>``; the contract projection joins it to
    a ``|``-separated scalar because the driver canonicalizer hashes
    column values with pandas (lists are unhashable)."""
    from ssgp_toolbox_spark.functions import text

    return (
        text.quality_gate(_t(spark, sf, "documents"))
        .select(
            "doc_id", "n_tokens",
            F.concat_ws("|", "fail_reasons").alias("fail_reasons"),
            "keep",
        )
        .orderBy("doc_id")
    )


# docs where BPE segmentation differs from whitespace (contractions,
# punctuation runs, digits glued to words) — without them the
# synthetic corpus is pure space-separated words and t05 would not
# discriminate the regex at all
PLANTED_BPE_DOCS = [
    (900001, "it's a test, isn't it? we've 42x costs..."),
    (900002, "hello,world 3.14 foo-bar's (nested)!!"),
    (900003, "CamelCase HTTP2 a1b2c3 'll 've end."),
]


def t05_bpe_token_stats(spark, sf):
    """BPE-ish pre-tokenizer counting (text.bpe_token_stats): the
    same ASCII-simplified GPT-2 split regex evaluated by Spark (Java
    regex) and DuckDB (RE2) must segment identically — including the
    planted contraction/punct/digit docs where the BPE count differs
    from the whitespace count."""
    from ssgp_toolbox_spark.functions import text

    base = _t(spark, sf, "documents").select("doc_id", "text")
    planted = _local_df(spark, PLANTED_BPE_DOCS, "doc_id long, text string")
    return text.bpe_token_stats(base.unionByName(planted)).orderBy("doc_id")


def t03_fingerprint(spark, sf):
    from ssgp_toolbox_spark.functions import text

    return text.fingerprint(_t(spark, sf, "documents")).orderBy("doc_id")


def s01_cosine_topk(spark, sf):
    from ssgp_toolbox_spark.functions import simsearch

    emb = _t(spark, sf, "embeddings")
    return simsearch.cosine_topk(emb, emb.filter(F.col("vec_id") < 10), k=5) \
        .orderBy("qid", "rank")


def s02_bucketed_topk(spark, sf):
    """Single-table 6-bit hyperplane signature prefilter (64 buckets,
    maximal pruning, no recall bar — simsearch.bucketed_topk
    docstring); the recall paths are s03 (multi-table LSH) and s04
    (IVF)."""
    from ssgp_toolbox_spark.functions import simsearch

    emb = _t(spark, sf, "embeddings")
    return simsearch.bucketed_topk(emb, emb.filter(F.col("vec_id") < 10), k=5) \
        .orderBy("qid", "rank")


def s03_lsh_topk(spark, sf):
    """Seeded random-hyperplane LSH ANN (16 bits, Hamming-1
    multi-probe) — the credible scale path for similarity search;
    recall@5 vs s01 reported by bench.py."""
    from ssgp_toolbox_spark.functions import simsearch

    emb = _t(spark, sf, "embeddings")
    return simsearch.lsh_topk(emb, emb.filter(F.col("vec_id") < 10), k=5) \
        .orderBy("qid", "rank")


# --------------------------------------------------------------------
# raster operators (rows-only checks: synthetic image table; exact
# parity vs the reference is asserted in tests/ against numpy oracles)
# --------------------------------------------------------------------


def _images(spark, n_history=6, n_inputs=2):
    from ssgp_toolbox_spark import generator
    from ssgp_toolbox_spark.io import images as img_io
    from ssgp_toolbox_spark.operators import stats

    # raster oracles (fixtures/) carry absolute instants — pin the tz
    # so the driver's session config can't shift timestamp parsing
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return stats.with_stats(img_io.with_id_parts(
        generator.images_df(spark, sites=("stp",), n_history=n_history,
                            n_inputs=n_inputs)
    ))


def s04_ivf_topk(spark, sf):
    """IVF ANN with a declaratively-trained coarse quantizer (2
    unrolled Lloyd rounds, simsearch.ivf_topk) — probes the query's 4
    nearest of 16 cells, exact cosine inside. The oracle replays the
    identical training + search in SQL CTEs."""
    from ssgp_toolbox_spark.functions import simsearch

    emb = _t(spark, sf, "embeddings")
    return simsearch.ivf_topk(emb, emb.filter(F.col("vec_id") < 10)) \
        .orderBy("qid", "rank")


def s05_ivf_pq_topk(spark, sf):
    """IVF + residual product quantization (simsearch.ivf_pq_topk) —
    the memory-side ANN scale path: probed cells are scanned over
    8-byte PQ codes via ADC tables, only the 32 best candidates per
    (query, cell) reach the exact-cosine rerank. The oracle's pair
    SELECTION is the naive per-row transcription
    (tests/oracles.ivf_pq_pairs_oracle, persisted as
    fixtures/s05_pairs.parquet by scripts/make_ann_fixtures.py —
    driver-registered sf0.01 embeddings are its input); sim + rank are
    recomputed in DuckDB with the s01/s04-proven cosine expressions,
    so the hash checks real arithmetic, not fixture echoes."""
    from ssgp_toolbox_spark.functions import simsearch

    emb = _t(spark, sf, "embeddings")
    return simsearch.ivf_pq_topk(
        emb, emb.filter(F.col("vec_id") < 10), k=5, n_cells=16,
        lloyd_iters=2, n_probe=4, m=8, pq_ks=16, rerank=32) \
        .orderBy("qid", "rank")


def s06_streaming_ann_serve(spark, sf):
    """Streaming ANN serving (streaming/simsearch_stream.py): the
    s05 IVF-PQ index built ONCE from the corpus, then the ten s05
    queries delivered as a two-micro-batch stream
    (maxFilesPerTrigger=1) and answered per batch via foreachBatch
    with the probed-cell prefilter on. The index is static and
    training never sees the queries, so batch boundaries cannot
    change any query's top-k: the streamed union must equal the
    batch s05 result row-for-row — the oracle IS s05's oracle
    (fixtures/s05_pairs.parquet + DuckDB-recomputed sim/rank)."""
    import os
    import shutil
    import tempfile
    import uuid

    from ssgp_toolbox_spark.functions import simsearch
    from ssgp_toolbox_spark.streaming import simsearch_stream

    emb = _t(spark, sf, "embeddings")
    src = tempfile.mkdtemp(prefix="s06_stream_")
    try:
        from concurrent.futures import ThreadPoolExecutor

        def write_drop(arg):
            b, cond = arg
            drop = os.path.join(src, f"b{b}")
            emb.filter(cond).coalesce(1).write.parquet(drop)
            # strictly increasing mtimes per drop: FileStreamSource
            # orders by mtime, so the schedule is deterministic
            for root, _dirs, files in os.walk(drop):
                for f in files:
                    os.utime(os.path.join(root, f),
                             (1_700_000_000 + b * 60,
                              1_700_000_000 + b * 60))

        # the drop writes only need the source table — start them on
        # threads and OVERLAP them with the index build (the driver
        # sits in collect waits most of the build, so the scheduler
        # interleaves the write jobs into the idle executor slots);
        # independent output dirs keep the two writes concurrent too
        with ThreadPoolExecutor(max_workers=2) as pool:
            drop_futs = [pool.submit(write_drop, a)
                         for a in [(1, "vec_id < 5"),
                                   (2, "vec_id >= 5 AND vec_id < 10")]]
            index, model = simsearch.ivf_pq_build(
                emb, n_cells=16, lloyd_iters=2, m=8, pq_ks=16)
            # build ONCE, serve many: materialize the encoded index
            # before the stream starts (the serve-side analog of
            # persisting it parquet cid-partitioned) — otherwise every
            # micro-batch re-runs the corpus normalize + PQ-encode
            # projection
            index = index.localCheckpoint(eager=True)
            for f in drop_futs:
                f.result()
        stream = (spark.readStream.schema(emb.schema)
                  .option("recursiveFileLookup", "true")
                  .option("maxFilesPerTrigger", 1).parquet(src))

        # per-batch results are k rows per arriving query —
        # driver-tiny, so the sink collects instead of a parquet
        # write + full re-read round trip per run
        rows: list[tuple] = []

        def sink(res, batch_id):
            rows.extend(
                tuple(r) for r in
                res.select("qid", "nid", "sim", "rank").collect())

        q = (simsearch_stream.streaming_ann_serve(
                stream, index, emb, model, sink, k=5, n_probe=4,
                rerank=32)
             .queryName("s06_serve_" + uuid.uuid4().hex[:8])
             .trigger(availableNow=True).start())
        assert q.awaitTermination(300), "s06 streaming query timed out"
        assert q.exception() is None, q.exception()
    finally:
        shutil.rmtree(src, ignore_errors=True)
    return _local_df(
        spark, rows, "qid long, nid long, sim double, rank int") \
        .orderBy("qid", "rank")


def r01_nn_fill(spark, sf):
    from ssgp_toolbox_spark.operators import nn_fill

    imgs = _images(spark)
    return nn_fill.nn_fill(imgs.filter(F.col("role") == "input")) \
        .select("image_id", "status", "filled_px", "phash").orderBy("image_id")


# custom sentinel encoding for the key_values override contract query
# (reference fill_gaps/nn_interpolation key_values, gapfiller.py:805,
# 826-828) — codes collision-free vs the corpus's ~276..305 K data
R19_KV = {"gap": -7.5, "skip": -15.25, "NoData": -9999.0}


def r19_keyvalues_fill(spark, sf):
    """nn_fill with a NON-DEFAULT sentinel dict: the r01 corpus with
    its sentinels remapped to R19_KV, filled via
    nn_fill(key_values=R19_KV). Oracle: the kv-aware naive
    transcription (tests/oracles.nn_fill_kv_oracle) persisted as
    fixtures/r19_expected.parquet — proves the override reaches the
    kernels (with the default encoding every remapped sentinel would
    count as data: statuses, filled_px and phash all change)."""
    from ssgp_toolbox_spark import codecs
    from ssgp_toolbox_spark.operators import nn_fill
    from ssgp_toolbox_spark.sentinels import GAP, NODATA, SKIP

    imgs = _images(spark).filter(F.col("role") == "input")
    remapped = []
    for r in imgs.select("image_id", "bytes", "w", "h", "fmt", "caption",
                         "phash").collect():
        m = codecs.decode(bytes(r["bytes"]), r["h"], r["w"], r["fmt"])
        mr = m.copy()
        mr[m == GAP] = R19_KV["gap"]
        mr[m == SKIP] = R19_KV["skip"]
        mr[m == NODATA] = R19_KV["NoData"]
        # input phash must use the OVERRIDE encoding: non-filled rows
        # (passthrough / not_enough_valid) echo this value, and the
        # fixture oracle hashes them kv-aware — a default-encoding
        # phash here would mismatch the moment any input stops
        # reaching status='filled'
        remapped.append((r["image_id"], codecs.encode(mr, r["fmt"]),
                         r["w"], r["h"], r["fmt"], r["caption"],
                         codecs.phash64(mr, R19_KV["gap"], R19_KV["skip"],
                                        R19_KV["NoData"])))
    rem = _local_df(
        spark, remapped, "image_id string, bytes binary, w int, h int, "
                         "fmt string, caption string, phash long")
    return nn_fill.nn_fill(rem, key_values=R19_KV) \
        .select("image_id", "status", "filled_px", "phash").orderBy("image_id")


def r02_gapfill_biome_knn(spark, sf):
    from ssgp_toolbox_spark.operators import gapfill

    out = gapfill.gapfill(_images(spark), method="Knn",
                          predictor_configuration="Biome",
                          hyperparameters="Custom", params={"n_neighbors": 5})
    return out.select("image_id", "status", "filled_px",
                      F.round("mean_cv_mae", 4).alias("mean_cv_mae"),
                      "phash") \
        .orderBy("image_id")


def r03_discretize_weighted(spark, sf):
    from ssgp_toolbox_spark.io import images as img_io
    from ssgp_toolbox_spark.operators import discretize

    imgs = _images(spark, n_history=8, n_inputs=0)
    layers = imgs.filter(F.col("role") == "history")
    out = discretize.discretize(layers, "12H", averaging="weighted",
                                filling_method="median", n_neighbors=3)
    return out.select("site", "bucket", "n_layers",
                      F.date_format("centroid", "yyyyMMdd'T'HHmmss").alias("centroid_s")) \
        .orderBy("site", "bucket")


def r04_cellular_expand(spark, sf):
    from ssgp_toolbox_spark.operators import cellular

    out = cellular.cloud_expand(_images(spark), iters=2)
    return out.select("image_id", "expanded_px", "phash").orderBy("image_id")


def r06_tiled_gapfill(spark, sf):
    """The path a 10^12-row run uses: the resumable checkpointed fill.
    ``gapfill_balanced_checkpointed`` commits one snapshot per input
    (``batch_rows=1``) into a temporary table, and the committed rows
    are read back with ``io.images.load``; the table is removed
    afterwards. The name predates this body and is kept as the
    contract's."""
    import shutil
    import tempfile

    from ssgp_toolbox_spark.io import images as img_io
    from ssgp_toolbox_spark.operators import gapfill as gf

    table = tempfile.mkdtemp(prefix="r06_ckpt_")
    try:
        gf.gapfill_balanced_checkpointed(_images(spark), table, batch_rows=1,
                                         params={"n_neighbors": 5})
        rows = img_io.load(spark, table) \
            .select("image_id", "status", "filled_px") \
            .orderBy("image_id").collect()
    finally:
        shutil.rmtree(table, ignore_errors=True)
    return _local_df(spark, rows,
                     "image_id string, status string, filled_px int")


def r07_sequential_fill(spark, sf):
    """add_outputs=True chaining (driver loop of Spark jobs)."""
    from ssgp_toolbox_spark.operators import gapfill as gf

    out = gf.gapfill_sequential(_images(spark, n_history=4, n_inputs=2),
                                method="Knn",
                                predictor_configuration="Random",
                                hyperparameters="Custom",
                                params={"n_neighbors": 5})
    return out.select("image_id", "status", "filled_px",
                      F.round("mean_cv_mae", 4).alias("mean_cv_mae"),
                      "phash").orderBy("image_id")


def r08_phash_dedup(spark, sf):
    """Perceptual-hash near-dup detection on the image table (the
    input_hint's phash column): hamming-close pairs via the banded
    pigeonhole equi-join (functions/dedup.hamming_pairs — linear at
    10^12 rows, no crossJoin in the plan). The corpus gets two planted
    near-duplicates (tiny valid-pixel perturbations) that the DCT hash
    must recover."""
    from ssgp_toolbox_spark import codecs as cx
    from ssgp_toolbox_spark import generator as gen
    from ssgp_toolbox_spark.functions import dedup
    from ssgp_toolbox_spark.sentinels import is_valid

    base = gen.make_layer("stp", 109, 62, 3, "history", 0.02)
    near = base.copy()
    near[is_valid(near)] += 0.01
    rows = [
        gen.image_row("stp", "input", "20300101T000000", base, cx.FMT_F64, 0),
        gen.image_row("stp", "input", "20300101T120000", near, cx.FMT_F64, 0),
    ]
    extra_df = _local_df(spark, rows, _images(spark).select(
        "image_id", "bytes", "w", "h", "fmt", "caption", "phash").schema)
    imgs = _images(spark).select("image_id", "phash").unionByName(
        extra_df.select("image_id", "phash"))
    pairs = dedup.hamming_pairs(imgs, id_col="image_id", hash_col="phash",
                                max_dist=8)
    return pairs.select(F.col("a").alias("ia"), F.col("b").alias("ib"),
                        "hamming").orderBy("ia", "ib")


def r09_gridsearch_fill(spark, sf):
    """Grid-search hyperparameter mode end-to-end on Spark:
    method='Lasso', hyperparameters='RandomGridSearch' (full alpha
    grid — RANDOM_N_ITER['Lasso'] is None — scored on sequential
    3-folds, so the run is fully deterministic and DuckDB-oracled
    like the Custom-mode fills). Small 'mini' site to keep the
    coordinate-descent grid affordable in the gate."""
    from ssgp_toolbox_spark import generator
    from ssgp_toolbox_spark.io import images as img_io
    from ssgp_toolbox_spark.operators import gapfill, stats

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    imgs = stats.with_stats(img_io.with_id_parts(
        generator.images_df(spark, sites=("mini",), n_history=8, n_inputs=1,
                            shape=(30, 20))))
    out = gapfill.gapfill(imgs, method="Lasso",
                          predictor_configuration="Biome",
                          hyperparameters="RandomGridSearch")
    return out.select("image_id", "status", "filled_px",
                      F.round("mean_cv_mae", 4).alias("mean_cv_mae"),
                      "phash").orderBy("image_id")


def r10_deep_gapfill(spark, sf):
    """Depth-bounded gapfill (operators/deep_gapfill.py): history is
    never stacked into a row — per-chunk coord extracts only. Must be
    bit-identical to r02 (same corpus/config), hence the shared
    fixture oracle."""
    from ssgp_toolbox_spark.operators import deep_gapfill

    out = deep_gapfill.gapfill_deep(_images(spark), method="Knn",
                                    predictor_configuration="Biome",
                                    hyperparameters="Custom",
                                    params={"n_neighbors": 5}, chunk_px=97)
    return out.select("image_id", "status", "filled_px",
                      F.round("mean_cv_mae", 4).alias("mean_cv_mae"),
                      "phash") \
        .orderBy("image_id")


def r11_swath_ingest(spark, sf):
    """S3 swath-archive ingest: SEN3 zip → classic-NetCDF decode →
    cloud/water flags → vertical flip (C9) → lat-band trim → geoloc
    NN warp onto the UTM grid (operators/swath_ingest.py). Oracle:
    naive per-pixel transcription (tests/oracles.swath_ingest_oracle)
    persisted as fixtures/r11_expected.parquet; phash pins values."""
    from ssgp_toolbox_spark import generator
    from ssgp_toolbox_spark.operators import stats, swath_ingest

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    swaths = generator.swath_archives_df(spark, sites=("stp",), n=2)
    out = swath_ingest.ingest_s3_archives(
        swaths, generator.SWATH_EXTENT, *generator.SWATH_RES)
    return stats.with_stats(out).select(
        "image_id", "w", "h",
        F.col("valid_px").alias("n_valid"),
        F.col("gap_count").alias("n_gap"),
        F.col("skip_count").alias("n_skip"),
        "phash",
    ).orderBy("image_id")


def r12_modis_ingest(spark, sf):
    """MODIS A1/A2 tile ingest: two-bit QC policy → /50 scale →
    sentinel overrides on the source sinusoidal grid → closed-form
    sinusoidal inverse → NN warp to UTM (operators/swath_ingest.py,
    MODIS_MOD_MYD_11.py semantics). Oracle: naive per-pixel
    transcription persisted as fixtures/r12_expected.parquet."""
    from ssgp_toolbox_spark import generator
    from ssgp_toolbox_spark.operators import stats, swath_ingest

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    tiles = generator.modis_tiles_df(spark, sites=("stp",), n=2)
    out = swath_ingest.ingest_modis_grids(
        tiles, generator.SWATH_EXTENT, *generator.SWATH_RES, qa_policy=0)
    return stats.with_stats(out).select(
        "image_id", "w", "h",
        F.col("valid_px").alias("n_valid"),
        F.col("gap_count").alias("n_gap"),
        F.col("skip_count").alias("n_skip"),
        "phash",
    ).orderBy("image_id")


def r15_mod09_ingest(spark, sf):
    """MOD09GA reflectance full tile chain: per-band int16 grids →
    MOD09 two-bit QC policy (no skip class) → /10000 scale → NDVI and
    Liang albedo with range clamps → quality overrides → sinusoidal
    inverse → NN warp to UTM (operators/swath_ingest.ingest_mod09_grids,
    MODIS_Reflectance_Products_MOD09GA.py:84-203 semantics). Oracle:
    naive per-pixel transcription (tests/oracles.mod09_ingest_oracle)
    persisted as fixtures/r15_expected.parquet."""
    from ssgp_toolbox_spark import generator
    from ssgp_toolbox_spark.operators import stats, swath_ingest

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    tiles = generator.mod09_tiles_df(spark, sites=("stp",), n=2)
    ndvi = swath_ingest.ingest_mod09_grids(
        tiles, generator.SWATH_EXTENT, *generator.SWATH_RES,
        product="ndvi", role="ndvi")
    albedo = swath_ingest.ingest_mod09_grids(
        tiles, generator.SWATH_EXTENT, *generator.SWATH_RES,
        product="albedo", role="albedo")
    return stats.with_stats(ndvi.unionByName(albedo)).select(
        "image_id", "w", "h",
        F.col("valid_px").alias("n_valid"),
        F.col("gap_count").alias("n_gap"),
        F.col("skip_count").alias("n_skip"),
        "phash",
    ).orderBy("image_id")


def r16_streaming_gapfill(spark, sf):
    """Structured-Streaming gapfill made contract-visible: the same
    corpus as r02 arrives as a parquet file stream, crosses
    streaming.gapfill_stream (stream-static broadcast join + the SAME
    fill kernel closure), lands in a memory sink via one
    availableNow micro-batch, and is projected exactly like r02 — the
    oracle IS r02's naive-numpy fixture, so the driver checks
    streaming == batch == oracle."""
    import shutil
    import tempfile
    import uuid

    from ssgp_toolbox_spark import generator
    from ssgp_toolbox_spark.io import images as img_io
    from ssgp_toolbox_spark.streaming import gapfill_stream

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # raw id-parts rows (gapfill_stream computes stats on the stream)
    imgs = img_io.with_id_parts(
        generator.images_df(spark, sites=("stp",), n_history=6, n_inputs=2))
    inputs = imgs.filter(F.col("role") == "input")
    src = tempfile.mkdtemp(prefix="r16_stream_")
    qname = "r16_sink_" + uuid.uuid4().hex[:8]
    try:
        inputs.write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema(inputs.schema).parquet(src)
        out = gapfill_stream.gapfill_stream(
            stream, imgs, method="Knn", predictor_configuration="Biome",
            hyperparameters="Custom", params={"n_neighbors": 5})
        q = (out.writeStream.format("memory").queryName(qname)
             .outputMode("append").trigger(availableNow=True).start())
        # a timeout would silently yield a partial sink table and
        # surface as an opaque hash mismatch — fail loudly instead
        assert q.awaitTermination(300), "r16 streaming query timed out"
        assert q.exception() is None, q.exception()
        rows = spark.table(qname).select(
            "image_id", "status", "filled_px",
            F.round("mean_cv_mae", 4).alias("mean_cv_mae"), "phash",
        ).orderBy("image_id").collect()
    finally:
        shutil.rmtree(src, ignore_errors=True)
    return _local_df(
        spark, rows, "image_id string, status string, filled_px int, "
                     "mean_cv_mae double, phash long")


# (site, iso ts) layer schedule for the streaming discretize contract
# query: collisions inside buckets, an empty bucket between, and the
# last two rows delivered as a SECOND micro-batch (late but inside
# the watermark). Mirrored as literals in the r17 oracle SQL.
R17_STAMPS = [
    ("stp", "2019-09-01 01:00:00"), ("stp", "2019-09-01 05:00:00"),
    ("stp", "2019-09-01 13:00:00"), ("stp", "2019-09-02 02:00:00"),
    ("mad", "2019-09-01 02:30:00"), ("mad", "2019-09-01 11:00:00"),
    # second file drop:
    ("stp", "2019-09-02 03:30:00"), ("mad", "2019-09-01 07:00:00"),
]


def r17_streaming_discretize(spark, sf):
    """Streaming Discretizator (watermarked tumbling window +
    min_by nearest-to-centroid, streaming/discretize_stream.py) made
    contract-visible: a fixed layer schedule arrives as two file
    drops; the result's winning payload is joined back to the
    schedule to name the winner by its timestamp, so the oracle is
    pure SQL over the same literal (site, ts) VALUES — bucketing,
    collision argmin, earliest-ts tie-break and late-arrival handling
    all checked engine-independently."""
    import os
    import shutil
    import tempfile

    from ssgp_toolbox_spark import codecs, generator
    from ssgp_toolbox_spark.streaming import discretize_stream

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    schema = ("site string, ts timestamp, bytes binary, h int, w int, "
              "fmt string")
    rows, by_bytes = [], {}
    for i, (site, ts) in enumerate(R17_STAMPS):
        m = generator.make_layer(site, 20, 16, i, "history", 0.0)
        payload = codecs.encode(m, codecs.FMT_F64)
        rows.append((site, ts, payload, 20, 16, codecs.FMT_F64))
        by_bytes[payload] = ts
    # the winner lookup below keys on payload bytes — it is only
    # correct while make_layer is injective in t_index
    assert len(by_bytes) == len(rows), "duplicate layer payloads"
    import datetime as _dt

    to_ts = lambda s: _dt.datetime.strptime(s, "%Y-%m-%d %H:%M:%S")
    mk = lambda rs: _local_df(
        spark, [(s, to_ts(t), p, h, w, f) for s, t, p, h, w, f in rs], schema)
    src = tempfile.mkdtemp(prefix="r17_stream_")
    import uuid

    qname = "r17_sink_" + uuid.uuid4().hex[:8]
    try:
        from concurrent.futures import ThreadPoolExecutor

        from ssgp_toolbox_spark.session import stream_partitions

        # independent output dirs → concurrent drop writes (no
        # maxFilesPerTrigger here: both drops land in ONE availableNow
        # micro-batch, so file order — hence write order — is free)
        with ThreadPoolExecutor(max_workers=2) as pool:
            list(pool.map(
                lambda a: mk(a[0]).write.parquet(os.path.join(src, a[1])),
                [(rows[:6], "drop1"), (rows[6:], "drop2")]))
        with stream_partitions(spark):
            stream = (spark.readStream.schema(mk(rows[:1]).schema)
                      .option("recursiveFileLookup", "true").parquet(src))
            out = discretize_stream.streaming_bucket_assign(stream, "12H")
            q = (out.writeStream.format("memory").queryName(qname)
                 .outputMode("complete").trigger(availableNow=True).start())
            assert q.awaitTermination(300), "r17 streaming query timed out"
            assert q.exception() is None, q.exception()
            got = spark.table(qname).collect()
    finally:
        shutil.rmtree(src, ignore_errors=True)
    data = [(r["site"],
             r["bucket_start"].strftime("%Y%m%dT%H%M%S"),
             r["centroid"].strftime("%Y%m%dT%H%M%S"),
             int(r["n_layers"]), by_bytes[bytes(r["bytes"])])
            for r in got]
    return _local_df(
        spark, data, "site string, bucket_s string, centroid_s string, "
                     "n_layers int, winner_ts string") \
        .orderBy("site", "bucket_s")


# (site, batch, image_id, phash) delivery schedule for the streaming
# dedup contract query. Batch-1 rows are mutually distant; batch-2
# rows are each either an exact redelivery, a hamming-2 near-dup of a
# batch-1 phash, or distant from everything — so is_new is decided
# purely across micro-batches (state persistence) and the oracle is a
# NOT EXISTS over earlier-batch literals.
R18_ROWS = [
    ("stp", 1, "img-a", 0x1111000011110000), ("stp", 1, "img-b", 0x00FF00FF00FF00FF),
    ("mad", 1, "img-x", 0x1111000011110000),  # same phash, other site: kept
    ("stp", 2, "img-a2", 0x1111000011110000),              # exact redelivery
    ("stp", 2, "img-b2", 0x00FF00FF00FF00FD),              # hamming 2 of b
    ("stp", 2, "img-c", 0x7777777777777777),               # new
    ("mad", 2, "img-y", 0x00FF00FF00FF00FF),               # new for mad
]


def r18_streaming_dedup(spark, sf):
    """Stateful streaming phash dedup (applyInPandasWithState,
    streaming/dedup_stream.py) made contract-visible: a fixed
    delivery schedule in two micro-batches (maxFilesPerTrigger=1);
    per-site seen-set state must drop exact redeliveries and
    hamming<=2 near-dups across batches while keeping same-phash rows
    of other sites. Oracle: NOT EXISTS over the same literals."""
    import datetime as _dt
    import os
    import shutil
    import tempfile
    import uuid

    from pyspark.sql import types as T

    from ssgp_toolbox_spark.streaming import dedup_stream

    schema = T.StructType([
        T.StructField("site", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("image_id", T.StringType()),
        T.StructField("phash", T.LongType()),
    ])
    t0 = _dt.datetime(2024, 1, 1)
    src = tempfile.mkdtemp(prefix="r18_stream_")
    qname = "r18_sink_" + uuid.uuid4().hex[:8]
    try:
        from concurrent.futures import ThreadPoolExecutor

        def write_drop(b):
            drop = os.path.join(src, f"b{b}")
            _local_df(
                spark, [(s, t0, i, p) for s, bb, i, p in R18_ROWS if bb == b],
                schema).write.parquet(drop)
            # FileStreamSource orders files by modification time; pin
            # strictly increasing mtimes per drop so the two
            # micro-batches always process in schedule order (equal
            # mtimes would leave batch membership to unspecified order)
            for root, _dirs, files in os.walk(drop):
                for f in files:
                    os.utime(os.path.join(root, f),
                             (1_700_000_000 + b * 60, 1_700_000_000 + b * 60))

        # independent output dirs → write the two drops concurrently
        with ThreadPoolExecutor(max_workers=2) as pool:
            list(pool.map(write_drop, (1, 2)))
        from ssgp_toolbox_spark.session import stream_partitions

        with stream_partitions(spark):
            stream = (spark.readStream.schema(schema)
                      .option("recursiveFileLookup", "true")
                      .option("maxFilesPerTrigger", 1).parquet(src))
            out = dedup_stream.streaming_phash_dedup(
                stream.withWatermark("ts", "1 hour"), hamming_radius=2)
            q = (out.writeStream.format("memory").queryName(qname)
                 .outputMode("append").trigger(availableNow=True).start())
            assert q.awaitTermination(300), "r18 streaming query timed out"
            assert q.exception() is None, q.exception()
        rows = spark.table(qname).select(
            "site", "image_id", "phash", "is_new").collect()
    finally:
        shutil.rmtree(src, ignore_errors=True)
    return _local_df(
        spark, rows,
        "site string, image_id string, phash long, is_new boolean") \
        .orderBy("site", "image_id")


def r13_resize(spark, sf):
    """Bilinear image resize (functions/multimodal.resize_images) of
    the two input rasters to 64x48; oracle = naive per-pixel bilinear
    loop fixture (fixtures/r13_expected.parquet); phash pins values."""
    from ssgp_toolbox_spark.functions import multimodal

    imgs = _images(spark)
    resized = multimodal.resize_images(
        imgs.filter(F.col("role") == "input"), 64, 48)
    return multimodal.image_digest(resized).select(
        "image_id", "w", "h",
        F.round("mean_px", 4).alias("mean_px"), "phash",
    ).orderBy("image_id")


def r14_export_roundtrip(spark, sf):
    """Export sinks S9/S10 as a contract-visible round trip: every
    input raster is encoded to GeoTIFF (io/export.encode_geotiff,
    reference common_functions.py:6-32) and each site's input stack to
    classic netCDF (encode_netcdf_stack, timeseries.py:335-374), both
    decoded back with the in-repo readers and digested. Oracle:
    fixtures/r14_expected.parquet — phash / byte size / georef
    computed by naive spec-arithmetic transcriptions in
    scripts/make_raster_fixtures.py, never by these encoders."""
    import numpy as np
    import pandas as pd

    from ssgp_toolbox_spark import codecs
    from ssgp_toolbox_spark.io import export

    cols = ["image_id", "kind", "n_bytes", "phash", "epsg",
            "min_x", "max_y", "label"]
    schema = ("image_id string, kind string, n_bytes int, phash long, "
              "epsg int, min_x double, max_y double, label string")
    imgs = _images(spark).filter(F.col("role") == "input") \
        .select("image_id", "site", "bytes", "w", "h", "fmt")

    def tif_rows(batches):
        for pdf in batches:
            rows = []
            for row in pdf.itertuples(index=False):
                m = codecs.decode(row.bytes, int(row.h), int(row.w), row.fmt)
                tif = export.encode_geotiff(
                    m.astype(np.float32), 300000.0, 6200000.0,
                    1000.0, 1000.0, 32635)
                back, tags = export.parse_geotiff(tif)
                rows.append((row.image_id, "geotiff", len(tif),
                             codecs.phash64(back.astype(np.float64)),
                             tags["epsg"], tags["min_x"], tags["max_y"],
                             row.image_id.split("/")[-1]))
            yield pd.DataFrame(rows, columns=cols)

    def nc_rows(key, pdf):
        pdf = pdf.sort_values("image_id")
        mats = [codecs.decode(b, int(h), int(w), f).astype(np.float32)
                for b, h, w, f in zip(pdf["bytes"], pdf["h"], pdf["w"],
                                      pdf["fmt"])]
        steps = [iid.split("/")[-1] for iid in pdf["image_id"]]
        nc = export.encode_netcdf_stack(np.stack(mats), steps)
        back, steps2 = export.parse_netcdf_stack(nc)
        return pd.DataFrame(
            [(f"{key[0]}/netcdf/{s}", "netcdf", len(nc),
              codecs.phash64(back[i].astype(np.float64)), 0, 0.0, 0.0, s)
             for i, s in enumerate(steps2)], columns=cols)

    tif_df = imgs.mapInPandas(tif_rows, schema)
    nc_df = imgs.groupBy("site").applyInPandas(nc_rows, schema)
    return tif_df.unionByName(nc_df).orderBy("kind", "image_id")


def r20_partitioned_export(spark, sf):
    """Distributed GeoTIFF sink (io/export.write_geotiff_partitioned):
    every task writes its own partition's files (no driver collect of
    image bytes), the manifest comes back as a DataFrame, and this
    query re-reads every written file and digests it. Oracle: the
    SAME spec-arithmetic fixture as r14's geotiff rows — the sink must
    produce byte-for-byte the bytes the single-file encoder does."""
    import os
    import shutil
    import tempfile

    import numpy as np

    from ssgp_toolbox_spark import codecs
    from ssgp_toolbox_spark.io import export

    imgs = _images(spark).filter(F.col("role") == "input") \
        .select("image_id", "bytes", "w", "h", "fmt").repartition(4)
    out = tempfile.mkdtemp(prefix="r20_tifs_")
    try:
        manifest = export.write_geotiff_partitioned(
            imgs, out, 300000.0, 6200000.0, 1000.0, 1000.0, 32635).collect()
        rows = []
        for r in manifest:
            with open(r["path"], "rb") as f:
                buf = f.read()
            back, tags = export.parse_geotiff(buf)
            rows.append((r["image_id"], "geotiff", len(buf),
                         codecs.phash64(back.astype(np.float64)),
                         tags["epsg"], tags["min_x"], tags["max_y"],
                         r["image_id"].split("/")[-1]))
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return _local_df(
        spark, rows, "image_id string, kind string, n_bytes int, phash long, "
                     "epsg int, min_x double, max_y double, label string") \
        .orderBy("image_id")


def r05_multimodal_features(spark, sf):
    from ssgp_toolbox_spark.functions import multimodal

    imgs = _images(spark)
    return multimodal.extract_features(imgs).select(
        "image_id", "fmt", "n_bytes", F.round("mean_px", 4).alias("mean_px")
    ).orderBy("image_id")


def q14_ndvi_albedo(spark, sf):
    """Ingest-stage band math (S8/C5/C6/F13): NDVI + Liang albedo
    with clamp-to-gap, over synthetic bands derived from events."""
    from ssgp_toolbox_spark.functions import ingest

    e = _t(spark, sf, "events")
    red = F.col("value") / 100.0
    nir = (F.col("event_id") % 97).cast("double") / 96.0
    b = lambda i: ((F.col("value") * i) % 100.0) / 100.0
    df = e.select(
        F.round(ingest.ndvi(nir, red), 6).alias("ndvi"),
        F.round(ingest.broadband_albedo(b(1), b(2), b(3), b(4), b(5), b(7)), 6).alias("albedo"),
    )
    return df.agg(
        F.count(F.when(F.col("ndvi") == -100.0, 1)).alias("ndvi_clamped"),
        F.round(F.avg(F.when(F.col("ndvi") != -100.0, F.col("ndvi"))), 6).alias("ndvi_avg"),
        F.count(F.when(F.col("albedo") == -100.0, 1)).alias("albedo_clamped"),
        F.round(F.avg(F.when(F.col("albedo") != -100.0, F.col("albedo"))), 6).alias("albedo_avg"),
    )


def q15_qc_policy(spark, sf):
    """Two-bit QC policies 0 vs 1 (F12, MODIS_MOD_MYD_11.py:102-129)."""
    from ssgp_toolbox_spark.functions import ingest

    e = _t(spark, sf, "events")
    return (e.select(ingest.qc_two_bit(F.col("event_id"), 0).alias("lenient"),
                     ingest.qc_two_bit(F.col("event_id"), 1).alias("strict"))
            .groupBy("lenient", "strict").agg(F.count("*").alias("n"))
            .orderBy("lenient", "strict"))


# --------------------------------------------------------------------
# contract surface
# --------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: Biome-mode kNN gap fill of the synthetic image table
    (runs the full scan→stats→join→Arrow-fill pipeline); sf0.001
    harness tables are touched via q01 to prove the relational path."""
    q01_pricing_summary(spark, "/root/testdata/sf0.001").collect()
    return r02_gapfill_biome_knn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q01_pricing_summary": q01_pricing_summary,
        "q02_topk_revenue": q02_topk_revenue,
        "q03_region_revenue": q03_region_revenue,
        "q04_bitflag_decode": q04_bitflag_decode,
        "q05_value_clamp": q05_value_clamp,
        "q06_viability_split": q06_viability_split,
        "q07_time_buckets": q07_time_buckets,
        "q08_nearest_to_centroid": q08_nearest_to_centroid,
        "q09_weighted_mean": q09_weighted_mean,
        "q10_amplitude": q10_amplitude,
        "q11_utm_zone": q11_utm_zone,
        "q12_cell_index": q12_cell_index,
        "q13_sentinel_counts": q13_sentinel_counts,
        "q14_ndvi_albedo": q14_ndvi_albedo,
        "q15_qc_policy": q15_qc_policy,
        "d01_dedup_exact": d01_dedup_exact,
        "d02_jaccard_pairs": d02_jaccard_pairs,
        "d08_jaccard_capped": d08_jaccard_capped,
        "d03_minhash_lsh": d03_minhash_lsh,
        "d04_simhash": d04_simhash,
        "d05_embedding_near_dups": d05_embedding_near_dups,
        "d06_dedup_clusters": d06_dedup_clusters,
        "d07_dedup_clusters_star": d07_dedup_clusters_star,
        "t01_token_stats": t01_token_stats,
        "t02_lang_id": t02_lang_id,
        "t03_fingerprint": t03_fingerprint,
        "t04_quality_gate": t04_quality_gate,
        "t05_bpe_token_stats": t05_bpe_token_stats,
        "s01_cosine_topk": s01_cosine_topk,
        "s02_bucketed_topk": s02_bucketed_topk,
        "s03_lsh_topk": s03_lsh_topk,
        "s04_ivf_topk": s04_ivf_topk,
        "s05_ivf_pq_topk": s05_ivf_pq_topk,
        "s06_streaming_ann_serve": s06_streaming_ann_serve,
        "r01_nn_fill": r01_nn_fill,
        "r02_gapfill_biome_knn": r02_gapfill_biome_knn,
        "r03_discretize_weighted": r03_discretize_weighted,
        "r04_cellular_expand": r04_cellular_expand,
        "r05_multimodal_features": r05_multimodal_features,
        "r06_tiled_gapfill": r06_tiled_gapfill,
        "r07_sequential_fill": r07_sequential_fill,
        "r08_phash_dedup": r08_phash_dedup,
        "r09_gridsearch_fill": r09_gridsearch_fill,
        "r10_deep_gapfill": r10_deep_gapfill,
        "r11_swath_ingest": r11_swath_ingest,
        "r12_modis_ingest": r12_modis_ingest,
        "r13_resize": r13_resize,
        "r14_export_roundtrip": r14_export_roundtrip,
        "r15_mod09_ingest": r15_mod09_ingest,
        "r16_streaming_gapfill": r16_streaming_gapfill,
        "r17_streaming_discretize": r17_streaming_discretize,
        "r18_streaming_dedup": r18_streaming_dedup,
        "r19_keyvalues_fill": r19_keyvalues_fill,
        "r20_partitioned_export": r20_partitioned_export,
    }


_H60 = "('0x' || substr(md5({x}), 1, 15))::BIGINT"


def _s03_sql(bits_per_table: int = 3, n_tables: int = 8) -> str:
    """DuckDB mirror of simsearch.lsh_topk: the same seeded hyperplane
    constants (rounded to 6dp → identical literals in both engines),
    multi-table sign signatures, same-bucket candidate union, cosine
    rank."""
    from ssgp_toolbox_spark.functions import simsearch

    planes = simsearch.hyperplanes(bits_per_table * n_tables, 64, seed=7)

    def key_expr(t):
        terms = []
        for j in range(bits_per_table):
            h = planes[t * bits_per_table + j]
            lits = ", ".join(repr(float(v)) for v in h)
            terms.append(
                f"(CASE WHEN list_dot_product(emb, [{lits}]) > 0 "
                f"THEN {1 << (bits_per_table - 1 - j)} ELSE 0 END)")
        return " + ".join(terms)

    keys = ", ".join(key_expr(t) for t in range(n_tables))
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
sig AS (SELECT vec_id, emb, [{keys}] AS keys FROM e),
buck AS (
  SELECT vec_id, emb, t AS tbl, keys[t] AS bucket
  FROM sig, UNNEST(generate_series(1, {n_tables})) AS u(t)
),
q AS (SELECT vec_id AS qid, emb AS qe, tbl, bucket FROM buck WHERE vec_id < 10),
c AS (SELECT vec_id AS nid, emb AS ne, tbl, bucket FROM buck),
scored AS (
  SELECT DISTINCT qid, nid,
    round(list_dot_product(qe, ne) / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(ne, ne))), 6) AS sim
  FROM q JOIN c USING (tbl, bucket) WHERE qid != nid
)
SELECT qid, nid, sim, CAST(rank AS INT) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
  FROM scored
) WHERE rank <= 5 ORDER BY qid, rank
"""


def _t02_sql() -> str:
    """DuckDB mirror of text.lang_id built from the SAME marker lists
    and script ranges (functions/text.py), over the same corpus
    (documents + planted real-language snippets)."""
    from ssgp_toolbox_spark.functions.text import (LANG_MARKERS, LANG_TRIGRAMS,
                                                   MARKER_WEIGHT,
                                                   SCRIPT_RANGES)

    score_sql = {}
    for lang, markers in LANG_MARKERS.items():
        lits = ",".join(f"'{m}'" for m in markers)
        grams = " + ".join(
            f"CAST((length(text) - length(replace(text, '{g}', ''))) "
            f"/ {len(g)} AS INT)"
            for g in LANG_TRIGRAMS[lang])
        score_sql[lang] = (
            f"len(list_filter(toks, x -> x IN ({lits}))) * {MARKER_WEIGHT}"
            f" + {grams}")
    for lang, pattern in SCRIPT_RANGES.items():
        score_sql[lang] = (f"length(regexp_replace(text, '{pattern}', '', 'g'))"
                           f" * {MARKER_WEIGHT}")
    langs = sorted(score_sql)
    scores = ",\n    ".join(f"{score_sql[l]} AS score_{l}" for l in langs)
    values = ", ".join(f"('{l}')" for l in langs)
    case = " ".join(f"WHEN '{l}' THEN score_{l}" for l in langs[:-1])
    planted = ", ".join(f"({i}, '{lg}', '{t}')" for i, lg, t in PLANTED_LANG_DOCS)
    return f"""
WITH corpus AS (
  SELECT doc_id, lang, text FROM documents
  UNION ALL
  SELECT CAST(v.doc_id AS BIGINT), v.lang, v.text
  FROM (VALUES {planted}) AS v(doc_id, lang, text)
),
t AS (SELECT doc_id, lang, text, string_split(text, ' ') AS toks FROM corpus),
s AS (
  SELECT doc_id, lang,
    {scores}
  FROM t
), ranked AS (
  SELECT doc_id, lang, l AS predicted_lang, CAST(sc AS INT) AS score,
         row_number() OVER (PARTITION BY doc_id ORDER BY sc DESC, l) AS rn
  FROM s, (VALUES {values}) AS langs(l),
  LATERAL (SELECT CASE l {case} ELSE score_{langs[-1]} END AS sc)
)
SELECT doc_id, lang, predicted_lang, score FROM ranked WHERE rn = 1 ORDER BY doc_id
"""




def _t05_planted() -> str:
    return ", ".join(
        "({}, '{}')".format(i, t.replace("'", "''"))
        for i, t in PLANTED_BPE_DOCS)


def _r17_sql() -> str:
    """DuckDB mirror of the streaming Discretizator contract: 12h
    epoch-anchored buckets, winner = argmin(|ts − centroid|) with
    earliest-ts tie-break, over the same literal (site, ts) schedule
    (R17_STAMPS — batch boundaries don't matter to the fixpoint)."""
    vals = ", ".join(f"('{s}', TIMESTAMP '{t}')" for s, t in R17_STAMPS)
    return f"""
WITH v(site, ts) AS (VALUES {vals}),
b AS (SELECT site, ts, CAST(floor(epoch(ts) / 43200) AS BIGINT) AS bkt FROM v),
r AS (SELECT site, bkt, ts,
        count(*) OVER (PARTITION BY site, bkt) AS n_layers,
        row_number() OVER (PARTITION BY site, bkt
          ORDER BY abs(epoch(ts) - (bkt * 43200 + 21600)), ts) AS rn
      FROM b)
SELECT site,
  strftime(make_timestamp(bkt * 43200 * 1000000), '%Y%m%dT%H%M%S') AS bucket_s,
  strftime(make_timestamp((bkt * 43200 + 21600) * 1000000), '%Y%m%dT%H%M%S') AS centroid_s,
  CAST(n_layers AS INT) AS n_layers,
  strftime(ts, '%Y-%m-%d %H:%M:%S') AS winner_ts
FROM r WHERE rn = 1 ORDER BY site, bucket_s
"""


def _r18_sql(radius: int = 2) -> str:
    """DuckDB mirror of the stateful streaming dedup contract:
    is_new = no same-site row in an EARLIER micro-batch within the
    hamming radius (batch-1 rows are mutually distant by construction,
    so the seen-state = prior batches' rows exactly)."""
    vals = ", ".join(f"('{s}', {b}, '{i}', {p})" for s, b, i, p in R18_ROWS)
    return f"""
WITH v(site, batch, image_id, phash) AS (VALUES {vals})
SELECT o.site, o.image_id, o.phash,
  NOT EXISTS (SELECT 1 FROM v p
              WHERE p.site = o.site AND p.batch < o.batch
                AND bit_count(xor(p.phash, o.phash)) <= {radius}) AS is_new
FROM v o ORDER BY o.site, o.image_id
"""


def _s02_sql(k: int = 5, n_bits: int = 6, seed: int = 7) -> str:
    """DuckDB mirror of simsearch.bucketed_topk: the same seeded
    single-table n_bits-bit hyperplane signature (identical 6dp plane
    literals), same-bucket candidates, cosine rank."""
    from ssgp_toolbox_spark.functions import simsearch

    planes = simsearch.hyperplanes(n_bits, 64, seed=seed)
    terms = []
    for j in range(n_bits):
        lits = ", ".join(repr(float(v)) for v in planes[j])
        terms.append(
            f"(CASE WHEN list_dot_product(emb, [{lits}]) > 0 "
            f"THEN {1 << (n_bits - 1 - j)} ELSE 0 END)")
    key = " + ".join(terms)
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
sig AS (SELECT vec_id, emb, {key} AS bucket FROM e),
q AS (SELECT vec_id AS qid, emb AS qe, bucket FROM sig WHERE vec_id < 10),
c AS (SELECT vec_id AS nid, emb AS ne, bucket FROM sig),
scored AS (
  SELECT qid, nid,
    round(list_dot_product(qe, ne) / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(ne, ne))), 6) AS sim
  FROM q JOIN c USING (bucket) WHERE qid != nid
)
SELECT qid, nid, sim, CAST(rank AS INT) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
  FROM scored
) WHERE rank <= {k} ORDER BY qid, rank
"""


def _s04_sql(k: int = 5, n_cells: int = 16, lloyd_iters: int = 2,
             n_probe: int = 4) -> str:
    """DuckDB mirror of simsearch.ivf_topk: identical normalized
    vectors (6dp), identical unrolled Lloyd rounds (argmin rounded
    squared-L2 with (dist, cid) tie-break; per-dim mean re-rounded to
    6dp), identical probe + exact-cosine rank."""
    dist = lambda a, b: (f"round(list_sum(list_transform(list_zip({a}, {b}), "
                         f"x -> (x[1]-x[2])*(x[1]-x[2]))), 6)")
    blocks = ["""
e0 AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
e AS (SELECT nid,
        list_transform(emb, x -> round(x / sqrt(list_dot_product(emb, emb)), 6)) AS emb
      FROM e0),
c0 AS (SELECT CAST(row_number() OVER (ORDER BY nid) - 1 AS INT) AS cid, emb AS cvec
       FROM (SELECT * FROM e ORDER BY nid LIMIT """ + str(n_cells) + "))"]
    prev = "c0"
    for i in range(1, lloyd_iters + 1):
        blocks.append(f"""
a{i} AS (
  SELECT nid, cid, emb FROM (
    SELECT e.nid, c.cid, e.emb,
           row_number() OVER (PARTITION BY e.nid
             ORDER BY {dist('e.emb', 'c.cvec')}, c.cid) AS rn
    FROM e, {prev} c) WHERE rn = 1),
u{i} AS (
  SELECT cid, i AS pos, avg(emb[i]) AS mv
  FROM a{i}, UNNEST(generate_series(1, len(emb))) AS u(i)
  GROUP BY cid, i),
n{i} AS (
  SELECT cid, list(round(mv, 6) ORDER BY pos) AS cvec
  FROM u{i} GROUP BY cid),
c{i} AS (
  SELECT p.cid, coalesce(n.cvec, p.cvec) AS cvec
  FROM {prev} p LEFT JOIN n{i} n USING (cid))""")
        prev = f"c{i}"
    blocks.append(f"""
idx AS (
  SELECT nid, cid, emb AS ne FROM (
    SELECT e.nid, c.cid, e.emb,
           row_number() OVER (PARTITION BY e.nid
             ORDER BY {dist('e.emb', 'c.cvec')}, c.cid) AS rn
    FROM e, {prev} c) WHERE rn = 1),
q AS (SELECT nid AS qid, emb AS qe FROM e WHERE nid < 10),
probes AS (
  SELECT qid, qe, cid FROM (
    SELECT q.qid, q.qe, c.cid,
           row_number() OVER (PARTITION BY q.qid
             ORDER BY {dist('q.qe', 'c.cvec')}, c.cid) AS rn
    FROM q, {prev} c) WHERE rn <= {n_probe}),
scored AS (
  SELECT qid, nid,
    round(list_dot_product(qe, ne)
          / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(ne, ne))), 6) AS sim
  FROM probes JOIN idx USING (cid) WHERE qid != nid)""")
    return ("WITH " + ",".join(blocks) + f"""
SELECT qid, nid, sim, CAST(rank AS INT) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
  FROM scored
) WHERE rank <= {k} ORDER BY qid, rank
""")


def _d05_sql(threshold: float = 0.95, bits_per_table: int = 4,
             n_tables: int = 8, seed: int = 11) -> str:
    """DuckDB mirror of dedup.embedding_near_dups on the same corpus
    (vec_id < 200 plus the planted literals): same seeded hyperplanes,
    same multi-table sign buckets, same exact-cosine verification."""
    from ssgp_toolbox_spark.functions import simsearch

    planes = simsearch.hyperplanes(bits_per_table * n_tables, 64, seed=seed)

    def key_expr(t):
        terms = []
        for j in range(bits_per_table):
            h = planes[t * bits_per_table + j]
            lits = ", ".join(repr(float(v)) for v in h)
            terms.append(
                f"(CASE WHEN list_dot_product(emb, [{lits}]) > 0 "
                f"THEN {1 << (bits_per_table - 1 - j)} ELSE 0 END)")
        return " + ".join(terms)

    keys = ", ".join(key_expr(t) for t in range(n_tables))
    planted = ", ".join(
        f"({i}, [{', '.join(repr(v) for v in vec)}])"
        for i, vec in _planted_embeddings())
    return f"""
WITH corpus AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
  FROM embeddings WHERE vec_id < 200
  UNION ALL
  SELECT CAST(v.vec_id AS BIGINT), v.emb
  FROM (VALUES {planted}) AS v(vec_id, emb)
),
sig AS (SELECT vec_id, emb, [{keys}] AS keys FROM corpus),
buck AS (
  SELECT vec_id, emb, t AS tbl, keys[t] AS bucket
  FROM sig, UNNEST(generate_series(1, {n_tables})) AS u(t)
)
SELECT DISTINCT x.vec_id AS a, y.vec_id AS b,
  round(list_dot_product(x.emb, y.emb)
        / (sqrt(list_dot_product(x.emb, x.emb))
           * sqrt(list_dot_product(y.emb, y.emb))), 6) AS sim
FROM buck x JOIN buck y USING (tbl, bucket)
WHERE x.vec_id < y.vec_id
  AND round(list_dot_product(x.emb, y.emb)
        / (sqrt(list_dot_product(x.emb, x.emb))
           * sqrt(list_dot_product(y.emb, y.emb))), 6) >= {threshold}
ORDER BY a, b
"""


# Raster-operator oracles: expected values computed by the NAIVE numpy
# transcriptions in tests/oracles.py (per-pixel loops over the same
# deterministic corpus; bit-parity-asserted in
# tests/test_raster_fixtures.py), persisted as parquet by
# scripts/make_raster_fixtures.py — never produced by the Spark
# operators themselves.
_FIX = "/root/repo/fixtures"

# IVF-PQ oracle, shared by s05 (batch) and s06 (streaming serve — a
# static index answers per micro-batch, so streamed union == batch
# result by contract): candidate SELECTION from the naive per-row
# transcription persisted as fixtures/s05_pairs.parquet
# (scripts/make_ann_fixtures.py), sim + rank recomputed here with the
# s01/s04-proven cosine expressions so the hash checks real
# arithmetic, not fixture echoes.
_S05_SQL = f"""
WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
e AS (SELECT vec_id,
        list_transform(emb, x -> round(x / sqrt(list_dot_product(emb, emb)), 6)) AS emb
      FROM e0),
pairs AS (SELECT qid, nid FROM read_parquet('{_FIX}/s05_pairs.parquet')),
scored AS (
  SELECT p.qid, p.nid,
    round(list_dot_product(q.emb, n.emb)
          / (sqrt(list_dot_product(q.emb, q.emb)) * sqrt(list_dot_product(n.emb, n.emb))), 6) AS sim
  FROM pairs p JOIN e q ON p.qid = q.vec_id JOIN e n ON p.nid = n.vec_id
)
SELECT qid, nid, sim, CAST(rank AS INT) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
  FROM scored
) ORDER BY qid, rank
"""


def oracle_sql() -> dict[str, str]:
    h60 = _H60
    shingle_cte = """
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents{flt}),
grams AS (
  SELECT doc_id,
         array_to_string(t[i + 1 : i + 3], ' ') AS shingle
  FROM toks, UNNEST(generate_series(0, greatest(len(t) - 3, 0))) AS u(i)
),
dsh AS (SELECT DISTINCT doc_id, shingle FROM grams)
"""
    # MinHash-LSH candidate pairs (shared by d03 and d06): CTE chain +
    # final pair select, mirroring dedup.minhash_lsh_candidates
    d03_ctes = f"""{shingle_cte.format(flt=' WHERE doc_id < 200')},
sig AS (
  SELECT doc_id,
  {', '.join(f"min({h60.format(x=chr(39) + 'seed' + str(i) + '|' + chr(39) + ' || shingle')}) AS mh{i}" for i in range(16))}
  FROM dsh GROUP BY doc_id
),
bands AS (
  {' UNION ALL '.join(
    'SELECT doc_id, ' + str(b) + ' AS band, '
    + h60.format(x="CAST(mh" + str(b * 2) + " AS VARCHAR) || ',' || CAST(mh" + str(b * 2 + 1) + " AS VARCHAR)")
    + ' AS bucket FROM sig' for b in range(8))}
)"""
    d03_select = """SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
FROM bands x JOIN bands y ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id"""
    _D03_PAIRS = f"""
WITH {d03_ctes.lstrip()}
{d03_select}
"""
    d06_sql = f"""
WITH RECURSIVE {d03_ctes.lstrip()},
pairs AS ({d03_select}),
sym AS (SELECT a AS src, b AS dst FROM pairs
        UNION SELECT b, a FROM pairs),
reach(src, dst) AS (
  SELECT src, dst FROM sym
  UNION
  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src
),
verts AS (SELECT DISTINCT doc_id FROM documents WHERE doc_id < 200)
SELECT v.doc_id,
       least(v.doc_id, coalesce(min(r.dst), v.doc_id)) AS cluster_id
FROM verts v LEFT JOIN reach r ON r.src = v.doc_id
GROUP BY v.doc_id ORDER BY v.doc_id
"""
    return {
        "q01_pricing_summary": """
SELECT l_returnflag, l_linestatus,
  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE), 2) AS sum_qty,
  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE), 2) AS sum_base_price,
  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6)) * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))) AS DOUBLE), 2) AS sum_disc_price,
  count(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY 1, 2 ORDER BY 1, 2
""",
        "q02_topk_revenue": """
SELECT l_orderkey,
  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6)) * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))) AS DOUBLE), 2) AS revenue
FROM lineitem GROUP BY 1 ORDER BY revenue DESC, l_orderkey LIMIT 10
""",
        "q03_region_revenue": """
SELECT r_name,
  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 2) AS revenue,
  count(*) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY 1 ORDER BY 1
""",
        "q04_bitflag_decode": """
SELECT CASE event_id & 3 WHEN 0 THEN 'ok' WHEN 1 THEN 'gap'
       WHEN 2 THEN 'skip' ELSE 'nodata' END AS quality,
       count(*) AS n
FROM events GROUP BY 1 ORDER BY 1
""",
        "q05_value_clamp": """
SELECT event_type,
       CASE WHEN NOT (value BETWEEN 5.0 AND 95.0) THEN 'gap' ELSE 'valid' END AS flag,
       count(*) AS n, round(avg(value), 4) AS avg_value
FROM events GROUP BY 1, 2 ORDER BY 1, 2
""",
        "q06_viability_split": """
WITH per_user AS (
  SELECT user_id, count(*) AS n_events,
         sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS n_err
  FROM events GROUP BY 1
), unioned AS (
  SELECT 'viable' AS branch, n_events FROM per_user WHERE n_events > 5 AND n_err > 0
  UNION ALL
  SELECT 'passthrough' AS branch, n_events FROM per_user WHERE n_events > 5 AND n_err = 0
)
SELECT branch, count(*) AS n_users, CAST(sum(n_events) AS BIGINT) AS events
FROM unioned GROUP BY 1 ORDER BY 1
""",
        "q07_time_buckets": """
WITH agg AS (
  SELECT CAST(floor(epoch(ts - TIMESTAMP '2024-01-01 00:00:00') / 43200) AS INT) AS bucket,
         count(*) AS n, round(avg(value), 4) AS avg_value
  FROM events GROUP BY 1
), grid AS (
  SELECT unnest(generate_series(0, (SELECT max(bucket) FROM agg))) AS bucket
)
SELECT g.bucket AS bucket, coalesce(a.n, 0) AS n,
       coalesce(a.avg_value, -100.0) AS avg_value
FROM grid g LEFT JOIN agg a ON g.bucket = a.bucket ORDER BY 1
""",
        "q08_nearest_to_centroid": """
WITH b AS (
  SELECT *, CAST(floor(epoch(ts - TIMESTAMP '2024-01-01 00:00:00') / 43200) AS INT) AS bucket
  FROM events
), d AS (
  SELECT bucket, event_id, ts,
         abs(epoch_us(ts) - epoch_us(TIMESTAMP '2024-01-01 00:00:00')
             - CAST((bucket + 0.5) * 43200 * 1000000 AS BIGINT)) AS dist
  FROM b
)
SELECT bucket, event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s
FROM d QUALIFY row_number() OVER (PARTITION BY bucket ORDER BY dist, ts, event_id) = 1
ORDER BY bucket
""",
        "q09_weighted_mean": """
WITH b AS (
  SELECT value, event_id, ts,
         CAST(floor(epoch(ts - TIMESTAMP '2024-01-01 00:00:00') / 43200) AS INT) AS bucket,
         abs(epoch_us(ts) - epoch_us(TIMESTAMP '2024-01-01 00:00:00')
             - CAST((CAST(floor(epoch(ts - TIMESTAMP '2024-01-01 00:00:00') / 43200) AS INT) + 0.5) * 43200 * 1000000 AS BIGINT)) AS dist
  FROM events
), r AS (
  SELECT *, row_number() OVER (PARTITION BY bucket ORDER BY dist, ts, event_id) AS rank,
         count(*) OVER (PARTITION BY bucket) AS n_in_bucket
  FROM b
)
SELECT bucket, round(sum(value * (n_in_bucket - rank + 1)) / sum(n_in_bucket - rank + 1), 4) AS wmean,
       count(*) AS n
FROM r GROUP BY 1 ORDER BY 1
""",
        "q10_amplitude": """
SELECT event_type, round(min(value), 4) AS vmin, round(max(value), 4) AS vmax,
       round(max(value) - min(value), 4) AS amplitude
FROM events WHERE value BETWEEN 5.0 AND 95.0 GROUP BY 1 ORDER BY 1
""",
        "q11_utm_zone": """
WITH g AS (
  SELECT (value * 3.6) - 180.0 AS lon,
         CAST(user_id % 180 AS DOUBLE) - 90.0 AS lat
  FROM events
)
SELECT CAST(CASE WHEN lat >= 0
       THEN (CAST(floor((lon + 180.0) / 6.0) AS BIGINT) % 60 + 1) + 32600
       ELSE (CAST(floor((lon + 180.0) / 6.0) AS BIGINT) % 60 + 1) + 32700 END AS INT) AS epsg,
       count(*) AS n
FROM g GROUP BY 1 ORDER BY 1
""",
        "q12_cell_index": """
WITH g AS (
  SELECT (value * 3.6) - 180.0 AS lon,
         CAST(user_id % 180 AS DOUBLE) - 90.0 AS lat
  FROM events
)
SELECT CAST(5 AS BIGINT) * (CAST(1 AS BIGINT) << 59)
     + CAST(least(31, greatest(0, floor((lat + 90.0) / 180.0 * 32))) AS BIGINT) * (CAST(1 AS BIGINT) << 30)
     + CAST(least(63, greatest(0, floor((lon + 180.0) / 360.0 * 64))) AS BIGINT) AS cell,
     count(*) AS n
FROM g GROUP BY 1 ORDER BY 1
""",
        "q13_sentinel_counts": """
SELECT CAST(sum(CASE WHEN value < 5.0 THEN 1 ELSE 0 END) AS BIGINT) AS gap_like,
       CAST(sum(CASE WHEN value > 95.0 THEN 1 ELSE 0 END) AS BIGINT) AS skip_like,
       CAST(sum(CASE WHEN value BETWEEN 5.0 AND 95.0 THEN 1 ELSE 0 END) AS BIGINT) AS valid_px
FROM events
""",
        "q14_ndvi_albedo": """
WITH bands AS (
  SELECT value / 100.0 AS red,
         CAST(event_id % 97 AS DOUBLE) / 96.0 AS nir,
         fmod(value * 1, 100.0) / 100.0 AS b1,
         fmod(value * 2, 100.0) / 100.0 AS b2,
         fmod(value * 3, 100.0) / 100.0 AS b3,
         fmod(value * 4, 100.0) / 100.0 AS b4,
         fmod(value * 5, 100.0) / 100.0 AS b5,
         fmod(value * 7, 100.0) / 100.0 AS b7
  FROM events
), calc AS (
  SELECT
    round(CASE WHEN (nir - red) / (nir + red) BETWEEN -1.0 AND 1.0
          THEN (nir - red) / (nir + red) ELSE -100.0 END, 6) AS ndvi,
    round(CASE WHEN 0.160*b1 + 0.291*b2 + 0.243*b3 + 0.116*b4 + 0.112*b5 + 0.081*b7 - 0.0015 BETWEEN 0.0 AND 1.0
          THEN 0.160*b1 + 0.291*b2 + 0.243*b3 + 0.116*b4 + 0.112*b5 + 0.081*b7 - 0.0015
          ELSE -100.0 END, 6) AS albedo
  FROM bands
)
SELECT count(CASE WHEN ndvi = -100.0 THEN 1 END) AS ndvi_clamped,
       round(avg(CASE WHEN ndvi != -100.0 THEN ndvi END), 6) AS ndvi_avg,
       count(CASE WHEN albedo = -100.0 THEN 1 END) AS albedo_clamped,
       round(avg(CASE WHEN albedo != -100.0 THEN albedo END), 6) AS albedo_avg
FROM calc
""",
        "q15_qc_policy": """
SELECT CASE event_id & 3 WHEN 0 THEN 'ok' WHEN 1 THEN 'ok'
       WHEN 2 THEN 'gap' ELSE 'nodata' END AS lenient,
       CASE event_id & 3 WHEN 0 THEN 'ok' WHEN 1 THEN 'gap'
       WHEN 2 THEN 'skip' ELSE 'nodata' END AS strict,
       count(*) AS n
FROM events GROUP BY 1, 2 ORDER BY 1, 2
""",
        "d01_dedup_exact": f"""
SELECT {h60.format(x='text')} AS content_hash,
       min(doc_id) AS keeper_id, count(*) AS n_copies
FROM documents GROUP BY 1 ORDER BY 1
""",
        "d02_jaccard_pairs": f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 100
  UNION ALL
  SELECT CAST(v.doc_id AS BIGINT), v.text
  FROM (VALUES {', '.join(f"({i}, '{t}')" for i, t in PLANTED_DOCS)}) AS v(doc_id, text)
),
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus),
grams AS (
  SELECT doc_id,
         array_to_string(t[i + 1 : i + 3], ' ') AS shingle
  FROM toks, UNNEST(generate_series(0, greatest(len(t) - 3, 0))) AS u(i)
),
dsh AS (SELECT DISTINCT doc_id, shingle FROM grams),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM dsh GROUP BY 1),
inter AS (
  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS i
  FROM dsh x JOIN dsh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
  GROUP BY 1, 2
)
SELECT a, b, round(i / (sa.n_sh + sb.n_sh - i), 6) AS jaccard
FROM inter JOIN sizes sa ON a = sa.doc_id JOIN sizes sb ON b = sb.doc_id
WHERE i / (sa.n_sh + sb.n_sh - i) >= 0.05
ORDER BY 1, 2
""",
        "d08_jaccard_capped": f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 100
  UNION ALL
  SELECT CAST(v.doc_id AS BIGINT), v.text
  FROM (VALUES {', '.join(f"({i}, '{t}')" for i, t in PLANTED_DOCS + BOILER_DOCS)}) AS v(doc_id, text)
),
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus),
grams AS (
  SELECT doc_id,
         array_to_string(t[i + 1 : i + 3], ' ') AS shingle
  FROM toks, UNNEST(generate_series(0, greatest(len(t) - 3, 0))) AS u(i)
),
dsh AS (SELECT DISTINCT doc_id, shingle FROM grams),
keep AS (SELECT shingle FROM dsh GROUP BY shingle HAVING count(*) <= 10),
fsh AS (SELECT dsh.doc_id, dsh.shingle FROM dsh JOIN keep USING (shingle)),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM fsh GROUP BY 1),
inter AS (
  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS i
  FROM fsh x JOIN fsh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
  GROUP BY 1, 2
)
SELECT a, b, round(i / (sa.n_sh + sb.n_sh - i), 6) AS jaccard
FROM inter JOIN sizes sa ON a = sa.doc_id JOIN sizes sb ON b = sb.doc_id
WHERE i / (sa.n_sh + sb.n_sh - i) >= 0.05
ORDER BY 1, 2
""",
        "d03_minhash_lsh": _D03_PAIRS + "ORDER BY 1, 2\n",
        "d06_dedup_clusters": d06_sql,
        "d07_dedup_clusters_star": d06_sql,
        "d04_simhash": f"""
WITH tok AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS t
  FROM documents WHERE doc_id < 100
), th AS (
  SELECT doc_id, {h60.format(x='t')} AS h FROM tok
), bits AS (
  SELECT doc_id,
  {', '.join(f"sum(((h >> {b}) & 1) * 2 - 1) AS s{b}" for b in range(60))}
  FROM th GROUP BY doc_id
)
SELECT doc_id,
  {' + '.join(f"(CASE WHEN s{b} > 0 THEN CAST(1 AS BIGINT) ELSE 0 END) * CAST({2 ** b} AS BIGINT)" for b in range(60))}
  AS simhash
FROM bits ORDER BY doc_id
""",
        "t01_token_stats": """
WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents)
SELECT doc_id, len(toks) AS n_tokens,
  len(list_filter(toks, x -> length(x) > 5)) AS n_long_tokens,
  round(length(text) / len(toks), 6) AS avg_token_len,
  round(len(list_filter(toks, x -> x IN ('the','a','of','and','to'))) / len(toks), 6) AS stop_ratio
FROM t ORDER BY doc_id
""",
                "t05_bpe_token_stats": f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT CAST(v.doc_id AS BIGINT), v.text
  FROM (VALUES {_t05_planted()}) AS v(doc_id, text)
),
t AS (
  SELECT doc_id, text, string_split(text, ' ') AS toks,
         regexp_extract_all(text, '''(?:[sdmt]|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^ A-Za-z0-9'']+| +') AS bpe
  FROM corpus
)
SELECT doc_id, len(toks) AS n_ws_tokens, len(bpe) AS n_bpe_tokens,
       round(length(text) * 1.0 / len(bpe), 6) AS chars_per_bpe_token
FROM t ORDER BY doc_id
""",
        "t02_lang_id": _t02_sql(),
        "t03_fingerprint": f"""
WITH toks AS (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents),
grams AS (
  SELECT doc_id, text, array_to_string(t[i + 1 : i + 8], ' ') AS gram
  FROM toks, UNNEST(generate_series(0, greatest(len(t) - 8, 0))) AS u(i)
)
SELECT doc_id, min({h60.format(x='gram')}) AS fingerprint,
       min({h60.format(x='text')}) AS content_hash
FROM grams GROUP BY doc_id ORDER BY doc_id
""",
        "t04_quality_gate": """
WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
m AS (
  SELECT doc_id, len(toks) AS n_tokens,
         len(list_filter(toks, x -> length(x) > 5)) AS n_long,
         round(length(text) * 1.0 / len(toks), 6) AS avg_len,
         round(len(list_filter(toks, x -> x IN ('the','a','of','and','to'))) * 1.0
           / len(toks), 6) AS stop_ratio
  FROM t
), r AS (
  SELECT doc_id, n_tokens,
    list_sort(list_filter([
      CASE WHEN n_tokens < 5 THEN 'too_short' END,
      CASE WHEN n_tokens > 5000 THEN 'too_long' END,
      CASE WHEN n_long * 1.0 / n_tokens > 0.5 THEN 'long_tokens' END,
      CASE WHEN stop_ratio < 0.001 THEN 'no_stopwords' END,
      CASE WHEN avg_len > 12.0 THEN 'avg_len' END
    ], x -> x IS NOT NULL)) AS fail_reasons
  FROM m
)
SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
       coalesce(array_to_string(fail_reasons, '|'), '') AS fail_reasons,
       len(fail_reasons) = 0 AS keep
FROM r ORDER BY doc_id
""",
        "s01_cosine_topk": """
WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS ne FROM embeddings),
scored AS (
  SELECT qid, nid,
    round(list_dot_product(qe, ne) / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(ne, ne))), 6) AS sim
  FROM q CROSS JOIN c WHERE qid != nid
)
SELECT qid, nid, sim, CAST(rank AS INT) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
  FROM scored
) WHERE rank <= 5 ORDER BY qid, rank
""",
        "s02_bucketed_topk": _s02_sql(),
        "s03_lsh_topk": _s03_sql(),
        "d05_embedding_near_dups": _d05_sql(),
        "s04_ivf_topk": _s04_sql(),
        "s05_ivf_pq_topk": _S05_SQL,
        # streaming serve == the batch s05 result by contract (static
        # index, per-batch inference), so it shares the same oracle
        "s06_streaming_ann_serve": _S05_SQL,
        "r01_nn_fill": f"""
SELECT image_id, status, CAST(filled_px AS INTEGER) AS filled_px,
       CAST(phash AS BIGINT) AS phash
FROM read_parquet('{_FIX}/r01_expected.parquet') ORDER BY image_id
""",
        "r02_gapfill_biome_knn": f"""
SELECT image_id, status, CAST(filled_px AS INTEGER) AS filled_px,
       round(CAST(mean_cv_mae_raw AS DOUBLE), 4) AS mean_cv_mae,
       CAST(phash AS BIGINT) AS phash
FROM read_parquet('{_FIX}/r02_expected.parquet') ORDER BY image_id
""",
        "r17_streaming_discretize": _r17_sql(),
        "r18_streaming_dedup": _r18_sql(),
        "r16_streaming_gapfill": f"""
SELECT image_id, status, CAST(filled_px AS INTEGER) AS filled_px,
       round(CAST(mean_cv_mae_raw AS DOUBLE), 4) AS mean_cv_mae,
       CAST(phash AS BIGINT) AS phash
FROM read_parquet('{_FIX}/r02_expected.parquet') ORDER BY image_id
""",
        "r03_discretize_weighted": f"""
SELECT site, CAST(bucket AS INTEGER) AS bucket,
       CAST(n_layers AS INTEGER) AS n_layers, centroid_s
FROM read_parquet('{_FIX}/r03_expected.parquet') ORDER BY site, bucket
""",
        "r04_cellular_expand": f"""
SELECT image_id, CAST(expanded_px AS INTEGER) AS expanded_px,
       CAST(phash AS BIGINT) AS phash
FROM read_parquet('{_FIX}/r04_expected.parquet') ORDER BY image_id
""",
        "r05_multimodal_features": f"""
SELECT image_id, fmt, CAST(n_bytes AS INTEGER) AS n_bytes,
       round(CAST(mean_px_raw AS DOUBLE), 4) AS mean_px
FROM read_parquet('{_FIX}/r05_expected.parquet') ORDER BY image_id
""",
        "r06_tiled_gapfill": f"""
SELECT image_id, status, CAST(filled_px AS INTEGER) AS filled_px
FROM read_parquet('{_FIX}/r06_expected.parquet') ORDER BY image_id
""",
        "r07_sequential_fill": f"""
SELECT image_id, status, CAST(filled_px AS INTEGER) AS filled_px,
       round(CAST(mean_cv_mae_raw AS DOUBLE), 4) AS mean_cv_mae,
       CAST(phash AS BIGINT) AS phash
FROM read_parquet('{_FIX}/r07_expected.parquet') ORDER BY image_id
""",
        "r08_phash_dedup": f"""
WITH p AS (SELECT image_id, CAST(phash AS BIGINT) AS phash
           FROM read_parquet('{_FIX}/r08_phash.parquet'))
SELECT a.image_id AS ia, b.image_id AS ib,
       CAST(bit_count(xor(a.phash, b.phash)) AS INTEGER) AS hamming
FROM p a JOIN p b ON a.image_id < b.image_id
WHERE bit_count(xor(a.phash, b.phash)) <= 8
ORDER BY 1, 2
""",
        "r09_gridsearch_fill": f"""
SELECT image_id, status, CAST(filled_px AS INTEGER) AS filled_px,
       round(CAST(mean_cv_mae_raw AS DOUBLE), 4) AS mean_cv_mae,
       CAST(phash AS BIGINT) AS phash
FROM read_parquet('{_FIX}/r09_expected.parquet') ORDER BY image_id
""",
        # deep path is bit-identical to gapfill by contract, so it must
        # reproduce r02's fixture exactly (same corpus, same config)
        "r10_deep_gapfill": f"""
SELECT image_id, status, CAST(filled_px AS INTEGER) AS filled_px,
       round(CAST(mean_cv_mae_raw AS DOUBLE), 4) AS mean_cv_mae,
       CAST(phash AS BIGINT) AS phash
FROM read_parquet('{_FIX}/r02_expected.parquet') ORDER BY image_id
""",
        "r11_swath_ingest": f"""
SELECT image_id, CAST(w AS INTEGER) AS w, CAST(h AS INTEGER) AS h,
       CAST(n_valid AS INTEGER) AS n_valid,
       CAST(n_gap AS INTEGER) AS n_gap,
       CAST(n_skip AS INTEGER) AS n_skip,
       CAST(phash AS BIGINT) AS phash
FROM read_parquet('{_FIX}/r11_expected.parquet') ORDER BY image_id
""",
        "r12_modis_ingest": f"""
SELECT image_id, CAST(w AS INTEGER) AS w, CAST(h AS INTEGER) AS h,
       CAST(n_valid AS INTEGER) AS n_valid,
       CAST(n_gap AS INTEGER) AS n_gap,
       CAST(n_skip AS INTEGER) AS n_skip,
       CAST(phash AS BIGINT) AS phash
FROM read_parquet('{_FIX}/r12_expected.parquet') ORDER BY image_id
""",
        "r13_resize": f"""
SELECT image_id, CAST(w AS INTEGER) AS w, CAST(h AS INTEGER) AS h,
       round(CAST(mean_px_raw AS DOUBLE), 4) AS mean_px,
       CAST(phash AS BIGINT) AS phash
FROM read_parquet('{_FIX}/r13_expected.parquet') ORDER BY image_id
""",
        "r15_mod09_ingest": f"""
SELECT image_id, CAST(w AS INTEGER) AS w, CAST(h AS INTEGER) AS h,
       CAST(n_valid AS INTEGER) AS n_valid,
       CAST(n_gap AS INTEGER) AS n_gap,
       CAST(n_skip AS INTEGER) AS n_skip,
       CAST(phash AS BIGINT) AS phash
FROM read_parquet('{_FIX}/r15_expected.parquet') ORDER BY image_id
""",
        "r19_keyvalues_fill": f"""
SELECT image_id, status, CAST(filled_px AS INTEGER) AS filled_px,
       CAST(phash AS BIGINT) AS phash
FROM read_parquet('{_FIX}/r19_expected.parquet') ORDER BY image_id
""",
        "r14_export_roundtrip": f"""
SELECT image_id, kind, CAST(n_bytes AS INTEGER) AS n_bytes,
       CAST(phash AS BIGINT) AS phash, CAST(epsg AS INTEGER) AS epsg,
       CAST(min_x AS DOUBLE) AS min_x, CAST(max_y AS DOUBLE) AS max_y,
       label
FROM read_parquet('{_FIX}/r14_expected.parquet') ORDER BY kind, image_id
""",
        "r20_partitioned_export": f"""
SELECT image_id, kind, CAST(n_bytes AS INTEGER) AS n_bytes,
       CAST(phash AS BIGINT) AS phash, CAST(epsg AS INTEGER) AS epsg,
       CAST(min_x AS DOUBLE) AS min_x, CAST(max_y AS DOUBLE) AS max_y,
       label
FROM read_parquet('{_FIX}/r14_expected.parquet')
WHERE kind = 'geotiff' ORDER BY image_id
""",
    }
