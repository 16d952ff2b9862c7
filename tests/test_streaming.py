"""Streaming Discretizator: the watermarked tumbling-window bucket
assignment must land the same layers on the same grid as the batch
operator ('None' averaging)."""

import os
from datetime import datetime

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ssgp_toolbox_spark import codecs
from ssgp_toolbox_spark.streaming import discretize_stream

H, W = 6, 5

SCHEMA = T.StructType([
    T.StructField("site", T.StringType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("bytes", T.BinaryType()),
    T.StructField("h", T.IntegerType()),
    T.StructField("w", T.IntegerType()),
    T.StructField("fmt", T.StringType()),
])


def _mk(seed):
    return 290 + np.random.default_rng(seed).normal(0, 3, (H, W))


def _rows():
    stamps = [
        datetime(2019, 9, 1, 1, 0), datetime(2019, 9, 1, 5, 0),
        datetime(2019, 9, 1, 13, 0), datetime(2019, 9, 2, 2, 0),
        datetime(2019, 9, 2, 3, 30),
    ]
    return [("s1", t, codecs.encode(_mk(i), codecs.FMT_F64), H, W, codecs.FMT_F64)
            for i, t in enumerate(stamps)]


def test_streaming_buckets_equal_batch(spark, tmp_path):
    rows = _rows()
    src = str(tmp_path / "stream_src")
    os.makedirs(src)
    # two file drops = two micro-batches
    spark.createDataFrame(rows[:3], SCHEMA).write.parquet(src + "/part1")
    spark.createDataFrame(rows[3:], SCHEMA).write.parquet(src + "/part2")

    stream = spark.readStream.schema(SCHEMA).option(
        "recursiveFileLookup", "true").parquet(src)
    out = discretize_stream.streaming_bucket_assign(stream, "12H")
    q = (out.writeStream.format("memory").queryName("grid_stream")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["site"], r["bucket_start"]): (bytes(r["bytes"]), r["n_layers"])
           for r in spark.sql("select * from grid_stream").collect()}

    # expected, computed in plain python: bucket by 12h windows from
    # the epoch, nearest-to-centroid pick, earliest wins ties
    from collections import defaultdict

    exp = {}

    buckets = defaultdict(list)
    for site, ts, payload, h, w, fmt in rows:
        epoch = datetime(1970, 1, 1)
        b = int((ts - epoch).total_seconds() // 43200)
        buckets[(site, b)].append((ts, payload))
    for (site, b), layers in buckets.items():
        start = datetime(1970, 1, 1).timestamp() + b * 43200
        centroid = start + 21600
        best = min(layers, key=lambda x: (abs(x[0].timestamp() - centroid),
                                          x[0].timestamp()))
        key = (site, datetime.utcfromtimestamp(start))
        exp[key] = (bytes(best[1]), len(layers))

    assert got == exp


def test_stateful_phash_dedup(spark, tmp_path):
    """applyInPandasWithState: state (seen phashes) persists across
    micro-batches; re-delivered and hamming-close images flagged."""
    from ssgp_toolbox_spark.streaming import dedup_stream

    schema = T.StructType([
        T.StructField("site", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("image_id", T.StringType()),
        T.StructField("phash", T.LongType()),
    ])
    src = str(tmp_path / "dedup_src")
    os.makedirs(src)
    t0 = datetime(2024, 1, 1)
    # batch 1: two distinct images
    spark.createDataFrame([
        ("s1", t0, "img-a", 1000), ("s1", t0, "img-b", 2000),
    ], schema).coalesce(1).write.parquet(src + "/b1")
    # batch 2: exact redelivery of img-a + near-dup of b (hamming 1) + new
    spark.createDataFrame([
        ("s1", t0, "img-a2", 1000), ("s1", t0, "img-b2", 2001),
        ("s1", t0, "img-c", 5000),
    ], schema).coalesce(1).write.parquet(src + "/b2")

    # one file per trigger -> the two drops really are two
    # micro-batches, so state persistence across batches is exercised
    stream = (spark.readStream.schema(schema)
              .option("recursiveFileLookup", "true")
              .option("maxFilesPerTrigger", 1).parquet(src))
    out = dedup_stream.streaming_phash_dedup(
        stream.withWatermark("ts", "1 hour"), hamming_radius=2)
    q = (out.writeStream.format("memory").queryName("dedup_stream")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r["image_id"]: r["is_new"]
           for r in spark.sql("select * from dedup_stream").collect()}
    assert got["img-a"] and got["img-b"] and got["img-c"]
    assert not got["img-a2"]          # exact redelivery dropped
    assert not got["img-b2"]          # hamming-1 near-dup dropped


def test_streaming_swath_ingest_equals_batch(spark, tmp_path):
    """The swath ingest operator is a stateless mapInPandas, so the
    SAME code runs under readStream: granules arriving as a stream
    produce exactly the batch rows (continuous-ingest story for the
    north_rule pipeline)."""
    from ssgp_toolbox_spark import generator
    from ssgp_toolbox_spark.operators import swath_ingest as SW

    src = str(tmp_path / "swaths")
    batch_df = generator.swath_archives_df(spark, sites=("stp",), n=2)
    batch_df.write.parquet(src)
    expected = {r["image_id"]: (r["phash"], r["w"], r["h"]) for r in
                SW.ingest_s3_archives(batch_df, generator.SWATH_EXTENT,
                                      *generator.SWATH_RES).collect()}

    stream = spark.readStream.schema(SW.SWATH_SCHEMA).parquet(src)
    out = SW.ingest_s3_archives(stream, generator.SWATH_EXTENT,
                                *generator.SWATH_RES)
    q = (out.writeStream.format("memory").queryName("swath_ingest_t")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r["image_id"]: (r["phash"], r["w"], r["h"]) for r in
           spark.sql("SELECT * FROM swath_ingest_t").collect()}
    assert got == expected


def test_streaming_gapfill_equals_batch(spark, tmp_path):
    """Stream-static gapfill: inputs arriving as a stream against a
    static packed history produce bit-identical rows to the batch
    operator (same kernel closure, same per-image seeds)."""
    from ssgp_toolbox_spark import generator
    from ssgp_toolbox_spark.io import images as img_io
    from ssgp_toolbox_spark.operators import gapfill, stats
    from ssgp_toolbox_spark.streaming import gapfill_stream

    df = img_io.with_id_parts(
        generator.images_df(spark, sites=("stp",), n_history=6, n_inputs=2))
    kw = dict(method="Knn", predictor_configuration="Biome",
              hyperparameters="Custom", params={"n_neighbors": 5})
    batch = {r["image_id"]: (r["phash"], r["status"], r["filled_px"])
             for r in gapfill.gapfill(stats.with_stats(df), **kw).collect()}

    src = str(tmp_path / "inputs")
    inputs = df.filter(F.col("role") == "input")
    inputs.write.parquet(src)
    stream = (spark.readStream.schema(inputs.schema).parquet(src))
    out = gapfill_stream.gapfill_stream(stream, df, **kw)
    q = (out.writeStream.format("memory").queryName("gapfill_stream_t")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = {r["image_id"]: (r["phash"], r["status"], r["filled_px"])
           for r in spark.sql("SELECT * FROM gapfill_stream_t").collect()}
    assert got == batch


# ------------------------- dedup state kernel (round-4 VERDICT #1) —
# the banded index must match brute force exactly and touch a
# vanishing fraction of state per row

def _brute_dedup(hashes, radius):
    """reference: linear scan + per-candidate popcount over ALL kept
    state (the pre-round-5 kernel's semantics)."""
    kept, flags = [], []
    for ph in hashes:
        u = ph & ((1 << 64) - 1)
        dup = any(p == ph for p in kept) or (
            radius > 0 and any(
                bin((p & ((1 << 64) - 1)) ^ u).count("1") <= radius
                for p in kept))
        flags.append(not dup)
        if not dup:
            kept.append(ph)
    return flags, kept


@pytest.mark.parametrize("radius", [0, 2, 8])
def test_banded_seen_matches_bruteforce(radius):
    from ssgp_toolbox_spark.streaming.dedup_stream import BandedSeen

    rng = np.random.default_rng(7)
    base = rng.integers(-(2 ** 63), 2 ** 63, size=400, dtype=np.int64)
    # plant exact redeliveries and near-dups at hamming 1..radius+1
    planted = []
    for i in range(0, 100, 5):
        planted.append(int(base[i]))                       # exact dup
        flip = int(base[i + 1]) ^ (1 << int(rng.integers(64)))
        planted.append(np.int64(np.uint64(flip & ((1 << 64) - 1))))
    stream = [int(v) for v in base] + [int(v) for v in planted]
    exp_flags, exp_kept = _brute_dedup(stream, radius)

    seen = BandedSeen(radius)
    got_flags = []
    for ph in stream:
        dup = seen.is_dup(ph)
        got_flags.append(not dup)
        if not dup:
            seen.add(ph)
    assert got_flags == exp_flags
    assert seen.seen_list() == exp_kept
    # state round-trip through the GroupState array schema
    seen2 = BandedSeen(radius, seen.seen_list())
    probe = int(base[0])
    assert seen2.is_dup(probe) and seen2.seen_list() == exp_kept


def test_banded_seen_sublinear_candidates():
    """20k-hash state: the radius check must examine a vanishing
    fraction of what the brute-force linear scan would (the
    deterministic proxy for 'per-row cost does not grow with
    state' — wall-time asserts would be host-noise flaky)."""
    from ssgp_toolbox_spark.streaming.dedup_stream import BandedSeen

    rng = np.random.default_rng(11)
    hashes = [int(v) for v in
              rng.integers(-(2 ** 63), 2 ** 63, size=20000, dtype=np.int64)]
    seen = BandedSeen(4)
    brute_comparisons = 0
    for ph in hashes:
        brute_comparisons += len(seen)
        if not seen.is_dup(ph):
            seen.add(ph)
    assert len(seen) == 20000            # random hashes: no dups
    assert brute_comparisons > 1.9e8
    # 5 bands of ~13 bits -> expected candidate fraction ~5*2^-12.8
    assert seen.candidates_examined < 0.01 * brute_comparisons


class _FakeState:
    def __init__(self, seen=None, timed_out=False):
        self.exists = seen is not None
        self.get = (seen,) if seen is not None else None
        self.hasTimedOut = timed_out
        self.removed = False
        self.updated = None
        self.timeout_set = None

    def remove(self):
        self.removed = True

    def update(self, v):
        self.updated = v

    def setTimeoutDuration(self, ms):
        self.timeout_set = ms


def test_dedup_fn_eviction_branch():
    """Processing-time-timeout eviction: a timed-out group's state is
    removed and nothing is emitted; a live group re-arms the timeout
    after every batch."""
    import pandas as pd

    from ssgp_toolbox_spark.streaming.dedup_stream import make_dedup_fn

    fn = make_dedup_fn(hamming_radius=2, timeout_ms=60000)
    dead = _FakeState(seen=[1, 2, 3], timed_out=True)
    out = list(fn(("s1",), iter([]), dead))
    assert dead.removed and dead.updated is None
    assert len(out) == 1 and len(out[0]) == 0

    live = _FakeState(seen=[1000])
    pdf = pd.DataFrame({"image_id": ["a", "b"], "phash": [1000, 4096]})
    out = list(fn(("s1",), iter([pdf]), live))
    assert live.timeout_set == 60000
    assert live.updated == ([1000, 4096],)
    got = {r.image_id: r.is_new for r in out[0].itertuples()}
    assert got == {"a": False, "b": True}


def test_stateful_phash_dedup_with_timeout_enabled(spark, tmp_path):
    """End-to-end with state_timeout_ms set: ProcessingTimeTimeout +
    setTimeoutDuration must be accepted by the real state machinery,
    and with a timeout far longer than the run the output equals the
    exact-dedup result."""
    from ssgp_toolbox_spark.streaming import dedup_stream

    schema = T.StructType([
        T.StructField("site", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("image_id", T.StringType()),
        T.StructField("phash", T.LongType()),
    ])
    src = str(tmp_path / "dedup_src_tmo")
    os.makedirs(src)
    t0 = datetime(2024, 1, 1)
    spark.createDataFrame([
        ("s1", t0, "img-a", 1000), ("s1", t0, "img-b", 2000),
    ], schema).coalesce(1).write.parquet(src + "/b1")
    spark.createDataFrame([
        ("s1", t0, "img-a2", 1000), ("s1", t0, "img-c", 5000),
    ], schema).coalesce(1).write.parquet(src + "/b2")
    stream = (spark.readStream.schema(schema)
              .option("recursiveFileLookup", "true")
              .option("maxFilesPerTrigger", 1).parquet(src))
    out = dedup_stream.streaming_phash_dedup(
        stream.withWatermark("ts", "1 hour"), hamming_radius=2,
        state_timeout_ms=3_600_000)
    q = (out.writeStream.format("memory").queryName("dedup_stream_tmo")
         .outputMode("append").trigger(availableNow=True).start())
    # a ProcessingTimeTimeout query never self-terminates (it stays
    # alive to fire future timeouts), so poll the sink then stop it
    import time

    deadline = time.time() + 120
    while time.time() < deadline:
        if spark.sql("select * from dedup_stream_tmo").count() >= 4:
            break
        time.sleep(1)
    assert q.exception() is None
    got = {r["image_id"]: r["is_new"]
           for r in spark.sql("select * from dedup_stream_tmo").collect()}
    q.stop()
    assert got == {"img-a": True, "img-b": True,
                   "img-a2": False, "img-c": True}


def test_banded_seen_property_matches_bruteforce():
    """Hypothesis property: for ANY hash stream (adversarial
    duplicates, clustered bit patterns) and ANY radius 0..10, the
    banded state index emits exactly the brute-force keep/drop
    sequence and retains exactly the brute-force state."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from ssgp_toolbox_spark.streaming.dedup_stream import BandedSeen

    i64 = st.integers(min_value=-(2 ** 63), max_value=2 ** 63 - 1)
    # bias toward collisions: small alphabet of base hashes + bit flips
    def stream(draw):
        base = draw(st.lists(i64, min_size=1, max_size=8))
        out = []
        for _ in range(draw(st.integers(0, 40))):
            h = draw(st.sampled_from(base))
            for _ in range(draw(st.integers(0, 3))):
                h ^= 1 << draw(st.integers(0, 63))
                h = ((h + 2 ** 63) % 2 ** 64) - 2 ** 63
            out.append(h)
        return out

    @settings(max_examples=60, deadline=None)
    @given(st.data())
    def check(data):
        hashes = stream(data.draw)
        radius = data.draw(st.integers(0, 10))
        exp_flags, exp_kept = _brute_dedup(hashes, radius)
        seen = BandedSeen(radius)
        got = []
        for ph in hashes:
            dup = seen.is_dup(ph)
            got.append(not dup)
            if not dup:
                seen.add(ph)
        assert got == exp_flags and seen.seen_list() == exp_kept

    check()


def test_streaming_ann_serve_equals_batch(spark, tmp_path):
    """Streaming ANN serving (simsearch_stream.streaming_ann_serve):
    queries delivered in two micro-batches against a static IVF-PQ
    index must produce exactly the batch ivf_pq_search result — the
    index is built once from the corpus only, so batch boundaries
    cannot change any query's top-k. Also pins the probed-cell
    prefilter as result-neutral (it only drops cells no probe ever
    cogroups with)."""
    from ssgp_toolbox_spark.functions import simsearch
    from ssgp_toolbox_spark.streaming import simsearch_stream

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10)
    index, model = simsearch.ivf_pq_build(emb)
    batch = sorted(tuple(r) for r in
                   simsearch.ivf_pq_search(index, emb, q, model).collect())

    pruned = sorted(tuple(r) for r in simsearch_stream.search_batch(
        q, index, emb, model).collect())
    assert pruned == batch and len(batch) == 50

    src = tmp_path / "s06_src"
    out = tmp_path / "s06_out"
    for b, cond in ((1, "vec_id < 5"), (2, "vec_id >= 5 AND vec_id < 10")):
        drop = str(src / f"b{b}")
        emb.filter(cond).coalesce(1).write.parquet(drop)
        for root, _dirs, files in os.walk(drop):
            for f in files:
                os.utime(os.path.join(root, f),
                         (1_700_000_000 + b * 60, 1_700_000_000 + b * 60))
    stream = (spark.readStream.schema(emb.schema)
              .option("recursiveFileLookup", "true")
              .option("maxFilesPerTrigger", 1).parquet(str(src)))
    seen_batches = []

    def sink(res, batch_id):
        seen_batches.append(batch_id)
        res.write.mode("append").parquet(str(out))

    qh = (simsearch_stream.streaming_ann_serve(stream, index, emb, model,
                                               sink)
          .trigger(availableNow=True).start())
    assert qh.awaitTermination(300), "serve query timed out"
    assert qh.exception() is None, qh.exception()
    assert len(seen_batches) == 2, seen_batches
    streamed = sorted(tuple(r) for r in spark.read.parquet(str(out))
                      .select("qid", "nid", "sim", "rank").collect())
    assert streamed == batch


def test_ann_serving_broadcasts_only_in_prepare(spark, monkeypatch):
    """A serving loop ships its model once: prepare_serving makes the
    only SparkContext.broadcast calls (model payload + centroid matrix)
    and three search_batch(prepared=...) micro-batches add none, while
    returning exactly the results of search_batch without ``prepared``,
    which ships the model in the batch's task closures and broadcasts
    nothing."""
    from pyspark import SparkContext
    from test_ann_recall import SF_DIR

    from ssgp_toolbox_spark.functions import simsearch
    from ssgp_toolbox_spark.streaming import simsearch_stream

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    index, model = simsearch.ivf_pq_build(emb)
    assert len(model["cents"]) == 16
    batches = [emb.filter(F.col("vec_id").between(lo, lo + 3))
               for lo in (0, 4, 8)]
    calls = []
    real_broadcast = SparkContext.broadcast

    def counting_broadcast(self, value):
        calls.append(type(value).__name__)
        return real_broadcast(self, value)

    monkeypatch.setattr(SparkContext, "broadcast", counting_broadcast)

    def serve(prepared):
        return [sorted(tuple(r) for r in simsearch_stream.search_batch(
                    b, index, emb, model, prepared=prepared).collect())
                for b in batches]

    closure = serve(None)
    assert calls == []
    assert all(len(rows) == 20 for rows in closure)

    prepared = simsearch_stream.prepare_serving(model)
    assert len(calls) == 2, calls
    try:
        assert serve(prepared) == closure
        assert len(calls) == 2, calls
    finally:
        for handle in prepared.values():
            handle.destroy()


def test_streaming_ann_serve_destroys_broadcasts_on_stop(spark, tmp_path,
                                                         monkeypatch):
    """streaming_ann_serve ships the model on the query's first
    non-empty batch and, once the query is stopped, destroys both
    prepare_serving handles and unregisters its listener."""
    import time

    from test_ann_recall import SF_DIR

    from ssgp_toolbox_spark.functions import simsearch
    from ssgp_toolbox_spark.streaming import simsearch_stream

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    index, model = simsearch.ivf_pq_build(emb)
    made = []
    real_prepare = simsearch_stream.prepare_serving

    def spy_prepare(m):
        made.append(real_prepare(m))
        return made[-1]

    monkeypatch.setattr(simsearch_stream, "prepare_serving", spy_prepare)
    src = tmp_path / "src"
    emb.filter("vec_id < 4").coalesce(1).write.parquet(str(src / "b1"))
    stream = (spark.readStream.schema(emb.schema)
              .option("recursiveFileLookup", "true").parquet(str(src)))
    jstreams = spark._jsparkSession.streams()
    n_listeners = len(jstreams.listListeners())
    served = []
    qh = simsearch_stream.streaming_ann_serve(
        stream, index, emb, model,
        lambda res, batch_id: served.extend(res.collect())).start()
    try:
        qh.processAllAvailable()
        assert len(made) == 1
        assert all(h._jbroadcast.isValid() for h in made[0].values())
        assert len(jstreams.listListeners()) == n_listeners + 1
    finally:
        qh.stop()
    deadline = time.monotonic() + 60
    while (any(h._jbroadcast.isValid() for h in made[0].values())
           and time.monotonic() < deadline):
        time.sleep(0.1)
    assert [h._jbroadcast.isValid() for h in made[0].values()] == [False, False]
    while (len(jstreams.listListeners()) > n_listeners
           and time.monotonic() < deadline):
        time.sleep(0.1)
    assert len(jstreams.listListeners()) == n_listeners
    assert len(served) == 20
