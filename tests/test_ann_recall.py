"""Recall gates for the ANN family (round-3 VERDICT 'Next round' #4).

bench.py measures recall@5 for s03/s04 but the correctness gate's
oracles only mirror whatever the operator computes — a code change
silently dropping recall to 0.5 would stay green. These tests pin
recall@5 vs the exact ``cosine_topk`` baseline in pytest, on both the
harness embeddings (near-orthogonal, LSH's worst case) and a planted
clustered corpus (the shape real embedding spaces have). Everything
is seeded/deterministic, so the asserted floors are stable, not
flaky.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ssgp_toolbox_spark.functions import simsearch

SF_DIR = "/root/testdata/sf0.001"


def _recall_at_k(exact_df, ann_df) -> float:
    brute = {}
    for r in exact_df.collect():
        brute.setdefault(r["qid"], set()).add(r["nid"])
    hits = sum(1 for r in ann_df.collect()
               if r["nid"] in brute.get(r["qid"], set()))
    total = sum(len(v) for v in brute.values())
    return hits / total


@pytest.fixture(scope="module")
def clustered(spark):
    """10 tight Gaussian clusters, 2000 vectors (the exact bench.py
    clustered_lsh corpus) — queries are one member per cluster, so
    the true top-5 are in-cluster twins."""
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
    qids = [i * per for i in range(n_clusters)]
    q = df.filter(df.vec_id.isin(qids))
    return df, q


def test_ivf_recall_harness(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10)
    exact = simsearch.cosine_topk(emb, q, k=5)
    ann = simsearch.ivf_topk(emb, q, k=5)
    assert _recall_at_k(exact, ann) >= 0.9


def test_lsh_recall_harness(spark):
    """Near-orthogonal harness corpus: the documented LSH worst case
    (simsearch.lsh_topk docstring: ≈0.9 at sf0.1; measured 0.88 at
    this sf0.001 corpus — deterministic). Gate at the worst-case
    floor: this catches a silent recall collapse without pinning the
    corpus-size-dependent third digit. The ≥0.9 bar lives on the
    clustered corpus below, where LSH is actually expected to hold
    recall."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10)
    exact = simsearch.cosine_topk(emb, q, k=5)
    ann = simsearch.lsh_topk(emb, q, k=5)
    assert _recall_at_k(exact, ann) >= 0.85


def test_ivf_recall_clustered(spark, clustered):
    df, q = clustered
    exact = simsearch.cosine_topk(df, q, k=5)
    ann = simsearch.ivf_topk(df, q, k=5)
    assert _recall_at_k(exact, ann) >= 0.9


def test_lsh_recall_clustered(spark, clustered):
    """Clustered corpus at the documented high-similarity config
    (bits_per_table raised with neighbor cosine): recall holds while
    pruning hard — the BENCH_r03 evidence, now gated."""
    df, q = clustered
    exact = simsearch.cosine_topk(df, q, k=5)
    ann = simsearch.lsh_topk(df, q, k=5, bits_per_table=6, n_tables=8)
    assert _recall_at_k(exact, ann) >= 0.9


def test_ivf_assign_pandas_matches_literal(spark):
    """The Arrow assignment kernel must agree with the literal-centroid
    Catalyst form (oracles.literal_ivf_assign, the expression the s04
    SQL oracle mirrors) cell-for-cell: same HALF_UP 6dp rounding, same
    lowest-cid tie-break."""
    import oracles

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    e = simsearch._normalize(simsearch._cast(emb).select(
        F.col("vec_id").alias("nid"), F.col("emb")))
    rng = np.random.default_rng(31)
    cents = [[float(v) for v in row]
             for row in (rng.standard_normal((48, 64)) / 8).round(6)]
    lit = {r["nid"]: r["cid"] for r in
           oracles.literal_ivf_assign(e, cents).collect()}
    arrow_df = simsearch.ivf_assign(e, cents)
    arrow = {r["nid"]: r["cid"] for r in arrow_df.collect()}
    assert lit == arrow and len(lit) > 0
    # and the Arrow path stays a narrow plan too (ArrowEvalPython,
    # no Exchange/Window/Join)
    plan = arrow_df._jdf.queryExecution().toString()
    for banned in ("Exchange", "Window", "Join", "CartesianProduct"):
        assert banned not in plan, banned


def test_ivf_probe_pandas_matches_literal(spark):
    """Query-side probe selection: the Arrow argsort kernel must pick
    the same n_probe cells in the same order as the literal
    (dist, cid) struct sort (oracles.literal_ivf_probe_cells)."""
    import oracles

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = simsearch._normalize(simsearch._cast(emb).select(
        F.col("vec_id").alias("qid"), F.col("emb"))) \
        .select("qid", F.col("emb").alias("qe"))
    rng = np.random.default_rng(37)
    cents = [[float(v) for v in row]
             for row in (rng.standard_normal((48, 64)) / 8).round(6)]
    def cells(df):
        out = {}
        for r in df.collect():
            out.setdefault(r["qid"], []).append(r["cid"])
        return out
    lit = cells(oracles.literal_ivf_probe_cells(q, cents, 4))
    arrow = cells(simsearch.ivf_probe_cells(q, cents, 4))
    assert lit == arrow and all(len(v) == 4 for v in lit.values())


def test_ivf_topk_large_cells_end_to_end(spark, clustered):
    """ivf_topk at 300 cells (Lloyd rounds and search both on the
    Arrow kernels): still returns k results per query with in-cluster
    recall."""
    df, q = clustered
    exact = simsearch.cosine_topk(df, q, k=5)
    ann = simsearch.ivf_topk(df, q, k=5, n_cells=300, n_probe=30)
    got = {}
    for r in ann.collect():
        got.setdefault(r["qid"], []).append(r["nid"])
    assert all(len(v) == 5 for v in got.values()) and len(got) == 10
    assert _recall_at_k(exact, ann) >= 0.9


def test_ivf_broadcast_matrix_matches_closure(spark):
    """The centroid matrix captured by the UDF closure (the batch form;
    at 2,500 × 64-d the command passes PySpark's 1 MiB threshold and
    travels as PySpark's own broadcast) and an explicit broadcast of it
    (``shipped=``, the serving form) give bit-identical cells: same
    Arrow kernel, same HALF_UP rounding, same tie-break. The plan stays
    Exchange/Window/Join-free either way: the shipping form changes
    only WHERE the matrix bytes travel, never the arithmetic."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    e = simsearch._normalize(simsearch._cast(emb).select(
        F.col("vec_id").alias("nid"), F.col("emb")))
    rng = np.random.default_rng(41)
    cents = [[float(v) for v in row]
             for row in (rng.standard_normal((2500, 64)) / 8).round(6)]
    q = e.select(F.col("nid").alias("qid"), F.col("emb").alias("qe")) \
        .filter(F.col("qid") < 20)

    def cells(df):
        out = {}
        for r in df.collect():
            out.setdefault(r["qid"], []).append(r["cid"])
        return out

    closure_df = simsearch.ivf_assign(e, cents)
    closure_probe = simsearch.ivf_probe_cells(q, cents, 6)
    bc = spark.sparkContext.broadcast(simsearch._ship_centroids(cents))
    try:
        bcast_df = e.withColumn(
            "cid", simsearch._assign_pandas_udf(bc)(F.col("emb")))
        bcast_probe = simsearch.ivf_probe_cells(q, cents, 6, shipped=bc)

        closure = {r["nid"]: r["cid"] for r in closure_df.collect()}
        bcast = {r["nid"]: r["cid"] for r in bcast_df.collect()}
        assert closure == bcast and len(closure) > 0
        for df in (closure_df, bcast_df):
            plan = df._jdf.queryExecution().toString()
            for banned in ("Exchange", "Window", "Join", "CartesianProduct"):
                assert banned not in plan, banned

        pc, pb = cells(closure_probe), cells(bcast_probe)
        assert pc == pb and all(len(v) == 6 for v in pc.values())
    finally:
        bc.destroy()


def test_ivf_pq_full_rerank_equals_ivf(spark):
    """With an unbounded rerank the PQ stage prunes nothing, so
    ivf_pq_topk must reproduce ivf_topk BIT-FOR-BIT (same trained
    cells, same probes, same exact-cosine ranking) — pinning the PQ
    path to the SQL-oracled s04 semantics: ADC only ever narrows the
    candidate set, never changes the arithmetic above it."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10)
    a = sorted(tuple(r) for r in simsearch.ivf_topk(emb, q, k=5).collect())
    b = sorted(tuple(r) for r in
               simsearch.ivf_pq_topk(emb, q, k=5, rerank=10**6).collect())
    assert a == b and len(a) == 50


def test_ivf_pq_recall_harness(spark):
    """Default config on the harness corpus: cell membership (~31)
    sits under rerank=32, so ADC cannot truncate and recall must
    match the ivf_topk gate."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10)
    exact = simsearch.cosine_topk(emb, q, k=5)
    ann = simsearch.ivf_pq_topk(emb, q, k=5)
    assert _recall_at_k(exact, ann) >= 0.9


def test_ivf_pq_recall_clustered(spark, clustered):
    """Tight clusters are PQ's hard case: in-cluster twins differ by
    small residuals, so coarse codebooks blur the ADC ordering
    (measured 0.66 at the m=8/ks=16/rerank=32 default). The
    documented remedies both clear 0.9 — finer codebooks at the same
    rerank, or the default codebook with a deeper rerank."""
    df, q = clustered
    exact = simsearch.cosine_topk(df, q, k=5)
    fine = simsearch.ivf_pq_topk(df, q, k=5, m=16, pq_ks=64, rerank=32)
    assert _recall_at_k(exact, fine) >= 0.9
    deep = simsearch.ivf_pq_topk(df, q, k=5, m=8, pq_ks=16, rerank=128)
    assert _recall_at_k(exact, deep) >= 0.9


def test_ivf_pq_matches_naive_oracle(spark):
    """Engine output == the per-row naive transcription
    (oracles.ivf_pq_pairs_oracle) at the s05 config — the same
    fixture-generation path scripts/make_ann_fixtures.py persists for
    the DuckDB oracle, asserted here at sf0.001 so a drift in either
    side fails pytest before the driver's gate sees it."""
    import pyarrow.parquet as pq

    import oracles

    t = pq.read_table(f"{SF_DIR}/embeddings.parquet")
    vec_ids = t.column("vec_id").to_pylist()
    pairs = oracles.ivf_pq_pairs_oracle(
        vec_ids, t.column("embedding").to_pylist(),
        [v for v in vec_ids if v < 10], k=5, n_cells=16, lloyd_iters=2,
        n_probe=4, m=8, pq_ks=16, rerank=32)
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    eng = [(r["qid"], r["nid"], r["rank"]) for r in
           simsearch.ivf_pq_topk(emb, emb.filter(F.col("vec_id") < 10),
                                 k=5, n_cells=16, lloyd_iters=2, n_probe=4,
                                 m=8, pq_ks=16, rerank=32)
           .orderBy("qid", "rank").collect()]
    assert eng == pairs


def test_s05_fixture_fresh():
    """fixtures/s05_pairs.parquet must equal a fresh naive
    recomputation over the driver's sf0.01 embeddings — catches a
    stale fixture after a corpus or oracle change."""
    import pyarrow.parquet as pq

    import oracles

    t = pq.read_table("/root/testdata/sf0.01/embeddings.parquet")
    vec_ids = t.column("vec_id").to_pylist()
    pairs = oracles.ivf_pq_pairs_oracle(
        vec_ids, t.column("embedding").to_pylist(),
        [v for v in vec_ids if v < 10], k=5, n_cells=16, lloyd_iters=2,
        n_probe=4, m=8, pq_ks=16, rerank=32)
    fix = pq.read_table("/root/repo/fixtures/s05_pairs.parquet")
    stored = list(zip(fix.column("qid").to_pylist(),
                      fix.column("nid").to_pylist()))
    assert [(p[0], p[1]) for p in pairs] == stored


def test_ivf_pq_index_parquet_roundtrip(spark, tmp_path):
    """Build-once / query-many: the (nid, cid, codes) index written
    to parquet partitioned by cid — the persistence layout that makes
    a probe read only its cells at scale — must search identically to
    the freshly-built index, and ivf_pq_topk must equal the explicit
    build+search composition it wraps."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10)
    index, model = simsearch.ivf_pq_build(emb)
    direct = sorted(tuple(r) for r in
                    simsearch.ivf_pq_search(index, emb, q, model).collect())
    one_shot = sorted(tuple(r) for r in
                      simsearch.ivf_pq_topk(emb, q).collect())
    assert direct == one_shot and len(direct) == 50

    path = str(tmp_path / "pq_index")
    index.write.partitionBy("cid").parquet(path)
    reloaded = spark.read.parquet(path)
    again = sorted(tuple(r) for r in
                   simsearch.ivf_pq_search(reloaded, emb, q, model).collect())
    assert again == direct


def test_ivf_pq_packed_codes_equivalent(spark, tmp_path):
    """packed=True stores the m codes as ONE bigint (8 bits per
    subspace — the true 8-byte-per-vector representation the scale
    math quotes) instead of array<int>. Packing is lossless, so
    search results must be bit-identical to the unpacked index,
    through a parquet roundtrip, and the packed schema must actually
    be a single long column."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10)
    idx_u, model_u = simsearch.ivf_pq_build(emb)
    base = sorted(tuple(r) for r in
                  simsearch.ivf_pq_search(idx_u, emb, q, model_u).collect())
    idx_p, model_p = simsearch.ivf_pq_build(emb, packed=True)
    assert dict(idx_p.dtypes)["codes"] == "bigint"
    packed = sorted(tuple(r) for r in
                    simsearch.ivf_pq_search(idx_p, emb, q, model_p).collect())
    assert packed == base and len(base) == 50

    path = str(tmp_path / "pq_packed")
    idx_p.write.partitionBy("cid").parquet(path)
    again = sorted(tuple(r) for r in
                   simsearch.ivf_pq_search(spark.read.parquet(path), emb, q,
                                           model_p).collect())
    assert again == base


def test_ivf_pq_packed_high_codeword_roundtrip():
    """Pack/unpack must survive codewords >= 128 in the TOP subspace,
    where the 8th byte's high bit lands in the int64 sign bit — the
    two's-complement reinterpret (uint64 view) keeps it lossless."""
    import numpy as np

    from ssgp_toolbox_spark.functions.simsearch import (_pq_pack_codes,
                                                        _pq_unpack_codes)

    rng = np.random.default_rng(3)
    codes = rng.integers(0, 256, size=(64, 8)).astype(np.int32)
    codes[0] = [255] * 8
    codes[1] = [0] * 8
    packed = _pq_pack_codes(codes)
    assert packed.dtype == np.int64 and packed[0] < 0
    back = _pq_unpack_codes(packed, 8)
    assert (back == codes).all()


def test_arrow_sim_kernels_match_catalyst(spark):
    """The Arrow similarity kernels (_cosine6 / lsh_keys / _normalize)
    must be VALUE-identical to the Catalyst HOF forms in
    tests/oracles.py — they claim fold-order arithmetic parity, not
    approximate parity. Checked on the full harness corpus: every
    normalized component, every pairwise rounded cosine of the first
    40 vectors, and every LSH table key."""
    import oracles
    from ssgp_toolbox_spark.functions import simsearch as S

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")

    def run(normalize, lsh_keys, cosine6):
        norm = {r["nid"]: list(r["emb"]) for r in normalize(
            S._cast(emb).select(F.col("vec_id").alias("nid"),
                                F.col("emb"))).collect()}
        planes = S.hyperplanes(24, seed=7)
        keys = {r["vec_id"]: list(r["k"]) for r in S._cast(emb).select(
            "vec_id", lsh_keys(F.col("emb"), planes, 3, 8)
            .alias("k")).collect()}
        sub = S._cast(emb).filter(F.col("vec_id") < 40)
        a = sub.select(F.col("vec_id").alias("qid"),
                       F.col("emb").alias("qe"))
        b = sub.select(F.col("vec_id").alias("nid"),
                       F.col("emb").alias("ne"))
        sims = {(r["qid"], r["nid"]): r["sim"] for r in a.crossJoin(b)
                .select("qid", "nid",
                        cosine6(F.col("qe"), F.col("ne"))
                        .alias("sim")).collect()}
        return norm, keys, sims

    n_a, k_a, s_a = run(S._normalize, S.lsh_keys, S._cosine6)
    n_c, k_c, s_c = run(oracles.catalyst_normalize,
                        oracles.catalyst_lsh_keys, oracles.catalyst_cosine6)
    assert k_a == k_c
    assert s_a == s_c  # exact f64 equality, incl. the 6dp rounding
    assert n_a.keys() == n_c.keys()
    for nid in n_a:
        assert n_a[nid] == n_c[nid], nid
