"""Streaming ANN serving — a static IVF-PQ index answering a stream
of query vectors.

The serving shape real pipelines use: the index is built (and
persisted, parquet partitioned by ``cid``) ONCE by
``simsearch.ivf_pq_build``; queries arrive as a stream and each
micro-batch is answered with the full batch search against that
static index via ``foreachBatch`` — per-query-batch model inference,
the documented Structured Streaming pattern for operations (cogroup +
per-group top-k) that have no incremental plan.

Scale shape:
- the per-batch cost is driven by the ARRIVING queries, not the
  stream's history: probes are a narrow projection over the batch,
  and the index side is prefiltered to the batch's probed cells (a
  driver-known, <= batch_rows x n_probe literal set) BEFORE the
  by-cell cogroup — against a cid-partitioned parquet index this is
  partition pruning, so a 10-query batch against a 10^12-row index
  reads ~n_probe x 10 cells instead of the full corpus;
- results are append-only per batch (a query's top-k never depends
  on other batches — the index is static), so any downstream sink
  composes; batch boundaries cannot change results, which is exactly
  the streaming==batch contract the s06 query pins.
"""

from __future__ import annotations

from pyspark import SparkContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ssgp_toolbox_spark.functions import simsearch


def prepare_serving(model: dict) -> dict:
    """Broadcast the model payloads ONCE for a long-running serving
    loop: one model serves many micro-batch plans, so it is shipped to
    each executor once instead of in every batch's task closures.
    Returns the broadcast handles ``search_batch`` threads through;
    the caller owns them (``destroy()`` when the loop ends)."""
    sc = SparkContext.getOrCreate()
    return {"shipped": sc.broadcast(simsearch._ship_model(model)),
            "shipped_cents": sc.broadcast(
                simsearch._ship_centroids(model["cents"]))}


def search_batch(queries: DataFrame, index: DataFrame, vectors: DataFrame,
                 model: dict, k: int = 5, n_probe: int = 4,
                 rerank: int = 32,
                 prepared: dict | None = None) -> DataFrame:
    """Answer ONE (micro-)batch of queries against the static index —
    ``simsearch.ivf_pq_search`` plus the serving-side cell prefilter:
    the batch's probed cell ids (bounded by batch_rows x n_probe,
    driver-tiny) are collected and prefilter the index with a literal
    isin — on a parquet index partitioned by ``cid`` Spark turns this
    into partition pruning, so the cogroup only ever scans the probed
    cells' files.

    The batch's queries are normalized and probed ONCE: the probe
    frame feeds both the driver-side prefilter collect and the search
    itself (``ivf_pq_search(probes=..., qnorm=...)``), instead of one
    extra full Spark job per micro-batch. ``prepared``
    (``prepare_serving``) reuses the broadcast model payloads across
    batches; without it the model rides in this batch's task
    closures."""
    prepared = prepared or {
        "shipped": simsearch._ship_model(model),
        "shipped_cents": simsearch._ship_centroids(model["cents"])}
    q = simsearch._normalize(simsearch._cast(queries).select(
        F.col("vec_id").alias("qid"), F.col("emb"))) \
        .select("qid", F.col("emb").alias("qe"))
    probes = simsearch.ivf_probe_cells(q, model["cents"], n_probe,
                                       shipped=prepared["shipped_cents"])
    # dedup driver-side: the probe rows are bounded by
    # batch_rows × n_probe, so a distinct() exchange before the
    # collect is a wasted shuffle stage per micro-batch. The
    # collected rows (qid, qe, cid — f64 round-trips the driver
    # losslessly) are handed back as a single-partition local frame,
    # so the search job cogroups against them directly instead of
    # re-running the batch's normalize + probe UDF chain a second
    # time inside the big job.
    rows = [(int(r["qid"]), list(r["qe"]), int(r["cid"]))
            for r in probes.select("qid", "qe", "cid").collect()]
    cells = sorted({cid for _, _, cid in rows})
    index = index.filter(F.col("cid").isin(cells))
    spark = queries.sparkSession
    probes = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1),
        "qid long, qe array<double>, cid int")
    return simsearch.ivf_pq_search(index, vectors, queries, model, k=k,
                                   n_probe=n_probe, rerank=rerank,
                                   probes=probes, qnorm=q,
                                   shipped=prepared["shipped"])


def streaming_ann_serve(query_stream: DataFrame, index: DataFrame,
                        vectors: DataFrame, model: dict, sink,
                        k: int = 5, n_probe: int = 4, rerank: int = 32):
    """writeStream handle serving ``query_stream`` against the static
    index: each micro-batch runs ``search_batch`` and hands the
    result DataFrame to ``sink(result_df, batch_id)`` (write to
    parquet/kafka/memory — caller's choice). Start with
    ``.trigger(...)`` / ``.start()`` as usual.

    The model payloads are shipped ONCE here (``prepare_serving``)
    and reused by every micro-batch — no per-batch broadcast leak.

    The query stream must carry (vec_id, embedding) like the
    embeddings table. Empty batches are skipped."""
    prepared = prepare_serving(model)

    def _serve(batch_df: DataFrame, batch_id: int):
        if batch_df.isEmpty():
            return
        sink(search_batch(batch_df, index, vectors, model, k=k,
                          n_probe=n_probe, rerank=rerank,
                          prepared=prepared),
             batch_id)

    return query_stream.writeStream.foreachBatch(_serve)
