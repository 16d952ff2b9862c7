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
from pyspark.sql.streaming import StreamingQueryListener

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

    The batch's queries are normalized and probed ONCE: the collected
    probe rows feed both the prefilter and the search itself
    (``ivf_pq_search(probes=..., qnorm=...)``), instead of one extra
    full Spark job per micro-batch. ``prepared``
    (``prepare_serving``) reuses the broadcast model payloads across
    batches; without it the model rides in this batch's task
    closures."""
    prepared = prepared or {
        "shipped": simsearch._ship_model(model),
        "shipped_cents": simsearch._ship_centroids(model["cents"])}
    q = simsearch._normalize(simsearch._cast(queries).select(
        F.col("vec_id").alias("qid"), F.col("emb"))) \
        .select("qid", F.col("emb").alias("qe"))
    probed = simsearch._probe_pandas_udf(prepared["shipped_cents"], n_probe)(
        F.col("qe"))
    # the probed cells are bounded by batch_rows × n_probe, so they are
    # collected (one row per query: qid, qe once, its cids; f64
    # round-trips the driver losslessly) rather than deduplicated by a
    # distinct() exchange, and handed back as a single-partition local
    # frame: the search job cogroups against them directly instead of
    # re-running the batch's normalize + probe UDF chain a second time
    # inside the big job.
    rows = [(int(r["qid"]), list(r["qe"]), [int(c) for c in r["cids"]])
            for r in q.select("qid", "qe", probed.alias("cids")).collect()]
    cells = sorted({cid for _, _, cids in rows for cid in cids})
    index = index.filter(F.col("cid").isin(cells))
    spark = queries.sparkSession
    probes = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1),
        "qid long, qe array<double>, cids array<int>") \
        .select("qid", "qe", F.explode("cids").alias("cid"))
    return simsearch.ivf_pq_search(index, vectors, queries, model, k=k,
                                   n_probe=n_probe, rerank=rerank,
                                   probes=probes, qnorm=q,
                                   shipped=prepared["shipped"])


class _ReleaseOnTermination(StreamingQueryListener):
    """Destroys one query's ``prepare_serving`` handles when it stops,
    then unregisters itself."""

    def __init__(self, spark, query_id: str, prepared: dict):
        self.spark, self.query_id, self.prepared = spark, query_id, prepared

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        pass

    def onQueryTerminated(self, event):
        if str(event.id) != self.query_id:
            return
        for handle in self.prepared.pop(self.query_id).values():
            handle.destroy()
        self.spark.streams.removeListener(self)


def streaming_ann_serve(query_stream: DataFrame, index: DataFrame,
                        vectors: DataFrame, model: dict, sink,
                        k: int = 5, n_probe: int = 4, rerank: int = 32):
    """writeStream handle serving ``query_stream`` against the static
    index: each micro-batch runs ``search_batch`` and hands the
    result DataFrame to ``sink(result_df, batch_id)`` (write to
    parquet/kafka/memory — caller's choice). Start with
    ``.trigger(...)`` / ``.start()`` as usual.

    The first non-empty batch of a query ships the model payloads
    (``prepare_serving``); every later batch of that query reuses
    them, and a listener destroys them when the query terminates.

    The query stream must carry (vec_id, embedding) like the
    embeddings table. Empty batches are skipped."""
    # listeners on the session that starts the query see its events
    spark = query_stream.sparkSession
    prepared = {}  # streaming query id -> prepare_serving handles

    def _serve(batch_df: DataFrame, batch_id: int):
        if batch_df.isEmpty():
            return
        query_id = spark.sparkContext.getLocalProperty("sql.streaming.queryId")
        if query_id not in prepared:
            prepared[query_id] = prepare_serving(model)
            spark.streams.addListener(
                _ReleaseOnTermination(spark, query_id, prepared))
        sink(search_batch(batch_df, index, vectors, model, k=k,
                          n_probe=n_probe, rerank=rerank,
                          prepared=prepared[query_id]),
             batch_id)

    return query_stream.writeStream.foreachBatch(_serve)
