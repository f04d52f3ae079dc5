package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}

import graft.operators.Pca
import graft.sources.MomentStore

/** Streaming maintenance of the corpus principal component — the
  * always-fresh "what direction is this corpus growing in" view over
  * an unbounded embedding stream. Built on the EXACT mergeability of
  * [[Pca.momentCells]]: every cell is an integer, SUM/MAX merges are
  * associative, so serving from the accumulated store is BIT-EQUAL to
  * a monolithic [[Pca.topComponent]] over everything ever ingested —
  * a mergeable-summaries law with zero estimator error (stronger than
  * the HLL/theta contracts, which only promise estimate equality).
  *
  * Exactly-once under micro-batch retries by batch-id-keyed deltas
  * (the [[IndexIngest]] mechanism): a replayed batch overwrites its
  * own delta. Per-batch cost is one narrow pass over the batch; the
  * store grows by ≤ dim(dim+1)/2 + dim + 2 rows per batch and
  * compaction folds history whenever the delta listing gets long.
  * The corpus itself is NEVER re-read — the serve cost at any ingest
  * volume is the cell aggregation (kilobytes) plus a 64×64 driver
  * iteration.
  *
  * Serving regimes: the moment STORE is exact and unbounded (integer
  * cells, SUM/MAX merges), but the DEFAULT serve path inherits
  * [[Pca.topComponentFromCells]]'s exactness guard n²·qmax² < 2^53 —
  * with unit-norm embeddings (qmax = QuantScale = 1024) that caps
  * served n at ~92,681 vectors. Past the ceiling serve with
  * `rounded = true`: the moment algebra stays exact and each scatter
  * cell truncates to its top 53 significant bits in integer arithmetic
  * before the (then-exact) conversion ([[graft.operators.Pca.signif53]])
  * — deterministic on every engine, ≤1 ulp from a never-rounding one.
  * That is the 100 TB/day configuration. */
object PcaIngest {

  /** foreachBatch sink: wire as
    * `.writeStream.foreachBatch(PcaIngest.momentSink(dir))`. */
  def momentSink(dir: String, idCol: String = "vec_id",
      vecCol: String = "embedding"): (Dataset[Row], Long) => Unit =
    (batch: Dataset[Row], batchId: Long) =>
      ingest(batch.toDF(), dir, f"b$batchId%09d", idCol, vecCol)

  /** Summarize one batch and append it as the batch's own delta.
    * An EMPTY micro-batch (a watermark tick, a no-data trigger) is a
    * no-op: there is no dimension to derive and nothing to add —
    * without the short-circuit the cell summarizer's dim discovery
    * would fail the streaming query. */
  def ingest(batch: DataFrame, dir: String, batchId: String,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit =
    if (!batch.isEmpty)
      MomentStore.appendDelta(Pca.momentCells(batch, idCol, vecCol),
        dir, batchId)

  /** The component of everything ingested so far — bit-equal to the
    * batch build over the union of all ingested rows (exact regime);
    * `rounded = true` for corpora past the 2^53 exactness ceiling. */
  def serveTopComponent(spark: SparkSession, dir: String,
      iters: Int = Pca.Iters, rounded: Boolean = false): DataFrame =
    Pca.topComponentFromCells(MomentStore.load(spark, dir), iters, rounded)

  /** The component the corpus had AS OF a batch id — drift analysis
    * (compare against [[serveTopComponent]]'s current direction). */
  def serveTopComponentAsOf(spark: SparkSession, dir: String,
      upToBatch: String, iters: Int = Pca.Iters,
      rounded: Boolean = false): DataFrame =
    Pca.topComponentFromCells(MomentStore.loadAsOf(spark, dir, upToBatch),
      iters, rounded)
}
