package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One embedding arriving on the ingest stream. */
case class StreamEmb(vec_id: Long, embedding: Seq[Float], label: Int, ts: Timestamp)

/**
 * Streaming side of the ANN index lifecycle: an IVF index at rest is a
 * cell-partitioned table plus a centroid artifact; INGEST is "assign each
 * arriving vector to its cell with the artifact, append to the cell's
 * partition, and watch occupancy drift" — when the corpus outgrows the
 * centroid set (cells run hot), the batch trainer
 * ([[graft.operators.Similarity.kmeansCentroids]]) re-fits offline and the
 * artifact is swapped. This module is that ingest+watch step, reusing the
 * batch assignment kernel so stream and backfill agree bit-for-bit.
 */
object EmbStream {

  /** Cell assignment for a stream of embeddings against a FIXED centroid
    * artifact (the same (id, vector, norm²) rows the batch path collects):
    * a fully narrow projection — [[graft.operators.Similarity.bestCentroid]]
    * with the literal plan, which is watermark/append-safe because it
    * touches no state. Output: the input plus `cell`. */
  def withCell(embs: DataFrame,
      cents: Array[(Long, Seq[Double], Double)]): DataFrame = {
    // the broadcast-join fallback the batch path switches to past this
    // size ends in a groupBy(vec_id) — unbounded state on an unbounded
    // stream — so the literal plan is the ONLY stream-safe assignment;
    // past it the artifact is a coarse-quantizer problem (assign against
    // Similarity's log-tree plan in a batch backfill), not a bigger
    // literal. Fail loudly instead of re-entering the codegen blowup the
    // batch path deliberately avoids.
    require(cents.length <= graft.operators.Similarity.LiteralCentroidMax,
      s"streaming cell assignment embeds centroids in a literal projection; " +
        s"${cents.length} centroids exceeds LiteralCentroidMax=" +
        s"${graft.operators.Similarity.LiteralCentroidMax} — refit a coarser " +
        "artifact or assign in batch (log-tree quantizer)")
    graft.GraftExtensions.ensureRegistered(embs.sparkSession)
    val prepped = embs
      .withColumn("vec", col("embedding").cast("array<double>"))
      .withColumn("sq", graft.functions.VectorMath.normSq("vec"))
      .filter(col("sq") > 0)
    graft.operators.Similarity.bestCentroid(prepped, cents, literal = true)
      .withColumn("cell", -col("best").getField("ncid"))
      .drop("best", "vec", "sq")
  }

  /** Large-artifact ingest — the seam [[withCell]]'s guard points at when
    * the centroid set outgrows the literal plan: assignment happens INSIDE
    * `foreachBatch`, where each micro-batch is a bounded BATCH frame, so
    * the full scale-dispatched kernel applies unchanged (literal argmax
    * while k ≤ LiteralCentroidMax, the exact log-tree plan past it — O(B)
    * driver state, centroid table never collected). A stream against a
    * production-sized artifact (FAISS-scale k) therefore ingests instead
    * of erroring, and stays bit-identical to the batch assignment — same
    * kernel, same (score, −id) tie-break; spec-pinned against the flat
    * argmax. `sink` receives each assigned micro-batch (input columns +
    * `cell`) with its batch id — the per-batch append to the
    * cell-partitioned table at rest. */
  def ingestLargeK(embs: DataFrame, centDf: DataFrame, k: Int)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    graft.GraftExtensions.ensureRegistered(embs.sparkSession)
    // the quantizer is a FIXED artifact for the stream's lifetime: build it
    // once here (coarse collect + level-construction jobs), so each
    // micro-batch pays only the assignment jobs — not a per-batch index
    // re-derivation
    val assign = graft.operators.Similarity.frameAssigner(centDf, k)
    embs.writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        sink(assign(prepBatch(batch.toDF())).drop("vec", "sq"), batchId)
      }.start()
  }

  /** Zero-norm vectors are excluded BY CONTRACT on the streaming paths: a
    * zero vector has no cosine direction, so "nearest centroid" is
    * undefined for it — count/divert such rows upstream if they must be
    * retained (they are NOT silently assigned to an arbitrary cell). */
  private def prepBatch(batch: DataFrame): DataFrame =
    batch
      .withColumn("vec", col("embedding").cast("array<double>"))
      .withColumn("sq", graft.functions.VectorMath.normSq("vec"))
      .filter(col("sq") > 0)

  /** Per-(window, cell) ingest accounting with an occupancy alarm: arriving
    * vectors are assigned via [[withCell]] and counted per tumbling window;
    * a cell ingesting more than `hotCellThreshold` vectors in one window is
    * flagged `hot` — sustained hot cells mean the centroid artifact no
    * longer matches the data distribution and the offline trainer should
    * re-fit (the IVF sibling of [[DocStream.mixDriftMonitor]]'s crawl-shift
    * alarm). One watermarked windowed aggregation; append-mode safe. */
  def cellIngestMonitor(embs: DataFrame,
      cents: Array[(Long, Seq[Double], Double)],
      windowDur: String = "10 minutes",
      lateness: String = "10 minutes",
      hotCellThreshold: Long = 256L): DataFrame =
    withCell(embs, cents)
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), windowDur), col("cell"))
      .agg(count(lit(1)).as("n_ingested"))
      .select(
        col("window.start").as("window_start"),
        col("cell"), col("n_ingested"),
        (col("n_ingested") > hotCellThreshold).as("hot"))
}
