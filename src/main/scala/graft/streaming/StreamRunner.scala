package graft.streaming

import graft.pipeline.Load
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The harness every split-file stream twin runs on. It owns the
  * arrival-file format and the one size switch the twins share:
  *
  *  - Arrivals are `split_%03d.parquet` files in one input dir, each
  *    modification-timestamped so the file source replays them
  *    oldest-first, one file per micro-batch. [[stageSplits]] writes
  *    them, [[drain]] replays them to completion under a checkpoint in
  *    the work dir, and [[arrived]] reads the whole corpus back for the
  *    scoring some twins run after the drain.
  *  - Below [[SmallBytes]] a batch plans with AQE off and a narrow
  *    shuffle width on every session it touches ([[narrowed]]); above
  *    it the session's AQE planning stands. Input-gated twins
  *    ([[drainInputGated]]) measure their input once per drain.
  *    Store-gated twins measure their store per batch inside their
  *    `processBatch`, because the store can cross the switch mid-stream.
  */
private[graft] object StreamRunner {

  /** The small/scale switch: micro-batch-sized data never needs AQE's
    * runtime re-planning, and each AQE exchange materialization is a
    * whole extra job; rung-scale data wants AQE's coalescing and skew
    * handling (always-narrow regressed the sf10 rung, q125 35 -> 51 s).
    * Store-gated twins also prune their store probes above it.
    */
  val SmallBytes: Long = 64L * 1024 * 1024

  def isSmall(spark: SparkSession, dir: String): Boolean =
    Load.storeBytes(spark, dir) < SmallBytes

  /** Run `f` under the narrow scope on both the outer session and the
    * batch's cloned session ([[BatchTuning.withNarrowShufflesOn]]).
    */
  def narrowed[T](spark: SparkSession, batch: DataFrame, narrow: Boolean)
                 (f: => T): T =
    BatchTuning.withNarrowShufflesOn(Seq(spark, batch.sparkSession),
      narrow = narrow)(f)

  /** Replay the staged arrivals under `inputDir` through `body`, one
    * file per micro-batch, until none are left. The checkpoint lives at
    * `$workDir/ckpt`, so a new drain over the same dirs resumes.
    */
  def drain(spark: SparkSession, inputDir: String, workDir: String)
           (body: (DataFrame, Long) => Unit): Unit =
    spark.readStream
      .schema(spark.read.parquet(inputDir).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$inputDir/split_*.parquet")
      .writeStream
      .foreachBatch(body)
      .option("checkpointLocation", s"$workDir/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()

  /** [[drain]] with every batch narrowed iff the whole input is small. */
  def drainInputGated(spark: SparkSession, inputDir: String, workDir: String)
                     (body: (DataFrame, Long) => Unit): Unit = {
    val small = isSmall(spark, inputDir)
    drain(spark, inputDir, workDir) { (batch, batchId) =>
      narrowed(spark, batch, small)(body(batch, batchId))
    }
  }

  /** Every staged arrival as one batch frame. */
  def arrived(spark: SparkSession, inputDir: String): DataFrame =
    spark.read.parquet(s"$inputDir/split_*.parquet")

  /** Stage `docs` in a fresh `tag`-named work dir and `run` over it:
    * `run(inputDir, workDir)`.
    */
  def runOn(spark: SparkSession, docs: DataFrame, nSplits: Int, tag: String)
           (run: (String, String) => DataFrame): DataFrame = {
    val workDir = java.nio.file.Files.createTempDirectory(tag).toString
    stageSplits(spark, docs, s"$workDir/input", nSplits)
    run(s"$workDir/input", workDir)
  }

  /** Stage `docs` as `nSplits` doc_id-range parquet files under
    * `inputDir`, named and modification-timestamped in range order so
    * the file source replays them oldest-first (it orders by mod time):
    * arrival order = doc_id order.
    */
  def stageSplits(spark: SparkSession, docs: DataFrame, inputDir: String,
                  nSplits: Int): Unit = {
    // Cost-switched staging plan: when the frame to stage is itself a
    // narrow scan (the small-fixture case — one or two input splits),
    // plan it like a micro batch (AQE off, narrow width — each AQE
    // exchange materialization is an extra scheduling round-trip on a
    // table this size). A WIDE input keeps the session's AQE planning:
    // narrowing it funneled a 100x rung's staged table through 4
    // AQE-off partitions (measured at sf10: q125 35 -> 51 s before
    // this switch). The hash-repartition on `split` keeps each split
    // value wholly inside one task at any width, so the
    // one-file-per-split layout the replay order depends on is
    // width-independent.
    val width = math.max(4, nSplits)
    val narrow = docs.rdd.getNumPartitions <= width
    BatchTuning.withNarrowShuffles(spark, narrow = narrow,
      partitions = width) {
      stageSplitsInner(spark, docs, inputDir, nSplits)
    }
  }

  private def stageSplitsInner(spark: SparkSession, docs: DataFrame,
                               inputDir: String, nSplits: Int): Unit = {
    val boundRow = docs.agg(max(col("doc_id"))).collect().head
    new java.io.File(inputDir).mkdirs()
    val tmp = s"$inputDir/_stage"
    if (boundRow.isNullAt(0)) {
      // EMPTY corpus (r13 degenerate sweep): max(doc_id) is null, and a
      // partitionBy write would stage zero files — the file source then
      // has nothing to infer a schema from and every stream twin dies.
      // Stage ONE zero-row file with the real schema instead: the
      // stream runs one empty micro-batch and its accumulated output
      // is the batch operator's empty result.
      docs.coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp)
      val file = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet"))
        .getOrElse(throw new IllegalStateException(
          s"staging wrote no parquet part file under $tmp"))
      val dest = new java.io.File(inputDir, "split_000.parquet")
      java.nio.file.Files.move(file.toPath, dest.toPath)
      require(dest.setLastModified(1000000L),
        s"setLastModified failed on $dest")
      deleteRecursively(new java.io.File(tmp))
      return
    }
    val bound = boundRow.getLong(0) + 1
    val span = math.max(1L, (bound + nSplits - 1) / nSplits)
    // one pass: hive-partition on the split id, then lift each part
    // file out as an ordered, timestamped arrival
    docs.withColumn("split", (col("doc_id") / span).cast("int"))
      .repartition(col("split"))
      .write.mode(SaveMode.Overwrite).partitionBy("split").parquet(tmp)
    for (i <- 0 until nSplits) {
      val dir = new java.io.File(s"$tmp/split=$i")
      if (dir.isDirectory) {
        val file = dir.listFiles().find(_.getName.endsWith(".parquet"))
          .getOrElse(throw new IllegalStateException(
            s"staging wrote no parquet part file under $dir"))
        val dest = new java.io.File(inputDir, f"split_$i%03d.parquet")
        java.nio.file.Files.move(file.toPath, dest.toPath)
        // distinct ascending timestamps pin the replay order (the file
        // source sorts by mod time); correctness of the stream=batch
        // guarantee depends on it, so a failed/coarse-grained mtime set
        // must be loud, not a silent reorder
        require(dest.setLastModified(1000000L + i * 60000L),
          s"setLastModified failed on $dest: file-source replay order " +
            "would be undefined")
      }
    }
    deleteRecursively(new java.io.File(tmp))
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(); ()
  }
}
