package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The reference's three delivery guarantees as executable semantics
  * (reference README.md:71–164; SURVEY.md §2a).
  *
  * The reference's argument, reproduced natively: redelivery (at-least-
  * once) + an idempotent UPSERT keyed on a producer-minted id = exactly-
  * once ("an operation identifier passed all the way from the producer to
  * the database" — README.md:133). Spark's checkpoint gives redelivery;
  * [[upsert]] gives the idempotent write.
  *
  * The batch functions model a crash-and-restart run as a sequence of
  * delivered batches (possibly with a dropped tail — at-most-once — or a
  * replayed overlap — at-least-once), exactly like the reference's manual
  * fault-injection experiments (README.md:94–97, 121–124, 159–162).
  */
object DeliverySemantics {

  /** UPSERT-by-key, last-wins: the idempotent merge of `batch` into
    * `target` (both keyed by `key`, ordered by `ord` — higher wins).
    * Applying the same batch twice ≡ once, by construction.
    */
  def upsert(target: DataFrame, batch: DataFrame, key: String,
      ord: String): DataFrame = {
    // Tiebreak on every ORDERABLE payload column (name-sorted) so rows
    // sharing (key, ord) with different payloads still pick a total-ordered
    // winner — replayed rows are usually bit-identical, but determinism
    // must not depend on that. Non-orderable columns (maps) are skipped:
    // sorting on them throws, and schemas carrying them keep the plain
    // (ord, key) ordering for those columns' ties.
    val tiebreaks = target.schema.fields
      .filterNot(f => f.name == key || f.name == ord)
      .filter(f => org.apache.spark.sql.catalyst.expressions.RowOrdering
        .isOrderable(f.dataType))
      .map(_.name).sorted
      .map(col(_).desc)
    val w = Window.partitionBy(col(key))
      .orderBy((col(ord).desc +: tiebreaks.toSeq): _*)
    target.unionByName(batch)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** At-most-once: offsets commit on receipt, so a crash drops the
    * in-flight batch — fold ignores `lostBatch`. Yields the reference's
    * loss window (counters 5–7 lost, README.md:94–99).
    */
  def atMostOnce(batches: Seq[DataFrame], lostBatch: Int): DataFrame =
    batches.zipWithIndex.collect {
      case (b, i) if i != lostBatch => b
    }.reduce(_ unionByName _)

  /** At-least-once: unacked messages are redelivered, so the restart
    * replays `overlap` — a plain append duplicates it (counter 5 written
    * twice, README.md:121–126).
    */
  def atLeastOnce(beforeCrash: DataFrame, replayed: DataFrame): DataFrame =
    beforeCrash.unionByName(replayed)

  /** Exactly-once: the same redelivered stream, but merged idempotently
    * by key (README.md:132–164).
    */
  def exactlyOnce(beforeCrash: DataFrame, replayed: DataFrame, key: String,
      ord: String): DataFrame =
    upsert(beforeCrash, replayed, key, ord)

  /** Detect delivery faults from the landed table, per key-space group:
    * expected = max-min+1 contiguous ids (the reference's golden-table
    * audit as a query — README.md:94–99).
    */
  def auditGaps(landed: DataFrame, key: String): DataFrame =
    landed.agg(
      min(col(key)).as("min_id"),
      max(col(key)).as("max_id"),
      count(lit(1)).as("n"),
      countDistinct(col(key)).as("n_distinct"))
      .withColumn("lost",
        (col("max_id") - col("min_id") + 1 - col("n_distinct")).cast("long"))
      .withColumn("duplicated", (col("n") - col("n_distinct")).cast("long"))

  /** Streaming exactly-once sink: foreachBatch merging each micro-batch
    * into a keyed parquet table via [[upsert]]. Idempotent per batch, so
    * checkpoint replay after a crash cannot duplicate — the engine-grade
    * version of the reference's UPSERT-with-PRIMARY-KEY HANA sink
    * (README.md:152–154). (On a cluster the target would be a
    * transactional table or the JDBC upsert in [[JdbcUpsert]]; plain
    * parquet keeps the offline test hermetic.)
    *
    * Crash-safe at every step: the merge is written whole to
    * `targetDir_tmp`, and only a temp directory carrying `_SUCCESS` ever
    * replaces the target. A call that finds one finishes that interrupted
    * commit before reading, so a crash inside the delete-then-rename swap
    * cannot lose history. A missing target reads as empty; an unreadable
    * one throws and is left as it was.
    */
  def parquetUpsertSink(spark: SparkSession, targetDir: String, key: String,
      ord: String)(batch: DataFrame, batchId: Long): Unit = {
    val dst = new Path(targetDir)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(targetDir + "_tmp")
    if (fs.exists(new Path(tmp, "_SUCCESS"))) swapIn(fs, tmp, dst)
    val existing =
      if (fs.exists(dst)) spark.read.parquet(targetDir)
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], batch.schema)
    upsert(existing, batch, key, ord).write.mode("overwrite")
      .parquet(tmp.toString)
    swapIn(fs, tmp, dst)
  }

  /** Replace `dst` with the complete table at `tmp`. */
  private def swapIn(fs: FileSystem, tmp: Path, dst: Path): Unit = {
    fs.delete(dst, true)
    if (!fs.rename(tmp, dst))
      throw new java.io.IOException(s"could not rename $tmp to $dst")
  }
}
