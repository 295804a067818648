package graft.streaming

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.streaming.runtime.StreamExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{DataType, StructType}

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
    *
    * An input whose size estimate (plan statistics, no job) is within
    * one task's worth ([[graft.Checkpoints.BytesPerTask]]) merges in a
    * single partition: that already satisfies the window's clustering,
    * so the plan has no Exchange. Below that size AQE would coalesce
    * the shuffle to one reducer anyway. Larger inputs shuffle by key.
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
    val both = target.unionByName(batch)
    val small = both.queryExecution.optimizedPlan.stats.sizeInBytes <=
      graft.Checkpoints.BytesPerTask
    (if (small) both.coalesce(1) else both)
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
    *
    * Before the swap the temp directory also gets a hidden `_committed`
    * marker (parquet readers skip `_` files): the stream's query id, the
    * batch id and the table schema, as JSON. The query id is the one
    * Spark keeps in the checkpoint, so a restart redelivering the batch
    * it last committed finds (query id, batch id) equal to the marker
    * and returns without running a job — the reference's operation
    * identifier (README.md:133) at batch granularity, with the keyed
    * UPSERT still the row-level guarantee. A call outside a stream has
    * no query id and always merges. The target is read with the
    * marker's schema, so opening it runs no footer-inference job; only
    * a target without a marker is inferred. A batch whose columns or
    * types differ from the table's throws before anything is written.
    * Small merges run in one task (see [[upsert]]), so a micro-batch
    * costs one Spark job: the write.
    */
  def parquetUpsertSink(spark: SparkSession, targetDir: String, key: String,
      ord: String)(batch: DataFrame, batchId: Long): Unit = {
    val dst = new Path(targetDir)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(targetDir + "_tmp")
    if (fs.exists(new Path(tmp, "_SUCCESS"))) swapIn(fs, tmp, dst)
    val queryId = Option(
      spark.sparkContext.getLocalProperty(StreamExecution.QUERY_ID_KEY))
    val committed = readCommit(fs, dst)
    val replay = queryId.nonEmpty &&
      committed.exists(c => c.queryId == queryId && c.batchId == batchId)
    if (!replay) {
      val existing = committed match {
        case Some(c) => spark.read.schema(c.schema).parquet(targetDir)
        case None if fs.exists(dst) => spark.read.parquet(targetDir)
        case None => spark.createDataFrame(
          java.util.Collections.emptyList[Row](), batch.schema)
      }
      requireSameColumns(existing.schema, batch.schema)
      val merged = upsert(existing, batch, key, ord)
      merged.write.mode("overwrite").parquet(tmp.toString)
      writeCommit(fs, tmp, Commit(queryId, batchId, merged.schema))
      swapIn(fs, tmp, dst)
    }
  }

  /** The `_committed` marker's content. */
  private final case class Commit(queryId: Option[String], batchId: Long,
      schema: StructType)

  private val CommitFile = "_committed"
  private val json = new ObjectMapper()

  private def writeCommit(fs: FileSystem, dir: Path, c: Commit): Unit = {
    val node = json.createObjectNode()
    node.put("queryId", c.queryId.orNull) // null outside a stream
    node.put("batchId", c.batchId)
    node.set[JsonNode]("schema", json.readTree(c.schema.json))
    val out = fs.create(new Path(dir, CommitFile), true)
    try out.write(json.writeValueAsBytes(node)) finally out.close()
  }

  private def readCommit(fs: FileSystem, dir: Path): Option[Commit] = {
    val p = new Path(dir, CommitFile)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val node = try json.readTree(in) finally in.close()
      Some(Commit(
        Option(node.path("queryId").textValue),
        node.get("batchId").asLong,
        DataType.fromJson(node.get("schema").toString)
          .asInstanceOf[StructType]))
    }
  }

  /** Same column names and types, in any order (nullability aside). A
    * batch that adds, drops or retypes a column is refused rather than
    * widened or null-filled into the table.
    */
  private def requireSameColumns(table: StructType,
      batch: StructType): Unit = {
    val types = table.fields.map(f => f.name -> f.dataType).toMap
    val same = batch.length == table.length && batch.fields.forall(f =>
      types.get(f.name).exists(DataTypeUtils.equalsIgnoreNullability(_,
        f.dataType)))
    if (!same) throw new IllegalArgumentException(
      s"batch schema ${batch.simpleString} does not match the table's " +
        table.simpleString)
  }

  /** Replace `dst` with the complete table at `tmp`. */
  private def swapIn(fs: FileSystem, tmp: Path, dst: Path): Unit = {
    fs.delete(dst, true)
    if (!fs.rename(tmp, dst))
      throw new java.io.IOException(s"could not rename $tmp to $dst")
  }
}
