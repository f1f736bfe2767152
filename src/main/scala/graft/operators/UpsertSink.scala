package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Upsert sink — the materializing half of the reference's
  * `UpsertStreamTableSink` contract
  * (flink-table/flink-table-api-java-bridge/src/main/java/org/apache/
  * flink/table/sinks/UpsertStreamTableSink.java:55: a changelog of
  * (Boolean flag, row) messages where flag=true upserts the row under
  * its key and flag=false deletes the key — the shape upsert-kafka,
  * JDBC, and HBase sinks consume). The external systems those sinks
  * write to aren't reachable here (zero-egress), so this operator IS
  * the keyed store: a parquet table the changelog maintains
  * incrementally.
  *
  * Scale design (the part that must survive 100 TB):
  *
  *  - The table is hive-partitioned by `bucket = pmod(hash(keys), N)`.
  *    Each micro-batch touches only the buckets its keys hash into:
  *    the read side prunes to those partitions (partition pruning on
  *    the bucket directory layout), and the write side replaces only
  *    those directories (dynamic partition overwrite). Per-batch cost
  *    is O(batch + touched_buckets · table/N), never O(table).
  *    The bucket count is pinned in a metadata file at the table root
  *    on first write and validated every batch — a mismatched count
  *    would silently strand rows in unprobed buckets.
  *  - Conflict resolution is SEQUENCE-based, not arrival-based: every
  *    message carries ordering columns (event time + tiebreaker), the
  *    stored row keeps them, and merge keeps the per-key max.
  *    DELETES persist as tombstones (the stored row with flag=false),
  *    so a late or redelivered upsert with an older sequence than an
  *    applied delete loses to the tombstone instead of resurrecting
  *    the key — the merge is idempotent and commutative, which also
  *    makes foreachBatch's at-least-once retry semantics safe.
  *    Tombstones cost one row per deleted key; a periodic compaction
  *    (rewrite buckets dropping tombstones older than the maximum
  *    admissible lateness) reclaims them without changing semantics.
  *  - The merged result is localCheckpoint'ed before the overwrite:
  *    Spark refuses a write whose lineage reads the path being
  *    overwritten; cutting the lineage materializes only the touched
  *    buckets. The checkpoint blocks are released as soon as the
  *    write commits (per-batch, like GraphOps' superstep release),
  *    targeted at this batch's own RDD — never a session-global sweep.
  */
object UpsertSink {

  private val metaFile = "_graft_buckets"

  /** Apply a bounded changelog stream to the keyed table at
    * `tablePath`, micro-batch by micro-batch, and block until drained.
    *
    * `changelog` must be a STREAMING DataFrame containing `keyCols`,
    * `seqCols` (ordering columns, highest wins; must be
    * lexicographically comparable), the boolean `flagCol`
    * (true = upsert, false = delete), and any value columns.
    */
  def run(spark: SparkSession, changelog: DataFrame, tablePath: String,
          keyCols: Seq[String], seqCols: Seq[String],
          flagCol: String = "upsert", numBuckets: Int = 16,
          checkpointDir: Option[String] = None): Unit = {
    require(changelog.isStreaming, "UpsertSink.run takes a streaming changelog")
    require(keyCols.nonEmpty && seqCols.nonEmpty)
    val w0 = changelog.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        applyBatch(spark, batch, tablePath, keyCols, seqCols, flagCol,
          numBuckets)
        ()
      }
    val q = graft.streaming.StreamRunner.start(spark,
      checkpointDir.fold(w0)(d => w0.option("checkpointLocation", d)))
    try q.processAllAvailable() finally q.stop()
  }

  private def fsOf(spark: SparkSession, path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Pin numBuckets on first write; fail loudly on a later mismatch
    * (rows would hash to buckets the merge never probes). */
  private def checkBuckets(spark: SparkSession, tablePath: String,
                           numBuckets: Int): Unit = {
    val (fs, root) = fsOf(spark, tablePath)
    val m = new org.apache.hadoop.fs.Path(root, metaFile)
    if (fs.exists(m)) {
      val in = fs.open(m)
      val stored =
        try scala.io.Source.fromInputStream(in).mkString.trim.toInt
        finally in.close()
      require(stored == numBuckets,
        s"UpsertSink at $tablePath was built with numBuckets=$stored; " +
          s"got $numBuckets — a mismatched bucket count would strand " +
          "stored rows in buckets the merge never reads")
    } else {
      fs.mkdirs(root)
      val out = fs.create(m, true)
      try out.write(numBuckets.toString.getBytes("UTF-8"))
      finally out.close()
    }
  }

  /** One micro-batch merge (also the unit the spec drives directly). */
  def applyBatch(spark: SparkSession, batch: DataFrame, tablePath: String,
                 keyCols: Seq[String], seqCols: Seq[String],
                 flagCol: String, numBuckets: Int): Unit = {
    if (batch.isEmpty) return
    checkBuckets(spark, tablePath, numBuckets)
    val keyExprs = keyCols.map(col)
    val withBucket = batch.withColumn("bucket",
      pmod(hash(keyExprs: _*), lit(numBuckets)))
    // within-batch + vs-stored resolution are the SAME rule (max seq
    // per key), so the batch needs no pre-dedup — one union, one rank
    val touched = withBucket.select("bucket").distinct()
      .collect().map(_.getInt(0)).sorted
    val exists = {
      val (fs, p) = fsOf(spark, tablePath)
      fs.exists(p) &&
        fs.listStatus(p).exists(_.getPath.getName.startsWith("bucket="))
    }
    // the store carries flagCol: tombstones are rows with flag=false
    val existing =
      if (exists)
        spark.read.parquet(tablePath)
          .where(col("bucket").isin(touched.map(Integer.valueOf): _*))
          .select(withBucket.columns.map(col): _*)
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        withBucket.schema)
    val rank = Window.partitionBy(keyExprs: _*)
      .orderBy(seqCols.map(col(_).desc): _*)
    val merged = existing.union(withBucket)
      .withColumn("_rn", row_number().over(rank))
      .where(col("_rn") === 1)
      .drop("_rn")
      // cut lineage: the overwrite below must not read its own target
      .localCheckpoint(true)
    // this batch's own checkpoint RDD (not a session-global diff —
    // concurrent queries may be checkpointing their own blocks)
    val ckptRdds = merged.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }
    try merged.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("bucket")
      .parquet(tablePath)
    finally ckptRdds.foreach(_.unpersist(false))
    // every touched key retains a winner row (tombstones persist), so
    // every touched bucket is present in the write — dynamic overwrite
    // covers them all; no emptied-directory case remains
  }

  /** The materialized table: live rows only (tombstones filtered),
    * without the internal bucket column. */
  def read(spark: SparkSession, tablePath: String,
           flagCol: String = "upsert"): DataFrame =
    spark.read.parquet(tablePath)
      .where(col(flagCol))
      .drop("bucket", flagCol)

  /** Tombstone compaction: rewrite the store dropping delete
    * tombstones whose ordering columns are at or below `seqFloor` —
    * safe once the floor exceeds the maximum admissible lateness (no
    * message at or below it can still arrive, so nothing remains for
    * those tombstones to outrank). Live rows are untouched; buckets
    * holding no expired tombstone are not rewritten (predicate-pruned
    * probe first, then a per-bucket dynamic overwrite of just the
    * affected directories — the same touched-buckets-only cost shape
    * as the merge itself). Returns how many tombstones were dropped.
    */
  def compact(spark: SparkSession, tablePath: String,
              seqCols: Seq[String], seqFloor: Seq[Any],
              flagCol: String = "upsert"): Long = {
    require(seqCols.length == seqFloor.length)
    val all = spark.read.parquet(tablePath)
    // lexicographic (seqCols) <= seqFloor
    val atOrBelow = seqCols.zip(seqFloor).zipWithIndex
      .map { case ((c, f), i) =>
        val strictPrefix = seqCols.take(i).zip(seqFloor.take(i))
          .map { case (pc, pf) => col(pc) === lit(pf) }
          .foldLeft(lit(true))(_ && _)
        strictPrefix && (if (i == seqCols.length - 1) col(c) <= lit(f)
                         else col(c) < lit(f))
      }
      .foldLeft(lit(false))(_ || _)
    val expired = !col(flagCol) && atOrBelow
    val buckets = all.where(expired).select("bucket").distinct()
      .collect().map(_.getInt(0))
    if (buckets.isEmpty) return 0L
    val scoped = spark.read.parquet(tablePath)
      .where(col("bucket").isin(buckets.map(Integer.valueOf): _*))
    val dropped = scoped.where(expired).count()
    val kept = scoped.where(!expired).localCheckpoint(true)
    val ckptRdds = kept.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }
    // a bucket whose ONLY rows were expired tombstones writes nothing
    // under dynamic overwrite — remove it explicitly (listed before
    // the checkpoint blocks are released)
    val written =
      try {
        kept.write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("bucket")
          .parquet(tablePath)
        kept.select("bucket").distinct()
          .collect().map(_.getInt(0)).toSet
      } finally ckptRdds.foreach(_.unpersist(false))
    val (fs, root) = fsOf(spark, tablePath)
    buckets.filterNot(written).foreach { b =>
      val d = new org.apache.hadoop.fs.Path(root, s"bucket=$b")
      if (fs.exists(d)) fs.delete(d, true)
    }
    dropped
  }
}
