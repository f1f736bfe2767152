package graft

import graft.streaming.StreamRunner
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** `StreamRunner.toTable` against a memory-sink drive of the same
  * query: the rows each output mode keeps, the empty stream, and where
  * the result lives (the caller's session; no blocks after
  * `GraftSession.releaseCaches`). The input is three parquet files read
  * one per micro-batch, so every query runs a data batch per file and,
  * where a watermark moves, a no-data batch after them. */
class StreamRunnerSpec extends AnyFunSuite {
  import StreamHarness.spark

  private val schema = StructType(Seq(
    StructField("key", LongType), StructField("ts", TimestampType),
    StructField("v", LongType)))

  /** (key, second, v) rows per file; file i is micro-batch i. */
  private val files = Seq(
    Seq((1L, 10L, 1L), (2L, 20L, 2L), (1L, 70L, 3L)),
    Seq((2L, 75L, 4L), (3L, 130L, 5L)),
    Seq((1L, 200L, 6L), (3L, 260L, 7L), (2L, 400L, 8L)))

  /** Runs `body` over a directory of `batches` as parquet files with
    * ascending mtimes, then deletes it. */
  private def withInput[T](batches: Seq[Seq[(Long, Long, Long)]])(body: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory("graft_runner_in")
    try {
      write(dir, batches)
      body(dir.toString)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  private def write(dir: java.nio.file.Path, batches: Seq[Seq[(Long, Long, Long)]]): Unit =
    batches.zipWithIndex.foreach { case (rows, i) =>
      val tmp = dir.resolve(s"_tmp$i").toString
      spark.createDataFrame(spark.sparkContext.parallelize(rows.map {
        case (k, sec, v) => Row(k, new java.sql.Timestamp(sec * 1000L), v)
      }, 1), schema).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
      val dst = dir.resolve(f"part$i%02d.parquet").toFile
      assert(part.renameTo(dst))
      assert(dst.setLastModified(1000000000000L + i * 1000L))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
    }

  private def stream(dir: String): DataFrame =
    spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "*.parquet").parquet(dir)

  /** The memory-sink drive `toTable` replaced: one query, every batch
    * appended to the sink (Complete batches replace it). */
  private def memoryDrive(df: DataFrame, mode: OutputMode, name: String): DataFrame = {
    spark.catalog.dropTempView(name)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_runner_ckpt")
    try {
      val q = df.writeStream.outputMode(mode).format("memory").queryName(name)
        .option("checkpointLocation", ckpt.toString).start()
      try q.processAllAvailable() finally q.stop()
    } finally org.apache.commons.io.FileUtils.deleteQuietly(ckpt.toFile)
    spark.table(name)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  /** `toTable` and the memory sink keep the same rows of `build`'s query. */
  private def sameAsMemorySink(mode: OutputMode, name: String)
                              (build: DataFrame => DataFrame): Seq[String] =
    withInput(files) { dir =>
      val want = rows(memoryDrive(build(stream(dir)), mode, s"${name}_mem"))
      val got = rows(StreamRunner.toTable(spark, build(stream(dir)), mode, name))
      assert(got == want)
      got
    }

  test("Append: a watermarked window aggregate emits each closed window once") {
    val got = sameAsMemorySink(OutputMode.Append, "runner_append") { s =>
      s.withWatermark("ts", "30 seconds")
        .groupBy(window(col("ts"), "1 minute")).agg(sum("v").as("v"))
        .select(col("window.start").cast("long").as("start"), col("v"))
    }
    // the last watermark is 400 s - 30 s: every window but [360, 420) closes
    assert(got == Seq("0|3", "120|5", "180|6", "240|7", "60|7"))
  }

  test("Update: a running count keeps every revision") {
    val got = sameAsMemorySink(OutputMode.Update, "runner_update") { s =>
      s.groupBy("key").count()
    }
    // batch 0 revises keys 1 and 2, batch 1 keys 2 and 3, batch 2 all three
    assert(got == Seq("1|2", "1|3", "2|1", "2|2", "2|3", "3|1", "3|2"))
  }

  test("Complete: only the last batch's table is kept") {
    val got = sameAsMemorySink(OutputMode.Complete, "runner_complete") { s =>
      s.groupBy("key").agg(sum("v").as("v"))
    }
    assert(got == Seq("1|10", "2|14", "3|12"))
  }

  test("a stream with no rows returns an empty table with the query's schema") {
    withInput(Nil) { dir =>
      val q = stream(dir).groupBy("key").agg(sum("v").as("v"))
      val out = StreamRunner.toTable(spark, q, OutputMode.Update, "runner_empty")
      assert(out.count() == 0)
      assert(out.schema.map(f => f.name -> f.dataType) ==
        q.schema.map(f => f.name -> f.dataType))
    }
  }

  test("the result resolves by name on the caller's session") {
    withInput(files) { dir =>
      StreamRunner.toTable(spark, stream(dir).groupBy("key").count(),
        OutputMode.Complete, "runner_named")
    }
    assert(rows(spark.table("runner_named")) == Seq("1|3", "2|3", "3|2"))
    assert(spark.sql("SELECT sum(count) FROM runner_named").head.getLong(0) == 8L)
  }

  test("GraftSession.releaseCaches leaves no persistent RDD behind") {
    val out = withInput(files) { dir =>
      StreamRunner.toTable(spark,
        stream(dir).groupBy("key").count(), OutputMode.Update, "runner_release")
    }
    assert(out.count() == 7)
    GraftSession.releaseCaches(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }
}
