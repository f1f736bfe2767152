package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated TPC-H-ish parquet tables (TESTDATA.md).
  *
  * Tables: region nation customer supplier part orders lineitem events
  * documents embeddings — one parquet file per table under the sf dir.
  * Always read through here so every query benefits from the same scan
  * path (vectorized parquet reader, pushdown, pruning).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Normalize the events `ts` column to session-zoned TimestampType,
    * whatever physical shape the driver generated this round:
    * INT64 TIMESTAMP(NANOS) read as long (µs-precision, so nanos→µs
    * truncation is lossless), timestamp[us] isAdjustedToUTC=false read
    * as TIMESTAMP_NTZ (session tz is UTC everywhere, so the cast is
    * value-preserving), or already TimestampType. */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000").cast(LongType)))
      case TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }

  /** What a footer schema is memoized under: the file's identity and
    * version, and the session values of the confs that steer the
    * parquet-to-Spark type conversion. */
  private[graft] case class FooterKey(path: String, length: Long, mtime: Long,
                                      conversion: Seq[Boolean])

  // the converter settings Spark's own parquet schema inference reads
  private val conversionConfs = Seq(
    SQLConf.LEGACY_PARQUET_NANOS_AS_LONG, SQLConf.PARQUET_BINARY_AS_STRING,
    SQLConf.PARQUET_INT96_AS_TIMESTAMP, SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED,
    SQLConf.PARQUET_READER_RESPECT_UNKNOWN_TYPE_ANNOTATION)

  private val footerSchemas =
    new java.util.concurrent.ConcurrentHashMap[FooterKey, StructType]()

  private[graft] def footerKey(spark: SparkSession, path: String): FooterKey = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(p)
    val conf = spark.sessionState.conf
    FooterKey(fs.makeQualified(p).toString, st.getLen, st.getModificationTime,
      conversionConfs.map(e => conf.getConf(e)))
  }

  /** The Spark schema of the single parquet file at `path`, as
    * `spark.read.parquet(path).schema` infers it, minus the one-task
    * schema-merge job that inference runs: the footer is read directly
    * and converted with the session's settings, once per
    * [[FooterKey]]. A rewritten file (new length or mtime) or a flipped
    * conversion conf reads the footer again. */
  def schemaOf(spark: SparkSession, path: String): StructType =
    footerSchemas.computeIfAbsent(footerKey(spark, path), k => {
      val p = new Path(k.path)
      val hadoopConf = spark.sessionState.newHadoopConf()
      val status = p.getFileSystem(hadoopConf).getFileStatus(p)
      val footer = ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(status, hadoopConf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
      // the converter schema inference builds: the key's five settings,
      // the rest at their defaults
      val Seq(nanosAsLong, binaryAsString, int96AsTimestamp, inferNtz, respectUnknown) =
        k.conversion
      val converter = new ParquetToSparkSchemaConverter(
        assumeBinaryIsString = binaryAsString, assumeInt96IsTimestamp = int96AsTimestamp,
        inferTimestampNTZ = inferNtz, nanosAsLong = nanosAsLong,
        respectUnknownTypeAnnotation = respectUnknown)
      ParquetFileFormat.readSchemaFromFooter(new Footer(p, footer), converter)
    })

  /** A fresh relation over `$dir/$name.parquet` (fresh exprIds, fresh
    * file listing) with the memoized footer schema. */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    def read = spark.read.schema(schemaOf(spark, path)).parquet(path)
    if (name == "events") {
      // tolerate the INT64 TIMESTAMP(NANOS) shape some rounds generate
      // (Spark's parquet reader rejects nanos by default)
      spark.conf.set(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key, "true")
      normalizeEventTs(read)
    } else read
  }

  /** Register every table as a temp view (for spark.sql surfaces). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    all.foreach(n => apply(spark, dir, n).createOrReplaceTempView(n))
}
