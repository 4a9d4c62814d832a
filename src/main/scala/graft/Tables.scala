package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-provided parquet star schema (TESTDATA.md).
  * Plain `spark.read.parquet` so Catalyst gets full pushdown/pruning.
  */
object Tables {
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** inferred schema per (path, (name, length, mtime) of each file, the
    * nanos-as-long setting that changes how events.ts is inferred) */
  private val schemas = scala.collection.concurrent.TrieMap
    .empty[(String, Seq[(String, Long, Long)], String), StructType]

  /** Parquet schema inference reads a footer in a Spark job of its own;
    * each table file is inferred once per JVM while it is unchanged, and
    * every later read passes that schema. */
  private def schema(spark: SparkSession, path: String): StructType = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(p).toSeq
      .map(f => (f.getPath.getName, f.getLen, f.getModificationTime))
    schemas.getOrElseUpdate((fs.makeQualified(p).toString, files,
      spark.conf.get(NanosAsLong, "false")), spark.read.parquet(path).schema)
  }

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    spark.read.schema(schema(spark, path)).parquet(path)
  }

  def lineitem(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "region")
  /** events.ts has shipped as either parquet TIMESTAMP(NANOS) (which
    * Spark's reader only accepts as raw longs) or plain TIMESTAMP(MICROS);
    * normalize both generations to micro-precision TIMESTAMP_NTZ — the same
    * floor-truncation DuckDB applies casting ns → µs, and a no-op on µs.
    * `(ts - pmod(ts, 1000)) DIV 1000` is exact long-arithmetic FLOOR
    * division (DIV alone truncates toward zero, which would round pre-epoch
    * nanos the wrong way). The TimestampType→NTZ cast is only
    * instant-preserving under a UTC session, and the cast resolves LAZILY
    * — a session whose timezone changes between load and action would
    * silently shift instants — so instead of mutating the session conf
    * behind the caller's back (which would also surprise unrelated
    * queries), the loader REQUIRES a UTC session with a loud error. Both
    * engine session factories (Sessions.local, TestSpark) pin UTC. */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    require(spark.conf.get("spark.sql.session.timeZone") == "UTC",
      "Tables.events needs spark.sql.session.timeZone=UTC (the lazy " +
        "TIMESTAMP->TIMESTAMP_NTZ cast is instant-preserving only under " +
        "UTC); configure the session with Sessions.local or set the conf " +
        "before loading")
    spark.conf.set(NanosAsLong, "true")
    val df = table(spark, sfDir, "events")
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts",
          expr("CAST(timestamp_micros((ts - pmod(ts, 1000)) DIV 1000) AS TIMESTAMP_NTZ)"))
      case TimestampType => df.withColumn("ts", col("ts").cast(TimestampNTZType))
      case _ => df // already TIMESTAMP_NTZ
    }
  }
  def documents(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "embeddings")
}
