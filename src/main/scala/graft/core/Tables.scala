package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver testdata tables (`TESTDATA.md`).
  *
  * All engine inputs are Parquet; the reference's MySQL row store
  * (`finds/database/sql.py:76-342`) maps to schema'd Parquet scans with
  * Catalyst predicate pushdown + column pruning (SURVEY.md §2.1 S1-S4).
  */
object Tables {

  /** Session defaults applied once per session; idempotent.
    *
    * `events.parquet` carries TIMESTAMP(NANOS) which Spark 4 cannot read
    * natively — `nanosAsLong` surfaces it as LongType epoch-nanos which
    * [[events]] converts to a microsecond TimestampType column (the data
    * is microsecond-granular, so truncation is lossless).
    */
  def tune(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    // testdata timestamps carry isAdjustedToUTC=false; read them as plain
    // TimestampType in the UTC session (matching DuckDB's naive reading)
    // rather than TIMESTAMP_NTZ, so unix_micros()/window() apply.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    // broadcast aggressively: dims (region/nation/supplier/part meta,
    // calendars, breakpoints) are small even at 100 TB fact scale.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", 64L * 1024 * 1024)
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark
  }

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    tune(spark)
    spark.read.parquet(s"$dir/$name.parquet")
  }

  /** Pin a CPU-dense frame to the session's shuffle parallelism when the
    * byte-sized scan under-partitions it.
    *
    * Spark splits file scans by BYTES (`maxPartitionBytes`), which is the
    * wrong unit for per-row compute-heavy kernels over small-but-dense
    * inputs: the sf0.1 documents table is one parquet split, so every
    * signature/quality/fingerprint kernel downstream of it ran as ONE
    * task on one core (stage-traced: t_pipeline's whole 1.5 s plan was a
    * single task at 32 available cores). The guard makes this a no-op
    * exactly where the pathology can't exist — a corpus-scale table scans
    * as thousands of splits, so `toRdd.getNumPartitions >= parts` and no
    * shuffle is added; only an under-split scan pays one narrow
    * round-robin exchange of the input rows to buy full-width compute.
    * (`queryExecution.toRdd` plans the physical RDD without running a
    * job.) AQE never coalesces a user-specified `repartition(n)`.
    */
  def pinWidth(df: DataFrame): DataFrame = {
    val parts = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    if (df.queryExecution.toRdd.getNumPartitions < parts) df.repartition(parts) else df
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** Events with `ts` as a microsecond TimestampType (from raw nanos). */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = table(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // integer division: `/` on longs is double division in Spark SQL and
        // would lose precision above 2^53 (epoch-nanos ≈ 1.7e18)
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => raw
    }
  }
}
