package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated testdata layout (one parquet per table,
  * see /root/repo/TESTDATA.md). All engine operators are DataFrame-in /
  * DataFrame-out; these helpers only exist for the query harness.
  *
  * Timestamp normalization: queries must always see plain TimestampType
  * (UTC instants, matching how the DuckDB oracle reads the same naive
  * values). The driver has shipped the testdata with two different
  * physical encodings across rounds, so BOTH are handled:
  *  - parquet TIMESTAMP(NANOS) (no native Spark type) — read as nano
  *    longs (`spark.sql.legacy.parquet.nanosAsLong`), convert to micros;
  *  - parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) — inferred as
  *    TIMESTAMP_NTZ, cast to TimestampType (identical wall values under
  *    the UTC sessions every entry point builds; `unix_micros` et al.
  *    reject NTZ, so leaving it would break every time-arithmetic
  *    operator, the silent q22/q25/q35 breakage of round 8).
  */
object Tables {
  private val tsColumns = Set("l_shipdate", "o_orderdate", "ts")

  /** `dir/name.parquet` with timestamps normalized, memoized per
    * (session, dir, table) through [[graft.util.Artifacts]]: resolving a
    * parquet relation costs a driver-side footer/schema job per call, and
    * the harness loads the same ten fixture tables hundreds of times per
    * run (178 queries × 2 bench passes). The memoized DataFrame carries
    * the resolved schema and the relation's file index, so repeat loads
    * are pure plan reuse. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.util.Artifacts(spark, dir, s"table/$name") {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = spark.read.parquet(s"$dir/$name.parquet")
      raw.schema.fields.foldLeft(raw) { (df, f) =>
        if (tsColumns.contains(f.name) && f.dataType == LongType)
          df.withColumn(f.name, timestamp_micros(expr(s"${f.name} div 1000")))
        else if (tsColumns.contains(f.name) && f.dataType == TimestampNTZType)
          df.withColumn(f.name, col(f.name).cast(TimestampType))
        else df
      }
    }

  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def events(s: SparkSession, d: String): DataFrame = load(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
