package graft.perfbench

import graft.{Tier, Turn}
import graft.io.ParquetTableIO
import graft.retain.Retention
import graft.rollup.Rollups
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

/** Output checks. They run outside every timer. */
object Check {

  val PointCols: Seq[String] = Seq("conv_id", "tier", "bucket", "turns", "byRole",
    "byTool", "textLenSum", "textLenMin", "textLenMax", "filled")
  val TurnCols: Seq[String] = Seq("conv_id", "turn_idx", "role", "text", "tool", "ts")

  /** Order-insensitive checksum of a table: map columns become sorted entry
    * arrays, each row is hashed as JSON over its columns in name order.
    */
  def checksum(df: DataFrame): BigDecimal = {
    val canon = df.schema.fields.foldLeft(df) { (d, f) =>
      f.dataType match {
        case _: MapType => d.withColumn(f.name, array_sort(map_entries(col(f.name))))
        case _ => d
      }
    }
    val r = canon.select(
        xxhash64(to_json(struct(canon.columns.sorted.map(col).toSeq: _*)))
          .cast("decimal(38,0)").as("h"))
      .agg(coalesce(sum("h"), lit(0).cast("decimal(38,0)")), count(lit(1))).head()
    BigDecimal(r.getDecimal(0)) * 1000003 + r.getLong(1)
  }

  def table(spark: SparkSession, path: String): DataFrame = ParquetTableIO.read(spark, path)

  /** The single-node reference points: cube over the raw turns, the
    * cascade, and the retention cut the job applies at `asOfSec`.
    */
  def referencePoints(spark: SparkSession, input: String, tiers: Seq[Tier],
      asOfSec: Long): DataFrame = {
    import spark.implicits._
    val turns = spark.read.parquet(input).as[Turn]
    val all = Rollups.allTiers(turns, tiers).values.reduce(_ unionByName _)
      .withColumn("pday", date_format(timestamp_seconds(col("bucket")), "yyyy-MM-dd"))
    val expired = tiers.flatMap(t => Retention.cutoffDay(t, asOfSec)
        .map(cut => col("tier") === t.name && col("pday") < cut))
      .reduceOption(_ || _).getOrElse(lit(false))
    all.filter(!expired).select((PointCols :+ "pday").map(col): _*)
  }

  /** Decoded segments of an output root, as input-shaped turn rows. */
  def decodedTurns(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    graft.pivot.SeriesPivot.decode(
      table(spark, s"$root/segments").drop("pday").as[graft.Segment]).toDF()
      .select(TurnCols.map(col): _*)
  }

  def inputTurns(spark: SparkSession, input: String): DataFrame =
    spark.read.parquet(input).select(TurnCols.map(col): _*)

  def maxTsSec(spark: SparkSession, input: String): Long =
    spark.read.parquet(input).agg(max(unix_timestamp(col("ts")))).head().getLong(0)

  // ---- driver-side hashing of collected query results ----

  private def canon(v: Any): String = v match {
    case null => "∅"
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"$k=$x" }.sorted.mkString("{", ",", "}")
    case t: java.sql.Timestamp => (t.getTime * 1000 + (t.getNanos / 1000) % 1000).toString
    case other => other.toString
  }

  def rowHash(r: Row): Long =
    scala.util.hashing.MurmurHash3.stringHash(r.toSeq.map(canon).mkString("\u0001")).toLong

  def turnHash(t: Turn): Long = scala.util.hashing.MurmurHash3.stringHash(
    Seq(t.conv_id, t.turn_idx, t.role, t.text, t.tool, t.ts).map(canon).mkString("\u0001")).toLong

  /** Count and hash sum of rows, per conversation. */
  case class Digest(rows: Long, hash: Long) {
    def +(o: Digest): Digest = Digest(rows + o.rows, hash + o.hash)
  }
  object Digest { val zero: Digest = Digest(0, 0) }

  def digestRows(rows: Iterable[Row]): Digest =
    rows.foldLeft(Digest.zero)((d, r) => d + Digest(1, rowHash(r)))

  def digestByConv(rows: Iterable[Row]): Map[String, Digest] =
    rows.groupBy(_.getAs[String]("conv_id")).map { case (c, rs) => c -> digestRows(rs) }

  /** Per-conversation digest of raw turns, hashed on the executors with the
    * same function the driver applies to decoded query results.
    */
  def turnDigests(spark: SparkSession, input: String): Map[String, Digest] = {
    import spark.implicits._
    spark.read.parquet(input).as[Turn]
      .map(t => (t.conv_id, 1L, turnHash(t)))
      .groupBy("_1").agg(sum("_2"), sum("_3")).as[(String, Long, Long)]
      .collect().map { case (c, n, h) => c -> Digest(n, h) }.toMap
  }
}
