package graft.perfbench

import graft.gen.Synth
import graft.io.TableIO
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One timed operation: a `RollupJob.run` pass or one round of read queries. */
case class Op(ms: Double, turns: Long, ok: Boolean)

/** Shared state of one benchmark process. */
final class Ctx(val spark: SparkSession, val work: String, val seed: Long) {
  val spans = new Spans
  val ledger = new Ledger
  val heap = new HeapPeak
  def path(name: String): String = s"$work/$name"
}

/** Input shapes. Synth gives 1% hot conversations (every 97th) with
  * `hotFactor`× the turns, ~1 KB of text per turn and ~5% of minute
  * buckets missing; conversations are then spread over several UTC days.
  */
object Inputs {
  val Convs = 200
  val BaseTurns = 40
  val HotFactor = 20
  /** A small, separate set of conversations on one later day. */
  val NewDayConvs = 60
  /** Days between the base input and the later day: past the 1m retention (7 d). */
  val NewDayOffsetDays = 9
  /** Synth starts at 22:13 UTC; two more hours put the later day's
    * conversations (at most ~10 h long) on one UTC day.
    */
  private val NewDayShiftSec = NewDayOffsetDays * 86400L + 2 * 3600L

  private def shift(df: DataFrame, seconds: Column): DataFrame =
    df.withColumn("ts", timestamp_seconds(unix_seconds(col("ts")) + seconds))

  /** Base input: each conversation is shifted by 0, 1 or 2 days (50/30/20%).
    * The shift depends on the conversation id only, so every seed has the
    * same day layout and the seed varies contents, not the shape of the work.
    */
  def base(spark: SparkSession, seed: Long): DataFrame = {
    val h = pmod(xxhash64(col("conv_id")), lit(10))
    val days = when(h < 5, 0).when(h < 8, 1).otherwise(2)
    shift(Synth.turns(spark, Convs, BaseTurns, HotFactor, seed).toDF(), days * 86400L)
  }

  /** The later day: own conversation ids, placed on one UTC day
    * `NewDayOffsetDays` after the Synth start day.
    */
  def newDay(spark: SparkSession, seed: Long): DataFrame =
    shift(Synth.turns(spark, NewDayConvs, BaseTurns, HotFactor, seed + 1).toDF(),
      lit(NewDayShiftSec))
      .withColumn("conv_id", concat(lit("new-"), col("conv_id")))

  /** The pday of the later day (UTC). */
  def newDayPday: String = java.time.Instant.ofEpochSecond(
    Synth.Epoch + NewDayShiftSec).toString.take(10)

  def write(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  def dayOf: Column = date_format(col("ts"), "yyyy-MM-dd")
}

/** A workload: set-up, the timed unit of work, and its checks. */
abstract class Workload(val ctx: Ctx) {
  import ctx.spark
  /** Generate the input and any snapshot. */
  def setup(): Unit
  /** Restore the state a unit starts from (untimed). */
  def prepare(): Unit = ()
  /** Work run after set-up so that classes load and code compiles. */
  def warmup(): Unit = { prepare(); unit(graft.io.ParquetTableIO, traced = false) }
  /** One measured unit. */
  def unit(io: TableIO, traced: Boolean): Seq[Op]
  /** Checks on the outputs; each is (name, passed). */
  def verify(): Seq[(String, Boolean)]
  /** Output root whose tables the storage metrics describe. */
  def outRoot: String
  /** Turns of input the output covers. */
  def inputTurns: Long
  /** Input of the codec kernels. */
  def kernelInput: String
  /** Per-layer metrics of the traced run, measured after the window. */
  def traceMetrics(): Map[String, Double]

  def storage(): Map[String, Double] = {
    val segs = Check.table(spark, s"$outRoot/segments").agg(
      sum("n"),
      sum(length(col("tsBlob")) + length(col("idxBlob")) +
        length(col("roleBlob")) + length(col("toolBlob"))),
      sum(length(col("textBlob")))).head()
    val points = segs.getLong(0).toDouble
    val stored = Seq("points", "segments", "dims").map(t => Files.bytes(s"$outRoot/$t")).sum
    Map(
      "seg_meta_bytes_per_point" -> segs.getLong(1) / points,
      "seg_text_bytes_per_point" -> segs.getLong(2) / points,
      "stored_bytes_per_turn" -> stored.toDouble / inputTurns)
  }
}

object Workload {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "resume" => new ResumeWorkload(ctx)
    case "read" => new ReadWorkload(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }
  val Names: Seq[String] = Seq("resume", "read")
}
