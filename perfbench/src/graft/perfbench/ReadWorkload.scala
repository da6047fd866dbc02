package graft.perfbench

import graft.{RollupConfig, RollupJob, Segment, Tier}
import graft.io.TableIO
import graft.pivot.SeriesPivot
import graft.rollup.GapFill
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.collection.mutable.ArrayBuffer

/** A closed loop of one client over a `rebuild` output. A unit, and the
  * timed operation, is one round of three queries:
  *  (a) 1h points of a random set of conversations, gap-filled;
  *  (b) segments of a random set of conversations, decoded;
  *  (c) a scan of the 1d tier.
  * Each result is checked against digests of the single-node reference.
  */
final class ReadWorkload(ctx: Ctx) extends Workload(ctx) {
  import ctx.spark
  import spark.implicits._

  /** Conversations per point or segment query. */
  val ConvsPerQuery = 8
  /** Rounds after set-up, untimed: round latency keeps falling for about
    * twenty rounds while the JIT compiles the planner and the scan; with
    * fewer, the timed rounds still fall and the run's median depends on how
    * fast they do.
    */
  val WarmupRounds = 24

  private val input = ctx.path("input")
  val outRoot: String = ctx.path("out")
  private var turns = 0L
  private var convIds = Array.empty[String]
  private val rng = new java.util.Random(ctx.seed)
  /** (kind, conversations, digest of the result) of every query run. */
  private val results = ArrayBuffer.empty[(Char, Seq[String], Check.Digest)]
  // traced-round detail
  private val planMs = ArrayBuffer.empty[Double]
  private val execMs = ArrayBuffer.empty[Double]
  private val gapfillMs = ArrayBuffer.empty[Double]
  private val scannedBytes = ArrayBuffer.empty[Long]

  def inputTurns: Long = turns
  def kernelInput: String = input

  def setup(): Unit = {
    Seq(input, outRoot).foreach(Files.delete)
    Inputs.write(Inputs.base(spark, ctx.seed), input)
    turns = spark.read.parquet(input).count()
    RollupJob.run(spark, RollupConfig(inputPath = input, outputRoot = outRoot,
      runId = "read-setup"))
    convIds = spark.read.parquet(input).select("conv_id").distinct()
      .as[String].collect().sorted
  }

  override def warmup(): Unit = {
    (1 to WarmupRounds).foreach(_ => unit(graft.io.ParquetTableIO, traced = false))
    results.clear()
  }

  private def pickConvs(): Seq[String] =
    Seq.fill(ConvsPerQuery)(convIds(rng.nextInt(convIds.length))).distinct

  private def points(io: TableIO) = io.read(spark, s"$outRoot/points")

  private def pointsQuery(io: TableIO, convs: Seq[String]): DataFrame =
    GapFill.fillPoints(points(io)
      .filter(col("tier") === "1h" && col("conv_id").isin(convs: _*)).drop("pday"),
      Tier.Hour)

  private def segmentsQuery(io: TableIO, convs: Seq[String]) =
    SeriesPivot.decode(io.read(spark, s"$outRoot/segments")
      .filter(col("conv_id").isin(convs: _*)).drop("pday").as[Segment])

  private def dayQuery(io: TableIO): DataFrame =
    points(io).filter(col("tier") === "1d").select(Check.PointCols.map(col): _*)

  /** Runs one query; in a traced round, splits planning from execution. */
  private def timed[T](traced: Boolean, plan: => org.apache.spark.sql.Dataset[T]): (Array[T], Double) = {
    val t0 = System.nanoTime()
    val ds = plan
    if (traced) ds.queryExecution.executedPlan
    val t2 = System.nanoTime()
    val rows = ds.collect()
    val t3 = System.nanoTime()
    if (traced) {
      planMs += (t2 - t0) / 1e6
      execMs += (t3 - t2) / 1e6
    }
    (rows, (t3 - t0) / 1e6)
  }

  def unit(io: TableIO, traced: Boolean): Seq[Op] = {
    val ca = pickConvs()
    val (a, msA) = withBytes(traced)(timed(traced, pointsQuery(io, ca)))
    results += (('a', ca, Check.digestRows(a)))
    if (traced) gapfillMs += gapfillOnly(ca)
    val cb = pickConvs()
    val (b, msB) = withBytes(traced)(timed(traced, segmentsQuery(io, cb)))
    results += (('b', cb, b.foldLeft(Check.Digest.zero)((d, t) =>
      d + Check.Digest(1, Check.turnHash(t)))))
    val (c, msC) = withBytes(traced)(timed(traced, dayQuery(io)))
    results += (('c', Nil, Check.digestRows(c)))
    val presentTurns = a.filterNot(_.getAs[Boolean]("filled")).map(_.getAs[Long]("turns")).sum
    // the round is the operation: the three kinds differ in latency, and a
    // median over a mix of them jumps between kinds from run to run
    Seq(Op(msA + msB + msC, presentTurns + b.length + c.map(_.getAs[Long]("turns")).sum, true))
  }

  private def withBytes[T](traced: Boolean)(f: => T): T =
    if (!traced) f
    else {
      val t0 = System.currentTimeMillis()
      val r = f
      val t1 = System.currentTimeMillis()
      ctx.ledger.settle()
      scannedBytes += Ledger.sum(ctx.ledger.tasksIn(t0, t1))(_.inputBytes)
      r
    }

  /** Gap-fill alone: the same points from a local relation, no scan. */
  private def gapfillOnly(convs: Seq[String]): Double = {
    val stored = points(graft.io.ParquetTableIO)
      .filter(col("tier") === "1h" && col("conv_id").isin(convs: _*)).drop("pday")
    val local = spark.createDataFrame(java.util.Arrays.asList(stored.collect(): _*),
      stored.schema)
    val t0 = System.nanoTime()
    GapFill.fillPoints(local, Tier.Hour).collect()
    (System.nanoTime() - t0) / 1e6
  }

  def verify(): Seq[(String, Boolean)] = {
    val asOf = Check.maxTsSec(spark, input)
    val ref = Check.referencePoints(spark, input, Tier.cascade, asOf).drop("pday")
    val filled = Check.digestByConv(GapFill.fillPoints(ref.filter(col("tier") === "1h"),
      Tier.Hour).collect())
    val turnsByConv = Check.turnDigests(spark, input)
    val day = Check.digestRows(ref.filter(col("tier") === "1d")
      .select(Check.PointCols.map(col): _*).collect())
    def of(m: Map[String, Check.Digest], convs: Seq[String]) =
      convs.map(m.getOrElse(_, Check.Digest.zero)).foldLeft(Check.Digest.zero)(_ + _)
    results.zipWithIndex.map {
      case ((k, cs, d), i) =>
        val want = k match {
          case 'a' => of(filled, cs)
          case 'b' => of(turnsByConv, cs)
          case _ => day
        }
        s"query $i ($k) matches the reference" -> (d == want)
    }.toSeq
  }

  def traceMetrics(): Map[String, Double] = Map(
    "read.plan_ms_p50" -> Stats.median(planMs.toSeq),
    "read.exec_ms_p50" -> Stats.median(execMs.toSeq),
    "rollup.gapfill_ms_p50" -> Stats.median(gapfillMs.toSeq),
    "io.bytes_scanned_per_query" ->
      (if (scannedBytes.isEmpty) 0.0 else scannedBytes.sum.toDouble / scannedBytes.size))
}
