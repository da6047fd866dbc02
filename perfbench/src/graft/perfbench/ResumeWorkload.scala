package graft.perfbench

import graft.{RollupConfig, RollupJob, Tier}
import graft.ckpt.Checkpoint
import graft.io.{ParquetTableIO, TableIO}
import graft.pivot.SeriesPivot
import graft.retain.Retention
import graft.rollup.Rollups
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable.ArrayBuffer

/** `RollupJob.run` in write mode `s` after a crash: the output, restored
  * from a snapshot before every pass outside the timer, has committed the
  * pdays that hold about half of the input turns. The input also holds one
  * small day `Inputs.NewDayOffsetDays` after the others, so the 1m retention
  * cutoff passes committed pdays and the retention pass drops partitions.
  */
final class ResumeWorkload(ctx: Ctx) extends Workload(ctx) {
  import ctx.spark
  import spark.implicits._

  private val input = ctx.path("input")
  private val snap = ctx.path("snap")
  private val fresh = ctx.path("fresh")
  val outRoot: String = ctx.path("out")
  private var turns = 0L
  private var passes = 0
  private val reports = ArrayBuffer.empty[RollupJob.RunReport]

  def inputTurns: Long = turns
  def kernelInput: String = input

  private def cfg(root: String, mode: String, runId: String) =
    RollupConfig(inputPath = input, outputRoot = root, writeMode = mode, runId = runId)

  /** Input, a fresh rebuild over it, and the crash snapshot cut from the
    * rebuild: the data partitions and lineage rows of the committed pdays.
    */
  def setup(): Unit = {
    Seq(input, fresh, snap, outRoot).foreach(Files.delete)
    Inputs.write(Inputs.base(spark, ctx.seed).unionByName(Inputs.newDay(spark, ctx.seed)), input)
    turns = spark.read.parquet(input).count()
    RollupJob.run(spark, cfg(fresh, "o", "fresh"))
    val newDay = Inputs.newDayPday
    val perDay = spark.read.parquet(input).groupBy(Inputs.dayOf.as("d")).count()
      .as[(String, Long)].collect().filter(_._1 != newDay).sortBy(_._1)
    val committedDays = halfOfTurns(perDay, turns)
    for (table <- Seq("points", "segments"); tier <- Files.subdirs(s"$fresh/$table");
         day <- committedDays if Files.exists(s"$fresh/$table/$tier/pday=$day"))
      Files.copy(s"$fresh/$table/$tier/pday=$day", s"$snap/$table/$tier/pday=$day")
    Check.table(spark, s"$fresh/${Checkpoint.LineageDir}")
      .filter(col("pday").isin(committedDays.toSeq: _*)).coalesce(1)
      .write.parquet(s"$snap/${Checkpoint.LineageDir}")
  }

  /** The non-empty subset of days whose turns are closest to half of all. */
  private def halfOfTurns(perDay: Seq[(String, Long)], total: Long): Set[String] = {
    (1 until (1 << perDay.size)).map { mask =>
      perDay.indices.filter(i => (mask >> i & 1) == 1).map(perDay(_))
    }.minBy(s => (math.abs(s.map(_._2).sum.toDouble / total - 0.5), s.map(_._1).mkString))
      .map(_._1).toSet
  }

  override def prepare(): Unit = {
    Files.delete(outRoot)
    Files.copy(snap, outRoot)
  }

  def unit(io: TableIO, traced: Boolean): Seq[Op] = {
    passes += 1
    val t0 = System.nanoTime()
    val r = RollupJob.run(spark, cfg(outRoot, "s", s"pass-$passes"), io)
    val ms = (System.nanoTime() - t0) / 1e6
    reports += r
    // every pass must report what the first one did
    val same = reports.head.copy(runId = "") == r.copy(runId = "")
    Seq(Op(ms, r.inputRows, same))
  }

  def verify(): Seq[(String, Boolean)] = {
    val asOf = Check.maxTsSec(spark, input)
    val points = Check.table(spark, s"$outRoot/points")
    val ref = Check.referencePoints(spark, input, Tier.cascade, asOf)
    val checks = ArrayBuffer(
      "points == single-node reference" -> (Check.checksum(points) == Check.checksum(ref)),
      "segments decode to the input turns" ->
        (Check.checksum(Check.decodedTurns(spark, outRoot)) ==
          Check.checksum(Check.inputTurns(spark, input))))
    Seq("points", "segments", "dims").foreach { t =>
      checks += s"$t == fresh rebuild" ->
        (Check.checksum(Check.table(spark, s"$outRoot/$t")) ==
          Check.checksum(Check.table(spark, s"$fresh/$t")))
    }
    checks.toSeq
  }

  /** Replays the job's layer calls in job order, serially, each in a span. */
  def traceMetrics(): Map[String, Double] = {
    val ledger = ctx.ledger
    prepare()
    val spans = ctx.spans
    val io = new TracingIO(ParquetTableIO, spans)
    val c = cfg(outRoot, "s", "replay")
    val pday = date_format(timestamp_seconds(col("bucket")), "yyyy-MM-dd")
    val parts = spark.sessionState.conf.numShufflePartitions
    val salt = pmod(xxhash64(col("conv_id")), lit(c.writeSaltBuckets))
    val fp = s"${c.inputPath}@${c.runId}"
    val asOf = Check.maxTsSec(spark, input)

    val inputDf = spans("io.scan") {
      val df = io.read(spark, c.inputPath)
      graft.io.Validate.transcriptSchema(df)
      df.select("conv_id", "turn_idx", "role", "text", "tool", "ts")
        .write.format("noop").mode("overwrite").save()
      df
    }
    val turnsAll = inputDf.select("conv_id", "turn_idx", "role", "text", "tool", "ts")
      .as[graft.Turn]
    val committed = spans("ckpt.lineage_read")(
      Checkpoint.committed(spark, io, outRoot).as[(String, String)].collect().toSet)
    def doneDays(tier: String) = committed.collect { case (`tier`, d) => d }.toSeq

    val segs = spans("pivot") {
      val s = SeriesPivot.segmentsSorted(turnsAll, Tier.Day, c)
        .persist(StorageLevel.MEMORY_AND_DISK)
      s.count()
      s
    }
    val segDf = segs.toDF().withColumn("pday", pday)
    val perDay = segDf.groupBy("pday").agg(sum("n"), count(lit(1)))
      .as[(String, Long, Long)].collect()
    val pivoted = perDay.map(_._2).sum
    val useful = perDay.filterNot(d => doneDays("seg-1d").contains(d._1)).map(_._2).sum
    val segsToWrite = segDf.filter(!col("pday").isin(doneDays("seg-1d"): _*))
    io.write(segsToWrite.repartition(parts, col("pday"), salt),
      s"$outRoot/segments", Seq("tier", "pday"), "overwrite")
    spans("ckpt.commit")(Checkpoint.commit(spark, io, outRoot, c.runId,
      segsToWrite.select(concat(lit("seg-"), col("tier")).as("tier"), col("pday")), fp))

    var finer: DataFrame = null
    val cubes = ArrayBuffer.empty[DataFrame]
    var cubeRows1m = 0L
    Tier.cascade.foreach { t =>
      val cube = spans(s"rollup.cube.${t.name}") {
        val cb = if (finer == null) Rollups.cubeFromSegments(segs, t)
          else Rollups.cascadeCube(finer, t)
        cb.persist()
        val n = cb.count()
        if (finer == null) cubeRows1m = n
        cb
      }
      cubes += cube
      finer = cube
      spans(s"rollup.points.${t.name}")(Rollups.pointsStreamed(cube, t.name)
        .write.format("noop").mode("overwrite").save())
      val keep = !col("pday").isin(doneDays(t.name): _*)
      val points = Rollups.pointsStreamed(cube, t.name).withColumn("pday", pday).filter(keep)
      spans(s"write.points_${t.name}")(io.write(
        points.repartition(parts, col("pday"), salt), s"$outRoot/points",
        Seq("tier", "pday"), "overwrite"))
      val planned = cube.select("conv_id", "bucket").distinct().withColumn("pday", pday)
        .groupBy("pday").agg(count(lit(1)).as("rows"))
        .withColumn("tier", lit(t.name)).select("tier", "pday", "rows").filter(keep)
      spans("ckpt.commit")(
        Checkpoint.commitCounts(spark, io, outRoot, c.runId, planned, fp))
    }
    val dims = finer.groupBy("conv_id").agg(sum("c").as("turns_total"),
      sum("lenSum").as("text_len_total"), min("bucket").as("first_bucket"),
      max("bucket").as("last_bucket"))
    io.write(dims.repartition(parts), s"$outRoot/dims", Seq.empty, "overwrite")
    spans("retain") {
      Retention(spark, io, s"$outRoot/points", c.tiers, asOf)
      Retention(spark, io, s"$outRoot/segments", Seq(Tier.Day), asOf)
    }
    segs.unpersist()
    cubes.foreach(_.unpersist())
    ledger.settle()

    val pivotTasks = spans.named("pivot").flatMap(ledger.tasksIn)
    val cubeTasks = spans.named("rollup.cube.").flatMap(ledger.tasksIn)
    Map(
      "io.scan_s" -> spans.total("io.scan"),
      "pivot.s" -> spans.total("pivot"),
      "pivot.cpu_s" -> Ledger.sum(pivotTasks)(_.cpuNs) / 1e9,
      "pivot.gc_s" -> Ledger.sum(pivotTasks)(_.gcMs) / 1e3,
      "pivot.shuffle_bytes" -> Ledger.sum(pivotTasks)(_.shuffleWriteBytes).toDouble,
      "pivot.spill_bytes" -> Ledger.sum(pivotTasks)(_.spillBytes).toDouble,
      "pivot.task_skew" -> Ledger.skew(pivotTasks),
      "pivot.turns_per_segment" -> pivoted.toDouble / perDay.map(_._3).sum,
      "rollup.cube_rows.1m" -> cubeRows1m.toDouble,
      "rollup.shuffle_bytes" -> Ledger.sum(cubeTasks)(_.shuffleWriteBytes).toDouble,
      "io.write_s.segments" -> spans.total("io.write.segments"),
      "io.write_s.dims" -> spans.total("io.write.dims"),
      "io.drop_s" -> spans.total("io.drop"),
      "io.partitions_dropped" -> io.partitionsDropped.toDouble,
      "ckpt.commit_s" -> spans.total("ckpt.commit"),
      "ckpt.commits" -> spans.named("ckpt.commit").size.toDouble,
      "ckpt.lineage_read_s" -> spans.total("ckpt.lineage_read"),
      "ckpt.useful_turn_ratio" -> useful.toDouble / pivoted,
      "ckpt.turns_pivoted" -> pivoted.toDouble,
      "retain.s" -> spans.total("retain"),
      "retain.partitions_dropped" -> io.partitionsDropped.toDouble) ++
      Tier.cascade.flatMap { t =>
        Seq(s"rollup.cube_s.${t.name}" -> spans.total(s"rollup.cube.${t.name}"),
          s"rollup.points_s.${t.name}" -> spans.total(s"rollup.points.${t.name}"),
          s"io.write_s.points_${t.name}" -> spans.total(s"write.points_${t.name}"))
      }
  }
}
