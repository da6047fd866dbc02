package graft.perfbench

import graft.{RollupConfig, Segment, Tier, Turn}
import graft.codec.Gorilla
import graft.io.ParquetTableIO
import graft.pivot.SeriesPivot
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import scala.collection.mutable.ArrayBuffer

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear interpolation between closest ranks; 0 for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

/** Single-thread codec kernels on segments cut from the workload's input. */
object Kernels {
  private def usPerTurn(turns: Long)(f: () => Long): Double = {
    var sink = 0L
    val warm = System.nanoTime() + 300000000L
    while (System.nanoTime() < warm) sink += f()
    var reps = 0
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < 500000000L) { sink += f(); reps += 1 }
    val us = (System.nanoTime() - t0) / 1e3 / (reps.toLong * turns)
    if (sink == 42) System.err.println("") // keeps the results live
    us
  }

  def run(spark: SparkSession, input: String): Map[String, Double] = {
    import spark.implicits._
    // every 8th conversation, pivoted exactly as the job pivots
    val sample = spark.read.parquet(input)
      .filter(pmod(xxhash64(col("conv_id")), lit(8)) === 0)
      .select("conv_id", "turn_idx", "role", "text", "tool", "ts").as[Turn]
    val cfg = RollupConfig(inputPath = input, outputRoot = "")
    val segs: Array[Segment] = SeriesPivot.segmentsSorted(sample, Tier.Day, cfg).collect()
    val turns = segs.map(_.n.toLong).sum
    val raw = segs.map { s =>
      (Gorilla.decodeTimestamps(s.tsBlob), Gorilla.decodeTimestamps(s.idxBlob),
        Gorilla.decodeStrings(s.roleBlob), Gorilla.decodeStrings(s.toolBlob),
        Gorilla.decodeTexts(s.textBlob).map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    }
    val t = usPerTurn(turns) _
    Map(
      "codec.encode_us_per_turn" -> t(() => raw.map { case (ts, idx, role, tool, text) =>
        Gorilla.encodeTimestamps(ts).length + Gorilla.encodeTimestamps(idx).length +
          Gorilla.encodeStrings(role).length + Gorilla.encodeStrings(tool).length +
          Gorilla.encodeTextBytes(text, cfg.deflateLevel).length.toLong
      }.sum),
      "codec.text_len_us_per_turn" -> t(() =>
        segs.map(s => Gorilla.decodeTextPointCounts(s.textBlob).length.toLong).sum),
      "codec.decode_text_us_per_turn" -> t(() =>
        segs.map(s => Gorilla.decodeTexts(s.textBlob).length.toLong).sum),
      "codec.decode_meta_us_per_turn" -> t(() => segs.map { s =>
        Gorilla.decodeTimestamps(s.tsBlob).length + Gorilla.decodeTimestamps(s.idxBlob).length +
          Gorilla.decodeStrings(s.roleBlob).length + Gorilla.decodeStrings(s.toolBlob).length.toLong
      }.sum))
  }
}

/** Benchmark process for one workload run:
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *      [--spans <file>]
  * }}}
  * Prints `PERFBENCH_RESULT <json>` with every measured metric by name.
  */
object Main {
  /** Measured units per run at least, even past the deadline. */
  val MinUnits = 2
  val Cores = 4

  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      // one shuffle partition per core: at these input sizes more partitions
      // only add per-task overhead to every stage and every written file
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "8388608")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop-tmp")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = a("work")
    require(Workload.Names.contains(workload), s"unknown workload: $workload")

    val tSession = System.nanoTime()
    val spark = session(work)
    val sessionS = secondsSince(tSession)
    val ctx = new Ctx(spark, work, seed)
    val w = Workload(workload, ctx)
    // one set-up per run: the run budget of the benchmark leaves no room
    // for a second (see NOTES.md)
    val tSetup = System.nanoTime()
    w.setup()
    val inputS = secondsSince(tSetup)
    val tWarm = System.nanoTime()
    w.warmup()
    val warmS = secondsSince(tWarm)
    System.err.println(f"[perfbench] session $sessionS%.2f s, input and snapshot " +
      f"$inputS%.2f s, warm-up $warmS%.2f s")

    // ---- measured window: untraced units; with --trace 1 every other unit
    // is traced, so the overhead of tracing is measured in this process ----
    val ops = ArrayBuffer.empty[(Boolean, Op)]
    val unitSecs = ArrayBuffer.empty[(Boolean, Double)]
    val unitRates = ArrayBuffer.empty[Double]
    val heapMb = ArrayBuffer.empty[Double]
    val jobStats = ArrayBuffer.empty[Map[String, Double]]
    val spanLog = ArrayBuffer.empty[(String, Span)]
    var failedUnits = 0
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    while (i < MinUnits * (if (trace) 2 else 1) || System.nanoTime() < deadline) {
      val traced = trace && i % 2 == 1
      w.prepare()
      ctx.heap.reset()
      val tracing = if (traced) Some(new TracingIO(ParquetTableIO, ctx.spans)) else None
      if (traced) { ctx.spans.clear(); spark.sparkContext.addSparkListener(ctx.ledger) }
      val t0 = System.nanoTime()
      val wall0 = System.currentTimeMillis()
      try {
        val got = w.unit(tracing.getOrElse(ParquetTableIO), traced)
        val s = secondsSince(t0)
        ops ++= got.map(traced -> _)
        unitSecs += traced -> s
        if (!traced) {
          unitRates += got.map(_.turns).sum / s
          heapMb += ctx.heap.peakMb
        }
      } catch {
        case e: Exception =>
          failedUnits += 1
          System.err.println(s"[perfbench] unit failed: $e")
      }
      tracing.foreach { io =>
        val wall1 = System.currentTimeMillis()
        ctx.ledger.settle()
        spark.sparkContext.removeSparkListener(ctx.ledger)
        jobStats += unitStats(ctx, io, w, wall0, wall1)
        val jobs = ctx.ledger.jobsIn(wall0, wall1)
          .map(j => Span(s"spark-job ${j.callSite}", "spark", j.startMs, j.endMs))
        spanLog ++= (Span("unit", Thread.currentThread().getName, wall0, wall1) +:
          (ctx.spans.all ++ jobs)).map(s"unit-$i" -> _)
      }
      i += 1
    }

    val tVerify = System.nanoTime()
    val checks = w.verify()
    System.err.println(f"[perfbench] verify ${secondsSince(tVerify)}%.2f s")
    checks.filterNot(_._2).foreach(c => System.err.println(s"[perfbench] CHECK FAILED: ${c._1}"))
    System.err.println(s"[perfbench] ${checks.count(_._2)}/${checks.size} checks passed")
    val failed = failedUnits + ops.count(!_._2.ok) + checks.count(!_._2)
    def opMs(traced: Boolean) = ops.collect { case (`traced`, o) => o.ms }.toSeq

    val metrics: Map[String, Double] =
      if (!trace) Map(
        "setup_s" -> (sessionS + inputS + warmS),
        "op_ms_p50" -> Stats.median(opMs(false)),
        "op_ms_p90" -> Stats.quantile(opMs(false), 0.9),
        "turns_per_s" -> Stats.median(unitRates.toSeq),
        "heap_peak_mb" -> Stats.median(heapMb.toSeq)) ++ w.storage()
      else {
        ctx.spans.clear()
        spark.sparkContext.addSparkListener(ctx.ledger)
        val layers = w.traceMetrics()
        ctx.ledger.settle()
        spark.sparkContext.removeSparkListener(ctx.ledger)
        spanLog ++= ctx.spans.all.map("replay" -> _)
        a.get("spans").foreach(p => writeSpans(p, spanLog.toSeq))
        jobStats.flatMap(_.keys).distinct.map(k =>
          k -> Stats.median(jobStats.flatMap(_.get(k)).toSeq)).toMap ++
          layers ++ Kernels.run(spark, w.kernelInput) +
          ("job.trace_overhead" -> Stats.median(opMs(true)) / Stats.median(opMs(false)))
      }
    System.err.println(s"[perfbench] ${ops.size} ops in ${unitSecs.size} units, " +
      f"unit s: ${unitSecs.map(u => f"${u._2}%.3f${if (u._1) "*" else ""}").mkString(" ")}")
    spark.stop()

    val body = metrics.toSeq.sortBy(_._1).map { case (k, v) =>
      require(!v.isNaN && !v.isInfinite, s"metric $k is $v")
      s""""$k": $v"""
    }.mkString(", ")
    println(s"""PERFBENCH_RESULT {"correct": ${failed == 0}, "attempted": ${ops.size + failedUnits}, "failed": $failed, "metrics": {$body}}""")
  }

  /** One JSON line per span: the unit it belongs to, name, thread, interval. */
  private def writeSpans(path: String, spans: Seq[(String, Span)]): Unit = {
    def q(x: String) = "\"" + x.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val lines = spans.map { case (u, s) =>
      s"{${q("unit")}: ${q(u)}, ${q("span")}: ${q(s.name)}, ${q("thread")}: ${q(s.thread)}, " +
        s"${q("start_ms")}: ${s.startMs}, ${q("end_ms")}: ${s.endMs}}"
    }
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path).getParent)
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Spark-level totals over one traced unit. */
  private def unitStats(ctx: Ctx, io: TracingIO, w: Workload, t0: Long, t1: Long): Map[String, Double] = {
    val l = ctx.ledger
    val tasks = l.tasksIn(t0, t1)
    val wall = (t1 - t0) / 1e3
    Map(
      "job.spark_jobs" -> l.jobsIn(t0, t1).size.toDouble,
      "job.no_job_s" -> l.noJobSeconds(t0, t1),
      "job.slot_idle_ratio" -> (1 - Ledger.sum(tasks)(_.durMs) / 1e3 / (wall * Cores)),
      "job.task_cpu_s" -> Ledger.sum(tasks)(_.cpuNs) / 1e9,
      "job.gc_s" -> Ledger.sum(tasks)(_.gcMs) / 1e3,
      "job.shuffle_bytes" -> Ledger.sum(tasks)(_.shuffleWriteBytes).toDouble,
      "io.write_calls" -> io.writeCalls.toDouble,
      "io.files_written" -> Files.filesNewerThan(w.outRoot, t0).toDouble)
  }
}
