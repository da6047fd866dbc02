package graft

import graft.ckpt.Checkpoint
import graft.io.{ParquetTableIO, TableIO}
import graft.pivot.SeriesPivot
import graft.retain.Retention
import graft.rollup.Rollups
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end job orchestration — the analog of the reference's
  * `s2srun` → `create_reshaper` → `convert` → `print_diagnostics` lifecycle
  * (SURVEY.md §3 E1), run via `spark-submit --class graft.RollupMain`.
  *
  * Per run: read transcript turns → compressed per-series segments (the
  * pivot) → tier rollup cascade 1m→1h→1d → per-partition lineage commits →
  * retention pass → metrics. Resumable per write mode (Checkpoint).
  */
object RollupJob {

  case class TierReport(tier: String, written: Long, skipped: Long)
  case class RunReport(runId: String, inputRows: Long,
      tiers: Seq[TierReport], segmentsWritten: Long,
      retention: Map[String, String])

  private def pdayCol = date_format(timestamp_seconds(col("bucket")), "yyyy-MM-dd")

  private def timed[T](phase: String)(f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"[rollup] $phase: $sec%.1f s")
    (r, sec)
  }

  /** wmode-'a' input predicate: `ts >= start of the day after minHw`
    * (pdays are UTC day strings). A plain `>=` on the ts column against a
    * timestamp literal so the scan can prune on min/max stats and partition
    * transforms (pushdown asserted by PlanAuditSpec).
    */
  private[graft] def appendPredicate(
      tsType: org.apache.spark.sql.types.DataType, minHw: String)
      : org.apache.spark.sql.Column = {
    val nextDay = java.time.LocalDate.parse(minHw).plusDays(1)
    val bound = tsType match {
      case org.apache.spark.sql.types.TimestampNTZType =>
        lit(nextDay.atStartOfDay()) // wall-clock literal for NTZ tables
      case _ =>
        lit(java.sql.Timestamp.from(
          nextDay.atStartOfDay(java.time.ZoneOffset.UTC).toInstant))
    }
    col("ts") >= bound
  }

  /** Run the full pipeline. `asOfSec` drives retention (None = max input
    * bucket, deterministic — never wall-clock).
    */
  def run(spark: SparkSession, cfg: RollupConfig,
      io: TableIO = ParquetTableIO, asOfSec: Option[Long] = None): RunReport = {
    import spark.implicits._
    // CORRECTNESS PIN: Rollups.pointsStreamed relies on the cube's cached
    // (conv_id, bucket) hash partitioning surviving into the points fold;
    // with canChangeCachedPlanOutputPartitioning=true AQE may re-plan the
    // cached cube's output partitioning and silently break the per-key
    // co-partitioning precondition (one point per key-run, not per key).
    // The job owns its session's planning semantics, so pin it here rather
    // than trusting spark-defaults.
    spark.conf.set(
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "false")
    // CORRECTNESS PIN: pdays are UTC day strings by contract, but
    // date_format renders in the session time zone — and the wmode-'a'
    // high-water predicate compares ts against UTC day boundaries. In a
    // non-UTC session the two would disagree and an append run could
    // silently prune rows whose pday is not yet committed. Pin the zone so
    // every caller gets the contract, not just the spark-submit main.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    val pointsPath = s"${cfg.outputRoot}/points"
    val segmentsPath = s"${cfg.outputRoot}/segments"

    // ---- wmode 'w': error-if-exists (reshaper _inspect_output_files) ----
    if (cfg.writeMode == "w" && io.exists(spark, pointsPath))
      sys.error(s"output $pointsPath exists and write mode is 'w'")

    // include-list validation up-front (P2: error on unknown metric names,
    // like Specifier.time_series erroring on absent variables)
    cfg.metricsInclude.foreach { ms =>
      val unknown = ms.filterNot(RollupConfig.AllMetrics.contains)
      require(unknown.isEmpty,
        s"unknown metrics ${unknown.mkString(",")}; valid: ${RollupConfig.AllMetrics.mkString(",")}")
    }

    // S2 input inspection: fail fast on schema drift before any shuffle
    val inputDf = io.read(spark, cfg.inputPath)
    graft.io.Validate.transcriptSchema(inputDf)
    val turnsRead = inputDf
      .select("conv_id", "turn_idx", "role", "text", "tool", "ts").as[Turn]

    // debug output limit (X3): first N conversations in conv_id order
    val turnsAll = cfg.outputLimit match {
      case Some(n) =>
        val keep = turnsRead.select("conv_id").distinct()
          .orderBy("conv_id").limit(n)
        turnsRead.join(broadcast(keep), Seq("conv_id"), "left_semi").as[Turn]
      case None => turnsRead
    }

    // committed (tier, pday) partitions, read ONCE per run into a driver
    // set (bounded by tiers × pdays ever committed — lineage is never
    // pruned): planned output is filtered with `pday IN (...)` predicates
    // and wmode 'a' takes its high-water mark from the same read
    val resume = cfg.writeMode == "s" || cfg.writeMode == "a"
    val committed =
      if (resume) Checkpoint.committedSet(spark, io, cfg.outputRoot)
      else Set.empty[(String, String)]
    def pending(df: DataFrame, tier: String): DataFrame = {
      val done = committed.collect { case (`tier`, d) => d }.toSeq.sorted
      if (done.isEmpty) df else df.filter(!col("pday").isin(done: _*))
    }

    // ---- wmode 'a': prune input below the committed high-water mark.
    // The predicate compares ts DIRECTLY against a timestamp literal (start
    // of the day after the high-water pday, UTC — pdays are UTC day strings)
    // so parquet/Iceberg can prune row groups on ts min/max stats and
    // partition transforms; a date_format(ts) string comparison would force
    // a full rescan of the raw table on every append run (PlanAuditSpec
    // asserts the pushdown).
    val turns = if (cfg.writeMode == "a") {
      Checkpoint.highWater(committed).values.minOption match {
        case Some(minHw) =>
          turnsAll.filter(appendPredicate(inputDf.schema("ts").dataType, minHw))
        case None => turnsAll
      }
    } else turnsAll

    val fingerprint = s"${cfg.inputPath}@${cfg.runId}"
    val sorted = cfg.tiers.sortBy(_.bucketSec)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration

    // Everything the job caches or runs off the main thread is tracked so a
    // failure anywhere leaves no pinned relation and no write still in
    // flight after run() returns (see the finally below).
    val cached = scala.collection.mutable.ArrayBuffer.empty[Dataset[_]]
    var writeChain: Future[Any] = Future.unit
    var statsF: Future[(Long, Option[Long])] = Future.successful((0L, None))
    try {
      // ---- segments (the pivot) at the coarsest tier: long segments amortize
      // per-segment encode cost; memory stays bounded via maxPointsPerSegment.
      // The sort-based streaming pivot is the default physical strategy; the
      // salted two-phase variant (SeriesPivot.segmentsSalted) is the explicit
      // skew escape hatch and produces identical segments (tested).
      val segTier = sorted.last
      // the segments are the job's ONLY full read of the raw table: the rollup
      // cube below decodes them (≈2% of raw bytes) instead of rescanning raw
      val segsTyped = SeriesPivot.segmentsSorted(turns, segTier, cfg)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      cached += segsTyped
      val segs = segsTyped.toDF().withColumn("pday", pdayCol)
      val segsToWrite = pending(segs, s"seg-${segTier.name}")
      // ≤ writeSaltBuckets files per (tier, pday) partition: without any
      // repartition every shuffle task writes into every pday dir → files =
      // partitions × days, and each dynamic-overwrite write pays a full table
      // listing; with UNSALTED pday partitioning a hot day (one pday holding
      // most of the data) serializes into a single parquet-writing task — the
      // write-side analog of north_rule's hot-conversation skew. The salt
      // bounds both: listing stays O(days × salt), the straggler shrinks by
      // the salt factor. numPartitions is PINNED (REPARTITION_BY_NUM) so AQE
      // can't coalesce write parallelism away on small data.
      val writeParts = spark.sessionState.conf.numShufflePartitions
      val writeSalt =
        pmod(xxhash64(col("conv_id")), lit(math.max(1, cfg.writeSaltBuckets)))
      // ---- overlap discipline (the N→4N fixed-tail shave): table WRITES run
      // in ONE serialized async chain — never two io.write in flight, so the
      // session-level dynamic-partition-overwrite conf can't race and replay
      // ordering (data partitions first, lineage append after) is preserved
      // per table — while the MAIN thread materializes the next stage's cube
      // into the cache. Every cube/fold compute overlaps the previous write's
      // commit + listing tail instead of waiting behind it. The chain runs
      // only data writes and small appends of lineage rows the main thread
      // already collected: the action that materializes each cache also
      // yields that stage's per-pday lineage counts.
      val (segLineage, _) = timed("segments pivot (materialize)")(
        segsToWrite.groupBy("tier", "pday").agg(count(lit(1)))
          .as[(String, String, Long)].collect().toSeq
          .map { case (t, d, n) => (s"seg-$t", d, n) })
      writeChain = Future {
        timed("segments write")(
          io.write(segsToWrite.repartition(writeParts, col("pday"), writeSalt),
            segmentsPath, Seq("tier", "pday"), "overwrite"))
        Checkpoint.commitRows(spark, io, cfg.outputRoot, cfg.runId, segLineage,
          fingerprint)
      }
      val segsWrittenF = writeChain.asInstanceOf[Future[Long]]

      // run stats (inputRows + max event time for retention) from the CACHED
      // segments in ONE fused pass, never the raw table — keeps the job
      // strictly single-raw-scan under every write mode. Submitted as a
      // CONCURRENT Spark job (reads only the hot cache), awaited before
      // retention.
      statsF = Future {
        segsTyped
          .map(s => (s.n.toLong,
            Math.floorDiv(graft.codec.Gorilla.decodeTimestamps(s.tsBlob).max, 1000000L)))
          .toDF("n", "t")
          .agg(coalesce(sum("n"), lit(0)).cast("long"), max("t"))
          .as[(Long, Option[Long])].head()
      }

      // ---- rollup cascade: finest cube decoded from the cached segments,
      // coarser tiers from the finer cube — raw data is never rescanned.
      // Each cube is materialized HERE, on the main thread (overlapping the
      // in-flight write), so the forked write and the next tier never race
      // to compute a cold cache twice.
      var finerCube: DataFrame = null
      val reportFs = sorted.map { tier =>
        val cube =
          if (finerCube == null) Rollups.cubeFromSegments(segsTyped, tier)
          else Rollups.cascadeCube(finerCube, tier)
        cube.persist()
        cached += cube
        finerCube = cube
        // the materializing action IS the lineage count: points-per-pday ==
        // distinct (conv_id, bucket) per pday of this tier's cube (the points
        // fold groups by exactly that key). The cube is already
        // hash-partitioned on that key, so the distinct adds no exchange.
        val (lineageRows, _) = timed(s"cube ${tier.name} materialize")(
          pending(cube.select("conv_id", "bucket").distinct()
            .withColumn("pday", pdayCol), tier.name)
            .groupBy("pday").agg(count(lit(1)))
            .as[(String, Long)].collect().toSeq
            .map { case (d, n) => (tier.name, d, n) })
        val skipped = committed.count(_._1 == tier.name).toLong
        // streamed fold: cube is (conv_id, bucket)-partitioned, so this is
        // sort-within-partitions + one typed pass, zero exchanges
        val points0 = Rollups.pointsStreamed(cube, tier.name)
          .withColumn("pday", pdayCol)
        val points = cfg.metricsInclude match {
          case Some(ms) =>
            val drop = Seq(
              "turns" -> Seq("turns"), "byRole" -> Seq("byRole"),
              "byTool" -> Seq("byTool"),
              "textLen" -> Seq("textLenSum", "textLenMin", "textLenMax"))
              .filterNot { case (m, _) => ms.contains(m) }.flatMap(_._2)
            points0.drop(drop: _*)
          case None => points0
        }
        val toWrite = pending(points, tier.name)
        // single fused pass: fold → pinned repartition → parquet. The points
        // are NOT cached, so the 1m tier's millions of map-typed rows are
        // materialized exactly once, inside the write job. Chained behind the
        // previous write; a failed write propagates and skips every later one
        // (serial semantics).
        val f = writeChain.map { _ =>
          timed(s"points ${tier.name} write")(
            io.write(toWrite.repartition(writeParts, col("pday"), writeSalt),
              pointsPath, Seq("tier", "pday"), "overwrite"))
          val written = Checkpoint.commitRows(spark, io, cfg.outputRoot,
            cfg.runId, lineageRows, fingerprint)
          TierReport(tier.name, written, skipped)
        }
        writeChain = f
        f
      }

      // ---- dimension table (O3, the `once`-file analog): conversation-level
      // attributes written once per run, derived from the coarsest cube (no
      // extra scan of raw data); broadcast-join side for downstream queries.
      // The `once` analog requires one TABLE per run, not one file: at
      // 10^8–10^9 conversations a coalesce(1) would funnel the whole table
      // through a single task (and cap the upstream aggregate's output
      // parallelism), so this is a pinned multi-task write like the
      // points/segments writes. Submitted concurrently — the coarsest cube is
      // cached and the retention pass below is independent of dims.
      val dims = finerCube.groupBy("conv_id").agg(
        sum("c").as("turns_total"),
        sum("lenSum").as("text_len_total"),
        min("bucket").as("first_bucket"),
        max("bucket").as("last_bucket"))
      val dimsF = writeChain.map { _ =>
        io.write(dims.repartition(writeParts),
          s"${cfg.outputRoot}/dims", Seq.empty, "overwrite")
      }
      writeChain = dimsF

      // ---- retention: after every points/segments write has landed (the
      // dims write may still be in flight — different table, no conf overlap)
      val reports = reportFs.map(Await.result(_, Duration.Inf))
      val segsWritten = Await.result(segsWrittenF, Duration.Inf)
      val (inputRows, maxTsSec) = Await.result(statsF, Duration.Inf)
      val asOf = asOfSec.orElse(maxTsSec).getOrElse(0L)
      val retained = Retention(spark, io, pointsPath, cfg.tiers, asOf)
      // segments follow the COARSEST tier's retention (the safe policy:
      // segments are the decode source for every re-aggregation)
      Retention(spark, io, segmentsPath, Seq(segTier), asOf)
      Await.result(dimsF, Duration.Inf)
      Checkpoint.recordMetrics(spark, io, cfg.outputRoot, cfg.runId, "run",
        Map("input_rows" -> inputRows.toDouble,
          "segments_written" -> segsWritten.toDouble) ++
          reports.map(r => s"points_${r.tier}" -> r.written.toDouble))
      RunReport(cfg.runId, inputRows, reports, segsWritten, retained)
    } finally {
      // settle (never rethrow: the main thread's error wins) every forked
      // job before releasing the caches they read; each chain link waits on
      // the previous one, so the last link settles the whole chain
      Seq(writeChain, statsF).foreach(Await.ready(_, Duration.Inf))
      cached.foreach(_.unpersist())
    }
  }

  /** Run several configs in one session with combined accounting — the
    * analog of `reshaper.py :: MultiSpecReshaper.convert/print_diagnostics`
    * (O2): one SparkSession, sequential datasets, one summary.
    */
  def runAll(spark: SparkSession, cfgs: Seq[RollupConfig],
      io: TableIO = ParquetTableIO): Seq[RunReport] = {
    val reports = cfgs.map(c => run(spark, c, io))
    val total = reports.map(_.inputRows).sum
    println(s"[rollup] multi-run: ${reports.size} datasets, $total total input rows")
    reports
  }
}

/** spark-submit entry point:
  * {{{
  * spark-submit --class graft.RollupMain app.jar \
  *   <inputPath> <outputRoot> [writeMode=o] [runId=run-0]
  * }}}
  */
object RollupMain {
  def main(args: Array[String]): Unit = {
    val input = args(0)
    val output = args(1)
    val mode = if (args.length > 2) args(2) else "o"
    val runId = if (args.length > 3) args(3) else "run-0"
    val builder = SparkSession.builder()
      .appName("graft-rollup")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // see the pin in RollupJob.run — required by the streamed points fold
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "false")
      // shuffle-codec knob (see BenchScaling note); default lz4
      .config("spark.io.compression.codec",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_CODEC", "lz4"))
    // under spark-submit the master comes from --master (spark.master prop);
    // standalone runs fall back to local mode
    if (!sys.props.contains("spark.master")) {
      val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
      // 4x cores: per-partition encode cost varies with text bytes, so
      // tasks==cores leaves cores idle behind stragglers
      val shuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", (cpus.toInt * 4).toString)
      builder.master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.files.maxPartitionBytes", "8388608")
        .config("spark.ui.enabled", "false")
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val report = RollupJob.run(spark,
      RollupConfig(inputPath = input, outputRoot = output,
        writeMode = mode, runId = runId))
    println(report)
    spark.stop()
  }
}
