package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Supplementary measurement harness (guide §1.4/§1.5) — [[Bench]] is the
  * frozen driver contract, so extra instrumentation lives here:
  *
  *  - noop-sink timing (`df.write.format("noop")`) so a query's cost is
  *    the computation of every column, not the `count()` column pruning
  *    or a real sink;
  *  - per-iteration GC-time and JIT-compilation-time deltas
  *    (GarbageCollectorMXBeans / CompilationMXBean) — the session-tax
  *    decomposition VERDICT r5 asked for: wall = compute + GC + JIT;
  *  - job descriptions per query so the UI/event log is readable.
  *
  * `runMain graft.BenchExtra [reps] [query...]` — default 2 reps, all
  * queries. Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS as in [[Bench]].
  * Prints one JSON line per (query, rep):
  * {"q":name,"rep":i,"wall_s":...,"gc_s":...,"jit_s":...,"sink":"noop"}
  */
object BenchExtra {
  private def gcMillis: Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime.max(0L)).sum
  private def jitMillis: Long = {
    val c = java.lang.management.ManagementFactory.getCompilationMXBean
    if (c != null && c.isCompilationTimeMonitoringSupported)
      c.getTotalCompilationTime
    else 0L
  }

  /** `[reps] [query...]` → (reps, queries), or a usage error. A leading
    * integer (or empty) argument is the rep count; every other argument
    * must name a query in [[SparkEntry.queries]].
    */
  private[graft] def parseArgs(args: Seq[String],
      known: Set[String]): Either[String, (Int, Seq[String])] = {
    val (repArg, wanted) = args match {
      case h +: t if h.isEmpty || h.toIntOption.isDefined => (h.toIntOption, t)
      case _ => (None, args)
    }
    val reps = repArg.getOrElse(2)
    val unknown = wanted.filterNot(known.contains)
    if (reps < 1) Left(s"rep count must be positive, got $reps")
    else if (unknown.nonEmpty)
      Left(s"unknown queries: ${unknown.mkString(", ")}; valid: " +
        known.toSeq.sorted.mkString(", "))
    else Right((reps, wanted))
  }

  def main(args: Array[String]): Unit = {
    val (reps, wanted) = parseArgs(args.toSeq, SparkEntry.queries.keySet) match {
      case Right(parsed) => parsed
      case Left(err) =>
        System.err.println(s"BenchExtra: $err")
        sys.exit(2)
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", (cpus.toInt * 4).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "8388608")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("count(xxhash64(id))").collect()
    val names =
      if (wanted.nonEmpty) wanted
      else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      (1 to reps).foreach { i =>
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = true))
        spark.sparkContext.setJobDescription(s"$name #$i (noop)")
        val gc0 = gcMillis; val jit0 = jitMillis
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        println(f"""{"q":"${JsonEsc(name)}","rep":$i,"wall_s":$wall%.3f,""" +
          f""""gc_s":${(gcMillis - gc0) / 1e3}%.3f,""" +
          f""""jit_s":${(jitMillis - jit0) / 1e3}%.3f,"sink":"noop"}""")
        spark.sparkContext.setJobDescription(null)
      }
    }
    spark.stop()
  }
}
