package graft.ckpt

import graft.io.TableIO
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-partition lineage + metrics + resume (SURVEY.md §2.1 S3, §7.4.4;
  * north_rule "checkpoint per-partition progress with lineage + metrics ...
  * so failed runs resume without recompute").
  *
  * The lineage table is the analog of the reference's output-inspection
  * pass (`reshaper.py :: Slice2SeriesReshaper._inspect_output_files`,
  * wmode dispatch): a partition `(tier, pday)` is the unit of commit.
  * Commit order is replay-safe: data partitions are written FIRST (dynamic
  * partition overwrite = idempotent), the lineage row is appended AFTER —
  * a crash between the two re-runs that partition, it never records
  * uncommitted data.
  *
  * The job reads the committed set ONCE per run into driver memory
  * ([[committedSet]]) and filters planned output against it with plain
  * `pday IN (...)` predicates; lineage row counts are collected on the
  * driver by the actions that materialize the job's caches, so a commit
  * ([[commitRows]]) is one small append of already-local rows. Lineage is
  * never pruned, so the committed set holds at most tiers × pdays ever
  * committed — a few thousand pairs for years of daily partitions.
  *
  * Write modes (CLI parity with `s2srun -m {w,s,o,a}`):
  *   w  error if the output table already exists
  *   s  skip partitions already committed in lineage, write the rest
  *   o  overwrite the partitions produced by this run
  *   a  append-only: process only input newer than the committed high-water
  *      mark per tier
  */
object Checkpoint {
  val LineageDir = "_lineage"
  val MetricsDir = "_metrics"

  case class LineageRow(run_id: String, tier: String, pday: String,
      rows: Long, committed_at: java.sql.Timestamp, input_fingerprint: String)

  def lineage(spark: SparkSession, io: TableIO, root: String): Option[DataFrame] = {
    val path = s"$root/$LineageDir"
    if (io.exists(spark, path)) Some(io.read(spark, path)) else None
  }

  /** Partitions (tier, pday) already committed, as a relation. */
  def committed(spark: SparkSession, io: TableIO, root: String): DataFrame =
    lineage(spark, io, root) match {
      case Some(df) => df.select("tier", "pday").distinct()
      case None =>
        import spark.implicits._
        Seq.empty[(String, String)].toDF("tier", "pday")
    }

  /** Partitions (tier, pday) already committed, collected to the driver —
    * one lineage read per run; bounded by tiers × pdays ever committed.
    */
  def committedSet(spark: SparkSession, io: TableIO, root: String): Set[(String, String)] = {
    import spark.implicits._
    committed(spark, io, root).as[(String, String)].collect().toSet
  }

  /** Committed high-water mark (max pday) per tier — for wmode 'a'. */
  def highWater(committed: Set[(String, String)]): Map[String, String] =
    committed.groupMapReduce(_._1)(_._2)((a, b) => if (a >= b) a else b)

  /** Append one lineage row per `(tier, pday, rows)` — already-local rows,
    * written as a single file with no upstream recompute. Called AFTER the
    * data write succeeds. Returns the total committed row count.
    */
  def commitRows(spark: SparkSession, io: TableIO, root: String, runId: String,
      counts: Seq[(String, String, Long)], fingerprint: String): Long = {
    import spark.implicits._
    val at = java.sql.Timestamp.from(java.time.Instant.now())
    val rows = counts.map { case (tier, pday, n) =>
      LineageRow(runId, tier, pday, n, at, fingerprint)
    }
    // control-plane table: single file per commit, not one per shuffle task
    io.write(rows.toDF().coalesce(1), s"$root/$LineageDir", Seq.empty, "append")
    counts.map(_._3).sum
  }

  /** Record commits for the partitions present in `written` (must carry
    * tier + pday columns): counts rows per partition, then [[commitRows]].
    */
  def commit(spark: SparkSession, io: TableIO, root: String, runId: String,
      written: DataFrame, fingerprint: String): Long =
    commitCounts(spark, io, root, runId,
      written.groupBy("tier", "pday").agg(count(lit(1)).as("rows")), fingerprint)

  /** Like [[commit]], but the caller supplies the per-(tier, pday) row
    * counts (columns tier, pday, rows): collects them, then [[commitRows]].
    */
  def commitCounts(spark: SparkSession, io: TableIO, root: String, runId: String,
      counts: DataFrame, fingerprint: String): Long = {
    import spark.implicits._
    commitRows(spark, io, root, runId,
      counts.select(col("tier"), col("pday"), col("rows").cast("long"))
        .as[(String, String, Long)].collect().toSeq,
      fingerprint)
  }

  /** Append one metrics row per (phase, metric). The engine analog of the
    * reference's diagnostics reduce (`reshaper.py :: print_diagnostics`
    * summing byte counts / maxing timers over MPI ranks) — Spark already
    * aggregates task metrics to the driver; we persist them.
    */
  def recordMetrics(spark: SparkSession, io: TableIO, root: String, runId: String,
      phase: String, metrics: Map[String, Double]): Unit = {
    import spark.implicits._
    val df = metrics.toSeq.toDF("metric", "value")
      .withColumn("run_id", lit(runId))
      .withColumn("phase", lit(phase))
      .withColumn("at", current_timestamp())
    io.write(df.coalesce(1), s"$root/$MetricsDir", Seq.empty, "append")
  }
}
