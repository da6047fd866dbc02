package graft.perfbench

import graft.io.TableIO
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer

/** A timed interval recorded around one call into a layer. */
case class Span(name: String, thread: String, startMs: Long, endMs: Long) {
  def seconds: Double = (endMs - startMs) / 1e3
}

/** Spans kept in memory and written out when the run ends. */
final class Spans {
  private val buf = ArrayBuffer.empty[Span]

  def apply[T](name: String)(f: => T): T = {
    val t0 = System.currentTimeMillis()
    try f
    finally {
      val s = Span(name, Thread.currentThread().getName, t0, System.currentTimeMillis())
      buf.synchronized(buf += s)
    }
  }

  def all: Seq[Span] = buf.synchronized(buf.toList)
  def named(prefix: String): Seq[Span] = all.filter(_.name.startsWith(prefix))
  def total(prefix: String): Double = named(prefix).map(_.seconds).sum
  def clear(): Unit = buf.synchronized(buf.clear())
}

/** Task metrics of one finished Spark task, with its wall-clock interval. */
case class TaskRec(launchMs: Long, finishMs: Long, cpuNs: Long, gcMs: Long,
    shuffleWriteBytes: Long, spillBytes: Long, inputBytes: Long) {
  def durMs: Long = finishMs - launchMs
}

case class JobRec(id: Int, callSite: String, startMs: Long, var endMs: Long = -1L)

/** Collects every job and task of the session. Attribution is by time:
  * the benchmark has a single client, so the jobs and tasks that start
  * inside a span belong to it.
  */
final class Ledger extends SparkListener {
  private val jobs = ArrayBuffer.empty[JobRec]
  private val tasks = ArrayBuffer.empty[TaskRec]
  @volatile private var lastEventMs = System.currentTimeMillis()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // the job's last stage carries the action's call site as its name
    val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
    jobs += JobRec(e.jobId, site, e.time); lastEventMs = System.currentTimeMillis()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
    lastEventMs = System.currentTimeMillis()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += TaskRec(e.taskInfo.launchTime, e.taskInfo.finishTime,
      m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
      m.diskBytesSpilled, m.inputMetrics.bytesRead)
    lastEventMs = System.currentTimeMillis()
  }

  /** Wait until every started job has ended and the bus has been quiet. */
  def settle(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    def busy = synchronized(jobs.exists(_.endMs < 0)) ||
      System.currentTimeMillis() - lastEventMs < 100
    while (busy && System.currentTimeMillis() < deadline) Thread.sleep(20)
  }

  def jobsIn(t0: Long, t1: Long): Seq[JobRec] =
    synchronized(jobs.filter(j => j.startMs >= t0 && j.startMs <= t1).toList)
  def tasksIn(t0: Long, t1: Long): Seq[TaskRec] =
    synchronized(tasks.filter(t => t.launchMs >= t0 && t.launchMs <= t1).toList)
  def tasksIn(s: Span): Seq[TaskRec] = tasksIn(s.startMs, s.endMs)

  /** Wall time inside [t0, t1] during which no Spark job was running. */
  def noJobSeconds(t0: Long, t1: Long): Double = {
    val iv = synchronized(jobs.filter(j => j.endMs >= t0 && j.startMs <= t1).toList)
      .map(j => (math.max(j.startMs, t0), math.min(if (j.endMs < 0) t1 else j.endMs, t1)))
      .sortBy(_._1)
    var covered = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    ((t1 - t0) - covered) / 1e3
  }
}

object Ledger {
  def sum(ts: Seq[TaskRec])(f: TaskRec => Long): Long = ts.map(f).sum
  /** Longest task over the median task. */
  def skew(ts: Seq[TaskRec]): Double =
    if (ts.isEmpty) 0.0
    else {
      val d = ts.map(_.durMs.toDouble).sorted
      d.last / math.max(1.0, d(d.size / 2))
    }
}

/** TableIO that records a span around every call and counts what the
  * calls did, then delegates to the real connector.
  */
final class TracingIO(inner: TableIO, spans: Spans) extends TableIO {
  var writeCalls = 0
  var partitionsDropped = 0

  private def kind(path: String): String = path.split('/').last

  override def read(spark: SparkSession, path: String): DataFrame =
    spans(s"io.read.${kind(path)}")(inner.read(spark, path))
  override def exists(spark: SparkSession, path: String): Boolean =
    spans(s"io.exists.${kind(path)}")(inner.exists(spark, path))
  override def write(df: DataFrame, path: String, partitionCols: Seq[String],
      mode: String): Unit = {
    synchronized(writeCalls += 1)
    spans(s"io.write.${kind(path)}")(inner.write(df, path, partitionCols, mode))
  }
  override def dropPartitions(spark: SparkSession, path: String, predicate: String): Unit = {
    val before = Files.partitionDirs(path)
    spans("io.drop")(inner.dropPartitions(spark, path, predicate))
    synchronized(partitionsDropped += before - Files.partitionDirs(path))
  }
}

/** Peak old-generation heap measured right after each collection. */
final class HeapPeak {
  import com.sun.management.GarbageCollectionNotificationInfo
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import scala.jdk.CollectionConverters._

  private def isOld(pool: String) = pool.contains("Old") || pool.contains("Tenured")
  @volatile private var peak = 0L

  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, hb: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        info.getGcInfo.getMemoryUsageAfterGc.asScala.foreach { case (pool, u) =>
          if (isOld(pool) && u.getUsed > peak) peak = u.getUsed
        }
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  /** Full collection, then start a new peak from the live old generation. */
  def reset(): Unit = {
    System.gc()
    peak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => isOld(p.getName)).map(_.getUsage.getUsed).sum
  }
  def peakMb: Double = peak / 1048576.0
}

/** Local-filesystem helpers over the benchmark's work directory. */
object Files {
  import java.io.File

  private def walk(f: File): Iterator[File] =
    if (f.isDirectory) Option(f.listFiles()).iterator.flatten.flatMap(walk)
    else Iterator(f)

  private def isData(f: File) = !f.getName.startsWith(".") && !f.getName.startsWith("_")

  def bytes(path: String): Long = walk(new File(path)).filter(isData).map(_.length).sum
  def filesNewerThan(path: String, ms: Long): Int =
    walk(new File(path)).count(f => isData(f) && f.lastModified >= ms)
  /** Partition directories two levels down (`tier=…/pday=…`). */
  def partitionDirs(path: String): Int =
    Option(new File(path).listFiles()).toSeq.flatten.filter(_.isDirectory)
      .map(d => Option(d.listFiles()).toSeq.flatten.count(_.isDirectory)).sum

  def exists(path: String): Boolean = new File(path).exists()
  def subdirs(path: String): Seq[String] =
    Option(new File(path).listFiles()).toSeq.flatten.filter(_.isDirectory).map(_.getName).sorted

  def delete(path: String): Unit = {
    val f = new File(path)
    if (f.exists()) {
      walkAll(f).toSeq.reverse.foreach(_.delete())
    }
  }
  private def walkAll(f: File): Iterator[File] =
    Iterator(f) ++ (if (f.isDirectory) Option(f.listFiles()).iterator.flatten.flatMap(walkAll) else Iterator.empty)

  def copy(from: String, to: String): Unit = {
    val src = java.nio.file.Paths.get(from)
    val dst = java.nio.file.Paths.get(to)
    val it = java.nio.file.Files.walk(src)
    try it.forEach { p =>
      val q = dst.resolve(src.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(q)
      else if (p.getFileName.toString.startsWith(".")) () // checksum files
      else java.nio.file.Files.copy(p, q)
    } finally it.close()
  }
}
