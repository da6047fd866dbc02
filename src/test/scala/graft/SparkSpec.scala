package graft

import graft.io.{ParquetTableIO, TableIO}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for test suites (one per JVM via getOrCreate). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def assertSameRows(a: DataFrame, b: DataFrame, hint: String = ""): Unit = {
    val extra = a.exceptAll(b).count()
    val missing = b.exceptAll(a).count()
    assert(extra == 0 && missing == 0,
      s"$hint: $extra unexpected rows, $missing missing rows")
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Parquet TableIO that passes every write, as `(path, perform)`, to
  * `onWrite` — so a test can record writes, or fail one instead of
  * performing it.
  */
class InterceptingIO(onWrite: (String, () => Unit) => Unit) extends TableIO {
  def read(spark: SparkSession, path: String): DataFrame =
    ParquetTableIO.read(spark, path)
  def exists(spark: SparkSession, path: String): Boolean =
    ParquetTableIO.exists(spark, path)
  def write(df: DataFrame, path: String, partitionCols: Seq[String], mode: String): Unit =
    onWrite(path, () => ParquetTableIO.write(df, path, partitionCols, mode))
  def dropPartitions(spark: SparkSession, path: String, predicate: String): Unit =
    ParquetTableIO.dropPartitions(spark, path, predicate)
}
