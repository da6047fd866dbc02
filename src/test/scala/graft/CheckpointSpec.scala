package graft

import graft.ckpt.Checkpoint
import graft.gen.Synth
import graft.io.ParquetTableIO
import java.nio.file.Files

/** Lineage commit protocol: write order of the job's serialized chain, and
  * the DataFrame commit adapters against the driver-side commit.
  */
class CheckpointSpec extends SparkSpec {
  import spark.implicits._

  private lazy val tmp = Files.createTempDirectory("graft-ckpt").toString

  test("wmode 'o' writes data then lineage per stage, one write at a time") {
    val input = s"$tmp/input"
    Synth.tiny(spark).write.parquet(input)
    // every write as (table, start|end)
    val log = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]
    val io = new InterceptingIO((path, perform) => {
      val table = new org.apache.hadoop.fs.Path(path).getName
      log.add(table -> "start")
      perform()
      log.add(table -> "end")
    })
    RollupJob.run(spark, RollupConfig(input, s"$tmp/order", runId = "r"), io)
    val events = log.toArray(Array.empty[(String, String)]).toSeq
    // never two writes in flight: every start is followed by its own end
    events.grouped(2).foreach { pair =>
      assert(pair.map(_._2) == Seq("start", "end") && pair(0)._1 == pair(1)._1,
        s"overlapping writes: $events")
    }
    val tables = events.collect { case (t, "start") => t }
    assert(tables == Seq("segments", "_lineage") ++
      Seq.fill(3)(Seq("points", "_lineage")).flatten ++ Seq("dims", "_metrics"),
      s"write order: $tables")
  }

  private def lineageRows(root: String): Seq[(String, String, String, Long, String)] =
    ParquetTableIO.read(spark, s"$root/${Checkpoint.LineageDir}")
      .select("run_id", "tier", "pday", "rows", "input_fingerprint")
      .as[(String, String, String, Long, String)].collect().toSeq.sorted

  test("commitCounts / commit adapters write what the driver-side commit writes") {
    val io = ParquetTableIO
    val counts = Seq(("1m", "2023-11-14", 5L), ("1m", "2023-11-15", 2L),
      ("1h", "2023-11-14", 3L))
    Seq("full" -> counts, "empty" -> Seq.empty).foreach { case (name, cs) =>
      val viaRows = s"$tmp/rows-$name"
      val viaCounts = s"$tmp/counts-$name"
      val viaCommit = s"$tmp/commit-$name"
      val tRows = Checkpoint.commitRows(spark, io, viaRows, "r", cs, "fp")
      val tCounts = Checkpoint.commitCounts(spark, io, viaCounts, "r",
        cs.toDF("tier", "pday", "rows"), "fp")
      // commit counts the rows of `written` per (tier, pday)
      val written = cs.flatMap { case (t, d, n) => Seq.fill(n.toInt)((t, d)) }
      val tCommit = Checkpoint.commit(spark, io, viaCommit, "r",
        written.toDF("tier", "pday"), "fp")
      assert(tRows == cs.map(_._3).sum && tCounts == tRows && tCommit == tRows, name)
      val want = lineageRows(viaRows)
      assert(want == cs.map { case (t, d, n) => ("r", t, d, n, "fp") }.sorted, name)
      assert(lineageRows(viaCounts) == want && lineageRows(viaCommit) == want, name)
      val schemas = Seq(viaRows, viaCounts, viaCommit).map { root =>
        ParquetTableIO.read(spark, s"$root/${Checkpoint.LineageDir}")
          .schema.map(f => f.name -> f.dataType)
      }
      assert(schemas.distinct.size == 1, s"$name: $schemas")
    }
  }

  test("high-water mark is the max committed pday per tier") {
    val committed = Set(("1m", "2023-11-14"), ("1m", "2023-11-16"),
      ("1h", "2023-11-15"), ("seg-1d", "2023-11-14"))
    assert(Checkpoint.highWater(committed) ==
      Map("1m" -> "2023-11-16", "1h" -> "2023-11-15", "seg-1d" -> "2023-11-14"))
    assert(Checkpoint.highWater(Set.empty[(String, String)]).isEmpty)
  }
}
