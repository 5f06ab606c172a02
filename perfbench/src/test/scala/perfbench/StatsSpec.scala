package perfbench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("percentile interpolates between the closest ranks") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Stats.percentile(xs, 0) == 1.0)
    assert(Stats.percentile(xs, 100) == 4.0)
    assert(Stats.median(xs) == 2.5)
    assert(math.abs(Stats.percentile(xs, 90) - 3.7) < 1e-12)
    assert(Stats.median(Seq(7.0)) == 7.0)
    assertThrows[IllegalArgumentException](Stats.median(Nil))
  }

  test("job-interval union counts overlapping jobs once and clips to the window") {
    assert(Stats.unionLength(Nil, 0, 100) == 0)
    assert(Stats.unionLength(Seq((10L, 20L), (15L, 30L), (40L, 50L)), 0, 100) == 30)
    // nested and touching intervals
    assert(Stats.unionLength(Seq((10L, 50L), (20L, 30L), (50L, 60L)), 0, 100) == 50)
    // clipped at both ends; an interval outside the window adds nothing
    assert(Stats.unionLength(Seq((0L, 20L), (90L, 120L), (200L, 300L)), 10, 100) == 20)
  }

  test("result hash ignores row order and column order but not content") {
    def hash(cols: Seq[String], rows: Seq[Seq[Any]]): String = {
      val order = cols.zipWithIndex.sortBy(_._1).map(_._2)
      Stats.combine(rows.map(r => Stats.rowDigest(order.map(r))).toArray)
    }
    val a = hash(Seq("k", "v"), Seq(Seq(1L, "x"), Seq(2L, null), Seq(2L, null)))
    assert(a == hash(Seq("k", "v"), Seq(Seq(2L, null), Seq(1L, "x"), Seq(2L, null))))
    assert(a == hash(Seq("v", "k"), Seq(Seq("x", 1L), Seq(null, 2L), Seq(null, 2L))))
    // a dropped duplicate, a changed cell or a type change all show
    assert(a != hash(Seq("k", "v"), Seq(Seq(1L, "x"), Seq(2L, null))))
    assert(a != hash(Seq("k", "v"), Seq(Seq(1L, "y"), Seq(2L, null), Seq(2L, null))))
    assert(Stats.cell(1.0) != Stats.cell(1.0f.toDouble + 1e-9))
    // nested values and maps are canonical
    assert(Stats.cell(Map("b" -> 2, "a" -> 1)) == Stats.cell(Map("a" -> 1, "b" -> 2)))
    assert(Stats.cell(Row(Seq(1, 2), null)) == "([1,2],∅)")
    assert(Stats.cell(Array[Byte](1, -1)) == "0x01ff")
  }

  test("call sites map to the innermost engine frame's layer and file") {
    val ingest =
      """org.apache.spark.sql.DataFrameReader.load(DataFrameReader.scala:200)
        |graft.ingest.Ingest$.readWithBinding(Ingest.scala:224)
        |graft.service.ControlPlane.runSerialize(ControlPlane.scala:201)""".stripMargin
    assert(Stats.siteOf(ingest) == ("ingest", "Ingest.scala"))
    val export = "graft.ingest.BatchExport.epochRows$lzycompute(BatchExport.scala:90)\n" +
      "graft.service.ControlPlane.runTrainingHandOff(ControlPlane.scala:380)"
    assert(Stats.siteOf(export) == ("ingest", "BatchExport.scala"))
    val sink = "graft.catalog.Tables$.save(Tables.scala:300)\nperfbench.Main$.run(Main.scala:1)"
    assert(Stats.siteOf(sink) == ("catalog", "Tables.scala"))
    assert(Stats.siteOf("graft.SparkEntry$.prepare(SparkEntry.scala:44)") ==
      ("graft", "SparkEntry.scala"))
    val noop = "perfbench.QueryWorkload$.runOnce(QueryWorkload.scala:50)\n" +
      "graft.queries.Relational$.x(Relational.scala:1)"
    assert(Stats.siteOf(noop) == ("perfbench", "QueryWorkload.scala"))
    assert(Stats.siteOf("") == ("spark", ""))
    assert(Stats.siteOf(null) == ("spark", ""))
  }
}
