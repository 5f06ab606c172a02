package graft

import org.apache.spark.sql.functions._
import graft.catalog.Tables

/** Storage-layout behaviours that matter at 100 TB: partition pruning on
  * partitioned sinks, and column pruning + filter pushdown on plain ones. */
class StorageSpec extends SparkSpec {
  import spark.implicits._

  test("partitionBy sink + filter reads only the matching partition") {
    val dir = java.nio.file.Files.createTempDirectory("parts").toString
    val df = (1 to 300).map(i => (i.toLong, s"2024-01-${i % 3 + 1}", i * 1.5))
      .toDF("id", "day", "v")
    Tables.save(df, dir, "byday", partitionBy = Seq("day"))

    val read = spark.read.parquet(s"$dir/byday.parquet").filter(col("day") === "2024-01-2")
    assert(read.count() == 100)
    val scan = read.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters") && scan.contains("2024-01-2"),
      s"expected partition pruning in:\n$scan")
  }

  test("dynamic partition pruning: a filtered dim prunes the fact at runtime") {
    // The 100 TB mechanism static pruning can't give: the fact's partition
    // filter only becomes known AFTER the dim side is filtered — DPP
    // injects the dim's qualifying keys as a runtime subquery into the
    // fact scan, so a day-partitioned 100 TB fact joined to "last week's"
    // dim rows reads 7 partitions, not all of them.
    val dir = java.nio.file.Files.createTempDirectory("dpp").toString
    // two trip-wires this test pins: (1) partition-column inference types
    // day_key as INT — a mismatched dim key casts the fact's key and
    // defeats DPP; (2) the dim must be FILE-backed — a local Seq dim
    // constant-folds its Filter into a LocalRelation, and with no Filter
    // node left the rule sees no selective predicate and never fires.
    (1 to 300).map(i => (i.toLong, i % 10, i * 2.0))
      .toDF("id", "day_key", "v")
      .write.partitionBy("day_key").parquet(s"$dir/fact")
    (0 to 9).map(d => (d, if (d < 2) "keep" else "drop"))
      .toDF("day_key", "tag").write.parquet(s"$dir/dim")
    val dim = spark.read.parquet(s"$dir/dim")

    val fact = spark.read.parquet(s"$dir/fact")
    val joined = fact.join(dim.filter(col("tag") === "keep"), Seq("day_key"))
      .agg(sum(col("v")).as("s"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruningexpression"),
      s"expected a runtime DPP filter on the fact scan:\n$plan")
    assert(joined.select(col("s")).as[Double].collect().head ==
      (1 to 300).filter(i => i % 10 < 2).map(_ * 2.0).sum)
  }

  test("widened estimates scan tasks from the file listing, not df.rdd") {
    // file-backed frame: the estimate comes from size+open-cost bin
    // packing over the listing — a single small fixture file plans as one
    // task, so at this sf nothing is widened and the plan is untouched
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val single = Tables.scanTaskEstimate(spark, docs)
    assert(single.exists(_ <= 2L), s"one tiny file should plan as ~1 task, got $single")
    assert(Tables.widened(spark, docs) eq docs) // est*4 >= 4 cores: untouched
    // many files -> estimate grows with the listing
    val dir = java.nio.file.Files.createTempDirectory("manyfiles").toString
    (1L to 400L).toDF("v").repartition(40).write.parquet(s"$dir/t.parquet")
    val est = Tables.scanTaskEstimate(spark, spark.read.parquet(s"$dir/t.parquet"))
    assert(est.exists(_ > 1L), s"expected multi-task estimate, got $est")
    // in-memory frame: no file listing -> no estimate, never widened
    val mem = (1 to 10).toDF("v")
    assert(Tables.scanTaskEstimate(spark, mem).isEmpty)
    assert(Tables.widened(spark, mem) eq mem)
  }

  test("datum export sink: binary column round-trips through parquet") {
    val dir = java.nio.file.Files.createTempDirectory("datums").toString
    val df = Seq((7L, Seq(1.5f, -2.0f), 3), (8L, Seq(0.25f), 1))
      .toDF("vec_id", "embedding", "label")
    val datums = graft.functions.ProtoDatum.numericDatums(
      df, "vec_id", "embedding", Some("label"))
    Tables.save(datums, dir, "datums")
    val back = spark.read.parquet(s"$dir/datums.parquet")
      .orderBy("key").as[(Long, Array[Byte])].collect()
    assert(back.map(_._1).toSeq == Seq(7L, 8L))
    val d7 = graft.functions.ProtoDatum.decode(back(0)._2)
    assert(d7.numeric.get.identifier == "7")
    assert(d7.classs.get.nlabel.contains(3L))
    assert(java.util.Arrays.equals(d7.numeric.get.data,
      graft.functions.ProtoDatum.floatBytes(Seq(1.5f, -2.0f))))
  }

  test("csv/json sinks round-trip through the matching readers") {
    val dir = java.nio.file.Files.createTempDirectory("sinks").toString
    val df = Seq((1L, "a", 2.5), (2L, "b", 3.5)).toDF("id", "s", "v")
    Tables.saveCsv(df, dir, "t")
    Tables.saveJson(df, dir, "t")
    val csvBack = graft.ingest.Ingest.readCsv(spark, s"$dir/t.csv")
      .orderBy("id").as[(Long, String, Double)].collect().toSeq
    val jsonBack = spark.read.json(s"$dir/t.json")
      .select("id", "s", "v").orderBy("id").as[(Long, String, Double)].collect().toSeq
    assert(csvBack == Seq((1L, "a", 2.5), (2L, "b", 3.5)))
    assert(jsonBack == csvBack)
  }

  test("orc sink round-trips with schema intact and pushdown on read") {
    val dir = java.nio.file.Files.createTempDirectory("orc").toString
    val df = Seq((1L, "a", 2.5), (2L, "b", 3.5), (3L, "c", 4.5)).toDF("id", "s", "v")
    Tables.saveOrc(df, dir, "t")
    val back = Tables.loadOrc(spark, dir, "t")
    // nullability widens through file round-trips; names and types must hold
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      df.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    assert(back.orderBy("id").as[(Long, String, Double)].collect().toSeq ==
      Seq((1L, "a", 2.5), (2L, "b", 3.5), (3L, "c", 4.5)))
    // projection + predicate reach the ORC scan like the parquet twin
    val plan = back.filter($"id" > 1L).select("s")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(id), GreaterThan(id,1)]") ||
      plan.contains("GreaterThan(id,1)"), s"filter not pushed to ORC scan:\n$plan")
    // the scan needs id (filter) + s (projection) but must drop v
    assert(plan.contains("ReadSchema: struct<id:bigint,s:string>"),
      s"projection not pruned at the ORC scan:\n$plan")
  }

  test("schema evolution: mergeSchema unifies widened ingest batches") {
    // a 100 TB feed's schema drifts; old batches must stay readable next
    // to widened ones — new columns read as null for history, no rewrite
    val root = java.nio.file.Files.createTempDirectory("evolve").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "name")
      .write.parquet(s"$root/batch1")
    Seq((3L, "c", 0.9)).toDF("id", "name", "score")
      .write.parquet(s"$root/batch2")
    val df = spark.read.option("mergeSchema", "true")
      .parquet(s"$root/batch1", s"$root/batch2")
    assert(df.columns.sorted.toSeq == Seq("id", "name", "score"))
    assert(df.count() == 3 && df.filter(col("score").isNull).count() == 2)
  }

  test("projection + predicate reach the parquet scan (pushdown, pruning)") {
    val dir = java.nio.file.Files.createTempDirectory("push").toString
    (1 to 100).map(i => (i.toLong, s"n$i", i * 2.0, s"pad$i"))
      .toDF("id", "name", "v", "pad").write.parquet(s"$dir/t.parquet")
    val q = spark.read.parquet(s"$dir/t.parquet")
      .filter(col("id") > 50).select("id", "v")
    val scan = q.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("GreaterThan(id,50)"), s"pushed filter missing:\n$scan")
    assert(scan.contains("ReadSchema: struct<id:bigint,v:double>"),
      s"column pruning missing:\n$scan")
  }

  test("sink preflight (W2): real-codec estimate, loud refusal, safe edge cases") {
    val dir = java.nio.file.Files.createTempDirectory("preflight").toString
    val df = (1 to 500).map(i => (i.toLong, s"row-$i-payload", i * 1.5))
      .toDF("id", "s", "v")

    // estimate from a real parquet sample: positive bytes/row, linear
    // extrapolation, sample dir cleaned up
    val e = Tables.preflightSink(df, dir, sampleRows = 100)
    assert(e.rows == 500 && e.sampledRows == 100)
    assert(e.bytesPerRow > 0 && e.estBytes == math.ceil(e.bytesPerRow * 500).toLong)
    assert(e.requiredBytes >= e.estBytes)
    assert(!new java.io.File(dir).listFiles().exists(_.getName.startsWith(".preflight-")),
      "sample dir leaked")
    assert(e.fits) // a temp dir on this host fits half a kilobyte-scale sink

    // loud refusal when the volume cannot hold the write
    val err = intercept[IllegalStateException] {
      Tables.requireSinkFits(df, dir, usableBytesOverride = Some(10L))
    }
    assert(err.getMessage.contains("preflight") && err.getMessage.contains("usable"))

    // rowsHint skips the count but drives the same arithmetic
    val hinted = Tables.preflightSink(df, dir, sampleRows = 100, rowsHint = Some(1000000L))
    assert(hinted.rows == 1000000L && hinted.estBytes > e.estBytes)

    // zero-row sink: nothing to write always fits
    val empty = Tables.preflightSink(df.limit(0), dir)
    assert(empty.rows == 0 && empty.estBytes == 0 && empty.fits)

    // domain guards
    intercept[IllegalArgumentException] { Tables.preflightSink(df, dir, sampleRows = 0) }
    intercept[IllegalArgumentException] { Tables.preflightSink(df, dir, safetyFactor = 0.5) }
  }

  test("input-footprint preflight (W2, serialize path): du-style walk, zero Spark jobs") {
    val in = java.nio.file.Files.createTempDirectory("pf-in")
    val sub = in.resolve("sub"); java.nio.file.Files.createDirectory(sub)
    java.nio.file.Files.write(in.resolve("a.bin"), new Array[Byte](1000))
    java.nio.file.Files.write(sub.resolve("b.bin"), new Array[Byte](500))
    val sink = java.nio.file.Files.createTempDirectory("pf-sink").toString

    val e = Tables.preflightSinkFromInput(in.toString, sink, safetyFactor = 2.0)
    assert(e.estBytes == 1500L && e.requiredBytes == 3000L)
    assert(e.rows == -1L && e.sampledRows == 0L)
    assert(e.fits)

    val err = intercept[IllegalStateException] {
      Tables.requireSinkFitsFromInput(in.toString, sink,
        usableBytesOverride = Some(1000L))
    }
    assert(err.getMessage.contains("input footprint") && err.getMessage.contains("1,500"))

    // empty / missing input dir: nothing to write always fits
    val none = Tables.preflightSinkFromInput(
      in.resolve("ghost").toString, sink)
    assert(none.estBytes == 0L && none.fits)
  }

}
