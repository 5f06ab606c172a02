package graft

import java.nio.file.{Files, Paths}
import java.awt.image.BufferedImage
import javax.imageio.ImageIO
import org.apache.spark.sql.functions._
import graft.ingest.{BatchExport, Ingest}

class IngestSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(prefix: String) = Files.createTempDirectory(prefix).toString

  test("CSV scan + key + label pop + float32 vector (S6, K1, P1, P2)") {
    val dir = tmpDir("csv")
    Files.writeString(Paths.get(dir, "data.csv"),
      "f1,f2,f3,label\n1,2.5,3,0\n4,5.5,6,1\n7,8.5,9,0\n")
    val raw = Ingest.readCsv(spark, s"$dir/data.csv")
    val keyed = Ingest.withDenseKey(raw, Seq(col("f1")))
    val (inputs, labels) = Ingest.popLabel(keyed, "label")
    val vec = Ingest.toFeatureVector(inputs, Seq("f1", "f2", "f3"))
    val rows = vec.select("key", "features").as[(Long, Array[Float])]
      .collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(1L, 2L, 3L))
    assert(rows.head._2.toSeq == Seq(1.0f, 2.5f, 3.0f))
    val lab = labels.orderBy("key").as[(Long, Int)].collect()
    assert(lab.map(_._2).toSeq == Seq(0, 1, 0))
  }

  test("JSON scan: list-of-dicts and {data_key: [...]} shapes (S7)") {
    val dir = tmpDir("json")
    Files.writeString(Paths.get(dir, "flat.json"),
      """[{"x": 1, "y": 2}, {"x": 3, "y": 4}]""")
    Files.writeString(Paths.get(dir, "wrapped.json"),
      """{"data": [{"x": 5, "y": 6}, {"x": 7, "y": 8}]}""")
    assert(Ingest.readJson(spark, s"$dir/flat.json").count() == 2)
    val w = Ingest.readJson(spark, s"$dir/wrapped.json", Some("data"))
    assert(w.columns.sorted.toSeq == Seq("x", "y"))
    assert(w.count() == 2)
  }

  test("scalable dense key: 1-based, dense, order-stable (K1 at scale)") {
    val df = spark.range(0, 1000).toDF("v").repartition(7)
    val keyed = Ingest.withScalableKey(df)
    val keys = keyed.select("key").as[Long].collect().sorted
    assert(keys.toSeq == (1L to 1000L))
    // alignment: key order follows partition order — within one partition,
    // keys are consecutive and track the partition-local row order
    val byPart = keyed.withColumn("pid", org.apache.spark.sql.functions.spark_partition_id())
      .select("pid", "key").as[(Int, Long)].collect().groupBy(_._1)
    byPart.values.foreach { rows =>
      val ks = rows.map(_._2)
      assert(ks.max - ks.min + 1 == ks.length, "keys within a partition must be consecutive")
    }
  }

  test("scalable dense key stays columnar: no RDD scan, broadcast offset join") {
    val keyed = Ingest.withScalableKey(spark.range(0, 100).toDF("v").repartition(4))
    val plan = keyed.queryExecution.executedPlan.toString
    assert(!plan.contains("ExistingRDD"), s"RDD detour in plan:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"offset add must be a broadcast join:\n$plan")
  }

  test("scalable key counts rows with one job and no shuffle") {
    // an aggregate on spark_partition_id() would plan a shuffle-map job,
    // an adaptive re-plan and a result job
    val df = spark.range(0, 1000, 1, 7).toDF("v")
    val ((keyed, n), starts) = withJobStarts(Ingest.withScalableKeyCounted(df))
    assert(n == 1000)
    assert(starts.size == 1, s"count pass ran ${starts.size} jobs")
    // a job that reads a shuffle lists its map stage too
    assert(starts.head.stageInfos.size == 1, "count pass has a shuffle-map stage")
    assert(keyed.select("key").as[Long].collect().sorted.toSeq == (1L to 1000L))
  }

  test("image dir scan: label from path, sorted key order (S3)") {
    val dir = tmpDir("imgs")
    for (label <- Seq("cat", "dog"); i <- 1 to 2) {
      Files.createDirectories(Paths.get(dir, label))
      val img = new BufferedImage(3, 2, BufferedImage.TYPE_INT_RGB)
      img.setRGB(0, 0, 0xff0000)
      ImageIO.write(img, "png", Paths.get(dir, label, s"img$i.png").toFile)
    }
    val out = Ingest.readImageDir(spark, dir)
      .select("key", "slabel").as[(Long, String)].collect().sortBy(_._1)
    assert(out.map(_._2).toSeq == Seq("cat", "cat", "dog", "dog"))
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L))
  }

  test("n-stream image scan pivots aligned records (S4)") {
    val dir = tmpDir("mimo")
    for (stream <- Seq("rgb", "depth"); label <- Seq("a", "b"); i <- 1 to 2) {
      Files.createDirectories(Paths.get(dir, stream, label))
      val img = new BufferedImage(2, 2, BufferedImage.TYPE_INT_RGB)
      ImageIO.write(img, "png", Paths.get(dir, stream, label, s"f$i.png").toFile)
    }
    val wide = Ingest.readImageStreams(spark, dir)
    assert(wide.count() == 4) // 2 labels x 2 positions
    assert(wide.columns.contains("rgb") && wide.columns.contains("depth"))
    // aligned: same position index means same file rank in both streams
    val r = wide.selectExpr("slabel", "rgb.path", "depth.path").as[(String, String, String)]
      .collect()
    r.foreach { case (_, rgbPath, depthPath) =>
      assert(rgbPath.split("/").last == depthPath.split("/").last)
    }
  }

  test("n-stream scan truncates ragged streams to the shortest (S4 zip parity)") {
    // rgb has 3 files for label a, depth only 2: the reference's sorted
    // zip forms 2 records — the pivot must not emit a third with a NULL
    // depth struct
    val dir = tmpDir("mimo-ragged")
    for ((stream, n) <- Seq("rgb" -> 3, "depth" -> 2); i <- 1 to n) {
      Files.createDirectories(Paths.get(dir, stream, "a"))
      val img = new BufferedImage(2, 2, BufferedImage.TYPE_INT_RGB)
      ImageIO.write(img, "png", Paths.get(dir, stream, "a", s"f$i.png").toFile)
    }
    val wide = Ingest.readImageStreams(spark, dir)
    assert(wide.count() == 2)
    assert(wide.filter(col("rgb").isNull || col("depth").isNull).count() == 0)
  }

  test("binding-driven scan associates per-stream files by stem (S5)") {
    val dir = tmpDir("binding")
    for (stem <- Seq("x1", "x2", "y1")) {
      val img = new BufferedImage(2, 2, BufferedImage.TYPE_INT_RGB)
      ImageIO.write(img, "png", Paths.get(dir, s"$stem.png").toFile)
    }
    Files.writeString(Paths.get(dir, "bindings.csv"), "in0,out0\nx1,x2\ny1,x1\n")
    val binding = Ingest.readCsv(spark, s"$dir/bindings.csv")
    val out = Ingest.readWithBinding(spark, binding, Seq("in0", "out0"), dir, ".png")
    assert(out.count() == 2)
    val row = out.orderBy("key").selectExpr("key", "in0_path", "out0_path")
      .as[(Long, String, String)].collect()
    assert(row(0)._2.endsWith("x1.png") && row(0)._3.endsWith("x2.png"))
    assert(row(1)._2.endsWith("y1.png") && row(1)._3.endsWith("x1.png"))
  }

  test("binding-driven scan fails loudly on a dangling stem (S5)") {
    // the binding table is the record-count contract: a stem with no
    // matching file must raise, not silently shrink the dataset
    val dir = tmpDir("binding-dangle")
    val img = new BufferedImage(2, 2, BufferedImage.TYPE_INT_RGB)
    ImageIO.write(img, "png", Paths.get(dir, "x1.png").toFile)
    Files.writeString(Paths.get(dir, "bindings.csv"), "in0\nx1\nmissing\n")
    val binding = Ingest.readCsv(spark, s"$dir/bindings.csv")
    val out = Ingest.readWithBinding(spark, binding, Seq("in0"), dir, ".png")
    val e = intercept[Exception](out.count())
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("binding stem has no file")))
  }

  private def writePng(path: java.nio.file.Path, rgb: Int = 0): Unit = {
    Files.createDirectories(path.getParent)
    val img = new BufferedImage(2, 2, BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, rgb)
    ImageIO.write(img, "png", path.toFile)
  }

  test("binary readers list each source dir once: no 'Listing leaf files' job (S3, S4, S5)") {
    // > 32 files per source: a per-file glob passes one root path per
    // file, and above Spark's parallel-discovery threshold (32) that
    // starts an N-task listing job on every load
    val s3 = tmpDir("guard-s3")
    for (label <- Seq("cat", "dog"); i <- 1 to 20) writePng(Paths.get(s3, label, s"i$i.png"))
    val s4 = tmpDir("guard-s4")
    for (stream <- Seq("rgb", "depth"); label <- Seq("a", "b"); i <- 1 to 10)
      writePng(Paths.get(s4, stream, label, s"f$i.png"))
    val s5 = tmpDir("guard-s5")
    val stems = (1 to 40).map(i => f"r$i%02d")
    stems.foreach(st => writePng(Paths.get(s5, s"$st.png")))
    Files.writeString(Paths.get(s5, "bindings.csv"), ("in0\n" +: stems).mkString("\n") + "\n")

    val (_, starts) = withJobStarts {
      assert(Ingest.readImageDir(spark, s3).count() == 40)
      assert(Ingest.readImageStreams(spark, s4).count() == 20)
      val binding = Ingest.readCsv(spark, s"$s5/bindings.csv")
      assert(Ingest.readWithBinding(spark, binding, Seq("in0"), s5, ".png").count() == 40)
    }
    val listing = starts.map(jobProperty(_, "spark.job.description"))
      .filter(_.startsWith("Listing leaf files"))
    assert(listing.isEmpty, s"listing jobs started: ${listing.mkString(" | ")}")
  }

  test("binding-driven scan ignores stray files beside and below the images (S5)") {
    // none of these can be `<dir>/<stem>.png` for a binding stem: the
    // rows are exactly those of the per-file glob the scan replaced
    val dir = tmpDir("binding-stray")
    for ((stem, rgb) <- Seq("x1" -> 0x110000, "x2" -> 0x002200, "y1" -> 0x000033))
      writePng(Paths.get(dir, s"$stem.png"), rgb)
    Files.writeString(Paths.get(dir, "notes.txt"), "not an image")
    for (stray <- Seq("_h.png", ".h.png", "sub/y.png", "k=v/w.png"))
      writePng(Paths.get(dir, stray), 0x444444)
    Files.createDirectories(Paths.get(dir, "d.png"))
    Files.write(Paths.get(dir, "d.png", "z.bin"), Array[Byte](1, 2, 3))
    Files.writeString(Paths.get(dir, "bindings.csv"), "in0,out0\nx1,x2\ny1,x1\n")
    val binding = Ingest.readCsv(spark, s"$dir/bindings.csv")
    val out = Ingest.readWithBinding(spark, binding, Seq("in0", "out0"), dir, ".png")
    val rows = out.selectExpr("key", "struct(in0_path, sha2(in0_content, 256))",
        "struct(out0_path, sha2(out0_content, 256))")
      .as[(Long, (String, String), (String, String))].collect().sortBy(_._1).toSeq
    val abs = new java.io.File(dir).getAbsolutePath
    def file(stem: String) = (s"$abs/$stem.png", java.security.MessageDigest.getInstance("SHA-256")
      .digest(Files.readAllBytes(Paths.get(dir, s"$stem.png"))).map("%02x".format(_)).mkString)
    assert(rows == Seq((1L, file("x1"), file("x2")), (2L, file("y1"), file("x1"))))
  }

  test("image dir scans skip stray files and keep the parent dir as label (S3, S4)") {
    val s3 = tmpDir("imgs-stray")
    // dog/sub/deep/e.png is two levels below a label: `dir/*/*` never
    // reached it, and the directory listing must not either
    for (f <- Seq("cat/a.png", "cat/b.png", "dog/c.png", "dog/sub/d.png", "dog/sub/deep/e.png"))
      writePng(Paths.get(s3, f))
    Files.writeString(Paths.get(s3, "README.txt"), "not a record")
    val recs = Ingest.readImageDir(spark, s3).select("key", "slabel", "path")
      .as[(Long, String, String)].collect().sortBy(_._1)
    assert(recs.map(r => (r._1, r._2, r._3.split("/").last)).toSeq ==
      Seq((1L, "cat", "a.png"), (2L, "cat", "b.png"), (3L, "dog", "c.png"), (4L, "sub", "d.png")))

    val s4 = tmpDir("mimo-stray")
    for (stream <- Seq("rgb", "depth")) writePng(Paths.get(s4, stream, "a", "f1.png"))
    writePng(Paths.get(s4, "rgb", "x.png"))
    writePng(Paths.get(s4, "rgb", "a", "sub", "deep", "f2.png"))
    Files.writeString(Paths.get(s4, "README.txt"), "not a record")
    val wide = Ingest.readImageStreams(spark, s4)
    assert(wide.columns.toSet == Set("key", "slabel", "rgb", "depth"))
    assert(wide.selectExpr("slabel", "rgb.path", "depth.path").as[(String, String, String)]
      .collect().map(r => (r._1, r._2.split("/").last, r._3.split("/").last)).toSeq ==
      Seq(("a", "f1.png", "f1.png")))

    // nothing at the record depth: a loud failure, not an empty dataset
    val empty = tmpDir("imgs-none")
    Files.writeString(Paths.get(empty, "README.txt"), "no labels here")
    intercept[Exception](Ingest.readImageDir(spark, empty))
  }

  test("image dir scans skip label and stream dirs named _x or .x (Spark's hidden-path rule)") {
    // the per-file glob applied the rule to file names only; the directory
    // listing applies it at every level, so these trees yield no record
    val s3 = tmpDir("imgs-hidden")
    for (f <- Seq("cat/a.png", "_tmp/b.png", ".cache/c.png")) writePng(Paths.get(s3, f))
    assert(Ingest.readImageDir(spark, s3).select("slabel").as[String].collect().toSeq ==
      Seq("cat"))
    val s4 = tmpDir("mimo-hidden")
    for (f <- Seq("rgb/a/f1.png", "depth/a/f1.png", "_old/a/f1.png",
        "rgb/_b/f1.png", "depth/_b/f1.png", "rgb/.c/f1.png", "depth/.c/f1.png"))
      writePng(Paths.get(s4, f))
    val wide = Ingest.readImageStreams(spark, s4)
    assert(wide.columns.toSet == Set("key", "slabel", "rgb", "depth"))
    assert(wide.select("slabel").as[String].collect().toSeq == Seq("a"))
  }

  test("format(\"binaryFile\") appears in main sources only inside Ingest.binaryFiles") {
    // one place decides how a binary source is listed (see Ingest's doc)
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root))
    val needle = "format(\"binaryFile\")"
    val sources = Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala"))
    val hits = sources.flatMap { f =>
      val text = new String(Files.readAllBytes(f), "UTF-8")
      Iterator.iterate(text.indexOf(needle))(i => text.indexOf(needle, i + 1))
        .takeWhile(_ >= 0).map(i => (root.relativize(f).toString.replace('\\', '/'), text, i))
    }.toSeq
    val outside = hits.filterNot { case (rel, text, i) =>
      val start = text.indexOf("private def binaryFiles(")
      rel == "graft/ingest/Ingest.scala" && start >= 0 && i > start &&
        i < text.indexOf("\n  }\n", start)
    }
    assert(hits.nonEmpty && outside.isEmpty,
      s"load binary files through Ingest.binaryFiles: ${outside.map(_._1).mkString(", ")}")
  }

  test("bag-of-words: distributed vocab table + sparse per-doc counts (P4)") {
    val df = Seq((1L, "spark makes big data small"), (2L, "big data big plans"),
        (3L, "")).toDF("key", "text")
    val (vocabDf, out) = Ingest.bagOfWords(df, "text")
    val vocab = vocabDf.orderBy("id").select("term").as[String].collect().toSeq
    assert(vocab == vocab.sorted) // lexicographic ids, sklearn semantics
    assert(vocab == Seq("big", "data", "makes", "plans", "small", "spark"))
    val ids = vocabDf.orderBy("id").select("id").as[Long].collect().toSeq
    assert(ids == (0L until vocab.size).toSeq) // dense 0-based
    val sparse = out.select("key", "bow")
      .as[(Long, Seq[(Long, Float)])].collect().toMap
    val bigIdx = vocab.indexOf("big").toLong
    assert(sparse(1L).toMap.apply(bigIdx) == 1.0f)
    assert(sparse(2L).toMap.apply(bigIdx) == 2.0f)
    assert(sparse(2L).map(_._1) == sparse(2L).map(_._1).sorted) // idx-sorted
    assert(sparse(3L).isEmpty) // token-less row → empty, not null
    // dense reconstruction matches the reference's per-doc vector layout
    val dense = Ingest.denseBow(out, "bow", vocab.size.toLong)
      .select("key", "bow_dense").as[(Long, Seq[Float])].collect().toMap
    assert(dense(1L) == Seq(1f, 1f, 1f, 0f, 1f, 1f))
    assert(dense(2L) == Seq(2f, 1f, 0f, 1f, 0f, 0f))
    assert(dense(3L) == Seq.fill(6)(0f))
    // scale gate: vocab ids come from the columnar two-pass key — the
    // broadcast offset join over the checkpoint-pinned layout, never a
    // single-partition window. (The checkpoint scans render as
    // ExistingRDD, so a blanket no-ExistingRDD assert does not apply
    // here; the Window absence is the single-partition gate.)
    val plan = vocabDf.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"vocab offset add must be a broadcast join:\n$plan")
    assert(!plan.contains("Window"), s"single-partition window in vocab plan:\n$plan")
  }

  test("bag-of-words vocab ids stay dense beyond range-sampling scale") {
    // the q66 lesson applied to P4: range boundaries are re-sampled per
    // execution above the exhaustive-sampling size, so the two key
    // passes must read one pinned layout — 60k distinct terms would
    // yield duplicate/missing ids if the layouts decoupled
    val n = 60000
    val df = spark.range(n).selectExpr("id AS key",
      "concat('term', lpad(CAST(id AS STRING), 6, '0')) AS text")
    val (vocabDf, _) = Ingest.bagOfWords(df, "text")
    val ids = vocabDf.select("id")
    assert(ids.distinct().count() == n)
    val (mn, mx) = ids.agg(org.apache.spark.sql.functions.min("id"),
      org.apache.spark.sql.functions.max("id")).as[(Long, Long)].head()
    assert(mn == 0L && mx == n - 1L)
    // repeated actions on the SAME returned frame must see the same ids
    // (the checkpoint pin: a re-sampled layout would shuffle them)
    assert(ids.distinct().count() == n)
  }

  test("robust JSONL/CSV scans quarantine malformed lines, never fail the job") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("robust")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType)))
    java.nio.file.Files.write(dir.resolve("feed.jsonl"), java.util.List.of(
      """{"id": 1, "name": "a"}""",
      """{"id": 2, "name": "b"""", // torn line
      """{"id": 3, "name": "c"}""",
      """not json at all"""))
    val js = Ingest.readJsonlRobust(spark, dir.resolve("feed.jsonl").toString, schema)
    assert(js.good.count() == 2 && js.good.columns.toSeq == Seq("id", "name"))
    assert(js.bad.count() == 2)
    assert(js.bad.collect().map(_.getString(0)).exists(_.contains("not json at all")))
    js.release()

    java.nio.file.Files.write(dir.resolve("feed.csv"), java.util.List.of(
      "id,name", "1,a", "oops,b,extra,cols", "3,c"))
    val cs = Ingest.readCsvRobust(spark, dir.resolve("feed.csv").toString, schema)
    assert(cs.good.count() == 2)
    assert(cs.bad.count() == 1 && cs.bad.collect().head.getString(0).startsWith("oops"))
    cs.release()
  }

  test("batch export: remainder dropped, shapes from schema, epochs (D1-D3)") {
    val df = (1L to 23L).map(k => (k, Array.fill(4)(k.toFloat), k % 2))
      .toDF("key", "features", "label")
    val be = BatchExport(df, "key", Seq("features"), Seq("label"), batchSize = 5)
    assert(be.nSamples == 23 && be.nBatches == 4)
    assert(be.shapes("features") == Seq(4) && be.shapes("label") == Seq(1))
    val batches = be.epoch().toSeq
    assert(batches.size == 4)
    assert(batches.forall(_._1("features").size == 5))
    // numeric key order: first batch is keys 1..5
    assert(batches.head._2("label").size == 5)
    val twoEpochs = be.batches(epochs = 2).toSeq
    assert(twoEpochs.size == 8)
    // the epoch layout is pinned once: every epoch replays the SAME
    // batch membership and order (one sort, N linear scans — the
    // multi-epoch fit must not reshuffle 100 TB per epoch)
    val (e1, e2) = twoEpochs.splitAt(4)
    assert(e1.map(_._1("features").map(_.asInstanceOf[scala.collection.Seq[Float]].toList)) ==
      e2.map(_._1("features").map(_.asInstanceOf[scala.collection.Seq[Float]].toList)))
    // release must drop the checkpointed blocks PROMPTLY (Dataset
    // .unpersist is a no-op on a localCheckpoint — the fix unpersists
    // the backing RDD): the pinned RDD disappears from the context's
    // persistent-RDD registry, not just at some later driver GC
    val pinnedIds = spark.sparkContext.getPersistentRDDs.keySet
    be.release()
    val afterIds = spark.sparkContext.getPersistentRDDs.keySet
    assert((pinnedIds -- afterIds).nonEmpty,
      "release() did not unpersist the pinned epoch layout's RDD")
    // release is idempotent and the export remains usable (re-pins)
    be.release()
    assert(be.epoch().size == 4)
    // one epoch's batches hold nBatches * batchSize rows
    assert(be.epoch().map(_._1("features").size).sum == 20)
    be.release()
  }

  test("batch export pins one full sort: no top-K plan, many partitions, keys in order") {
    // a pin built as orderBy.limit plans as TakeOrderedAndProject on ONE
    // partition: at scale the whole epoch would pass through one task's
    // heap. The pin must be a range-partitioned sort, trimmed on the driver.
    import org.apache.spark.sql.execution.QueryExecution
    import scala.jdk.CollectionConverters._
    val coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.getOption(coalesce)
    val pinPlans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (f == "localCheckpoint") pinPlans.add(qe.executedPlan.toString)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.conf.set(coalesce, "false")
    spark.listenerManager.register(l)
    try {
      // keys 1..1000 in a scrambled order (7919 is coprime with 1000)
      val df = spark.range(0, 1000, 1, 8).select((col("id") * 7919 % 1000 + 1).as("key"))
        .withColumn("x", col("key") * 2)
      val be = BatchExport(df, "key", Seq("x"), Seq("key"), batchSize = 7)
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val keys = be.batches(epochs = 2).map(_._2("key").map(_.asInstanceOf[Long])).toList
      assert(be.nBatches == 142 && keys.size == 284)
      assert(keys.flatten == ((1L to 994L) ++ (1L to 994L)),
        "two epochs must yield keys 1..nBatches*batchSize in order, twice")
      val pinned = spark.sparkContext.getPersistentRDDs.filter { case (id, _) => !before(id) }
      assert(pinned.size == 1 && pinned.head._2.getNumPartitions > 1,
        s"the pin must keep the sort's partitions, got ${pinned.values.map(_.getNumPartitions)}")
      val deadline = System.currentTimeMillis() + 10000
      while (pinPlans.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(50)
      val plans = pinPlans.asScala.toList
      assert(plans.size == 1, s"one pin per layout, saw ${plans.size}")
      assert(!plans.head.contains("TakeOrderedAndProject") && !plans.head.contains("GlobalLimit"),
        plans.head)
      be.release()
    } finally {
      spark.listenerManager.unregister(l)
      prev.fold(spark.conf.unset(coalesce))(spark.conf.set(coalesce, _))
    }
  }

  test("batch export: a lost pinned block fails the next epoch loudly, naming the block") {
    // local checkpoints are not reliable storage: when an executor loses
    // the pinned blocks, the next epoch must fail and say which block,
    // never yield a batch from a partial layout
    val df = (1L to 23L).map(k => (k, k % 2)).toDF("key", "label")
    val be = BatchExport(df, "key", Seq("key"), Seq("label"), batchSize = 5)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    assert(be.epoch().size == 4)
    val pinned = spark.sparkContext.getPersistentRDDs.filter { case (id, _) => !before(id) }
    assert(pinned.size == 1)
    val (id, rdd) = pinned.head
    rdd.unpersist(blocking = true) // drop the blocks behind the export's back
    var yielded = 0
    val e = intercept[Exception](be.epoch().foreach(_ => yielded += 1))
    assert(yielded == 0, "no batch may come from a layout with lost blocks")
    assert(e.getMessage.contains("Checkpoint block") && e.getMessage.contains(s"rdd_${id}_"),
      e.getMessage)
    be.release()
  }
}
