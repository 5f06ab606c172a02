package graft

import java.nio.file.Files
import graft.catalog.Snapshots
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.util.LongAccumulator

class SnapshotsSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(): String =
    Files.createTempDirectory("graft_snap").resolve("t").toString

  private def rows(dir: String, v: Option[Int] = None): Set[(Long, String, String)] =
    Snapshots.read(spark, dir, v).select("id", "v", "p")
      .as[(Long, String, String)].collect().toSet

  private val base = Seq(
    (1L, "one", "a"), (2L, "two", "a"),
    (3L, "three", "b"), (4L, "four", "b"),
    (5L, "five", "c"))

  test("init + append: old versions are immutable, current sees both") {
    val dir = freshDir()
    assert(Snapshots.init(spark, dir, base.toDF("id", "v", "p"), Some("p")) == 1)
    assert(rows(dir) == base.toSet)
    val v2 = Snapshots.append(spark, dir, Seq((6L, "six", "c")).toDF("id", "v", "p"))
    assert(v2 == 2)
    assert(rows(dir, Some(1)) == base.toSet)
    assert(rows(dir) == base.toSet + ((6L, "six", "c")))
    assert(Snapshots.versions(spark, dir) == Seq(1, 2))
  }

  test("replacePartitions reuses untouched files by path and time-travels") {
    val dir = freshDir()
    Snapshots.init(spark, dir, base.toDF("id", "v", "p"), Some("p"))
    val v2 = Snapshots.replacePartitions(spark, dir,
      Seq((1L, "ONE", "a"), (9L, "nine", "a")).toDF("id", "v", "p"))
    assert(v2 == 2)
    // v2 state: partition a replaced, b and c untouched
    assert(rows(dir) == Set(
      (1L, "ONE", "a"), (9L, "nine", "a"),
      (3L, "three", "b"), (4L, "four", "b"), (5L, "five", "c")))
    // time travel: v1 unchanged
    assert(rows(dir, Some(1)) == base.toSet)
    // copy-on-write proof: untouched partitions' file PATHS are identical
    // across the two manifests (re-referenced, not rewritten)
    val f1 = Snapshots.fileList(spark, dir, 1).toMap
    val f2 = Snapshots.fileList(spark, dir, 2).toMap
    val untouched1 = f1.filter { case (_, pv) => pv != "a" }
    val untouched2 = f2.filter { case (_, pv) => pv != "a" }
    assert(untouched1 == untouched2 && untouched1.nonEmpty)
    assert(f2.exists { case (path, pv) => pv == "a" && !f1.contains(path) })
  }

  test("dropValues removes a partition; empty table still readable via schema header") {
    val dir = freshDir()
    Snapshots.init(spark, dir,
      Seq((1L, "one", "a")).toDF("id", "v", "p"), Some("p"))
    Snapshots.replacePartitions(spark, dir,
      spark.emptyDataset[(Long, String, String)].toDF("id", "v", "p"),
      dropValues = Seq("a"))
    val df = Snapshots.read(spark, dir)
    assert(df.count() == 0)
    assert(df.columns.toSeq == Seq("id", "v", "p"))
  }

  test("manifest-level partition pruning opens only the named partition's files") {
    val dir = freshDir()
    Snapshots.init(spark, dir, base.toDF("id", "v", "p"), Some("p"))
    val pruned = Snapshots.readPartitions(spark, dir, Seq("b"))
    assert(pruned.select("id").as[Long].collect().toSet == Set(3L, 4L))
    val opened = pruned.inputFiles.toSet
    val bFiles = Snapshots.fileList(spark, dir, 1)
      .filter(_._2 == "b").map { case (p, _) => s"$dir/$p" }
    assert(opened.forall(f => bFiles.exists(b => f.endsWith(b.stripPrefix(dir)))))
    assert(opened.size == bFiles.size)
  }

  test("rowCount is served from manifest stats without opening files") {
    val dir = freshDir()
    Snapshots.init(spark, dir, base.toDF("id", "v", "p"), Some("p"))
    Snapshots.append(spark, dir, Seq((6L, "six", "c"), (7L, "seven", "d")).toDF("id", "v", "p"))
    assert(Snapshots.rowCount(spark, dir) == 7L)
    assert(Snapshots.rowCount(spark, dir, Some(1)) == 5L)
    // stats really are in the manifest (not recomputed): every entry carries them
    assert(Snapshots.entryList(spark, dir, 2).forall(_.stats.isDefined))
  }

  test("readWhere prunes files by footer min/max and still answers exactly") {
    val dir = freshDir()
    // partition values give one file per id-range: a:[1,2] b:[3,4] c:[5]
    Snapshots.init(spark, dir, base.toDF("id", "v", "p"), Some("p"))
    val pruned = Snapshots.readWhere(spark, dir, "id", 3L, 4L)
    assert(pruned.select("id").as[Long].collect().toSet == Set(3L, 4L))
    // only partition b's file range intersects [3,4]
    val opened = pruned.inputFiles.toSet
    val bPaths = Snapshots.entryList(spark, dir, 1)
      .filter(e => e.stats.exists(s => s.maxs("id") >= 3 && s.mins("id") <= 4))
      .map(_.path)
    assert(bPaths.forall(_.contains("b-")) && bPaths.nonEmpty)
    assert(opened.size == bPaths.size)
    // a range matching nothing opens nothing and returns empty
    val none = Snapshots.readWhere(spark, dir, "id", 100L, 200L)
    assert(none.count() == 0 && none.inputFiles.isEmpty)
  }

  test("appendEvolve widens the schema; old files read the new column as null") {
    val dir = freshDir()
    Snapshots.init(spark, dir, base.toDF("id", "v", "p"), Some("p"))
    Snapshots.appendEvolve(spark, dir,
      Seq((6L, "six", "c", 42L)).toDF("id", "v", "p", "score"))
    val df = Snapshots.read(spark, dir)
    assert(df.columns.toSeq == Seq("id", "v", "p", "score"))
    val byId = df.select("id", "score").as[(Long, Option[Long])].collect().toMap
    assert(byId(6L).contains(42L) && byId(1L).isEmpty)
    // missing columns in the NEW data are null-filled too
    Snapshots.appendEvolve(spark, dir, Seq((7L, "c")).toDF("id", "p"))
    val r7 = Snapshots.read(spark, dir).filter("id = 7")
      .select("v", "score").as[(Option[String], Option[Long])].collect().head
    assert(r7 == ((None, None)))
    // type change is rejected
    intercept[IllegalArgumentException] {
      Snapshots.appendEvolve(spark, dir, Seq(("x", "c")).toDF("id", "p"))
    }
    // v1 time travel still reads the ORIGINAL narrow schema
    assert(Snapshots.read(spark, dir, Some(1)).columns.toSeq == Seq("id", "v", "p"))
  }

  test("commitEpoch: replayed epochs are no-ops, the manifest chain is the ledger") {
    val dir = freshDir()
    Snapshots.init(spark, dir, base.toDF("id", "v", "p"), Some("p"))
    assert(Snapshots.commitEpoch(spark, dir,
      Seq((10L, "ten", "c")).toDF("id", "v", "p"), epochId = 0L).contains(2))
    // crash-replay of epoch 0: skipped
    assert(Snapshots.commitEpoch(spark, dir,
      Seq((10L, "ten", "c")).toDF("id", "v", "p"), epochId = 0L).isEmpty)
    // an interleaved non-epoch commit does not defeat the guard
    Snapshots.append(spark, dir, Seq((11L, "eleven", "c")).toDF("id", "v", "p"))
    assert(Snapshots.commitEpoch(spark, dir,
      Seq((12L, "twelve", "c")).toDF("id", "v", "p"), epochId = 0L).isEmpty)
    // the next epoch lands
    assert(Snapshots.commitEpoch(spark, dir,
      Seq((12L, "twelve", "c")).toDF("id", "v", "p"), epochId = 1L).isDefined)
    assert(Snapshots.read(spark, dir).count() == base.size + 3)
  }

  test("compactPartitions merges files as a commit; old version keeps its files") {
    val dir = freshDir()
    Snapshots.init(spark, dir, base.toDF("id", "v", "p"), Some("p"))
    // fragment partition a across several commits
    Snapshots.append(spark, dir, Seq((10L, "ten", "a")).toDF("id", "v", "p"))
    Snapshots.append(spark, dir, Seq((11L, "eleven", "a")).toDF("id", "v", "p"))
    val before = Snapshots.entryList(spark, dir, 3).filter(_.partValue == "a")
    assert(before.size >= 3)
    val want = Snapshots.read(spark, dir).select("id").as[Long].collect().toSet
    Snapshots.compactPartitions(spark, dir, Seq("a"), filesPer = 1, sortBy = Some("id"))
    val after = Snapshots.entryList(spark, dir, 4).filter(_.partValue == "a")
    assert(after.size == 1)
    // identical data, tight stats on the compacted file
    assert(Snapshots.read(spark, dir).select("id").as[Long].collect().toSet == want)
    val st = after.head.stats.get
    assert(st.mins("id") == 1L && st.maxs("id") == 11L && st.rows == 4L)
    // time travel to the fragmented version still works (files retained)
    assert(Snapshots.read(spark, dir, Some(3)).select("id").as[Long]
      .collect().toSet == want)
  }

  test("maybeCompact compacts only over-threshold partitions, from manifest metadata") {
    val dir = freshDir()
    Snapshots.init(spark, dir, base.toDF("id", "v", "p"), Some("p"))
    // accrete files on partition "a" only: each append commits one file
    (10L to 13L).foreach { i =>
      Snapshots.append(spark, dir, Seq((i, s"x$i", "a")).toDF("id", "v", "p"))
    }
    val before = rows(dir)
    def filesOf(part: String) =
      Snapshots.entryList(spark, dir, Snapshots.currentVersion(spark, dir))
        .filter(_.partValue == part).map(_.path)
    val bFilesBefore = filesOf("b")
    assert(filesOf("a").size == 5)
    // threshold 3: only "a" qualifies
    assert(Snapshots.maybeCompact(spark, dir, maxFiles = 3) == Seq("a"))
    assert(filesOf("a").size == 1, "hot partition not compacted to one file")
    assert(filesOf("b") == bFilesBefore, "cold partition's files were rewritten")
    assert(rows(dir) == before, "compaction changed content")
    // below threshold now: policy is a no-op and commits nothing
    val v = Snapshots.currentVersion(spark, dir)
    assert(Snapshots.maybeCompact(spark, dir, maxFiles = 3).isEmpty)
    assert(Snapshots.currentVersion(spark, dir) == v)
  }

  test("versioned upsert/delete: Mutate semantics with time travel") {
    val dir = freshDir()
    Snapshots.init(spark, dir, base.toDF("id", "v", "p"), Some("p"))
    // upsert: update id=1 in place, insert id=9 into partition a
    Snapshots.upsert(spark, dir,
      Seq((1L, "ONE", "a"), (9L, "nine", "a")).toDF("id", "v", "p"), Seq("id"))
    assert(rows(dir) == Set(
      (1L, "ONE", "a"), (2L, "two", "a"), (9L, "nine", "a"),
      (3L, "three", "b"), (4L, "four", "b"), (5L, "five", "c")))
    // untouched partitions were not rewritten
    val f1 = Snapshots.fileList(spark, dir, 1).filter(_._2 != "a").toSet
    val f2 = Snapshots.fileList(spark, dir, 2).filter(_._2 != "a").toSet
    assert(f1 == f2 && f1.nonEmpty)
    // delete: erase id=5 — partition c empties out and disappears
    Snapshots.delete(spark, dir,
      Seq((5L, "c")).toDF("id", "p"), Seq("id"))
    assert(rows(dir) == Set(
      (1L, "ONE", "a"), (2L, "two", "a"), (9L, "nine", "a"),
      (3L, "three", "b"), (4L, "four", "b")))
    assert(!Snapshots.fileList(spark, dir, 3).exists(_._2 == "c"))
    // the erased row is still auditable by time travel
    assert(rows(dir, Some(2)).contains((5L, "five", "c")))
    assert(rows(dir, Some(1)) == base.toSet)
  }

  test("applyKeyed = delete-then-upsert in one commit; empty sides degrade") {
    // two identical tables: one mutated by the sequential path, one by the
    // combined commit — final states must be equal, but applyKeyed spends
    // ONE version where the sequential path spends two
    val seqDir = freshDir(); val oneDir = freshDir()
    Seq(seqDir, oneDir).foreach(d =>
      Snapshots.init(spark, d, base.toDF("id", "v", "p"), Some("p")))
    val dels = Seq((2L, "a"), (5L, "c")).toDF("id", "p") // c empties out
    val ups = Seq((1L, "ONE", "a"), (9L, "nine", "b")).toDF("id", "v", "p")
    Snapshots.delete(spark, seqDir, dels, Seq("id"))
    Snapshots.upsert(spark, seqDir, ups, Seq("id"))
    assert(Snapshots.applyKeyed(spark, oneDir, dels, ups, Seq("id")) == Some(2))
    assert(rows(oneDir) == rows(seqDir))
    assert(rows(oneDir) == Set(
      (1L, "ONE", "a"), (3L, "three", "b"), (4L, "four", "b"), (9L, "nine", "b")))
    assert(Snapshots.versions(spark, oneDir) == Seq(1, 2))
    assert(Snapshots.versions(spark, seqDir) == Seq(1, 2, 3))
    // emptied partition dropped from the manifest; untouched rewrites none
    assert(!Snapshots.fileList(spark, oneDir, 2).exists(_._2 == "c"))
    // idempotent retry: re-submitting the same batch converges
    val once = rows(oneDir)
    assert(Snapshots.applyKeyed(spark, oneDir, dels, ups, Seq("id")) == Some(3))
    assert(rows(oneDir) == once)
    // delete-only and upsert-only sides work through the same entry point
    val empty = spark.emptyDataset[(Long, String, String)].toDF("id", "v", "p")
    val emptyKeys = spark.emptyDataset[(Long, String)].toDF("id", "p")
    assert(Snapshots.applyKeyed(spark, oneDir, Seq((9L, "b")).toDF("id", "p"),
      empty, Seq("id")) == Some(4))
    assert(rows(oneDir) == Set((1L, "ONE", "a"), (3L, "three", "b"), (4L, "four", "b")))
    assert(Snapshots.applyKeyed(spark, oneDir, emptyKeys,
      Seq((7L, "seven", "c")).toDF("id", "v", "p"), Seq("id")) == Some(5))
    assert(rows(oneDir).contains((7L, "seven", "c")))
    // both sides empty: no commit at all
    assert(Snapshots.applyKeyed(spark, oneDir, emptyKeys, empty, Seq("id")).isEmpty)
    assert(Snapshots.currentVersion(spark, oneDir) == 5)
    // time travel still audits the pre-mutation state
    assert(rows(oneDir, Some(1)) == base.toSet)
  }

  test("diff reads only changed files and emits exact insert/delete rows") {
    val dir = freshDir()
    Snapshots.init(spark, dir, base.toDF("id", "v", "p"), Some("p"))
    // v2: update id=1 (delete+insert), insert id=9, leave b/c untouched
    Snapshots.upsert(spark, dir,
      Seq((1L, "ONE", "a"), (9L, "nine", "a")).toDF("id", "v", "p"), Seq("id"))
    // v3: delete id=5 (partition c)
    Snapshots.delete(spark, dir, Seq((5L, "c")).toDF("id", "p"), Seq("id"))
    val d12 = Snapshots.diff(spark, dir, 1, 2)
    val changes12 = d12.select("id", "v", "_change")
      .as[(Long, String, String)].collect().toSet
    assert(changes12 == Set(
      (1L, "one", "delete"), (1L, "ONE", "insert"), (9L, "nine", "insert")))
    // untouched partitions' files are never opened by the diff
    val opened = d12.inputFiles.toSet
    assert(opened.forall(f => f.contains("a-")), s"diff read untouched files: $opened")
    // full-range diff composes both commits
    val changes13 = Snapshots.diff(spark, dir, 1, 3)
      .select("id", "_change").as[(Long, String)].collect()
      .groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    assert(changes13("delete") == Set(1L, 5L) && changes13("insert") == Set(1L, 9L))
    // diff across a schema evolution is well-typed
    Snapshots.appendEvolve(spark, dir,
      Seq((20L, "twenty", "b", 7L)).toDF("id", "v", "p", "score"))
    val d34 = Snapshots.diff(spark, dir, 3, 4)
      .select("id", "score", "_change").as[(Long, Option[Long], String)].collect().toSet
    assert(d34 == Set((20L, Some(7L), "insert")))
  }

  test("changedPartitions: metadata-only touched set = data diff's, superset under compaction") {
    val dir = freshDir()
    Snapshots.init(spark, dir, base.toDF("id", "v", "p"), Some("p"))
    // v2 touches a (upsert), v3 touches c (delete empties it)
    Snapshots.upsert(spark, dir,
      Seq((1L, "ONE", "a"), (9L, "nine", "a")).toDF("id", "v", "p"), Seq("id"))
    Snapshots.delete(spark, dir, Seq((5L, "c")).toDF("id", "p"), Seq("id"))
    assert(Snapshots.changedPartitions(spark, dir, 1, 2) == Seq("a"))
    assert(Snapshots.changedPartitions(spark, dir, 1, 3) == Seq("a", "c"))
    assert(Snapshots.changedPartitions(spark, dir, 2, 3) == Seq("c"))
    // and it agrees with the data diff wherever rows actually changed
    val dataTouched = Snapshots.diff(spark, dir, 1, 3)
      .select("p").distinct().as[String].collect().toSet
    assert(dataTouched == Set("a", "c"))
    // a content-neutral rewrite (compaction) is a file-set change with no
    // row change: the metadata set conservatively includes it
    Snapshots.compactPartitions(spark, dir, Seq("b"), sortBy = Some("id"))
    assert(Snapshots.changedPartitions(spark, dir, 3, 4) == Seq("b"))
    assert(Snapshots.diff(spark, dir, 3, 4).isEmpty)
  }

  test("diff has bag semantics: multiplicities net out, nulls group as equal") {
    val dir = freshDir()
    // partition a holds id 7 three times; partition b holds a null-valued
    // row twice
    val nul: String = null
    val v1 = Seq((7L, "seven", "a"), (7L, "seven", "a"), (7L, "seven", "a"),
      (1L, "one", "a"), (8L, nul, "b"), (8L, nul, "b"), (3L, "three", "b"))
    Snapshots.init(spark, dir, v1.toDF("id", "v", "p"), Some("p"))
    Snapshots.replacePartitions(spark, dir, Seq((7L, "seven", "a"), (1L, "one", "a"),
      (8L, nul, "b"), (3L, "three", "b")).toDF("id", "v", "p"))
    def changes(from: Int, to: Int) = {
      val d = Snapshots.diff(spark, dir, from, to)
      assert(d.columns.toSeq == Seq("id", "v", "p", "_change"))
      d.as[(Long, String, String, String)].collect().toSeq.sortBy(r => (r._1, r._4))
    }
    assert(changes(1, 2) == Seq.fill(2)((7L, "seven", "a", "delete")) ++
      Seq((8L, nul, "b", "delete")))
    // the reverse diff re-inserts the same copies
    assert(changes(2, 1) == Seq.fill(2)((7L, "seven", "a", "insert")) ++
      Seq((8L, nul, "b", "insert")))
    // a content-neutral rewrite of duplicated rows cancels to nothing
    Snapshots.compactPartitions(spark, dir, Seq("a", "b"), sortBy = Some("id"))
    assert(changes(2, 3).isEmpty)
    assert(changes(1, 3) == changes(1, 2))
  }

  test("diff shuffles the changed rows once, in one aggregate") {
    val dir = freshDir()
    Snapshots.init(spark, dir, base.toDF("id", "v", "p"), Some("p"))
    Snapshots.upsert(spark, dir, Seq((1L, "ONE", "a")).toDF("id", "v", "p"), Seq("id"))
    val plan = Snapshots.diff(spark, dir, 1, 2).queryExecution.executedPlan.toString
    // two exceptAlls held one hash exchange each
    assert("Exchange hashpartitioning".r.findAllMatchIn(plan).size == 1, plan)
  }

  test("a torn manifest (no #end) is invisible; current falls back") {
    val dir = freshDir()
    Snapshots.init(spark, dir, base.toDF("id", "v", "p"), Some("p"))
    val torn = java.nio.file.Paths.get(dir, "_manifests", "v00000002.manifest")
    Files.write(torn, "#version 2\n_data/v00000002/missing.parquet\t\n".getBytes("UTF-8"))
    assert(Snapshots.currentVersion(spark, dir) == 1)
    assert(rows(dir) == base.toSet)
  }

  test("vacuum drops old versions, keeps every file the retained manifests reference") {
    val dir = freshDir()
    Snapshots.init(spark, dir, base.toDF("id", "v", "p"), Some("p"))
    Snapshots.replacePartitions(spark, dir, Seq((1L, "ONE", "a")).toDF("id", "v", "p"))
    Snapshots.replacePartitions(spark, dir, Seq((3L, "THREE", "b")).toDF("id", "v", "p"))
    val before = rows(dir)
    val deleted = Snapshots.vacuum(spark, dir, keepLast = 1)
    assert(deleted.nonEmpty)
    assert(Snapshots.versions(spark, dir) == Seq(3))
    assert(rows(dir) == before) // current version fully intact
    // v1's replaced partition-a file is gone from the pool
    val pool = java.nio.file.Paths.get(dir, "_data", "v00000001")
    import scala.jdk.CollectionConverters._
    val v1Files = if (Files.exists(pool))
      Files.list(pool).iterator().asScala.map(_.getFileName.toString).toSet
    else Set.empty[String]
    assert(!v1Files.exists(_.startsWith("a-")))
    // but v1's partition-c file survives (still referenced by v3)
    assert(v1Files.exists(_.startsWith("c-")))
  }

  test("model check: random op sequences match an in-memory model, incl. time travel") {
    // the snapshot layer is the most state-heavy component in the repo;
    // example-based cases can miss op-order interactions (empty
    // partitions, re-upserted keys, compaction mid-sequence), so drive it
    // with seeded random sequences against a trivial reference model
    for (seed <- Seq(7, 1234)) {
      val rnd = new scala.util.Random(seed)
      val dir = freshDir()
      val parts = Vector("a", "b", "c")
      var model = Map(1L -> ("one", "a"), (2L, ("two", "b")))
      def df(m: Map[Long, (String, String)]) =
        m.toSeq.map { case (k, (v, p)) => (k, v, p) }.toDF("id", "v", "p")
      Snapshots.init(spark, dir, df(model), Some("p"))
      val history = scala.collection.mutable.Map(1 -> model)
      for (step <- 1 to 12) {
        rnd.nextInt(4) match {
          case 0 | 1 => // upsert 1-3 rows (mix of updates and inserts)
            val rows = (0 until 1 + rnd.nextInt(3)).map { _ =>
              val id = 1L + rnd.nextInt(8)
              (id, s"v$seed-$step-$id", parts(rnd.nextInt(parts.size)))
            }.distinctBy(_._1)
            // partition stability: an update keeps its existing partition
            val stable = rows.map { case (id, v, p) =>
              (id, v, model.get(id).map(_._2).getOrElse(p))
            }
            Snapshots.upsert(spark, dir,
              stable.toDF("id", "v", "p"), Seq("id"))
            model = model ++ stable.map { case (id, v, p) => id -> ((v, p)) }
          case 2 if model.nonEmpty => // delete 1-2 existing keys
            val victims = rnd.shuffle(model.toSeq).take(1 + rnd.nextInt(2))
            Snapshots.delete(spark, dir,
              victims.map { case (id, (_, p)) => (id, p) }.toDF("id", "p"), Seq("id"))
            model = model -- victims.map(_._1)
          case _ => // compaction: content-neutral
            val value = parts(rnd.nextInt(parts.size))
            if (model.values.exists(_._2 == value))
              Snapshots.compactPartitions(spark, dir, Seq(value), sortBy = Some("id"))
        }
        val cur = Snapshots.currentVersion(spark, dir)
        history(cur) = model
        val got = Snapshots.read(spark, dir)
          .select("id", "v", "p").as[(Long, String, String)].collect()
          .map(r => r._1 -> ((r._2, r._3))).toMap
        assert(got == model, s"seed=$seed step=$step: table diverged from model")
        assert(Snapshots.rowCount(spark, dir) == model.size.toLong,
          s"seed=$seed step=$step: metadata count wrong")
      }
      // time travel: three random recorded versions replay exactly
      rnd.shuffle(history.keys.toSeq).take(3).foreach { v =>
        val got = Snapshots.read(spark, dir, Some(v))
          .select("id", "v", "p").as[(Long, String, String)].collect()
          .map(r => r._1 -> ((r._2, r._3))).toMap
        assert(got == history(v), s"seed=$seed: version $v diverged")
      }
    }
  }

  test("concurrent commit race: loser throws, winner's manifest stands") {
    val dir = freshDir()
    Snapshots.init(spark, dir, base.toDF("id", "v", "p"), Some("p"))
    // Writer A has already created v2's manifest FILE (a torn one — so
    // writer B still resolves current=1 and targets v2, exactly the race
    // window). B's commit must fail without clobbering A's file.
    val clash = java.nio.file.Paths.get(dir, "_manifests", "v00000002.manifest")
    Files.write(clash, "#version 2\n".getBytes("UTF-8"))
    val winner = new String(Files.readAllBytes(clash), "UTF-8")
    intercept[java.util.ConcurrentModificationException] {
      Snapshots.append(spark, dir, Seq((6L, "six", "c")).toDF("id", "v", "p"))
    }
    assert(new String(Files.readAllBytes(clash), "UTF-8") == winner)
    // B's orphaned pool files are swept by vacuum (grace 0: the race is
    // decided in-test, nothing is genuinely in flight)
    Snapshots.vacuum(spark, dir, keepLast = 1, inFlightGraceMs = 0)
    assert(rows(dir) == base.toSet)
  }

  test("vacuum grace window protects in-flight commit artifacts") {
    val dir = freshDir()
    Snapshots.init(spark, dir, base.toDF("id", "v", "p"), Some("p"))
    // simulate an in-flight commit: pool dir beyond current version with
    // a moved-but-not-yet-referenced file, plus a .write- tmp dir
    val inflight = java.nio.file.Paths.get(dir, "_data", "v00000002")
    Files.createDirectories(inflight)
    Files.write(inflight.resolve("a-part-0.parquet"), Array[Byte](1, 2, 3))
    val writeTmp = java.nio.file.Paths.get(dir, "_data", ".write-v00000002-x")
    Files.createDirectories(writeTmp)
    // default grace: presumed in flight, untouched
    Snapshots.vacuum(spark, dir, keepLast = 1)
    assert(Files.exists(inflight.resolve("a-part-0.parquet")))
    assert(Files.exists(writeTmp))
    // grace 0: treated as settled leftovers, swept
    val swept = Snapshots.vacuum(spark, dir, keepLast = 1, inFlightGraceMs = 0)
    assert(!Files.exists(inflight.resolve("a-part-0.parquet")))
    assert(!Files.exists(writeTmp))
    assert(swept.exists(_.contains("v00000002")))
  }

  test("epoch replay guard survives compaction and vacuum (high-water carry-forward)") {
    val dir = freshDir()
    Snapshots.init(spark, dir, base.toDF("id", "v", "p"), Some("p"))
    assert(Snapshots.commitEpoch(spark, dir,
      Seq((10L, "x", "a")).toDF("id", "v", "p"), epochId = 41).isDefined)
    // maintenance interleaves: un-stamped commits, then retention retires
    // the epoch-stamped manifest itself
    Snapshots.append(spark, dir, Seq((11L, "y", "b")).toDF("id", "v", "p"))
    Snapshots.compactPartitions(spark, dir, Seq("a"))
    Snapshots.vacuum(spark, dir, keepLast = 1, inFlightGraceMs = 0)
    // replay of epoch 41 (stream died before checkpointing) must still be
    // detected — the stamp rode forward on every later manifest
    assert(Snapshots.commitEpoch(spark, dir,
      Seq((10L, "x", "a")).toDF("id", "v", "p"), epochId = 41).isEmpty)
    // the next real epoch commits normally
    assert(Snapshots.commitEpoch(spark, dir,
      Seq((12L, "z", "c")).toDF("id", "v", "p"), epochId = 42).isDefined)
    assert(rows(dir).count(_._1 == 10L) == 1)
  }

  test("append and commitEpoch reject a batch whose columns differ from the table") {
    val dir = freshDir()
    Snapshots.init(spark, dir, base.toDF("id", "v", "p"), Some("p"))
    // misnamed column would silently read back as all-NULL forever
    val bad = Seq((6L, "six", "c")).toDF("id", "vv", "p")
    intercept[IllegalArgumentException](Snapshots.append(spark, dir, bad))
    intercept[IllegalArgumentException](Snapshots.commitEpoch(spark, dir, bad, 1L))
    // keyed commits: updates must match the table's columns, and delete
    // keys must carry the partition column
    val noKeys = spark.emptyDataset[(Long, String)].toDF("id", "p")
    intercept[IllegalArgumentException](Snapshots.upsert(spark, dir, bad, Seq("id")))
    intercept[IllegalArgumentException](Snapshots.applyKeyed(spark, dir, noKeys, bad, Seq("id")))
    val unpartitionedKeys = Seq(Tuple1(1L)).toDF("id")
    intercept[IllegalArgumentException](
      Snapshots.delete(spark, dir, unpartitionedKeys, Seq("id")))
    intercept[IllegalArgumentException](Snapshots.applyKeyed(spark, dir, unpartitionedKeys,
      Seq((1L, "ONE", "a")).toDF("id", "v", "p"), Seq("id")))
    assert(rows(dir) == base.toSet)
  }

  test("a partitioned commit writes one file per value with every shuffle partition as a task") {
    val dir = freshDir()
    val nParts = spark.sessionState.conf.numShufflePartitions
    val (_, jobs) = withJobStarts(Snapshots.init(spark, dir, base.toDF("id", "v", "p"), Some("p")))
    // the last job is the pool write; AQE folded a by-column repartition
    // of three small values into one writer task
    val write = jobs.maxBy(_.jobId).stageInfos.maxBy(_.stageId)
    assert(nParts > 1 && write.numTasks == nParts, s"pool write ran ${write.numTasks} tasks")
    val files = Snapshots.fileList(spark, dir, 1).groupBy(_._2).view.mapValues(_.size).toMap
    assert(files == Map("a" -> 1, "b" -> 1, "c" -> 1))
    assert(rows(dir) == base.toSet)
  }

  test("applyKeyed evaluates each batch side once and leaves no pin, committed or rejected") {
    val dir = freshDir()
    Snapshots.init(spark, dir, base.toDF("id", "v", "p"), Some("p"))
    val sc = spark.sparkContext
    // every read of a side runs its filter once per row
    def counted(df: DataFrame): (DataFrame, LongAccumulator) = {
      val reads = sc.longAccumulator
      (df.filter(udf { (_: Long) => reads.add(1); true }.apply(col("id"))), reads)
    }
    val (dels, delReads) = counted(sc.parallelize(Seq((2L, "a"), (5L, "c")), 2).toDF("id", "p"))
    val (ups, upReads) = counted(sc.parallelize(
      Seq((1L, "ONE", "a"), (9L, "nine", "b"), (10L, "ten", "b")), 2).toDF("id", "v", "p"))
    val before = sc.getPersistentRDDs.keySet
    assert(Snapshots.applyKeyed(spark, dir, dels, ups, Seq("id")) == Some(2))
    // one read per row of each side (2 deletes, 3 updates); unpinned, the
    // delete side was read twice and the update side three times
    assert(delReads.value == 2 && upReads.value == 3, s"${delReads.value}, ${upReads.value}")
    assert(rows(dir) == Set((1L, "ONE", "a"), (3L, "three", "b"), (4L, "four", "b"),
      (9L, "nine", "b"), (10L, "ten", "b")))
    assert(sc.getPersistentRDDs.keySet == before)
    val emptyKeys = spark.emptyDataset[(Long, String)].toDF("id", "p")
    val e = intercept[IllegalArgumentException](Snapshots.applyKeyed(spark, dir, emptyKeys,
      Seq((6L, "six", null.asInstanceOf[String])).toDF("id", "v", "p"), Seq("id")))
    assert(e.getMessage.contains("null p in keyed batch"), e.getMessage)
    assert(Snapshots.currentVersion(spark, dir) == 2)
    assert(sc.getPersistentRDDs.keySet == before)
  }

  test("a lost keyed-batch pin fails the commit loudly; the table and the session stay as they were") {
    val dir = freshDir()
    Snapshots.init(spark, dir, base.toDF("id", "v", "p"), Some("p"))
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val dropped = new java.util.concurrent.atomic.AtomicReference(Set.empty[Int])
    // drop the pins' blocks once the first job after the pin jobs starts
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val pins = sc.getPersistentRDDs.filter { case (id, _) => !before(id) }
        if (dropped.get.isEmpty && pins.nonEmpty && !e.stageInfos.exists(_.name.contains("Pin.scala"))) {
          dropped.set(pins.keySet.toSet)
          pins.values.foreach(_.unpersist(blocking = true))
        }
      }
    }
    sc.addSparkListener(listener)
    val e = try intercept[Exception](Snapshots.applyKeyed(spark, dir,
      Seq((2L, "a")).toDF("id", "p"), Seq((9L, "nine", "b")).toDF("id", "v", "p"), Seq("id")))
    finally sc.removeSparkListener(listener)
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString("\n")
    assert(dropped.get.size == 2, dropped.get)
    assert(messages.contains("Checkpoint block rdd_"), messages)
    assert(Snapshots.currentVersion(spark, dir) == 1)
    assert(rows(dir) == base.toSet)
    assert(sc.getPersistentRDDs.keySet == before)
  }

  test("one way to cluster a partitioned write: no by-column repartition in main sources") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root))
    val offenders = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(f => new String(java.nio.file.Files.readAllBytes(f), "UTF-8").contains("repartition(col("))
      .toSeq
    assert(offenders.isEmpty, s"cluster through catalog.Tables.clustered: ${offenders.mkString(", ")}")
  }

  test("non-filesystem-plain and null partition values are rejected at commit") {
    val dir = freshDir()
    // ':' forces hive path-escaping (__part=a%3Ab): the manifest value
    // would diverge from the raw value callers prune/replace with
    intercept[IllegalArgumentException](Snapshots.init(spark, dir,
      Seq((1L, "one", "a:b")).toDF("id", "v", "p"), Some("p")))
    val dir2 = freshDir()
    intercept[IllegalArgumentException](Snapshots.init(spark, dir2,
      Seq((1L, "one", null.asInstanceOf[String])).toDF("id", "v", "p"), Some("p")))
  }

  test("concurrent keyed upserts never lose an update (pinned base + exclusive commit)") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val dir = freshDir()
    Snapshots.init(spark, dir, base.toDF("id", "v", "p"), Some("p"))
    def upsertRetrying(row: (Long, String, String)): Unit = {
      var done = false
      var tries = 0
      while (!done) {
        try {
          Snapshots.upsert(spark, dir, Seq(row).toDF("id", "v", "p"), Seq("id"))
          done = true
        } catch {
          case _: java.util.ConcurrentModificationException =>
            tries += 1; assert(tries < 20, "upsert starved")
        }
      }
    }
    val f1 = Future(upsertRetrying((1L, "ONE", "a")))
    val f2 = Future(upsertRetrying((3L, "THREE", "b")))
    Await.result(f1, 120.seconds)
    Await.result(f2, 120.seconds)
    // both writers' rows present: the loser observed CME and retried
    // instead of silently overwriting the winner's commit
    val got = rows(dir)
    assert(got.contains((1L, "ONE", "a")) && got.contains((3L, "THREE", "b")))
    assert(got.size == base.size)
  }

  test("tags pin versions: readable by name, immune to vacuum retention") {
    val dir = freshDir()
    Snapshots.init(spark, dir, base.toDF("id", "v", "p"), Some("p"))
    Snapshots.tag(spark, dir, "v1-release")
    Snapshots.append(spark, dir, Seq((6L, "six", "c")).toDF("id", "v", "p"))
    Snapshots.append(spark, dir, Seq((7L, "seven", "c")).toDF("id", "v", "p"))
    // retention would drop v1, but the tag pins it
    Snapshots.vacuum(spark, dir, keepLast = 1)
    assert(Snapshots.readTag(spark, dir, "v1-release")
      .as[(Long, String, String)].collect().toSet == base.toSet)
    assert(rows(dir).size == 7)
    // tags are immutable; dropTag is the explicit override
    intercept[IllegalStateException] { Snapshots.tag(spark, dir, "v1-release") }
    Snapshots.dropTag(spark, dir, "v1-release")
    assert(Snapshots.tags(spark, dir).isEmpty)
  }

  test("zero-copy branch: isolated commits, vacuum-safe base, fast-forward merge") {
    val dir = freshDir()
    Snapshots.init(spark, dir, base.toDF("id", "v", "p"), Some("p"))
    val bd = Snapshots.createBranch(spark, dir, "exp")
    // branch v1 reads the base files in place — no data was copied
    assert(Snapshots.read(spark, bd).as[(Long, String, String)]
      .collect().toSet == base.toSet)
    // commits on the branch are invisible to main
    Snapshots.append(spark, bd, Seq((6L, "six", "c")).toDF("id", "v", "p"))
    Snapshots.delete(spark, bd, Seq((1L, "a")).toDF("id", "p"), Seq("id"))
    assert(rows(dir) == base.toSet)
    val expect = base.toSet - ((1L, "one", "a")) + ((6L, "six", "c"))
    assert(Snapshots.read(spark, bd).as[(Long, String, String)]
      .collect().toSet == expect)
    // main vacuum must not sweep base files a live branch references
    Snapshots.vacuum(spark, dir, keepLast = 1)
    assert(Snapshots.read(spark, bd).as[(Long, String, String)]
      .collect().toSet == expect)
    // fast-forward merge adopts the branch head onto main and removes it
    val v = Snapshots.mergeBranch(spark, dir, "exp")
    assert(rows(dir) == expect && Snapshots.currentVersion(spark, dir) == v)
    assert(Snapshots.branches(spark, dir).isEmpty)
    // pre-merge main state is still one time-travel read away
    assert(rows(dir, Some(v - 1)) == base.toSet)
  }

  test("mergeBranch refuses a diverged main; dropBranch discards cleanly") {
    val dir = freshDir()
    Snapshots.init(spark, dir, base.toDF("id", "v", "p"), Some("p"))
    Snapshots.createBranch(spark, dir, "exp")
    Snapshots.append(spark, Snapshots.branch(dir, "exp"),
      Seq((6L, "six", "c")).toDF("id", "v", "p"))
    // main advances after the branch was cut
    Snapshots.append(spark, dir, Seq((9L, "nine", "a")).toDF("id", "v", "p"))
    intercept[IllegalArgumentException] { Snapshots.mergeBranch(spark, dir, "exp") }
    Snapshots.dropBranch(spark, dir, "exp")
    assert(Snapshots.branches(spark, dir).isEmpty)
    assert(rows(dir) == base.toSet + ((9L, "nine", "a")))
  }
}
