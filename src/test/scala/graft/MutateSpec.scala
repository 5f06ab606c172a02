package graft

import java.nio.file.{Files, Paths}
import graft.catalog.Snapshots

/** Keyed mutation (upsert / delete by key on a partitioned table) through
  * the one copy-on-write engine, `Snapshots.upsert`/`delete`: which rows
  * change, which partitions are read and rewritten, and which inputs are
  * refused. Versioning and time travel are covered in SnapshotsSpec. */
class MutateSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(): String = {
    val dir = Files.createTempDirectory("graft_mutate").resolve("t").toString
    Snapshots.init(spark, dir, Seq(
      (1L, "one", "a"), (2L, "two", "a"), (3L, "three", "a"),
      (4L, "four", "b"), (5L, "five", "b"),
      (6L, "six", "c"), (7L, "seven", "c"))
      .toDF("id", "v", "p"), Some("p"))
    dir
  }

  private def readAll(dir: String): Set[(Long, String, String)] =
    Snapshots.read(spark, dir).select("id", "v", "p")
      .as[(Long, String, String)].collect().toSet

  /** (path -> mtime) of the current version's files in partition `part`. */
  private def partFiles(dir: String, part: String): Map[String, Long] =
    Snapshots.fileList(spark, dir, Snapshots.currentVersion(spark, dir))
      .collect { case (path, `part`) =>
        path -> Files.getLastModifiedTime(Paths.get(dir, path)).toMillis }
      .toMap

  test("upsert replaces same-key rows, inserts new keys and new partitions") {
    val dir = freshTable()
    val before = Snapshots.fileList(spark, dir, 1).toSet
    val updates = Seq(
      (2L, "TWO", "a"),      // update in place
      (8L, "eight", "b"),    // insert into existing partition
      (9L, "nine", "d"))     // insert creating a new partition
      .toDF("id", "v", "p")
    assert(Snapshots.upsert(spark, dir, updates, Seq("id")) == 2)
    val rewritten = (Snapshots.fileList(spark, dir, 2).toSet -- before).map(_._2)
    assert(rewritten == Set("a", "b", "d"))
    assert(readAll(dir) == Set(
      (1L, "one", "a"), (2L, "TWO", "a"), (3L, "three", "a"),
      (4L, "four", "b"), (5L, "five", "b"), (8L, "eight", "b"),
      (6L, "six", "c"), (7L, "seven", "c"), (9L, "nine", "d")))
  }

  test("untouched partitions keep their exact files") {
    val dir = freshTable()
    val (b, c) = (partFiles(dir, "b"), partFiles(dir, "c"))
    assert(b.nonEmpty && c.nonEmpty)
    Snapshots.upsert(spark, dir, Seq((1L, "ONE", "a")).toDF("id", "v", "p"), Seq("id"))
    assert(partFiles(dir, "b") == b && partFiles(dir, "c") == c) // same paths, same mtimes
  }

  test("the base scan is partition-pruned to the affected values") {
    val dir = freshTable()
    // behavioral proof: with partition c's files gone, a mutation of
    // partition a still succeeds, so the base scan never opened them
    val cFiles = partFiles(dir, "c").keys.toSeq
    assert(cFiles.nonEmpty)
    cFiles.foreach(f => Files.delete(Paths.get(dir, f)))
    Snapshots.upsert(spark, dir, Seq((1L, "ONE", "a")).toDF("id", "v", "p"), Seq("id"))
    Snapshots.delete(spark, dir, Seq((4L, "b")).toDF("id", "p"), Seq("id"))
    assert(Snapshots.readPartitions(spark, dir, Seq("a", "b")).select("id", "v", "p")
      .as[(Long, String, String)].collect().toSet == Set(
      (1L, "ONE", "a"), (2L, "two", "a"), (3L, "three", "a"), (5L, "five", "b")))
    // c still listed, never rewritten
    assert(Snapshots.fileList(spark, dir, Snapshots.currentVersion(spark, dir))
      .collect { case (path, "c") => path }.toSet == cFiles.toSet)
  }

  test("delete removes matching keys; an emptied partition disappears") {
    val dir = freshTable()
    val before = Snapshots.fileList(spark, dir, 1).toSet
    Snapshots.delete(spark, dir,
      Seq((6L, "c"), (7L, "c"), (4L, "b")).toDF("id", "p"), Seq("id"))
    val after = Snapshots.fileList(spark, dir, 2).toSet
    assert((before -- after).map(_._2) == Set("b", "c"))
    assert(readAll(dir) == Set(
      (1L, "one", "a"), (2L, "two", "a"), (3L, "three", "a"), (5L, "five", "b")))
    assert(!after.exists(_._2 == "c"))
  }

  test("re-running the same upsert batch converges (idempotent retry)") {
    val dir = freshTable()
    val batch = Seq((2L, "TWO", "a"), (9L, "nine", "d")).toDF("id", "v", "p")
    Snapshots.upsert(spark, dir, batch, Seq("id"))
    val once = readAll(dir)
    Snapshots.upsert(spark, dir, batch, Seq("id"))
    assert(readAll(dir) == once)
  }

  test("schema and partition-value contracts are enforced") {
    val dir = freshTable()
    val before = readAll(dir)
    intercept[IllegalArgumentException] {
      Snapshots.upsert(spark, dir, Seq((1L, "a")).toDF("id", "p"), Seq("id"))
    }
    // ':' needs hive path escaping, so the stored value would not be raw
    intercept[IllegalArgumentException] {
      Snapshots.upsert(spark, dir,
        Seq((1L, "x", "bad:value")).toDF("id", "v", "p"), Seq("id"))
    }
    intercept[IllegalArgumentException] {
      Snapshots.delete(spark, dir, Seq(Tuple1(1L)).toDF("id"), Seq("id"))
    }
    assert(Snapshots.currentVersion(spark, dir) == 1 && readAll(dir) == before)
  }
}
