package graft.catalog

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Slowly-changing-dimension type 2 maintenance — the warehouse-standard
  * versioned dimension (Kimball): every attribute change CLOSES the
  * current row (`valid_to` = change time) and INSERTS a new version
  * (`valid_from` = change time, `valid_to` null = current). q82 reads
  * such intervals; this operator is the write path that maintains them.
  *
  * [[applyChanges]] is a pure DataFrame transform (storage is
  * orthogonal — persist the result via [[Snapshots.applyKeyed]] keyed
  * by (key, valid_from)):
  *
  *   1. closed versions (`valid_to` set) pass through UNTOUCHED —
  *      history is immutable;
  *   2. open versions and the change batch merge into one per-key
  *      event stream ordered by time;
  *   3. consecutive events with identical attributes collapse (a CDC
  *      feed re-delivering an unchanged snapshot must NOT cut a new
  *      version — no-op suppression);
  *   4. `valid_to` = next surviving event's time; the last version per
  *      key stays open.
  *
  * Scale: ONE shuffle on the dimension key (two window passes over the
  * same partitioning); the change batch is typically tiny next to the
  * dimension, and closed history — the bulk of a years-old dimension —
  * never enters the shuffle at all. Deterministic: events are totally
  * ordered per key by time (the caller guarantees unique (key, ts)
  * within the merged open∪changes set — a CDC sequence number folded
  * into the timestamp does this), so the emitted intervals are unique.
  *
  * Out-of-order guard: a change timestamped BEFORE its key's open
  * `valid_from` would have to rewrite closed history to stay consistent
  * — [[applyChanges]] fails fast (loudly, the [[Rollup.appendBatch]]
  * discipline) instead of silently emitting overlapping intervals.
  */
object Scd2 {

  val From = "valid_from"
  val To = "valid_to"

  /** Fold `changes` (key ++ attrs ++ `ts`) into SCD2 dimension `dim`
    * (key ++ attrs ++ valid_from ++ valid_to). Returns the new
    * dimension with the same schema. */
  def applyChanges(dim: DataFrame, changes: DataFrame,
                   key: Seq[String], attrs: Seq[String]): DataFrame = {
    val outCols = (key ++ attrs ++ Seq(From, To)).map(col)
    val closed = dim.filter(col(To).isNotNull).select(outCols: _*)
    val open = dim.filter(col(To).isNull)

    val lateCount = changes.as("c")
      .join(open.select((key :+ From).map(col): _*).as("o"), key)
      .filter(col("ts") < col(From)).count()
    require(lateCount == 0L,
      s"$lateCount change(s) predate their key's open valid_from — " +
        "applying them would rewrite closed history; correct the feed " +
        "or rebuild the key's history explicitly")

    val ev = open.select((key ++ attrs).map(col) :+ col(From).as("_ts"): _*)
      .unionByName(changes.select((key ++ attrs).map(col) :+ col("ts").as("_ts"): _*))

    val byKey = Window.partitionBy(key.map(col): _*).orderBy(col("_ts"))
    val attrStruct: Column = struct(attrs.map(col): _*)
    val rebuilt = ev
      .withColumn("_prev", lag(attrStruct, 1).over(byKey))
      // keep the first event and every attribute CHANGE; null-safe so a
      // null attribute value doesn't read as perpetually-changed
      .filter(col("_prev").isNull || !(col("_prev") <=> attrStruct))
      .drop("_prev")
      .withColumn(From, col("_ts"))
      .withColumn(To, lead(col("_ts"), 1).over(byKey))
      .select(outCols: _*)

    closed.unionByName(rebuilt)
  }

  /** Convenience: the current (open) snapshot of an SCD2 dimension. */
  def current(dim: DataFrame, key: Seq[String], attrs: Seq[String]): DataFrame =
    dim.filter(col(To).isNull).select((key ++ attrs :+ From).map(col): _*)

  /** Point-in-time view: each key's version effective at `asOf`
    * (valid_from <= asOf < valid_to, open intervals unbounded). */
  def asOf(dim: DataFrame, asOfTs: Column,
           key: Seq[String], attrs: Seq[String]): DataFrame =
    dim.filter(col(From) <= asOfTs &&
        (col(To).isNull || col(To) > asOfTs))
      .select((key ++ attrs ++ Seq(From, To)).map(col): _*)
}
