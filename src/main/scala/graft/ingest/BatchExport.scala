package graft.ingest

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** The deserialize/export contract (SURVEY §2.1 D1-D3, §3 EP3): aligned,
  * batched, shape-annotated input/output streams for a training consumer.
  *
  * Reference behavior preserved:
  *  - batches of exactly `batchSize`; the remainder beyond
  *    `nSamples / batchSize * batchSize` rows is dropped
  *    (`/root/reference/serialize.py:670, 744, 789`);
  *  - infinite epoch iteration (`serialize.py:731-795`);
  *  - shapes reported up front (`serialize.py:680-683`).
  *
  * Intentional fix: batches follow NUMERIC key order, not the reference's
  * lexicographic string-key accident (SURVEY §1.1).
  *
  * One layout per fit, as the reference opens its sorted LMDB once and
  * reads it sequentially (`serialize.py:637-795`): the key-sorted sink is
  * pinned once ([[graft.Pin]]), and the count that materializes it is
  * `nSamples`; `shapes` is its first row and every epoch is its
  * `toLocalIterator`, trimmed on the driver to `nBatches * batchSize`
  * rows. The pin is a full range-partitioned sort, not a top-K
  * `orderBy.limit`: that plans as `TakeOrderedAndProject` on ONE
  * partition, which at scale sends the whole epoch through a single
  * task's in-memory heap.
  *
  * Scale note: executors scan/sort; only one batch at a time crosses to
  * the driver via `toLocalIterator` — the driver never holds the dataset.
  */
final case class BatchExport(df: DataFrame, keyCol: String,
                             inputCols: Seq[String], outputCols: Seq[String],
                             batchSize: Int) {

  // reject at construction: batchSize 0 surfaced later as an opaque
  // ArithmeticException from nBatches
  require(batchSize > 0, s"BatchExport: batchSize must be positive, got $batchSize")

  /** The pinned layout; its row count is `nSamples`. Pinning once also
    * snapshots the sink and fixes ONE sort layout, so ties broken
    * differently by a re-executed range sample cannot reshuffle batch
    * membership between epochs, and no epoch re-sorts the corpus (the
    * q139 repeated-scan pattern). A lost block fails the next epoch
    * loudly (the reference's restart posture). Call [[release]] when the
    * consumer is done. */
  private var pin: Option[graft.Pin] = None
  private def pinned: graft.Pin = synchronized {
    pin.getOrElse {
      val p = graft.Pin(df.orderBy(col(keyCol)))
      pin = Some(p)
      p
    }
  }

  lazy val nSamples: Long = pinned.rows
  lazy val nBatches: Long = nSamples / batchSize

  /** Shapes from schema metadata — no data probe needed for fixed-width
    * types; array lengths come from the pin's first row (the reference's
    * shape probe, D2, minus its early-return bug `serialize.py:728`). */
  lazy val shapes: Map[String, Seq[Int]] = {
    val probe = pinned.df.head(1).headOption
    (inputCols ++ outputCols).map { c =>
      val shape = df.schema(c).dataType match {
        case ArrayType(_, _) =>
          probe.map(r => Seq(r.getAs[scala.collection.Seq[Any]](c).size)).getOrElse(Seq(0))
        case st: StructType if Seq("height", "width", "channels").forall(f => st.fieldNames.contains(f)) =>
          probe.map { r =>
            val s = r.getAs[Row](c)
            Seq(s.getAs[Int]("height"), s.getAs[Int]("width"), s.getAs[Int]("channels"))
          }.getOrElse(Seq(0, 0, 0))
        case _ => Seq(1)
      }
      c -> shape
    }.toMap
  }

  /** Drop the pinned epoch layout now (no-op before the first pin). The
    * next use pins again. */
  def release(): Unit = synchronized {
    pin.foreach(_.release())
    pin = None
  }

  /** One epoch: `nBatches` batches of `(inputs, outputs)` column-major
    * row groups, in numeric key order. Throws IllegalStateException if
    * the layout runs out before `nBatches` full batches. Rows are pulled
    * only by library iterators, so the epoch's Spark jobs carry the
    * consumer's call site. */
  def epoch(): Iterator[(Map[String, IndexedSeq[Any]], Map[String, IndexedSeq[Any]])] = {
    import scala.jdk.CollectionConverters._
    val groups = pinned.df.toLocalIterator().asScala.grouped(batchSize)
    var served = 0L
    def short() = throw new IllegalStateException(
      s"BatchExport: epoch layout ran out after $served of $nBatches batches of $batchSize")
    Iterator.iterate(1L)(_ + 1).takeWhile(_ <= nBatches).zip(groups).map { case (_, rows) =>
      if (rows.size < batchSize) short()
      served += 1
      val batch = rows.toIndexedSeq
      def cols(cs: Seq[String]) = cs.map(c => c -> batch.map(_.getAs[Any](c))).toMap
      (cols(inputCols), cols(outputCols))
    } ++ { if (served < nBatches) short(); Iterator.empty }
  }

  /** Infinite generator over epochs (reference `batch_generator`). */
  def batches(epochs: Int = -1): Iterator[(Map[String, IndexedSeq[Any]], Map[String, IndexedSeq[Any]])] =
    if (epochs < 0) Iterator.continually(epoch()).flatten
    else Iterator.range(0, epochs).flatMap(_ => epoch())
}
