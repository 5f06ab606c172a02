package perfbench

import org.apache.spark.sql.{DataFrame, Row}

/** Pure helpers of the benchmark: order statistics, job-interval
  * arithmetic, the order-insensitive result hash and the mapping from a
  * Spark job's call site to the engine layer that launched it. */
object Stats {

  /** Linear-interpolation percentile (`p` in [0, 100]) of a non-empty
    * sample: the value at rank `p/100 * (n-1)` of the sorted sample. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(p >= 0 && p <= 100, s"percentile rank out of range: $p")
    val s = xs.sorted
    val r = p / 100 * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Total length of the union of half-open intervals `[start, end)`,
    * each clipped to `[lo, hi)`. Overlapping jobs count once, so the
    * result is the time at least one job was running inside the window. */
  def unionLength(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals
      .map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  private val Frame = """\s*(graft|perfbench)\.([A-Za-z0-9_$]+)\..*\(([A-Za-z0-9_$]+\.scala):\d+\)""".r

  /** Layer and source file of a Spark job, from the long form of its call
    * site (the user-code stack, innermost frame first). The innermost
    * engine frame names both: `graft.ingest.Ingest$.readWithBinding
    * (Ingest.scala:224)` is layer `ingest`, file `Ingest.scala`; a frame
    * in the engine's top-level package (`graft.SparkEntry$`) is layer
    * `graft`. A job the benchmark launches itself (the noop write, the
    * calibration probe) maps to `perfbench`; no user frame at all maps to
    * `spark`. */
  def siteOf(callSiteLong: String): (String, String) =
    Option(callSiteLong).getOrElse("").linesIterator.collectFirst {
      case Frame("perfbench", _, file) => ("perfbench", file)
      case Frame(_, pkg, file) => (if (pkg.head.isLower) pkg else "graft", file)
    }.getOrElse(("spark", ""))

  /** Canonical text of one cell: exact, and independent of the JVM's
    * time zone and of map iteration order. */
  def cell(v: Any): String = v match {
    case null => "∅"
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("0x", "", "")
    case t: java.sql.Timestamp => t.toInstant.toString
    case d: java.sql.Date => d.toLocalDate.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => cell(k) + "->" + cell(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(cell).mkString("(", ",", ")")
    case x => x.toString
  }

  /** 64-bit digest of one row's canonical text. */
  def rowDigest(cells: Seq[Any]): Long = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val d = md.digest(cells.map(cell).mkString("\u241f").getBytes("UTF-8"))
    java.nio.ByteBuffer.wrap(d).getLong
  }

  /** Order-insensitive hash of a multiset of row digests: the digests are
    * sorted, so any row order gives the same value and duplicate rows
    * still count. */
  def combine(digests: Array[Long]): String = {
    val sorted = digests.sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val buf = java.nio.ByteBuffer.allocate(8)
    sorted.foreach { d => buf.clear(); buf.putLong(d); md.update(buf.array()) }
    md.digest().take(12).map("%02x".format(_)).mkString
  }

  /** (row count, order-insensitive hash) of a result. Cells are taken in
    * column-name order so the hash does not depend on projection order
    * either. */
  def resultHash(df: DataFrame): (Long, String) = {
    val order = df.columns.zipWithIndex.sortBy(_._1).map(_._2).toIndexedSeq
    val digests = df.collect().map(r => rowDigest(order.map(r.get)))
    (digests.length.toLong, combine(digests))
  }
}
