package perfbench

import graft.SparkEntry

/** Writes the expected-results file: every query of every pool, run once
  * with the noop sink (timed, for the pools' cost order) and once hashed.
  *
  * {{{
  * perfbench.Expect <tables dir> <out.json>
  * }}}
  */
object Expect {
  def main(argv: Array[String]): Unit = {
    val Array(data, out) = argv
    val t0 = System.nanoTime()
    val spark = Main.session()
    SparkEntry.prepare(spark, data)
    System.err.println(f"[expect] setup ${(System.nanoTime() - t0) / 1e9}%.3fs")
    val spans = new Spans
    val rows = (Pools.maintenance ++ Pools.corpus ++ Pools.olap).map { q =>
      val op = QueryWorkload.runOnce(spark, data, q, 1, spans)
      val c = QueryWorkload.check(spark, data, q)
      System.err.println(f"[expect] $q%-40s ${op.seconds}%.3fs rows=${c.rows} ${op.error.getOrElse("")}")
      q -> Map("rows" -> c.rows, "hash" -> c.hash, "seconds" -> op.seconds,
        "error" -> op.error.orElse(c.error))
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), Json(rows.toMap))
    System.exit(0)
  }
}
