package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // clean slate: a reused outDir must not let a query that FAILS this
    // run be silently scored against a previous run's surviving parquet
    val outRoot = new java.io.File(outDir)
    if (outRoot.exists()) {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(outRoot)
    }
    outRoot.mkdirs()
    // dev aid (driver sets no env): SPARK_GRAFT_ONLY=q52,... dumps a subset,
    // and only its oracle entries, so a skipped query is not scored as a
    // missing output (a selected query that fails still is)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val selected = (name: String) => only.forall(_.exists(name.startsWith))
    SparkEntry.queries
      .filter { case (name, _) => selected(name) }
      .foreach { case (name, fn) =>
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          dumpCells(spark, outDir, name)
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        } finally Pin.releaseAll(spark)
      }
    OracleDump.write(outDir, selected)
    spark.stop()
  }

  /** Diagnosable-diff artifact: for small results, a canonical cell dump
    * (columns sorted by name, rows lexicographically sorted, exact value
    * reprs) written as a flat `<name>.cells.tsv` next to the parquet and
    * fingerprinted on stderr. If a hash gate ever reds on the driver while
    * passing locally (round-4 q87), the driver's log + outDir carry the
    * exact cells Spark produced, so the divergence is a diff away instead
    * of a mystery bit. Flat FILES, not a subdirectory: comparers that
    * glob outDir's directories as query results must not see a phantom
    * zero-row query. */
  private def dumpCells(spark: SparkSession, outDir: String, name: String): Unit = {
    val back = spark.read.parquet(s"$outDir/$name")
    val cols = back.columns.sorted
    val rows = back.select(cols.map(org.apache.spark.sql.functions.col): _*)
      .limit(201).collect()
    if (rows.length <= 200) {
      // canonical cell repr: UTC for temporal types (java.sql toString
      // renders in the JVM default TZ — the one artifact built to compare
      // hosts must not itself vary by host TZ), hex for binary at any
      // nesting depth, and escaped tabs/newlines so a text cell cannot
      // corrupt the TSV row/column structure
      def cell(v: Any): String = v match {
        case null => "NULL"
        case b: Array[Byte] => b.map("%02x".format(_)).mkString
        case t: java.sql.Timestamp =>
          java.time.format.DateTimeFormatter.ISO_INSTANT
            .format(t.toInstant.atOffset(java.time.ZoneOffset.UTC))
        case d: java.sql.Date =>
          java.time.Instant.ofEpochMilli(d.getTime)
            .atOffset(java.time.ZoneOffset.UTC).toLocalDate.toString
        case s: Seq[_] => s.map(cell).mkString("[", ",", "]")
        case r: org.apache.spark.sql.Row => r.toSeq.map(cell).mkString("{", ",", "}")
        case s: String => s.replace("\\", "\\\\").replace("\t", "\\t")
          .replace("\n", "\\n").replace("\r", "\\r")
        case v => v.toString
      }
      val lines = rows.map(_.toSeq.map(cell).mkString("\t")).sorted
      val txt = cols.mkString("\t") + "\n" + lines.mkString("\n") + "\n"
      Files.writeString(Paths.get(s"$outDir/$name.cells.tsv"), txt)
      val sha = java.security.MessageDigest.getInstance("SHA-256")
        .digest(txt.getBytes("UTF-8")).map("%02x".format(_)).mkString
      System.err.println(s"[verify-cells] $name rows=${lines.length} sha256=$sha")
    }
  }
}
