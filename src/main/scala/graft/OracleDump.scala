package graft

import java.nio.file.{Files, Paths}

/** Writes SparkEntry.oracleSql as oracle_sql.json — no SparkSession needed
  * (the oracle map is pure data). Exists so the oracle-dtype lint
  * (tools/oracle_lint.py) can check every oracle's DuckDB result types
  * without paying a full Verify run: DuckDB SUM over integer types returns
  * HUGEINT (INT128), which the driver's hash canonicalization serializes
  * differently from Spark's int64 — the round-4/5 q87 class of red row. */
object OracleDump {

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness. */
  def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def write(outDir: String, keep: String => Boolean = _ => true): Unit = {
    new java.io.File(outDir).mkdirs()
    val json = SparkEntry.oracleSql.filter { case (k, _) => keep(k) }
      .map { case (k, v) => s"${jsonStr(k)}: ${jsonStr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }

  def main(args: Array[String]): Unit = write(args(0))
}
