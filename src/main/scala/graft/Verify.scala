package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the correctness gate's DuckDB compare.
  *
  *   Verify <sfDir> <outDir> [name,…]
  *
  * Given names (comma-separated), only those queries and their oracles
  * are written — a fast slice for `tools/oracle_check.py --no-verify`. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, names) = args match {
      case Array(sf, out) => (sf, out, SparkEntry.queries.keys.toSeq)
      case Array(sf, out, only) => (sf, out, only.split(',').toSeq)
    }
    val spark = graft.Sessions.local("graft-verify")
    new java.io.File(outDir).mkdirs()
    // hashedQuery: the no-oracle queries' dump carries the content_hash
    // drift column (GOLDENS.json) — the gate's rows-only check is
    // unaffected, and the written parquet is diffable round over round
    names.foreach { name =>
      try SparkEntry.hashedQuery(name)(spark, sfDir).coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
