package graft.tools

/** Regenerates GOLDENS.json — the pinned [[graft.queries.GoldenHash]]
  * content hashes for the no-oracle queries, at sf0.001 (what
  * GoldenHashSpec asserts) and sf0.01 (what the driver's Verify output
  * carries). Writes the file DIRECTLY (like PlanAudit) so sbt's [info]
  * log noise can never leak into the committed JSON. Run after any
  * INTENDED semantic change to one of these queries, eyeball the diff,
  * update GoldenHashSpec's pinned maps to match, commit:
  *
  *   sbt -batch "runMain graft.tools.GoldenDump"          # -> GOLDENS.json
  *   sbt -batch "runMain graft.tools.GoldenDump out.json <sfDir>..."
  */
object GoldenDump {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("GOLDENS.json")
    val dirs = if (args.length > 1) args.drop(1).toSeq
      else Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")
    val spark = graft.Sessions.local("golden-dump")
    val entries = for {
      dir <- dirs
      name <- graft.SparkEntry.noOracleHashed.toSeq.sorted
    } yield {
      val df = graft.SparkEntry.hashedQuery(name)(spark, dir)
      val rows = df.select(graft.queries.GoldenHash.column).take(1)
      val hash = rows.headOption.map(_.getString(0)).getOrElse("<empty>")
      val n = df.count()
      s"""  {"query":"$name","sf_dir":"$dir","rows":$n,"content_hash":"$hash"}"""
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
      entries.mkString("[\n", ",\n", "\n]\n"))
    println(s"wrote $out")
    spark.stop()
  }
}
