package graft.sources

import graft.SparkTestBase
import org.apache.spark.sql.functions._

import java.nio.file.Files

class LakeIOSpec extends SparkTestBase {

  test("mostRecentParquet picks the newest file") {
    val dir = Files.createTempDirectory("graft_lake").toFile
    val s = spark
    import s.implicits._
    Seq(1).toDF("v").write.parquet(s"$dir/a.parquet")
    Thread.sleep(1100)
    Seq(2).toDF("v").write.parquet(s"$dir/b.parquet")
    val newest = LakeIO.mostRecentParquet(spark, s"$dir/*.parquet")
    assert(newest.endsWith("b.parquet"))
    assert(spark.read.parquet(newest).head.getInt(0) == 2)
  }

  test("stage-and-rename primitives: commit, swap, restore, moveAside") {
    import org.apache.hadoop.fs.Path
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_commit").toString
    val fs = LakeIO.fsFor(spark, dir)
    def put(p: Path, v: Int): Unit =
      Seq(v).toDF("v").write.mode("overwrite").parquet(p.toString)
    def read(p: Path): Seq[Int] =
      spark.read.parquet(p.toString).as[Int].collect().toSeq
    // commit: debris at the destination is replaced, never nested into
    val (tmp, dst) = (new Path(s"$dir/_tmp_v1"), new Path(s"$dir/v1"))
    put(dst, 0); put(tmp, 1)
    LakeIO.commit(fs, tmp, dst, "spec")
    assert(read(dst) == Seq(1) && !fs.exists(tmp))
    assert(fs.listStatus(dst).forall(_.isFile), "staged dir nested in debris")
    // swap: onto a missing live, then over an existing one
    val live = new Path(s"$dir/t.parquet")
    val staged = new Path(s"$dir/_staging/t.parquet")
    put(staged, 2)
    LakeIO.swap(fs, staged, live, "spec")
    put(staged, 3)
    LakeIO.swap(fs, staged, live, "spec")
    assert(read(live) == Seq(3))
    assert(!fs.exists(staged) && !fs.exists(LakeIO.retired(live)))
    // restore: live present is a no-op; with live gone the FIRST
    // existing candidate wins; no candidate reports false
    put(LakeIO.compacting(live), 4)
    assert(LakeIO.restore(fs, live, Seq(LakeIO.compacting(live))))
    assert(read(live) == Seq(3))
    require(fs.rename(live, LakeIO.retired(live)))
    assert(LakeIO.restore(fs, live,
      Seq(LakeIO.retired(live), LakeIO.compacting(live))))
    assert(read(live) == Seq(3) && fs.exists(LakeIO.compacting(live)))
    fs.delete(live, true)
    assert(!LakeIO.restore(fs, live, Seq(LakeIO.retired(live))))
    // moveAside: into a fresh parent, replacing an older copy there
    val aside = new Path(s"$dir/_quarantine/t.parquet")
    LakeIO.moveAside(fs, LakeIO.compacting(live), aside, "spec")
    put(staged, 5)
    LakeIO.moveAside(fs, staged, aside, "spec")
    assert(read(aside) == Seq(5) && !fs.exists(staged))
    // a failed rename throws instead of reporting false
    intercept[java.io.IOException](LakeIO.moveAside(fs,
      new Path(s"$dir/missing"), new Path(s"$dir/elsewhere"), "spec"))
  }

  test("lightcast csv loader types the analytics columns") {
    val dir = Files.createTempDirectory("graft_lc").toFile
    val csv = new java.io.File(dir, "lightcast.csv")
    Files.writeString(csv.toPath,
      """Occupation (SOC),Total Postings (Jan 2024 - Jun 2025),Median Posting Duration
        |Software Developers,12000,35.0
        |Police Officers,4000,28.5""".stripMargin)
    val df = LakeIO.readLightcastCsv(spark, csv.getAbsolutePath)
    assert(df.schema("Total Postings (Jan 2024 - Jun 2025)").dataType.typeName == "integer")
    assert(df.schema("Median Posting Duration").dataType.typeName == "double")
    assert(df.count() == 2)
  }

  test("bronze audit columns + lake registration") {
    val dir = Files.createTempDirectory("graft_bronze").toFile
    val s = spark
    import s.implicits._
    Seq((1, "x"), (2, "y")).toDF("id", "v")
      .write.parquet(s"$dir/My-Table Name.parquet")
    spark.sql("DROP TABLE IF EXISTS bronze.my_table_name")
    // catalog is in-memory per JVM but the warehouse dir persists
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"),
      "bronze.db/my_table_name"))
    val tables = Bronze.registerLake(spark, dir.getAbsolutePath)
    assert(tables == Seq("my_table_name"))
    val bronze = spark.table("bronze.my_table_name")
    assert(bronze.columns.toSet.contains("_source_file"))
    assert(bronze.columns.toSet.contains("_ingestion_timestamp"))
    assert(bronze.select("_record_id").distinct().count() == 2)
    assert(bronze.select("_source_file").head.getString(0) == "My-Table Name")
    // idempotent (IF NOT EXISTS semantics)
    Bronze.registerLake(spark, dir.getAbsolutePath)
    assert(spark.table("bronze.my_table_name").count() == 2)
  }

  test("distributed denseIds equals the single-partition window row_number") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(17)
    // more rows than partitions, skewed keys, shuffled input order
    val rows = rnd.shuffle((0 until 5000).map(i =>
      (i % 997, s"k${i % 37}", rnd.nextDouble())))
    val df = rows.toDF("a", "b", "v")
    val got = Bronze.denseIds(df, Seq("a", "b", "v"))
      .select("a", "b", "v", "_record_id").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getDouble(2)) -> r.getLong(3))
      .toMap
    val expected = rows.sortBy(t => (t._1, t._2, t._3)).zipWithIndex
      .map { case (t, i) => t -> (i + 1L) }.toMap
    assert(got.size == 5000)
    assert(got == expected)
  }
}
