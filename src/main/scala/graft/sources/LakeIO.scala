package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Lake file-layer utilities, Hadoop-FileSystem-generic.
  *
  *  - [[mostRecentParquet]]: S3 "most-recent file" resolution
  *    (/root/reference/src/utils.py:32-42) — newest parquet by modification
  *    time under a path/glob.
  *  - [[listLake]]: S4 bucket glob listing (utils.py:161-169).
  *
  * The lake's stage-and-rename commit lives here and nowhere else: every
  * lake table, silver index and bronze location publishes by writing a
  * staged directory in full and renaming it into place, through
  *  - [[fsFor]]: the driver's FileSystem lookup, resolved from the PATH
  *    over the session's Hadoop conf;
  *  - [[commit]]: a staged directory onto a fresh name (intents, `v<n>`
  *    versions);
  *  - [[swap]]: a staged directory onto a live one, retiring the old copy
  *    to [[retired]] until the new one is in place (lake promotion,
  *    silver rewrites);
  *  - [[restore]]: the recovery of a crash between the two renames of a
  *    swap;
  *  - [[moveAside]]: a directory out of the way without deleting it
  *    (quarantine, orphaned bronze locations).
  * A Hadoop rename reports failure as `false`; every primitive turns that
  * into an exception, because the step after a failed rename (dropping
  * the retired copy, retiring old versions) would delete the only copy.
  *
  * Recovery takes its candidates per call, and the two callers differ on
  * purpose: a silver rewrite restores the retired copy or else its
  * [[compacting]] copy, a finished rewrite of approved data; ingest
  * restores only the retired copy, because its staged batch has not
  * passed the expectation gate and promoting it would serve unaudited
  * rows.
  *
  * The s3a path is proven by S3LakeRoundTripSpec, which runs these
  * helpers AND the whole ingest→bronze→gold chain against
  * `s3a://bucket/...` URIs backed by an in-JVM object store with S3A
  * semantics (graft.testkit.InMemS3FileSystem, where a rename is
  * copy+delete) — against real S3/MinIO only `fs.s3a.impl` and
  * credentials change (the reference's substrate, docker-compose.yml:2-18).
  */
object LakeIO {

  /** The FileSystem holding `path`, resolved FROM the path —
    * FileSystem.get(conf) returns the default FS and throws "Wrong FS"
    * for any other scheme (an s3a:// lake on an hdfs-default cluster).
    * The session's Hadoop conf carries per-session `fs.*` settings on top
    * of the context's. Driver-side only: executors get their conf
    * shipped. */
  private[graft] def fsFor(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  /** Where [[swap]] keeps the previous live copy while it renames. */
  private[graft] def retired(live: Path): Path =
    new Path(live.toString + "__retired")

  /** The staging directory of a rewrite of `live` in place. */
  private[graft] def compacting(live: Path): Path =
    new Path(live.toString + "__compacting")

  /** Rename the fully written `staged` onto `dst`, a name no reader
    * serves yet; debris of an earlier attempt at `dst` is cleared first
    * (a Hadoop rename onto an existing directory nests inside it). */
  private[graft] def commit(fs: FileSystem, staged: Path, dst: Path,
      what: String): Unit = {
    fs.delete(dst, true)
    require(fs.rename(staged, dst),
      s"$what commit rename failed: $staged -> $dst")
  }

  /** Replace `live` by the fully written `staged`: retire live, rename
    * staged onto it, then drop the retired copy. A crash leaves the old
    * table, the retired copy (see [[restore]]) or the new table, never a
    * half-written one. A missing live (a first promotion) just renames. */
  private[graft] def swap(fs: FileSystem, staged: Path, live: Path,
      what: String): Unit = {
    val old = retired(live)
    fs.delete(old, true)
    if (fs.exists(live))
      require(fs.rename(live, old), s"$what: could not retire $live")
    require(fs.rename(staged, live),
      s"$what: could not activate $staged -> $live — old table at $old")
    fs.delete(old, true)
  }

  /** When `live` is missing, rename the first existing of `candidates`
    * back into place. True iff `live` exists afterwards. Run before
    * anything deletes debris: with live gone, the candidates may be the
    * only copies. */
  private[graft] def restore(fs: FileSystem, live: Path,
      candidates: Seq[Path]): Boolean =
    fs.exists(live) || (candidates.find(fs.exists) match {
      case Some(src) =>
        require(fs.rename(src, live), s"could not restore $src to $live")
        true
      case None => false
    })

  /** Move `src` to `dst` whole (replacing an older `dst`), keeping the
    * bytes for an operator instead of deleting them. */
  private[graft] def moveAside(fs: FileSystem, src: Path, dst: Path,
      what: String): Unit = {
    fs.mkdirs(dst.getParent)
    fs.delete(dst, true)
    if (!fs.rename(src, dst))
      throw new java.io.IOException(s"$what: could not move $src -> $dst")
  }

  def listLake(spark: SparkSession, pattern: String): Seq[String] = {
    val p = new Path(pattern)
    Option(fsFor(spark, pattern).globStatus(p)).map(_.toSeq).getOrElse(Nil)
      .map(_.getPath.toString)
  }

  /** Newest parquet under `path` (a file, a dir, or a glob). */
  def mostRecentParquet(spark: SparkSession, path: String): String = {
    val p = new Path(path)
    val f = fsFor(spark, path)
    // a candidate may be a single parquet file or a Spark-written
    // directory-of-parts — both are readable artifacts
    val candidates =
      if (f.exists(p) && f.getFileStatus(p).isFile) Seq(f.getFileStatus(p))
      else {
        val direct = Option(f.globStatus(p)).map(_.toSeq).getOrElse(Nil)
        if (direct.nonEmpty && !(direct.lengthCompare(1) == 0 && direct.head.isDirectory
            && direct.head.getPath.toString == f.makeQualified(p).toString)) direct
        else Option(f.globStatus(new Path(p, "*.parquet"))).map(_.toSeq)
          .getOrElse(Nil)
      }
    require(candidates.nonEmpty, s"No files found matching $path")
    candidates.maxBy(_.getModificationTime).getPath.toString
  }

  /** Lightcast-style analytics-table loader (SURVEY §2.1 S6). The reference
    * lands XLSX manually; the engine's supported path is header CSV (the
    * documented pre-conversion), typed via explicit casts. */
  def readLightcastCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").csv(path)
      .withColumn("Total Postings (Jan 2024 - Jun 2025)",
        col("Total Postings (Jan 2024 - Jun 2025)").cast("int"))
      .withColumn("Median Posting Duration",
        col("Median Posting Duration").cast("double"))
}
