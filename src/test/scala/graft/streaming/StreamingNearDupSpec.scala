package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkTestBase
import graft.operators.Dedup
import graft.pipeline.SilverIndex

/** Streaming near-dup maintenance ([[SilverIndex.nearDupBatch]]):
  * each micro-batch emits only the pairs involving its genuinely-new
  * docs, so (1) the accumulated pairs table equals the from-scratch
  * batch [[Dedup.minhashLshPairs]], (2) the result is arrival-order
  * independent, and (3) a replayed batch emits zero pairs — the id
  * anti-join extends the exactly-once-index argument to the derived
  * pair stream. */
class StreamingNearDupSpec extends SparkTestBase {

  import spark.implicits._
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  // (1,2), (1,4), (2,4) are the θ=0.5 word-2-gram near-dups; 3 and 5
  // share nothing
  private val docs = Seq(
    (1L, "alpha beta gamma delta epsilon zeta eta theta"),
    (2L, "alpha beta gamma delta epsilon zeta eta iota"),
    (3L, "totally different words here nothing shared at all"),
    (4L, "alpha beta gamma delta epsilon zeta eta theta"),
    (5L, "one more unrelated document with its own tokens"))

  private def streamInto(root: String, batches: Seq[Seq[(Long, String)]])
      : Unit = {
    val input = MemoryStream[(Long, String)]
    val q = SilverIndex.onEachBatch(
      input.toDF().toDF("doc_id", "text"), s"$root/sig")(
      SilverIndex.nearDupBatch(_, _, "doc_id", "text",
        n = 2, numHashes = 64, rowsPerBand = 4, theta = 0.5,
        sigPath = s"$root/sig", pairsPath = s"$root/pairs"))
    try {
      batches.foreach { b =>
        input.addData(b: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
  }

  private def pairsAt(root: String): Set[(Long, Long, Double)] =
    spark.read.parquet(s"$root/pairs").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  private lazy val scratch: Set[(Long, Long, Double)] =
    Dedup.minhashLshPairs(docs.toDF("doc_id", "text"), "doc_id", "text",
        n = 2, numHashes = 64, rowsPerBand = 4, theta = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("accumulated stream pairs == from-scratch batch run") {
    val root = tmp("stream-neardup")
    streamInto(root, Seq(docs.take(3), docs.drop(3)))
    assert(pairsAt(root) == scratch)
    assert(scratch.map(p => (p._1, p._2)) ==
      Set((1L, 2L), (1L, 4L), (2L, 4L)))
  }

  test("arrival order does not change the final pair set") {
    val root = tmp("stream-neardup-rev")
    streamInto(root, Seq(docs.reverse.take(2), docs.reverse.drop(2)))
    assert(pairsAt(root) == scratch)
  }

  test("replayed delivery emits zero new pairs and zero new signatures") {
    val root = tmp("stream-neardup-replay")
    streamInto(root, Seq(docs))
    val before = pairsAt(root)
    val sigBefore = spark.read.parquet(s"$root/sig").count()

    // fresh stream, fresh checkpoint, same tables: worst-case
    // at-least-once replay re-delivers the whole corpus. The operator
    // pins its checkpoint under sigPath (deliberately — they travel
    // together), so the replay drives the same per-batch body with a
    // detached checkpoint, exactly as StreamingIndexSpec replays
    // refreshPostings.
    val input2 = MemoryStream[(Long, String)]
    val ckptRoot = tmp("stream-neardup-replay2")
    val q2 = input2.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            _: Long) =>
          val s = batch.sparkSession
          val ids = batch
            .select(org.apache.spark.sql.functions.col("doc_id").as("doc"))
            .distinct()
          val newIds = ids.join(
              s.read.parquet(s"$root/sig").select("doc"), Seq("doc"),
              "left_anti")
            .localCheckpoint(true)
          SilverIndex.refreshMinhash(batch, "doc_id", "text", 2, 64,
            s"$root/sig")
          Dedup.minhashPairsDelta(
              SilverIndex.minhashIndex(s, s"$root/sig"), newIds, 4, 0.5)
            .write.mode("append").parquet(s"$root/pairs")
          ()
      }
      .option("checkpointLocation", s"$ckptRoot/_ckpt")
      .start()
    try {
      input2.addData(docs: _*)
      q2.processAllAvailable()
    } finally q2.stop()

    assert(pairsAt(root) == before, "replay must not duplicate pairs")
    assert(spark.read.parquet(s"$root/sig").count() == sigBefore)
  }
}
