package graft.pipeline

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.operators.TextSearch

/** Continuous index maintenance ([[SilverIndex.onEachBatch]]):
  * micro-batches fold into the index through the same exact batch
  * refreshes, so (1) the streamed index equals the from-scratch build
  * over everything that arrived, and (2) a REPLAYED batch (foreachBatch
  * is at-least-once) appends zero rows — the id anti-join turns
  * at-least-once delivery into an exactly-once index. */
class StreamingIndexSpec extends SparkTestBase {

  import spark.implicits._
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/ix"

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "a ship sails to the harbor and the crew is glad"),
    (3L, "the dog barks at the ship in the harbor"),
    (4L, "completely different words entirely unrelated tokens"),
    (5L, "the quick brown fox naps under the lazy tree"))

  test("streamed postings == from-scratch; replayed batch appends zero") {
    val path = tmp("stream-postings")
    val input = MemoryStream[(Long, String)]
    val q = SilverIndex.onEachBatch(
      input.toDF().toDF("doc_id", "text"), path)(
      (b, _) => SilverIndex.refreshPostings(b, "doc_id", "text", path))
    try {
      input.addData(docs.take(3): _*)
      q.processAllAvailable()
      input.addData(docs.drop(3): _*)
      q.processAllAvailable()
    } finally q.stop()

    val streamed = SilverIndex.postingsIndex(spark, path)
      .collect().map(_.toString).toSet
    val scratch = TextSearch.postings(
      docs.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(_.toString).toSet
    assert(streamed == scratch)

    // replay: a fresh stream (new checkpoint) re-delivers everything —
    // the worst-case at-least-once failure mode. The index must not grow.
    val before = SilverIndex.postingsIndex(spark, path).count()
    val replay = MemoryStream[(Long, String)]
    val q2 = SilverIndex.onEachBatch(
      replay.toDF().toDF("doc_id", "text"),
      tmp("stream-postings-replay-ckpt"))( // checkpoint elsewhere, same index
      (b, _) => SilverIndex.refreshPostings(b, "doc_id", "text", path))
    try {
      replay.addData(docs: _*)
      q2.processAllAvailable()
    } finally q2.stop()
    assert(SilverIndex.postingsIndex(spark, path).count() == before,
      "replayed batch must append zero rows")

    // and the streamed index serves queries exactly like a live build
    val fromIx = SilverIndex.bm25TopKFromIndex(spark, path, "harbor ship", 3)
      .select("doc").as[Long].collect().toSet
    val live = TextSearch.bm25TopK(docs.toDF("doc_id", "text"),
      "doc_id", "text", "harbor ship", 3)
      .select("doc").as[Long].collect().toSet
    assert(fromIx == live)

    // and the batched entry point agrees with the single-query one
    val batched = SilverIndex.bm25TopKBatchFromIndex(spark, path,
      Seq(("only", "harbor ship")).toDF("qid", "qtext"), "qid", "qtext",
      k = 3)
      .select("doc").as[Long].collect().toSet
    assert(batched == fromIx)
  }

  test("streamed IVF == batch-incremental IVF; compaction defragments, same rows") {
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val batch1 = emb.where(col("vec_id") % 4 =!= 0)
      .as[(Long, Array[Float])].collect().toSeq
    val batch2 = emb.where(col("vec_id") % 4 === 0)
      .as[(Long, Array[Float])].collect().toSeq

    val streamPath = tmp("stream-ivf")
    val input = MemoryStream[(Long, Array[Float])]
    val q = SilverIndex.onEachBatch(
      input.toDF().toDF("vec_id", "embedding"), streamPath)(
      (b, _) => SilverIndex.refreshIvf(b, "vec_id", "embedding",
        nlist = 8, path = streamPath))
    try {
      input.addData(batch1: _*)
      q.processAllAvailable() // trains + freezes the quantizer
      input.addData(batch2: _*)
      q.processAllAvailable() // assign-and-append against frozen lists
    } finally q.stop()

    // same arrival order through the BATCH refresh: identical artifact
    val batchPath = tmp("batch-ivf")
    SilverIndex.refreshIvf(emb.where(col("vec_id") % 4 =!= 0),
      "vec_id", "embedding", nlist = 8, path = batchPath)
    SilverIndex.refreshIvf(emb, "vec_id", "embedding",
      nlist = 8, path = batchPath)
    def assignedSet(p: String) = SilverIndex.ivfAssigned(spark, p)
      .select(col("neighbor_id"), col("list_id"))
      .collect().map(_.toString).toSet
    assert(assignedSet(streamPath) == assignedSet(batchPath))

    // two appends fragmented the table; compaction keeps rows, drops files
    val statsBefore = SilverIndex.ivfStats(spark, streamPath)
    assert(statsBefore.rows == emb.count())
    val rowsBefore = assignedSet(streamPath)
    SilverIndex.compactIvf(spark, streamPath)
    val statsAfter = SilverIndex.ivfStats(spark, streamPath)
    assert(assignedSet(streamPath) == rowsBefore, "compaction must not change rows")
    assert(statsAfter.rows == statsBefore.rows &&
      statsAfter.lists == statsBefore.lists)
    assert(statsAfter.files < statsBefore.files,
      s"expected fewer files after compaction, " +
        s"got ${statsBefore.files} -> ${statsAfter.files}")

    // the imbalance verdict is a computation, not folklore: a threshold
    // below the measured imbalance flips the recommendation
    assert(!SilverIndex.ivfStats(spark, streamPath, imbalanceThreshold = 1e9)
      .rebuildRecommended)
    assert(SilverIndex.ivfStats(spark, streamPath,
      imbalanceThreshold = statsAfter.imbalance - 1e-9).rebuildRecommended)
  }

  test("streamed IVF-PQ == batch-incremental IVF-PQ (frozen residual codebooks)") {
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val batch1 = emb.where(col("vec_id") % 4 =!= 0)
      .as[(Long, Array[Float])].collect().toSeq
    val batch2 = emb.where(col("vec_id") % 4 === 0)
      .as[(Long, Array[Float])].collect().toSeq

    val streamPath = tmp("stream-ivfpq")
    val input = MemoryStream[(Long, Array[Float])]
    val q = SilverIndex.onEachBatch(
      input.toDF().toDF("vec_id", "embedding"), streamPath)(
      (b, _) => SilverIndex.refreshIvfPq(b, "vec_id", "embedding",
        nlist = 8, m = 8, ksub = 16, path = streamPath))
    try {
      input.addData(batch1: _*)
      q.processAllAvailable() // trains + freezes BOTH quantizers
      input.addData(batch2: _*)
      q.processAllAvailable() // residual-encode only the new ids
    } finally q.stop()

    val batchPath = tmp("batch-ivfpq")
    SilverIndex.refreshIvfPq(emb.where(col("vec_id") % 4 =!= 0),
      "vec_id", "embedding", nlist = 8, m = 8, ksub = 16, path = batchPath)
    SilverIndex.refreshIvfPq(emb, "vec_id", "embedding",
      nlist = 8, m = 8, ksub = 16, path = batchPath)
    def codesSet(p: String) = spark.read.parquet(s"$p/codes")
      .select(col("neighbor_id"), col("codes"), col("rnorm2"), col("list_id"))
      .collect().map(_.toString).toSet
    assert(codesSet(streamPath) == codesSet(batchPath),
      "streamed IVF-PQ codes diverged from the batch-incremental build")
  }

  test("streamed KMV == batch sketch; replayed batch folds to itself") {
    val path = tmp("stream-kmv")
    val rows = (0L until 300L).map(i => (s"g${i % 3}", i % 97))
    val input = MemoryStream[(String, Long)]
    val q = SilverIndex.onEachBatch(input.toDF().toDF("grp", "key"), path)(
      (b, _) => SilverIndex.refreshKmv(b, "grp", "key", k = 16, path = path))
    try {
      // adversarial chunking: overlapping duplicates across batches
      input.addData(rows.take(200): _*)
      q.processAllAvailable()
      input.addData(rows.drop(100): _*)
      q.processAllAvailable()
    } finally q.stop()

    def sketchSet(df: org.apache.spark.sql.DataFrame) =
      df.select(col("grp"), col("kmins"))
        .collect().map(r => r.getString(0) ->
          r.getSeq[String](1).toVector).toMap
    val streamed = sketchSet(SilverIndex.kmvIndex(spark, path))
    val batch = graft.operators.Sketches.kmvDistinct(
        rows.toDF("grp", "key"), Seq("grp"), "key", k = 16)
      .select(col("grp"), col("kmins"))
    assert(streamed == sketchSet(batch),
      "streamed KMV sketch diverged from the from-scratch batch sketch")

    // explicit replay: folding an already-folded batch changes nothing
    SilverIndex.refreshKmv(rows.take(200).toDF("grp", "key"),
      "grp", "key", k = 16, path = path)
    assert(sketchSet(SilverIndex.kmvIndex(spark, path)) == streamed,
      "replayed fold mutated the sketch (duplicate-insensitivity broken)")
  }

  test("streamed Bloom == batch bit set; replayed batch folds to itself") {
    val path = tmp("stream-bloom")
    val keys = (0L until 500L).map(i => i * 3L)
    val input = MemoryStream[Long]
    val q = SilverIndex.onEachBatch(input.toDF().toDF("k"), path)(
      (b, _) => SilverIndex.refreshBloom(b, "k", numHashes = 5,
        mBits = 4096, path = path))
    try {
      // adversarial chunking: overlapping duplicates across batches
      input.addData(keys.take(300): _*)
      q.processAllAvailable()
      input.addData(keys.drop(150): _*)
      q.processAllAvailable()
    } finally q.stop()

    def bits(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.getLong(0)).toSet
    val streamed = bits(SilverIndex.bloomIndex(spark, path))
    val batch = bits(graft.operators.Sketches.bloomBuild(
      keys.toDF("k"), "k", numHashes = 5, mBits = 4096))
    assert(streamed == batch,
      "streamed bit set diverged from the from-scratch batch build")

    // explicit replay: folding an already-folded batch changes nothing
    SilverIndex.refreshBloom(keys.take(300).toDF("k"), "k", 5, 4096, path)
    assert(bits(SilverIndex.bloomIndex(spark, path)) == streamed,
      "replayed fold mutated the bit set (duplicate-insensitivity broken)")
  }

  test("streamed HLL == batch registers; replayed batch folds to itself") {
    val path = tmp("stream-hll")
    val rows = (0L until 900L).map(i => (s"g${i % 3}", i % 211))
    val input = MemoryStream[(String, Long)]
    val q = SilverIndex.onEachBatch(input.toDF().toDF("g", "k"), path)(
      (b, _) => SilverIndex.refreshHll(b, Seq("g"), "k", path = path))
    try {
      // adversarial chunking: overlapping duplicates across batches
      input.addData(rows.take(600): _*)
      q.processAllAvailable()
      input.addData(rows.drop(300): _*)
      q.processAllAvailable()
    } finally q.stop()

    def regs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    val streamed = regs(SilverIndex.hllIndex(spark, path))
    val batch = regs(graft.operators.Sketches.hllBuild(
      rows.toDF("g", "k"), Seq("g"), "k"))
    assert(streamed == batch,
      "streamed registers diverged from the from-scratch batch build")

    // explicit replay: max-folding an already-folded batch is a no-op
    SilverIndex.refreshHll(rows.take(600).toDF("g", "k"), Seq("g"), "k",
      path)
    assert(regs(SilverIndex.hllIndex(spark, path)) == streamed,
      "replayed fold mutated the registers (max-merge idempotence broken)")
  }

  test("streamed quantile sample == batch gate; replay appends zero") {
    val path = tmp("stream-quant")
    val rows = (0L until 2000L).map(i =>
      (i, s"g${i % 2}", (i * 13 % 997).toDouble))
    val input = MemoryStream[(Long, String, Double)]
    val q = SilverIndex.onEachBatch(input.toDF().toDF("id", "grp", "v"),
      path)((b, _) => SilverIndex.refreshQuantileSample(b, "id", "v",
        Seq("grp"), "sq-stream-spec", rate = 0.3, path = path))
    try {
      input.addData(rows.take(1200): _*)
      q.processAllAvailable()
      input.addData(rows.drop(1200): _*)
      q.processAllAvailable()
    } finally q.stop()

    // served quantiles == the one-shot batch operator on the same rows
    def qset(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).toSet
    val served = qset(SilverIndex.quantilesFromSample(spark, path,
      Seq("grp"), Seq(0.25, 0.5, 0.9)))
    val batch = qset(graft.operators.Sketches.sampleQuantiles(
      rows.toDF("id", "grp", "v"), col("id"), "v", Seq("grp"),
      "sq-stream-spec", rate = 0.3, qs = Seq(0.25, 0.5, 0.9)))
    assert(served == batch,
      "streamed quantile sample diverged from the batch gate")

    // replay: re-folding an already-folded batch appends zero rows
    val r = SilverIndex.refreshQuantileSample(
      rows.take(1200).toDF("id", "grp", "v"), "id", "v", Seq("grp"),
      "sq-stream-spec", rate = 0.3, path = path)
    assert(r.appended == 0, s"replay appended ${r.appended} rows")
    // the running total is the stored sample size, as for every other
    // appended artifact
    assert(r.total == spark.read.parquet(s"$path/sample").count(),
      s"refresh reported total ${r.total}, not the stored sample size")
  }

  test("streamed CMS == batch build; batch-id guard makes replays no-ops") {
    val path = tmp("stream-cms")
    val rows = (0L until 1000L).map(i => (i % 37).toInt)
    val input = MemoryStream[Int]
    val q = SilverIndex.onEachBatch(input.toDF().toDF("k"), path)(
      SilverIndex.refreshCms(_, _, "k", width = 16, depth = 3, path = path))
    try {
      input.addData(rows.take(600): _*)
      q.processAllAvailable()
      input.addData(rows.drop(600): _*)
      q.processAllAvailable()
    } finally q.stop()

    def counters(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2))
        .toMap
    val streamed = counters(SilverIndex.cmsIndex(spark, path))
    val batch = counters(graft.operators.Sketches.cmsBuild(
      rows.toDF("k"), "k", width = 16, depth = 3)
      .select(col("row"), col("bucket"), col("cnt")))
    assert(streamed == batch,
      "streamed CMS counters diverged from the batch build")

    // a REPLAY of an already-committed batch id must not double-count
    val replay = SilverIndex.refreshCms(rows.take(600).toDF("k"),
      batchId = 1L, "k", width = 16, depth = 3, path = path)
    assert(replay.appended == 0, "replayed batch id was folded again")
    assert(counters(SilverIndex.cmsIndex(spark, path)) == streamed)

    // a NEW batch id folds (counts strictly grow)
    SilverIndex.refreshCms(rows.take(10).toDF("k"), batchId = 2L,
      "k", width = 16, depth = 3, path = path)
    val after = counters(SilverIndex.cmsIndex(spark, path))
    assert(after.values.sum == streamed.values.sum + 10 * 3,
      "new batch did not fold its counts")
  }

  test("streamed drift ledger == batch counts; replays no-op; the " +
      "served TV report equals the scan-fed tvDrift verbatim") {
    val path = tmp("stream-drift")
    def wk(p: Int) = java.sql.Date.valueOf(f"2024-01-${1 + 7 * p}%02d")
    // three weekly periods with deliberately different category mixes,
    // plus NULL period/category rows the fold must drop (mirroring
    // tvDrift's filter)
    val rows: Seq[(java.sql.Date, String)] = (0 until 600).map { i =>
      val p = i % 3
      (wk(p), if (i % (p + 2) == 0) "a" else "b")
    } ++ Seq((null, "a"), (wk(0), null))
    val clean = rows.filter(r => r._1 != null && r._2 != null)

    val input = MemoryStream[(java.sql.Date, String)]
    val q = SilverIndex.onEachBatch(input.toDF().toDF("wk", "cat"), path)(
      SilverIndex.refreshDriftLedger(_, _, "wk", "cat", path = path))
    try {
      // adversarial chunking: a 1-row batch, a big one, the remainder
      Seq(rows.take(1), rows.slice(1, 401), rows.drop(401)).foreach { b =>
        input.addData(b: _*); q.processAllAvailable()
      }
    } finally q.stop()

    def ledger(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getDate(0).toString, r.getString(1)) ->
        r.getLong(2)).toMap
    val streamed = ledger(SilverIndex.driftLedgerIndex(spark, path))
    val batch = clean.groupBy(r => (r._1.toString, r._2))
      .map { case (k, v) => k -> v.size.toLong }
    assert(streamed == batch,
      "streamed ledger diverged from the batch counts (or a NULL row " +
        "leaked into the fold)")

    // replay of an already-committed id must not double-count
    val replay = SilverIndex.refreshDriftLedger(
      rows.take(1).toDF("wk", "cat"), batchId = 2L, "wk", "cat", path)
    assert(replay.appended == 0, "replayed batch id was folded again")
    assert(ledger(SilverIndex.driftLedgerIndex(spark, path)) == streamed)

    // the ledger-served report IS the scan-fed report
    val served = graft.operators.Drift.tvDriftFromLedger(
        SilverIndex.driftLedgerIndex(spark, path),
        "period", "category", "cnt", threshold = 0.03)
      .collect().map(_.toSeq).toSet
    val scanned = graft.operators.Drift.tvDrift(
        clean.toDF("period", "category"), "period", "category",
        threshold = 0.03)
      .collect().map(_.toSeq).toSet
    assert(served == scanned,
      "ledger-served TV report diverged from the scan-fed tvDrift")
    assert(served.nonEmpty)
  }

  test("s16: the semantic-decontam report from stream-maintained " +
      "postings equals the scratch build row-for-row") {
    val path = tmp("stream-semantic")
    val dir = sf() // sf0.001
    val union = graft.queries.CurationQueries.semanticUnion(spark, dir)
    val rows = union.as[(Long, String)].collect()
    val input = MemoryStream[(Long, String)]
    val q = SilverIndex.onEachBatch(input.toDF().toDF("id", "text"), path)(
      (b, _) => SilverIndex.refreshPostings(b, "id", "text", path))
    try {
      rows.grouped(math.max(1, rows.length / 3 + 1)).foreach { chunk =>
        input.addData(chunk.toIndexedSeq); q.processAllAvailable()
      }
    } finally q.stop()
    def rep(post: org.apache.spark.sql.DataFrame) =
      graft.queries.CurationQueries
        .semanticReportFromPostings(spark, dir, post)
        .collect().map(_.toSeq).toSet
    val served = rep(SilverIndex.postingsIndexByDoc(spark, path))
    val scratch = rep(TextSearch.postings(union, "id", "text"))
    assert(served == scratch,
      "maintained-postings report diverged from the scratch build")
    assert(served.exists(_.last == "blocked"),
      "the planted paraphrases should flag")
  }
}
