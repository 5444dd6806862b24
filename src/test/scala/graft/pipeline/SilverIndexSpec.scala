package graft.pipeline

import graft.SparkTestBase
import graft.operators.{AnnSearch, Dedup}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The incremental-maintenance contract: a delta refresh over an existing
  * index produces EXACTLY the artifact (and downstream results) a from-
  * scratch build over the full corpus would — both artifacts are per-row
  * deterministic, so this is set equality, not approximation. Plus the
  * cost contract the design exists for: a refresh with nothing new
  * appends zero rows.
  */
class SilverIndexSpec extends SparkTestBase {

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/ix"

  private def docs = spark.read.parquet(s"${sf()}/documents.parquet")
  private def emb = spark.read.parquet(s"${sf()}/embeddings.parquet")

  private def rowSet(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  test("minhash: base+delta refresh == from-scratch, delta appends only new docs") {
    val path = tmp("silver-minhash")
    val base = docs.where(col("doc_id") % 5 =!= 0)
    val delta = docs.where(col("doc_id") % 5 === 0)

    val r1 = SilverIndex.refreshMinhash(base, "doc_id", "text",
      n = 2, numHashes = 64, path = path)
    assert(r1.appended == r1.total)
    // second refresh with the FULL corpus: only the delta docs compute
    val r2 = SilverIndex.refreshMinhash(docs, "doc_id", "text",
      n = 2, numHashes = 64, path = path)
    assert(r2.appended == delta.count(),
      s"delta refresh appended ${r2.appended}, expected only the new docs")
    assert(r2.total == docs.count())
    // third refresh with nothing new appends nothing
    val r3 = SilverIndex.refreshMinhash(docs, "doc_id", "text",
      n = 2, numHashes = 64, path = path)
    assert(r3.appended == 0L && r3.total == r2.total)

    // the incrementally-built index IS the from-scratch signature table
    val scratch = Dedup.minhashSets(docs, "doc_id", "text", 2, 64)
      .select(col("doc"), sort_array(col("sh")).as("sh"), col("sig"))
    val stored = SilverIndex.minhashIndex(spark, path)
      .select(col("doc"), sort_array(col("sh")).as("sh"), col("sig"))
    assert(rowSet(stored) == rowSet(scratch))

    // and the pairs it yields are exactly minhashLshPairs on the corpus
    val fromIndex = SilverIndex.minhashPairs(spark, path,
      rowsPerBand = 4, theta = 0.5)
    val direct = Dedup.minhashLshPairs(docs, "doc_id", "text",
      n = 2, numHashes = 64, rowsPerBand = 4, theta = 0.5)
    assert(rowSet(fromIndex) == rowSet(direct))
  }

  test("minhash: signature-width mismatch is rejected, not silently mixed") {
    val path = tmp("silver-minhash-w")
    SilverIndex.refreshMinhash(docs.limit(50), "doc_id", "text", 2, 64, path)
    val e = intercept[IllegalArgumentException] {
      SilverIndex.refreshMinhash(docs, "doc_id", "text", 2, 128, path)
    }
    assert(e.getMessage.contains("signature width"))
  }

  test("ivf: frozen-quantizer delta refresh == from-scratch with the same centroids") {
    val path = tmp("silver-ivf")
    val base = emb.where(col("vec_id") % 4 =!= 0)

    val r1 = SilverIndex.refreshIvf(base, "vec_id", "embedding",
      nlist = 16, path = path)
    assert(r1.appended == base.count())
    val r2 = SilverIndex.refreshIvf(emb, "vec_id", "embedding",
      nlist = 16, path = path)
    assert(r2.appended == emb.where(col("vec_id") % 4 === 0).count())
    assert(r2.total == emb.count())
    val r3 = SilverIndex.refreshIvf(emb, "vec_id", "embedding",
      nlist = 16, path = path)
    assert(r3.appended == 0L)

    // the appended assignment table == one-shot assignment of the FULL
    // corpus against the frozen (persisted) centroids
    val cents = spark.read.parquet(s"$path/centroids")
    val scratch = AnnSearch.ivfAssign(
      AnnSearch.ivfCorpus(emb, "vec_id", "embedding"), cents)
    assert(rowSet(SilverIndex.ivfAssigned(spark, path)) == rowSet(scratch))

    // and index-served top-k == live top-k against the same centroids
    val q = emb.where(col("vec_id") % 50 === 0)
    val fromIndex = SilverIndex.ivfTopKFromIndex(q, "vec_id", "embedding",
      path, k = 5, nprobe = 6)
    val live = AnnSearch.ivfTopKFromAssigned(
      q.select(col("vec_id").as("query_id"), col("embedding").as("qv")),
      scratch, cents, k = 5, nprobe = 6)
    assert(rowSet(fromIndex) == rowSet(live))
    assert(fromIndex.count() > 0)
  }

  test("ivf filtered search: pre-filter semantics, subset, recall vs exact baseline") {
    val path = tmp("silver-ivf-filtered")
    SilverIndex.refreshIvf(emb, "vec_id", "embedding", nlist = 16,
      path = path)
    val q = emb.where(col("vec_id") % 50 === 0)
    val eligible = emb.where(col("label") === 2)
    val got = SilverIndex.ivfTopKFromIndexWhere(q, "vec_id", "embedding",
      path, k = 5, nprobe = 6, eligible, "vec_id").cache()

    // pre-filter semantics: every returned neighbor is eligible, and
    // queries return k rows whenever the probed lists hold >= k eligible
    // members (a post-filtered top-k would silently return fewer)
    val eligibleIds = eligible.select("vec_id").collect()
      .map(_.getLong(0)).toSet
    val rows = got.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => eligibleIds(r.getLong(1))),
      "filtered search returned an ineligible neighbor")

    // identical to filtering the ASSIGNMENT table of the same frozen
    // index up front — the semi-join is the predicate, nothing rescored
    val cents = spark.read.parquet(s"$path/centroids")
    val scratch = AnnSearch.ivfAssign(
      AnnSearch.ivfCorpus(eligible, "vec_id", "embedding"), cents)
    val live = AnnSearch.ivfTopKFromAssigned(
      q.select(col("vec_id").as("query_id"), col("embedding").as("qv")),
      scratch, cents, k = 5, nprobe = 6)
    assert(rowSet(got) == rowSet(live),
      "filtered-from-index must equal the same frozen index over the " +
        "pre-filtered corpus")

    // recall vs the exact filtered baseline (the a15 oracle shape)
    val exact = AnnSearch.bruteForceTopK(q, eligible, "vec_id",
      "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (approx & exact).size.toDouble / exact.size
    assert(recall >= 0.7, f"filtered IVF recall $recall%.3f < 0.7 floor")
    got.unpersist()
  }

  test("ivf-pq: frozen-quantizer delta refresh == from-scratch; index-served == live composite") {
    val path = tmp("silver-ivfpq")
    val base = emb.where(col("vec_id") % 4 =!= 0)

    val r1 = SilverIndex.refreshIvfPq(base, "vec_id", "embedding",
      nlist = 16, m = 8, ksub = 32, path = path)
    assert(r1.appended == base.count())
    val r2 = SilverIndex.refreshIvfPq(emb, "vec_id", "embedding",
      nlist = 16, m = 8, ksub = 32, path = path)
    assert(r2.appended == emb.where(col("vec_id") % 4 === 0).count(),
      s"delta refresh appended ${r2.appended}, expected only the new docs")
    assert(r2.total == emb.count())
    val r3 = SilverIndex.refreshIvfPq(emb, "vec_id", "embedding",
      nlist = 16, m = 8, ksub = 32, path = path)
    assert(r3.appended == 0L && r3.total == r2.total)

    // the incrementally-built code table == one-shot encode of the FULL
    // corpus against the SAME frozen quantizers (copy them to a fresh
    // index dir, refresh once): encoding is per-row deterministic, so
    // delta-vs-scratch identity is exact table equality
    val scratchPath = tmp("silver-ivfpq-scratch")
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(
      spark.sessionState.newHadoopConf())
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new org.apache.hadoop.fs.Path(s"$path/centroids"), fs,
      new org.apache.hadoop.fs.Path(s"$scratchPath/centroids"),
      false, spark.sessionState.newHadoopConf())
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new org.apache.hadoop.fs.Path(s"$path/codebooks"), fs,
      new org.apache.hadoop.fs.Path(s"$scratchPath/codebooks"),
      false, spark.sessionState.newHadoopConf())
    SilverIndex.refreshIvfPq(emb, "vec_id", "embedding",
      nlist = 16, m = 8, ksub = 32, path = scratchPath)
    def codeSet(p: String): Set[String] =
      rowSet(spark.read.parquet(s"$p/codes")
        .select(col("neighbor_id"), col("codes"),
          col("list_id").cast("string")))
    assert(codeSet(path) == codeSet(scratchPath))

    // served top-k is identical across the two index builds
    val q = emb.where(col("vec_id") % 50 === 0)
    val fromIndex = SilverIndex.ivfPqTopKFromIndex(q, emb, "vec_id",
      "embedding", path, k = 5, nprobe = 6, rescoreMult = 10)
    val again = SilverIndex.ivfPqTopKFromIndex(q, emb, "vec_id",
      "embedding", scratchPath, k = 5, nprobe = 6, rescoreMult = 10)
    assert(rowSet(fromIndex) == rowSet(again))
    assert(fromIndex.count() > 0)

    // and an index trained in ONE refresh on the full corpus serves
    // results identical to the live ivfPqTopK composite: both train the
    // same deterministic quantizers on the same input, so persisted-vs-
    // in-plan is exact row equality — the round-trip proof that nothing
    // is lost (or gained) by going through parquet
    val onePath = tmp("silver-ivfpq-oneshot")
    SilverIndex.refreshIvfPq(emb, "vec_id", "embedding",
      nlist = 16, m = 8, ksub = 32, path = onePath)
    val servedOne = SilverIndex.ivfPqTopKFromIndex(q, emb, "vec_id",
      "embedding", onePath, k = 5, nprobe = 6, rescoreMult = 10)
    val live = AnnSearch.ivfPqTopK(q, emb, "vec_id", "embedding",
      k = 5, nlist = 16, nprobe = 6, m = 8, ksub = 32, rescoreMult = 10)
    assert(rowSet(servedOne) == rowSet(live))
  }

  test("ivf-pq: subspace-count mismatch is rejected, not silently mixed") {
    val path = tmp("silver-ivfpq-m")
    SilverIndex.refreshIvfPq(emb.limit(100), "vec_id", "embedding",
      nlist = 8, m = 8, ksub = 16, path = path)
    val e = intercept[IllegalArgumentException] {
      SilverIndex.refreshIvfPq(emb, "vec_id", "embedding",
        nlist = 8, m = 4, ksub = 16, path = path)
    }
    assert(e.getMessage.contains("subspaces"))
  }

  test("bm25 postings: base+delta refresh == from-scratch; index queries match live") {
    val path = tmp("silver-post")
    val base = docs.where(col("doc_id") % 4 =!= 0)

    val r1 = SilverIndex.refreshPostings(base, "doc_id", "text", path)
    assert(r1.appended == r1.total && r1.total > 0)
    val r2 = SilverIndex.refreshPostings(docs, "doc_id", "text", path)
    // delta appends exactly the new docs' postings rows
    val deltaRows = graft.operators.TextSearch
      .postings(docs.where(col("doc_id") % 4 === 0), "doc_id", "text").count()
    assert(r2.appended == deltaRows,
      s"delta refresh appended ${r2.appended}, expected $deltaRows")
    val r3 = SilverIndex.refreshPostings(docs, "doc_id", "text", path)
    assert(r3.appended == 0L && r3.total == r2.total)

    // the incrementally-built postings ARE the from-scratch table
    val scratch = graft.operators.TextSearch.postings(docs, "doc_id", "text")
    assert(rowSet(SilverIndex.postingsIndex(spark, path)) == rowSet(scratch))

    // and BM25 from the index matches the live operator (scores rounded:
    // the per-doc sum's last bits are reduction-order, the h1 lesson)
    def normalized(df: DataFrame): Set[(Long, Double, Int)] =
      df.collect().map(r =>
        (r.getLong(0), math.rint(r.getDouble(1) * 1e6) / 1e6, r.getInt(2)))
        .toSet
    val fromIndex = SilverIndex.bm25TopKFromIndex(spark, path,
      "spark vector stream join", k = 10)
    val live = graft.operators.TextSearch.bm25TopK(docs, "doc_id", "text",
      "spark vector stream join", k = 10)
    assert(normalized(fromIndex) == normalized(live))
    assert(fromIndex.count() == 10)
  }

  test("bm25 doclen companion: incremental == scratch; recovery rebuilds; pushed term predicate") {
    val path = tmp("silver-post-aux")
    SilverIndex.refreshPostings(docs.where(col("doc_id") % 4 =!= 0),
      "doc_id", "text", path)
    SilverIndex.refreshPostings(docs, "doc_id", "text", path)

    // companion table == lengths derived from the full postings
    def doclenSet(df: DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val scratchLens = SilverIndex.postingsIndex(spark, path)
      .groupBy("doc").agg(sum(col("tf")).as("len"))
    val (post, docLen, nDocs, avgLen) = SilverIndex.bm25Index(spark, path)
    assert(doclenSet(docLen) == doclenSet(scratchLens))
    val expect = scratchLens.agg(count(lit(1)), sum(col("len"))).head()
    assert(nDocs == expect.getLong(0))
    assert(math.abs(avgLen - expect.getLong(1).toDouble / nDocs) < 1e-12)

    val q = "spark vector stream join"
    val live = graft.operators.TextSearch
      .bm25TopK(docs, "doc_id", "text", q, k = 10)
      .collect().map(r => (r.getLong(0), r.getInt(2))).toSeq

    // single-query plan pushes the term predicate into the parquet scan
    val fromIx = SilverIndex.bm25TopKFromIndex(spark, path, q, k = 10)
    val scans = fromIx.queryExecution.executedPlan.toString
    assert(scans.contains("In(term"),
      s"expected a pushed In(term, …) filter in:\n$scans")
    assert(fromIx.collect().map(r => (r.getLong(0), r.getInt(2))).toSeq
      == live)

    // batch-from-index slice == single-query run
    val s = spark
    import s.implicits._
    val batch = SilverIndex.bm25TopKBatchFromIndex(spark, path,
      Seq(("q0", q)).toDF("query_id", "qtext"), "query_id", "qtext", k = 10)
    assert(batch.collect().map(r => (r.getLong(1), r.getInt(3))).toSeq
      == live)

    // kill the companion (legacy index / crash between the two appends):
    // the next query path rebuilds it and still matches
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(s"${path}__doclen"), true)
    assert(SilverIndex.bm25TopKFromIndex(spark, path, q, k = 10)
      .collect().map(r => (r.getLong(0), r.getInt(2))).toSeq == live)

    // stale meta only (doclen rows intact): fingerprints catch it too
    fs.delete(new org.apache.hadoop.fs.Path(s"${path}__doclen/_bm25meta.json"),
      false)
    assert(SilverIndex.bm25TopKFromIndex(spark, path, q, k = 10)
      .collect().map(r => (r.getLong(0), r.getInt(2))).toSeq == live)
  }

  test("ivf: probe read prunes to the probed list partitions") {
    val path = tmp("silver-ivf-prune")
    SilverIndex.refreshIvf(emb, "vec_id", "embedding", nlist = 16, path = path)
    val onelist = SilverIndex.ivfAssigned(spark, path)
      .where(col("list_id") === spark.read.parquet(s"$path/centroids")
        .select("list_id").head().get(0))
    // partition pruning: the scan over the partitioned layout must carry
    // a partition filter on list_id (visible in the optimized plan)
    val plan = onelist.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(list_id"),
      s"expected a list_id partition filter in:\n$plan")
  }

  test("maintainIvf: drift rebuilds, fragmentation compacts, health measures only") {
    import org.apache.spark.sql.functions.{array, lit, col => c}
    val path = tmp("silver-ivf-maint")
    // build frozen quantizer on a 2-cluster corpus...
    val s = spark
    import s.implicits._
    def vecs(ids: Range, center: Float) =
      ids.map(i => (i.toLong, Seq.fill(8)(center + (i % 3) * 0.01f)))
    val base = (vecs(0 until 40, 1.0f) ++ vecs(40 until 80, -1.0f))
      .toDF("vec_id", "embedding")
    SilverIndex.refreshIvf(base, "vec_id", "embedding", nlist = 2,
      path = path)

    // ...healthy: no action
    val healthy = SilverIndex.maintainIvf(base, "vec_id", "embedding",
      nlist = 2, path = path)
    assert(!healthy.compacted && !healthy.rebuilt)

    // fragmentation: many delta refreshes → files/list climbs → compact
    (1 to 12).foreach { k =>
      val delta = vecs(80 + k * 2 until 82 + k * 2, 1.0f)
        .toDF("vec_id", "embedding")
      SilverIndex.refreshIvf(base.unionAll(delta), "vec_id", "embedding",
        nlist = 2, path = path)
    }
    val preCompact = SilverIndex.ivfStats(spark, path)
    val rows = SilverIndex.ivfAssigned(spark, path)
      .collect().map(_.toString).toSet
    val swept = SilverIndex.maintainIvf(base, "vec_id", "embedding",
      nlist = 2, path = path, filesPerListThreshold = 2.0)
    assert(swept.compacted && !swept.rebuilt)
    assert(SilverIndex.ivfStats(spark, path).files < preCompact.files)
    assert(SilverIndex.ivfAssigned(spark, path)
      .collect().map(_.toString).toSet == rows,
      "compaction sweep must not change rows")

    // drift: append a pile of vectors all landing in ONE frozen list →
    // imbalance crosses the threshold → rebuild retrains the quantizer
    // on the drifted corpus and reassigns everything
    val drifted = base.unionAll(
      vecs(1000 until 1400, 1.0f).toDF("vec_id", "embedding"))
    SilverIndex.refreshIvf(drifted, "vec_id", "embedding", nlist = 2,
      path = path)
    val rebuilt = SilverIndex.maintainIvf(drifted, "vec_id", "embedding",
      nlist = 2, path = path, imbalanceThreshold = 1.5)
    assert(rebuilt.rebuilt && !rebuilt.compacted)
    val after = SilverIndex.ivfAssigned(spark, path)
    assert(after.count() == drifted.count(),
      "rebuild must reassign the whole corpus")
    // the retrained quantizer rebalances: both lists populated
    assert(after.select("list_id").distinct().count() == 2)
  }

  test("maintainIvfPq: drift rebuilds both quantizers; fragmentation compacts the codes") {
    val s = spark
    import s.implicits._
    def vecs(ids: Range, center: Float) =
      ids.map(i => (i.toLong, Seq.fill(8)(center + (i % 3) * 0.01f)))
    val base = (vecs(0 until 40, 1.0f) ++ vecs(40 until 80, -1.0f))
      .toDF("vec_id", "embedding")
    val path = tmp("silver-ivfpq-maint")
    SilverIndex.refreshIvfPq(base, "vec_id", "embedding", nlist = 2,
      m = 4, ksub = 8, path = path)
    assert(!SilverIndex.maintainIvfPq(base, "vec_id", "embedding",
      nlist = 2, m = 4, ksub = 8, path = path).rebuilt)

    // fragmentation path: several deltas, then a low threshold compacts
    (1 to 6).foreach { k =>
      SilverIndex.refreshIvfPq(base.unionAll(
          vecs(80 + k * 2 until 82 + k * 2, 1.0f).toDF("vec_id", "embedding")),
        "vec_id", "embedding", nlist = 2, m = 4, ksub = 8, path = path)
    }
    val rows = spark.read.parquet(s"$path/codes")
      .collect().map(_.toString).toSet
    val preFiles = SilverIndex.ivfPqStats(spark, path).files
    val swept = SilverIndex.maintainIvfPq(base, "vec_id", "embedding",
      nlist = 2, m = 4, ksub = 8, path = path, filesPerListThreshold = 2.0)
    assert(swept.compacted && !swept.rebuilt)
    assert(SilverIndex.ivfPqStats(spark, path).files < preFiles)
    assert(spark.read.parquet(s"$path/codes")
      .collect().map(_.toString).toSet == rows,
      "code-table compaction must not change rows")

    // drift path: one list floods → rebuild retrains and reassigns all
    val drifted = base.unionAll(
      vecs(1000 until 1400, 1.0f).toDF("vec_id", "embedding"))
    SilverIndex.refreshIvfPq(drifted, "vec_id", "embedding", nlist = 2,
      m = 4, ksub = 8, path = path)
    val rebuilt = SilverIndex.maintainIvfPq(drifted, "vec_id", "embedding",
      nlist = 2, m = 4, ksub = 8, path = path, imbalanceThreshold = 1.5)
    assert(rebuilt.rebuilt)
    assert(spark.read.parquet(s"$path/codes").count() == drifted.count())
    // and the rebuilt index still serves identically to the live composite
    val q = drifted.where(col("vec_id") % 100 === 0)
    val served = SilverIndex.ivfPqTopKFromIndex(q, drifted, "vec_id",
        "embedding", path, k = 3, nprobe = 2)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val live = graft.operators.AnnSearch.ivfPqTopK(q, drifted, "vec_id",
        "embedding", k = 3, nlist = 2, nprobe = 2, m = 4, ksub = 8)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(served == live)
  }

  test("erasure: erased docs vanish from SERVED BM25, which equals the " +
      "live operator over the clean corpus") {
    val path = tmp("silver-erase-post")
    SilverIndex.refreshPostings(docs, "doc_id", "text", path)
    val query = "spark vector stream join"
    def normalized(df: DataFrame): Set[(Long, Double, Int)] =
      df.collect().map(r =>
        (r.getLong(0), math.rint(r.getDouble(1) * 1e6) / 1e6, r.getInt(2)))
        .toSet
    val before = SilverIndex.bm25TopKFromIndex(spark, path, query, k = 25)
      .collect()
    // make the vanishing observable: the PRE-erase top doc is a subject
    val topDoc = before.map(r => (r.getInt(2), r.getLong(0)))
      .minBy(_._1)._2
    val subjects = docs
      .where(col("doc_id") % 7 === 0 || col("doc_id") === topDoc)
      .select(col("doc_id").as("s"))
    val subjIds = subjects.collect().map(_.getLong(0)).toSet
    assert(before.exists(r => subjIds(r.getLong(0))))

    val r = SilverIndex.erasePostings(spark, path, subjects, "s")
    assert(r.removed > 0 && r.remaining > 0)

    val after = SilverIndex.bm25TopKFromIndex(spark, path, query, k = 25)
    assert(!after.collect().exists(row => subjIds(row.getLong(0))),
      "an erased doc must never serve again")
    // N, avgLen, per-term df all reflect the smaller corpus: the served
    // scores equal the live operator over the clean corpus exactly
    // (bind the def once: docs("doc_id") on a fresh read is a foreign
    // attribute to the join's left side)
    val d = docs
    val clean = d.join(subjects, d("doc_id") === col("s"), "left_anti")
    val live = graft.operators.TextSearch.bm25TopK(clean, "doc_id",
      "text", query, k = 25)
    assert(normalized(after) == normalized(live))
    // row-level identity with a from-scratch build over the clean base
    assert(rowSet(SilverIndex.postingsIndex(spark, path)) ==
      rowSet(graft.operators.TextSearch.postings(clean, "doc_id", "text")))
    // and a refresh over the erased base finds nothing to re-add
    val r2 = SilverIndex.refreshPostings(clean, "doc_id", "text", path)
    assert(r2.appended == 0L)
  }

  test("erasure: ivf subject vectors leave the index; a rerun recovers " +
      "the staged-swap crash window") {
    import org.apache.hadoop.fs.Path
    val path = tmp("silver-erase-ivf")
    SilverIndex.refreshIvf(emb, "vec_id", "embedding", nlist = 16, path)
    val subjects = emb.where(col("vec_id") % 9 === 0)
      .select(col("vec_id").as("s"))
    // materialize the expectation BEFORE the dirs mutate (lazy reads
    // against a rewritten path are the known hazard)
    val expected = rowSet(SilverIndex.ivfAssigned(spark, path)
      .join(subjects, col("neighbor_id") === col("s"), "left_anti"))
    val nBefore = SilverIndex.ivfAssigned(spark, path).count()

    val r = SilverIndex.eraseIvf(spark, path, subjects, "s")
    assert(r.removed == nBefore - expected.size)
    assert(rowSet(SilverIndex.ivfAssigned(spark, path)) == expected)

    // crash window: live renamed away, only __retired survives — the
    // rerun must restore it and re-apply the (idempotent) erasure
    val asg = new Path(s"$path/assigned")
    val fs = asg.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.rename(asg, new Path(s"$path/assigned__retired")))
    val r2 = SilverIndex.eraseIvf(spark, path, subjects, "s")
    assert(r2.removed == 0L, "re-erasing erased state removes nothing")
    assert(rowSet(SilverIndex.ivfAssigned(spark, path)) == expected)
  }

  test("erasure: ivf-pq codes drop with the subjects; staging-only " +
      "crash state recovers; erased base serves clean rescore") {
    import org.apache.hadoop.fs.Path
    val path = tmp("silver-erase-ivfpq")
    SilverIndex.refreshIvfPq(emb, "vec_id", "embedding",
      nlist = 8, m = 4, ksub = 16, path = path)
    val subjects = emb.where(col("vec_id") % 9 === 0)
      .select(col("vec_id").as("s"))
    val subjIds = subjects.collect().map(_.getLong(0)).toSet
    val codes = s"$path/codes"
    val expected = rowSet(spark.read.parquet(codes)
      .join(subjects, col("neighbor_id") === col("s"), "left_anti")
      .select(col("neighbor_id")))
    val r = SilverIndex.eraseIvfPq(spark, path, subjects, "s")
    assert(r.removed > 0 && r.remaining == expected.size)
    assert(rowSet(spark.read.parquet(codes).select(col("neighbor_id")))
      == expected)

    // staging-only crash state: live gone, only a completed staging
    // copy survives (first rename committed, retired cleaned) — the
    // rerun must restore it
    val live = new Path(codes)
    val fs = live.getFileSystem(spark.sessionState.newHadoopConf())
    spark.read.parquet(codes).write
      .parquet(s"${codes}__compacting")
    fs.delete(live, true)
    val r2 = SilverIndex.eraseIvfPq(spark, path, subjects, "s")
    assert(r2.removed == 0L)
    assert(rowSet(spark.read.parquet(codes).select(col("neighbor_id")))
      == expected)

    // served queries against the erased index + erased base corpus
    // never name a subject (the rescore side is the caller-erased base)
    val cleanBase = graft.operators.Privacy.erase(emb, "vec_id",
      subjects, "s")
    val probes = emb.where(col("vec_id") < 3)
      .select(col("vec_id"), col("embedding"))
    val got = SilverIndex.ivfPqTopKFromIndex(probes, cleanBase,
        "vec_id", "embedding", path, k = 5, nprobe = 8)
      .collect().map(_.getLong(1)).toSet
    assert(got.nonEmpty && got.intersect(subjIds).isEmpty)
  }

  test("erasure: resetSketch + re-fold over the clean corpus equals a " +
      "sketch that never saw the subjects (rebuild-from-clean contract)") {
    val s = spark
    import s.implicits._
    val path = tmp("silver-erase-kmv")
    val rows = (1L to 3000L).map(i => ("g" + (i % 3), i))
      .toDF("grp", "k")
    val subjects = (1L to 3000L by 9).toDF("s")
    SilverIndex.refreshKmv(rows, "grp", "k", k = 64, path = path)
    // the maintained sketch saw the subjects — reset + re-fold clean
    SilverIndex.resetSketch(spark, path)
    val clean = rows.join(subjects, col("k") === col("s"), "left_anti")
    SilverIndex.refreshKmv(clean, "grp", "k", k = 64, path = path)
    val rebuilt = rowSet(SilverIndex.kmvIndex(spark, path))
    // bit-identical to a from-scratch fold that never saw them
    val fresh = tmp("silver-erase-kmv-fresh")
    SilverIndex.refreshKmv(clean, "grp", "k", k = 64, path = fresh)
    assert(rebuilt == rowSet(SilverIndex.kmvIndex(spark, fresh)))
  }

  test("erasure: minhash pairs can never name an erased doc again") {
    val path = tmp("silver-erase-mh")
    SilverIndex.refreshMinhash(docs, "doc_id", "text",
      n = 2, numHashes = 64, path = path)
    val subjects = docs.where(col("doc_id") % 3 === 0)
      .select(col("doc_id").as("s"))
    val subjIds = subjects.collect().map(_.getLong(0)).toSet
    val r = SilverIndex.eraseMinhash(spark, path, subjects, "s")
    assert(r.removed > 0)
    val pairs = SilverIndex.minhashPairs(spark, path,
      rowsPerBand = 4, theta = 0.5).collect()
    assert(!pairs.exists(p =>
      subjIds(p.getLong(0)) || subjIds(p.getLong(1))))
    // the surviving signature table is the clean-corpus build exactly
    val d = docs
    val clean = d.join(subjects, d("doc_id") === col("s"), "left_anti")
    assert(rowSet(SilverIndex.minhashIndex(spark, path)) ==
      rowSet(Dedup.minhashSets(clean, "doc_id", "text", 2, 64)))
  }

  // --------------------------- frame-fingerprint index (m9)

  private lazy val fpFrames: DataFrame =
    graft.operators.Multimodal.sampleFrames(
      docs.select(col("doc_id"), encode(col("text"), "UTF-8").as("bin")),
      "bin", frameBytes = 64, stride = 2)
      .select(col("doc_id"), col("frame_idx"), col("frame"))

  test("fingerprints: base+delta refresh == from-scratch; nothing-new " +
      "appends zero; index-served pairs == the direct build") {
    val path = tmp("silver-fp")
    val r1 = SilverIndex.refreshFingerprints(
      fpFrames.where(col("doc_id") % 5 =!= 0), "doc_id", "frame_idx",
      "frame", path)
    assert(r1.appended == r1.total && r1.total > 0)
    val r2 = SilverIndex.refreshFingerprints(fpFrames, "doc_id",
      "frame_idx", "frame", path)
    assert(r2.appended == fpFrames.where(col("doc_id") % 5 === 0).count())
    val r3 = SilverIndex.refreshFingerprints(fpFrames, "doc_id",
      "frame_idx", "frame", path)
    assert(r3.appended == 0L && r3.total == r2.total)
    val scratch = fpFrames.select(col("doc_id").as("doc"),
      col("frame_idx").cast("int").as("frame_idx"),
      graft.operators.Multimodal.dhashFingerprint(col("frame"))
        .as("fingerprint"))
    assert(rowSet(SilverIndex.fingerprintIndex(spark, path)) ==
      rowSet(scratch))
    val direct = Dedup.hammingPairs(
      scratch.select((col("doc") * 100000L + col("frame_idx")).as("doc"),
        col("fingerprint").as("simhash")), maxDist = 2)
    assert(rowSet(SilverIndex.framePairs(spark, path, 100000L, 2)) ==
      rowSet(direct))
  }

  // four synthetic one-frame docs: 2 is a first-byte twin of 1
  // (hamming ≤ 1 — only the byte0<byte1 comparison can flip), 4 is
  // byte-identical to 1 (hamming 0), 3 is strictly-ascending bytes
  // (fingerprint all-ones — far from the mixed-text fingerprints,
  // which contain many descending adjacencies)
  private def synFrames = {
    val s = spark
    import s.implicits._
    val base = "the quick brown fox jumps over the lazy dog and then " +
      "naps soundly"
    val twin = "X" + base.drop(1)
    val asc = (0 until 64).map(i => (48 + i).toChar).mkString
    Seq((1L, 0, base), (2L, 0, twin), (3L, 0, asc), (4L, 0, base))
      .toDF("doc_id", "frame_idx", "txt")
      .select(col("doc_id"), col("frame_idx"),
        encode(col("txt"), "UTF-8").as("frame"))
  }

  test("erasure: fingerprint pairs can never name an erased doc again") {
    val path = tmp("silver-erase-fp")
    SilverIndex.refreshFingerprints(synFrames, "doc_id", "frame_idx",
      "frame", path)
    val before = SilverIndex.framePairs(spark, path, 100000L, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(before == Set((100000L, 200000L), (100000L, 400000L),
      (200000L, 400000L)), before.toString)
    val s = spark
    import s.implicits._
    val subjects = Seq(1L).toDF("s")
    val r = SilverIndex.eraseFingerprints(spark, path, subjects, "s")
    assert(r.removed == 1 && r.remaining == 3)
    val after = SilverIndex.framePairs(spark, path, 100000L, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(after == Set((200000L, 400000L)), after.toString)
    // the surviving table is the clean-corpus build exactly
    val clean = synFrames.where(col("doc_id") =!= 1L)
      .select(col("doc_id").as("doc"),
        col("frame_idx").cast("int").as("frame_idx"),
        graft.operators.Multimodal.dhashFingerprint(col("frame"))
          .as("fingerprint"))
    assert(rowSet(SilverIndex.fingerprintIndex(spark, path)) ==
      rowSet(clean))
  }

  test("streaming frame pairs: every pair emitted exactly once across " +
      "micro-batches; a replayed batch re-emits identically") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val sigPath = tmp("silver-fp-sig")
    val pairsPath = tmp("silver-fp-pairs")
    val rows = synFrames.collect()
      .map(r => (r.getLong(0), r.getInt(1),
        new String(r.getAs[Array[Byte]](2), "UTF-8")))
    val input = MemoryStream[(Long, Int, String)]
    val q = SilverIndex.onEachBatch(
      input.toDF().toDF("doc_id", "frame_idx", "txt")
        .select(col("doc_id"), col("frame_idx"),
          encode(col("txt"), "UTF-8").as("frame")), sigPath)(
      SilverIndex.frameNearDupBatch(_, _, "doc_id", "frame_idx", "frame",
        frameStride = 100000L, maxDist = 2, sigPath = sigPath,
        pairsPath = pairsPath))
    try {
      // docs 1 and 3 first (no pair), then the twins 2 and 4: all
      // three pairs surface in batch 2 — each exactly once
      input.addData(rows.filter(r => r._1 == 1L || r._1 == 3L).toSeq)
      q.processAllAvailable()
      input.addData(rows.filter(r => r._1 == 2L || r._1 == 4L).toSeq)
      q.processAllAvailable()
    } finally q.stop()
    def accumulated = spark.read.parquet(pairsPath)
      .select("doc_a", "doc_b", "hamming").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq.sorted
    val want = Dedup.hammingPairs(
        synFrames.select(
          (col("doc_id") * 100000L + col("frame_idx")).as("doc"),
          graft.operators.Multimodal.dhashFingerprint(col("frame"))
            .as("simhash")), 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .toSeq.sorted
    assert(accumulated == want, s"$accumulated vs $want")
    // replay batch 1 (the stored intent makes it re-derive the same
    // new-id set; the per-batch overwrite re-emits identically)
    SilverIndex.frameNearDupBatch(
      synFrames.where(col("doc_id") === 2L || col("doc_id") === 4L),
      batchId = 1L, "doc_id", "frame_idx", "frame", 100000L, 2,
      sigPath, pairsPath)
    assert(accumulated == want, "replay duplicated pairs")
  }

  test("edit index (d18): base+delta refresh == from-scratch; " +
      "nothing-new appends zero; index-served pairs == the scratch " +
      "operator; maxDist mismatch rejected") {
    val path = tmp("silver-edit")
    val cust = spark.read.parquet(s"${sf()}/customer.parquet")
    val r1 = SilverIndex.refreshEditIndex(
      cust.where(col("c_custkey") % 2 === 0), "c_custkey", "c_name",
      maxDist = 1, path = path)
    assert(r1.appended == r1.total && r1.total > 0)
    val r2 = SilverIndex.refreshEditIndex(cust, "c_custkey", "c_name",
      maxDist = 1, path = path)
    assert(r2.appended > 0 && r2.total == r1.total + r2.appended)
    val r3 = SilverIndex.refreshEditIndex(cust, "c_custkey", "c_name",
      maxDist = 1, path = path)
    assert(r3.appended == 0L && r3.total == r2.total)
    // stored variants == the per-row deterministic scratch build
    val scratch = Dedup.editVariantKeys(cust, "c_custkey", "c_name", 1)
      .select(col("id").as("doc"), col("str"), col("vk"),
        lit(1).as("d"))
    assert(rowSet(SilverIndex.editIndex(spark, path)) == rowSet(scratch))
    // served pairs == the scratch operator (d17's semantics verbatim)
    assert(rowSet(SilverIndex.editPairsFromIndex(spark, path, 1)) ==
      rowSet(Dedup.editPairs(cust, "c_custkey", "c_name", 1)))
    intercept[IllegalArgumentException] {
      SilverIndex.refreshEditIndex(cust, "c_custkey", "c_name",
        maxDist = 2, path = path)
    }
    intercept[IllegalArgumentException] {
      SilverIndex.editPairsFromIndex(spark, path, maxDist = 2)
    }
  }

  private def synNames = {
    val s = spark
    import s.implicits._
    // 2 is one substitution from 1; 4 is identical to 1 (dist 0, and
    // dist 1 to 2); 3 is unrelated
    Seq((1L, "analyst"), (2L, "analist"), (3L, "manager"),
      (4L, "analyst")).toDF("id", "name")
  }

  test("erasure: edit pairs can never name an erased key again") {
    val path = tmp("silver-erase-edit")
    SilverIndex.refreshEditIndex(synNames, "id", "name", 1, path)
    def served = SilverIndex.editPairsFromIndex(spark, path, 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4)))
      .toSet
    assert(served == Set((1L, 2L, 1L), (1L, 4L, 0L), (2L, 4L, 1L)),
      served.toString)
    val s = spark
    import s.implicits._
    val r = SilverIndex.eraseEditIndex(spark, path,
      Seq(1L).toDF("subject"), "subject")
    assert(r.removed > 0)
    assert(served == Set((2L, 4L, 1L)), served.toString)
    // the surviving table is the clean-corpus build exactly
    assert(rowSet(SilverIndex.editIndex(spark, path)) ==
      rowSet(Dedup.editVariantKeys(
          synNames.where(col("id") =!= 1L), "id", "name", 1)
        .select(col("id").as("doc"), col("str"), col("vk"),
          lit(1).as("d"))))
  }

  test("streaming edit pairs: every pair emitted exactly once across " +
      "micro-batches; a replayed batch re-emits identically") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val sigPath = tmp("silver-edit-sig")
    val pairsPath = tmp("silver-edit-pairs")
    val input = MemoryStream[(Long, String)]
    val q = SilverIndex.onEachBatch(input.toDF().toDF("id", "name"),
      sigPath)(SilverIndex.editPairsBatch(_, _, "id", "name", maxDist = 1,
        maxVariantOcc = Long.MaxValue, sigPath = sigPath,
        pairsPath = pairsPath))
    try {
      // 1 and 3 first (no pair), then 2 and 4: all three pairs surface
      // in batch 1 — each exactly once
      input.addData((1L, "analyst"), (3L, "manager"))
      q.processAllAvailable()
      input.addData((2L, "analist"), (4L, "analyst"))
      q.processAllAvailable()
    } finally q.stop()
    def accumulated = spark.read.parquet(pairsPath)
      .select("id_a", "id_b", "dist").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    val want = Dedup.editPairs(synNames, "id", "name", 1)
      .select("id_a", "id_b", "dist").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    assert(accumulated == want, s"$accumulated vs $want")
    // replay batch 1 (the stored intent re-derives the same new-id
    // set; the per-batch overwrite re-emits identically)
    SilverIndex.editPairsBatch(synNames.where(col("id") % 2 === 0),
      batchId = 1L, "id", "name", 1, Long.MaxValue, sigPath, pairsPath)
    assert(accumulated == want, "replay duplicated pairs")
  }

  test("containment index (d20): base+delta refresh == from-scratch; " +
      "nothing-new appends zero; index-served pairs == the scratch " +
      "operator at any theta; n mismatch rejected") {
    val path = tmp("silver-containment")
    val r1 = SilverIndex.refreshContainmentIndex(
      docs.where(col("doc_id") % 2 === 0), "doc_id", "text", n = 3,
      path = path)
    assert(r1.appended == r1.total && r1.total > 0)
    val r2 = SilverIndex.refreshContainmentIndex(docs, "doc_id", "text",
      n = 3, path = path)
    assert(r2.appended > 0 && r2.total == r1.total + r2.appended)
    val r3 = SilverIndex.refreshContainmentIndex(docs, "doc_id", "text",
      n = 3, path = path)
    assert(r3.appended == 0L && r3.total == r2.total)
    // stored rows == the per-doc deterministic scratch build
    val scratch = Dedup.containmentDocRows(docs, "doc_id", "text", 3)
      .withColumn("n", lit(3)).withColumn("kind", lit("word"))
    assert(rowSet(SilverIndex.containmentIndex(spark, path)) ==
      rowSet(scratch))
    // served pairs == the scratch operator (d14's semantics verbatim)
    assert(rowSet(
        SilverIndex.containmentPairsFromIndex(spark, path, 3, 0.5)) ==
      rowSet(Dedup.containmentPairs(docs, "doc_id", "text", 3, 0.5)))
    // the artifact is THETA-FREE: the same stored rows serve a
    // different audit threshold and still equal the scratch operator
    assert(rowSet(
        SilverIndex.containmentPairsFromIndex(spark, path, 3, 0.3)) ==
      rowSet(Dedup.containmentPairs(docs, "doc_id", "text", 3, 0.3)))
    intercept[IllegalArgumentException] {
      SilverIndex.refreshContainmentIndex(docs, "doc_id", "text",
        n = 2, path = path)
    }
    intercept[IllegalArgumentException] {
      SilverIndex.containmentPairsFromIndex(spark, path, n = 2,
        theta = 0.5)
    }
  }

  private def synContainDocs = {
    val s = spark
    import s.implicits._
    // 2's three 3-grams all appear in 1 (C(2,1) = 1.0); 4 is identical
    // to 2 (equal sizes -> the pair appears once as (2, 4)); 3 shares
    // nothing
    Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta"),
      (2L, "alpha beta gamma delta epsilon"),
      (3L, "one two three four five six"),
      (4L, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
  }

  test("erasure: containment pairs can never name an erased doc again") {
    val path = tmp("silver-erase-containment")
    SilverIndex.refreshContainmentIndex(synContainDocs, "doc_id",
      "text", n = 3, path = path)
    def served = SilverIndex
      .containmentPairsFromIndex(spark, path, 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(served == Set((2L, 1L, 3L), (4L, 1L, 3L), (2L, 4L, 3L)),
      served.toString)
    val s = spark
    import s.implicits._
    val r = SilverIndex.eraseContainmentIndex(spark, path,
      Seq(2L).toDF("subject"), "subject")
    assert(r.removed > 0)
    assert(served == Set((4L, 1L, 3L)), served.toString)
    // the surviving table is the clean-corpus build exactly
    assert(rowSet(SilverIndex.containmentIndex(spark, path)) ==
      rowSet(Dedup.containmentDocRows(
          synContainDocs.where(col("doc_id") =!= 2L), "doc_id", "text",
          3)
        .withColumn("n", lit(3)).withColumn("kind", lit("word"))))
  }

  test("containment ACTION from the index (d21): keepBest over " +
      "index-served pairs == over scratch pairs") {
    val path = tmp("silver-containment-action")
    SilverIndex.refreshContainmentIndex(docs, "doc_id", "text", n = 3,
      path = path)
    val withQ = docs.select(col("doc_id"),
        graft.functions.TextFunctions.qualityMetrics(col("text")).as("m"))
      .select(col("doc_id"), col("m.n_words").as("n_words"),
        col("m.punct_ratio").as("punct_ratio"))
    def action(pairs: DataFrame) =
      Dedup.keepBestPerCluster(withQ, "doc_id", pairs,
        Seq(col("n_words"), -col("punct_ratio"), -col("doc_id")),
        aCol = "doc_small", bCol = "doc_big")
    assert(rowSet(action(
        SilverIndex.containmentPairsFromIndex(spark, path, 3, 0.5))) ==
      rowSet(action(
        Dedup.containmentPairs(docs, "doc_id", "text", 3, 0.5))))
  }

  test("streaming containment pairs: every pair emitted exactly once " +
      "across micro-batches; a replayed batch re-emits identically") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val sigPath = tmp("silver-containment-sig")
    val pairsPath = tmp("silver-containment-pairs")
    val input = MemoryStream[(Long, String)]
    val q = SilverIndex.onEachBatch(input.toDF().toDF("doc_id", "text"),
      sigPath)(SilverIndex.containmentPairsBatch(_, _, "doc_id", "text",
        n = 3, theta = 0.5, sigPath = sigPath, pairsPath = pairsPath))
    try {
      // 1 and 3 first (no pair), then 2 and 4: all three pairs surface
      // in batch 1 — each exactly once
      input.addData((1L, "alpha beta gamma delta epsilon zeta eta"),
        (3L, "one two three four five six"))
      q.processAllAvailable()
      input.addData((2L, "alpha beta gamma delta epsilon"),
        (4L, "alpha beta gamma delta epsilon"))
      q.processAllAvailable()
    } finally q.stop()
    def accumulated = spark.read.parquet(pairsPath)
      .select("doc_small", "doc_big", "n_shared").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    val want = Dedup.containmentPairs(synContainDocs, "doc_id", "text",
        3, 0.5)
      .select("doc_small", "doc_big", "n_shared").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    assert(accumulated == want, s"$accumulated vs $want")
    // replay batch 1 (the stored intent re-derives the same new-id
    // set; the per-batch overwrite re-emits identically)
    SilverIndex.containmentPairsBatch(
      synContainDocs.where(col("doc_id") === 2L || col("doc_id") === 4L),
      batchId = 1L, "doc_id", "text", 3, 0.5, sigPath, pairsPath)
    assert(accumulated == want, "replay duplicated pairs")
  }

  test("jaccard from the shared shingle artifact (d22): index-served " +
      "pairs == the scratch operator at any theta; ONE stored artifact " +
      "answers both criteria; erased docs leave the symmetric serve too") {
    val path = tmp("silver-jaccard")
    // same two-refresh build as the gate (delta ≡ scratch exercised)
    SilverIndex.refreshContainmentIndex(
      docs.where(col("doc_id") % 2 === 0), "doc_id", "text", n = 2,
      path = path)
    SilverIndex.refreshContainmentIndex(docs, "doc_id", "text", n = 2,
      path = path)
    // served symmetric pairs == the scratch operator, at the gate theta
    // and at a second one (the artifact is THETA-FREE for this
    // criterion too); the jaccard DOUBLE must match bit-for-bit (same
    // int inter/union -> same division)
    assert(rowSet(SilverIndex.jaccardPairsFromIndex(spark, path, 2, 0.5))
      == rowSet(Dedup.jaccardPairs(docs, "doc_id", "text", 2, 0.5)))
    assert(rowSet(SilverIndex.jaccardPairsFromIndex(spark, path, 2, 0.3))
      == rowSet(Dedup.jaccardPairs(docs, "doc_id", "text", 2, 0.3)))
    // CRITERION-FREE: the same stored rows serve the asymmetric audit
    assert(rowSet(
        SilverIndex.containmentPairsFromIndex(spark, path, 2, 0.5)) ==
      rowSet(Dedup.containmentPairs(docs, "doc_id", "text", 2, 0.5)))
    // n mismatch still rejected on the symmetric serve
    intercept[IllegalArgumentException] {
      SilverIndex.jaccardPairsFromIndex(spark, path, n = 3, theta = 0.5)
    }
    // the shared p6 erase removes the doc from the symmetric serve too
    val s = spark
    import s.implicits._
    val before = SilverIndex.jaccardPairsFromIndex(spark, path, 2, 0.5)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val subject = before.head._1
    SilverIndex.eraseContainmentIndex(spark, path,
      Seq(subject).toDF("subject"), "subject")
    val after = SilverIndex.jaccardPairsFromIndex(spark, path, 2, 0.5)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!after.exists(p => p._1 == subject || p._2 == subject))
    assert(after == before.filterNot(p =>
      p._1 == subject || p._2 == subject))
  }

  test("simhash index (d25): base+delta refresh == from-scratch; " +
      "nothing-new appends zero; index-served pairs == the scratch " +
      "operator at any radius (the artifact is distance-free); " +
      "n mismatch rejected") {
    val path = tmp("silver-simhash")
    val r1 = SilverIndex.refreshSimhashIndex(
      docs.where(col("doc_id") % 2 === 0), "doc_id", "text",
      shingleN = 2, path = path)
    assert(r1.appended == r1.total && r1.total > 0)
    val r2 = SilverIndex.refreshSimhashIndex(docs, "doc_id", "text",
      shingleN = 2, path = path)
    assert(r2.appended > 0 && r2.total == r1.total + r2.appended)
    val r3 = SilverIndex.refreshSimhashIndex(docs, "doc_id", "text",
      shingleN = 2, path = path)
    assert(r3.appended == 0L && r3.total == r2.total)
    // stored rows == the per-doc deterministic scratch signatures
    assert(rowSet(SilverIndex.simhashIndex(spark, path)) ==
      rowSet(Dedup.simhashDocs(docs, "doc_id", "text", 2)
        .withColumn("n", lit(2))))
    // served pairs == the scratch operator, at the gate radius and a
    // tighter one — maxDist is a serve-time choice over the same
    // stored signatures
    assert(rowSet(
        SilverIndex.simhashPairsFromIndex(spark, path, 2, 7)) ==
      rowSet(Dedup.simhashPairs(docs, "doc_id", "text", 7, 2)))
    assert(rowSet(
        SilverIndex.simhashPairsFromIndex(spark, path, 2, 3)) ==
      rowSet(Dedup.simhashPairs(docs, "doc_id", "text", 3, 2)))
    intercept[IllegalArgumentException] {
      SilverIndex.refreshSimhashIndex(docs, "doc_id", "text",
        shingleN = 3, path = path)
    }
    intercept[IllegalArgumentException] {
      SilverIndex.simhashPairsFromIndex(spark, path, 3, 7)
    }
  }

  test("erasure: simhash pairs can never name an erased doc again") {
    val path = tmp("silver-erase-simhash")
    SilverIndex.refreshSimhashIndex(synContainDocs, "doc_id", "text",
      shingleN = 2, path = path)
    def served = SilverIndex.simhashPairsFromIndex(spark, path, 2, 7)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val before = served
    // docs 2 and 4 are identical texts -> identical signatures, so the
    // (2, 4) pair is guaranteed at any radius
    assert(before.contains((2L, 4L)), before.toString)
    val s = spark
    import s.implicits._
    val r = SilverIndex.eraseSimhashIndex(spark, path,
      Seq(2L).toDF("subject"), "subject")
    assert(r.removed > 0)
    assert(!served.exists(p => p._1 == 2L || p._2 == 2L))
    // the surviving table is the clean-corpus build exactly
    assert(rowSet(SilverIndex.simhashIndex(spark, path)) ==
      rowSet(Dedup.simhashDocs(
          synContainDocs.where(col("doc_id") =!= 2L), "doc_id", "text",
          2)
        .withColumn("n", lit(2))))
  }

  test("streaming simhash pairs: every pair emitted exactly once " +
      "across micro-batches; a replayed batch re-emits identically") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val sigPath = tmp("silver-simhash-sig")
    val pairsPath = tmp("silver-simhash-pairs")
    val input = MemoryStream[(Long, String)]
    val q = SilverIndex.onEachBatch(input.toDF().toDF("doc_id", "text"),
      sigPath)(SilverIndex.simhashPairsBatch(_, _, "doc_id", "text",
        shingleN = 2, maxDist = 7, sigPath = sigPath,
        pairsPath = pairsPath))
    try {
      input.addData((1L, "alpha beta gamma delta epsilon zeta eta"),
        (3L, "one two three four five six"))
      q.processAllAvailable()
      input.addData((2L, "alpha beta gamma delta epsilon"),
        (4L, "alpha beta gamma delta epsilon"))
      q.processAllAvailable()
    } finally q.stop()
    def accumulated = spark.read.parquet(pairsPath)
      .select("doc_a", "doc_b", "hamming").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq.sorted
    val want = Dedup.simhashPairs(synContainDocs, "doc_id", "text",
        7, 2)
      .select("doc_a", "doc_b", "hamming").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq.sorted
    assert(want.nonEmpty, "fixture lost its planted twin pair")
    assert(accumulated == want, s"$accumulated vs $want")
    // replay batch 1 (the stored intent re-derives the same new-id
    // set; the per-batch overwrite re-emits identically)
    SilverIndex.simhashPairsBatch(
      synContainDocs.where(col("doc_id") === 2L || col("doc_id") === 4L),
      batchId = 1L, "doc_id", "text", 2, 7, sigPath, pairsPath)
    assert(accumulated == want, "replay duplicated pairs")
  }

  test("char-gram jaccard from the kind-tagged artifact (d24): " +
      "index-served pairs == the scratch dense operator; the density " +
      "gate's strategy choice cannot change the output; kind mixes " +
      "are rejected") {
    val path = tmp("silver-charjac")
    SilverIndex.refreshContainmentIndex(
      docs.where(col("doc_id") % 2 === 0), "doc_id", "text", n = 4,
      path = path, kind = "char")
    SilverIndex.refreshContainmentIndex(docs, "doc_id", "text", n = 4,
      path = path, kind = "char")
    val want = rowSet(Dedup.charJaccardPairs(docs, "doc_id", "text",
      4, 0.5))
    assert(rowSet(SilverIndex.jaccardPairsFromIndex(
      spark, path, 4, 0.5, kind = "char")) == want)
    // strategy-independence: every stored-serve path yields the same
    // rows (the density gate is purely a cost choice)
    val st = SilverIndex.containmentIndex(spark, path)
      .select(col("doc"), col("sz"), col("hashes"))
    assert(rowSet(Dedup.jaccardPairsFromStored(st, 0.5,
      Dedup.JaccardStrategy.Sparse)) == want)
    assert(rowSet(Dedup.jaccardPairsFromStored(st, 0.5,
      Dedup.JaccardStrategy.DenseMerge)) == want)
    // a word-kind refresh or serve against the char table is a
    // config mix, not a silent wrong answer
    intercept[IllegalArgumentException] {
      SilverIndex.refreshContainmentIndex(docs, "doc_id", "text",
        n = 4, path = path, kind = "word")
    }
    intercept[IllegalArgumentException] {
      SilverIndex.jaccardPairsFromIndex(spark, path, 4, 0.5)
    }
  }

  test("quality ACTION from the index (d23): keepBest over index-served " +
      "jaccard pairs == over scratch pairs") {
    val path = tmp("silver-jaccard-action")
    SilverIndex.refreshContainmentIndex(docs, "doc_id", "text", n = 2,
      path = path)
    val withQ = docs.select(col("doc_id"),
        graft.functions.TextFunctions.qualityMetrics(col("text")).as("m"))
      .select(col("doc_id"), col("m.n_words").as("n_words"),
        col("m.punct_ratio").as("punct_ratio"))
    def action(pairs: DataFrame) =
      Dedup.keepBestPerCluster(withQ, "doc_id", pairs,
        Seq(col("n_words"), -col("punct_ratio"), -col("doc_id")))
    assert(rowSet(action(
        SilverIndex.jaccardPairsFromIndex(spark, path, 2, 0.5))) ==
      rowSet(action(
        Dedup.jaccardPairs(docs, "doc_id", "text", 2, 0.5))))
  }

  test("streaming jaccard pairs: every pair emitted exactly once " +
      "across micro-batches (union of deltas == the full serve); a " +
      "replayed batch re-emits identically") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val sigPath = tmp("silver-jaccard-sig")
    val pairsPath = tmp("silver-jaccard-pairs")
    val input = MemoryStream[(Long, String)]
    val q = SilverIndex.onEachBatch(input.toDF().toDF("doc_id", "text"),
      sigPath)(SilverIndex.jaccardPairsBatch(_, _, "doc_id", "text",
        n = 2, theta = 0.5, sigPath = sigPath, pairsPath = pairsPath))
    try {
      // batch 0: 1 and 3 — no pair yet; batch 1: 2 and 4 — the
      // cross-batch pairs (1,2), (1,4) and the in-batch pair (2,4)
      // all surface in batch 1, each exactly once
      input.addData((1L, "alpha beta gamma delta epsilon zeta eta"),
        (3L, "one two three four five six"))
      q.processAllAvailable()
      input.addData((2L, "alpha beta gamma delta epsilon"),
        (4L, "alpha beta gamma delta epsilon"))
      q.processAllAvailable()
    } finally q.stop()
    def accumulated = spark.read.parquet(pairsPath)
      .select("doc_a", "doc_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
    val want = Dedup.jaccardPairs(synContainDocs, "doc_id", "text",
        2, 0.5)
      .select("doc_a", "doc_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
    assert(want.nonEmpty, "fixture lost its planted near-dups")
    assert(accumulated == want, s"$accumulated vs $want")
    // replay batch 1 (the stored intent re-derives the same new-id
    // set; the per-batch overwrite re-emits identically)
    SilverIndex.jaccardPairsBatch(
      synContainDocs.where(col("doc_id") === 2L || col("doc_id") === 4L),
      batchId = 1L, "doc_id", "text", 2, 0.5, sigPath, pairsPath)
    assert(accumulated == want, "replay duplicated pairs")
  }

  test("ivf compaction: rerun after a crash between the renames recovers the table") {
    import org.apache.hadoop.fs.Path
    val path = tmp("silver-ivf-crash")
    SilverIndex.refreshIvf(emb, "vec_id", "embedding", nlist = 16, path = path)
    val before = rowSet(SilverIndex.ivfAssigned(spark, path))
    val asg = new Path(s"$path/assigned")
    val fs = asg.getFileSystem(spark.sessionState.newHadoopConf())

    // simulate the crash window between compactIvf's two renames: the
    // live table renamed away to __retired, a COMPLETED staging copy
    // also present — the state where the old code deleted both surviving
    // copies and then failed on the missing live path
    val retired = new Path(s"$path/assigned__retired")
    val staging = new Path(s"$path/assigned__compacting")
    spark.read.parquet(asg.toString).write.parquet(staging.toString)
    require(fs.rename(asg, retired))
    assert(!fs.exists(asg))

    SilverIndex.compactIvf(spark, path)
    assert(rowSet(SilverIndex.ivfAssigned(spark, path)) == before,
      "recovered + recompacted table must hold exactly the original rows")
    assert(!fs.exists(retired) && !fs.exists(staging),
      "recovery must leave no stray staging/retired dirs")

    // staging-only crash state (retired already promoted then lost? no —
    // first rename committed, second didn't, retired later cleaned by an
    // operator): the completed staging copy alone is also recoverable
    spark.read.parquet(asg.toString).write.parquet(staging.toString)
    fs.delete(asg, true)
    SilverIndex.compactIvf(spark, path)
    assert(rowSet(SilverIndex.ivfAssigned(spark, path)) == before)

    // nothing to compact and nothing to recover stays a loud failure
    fs.delete(asg, true)
    intercept[IllegalStateException] {
      SilverIndex.compactIvf(spark, path)
    }
  }

  // ------------------- maintained connected components (d19, r18)

  test("maintained components (d19): any edge chunking folds to the " +
      "one-shot closure, including cross-batch bridge merges; replay " +
      "no-op; empty batches are identity") {
    val s = spark
    import s.implicits._
    // two chains and a triangle; the bridge edge (4,5) MERGES the
    // two chains' components when it arrives in a LATER batch
    val edges = Seq((1L, 2L), (2L, 3L), (4L, 5L), (3L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L), (20L, 21L))
    val all = edges.toDF("doc_a", "doc_b")
    def oneShot: Map[Long, Long] =
      graft.operators.Components.connectedComponents(all)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def served(path: String): Map[Long, Long] =
      SilverIndex.componentsIndex(spark, path)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = oneShot
    assert(want == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
    val rnd = new scala.util.Random(19)
    (1 to 5).foreach { trial =>
      val path = tmp(s"silver-cc-$trial")
      val marked = edges.zipWithIndex
        .map { case (e, i) => (e, rnd.nextInt(3)) }
      (0 to 2).foreach { b =>
        val batch = marked.collect { case (e, bb) if bb == b => e }
        SilverIndex.refreshComponents(
          batch.toDF("doc_a", "doc_b"), b.toLong, "doc_a", "doc_b", path)
      }
      assert(served(path) == want, s"trial $trial ($marked)")
    }
    // the explicit bridge case: chains {1,2,3} and {4,5} build first,
    // the bridge (3,4) merges them in batch 1 — old roots 1 and 4
    // both collapse to 1 via the contracted graph
    val path = tmp("silver-cc-bridge")
    SilverIndex.refreshComponents(
      Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("doc_a", "doc_b"),
      0L, "doc_a", "doc_b", path)
    assert(served(path) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L))
    SilverIndex.refreshComponents(
      Seq((3L, 4L)).toDF("doc_a", "doc_b"), 1L, "doc_a", "doc_b", path)
    assert(served(path) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L))
    // replay of a committed id is a no-op; an empty later batch and a
    // duplicate-edge batch are identity
    val before = served(path)
    val r = SilverIndex.refreshComponents(
      Seq((99L, 100L)).toDF("doc_a", "doc_b"), 1L, "doc_a", "doc_b", path)
    assert(r.appended == 0 && served(path) == before)
    SilverIndex.refreshComponents(
      Seq.empty[(Long, Long)].toDF("doc_a", "doc_b"), 5L,
      "doc_a", "doc_b", path)
    assert(served(path) == before, "empty batch must be identity")
    SilverIndex.refreshComponents(
      Seq((1L, 2L), (4L, 5L)).toDF("doc_a", "doc_b"), 6L,
      "doc_a", "doc_b", path)
    assert(served(path) == before,
      "re-emitted duplicate pairs must be absorbed by contraction")
  }

  test("streaming components: micro-batches fold to the one-shot " +
      "closure under Structured Streaming (the d19 streaming face)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val path = tmp("silver-cc-stream")
    val input = MemoryStream[(Long, Long)]
    val q = SilverIndex.onEachBatch(input.toDF().toDF("doc_a", "doc_b"),
      path)(SilverIndex.refreshComponents(_, _, "doc_a", "doc_b", path))
    try {
      input.addData((1L, 2L), (4L, 5L))
      q.processAllAvailable()
      input.addData((2L, 3L), (3L, 4L)) // bridges {1,2,3} into {4,5}
      q.processAllAvailable()
    } finally q.stop()
    val served = SilverIndex.componentsIndex(spark, path)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(served == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L),
      served.toString)
  }

  test("maintained components: crash window — an orphan _tmp version " +
      "is invisible and the replayed fold recovers") {
    val s = spark
    import s.implicits._
    val path = tmp("silver-cc-crash")
    SilverIndex.refreshComponents(
      Seq((1L, 2L)).toDF("doc_a", "doc_b"), 0L, "doc_a", "doc_b", path)
    // crash state: the staged next version, never renamed
    Seq((999L, 999L)).toDF("node", "component")
      .write.parquet(s"$path/_tmp_v1")
    def served: Map[Long, Long] =
      SilverIndex.componentsIndex(spark, path)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(served == Map(1L -> 1L, 2L -> 1L),
      "reader must ignore the orphan staging dir")
    SilverIndex.refreshComponents(
      Seq((2L, 3L)).toDF("doc_a", "doc_b"), 1L, "doc_a", "doc_b", path)
    assert(served == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    assert(!served.contains(999L), "the orphan staging junk must not leak")
  }

  test("driver quantizer caches are LRU-capped: a capped-out entry " +
      "reloads from parquet and serves identical rows") {
    val prop = "graft.silverindex.cacheCap"
    val pathA = tmp("silver-lru-a")
    val pathB = tmp("silver-lru-b")
    sys.props(prop) = "1"
    try {
      SilverIndex.refreshIvf(emb, "vec_id", "embedding", nlist = 4,
        path = pathA)
      val first = rowSet(SilverIndex.ivfAssigned(spark, pathA))
      // building + reading B evicts A's centroid entry at cap 1
      SilverIndex.refreshIvf(emb.where(col("vec_id") % 2 === 0),
        "vec_id", "embedding", nlist = 4, path = pathB)
      assert(rowSet(SilverIndex.ivfAssigned(spark, pathB)).nonEmpty)
      // A reloads through the miss path — identical rows
      assert(rowSet(SilverIndex.ivfAssigned(spark, pathA)) == first,
        "an evicted cache entry must reload identically")
    } finally sys.props -= prop
  }

  // --------------- banded semantic-decontam index (c31/s19, r18)

  /** A hand-built unit-norm sparse corpus in the TF-IDF triple shape:
    * train docs 1 (=eval 11), 2 (=eval 12), 3 (cosine 0.96 to 11 —
    * past θ=0.9 but not identical), 4 (disjoint buckets from both
    * eval docs — cosine 0). */
  private def synTriples = {
    val s = spark
    import s.implicits._
    Seq(
      (1L, 0L, 0.6), (1L, 1L, 0.8),
      (2L, 2L, 1.0),
      (3L, 0L, 0.8), (3L, 1L, 0.6),
      (4L, 5L, 1.0)).toDF("doc", "bucket", "weight")
  }

  private def synEvalTriples = {
    val s = spark
    import s.implicits._
    Seq(
      (11L, 0L, 0.6), (11L, 1L, 0.8),
      (12L, 2L, 1.0)).toDF("doc", "bucket", "weight")
  }

  test("semantic lsh index (c31): base+delta refresh == from-scratch; " +
      "nothing-new appends zero; index-served pairs == the scratch " +
      "banded operator; config mismatch rejected") {
    val path = tmp("silver-semantic")
    // the real corpus shape: shared-fit TF-IDF triples over documents
    val w = graft.operators.TextSearch.hashingTfIdf(
      graft.operators.TextSearch.postings(
        docs.select(col("doc_id").as("id"), col("text")), "id", "text"),
      dim = 64)
    val train = w.where(col("doc") % 20 =!= 0)
    val eval = w.where(col("doc") % 20 === 0)
    val r1 = SilverIndex.refreshSemanticLsh(
      train.where(col("doc") % 2 === 0), dim = 64, bits = 6, tables = 4,
      path = path)
    assert(r1.appended == r1.total && r1.total > 0)
    val r2 = SilverIndex.refreshSemanticLsh(train, dim = 64, bits = 6,
      tables = 4, path = path)
    assert(r2.appended > 0 && r2.total == r1.total + r2.appended)
    val r3 = SilverIndex.refreshSemanticLsh(train, dim = 64, bits = 6,
      tables = 4, path = path)
    assert(r3.appended == 0L && r3.total == r2.total)
    // stored signatures == the per-doc deterministic scratch build
    val scratchSigs = Dedup.sparseDocVectors(train, 64, "spec")
      .select(col("doc"), explode(AnnSearch.sparseTableSigs(
        col("buckets"), col("weights"), 6, 4)).as("__bk"))
      .select(col("doc"), col("__bk.tbl").as("tbl"),
        col("__bk.sig").as("sig"), lit(6).as("bits"), lit(4).as("tables"),
        lit(64).as("dim"))
    assert(rowSet(SilverIndex.semanticLshIndex(spark, path)) ==
      rowSet(scratchSigs))
    // served pairs == the scratch banded operator, row for row
    val served = SilverIndex.semanticPairsFromIndex(spark, path, eval,
      theta = 0.85)
    val scratch = Dedup.crossCosinePairsLsh(train, eval, theta = 0.85,
      dim = 64, bits = 6, tables = 4)
    assert(served.count() > 0)
    assert(rowSet(served) == rowSet(scratch))
    intercept[IllegalArgumentException] {
      SilverIndex.refreshSemanticLsh(train, dim = 64, bits = 8,
        tables = 4, path = path)
    }
  }

  test("erasure: semantic pairs can never name an erased doc again") {
    val path = tmp("silver-erase-semantic")
    SilverIndex.refreshSemanticLsh(synTriples, dim = 8, bits = 6,
      tables = 4, path = path)
    def served = SilverIndex.semanticPairsFromIndex(spark, path,
        synEvalTriples, theta = 0.9)
      .select("train_doc", "eval_doc").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // identical vectors share every signature — (1,11) and (2,12) are
    // certain; (3,11) at cosine 0.96 may or may not band
    assert(served.contains((1L, 11L)) && served.contains((2L, 12L)))
    val s = spark
    import s.implicits._
    val r = SilverIndex.eraseSemanticLsh(spark, path,
      Seq(1L).toDF("subject"), "subject")
    assert(r.removed > 0)
    assert(!served.exists(_._1 == 1L))
    // the surviving index serves the clean-corpus build exactly
    assert(rowSet(SilverIndex.semanticPairsFromIndex(spark, path,
        synEvalTriples, theta = 0.9)) ==
      rowSet(Dedup.crossCosinePairsLsh(
        synTriples.where(col("doc") =!= 1L), synEvalTriples,
        theta = 0.9, dim = 8, bits = 6, tables = 4)))
  }

  test("streaming semantic pairs: every pair emitted exactly once " +
      "across micro-batches; a replayed batch re-emits identically") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val sigPath = tmp("silver-semantic-sig")
    val pairsPath = tmp("silver-semantic-pairs")
    val input = MemoryStream[(Long, Long, Double)]
    val q = SilverIndex.onEachBatch(
      input.toDF().toDF("doc", "bucket", "weight"), sigPath)(
      SilverIndex.semanticPairsBatch(_, _, synEvalTriples,
        theta = 0.9, dim = 8, bits = 6, tables = 4,
        sigPath = sigPath, pairsPath = pairsPath))
    try {
      // doc 4 first (no pair), then 1–3: their pairs surface in batch
      // 1 — each exactly once (doc triples arrive whole, the s19
      // doc-boundary chunking contract)
      input.addData((4L, 5L, 1.0))
      q.processAllAvailable()
      input.addData((1L, 0L, 0.6), (1L, 1L, 0.8), (2L, 2L, 1.0),
        (3L, 0L, 0.8), (3L, 1L, 0.6))
      q.processAllAvailable()
    } finally q.stop()
    def accumulated = spark.read.parquet(pairsPath)
      .select("train_doc", "eval_doc", "cosine").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq.sorted
    val want = Dedup.crossCosinePairsLsh(synTriples, synEvalTriples,
        theta = 0.9, dim = 8, bits = 6, tables = 4)
      .select("train_doc", "eval_doc", "cosine").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq.sorted
    assert(accumulated == want, s"$accumulated vs $want")
    // replay batch 1 (the stored intent re-derives the same new-doc
    // set; the per-batch overwrite re-emits identically)
    SilverIndex.semanticPairsBatch(
      synTriples.where(col("doc") =!= 4L), batchId = 1L,
      synEvalTriples, theta = 0.9, dim = 8, bits = 6, tables = 4,
      sigPath = sigPath, pairsPath = pairsPath)
    assert(accumulated == want, "replay duplicated pairs")
  }

  test("semantic lsh refresh: a crash between the two table appends is " +
      "observable via the intent marker, harmless to serve, and heals " +
      "on the next refresh") {
    val path = tmp("silver-semantic-crash")
    val half = synTriples.where(col("doc") <= 2L)
    SilverIndex.refreshSemanticLsh(half, dim = 8, bits = 6, tables = 4,
      path = path)
    assert(!SilverIndex.semanticLshRefreshPending(spark, path))
    // hand-build the exact crash window of a refresh folding docs 3-4:
    // vectors appended, signatures NOT, intent marker still pending
    val late = synTriples.where(col("doc") > 2L)
    Dedup.sparseDocVectors(late, 8, "spec")
      .write.mode("append").parquet(s"${path}__vecs")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.create(new org.apache.hadoop.fs.Path(path, "_refresh_intent"),
      true).close()
    assert(SilverIndex.semanticLshRefreshPending(spark, path))
    // the half-state serves SAFELY: orphan vec rows are invisible to
    // the collision join, so the serve equals the committed half-corpus
    assert(rowSet(SilverIndex.semanticPairsFromIndex(spark, path,
        synEvalTriples, theta = 0.9)) ==
      rowSet(Dedup.crossCosinePairsLsh(half, synEvalTriples,
        theta = 0.9, dim = 8, bits = 6, tables = 4)))
    // the replayed refresh heals: missing signatures appear, the vec
    // rows do NOT duplicate, the marker clears, and the index serves
    // the full corpus exactly
    val vecRowsBefore = spark.read.parquet(s"${path}__vecs").count()
    SilverIndex.refreshSemanticLsh(synTriples, dim = 8, bits = 6,
      tables = 4, path = path)
    assert(!SilverIndex.semanticLshRefreshPending(spark, path))
    assert(spark.read.parquet(s"${path}__vecs").count() == vecRowsBefore,
      "healing must not duplicate vector rows")
    assert(rowSet(SilverIndex.semanticPairsFromIndex(spark, path,
        synEvalTriples, theta = 0.9)) ==
      rowSet(Dedup.crossCosinePairsLsh(synTriples, synEvalTriples,
        theta = 0.9, dim = 8, bits = 6, tables = 4)))
  }

  test("streaming semantic pairs: a benchmark APPENDED mid-stream is " +
      "recovered by ONE eval-delta index serve (the eval-append " +
      "contract)") {
    val s = spark
    import s.implicits._
    val sigPath = tmp("silver-semantic-append-sig")
    val pairsPath = tmp("silver-semantic-append-pairs")
    // the benchmark starts as {12}; {11} is appended after batch 0
    val eval1 = synEvalTriples.where(col("doc") === 12L)
    val evalDelta = synEvalTriples.where(col("doc") === 11L)
    val grown = synEvalTriples
    // batch 0: train docs 1 and 2 arrive while the benchmark is still
    // {12} — their (x, 11) pairs are missed by the stream, by contract
    SilverIndex.semanticPairsBatch(synTriples.where(col("doc") <= 2L),
      batchId = 0L, eval1, theta = 0.9, dim = 8, bits = 6, tables = 4,
      sigPath = sigPath, pairsPath = pairsPath)
    // later batches run against the GROWN benchmark (restart recipe)
    SilverIndex.semanticPairsBatch(synTriples.where(col("doc") > 2L),
      batchId = 1L, grown, theta = 0.9, dim = 8, bits = 6, tables = 4,
      sigPath = sigPath, pairsPath = pairsPath)
    val accumulated = spark.read.parquet(pairsPath)
      .select("train_doc", "eval_doc", "cosine")
    // the stream alone MISSES (1, 11): doc 1 arrived before 11 existed
    assert(!accumulated.collect()
      .exists(r => r.getLong(0) == 1L && r.getLong(1) == 11L))
    // recovery: one serve of the stored index against the eval DELTA
    // only (eval-delta-sized — stored signatures are read, not
    // recomputed) ...
    val recovered = SilverIndex.semanticPairsFromIndex(spark, sigPath,
      evalDelta, theta = 0.9)
    // ... and the union equals the full serve over the grown
    // benchmark, which equals the scratch banded operator
    assert(rowSet(accumulated.unionByName(recovered)) ==
      rowSet(Dedup.crossCosinePairsLsh(synTriples, grown, theta = 0.9,
        dim = 8, bits = 6, tables = 4)))
  }
}
