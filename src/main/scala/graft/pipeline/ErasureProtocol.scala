package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Privacy}
import graft.sources.LakeIO

/** The ERASURE CERTIFICATE protocol (p8) — the one run a compliance
  * officer actually executes, composed from the already-proven pieces:
  *
  *   1. build/refresh the derived artifacts from the FULL base
  *      (skipped on rerun once the pre-audit exists — see below);
  *   2. PRE-AUDIT everything and PERSIST it (the p5 counts; written
  *      before any mutation, so a rerun can still state what was);
  *   3. BASE ERASE: anti-join the subjects out of each base table,
  *      written as the clean release copies;
  *   4. ARTIFACT PROPAGATION: [[SilverIndex.erasePostings]] /
  *      [[SilverIndex.eraseMinhash]] / [[SilverIndex.eraseIvf]] (the
  *      p6 staged-swap rewrites — idempotent: erasing the already-
  *      erased is a no-op);
  *   5. SKETCH RESET + RE-FOLD: the insert-only KMV cannot subtract
  *      ([[SilverIndex.resetSketch]]'s rebuild-from-clean contract) —
  *      reset, then re-fold the CLEAN base; the maintained component
  *      map (d19) carries the same contract (a min-root merge cannot
  *      be subtracted) and resets + re-folds the clean base's
  *      near-dup pairs alongside it;
  *   6. CERTIFICATE: one manifest row per table/artifact/sketch with
  *      the pre-audit counts, the p5 accounting identity
  *      (n_total = n_refs + n_after), the re-audit MEASURED on the
  *      rewritten state (re_total, re_refs), and an additive survivor
  *      CONTENT DIGEST ([[Privacy.contentDigestAgg]] — the c15
  *      manifest discipline: certify content, not just counts).
  *
  * CRASH CONVERGENCE (the property CrashRecoverySpec injects): every
  * step is idempotent or guarded, so rerunning the whole protocol
  * after a crash at ANY point converges to the same certificate —
  *   - the artifact builds are guarded on the persisted pre-audit:
  *     without the guard, a rerun AFTER the base erase would re-append
  *     the erased docs through the id-anti-join refresh (they are no
  *     longer in the index, so the anti-join would let them back in);
  *   - the pre-audit itself is immutable once written (rerun reads it);
  *   - base erase recomputes from the immutable SOURCE frames;
  *   - the artifact erases are anti-joins (no-ops on re-run);
  *   - the sketch reset + re-fold is deterministic in the clean base.
  *
  * Digest coverage is the erasure-RELEVANT content: the per-row keys
  * (and for postings the (doc, term, tf) triple) — what proves the
  * subject's rows are gone and the survivors intact. Full-content
  * digests of derived values (minhash signatures, IVF list ids) would
  * need the quantizer replayed in the oracle; the survivor key set is
  * the auditable cross-engine contract. Scale: each leg is one scan +
  * an output-sized aggregate; the digests ride the same scans.
  */
object ErasureProtocol {

  /** Label the jobs a protocol step launches (guide §1.5) — the
    * description is thread-local, so each [[graft.operators.Par.jobs]]
    * thunk labels exactly its own jobs and the UI/JobProfile reading
    * attributes seconds to steps instead of '?'. */
  private def lbl[T](spark: SparkSession, step: String)(f: => T): T = {
    spark.sparkContext.setJobDescription(step)
    try f finally spark.sparkContext.setJobDescription(null)
  }

  /** Run (or resume) the protocol under `root`; the certificate lands
    * at `root/certificate`. `docs` needs (doc_id, text, lang); `emb`
    * needs (vec_id, embedding); `subjects` one id column shared by the
    * doc and vector id spaces. */
  def run(spark: SparkSession, root: String, docs: DataFrame,
      emb: DataFrame, subjects: DataFrame, subjectCol: String): Unit = {
    val pre = s"$root/pre"
    // FULL-base near-dup pairs, computed ONCE per protocol run and
    // cached (r19 optimization, guide §1.2 "don't compute things
    // twice"): the protocol used to run the corpus-wide shingle +
    // prefix-filter + verify pipeline TWICE — once for the step-1
    // component build and again over the clean base for the step-5
    // re-fold. Removing docs only removes pairs that NAME them
    // (candidate generation is a lossless superset and verification is
    // exact per pair, so neither depends on which other docs exist),
    // hence jaccardPairs(clean) ≡ jaccardPairs(full) minus pairs
    // naming a subject — ErasureProtocolSpec pins the set equality and
    // the p8 oracle pins the certificate bit-for-bit. The cache is
    // per-run scratch (both consumers sit inside this run), released
    // before returning.
    //
    // LAZY deliberately (r19 optimization, guide §2.6): jaccardPairs
    // runs its candidate-density probe jobs at CONSTRUCTION time
    // (~2 s serial at sf0.1), so constructing it here would serialize
    // that probe before the five concurrent artifact builds. Deferring
    // construction into the first thunk that touches it (the
    // components build leg — or the re-fold leg on a resumed run) lets
    // the probe overlap the other builds' jobs. Scala lazy vals are
    // thread-safe, so the Par.jobs threads see one shared frame.
    lazy val pairsFull = graft.ManagedCache.swap("ErasureProtocol.pairs",
      Dedup.jaccardPairs(docs, "doc_id", "text", n = 2, theta = 0.5))
    try {
      val subj = broadcast(
        subjects.select(col(subjectCol).as("__s")).distinct())
      lazy val pairsClean = pairsFull
        .join(subj, pairsFull("doc_a") === col("__s"), "left_anti")
        .join(subj, pairsFull("doc_b") === col("__s"), "left_anti")
      // ---- 1. artifacts from the FULL base, guarded (see scaladoc)
      if (!LakeIO.fsFor(spark, pre).exists(new Path(pre))) {
        buildArtifacts(spark, root, docs, emb, Some(pairsFull))
        // ---- 2. pre-audit, persisted BEFORE any mutation
        lbl(spark, "erasure: pre-audit") {
          audits(spark, root, docs, emb, subjects, subjectCol)
            .write.mode("overwrite").parquet(pre)
        }
      }
      // ---- 3+4+5, OVERLAPPED (guide §2.6): the base erases, the
      // three staged-swap artifact erases, the component-map reset +
      // re-fold, AND the KMV reset + re-fold are mutually independent
      // (disjoint paths, all idempotent — the crash-convergence
      // contract is per-step and unaffected by completion order).
      // The KMV re-fold consumes the clean base LOGICALLY
      // (Privacy.erase — the exact deterministic anti-join whose
      // output step 3 writes as the release copy, over immutable
      // source frames), so it no longer waits for the base-erase
      // write barrier; the certificate still audits the WRITTEN
      // release copy. Running them as concurrent jobs back-fills each
      // job's straggler tail instead of paying seven sequential tails.
      val cleanDocsLogical =
        Privacy.erase(docs, "doc_id", subjects, subjectCol)
      // width = thunk count: these are small independent write jobs
      // whose fixed stage/commit overhead IS the cost — capping at 4
      // left two of them serialized behind the others for no memory
      // benefit (each build side here is KB-scale)
      graft.operators.Par.jobs(Seq(
        () => lbl(spark, "erasure: base erase docs") {
          Privacy.erase(docs, "doc_id", subjects, subjectCol)
            .write.mode("overwrite").parquet(s"$root/base/documents") },
        () => lbl(spark, "erasure: base erase embeddings") {
          Privacy.erase(emb, "vec_id", subjects, subjectCol)
            .write.mode("overwrite").parquet(s"$root/base/embeddings") },
        () => lbl(spark, "erasure: erase postings") {
          SilverIndex.erasePostings(spark, s"$root/post", subjects,
            subjectCol) },
        () => lbl(spark, "erasure: erase minhash") {
          SilverIndex.eraseMinhash(spark, s"$root/mh", subjects,
            subjectCol) },
        () => lbl(spark, "erasure: erase ivf") {
          SilverIndex.eraseIvf(spark, s"$root/ivf", subjects,
            subjectCol) },
        () => lbl(spark, "erasure: components re-fold") {
          // the maintained component map (d19) cannot subtract a
          // member — a min-root merge is a semilattice fold, and the
          // stored map does not know whether the erased doc was the
          // bridge holding a component together — so the KMV
          // rebuild-from-clean contract applies verbatim (VERDICT r18
          // task 6): reset, re-fold the clean base's near-dup pairs
          // (≡ the cached full-base pairs minus subject-naming rows).
          SilverIndex.resetSketch(spark, s"$root/comp")
          SilverIndex.refreshComponents(pairsClean,
            batchId = 0L, "doc_a", "doc_b", s"$root/comp")
        },
        () => lbl(spark, "erasure: kmv re-fold") {
          SilverIndex.resetSketch(spark, s"$root/kmv")
          SilverIndex.refreshKmv(
            cleanDocsLogical.select(col("lang"), col("doc_id")),
            "lang", "doc_id", k = 32, s"$root/kmv")
        }), maxConcurrent = 7)
      // ---- 6. certificate audits the WRITTEN release copies (the
      // compliance artifact must describe what shipped, not a logical
      // twin), so it stays after the barrier
      val cleanDocs = spark.read.parquet(s"$root/base/documents")
      lbl(spark, "erasure: certificate") {
        finish(spark, root, pre, cleanDocs, subjects, subjectCol) }
    } finally graft.ManagedCache.release("ErasureProtocol.pairs")
  }

  /** Step 6, factored so the happy path above stays readable. */
  private def finish(spark: SparkSession, root: String, pre: String,
      cleanDocs: DataFrame, subjects: DataFrame,
      subjectCol: String): Unit = {
    // ---- 6. certificate: pre counts + measured re-audit + digests
    val cleanEmb = spark.read.parquet(s"$root/base/embeddings")
    val post = audits(spark, root, cleanDocs, cleanEmb, subjects,
        subjectCol)
      .select(col("name"), col("n_total").as("re_total"),
        col("n_refs").as("re_refs"), col("digest"))
    spark.read.parquet(pre)
      .select(col("name"), col("kind"), col("n_total"), col("n_refs"),
        col("n_after"))
      .join(post, Seq("name"))
      .write.mode("overwrite").parquet(s"$root/certificate")
  }

  /** Step 1 — the artifact builds, factored out so CrashRecoverySpec
    * can hand-build the exact mid-protocol states with the exact
    * production parameters. */
  private[pipeline] def buildArtifacts(spark: SparkSession, root: String,
      docs: DataFrame, emb: DataFrame,
      pairs: => Option[DataFrame] = None): Unit = {
    // five independent builds into five disjoint homes → concurrent
    // jobs (guide §2.6); `pairs` lets [[run]] pass its cached full-base
    // pair frame so the corpus pair pipeline runs once per protocol
    // run. BY-NAME so run()'s lazy frame is forced inside the
    // components thunk (its construction runs probe jobs — overlapped
    // here), not at this call.
    def pairsFull = pairs.getOrElse(
      Dedup.jaccardPairs(docs, "doc_id", "text", n = 2, theta = 0.5))
    graft.operators.Par.jobs(Seq(
      () => lbl(spark, "erasure: build postings") {
        SilverIndex.refreshPostings(docs, "doc_id", "text",
          s"$root/post") },
      () => lbl(spark, "erasure: build minhash") {
        SilverIndex.refreshMinhash(docs, "doc_id", "text", n = 2,
          numHashes = 8, s"$root/mh") },
      () => lbl(spark, "erasure: build ivf") {
        SilverIndex.refreshIvf(emb, "vec_id", "embedding", nlist = 8,
          s"$root/ivf") },
      () => lbl(spark, "erasure: build kmv") {
        SilverIndex.refreshKmv(docs.select(col("lang"), col("doc_id")),
          "lang", "doc_id", k = 32, s"$root/kmv") },
      () => lbl(spark, "erasure: build components") {
        SilverIndex.refreshComponents(pairsFull,
          batchId = 0L, "doc_a", "doc_b", s"$root/comp") }),
      maxConcurrent = 5)
    ()
  }

  /** Step 3 — the base erase, factored for the same reason. */
  private[pipeline] def baseErase(spark: SparkSession, root: String,
      docs: DataFrame, emb: DataFrame, subjects: DataFrame,
      subjectCol: String): Unit = {
    Privacy.erase(docs, "doc_id", subjects, subjectCol)
      .write.mode("overwrite").parquet(s"$root/base/documents")
    Privacy.erase(emb, "vec_id", subjects, subjectCol)
      .write.mode("overwrite").parquet(s"$root/base/embeddings")
  }

  /** One audit pass over every leg: (name, kind, n_total, n_refs,
    * n_after, digest) — counts via [[Privacy.erasureAudit]]'s
    * broadcast-left-join shape, the digest riding a second aggregate
    * on the same scan. The sketch leg has no per-subject rows (the
    * rebuild-from-clean contract), so its n_refs/n_after are NULL and
    * its n_total is the exploded (grp, hash) row count. */
  private[pipeline] def audits(spark: SparkSession, root: String, docs: DataFrame,
      emb: DataFrame, subjects: DataFrame,
      subjectCol: String): DataFrame = {
    val legs: Seq[(String, String, DataFrame, String, Seq[String])] = Seq(
      ("documents", "base", docs.select(col("doc_id")), "doc_id",
        Seq("doc_id")),
      ("embeddings", "base", emb.select(col("vec_id")), "vec_id",
        Seq("vec_id")),
      ("postings", "artifact",
        SilverIndex.postingsIndex(spark, s"$root/post"), "doc",
        Seq("doc", "term", "tf")),
      ("minhash", "artifact",
        SilverIndex.minhashIndex(spark, s"$root/mh"), "doc", Seq("doc")),
      ("ivf", "artifact",
        SilverIndex.ivfAssigned(spark, s"$root/ivf"), "neighbor_id",
        Seq("neighbor_id")))
    val subj = broadcast(
      subjects.select(col(subjectCol).as("__s")).distinct())
    val tableRows = legs.map { case (name, kind, df, keyCol, digCols) =>
      df.join(subj, df(keyCol) === subj("__s"), "left")
        .agg(count(lit(1)).as("n_total"),
          coalesce(sum(when(col("__s").isNotNull, lit(1L))
            .otherwise(lit(0L))), lit(0L)).as("n_refs"),
          Privacy.contentDigestAgg(digCols)
            .cast("string").as("digest"))
        .select(lit(name).as("name"), lit(kind).as("kind"),
          col("n_total"), col("n_refs"),
          (col("n_total") - col("n_refs")).as("n_after"), col("digest"))
    }.reduce(_ unionByName _)
    val kmvRows = SilverIndex.kmvIndex(spark, s"$root/kmv")
      .select(col("grp"), explode(col("kmins")).as("hk"))
      .agg(count(lit(1)).as("n_total"),
        Privacy.contentDigestAgg(Seq("grp", "hk"))
          .cast("string").as("digest"))
      .select(lit("kmv_lang").as("name"), lit("sketch").as("kind"),
        col("n_total"), lit(null).cast("long").as("n_refs"),
        lit(null).cast("long").as("n_after"), col("digest"))
    // the component-map leg (d19 → p8): like the KMV it carries NULL
    // per-subject counts — the closure has no accounting identity
    // (erasing a doc also removes neighbors paired ONLY with it, and
    // re-roots what the doc bridged), which is exactly why the
    // rebuild-from-clean contract applies — so it is certified by row
    // count + content digest over (node, component) of the current map
    val compRows = componentsOrEmpty(spark, s"$root/comp")
      .agg(count(lit(1)).as("n_total"),
        Privacy.contentDigestAgg(Seq("node", "component"))
          .cast("string").as("digest"))
      .select(lit("components").as("name"), lit("closure").as("kind"),
        col("n_total"), lit(null).cast("long").as("n_refs"),
        lit(null).cast("long").as("n_after"), col("digest"))
    tableRows.unionByName(kmvRows).unionByName(compRows)
  }

  /** The stored component map, or an empty (node, component) frame
    * when no version ever committed — a corpus with zero near-dup
    * pairs commits nothing ([[SilverIndex.refreshComponents]]'s
    * empty-first-batch contract), and the certificate must state the
    * empty closure rather than abort the audit. */
  private def componentsOrEmpty(spark: SparkSession,
      path: String): DataFrame =
    try SilverIndex.componentsIndex(spark, path)
    catch {
      case _: IllegalArgumentException =>
        spark.range(0).select(col("id").as("node"),
          col("id").as("component"))
    }
}
