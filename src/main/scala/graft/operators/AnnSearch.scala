package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Column}

import graft.functions.VectorFunctions

/** Approximate-nearest-neighbor search over an embedding column.
  *
  *  - [[bruteForceTopK]]: exact baseline — broadcast the query set, score
  *    every (query, corpus) pair, per-query top-k window. Correct at any
  *    scale where |queries| is broadcastable; cost |Q|·|C|.
  *  - [[lshTopK]]: scale path — random-hyperplane signatures bucket the
  *    corpus; each query probes its own bucket plus all buckets within
  *    `probeHamming` bits, then exact-scores candidates only. Sub-linear
  *    candidate sets at 100 TB; recall tunable via bits/probes.
  */
object AnnSearch {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** (tables × bits) hyperplane-signature structs for bucketing — table t
    * uses planes [t*bits, (t+1)*bits) of the shared family. */
  private[operators] def tableSigs(v: Column, bits: Int, tables: Int): Column =
    array((0 until tables).map { tbl =>
      val wide = VectorFunctions.hyperplaneSignatureRange(v, tbl * bits, bits)
      struct(lit(tbl).as("tbl"), wide.as("sig"))
    }: _*)

  /** [[tableSigs]] computed from a SPARSE vector (sorted buckets +
    * aligned weights) without densifying — identical signatures
    * ([[graft.functions.SparseVecKernel]]'s bit-parity contract), at
    * O(nnz) per plane instead of O(dim). */
  private[graft] def sparseTableSigs(buckets: Column, weights: Column,
      bits: Int, tables: Int): Column =
    array((0 until tables).map { tbl =>
      val wide = VectorFunctions.sparseHyperplaneSignatureRange(
        buckets, weights, tbl * bits, bits)
      struct(lit(tbl).as("tbl"), wide.as("sig"))
    }: _*)

  /** All bucket ids within `maxFlips` Hamming bits of `sig` (including
    * sig itself): one XOR per mask, masks precomputed on the driver. */
  private def hammingProbes(sig: Column, bits: Int, maxFlips: Int): Column = {
    val masks = Seq(0L) ++ (1 to maxFlips).flatMap(r =>
      (0 until bits).combinations(r).map(_.foldLeft(0L)((m, b) => m | (1L << b))))
    array(masks.map(m => if (m == 0L) sig else sig.bitwiseXOR(lit(m))): _*)
  }

  /** Exact top-k cosine neighbors per query row.
    * Output: query_id, neighbor_id, cosine (double), rank. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    // norms hoisted per side below the materialization barriers (the
    // broadcast build / the spread exchange) — cosine re-derived both
    // inside the |Q|×n pair loop; cosinePre is bit-identical
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      VectorFunctions.norm(col(vecCol)).as("qn"))
    // spread the corpus across cores — a single parquet file otherwise
    // plans the whole cross join as one task
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
        VectorFunctions.norm(col(vecCol)).as("cn"))
      .transform((d: DataFrame) => Par.spread(d, col("neighbor_id")))
    val scored = broadcast(q).crossJoin(c)
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", VectorFunctions.cosinePre(
        VectorFunctions.dot(col("qv"), col("cv")), col("qn"), col("cn")))
    rankedTopK(scored, "query_id", "neighbor_id", "cosine", k)
  }

  /** Per-key top-k in rank order — `row_number() OVER (PARTITION BY key
    * ORDER BY score DESC, id ASC) <= k` re-expressed as the bounded
    * [[graft.functions.TopKByKey]] aggregate wherever the (score, id)
    * types support it. The window shape shuffles EVERY scored candidate
    * row; the aggregate's map-side partial pass caps the exchange at
    * tasks × |keys| × k entries (output-sized) — at the 1M-corpus smoke
    * the candidate ranking exchange is the dominant ANN cost. Bit-
    * identical ordering contract (TopKByKey scaladoc); falls back to the
    * window plan for unsupported types, so operator semantics never
    * depend on the fast path. */
  private[graft] def rankedTopK(scored: DataFrame, keyCol: String,
      idName: String, scoreName: String, k: Int): DataFrame = {
    import org.apache.spark.sql.types._
    val sOk = scored.schema(scoreName).dataType match {
      case DoubleType | FloatType | LongType | IntegerType | DateType |
           TimestampType | TimestampNTZType | _: DecimalType => true
      case _ => false
    }
    val iOk = scored.schema(idName).dataType match {
      case LongType | IntegerType | StringType => true
      case _ => false
    }
    if (sOk && iOk) {
      val agg = org.apache.spark.sql.graft.ColumnBridge.column(
        graft.functions.TopKByKey(
          org.apache.spark.sql.graft.ColumnBridge.expression(col(scoreName)),
          org.apache.spark.sql.graft.ColumnBridge.expression(col(idName)),
          k).toAggregateExpression())
      scored.groupBy(col(keyCol)).agg(agg.as("__top"))
        .select(col(keyCol), posexplode(col("__top")).as(Seq("__pos", "__e")))
        .select(col(keyCol), col("__e.id").as(idName),
          col("__e.score").as(scoreName),
          (col("__pos") + 1).cast(IntegerType).as("rank"))
    } else {
      // NOT silent: the window shuffles every candidate row where the
      // aggregate's exchange is output-sized — a caller landing here at
      // scale should widen TopKByKey's type support, not shrug
      log.warn(s"rankedTopK: (score ${scored.schema(scoreName).dataType.simpleString}, " +
        s"id ${scored.schema(idName).dataType.simpleString}) outside TopKByKey support — " +
        "falling back to the candidate-sized row_number window")
      val w = Window.partitionBy(col(keyCol))
        .orderBy(col(scoreName).desc, col(idName).asc)
      scored.withColumn("rank", row_number().over(w))
        .where(col("rank") <= k)
        .select(col(keyCol), col(idName), col(scoreName), col("rank"))
    }
  }

  /** Multi-table LSH approximate top-k. `tables` independent hyperplane
    * signatures of `bits` bits each; candidates = corpus vectors colliding
    * with the query in any table (plus `probeHamming`-bit probes per
    * table). Classic (L, b) LSH: recall grows with L, candidate cost with
    * L·2^{-b}. */
  def lshTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, bits: Int = 8, tables: Int = 8,
      probeHamming: Int = 1): DataFrame = {
    require(bits <= 20, "signature must stay bucket-join friendly")
    require(probeHamming <= 3, "probe count grows as C(bits, r) — cap r at 3")
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
        VectorFunctions.norm(col(vecCol)).as("cn")) // norm once per row, above the explode
      .transform((d: DataFrame) => Par.spread(d, col("neighbor_id"))) // parallelize + materialize before sig
      .withColumn("bk", explode(tableSigs(col("cv"), bits, tables)))
      .select(col("neighbor_id"), col("cv"), col("cn"),
        col("bk.tbl").as("tbl"), col("bk.sig").as("bucket"))
    val q0 = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        VectorFunctions.norm(col(vecCol)).as("qn"))
      .withColumn("bk", explode(tableSigs(col("qv"), bits, tables)))
      .select(col("query_id"), col("qv"), col("qn"),
        col("bk.tbl").as("tbl"), col("bk.sig").as("qsig"))
    val q = q0.withColumn("bucket",
      explode(hammingProbes(col("qsig"), bits, probeHamming)))
    // score BEFORE the pair-dedup (the cheap-verify-before-dedup shape,
    // as in lshNearDupPairs): a pair colliding in k tables is scored k
    // times (k small, cosine is one codegen'd VecDot), but the dedup
    // shuffle then moves only (ids, cosine) — not both embedding vectors,
    // ~20× fewer bytes at 64 dims (measured 94 s → dominated by the
    // vector-carrying shuffle at 1M docs × 1k queries)
    val scored = q.join(c, Seq("tbl", "bucket"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", VectorFunctions.cosinePre(
        VectorFunctions.dot(col("qv"), col("cv")), col("qn"), col("cn")))
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
      .dropDuplicates("query_id", "neighbor_id")
    rankedTopK(scored, "query_id", "neighbor_id", "cosine", k)
  }

  /** IVF-flat approximate top-k: a coarse quantizer partitions the corpus
    * into `nlist` inverted lists; each query exact-scores only the members
    * of its `nprobe` nearest lists.
    *
    * The quantizer seeds are a deterministic sample — the `nlist` corpus
    * vectors with the smallest `xxhash64(id)` (pseudo-random but stable
    * across runs/partitionings) — refined by two Lloyd passes
    * ([[ivfCentroids]]): assign the corpus to the current centroids,
    * recenter each list on its mean. Each pass is one broadcast-
    * assignment over the corpus and buys noticeably tighter lists than
    * raw samples (measured recall@5 at the a3 parameterization,
    * tools/recallprobe_r6.txt: 0.68 → 0.72 at sf0.001, 0.68 → 0.80 at
    * sf0.01; a third pass oscillates, not improves). At 100 TB
    * the list assignment is one broadcast-join pass over the corpus and
    * can be persisted as a table partitioned by `list_id`
    * ([[graft.pipeline.SilverIndex]]), making each query's probe a
    * partition-pruned scan of nprobe/nlist of the data; queries shuffle
    * only to their probed lists.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, nlist: Int = 16,
      nprobe: Int = 4): DataFrame = {
    val c = ivfCorpus(corpus, idCol, vecCol)
    val cents = ivfCentroids(c, nlist)
    val q0 = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    ivfTopKFromAssigned(q0, ivfAssign(c, cents), cents, k, nprobe)
  }

  /** Corpus normalized for the IVF machinery: (neighbor_id, cv), spread
    * across cores, ONE ROW PER ID. Id uniqueness defines the operator's
    * semantics — one list assignment and one candidate row per distinct
    * id (duplicate ids would duplicate candidates and shift top-k ranks,
    * and `ivfTopKFromAssigned` relies on disjoint lists to skip a pair
    * dedup). dropDuplicates lands on the hash(neighbor_id) partitioning
    * Par.spread just installed, so it costs a map-side aggregate, not
    * another exchange. */
  private[graft] def ivfCorpus(corpus: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      .transform((d: DataFrame) => Par.spread(d, col("neighbor_id")))
      .dropDuplicates("neighbor_id")

  /** Coarse quantizer over an [[ivfCorpus]]-shaped frame: `nlist`
    * deterministic hash-sampled seeds refined by two Lloyd passes
    * ([[lloyd]] over one subspace holding each vector whole). Returns a
    * driver-materialized (list_id, centv) frame of ≤ nlist rows (list
    * ids = seed doc ids, a stable labeling). */
  private[graft] def ivfCentroids(c: DataFrame, nlist: Int): DataFrame =
    lloyd(c, nlist, 1, None).head

  /** The ONE quantizer trainer, behind both [[ivfCentroids]] (one
    * subspace, each vector whole: `sub = None`) and [[pqCodebookFrames]]
    * (m width-`sub` subspaces): `k` deterministic hash-sampled seeds per
    * subspace, then two Lloyd passes — assign every training vector to
    * its nearest centroid, recenter each list on the member MEAN over
    * fixed-point longs (element × 2²⁴, summed as integers) so the result
    * is bit-deterministic across partitionings. Returns m
    * driver-materialized (list_id, centv) frames of ≤ k rows each, in
    * list_id-ascending order.
    *
    * Training runs on a DETERMINISTIC HASH SAMPLE of at most 2¹⁶ rows
    * (≈ 16 MB driver-side at 64 dims; the smallest `xxhash64(id)` — the
    * seed selection's own ordering, so seeds are always the sample's
    * first k rows, and every subspace draws the SAME sampled ids): one
    * distributed TakeOrdered job collects the sample and the Lloyd
    * iterations then run DRIVER-SIDE, all m subspaces per pass, against
    * the exact same kernel statics the distributed pass used ([[graft
    * .functions.VectorKernelNearest.nearestCentroid]] for assignment —
    * identical tie-breaks, null handling, double ordering —
    * [[graft.functions.VecAggKernel.roundFixed]] for the fixed-point
    * sums) — bit-identical means when the corpus fits the cap (every
    * golden-pinned sf, a2–a6/a9/a10/d9), one Spark job instead of
    * 1 + 2·iterations. This is the FAISS training discipline: quantizers
    * train on a bounded sample, because at 10¹¹ vectors a full-corpus
    * Lloyd pass per iteration is a corpus scan that buys nothing a large
    * sample doesn't.
    *
    * Count semantics mirror the distributed groupBy: every assigned row
    * counts (null vectors land on index 0 and dilute that list's mean
    * via n), null ELEMENTS are skipped per position, a vector longer than
    * the list width contributes its first `width` elements, and lists
    * with zero members drop out. Mean elements match the vector column's
    * element type — float in the lake tables, double in synthetic or
    * derived frames (a Float in a double-typed Row slot is a runtime
    * ClassCastException at codegen time). */
  private def lloyd(c: DataFrame, k: Int, m: Int,
      sub: Option[Int]): IndexedSeq[DataFrame] = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
    import org.apache.spark.sql.types.{StructField, StructType}
    val spark = c.sparkSession
    val idType = c.schema("neighbor_id").dataType
    val vecType = c.schema("cv").dataType
    val centSchema = StructType(Seq(StructField("list_id", idType),
      StructField("centv", vecType)))
    def centFrame(rows: Array[Row]) =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), centSchema)
    // ONE distributed job: the hash-ordered training sample
    val trainRows = c
      .withColumn("__h", xxhash64(col("neighbor_id")))
      .orderBy(col("__h"), col("neighbor_id"))
      .limit(math.max(k, 1 << 16))
      .select(col("neighbor_id"), col("cv"))
      .collect()
    val seedRows = trainRows.take(k)
    if (seedRows.isEmpty) return IndexedSeq.fill(m)(centFrame(seedRows))
    def part(v: scala.collection.Seq[Any], j: Int): scala.collection.Seq[Any] =
      sub.fold(v)(w => if (v == null) null else v.slice(j * w, (j + 1) * w))
    val width = sub.getOrElse(
      seedRows.head.getAs[scala.collection.Seq[Any]](1).length)
    val isFloat = graft.functions.floatElems(vecType)
    val toElem: Double => Any = if (isFloat) d => d.toFloat else d => d
    val scale = (1L << 24).toDouble
    // per-row subspace vectors wrapped ONCE for the kernel calls
    val parts: Array[Array[ArrayData]] = trainRows.map { r =>
      val s = r.getAs[scala.collection.Seq[Any]](1)
      Array.tabulate[ArrayData](m)(j =>
        if (s == null) null else new GenericArrayData(part(s, j).toArray))
    }
    var cents: IndexedSeq[Array[Row]] = (0 until m).map(j =>
      seedRows.map(r => Row(r.get(0),
        part(r.getAs[scala.collection.Seq[Any]](1), j))))
    (1 to 2).foreach { _ =>
      val cms = cents.map(rows =>
        centMatrixFromSortedRows(sortRowsById(rows, idType, centFrame), idType))
      val sums = cms.map(cm => Array.fill(cm.rows.length)(new Array[Long](width)))
      val counts = cms.map(cm => new Array[Long](cm.rows.length))
      var i = 0
      while (i < parts.length) {
        var j = 0
        while (j < m) {
          val v = parts(i)(j)
          val cm = cms(j)
          val t = graft.functions.VectorKernelNearest.nearestCentroid(
            v, isFloat, cm.mats, cm.nb2s, cm.nb2Null)
          counts(j)(t) += 1
          if (v != null) {
            val n = math.min(width, v.numElements())
            var e = 0
            while (e < n) {
              if (!v.isNullAt(e)) {
                val x = if (isFloat) v.getFloat(e).toDouble else v.getDouble(e)
                sums(j)(t)(e) += graft.functions.VecAggKernel.roundFixed(x * scale)
              }
              e += 1
            }
          }
          j += 1
        }
        i += 1
      }
      cents = cms.indices.map { j =>
        val cm = cms(j)
        cm.rows.indices.filter(counts(j)(_) > 0).map { t =>
          val n = counts(j)(t).toDouble
          Row(cm.rows(t).get(0),
            Array.tabulate[Any](width)(e => toElem(sums(j)(t)(e) / scale / n)).toSeq)
        }.toArray
      }
    }
    cents.map(centFrame)
  }

  /** Assign every corpus vector to its single nearest centroid →
    * (neighbor_id, cv, list_id), as a codegen'd NARROW MAP: the quantizer
    * is at most `nlist` driver rows by construction, so the centroid
    * matrix freezes into a [[graft.functions.NearestCentroid]] expression
    * (a whole-stage-codegen argmax kernel, the VecDot pattern) and the
    * assignment is one projection — zero exchange, zero window,
    * trivially parallel at any corpus size. Earlier shapes paid a
    * |corpus|×nlist argmax shuffle (r5 slimmed it to (id, list_id, sim),
    * ~1.5 GB at 1M docs × 64 lists; this removes it entirely), and
    * ivfTopK runs three assignment rounds per call — two Lloyd passes
    * plus the final one — so the saving triples. An intermediate HOF
    * formulation (`aggregate` over an array of cosine structs) was
    * measured 2× SLOWER than the r5 join at 1M docs: higher-order
    * functions are CodegenFallback, so the whole projection dropped to
    * interpreted eval — the same lesson VecDot's scaladoc records.
    *
    * Bit-compatibility contract with the broadcast-join + window shape
    * (which the a2–a6 golden hashes pin): see
    * [[graft.functions.VectorKernelNearest.nearestCentroid]]. */
  private def litOf(v: Any, dt: org.apache.spark.sql.types.DataType) =
    org.apache.spark.sql.graft.ColumnBridge.column(
      org.apache.spark.sql.catalyst.expressions.Literal.create(v, dt))

  /** The quantizer frozen driver-side for the narrow-map kernels:
    * list_id-ASCENDING rows (Spark's own ordering for the id type, so the
    * kernels' first-index tie-break equals the old window's
    * `list_id asc`), elements widened to double (exact for float
    * corpora; a null element leaves a 0.0 slot), centroid self-dots
    * precomputed with the same left-to-right accumulation as VecDot and
    * flagged null (`nb2Null`) when the centroid holds a null element —
    * see [[graft.functions.VectorKernelNearest]]'s contract.
    * `listIds` maps kernel indices back to list ids (codegen'd
    * element_at). */
  private[graft] final case class CentMatrix(rows: Array[org.apache.spark.sql.Row],
      mats: Array[Array[Double]], nb2s: Array[Double],
      nb2Null: Array[Boolean], idType: org.apache.spark.sql.types.DataType) {
    def listIds: Column =
      array(rows.toIndexedSeq.map(r => litOf(r.get(0), idType)): _*)
  }

  /** Spark-identical EXTERNAL ordering for a list_id column type, where
    * one exists: ascending nulls-first, strings by UTF8String binary
    * order (Scala's String ordering is UTF-16 code-unit order — differs
    * on supplementary characters), doubles/floats by SQLOrderingUtil
    * (NaN ranks greatest). Types without a verified match (timestamps,
    * intervals, nested) return None and keep the distributed sort. */
  private[graft] def listIdOrdering(
      dt: org.apache.spark.sql.types.DataType): Option[Ordering[Any]] = {
    import org.apache.spark.sql.types._
    val base: Option[(Any, Any) => Int] = dt match {
      case LongType => Some((a, b) =>
        java.lang.Long.compare(a.asInstanceOf[Long], b.asInstanceOf[Long]))
      case IntegerType => Some((a, b) =>
        java.lang.Integer.compare(a.asInstanceOf[Int], b.asInstanceOf[Int]))
      case ShortType => Some((a, b) =>
        java.lang.Short.compare(a.asInstanceOf[Short], b.asInstanceOf[Short]))
      case ByteType => Some((a, b) =>
        java.lang.Byte.compare(a.asInstanceOf[Byte], b.asInstanceOf[Byte]))
      case BooleanType => Some((a, b) => java.lang.Boolean.compare(
        a.asInstanceOf[Boolean], b.asInstanceOf[Boolean]))
      case DoubleType => Some((a, b) =>
        org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles(
          a.asInstanceOf[Double], b.asInstanceOf[Double]))
      case FloatType => Some((a, b) =>
        org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareFloats(
          a.asInstanceOf[Float], b.asInstanceOf[Float]))
      case StringType => Some((a, b) =>
        org.apache.spark.unsafe.types.UTF8String
          .fromString(a.asInstanceOf[String])
          .compareTo(org.apache.spark.unsafe.types.UTF8String
            .fromString(b.asInstanceOf[String])))
      case _: DecimalType => Some((a, b) =>
        a.asInstanceOf[java.math.BigDecimal]
          .compareTo(b.asInstanceOf[java.math.BigDecimal]))
      case _ => None
    }
    base.map(cmp => (x: Any, y: Any) =>
      if (x == null && y == null) 0
      else if (x == null) -1 // ascending = nulls first, Spark's default
      else if (y == null) 1
      else cmp(x, y))
  }

  private[graft] def centMatrix(cents: DataFrame): CentMatrix = {
    val idType = cents.schema("list_id").dataType
    // ≤ nlist driver rows by construction — sort driver-side when the id
    // type has a Spark-identical external ordering: a distributed
    // orderBy().collect() on a 16-row frame costs a range-partition
    // sample job plus a sort job, and the PQ path builds m·(iterations+1)
    // matrices per query (24 sort jobs at a9's m=8 were most of the
    // quantizer-training wall).
    val centRows = listIdOrdering(idType) match {
      case Some(ord) => cents.select(col("list_id"), col("centv"))
        .collect().sortWith((a, b) => ord.compare(a.get(0), b.get(0)) < 0)
      case None => cents.select(col("list_id"), col("centv"))
        .orderBy(col("list_id")).collect()
    }
    centMatrixFromSortedRows(centRows, idType)
  }

  /** Rows in Spark-identical list_id-ascending order — driver-side when
    * the id type has a verified external ordering ([[listIdOrdering]]),
    * via a tiny LocalRelation sort otherwise (exotic id types only;
    * never silently unsorted — the matrix tie-break contract depends on
    * it). */
  private[graft] def sortRowsById(rows: Array[org.apache.spark.sql.Row],
      idType: org.apache.spark.sql.types.DataType,
      frame: Array[org.apache.spark.sql.Row] => DataFrame)
      : Array[org.apache.spark.sql.Row] = listIdOrdering(idType) match {
    case Some(ord) =>
      rows.sortWith((a, b) => ord.compare(a.get(0), b.get(0)) < 0)
    case None => frame(rows).orderBy(col("list_id")).collect()
  }

  /** [[centMatrix]] over ALREADY list_id-ascending driver rows — the
    * zero-job path for quantizer training loops that hold the centroids
    * driver-side anyway. */
  private[graft] def centMatrixFromSortedRows(
      centRows: Array[org.apache.spark.sql.Row],
      idType: org.apache.spark.sql.types.DataType): CentMatrix = {
    val mats = new Array[Array[Double]](centRows.length)
    val nb2s = new Array[Double](centRows.length)
    val nb2Null = new Array[Boolean](centRows.length)
    centRows.zipWithIndex.foreach { case (r, t) =>
      val seq = r.getAs[scala.collection.Seq[Any]](1)
      val m = new Array[Double](if (seq == null) 0 else seq.length)
      var fn = Int.MaxValue
      var acc = 0.0
      var i = 0
      if (seq == null) fn = 0
      else seq.foreach { e =>
        if (e == null) { if (fn == Int.MaxValue) fn = i }
        else {
          val d = e match {
            case f: Float => f.toDouble
            case d0: Double => d0
          }
          m(i) = d
          if (fn == Int.MaxValue) acc += d * d
        }
        i += 1
      }
      mats(t) = m
      nb2s(t) = acc
      nb2Null(t) = fn != Int.MaxValue
    }
    CentMatrix(centRows, mats, nb2s, nb2Null, idType)
  }

  private[graft] def ivfAssign(c: DataFrame, cents: DataFrame): DataFrame = {
    val cm = centMatrix(cents)
    if (cm.rows.isEmpty)
      return c.withColumn("list_id", litOf(null, cm.idType)).where(lit(false))
        .select(col("neighbor_id"), col("cv"), col("list_id"))
    val idx = org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.NearestCentroid(
        org.apache.spark.sql.graft.ColumnBridge.expression(col("cv")),
        cm.mats, cm.nb2s, cm.nb2Null))
    c.select(col("neighbor_id"), col("cv"),
      element_at(cm.listIds, idx + 1).as("list_id"))
  }

  /** Probe-and-score half of [[ivfTopK]], runnable from a LIVE
    * assignment or a persisted one ([[graft.pipeline.SilverIndex]]):
    * each query exact-scores the members of its `nprobe` nearest lists.
    * `q0` is (query_id, qv); `assigned` is (neighbor_id, cv, list_id);
    * `cents` is (list_id, centv).
    *
    * Probe selection is the same frozen-matrix NARROW MAP as
    * [[ivfAssign]] ([[graft.functions.NearestCentroids]], top-nprobe):
    * the pre-rewrite shape cross-joined |Q|×nlist rows and shuffled them
    * through a per-query row_number window just to pick nprobe list ids —
    * at batch-inference query counts that exchange scales with |Q|×nlist.
    * The kernel's probe SET per query is contractually identical to the
    * windowed one (NearestCentroidSpec pins the multi-probe parity). */
  /** The nprobe nearest list ids per query as a narrow map:
    * (query_id, qv, list_id), ≤ nprobe rows per query. Empty quantizer →
    * empty probes (typed by `idTypeFallback` so the downstream join still
    * resolves). */
  private[graft] def probeLists(q0: DataFrame, cents: DataFrame, nprobe: Int,
      idTypeFallback: Option[org.apache.spark.sql.types.DataType] = None)
      : DataFrame = {
    val cm = centMatrix(cents)
    if (cm.rows.isEmpty)
      q0.withColumn("list_id",
        litOf(null, idTypeFallback.getOrElse(cm.idType))).where(lit(false))
        .select(col("query_id"), col("qv"), col("list_id"))
    else {
      val idx = org.apache.spark.sql.graft.ColumnBridge.column(
        graft.functions.NearestCentroids(
          org.apache.spark.sql.graft.ColumnBridge.expression(col("qv")),
          cm.mats, cm.nb2s, cm.nb2Null, nprobe))
      q0.select(col("query_id"), col("qv"), explode(idx).as("__t"))
        .select(col("query_id"), col("qv"),
          element_at(cm.listIds, col("__t") + 1).as("list_id"))
    }
  }

  private[graft] def ivfTopKFromAssigned(q0: DataFrame, assigned: DataFrame,
      cents: DataFrame, k: Int, nprobe: Int): DataFrame = {
    val probes = probeLists(q0, cents, nprobe,
      idTypeFallback = Some(assigned.schema("list_id").dataType))
    // exact-score only candidates inside probed lists (disjoint lists — no
    // dedup); probes stay ≤ |Q|×nprobe rows and carry the broadcast hint
    // the old broadcast(q0)-derived lineage gave the join
    // norm hoisting was A/B'd here and REVERTED: IVF candidate sets
    // are ~|list| rows per probe, small enough that the per-pair norm
    // recompute is cheaper than the extra column + projection
    // (tools/opt_ab_r19opt4.txt: a3/a12 +0.1-0.15 s with the hoist)
    val scored = broadcast(probes).join(assigned, "list_id")
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", VectorFunctions.cosine(col("qv"), col("cv")))
    rankedTopK(scored, "query_id", "neighbor_id", "cosine", k)
  }

  /** kNN self-join entry point with the join SHAPE chosen by the
    * engine's own measure-then-decide discipline instead of by the
    * caller: the probe side of the broadcast formulation is exactly
    * n·nprobe exploded (query_id, qv, list_id) rows ≈ n·nprobe·(8·dim +
    * 16) bytes, so estimate that from one cheap count + a single-row
    * dim probe and dispatch — under the session's
    * `autoBroadcastJoinThreshold` the [[ivfTopK]] broadcast shape wins
    * (no shuffle; measured 1.5–2× at 100k, tools/knnjoin_smoke_r8.txt),
    * past it the [[knnJoinIvf]] partitioned `list_id` join is the only
    * shape that scales (nothing broadcast, nothing driver-sized; wins
    * 1.6–1.8× at 1M where the broadcast is 2 GB+). The threshold is the
    * session's DECLARED broadcast budget, so the dispatch is portable
    * to a real cluster rather than tuned to local[32]'s generous
    * driver; results are identical either way — same quantizer, same
    * probe kernel, same ranking (AnnSpec pins row equality, the a11
    * `knn_join_equiv` contract re-pins it in-gate).
    * Output: query_id, neighbor_id, cosine, rank. */
  def knnJoin(corpus: DataFrame, idCol: String, vecCol: String, k: Int,
      nlist: Int = 16, nprobe: Int = 4,
      rowCountHint: Long = -1L, dimHint: Int = -1): DataFrame = {
    val spark = corpus.sparkSession
    val threshold = spark.sessionState.conf.autoBroadcastJoinThreshold
    // Both stats come from hints when the caller already knows them
    // (catalog stats, a materialized upstream count) — ADVICE r9: the
    // probe jobs below re-run the corpus lineage, which at the design
    // scale is a full scan per stat. Without hints: dim from the first
    // row with a real vector — a leading NULL (or legacy size(NULL) =
    // -1) must not shrink the estimate to ~8 bytes/row and wave a
    // multi-GB probe side through the broadcast check; an all-null
    // corpus degenerates identically in both shapes.
    val dim =
      if (dimHint > 0) dimHint
      else corpus.select(size(col(vecCol)).as("d"))
        .where(col("d").isNotNull && col("d") > 0).head(1)
        .headOption.map(_.getInt(0)).getOrElse(0)
    val n = if (rowCountHint > 0) rowCountHint else corpus.count()
    if (knnJoinBroadcastFits(n, dim, nprobe, threshold))
      ivfTopK(corpus, corpus, idCol, vecCol, k, nlist, nprobe)
    else
      knnJoinIvf(corpus, idCol, vecCol, k, nlist, nprobe)
  }

  /** The [[knnJoin]] decision rule, exposed for the spec: does the
    * broadcast formulation's probe side fit the session's declared
    * broadcast budget? A disabled threshold (≤ 0) always takes the
    * partitioned shape. */
  private[graft] def knnJoinBroadcastFits(n: Long, dim: Int, nprobe: Int,
      threshold: Long): Boolean =
    threshold > 0 && n * nprobe * (8L * dim + 16) <= threshold

  /** k-nearest-neighbor SELF-join: every corpus vector → its k nearest
    * neighbors — the kNN-graph build behind near-dup graphing,
    * SemDeDup-style curation, and hard-negative mining. The query set
    * IS the corpus, so the [[ivfTopK]] probe shape (queries broadcast
    * into the assignment scan) cannot run at scale — a corpus-sized
    * probe side has no broadcastable form. Both sides instead carry
    * their IVF assignment and meet in a PARTITIONED equi-join on
    * `list_id`: members sit in their single nearest list, probers
    * explode to their `nprobe` nearest lists (both narrow maps over the
    * frozen centroid matrix — no exchange until the join itself),
    * candidates are per-list blocks (never all-pairs; AQE splits skewed
    * lists), and ranking is the output-sized [[graft.functions
    * .TopKByKey]] aggregate. At gate scale AQE may still CHOOSE to
    * broadcast the small side — the contract is that nothing REQUIRES
    * it (AnnSpec pins result identity under
    * autoBroadcastJoinThreshold=-1).
    *
    * Candidate sets are identical to `ivfTopK(corpus, corpus, …)` at
    * the same (nlist, nprobe) — same quantizer, same probe kernel; only
    * the join strategy differs — so the a11 contract battery checks
    * EQUALITY against the broadcast shape on a query sample, not a
    * recall floor. Deterministic end-to-end (deterministic Lloyd
    * quantizer, exact cosine, bit-stable ranking).
    * Output: query_id, neighbor_id, cosine, rank. */
  def knnJoinIvf(corpus: DataFrame, idCol: String, vecCol: String, k: Int,
      nlist: Int = 16, nprobe: Int = 4): DataFrame = {
    val c = ivfCorpus(corpus, idCol, vecCol)
    val cents = ivfCentroids(c, nlist)
    val members = ivfAssign(c, cents)
    val probers = probeLists(
      c.select(col("neighbor_id").as("query_id"), col("cv").as("qv")),
      cents, nprobe,
      idTypeFallback = Some(members.schema("list_id").dataType))
    val scored = probers.join(members, "list_id")
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", VectorFunctions.cosine(col("qv"), col("cv")))
    rankedTopK(scored, "query_id", "neighbor_id", "cosine", k)
  }

  /** Scalar-quantized (SQ8) top-k: candidates are scored on the int8-code
    * representation ([[graft.functions.VecNormQuantI8]], `floor(x/‖v‖ ·
    * levels)`), then the top `k × rescoreMult` per query are re-scored
    * with exact float cosine. The standard compression step before a
    * 100 TB ANN corpus: codes are 4× narrower than float32, so the
    * candidate scan reads a quarter of the bytes and the (query_id,
    * neighbor_id, qscore:long) ranking shuffle never carries a vector;
    * the exact-rescore pass touches only `|Q| · k · rescoreMult`
    * candidate rows, joined back to the float corpus as one broadcast
    * hash join (no corpus shuffle). The code column is what you would
    * PERSIST alongside the corpus (the [[graft.pipeline.SilverIndex]]
    * pattern); quantization itself is a narrow map.
    *
    * Fully deterministic — integer products/sums have no
    * reduction-order sensitivity and the quantizer is IEEE-exact — so
    * unlike LSH/IVF this approximate path gets a true DuckDB oracle
    * (`a8_ann_quantized`). Output: query_id, neighbor_id, cosine, rank. */
  def quantizedTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, levels: Int = 127,
      rescoreMult: Int = 4): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      .transform((d: DataFrame) => Par.spread(d, col("neighbor_id")))
    // MATERIALIZED, not just projected: a quant projection left adjacent
    // to the cross join gets folded into the join's output projection by
    // physical planning and re-runs the normalize+quantize kernel per
    // candidate PAIR — jstack showed 25/30 executor threads inside
    // normQuantI8 at 500q × 100k docs (the knnpq_fold_r8.txt hazard;
    // pqTopK's code table always had this guard). The cache is the same
    // persisted-codes discipline SilverIndex uses at scale.
    val c8 = graft.ManagedCache.swap("AnnSearch.quantizedTopK.codes",
      c.select(col("neighbor_id"),
        VectorFunctions.normQuantI8(col("cv"), levels).as("cq")))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val q8 = q.select(col("query_id"),
      VectorFunctions.normQuantI8(col("qv"), levels).as("qq"))
    val cand = broadcast(q8).crossJoin(c8)
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("qscore", VectorFunctions.dotInt(col("qq"), col("cq")))
    val top = rankedTopK(
      cand.select(col("query_id"), col("neighbor_id"), col("qscore")),
      "query_id", "neighbor_id", "qscore", k * rescoreMult)
      .select(col("query_id"), col("neighbor_id"))
    // exact rescore: candidates are ≤ |Q|·k·rescoreMult rows — broadcast
    // them INTO the float corpus scan (corpus side never shuffles), then
    // attach the float query vectors the same way
    val rescored = c.join(broadcast(top), "neighbor_id")
      .join(broadcast(q), "query_id")
      .withColumn("cosine", VectorFunctions.cosine(col("qv"), col("cv")))
    rankedTopK(rescored, "query_id", "neighbor_id", "cosine", k)
  }

  /** LSH-bucketed embedding near-dup pairs — the scale path for
    * [[cosineNearDupPairs]]: candidates are corpus vectors colliding in
    * any of `tables` hyperplane-signature tables, verified by exact
    * cosine. The verification filter runs INSIDE the self-join output,
    * before the pair-dedup shuffle (the cheap-verify-before-dedup shape;
    * cosine is one codegen'd VecDot). Recall grows with `tables`, bucket
    * size shrinks with `bits`. */
  def lshNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      theta: Double, bits: Int = 12, tables: Int = 8): DataFrame = {
    require(bits <= 20, "signature must stay bucket-join friendly")
    val t = df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .transform((d: DataFrame) => Par.spread(d, col("id")))
      .withColumn("bk", explode(tableSigs(col("v"), bits, tables)))
      .select(col("id"), col("v"),
        col("bk.tbl").as("tbl"), col("bk.sig").as("bucket"))
    val a = t.alias("a")
    val b = t.alias("b")
    // cosine computed ONCE per collision pair (a projection above the
    // join — Catalyst does not CSE across join condition and projection),
    // filtered before the pair-dedup shuffle
    a.join(b, col("a.tbl") === col("b.tbl") &&
        col("a.bucket") === col("b.bucket") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("vec_a"), col("b.id").as("vec_b"),
        VectorFunctions.cosine(col("a.v"), col("b.v")).as("cosine"))
      .where(col("cosine") >= theta)
      .dropDuplicates("vec_a", "vec_b")
  }

  /** Product-quantized (PQ) top-k (Jégou et al. 2011, public): the
    * vector splits into `m` subvectors, each coded as its nearest
    * centroid in a per-subspace `ksub`-entry codebook (the same
    * deterministic hash-sample + fixed-point-Lloyd quantizer as IVF,
    * run once per subspace) — `m·log₂(ksub)` BITS per vector instead of
    * `4·dim` bytes (64-dim float32 at m=4, ksub=16: 256 bytes → 2, a
    * 128× compression, vs SQ8's 4×). Candidates score asymmetrically
    * (ADC): each query precomputes lut[j][k] = dot(q_j, codebook_j[k])
    * once on the broadcast side ([[pqQueryLut]]), and scoring a
    * candidate is then m `element_at` lookups + adds against a corpus
    * side that carries only (id, m codes) — no vector op, no
    * reconstruction, no per-pair allocation ([[pqAdcCosine]]); the
    * float corpus is touched again only by the exact rescore of the top
    * `k·rescoreMult`, as one broadcast join (the [[quantizedTopK]]
    * discipline). Codebooks freeze driver-side (m·ksub·(dim/m) doubles
    * — KBs); at 100 TB the code column is what you persist
    * ([[graft.pipeline.SilverIndex]] pattern) and the LUT literals ride
    * the plan.
    *
    * Fully deterministic (frozen codebooks, per-row argmin encode,
    * left-to-right double cosine) → golden-pinned (`a9_ann_pq`);
    * AnnSpec holds the recall floor vs brute force. */
  def pqTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, m: Int = 4, ksub: Int = 16,
      rescoreMult: Int = 4): DataFrame = {
    require(m > 0 && ksub > 1, s"need m > 0, ksub > 1: m=$m ksub=$ksub")
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      .transform((d: DataFrame) => Par.spread(d, col("neighbor_id")))
    val sub = pqSubDim(c, m)
    val cms = pqCodebooks(c, m, ksub, sub)
    // MATERIALIZE the code table before the join: whole-stage codegen
    // defers a stream-side projection's variables to their consume site,
    // which for a nested-loop join is INSIDE the per-build-row loop — so
    // an unmaterialized encode re-runs once per (candidate × query) pair
    // instead of once per corpus row (measured 26× on the candidate
    // stage at 200k docs × 50 queries; the cache boundary is what makes
    // ADC scoring actually cheap). At scale the code table is persisted
    // anyway ([[graft.pipeline.SilverIndex.refreshIvfPq]]).
    val c8 = graft.ManagedCache.swap("AnnSearch.pqTopK.codes",
      c.select(col("neighbor_id"), pqEncode(col("cv"), cms, sub).as("codes")))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))

    // ADC candidate stage: LUT + query norm materialize per query row on
    // the broadcast side; per-candidate scoring is m lookups + adds
    val qx = q.withColumn("__lut", pqQueryLut(col("qv"), cms, sub))
      .withColumn("__qn", VectorFunctions.norm(col("qv")))
    val cand = broadcast(qx).crossJoin(c8)
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("qscore",
        pqAdcCosine(col("__lut"), col("__qn"), col("codes"), cms))
    exactRescore(pqCandTop(cand, k * rescoreMult), c, q, k)
  }

  /** dim/m, with the divisibility check (dim read from one corpus row). */
  private[graft] def pqSubDim(c: DataFrame, m: Int): Int = {
    val dim = c.select(size(col("cv"))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    dim / m
  }

  /** Per-subspace PQ codebooks: the IVF quantizer's trainer ([[lloyd]]
    * — hash-sampled seeds + fixed-point Lloyd) run on each width-`sub`
    * slice of an [[ivfCorpus]]-shaped frame. centMatrix's
    * list_id-ascending ordering makes code j a stable index into mats. */
  private[graft] def pqCodebooks(c: DataFrame, m: Int, ksub: Int,
      sub: Int): IndexedSeq[CentMatrix] =
    pqCodebookFrames(c, m, ksub, sub).map(centMatrix)

  /** The codebooks as (list_id, centv) frames — the persistable form
    * ([[graft.pipeline.SilverIndex.refreshIvfPq]] freezes these);
    * [[centMatrix]]'s list_id-ascending ordering reproduces the code →
    * mats-index mapping exactly on reload. All m subspaces train in ONE
    * pass over ONE hash sample ([[lloyd]]): one driver action instead of
    * 3 (r7) or 3·m (r5) — action latency is the whole cost of quantizer
    * training below corpus sizes that saturate a task. */
  private[graft] def pqCodebookFrames(c: DataFrame, m: Int, ksub: Int,
      sub: Int): IndexedSeq[DataFrame] =
    lloyd(c, ksub, m, Some(sub))

  /** m-code PQ encoding of `vec`: one [[graft.functions.NearestCentroid]]
    * argmin per subspace — a narrow codegen map, no exchange. */
  private[graft] def pqEncode(vec: Column, cms: Seq[CentMatrix], sub: Int): Column =
    array(cms.zipWithIndex.map { case (cm, j) =>
      org.apache.spark.sql.graft.ColumnBridge.column(
        graft.functions.NearestCentroid(
          org.apache.spark.sql.graft.ColumnBridge.expression(
            slice(vec, j * sub + 1, sub)),
          cm.mats, cm.nb2s, cm.nb2Null))
    }: _*)

  /** Per-query ADC lookup table, FLAT: lut[j·ksubⱼ-offset + k] =
    * dot(q_j, codebook_j[k]) — m·ksub doubles in ONE array column,
    * computed ONCE per query row on the broadcast side (m·ksub VecDot
    * kernels against codebook-entry literals). This is the actual
    * asymmetric-distance trick from Jégou et al.: with the LUT in hand,
    * scoring a candidate costs m flat-array loads + adds. FLAT matters
    * in Spark's row format: a nested array<array<double>> LUT pays an
    * UnsafeArrayData view allocation per `element_at(lut, j)` — m
    * allocations per candidate pair — where the flat layout is one
    * column load + m `getDouble`s (measured 3× on the serve path at 1M:
    * nested-LUT scoring was SLOWER than reconstruct-and-cosine). */
  private[graft] def pqQueryLut(qv: Column, cms: Seq[CentMatrix],
      sub: Int): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.PqLut(
        org.apache.spark.sql.graft.ColumnBridge.expression(qv),
        cms.map(_.mats).toArray, sub))

  /** Entry offset of subspace j in the flat LUT / flat nb2 layout. */
  private def pqOffsets(cms: Seq[CentMatrix]): IndexedSeq[Int] =
    cms.scanLeft(0)(_ + _.mats.length).toIndexedSeq

  /** ADC cosine of (query, coded candidate) from the flat per-query LUT,
    * the precomputed query norm, and the per-entry codebook self-dots
    * ([[CentMatrix.nb2s]], riding the plan as one flat literal):
    * dot = Σⱼ lut[offⱼ + code_j], ‖recon‖² = Σⱼ nb2[offⱼ + code_j].
    * Equal to cosine(qv, reconstruct(codes)) up to floating-point
    * regrouping (per-subspace partial sums instead of one left-to-right
    * pass over dim elements) — still fully deterministic: fixed
    * j-ascending adds, each partial the kernels' own left-to-right
    * accumulation. */
  private[graft] def pqAdcCosine(lut: Column, qn: Column, codes: Column,
      cms: Seq[CentMatrix]): Column = {
    val off = pqOffsets(cms)
    val dotSum = cms.indices.map(j =>
      element_at(lut, element_at(codes, j + 1) + (off(j) + 1)))
      .reduce(_ + _)
    val rn2 = pqCodeNorm2(codes, cms)
    when(qn === 0.0 || rn2 === 0.0, lit(0.0))
      .otherwise(dotSum / (qn * sqrt(rn2)))
  }

  /** ‖reconstruction(codes)‖² = Σⱼ ‖eⱼ(codeⱼ)‖² from the flat codebook
    * self-dot literal — fixed j-ascending adds, each entry the kernels'
    * own left-to-right accumulation ([[CentMatrix.nb2s]]). */
  private[graft] def pqCodeNorm2(codes: Column, cms: Seq[CentMatrix]): Column = {
    val off = pqOffsets(cms)
    val nb2Flat = typedLit(cms.flatMap(_.nb2s).toSeq)
    cms.indices.map(j =>
      element_at(nb2Flat, element_at(codes, j + 1) + (off(j) + 1)))
      .reduce(_ + _)
  }

  /** ‖centroid + reconstruction(codes)‖², evaluated at ENCODE time — the
    * per-vector scalar that makes residual ADC scoring scale-free at
    * query time: expanded as ‖c‖² + 2·Σⱼ dot(c⟨j⟩, eⱼ(codeⱼ)) +
    * Σⱼ ‖eⱼ(codeⱼ)‖² where c⟨j⟩ is the subspace-j slice of the coarse
    * centroid. Every term is a per-row codegen VecDot or a flat-literal
    * lookup over the m·ksub CODEBOOK entries (KBs, independent of nlist)
    * — the FAISS-style nlist×m×ksub precomputed table is deliberately
    * NOT materialized in the plan: at production nlist (10⁵–10⁶ lists)
    * that literal is GBs, while storing the norm with the codes costs 8
    * bytes per vector once. Deterministic: fixed j-ascending adds,
    * left-to-right kernel accumulation. */
  private[graft] def pqReconNorm2(centv: Column, codes: Column,
      cms: Seq[CentMatrix], sub: Int): Column = {
    val cross = cms.zipWithIndex.map { case (cm, j) =>
      val entries = typedLit(cm.mats.map(_.toIndexedSeq).toIndexedSeq)
      VectorFunctions.dot(slice(centv, j * sub + 1, sub),
        element_at(entries, element_at(codes, j + 1) + 1))
    }.reduce(_ + _)
    VectorFunctions.dot(centv, centv) + lit(2.0) * cross +
      pqCodeNorm2(codes, cms)
  }

  /** ADC cosine from the per-vector STORED reconstruction norm —
    * [[pqAdcCosine]]'s residual-encoded sibling: dot(q, x̂) = dot(q, c_L)
    * + Σⱼ lut[offⱼ + codeⱼ] (the lut is over RESIDUAL codebooks), cosine
    * = dot/(‖q‖·√rnorm2). `qcdot` arrives from a per-probe broadcast
    * join with the centroid table and `rnorm2` from the code table
    * itself, so nothing nlist-sized rides the plan. A non-positive or
    * null stored norm (degenerate all-zero reconstruction) scores 0, the
    * [[VectorFunctions.cosine]] convention. */
  private[graft] def pqAdcCosineStored(lut: Column, qn: Column, qcdot: Column,
      codes: Column, rnorm2: Column, cms: Seq[CentMatrix]): Column = {
    val off = pqOffsets(cms)
    val dotSum = qcdot + cms.indices.map(j =>
      element_at(lut, element_at(codes, j + 1) + (off(j) + 1)))
      .reduce(_ + _)
    when(qn === 0.0 || rnorm2.isNull || rnorm2 <= 0.0, lit(0.0))
      .otherwise(dotSum / (qn * sqrt(rnorm2)))
  }

  /** Top `n` candidates per query by quantized score → (query_id,
    * neighbor_id); the ranking shuffle carries (ids, qscore), never a
    * vector or code column. */
  private[graft] def pqCandTop(cand: DataFrame, n: Int): DataFrame =
    rankedTopK(cand.select(col("query_id"), col("neighbor_id"),
      col("qscore")), "query_id", "neighbor_id", "qscore", n)
      .select(col("query_id"), col("neighbor_id"))

  /** Exact-cosine rescore of a small (query_id, neighbor_id) candidate
    * set — the [[quantizedTopK]] discipline: candidates broadcast INTO
    * the float corpus scan (corpus side never shuffles), query vectors
    * attach the same way, per-query top-k window on exact cosine. */
  private[graft] def exactRescore(top: DataFrame, c: DataFrame, q: DataFrame,
      k: Int): DataFrame = {
    val rescored = c.join(broadcast(top), "neighbor_id")
      .join(broadcast(q), "query_id")
      .withColumn("cosine", VectorFunctions.cosine(col("qv"), col("cv")))
    rankedTopK(rescored, "query_id", "neighbor_id", "cosine", k)
  }

  /** [[exactRescore]] for corpus-sized query sets ([[knnJoinIvfPq]]):
    * neither the candidate pair set (|corpus|·k·rescoreMult rows) nor
    * the query vectors are broadcastable, so both attachment joins run
    * partitioned — the pair set is the largest frame touched and it is
    * output-proportional, never candidate-proportional. Same arithmetic
    * and ranking as the broadcast shape. */
  private[graft] def exactRescoreShuffled(top: DataFrame, c: DataFrame,
      q: DataFrame, k: Int): DataFrame = {
    val rescored = top.join(c, "neighbor_id").join(q, "query_id")
      .withColumn("cosine", VectorFunctions.cosine(col("qv"), col("cv")))
    rankedTopK(rescored, "query_id", "neighbor_id", "cosine", k)
  }

  /** IVF-PQ composite top-k — the production ANN shape at corpus sizes
    * where even one linear ADC scan per query batch is too much (FAISS's
    * IndexIVFPQ, Jégou et al. 2011): the coarse IVF quantizer prunes the
    * candidate scan to the `nprobe` nearest of `nlist` inverted lists,
    * and candidates inside probed lists score against their PQ codes
    * (asymmetric distance), so the scan reads nprobe/nlist of the corpus
    * at m·log₂(ksub) bits per vector; the float corpus is touched only
    * by the exact rescore of k·rescoreMult candidates per query.
    * Composes [[ivfTopK]]'s pruning machinery (frozen-centroid narrow-map
    * assignment + probe selection; disjoint lists, so no pair dedup) with
    * [[pqTopK]]'s code scoring — every stage is a narrow codegen map or a
    * broadcast join; the only shuffle is the (ids, qscore) candidate
    * ranking.
    *
    * Codes are RESIDUAL-encoded (FAISS's IndexIVFPQ default): each
    * vector's PQ codes quantize `v − centroid(list)` — residuals have
    * far less energy than raw vectors, so the same m·log₂(ksub) bit
    * budget spends its resolution on the part the coarse quantizer
    * didn't already explain. The subtraction is one codegen'd
    * [[graft.functions.VecSub]] under a broadcast join with the ≤ nlist
    * centroid rows (a narrow map — NOT the CodegenFallback `zip_with`
    * cliff that kept r7 on raw codes), and scoring decomposes as
    * dot(q, x̂) = dot(q, c_L) + Σⱼ lut[codeⱼ] with the reconstruction
    * norm ‖c_L + recon‖² computed once at ENCODE time and stored beside
    * the codes ([[pqReconNorm2]] — 8 bytes/vector instead of an
    * nlist×m×ksub query-time table that would be GBs at production
    * nlist). tools/residual_probe_r8.txt measures the recall buy at the
    * a10 parameterization.
    *
    * `rescoreMult` defaults to 40 on the measured recall-vs-bytes curve
    * (tools/pqtune_r9.txt, 100k structureless smoke corpus): the ADC
    * candidate pool is nprobe/nlist of the corpus per query, so a
    * k·rescoreMult exact-rescore pool of a few hundred rows is single-
    * digit percent of the candidates already scanned — yet deepening it
    * 10→40 moves recall 0.25→0.40 at the SAME 40-bit code budget
    * (10→160 reaches 0.50 of the 0.52 coarse-pruning ceiling; spending
    * the bits differently maxes at 0.31). Query-SET workloads should
    * leave it at 40; corpus-sized query sets ([[knnJoinIvfPq]])
    * auto-tune the depth from the pair-set bytes against the session's
    * declared shuffle capacity ([[knnJoinRescoreMult]]), because there
    * the rescore join is |corpus|·k·mult rows, a real shuffle. Fully deterministic (frozen quantizers,
    * per-row argmins, fixed-order adds) → golden-pinned
    * (`a10_ann_ivfpq`); AnnSpec holds the RAISED recall floor vs brute
    * force and raw-vs-residual superiority. `residual = false` keeps the
    * r7 raw-encoding shape (same machinery with a zero coarse term) for
    * measurement. */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, nlist: Int = 16, nprobe: Int = 4,
      m: Int = 8, ksub: Int = 32, rescoreMult: Int = 40,
      residual: Boolean = true,
      cacheSlot: String = "AnnSearch.ivfPqTopK.codes"): DataFrame = {
    // cacheSlot: CONCURRENT invocations over the same corpus plan hit
    // the same (slot, semanticHash) ManagedCache key — whichever swaps
    // second unpersists the frame the other may be mid-action on
    // (correctness preserved, concurrency win lost). Callers running
    // legs in parallel pass distinct slots (ADVICE r10: a11's two PQ
    // legs suffix the rescoreMult).
    require(m > 0 && ksub > 1, s"need m > 0, ksub > 1: m=$m ksub=$ksub")
    val c = ivfCorpus(corpus, idCol, vecCol)
    val q0 = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    ivfPqSearch(q0, ivfPqCoded(c, nlist, m, ksub, residual, cacheSlot), c,
      k, nprobe, rescoreMult, residual)
  }

  /** The trained-and-encoded IVF-PQ state — frozen coarse quantizer,
    * per-subspace codebooks, and the (neighbor_id, list_id, codes,
    * rnorm2) code table: built in memory by [[ivfPqCoded]], loaded from
    * the persisted index by
    * [[graft.pipeline.SilverIndex.ivfPqTopKFromIndex]]. */
  private[graft] case class IvfPqIndex(cents: DataFrame, cms: Seq[CentMatrix],
      sub: Int, codes: DataFrame,
      listIdType: org.apache.spark.sql.types.DataType)

  /** Assigned (neighbor_id, cv, list_id) rows beside their coarse
    * centroid, `cv` replaced by the residual `cv − centv` — the frame
    * residual codebooks train on and [[ivfPqEncode]] encodes. */
  private[graft] def ivfResiduals(assigned: DataFrame,
      cents: DataFrame): DataFrame =
    assigned.join(broadcast(cents), "list_id")
      .select(col("neighbor_id"), col("list_id"), col("centv"),
        VectorFunctions.sub(col("cv"), col("centv")).as("cv"))

  /** The residual IVF-PQ encoder: assigned (neighbor_id, cv, list_id) →
    * (neighbor_id, list_id, codes, rnorm2), per-row deterministic against
    * frozen quantizers. */
  private[graft] def ivfPqEncode(assigned: DataFrame, cents: DataFrame,
      cms: Seq[CentMatrix], sub: Int): DataFrame =
    ivfResiduals(assigned, cents)
      .withColumn("codes", pqEncode(col("cv"), cms, sub))
      .select(col("neighbor_id"), col("list_id"), col("codes"),
        pqReconNorm2(col("centv"), col("codes"), cms, sub).as("rnorm2"))

  /** Train and encode an [[IvfPqIndex]] over an [[ivfCorpus]]-shaped
    * frame, the code table materialized (the [[pqTopK]] codegen-deferral
    * reason). `residual = false` encodes the raw vectors instead. */
  private def ivfPqCoded(c: DataFrame, nlist: Int, m: Int, ksub: Int,
      residual: Boolean, cacheSlot: String, dimHint: Int = -1): IvfPqIndex = {
    // dimHint: skip the first-row dim probe job when the caller already
    // knows the vector dimension (a stored feature table's build
    // constant / sidecar — the knnJoin hint discipline); the
    // divisibility check still runs either way
    val sub =
      if (dimHint > 0) {
        require(dimHint % m == 0, s"dim $dimHint not divisible by m=$m")
        dimHint / m
      } else pqSubDim(c, m)
    val cents = ivfCentroids(c, nlist)
    val assigned = ivfAssign(c, cents)
    val (cms, coded) =
      if (residual) {
        val cms = pqCodebooks(ivfResiduals(assigned, cents)
          .select("neighbor_id", "cv"), m, ksub, sub)
        (cms, ivfPqEncode(assigned, cents, cms, sub))
      } else {
        val cms = pqCodebooks(assigned.select("neighbor_id", "cv"), m, ksub, sub)
        (cms, assigned.withColumn("codes", pqEncode(col("cv"), cms, sub))
          .select(col("neighbor_id"), col("list_id"), col("codes"),
            pqCodeNorm2(col("codes"), cms).as("rnorm2")))
      }
    IvfPqIndex(cents, cms, sub, graft.ManagedCache.swap(cacheSlot, coded),
      assigned.schema("list_id").dataType)
  }

  /** IVF-PQ probe rows (list_id, query_id, qv, __qcdot, __lut, __qn), ≤
    * nprobe per (query_id, qv) row of `q0`: the per-probe coarse term
    * dot(q, c_L) joins the ≤ nlist centroid rows (never an nlist-sized
    * literal; 0 for raw codes). */
  private def ivfPqProbes(q0: DataFrame, ix: IvfPqIndex, nprobe: Int,
      residual: Boolean): DataFrame = {
    val probes = probeLists(q0, ix.cents, nprobe,
      idTypeFallback = Some(ix.listIdType))
    val coarse =
      if (residual)
        probes.join(broadcast(ix.cents), "list_id")
          .withColumn("__qcdot", VectorFunctions.dot(col("qv"), col("centv")))
          .drop("centv")
      else probes.withColumn("__qcdot", lit(0.0))
    coarse.withColumn("__lut", pqQueryLut(col("qv"), ix.cms, ix.sub))
      .withColumn("__qn", VectorFunctions.norm(col("qv")))
  }

  /** The broadcast-shape IVF-PQ search behind [[ivfPqTopK]] and
    * [[graft.pipeline.SilverIndex.ivfPqTopKFromIndex]]: probe rows
    * broadcast into the code table, ADC-scored candidates, the top
    * k·rescoreMult per query exact-rescored against `c` (an
    * [[ivfCorpus]]-shaped frame). */
  private[graft] def ivfPqSearch(q0: DataFrame, ix: IvfPqIndex,
      c: DataFrame, k: Int, nprobe: Int, rescoreMult: Int,
      residual: Boolean = true): DataFrame = {
    val cand = broadcast(ivfPqProbes(q0, ix, nprobe, residual))
      .join(ix.codes, "list_id")
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("qscore", pqAdcCosineStored(col("__lut"), col("__qn"),
        col("__qcdot"), col("codes"), col("rnorm2"), ix.cms))
    exactRescore(pqCandTop(cand, k * rescoreMult), c, q0, k)
  }

  /** [[knnJoinIvf]] at PQ-code candidate resolution — the kNN-graph
    * build for corpora where even per-list float scoring is too much
    * CPU: candidates score against residual-encoded 40-bit codes (ADC,
    * [[ivfPqTopK]]'s machinery) and only the surviving k·rescoreMult
    * per query touch float vectors again. All broadcast shapes are
    * replaced by partitioned joins, since BOTH sides are corpus-sized:
    *  - probers derive the per-query LUT BEFORE they shuffle on
    *    `list_id` (the Exchange is the materialization barrier that
    *    keeps the LUT kernel from re-running per candidate; the wire
    *    carries the m·ksub-double LUT, not the vector), then meet the
    *    code table in a partitioned equi-join;
    *  - the exact rescore is [[exactRescoreShuffled]] — candidate pairs
    *    join the float corpus on each side key instead of broadcasting
    *    a |corpus|·k·rescoreMult pair set through the driver.
    * Same quantizers, codes, and scoring expressions as
    * `ivfPqTopK(corpus, corpus, …)` — AnnSpec pins row equality.
    *
    * `rescoreMult` AUTO-TUNES by default (r10, the a14 discipline): the
    * query-set path's measured optimum is 40 (tools/pqtune_r9.txt) but
    * here the rescore join is |corpus|·k·mult rows — a REAL shuffle —
    * so the depth is picked from the estimated pair bytes against the
    * session's declared shuffle capacity (shuffle partitions × target
    * partition bytes, both session confs — portable to a real cluster):
    * as deep as 40 while the pair set fits a healthy shuffle, floored
    * at the r8-validated 10 when the corpus is large enough that every
    * extra mult is mult·k rows per corpus vector
    * ([[knnJoinRescoreMult]], spec-pinned per regime; recall/wall A/B
    * at 100k in tools/knnmult_r10.txt). Pass an explicit positive value
    * to override; `rowCountHint` skips the sizing count when the caller
    * already knows |corpus|.
    * Output: query_id, neighbor_id, cosine (exact), rank. */
  def knnJoinIvfPq(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, nlist: Int = 16, nprobe: Int = 4, m: Int = 8,
      ksub: Int = 32, rescoreMult: Int = -1,
      rowCountHint: Long = -1L, dimHint: Int = -1): DataFrame = {
    require(m > 0 && ksub > 1, s"need m > 0, ksub > 1: m=$m ksub=$ksub")
    val c = ivfCorpus(corpus, idCol, vecCol)
    val mult =
      if (rescoreMult > 0) rescoreMult
      else {
        val conf = corpus.sparkSession.sessionState.conf
        val n = if (rowCountHint > 0) rowCountHint else c.count()
        knnJoinRescoreMult(n, k, conf.numShufflePartitions,
          conf.getConf(org.apache.spark.sql.internal.SQLConf
            .ADVISORY_PARTITION_SIZE_IN_BYTES))
      }
    val ix = ivfPqCoded(c, nlist, m, ksub, residual = true,
      "AnnSearch.knnJoinIvfPq.codes", dimHint = dimHint)
    val q0 = c.select(col("neighbor_id").as("query_id"), col("cv").as("qv"))
    // LUT BEFORE the exchange, deliberately: physical planning folds a
    // Project adjacent to a join into the join's OUTPUT projection, so
    // a lut computed "just under" the candidate join would re-run its
    // m·ksub·sub-mult kernel per CANDIDATE, not per probe row —
    // measured as 25/30 executor threads parked in VectorKernelPq.lut
    // and a 7× candidate-stage slowdown at 100k docs. The exchange is a
    // materialization barrier: each probe row's table is computed once,
    // shipped once (m·ksub doubles/row — the byte price of the barrier),
    // and only read per candidate.
    val probes = ivfPqProbes(q0, ix, nprobe, residual = true)
      .drop("qv")
      .repartition(col("list_id"))
    val cand = probes.join(ix.codes, "list_id")
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("qscore", pqAdcCosineStored(col("__lut"), col("__qn"),
        col("__qcdot"), col("codes"), col("rnorm2"), ix.cms))
    exactRescoreShuffled(pqCandTop(cand, k * mult), c, q0, k)
  }

  /** The [[knnJoinIvfPq]] rescore-depth rule, exposed for the spec:
    * deepest mult in [10, 40] whose |corpus|·k·mult pair set (at
    * ~32 B/row: two ids, the ADC score, row overhead) fits the
    * session's declared shuffle capacity — `shufflePartitions ×
    * advisoryPartitionSizeInBytes` (AQE's shuffle-partition target),
    * the same declared-budget discipline as [[knnJoinBroadcastFits]]. 10 and 40 are the two MEASURED regimes
    * (tools/pqtune_r9.txt: 40 = query-set recall optimum; 10 = the r8
    * kNN-graph floor); between them depth degrades proportionally
    * rather than falling off a cliff. */
  private[graft] def knnJoinRescoreMult(n: Long, k: Int,
      shufflePartitions: Int, advisoryPartitionBytes: Long): Int = {
    val pairRowBytes = 32L
    // advisory SHUFFLE-partition bytes (AQE's coalesce target), not the
    // file-scan split size — ADVICE r10: filesMaxPartitionBytes governs
    // how scans split files and says nothing about shuffle partition
    // capacity, so a tuned cluster could mis-size the depth through a
    // semantically unrelated knob
    val budget = shufflePartitions.toLong * advisoryPartitionBytes
    val fits = budget / math.max(1L, n * k * pairRowBytes)
    math.max(10L, math.min(40L, fits)).toInt
  }

  /** SemDeDup (Abbas et al. 2023, public): semantic near-duplicate
    * removal with CLUSTER blocking — the k-means sibling of
    * [[lshNearDupPairs]]'s hyperplane blocking. The corpus is coarsely
    * clustered by the deterministic IVF quantizer (hash-sampled seeds +
    * fixed-point Lloyd, [[ivfCentroids]] — one narrow-map assignment
    * pass), and candidate pairs are generated ONLY within a cluster:
    * cost Σ|cluster|² instead of |corpus|², and by SemDeDup's design
    * near-dups in different clusters are (deliberately) not candidates.
    * At 10¹¹ docs `nlist` scales with the corpus (10⁵–10⁶ lists) so
    * per-cluster membership stays bounded; the self-join shuffles on
    * `list_id`, and a skewed giant cluster is the signal to raise
    * `nlist`, not to salt — SemDeDup's quality degrades with cluster
    * size anyway. Fully deterministic → golden-pinned (`d9_semdedup`).
    *
    * Returns survivors `(idCol, list_id)`: the smaller id of every
    * within-cluster pair with cosine ≥ θ wins ([[Dedup.dropNearDups]]'s
    * min-id discipline). [[clusterNearDupPairs]] exposes the pairs. */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
      theta: Double, nlist: Int = 16): DataFrame = {
    val assigned = assignedClusters(df, idCol, vecCol, nlist)
    val pairs = pairsWithinClusters(assigned, theta)
    assigned
      .join(pairs.select(col("vec_b").as("neighbor_id")).distinct(),
        Seq("neighbor_id"), "left_anti")
      .select(col("neighbor_id").as(idCol), col("list_id"))
  }

  /** The within-cluster pair half of [[semanticDedup]]:
    * (vec_a < vec_b, cosine ≥ θ, list_id). */
  def clusterNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      theta: Double, nlist: Int = 16): DataFrame =
    pairsWithinClusters(assignedClusters(df, idCol, vecCol, nlist), theta)

  private def assignedClusters(df: DataFrame, idCol: String, vecCol: String,
      nlist: Int): DataFrame = {
    val c = ivfCorpus(df, idCol, vecCol)
    val cents = ivfCentroids(c, nlist)
    // the assignment feeds three consumers (both self-join sides + the
    // survivor anti-join) — materialize it once; the norm column rides
    // the cached rows so the pair scoring divides by stored norms
    // instead of re-deriving both inside the within-cluster pair loop
    graft.ManagedCache.swap("AnnSearch.semanticDedup.assigned",
      ivfAssign(c, cents)
        .withColumn("cn", VectorFunctions.norm(col("cv"))))
  }

  private def pairsWithinClusters(assigned: DataFrame, theta: Double)
      : DataFrame = {
    val a = assigned.alias("a")
    val b = assigned.alias("b")
    // cosine once per candidate pair, as a projection ABOVE the join
    // (Catalyst does not CSE across join condition and projection)
    a.join(b, col("a.list_id") === col("b.list_id") &&
        col("a.neighbor_id") < col("b.neighbor_id"))
      .select(col("a.neighbor_id").as("vec_a"),
        col("b.neighbor_id").as("vec_b"),
        col("a.list_id").as("list_id"),
        VectorFunctions.cosinePre(
          VectorFunctions.dot(col("a.cv"), col("b.cv")),
          col("a.cn"), col("b.cn")).as("cosine"))
      .where(col("cosine") >= theta)
  }

  /** Embedding-cosine near-duplicate pairs (vec_a < vec_b, cosine ≥ θ).
    * Exact quadratic version — the oracle-checkable baseline;
    * [[lshNearDupPairs]] is the scale path. */
  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      theta: Double): DataFrame = {
    val a = df.select(col(idCol).as("vec_a"), col(vecCol).as("va"),
        VectorFunctions.norm(col(vecCol)).as("na"))
      .transform((d: DataFrame) => Par.spread(d, col("vec_a"))) // one-file inputs must not serialize the n² scan
    val b = df.select(col(idCol).as("vec_b"), col(vecCol).as("vb"),
      VectorFunctions.norm(col(vecCol)).as("nb"))
    a.crossJoin(b)
      .where(col("vec_a") < col("vec_b"))
      .withColumn("cosine", VectorFunctions.cosinePre(
        VectorFunctions.dot(col("va"), col("vb")), col("na"), col("nb")))
      .where(col("cosine") >= theta)
      .select(col("vec_a"), col("vec_b"), col("cosine"))
  }
}
