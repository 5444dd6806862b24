package graft.operators

import graft.{PropHelper, SparkTestBase}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen

/** Randomized properties for the r17 operator wave — the R14–R16
  * discipline: JVM-side reference implementations checked exactly
  * against Spark over generated inputs. (Scd2IncrementalSpec carries
  * its own seeded chunking-fuzz; DedupSpec carries editPairs' seeded
  * brute-force fuzz — this wave covers the valve contract, the delta
  * pair partition, and the dhash kernel across distributions.) */
class R17PropertySpec extends SparkTestBase with PropHelper {

  // --------------------------- crossCosinePairs hot-bucket valve

  test("crossCosinePairs valve: valved flags equal a JVM replay over " +
      "postings with hot buckets deleted, and are a subset of the " +
      "unvalved flags — for random unit vectors and random ceilings") {
    val s = spark
    import s.implicits._
    val theta = 0.6
    // random sparse unit vectors over buckets 0..7 for 8 train + 4
    // eval docs; small bucket space forces real hot buckets
    val genCorpus: Gen[(Map[Long, Map[Long, Double]], Long)] = for {
      ceiling <- Gen.choose(2L, 6L)
      docs <- Gen.sequence[List[(Long, Map[Long, Double])], (Long, Map[Long, Double])](
        (0 until 12).map { i =>
          val id = if (i < 8) (i + 1).toLong else (100 + i).toLong
          for {
            nb <- Gen.choose(1, 5)
            bks <- Gen.pick(nb, 0L to 7L)
            ws <- Gen.listOfN(nb, Gen.choose(1, 9))
          } yield {
            val raw = bks.zip(ws.map(_.toDouble)).toMap
            val norm = math.sqrt(raw.values.map(w => w * w).sum)
            id -> raw.view.mapValues(_ / norm).toMap
          }
        }.toList)
    } yield (docs.toMap, ceiling)
    forAllGen(genCorpus, trials = 5) { case (vecs, ceiling) =>
      val tri = vecs.toSeq.flatMap { case (d, m) =>
        m.toSeq.map { case (b, w) => (d, b, w) }
      }.toDF("doc", "bucket", "weight")
      val train = tri.where(col("doc") < 100L)
      val evalW = tri.where(col("doc") >= 100L)
      // JVM reference: hot = train-side bucket occupancy > ceiling;
      // flags = round-6 dot over the surviving shared buckets >= θ
      val trainVec = vecs.filter(_._1 < 100L)
      val evalVec = vecs.filter(_._1 >= 100L)
      val occ = trainVec.values.flatMap(_.keys).groupBy(identity)
        .view.mapValues(_.size).toMap
      val hot = occ.filter(_._2 > ceiling).keySet
      def flags(dropHot: Boolean): Set[(Long, Long)] = (for {
        (t, tv) <- trainVec.toSeq
        (e, ev) <- evalVec.toSeq
        dot = tv.keySet.intersect(ev.keySet)
          .filter(b => !dropHot || !hot(b))
          .toSeq.sorted.map(b => tv(b) * ev(b)).sum
        r = BigDecimal(dot).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        if r >= theta
      } yield (t, e)).toSet
      def sparkFlags(ceil: Long): Set[(Long, Long)] =
        Dedup.crossCosinePairs(train, evalW, theta, maxBucketOcc = ceil)
          .select("train_doc", "eval_doc").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      val valved = sparkFlags(ceiling)
      val unvalved = sparkFlags(Long.MaxValue)
      assert(valved == flags(dropHot = true),
        s"valved != JVM hot-deleted reference (ceiling $ceiling, hot $hot)")
      assert(unvalved == flags(dropHot = false), "unvalved != JVM reference")
      assert(valved.subsetOf(unvalved), "the valve invented a flag")
    }
  }

  // --------------------- editPairsFromKeys' deltas partition the pairs

  test("editPairsDelta over random batch arrivals: the per-batch deltas " +
      "partition editPairs' output — every pair exactly once, in the " +
      "batch where its later key arrives") {
    val s = spark
    import s.implicits._
    val genKeys: Gen[List[String]] = for {
      n <- Gen.choose(6, 14)
      keys <- Gen.listOfN(n, Gen.listOfN(4,
        Gen.oneOf('a', 'b')).map(_.mkString))
    } yield keys
    forAllGen(genKeys, trials = 4) { keys =>
      val rows = keys.zipWithIndex.map { case (k, i) => ((i + 1).toLong, k) }
      val all = rows.toDF("id", "str")
      val want = Dedup.editPairs(all, "id", "str", maxDist = 1)
        .select("id_a", "id_b", "dist").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
      // three arrival batches by id stripe; keyed grows cumulatively
      val batches = rows.grouped(math.max(1, rows.size / 3 + 1)).toSeq
      var seen = Seq.empty[(Long, String)]
      val emitted = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Long)]
      batches.foreach { b =>
        seen = seen ++ b
        val keyed = Dedup.editVariantKeys(seen.toDF("id", "str"),
          "id", "str", 1)
        val delta = Dedup.editPairsFromKeys(keyed, maxDist = 1,
          newIds = Some(b.map(_._1).toDF("id")))
          .select("id_a", "id_b", "dist").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        emitted ++= delta
      }
      assert(emitted.size == emitted.distinct.size,
        s"a pair was emitted twice: ${emitted.diff(emitted.distinct)}")
      assert(emitted.toSeq.sorted == want,
        s"delta union ${emitted.toSeq.sorted} != one-shot $want")
    }
  }

  // ----------------- every pair family's delta partitions its full serve

  test("minhash, hamming, stored Jaccard and stored containment: over " +
      "random batch arrivals the per-batch deltas partition the full " +
      "serve over the final table — every pair exactly once") {
    val s = spark
    import s.implicits._
    // name → (per-doc table from (id, text), serve over that table with
    // an optional new-id slice)
    val families: Seq[(String, DataFrame => DataFrame,
        (DataFrame, Option[DataFrame]) => DataFrame)] = Seq(
      ("minhash", Dedup.minhashSets(_, "id", "text", 1, 16),
        (t, nw) => Dedup.minhashPairsFromSets(t, 2, 0.5, nw)),
      ("hamming", Dedup.simhashDocs(_, "id", "text", 1),
        (t, nw) => Dedup.hammingPairs(t, 12, nw)),
      ("stored jaccard", Dedup.containmentDocRows(_, "id", "text", 1),
        (t, nw) => Dedup.jaccardPairsFromStored(t, 0.5, newIds = nw)),
      ("stored containment", Dedup.containmentDocRows(_, "id", "text", 1),
        (t, nw) => Dedup.containmentPairsFromStored(t, 0.6, nw)))
    // short texts over a five-word vocabulary: exact and near duplicates
    // are common, so batches carry new↔new as well as new↔old pairs; ids
    // are shuffled, so a later batch may carry the smaller id of a pair
    val genDocs: Gen[List[(Long, String)]] = for {
      n <- Gen.choose(6, 14)
      texts <- Gen.listOfN(n, Gen.choose(2, 5).flatMap(k =>
        Gen.listOfN(k, Gen.oneOf("a", "b", "c", "d", "e"))
          .map(_.mkString(" "))))
      seed <- Gen.long
    } yield new scala.util.Random(seed)
      .shuffle((1 to n).map(_.toLong).toList).zip(texts)
    def collectRows(df: DataFrame): Seq[Seq[Any]] =
      df.collect().map(_.toSeq).toSeq
    families.foreach { case (name, table, serve) =>
      var sameBatchPairs = 0
      forAllGen(genDocs, trials = 3) { rows =>
        val want = collectRows(serve(table(rows.toDF("id", "text")), None))
        // the edit case's schedule: three arrival batches by row stripe,
        // the table grows cumulatively
        val batches = rows.grouped(math.max(1, rows.size / 3 + 1)).toSeq
        var seen = Seq.empty[(Long, String)]
        val emitted = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
        batches.foreach { b =>
          seen = seen ++ b
          val delta = collectRows(serve(table(seen.toDF("id", "text")),
            Some(b.map(_._1).toDF("doc"))))
          val ids = b.map(_._1).toSet
          sameBatchPairs += delta.count(_.take(2).forall(d =>
            ids(d.asInstanceOf[Long])))
          emitted ++= delta
        }
        val keys = emitted.map(_.take(2))
        assert(keys.size == keys.distinct.size,
          s"$name: a pair was emitted twice: ${keys.diff(keys.distinct)}")
        assert(emitted.map(_.mkString("|")).sorted ==
            want.map(_.mkString("|")).sorted,
          s"$name: delta union ${emitted.sortBy(_.mkString("|"))} != " +
            s"full serve ${want.sortBy(_.mkString("|"))}")
      }
      assert(sameBatchPairs > 0, s"$name: no trial emitted a new↔new pair")
    }
  }

  // --------------------------- DhashBits vs a JVM reference

  test("DhashBits equals the JVM bit-by-bit reference on random frames " +
      "of every length regime (empty, short, 64, long)") {
    val s = spark
    import s.implicits._
    def ref(b: Array[Byte]): Long = {
      var acc = 0L
      (0 until 63).foreach { j =>
        if (j + 1 < b.length && (b(j) & 0xff) < (b(j + 1) & 0xff))
          acc |= 1L << j
      }
      acc
    }
    val genFrames: Gen[List[Array[Byte]]] = Gen.listOfN(30, for {
      n <- Gen.oneOf(Gen.const(0), Gen.choose(1, 10), Gen.const(64),
        Gen.choose(65, 90))
      bs <- Gen.listOfN(n, Gen.choose(-128, 127))
    } yield bs.map(_.toByte).toArray)
    forAllGen(genFrames, trials = 4) { frames =>
      val got = frames.toDF("frame")
        .select(Multimodal.dhashFingerprint(col("frame")))
        .collect().map(_.getLong(0)).toSeq
      assert(got == frames.map(ref).toSeq)
    }
  }
}
