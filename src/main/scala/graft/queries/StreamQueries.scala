package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Encoder, SQLContext,
  SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.pipeline.SilverIndex
import graft.streaming.EventsStream
import graft.queries.Tables.t

/** Batch-mode oracle checks for the streaming transforms (the exact same
  * plan runs under readStream with a watermark — StreamingSpec covers that
  * mode with MemoryStream). */
object StreamQueries {

  /** The s-family's replay scaffold: `batches` arrive on a MemoryStream of
    * `A`, exposed with the columns `cols` to the query `start` begins,
    * one micro-batch each (processAllAvailable after every add); the
    * query stops when the replay ends or fails. The collected rows are
    * the stream SOURCE only — the folds see ordinary executor-side
    * batches, each costing ∝ its own rows. */
  private def replay[A](s: SparkSession, batches: Seq[Seq[A]],
      cols: String*)(start: DataFrame => StreamingQuery)(
      implicit enc: Encoder[A]): Unit = {
    implicit val sqlCtx: SQLContext = s.sqlContext
    val source = MemoryStream[A]
    val q = start(source.toDF().toDF(cols: _*))
    try batches.foreach { b =>
      source.addData(b)
      q.processAllAvailable()
    } finally q.stop()
  }

  /** The replay's chunking: `rows` in order, as three micro-batches. */
  private def thirds[A](rows: Array[A]): Seq[Seq[A]] =
    rows.grouped(math.max(1, rows.length / 3 + 1))
      .map(_.toIndexedSeq).toSeq

  /** A BM25 index maintained by REAL Structured Streaming (once per
    * JVM + sf dir — [[IndexMemo]]): the corpus arrives as three
    * micro-batches folded into the persisted index by
    * [[SilverIndex.refreshPostings]] through [[SilverIndex.onEachBatch]]
    * (the same incremental refresh the batch path uses; replay
    * idempotence is StreamingIndexSpec's contract). */
  private[graft] def streamIndexPath(s: SparkSession, dir: String): String =
    IndexMemo.path(s"streambm25:$dir") { p =>
      import s.implicits._
      val docs = t(s, dir, "documents")
        .select("doc_id", "text").as[(Long, String)].collect()
      replay(s, thirds(docs), "doc_id", "text")(rows =>
        SilverIndex.onEachBatch(rows, p)((b, _) =>
          SilverIndex.refreshPostings(b, "doc_id", "text", p)))
    }

  /** Near-dup pairs accumulated by REAL Structured Streaming (once per
    * JVM + sf dir): the corpus arrives as three micro-batches through
    * [[SilverIndex.nearDupBatch]] — each batch appends its new
    * signatures and emits only the pairs involving its new docs, so the
    * accumulated pairs table equals the from-scratch d3 batch run. */
  private[graft] def streamNearDupPath(s: SparkSession, dir: String): String =
    IndexMemo.path(s"streamneardup:$dir") { p =>
      import s.implicits._
      val docs = t(s, dir, "documents")
        .select("doc_id", "text").as[(Long, String)].collect()
      replay(s, thirds(docs), "doc_id", "text")(rows =>
        SilverIndex.onEachBatch(rows, s"$p/sig")(SilverIndex.nearDupBatch(
          _, _, "doc_id", "text", n = 2, numHashes = 64, rowsPerBand = 4,
          theta = 0.5, sigPath = s"$p/sig", pairsPath = s"$p/pairs")))
    }

  /** The Bloom bit set maintained by REAL Structured Streaming (once
    * per JVM + sf dir): the ordering customers' keys arrive as three
    * micro-batches folded by [[SilverIndex.refreshBloom]]'s
    * duplicate-insensitive UNION+DISTINCT merge. */
  private[graft] def streamBloomPath(s: SparkSession, dir: String): String =
    IndexMemo.path(s"streambloom:$dir") { p =>
      import org.apache.spark.sql.functions.col
      import s.implicits._
      val rows = t(s, dir, "orders")
        .where(col("o_custkey").isNotNull)
        .select("o_custkey").as[Long].collect()
      replay(s, thirds(rows), "o_custkey")(keys =>
        SilverIndex.onEachBatch(keys, p)((b, _) => SilverIndex.refreshBloom(
          b, "o_custkey", numHashes = 5, mBits = 8192, path = p)))
    }

  /** KMV sketches maintained by REAL Structured Streaming (once per
    * JVM + sf dir): (event_type, user_id) pairs arrive as three
    * micro-batches folded into the sketch table by
    * [[SilverIndex.refreshKmv]]'s union-truncate merge. */
  private[graft] def streamKmvPath(s: SparkSession, dir: String): String =
    IndexMemo.path(s"streamkmv:$dir") { p =>
      import org.apache.spark.sql.functions.col
      import s.implicits._
      val rows = t(s, dir, "events")
        .where(col("event_type").isNotNull && col("user_id").isNotNull)
        .select("event_type", "user_id").as[(String, Long)].collect()
      replay(s, thirds(rows), "event_type", "user_id")(pairs =>
        SilverIndex.onEachBatch(pairs, p)((b, _) => SilverIndex.refreshKmv(
          b, "event_type", "user_id", k = 128, path = p)))
    }

  /** The k3 quantile sample maintained by REAL Structured Streaming
    * (once per JVM + sf dir): events arrive as three micro-batches; each
    * fold appends its hash-qualifying rows behind the id anti-join
    * ([[SilverIndex.refreshQuantileSample]]). */
  private[graft] def streamQuantPath(s: SparkSession, dir: String): String =
    IndexMemo.path(s"streamquant:$dir") { p =>
      import org.apache.spark.sql.functions.col
      import s.implicits._
      val rows = t(s, dir, "events")
        .where(col("event_id").isNotNull && col("event_type").isNotNull &&
          col("value").isNotNull)
        .select("event_id", "event_type", "value")
        .as[(Long, String, Double)].collect()
      replay(s, thirds(rows), "event_id", "event_type", "value")(events =>
        SilverIndex.onEachBatch(events, p)((b, _) =>
          SilverIndex.refreshQuantileSample(b, "event_id", "value",
            Seq("event_type"), "squant-r13", rate = 0.25, path = p)))
    }

  /** The k2 item stream (the first run of digits in `props`) replayed
    * as three micro-batches into a Count-Min sketch of `width` × 4 at
    * `p`, folded by [[SilverIndex.refreshCms]] under the batch-id
    * exactly-once guard. */
  private def replayCms(s: SparkSession, dir: String, p: String,
      width: Int): Unit = {
    import org.apache.spark.sql.functions.{col, regexp_extract}
    import s.implicits._
    val rows = t(s, dir, "events")
      .select(regexp_extract(col("props"), "(\\d+)", 1).cast("int")
        .as("item"))
      .where(col("item").isNotNull)
      .as[Int].collect()
    replay(s, thirds(rows), "item")(items =>
      SilverIndex.onEachBatch(items, p)(SilverIndex.refreshCms(
        _, _, "item", width = width, depth = 4, path = p)))
  }

  /** A Count-Min sketch maintained by REAL Structured Streaming (once
    * per JVM + sf dir): k2's width-32 sketch ([[replayCms]]). */
  private[graft] def streamCmsPath(s: SparkSession, dir: String): String =
    IndexMemo.path(s"streamcms:$dir")(replayCms(s, dir, _, width = 32))

  /** The k7-shaped CMS (width 64) maintained by REAL Structured
    * Streaming (once per JVM + sf dir): the same item stream as
    * [[streamCmsPath]] through [[replayCms]] — the counters are
    * additive, so the maintained table equals the batch
    * [[graft.operators.Sketches.cmsBuild]] exactly (the s9 contract at
    * k7's width). */
  private[graft] def streamHeavyPath(s: SparkSession, dir: String): String =
    IndexMemo.path(s"streamheavy:$dir")(replayCms(s, dir, _, width = 64))

  /** The event log's (period, event_type) rows — `period` derived from
    * `ts`, named `periodCol` — replayed as three micro-batches into the
    * ledger at `p` by [[SilverIndex.refreshDriftLedger]]'s additive
    * batch-id fold (the s9 discipline; counts can be neither
    * merge-idempotent nor id-anti-joined). */
  private def replayLedger[A](s: SparkSession, dir: String, p: String,
      periodCol: String, period: Column)(
      implicit enc: Encoder[(A, String)]): Unit = {
    import org.apache.spark.sql.functions.col
    val rows = t(s, dir, "events")
      .where(col("ts").isNotNull && col("event_type").isNotNull)
      .select(period.as(periodCol), col("event_type"))
      .as[(A, String)].collect()
    replay(s, thirds(rows), periodCol, "event_type")(events =>
      SilverIndex.onEachBatch(events, p)(SilverIndex.refreshDriftLedger(
        _, _, periodCol, "event_type", path = p)))
  }

  /** The week-over-week (period, category) drift LEDGER maintained by
    * real Structured Streaming (once per JVM + sf dir,
    * [[replayLedger]]). The maintained ledger equals the batch build, so
    * x13's oracle applies verbatim to the served report. */
  private[graft] def streamDriftPath(s: SparkSession, dir: String): String =
    IndexMemo.path(s"streamdrift:$dir") { p =>
      import org.apache.spark.sql.functions.{col, date_trunc}
      import s.implicits._
      replayLedger[java.sql.Date](s, dir, p, "wk",
        date_trunc("week", col("ts")).cast("date"))
    }

  /** The DAILY (day, event_type) volume ledger maintained by real
    * Structured Streaming (once per JVM + sf dir) — the s15 weekly
    * machinery at day granularity, via the SAME [[replayLedger]] fold.
    * One stored artifact answers the volume question
    * ([[graft.operators.Drift.levelShiftFromLedger]] sums it over
    * categories) and could serve a daily TV mix report from the same
    * rows — maintain once, monitor twice. */
  private[graft] def streamVolumePath(s: SparkSession, dir: String): String =
    IndexMemo.path(s"streamvolume:$dir") { p =>
      import org.apache.spark.sql.functions.{col, date_trunc}
      import s.implicits._
      replayLedger[java.sql.Date](s, dir, p, "day",
        date_trunc("day", col("ts")).cast("date"))
    }

  /** The HOURLY (hour, event_type) volume ledger maintained by real
    * Structured Streaming (once per JVM + sf dir) — the s15/s17 daily
    * machinery at hour granularity, via the SAME [[replayLedger]] fold;
    * x9's burst monitor serves from it
    * ([[graft.operators.Burst.hourlyBurstsFromLedger]]) instead of
    * rescanning raw events per run (VERDICT r18 task 5). */
  private[graft] def streamHourlyPath(s: SparkSession, dir: String): String =
    IndexMemo.path(s"streamhourly:$dir") { p =>
      import org.apache.spark.sql.functions.{col, date_trunc}
      import s.implicits._
      replayLedger[java.sql.Timestamp](s, dir, p, "hour",
        date_trunc("hour", col("ts")))
    }

  /** The c28 semantic-decontamination POSTINGS maintained by real
    * Structured Streaming (once per JVM + sf dir): the union corpus
    * (train docs + planted-paraphrase eval items — CurationQueries
    * .semanticUnion, shared with c28) arrives as three micro-batches
    * through [[SilverIndex.refreshPostings]] (the s5 id-anti-join
    * discipline — postings are per-doc deterministic, so delta ≡
    * scratch exactly). The IDF weighting recomputes from the postings
    * at SERVE time, so no frozen-vectorizer approximation is needed:
    * the served manifest equals c28's scratch build row-for-row. */
  private[graft] def streamSemanticPath(s: SparkSession, dir: String): String =
    IndexMemo.path(s"streamsemantic:$dir") { p =>
      import s.implicits._
      val docs = CurationQueries.semanticUnion(s, dir)
        .as[(Long, String)].collect()
      replay(s, thirds(docs), "id", "text")(rows =>
        SilverIndex.onEachBatch(rows, p)((b, _) =>
          SilverIndex.refreshPostings(b, "id", "text", p)))
    }

  /** The banded semantic-decontam index + flagged-pair log maintained
    * by REAL Structured Streaming (once per JVM + sf dir): the TRAIN
    * side of the shared-fit TF-IDF triples (CurationQueries.semanticW,
    * the frozen fit c28/c30/c31 all read) arrives as three
    * micro-batches — chunked on DOC boundaries (doc % 3), because a
    * doc's triples split across batches would band a partial vector —
    * through [[SilverIndex.semanticPairsBatch]] (the s6
    * transaction-intent protocol over hyperplane signatures: intent,
    * signature+vector append for new docs only, exactly the pairs
    * naming them into a per-batch overwrite partition). The eval side
    * is the frozen benchmark frame, so the accumulated pairs equal the
    * index serve (and the scratch banded operator) EXACTLY —
    * SilverIndexSpec pins all three faces pairwise. The index lives
    * under `sigs`, the pairs under `pairs`. */
  private[graft] def streamSemanticLshPath(s: SparkSession,
      dir: String): String =
    IndexMemo.path(s"streamsemanticlsh:$dir") { p =>
      import org.apache.spark.sql.functions.col
      import s.implicits._
      val w = CurationQueries.semanticW(s, dir)
      val isEval = CurationQueries.semanticIsEval
      val evalTriples = w.where(isEval)
      val train = w.where(!isEval)
        .select(col("doc"), col("bucket"), col("weight"))
        .as[(Long, Long, Double)].collect()
      replay(s, (0 until 3).map(i => train.filter(_._1 % 3 == i).toSeq),
          "doc", "bucket", "weight")(triples =>
        SilverIndex.onEachBatch(triples, s"$p/sigs")(
          SilverIndex.semanticPairsBatch(_, _, evalTriples,
            theta = 0.9, dim = 256, bits = 10, tables = 12,
            sigPath = s"$p/sigs", pairsPath = s"$p/pairs")))
    }

  /** Closed visits accumulated by REAL Structured Streaming (once per
    * JVM + sf dir): the event log arrives as three TIME-ORDERED
    * micro-batches through [[graft.streaming.EventsStream
    * .sessionizeStatefulStream]] — `flatMapGroupsWithState` keyed by
    * user, one OpenVisit row of state each, visits emitted on gap
    * break and flushed by EVENT-TIME TIMEOUT. Two sentinel ticks end
    * the replay: the first advances the watermark past every armed
    * timeout, the second's batch fires them (timeouts evaluate against
    * the PREVIOUS batch's watermark). Each batch's closed visits
    * commit to a `batch=<id>` partition with overwrite — the s6
    * idempotent-emission discipline: a replayed batch id recomputes
    * the identical rows from the checkpointed state version. */
  private[graft] def streamSessionsPath(s: SparkSession, dir: String): String =
    IndexMemo.path(s"streamsessions:$dir") { p =>
      import org.apache.spark.sql.functions.col
      import s.implicits._
      val rows = t(s, dir, "events")
        .where(col("user_id").isNotNull && col("ts").isNotNull &&
          col("event_id").isNotNull)
        .select("user_id", "ts", "event_id")
        .orderBy(col("ts"), col("event_id"))
        .as[(Long, java.sql.Timestamp, Long)].collect()
      val gapUs = 30L * 60 * 1000000
      // flush ticks anchor past the LAST event (rows arrive sorted); an
      // empty corpus has nothing to flush
      val ticks = rows.lastOption.toSeq.flatMap { last =>
        Seq(1L, 2L).map(k => Seq((-1L, new java.sql.Timestamp(
          last._2.getTime + gapUs / 1000 + k * 3600000L), -1L)))
      }
      replay(s, thirds(rows) ++ ticks, "user_id", "ts", "event_id")(events =>
        SilverIndex.onEachBatch(EventsStream.sessionizeStatefulStream(
            s, events, gapMicros = gapUs, flushUser = Some(-1L)).toDF(), p)(
          (b, id) => b.write.mode("overwrite")
            .parquet(s"$p/sessions/batch=$id")))
    }

  /** Funnel completions accumulated by REAL Structured Streaming (once
    * per JVM + sf dir): the event log arrives as three TIME-ORDERED
    * micro-batches through [[graft.streaming.EventsStream
    * .funnelStatefulStream]] — one 2k-long state row per participating
    * user, a Completion emitted exactly once when the final step's
    * EVENT arrives. No timeouts and therefore NO flush ticks: an
    * incomplete funnel never emits, matching the batch operator's
    * completed-only selection. Each batch's completions commit to a
    * `batch=<id>` partition with overwrite — the s6/s11 idempotent
    * emission discipline. */
  private[graft] def streamFunnelPath(s: SparkSession, dir: String): String =
    IndexMemo.path(s"streamfunnel:$dir") { p =>
      import org.apache.spark.sql.functions.col
      import s.implicits._
      val rows = t(s, dir, "events")
        .where(col("user_id").isNotNull && col("ts").isNotNull &&
          col("event_type").isNotNull)
        .select("user_id", "ts", "event_type")
        .orderBy(col("ts"), col("user_id"), col("event_type"))
        .as[(Long, java.sql.Timestamp, String)].collect()
      replay(s, thirds(rows), "user_id", "ts", "event_type")(events =>
        SilverIndex.onEachBatch(EventsStream.funnelStatefulStream(
            s, events, steps = Seq("view", "click", "purchase")).toDF(), p)(
          (b, id) => b.write.mode("overwrite")
            .parquet(s"$p/completions/batch=$id")))
    }

  /** HLL registers maintained by REAL Structured Streaming (once per
    * JVM + sf dir): k5's (event_type, user_id) rows arrive as three
    * micro-batches folded by [[SilverIndex.refreshHll]]'s
    * per-bucket-max merge — order- and duplicate-insensitive (the s7
    * family), so the maintained register table equals the
    * from-scratch batch build. */
  private[graft] def streamHllPath(s: SparkSession, dir: String): String =
    IndexMemo.path(s"streamhll:$dir") { p =>
      import org.apache.spark.sql.functions.col
      import s.implicits._
      val rows = t(s, dir, "events")
        .where(col("event_type").isNotNull && col("user_id").isNotNull)
        .select("event_type", "user_id").as[(String, Long)].collect()
      replay(s, thirds(rows), "event_type", "user_id")(pairs =>
        SilverIndex.onEachBatch(pairs, p)((b, _) => SilverIndex.refreshHll(
          b, Seq("event_type"), "user_id", path = p)))
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // s12 (r14): STREAMING HyperLogLog maintenance — k5's registers
    // under micro-batch arrival. The per-bucket-max fold is order- and
    // duplicate-insensitive (the s7 merge family), so the maintained
    // register table is row-identical to the batch build and k5's
    // oracle applies verbatim through the shared report.
    "s12_stream_hll" -> ((s, dir) =>
      RelationalQueries.hllReport(s, dir,
        graft.pipeline.SilverIndex.hllIndex(s, streamHllPath(s, dir)))),

    // s11 (r14): STREAMING sessionization with CUSTOM KEYED STATE —
    // x8's gap semantics under micro-batch arrival via
    // flatMapGroupsWithState + event-time-timeout flush (the one
    // Structured Streaming surface the s-family didn't yet prove on
    // the gate: arbitrary user state, not an aggregation/sketch fold).
    // The accumulated closed visits equal the batch operator's output,
    // so x8's oracle applies verbatim.
    "s11_stream_sessions" -> ((s, dir) => {
      import org.apache.spark.sql.functions.{col, timestamp_micros}
      s.read.parquet(s"${streamSessionsPath(s, dir)}/sessions")
        .select(col("user_id"), col("session_idx"),
          timestamp_micros(col("start_us")).as("session_start"),
          timestamp_micros(col("end_us")).as("session_end"),
          col("n_events"),
          (col("end_us") - col("start_us")).as("duration_us"))
    }),

    // s13 (r15): funnel CONVERSION LATENCY under the streaming face —
    // completions accumulate from the stateful fold (one emission per
    // converting user, fired by the final step's EVENT, no timeout
    // machinery), then the k3 rank selection runs over them via the
    // SAME Funnel.quantilesOverDurations the batch x12 serves with —
    // so x12's oracle applies verbatim.
    "s13_stream_funnel" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      val done = s.read.parquet(s"${streamFunnelPath(s, dir)}/completions")
        .select(col("user_id").as("user"),
          (col("tk_us") - col("t1_us")).as("dur_us"))
      graft.operators.Funnel.quantilesOverDurations(done,
        qs = Seq(0.5, 0.9, 0.99))
    }),

    // s9 (r13): STREAMING Count-Min maintenance — k2's sketch under
    // micro-batch arrival with the batch-id exactly-once guard (counts
    // are additive: neither s7's merge-idempotence nor s8's id
    // anti-join applies). The maintained counter table equals the
    // batch build, so k2's oracle applies verbatim.
    // s14 (r15): heavy hitters SERVED FROM THE STREAM-MAINTAINED CMS —
    // k7's report via heavyHittersFromSketch over the s9-style
    // maintained counters at k7's width: the additive fold makes the
    // maintained sketch equal the batch build exactly, so k7's oracle
    // applies verbatim (candidates, threshold, exact recount and all).
    // The index-served face of the frequent-items question: counters
    // maintain continuously, the report runs on demand.
    // s15 (r16): DRIFT SERVED FROM THE MAINTAINED LEDGER — x13's
    // week-over-week TV report without the corpus scan: the (period,
    // category) counts fold additively under the s9 batch-id
    // discipline as events arrive, and the monitor reads the stored
    // |periods|·|categories| ledger on demand. The maintained ledger
    // equals the batch build exactly, so x13's oracle (exact-integer
    // TV numerator, one division + round 6, 0.03 flag) applies
    // VERBATIM to the served report — the monitor a continuously-fed
    // pipeline actually runs.
    // s16 (r16): SEMANTIC DECONTAMINATION SERVED FROM THE MAINTAINED
    // POSTINGS — c28's release manifest without the per-call corpus
    // tokenization: the union corpus folds into the persisted postings
    // index as it arrives (the s5 id-anti-join discipline; per-doc
    // deterministic, delta ≡ scratch), and the report — TF-IDF
    // weighting, cross-corpus cosine, manifest — recomputes from the
    // postings-sized table at serve time, so maintained ≡ scratch
    // EXACTLY and c28's oracle applies VERBATIM. At 100 TB this is the
    // decontamination a continuously-fed pipeline actually runs:
    // tokenization (the corpus-text-sized cost) is paid once per doc
    // at arrival, each release audit pays only postings-sized
    // arithmetic.
    // the DOC-clustered read matters: the stored postings are
    // term-sorted for BM25 row-group pruning, and the report's
    // doc-keyed aggregations over that layout emit ~|docs|·|buckets|
    // partials per partition — postingsIndexByDoc's one narrow
    // exchange measured 5× on this query at sf0.1
    "s16_stream_semantic" -> ((s, dir) =>
      CurationQueries.semanticReportFromPostings(s, dir,
        graft.pipeline.SilverIndex.postingsIndexByDoc(
          s, streamSemanticPath(s, dir)))),

    // s19 (r18): the BANDED semantic-decontam face maintained by real
    // Structured Streaming (VERDICT r17 task 2's streaming leg) — s16
    // maintains the postings the EXACT operator serves from; this
    // maintains the hyperplane-signature index the banded operator
    // serves from, and emits each train doc's flagged pairs exactly
    // once, the batch its doc arrives (the s6/d18 exactly-once pair
    // contract). Output = the accumulated per-batch pair partitions,
    // which equal the c31 index serve and the c30 scratch banding
    // row-for-row (banding is per-doc deterministic under the frozen
    // fit; the eval side is static). No SQL oracle (hyperplane
    // signatures), so the result is golden-pinned; the recall/
    // false-pair contract rides c30/c31's rows over the same pairs.
    "s19_stream_semantic_lsh" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      val p = streamSemanticLshPath(s, dir)
      s.read.parquet(s"$p/pairs")
        .select(col("train_doc"), col("eval_doc"), col("cosine"))
    }),

    // s20 (r19): HOURLY BURSTS SERVED FROM A MAINTAINED HOURLY LEDGER
    // — x9's abuse monitor without the event rescan (VERDICT r18 task
    // 5): the (hour, event_type) counts fold additively under the s9
    // batch-id discipline as events arrive; the monitor runs the same
    // trailing ROWS-frame arithmetic over the stored buckets, so x9's
    // oracle applies VERBATIM — the fourth monitor served from the
    // drift-ledger artifact family (mix s15, volume s17, trending s18,
    // bursts s20).
    "s20_stream_bursts" -> ((s, dir) => {
      val led = graft.pipeline.SilverIndex.driftLedgerIndex(
        s, streamHourlyPath(s, dir))
      graft.operators.Burst.hourlyBurstsFromLedger(led, "period",
        "category", "cnt", trailingHours = 24, threshold = 2.0)
    }),

    // s18 (r16): DECAYED FREQUENCY SERVED FROM THE SAME MAINTAINED
    // DAILY LEDGER s17 reads — the third monitor from one stored
    // artifact family (mix drift s15, volume shift s17, trending s18):
    // per-category recency-decayed counts with x10's exact
    // power-of-two weights over the ledger's day ages, so x16's oracle
    // applies VERBATIM and nothing rescans the corpus.
    "s18_stream_decayed" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      val led = graft.pipeline.SilverIndex.driftLedgerIndex(
        s, streamVolumePath(s, dir))
      graft.operators.Decay.decayedCountsFromLedger(led, "period",
        "category", "cnt", halfLifeDays = 7)
    }),

    // s17 (r16): VOLUME LEVEL-SHIFT SERVED FROM THE MAINTAINED DAILY
    // LEDGER — x15's monitor without the corpus scan: the (day,
    // event_type) counts fold additively under the s9 batch-id
    // discipline as events arrive; the monitor sums the stored ledger
    // over categories and runs the same full-window arithmetic, so
    // x15's oracle applies VERBATIM. With s15 this completes the
    // maintain-once-monitor-twice pair: one ledger family, mix drift
    // AND volume drift.
    "s17_stream_levelshift" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      val led = graft.pipeline.SilverIndex.driftLedgerIndex(
        s, streamVolumePath(s, dir))
      graft.operators.Drift.levelShiftFromLedger(led, "period", "cnt",
          windowN = 3, threshold = 0.25)
        .select(col("period").cast("timestamp").as("day"), col("n"),
          col("before_sum"), col("after_sum"), col("shift_ratio"),
          col("shifted"))
    }),

    "s15_stream_drift" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      val led = graft.pipeline.SilverIndex.driftLedgerIndex(
        s, streamDriftPath(s, dir))
      graft.operators.Drift.tvDriftFromLedger(led, "period", "category",
          "cnt", threshold = 0.03)
        .select(col("period_a").cast("timestamp").as("week_a"),
          col("period_b").cast("timestamp").as("week_b"),
          col("n_a"), col("n_b"), col("tv_dist"), col("drifted"))
    }),

    "s14_stream_heavy" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val sk = graft.pipeline.SilverIndex.cmsIndex(s, streamHeavyPath(s, dir))
      val items = t(s, dir, "events")
        .select(regexp_extract(col("props"), "(\\d+)", 1).cast("int")
          .as("item"))
        .where(col("item").isNotNull)
      graft.operators.Sketches.heavyHittersFromSketch(sk, items, "item",
        phi = 0.0115, width = 64, depth = 4)
    }),

    "s9_stream_cms" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val sk = graft.pipeline.SilverIndex.cmsIndex(s, streamCmsPath(s, dir))
      val items = t(s, dir, "events")
        .select(regexp_extract(col("props"), "(\\d+)", 1).cast("int")
          .as("item"))
        .where(col("item").isNotNull)
      val est = graft.operators.Sketches
        .cmsEstimate(sk, items, "item", 32, 4)
      val exact = items.groupBy("item")
        .agg(count(lit(1)).cast("long").as("exact_n"))
      est.join(exact, est("key") === exact("item"))
        .select(col("item"), col("exact_n"), col("est_n"),
          (col("est_n") - col("exact_n")).as("overcount"))
    }),

    // s8 (r13): STREAMING quantile-sample maintenance — k3's sketch
    // under micro-batch arrival. The hash gate is a pure per-row
    // function, the id anti-join absorbs replays, so the stored sample
    // is row-identical to the batch gate and the served quantiles
    // replay exactly in SQL.
    "s8_stream_quantiles" -> ((s, dir) =>
      graft.pipeline.SilverIndex.quantilesFromSample(
        s, streamQuantPath(s, dir), Seq("event_type"),
        Seq(0.5, 0.9))),

    // s10 (r14): STREAMING membership sketch — k4's Bloom semantics
    // under micro-batch arrival. The UNION+DISTINCT position fold is
    // order- and duplicate-insensitive (s7's merge family), so the
    // maintained bit set is row-identical to the from-scratch batch
    // build and k4's oracle applies verbatim (same probe superset,
    // same output shape).
    "s10_stream_bloom" -> ((s, dir) =>
      // the SHARED k4 probe report over the STREAMED bit set — one
      // definition, so the batch and streamed gates can't drift
      RelationalQueries.bloomProbeReport(s, dir,
        graft.pipeline.SilverIndex
          .bloomIndex(s, streamBloomPath(s, dir)))),

    // s7 (r13): STREAMING distinct-count sketch — k1's KMV semantics
    // under micro-batch arrival. The union-truncate fold is order- and
    // duplicate-insensitive, so the maintained sketch is bit-identical
    // to the from-scratch batch sketch and k1's oracle applies
    // verbatim (same output shape, same estimator).
    "s7_stream_kmv" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val sk = graft.pipeline.SilverIndex
        .kmvIndex(s, streamKmvPath(s, dir))
      val est = sk.select(col("grp").as("event_type"),
        size(col("kmins")).as("n_kept"),
        element_at(col("kmins"), -1).as("kth_hash"),
        graft.operators.Sketches.kmvEstimateFrom(sk, "kmins", 128)
          .as("est"))
      val exact = t(s, dir, "events")
        .where(col("event_type").isNotNull && col("user_id").isNotNull)
        .groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("exact_d"))
      est.join(exact, "event_type")
        .select(col("event_type"), col("exact_d"), col("n_kept"),
          col("kth_hash"), round(col("est"), 6).as("est_distinct"),
          round(abs(col("est") - col("exact_d")) / col("exact_d"), 6)
            .as("rel_err"))
    }),
    // s6 (r13): STREAMING near-dup — d3's MinHash-LSH semantics under
    // micro-batch arrival. Every pair is emitted exactly once (in the
    // batch where its later member arrives), so the accumulated pairs
    // table is row-identical to the batch run and d3's exact-Jaccard
    // oracle applies verbatim (recall is total at these params, the d3
    // adjudication).
    "s6_stream_neardup" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      // the accumulated pairs live in per-batch partitions (the r13
      // exactly-once rework); the batch id is a transport detail, not
      // part of the pair semantics
      s.read.parquet(s"${streamNearDupPath(s, dir)}/pairs")
        .select(col("doc_a"), col("doc_b"), col("jaccard"))
    }),

    // BM25 served from the STREAMING-maintained index: semantically the
    // live-corpus score (delta≡scratch — the oracle neither knows nor
    // cares the index was folded in by micro-batches), ranks on
    // round(score, 6) with the doc tie-break (the h1 discipline).
    // Driver-gate proof that continuous maintenance converges to the
    // same artifact the batch path builds.
    "s5_stream_index" -> ((s, dir) => {
      import org.apache.spark.sql.functions.{col, round, row_number}
      val (post, dlen, n, avg) = graft.pipeline.SilverIndex
        .bm25Index(s, streamIndexPath(s, dir))
      val scored = graft.operators.TextSearch
        .scoreFromPostings(post, dlen, n, avg,
          Seq("customer", "batch", "scan"), k1 = 1.2, b = 0.75)
        .select(col("doc"), round(col("score"), 6).as("rscore"))
      val wl = org.apache.spark.sql.expressions.Window
        .orderBy(col("rscore").desc, col("doc").asc)
      scored.orderBy(col("rscore").desc, col("doc").asc).limit(10)
        .withColumn("rank", row_number().over(wl))
        .select(col("doc").as("doc_id"), col("rscore"), col("rank"))
    }),
    "s1_event_windows" -> ((s, dir) =>
      EventsStream.windowedStats(t(s, dir, "events"), "1 hour")),
    "s2_sessions" -> ((s, dir) =>
      EventsStream.sessions(t(s, dir, "events"), "30 minutes")),
    "s3_stream_dedup" -> ((s, dir) =>
      EventsStream.firstEventPerKey(t(s, dir, "events"),
        keys = Seq("user_id", "event_type"), tieBreak = Seq("event_id"))),
    "s4_stream_enrich" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      EventsStream.enrich(
        t(s, dir, "events"),
        t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment")),
        "user_id", "c_custkey")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("c_mktsegment"))
    })
  )

  val oracles: Map[String, String] = Map(
    // the accumulated closed visits ≡ the batch sessionizer — x8's
    // oracle verbatim
    "s11_stream_sessions" -> TemporalQueries.oracles("x8_sessionize"),

    // the accumulated completions ≡ the batch funnel — x12's oracle
    "s13_stream_funnel" -> TemporalQueries.oracles("x12_funnel_latency"),

    // the streaming accumulation ≡ the batch pair set — d3's oracle
    "s6_stream_neardup" -> DedupQueries.exactJaccardSql,

    // the maintained sketch ≡ the batch sketch — k1's oracle verbatim
    "s7_stream_kmv" -> RelationalQueries.oracles("k1_kmv_distinct"),

    // the maintained bit set ≡ the batch build — k4's oracle verbatim
    "s10_stream_bloom" -> RelationalQueries.oracles("k4_bloom_filter"),

    // the maintained register table ≡ the batch build — k5's oracle
    "s12_stream_hll" -> RelationalQueries.oracles("k5_hll_distinct"),

    // the maintained counter table ≡ the batch build — k2's oracle
    "s9_stream_cms" -> RelationalQueries.oracles("k2_cms_freq"),

    // heavy hitters from the maintained counters — k7's oracle verbatim
    "s14_stream_heavy" -> RelationalQueries.oracles("k7_heavy_hitters"),
    // the maintained ledger equals the batch build -> x13's oracle
    // verbatim
    "s15_stream_drift" -> TemporalQueries.oracles("x13_weekly_drift"),
    "s16_stream_semantic" -> CurationQueries.oracles("c28_semantic_decontam"),
    "s17_stream_levelshift" -> TemporalQueries.oracles("x15_level_shift"),
    "s18_stream_decayed" -> TemporalQueries.oracles("x16_decayed_freq"),
    // bursts from the maintained hourly ledger — x9's oracle verbatim
    "s20_stream_bursts" -> TemporalQueries.oracles("x9_burst_detect"),

    // the maintained sample ≡ the batch gate — the k3 CTEs over events
    // (threshold(0.25) = '400000000000')
    "s8_stream_quantiles" ->
      """WITH sm AS (
        |  SELECT event_type, value AS v,
        |    substring(md5('squant-r13:' || CAST(event_id AS VARCHAR)),
        |              1, 12) AS hk
        |  FROM events
        |  WHERE value IS NOT NULL AND event_id IS NOT NULL
        |    AND event_type IS NOT NULL
        |    AND substring(md5('squant-r13:' || CAST(event_id AS VARCHAR)),
        |              1, 12) < '400000000000'),
        |r AS (SELECT event_type, v, hk,
        |        row_number() OVER (PARTITION BY event_type
        |                           ORDER BY v, hk) AS rn,
        |        CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT)
        |          AS n
        |      FROM sm),
        |t AS (SELECT DISTINCT event_type, n FROM r),
        |tq AS (SELECT event_type, n AS n_sample,
        |         unnest([CAST(0.5 AS DOUBLE), CAST(0.9 AS DOUBLE)]) AS q
        |       FROM t)
        |SELECT tq.event_type, tq.q, tq.n_sample, r.v AS est_value
        |FROM tq JOIN r ON r.event_type = tq.event_type
        |  AND r.rn = CAST(ceil(tq.q * tq.n_sample) AS INT)""".stripMargin,

    // the t11 lexical CTEs at the s5 term set — the streaming-built
    // index is semantically the live corpus score
    "s5_stream_index" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(
        |           regexp_replace(regexp_replace(lower(text),
        |             '[!"#$%&''()*+,\-./:;<=>?@\[\\\]^_`{|}~]', ' ', 'g'),
        |             '\s+', ' ', 'g')), ' ')) AS term
        |  FROM documents),
        |post AS (
        |  SELECT doc_id, term, count(*) AS tf FROM toks
        |  WHERE term <> '' GROUP BY doc_id, term),
        |dlen AS (SELECT doc_id, sum(tf) AS len FROM post GROUP BY doc_id),
        |gstats AS (SELECT count(*) AS n, avg(len) AS avglen FROM dlen),
        |qp AS (SELECT * FROM post
        |       WHERE term IN ('customer', 'batch', 'scan')),
        |dft AS (SELECT term, count(*) AS df FROM qp GROUP BY term),
        |w AS (SELECT qp.doc_id,
        |        (ln(((CAST(n AS DOUBLE) - df) + 0.5) / (df + 0.5) + 1.0)
        |           * (tf * (1.2 + 1.0)))
        |          / (tf + 1.2 * ((1.0 - 0.75) + (0.75 * len) / avglen)) AS w
        |      FROM qp JOIN dft USING (term) JOIN dlen USING (doc_id)
        |        CROSS JOIN gstats),
        |ls AS (SELECT doc_id, round(sum(w), 6) AS rscore FROM w GROUP BY doc_id)
        |SELECT doc_id, rscore, row_number() OVER
        |    (ORDER BY rscore DESC, doc_id ASC) AS rank
        |  FROM ls ORDER BY rscore DESC, doc_id ASC LIMIT 10""".stripMargin,

    "s1_event_windows" ->
      """SELECT CAST(time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
        |         AS window_start,
        |       event_type, count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    // session semantics: session_window windows [t, t+gap) merge only
    // when they overlap, i.e. a gap of exactly 30 min starts a NEW
    // session — hence >= in the break condition
    "s2_sessions" ->
      """WITH e AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
        |         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |                   >= INTERVAL '30 minutes'
        |              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |              THEN 1 ELSE 0 END AS new_session
        |  FROM events),
        |g AS (
        |  SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |             ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM e)
        |SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
        |       count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM g GROUP BY user_id, session_id""".stripMargin,

    "s3_stream_dedup" ->
      """WITH r AS (
        |  SELECT *, row_number() OVER (PARTITION BY user_id, event_type
        |           ORDER BY ts, event_id) AS rn
        |  FROM events)
        |SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type,
        |       value, props
        |FROM r WHERE rn = 1""".stripMargin,

    "s4_stream_enrich" ->
      """SELECT e.event_id, e.user_id, e.event_type, c.c_mktsegment
        |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey""".stripMargin
  )
}
