package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}

import org.apache.spark.sql.SparkSession

/** One benchmark run: set up, measure one workload, check its outputs and
  * print the result as the last line of stdout.
  *
  * {{{
  * perfbench.Main --workload weekly_chain|report_paging --seed N --seconds S
  *                --trace 0|1 [--size full|tiny] [--break pair|page|count]
  * }}}
  *
  * Both workloads run the paper's whole chain once — REST ingest → bronze →
  * fuzzy match → gold, cold and then after the weekly delta — and page the
  * gold through `/reports`, and both report every end-to-end metric. They
  * differ in input shape (see [[Size]]): `weekly_chain`'s input makes the
  * fuzzy match carry the chain, `report_paging`'s makes the gold tables the
  * pages read larger. A traced run also measures the tracer's own cost and
  * runs the curation battery ([[Battery]]). The work of a run is fixed;
  * `--seconds` is accepted and not used. `--break` plants one wrong output,
  * so the self-test can see it counted as a failure.
  */
object Main {

  final case class Args(workload: String, seed: Long, trace: Boolean, size: Size,
      break: Option[String])

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val w = m.getOrElse("workload", "")
    require(Set("weekly_chain", "report_paging")(w), s"unknown workload '$w'")
    Args(w, m.getOrElse("seed", "1").toLong, m.getOrElse("trace", "0") == "1", Size(w, m.getOrElse("size", "full")),
      m.get("break").filter(_.nonEmpty))
  }

  /** Process CPU seconds (user + system, all threads) from /proc. */
  def cpuS: Double = {
    val stat = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("/proc/self/stat")))
    val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
    (f(11).toLong + f(12).toLong) / 100.0
  }
  private def now: Double = System.nanoTime() / 1e9
  def median(xs: scala.collection.Seq[Double]): Double = Paging.pct(xs, 0.5)
  private val t00 = System.nanoTime()
  /** Progress on stderr, with seconds since start. */
  def note(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - t00) / 1e9}%7.2f] $msg")

  /** Attempted and failed operations, with the first failures for stderr. */
  object Ops {
    var attempted = 0L
    var failed = 0L
    val errors: ArrayBuffer[String] = ArrayBuffer[String]()
    def ok(): Unit = synchronized(attempted += 1)
    def check(err: Option[String]): Unit = synchronized {
      attempted += 1
      err.foreach { e => failed += 1; if (errors.size < 20) errors += e }
    }
    def run[T](what: String)(f: => T): Option[T] =
      try { val r = f; ok(); Some(r) }
      catch {
        case e: Exception =>
          check(Some(s"$what threw $e"))
          None
      }
  }

  /** A run that throws exits at once: the fixture's and the API's threads
    * would otherwise keep the JVM up. */
  def main(argv: Array[String]): Unit =
    try run(parse(argv))
    catch {
      case e: Throwable =>
        e.printStackTrace()
        sys.exit(2)
    }

  private def run(args: Args): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime / 1000.0
    val work = new File(".").getCanonicalFile
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = graft.Sessions.builder("perfbench", Some(s"local[$cores]"), cores)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.hadoop.hadoop.tmp.dir", new File(work, "hadoop-tmp").getPath)
      .config("spark.driver.host", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.GraftFunctions.register(spark)
    val sessionS = System.currentTimeMillis() / 1000.0 - jvmStart
    note(f"session ready ${sessionS}%.2f s after JVM start")

    println("# shape " + Shape.json(cores))

    // ---- set-up, repeated: generate, render and serve the REST pages ----
    val lake = new File(work, "lake").getPath
    var fixture: SocrataFixture = null
    var data: ChainData = null
    val setupReps = if (args.size.name == "tiny") 1 else 3
    val reps = (0 until setupReps).map { _ =>
      val t0 = now
      if (fixture != null) fixture.stop()
      data = breakData(ChainData.generate(args.seed, args.size), args.break)
      fixture = new SocrataFixture(Map("cold" -> data.cold, "rerun" -> data.rerun), args.size.pageRows)
      writeLightcast(spark, data, lake)
      note(f"set-up: data generated, fixture serving, lightcast written in ${now - t0}%.2f s")
      now - t0
    }

    val setupS = sessionS + median(reps)

    val chain = new Chain(spark, lake, data, fixture, args.size, args.break)
    val paging = new PagingPhase(spark, args)
    val metrics = LinkedHashMap[String, (Double, String)]()
    val gc0 = gcS
    ManagementFactory.getMemoryPoolMXBeans.forEach(_.resetPeakUsage())
    Trace.enable(spark, args.trace)

    // ---- the weekly chain: cold from an empty warehouse, then the rerun ----
    chain.reset()
    val cold = chain.phase(refresh = false)
    chain.checks(cold = true)
    val rerun = chain.phase(refresh = true)
    chain.checks(cold = false)
    note(f"chain: cold ${cold.wallS}%.2f s (ingest ${cold.ingest.wallS}%.2f, bronze ${cold.bronze.wallS}%.2f, " +
      f"match ${cold.matchS.wallS}%.2f, gold ${cold.gold.wallS}%.2f), rerun ${rerun.wallS}%.2f s, " +
      f"j1 ${chain.j1Rows}")

    // ---- /reports paging over the rerun's gold ----
    val pg = paging.run()

    if (!args.trace) {
      metrics("setup_s") = (setupS, "s")
      metrics("chain_cold_s") = (cold.wallS, "s")
      metrics("chain_rerun_s") = (rerun.wallS, "s")
      metrics("chain_cpu_s") = (cold.cpuS + rerun.cpuS, "s")
      pg.e2e.foreach { case (k, v) => metrics(k) = v }
    } else {
      // the tracer's own cost: the rerun and the 1-client phase once more,
      // untraced, against their traced runs above
      Trace.enable(spark, false)
      val rerunUn = chain.phase(refresh = true)
      chain.checks(cold = false)
      val (c1Un, _) = paging.c1(truncate = false)
      Trace.enable(spark, true)
      val p50 = (o: Paging.PhaseOut) => median(o.results.map(_.latencyNs / 1e6))
      note(f"trace overhead: rerun ${rerun.wallS}%.2f / ${rerunUn.wallS}%.2f s, " +
        f"c1 p50 ${p50(pg.c1)}%.1f / ${p50(c1Un)}%.1f ms")

      val battery = new Battery(spark, sys.props("perfbench.data"), args.break)
      val provision = battery.provision()
      Trace.enable(spark, false)
      battery.warmUp()
      Trace.enable(spark, true)
      val bp = battery.pass()
      note(f"battery: pass ${bp.wallS}%.2f s, cpu ${bp.cpuS}%.2f s")

      metrics("sources.ingest_s") = (cold.ingest.wallS, "s")
      metrics("sources.ingest_rerun_s") = (rerun.ingest.wallS, "s")
      metrics("sources.bronze_s") = (cold.bronze.wallS, "s")
      metrics("sources.bronze_rerun_s") = (rerun.bronze.wallS, "s")
      metrics("sources.rest_rows_per_s") = (cold.restRows / cold.ingest.wallS, "1/s")
      metrics("sources.rest_requests") = (cold.rest(0).toDouble, "count")
      metrics("sources.rest_pages") = (cold.rest(1).toDouble, "count")
      metrics("sources.rest_requests_per_page") = (cold.rest(0).toDouble / cold.rest(1), "ratio")
      metrics("sources.rest_connections") = (cold.rest(2).toDouble, "count")
      metrics("sources.rest_mb") = (cold.rest(3) / 1e6, "MB")
      metrics("sources.lake_write_mb") = (cold.ingest.writtenBytes.get / 1e6, "MB")
      metrics("pipeline.match_s") = (cold.matchS.wallS, "s")
      metrics("pipeline.match_rerun_s") = (rerun.matchS.wallS, "s")
      metrics("pipeline.match_cpu_s") = (cold.matchS.cpuS, "s")
      metrics("pipeline.match_jobs") = (cold.matchS.jobs.get.toDouble, "count")
      metrics("pipeline.match_shuffle_mb") = (cold.matchS.shuffleBytes.get / 1e6, "MB")
      metrics("pipeline.match_spill_mb") = (cold.matchS.spillBytes.get / 1e6, "MB")
      metrics("pipeline.gold_s") = (cold.gold.wallS, "s")
      metrics("pipeline.gold_rerun_s") = (rerun.gold.wallS, "s")
      metrics("pipeline.j1_rows") = (chain.j1Rows.toDouble, "count")
      metrics("pipeline.j2_rows") = (chain.j2Rows.toDouble, "count")
      metrics("pipeline.gold_files") = (chain.goldFilesPerTable, "count")
      val (cand, kept) = Trace.simJoinCounts(cold.matchS)
      metrics("operators.simjoin_candidates") = (cand.toDouble, "count")
      metrics("operators.simjoin_kept_pairs") = (kept.toDouble, "count")
      val (tsNs, wrNs) = Kernels.time(data, args.seed)
      metrics("functions.token_set_ns") = (tsNs, "ns")
      metrics("functions.wratio_ns") = (wrNs, "ns")
      pg.layer.foreach { case (k, v) => metrics(k) = v }
      bp.queries.foreach { q =>
        metrics(s"queries.${q.name}_s") = (q.span.wallS, "s")
        metrics(s"queries.${q.name}_cpu_s") = (q.cpuS, "s")
        metrics(s"queries.${q.name}_jobs") = (q.span.jobs.get.toDouble, "count")
      }
      metrics("queries.battery_s") = (bp.wallS, "s")
      metrics("queries.battery_cpu_s") = (bp.cpuS, "s")
      metrics("queries.shuffle_mb") = (bp.queries.map(_.span.shuffleBytes.get).sum / 1e6, "MB")
      metrics("queries.spill_mb") = (bp.queries.map(_.span.spillBytes.get).sum / 1e6, "MB")
      provision.foreach { case (ix, s) => metrics(s"queries.provision.${ix}_s") = (s, "s") }
      metrics("jvm.gc_s") = (gcS - gc0, "s")
      metrics("jvm.peak_heap_mb") = (peakHeapMb, "MB")
      metrics("trace.unattributed_jobs") = (Trace.unattributedJobs.get.toDouble, "count")
      metrics("trace.overhead_chain") = (rerun.wallS / rerunUn.wallS, "ratio")
      metrics("trace.overhead_pages") = (p50(pg.c1) / p50(c1Un), "ratio")
      metrics("trace.overhead") = ((rerun.wallS + pg.c1.wallS) / (rerunUn.wallS + c1Un.wallS), "ratio")
      Trace.enable(spark, false)
    }
    System.err.println(f"[perfbench] ${args.workload} seed=${args.seed} " +
      f"j1_rows=${chain.j1Rows} j1_ratio=${chain.j1Rows / 562898.0}%.4f pages=${pg.pages}")

    if (args.trace) sys.props.get("perfbench.spans").foreach(writeSpans)
    fixture.stop()
    paging.stop()
    spark.stop()

    Ops.errors.foreach(e => System.err.println(s"[perfbench] FAILED: $e"))
    val correct = Ops.failed == 0
    val ms = metrics.map { case (k, (v, u)) => s""""$k": {"value": ${fmt(v)}, "unit": "$u"}""" }
    println(s"""{"correct": $correct, "attempted": ${Ops.attempted}, "failed": ${Ops.failed}, """ +
      s""""metrics": {${ms.mkString(", ")}}}""")
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }

  /** The traced run's spans, one JSON object per line, in closing order. */
  private def writeSpans(path: String): Unit = {
    val lines = Trace.closed.synchronized(Trace.closed.toList).map { s =>
      s"""{"span": "${s.name}", "wall_s": ${fmt(s.wallS)}, "jobs": ${s.jobs.get}, """ +
        s""""tasks": ${s.tasks.get}, "cpu_s": ${fmt(s.cpuS)}, "gc_s": ${fmt(s.gcMs.get / 1e3)}, """ +
        s""""shuffle_mb": ${fmt(s.shuffleBytes.get / 1e6)}, "spill_mb": ${fmt(s.spillBytes.get / 1e6)}, """ +
        s""""written_mb": ${fmt(s.writtenBytes.get / 1e6)}}"""
    } :+ s"""{"span": "unattributed", "jobs": ${Trace.unattributedJobs.get}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  private def gcS: Double = {
    var ms = 0L
    ManagementFactory.getGarbageCollectorMXBeans.forEach(g => ms += math.max(0, g.getCollectionTime))
    ms / 1000.0
  }

  private def peakHeapMb: Double = {
    var b = 0L
    ManagementFactory.getMemoryPoolMXBeans.forEach { p =>
      if (p.getType == java.lang.management.MemoryType.HEAP) b += p.getPeakUsage.getUsed
    }
    b / 1e6
  }

  /** `--break pair` removes one in-band planted payroll row from the served
    * pages; the checks still expect its pair. */
  private def breakData(d: ChainData, brk: Option[String]): ChainData =
    if (!brk.contains("pair")) d
    else {
      val gone = d.planted.find(_.kind == "in").get
      def drop(w: Week) = w.copy(payroll = w.payroll.filterNot(p =>
        p.title == gone.payrollTitle && p.salary == gone.salary))
      d.copy(cold = drop(d.cold), rerun = drop(d.rerun))
    }

  /** The lightcast table arrives in the lake out of band, as in the
    * reference. */
  private def writeLightcast(spark: SparkSession, d: ChainData, lake: String): Unit = {
    import spark.implicits._
    d.lightcast.toDF("Occupation (SOC)", "Total Postings (Jan 2024 - Jun 2025)",
      "Median Posting Duration").coalesce(1)
      .write.mode("overwrite").parquet(s"$lake/lightcast_job_postings_data.parquet")
  }
}

/** The machine shape every result is recorded with. */
object Shape {
  def json(cores: Int): String = {
    val heapMb = Runtime.getRuntime.maxMemory / (1024 * 1024)
    s"""{"nproc": $cores, "spark_cores": $cores, "heap_mb": $heapMb, """ +
      s""""jdk": "${System.getProperty("java.version")}", "spark": "${org.apache.spark.SPARK_VERSION}"}"""
  }
}

/** `functions` layer: the fuzzy kernels called single-threaded on a seeded
  * sample of this run's normalized distinct-title pairs. */
object Kernels {
  /** Keeps the scores live, so the JIT cannot drop the calls. */
  @volatile var sink = 0.0

  def time(d: ChainData, seed: Long): (Double, Double) = {
    import graft.functions.FuzzyKernel
    val left = d.cold.postings.map(p => FuzzyKernel.normalizeTitle(p.title)).distinct
    val right = d.cold.payroll.map(p => FuzzyKernel.normalizeTitle(p.title)).distinct
    val rnd = new scala.util.Random(seed)
    val n = 50000
    val pairs = Array.fill(n)((left(rnd.nextInt(left.size)), right(rnd.nextInt(right.size))))
    def perCall(f: (String, String) => Double): Double = {
      val passes = (0 until 6).map { _ =>
        val t0 = System.nanoTime()
        var i = 0
        while (i < n) { sink += f(pairs(i)._1, pairs(i)._2); i += 1 }
        (System.nanoTime() - t0).toDouble / n
      }
      Main.median(passes.drop(1)) // the first pass warms the JIT
    }
    (perCall(FuzzyKernel.tokenSetRatio), perCall(FuzzyKernel.wratio))
  }
}
