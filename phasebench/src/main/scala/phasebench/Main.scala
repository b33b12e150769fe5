package phasebench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Counts operations and times the timed calls. Every timed call is one
  * operation; it fails if it throws or if a check of its output fails. */
final class Runner(spark: SparkSession) {
  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer.empty[String]
  /** (span, seconds) of the current cycle's calls */
  val timings = mutable.ArrayBuffer.empty[(String, Double)]
  val calls = mutable.ArrayBuffer.empty[Call]
  private var opFailed = true

  def call[T](span: String)(body: => T): Option[T] = {
    attempted += 1
    opFailed = false
    val sc = spark.sparkContext
    sc.setLocalProperty(Tracer.SpanProperty, span)
    val t0ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val r = body
      timings += span -> (System.nanoTime() - t0) / 1e9
      Some(r)
    } catch {
      case e: Exception =>
        fail(s"$span threw $e")
        None
    } finally {
      calls += Call(span, t0ms, System.currentTimeMillis())
      sc.setLocalProperty(Tracer.SpanProperty, null)
    }
  }

  /** A failed check fails the latest operation (once). */
  def check(ok: Boolean, what: => String): Unit = if (!ok) fail(what)

  private def fail(what: String): Unit = {
    failures += what
    System.err.println(s"phasebench: FAILED: $what")
    if (!opFailed) { failed += 1; opFailed = true }
  }
}

/** `phasebench.Main --workload W --seed N --seconds S --trace 0|1 --work DIR
  * --out FILE`: one workload in one local[4] Spark process. Writes the
  * result (metrics, operation counts and the run record) to FILE.
  * `--train DIR` instead runs one short cycle of every listed workload, for
  * the class-data-sharing archive. */
object Main {
  val Cores = 4
  /** Untimed cycles before the timed ones. */
  val WarmupCycles = Map("migrate" -> 1, "sync" -> 1, "curate" -> 1)
  /** Nominal seconds of one cycle's timed calls: a run makes
    * `--seconds / nominal` timed cycles, at least [[MinCycles]]. The count
    * depends on `--seconds` only, so every run samples the same cycles. */
  val NominalCycleS = Map("migrate" -> 7.0, "sync" -> 16.0, "curate" -> 11.0)
  val MinCycles = 2

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def startSession(): SparkSession =
    graft.io.EngineSession.local(Cores, "ERROR")

  private def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def main(args: Array[String]): Unit = {
    val entry = System.nanoTime()
    val opt = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    if (opt.contains("train")) return train(opt("train"))
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = opt("work")
    val wl = Workload(name, s"$work/data", seed).getOrElse {
      System.err.println(s"phasebench: unknown workload $name")
      sys.exit(2)
    }

    // set-up: main entry to a ready session, plus the workload's one-time
    // work; input generation in between is not set-up
    val spark = startSession()
    val sessionS = since(entry)
    val tGen = System.nanoTime()
    wl.generate(spark)
    var genS = since(tGen)
    System.gc()
    val tBoot = System.nanoTime()
    wl.bootstrap(spark)
    val setupS = sessionS + since(tBoot)

    val run = new Runner(spark)
    val tracer = new Tracer(spark)
    def cycleSeconds: Seq[Double] = wl.calls.map { case (_, ss) =>
      run.timings.collect { case (s, t) if ss.contains(s) => t }.sum }

    def oneCycle(c: Int, trace: Boolean): Option[CycleTrace] = {
      val tp = System.nanoTime()
      wl.prepare(spark, c)
      genS += since(tp)
      System.gc()
      run.timings.clear()
      run.calls.clear()
      if (trace) tracer.attach()
      wl.cycle(spark, c, run)
      if (!trace) None
      else {
        tracer.detach()
        Some(tracer.report(run.calls.toSeq))
      }
    }

    val warmups = WarmupCycles(name)
    val warmup = (0 until warmups).map { c =>
      oneCycle(c, trace = false)
      cycleSeconds.sum
    }
    // timed cycles. A traced run makes at least three and leaves the middle
    // one untraced, so the tracing overhead is measured in the same process
    // on both sides of the warm-up trend.
    val plain = mutable.ArrayBuffer.empty[Seq[Double]]
    val tracedCycles = mutable.ArrayBuffer.empty[(Seq[Double], CycleTrace, Int)]
    val timedCycles = math.max(if (traced) 3 else MinCycles,
      math.round(seconds / NominalCycleS(name)).toInt)
    for (i <- 0 until timedCycles) {
      val c = warmups + i
      val t = oneCycle(c, traced && i != timedCycles / 2)
      val secs = cycleSeconds
      val blocks = spark.sparkContext.getRDDStorageInfo
        .map(_.numCachedPartitions).sum
      t match {
        case Some(tr) => tracedCycles += ((secs, tr, blocks))
        case None => plain += secs
      }
    }
    wl.finish(spark, run)

    val perCall = wl.calls.indices.map(i => median(plain.map(_(i)).toSeq))
    val layers = tracedCycles.map { case (_, tr, blocks) =>
      layerMetrics(tr, wl.layer(tr), blocks) }
    val coverageOk = tracedCycles.forall { case (_, tr, _) =>
      tr.coverage.values.forall { case (sum, wall) => sum <= wall + 2 } }
    if (traced) selfTest(name, tracedCycles.map(_._2).toSeq, run)
    run.check(!traced || coverageOk,
      "a call's phases add up to more than its wall time")

    val rss = peakRssMb()
    val layerMedians = Layers.all.map { case (n, unit) =>
      (n, median(layers.map(_(n)).toSeq), unit) }
    val metrics: Seq[(String, Double, String)] =
      if (!traced) Seq(
        ("call1_s", perCall(0), "s"), ("call2_s", perCall(1), "s"),
        ("setup_s", setupS, "s"), ("peak_rss_mb", rss, "MB"))
      else layerMedians.filter { case (n, _, _) => Layers.gated(n) }

    val jobCounts = layers.map(l => Tracer.Phases.map(p => l(s"$p.jobs")))
    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> name, "seed" -> seed, "seconds" -> seconds,
      "trace" -> traced, "cores" -> Cores,
      "available_processors" -> Runtime.getRuntime.availableProcessors,
      "jvm_args" -> java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.toArray.map(_.toString)
        .filter(a => a.startsWith("-X")).toSeq,
      "gen_s" -> genS, "session_s" -> sessionS, "setup_s" -> setupS,
      "warmup_s" -> warmup,
      "samples" -> plain.size, "traced_samples" -> tracedCycles.size)
    wl.calls.zip(perCall).foreach { case ((n, _), v) => record(n) = v }
    record("cycle_s") = plain.map(_.toSeq).toSeq
    if (traced) {
      val tMed = median(tracedCycles.map(_._1.sum).toSeq)
      val pMed = median(plain.map(_.sum).toSeq)
      record("traced_cycle_s") = tMed
      record("untraced_cycle_s") = pMed
      record("tracing_overhead") = tMed / pMed - 1
      record("jobs_repeat_exactly") = jobCounts.distinct.size <= 1
      record("phase_coverage_ms") = tracedCycles.map(_._2.coverage.map {
        case (k, (s, w)) => k -> Seq(s, w) }).toSeq
      // this workload's own phases, also those no listed workload has
      record("layers") = mutable.LinkedHashMap(layerMedians.collect {
        case (n, v, _) if Layers.ownedBy(name, n) => n -> v }: _*)
    }
    record ++= wl.record
    record("failures") = run.failures.take(20).toSeq

    com.fasterxml.jackson.databind.json.JsonMapper.builder()
      .addModule(com.fasterxml.jackson.module.scala.DefaultScalaModule).build()
      .writeValue(new java.io.File(opt("out")), mutable.LinkedHashMap(
        "correct" -> (run.failures.isEmpty && run.attempted > 0),
        "attempted" -> run.attempted, "failed" -> run.failed,
        "metrics" -> mutable.LinkedHashMap(metrics.map { case (n, v, u) =>
          n -> mutable.LinkedHashMap("value" -> v, "unit" -> u) }: _*),
        "record" -> record))
    spark.stop()
  }

  /** One short cycle of every listed workload in one process: the run
    * whose loaded classes the class-data-sharing archive keeps. */
  private def train(work: String): Unit =
    Workload.Listed.foreach { name =>
      val wl = Workload(name, s"$work/$name", 0L).get
      val spark = startSession()
      val run = new Runner(spark)
      val tracer = new Tracer(spark)
      wl.generate(spark)
      wl.bootstrap(spark)
      wl.prepare(spark, 0)
      tracer.attach()
      wl.cycle(spark, 0, run)
      tracer.detach()
      tracer.report(run.calls.toSeq)
      wl.finish(spark, run)
      spark.stop()
      require(run.failures.isEmpty,
        s"training cycle of $name failed: ${run.failures.mkString("; ")}")
    }

  /** All per-layer metrics of one traced cycle; phases and ratios of other
    * workloads read 0. */
  private def layerMetrics(t: CycleTrace, ratios: Map[String, Double],
      cachedBlocks: Int): Map[String, Double] = {
    val zero = PhaseStat(0, 0, 0, 0, 0, 0)
    Tracer.Phases.flatMap { p =>
      Layers.kinds.map { case (k, _, f) =>
        s"$p.$k" -> f(t.phases.getOrElse(p, zero)) }
    }.toMap ++
      Tracer.PlannedCalls.map(c => s"$c.plan_ms" ->
        t.planMs.getOrElse(c, 0L).toDouble) ++
      Layers.ratios.values.flatten.map(n => n -> ratios.getOrElse(n, 0.0)) ++
      Map("spark.task_retries" -> t.taskRetries.toDouble,
        "spark.cached_blocks_after_cycle" -> cachedBlocks.toDouble)
  }

  /** The trace names what it should: a migrate cycle attributes jobs to all
    * four `migrate:write` tables, and a sync cycle names every sync phase. */
  private def selfTest(name: String, traces: Seq[CycleTrace],
      run: Runner): Unit = traces.foreach { t =>
    name match {
      case "migrate" =>
        val tables = t.labels.getOrElse("migrate", Set.empty)
          .filter(_.startsWith("migrate:write ")).map(_.stripPrefix("migrate:write "))
        run.check(tables == Set("odocs", "odocs_customer", "odocs_lineitems",
          "odocs_tags"), s"migrate:write tables traced: $tables")
      case "sync" =>
        val missing = Tracer.PhasesOf("sync")
          .filter(p => !t.phases.get(p).exists(_.jobs > 0))
        run.check(missing.isEmpty, s"sync phases without jobs: $missing")
      case _ =>
    }
  }

  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst { case l if l.startsWith("VmHWM:") =>
      l.split("\\s+")(1).toDouble / 1024 }.getOrElse(Double.NaN)
    finally src.close()
  }
}

/** Names and units of the per-layer metrics. */
object Layers {
  private val mb = 1024.0 * 1024.0

  /** Per phase: metric kind, unit and value. */
  val kinds: Seq[(String, String, PhaseStat => Double)] = Seq(
    ("jobs", "count", _.jobs.toDouble), ("job_ms", "ms", _.jobMs.toDouble),
    ("gap_ms", "ms", _.gapMs.toDouble), ("task_ms", "ms", _.taskMs.toDouble),
    ("shuffle_mb", "MB", _.shuffleBytes / mb),
    ("write_mb", "MB", _.writeBytes / mb))

  /** Ratios, by the workload that reports them. */
  val ratios: Map[String, Seq[String]] = Map(
    "migrate" -> Seq("migrate.scan_passes"),
    "sync" -> Seq("feed.write_amp", "snapshot.write_amp"),
    "curate" -> Seq("ann.recall_at_10"))

  private def of(w: String): Seq[(String, String)] =
    Tracer.PhasesOf(w).flatMap(p => kinds.map { case (k, u, _) => s"$p.$k" -> u }) ++
      Tracer.PlannedCallsOf(w).map(c => s"$c.plan_ms" -> "ms") ++
      ratios(w).map(_ -> "ratio")

  private val common = Seq("spark.task_retries" -> "count",
    "spark.cached_blocks_after_cycle" -> "count")

  /** Every per-layer metric of every workload. */
  val all: Seq[(String, String)] =
    Workload.Names.flatMap(of) ++ common

  /** The per-layer metrics a traced run prints: those of the workloads
    * `BENCHMARK.json` lists ([[Workload.Listed]]), so none reads 0 on
    * every listed workload. */
  val gated: Set[String] =
    (Workload.Listed.flatMap(of) ++ common).map(_._1).toSet

  def ownedBy(workload: String, metric: String): Boolean =
    of(workload).exists(_._1 == metric) || common.exists(_._1 == metric)
}
