package perfbench

import java.io.File
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

final case class Opts(
    workload: String,
    seed: Long,
    seconds: Int,
    trace: Boolean,
    work: String,
    sf: Double,
    corruptReference: Boolean)

object Opts {
  def parse(args: Array[String]): Opts = {
    val kv = mutable.Map[String, String]()
    var flags = Set.empty[String]
    var i = 0
    while (i < args.length) {
      val a = args(i)
      require(a.startsWith("--"), s"unexpected argument '$a'")
      if (a == "--corrupt-reference") { flags += a; i += 1 }
      else {
        require(i + 1 < args.length, s"$a needs a value")
        kv(a.drop(2)) = args(i + 1)
        i += 2
      }
    }
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val o = Opts(
      workload = need("workload"),
      seed = need("seed").toLong,
      seconds = need("seconds").toInt,
      trace = need("trace") match {
        case "0" => false
        case "1" => true
        case t   => throw new IllegalArgumentException(s"--trace must be 0 or 1, got '$t'")
      },
      work = need("work"),
      sf = kv.getOrElse("sf", "0.1").toDouble,
      corruptReference = flags.contains("--corrupt-reference"))
    require(Workload.names.contains(o.workload),
      s"unknown workload '${o.workload}' (known: ${Workload.names.mkString(", ")})")
    require(o.seconds >= 1 && o.sf > 0, "seconds and sf must be positive")
    o
  }
}

/** Times the steps of one op. Each step is also a span when the op is traced. */
final class StepTimer(val tracer: Tracer, val traced: Boolean) {
  val steps = mutable.ArrayBuffer[(String, Double)]()
  /** The op's type, set by the workload. */
  var kind = ""

  def step[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = tracer.span(name)(body)
    steps += name -> (System.nanoTime() - t0) / 1e6
    r
  }
}

final case class Sample(kind: String, ms: Double, steps: Seq[(String, Double)], traced: Boolean)

/** What every workload shares: the session, the run options, the tracer,
  * and telemetry that checks record outside the timed region. */
final class Ctx(val spark: SparkSession, val opts: Opts, val tracer: Tracer) {
  val cores: Int = spark.sparkContext.defaultParallelism
  val telemetry = mutable.Map[String, mutable.ArrayBuffer[Double]]()
  def record(name: String, v: Double): Unit =
    telemetry.getOrElseUpdate(name, mutable.ArrayBuffer[Double]()) += v
  def values(name: String): Seq[Double] = telemetry.get(name).map(_.toSeq).getOrElse(Nil)

  /** The expected value of a check; with `--corrupt-reference`, every
    * fourth op is checked against a deliberately wrong value. */
  def expect(op: Int, v: Long): Long = if (opts.corruptReference && op % 4 == 0) v + 1 else v

  def dir(name: String): String = new File(opts.work, name).getAbsolutePath

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

object Ctx {
  /** (bytes, regular files) under `root`. */
  def dirStats(root: File): (Long, Long) =
    if (!root.exists()) (0L, 0L)
    else {
      val s = Files.walk(root.toPath)
      try {
        val files = s.filter(p => Files.isRegularFile(p)).toArray.map(_.asInstanceOf[Path])
        (files.map(Files.size).sum, files.length.toLong)
      } finally s.close()
    }

  def deleteTree(root: File): Unit =
    if (root.exists()) {
      val s = Files.walk(root.toPath)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
      finally s.close()
    }
}

/** One closed-loop workload. `op` runs one client request through
  * [[StepTimer]] and returns its check, which the runner calls after the
  * timer has stopped. */
trait Workload {
  /** Builds the inputs and indexes, and the plain-Spark references the
    * checks use (untimed); returns (split seconds, build seconds). */
  def setup(round: Int): (Double, Double)
  def teardown(): Unit
  /** Ops in one cycle of the workload's op mix. The loop runs whole cycles,
    * so every run has the same mix. */
  def cycleOps: Int
  /** Cycles run at the end of each set-up, untimed by the loop. */
  def warmupCycles: Int
  def op(i: Int, t: StepTimer): () => Boolean
  def indexedDataBytes: Long
  def docsPerPass: Long
}

object Workload {
  val names = Seq("serve", "curate")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "serve"  => new Serve(ctx)
    case "curate" => new Curate(ctx)
  }
}

object Main {

  /** Set-ups per run: `setup_s` is their median. The first runs on a cold
    * JVM, so it is also the JIT's warm-up for the second and for the loop. */
  val SetupRounds = 2

  /** A fixed single-thread loop: its time tracks ambient load on the host. */
  private def canaryMs(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 20000000) {
      x = x * 6364136223846793005L + 1442695040888963407L
      x ^= x >>> 29
      i += 1
    }
    if (x == 42L) System.err.println("canary")
    (System.nanoTime() - t0) / 1e6
  }

  def main(args: Array[String]): Unit = {
    val opts = Opts.parse(args)
    val canaryStart = Seq.fill(5)(canaryMs())
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${opts.workload}")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(opts.work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(opts.work, "warehouse").getAbsolutePath)
      .config("spark.graft.storagePath", new File(opts.work, "store").getAbsolutePath)
      .config("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val line =
      try run(spark, opts, canaryStart)
      catch { case e: Throwable => spark.stop(); throw e }
    println("PERFBENCH_RESULT " + line)
    System.out.flush()
    // local mode starts no other process, and the caller deletes the work
    // directory: skipping the orderly Spark shutdown saves a second per run
    Runtime.getRuntime.halt(0)
  }

  private def run(spark: SparkSession, opts: Opts, canaryStart: Seq[Double]): String = {
    val sc = spark.sparkContext
    System.err.println(f"[perfbench] session ready at ${uptimeS()}%.1f s")
    // end-to-end metrics are measured with tracing off: no listener either
    val listener = new JobListener
    if (opts.trace) sc.addSparkListener(listener)
    val tracer = new Tracer(sc)
    val ctx = new Ctx(spark, opts, tracer)
    val w = Workload(opts.workload, ctx)
    var attempted = 0L
    var failed = 0L
    var opId = 0

    /** Runs one op and then its check; returns the op's sample, or None
      * when it threw or its result was wrong (a failure, never a timing). */
    def runOp(traced: Boolean): Option[Sample] = {
      val i = opId
      opId += 1
      attempted += 1
      val t = new StepTimer(tracer, traced)
      tracer.beginOp(i, traced)
      val t0 = System.nanoTime()
      val outcome =
        try Right(tracer.span("op")(w.op(i, t)))
        catch { case NonFatal(e) => Left(e) }
      val ms = (System.nanoTime() - t0) / 1e6
      tracer.endOp()
      val ok = outcome match {
        case Right(check) =>
          try check()
          catch { case NonFatal(e) =>
            System.err.println(s"[perfbench] op $i check threw: $e"); false }
        case Left(e) =>
          System.err.println(s"[perfbench] op $i failed: $e"); false
      }
      System.err.println(f"[perfbench] op $i ${t.kind} $ms%.1f ms ok=$ok " +
        t.steps.map { case (k, v) => f"$k=$v%.1f" }.mkString(" "))
      if (!ok) { failed += 1; None }
      else Some(Sample(t.kind, ms, t.steps.toSeq, traced))
    }

    // set up several times and report the median; the last set-up is used
    var persistedBefore = Set.empty[Int]
    val rounds = (0 until SetupRounds).map { r =>
      if (r > 0) w.teardown()
      val (splitS, buildS) = w.setup(r)
      persistedBefore = sc.getPersistentRDDs.keySet.toSet
      val (_, warmS) = ctx.time(
        (0 until w.cycleOps * w.warmupCycles).foreach(_ => runOp(traced = false)))
      System.err.println(f"[perfbench] setup round $r: split $splitS%.3f s, " +
        f"build $buildS%.3f s, warm-up $warmS%.3f s")
      (splitS, buildS, splitS + buildS + warmS)
    }
    System.err.println(f"[perfbench] loop starts at ${uptimeS()}%.1f s")

    val samples = mutable.ArrayBuffer[Sample]()
    val deadline = System.nanoTime() + opts.seconds * 1000000000L
    var n = 0
    while (System.nanoTime() < deadline) {
      (0 until w.cycleOps).foreach { _ =>
        // a traced run interleaves untraced and traced cycles as U T T U, so
        // a trend over the run (the JIT still warming) cancels when the two
        // are compared; the untraced cycles give the op latencies
        val cycle = n / w.cycleOps
        runOp(traced = opts.trace && (cycle % 4 == 1 || cycle % 4 == 2)).foreach(samples += _)
        n += 1
      }
    }
    System.err.println(s"[perfbench] loop ops=$n attempted=$attempted failed=$failed")

    val plain = samples.filterNot(_.traced).toSeq
    val plainMs = plain.map(_.ms)
    val metrics =
      if (!opts.trace) {
        val heapMb = liveHeapMb()
        Map(
          "setup_s" -> Stats.median(rounds.map(_._3)),
          "ops_per_s" -> (if (plainMs.isEmpty) 0.0 else plainMs.size / (plainMs.sum / 1000.0)),
          "p50_ms" -> Stats.quantile(plainMs, 0.5),
          "heap_mb" -> heapMb)
      } else {
        org.apache.spark.PerfbenchBus.drain(sc)
        val view = new TraceView(tracer.spans, listener.jobList, listener.stageTotalsBySpan)
        layerMetrics(ctx, w, view, samples.toSeq, rounds,
          (sc.getPersistentRDDs.keySet -- persistedBefore).size, canaryStart,
          failed.toDouble / math.max(1L, attempted))
      }
    System.err.println(f"[perfbench] result at ${uptimeS()}%.1f s")
    Stats.resultLine(failed == 0 && plain.nonEmpty, attempted, failed, metrics)
  }

  private def uptimeS(): Double =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

  /** Smallest heap use seen after each of three full GCs: Spark's cleaner
    * frees shuffles and broadcasts asynchronously once a GC finds them
    * unreachable, so one GC can leave garbage the next one collects. */
  private def liveHeapMb(): Double =
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(200)
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min

  private def layerMetrics(
      ctx: Ctx,
      w: Workload,
      view: TraceView,
      samples: Seq[Sample],
      rounds: Seq[(Double, Double, Double)],
      persistedLeft: Int,
      canaryStart: Seq[Double],
      errorRate: Double): Map[String, Double] = {
    val out = mutable.Map[String, Double]()
    val plain = samples.filterNot(_.traced)
    def stepMs(name: String) = plain.flatMap(_.steps.filter(_._1 == name).map(_._2))
    def spanMs(name: String) = view.named(name).map(_.ms)
    def perSpan(name: String, f: StageRec => Long): Double = {
      val n = view.named(name).size
      if (n == 0) 0.0 else view.stagesIn(name).map(f).sum.toDouble / n
    }
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size

    Seq("join", "fresh_join", "point", "sql_join", "append").foreach { k =>
      out(s"${k}_p50_ms") = Stats.quantile(stepMs(k), 0.5)
      out(s"${k}_p90_ms") = Stats.quantile(stepMs(k), 0.9)
    }
    out("error_rate") = errorRate

    out("IndexProbe.locate_ms") = Stats.median(spanMs("IndexProbe.locate"))
    out("IndexProbe.jobs_per_locate") = view.jobsPer("IndexProbe.locate")
    out("IndexJoin.jobs_per_op") = view.jobsPer("join")
    out("IndexJoin.tasks_per_op") = view.tasksPer("join")
    out("IndexJoin.driver_only_ms") = view.driverOnlyMs("join")
    out("IndexProbe.files_read_frac") = mean(ctx.values("files_read_frac"))
    out("IndexProbe.empty_file_frac") = mean(ctx.values("empty_file_frac"))
    out("FileReader.read_ms") = Stats.median(view.named("FileReader.read").map(view.selfMs))
    out("FileReader.bytes_read_per_op") = perSpan("FileReader.read", _.inputBytes)
    val matched = ctx.values("matched_rows").sum
    out("FileReader.rows_read_per_match") =
      if (matched == 0) 0.0 else view.stagesIn("FileReader.read").map(_.inputRecords).sum / matched
    out("GraftJoinRule.plan_ms") = Stats.median(spanMs("GraftJoinRule.plan"))
    out("GraftJoinRule.plan_jobs") = view.jobsPer("GraftJoinRule.plan")
    out("GraftCatalog.exec_ms") = Stats.median(spanMs("GraftCatalog.exec"))
    // the first probe after a write reads a new snapshot; later ones hit the cache
    out("SnapshotTable.cold_probe_ms") =
      Stats.median(view.namedUnder("IndexProbe.locate", "fresh_join").map(_.ms))
    out("SnapshotTable.warm_probe_ms") =
      Stats.median(view.namedUnder("IndexProbe.locate", "join").map(_.ms))

    out("IndexBuild.update_ms") = Stats.median(spanMs("IndexBuild.update"))
    out("IndexBuild.delete_ms") = Stats.median(spanMs("IndexBuild.delete"))
    out("IndexBuild.jobs_per_update") = view.jobsPer("IndexBuild.update")
    out("IndexBuild.bytes_written_per_update") = perSpan("IndexBuild.update", _.outputBytes)
    val (storeBytes, storeFiles) = Ctx.dirStats(new File(ctx.opts.work, "store"))
    out("IndexStore.bytes") = storeBytes.toDouble
    out("IndexStore.files") = storeFiles.toDouble
    out("store_bytes_per_data_byte") =
      if (w.indexedDataBytes == 0) 0.0 else storeBytes.toDouble / w.indexedDataBytes
    out("Lake.split_s") = Stats.median(rounds.map(_._1))
    out("Lake.build_s") = Stats.median(rounds.map(_._2))

    out("Dedup.exact_s") = Stats.median(spanMs("Dedup.exact")) / 1000
    out("Dedup.minhash_s") = Stats.median(spanMs("Dedup.minhash")) / 1000
    out("Dedup.ngram_s") = Stats.median(spanMs("Dedup.ngram")) / 1000
    val curating = ctx.opts.workload == "curate"
    out("Dedup.shuffle_write_bytes") = if (curating) perSpan("op", _.shuffleWriteBytes) else 0.0
    out("Dedup.spill_bytes") = if (curating) perSpan("op", _.spillBytes) else 0.0
    val recall = ctx.values("planted_recall")
    out("Dedup.planted_recall") = if (recall.isEmpty) 0.0 else recall.min
    val passMs = plain.map(_.ms)
    out("dedup_docs_per_s") =
      if (w.docsPerPass == 0 || passMs.isEmpty) 0.0
      else w.docsPerPass * passMs.size / (passMs.sum / 1000)
    out("Ckpt.persisted_rdds_left") = persistedLeft.toDouble
    out("baseline.fullscan_join_ms") = Stats.median(ctx.values("fullscan_ms"))

    // traced against untraced latency of the same op kind in this process
    val overheads = samples.groupBy(_.kind).values.flatMap { ss =>
      val (tr, un) = ss.partition(_.traced)
      if (tr.isEmpty || un.isEmpty) None
      else Some(Stats.median(tr.map(_.ms)) / Stats.median(un.map(_.ms)) - 1.0)
    }.toSeq
    out("trace.overhead_pct") = 100.0 * mean(overheads)
    val tracedOps = samples.count(_.traced)
    out("trace.spans_per_op") = if (tracedOps == 0) 0.0 else view.spanCount.toDouble / tracedOps
    out("env.canary_ms") = Stats.median(canaryStart ++ Seq.fill(5)(canaryMs()))
    out.toMap
  }
}
