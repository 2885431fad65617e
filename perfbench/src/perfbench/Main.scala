package perfbench

import java.nio.file.{Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.util.{Failure, Success, Try}
import org.apache.spark.sql.SparkSession

object Stats {
  /** Median with the mean of the two middle values for even sizes. */
  def median(xs: collection.Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) 0.0 else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest of p50..p99.9 that has at least ten samples above it. */
  def tail(xs: collection.Seq[Double]): Option[(String, Double)] = {
    val s = xs.sorted
    Seq(99.9 -> "p99.9", 99.0 -> "p99", 95.0 -> "p95", 90.0 -> "p90", 75.0 -> "p75", 50.0 -> "p50")
      .find { case (p, _) => s.size * (1 - p / 100) >= 10 }
      .map { case (p, name) => name -> s(math.min(s.size - 1, math.ceil(s.size * p / 100).toInt - 1)) }
  }
}

/** Benchmark driver: one Spark session at local[cores], one workload.
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1 --cores C --work DIR
  *
  * Set-up: session start, seeded input generation, then `WarmUps` warm-up
  * passes (the first passes of a JVM pay for class loading, code
  * generation and JIT compilation); `setup_s` is their sum. The inputs are
  * then generated a second time into another directory, and the two
  * digests must agree. Then `--seconds` / `Workload.passS` passes (at least
  * 3) run back to back. With `--trace 1` untraced and traced passes
  * alternate; after the window the layer probes run and, once the session
  * is stopped, the `functions` kernels are timed (`Kernels`). Prints
  * per-sample details as one JSON line on stderr and the result as the
  * last line on stdout.
  */
object Main {
  val WarmUps = 2

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        cores: Int, work: Path)

  final case class Pass(traced: Boolean, wallS: Double, cpuS: Double, peakTaskMb: Double,
                        retainedMb: Double, loadAtStart: Double, stealFrac: Double,
                        failures: Seq[String],
                        spans: Seq[(String, Double)], counts: Map[String, Double],
                        groups: Map[String, Counters], durationS: Double)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("cores").toInt, Paths.get(need("work")).toAbsolutePath)
  }

  /** Session settings of the repository's own benchmark, with every
    * directory inside the work dir.
    */
  private def session(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", (o.cores * 2).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "128m")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.sql.files.maxPartitionBytes", "32m")
      .config("spark.sql.files.openCostInBytes", "512k")
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", o.work.resolve("hadoop").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      // small status-store retention: with the defaults, the store's first
      // cleanup sweep lands a few passes into a run and slows that pass
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "10000")
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val jvmStart = System.nanoTime()

  /** Progress line on stderr, stamped with seconds since start. */
  private def note(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - jvmStart) / 1e9}%7.2f s $msg")

  private def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def main(args: Array[String]): Unit = {
    val code = try run(parse(args)) catch {
      case e: Throwable =>
        System.err.println("[perfbench] aborted:")
        e.printStackTrace()
        2
    }
    System.out.flush()
    sys.exit(code)
  }

  private def run(o: Opts): Int = {
    val wl = Workloads.byName(o.workload)
    val inDir = o.work.resolve("input")
    val outDir = o.work.resolve("output")
    var spark: SparkSession = null
    var listener: Listener = null
    var input: wl.Input = null.asInstanceOf[wl.Input]

    def pass(traced: Boolean): Pass = {
      val sc = spark.sparkContext
      Util.deleteTree(outDir)
      System.gc()
      listener.drain(sc)
      val load = Util.load1()
      val tr = new Tracer(spark)
      val (steal0, jiffies0) = Util.cpuJiffies()
      val start = System.nanoTime()
      val cpu0 = Util.processCpuNanos()
      val res = Try(if (traced) wl.traced(spark, input, outDir, tr) else wl.run(spark, input, outDir))
      val wall = (System.nanoTime() - start) / 1e9
      val cpu = (Util.processCpuNanos() - cpu0) / 1e9
      val (steal1, jiffies1) = Util.cpuJiffies()
      val steal = if (jiffies1 > jiffies0) (steal1 - steal0).toDouble / (jiffies1 - jiffies0) else 0.0
      val groups = listener.drain(sc)
      val retained = sc.getRDDStorageInfo.iterator.map(i => i.memSize + i.diskSize).sum / 1e6
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      val failures = res match {
        case Failure(e) => Seq(s"pass failed: $e")
        case Success(r) => Try(wl.check(input, r, outDir)) match {
          case Success(errs) => errs
          case Failure(e) => Seq(s"check failed to run: $e")
        }
      }
      val probeS = tr.spans.filter(_._1.startsWith("probe.")).map(_._2).sum
      Pass(traced, wall - probeS, cpu, Listener.total(groups.values).peakExecMem / 1e6, retained,
        load, steal, failures, tr.spans.toSeq, tr.counts.toMap, groups, (System.nanoTime() - start) / 1e9)
    }

    // ---- set-up: session, inputs, warm-up passes ----------------------
    val t0 = System.nanoTime()
    spark = session(o)
    listener = new Listener
    spark.sparkContext.addSparkListener(listener)
    val t1 = System.nanoTime()
    input = wl.generate(spark, o.seed, inDir)
    val prep = Seq((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9) // session start, inputs
    note(f"set-up: session ${prep(0)}%.2f s, inputs ${prep(1)}%.2f s")
    val all = ArrayBuffer.empty[Pass]
    val warmups = (1 to WarmUps).map { i =>
      val p = pass(traced = false)
      all += p
      note(f"warm-up pass $i: ${p.wallS}%.2f s")
      p.wallS
    }
    val setupS = prep.sum + warmups.sum
    // determinism: the same seed must write the same inputs again
    val digest = wl.digest(input)
    val again = {
      val dir = o.work.resolve("input-again")
      try wl.regenerate(spark, o.seed, dir) finally Util.deleteTree(dir)
    }
    val nondeterministic =
      if (again == digest) Nil
      else Seq(s"the same seed generated different inputs: $digest, $again")

    // ---- measuring window -----------------------------------------------
    // The pass count is fixed by --seconds, not by how fast passes run:
    // faster code would otherwise get more (and warmer) passes, and the
    // median would move with the count.
    val nPasses = {
      val n = math.max(3, (o.seconds / wl.passS).toInt)
      if (o.trace) math.max(4, n + n % 2) else n
    }
    val timed = ArrayBuffer.empty[Pass]
    val w0 = System.nanoTime()
    def elapsed = (System.nanoTime() - w0) / 1e9
    // on a host so slow that the window runs past twice its length, stop
    // early rather than overrun the run's time limit
    while (timed.size < nPasses && (timed.size < 3 || elapsed < 2 * o.seconds)) {
      val p = pass(traced = o.trace && timed.size % 2 == 1)
      timed += p
      all += p
    }
    val windowS = elapsed
    note(f"window: ${timed.size} passes in $windowS%.2f s")

    val probed: Map[String, Double] =
      if (!o.trace) Map.empty
      else {
        val tr = new Tracer(spark)
        wl.probes(spark, input, tr)
        listener.drain(spark.sparkContext)
        tr.counts.toMap ++ tr.spans.map { case (n, s) => n.stripPrefix("probe.") + "_s" -> s }
      }
    stop(spark)
    note("session stopped")
    val extra = if (o.trace) probed ++ Kernels.run(o.seed) else probed

    val failures = nondeterministic ++ all.flatMap(_.failures)
    val failed = all.count(_.failures.nonEmpty) + (if (nondeterministic.nonEmpty) 1 else 0)
    val attempted = all.size
    val untraced = timed.filterNot(_.traced)
    val mb = wl.corpusBytes(input) / 1e6

    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) Seq(
        ("wall_s", Stats.median(untraced.map(_.wallS)), "s"),
        ("throughput_mb_s", Stats.median(untraced.map(p => mb / p.wallS)), "MB/s"),
        ("cpu_s", Stats.median(untraced.map(_.cpuS)), "s"),
        ("peak_task_mem_mb", Stats.median(untraced.map(_.peakTaskMb)), "MB"),
        ("setup_s", setupS, "s"),
        ("ok_frac", (attempted - failed).toDouble / attempted, "ratio"))
      else Layers.metrics(timed.filter(_.traced).toSeq, untraced.toSeq, extra, o.cores)

    val samples = Seq(
      "wall_s" -> untraced.map(_.wallS), "cpu_s" -> untraced.map(_.cpuS),
      "peak_task_mem_mb" -> untraced.map(_.peakTaskMb),
      "traced_wall_s" -> timed.filter(_.traced).map(_.wallS))
    val detail = Util.json.createObjectNode()
    detail.put("workload", wl.name).put("seed", o.seed).put("nproc", o.cores)
      .put("input_mb", mb).put("input_sha256", digest).put("window_s", windowS)
    samples.filter(_._2.nonEmpty).foreach { case (n, xs) =>
      val s = detail.putObject(n)
      s.put("n", xs.size).put("median", Stats.median(xs.toSeq))
      Stats.tail(xs.toSeq) match {
        case Some((p, v)) => s.put("tail", p).put("tail_value", v)
        // fewer than 20 samples: no percentile from the median up has 10 beyond it
        case None => s.putNull("tail")
      }
      val arr = s.putArray("samples"); xs.foreach(arr.add(_))
    }
    detail.put("setup_s", setupS)
    if (o.trace) {
      // each layer's span and the rest, as shares of the traced pass
      val tracedWall = Stats.median(timed.filter(_.traced).map(_.wallS))
      val share = detail.putObject("share_of_traced_wall_s")
      metrics.foreach { case (n, v, _) =>
        if (Layers.spanMetrics.contains(n) && v != 0) share.put(n, v / tracedWall) }
    }
    val parts = detail.putArray("setup_session_inputs_s"); prep.foreach(parts.add(_))
    val warm = detail.putArray("warmup_pass_s"); warmups.foreach(warm.add(_))
    val loads = detail.putArray("load1_at_pass_start"); all.foreach(p => loads.add(p.loadAtStart))
    // share of the host's CPU time stolen by its hypervisor during each pass
    val steals = detail.putArray("steal_frac_per_pass"); all.foreach(p => steals.add(p.stealFrac))
    val errs = detail.putArray("failures"); failures.take(20).foreach(errs.add)
    System.err.println("[perfbench] " + detail.toString)

    val out = Util.json.createObjectNode()
    out.put("correct", failed == 0).put("attempted", attempted).put("failed", failed)
    val ms = out.putObject("metrics")
    metrics.foreach { case (n, v, unit) =>
      ms.putObject(n).put("value", if (v.isNaN || v.isInfinite) 0.0 else v).put("unit", unit)
    }
    println(out.toString)
    if (failed == 0) 0 else 1
  }
}
