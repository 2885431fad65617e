package perfbench

/** Per-layer metrics of a traced run. Layers are named after the program's
  * modules; a layer that the workload never calls reports 0.
  */
object Layers {
  val names = Seq("sources", "substring", "lsh", "hamming", "exact", "ids", "cc")

  /** Span times of one traced pass; with `spark.unattributed_s` they sum
    * to the traced pass's wall time.
    */
  val spanMetrics = Seq("sources.ingest_s", "sources.writeback_s", "substring.self_s",
    "substring.annotate_s", "lsh.self_s", "hamming.self_s", "exact.self_s", "ids.self_s",
    "cc.self_s", "spark.unattributed_s")

  /** (name, unit) of every per-layer metric, in output order. */
  val catalog: Seq[(String, String)] = Seq(
    "sources.ingest_s" -> "s", "sources.writeback_s" -> "s", "sources.writeback_out_mb" -> "MB",
    "substring.windows_s" -> "s", "substring.self_s" -> "s", "substring.annotate_s" -> "s",
    "substring.windows" -> "count", "substring.dup_window_frac" -> "ratio",
    "lsh.self_s" -> "s", "lsh.candidates" -> "count", "lsh.verified" -> "count",
    "lsh.precision" -> "ratio",
    "hamming.self_s" -> "s", "hamming.pairs" -> "count", "exact.self_s" -> "s", "ids.self_s" -> "s",
    "cc.self_s" -> "s", "cc.edges" -> "count", "cc.local" -> "count") ++
    names.flatMap(l => Seq(
      s"$l.task_s" -> "s", s"$l.shuffle_write_mb" -> "MB", s"$l.spill_mb" -> "MB",
      s"$l.gc_s" -> "s", s"$l.max_task_s" -> "s", s"$l.slot_idle_frac" -> "ratio",
      s"$l.peak_task_mem_mb" -> "MB")) ++ Seq(
    "functions.polyhash_mb_s" -> "MB/s", "functions.minhash_mb_s" -> "MB/s",
    "functions.utf8_clip_mb_s" -> "MB/s", "functions.utf8_remove_mb_s" -> "MB/s",
    "spark.unattributed_s" -> "s", "spark.retained_block_mb" -> "MB",
    "trace_overhead_frac" -> "ratio")

  /** One traced pass's values (span times, counts, job counters). */
  private def ofPass(p: Main.Pass, cores: Int): Map[String, Double] = {
    val real = p.spans.filterNot(_._1.startsWith("probe."))
    def spanS(prefix: String) = real.filter(_._1.startsWith(prefix)).map(_._2).sum
    val steps = spanMetrics.filter(_ != "spark.unattributed_s")
      .map(m => m -> real.filter(_._1 == m.stripSuffix("_s")).map(_._2).sum)
    val counters = names.flatMap { l =>
      val c = Listener.total(p.groups.collect { case (g, c) if g.startsWith(l + ".") => c })
      val wall = spanS(l + ".")
      Seq(
        s"$l.task_s" -> c.taskMs / 1e3,
        s"$l.shuffle_write_mb" -> c.shuffleWriteBytes / 1e6,
        s"$l.spill_mb" -> c.spillBytes / 1e6,
        s"$l.gc_s" -> c.gcMs / 1e3,
        s"$l.max_task_s" -> c.maxTaskMs / 1e3,
        s"$l.slot_idle_frac" -> (if (wall > 0) 1 - c.taskMs / 1e3 / (wall * cores) else 0.0),
        s"$l.peak_task_mem_mb" -> c.peakExecMem / 1e6)
    }
    (steps ++ counters).toMap ++ p.counts ++
      Map("spark.unattributed_s" -> (p.wallS - real.map(_._2).sum))
  }

  def metrics(traced: Seq[Main.Pass], untraced: Seq[Main.Pass], extra: Map[String, Double],
              cores: Int): Seq[(String, Double, String)] = {
    val perPass = traced.map(ofPass(_, cores))
    def med(k: String) = Stats.median(perPass.flatMap(_.get(k)))
    val derived = Map(
      "spark.retained_block_mb" -> Stats.median(untraced.map(_.retainedMb)),
      "trace_overhead_frac" ->
        (Stats.median(traced.map(_.wallS)) / Stats.median(untraced.map(_.wallS)) - 1),
      "lsh.precision" -> extra.get("lsh.candidates").filter(_ > 0)
        .map(c => med("lsh.verified") / c).getOrElse(0.0))
    catalog.map { case (n, unit) =>
      val v = derived.get(n).orElse(extra.get(n))
        .getOrElse(if (perPass.exists(_.contains(n))) med(n) else 0.0)
      (n, v, unit)
    }
  }
}
