package graft

import org.apache.spark.sql.functions._

/** Round-6 optimization-loop measurement harness (guide §1) -- NOT the
  * driver bench: Bench.scala is frozen; this main exists so individual
  * queries can be timed/isolated/explained without running the whole
  * gated Bench. Subcommands:
  *
  *   queries [substr...]   min-of-N .count() per matching query (Bench
  *                         methodology), N from SPARK_GRAFT_EXTRA_RUNS (2),
  *                         after one untimed warm-up run of that query
  *   noop [substr...]      same but through the noop sink (computes every
  *                         column; guide §1.4)
  *   queryjobs [substr...] each matching query's Spark jobs: wall time
  *                         and description of every job as it ends, one
  *                         untimed warm-up run then N traced runs
  *   explain <dir> [s...]  write .explain("formatted") per matching query
  *                         to <dir>/<name>.txt
  *   pipeline [nImages]    one DedupPipeline pass (Bench.pipelinePass)
  *   scaling [levels...]   Bench.scalingPass at the given local[N] levels
  *                         (2 8 32 by default) on a SPARK_GRAFT_BENCH_IMAGES
  *                         (100000) fixture, SPARK_GRAFT_SCALING_ROUNDS (3)
  *                         rounds, after one untimed warm-up pass; one JSON
  *                         line with the efficiency and its detail
  *   jsonl [nDocs]         one JSONL workflow pass (Bench.jsonlPass)
  *   minlen [nDocs]        the reference's minlen range (200 / 500 /
  *                         1000) on the JSONL fixture (50000 docs): the
  *                         spine once per minLen; one JSON line. A sweep
  *                         is not served by the suffix index, which lost
  *                         to the spine here (BASELINE.md)
  *   saindex [depth]       the `sa_index_remove_ranges` path on its own
  *                         fixture (docsWithDups): suffix-index build and
  *                         its query at that depth, and build+query, timed
  *                         separately (depth SparkEntry.MinLen by default),
  *                         with a differential against the spine at the
  *                         same minLen; one JSON line
  *   ivf [nCells] [outDir] `ann_ivf_topk` at a configurable nCells (512
  *                         by default; the oracle query pins 64) written
  *                         as parquet plus its generated oracle_sql.json
  *                         under outDir: check with dev/compare.py
  */
object BenchExtra {

  /** Print each Spark job's wall time and description as it ends. A job
    * whose start was never recorded (it started before the listener was
    * registered) is skipped rather than failing the listener thread.
    */
  private def traceJobs(spark: org.apache.spark.sql.SparkSession): Unit = {
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        starts.put(js.jobId, (System.nanoTime(),
          Option(js.properties.getProperty("spark.job.description")).getOrElse("")))
      override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        Option(starts.remove(je.jobId)).foreach { case (t0, d) =>
          println(f"[extra] job ${je.jobId}%3d ${(System.nanoTime() - t0) / 1e9}%7.3f s  ${d.take(60)}")
        }
    })
  }

  /** Scaling efficiency between local[N] levels on identical input.
    * Bench.scalingPass starts a fresh session per level, so this runs
    * before main opens its shared session.
    */
  private def scaling(args: Seq[String]): Unit = {
    val levels = if (args.nonEmpty) args else Seq("2", "8", "32")
    val rounds = sys.env.getOrElse("SPARK_GRAFT_SCALING_ROUNDS", "3").toInt
    val nBase = sys.env.getOrElse("SPARK_GRAFT_BENCH_IMAGES", "100000").toInt
    val fixtureBase = "/dev/shm/graft-fixtures/images_bench"
    // generate + warm the fixture (and codegen paths) once, untimed
    locally {
      val s = Bench.session(levels.last)
      try Bench.pipelinePass(s, fixtureBase, nBase) finally s.stop()
    }
    val (efficiency, _, json) = Bench.scalingPass(fixtureBase, nBase, rounds, levels)
    println(s"""{"metric":"scaling_efficiency","value":$efficiency,"unit":"ratio","detail":$json}""")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val runs = sys.env.getOrElse("SPARK_GRAFT_EXTRA_RUNS", "2").toInt
    val cmd = args.headOption.getOrElse("queries")
    val rest = args.drop(1).toSeq
    if (cmd == "scaling") { scaling(rest); return }
    val spark = Bench.session(cpus)

    def timed[A](what: String)(f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[extra] $what%-40s $sec%8.2f s")
      (a, sec)
    }

    def matching(filters: Seq[String]) =
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (n, _) => filters.isEmpty || filters.exists(n.contains) }

    // Bench.main's warm-up, then one untimed run of each measured query
    // right before its timed runs, so the first timed run is not cold
    def warmUp(): Unit = {
      spark.read.parquet(s"$sfDir/lineitem.parquet").count()
      SparkEntry.queries("q1_agg")(spark, sfDir).count()
    }

    cmd match {
      case "queries" | "noop" =>
        warmUp()
        val all = matching(rest)
        var total = 0.0
        all.foreach { case (name, fn) =>
          spark.sparkContext.setJobDescription(name)
          def once(): Unit =
            if (cmd == "noop") fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            else fn(spark, sfDir).count()
          once()
          val secs = (1 to runs).map { _ =>
            val t0 = System.nanoTime()
            once()
            (System.nanoTime() - t0) / 1e9
          }
          total += secs.min
          println(f"[extra] $name%-28s ${secs.min}%8.3f s  (runs: ${secs.map(s => f"$s%.2f").mkString(", ")}; load1=${Bench.load1()}%.1f)")
        }
        println(f"[extra] TOTAL(min) ${total}%.2f s over ${all.size} queries")
      case "explain" =>
        val dir = rest.head
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
        matching(rest.drop(1)).foreach { case (name, fn) =>
          val plan = fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(dir, s"$name.txt"), plan)
          println(s"[extra] wrote $dir/$name.txt")
        }
      case "pipeline" =>
        val n = rest.headOption.map(_.toInt).getOrElse(150000)
        (1 to runs).foreach { i =>
          val l = Bench.awaitQuiet(threshold = 4.0, maxWaitSec = 240)
          val st = Bench.pipelinePass(spark, "/dev/shm/graft-fixtures/images_bench", n)
          println(f"[extra] pipeline[$i] ${st.nImages} images in ${st.sec}%.2f s = ${st.imagesPerSec}%.0f img/s = ${st.mbPerSec}%.2f MB/s (load1@start=$l%.1f)")
        }
      case "queryjobs" =>
        // job-level trace of one named query's execution (guide §1: find
        // which scheduled job inside a multi-job operator eats the time)
        traceJobs(spark)
        warmUp()
        matching(rest).foreach { case (name, fn) =>
          println(s"[extra] ---- $name warm-up (untimed) ----")
          fn(spark, sfDir).count()
          (1 to runs).foreach { i =>
            println(s"[extra] ---- $name run $i ----")
            val t0 = System.nanoTime()
            fn(spark, sfDir).count()
            println(f"[extra] $name TOTAL ${(System.nanoTime() - t0) / 1e9}%7.2f s (load1=${Bench.load1()}%.1f)")
          }
        }
      case "jsonl" =>
        val n = rest.headOption.map(_.toInt).getOrElse(50000)
        (1 to runs).foreach { i =>
          val l = Bench.awaitQuiet(threshold = 4.0, maxWaitSec = 240)
          val (b, sec, files) = Bench.jsonlPass(spark, "/dev/shm/graft-fixtures", n)
          println(f"[extra] jsonl[$i] ${b / 1e6}%.1f MB, $files files in $sec%.2f s = ${b / 1e6 / sec}%.2f MB/s (load1@start=$l%.1f)")
        }
      case "minlen" =>
        val nDocs = rest.headOption.map(_.toInt).getOrElse(50000)
        val dir = s"/dev/shm/graft-fixtures/jsonl-in-$nDocs"
        val bytes = sources.JsonlGen.writeTree(spark, dir, nDocs)
        val docs = JsonlDedupJob.readTree(spark, dir).localCheckpoint(true)
        def ranges(d: org.apache.spark.sql.DataFrame, ml: Int) =
          operators.SubstringDedup.removeRanges(d, operators.SubstringDedup.Config(ml))
        ranges(docs.limit(500), 500).count() // codegen warm-up, untimed
        val spine = Seq(200, 500, 1000).map { ml =>
          val l = Bench.awaitQuiet(threshold = 4.0, maxWaitSec = 240)
          val (r, sec) = timed(s"sort-scan minLen=$ml") {
            ranges(docs, ml).agg(count(lit(1)), sum(col("e") - col("s"))).collect()(0)
          }
          f"""{"minlen":$ml,"sec":$sec%.2f,"load1":$l%.2f,"ranges":${r.getLong(0)},""" +
            f""""removed_bytes":${if (r.isNullAt(1)) 0L else r.getLong(1)},"mb_per_sec":${bytes / 1e6 / sec}%.2f}"""
        }
        println(f"""{"metric":"minlen_sweep","docs":$nDocs,"text_mb":${bytes / 1e6}%.1f,""" +
          s""""sort_scan":${spine.mkString("[", ",", "]")}}""")
      case "saindex" =>
        import operators.{SubstringDedup, SuffixIndex}
        val depth = rest.headOption.map(_.toInt).getOrElse(SparkEntry.MinLen)
        val docs = SparkEntry.docsWithDups(spark, sfDir).localCheckpoint(true)
        def build(d: org.apache.spark.sql.DataFrame, parts: Int) =
          SuffixIndex.build(d, SuffixIndex.Config(depth, parts))
        // untimed warmup: pay codegen/JIT on a slice
        SuffixIndex.removeRanges(build(docs.limit(50), 4)).count()
        val (index, buildSec) = timed(s"build maxDepth=$depth") {
          build(docs, 32).localCheckpoint(true)
        }
        val (nRanges, querySec) = timed(s"query at depth $depth") {
          SuffixIndex.removeRanges(index).count()
        }
        val (_, e2eSec) = timed("end-to-end (build+query, as the query runs it)") {
          SuffixIndex.removeRanges(build(docs, 32)).count()
        }
        val a = SuffixIndex.removeRanges(index)
        val b = SubstringDedup.removeRanges(docs, SubstringDedup.Config(depth))
        val diff = a.exceptAll(b).count() + b.exceptAll(a).count()
        require(diff == 0, s"index vs sort-scan differential: $diff rows differ")
        println(f"""{"metric":"sa_bench","sf":"$sfDir","max_depth":$depth,"build_sec":$buildSec%.2f,"query_sec":$querySec%.2f,"e2e_sec":$e2eSec%.2f,"ranges":$nRanges,"differential":"identical"}""")
      case "ivf" =>
        val nCells = rest.headOption.map(_.toInt).getOrElse(512)
        val outDir = rest.lift(1).getOrElse("/tmp/ivf_check")
        val name = s"ann_ivf_topk_c$nCells"
        val vecs = SparkEntry.intVecs(spark, sfDir)
        timed(s"ivf nCells=$nCells") {
          operators.AnnCosine.ivfTopKInt(
            vecs.where(col("id") < 5).select(col("id").as("qid"), col("vec")),
            vecs.select(col("id"), col("vec")),
            10, nCells = nCells, nProbe = 4, rounds = 2)
            .select("qid", "id", "rn")
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        }
        val sql = OracleSqlGen.ivfTopKSql(5, SparkEntry.AnnDim, nCells, 4, 10, rounds = 2)
        def q(s: String): String = "\"" + s.flatMap {
          case '"'  => "\\\""
          case '\\' => "\\\\"
          case '\n' => "\\n"
          case c if c < ' ' => f"\\u${c.toInt}%04x"
          case c => c.toString
        } + "\""
        java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$outDir/oracle_sql.json"),
          s"{${q(name)}: ${q(sql)}}")
        println(s"[extra] wrote $outDir/$name and $outDir/oracle_sql.json")
      case other => sys.error(s"unknown subcommand $other")
    }
    spark.stop()
  }
}
