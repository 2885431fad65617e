package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.SubstringDedup
import graft.sources.Writeback

/** B7 writeback sink golden tests (reference write_back_to_jsonl_sharded.py:39-66, 95-101 semantics;
  * verify_zst.py:20-43 is the reference's own roundtrip check).
  */
class WritebackSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  // two "input files" (one nested), lines out of shuffle order, a planted
  // >=minLen duplicate run, and multi-byte UTF-8 in the payload
  private val run = "0123456789abcdefghijklmnopqrstuvwxyzABCDEF" // 42 bytes
  private def fixtureDocs = Seq(
    ("crawl=a/part0.jsonl", 0L, s"first doc $run with tail über"),
    ("crawl=a/part0.jsonl", 1L, "second doc no dup 😊 here"),
    ("crawl=a/part0.jsonl", 2L, s"third doc $run with other tail"),
    ("b/part1.jsonl", 0L, "solo doc in the second file"),
    ("b/part1.jsonl", 1L, s"another copy $run appears here too")
  ).toDF("path", "linenum", "text")

  // payload carries copies of path/linenum (pathv/linenumv) purely so the
  // roundtrip test can re-key the JSON lines; the sink itself keeps
  // path/linenum OUT of the payload, like the reference (file location +
  // line order carry them implicitly)
  private def annotated = {
    val docs = fixtureDocs
      .withColumn("k", col("linenum") + when(col("path").startsWith("crawl"), 0L).otherwise(100L))
    SubstringDedup.annotate(docs.select("k", "text"), SubstringDedup.Config(32))
      .join(docs.select("k", "path", "linenum"), "k")
      .withColumn("pathv", col("path"))
      .withColumn("linenumv", col("linenum"))
      .select("path", "linenum", "pathv", "linenumv", "text", "sa_remove_ranges")
  }

  private def roundtrip(compression: String, suffix: String): Unit = {
    val out = Files.createTempDirectory(s"graft_wb_$compression").toString
    val files = Writeback.jsonlTree(annotated, out, compression = compression).collect()
    assert(files.map(_.getString(0)).toSet ==
      Set("crawl=a/part0.jsonl", "b/part1.jsonl"))
    assert(files.map(_.getLong(1)).sum == 5)
    // mirror tree exists with the expected suffix
    assert(Files.exists(Paths.get(out, "crawl=a", "part0.jsonl" + suffix)))
    assert(Files.exists(Paths.get(out, "b", "part1.jsonl" + suffix)))

    val back = spark.read
      .option("recursiveFileLookup", "true")
      .json(out)
      .select(col("pathv"), col("linenumv"), col("text"),
        expr("transform(sa_remove_ranges, r -> struct(r.s as s, r.e as e))").as("r"))
      .as[(String, Long, String, Seq[(Long, Long)])]
      .collect().toSet
    val want = annotated
      .select(col("pathv"), col("linenumv"), col("text"),
        expr("transform(sa_remove_ranges, r -> struct(r.s as s, r.e as e))").as("r"))
      .as[(String, Long, String, Seq[(Long, Long)])]
      .collect().toSet
    assert(back == want, s"roundtrip mismatch for $compression")
    // duplicates actually annotated: two later copies of `run` carry ranges
    assert(want.count(_._4.nonEmpty) == 2)
  }

  test("writeback mirrors the input tree and roundtrips (gzip)") {
    roundtrip("gzip", ".gz")
  }
  test("writeback roundtrip, zstd") { roundtrip("zstd", ".zst") }
  test("writeback roundtrip, uncompressed") { roundtrip("none", "") }
  test("writeback roundtrip, explicit codec levels (gzip:1, zstd:19)") {
    roundtrip("gzip:1", ".gz")
    roundtrip("zstd:19", ".zst")
  }
  test("writeback rejects malformed codec levels") {
    intercept[IllegalArgumentException](
      Writeback.jsonlTree(annotated, "/tmp/never", compression = "gzip:0"))
    intercept[IllegalArgumentException](
      Writeback.jsonlTree(annotated, "/tmp/never", compression = "none:1"))
    intercept[IllegalArgumentException](
      Writeback.jsonlTree(annotated, "/tmp/never", compression = "lz4"))
    intercept[IllegalArgumentException]( // non-numeric level -> IAE, not NFE
      Writeback.jsonlTree(annotated, "/tmp/never", compression = "zstd:abc"))
    intercept[IllegalArgumentException]( // zstd range-checked at parse time
      Writeback.jsonlTree(annotated, "/tmp/never", compression = "zstd:23"))
    intercept[IllegalArgumentException](
      Writeback.jsonlTree(annotated, "/tmp/never", compression = "zstd:-8"))
  }

  test("writeback preserves original line order within each file") {
    val out = Files.createTempDirectory("graft_wb_order").toString
    Writeback.jsonlTree(annotated, out, compression = "none").collect()
    val lines = Files.readAllLines(Paths.get(out, "crawl=a", "part0.jsonl"))
    assert(lines.size() == 3)
    val lns = (0 until 3).map(i => ujsonLinenum(lines.get(i)))
    assert(lns == Seq(0L, 1L, 2L), s"lines out of order: $lns")
  }

  private def ujsonLinenum(js: String): Long = {
    // tiny extraction to avoid a JSON dep: "linenumv":N
    val m = """"linenumv":(\d+)""".r.findFirstMatchIn(js)
    m.get.group(1).toLong
  }

  test("writeback overlays payload columns on the doc's json object; without json the line is the payload") {
    val out = Files.createTempDirectory("graft_wb_overlay").toString
    def written(f: String) = Files.readAllLines(Paths.get(out, f)).toArray.toSeq
    // no json column: the golden bytes of the payload's to_json
    Writeback.jsonlTree(Seq(("p.jsonl", 0L, "t", 3, Seq((1L, 2L))))
      .toDF("path", "linenum", "text", "n", "r")
      .withColumn("r", expr("transform(r, x -> struct(x._1 as s, x._2 as e))")),
      out, compression = "none").collect()
    assert(written("p.jsonl") == Seq("""{"text":"t","n":3,"r":[{"s":1,"e":2}]}"""))
    // json base: `text` replaced in place, `extra` appended, every other
    // field (numbers with their digits, nested values) kept in order
    val base = """{"id": 7, "text": "old", "score": 1.50, "nested": {"q": [1, 2.0]}}"""
    Writeback.jsonlTree(Seq(("q.jsonl", 0L, base, "new", Seq(1L, 2L)))
      .toDF("path", "linenum", "json", "text", "extra"), out, compression = "none").collect()
    assert(written("q.jsonl") ==
      Seq("""{"id":7,"text":"new","score":1.50,"nested":{"q":[1,2.0]},"extra":[1,2]}"""))
  }

  test("writeback rejects absolute / scheme-qualified / traversal paths") {
    val out = Files.createTempDirectory("graft_wb_guard").toString
    for (bad <- Seq("/etc/x.jsonl", "file:///tmp/x.jsonl", "a/../../x.jsonl")) {
      val docs = Seq((bad, 0L, "t")).toDF("path", "linenum", "text")
      val e = intercept[org.apache.spark.SparkException] {
        Writeback.jsonlTree(docs, out, compression = "none").collect()
      }
      assert(e.getMessage.contains("relative path") ||
        Option(e.getCause).exists(_.getMessage.contains("relative path")), s"for $bad")
    }
  }

  test("writeback: `..` inside a name is a name, a `..` segment is rejected") {
    val out = Files.createTempDirectory("graft_wb_dots").toString
    val ok = Seq(("a..b/c..d.jsonl", 0L, "t")).toDF("path", "linenum", "text")
    val files = Writeback.jsonlTree(ok, out, compression = "none").collect()
    assert(files.map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("a..b/c..d.jsonl", 1L)))
    assert(Files.readAllLines(Paths.get(out, "a..b", "c..d.jsonl")).toArray.toSeq ==
      Seq("""{"text":"t"}"""))
    for (bad <- Seq("../x.jsonl", "a/../../x.jsonl")) {
      val docs = Seq((bad, 0L, "t")).toDF("path", "linenum", "text")
      val e = intercept[org.apache.spark.SparkException] {
        Writeback.jsonlTree(docs, out, compression = "none").collect()
      }
      assert(e.getMessage.contains("relative path") ||
        Option(e.getCause).exists(_.getMessage.contains("relative path")), s"for $bad")
    }
  }

  test("writeback commit protocol: no .inprogress litter, re-runs replace completed files, stale temps are inert") {
    val out = Files.createTempDirectory("graft_wb_commit").toString
    // a stale temp from a "zombie attempt" that died mid-write
    val staleDir = Paths.get(out, "b")
    Files.createDirectories(staleDir)
    Files.writeString(staleDir.resolve("part1.jsonl.999.inprogress"), "half a li")

    val first = Seq(("b/part1.jsonl", 0L, "first run content")).toDF("path", "linenum", "text")
    Writeback.jsonlTree(first, out, compression = "none").collect()
    val finalFile = staleDir.resolve("part1.jsonl")
    assert(Files.readString(finalFile).contains("first run content"))

    // second run (task retry / job re-run) atomically replaces the file
    val second = Seq(("b/part1.jsonl", 0L, "second run content")).toDF("path", "linenum", "text")
    Writeback.jsonlTree(second, out, compression = "none").collect()
    val content = Files.readString(finalFile)
    assert(content.contains("second run content") && !content.contains("first run"))

    // completed attempts leave no .inprogress files of their own; the
    // zombie's stale temp never reached a final name
    val litter = Files.list(staleDir).toArray.map(_.toString).filter(_.contains(".inprogress"))
    assert(litter.forall(_.contains(".999.")), s"unexpected litter: ${litter.toSeq}")
  }

  test("writeback race: two concurrent jobs on the same target never interleave bytes") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val out = Files.createTempDirectory("graft_wb_race").toString
    def job(tag: String) = Future {
      val docs = (0 until 200).map(i => ("r/part.jsonl", i.toLong, s"$tag line $i"))
        .toDF("path", "linenum", "text")
      Writeback.jsonlTree(docs, out, compression = "none").collect()
    }
    Await.result(Future.sequence(Seq(job("AAAA"), job("BBBB"))), Duration.Inf)
    val lines = Files.readAllLines(Paths.get(out, "r", "part.jsonl"))
    assert(lines.size() == 200)
    // atomic rename: the final file is EXACTLY one job's output, never a mix
    val tags = (0 until 200).map(i => if (lines.get(i).contains("AAAA")) "A" else "B").toSet
    assert(tags.size == 1, s"interleaved writers: $tags")
  }

  test("HadoopConfs snapshot carries session-set keys to a rebuilt conf") {
    spark.sessionState.conf // force session init
    spark.sparkContext.hadoopConfiguration.set("fs.graft.test.key", "sekrit")
    val props = graft.sources.HadoopConfs.snapshot(spark)
    val rebuilt = graft.sources.HadoopConfs.build(props)
    assert(rebuilt.get("fs.graft.test.key") == "sekrit")
    // core defaults present too (rebuild is a full conf, not a delta)
    assert(rebuilt.get("fs.defaultFS") != null)
  }
}
