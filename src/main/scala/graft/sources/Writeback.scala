package graft.sources

import java.nio.charset.StandardCharsets
import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.cfg.JsonNodeFeature
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** JSONL writeback sink (reference B7): write each document as one JSON
  * line and one output file per ORIGINAL input file, mirroring the
  * input's relative path tree, rows in original line order, optionally
  * compressed -- the reference's final pipeline step
  * (write_back_to_jsonl_sharded.py:39-66, 95-101: group docs by `path`,
  * emit `json.dumps({**item, **meta})` lines, compress .zst/.gz).
  *
  * One overlay rule builds each line, `{**item, **meta}`: the doc's
  * `json` column (the object as read; an empty object when the frame has
  * no `json` column) with every payload column set on it. A field of the
  * same name is replaced in place, a new one is appended, and every
  * other field keeps its value and key order.
  *
  * Spark shape: `repartition(path)` routes every doc of one input file to
  * one task (the reference's worker-per-shard fan-out, :113-118);
  * `sortWithinPartitions(path, linenum)` restores original line order
  * (the reference streams docs by index); the partition writer switches
  * output files on path change.
  *
  * Commit protocol: each file is streamed to a task-attempt-unique
  * `<final>.<attempt>.inprogress` temp name and RENAMED onto the final
  * path only when its last row has been written. Rename is atomic on
  * HDFS/local, so a zombie attempt racing its retry (speculation, or a
  * task left running after a fetch-failure stage retry) can never
  * interleave bytes into a final file, and a killed run leaves only
  * `.inprogress` litter, never a truncated file under a final name --
  * last completed attempt wins.
  */
object Writeback {

  /** docs(path, linenum, [json,] payload...) -> `outDir`/<path>[.gz|.zst]
    * JSONL files; every payload column (all but path/linenum/json) is set
    * on the doc's `json` object, null payload values excepted (to_json
    * omits them). Returns (file, rows) per written file -- materialize it
    * (e.g. `.count()`) to execute the write.
    *
    * compression: "gzip" | "zstd" | "none" (reference supports the same
    * three, write_back_to_jsonl_sharded.py:39-56), optionally with an
    * explicit codec level -- "gzip:1".."gzip:9" / "zstd:-7".."zstd:22".
    * The level only trades output size vs writer CPU; the file format
    * (and the mirrored tree's suffix) is unchanged. At corpus scale the
    * writeback is CPU-bound on deflate, so "gzip:1" is the throughput
    * setting and the bare names keep each library's default
    * (gzip 6 / zstd 3), matching the reference's defaults.
    */
  def jsonlTree(docs: DataFrame, outDir: String,
                compression: String = "gzip"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // a malformed or out-of-range level is a caller error raised here, not
    // a NumberFormatException or a codec failure mid-write on an executor
    val (codec, level) = compression.split(":") match {
      case Array(c) => (c, None)
      case Array(c, l) => (c, Some(l.toIntOption.getOrElse(
        throw new IllegalArgumentException(s"non-numeric codec level: $compression"))))
      case _ => throw new IllegalArgumentException(s"unknown compression $compression")
    }
    require(Set("gzip", "zstd", "none")(codec), s"unknown compression $compression")
    require(level.isEmpty || codec != "none", s"'none' takes no level: $compression")
    level.foreach { l =>
      val (lo, hi) = if (codec == "gzip") (1, 9) else (-7, 22)
      require(l >= lo && l <= hi, s"$codec level must be $lo..$hi: $compression")
    }
    val payload = docs.columns.filter(c => c != "path" && c != "linenum" && c != "json")
    val base = if (docs.columns.contains("json")) col("json") else lit(null)
    // writer parallelism: the session's shuffle partitions (the
    // reference's worker-count knob, :113-118)
    val rows = docs.select(
        col("path").as("_p"),
        col("linenum").cast("long").as("_ln"),
        base.cast("binary").as("_base"), // UTF-8, parsed without a String
        to_json(struct(payload.map(col).toSeq: _*)).as("_js"))
      .repartition(col("_p"))
      .sortWithinPartitions("_p", "_ln")
      .as[(String, Long, Array[Byte], String)]
    val suffix = codec match {
      case "gzip" => ".gz"; case "zstd" => ".zst"; case _ => ""
    }
    val hadoopProps = HadoopConfs.snapshot(spark)
    rows.mapPartitions { it =>
      // Executor-side Hadoop conf: the SESSION's conf rebuilt from a
      // snapshot, so s3a credentials/endpoints and fs tuning propagate.
      val conf = HadoopConfs.build(hadoopProps)
      // floats read as exact BigDecimals: a passed-through number keeps its digits
      val mapper = new ObjectMapper().enable(DeserializationFeature.USE_BIG_DECIMAL_FOR_FLOATS)
        .configure(JsonNodeFeature.STRIP_TRAILING_BIGDECIMAL_ZEROES, false)
      def line(p: String, ln: Long, base: Array[Byte], js: String): Array[Byte] =
        if (base == null) js.getBytes(StandardCharsets.UTF_8) // empty base: the payload as is
        else mapper.readTree(base) match {
          case doc: ObjectNode =>
            mapper.writeValueAsBytes(doc.setAll[JsonNode](mapper.readTree(js).asInstanceOf[ObjectNode]))
          case _ => throw new IllegalArgumentException(s"`json` at $p:$ln is not a JSON object")
        }
      val attempt = Option(org.apache.spark.TaskContext.get())
        .map(tc => tc.taskAttemptId().toString).getOrElse("local")
      val written = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
      var cur: String = null
      var os: java.io.OutputStream = null
      var tmp: Path = null
      var target: Path = null
      var n = 0L
      def finish(): Unit = if (os != null) {
        os.close(); os = null
        // commit: FileContext.rename(OVERWRITE) replaces the target in one
        // namespace operation (HDFS, posix rename), so a re-run keeps the
        // old file visible until the new one replaces it. Elsewhere fall
        // back to delete+rename, retried; only COMPLETED temps are renamed.
        val renamedAtomically =
          try {
            org.apache.hadoop.fs.FileContext.getFileContext(target.toUri, conf)
              .rename(tmp, target, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
            true
          } catch {
            case _: UnsupportedOperationException | _: java.io.IOException => false
          }
        if (!renamedAtomically) {
          val fs = target.getFileSystem(conf)
          // the temp name is unique to this attempt, so a temp that is
          // already gone was moved onto the target by the rename above
          // before it failed (on the local FS: renaming the checksum
          // sidecar while another writer replaces the same target)
          var renamed = !fs.exists(tmp)
          var tries = 0
          while (!renamed && tries < 5) {
            fs.delete(target, false)
            renamed = fs.rename(tmp, target)
            tries += 1
          }
          require(renamed, s"rename $tmp -> $target failed after $tries attempts")
        }
        written += ((cur, n))
      }
      it.foreach { case (p, ln, base, js) =>
        if (p != cur) {
          finish()
          // hard guard: Hadoop's Path(parent, child) RESOLVES an absolute
          // or scheme-qualified child to itself, which would write outside
          // outDir (over arbitrary files) -- reject non-relative paths and
          // any `..` segment (a `..` inside a name, `a..b`, is a name).
          require(!p.startsWith("/") && !p.contains(":") && !p.split('/').contains(".."),
            s"writeback path must be a clean relative path, got: $p")
          cur = p; n = 0L
          target = new Path(outDir, p + suffix)
          tmp = new Path(outDir, p + suffix + s".$attempt.inprogress")
          val raw = tmp.getFileSystem(conf).create(tmp, true)
          os = codec match {
            case "gzip" => new java.util.zip.GZIPOutputStream(raw) {
              level.foreach(`def`.setLevel(_)) // Deflater field is `def`
            }
            case "zstd" => level match {
              case Some(l) => new com.github.luben.zstd.ZstdOutputStream(raw, l)
              case None => new com.github.luben.zstd.ZstdOutputStream(raw)
            }
            case _ => raw
          }
        }
        os.write(line(p, ln, base, js))
        os.write('\n')
        n += 1
      }
      finish()
      written.iterator
    }.toDF("file", "rows")
  }
}
