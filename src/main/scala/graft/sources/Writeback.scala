package graft.sources

import java.nio.charset.StandardCharsets
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** JSONL writeback sink (reference B7): re-serialize each document as one
  * JSON line and write one output file per ORIGINAL input file, mirroring
  * the input's relative path tree, rows in original line order, optionally
  * compressed -- the reference's final pipeline step
  * (write_back_to_jsonl_sharded.py:39-66, 95-101: group docs by `path`,
  * emit `json.dumps({**item, **meta})` lines, compress .zst/.gz).
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

  /** docs(path, linenum, payload...) -> `outDir`/<path>[.gz|.zst]
    * JSONL files; every column except path/linenum lands in the JSON
    * object. Returns (file, rows) per written file -- materialize it
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
    val (codec, level) = compression.split(":") match {
      case Array(c) => (c, None)
      case Array(c, l) =>
        // a malformed level ("zstd:abc") is a caller error, not a bare
        // NumberFormatException from deep inside the sink
        (c, Some(try l.toInt catch {
          case _: NumberFormatException =>
            throw new IllegalArgumentException(s"non-numeric codec level: $compression")
        }))
      case _ => throw new IllegalArgumentException(s"unknown compression $compression")
    }
    require(Set("gzip", "zstd", "none")(codec), s"unknown compression $compression")
    require(level.isEmpty || codec != "none", s"'none' takes no level: $compression")
    level.foreach(l => if (codec == "gzip")
      require(l >= 1 && l <= 9, s"gzip level must be 1..9: $compression"))
    // zstd range-checked at parse time like gzip, not as an executor-side
    // ZstdOutputStream failure mid-write
    level.foreach(l => if (codec == "zstd")
      require(l >= -7 && l <= 22, s"zstd level must be -7..22: $compression"))
    val payload = docs.columns.filter(c => c != "path" && c != "linenum")
    // writer parallelism: the session's shuffle partitions (the
    // reference's worker-count knob, :113-118)
    val rows = docs.select(
        col("path").as("_p"),
        col("linenum").cast("long").as("_ln"),
        to_json(struct(payload.map(col).toSeq: _*)).as("_js"))
      .repartition(col("_p"))
      .sortWithinPartitions("_p", "_ln")
      .as[(String, Long, String)]
    val suffix = codec match {
      case "gzip" => ".gz"; case "zstd" => ".zst"; case _ => ""
    }
    val hadoopProps = HadoopConfs.snapshot(spark)
    rows.mapPartitions { it =>
      // Executor-side Hadoop conf: the SESSION's conf rebuilt from a
      // snapshot, so s3a credentials/endpoints and fs tuning propagate.
      val conf = HadoopConfs.build(hadoopProps)
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
        // commit: atomic OVERWRITING rename of the completed temp onto the
        // final name. FileContext.rename(OVERWRITE) replaces the target in
        // one namespace operation on HDFS (and posix-rename on local FS),
        // so there is never a window where the final name is absent -- a
        // re-run over existing output keeps the old committed file visible
        // until the instant the new one replaces it. Where FileContext is
        // unsupported, fall back to delete+rename retried (last completed
        // attempt wins either way; interleaving stays impossible because
        // only COMPLETED temps are ever renamed).
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
      it.foreach { case (p, _, js) =>
        if (p != cur) {
          finish()
          // hard guard: Hadoop's Path(parent, child) RESOLVES an absolute
          // or scheme-qualified child to itself, which would write outside
          // outDir (over arbitrary files) -- reject non-relative paths.
          require(!p.startsWith("/") && !p.contains(":") && !p.contains(".."),
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
        os.write((js + "\n").getBytes(StandardCharsets.UTF_8))
        n += 1
      }
      finish()
      written.iterator
    }.toDF("file", "rows")
  }
}
