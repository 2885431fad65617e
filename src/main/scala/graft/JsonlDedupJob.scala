package graft

import java.io.InputStream
import java.util.zip.GZIPInputStream
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StringType, StructField, StructType}
import graft.operators.SubstringDedup
import graft.sources.Writeback

/** The reference's end-to-end workflow as one Spark job: read a JSONL
  * corpus tree, remove duplicated substrings from `text`, write the
  * corpus back as a mirrored JSONL tree -- the equivalent of
  * aws_workflow.sh's index -> find_remove_ranges -> write_back chain
  * (README.md:23-30) for a user switching from the reference.
  *
  *  - input: any JSONL tree (.gz/.zst/plain); each document must carry a
  *    `text` field (`tokens` for unit "ids"), the only field parsed. The
  *    raw line rides along as the `json` column, and the writer sets the
  *    annotation (or the cut source) on it, so every other field passes
  *    through with its value and key order
  *    (write_back_to_jsonl_sharded.py:100 `{**item, **meta}`).
  *  - document order: (file, line number) defines the stable global
  *    first-occurrence order, with the file list sorted by the
  *    reference's key -- the relative path with "crawl=" stripped
  *    (indexing_v6_sharded.py:179 `key=lambda x: x.replace("crawl=","")`).
  *  - mode "annotate": adds `sa_remove_ranges` (UTF-8-clipped [s,e) byte
  *    offsets, README.md:109-113); mode "remove": rewrites `text` with
  *    duplicated spans cut out (write_back_to_jsonl_sharded.py:89-94).
  *  - output: one file per input file, same relative path, original line
  *    order, chosen compression. Two inputs that differ only in their
  *    .gz / .zst extension are rejected, since they name one output file.
  *
  * Scale shape: files are STREAMED line by line through Hadoop input
  * streams (the reference's per-shard loop, indexing_v6_sharded.py:21-39),
  * one task per input chunk (a gzip/zstd file, or a newline-aligned
  * range of a large plain file), never one row per file, and the doc id
  * k = fid * 2^40 + linenum is a pure function of position (fid from the
  * sorted file list), so no per-doc id map is built, broadcast or joined.
  */
object JsonlDedupJob {

  case class Result(docs: DataFrame, written: DataFrame)

  /** linenum occupies the low 40 bits of k (max ~1.1e12 lines/file);
    * fid the bits above (max ~8.4M files/tree). Both limits are hard
    * `require`s, never silent truncation.
    */
  val LinenumBits = 40
  val MaxFiles: Long = 1L << (63 - LinenumBits)

  /** Plain files above this size are read in chunks of it (`readTree`). */
  private val SplitBytes: Long = 256L << 20

  /** The reference's file-order key: relative path with "crawl="
    * stripped (indexing_v6_sharded.py:179).
    */
  private def orderKey(rel: String): String = rel.replace("crawl=", "")

  /** (relative path, byte length) of every file under inDir, in
    * reference order; the length drives the splittable-ingest chunking.
    * Driver-side metadata enumeration only -- the same listing Spark's own
    * FileIndex performs; URI percent-encoding is undone by toUri.getPath,
    * so names with spaces/escapes survive the prefix strip.
    */
  def listTreeWithLen(spark: SparkSession, inDir: String): Seq[(String, Long)] = {
    val root = new Path(inDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rootPath = fs.makeQualified(root).toUri.getPath.stripSuffix("/")
    val it = fs.listFiles(root, true)
    val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    while (it.hasNext) {
      val st = it.next()
      if (st.isFile) {
        val abs = st.getPath.toUri.getPath
        require(abs.startsWith(rootPath + "/"), s"listed file $abs outside $rootPath")
        buf += ((abs.stripPrefix(rootPath + "/"), st.getLen))
      }
    }
    require(buf.nonEmpty, s"no input files under $inDir")
    require(buf.size < MaxFiles, s"${buf.size} files exceeds the $MaxFiles-file id space")
    // composite sort key: orderKey is not injective ("crawl=a/x" and "a/x"
    // both map to "a/x"), so ties break on the raw relative path -- fid
    // assignment, and therefore which copy is the kept first occurrence,
    // stays deterministic across filesystems and listing orders.
    buf.sortBy(p => (orderKey(p._1), p._1)).toSeq
  }

  /** Count of line STARTS inside byte range [start, end) of a plain file:
    * a line starts at byte 0 and after every '\n' that is not the file's
    * last byte. Equivalently: (start == 0 ? 1 : 0) + #newlines at
    * positions [max(0, start-1), end-1) -- p < end-1 <= len-1 implies
    * p+1 < len, so no end-of-file guard is needed inside the range.
    * One cheap byte scan, no parsing -- the offset-probe pass that makes
    * exact global line numbers possible on split files.
    */
  private def countLineStarts(in: org.apache.hadoop.fs.FSDataInputStream,
                              start: Long, end: Long): Long = {
    var n = if (start == 0) 1L else 0L
    val from = if (start == 0) 0L else start - 1
    in.seek(from)
    var pos = from
    val buf = new Array[Byte](1 << 16)
    while (pos < end - 1) {
      val r = in.read(buf, 0, math.min(buf.length.toLong, end - 1 - pos).toInt)
      if (r <= 0) pos = end
      else {
        var i = 0
        while (i < r) { if (buf(i) == '\n') n += 1; i += 1 }
        pos += r
      }
    }
    n
  }

  /** The one line reader: (linenum, line) over the lines STARTING in
    * [start, end) of the byte stream `in`, which is positioned at
    * max(0, start - 1) -- a split chunk of a plain file, or a whole
    * (decompressed) file with start 0 and no end bound. '\n' alone ends
    * a line, as in the reference (indexing_v6_sharded.py:21-39 splits the
    * decompressed bytes on '\n'): a trailing '\r' is stripped, so \r\n
    * works, and a bare '\r' elsewhere is JSON whitespace. The
    * unterminated tail line belongs to the chunk its first byte starts
    * in; blank lines advance linenum but emit nothing.
    */
  private final class Lines(in: InputStream, start: Long, end: Long,
                            startLn: Long, relPath: String) extends Iterator[(Long, String)] {
    private val buf = new Array[Byte](1 << 16)
    private var bl = 0
    private var bp = 0
    private var pos = if (start == 0) 0L else start - 1
    private val line = new java.io.ByteArrayOutputStream(256)
    private def fill(): Boolean = bp < bl || {
      var n = 0
      while (n == 0) n = in.read(buf)
      bl = math.max(n, 0); bp = 0; n > 0
    }
    /** Consumes through the next '\n' (or EOF), appending to `line`. */
    private def readLine(): Unit = {
      var terminated = false
      while (!terminated && fill()) {
        var i = bp
        while (i < bl && buf(i) != '\n') i += 1
        line.write(buf, bp, i - bp)
        terminated = i < bl
        if (terminated) i += 1
        pos += i - bp; bp = i
      }
    }
    // discard the partial line owned by the previous chunk
    if (start > 0) readLine()
    private var ln = startLn - 1
    private var nextLine: String = advance()
    @annotation.tailrec
    private def advance(): String = {
      if (pos >= end || !fill()) null // next line starts past our range / EOF
      else {
        line.reset()
        readLine()
        ln += 1
        require(ln < (1L << LinenumBits), s"$relPath exceeds 2^$LinenumBits lines")
        var s = line.toString("UTF-8")
        if (s.nonEmpty && s.charAt(s.length - 1) == '\r') s = s.substring(0, s.length - 1)
        if (s.trim.nonEmpty) s else advance()
      }
    }
    def hasNext: Boolean = nextLine != null
    def next(): (Long, String) = {
      val out = (ln, nextLine)
      nextLine = advance()
      out
    }
  }

  /** Parsed lines with exact (path, linenum) and the stable order key
    * k = fid << 40 | linenum. Gzip/zstd files get one task each (not
    * splittable, and exact line numbers need start-to-finish reads --
    * the reference's worker-per-shard unit); each is decompressed and
    * parsed as a STREAM. PLAIN files larger than `splitBytes` are SPLIT
    * at newline boundaries into `splitBytes` chunks: a cheap offset-probe
    * pass counts line starts per chunk (one byte scan, no parsing), a
    * driver-side prefix sum over that chunk-count table (metadata-scale:
    * one row per CHUNK) assigns each chunk its exact starting linenum,
    * and the read pass runs one task per chunk -- a 400 GB plain shard
    * parses on ~1600 cores instead of serializing through one task.
    * Both passes run the driver's chunk table itself as their task list
    * (task i reads chunk i, by construction): the plan holds no
    * exchange, and Spark hands the tasks to free cores. 0-byte files are
    * dropped on the driver from the listed lengths; fids stay indices in
    * the full listing. Blank lines advance linenum but emit no doc
    * (indexing_v6_sharded.py:21-39 skips empties the same way).
    *
    * Output: (path, linenum, k, json, <requiredField>): the raw line, which
    * carries every field to the writer, and the one field parsed (`text`
    * as a string, `tokens` as array<bigint>); no schema is inferred.
    */
  def readTree(spark: SparkSession, inDir: String,
               splitBytes: Long = SplitBytes,
               requiredField: String = "text"): DataFrame =
    readListed(spark, inDir, listTreeWithLen(spark, inDir), splitBytes, requiredField)

  /** `readTree` over the listing `relLen` of `inDir` (`listTreeWithLen`). */
  private def readListed(spark: SparkSession, inDir: String, relLen: Seq[(String, Long)],
                         splitBytes: Long, requiredField: String): DataFrame = {
    import spark.implicits._
    val hadoopProps = graft.sources.HadoopConfs.snapshot(spark)
    // chunk table: whole-file units (end = -1) for compressed or small
    // files, [start, end) byte ranges for plain files above splitBytes.
    // fid is the index in the full listing; 0-byte files (they occur in
    // real crawl trees, and a GZIPInputStream over one throws at
    // construction) get no chunk
    val chunks: Seq[(Long, String, Long, Long)] = relLen.zipWithIndex.flatMap {
      case ((_, 0L), _) => Nil
      case ((p, len), i) =>
        val fid = i.toLong
        val compressed = p.endsWith(".gz") || p.endsWith(".zst")
        if (compressed || splitBytes <= 0 || len <= splitBytes)
          Seq((fid, p, 0L, -1L))
        else (0L until (len + splitBytes - 1) / splitBytes).map { ci =>
          (fid, p, ci * splitBytes, math.min((ci + 1) * splitBytes, len))
        }
    }
    // the indices 0 until n in n partitions: exactly one chunk index per
    // task, no exchange. A parallelized RDD would split the same way, but
    // an RDD-backed plan is sized spark.sql.defaultSizeInBytes, which
    // plans the downstream broadcast joins as shuffles
    def oneTaskEach(n: Int) = spark.range(0, n, 1, math.max(n, 1)).as[Long]
    // offset probe: exact starting linenum per split chunk. The probe job
    // returns one (fid, start, nLineStarts) row PER CHUNK -- metadata
    // scale -- and the per-file prefix sum runs on the driver.
    val split = chunks.filter(_._4 >= 0).toVector
    val startLnOf: Map[(Long, Long), Long] =
      if (split.isEmpty) Map.empty
      else {
        val counts = oneTaskEach(split.size).map { i =>
          val (fid, relPath, s, e) = split(i.toInt)
          val p = new Path(inDir, relPath)
          val conf = graft.sources.HadoopConfs.build(hadoopProps)
          val in = p.getFileSystem(conf).open(p)
          try (fid, s, countLineStarts(in, s, e)) finally in.close()
        }.collect()
        counts.toSeq.groupBy(_._1).flatMap { case (fid, cs) =>
          var acc = 0L
          cs.sortBy(_._2).map { case (_, s, n) => val r = ((fid, s), acc); acc += n; r }
        }
      }
    val tasks = chunks.map { case (fid, p, s, e) =>
      (fid, p, s, e, startLnOf.getOrElse((fid, s), 0L))
    }.toVector
    val lines = oneTaskEach(tasks.size).flatMap { i =>
      val (fid, relPath, cs, ce, startLn) = tasks(i.toInt)
      val p = new Path(inDir, relPath)
      val raw = p.getFileSystem(graft.sources.HadoopConfs.build(hadoopProps)).open(p)
      // splittable path: lines starting in [cs, ce) of the plain file;
      // whole-file path (ce = -1): every line, decompressed
      val in: InputStream =
        if (ce >= 0) { raw.seek(math.max(0L, cs - 1)); raw }
        else if (p.getName.endsWith(".gz")) new GZIPInputStream(raw, 1 << 16)
        else if (p.getName.endsWith(".zst")) new com.github.luben.zstd.ZstdInputStream(raw)
        else raw
      // a killed/failed task never reaches EOF -- close on task end
      Option(org.apache.spark.TaskContext.get())
        .foreach(_.addTaskCompletionListener[Unit](_ =>
          try in.close() catch { case _: java.io.IOException => () }))
      new Lines(in, cs, if (ce < 0) Long.MaxValue else ce, startLn, relPath)
        .map { case (ln, line) => (fid, relPath, ln, line) }
    }.toDF("fid", "path", "linenum", "line")

    val fieldType = if (requiredField == "tokens") ArrayType(LongType) else StringType
    val parsed = lines.select(
      col("path"), col("linenum"),
      (shiftleft(col("fid"), LinenumBits) + col("linenum")).as("k"),
      col("line").as("json"),
      from_json(col("line"), StructType(Seq(StructField(requiredField, fieldType))))
        .getField(requiredField).as(requiredField))
    // fail fast with the offending location instead of an opaque NPE
    // deep inside window generation: a missing required field (`text`,
    // or `tokens` for --unit ids) or a malformed line (from_json nulls
    // it) is a data error, not a bug
    parsed.withColumn(requiredField,
      when(col(requiredField).isNull,
        raise_error(concat(lit(s"null or missing `$requiredField` at "),
          col("path"), lit(":"), col("linenum"))).cast(fieldType))
        .otherwise(col(requiredField)))
  }

  /** Full workflow. `stageDir`: when set, the narrow (k, s, e) ranges
    * table -- the reference workflow's resume artifact between
    * find_remove_ranges and write_back (aws_workflow.sh:123-138) -- is
    * snapshot through plans.Stage with per-partition metrics; a re-run
    * (crash recovery, or writing a second output mode/codec from the same
    * dedup) reads the snapshot instead of re-running the dedup. Only the
    * ~12-byte/range table is ever materialized, never the corpus. The
    * snapshot is named by unit, orientation and minLen
    * (`remove_ranges_<unit>[_rev]_m<minLen>`), so a run with other
    * parameters computes its own; that `inDir` holds the same tree as
    * the run that wrote the snapshot stays the caller's contract.
    *
    * `unit`: "bytes" (the reference default -- minLen in bytes, ranges
    * UTF-8-clipped byte offsets in `sa_remove_ranges`) or "tokens"
    * (reference C2 -- minLen in whitespace tokens, ranges as token
    * offsets in `sa_remove_ranges_tokens`; remove mode drops the
    * duplicated token spans and re-joins survivors with single spaces),
    * or "ids" (reference production shape -- records carry a
    * pre-tokenized `tokens: array<int>` field, minLen counts ids, ranges
    * are id offsets in `sa_remove_ranges_tokens`; remove mode drops the
    * duplicated id spans from the array).
    * `reversed` (token/ids units): dedup over the mirrored token stream
    * (the reference's --reversed suffix-duplication scan); reported
    * ranges are mapped back to ORIGINAL-orientation offsets.
    */
  def run(spark: SparkSession, inDir: String, outDir: String,
          minLen: Int, mode: String = "annotate",
          compression: String = "gzip",
          stageDir: Option[String] = None,
          unit: String = "bytes", reversed: Boolean = false): Result = {
    require(mode == "annotate" || mode == "remove", s"unknown mode $mode")
    require(!(reversed && unit == "bytes"), "--reversed applies to unit=tokens|ids")
    val u = unit match {
      case "bytes" => SubstringDedup.Bytes
      case "tokens" => SubstringDedup.Tokens(reversed)
      case "ids" => SubstringDedup.Ids(reversed)
      case _ => throw new IllegalArgumentException(s"unknown unit $unit")
    }
    // strip the input's compression extension: the sink appends the one
    // matching the CHOSEN output compression, so the tree mirrors exactly
    // when in/out codecs agree and stays honest when they differ. Inputs
    // that differ only in that extension would write one file with their
    // lines merged, so they fail here, before any job runs
    val codecExt = "\\.(gz|zst)$"
    val listed = listTreeWithLen(spark, inDir)
    for ((out, ps) <- listed.map(_._1).groupBy(_.replaceAll(codecExt, "")))
      require(ps.size == 1, s"input files ${ps.sorted.mkString(", ")} would all write $out")
    val keyed = readListed(spark, inDir, listed, SplitBytes, u.source)
      .withColumn("path", regexp_replace(col("path"), codecExt, ""))

    // stage name carries every parameter of the ranges: the (k,s,e)
    // schema is identical across units, orientations and minLens, so a
    // resume pointed at a stageDir written with a different --unit,
    // --reversed or --minlen would otherwise silently reuse the WRONG
    // snapshot
    val stageName = s"remove_ranges_$unit${if (reversed) "_rev" else ""}_m$minLen"
    // verifyPrune pays on this reader, whose every corpus scan
    // decompresses the tree (see Config). The byte unit never reaches the
    // verifier join it prunes (inline bytes at minLen <= 32, the
    // fingerprint prefilter's pinned docs above): same plan either way
    def ranges = SubstringDedup.removeRanges(keyed, u,
      SubstringDedup.Config(minLen, verifyPrune = true))
    val staged = stageDir match {
      case Some(d) => new graft.plans.Stage(spark, d).run(stageName)(ranges)
      case None => ranges
    }
    val annotated = SubstringDedup.annotateWith(keyed, u, staged)
    // `json` already holds the source field: annotate writes it as read,
    // remove overlays the cut one in its place
    val out = if (mode == "annotate") annotated.drop(u.source) else SubstringDedup.cut(annotated, u)
    val written = Writeback.jsonlTree(out.drop("k"), outDir, compression = compression)
    Result(out, written)
  }
}
