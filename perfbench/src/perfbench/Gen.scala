package perfbench

import java.io.OutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.util.SplittableRandom
import scala.collection.mutable.ArrayBuffer

/** Seeded input generators. Every byte of an input is a pure function of
  * the seed; the program under test only ever sees the written files.
  */
object Gen {

  /** One generated JSONL corpus: docs in global first-occurrence order
    * (file order, then line order) and the layout of the written tree.
    */
  final case class Corpus(texts: IndexedSeq[String], files: IndexedSeq[(String, Range)]) {
    def docId(i: Int): String = f"d$i%07d"
  }

  private val asciiWords = Array(
    "data", "model", "train", "batch", "token", "shard", "merge", "index",
    "query", "range", "hash", "byte", "text", "image", "caption", "corpus",
    "dedup", "spark", "scale", "stream")

  private val mixedWords = asciiWords ++ Array(
    "café", "naïve", "über", "données", "Straße", "日本語", "東京", "😊",
    "ñandú", "Ελλάδα", "привет", "façade")

  /** `n` words, each suffixed with a number below 99989, so two fresh
    * texts share no long run by accident.
    */
  private def words(r: SplittableRandom, vocab: Array[String], n: Int): String = {
    val sb = new java.lang.StringBuilder
    var w = 0
    while (w < n) {
      if (w > 0) sb.append(' ')
      sb.append(vocab(r.nextInt(vocab.length))).append(r.nextInt(99989))
      w += 1
    }
    sb.toString
  }

  /** Words until the UTF-8 length reaches `bytes`. */
  private def phrase(r: SplittableRandom, bytes: Int): String = {
    val sb = new java.lang.StringBuilder
    var len = 0
    while (len < bytes) {
      if (len > 0) { sb.append(' '); len += 1 }
      val w = mixedWords(r.nextInt(mixedWords.length))
      sb.append(w); len += w.getBytes(UTF_8).length
      if (r.nextInt(3) == 0) { val d = r.nextInt(99989).toString; sb.append(d); len += d.length }
    }
    sb.toString
  }

  private def layout(nDocs: Int, nFiles: Int, suffix: String): IndexedSeq[(String, Range)] = {
    val per = (nDocs + nFiles - 1) / nFiles
    (0 until nFiles).map(f => (f"part-$f%04d.jsonl$suffix", f * per until math.min(nDocs, (f + 1) * per)))
      .filter(_._2.nonEmpty)
  }

  /** Sparse corpus: ASCII docs of 250-500 numbered words (~2.7-5.5 KB);
    * about one doc in ten carries ONE planted run of 600-1000 bytes copied
    * from an earlier doc that carries no plant. The run is fenced by '|',
    * a byte that occurs nowhere else, and no two plants share a donor start
    * or end, so the duplicated bytes of doc i are exactly `planted(i)`.
    */
  def sparse(seed: Long, nDocs: Int, nFiles: Int): (Corpus, IndexedSeq[Option[(Int, Int)]]) = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 0x5a11L)
    val texts = new Array[String](nDocs)
    val planted = Array.fill[Option[(Int, Int)]](nDocs)(None)
    val clean = ArrayBuffer.empty[Int]
    val usedEdges = scala.collection.mutable.HashSet.empty[(Int, Int)]
    var i = 0
    while (i < nDocs) {
      val base = words(r, asciiWords, 250 + r.nextInt(251))
      texts(i) = base
      if (i >= 10 && r.nextInt(10) == 0) {
        var tries = 0
        while (planted(i).isEmpty && tries < 20) {
          tries += 1
          val d = clean(r.nextInt(clean.size))
          val donor = texts(d)
          val len = 600 + r.nextInt(401)
          if (donor.length >= len + 2) {
            val off = 1 + r.nextInt(donor.length - len - 1)
            if (!usedEdges((d, off)) && !usedEdges((d, -(off + len)))) {
              usedEdges += ((d, off)); usedEdges += ((d, -(off + len)))
              val cut = base.length / 2
              texts(i) = base.substring(0, cut) + "|" + donor.substring(off, off + len) +
                "|" + base.substring(cut)
              planted(i) = Some((cut + 1, cut + 1 + len))
            }
          }
        }
      }
      if (planted(i).isEmpty) clean += i
      i += 1
    }
    (Corpus(texts.toIndexedSeq, layout(nDocs, nFiles, ".gz")), planted.toIndexedSeq)
  }

  /** Dense corpus: docs of 2-5 segments over a mixed ASCII / multi-byte
    * vocabulary. A segment is one of six boilerplate strings (1200-2400
    * bytes, skewed so the first lands in about half the docs), a copy of
    * an earlier doc's fresh segment, or fresh text (800-2000 bytes). About
    * half of all windows are duplicates; which bytes are removable is
    * decided by `Oracle`, not by construction.
    */
  def dense(seed: Long, nDocs: Int, nFiles: Int): Corpus = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 0xde75eL)
    val boiler = Array.fill(6)(phrase(r, 1200 + r.nextInt(1201)))
    val pool = ArrayBuffer.empty[String]
    val texts = (0 until nDocs).map { _ =>
      val nSeg = 2 + r.nextInt(4)
      (0 until nSeg).map { _ =>
        val u = r.nextInt(100)
        if (u < 35) {
          var b = 0
          while (b < boiler.length - 1 && r.nextBoolean()) b += 1
          boiler(b)
        } else if (u < 80 && pool.nonEmpty) pool(r.nextInt(pool.size))
        else { val s = phrase(r, 800 + r.nextInt(1201)); pool += s; s }
      }.mkString(" ")
    }
    Corpus(texts, layout(nDocs, nFiles, ""))
  }

  private def jsonString(s: String, sb: java.lang.StringBuilder): Unit = {
    sb.append('"')
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      c match {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case _ if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
        case _ => sb.append(c)
      }
      i += 1
    }
    sb.append('"')
  }

  /** Writes the corpus as JSONL files (`{"docid":..,"text":..}` per line;
    * gzip when the file name ends in .gz) under `dir`.
    */
  def writeJsonl(c: Corpus, dir: Path): Unit = {
    Files.createDirectories(dir)
    c.files.foreach { case (name, docs) =>
      val raw = Files.newOutputStream(dir.resolve(name))
      val os: OutputStream =
        if (name.endsWith(".gz")) new java.util.zip.GZIPOutputStream(raw, 1 << 16) else raw
      try docs.foreach { i =>
        val sb = new java.lang.StringBuilder(c.texts(i).length + 40)
        sb.append("{\"docid\":")
        jsonString(c.docId(i), sb)
        sb.append(",\"text\":")
        jsonString(c.texts(i), sb)
        sb.append("}\n")
        os.write(sb.toString.getBytes(UTF_8))
      } finally os.close()
    }
  }

  /** SHA-256 over every file under `dir`: relative path, then contents. */
  def digest(dir: Path): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val files = {
      val s = Files.walk(dir)
      try s.filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[Path]).sortBy(_.toString)
      finally s.close()
    }
    files.foreach { f =>
      md.update(dir.relativize(f).toString.getBytes(UTF_8))
      md.update(Files.readAllBytes(f))
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  // ---- images ------------------------------------------------------------

  final case class Img(image_id: String, bytes: Array[Byte], w: Int, h: Int,
                       fmt: String, caption: String, phash: Long)

  /** Generated images table plus its golden pairs. `substr` holds
    * (image_id, start, end): the caption bytes [start, end) are a run of
    * >= 40 bytes copied from the caption of an earlier image, so the
    * substring-dedup annotation must cover them.
    */
  final case class Images(rows: IndexedSeq[Img], mustCluster: IndexedSeq[(String, String)],
                          mustNot: IndexedSeq[(String, String)],
                          substr: IndexedSeq[(String, Int, Int)])

  private val capWords = Array(
    "spark", "query", "table", "join", "scan", "merge", "window", "hash",
    "filter", "order", "batch", "value", "stream", "column", "vector",
    "café", "日本", "über", "😊", "naïve")

  private val Side = 32

  private def caption(r: SplittableRandom, n: Int): String =
    Array.fill(n)(capWords(r.nextInt(capWords.length))).mkString(" ")

  private def pixels(r: SplittableRandom): Array[Int] =
    Array.fill(Side * Side)(r.nextInt(1 << 24))

  /** Binary PPM (P6): a real image format with a trivial, deterministic
    * encoder. The pipeline only digests the bytes; pixels reach it through
    * `phash`.
    */
  private def ppm(px: Array[Int]): Array[Byte] = {
    val header = s"P6 $Side $Side 255\n".getBytes(UTF_8)
    val out = java.util.Arrays.copyOf(header, header.length + 3 * px.length)
    var i = 0
    while (i < px.length) {
      val o = header.length + 3 * i
      out(o) = (px(i) >> 16).toByte; out(o + 1) = (px(i) >> 8).toByte; out(o + 2) = px(i).toByte
      i += 1
    }
    out
  }

  private def img(id: String, px: Array[Int], cap: String): Img =
    Img(id, ppm(px), Side, Side, "ppm", cap, graft.sources.ImagesGen.aHash(px, Side, Side))

  /** Word 3-gram Jaccard, computed independently of the program. */
  private def jaccard3(a: String, b: String): Double = {
    def grams(s: String) = s.split(" ").filter(_.nonEmpty).sliding(3).filter(_.length == 3)
      .map(_.mkString(" ")).toSet
    val ga = grams(a); val gb = grams(b)
    if (ga.isEmpty && gb.isEmpty) 0.0 else (ga & gb).size.toDouble / (ga | gb).size
  }

  /** `nBase` base images with 60-240 word captions; each base
    * independently gets, with probability 1/40 each: an exact copy, a
    * caption near-duplicate (3 words appended, fresh pixels), a substring
    * copy (half its caption inside fresh words), a pixel near-duplicate
    * (1-3 of its 64 phash blocks repainted, so the phash moves by a few
    * bits; fresh caption) and a negative (60% of its words, fresh
    * pixels). Golden pairs are kept only when they meet the pipeline's
    * definitions (Jaccard >= 0.6 or phash distance <= 4 for must-cluster;
    * Jaccard < 0.5 and distance > 8 for must-not).
    */
  def images(seed: Long, nBase: Int): Images = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 0x1ae9eL)
    def id(i: Int) = f"img$i%07d"
    val bases = (0 until nBase).map { i =>
      val px = pixels(r)
      (px, img(id(i), px, caption(r, 60 + r.nextInt(181))))
    }
    val rows = ArrayBuffer.empty[Img] ++= bases.map(_._2)
    val must = ArrayBuffer.empty[(String, String)]
    val mustNot = ArrayBuffer.empty[(String, String)]
    val substr = ArrayBuffer.empty[(String, Int, Int)]
    def dist(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    bases.foreach { case (px, b) =>
      if (r.nextInt(40) == 0) {
        val c = b.copy(image_id = id(rows.size)); rows += c; must += ((b.image_id, c.image_id))
      }
      if (r.nextInt(40) == 0) {
        val cap = b.caption + " " + b.caption.split(" ").take(3).mkString(" ")
        val c = img(id(rows.size), pixels(r), cap); rows += c
        if (jaccard3(b.caption, cap) >= 0.6) must += ((b.image_id, c.image_id))
      }
      if (r.nextInt(40) == 0) {
        val ws = b.caption.split(" ")
        val run = ws.take(ws.length / 2).mkString(" ")
        val head = caption(r, 6) + " "
        val c = img(id(rows.size), pixels(r), head + run + " " + caption(r, 6))
        rows += c
        val s = head.getBytes(UTF_8).length
        val len = run.getBytes(UTF_8).length
        if (len >= 40) substr += ((c.image_id, s, s + len))
      }
      if (r.nextInt(40) == 0) {
        // paint 1-3 of the 64 hash blocks to the far side of the mean
        val p2 = px.clone()
        val block = Side / 8
        (0 until 1 + r.nextInt(3)).foreach { _ =>
          val bi = r.nextInt(64)
          val paint = if (((b.phash >>> bi) & 1L) == 1L) 0 else 0xffffff
          for (y <- 0 until block; x <- 0 until block)
            p2((bi / 8 * block + y) * Side + bi % 8 * block + x) = paint
        }
        val c = img(id(rows.size), p2, caption(r, 12)); rows += c
        if (dist(b.phash, c.phash) <= 4) must += ((b.image_id, c.image_id))
      }
      if (r.nextInt(40) == 0) {
        val ws = b.caption.split(" ")
        val keep = ws.length * 3 / 5
        val cap = ws.take(keep).mkString(" ") + " " + caption(r, ws.length - keep)
        val c = img(id(rows.size), pixels(r), cap); rows += c
        if (jaccard3(b.caption, cap) < 0.5 && dist(b.phash, c.phash) > 8)
          mustNot += ((b.image_id, c.image_id))
      }
    }
    Images(rows.toIndexedSeq, must.toIndexedSeq, mustNot.toIndexedSeq, substr.toIndexedSeq)
  }

  /** SHA-256 over every field of every row, in row order. */
  def rowsDigest(rows: Seq[Img]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val buf = java.nio.ByteBuffer.allocate(16)
    rows.foreach { r =>
      Seq(r.image_id, r.fmt, r.caption).foreach(s => md.update((s + "\u0000").getBytes(UTF_8)))
      md.update(r.bytes)
      buf.clear(); buf.putInt(r.w).putInt(r.h).putLong(r.phash)
      md.update(buf.array())
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** Writes the table as `nFiles` parquet files with fixed names: file i
    * holds the i-th contiguous slice of the rows. Rows go in with an
    * explicit schema, which spares the cold JVM the reflective encoder
    * derivation of a case class.
    */
  def writeImages(spark: org.apache.spark.sql.SparkSession, im: Images, dir: Path, nFiles: Int): Unit = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("image_id", StringType), StructField("bytes", BinaryType),
      StructField("w", IntegerType, nullable = false), StructField("h", IntegerType, nullable = false),
      StructField("fmt", StringType), StructField("caption", StringType),
      StructField("phash", LongType, nullable = false)))
    val rows = im.rows.map(r => Row(r.image_id, r.bytes, r.w, r.h, r.fmt, r.caption, r.phash))
    val tmp = dir.resolveSibling(dir.getFileName.toString + ".tmp")
    spark.createDataFrame(spark.sparkContext.parallelize(rows, nFiles), schema)
      .write.mode("overwrite").parquet(tmp.toString)
    Files.createDirectories(dir)
    val parts = {
      val s = Files.list(tmp)
      try s.toArray.map(_.asInstanceOf[Path]).filter(_.getFileName.toString.endsWith(".parquet"))
        .sortBy(_.getFileName.toString)
      finally s.close()
    }
    parts.zipWithIndex.foreach { case (p, i) => Files.move(p, dir.resolve(f"part-$i%05d.parquet")) }
    Util.deleteTree(tmp)
  }
}
