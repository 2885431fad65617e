package perfbench

import java.nio.ByteBuffer
import java.nio.charset.{CodingErrorAction, StandardCharsets}
import java.nio.file.{Files, Path}

object Util {
  val json = new com.fasterxml.jackson.databind.ObjectMapper()

  private def files(dir: Path): Array[Path] =
    if (!Files.isDirectory(dir)) Array.empty
    else {
      val s = Files.walk(dir)
      try s.filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[Path])
      finally s.close()
    }

  /** Relative paths of the regular files under `dir`, hidden ones
    * (Hadoop's .crc side files) excluded.
    */
  def listTree(dir: Path): Seq[String] =
    files(dir).map(dir.relativize(_).toString).filterNot(_.split('/').last.startsWith(".")).toSeq

  def treeBytes(dir: Path): Long = files(dir).iterator.map(Files.size).sum

  def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) {
      val s = Files.walk(dir)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
      finally s.close()
    }

  /** The file's lines, gunzipped when it ends in .gz, decoded as strict
    * UTF-8; Left names the error when the bytes are not valid UTF-8.
    */
  def readLines(f: Path): Either[String, IndexedSeq[String]] = {
    val raw = Files.readAllBytes(f)
    val bytes =
      if (!f.toString.endsWith(".gz")) raw
      else new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(raw)).readAllBytes()
    val dec = StandardCharsets.UTF_8.newDecoder()
      .onMalformedInput(CodingErrorAction.REPORT)
      .onUnmappableCharacter(CodingErrorAction.REPORT)
    try {
      val s = dec.decode(ByteBuffer.wrap(bytes)).toString
      Right(s.split("\n", -1).toIndexedSeq.filter(_.nonEmpty))
    } catch {
      case e: java.nio.charset.CharacterCodingException => Left(s"not valid UTF-8: $e")
    }
  }

  /** One-minute load average of the host. */
  def load1(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** (steal, total) jiffies of the host's aggregate CPU line in
    * /proc/stat; zeros where there is none.
    */
  def cpuJiffies(): (Long, Long) =
    scala.util.Try {
      val f = Files.readAllLines(java.nio.file.Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      val xs = f.drop(1).take(8).map(_.toLong)
      (if (xs.length > 7) xs(7) else 0L, xs.sum)
    }.getOrElse((0L, 0L))

  def processCpuNanos(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
}
