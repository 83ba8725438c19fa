package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Output checks of one run. Every check counts as attempted; a false one
  * (or an exception inside it) counts as failed and is reported on stderr —
  * a failing program stays visible, never worked around. */
final class Checks {
  var attempted = 0L
  var failed = 0L
  private var reported = 0

  def apply(what: => String)(ok: => Boolean): Unit = {
    attempted += 1
    val pass = try ok catch {
      case e: Throwable => report(s"$what: threw $e"); return fail()
    }
    if (!pass) { report(what); fail() }
  }

  /** `n` checks at once, of which `bad` failed (e.g. one per url). */
  def many(n: Long, bad: Seq[String], what: String): Unit = {
    attempted += n
    failed += bad.length
    if (bad.nonEmpty) report(s"$what: ${bad.length} of $n failed, e.g. ${bad.take(3).mkString("; ")}")
  }

  private def fail(): Unit = failed += 1

  private def report(msg: String): Unit = {
    if (reported < 20) System.err.println(s"CHECK FAILED: $msg")
    reported += 1
  }
}

object Disk {
  def sha256Hex(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(bytes).map(b => f"${b & 0xff}%02x").mkString

  def sha256Hex(s: String): String = sha256Hex(s.getBytes(UTF_8))

  private def files(dir: String): Seq[Path] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Nil
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toVector finally s.close()
    }
  }

  /** Bytes a table leaves in storage: every file except the local file
    * system's `.crc` checksum sidecars. */
  def bytes(dirs: String*): Long =
    dirs.flatMap(files).filterNot(_.getFileName.toString.endsWith(".crc")).map(Files.size).sum

  /** sha256 over the names and contents of the files under `dir`. */
  def digest(dir: String, suffix: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val root = Paths.get(dir)
    files(dir).filter(_.getFileName.toString.endsWith(suffix)).sortBy(_.toString).foreach { p =>
      md.update(root.relativize(p).toString.getBytes(UTF_8))
      md.update(Files.readAllBytes(p))
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  def delete(dir: String): Unit = {
    val root = Paths.get(dir)
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.iterator().asScala.toVector.reverse.foreach(Files.delete) finally s.close()
    }
  }
}
