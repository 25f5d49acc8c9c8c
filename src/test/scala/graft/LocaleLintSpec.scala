package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Driver-side case mapping must not depend on the JVM's default
  * locale (a Turkish default lowercases "I" to a dotless "ı", which
  * Spark's `lower` never produces). Every `toLowerCase` /
  * `toUpperCase` in the main sources passes `Locale.ROOT`; query text
  * goes through `Tok.lower`. The two `UTF8String` mirrors of Spark's
  * `lower` take no locale argument and are allow-listed by their
  * enclosing top-level name.
  */
class LocaleLintSpec extends AnyFunSuite {

  private val Utf8Mirrors = Set("PhraseHits", "LangScores")
  private val CaseCall =
    """\.to(?:Lower|Upper)Case\b(?!\((?:java\.util\.)?Locale\.ROOT\))""".r
  private val TopLevel =
    """^(?:(?:private\[\w+\]|final|case|abstract|sealed)\s+)*(?:object|class|trait)\s+(\w+)""".r

  private def scalaFiles(d: java.io.File): Seq[java.io.File] =
    d.listFiles().toSeq.flatMap { f =>
      if (f.isDirectory) scalaFiles(f) else Seq(f).filter(_.getName.endsWith(".scala"))
    }

  test("main sources map case only through Locale.ROOT") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the project root (cwd ${new java.io.File(".").getAbsolutePath})")
    val files = scalaFiles(root)
    assert(files.nonEmpty)
    val offenders = files.flatMap { f =>
      var owner = ""
      java.nio.file.Files.readAllLines(f.toPath).asScala.zipWithIndex.flatMap { case (line, i) =>
        TopLevel.findPrefixMatchOf(line).foreach(m => owner = m.group(1))
        val trimmed = line.trim
        val code = if (trimmed.startsWith("*") || trimmed.startsWith("/*")) ""
          else line.split("//", 2)(0)
        if (CaseCall.findFirstIn(code).isDefined && !Utf8Mirrors(owner))
          Some(s"${f.getPath}:${i + 1}: ${line.trim}")
        else None
      }
    }
    assert(offenders.isEmpty, offenders.mkString("default-locale case mapping:\n", "\n", ""))
  }
}
