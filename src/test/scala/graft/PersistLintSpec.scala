package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Operator-internal caching has one owner: a relation that outlives
  * the call goes through [[OpCache]], which bounds every slot to one
  * live value. Outside OpCache, `.persist(` / `.cache()` in the main
  * sources is allowed only at the named sites below, matched by
  * `Owner.method` (the enclosing top-level object or class and its
  * member `def` — two-space indent — around the call):
  *
  *  - scoped sites persist for the span of one method and unpersist
  *    in a `finally` there — the lint checks the method has both;
  *  - explicit owners whose lifetime is their own API contract.
  */
class PersistLintSpec extends AnyFunSuite {

  private val Scoped = Set(
    "Dedup.connectedComponents",          // label propagation rounds
    "Curation.decontaminateBloom",        // eval shingles, until the filter is built
    "TextAnalysis.bpeTrained",            // word table, for the merge loop
    "TextAnalysis.bpeLearnBatchedCounted", // word table, for the merge loop
    "EventStreams.knnGraphIndexStream",   // one micro-batch
    "EventStreams.minhashIndexStream")    // one micro-batch

  private val Owners = Set(
    "QueryCache.getOrRun", // LRU/TTL-bounded, unpersists on eviction and clear
    "GraftDB.warmup",      // released by GraftDB.close
    "RecallSweep.main")    // a main: its finally stops the session

  private val PersistCall = """\.persist\(|\.cache\(\)""".r
  private val TopLevel =
    """^(?:(?:private\[\w+\]|final|case|abstract|sealed)\s+)*(?:object|class|trait)\s+(\w+)""".r
  private val MemberDef = """^  (?:(?:private(?:\[\w+\])?|protected|override|final)\s+)*def\s+(\w+)""".r

  private def scalaFiles(d: java.io.File): Seq[java.io.File] =
    d.listFiles().toSeq.flatMap { f =>
      if (f.isDirectory) scalaFiles(f) else Seq(f).filter(_.getName.endsWith(".scala"))
    }

  private def code(line: String): String = {
    val t = line.trim
    if (t.startsWith("*") || t.startsWith("/*")) "" else line.split("//", 2)(0)
  }

  /** (site, method body text, line) for every persist call outside OpCache. */
  private def persistSites(): Seq[(String, String, String)] = {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the project root (cwd ${new java.io.File(".").getAbsolutePath})")
    scalaFiles(root).filterNot(_.getName == "OpCache.scala").flatMap { f =>
      val lines = java.nio.file.Files.readAllLines(f.toPath).asScala.toIndexedSeq
      var owner = ""
      var method = ""
      var defLine = 0
      lines.indices.flatMap { i =>
        val line = lines(i)
        TopLevel.findPrefixMatchOf(line).foreach(m => owner = m.group(1))
        MemberDef.findPrefixMatchOf(line).foreach { m => method = m.group(1); defLine = i }
        if (PersistCall.findFirstIn(code(line)).isEmpty) None
        else {
          // the method body: from its def to the next member def
          val end = (defLine + 1 until lines.length)
            .find(j => MemberDef.findPrefixMatchOf(lines(j)).isDefined)
            .getOrElse(lines.length)
          val body = lines.slice(defLine, end).map(code).mkString("\n")
          Some((s"$owner.$method", body, s"${f.getPath}:${i + 1}: ${line.trim}"))
        }
      }
    }
  }

  test("main sources persist only through OpCache or at named scoped sites") {
    val sites = persistSites()
    assert(sites.nonEmpty, "no persist site found: the scan is broken")
    val offenders = sites.collect {
      case (site, _, where) if !Scoped(site) && !Owners(site) => s"$where  [$site]"
    }
    assert(offenders.isEmpty, offenders.mkString(
      "persist outside OpCache (register an OpCache slot, or scope it with unpersist in a finally):\n",
      "\n", ""))
    val unscoped = sites.collect {
      case (site, body, where) if Scoped(site) &&
          !(body.contains("finally") && body.contains(".unpersist(")) => s"$where  [$site]"
    }
    assert(unscoped.isEmpty, unscoped.mkString("scoped site without unpersist in a finally:\n", "\n", ""))
  }

  test("every allow-listed persist site still exists") {
    val seen = persistSites().map(_._1).toSet
    val stale = (Scoped ++ Owners) -- seen
    assert(stale.isEmpty, s"allow-list names sites with no persist call: $stale")
  }
}
