package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps per-session caching and work dirs in `SessionMemo`: main code may
  * not grow its own temp dirs, session-keyed caches, or memo bodies that
  * persist a frame by hand and keep it (a scoped persist that the body
  * releases again is fine; a frame that outlives the body is
  * `SessionMemo.frame`'s job). Also keeps one parser of the session's
  * shuffle width, every harness table read behind `Tables`' schema
  * catalog, and every child session and session conf in `Engine`. */
class SourceGuardSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala/graft")

  private lazy val sources: Map[String, String] = {
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map((p: Path) => root.relativize(p).toString -> Files.readString(p)).toMap
    finally walk.close()
  }

  private def filesMatching(re: String): Set[String] =
    sources.collect { case (f, text) if re.r.findFirstIn(text).isDefined => f }.toSet

  test("createTempDirectory appears only in SessionMemo, HiveCheck and ClusterCheck") {
    val allowed = Set("SessionMemo.scala", "tools/HiveCheck.scala", "tools/ClusterCheck.scala")
    val found = filesMatching("""createTempDirectory""")
    assert(found.subsetOf(allowed), s"use SessionMemo.workDir in: ${found -- allowed}")
  }

  test("a WeakHashMap keyed by SparkSession appears only in SessionMemo") {
    val found = filesMatching("""WeakHashMap\s*\[\s*SparkSession""")
    assert(found.subsetOf(Set("SessionMemo.scala")), s"use SessionMemo in: $found")
  }

  test("a SessionMemo.memo body persists only what it also unpersists") {
    // The body is the bracketed argument list after `memo(spark, key)`.
    def body(text: String, from: Int): String = {
      var i = text.indexOf(')', from) + 1
      while (text(i).isWhitespace) i += 1
      val (open, close) = if (text(i) == '{') ('{', '}') else ('(', ')')
      var depth = 0
      val start = i
      do {
        if (text(i) == open) depth += 1 else if (text(i) == close) depth -= 1
        i += 1
      } while (depth > 0)
      text.substring(start, i)
    }
    val offenders = for {
      (f, text) <- sources.toSeq
      m <- """SessionMemo\.memo\(""".r.findAllMatchIn(text)
      b = body(text, m.end)
      if b.contains(".persist(") && !b.contains(".unpersist(")
    } yield s"$f:${text.take(m.start).count(_ == '\n') + 1}"
    assert(offenders.isEmpty, s"use SessionMemo.frame at: ${offenders.mkString(", ")}")
  }

  test("java.io.tmpdir appears in no main source") {
    val found = filesMatching("""java\.io\.tmpdir""")
    assert(found.isEmpty, s"use SessionMemo.workDir in: $found")
  }

  test("a harness table path is read only in Engine") {
    val found = filesMatching("""\.parquet\(\s*s"\$\{?(?:dir|sfDir)\}?/\w+\.parquet"""")
    assert(found.subsetOf(Set("Engine.scala")), s"read through Tables in: ${found - "Engine.scala"}")
  }

  test("spark.sql.shuffle.partitions is parsed only by Tables.shuffleWidth in Engine") {
    val found = filesMatching("""conf\.get\("spark\.sql\.shuffle\.partitions"""")
    assert(found.subsetOf(Set("Engine.scala")), s"use Tables.shuffleWidth in: ${found - "Engine.scala"}")
  }

  test("newSession() appears only in Engine") {
    val found = filesMatching("""newSession\(\)""")
    assert(found.subsetOf(Set("Engine.scala")), s"use Engine.narrowSession in: ${found - "Engine.scala"}")
  }

  test("conf.set( appears only in Engine") {
    val found = filesMatching("""conf\.set\(""")
    assert(found.subsetOf(Set("Engine.scala")),
      s"set session confs in Engine, or writer options at the write, in: ${found - "Engine.scala"}")
  }
}
