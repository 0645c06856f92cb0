package graft

import org.scalatest.funsuite.AnyFunSuite

/** Each engine mechanism has ONE owner in `src/main`, so a second,
  * drifting copy cannot come back unnoticed: sessions are built only
  * by [[Session]], lineage is truncated only through
  * [[graft.operators.Checkpoints]], the session-global shuffle
  * partition count is changed only by [[Session.withConf]], which
  * restores it, directories are moved only by
  * [[graft.sinks.Layout]]'s crash-safe swap, and the newest row per key
  * is picked only by [[graft.sinks.LwwSink.reduce]]. Comments are
  * ignored; only code lines count.
  */
class SingleMechanismSpec extends AnyFunSuite {
  private val root = java.nio.file.Paths.get("src/main")

  /** (file relative to src/main, line number, enclosing member def,
    * code) for every code line: scaladoc lines and `//` comments
    * stripped. The member def is the last `def` seen at an object's
    * member indent (two spaces).
    */
  private lazy val codeLines: Seq[(String, Int, String, String)] = {
    import scala.jdk.CollectionConverters._
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val member = raw"^  (?:(?:private|protected)(?:\[\w+\])?\s+|override\s+)*def\s+(\w+)".r
    files.flatMap { f =>
      val rel = root.relativize(f).toString
      var owner = ""
      java.nio.file.Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (l, i) if !l.trim.startsWith("*") && !l.trim.startsWith("/*") =>
          member.findFirstMatchIn(l).foreach(m => owner = m.group(1))
          (rel, i + 1, owner, l.replaceAll("//.*$", ""))
      }
    }
  }

  /** `file:line` of every code line where `pattern` starts, outside the
    * `owners`: a file, or `file#def` for one member def in it. A match
    * may run on into the next code line of the same file.
    */
  private def offenders(pattern: String, owners: Seq[String]): Seq[String] = {
    val re = pattern.r
    val next = codeLines.drop(1).map(Some(_)) :+ None
    codeLines.zip(next).collect {
      case ((f, n, d, l), after) if !owners.exists(o => o == f || o == s"$f#$d") &&
        re.findFirstMatchIn(l + after.collect { case (`f`, _, _, a) => "\n" + a }.getOrElse(""))
          .exists(_.start < l.length) => s"$f:$n"
    }
  }

  test("the guard sees the engine sources") {
    assume(java.nio.file.Files.isDirectory(root), "no src/main here")
    assert(codeLines.exists(_._1 == "scala/graft/Session.scala"))
  }

  private val mechanisms = Seq(
    ("SparkSession.builder", raw"SparkSession\s*\.\s*builder",
      "scala/graft/Session.scala"),
    (".localCheckpoint(", raw"\.\s*localCheckpoint\s*\(",
      "scala/graft/operators/Checkpoints.scala"),
    ("conf.set(\"spark.sql.shuffle.partitions\"",
      raw"""conf\s*\.\s*set\s*\(\s*"spark\.sql\.shuffle\.partitions"""",
      "scala/graft/Session.scala"),
    ("ATOMIC_MOVE", raw"\bATOMIC_MOVE\b", "scala/graft/sinks/Layout.scala"),
    (".rename(", raw"\.\s*rename\s*\(", "scala/graft/sinks/Layout.scala"))

  mechanisms.foreach { case (what, pattern, owner) =>
    test(s"$what appears only in $owner") {
      assume(java.nio.file.Files.isDirectory(root), "no src/main here")
      val bad = offenders(pattern, Seq(owner))
      assert(bad.isEmpty, s"$what outside $owner at ${bad.mkString(", ")}")
    }
  }

  // q_feat_hash and q_mmr pick the top row by score with an ASCENDING id
  // tie-break, a different rule from newest-per-key (all descending)
  test("a row_number rank filtered to 1 appears only in " +
    "sinks/LwwSink.scala, q_feat_hash and q_mmr") {
    assume(java.nio.file.Files.isDirectory(root), "no src/main here")
    val bad = offenders(
      raw"""row_number\s*\(\s*\)\s*\.\s*over\s*\([^)]*\)\s*\)\s*\.\s*filter\s*\(\s*col\s*\(\s*"\w+"\s*\)\s*===\s*1\s*\)""",
      Seq("scala/graft/sinks/LwwSink.scala",
        "scala/graft/operators/TextOps.scala#q_feat_hash",
        "scala/graft/operators/VectorOps.scala#q_mmr"))
    assert(bad.isEmpty, s"newest-row-per-key window outside LwwSink.reduce at ${bad.mkString(", ")}")
  }
}
