package graft

import org.scalatest.funsuite.AnyFunSuite

/** Each engine mechanism has ONE owner in `src/main`, so a second,
  * drifting copy cannot come back unnoticed: sessions are built only
  * by [[Session]], lineage is truncated only through
  * [[graft.operators.Checkpoints]], the session-global shuffle
  * partition count is changed only by [[Session.withConf]], which
  * restores it, and directories are moved only by
  * [[graft.sinks.Layout]]'s crash-safe swap. Comments are ignored;
  * only code lines count.
  */
class SingleMechanismSpec extends AnyFunSuite {
  private val root = java.nio.file.Paths.get("src/main")

  /** (file relative to src/main, line number, code) for every code
    * line: scaladoc lines and `//` comments stripped.
    */
  private lazy val codeLines: Seq[(String, Int, String)] = {
    import scala.jdk.CollectionConverters._
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    files.flatMap { f =>
      val rel = root.relativize(f).toString
      java.nio.file.Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (l, i) if !l.trim.startsWith("*") && !l.trim.startsWith("/*") =>
          (rel, i + 1, l.replaceAll("//.*$", ""))
      }
    }
  }

  private def offenders(pattern: String, owner: String): Seq[String] = {
    val re = pattern.r
    codeLines.collect {
      case (f, n, l) if f != owner && re.findFirstIn(l).isDefined => s"$f:$n"
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
      val bad = offenders(pattern, owner)
      assert(bad.isEmpty, s"$what outside $owner at ${bad.mkString(", ")}")
    }
  }
}
