package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/**
 * One mechanism per concern, enforced over `src/`: sessions are built
 * only by `graft.core.Sessions` (the specs share one through
 * `SharedSpark`), and concurrent Spark job chains run only through
 * `graft.core.Concurrent.all`, never on bare futures or the global
 * ExecutionContext. A second copy of either mechanism fails here
 * with its file and line.
 */
class MechanismLockstepSpec extends AnyFunSuite {

  private val self = Paths.get("src/test/scala/graft/MechanismLockstepSpec.scala")

  /** (file, line number, line) of every `.scala` line under src/ that
    * matches `pattern`, outside this spec and the `allowed` file. */
  private def hits(pattern: String, allowed: Option[String] = None): Seq[String] = {
    val re = pattern.r
    val files = Files.walk(Paths.get("src")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p != self && !allowed.exists(a => p == Paths.get(a)))
      .toSeq
    files.flatMap { (f: Path) =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if re.findFirstIn(line).nonEmpty => s"$f:${i + 1}: ${line.trim}"
      }
    }.sorted
  }

  test("SparkSession.builder appears only in graft/core/Sessions.scala") {
    val found = hits("""SparkSession\s*\.\s*builder""", Some("src/main/scala/graft/core/Sessions.scala"))
    assert(found.isEmpty, s"build sessions with graft.core.Sessions:\n${found.mkString("\n")}")
  }

  test("no code runs on ExecutionContext.Implicits.global") {
    val found = hits("""Implicits\s*\.\s*global""")
    assert(found.isEmpty, s"run concurrent chains with graft.core.Concurrent.all:\n${found.mkString("\n")}")
  }

  test("scala.concurrent.Future appears only in graft/core/Concurrent.scala") {
    val found = hits("""\bFuture\b""", Some("src/main/scala/graft/core/Concurrent.scala"))
    assert(found.isEmpty, s"run concurrent chains with graft.core.Concurrent.all:\n${found.mkString("\n")}")
  }
}
