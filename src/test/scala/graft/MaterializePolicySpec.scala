package graft

import org.scalatest.funsuite.AnyFunSuite

/** One materialization policy (see `graph.Rounds`): operators share and
  * freeze frames only through `Rounds.materialize`. `persist` is kept
  * where a cache is the design — the query plane's hop frames, the public
  * `GraphOutput.cache` and the battery's session-lifetime fixture memo.
  */
class MaterializePolicySpec extends AnyFunSuite {

  private val root = java.nio.file.Paths.get("src/main/scala")

  /** (path relative to `src/main/scala`, line number, line) of every
    * source line matching `pattern` outside the `allowed` files.
    */
  private def offenders(pattern: String, allowed: Set[String]): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val re = pattern.r
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty, s"no sources under ${root.toAbsolutePath}")
    files.flatMap { f =>
      val rel = root.relativize(f).toString.replace('\\', '/')
      if (allowed(rel)) Nil
      else java.nio.file.Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if re.findFirstIn(line).isDefined => s"$rel:${i + 1}: ${line.trim}"
      }
    }.sorted
  }

  test("localCheckpoint appears only in graph/Rounds.scala") {
    val bad = offenders("""\.localCheckpoint\(""", Set("graft/graph/Rounds.scala"))
    assert(bad.isEmpty, "use graph.Rounds.materialize:\n" + bad.mkString("\n"))
  }

  test("persist and StorageLevel appear only where a cache is the design") {
    val bad = offenders("""\.persist\(|StorageLevel""", Set(
      "graft/query/Query.scala", "graft/graph/GraphOutput.scala",
      "graft/battery/BatteryFixtures.scala"))
    assert(bad.isEmpty, "use graph.Rounds.materialize:\n" + bad.mkString("\n"))
  }
}
