package graft

import org.scalatest.funsuite.AnyFunSuite

/** One materialization policy (see `graph.Rounds`): operators share and
  * freeze frames only through `Rounds.materialize`. `persist` is kept
  * where a cache is the design — the query plane's hop frames and the
  * public `GraphOutput.cache` — and no operator sizes a broadcast itself.
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
      "graft/query/Query.scala", "graft/graph/GraphOutput.scala"))
    assert(bad.isEmpty, "use graph.Rounds.materialize:\n" + bad.mkString("\n"))
  }

  test("no hand-written size gate on a broadcast") {
    // frozen frames carry their stored size (Rounds.materialize), so
    // spark.sql.autoBroadcastJoinThreshold makes the size decision
    val gates = offenders("""if \(.*\) broadcast\(""", Set.empty)
    assert(gates.isEmpty, "let the planner decide:\n" + gates.mkString("\n"))
    val thresholds = offenders("BroadcastRows|broadcastLimit", Set.empty)
    assert(thresholds.isEmpty, "no row threshold:\n" + thresholds.mkString("\n"))
  }
}
