package graft

import org.scalatest.funsuite.AnyFunSuite

/** One materialization policy (see `graph.Rounds`): operators and read
  * queries share and freeze frames only through `Rounds.materialize`, so
  * `persist`, `StorageLevel` and `.cache()` have no place in `src/main`,
  * and no operator sizes a broadcast itself.
  */
class MaterializePolicySpec extends AnyFunSuite {

  private val root = java.nio.file.Paths.get("src/main/scala")

  /** (path relative to `src/main/scala`, lines) of every main source. */
  private lazy val sources: Seq[(String, Seq[String])] = {
    import scala.jdk.CollectionConverters._
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty, s"no sources under ${root.toAbsolutePath}")
    files.map(f => root.relativize(f).toString.replace('\\', '/') ->
      java.nio.file.Files.readAllLines(f).asScala.toSeq)
  }

  /** (path, line number, line) of every source line matching `pattern`
    * outside the `allowed` files.
    */
  private def offenders(pattern: String, allowed: Set[String]): Seq[String] = {
    val re = pattern.r
    sources.filterNot(s => allowed(s._1)).flatMap { case (rel, lines) =>
      lines.zipWithIndex.collect {
        case (line, i) if re.findFirstIn(line).isDefined => s"$rel:${i + 1}: ${line.trim}"
      }
    }.sorted
  }

  test("localCheckpoint appears only in graph/Rounds.scala") {
    val bad = offenders("""\.localCheckpoint\(""", Set("graft/graph/Rounds.scala"))
    assert(bad.isEmpty, "use graph.Rounds.materialize:\n" + bad.mkString("\n"))
  }

  test("persist and StorageLevel appear only where a cache is the design") {
    // nowhere: the query plane freezes its hop frames, frontiers and
    // results through Rounds.materialize like every operator
    val bad = offenders("""\.persist\(|StorageLevel|\.cache\(\)""", Set.empty)
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

  test("no doc comment sits directly above another doc comment") {
    // scaladoc attaches only the second one, so the first documents nothing
    val stacked = sources.flatMap { case (rel, lines) =>
      lines.zip(lines.drop(1)).zipWithIndex.collect {
        case ((a, b), i) if a.trim.endsWith("*/") && b.trim.startsWith("/**") =>
          s"$rel:${i + 2}: ${b.trim}"
      }
    }.sorted
    assert(stacked.isEmpty, "move each doc onto its def:\n" + stacked.mkString("\n"))
  }
}
