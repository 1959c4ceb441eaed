package graft.graph

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The node dictionary is the round-12 optimization that lets every
  * iterative graph loop run on dense 8-byte ids instead of string keys:
  * its correctness contract is (1) ORDER PRESERVATION — min-label
  * algorithms (LPA tie-breaks, SCC min-propagation) and degree-tie
  * orientation compare keys, so `nid` order must equal lexicographic
  * string order — and (2) encode→decode being the identity, so decoded
  * outputs are bit-identical to a string-keyed run.
  */
class NodeDictSpec extends SparkSpec {

  test("nodeDict assigns dense ids in lexicographic string order") {
    import spark.implicits._
    // "p10" < "p2" lexicographically — the order the string algorithms
    // actually used, NOT numeric order; the dict must reproduce it
    val nodes = Seq("s1", "p2", "p10", "a", "zz").toDF("node")
    val (dict, n) = GraphAlgos.nodeDict(nodes)
    assert(n == 5L, "n comes from the dictionary's own materialize job")
    val d = dict.collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(d.values.toSeq.sorted == Seq(0L, 1L, 2L, 3L, 4L), s"ids not dense: $d")
    val lex = Seq("a", "p10", "p2", "s1", "zz") // sorted lexicographically
    assert(lex.map(d) == Seq(0L, 1L, 2L, 3L, 4L),
      s"ids not lexicographic-order-preserving: $d")
  }

  test("encodeEdges/decodeNode round-trips an edge frame exactly") {
    import spark.implicits._
    val e = Seq(("s1", "p2", 7L), ("p10", "s1", 3L)).toDF("src", "dst", "w")
    val (dict, _) = GraphAlgos.nodeDict(
      e.select(col("src").as("node")).union(e.select(col("dst"))).distinct())
    val enc = GraphAlgos.encodeEdges(e, dict)
    assert(enc.schema("src").dataType.typeName == "long")
    val dec = GraphAlgos.decodeNode(
      GraphAlgos.decodeNode(enc, dict, "src"), dict, "dst")
    assert(dec.orderBy("src", "dst").collect().map(r =>
        (r.getString(0), r.getString(1), r.getLong(2))).toSeq ==
      Seq(("p10", "s1", 3L), ("s1", "p2", 7L)))
  }

  test("labelPropagation on dict ids still ties to the smallest STRING label") {
    import spark.implicits._
    // triangle {p2, p10, s1}: every node sees all three labels once in its
    // closed neighborhood, so round 1 is a pure tie — everyone must adopt
    // the lexicographically smallest label "p10" (NOT "p2", which an
    // order-breaking encoding that sorted numerically would pick)
    val e = Seq(("p2", "p10"), ("p10", "s1"), ("s1", "p2")).toDF("src", "dst")
    val out = GraphAlgos.labelPropagation(e, "src", "dst", rounds = 1)
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(out == Map("p2" -> "p10", "p10" -> "p10", "s1" -> "p10"), s"$out")
  }

  test("hitsFixed observe-based normalize matches the hand-computed total") {
    import spark.implicits._
    // star a->b, a->c: authorities b=c=unit/2, hub a=unit after one round
    val e = Seq(("a", "b"), ("a", "c")).toDF("src", "dst")
    val out = GraphAlgos.hitsFixed(e, "src", "dst", iterations = 1,
        unit = 1000000L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(out == Set(("a", 0L, 1000000L), ("b", 500000L, 0L),
      ("c", 500000L, 0L)), s"$out")
  }
}
