package graft.query

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.RowOrdering
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model._
import graft.expr.FilterExpr
import graft.graph.{GraphOutput, Rounds}

/** A query asked for more than a cap allows (reference CapExceededError,
  * caps.py:96-112): carries the cap's NAME so the surface can say which
  * limit was hit — "an agent told 'too many hops, max is 3' can retry; one
  * told 'invalid request' cannot". Same message shape as the reference.
  */
final class CapExceededException(val cap: String, val requested: Any, val allowed: Any)
  extends IllegalArgumentException(
    s"$cap exceeded: requested $requested, maximum is $allowed")

/** Query caps lattice (reference graflo/architecture/query/caps.py:23-92 +
  * query/models.py:56-141), executed-parity pinned by
  * `ReferenceCapsParitySpec` (29 reference-run cases). Two request faces
  * with deliberately DIFFERENT strictness, exactly like the reference:
  *   - validate* (`finish_init`, models.py:56-77): raises on ANY over-cap
  *     value, even one the caller left at its default;
  *   - narrow* (`narrowed`, models.py:81-121): an EXPLICIT over-ask raises,
  *     a default clamps (a `max_rows=5` policy must not reject every
  *     request that simply didn't mention a limit), and a projection
  *     allow-list always intersects rather than raising — it exists to
  *     HIDE names, so refusing would confirm which forbidden property the
  *     caller guessed.
  * In graft "explicit" is `Some(...)` — the Option IS the reference's
  * `model_fields_set`.
  */
final case class QueryCaps(
    maxHops: Int = 3,
    maxRows: Int = 1000,
    maxElements: Int = 5000,
    maxEdgeTypes: Int = 20,
    maxSeeds: Int = 10,
    defaultLimit: Int = 100,
    defaultEdgeLimit: Int = 1000, // reference db/traversal.py:36 DEFAULT_EDGE_LIMIT
    /** wall-clock budget per read query (reference HARD_CAPS 30 s timeout,
      * caps.py:30-92); <= 0 disables enforcement
      */
    timeoutSeconds: Int = 30,
    /** property names a response may include (caps.py:76-84): None means
      * unrestricted; Some(Nil) means nothing may be projected — "which is
      * not the same thing"
      */
    projectionAllowList: Option[Seq[String]] = None
) {

  /** Lattice meet (reference QueryCaps.narrow, caps.py:62-91): the stricter
    * of each ceiling; allow-lists intersect keeping THIS side's order; a
    * policy that tried to raise a ceiling silently becomes a no-op. The
    * graft-only `default*` knobs and the <=0 disabled-timeout sentinel meet
    * accordingly (a disabled timeout is the WIDEST, so the other side wins).
    */
  def narrow(other: QueryCaps): QueryCaps = QueryCaps(
    maxHops = math.min(maxHops, other.maxHops),
    maxRows = math.min(maxRows, other.maxRows),
    maxElements = math.min(maxElements, other.maxElements),
    maxEdgeTypes = math.min(maxEdgeTypes, other.maxEdgeTypes),
    maxSeeds = math.min(maxSeeds, other.maxSeeds),
    defaultLimit = math.min(defaultLimit, other.defaultLimit),
    defaultEdgeLimit = math.min(defaultEdgeLimit, other.defaultEdgeLimit),
    timeoutSeconds =
      if (timeoutSeconds <= 0) other.timeoutSeconds
      else if (other.timeoutSeconds <= 0) timeoutSeconds
      else math.min(timeoutSeconds, other.timeoutSeconds),
    projectionAllowList = (projectionAllowList, other.projectionAllowList) match {
      case (None, b)          => b
      case (a, None)          => a
      case (Some(a), Some(b)) => val permitted = b.toSet; Some(a.filter(permitted))
    })

  // ------------------------------------------- validate (finish_init face)

  def validateLimit(asked: Option[Int]): Int = {
    val n = asked.getOrElse(defaultLimit)
    if (n > maxRows) throw new CapExceededException("max_rows", n, maxRows)
    n
  }

  def validateTimeout(asked: Option[Double]): Double = {
    val t = asked.getOrElse(QueryCaps.DefaultQueryTimeoutS)
    if (timeoutSeconds > 0 && t > timeoutSeconds)
      throw new CapExceededException("timeout_s", t, timeoutSeconds.toDouble)
    t
  }

  /** Raises naming the DENIED fields, sorted (models.py:66-72). */
  def validateProjection(asked: Seq[String]): Unit =
    projectionAllowList.foreach { allow =>
      val permitted = allow.toSet
      val denied = asked.filterNot(permitted).sorted
      if (denied.nonEmpty)
        throw new CapExceededException("projection_allow_list", denied, allow)
    }

  def validateSeeds(n: Int): Unit =
    if (n > maxSeeds) throw new CapExceededException("max_seeds", n, maxSeeds)

  def validateEdgeTypes(n: Int): Unit =
    if (n > maxEdgeTypes) throw new CapExceededException("max_edge_types", n, maxEdgeTypes)

  // --------------------------------------------- narrow (narrowed face)

  def narrowLimit(asked: Option[Int]): Int = asked match {
    case Some(n) if n > maxRows => throw new CapExceededException("max_rows", n, maxRows)
    case Some(n) => n
    case None    => math.min(defaultLimit, maxRows) // default clamps
  }

  def narrowTimeout(asked: Option[Double]): Double = asked match {
    case Some(t) if timeoutSeconds > 0 && t > timeoutSeconds =>
      throw new CapExceededException("timeout_s", t, timeoutSeconds.toDouble)
    case Some(t) => t
    case None if timeoutSeconds > 0 =>
      math.min(QueryCaps.DefaultQueryTimeoutS, timeoutSeconds.toDouble)
    case None => QueryCaps.DefaultQueryTimeoutS
  }

  /** Intersection keeping the REQUEST's order; never raises. */
  def narrowProjection(asked: Seq[String]): Seq[String] =
    projectionAllowList match {
      case Some(allow) => val permitted = allow.toSet; asked.filter(permitted)
      case None        => asked
    }

  def narrowHops(asked: Int): Int =
    if (asked < 1) throw new IllegalArgumentException(s"hops must be >= 1, got $asked")
    else if (asked > maxHops) throw new CapExceededException("max_hops", asked, maxHops)
    else asked
}

object QueryCaps {
  val Hard = QueryCaps()
  /** a request's own timeout default (reference GraphQuery.timeout_s = 10.0) */
  val DefaultQueryTimeoutS = 10.0
}

/** A read query exceeded `QueryCaps.timeoutSeconds` and its Spark jobs were
  * cancelled (the reference raises on the DB driver's timeout instead).
  */
final class QueryTimeoutException(msg: String, cause: Throwable = null)
  extends RuntimeException(msg, cause)

/** Typed read-queries (reference graflo/architecture/query/models.py:31-283). */
final case class NodeQuery(
    vertex: String,
    filters: Option[FilterExpr] = None,
    returnFields: Seq[String] = Nil,
    limit: Option[Int] = None
)

sealed trait Direction
object Direction { case object Out extends Direction; case object In extends Direction; case object Any extends Direction }

/** One-anchor neighborhood request (reference `graph_neighbors`,
  * db/conn.py:733-791). The reference's `key` is `str | dict`: a raw id
  * string is TRUSTED without a vertex lookup (db/traversal.py:276-277 — it
  * can anchor a walk at an id that was never stored), while a field map
  * resolves to the FIRST matching document (`fetch_docs(..., limit=1)`,
  * db/traversal.py:284). Here `anchorId` is the raw-id form (when set,
  * `anchorFilter` is ignored and may be null) and `anchorFilter` the
  * field-map form, resolved first-by-identity — the engine's deterministic
  * stand-in for the backend's storage order.
  */
final case class NeighborQuery(
    vertex: String,
    anchorFilter: FilterExpr, // field-map anchor (db/traversal.py:268-287)
    hops: Int = 1,
    direction: Direction = Direction.Any,
    relations: Seq[String] = Nil, // edge-relation allow-list; empty = all
    filters: Option[FilterExpr] = None,
    edgeLimit: Option[Int] = None,
    anchorId: Option[String] = None // raw trusted id (reference str form)
)

object NeighborQuery {
  /** Anchor by raw id, the reference's `key: str` form. */
  def byId(vertex: String, id: String, hops: Int = 1,
      direction: Direction = Direction.Any, relations: Seq[String] = Nil,
      filters: Option[FilterExpr] = None, edgeLimit: Option[Int] = None): NeighborQuery =
    NeighborQuery(vertex, null, hops, direction, relations, filters,
      edgeLimit, Some(id))
}

/** Multi-seed reachability (reference TraverseQuery, query/models.py:200-236
  * + db/conn.py:791-830): seeds walk INDEPENDENTLY — each seed gets its own
  * `graph_neighbors` call with its own edge budget (`query.limit` is passed
  * per walk, conn.py:815) — and the containers merge with `pick_unique`.
  * Consequence pinned by ReferenceQueryParitySpec: a seed's own walk never
  * contains the seed, but a seed REACHED FROM ANOTHER seed's walk does
  * appear in the merged result. graft runs these semantics as one
  * seed-tagged walk ([[GraphReader.traverseQuery]]): every seed advances in
  * the same jobs, each with its own budget and visited set.
  */
final case class TraverseQuery(
    seeds: Seq[(String, FilterExpr)], // (vertexType, field-map anchor)
    hops: Int = 1,
    direction: Direction = Direction.Any,
    relations: Seq[String] = Nil,
    seedIds: Seq[(String, String)] = Nil, // (vertexType, raw id) seeds
    edgeLimit: Option[Int] = None, // per-seed edge budget (conn.py:815)
    edgeFilter: Option[FilterExpr] = None
)

final case class AggregateQuery(
    vertex: String,
    agg: String, // COUNT | MAX | MIN | AVERAGE | SORTED_UNIQUE (graflo/onto.py:120-137)
    aggregatedField: Option[String] = None,
    discriminant: Option[String] = None, // group-by (COUNT only, models.py:252-283)
    filters: Option[FilterExpr] = None
)

/** Read-side engine over stored/derived graph DataFrames.
  *
  * `vertices`/`edgesOf` abstract the physical source (native store, or an
  * in-memory [[GraphOutput]]) — the analogue of the reference's
  * backend-neutral `Connection` (graflo/db/conn.py), except every backend
  * here is a DataFrame so one implementation serves all.
  */
final class GraphReader(
    schema: GraphSchema,
    vertexDf: String => DataFrame,
    edgeDf: EdgeKey => Option[DataFrame],
    caps: QueryCaps = QueryCaps.Hard,
    /** Bounded-set localization threshold for BFS frontier/visited id-sets
      * (see [[localize]]): sets at or below it collect to a LocalRelation
      * (plan-depth reset per hop); larger sets stay distributed and join as
      * broadcast frontiers. Injectable so the distributed branch is
      * testable (forced with 0) — the measured-gate discipline.
      */
    localizeCap: Int = GraphReader.DefaultLocalizeCap
) {
  import GraphReader.{RankCol, SeedCol}

  def node(q: NodeQuery): DataFrame = {
    var df = vertexDf(q.vertex)
    q.filters.foreach(f => df = df.where(FilterExpr.compile(f)))
    // projection uses doc.get semantics (reference graflo_backend
    // connection.py:203-207): a requested key the store lacks projects to
    // null rather than erroring
    if (q.returnFields.nonEmpty) df = df.select(q.returnFields.map(f =>
      if (df.columns.contains(f)) col(f) else lit(null).as(f)): _*)
    val keyCols = schema.vertex(q.vertex).idColumns.filter(df.columns.contains)
    val ordered = if (keyCols.nonEmpty) df.orderBy(keyCols.map(col): _*) else df
    ordered.limit(caps.narrowLimit(q.limit))
  }

  /** Per-collection aggregation (reference Connection.aggregate,
    * graflo/db/conn.py:612-636): COUNT with optional discriminant; other
    * aggs need `aggregatedField`.
    */
  def aggregate(q: AggregateQuery): DataFrame = {
    // shape rules + messages per the reference (models.py:273-283,
    // executed: fi_agg_field_required / fi_agg_groupby_noncount)
    val aggName = q.agg.toUpperCase
    if (aggName != "COUNT" && q.aggregatedField.isEmpty)
      throw new IllegalArgumentException(
        s"aggregated_field is required for $aggName; only COUNT can " +
          "aggregate without naming a property")
    if (q.discriminant.isDefined && aggName != "COUNT")
      throw new IllegalArgumentException(
        s"group_by is only supported for COUNT, not $aggName")
    var df = vertexDf(q.vertex)
    q.filters.foreach(f => df = df.where(FilterExpr.compile(f)))
    val fn = aggName match {
      case "COUNT"         => count(lit(1))
      case "MAX"           => max(col(q.aggregatedField.get))
      case "MIN"           => min(col(q.aggregatedField.get))
      case "AVERAGE"       => avg(col(q.aggregatedField.get))
      case "SORTED_UNIQUE" => sort_array(collect_set(col(q.aggregatedField.get)))
      case other           => throw new IllegalArgumentException(s"unknown aggregation: $other")
    }
    q.discriminant match {
      case Some(d) => df.groupBy(col(d)).agg(fn.as("_value"))
      case None    => df.agg(fn.as("_value"))
    }
  }

  /** k-hop BFS neighborhood (reference bfs_neighbors,
    * graflo/db/traversal.py:113-243): frontier expansion over the declared
    * incident edges with direction checks, visited-set anti-joins, a global
    * edge budget, far-endpoint hydration. Reference-exact semantics pinned
    * by ReferenceQueryParitySpec (50 cases executed through the reference's
    * own bfs_neighbors):
    *   - the ANCHOR is never part of the result container — only reached
    *     vertices are (a cycle edge back to the anchor is collected, the
    *     anchor doc is not re-added);
    *   - a DANGLING far endpoint (edge row to an id that was never stored)
    *     keeps its edge row but contributes no vertex and is never expanded
    *     (the reference's frontier is the HYDRATED docs, traversal.py:227-235);
    *   - the edge budget is GLOBAL across hops and stops the walk at the
    *     hop boundary where it exhausts (traversal.py:175-177). Within one
    *     hop graft freezes every (edge, side) branch on its own job with
    *     the budget applied per branch, where the reference truncates in
    *     its sequential edge order — mid-hop truncation keeps a different
    *     (backend-order-dependent) subset: graft keeps a branch's rows
    *     first by far-endpoint identity; sizes still agree when one
    *     branch fires per hop. Budget counts joined rows per hop; a row
    *     re-collected through a cycle at a later hop re-counts here where
    *     the reference's marker-dedup skips it — only their interaction
    *     diverges, never the unlimited walk.
    *
    * Scale note: each hop is a set of keyed equi-joins frontier⋈edges; the
    * frontier is usually tiny → Spark broadcasts it; the visited anti-join is
    * a broadcast anti-join on the id columns. No collect of edge data to the
    * driver — only the loop *structure* is driver-side (bounded by
    * caps.maxHops ≤ 3).
    */
  def neighbors(q: NeighborQuery): GraphOutput = {
    val hops = caps.narrowHops(q.hops)
    schema.vertex(q.vertex) // Unknown vertex type → raise (traversal.py:156-160)
    val anchor = anchorIds(q.vertex, q.anchorId, Option(q.anchorFilter))
    // q.filters are EDGE filters, constraining which edges are traversed —
    // the reference passes them into the per-hop edge fetch
    // (db/traversal.py:121-204), not onto the result vertices
    withTimeout(anchor.sparkSession) {
      enforceElementCap(walk(Seq(q.vertex -> anchor), hops, q.direction,
        q.relations, q.edgeLimit.getOrElse(caps.defaultEdgeLimit), q.filters))
    }
  }

  /** Multi-seed reachability with the semantics of independent per-seed
    * walks merged and deduplicated (see [[TraverseQuery]]), run as ONE
    * seed-tagged walk: every frame of the walk carries the seed's index,
    * each seed keeps its own edge budget and its own visited set, and a
    * hop costs the same jobs for ten seeds as for one. Seed count is
    * capped at `caps.maxSeeds` (≤ 10).
    */
  def traverseQuery(q: TraverseQuery): GraphOutput = {
    val hops = caps.narrowHops(q.hops)
    val budget = q.edgeLimit.getOrElse(caps.defaultEdgeLimit)
    caps.validateSeeds(q.seeds.size + q.seedIds.size)
    val anchors: Seq[(String, DataFrame)] =
      q.seeds.map { case (t, f) => t -> anchorIds(t, None, Some(f)) } ++
        q.seedIds.map { case (t, id) => t -> anchorIds(t, Some(id), None) }
    if (anchors.isEmpty) return GraphOutput.empty
    withTimeout(anchors.head._2.sparkSession) {
      val out = walk(anchors, hops, q.direction, q.relations, budget, q.edgeFilter)
      // reference container.pick_unique() after the merge (conn.py:829):
      // a vertex reached by several seeds is one document (the walk's edge
      // frames are already deduplicated)
      enforceElementCap(out.copy(
        vertices = out.vertices.map { case (t, df) => t -> df.dropDuplicates() }))
    }
  }

  /** Resolve an anchor to its id-column frame (reference
    * `_resolve_anchor_id`, db/traversal.py:268-287): a raw id is trusted
    * as-is — it need not exist as a stored vertex; a field map resolves to
    * ONE document (the reference's `fetch_docs(limit=1)` storage-order
    * first; here first-by-identity, deterministic across partitionings).
    */
  private def anchorIds(t: String, rawId: Option[String],
      filter: Option[FilterExpr]): DataFrame = {
    val cols = schema.vertex(t).idColumns
    rawId match {
      case Some(id) =>
        require(cols.size == 1, "raw-id anchors need a single identity column")
        val (spark, dt) =
          try { val v = vertexDf(t); (v.sparkSession, v.schema(cols.head).dataType) }
          catch { case _: NoSuchElementException =>
            (org.apache.spark.sql.SparkSession.active,
              org.apache.spark.sql.types.StringType) }
        spark.range(1).select(lit(id).cast(dt).as(cols.head))
      case None =>
        vertexDf(t).where(FilterExpr.compile(filter.get))
          .select(cols.map(col): _*).orderBy(cols.map(col): _*).limit(1)
    }
  }

  /** Enforce `caps.timeoutSeconds` around the actions `body` triggers
    * (reference HARD_CAPS query timeout, caps.py:30-92): the body's Spark
    * jobs run under a dedicated job group; a daemon timer cancels the group
    * when the budget elapses, and the interrupted action surfaces as
    * [[QueryTimeoutException]]. Thread-safe: the group tag is per-call and
    * `setJobGroup` is thread-local to the submitting thread.
    */
  private def withTimeout[T](spark: org.apache.spark.sql.SparkSession)(body: => T): T = {
    if (caps.timeoutSeconds <= 0) return body
    val sc = spark.sparkContext
    val group = s"graft-query-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, "graft read query (capped)", interruptOnCancel = true)
    val timer = new java.util.Timer("graft-query-timeout", true)
    @volatile var fired = false
    // cancelJobGroup only kills jobs LIVE at fire time; a multi-job query
    // can be between jobs when the timer fires. Re-firing every second
    // keeps cancelling whatever the group submits next, and the post-hoc
    // check below enforces the cap even if a final job slipped through.
    timer.schedule(new java.util.TimerTask {
      def run(): Unit = { fired = true; sc.cancelJobGroup(group) }
    }, caps.timeoutSeconds * 1000L, 1000L)
    try {
      val result = body
      if (fired) throw new QueryTimeoutException(
        s"query exceeded ${caps.timeoutSeconds}s cap")
      result
    } catch {
      case t: QueryTimeoutException => throw t
      case e: Throwable if fired =>
        // ambiguous: the failure may be the cancellation or an unrelated
        // error surfacing after the deadline — keep the original as cause
        throw new QueryTimeoutException(
          s"query exceeded ${caps.timeoutSeconds}s cap; jobs cancelled", e)
    } finally { timer.cancel(); sc.clearJobGroup() }
  }

  /** `max_elements` hard cap (caps.py:23-92): total vertices + edges in the
    * result. Each collection is frozen ([[Rounds.materialize]]) with its row
    * count riding its checkpoint job, so the caller's actions read the
    * frozen rows and the call registers no cache. Counting is bounded —
    * per-hop edge limits already cap the result size near the ceiling.
    */
  private def enforceElementCap(g: GraphOutput): GraphOutput = {
    def freeze[K](m: Map[K, DataFrame]): Map[K, (DataFrame, Long)] = m.map { case (k, df) =>
      val (frozen, n) = Rounds.materialize(df, count(lit(1)).as("_rows"))
      k -> (frozen, n.getLong(0))
    }
    val (vs, es) = (freeze(g.vertices), freeze(g.edges))
    val total = (vs.values ++ es.values).map(_._2).sum
    if (total > caps.maxElements)
      throw new IllegalStateException(
        s"traversal result $total elements exceeds cap ${caps.maxElements}")
    GraphOutput(vs.map { case (k, (f, _)) => k -> f }, es.map { case (k, (f, _)) => k -> f },
      g.errors)
  }

  /** Bounded-set localization: BFS frontier / visited id-sets are small by
    * the caps lattice (maxElements ≤ 5000, per-expand edge limits), and the
    * reference ships exactly these id lists inside its backend queries
    * (db/traversal.py id-list interpolation). Collecting a small id-set to a
    * LocalRelation resets the logical-plan depth each hop — otherwise every
    * hop's joins re-analyze (and re-broadcast) the whole anchor→hopN lineage,
    * and the job count grows quadratically with hops. Sets larger than
    * `localizeCap` (any set when it is 0) stay distributed and are frozen
    * with [[Rounds.materialize]] (the scale path: broadcast joins).
    */
  private def localize(df: DataFrame): DataFrame = {
    if (localizeCap > 0) {
      val cap = math.min(localizeCap, Int.MaxValue - 1) // limit(cap+1) must not wrap
      val rows = df.limit(cap + 1).collect()
      if (rows.length <= cap)
        return df.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
    }
    Rounds.materialize(df)
  }

  /** The BFS walk of one or more seeds — the engine's `bfs_neighbors`
    * (db/traversal.py:113-243), once per seed in the reference. See
    * [[neighbors]] for the pinned semantics. Every frontier, visited and
    * edge frame carries the index of the seed whose walk it belongs to
    * (`_seed`), so all seeds advance together, one set of jobs per hop:
    *   - visited sets are per seed, so a seed's own walk never holds the
    *     seed, while another seed's walk may reach it;
    *   - each seed has its own edge budget, assigned to the hop's branches
    *     in order; a bounded branch numbers each seed's rows (`_rn`, first
    *     by far-endpoint identity), so trimming a seed's share of a branch
    *     is a filter on the frozen frame;
    *   - the edges of all seeds merge with `dropDuplicates` (pick_unique).
    */
  private def walk(
      anchors: Seq[(String, DataFrame)],
      hops: Int,
      direction: Direction,
      relations: Seq[String],
      edgeLimit: Int,
      edgeFilter: Option[FilterExpr] = None
  ): GraphOutput = {
    // visited / frontier are Map[vertexType -> DataFrame of (id columns,
    // seed)]; visited only ever gains HYDRATABLE ids (the anchors aside) —
    // a dangling endpoint is re-attempted if reached again, like the
    // reference re-running its empty hydration fetch
    def idCols(t: String) = schema.vertex(t).idColumns
    def tagged(t: String) = idCols(t) :+ SeedCol
    // an anchor frame holds at most one row (see anchorIds)
    val anchorSets: Map[String, DataFrame] = anchors.zipWithIndex.groupBy(_._1._1)
      .map { case (t, seeds) =>
        t -> localize(seeds.map { case ((_, a), i) => a.withColumn(SeedCol, lit(i)) }
          .reduceLeft(_.unionByName(_)))
      }
    var visited = anchorSets
    var frontier = visited
    var collectedEdges = Map.empty[EdgeKey, DataFrame]
    val unbounded = edgeLimit >= Int.MaxValue / 2
    val budget = Array.fill(anchors.size)(edgeLimit) // per seed, in seed order
    // a per-seed amount as a column: element `_seed` of an array literal
    def perSeed(xs: Seq[Long]) = typedLit(xs).getItem(col(SeedCol))

    def vertexCollection(t: String): Option[DataFrame] =
      try Some(vertexDf(t))
      catch { case _: NoSuchElementException => None } // collection absent

    // the cap is on the RELATIONS the request names (models.py:178-183),
    // not on how many edge types the schema happens to declare
    if (relations.nonEmpty) caps.validateEdgeTypes(relations.size)
    val allowedEdges = schema.edges
      .filter(e => relations.isEmpty || relations.contains(e.relation))

    // one hop's frozen (edge, side) expansion and, in a bounded walk, its
    // row count per seed, pending budget assignment
    final case class Branch(key: EdgeKey, toType: String, toPrefix: String,
        joined: DataFrame, rows: Seq[Long])

    for (_ <- 1 to hops if frontier.nonEmpty && (unbounded || budget.exists(_ > 0))) {
      var nextFrontier = Map.empty[String, DataFrame]
      var newEdges = Map.empty[EdgeKey, DataFrame]
      val branches = scala.collection.mutable.ArrayBuffer.empty[Branch]
      val hopFar = scala.collection.mutable.ArrayBuffer.empty[(String, DataFrame)]

      // the edge collection is read only when the frontier holds its
      // from-type
      def expand(e: EdgeDef, fromType: String, fromPrefix: String, toType: String, toPrefix: String): Unit =
        for (front <- frontier.get(fromType); edf0 <- edgeDf(e.key)) {
          // edge filters constrain which edges are traversed, as in the
          // reference's per-hop edge fetch (db/traversal.py:121-204). The
          // filter applies to EVERY traversed edge type; a row lacking a
          // filtered field does not match (null comparison semantics —
          // IS_NULL on a missing field matches), pinned by the
          // nb_edge_filter_missing_field / nb_edge_filter_is_null parity cases
          val edf = edgeFilter match {
            case Some(f) =>
              val missing = (FilterExpr.fields(f) -- edf0.columns.toSet).toSeq
              val withNulls = missing.foldLeft(edf0)((d, c) => d.withColumn(c, lit(null)))
              withNulls.where(FilterExpr.compile(f)).drop(missing: _*)
            case None => edf0
          }
          val keys = idCols(fromType)
          val expanded = edf.join(
            broadcast(front.withColumnsRenamed(keys.map(k => k -> s"$fromPrefix$k").toMap)),
            keys.map(k => s"$fromPrefix$k"), "inner")
          // truncation beyond a seed's remaining budget keeps its rows
          // first by far-endpoint identity (the reference's truncation
          // order is backend-dependent, db/traversal.py:36). The ranked
          // frame is frozen ONCE and both the edge set and the frontier
          // derive from it. The literal bound on the rank lets Spark cut
          // each seed's rows per partition before the shuffle (a partial
          // WindowGroupLimit, for budgets up to its threshold). At most
          // the seeds' budgets survive, so the frame is kept as ONE
          // partition: every consumer then reads it in one task. The
          // unbounded sentinel skips the ranking, so uncapped traversals
          // keep their parallelism.
          val ranked = if (unbounded) expanded
            else {
              val far = idCols(toType).map(k => s"$toPrefix$k")
              val rest = edf.schema.fields.collect {
                case f if RowOrdering.isOrderable(f.dataType) && !far.contains(f.name) => f.name
              }
              val w = Window.partitionBy(SeedCol).orderBy((far ++ rest).map(col): _*)
              expanded.withColumn(RankCol, row_number().over(w))
                .where(col(RankCol) <= budget.max &&
                  col(RankCol) <= perSeed(budget.toSeq.map(_.toLong)))
                .coalesce(1)
            }
          // one checkpoint job per branch; a bounded walk's per-seed row
          // counts ride it as counters
          val seeds = if (unbounded) Nil else budget.indices
          val (joined, n) = Rounds.materialize(ranked,
            seeds.map(s => count(when(col(SeedCol) === s, 1)).as(s"_n$s")): _*)
          branches += Branch(e.key, toType, toPrefix, joined, seeds.map(n.getLong))
        }

      allowedEdges.foreach { e =>
        // Direction dialect, reference-executed (_anchor_side,
        // db/traversal.py:246-265, pinned by the nb_* direction matrix):
        //   - undirected edges are followed both ways whatever the caller
        //     asked (_edge_direction_for, traversal.py:39-48);
        //   - a directed SELF-TYPE edge is directional: OUT follows the
        //     declaration, IN follows it in reverse, ANY both;
        //   - a directed CROSS-TYPE edge: OUT is followed from EITHER side
        //     ("an edge reached from its target has to be queried inbound
        //     even when the caller asked to go out", traversal.py:249-253),
        //     and IN follows it from NEITHER (_anchor_side returns None on
        //     both sides).
        val self = e.source == e.target
        val (doOut, doIn) =
          if (!e.directed) (true, true)
          else if (self) (direction != Direction.In, direction != Direction.Out)
          else if (direction == Direction.In) (false, false)
          else (true, true)
        if (doOut) expand(e, e.source, "src_", e.target, "dst_")
        if (doIn)  expand(e, e.target, "dst_", e.source, "src_")
      }

      // per-seed edge budget (reference edge_count, traversal.py:173-177,
      // 202-203), assigned to branches IN ORDER like the reference's
      // sequential edge loop — a branch past a seed's exhaustion point
      // contributes none of that seed's rows, a straddling branch is
      // trimmed to the seed's remainder.
      branches.foreach { b =>
        val frame =
          if (unbounded) b.joined
          else {
            val take = budget.indices.map { s =>
              val t = math.min(b.rows(s), budget(s).toLong)
              budget(s) -= t.toInt
              t
            }
            if (take == b.rows) b.joined
            else if (take.forall(_ == 0L)) null
            else b.joined.where(col(RankCol) <= perSeed(take))
          }
        if (frame != null) {
          val edges = frame.drop(SeedCol, RankCol)
          newEdges += b.key -> newEdges.get(b.key)
            .map(_.unionByName(edges, true)).getOrElse(edges)
          hopFar += b.toType -> frame.select(
            idCols(b.toType).map(k => col(s"${b.toPrefix}$k").as(k)) :+ col(SeedCol): _*)
        }
      }

      // the next frontier is the HYDRATABLE unseen far endpoints only —
      // the reference walks on from hydrated documents, never from bare
      // edge-row ids (traversal.py:227-235)
      hopFar.groupBy(_._1).foreach { case (t, fars) =>
        val far = fars.map(_._2).reduceLeft(_.union(_)).distinct()
        val unseen = visited.get(t).map(v => far.join(v, tagged(t), "left_anti")).getOrElse(far)
        val hydratable = vertexCollection(t) match {
          case Some(v) => unseen.join(v.select(idCols(t).map(col): _*), idCols(t), "left_semi")
          case None    => unseen.limit(0)
        }
        nextFrontier += t -> hydratable
      }

      // localize each hop's small frontier set (≤ edgeLimit rows per
      // expand and seed): later hops, hydration, and the element-cap count
      // reuse it with a depth-0 plan. A frontier above the cap stays
      // distributed and is frozen instead, so its consumers read its rows
      // rather than each re-evaluating the anti- and semi-joins.
      nextFrontier = nextFrontier.map { case (t, df) => t -> localize(df) }

      collectedEdges = (collectedEdges.keySet ++ newEdges.keySet).map { k =>
        k -> Seq(collectedEdges.get(k), newEdges.get(k)).flatten
          .reduceLeft(_.unionByName(_, true)).dropDuplicates()
      }.toMap
      // the next frontier is distinct and disjoint from what was visited
      visited = (visited.keySet ++ nextFrontier.keySet).map { t =>
        t -> Seq(visited.get(t), nextFrontier.get(t)).flatten.reduceLeft(_.union(_))
      }.toMap
      frontier = nextFrontier
    }

    // far-endpoint hydration (traversal.py:227-234, 412-433): project the
    // visited id sets back onto the full vertex docs via semi-joins. Each
    // seed's ANCHOR is excluded from its own walk — the result container
    // holds what was REACHED (the reference never appends the anchor doc;
    // a cycle back to it is caught by the visited set). A type with no
    // stored collection contributes no documents, exactly like the
    // reference's failed hydration fetch.
    val hydrated = visited.flatMap { case (t, ids) =>
      val reached = anchorSets.get(t)
        .fold(ids)(a => ids.join(a, tagged(t), "left_anti")).drop(SeedCol)
      vertexCollection(t).map(v => t -> v.join(reached, idCols(t), "left_semi"))
    }
    GraphOutput(hydrated, collectedEdges)
  }
}

object GraphReader {
  /** Walk-internal columns: the seed a row belongs to, and a bounded
    * branch's per-seed row number.
    */
  private val SeedCol = "_seed"
  private val RankCol = "_rn"

  /** BFS id-set localization threshold: below it, frontier/visited sets
    * collect to a LocalRelation each hop (plan-depth reset); above it they
    * stay distributed. 100k ids ≈ a few MB — far past any caps-lattice
    * walk, reachable only by uncapped programmatic walks on huge graphs.
    */
  val DefaultLocalizeCap = 100000
}
