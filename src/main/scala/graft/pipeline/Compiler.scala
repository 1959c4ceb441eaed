package graft.pipeline

import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, MapType, StructType, StringType}

import graft.model._
import graft.expr.{FilterExpr, IdentityDigest}
import graft.functions.TransformRegistry
import graft.graph.{GraphOutput, Rounds}

/** Compiles a [[ResourceDef]] (the actor pipeline) against a [[GraphSchema]]
  * into a pure DataFrame program producing a [[GraphOutput]].
  *
  * This replaces the reference's per-document Python interpreter
  * (graflo/architecture/pipeline/runtime/executor.py:17-35) with one
  * declarative plan per resource: every document-at-a-time loop becomes a
  * whole-column transformation, every per-document bucket pairing becomes a
  * keyed join. Catalyst then owns optimization (pushdown, pruning, join
  * selection) — none of which the reference has.
  *
  * Lineage model (the reference's `LocationIndex`,
  * graflo/architecture/graph_types/location.py:12-60):
  *  - `_row_id`   — stable id of the source row (document).
  *  - `_pos`      — array<long> of explode indices along the descend path.
  *  - loc (static) — the key path, tracked at compile time (it is the same
  *    for every row of a frame, so it needs no column).
  *  - `_seq`     — actor-visit ordinal, the intra-document order used by
  *    order-sensitive merge (SURVEY §7.3).
  *
  * Edge casting (reference edge_render.py:143-228 `_choose_casting` +
  * location-group congruence): two buckets pair within the deepest explode
  * level their lineage paths share —
  *  - same loc                 → PAIR (zip: full `_pos` equality)
  *  - nested locs              → parent-scoped join (child pairs with ITS
  *                               parent only, via shared `_pos` prefix)
  *  - sibling branches         → document-scoped PRODUCT (`_row_id` only)
  *  - same (vertex,role) bucket→ ANCHOR (the document's first location
  *                               pairs with each other location — the
  *                               reference's `(group[:1], group[1:])`
  *                               split, edge_render.py:196-207; NOT all
  *                               C(n,2) pairs)
  * Explicit `casting = pair|product|combinations` overrides the auto rule
  * (explicit `combinations` renders the full posL < posR unordered pairs).
  *
  * Scale note: all joins here are keyed on `_row_id` which is unique and
  * uniformly distributed (partition-id high bits), so the within-document
  * pairing joins shuffle-partition evenly at any scale; no driver-side
  * loops, no collect.
  */
object PipelineCompiler {
  import GraphSchema.{RowIdCol, SyntheticId}

  /** lineage path segment: (key, addsPos) — array/map descends append an
    * explode index to `_pos`, struct descends don't */
  type Loc = Seq[(String, Boolean)]

  val PosCol = "_pos"
  val SeqCol = GraphSchema.SeqCol
  val TypeCol = "_vtype"

  private val MetaCols = Seq(RowIdCol, PosCol)

  /** first-occurrence emission order carried on merged vertex frames for
    * the writer-plane blank-edge zip; stripped before the GraphOutput
    */
  private val ZipOrdCol = "_zord"

  /** One accumulated vertex-observation frame. */
  final case class VertexObs(
      vertex: String,
      role: Option[String],
      loc: Loc,
      lookupOnly: Boolean,
      seq: Int,
      df: DataFrame // columns: meta ++ vertex fields (+ _id for synthetic ids)
  )

  /** `relFrame`: the observation frame at the intent's location projected to
    * (meta, relationField [, weightFields]) — dynamic relations and weights
    * are data at the edge actor's position (edge.py:326-424), not on the
    * endpoint projections.
    */
  final case class EdgeIntentRec(step: EdgeStep, loc: Loc,
      relFrame: Option[DataFrame])

  private final class Ctx(val schema: GraphSchema) {
    val acc = mutable.ArrayBuffer.empty[VertexObs]
    val intents = mutable.ArrayBuffer.empty[EdgeIntentRec]
    /** router role slot → produced (vertexType, obs) (vertex_router.py:34-168) */
    val roleSlots = mutable.Map.empty[String, mutable.ArrayBuffer[VertexObs]]
    /** tolerated transform failures (actor/transform.py:276-294) */
    val errors = mutable.ArrayBuffer.empty[DataFrame]
    /** dressed child frames (transform.py:95-109 + descend.py
      * `_infer_vertex_descendants_from_transforms`): a dress transform emits
      * `(key, value)` sub-documents at an extended lineage while the parent
      * document continues unchanged; vertex steps whose identity columns are
      * missing from the live frame but present here consume these branches.
      */
    val dressBranches = mutable.ArrayBuffer.empty[(DataFrame, Loc)]
    /** Column names produced by a transform (in-place outputs and dress
      * key/value fields). Schema-level vertex filters only apply to
      * transform-fed observations (reference vertex.py:57-65
      * `_filter_and_aggregate_vertex_docs` runs over TRANSFORMED buffer
      * items only; passthrough doc fields are never filtered at cast
      * time — executed actor-parity finding).
      */
    val transformedCols = mutable.Set.empty[String]
    /** frame at each lineage location, tracking that level's transforms
      * (the reference's obs buffers hold TRANSFORMED docs): lets an edge
      * intent fetch relation_field / weight data that lives at an
      * endpoint's location rather than its own (oa-institution reads
      * `relationship` off each descended associated institution; kg reads
      * the renamed `_role` off each triple mention).
      */
    val locFrames = mutable.Map.empty[Seq[(String, Boolean)], DataFrame]
    /** salt for blank/assigned synthetic ids: resource name + batch id */
    var idSalt = ""
    var seq = 0
    def nextSeq(): Int = { seq += 1; seq }
  }

  def compile(schema: GraphSchema, resource: ResourceDef, input: DataFrame): GraphOutput =
    compile(schema, resource, input, idSalt = "")

  /** `idSalt` discriminates blank/assigned synthetic ids across batches of
    * the same resource (streaming passes the micro-batch id): `_row_id`
    * restarts at 0 every compile, so without a salt row N of batch 1 and row
    * N of batch 2 would mint the SAME blank id and wrongly merge on upsert.
    */
  def compile(schema: GraphSchema, resource: ResourceDef, input: DataFrame,
      idSalt: String): GraphOutput = {
    var base = input.withColumn(RowIdCol, monotonically_increasing_id())
      .withColumn(PosCol, array().cast("array<long>"))
    if (resource.dropTrivialFields) base = stripTrivial(base)
    // The document id must be IDENTICAL across every obs frame derived from
    // this base — but monotonically_increasing_id is assigned per evaluation,
    // and a shuffled input (e.g. an aggregate) has no deterministic row
    // order, so the assembly self-joins would disagree on ids. A narrow
    // chain over a file/local scan re-evaluates deterministically (fixed
    // splits, fixed order) and can skip the materialization; anything with a
    // shuffle (aggregate/join/repartition/window) is stamped once and
    // checkpointed (one extra pass — the reference's caster also
    // materializes each batch, ingestion_parameters.py:129-133). A
    // checkpoint, not a cache: a lost block fails loudly where a recomputed
    // cache would silently mint new ids (see graph.Rounds).
    if (!base.isStreaming && !isOrderStable(input))
      base = Rounds.materialize(base)
    val ctx = new Ctx(schema)
    ctx.idSalt = s"${resource.name}\u0000$idSalt"
    walk(resource.steps, base, Nil, ctx)
    finish(ctx, resource)
  }

  /** True when re-evaluating the plan yields rows in the same order — i.e.
    * the plan is a narrow chain (project/filter/generate/limit/sort) over
    * leaf scans, with no shuffle whose partition-internal order is
    * evaluation-dependent.
    */
  private def isOrderStable(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    val plan = df.queryExecution.analyzed
    val shuffling = plan.collectFirst {
      case _: Aggregate => false
      case _: Join => false
      case _: Repartition => false
      case _: RepartitionByExpression => false
      case _: Window => false
      case _: Distinct => false
      case _: Deduplicate => false
      case _: Sample => false // row SET varies per evaluation, not just order
    }.nonEmpty
    // Any non-deterministic expression (rand(), uuid(), shuffle(), …) makes
    // re-evaluation yield different rows even in a narrow chain.
    val nonDet = plan.exists(_.expressions.exists(e => !e.deterministic))
    !shuffling && !nonDet
  }

  /** `strip_trivial_top_level_fields` (runtime/resource.py:32-35): ""→null. */
  private def stripTrivial(df: DataFrame): DataFrame =
    df.schema.fields.filter(_.dataType == StringType).foldLeft(df) { (d, f) =>
      d.withColumn(f.name, when(col(f.name) === "", lit(null)).otherwise(col(f.name)))
    }

  // ------------------------------------------------------------------ walk

  private def walk(steps: Seq[Step], frame: DataFrame, loc: Loc, ctx: Ctx): Unit = {
    // steps execute in GIVEN order: the programmatic API is sequential and
    // supports descending into transform-produced keys. The reference's
    // sibling-actor priority sort (descend.py:208-216) is a YAML-dialect
    // normalization applied by ManifestLoader.parseSteps — manifests like
    // ibes.yaml list vertex steps before the transforms that feed them.
    ctx.locFrames.getOrElseUpdate(loc, frame): Unit
    var cur = frame
    steps.foreach {
      case d: Descend          => descend(d, cur, loc, ctx) // children use sub-frame; parent frame unchanged
      case t: TransformStep if t.dress.isDefined =>
        t.dress.foreach { case (k, v) => ctx.transformedCols += k += v }
        ctx.dressBranches += dressBranch(t, cur, loc) // parent frame unchanged
      case t: TransformStep    =>
        ctx.transformedCols ++= (if (t.output.nonEmpty) t.output else t.input)
        ctx.transformedCols ++= t.outputGroups.flatten
        cur = transform(t, cur, ctx)
        // the location frame tracks the TRANSFORMED level (the reference's
        // obs buffers hold transformed docs): an edge intent fetching
        // relation/weight data by location must see post-rename columns
        // (kg.yaml reads `_role` — renamed from `role` at the triple level)
        ctx.locFrames(loc) = cur
      case v: VertexStep       => vertexStep(v, cur, loc, ctx)
      case r: VertexRouterStep => routerStep(r, cur, loc, ctx)
      case e: EdgeStep         => ctx.intents += mkIntent(e, cur, loc, ctx.schema)
      case m: MultiEdgeStep    => m.links.foreach(l => ctx.intents += mkIntent(l, cur, loc, ctx.schema))
      case r: RenameStep       =>
        // renames run through the reference's TransformActor, so renamed
        // fields count as transform-fed for schema-filter gating
        ctx.transformedCols ++= r.renames.values
        cur = r.renames.foldLeft(cur) { case (d, (a, b)) =>
          // a rename onto an EXISTING column replaces it — the reference
          // merges the transform buffer OVER the raw doc, so the buffer
          // value wins (vertex_router reads `type` post-override;
          // test_vertex_router_transform_buffer.py). Keep the old column
          // only when the source is absent (tolerated no-op rename).
          val replaced =
            if (a != b && d.columns.contains(a) && d.columns.contains(b)) d.drop(b)
            else d
          replaced.withColumnRenamed(a, b)
        }
        ctx.locFrames(loc) = cur
      case k: RenameKeysStep   =>
        val nameFn: String => String = k.fn match {
          case "camel_to_snake" => graft.functions.TransformLib.camelToSnakeName
          case "snake_to_camel" => graft.functions.TransformLib.snakeToCamelName
          case "lower"          => (n: String) => n.toLowerCase
          case "upper"          => (n: String) => n.toUpperCase
          case other =>
            throw new IllegalArgumentException(s"unknown key-name fn: $other")
        }
        // lineage meta columns are engine-owned, never user-renamable
        val include = if (k.mode == "include") k.names else Nil
        val exclude = (if (k.mode == "exclude") k.names else Nil) ++ MetaCols
        cur = graft.functions.TransformLib.renameColumns(cur, nameFn, include, exclude)
        ctx.locFrames(loc) = cur
      case c: CastStep         =>
        cur = c.types.foldLeft(cur) { case (d, (f, t)) =>
          val ft = FieldType.fromName(t)
          val casted = col(f).cast(ft.sparkDdl)
          // UINT is validated non-negative (vertex.py:54-98): negatives null
          val checked = ft match {
            case FieldType.UIntT => when(casted >= 0, casted)
            case _               => casted
          }
          d.withColumn(f, checked)
        }
        ctx.locFrames(loc) = cur
    }
  }

  private def mkIntent(e: EdgeStep, frame: DataFrame, loc: Loc,
      schema: GraphSchema): EdgeIntentRec = {
    // schema-declared edge properties are DIRECT weights read off the row
    // at the edge actor's location (csv-edge-weights.yaml `date`; the
    // reference copies them onto the edge payload) — carried exactly like
    // step-level weights when the column exists here
    val declared =
      if (e.source.isEmpty || e.target.isEmpty) Nil
      else schema.edgesBetween(e.source, e.target).flatMap { d =>
        // properties served by vertex_weights enrichment are NOT direct
        // row weights — carrying them too would duplicate the column
        // (ibes analyst→agency declares datetime_review/announce, both
        // attached by the publication vertex_weights join)
        val viaWeights = d.extraWeights.flatMap(_.fields).toSet
        d.properties.map(_.name).filterNot(viaWeights)
      }
    val carried = (e.relationField.toSeq ++ e.weightFields ++ declared)
      .distinct.filter(frame.columns.contains)
    val relFrame =
      if (carried.isEmpty) None
      else Some(frame.select((MetaCols ++ carried).map(col): _*))
    EdgeIntentRec(e, loc, relFrame)
  }

  /** DescendActor (actor/descend.py:27-216): explode/re-root, extending
    * lineage. Arrays fan out via posexplode (index → `_pos`); structs re-root;
    * maps (`any_key`) fan out over entries with the key joining the frame.
    */
  private def descend(d0: Descend, frame0: DataFrame, loc: Loc, ctx: Ctx): Unit = {
    val meta = MetaCols.map(col)
    // keyless any_key iterates the CURRENT level's own keys (debian-eco:
    // `key: dependencies` re-roots, then a bare `any_key: true` walks the
    // re-rooted entries) — pack the data columns into one struct and reuse
    // the keyed any_key paths
    val (d, frame) =
      if (d0.key.isEmpty && d0.anyKey) {
        val dataCols = frame0.columns.filterNot(MetaCols.contains)
        (d0.copy(key = Some("__anykey")),
          frame0.select(meta :+ struct(dataCols.map(col): _*).as("__anykey"): _*))
      } else (d0, frame0)
    val sub: (DataFrame, Loc) = (d.key, d.anyKey) match {
      case (Some(k), false) =>
        frame.schema(k).dataType match {
          case ArrayType(et, _) =>
            val exploded = frame.select(meta :+ posexplode(col(k)).as(Seq("__p", "__v")): _*)
              .withColumn(PosCol, concat(col(PosCol), array(col("__p").cast("long"))))
              .drop("__p")
            val rerooted = et match {
              case _: StructType => exploded.select((MetaCols.map(col) :+ col("__v.*")): _*)
              case _             => exploded.withColumnRenamed("__v", "_value")
            }
            (rerooted, loc :+ (k -> true))
          case _: StructType =>
            (frame.select(meta :+ col(s"$k.*"): _*), loc :+ (k -> false))
          case _ =>
            throw new IllegalArgumentException(s"descend key '$k' is neither array nor struct")
        }
      case (Some(k), true) =>
        // any_key over a map column: key becomes data ("_key"), value re-roots
        frame.schema(k).dataType match {
          case MapType(_, _, _) =>
            val e = frame.select(meta :+ posexplode(map_entries(col(k))).as(Seq("__p", "__kv")): _*)
              .withColumn(PosCol, concat(col(PosCol), array(col("__p").cast("long"))))
              .select(MetaCols.map(col) ++ Seq(col("__kv.key").as("_key"), col("__kv.value").as("_value")): _*)
            (e, loc :+ ("*" -> true))
          case st: StructType if st.fields.nonEmpty &&
              st.fields.forall(_.dataType match {
                case ArrayType(_: StructType, _) => true
                case _ => false
              }) =>
            // struct-of-arrays (debian-eco `dependencies`): each field is a
            // keyed LIST of sub-documents — iterate (key, element) pairs in
            // field-then-element order with ONE position index, so lineage
            // congruence sees a single exploding segment (the reference's
            // loc ("dependencies", <key>, i)). Element structs unify to the
            // union of their fields (JSON inference gives per-key subsets).
            val unified: Seq[(String, org.apache.spark.sql.types.DataType)] = {
              val seen = mutable.LinkedHashMap
                .empty[String, org.apache.spark.sql.types.DataType]
              st.fields.foreach { f =>
                f.dataType.asInstanceOf[ArrayType].elementType
                  .asInstanceOf[StructType].fields.foreach(sf =>
                    if (!seen.contains(sf.name)) seen += sf.name -> sf.dataType)
              }
              seen.toSeq
            }
            val perField: Seq[Column] = st.fields.toSeq.map { f =>
              val et = f.dataType.asInstanceOf[ArrayType].elementType
                .asInstanceOf[StructType]
              org.apache.spark.sql.functions.transform(
                coalesce(col(k).getField(f.name),
                  array().cast(f.dataType.asInstanceOf[ArrayType])),
                x => struct(
                  (lit(f.name).as("_key") +:
                    unified.map { case (fn, dt) =>
                      (if (et.fieldNames.contains(fn)) x.getField(fn).cast(dt)
                       else lit(null).cast(dt)).as(fn)
                    }): _*))
            }
            val entries = frame.select(
              meta :+ posexplode(flatten(array(perField: _*))).as(Seq("__p", "__e")): _*)
              .withColumn(PosCol, concat(col(PosCol), array(col("__p").cast("long"))))
            val rerooted = entries.select(
              MetaCols.map(col) ++ (col("__e._key").as("_key") +:
                unified.map { case (fn, _) => col(s"__e.$fn") }): _*)
            (rerooted, loc :+ ("*" -> true))
          case st: StructType if st.fields.nonEmpty &&
              st.fields.forall(_.dataType.isInstanceOf[StructType]) =>
            // map-of-OBJECTS (any_key over `{key: {...}, ...}` where every
            // value is a sub-document, reference descend.py map-entry
            // iteration): each PRESENT key is one (key, sub-document)
            // entry — re-root the sub-document's fields with `_key`
            // carrying the map key. Value structs unify to the union of
            // their fields (JSON inference gives per-key subsets), and
            // keys absent from a document (null struct) emit no entry.
            val unified: Seq[(String, org.apache.spark.sql.types.DataType)] = {
              val seen = mutable.LinkedHashMap
                .empty[String, org.apache.spark.sql.types.DataType]
              st.fields.foreach(_.dataType.asInstanceOf[StructType].fields
                .foreach(sf => if (!seen.contains(sf.name)) seen += sf.name -> sf.dataType))
              seen.toSeq
            }
            val perField: Seq[Column] = st.fields.toSeq.map { f =>
              val et = f.dataType.asInstanceOf[StructType]
              when(col(s"$k.${f.name}").isNotNull, struct(
                (lit(f.name).as("_key") +: unified.map { case (fn, dt) =>
                  (if (et.fieldNames.contains(fn)) col(s"$k.${f.name}.$fn").cast(dt)
                   else lit(null).cast(dt)).as(fn)
                }): _*))
            }
            val entries = frame.select(meta :+ posexplode(
              org.apache.spark.sql.functions.filter(array(perField: _*), x => x.isNotNull))
              .as(Seq("__p", "__e")): _*)
              .withColumn(PosCol, concat(col(PosCol), array(col("__p").cast("long"))))
            val rerooted = entries.select(
              MetaCols.map(col) ++ (col("__e._key").as("_key") +:
                unified.map { case (fn, _) => col(s"__e.$fn") }): _*)
            (rerooted, loc :+ ("*" -> true))
          case st: StructType =>
            // melt the struct's fields into (_key, _value) rows
            val pairs = st.fields.zipWithIndex.map { case (f, i) =>
              struct(lit(i.toLong).as("p"), lit(f.name).as("key"),
                col(s"$k.${f.name}").cast("string").as("value"))
            }
            val e = frame.select(meta :+ explode(array(pairs: _*)).as("__kv"): _*)
              .withColumn(PosCol, concat(col(PosCol), array(col("__kv.p"))))
              .select(MetaCols.map(col) ++ Seq(col("__kv.key").as("_key"), col("__kv.value").as("_value")): _*)
            (e, loc :+ ("*" -> true))
          case other =>
            throw new IllegalArgumentException(s"any_key descend needs map/struct, got $other")
        }
      case (None, _) =>
        // bare descend (descend.py:154-192 `_expand_document` else-branch):
        // the current document IS a list → iterate its elements. Columnar
        // reading: the frame's single array-typed data column is the list
        // (the reference's doc has no sibling fields in this case — any
        // non-array columns here are dropped, doc replaced wholesale);
        // a frame with no array column expands to the single item `(None,
        // doc)` — a pass-through that still extends the lineage with 0.
        val dataCols = frame.columns.filterNot(MetaCols.contains)
        val arrayCols = dataCols.filter(c => frame.schema(c).dataType.isInstanceOf[ArrayType])
        arrayCols match {
          case Array(k) =>
            val et = frame.schema(k).dataType.asInstanceOf[ArrayType].elementType
            val exploded = frame.select(meta :+ posexplode(col(k)).as(Seq("__p", "__v")): _*)
              .withColumn(PosCol, concat(col(PosCol), array(col("__p").cast("long"))))
              .drop("__p")
            val rerooted = et match {
              case _: StructType => exploded.select((MetaCols.map(col) :+ col("__v.*")): _*)
              case _             => exploded.withColumnRenamed("__v", "_value")
            }
            (rerooted, loc :+ ("[]" -> true))
          case Array() =>
            (frame.withColumn(PosCol, concat(col(PosCol), array(lit(0L)))),
              loc :+ ("[]" -> true))
          case many =>
            throw new IllegalArgumentException(
              s"bare descend is ambiguous: frame has ${many.length} array columns " +
                s"(${many.mkString(", ")}); name the key explicitly")
        }
    }
    walk(d.steps, sub._1, sub._2, ctx)
  }

  /** TransformActor (actor/transform.py:27-309). */
  private def transform(t: TransformStep, frame0: DataFrame, ctx: Ctx): DataFrame = {
    // failure tolerance: compute each output into a probe column first; rows
    // where the input was present but the result is null are failures —
    // planned outputs stay null (they already are) and a failure record with
    // lineage + label + offending input goes to the error side-channel.
    val frame = if (!t.errorTolerant || t.strategy != "each") frame0 else {
      val fn: Column => Column = t.inline.map(f => (c: Column) => f(Seq(c)))
        .getOrElse(TransformRegistry.unary(t.fn))
      val outs = if (t.output.nonEmpty) t.output else t.input
      t.input.zip(outs).foreach { case (i, _) =>
        val probe = fn(col(i))
        ctx.errors += frame0
          .where(col(i).isNotNull && probe.isNull)
          .select(col(RowIdCol), posStr(col(PosCol)).as("_pos_str"),
            lit(if (t.label.nonEmpty) t.label else t.fn).as("label"),
            lit(i).as("input_field"), col(i).cast("string").as("input_value"))
      }
      frame0
    }
    if (t.inputGroups.nonEmpty) {
      // repeated tuple-call over field groups (transform.py:663-678)
      require(t.outputGroups.length == t.inputGroups.length,
        "input_groups/output_groups arity mismatch")
      val flatOuts = t.outputGroups.flatten
      require(flatOuts.distinct.length == flatOuts.length,
        "output_groups collision")
      t.inputGroups.zip(t.outputGroups).foldLeft(frame) { case (d, (ins, outs)) =>
        transformApply(t.copy(input = ins, output = outs,
          inputGroups = Nil, outputGroups = Nil), d)
      }
    } else transformApply(t, frame)
  }

  /** dress pivot/melt (transform.py:95-109): each input field becomes a
    * `{key: fieldName, value: fn(field)}` CHILD row at an extended lineage —
    * the parent document is NOT replaced (ticker.yaml dresses Open/Close/
    * Volume and still projects `vertex: ticker` from the same level).
    */
  private def dressBranch(t: TransformStep, frame: DataFrame, loc: Loc): (DataFrame, Loc) = {
    val (keyName, valName) = t.dress.get
    val fn: Column => Column = t.inline.map(f => (c: Column) => f(Seq(c)))
      .getOrElse(TransformRegistry.unary(t.fn))
    // value keeps the fn's result type (the reference's dressed dict holds
    // the raw Python value) — a string cast would break numeric filters on
    // the dressed vertex. Only a MULTI-input step must unify its pair
    // structs to one type (array() has no cross-type coercion for e.g.
    // timestamp+double): those fall back to string, like the reference's
    // untyped dicts.
    val valueOf: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      if (t.input.size > 1) c => fn(c).cast("string") else fn
    // a document missing the input field gets NO dressed entry — the
    // reference only invokes the transform on present inputs (caught by
    // the executed actor-parity fixture: a doc without `Open` must not
    // mint a `{name: Open, value: null}` observation)
    val pairs = t.input.zipWithIndex.map { case (f, i) =>
      when(col(f).isNotNull,
        struct(lit(i.toLong).as("p"), lit(f).as("k"), valueOf(col(f)).as("v")))
    }
    val child = frame.select(MetaCols.map(col) :+ explode(
      org.apache.spark.sql.functions.filter(array(pairs: _*), x => x.isNotNull))
      .as("__kv"): _*)
      .withColumn(PosCol, concat(col(PosCol), array(col("__kv.p"))))
      .select(MetaCols.map(col) ++
        Seq(col("__kv.k").as(keyName), col("__kv.v").as(valName)): _*)
    (child, loc :+ (s"~${t.input.mkString("+")}" -> true))
  }

  private def transformApply(t: TransformStep, frame: DataFrame): DataFrame =
    t.dress match {
      case Some(_) =>
        throw new IllegalStateException("dress transforms are handled in walk()")
      case None =>
        t.strategy match {
          case "each" =>
            val fn: Column => Column = t.inline.map(f => (c: Column) => f(Seq(c)))
              .getOrElse(TransformRegistry.unary(t.fn))
            val outs = if (t.output.nonEmpty) t.output else t.input
            require(outs.size == t.input.size, "strategy each: input/output arity mismatch")
            t.input.zip(outs).foldLeft(frame) { case (d, (i, o)) => d.withColumn(o, fn(col(i))) }
          case "single" =>
            val fn: Seq[Column] => Column = t.inline.getOrElse(TransformRegistry.nary.getOrElse(
              t.fn, (cs: Seq[Column]) => TransformRegistry.unary(t.fn)(cs.head)))
            val res = fn(t.input.map(col))
            if (t.output.size <= 1)
              frame.withColumn(t.output.headOption.getOrElse(t.input.last), res)
            else { // tuple result → struct fields map positionally to outputs
              val tmp = frame.withColumn("__t", res)
              val st = tmp.schema("__t").dataType.asInstanceOf[StructType]
              t.output.zip(st.fieldNames).foldLeft(tmp) { case (d, (o, f)) =>
                d.withColumn(o, col(s"__t.$f"))
              }.drop("__t")
            }
          case "all" => // whole-document call: pass struct(*) (transform.py:591-595)
            val fn = t.inline.getOrElse(
              throw new IllegalArgumentException("strategy all requires an inline fn"))
            frame.withColumn(t.output.headOption.getOrElse("_doc"),
              fn(Seq(struct(frame.columns.filterNot(MetaCols.contains).map(col): _*))))
          case other => throw new IllegalArgumentException(s"unknown strategy: $other")
        }
    }

  /** VertexActor projection (actor/vertex.py:22-237). A vertex whose
    * identity source columns are absent from the live frame but present in
    * dressed child frames consumes THOSE branches instead — the reference's
    * `_infer_vertex_descendants_from_transforms` (descend.py:84-119) routing
    * of transform-produced fields to their consuming vertex actors.
    */
  private def vertexStep(v: VertexStep, frame: DataFrame, loc: Loc, ctx: Ctx): Unit = {
    val vdef0 = ctx.schema.vertex(v.vertex)
    // identity source columns, or — for blank/assigned identities, which
    // need no columns — the declared property sources (else a dressed
    // blank-identity vertex would silently mint field-less rows off the
    // parent frame instead of consuming its dress branch)
    val neededIds: Seq[String] = (vdef0.identity match {
      case Identity.Natural(fs) => fs
      case Identity.Hash(fs)    => fs
      case Identity.Funnel(bs, _) => bs.flatMap(_.whenAllPresent).distinct
      case _                    => vdef0.properties.map(_.name)
    }).map(f => v.from.getOrElse(f, f))
    if (neededIds.nonEmpty && !neededIds.forall(frame.columns.contains)) {
      val branches = ctx.dressBranches.toSeq
        .filter(b => neededIds.forall(b._1.columns.contains))
      if (branches.nonEmpty) {
        branches.foreach { case (bf, bloc) => vertexStepOn(v, bf, bloc, ctx) }
        return
      }
    }
    vertexStepOn(v, frame, loc, ctx)
  }

  private def vertexStepOn(v: VertexStep, frame: DataFrame, loc: Loc, ctx: Ctx): Unit = {
    val vdef = ctx.schema.vertex(v.vertex)
    val have = frame.columns.toSet
    val mapped = v.from.collect { case (vf, sf) if have(sf) => col(sf).as(vf) }.toSeq
    val passthrough =
      if (v.extractionScope == "mapped_only") Nil
      else vdef.allProperties.map(_.name)
        .filterNot(v.from.keySet)
        .filter(have)
        .map(col)
    var proj = frame.select(MetaCols.map(col) ++ mapped ++ passthrough: _*)
    if (v.keepFields.nonEmpty) {
      val keep = (MetaCols ++ v.keepFields).toSet
      proj = proj.select(proj.columns.filter(keep).map(col): _*)
    }
    // declared force_types (vertex.py:818-821) + typed properties
    vdef.allProperties.foreach { p =>
      val t = vdef.forceTypes.get(p.name).orElse(p.ftype)
      if (t.isDefined && proj.columns.contains(p.name))
        proj = proj.withColumn(p.name, col(p.name).cast(t.get.sparkDdl))
    }
    // UUID-typed NATURAL identity fields validate present values — never
    // invent (identity_uuid.py validate_uuid_typed_identity_fields:
    // empty passes through, a present non-UUID fails fast)
    vdef.identity match {
      case graft.model.Identity.Natural(fs) =>
        val typed = vdef.allProperties
          .filter(p => p.ftype.contains(graft.model.FieldType.UuidT))
          .map(_.name).toSet
        fs.filter(f => typed(f) && proj.columns.contains(f)).foreach { f =>
          val v0 = col(f).cast("string")
          val uuidRe = "^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-" +
            "[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$"
          proj = proj.withColumn(f,
            when(v0.isNull || v0 === "", v0)
              .when(v0.rlike(uuidRe), v0)
              .otherwise(raise_error(concat(
                lit(s"vertex '${vdef.name}' identity field '$f': invalid UUID value "),
                v0))))
        }
      case _ => ()
    }
    // step-level filters (programmatic API) always apply; SCHEMA-level
    // vertex filters only gate transform-fed observations — the reference
    // runs them over transformed buffer items only (vertex.py:57-65 via
    // _process_transformed_items), never over passthrough doc fields, so
    // ticker's dress-fed `feature` rows filter but a raw-document field
    // with the same name does not (executed actor-parity finding)
    v.filters.foreach(f => proj = proj.where(FilterExpr.compile(f)))
    if (v.filters.isEmpty)
      vdef.filters
        .filter(f => FilterExpr.fields(f).exists(ctx.transformedCols))
        // the reference evaluates schema-level vertex filters under the
        // strict PYTHON flavor (vertex.py:64, kind=ExpressionFlavor.PYTHON)
        // — dunder-direct comparisons, definite booleans (NOT over a null
        // field keeps the row); step-level filters above stay engine-flavor
        // (they are graft's programmatic extension)
        .foreach(f => proj = proj.where(FilterExpr.compilePython(f, proj.schema)))
    // an observation whose EVERY extracted field is null is an empty doc —
    // the reference's vertex actor emits nothing for it (actor/vertex.py:
    // empty projection short-circuit; deb's depends_aliases entries carry
    // none of package's fields and must not mint a null-identity vertex)
    val extracted = proj.columns.filterNot(MetaCols.contains)
    if (extracted.nonEmpty)
      proj = proj.where(extracted.map(c => col(c).isNotNull).reduce(_ || _))
    val sq = ctx.nextSeq()
    val obs = VertexObs(v.vertex, v.role, loc, v.lookupOnly, sq,
      mintIdentity(vdef, v.role, sq, ctx.idSalt, proj))
    ctx.acc += obs
    v.role.foreach(r => ctx.roleSlots.getOrElseUpdate(r, mutable.ArrayBuffer.empty) += obs)
  }

  /** VertexRouterActor (actor/vertex_router.py:34-168): fan out by data value.
    * One filtered projection per target type; Catalyst shares the scan.
    */
  private def routerStep(r: VertexRouterStep, frame: DataFrame, loc: Loc, ctx: Ctx): Unit = {
    val targets: Seq[(String, String)] = // (dataValue, vertexType)
      if (r.typeMap.nonEmpty) r.typeMap.toSeq
      else ctx.schema.vertices.map(v => v.name -> v.name)
    targets.foreach { case (value, vtype) =>
      if (ctx.schema.vertexByName.contains(vtype)) {
        val sub = frame.where(col(r.typeField) === lit(value))
        val vs = VertexStep(vtype, from = r.perTypeFrom.getOrElse(vtype, Map.empty),
          role = r.role, keepFields = r.keepFields)
        vertexStep(vs, sub, loc, ctx)
      }
    }
  }

  /** Synthetic identity minting. Blank/assigned ids are a deterministic
    * lineage digest rather than uuid4 (db_writer.py:240-276) — same
    * uniqueness semantics, but reproducible across the vertex write and the
    * edge references to it (the reference achieves this by object identity
    * in a single Python process; a distributed engine needs determinism).
    */
  private def mintIdentity(vdef: VertexDef, role: Option[String], seq: Int,
      salt: String, df: DataFrame): DataFrame =
    vdef.identity match {
      case Identity.Natural(_) => df
      case Identity.Hash(_) | Identity.Funnel(_, _) =>
        IdentityDigest.withIdentity(vdef)(df)
      case Identity.Blank =>
        df.withColumn(SyntheticId, mintDigest(vdef, role, seq, salt))
      case Identity.Assigned(field) =>
        // assigned mode (reference identity_uuid.py:38-50): a PRESENT value
        // is kept -- overwriting would rekey data the caller already holds
        // references to -- but must BE a UUID (fail-fast like the
        // reference's ValueError); only empty (null/"") values mint. The
        // mint is the deterministic blank digest folded into UUID shape
        // (version-4/variant bits), so re-runs are replayable while the
        // value satisfies the reference's UUID contract.
        val digest = mintDigest(vdef, role, seq, salt)
        val minted = concat_ws("-",
          substring(digest, 1, 8), substring(digest, 9, 4),
          concat(lit("4"), substring(digest, 14, 3)),
          concat(lit("8"), substring(digest, 18, 3)),
          substring(digest, 21, 12))
        val present = if (df.columns.contains(field))
          col(field).cast("string") else lit(null).cast("string")
        val uuidRe = "^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-" +
          "[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$"
        df.withColumn(field,
          when(present.isNull || present === "", minted)
            .when(present.rlike(uuidRe), present)
            .otherwise(raise_error(concat(
              lit(s"assigned identity field '$field': invalid UUID value "),
              present))))
    }

  /** Deterministic blank/assigned mint digest: actor seq (two same-vertex
    * steps at one location are distinct observations) + resource/batch salt
    * (_row_id restarts per compile); separator \u0001 keeps fields from
    * gluing ambiguously.
    */
  private def mintDigest(vdef: VertexDef, role: Option[String], seq: Int,
      salt: String): Column =
    sha2(concat_ws("\u0001",
      lit(salt), lit(vdef.name), lit(role.getOrElse("")), lit(seq.toString),
      col(RowIdCol).cast("string"),
      concat_ws(".", col(PosCol).cast("array<string>"))), 256)

  // --------------------------------------------------------------- finish

  private def posStr(c: Column): Column =
    array_join(org.apache.spark.sql.functions.transform(
      c, p => lpad(p.cast("string"), 9, "0")), ".")

  /** number of exploding segments on the common prefix of two lineage paths */
  private def sharedPosDepth(a: Loc, b: Loc): Int =
    a.zip(b).takeWhile { case (x, y) => x == y }.count(_._1._2)

  /** first `depth` components of a padded position string (components are
    * fixed-width, so a string prefix IS the pos-array prefix)
    */
  private def posPrefix(ps: Column, depth: Int): Column =
    if (depth == 0) lit("") else substring(ps, 1, depth * 10 - 1)

  private def finish(ctx: Ctx, resource: ResourceDef): GraphOutput = {
    val schema = ctx.schema

    // ---- vertices: union frames, drop unkeyed, order-sensitive merge
    val vertices: Map[String, DataFrame] =
      ctx.acc.filterNot(_.lookupOnly).groupBy(_.vertex).map { case (name, obsList) =>
        val vdef = schema.vertex(name)
        val ordered = obsList.sortBy(_.seq)
        val withOrd = ordered.map { o =>
          o.df.withColumn("_ord",
            struct(col(RowIdCol).as("r"), posStr(col(PosCol)).as("p"), lit(o.seq).as("s")))
            .drop(RowIdCol, PosCol)
        }
        val unioned = withOrd.reduceLeft(_.unionByName(_, allowMissingColumns = true))
        val keyed = IdentityDigest.dropUnkeyed(vdef)(unioned)
        // identity fields the data never carried merge as null (the
        // reference's docs simply lack the key — tabular form needs the
        // column to group on)
        val withAllIds = vdef.idColumns.foldLeft(keyed) { (d, c) =>
          if (d.columns.contains(c)) d else d.withColumn(c, lit(null).cast("string"))
        }
        // first-occurrence order rides along as _zord for the writer-plane
        // blank-edge zip below; stripped before the GraphOutput
        val merged = MergeOps.mergeDocBasis(withAllIds, vdef.idColumns, "_ord",
          keepOrderAs = Some(ZipOrdCol))
        name -> merged
      }

    // ---- edges: explicit intents + schema-driven inference
    val produced: Map[String, Seq[VertexObs]] = ctx.acc.groupBy(_.vertex).view.mapValues(_.toSeq).toMap

    val explicit: Seq[(EdgeKey, DataFrame)] = ctx.intents.toSeq.flatMap(i => renderIntent(ctx, i))

    // inference is suppressed per (source, target) PAIR: a resource that
    // DECLARES any edge actor for the pair owns that pair's rendering even
    // when the actor emits zero rows (match selectors with no hits) or a
    // different relation label (`relation: lives_in` must not leave the
    // bare schema edge to re-render — executed actor-parity finding).
    // Dynamic actors (router slots) contribute the pairs they actually
    // rendered.
    val coveredPairs: Set[(String, String)] =
      ctx.intents.toSeq.collect {
        case i if i.step.source.nonEmpty && i.step.target.nonEmpty =>
          (i.step.source, i.step.target)
      }.toSet ++ explicit.map { case (k, _) => (k.source, k.target) }
    val inferred: Seq[(EdgeKey, DataFrame)] =
      if (!resource.inferEdges) Nil
      else schema.edges.filter { e =>
        val pairOk =
          (resource.inferEdgeOnly.isEmpty || resource.inferEdgeOnly.contains((e.source, e.target))) &&
            !resource.inferEdgeExcept.contains((e.source, e.target))
        pairOk && !coveredPairs.contains((e.source, e.target)) &&
          produced.contains(e.source) && produced.contains(e.target)
      }.flatMap { e =>
        renderIntent(ctx, EdgeIntentRec(
          EdgeStep(source = e.source, target = e.target, relation = e.relation), Nil, None))
      }

    // error side-channel + budget (max_doc_errors, ingestion_parameters.py)
    val errors: Map[String, DataFrame] =
      if (ctx.errors.isEmpty) Map.empty
      else {
        val all = ctx.errors.reduceLeft(_.unionByName(_, allowMissingColumns = true))
        resource.maxDocErrors.foreach { budget =>
          val nDocs = all.select(RowIdCol).distinct().count()
          if (nDocs > budget)
            throw new IllegalStateException(
              s"resource ${resource.name}: $nDocs documents with tolerated errors " +
                s"exceeds max_doc_errors=$budget")
        }
        Map(resource.name -> all)
      }

    val edges = (explicit ++ inferred).groupBy(_._1).map { case (k, dfs) =>
      val vdefS = schema.vertex(k.source); val vdefT = schema.vertex(k.target)
      val edef = schema.edgeByKey.getOrElse(k, EdgeDef(k.source, k.target, k.relation))
      val df = dfs.map(_._2).reduceLeft(_.unionByName(_, allowMissingColumns = true))
      // edge uniqueness keys (edge.py:141-151): each key's fields are
      // unique TOGETHER WITH the resolved endpoints — the endpoint id
      // columns are always part of the key; explicit source/target tokens
      // are therefore redundant but allowed (kg.yaml writes both forms)
      val dedupCols = (if (edef.identities.isEmpty) Nil
        else idColsOf(vdefS).map("src_" + _) ++ idColsOf(vdefT).map("dst_" + _) ++
          edef.identities.filterNot(t => t == "source" || t == "target")
        ).filter(df.columns.contains)
      // drop edges with an entirely-blank endpoint (e.g. funnel identity
      // with no matching branch — mirrors _drop_unkeyed_docs on the edge
      // side); like the vertex prune, "" counts as absent (executed parity
      // case edge_blank_string_identity: a blank-id source emits no edge)
      val srcCols = df.columns.filter(_.startsWith("src_"))
      val dstCols = df.columns.filter(_.startsWith("dst_"))
      def presentCol(c: String) =
        col(c).isNotNull && col(c).cast("string") =!= ""
      // blank-endpoint gates (see renderIntent): an actor-rendered edge
      // row survives only when its blank endpoint carried a doc `id`
      val gateCols = df.columns.filter(_.startsWith("_bgate_"))
      val nonNull = (srcCols.map(presentCol).reduceLeft(_ || _)) &&
        (dstCols.map(presentCol).reduceLeft(_ || _)) &&
        gateCols.map(presentCol).foldLeft(lit(true))(_ && _)
      val kept = df.where(nonNull).drop(gateCols: _*)
      // empty identities = no uniqueness constraint: every observation is
      // an edge (reference db_writer.py:470 filter_uniques=False)
      k -> (if (edef.identities.isEmpty) kept
        else if (dedupCols.nonEmpty) kept.dropDuplicates(dedupCols)
        else kept.dropDuplicates())
    }

    // ---- writer-plane blank-edge resolution (reference
    // `_resolve_blank_edges`, graflo/hq/db_writer.py:314-349): every schema
    // edge incident to a blank-identity vertex EXTENDS its rendered rows
    // with batch-level pairs of the two collections — key-join when the
    // endpoints' reference identity field names intersect, flat positional
    // zip otherwise. Runs whether or not an actor rendered the pair (the
    // reference appends to gc.edges unconditionally).
    val blankResolved: Seq[(EdgeKey, DataFrame)] = schema.edges
      .filter(e => schema.vertex(e.source).identity == Identity.Blank ||
        schema.vertex(e.target).identity == Identity.Blank)
      .filter(e => vertices.contains(e.source) && vertices.contains(e.target))
      .map(e => e.key -> resolveBlankEdge(schema, e,
        vertices(e.source), vertices(e.target)))

    val withResolved = blankResolved.foldLeft(edges) { case (acc, (k, df)) =>
      acc.get(k) match {
        case Some(cur) =>
          acc.updated(k, cur.unionByName(df, allowMissingColumns = true))
        case None => acc.updated(k, df)
      }
    }

    GraphOutput(
      vertices.map { case (n, d) => n -> d.drop(ZipOrdCol) },
      withResolved, errors)
  }

  /** The reference's DB-aware identity field NAMES (vertex_config
    * .identity_fields): natural/assigned vertices keep their declared
    * fields; blank (and digest-mode) vertices get the synthetic `id` — so
    * a blank vertex "shares" identity with any vertex whose identity
    * literally contains `id` (db_writer.py:329-331 compares names, not
    * values).
    */
  private def refIdFields(v: VertexDef): Seq[String] = v.identity match {
    case Identity.Natural(fs) => fs
    case Identity.Assigned(f) => Seq(f)
    case _                    => Seq("id")
  }

  /** One blank-incident schema edge's writer-plane resolution
    * (db_writer.py:333-349). Join path: key on the shared field names'
    * DATA columns — a doc-carried `id` participates (the reference's mint
    * keeps present values), a fresh mint never matches (uuid4 vs natural
    * key), and null keys are skipped (`===` equality). Zip path: the
    * reference's flat `zip(source_docs, target_docs)` over the WHOLE batch
    * in emission order — inherently sequential list semantics, so the
    * row_number window is unpartitioned; blank-edge zip batches are
    * ingest-batch-sized by contract (the reference holds them in one
    * Python list), never unbounded collections.
    */
  private def resolveBlankEdge(schema: GraphSchema, e: EdgeDef,
      sf: DataFrame, tf: DataFrame): DataFrame = {
    val sv = schema.vertex(e.source); val tv = schema.vertex(e.target)
    val shared = refIdFields(sv).filter(refIdFields(tv).toSet)
    def dataCol(f: DataFrame, name: String): Column =
      if (f.columns.contains(name)) col(name) else lit(null).cast("string")
    if (shared.nonEmpty) {
      val l = sf.select(sv.idColumns.map(c => col(c).as("src_" + c)) ++
        shared.map(s => dataCol(sf, s).as(s"_bk_l_$s")): _*)
      val r = tf.select(tv.idColumns.map(c => col(c).as("dst_" + c)) ++
        shared.map(s => dataCol(tf, s).as(s"_bk_r_$s")): _*)
      val cond = shared.map(s => col(s"_bk_l_$s") === col(s"_bk_r_$s"))
        .reduce(_ && _)
      l.join(r, cond)
        .drop(shared.flatMap(s => Seq(s"_bk_l_$s", s"_bk_r_$s")): _*)
    } else {
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("_zo"))
      val l = sf.select(sv.idColumns.map(c => col(c).as("src_" + c)) :+
          col(ZipOrdCol).as("_zo"): _*)
        .withColumn("_zi", row_number().over(w)).drop("_zo")
      val r = tf.select(tv.idColumns.map(c => col(c).as("dst_" + c)) :+
          col(ZipOrdCol).as("_zo"): _*)
        .withColumn("_zi", row_number().over(w)).drop("_zo")
      l.join(r, "_zi").drop("_zi")
    }
  }

  private def idColsOf(v: VertexDef): Seq[String] = v.idColumns

  /** Render one edge intent into zero or more (EdgeKey, DataFrame).
    * Dynamic intents (roles / relation_field) may produce several keys
    * (edge.py:326-424); static intents produce one.
    */
  private def renderIntent(ctx: Ctx, rec: EdgeIntentRec): Seq[(EdgeKey, DataFrame)] = {
    val e = rec.step
    val schema = ctx.schema

    def bucketsFor(name: String, role: Option[String],
        group: Option[String], exclude: Option[String]): Seq[VertexObs] = {
      val base = role match {
        case Some(r) => ctx.roleSlots.getOrElse(r, Seq.empty).toSeq
          .filter(o => name.isEmpty || o.vertex == name)
        case None => ctx.acc.toSeq.filter(_.vertex == name)
      }
      // location-group selector: keep observations made under the named
      // descend key anywhere on their lineage path (manifest match_source/
      // match_target/match — reference location groups); exclude_* drops
      // observations under the named key (edge_render.py:135-136)
      val matched = group match {
        case Some(g) => base.filter(_.loc.exists(_._1 == g))
        case None    => base
      }
      exclude match {
        case Some(x) => matched.filterNot(_.loc.exists(_._1 == x))
        case None    => matched
      }
    }

    // SAME-TYPE static edges: the reference renders them over ONE
    // emission-ordered group of ALL the type's observations — source_role/
    // target_role do NOT partition the endpoints (executed actor-parity:
    // reversing the roles changes nothing; a list-valued role slot's
    // members pair with the document's first location, not with the other
    // slot). Resolve a role-only slot's type so the rule also covers
    // `edge: {source_role: a, target_role: b}` with no explicit names;
    // router-synthetic `__tf_` slots keep slot semantics (their types are
    // data-dependent).
    def slotType(role: Option[String]): Option[String] = role
      .filterNot(_.startsWith("__tf_"))
      .flatMap { r =>
        val ts = ctx.roleSlots.getOrElse(r, Seq.empty).map(_.vertex).distinct
        if (ts.size == 1) Some(ts.head) else None
      }
    val effSrcName = if (e.source.nonEmpty) Some(e.source) else slotType(e.sourceRole)
    val effDstName = if (e.target.nonEmpty) Some(e.target) else slotType(e.targetRole)
    // TWO-SIDED match selectors opt OUT of the single-group emitter rule:
    // `if d.match_source is not None and d.match_target is not None: yield
    // from zip(source_groups, target_groups)` (edge_render.py:198-200) —
    // kg.yaml's mention→mention (triple_index → triple) pairs the two
    // location groups directly.
    val sameTypeStatic = e.casting == "auto" && !e.relationFromKey &&
      !(e.sourceGroup.nonEmpty && e.targetGroup.nonEmpty) &&
      effSrcName.isDefined && effSrcName == effDstName
    val (srcBucketsA, dstBucketsA) =
      if (sameTypeStatic)
        (bucketsFor(effSrcName.get, None, e.sourceGroup, e.excludeSource),
         bucketsFor(effDstName.get, None, e.targetGroup, e.excludeTarget))
      else
        (bucketsFor(e.source, e.sourceRole, e.sourceGroup, e.excludeSource),
         bucketsFor(e.target, e.targetRole, e.targetGroup, e.excludeTarget))
    // relation_from_key same-type edges replay the reference's
    // emitter/receiver split (edge_render.py:183-210
    // _iter_emitter_receiver_group_pairs): the FIRST location (shallowest,
    // then emission order) is the sole emitter; every other location
    // receives — so a package's dependency observations never re-emit
    // edges back at the top-level package or at each other.
    val (srcBuckets0, dstBuckets0) =
      if (e.relationFromKey && e.source == e.target && srcBucketsA.size > 1) {
        val sorted = srcBucketsA.sortBy(o => (o.loc.length, o.seq))
        (Seq(sorted.head), sorted.tail)
      } else (srcBucketsA, dstBucketsA)
    // same-type endpoints with a ONE-SIDED match selector: the unselected
    // side means "the OTHER observations of this type" (oa-institution.yaml:
    // institution→institution with match_target=associated_institutions
    // pairs the top-level institution against the descended ones, not the
    // descended ones against themselves)
    val srcBuckets =
      if (e.source == e.target && e.sourceGroup.isEmpty && e.targetGroup.nonEmpty)
        srcBuckets0.filterNot(_.loc.exists(_._1 == e.targetGroup.get))
      else srcBuckets0
    val dstBuckets =
      if (e.source == e.target && e.targetGroup.isEmpty && e.sourceGroup.nonEmpty)
        dstBuckets0.filterNot(_.loc.exists(_._1 == e.sourceGroup.get))
      else dstBuckets0

    // same-type single-group emitter (edge_render.py:196-212): the FIRST
    // emitted location is the sole emitter — `(group[:1], group[1:])` when
    // source and target groups coincide, `(source_group[:1], target_group)`
    // when match selectors split them. At the obs level: only the
    // first-emitted source obs renders, and cross-obs pairs restrict its
    // side to the document's first position ("anchorCross" below); the
    // (emitter, emitter) pair keeps the within-obs anchor split.
    val emitterSeq: Option[Int] =
      if (sameTypeStatic && srcBuckets.nonEmpty &&
          (srcBuckets.size > 1 || dstBuckets.exists(_.seq != srcBuckets.head.seq)))
        Some(srcBuckets.map(_.seq).min)
      else None

    val out = mutable.Map.empty[EdgeKey, mutable.ArrayBuffer[DataFrame]]

    // same-type, same-location, distinct-bucket pairs render once in
    // emission order (the reference's COMBINATIONS over the location's
    // ordered item list yields (a, b) but never the mirrored (b, a)):
    // csv-edge-weights' two company extractions make ONE edge per row
    def mirroredPair(sb: VertexObs, db: VertexObs): Boolean =
      e.casting == "auto" && sb.vertex == db.vertex && sb.loc == db.loc &&
        sb.role == db.role && sb.seq > db.seq
    // relation_from_key side pick (edge_render.py:231-245): deeper endpoint
    // wins, target on ties; a pair with neither endpoint under a descend
    // key renders no edge (the reference `continue`, :401-407)
    def relKeySide(sb: VertexObs, db: VertexObs): Option[(VertexObs, Boolean)] =
      if (db.loc.nonEmpty && sb.loc.size <= db.loc.size) Some((db, true))
      else if (sb.loc.nonEmpty) Some((sb, false))
      else None

    for (sb <- srcBuckets; db <- dstBuckets
         if emitterSeq.forall(_ == sb.seq) &&
           !mirroredPair(sb, db) &&
           !(e.relationFromKey && relKeySide(sb, db).isEmpty)) {
      val sv = schema.vertex(sb.vertex); val tv = schema.vertex(db.vertex)
      // endpoint projection: secondary-identity match selectors (edge.py
      // source_match/target_match) swap the key columns used on that side.
      val sKeys = e.sourceMatch.map(m => sv.secondaryByName(m).fields).getOrElse(idColsOf(sv))
      val tKeys = e.targetMatch.map(m => tv.secondaryByName(m).fields).getOrElse(idColsOf(tv))

      // precompute the padded position string once per row (a join-condition
      // expression would be re-evaluated per comparison in SMJ sorting);
      // _lzi/_rzi is the row's OWN deepest position index (for `zip`)
      def lastPos(c: Column): Column =
        coalesce(get(c, size(c) - 1), lit(-1L))
      // relation_field fallback: when the intent's own location has no such
      // column (no relFrame), the relation rides an ENDPOINT observation —
      // oa-institution.yaml reads `relationship` off each descended target
      val relFromTarget = e.relationField.filter(rf =>
        rec.relFrame.isEmpty && db.df.columns.contains(rf))
      val relFromSource = e.relationField.filter(rf =>
        rec.relFrame.isEmpty && relFromTarget.isEmpty &&
          sb.df.columns.contains(rf))
      // blank-identity endpoints gate on the DOC-carried `id` (reference
      // assemble projects a blank endpoint onto its DB-aware identity
      // ['id'], so id-less blank docs render NO edge rows at assemble —
      // their edges come from the writer-plane resolution instead;
      // executed writer-parity truth, db_writer probe: explicit actors
      // between a blank and a natural vertex emit nothing at assemble)
      def blankGate(v: VertexDef, f: DataFrame, out: String): Seq[Column] =
        if (v.identity != Identity.Blank) Nil
        else Seq((if (f.columns.contains("id")) col("id")
          else lit(null).cast("string")).as(out))
      val left = sb.df.select(
        (MetaCols.map(col) ++ Seq(posStr(col(PosCol)).as("_lps"),
          lastPos(col(PosCol)).as("_lzi")) ++
          sKeys.map(c => (if (sb.df.columns.contains(c)) col(c)
            else lit(null).cast("string")).as(s"src_$c")) ++
          blankGate(sv, sb.df, "_bgate_src") ++
          relFromSource.map(col).toSeq): _*)
      val right = db.df.select(
        (MetaCols.map(c => col(c).as(s"__r_$c")) ++ Seq(posStr(col(PosCol)).as("_rps"),
          lastPos(col(PosCol)).as("_rzi")) ++
          tKeys.map(c => (if (db.df.columns.contains(c)) col(c)
            else lit(null).cast("string")).as(s"dst_$c")) ++
          blankGate(tv, db.df, "_bgate_dst") ++
          relFromTarget.map(col).toSeq): _*)

      // same-LOCATION same-type observations with EQUAL identity values are
      // ONE entity: the reference's accumulator applies merge_doc_basis per
      // location, so two steps (or duplicate list items) observing the same
      // identity fuse into a single item and never self-pair (caught by the
      // merge-guard scenario: two post-merge `vertex: A` steps at one level
      // must not mint an (a1, a1) self-edge)
      val idPairs = sKeys.zip(tKeys)
      def identityDiffers: Column =
        if (idPairs.isEmpty) lit(true)
        else not(idPairs.map { case (sc, tc) =>
          col(s"src_$sc") <=> col(s"dst_$tc") }.reduce(_ && _))

      // Lineage-prefix congruence (reference edge_render.py:143-228): two
      // buckets pair within the deepest explode level they SHARE. The shared
      // depth is the number of exploding segments on the common loc prefix:
      //   same loc                → full equality  (PAIR / zip)
      //   one loc inside the other→ parent-scoped  (each child to ITS parent)
      //   sibling branches        → document-scoped PRODUCT
      val casting = e.casting match {
        case "auto" =>
          if (sb.vertex == db.vertex && sb.role == db.role && sb.seq == db.seq) "anchor"
          else if (emitterSeq.isDefined) "anchorCross"
          else "prefix"
        case c => c
      }
      val joined = (casting match {
        case "prefix" =>
          // depth 0 = document-scoped: the prefix clause would compile to the
          // trivially-true '' === '' — omit it (it also spams WARN Column)
          val d = sharedPosDepth(sb.loc, db.loc)
          val cond = col(RowIdCol) === col(s"__r_$RowIdCol")
          left.join(right,
            if (d == 0) cond
            else cond && posPrefix(col("_lps"), d) === posPrefix(col("_rps"), d))
        case "pair" =>
          left.join(right, col(RowIdCol) === col(s"__r_$RowIdCol") &&
            col("_lps") === col("_rps"))
        case "product" =>
          left.join(right, col(RowIdCol) === col(s"__r_$RowIdCol"))
        case "combinations" =>
          left.join(right, col(RowIdCol) === col(s"__r_$RowIdCol") &&
            col("_lps") < col("_rps"))
        case "anchor" =>
          // same-type same-bucket auto rule: the reference's single-group
          // emitter/receiver split pairs the document's FIRST emitted
          // location against each OTHER location — `(source_group[:1],
          // source_group[1:])`, edge_render.py:196-207 — so [a, b, c]
          // renders a→b, a→c and never b→c (caught by the executed
          // actor-parity fixture; explicit `casting: combinations` keeps
          // the full unordered-pairs join above)
          val wA = org.apache.spark.sql.expressions.Window
            .partitionBy(col(RowIdCol))
          left.withColumn("_minp", min(col("_lps")).over(wA))
            .join(right, col(RowIdCol) === col(s"__r_$RowIdCol") &&
              col("_lps") === col("_minp") && col("_lps") =!= col("_rps") &&
              identityDiffers)
            .drop("_minp")
        case "anchorCross" =>
          // same-type emitter → another obs bucket's locations: the
          // emitter side is the document's FIRST position of the
          // first-emitted obs; the receiving side takes every location.
          // Document-scoped (the reference's single group carries no
          // congruence constraint across the split).
          val wC = org.apache.spark.sql.expressions.Window
            .partitionBy(col(RowIdCol))
          val fuseGuard = // same-loc cross-obs: equal-identity rows are fused
            if (sb.loc == db.loc) identityDiffers else lit(true)
          left.withColumn("_minp", min(col("_lps")).over(wC))
            .join(right, col(RowIdCol) === col(s"__r_$RowIdCol") &&
              col("_lps") === col("_minp") && fuseGuard)
            .drop("_minp")
        case "zip" =>
          // positional-zip fallback (reference db_writer.py:314-349): pair
          // the i-th source observation with the i-th target observation —
          // PARALLEL sibling arrays zip by their own deepest explode index
          // within the shared lineage scope (prefix congruence), where the
          // document-scoped default would render a PRODUCT
          val d = sharedPosDepth(sb.loc, db.loc)
          val cond = col(RowIdCol) === col(s"__r_$RowIdCol") &&
            col("_lzi") === col("_rzi")
          left.join(right,
            if (d == 0) cond
            else cond && posPrefix(col("_lps"), d) === posPrefix(col("_rps"), d))
        case other => throw new IllegalArgumentException(s"unknown casting: $other")
      })

      // attach relation/weight data carried from the intent's own location
      // (edge.py:326-424: relation_field and weights are read off the row at
      // the edge actor's position, not off the endpoint projections)
      val withCarried = (rec.relFrame match {
        case Some(rf) =>
          val rfR = MetaCols.foldLeft(rf)((d, c) => d.withColumnRenamed(c, s"__i_$c"))
          // scope to whichever ENDPOINT shares the deeper lineage with the
          // intent — an edge step at the target's level must join its carried
          // row per target item, not per document (else weights cross-product)
          val dS = sharedPosDepth(rec.loc, sb.loc)
          val dT = sharedPosDepth(rec.loc, db.loc)
          val (d, sideCol) = if (dT > dS) (dT, col("_rps")) else (dS, col("_lps"))
          val cond = col(RowIdCol) === col(s"__i_$RowIdCol")
          joined.join(rfR,
            if (d == 0) cond
            else cond && posPrefix(sideCol, d) === posPrefix(posStr(col(s"__i_$PosCol")), d))
        case None => joined
      }).drop("_lps", "_rps", "_lzi", "_rzi")

      // NON-ENDPOINT vertex_weights (reference db_writer.py:355-387
      // _enrich_extra_weights): a weight vertex that is neither endpoint
      // attaches per DOCUMENT — the reference takes `weights[0]`, the
      // first doc of that vertex extracted from the same item. The row
      // association only exists here (the store sees no _row_id), so the
      // fields join on _row_id with the first-by-(pos, seq) observation.
      val nonEndpointSpecs = schema.edgesBetween(sb.vertex, db.vertex)
        .flatMap(_.extraWeights)
        .filter(sp => sp.endpoint.isEmpty &&
          sp.vertex != sb.vertex && sp.vertex != db.vertex)
        .distinct
      val withDocWeights = nonEndpointSpecs.foldLeft(withCarried) { (acc, sp) =>
        val obs = ctx.acc.filter(_.vertex == sp.vertex)
        if (obs.isEmpty) acc
        else {
          val frames: Seq[DataFrame] = obs.toSeq.map { o =>
            val ordered: Seq[Column] =
              Seq(posStr(col(PosCol)).as("_p"), lit(o.seq).as("_s")) ++
                sp.fields.map(f => col(f))
            o.df.select(col(RowIdCol), struct(ordered: _*).as("_wq"))
          }
          val first = frames.reduceLeft(_.unionByName(_))
            .groupBy(RowIdCol).agg(min(col("_wq")).as("_wq"))
          val named = sp.fields.foldLeft(first) { (d, f) =>
            val out = if (sp.keepVertexName) s"${sp.vertex}@$f" else f
            d.withColumn(out, col("_wq").getField(f))
          }.drop("_wq")
          acc.join(named, Seq(RowIdCol), "left")
        }
      }

      // relation_from_key: the relation is the chosen side's last descend
      // key — static lineage keys become a literal; the dynamic any_key
      // segment ("*") reads the `_key` column off the location frame,
      // joined per (row, position) like relFromLoc below
      val (withRelKey, relKeyCol): (DataFrame, Option[Column]) =
        if (!e.relationFromKey) (withDocWeights, None)
        else {
          val (obs, isTarget) = relKeySide(sb, db).get
          val lastKey = obs.loc.last._1
          if (lastKey != "*")
            (withDocWeights, Some(lit(lastKey.replace('-', '_'))))
          else {
            val lf = ctx.locFrames.get(obs.loc).filter(_.columns.contains("_key"))
              .getOrElse(throw new IllegalArgumentException(
                s"relation_from_key: no _key column at location ${obs.loc}"))
            val rl = lf.select(col(RowIdCol).as("__k__rid"),
              posStr(col(PosCol)).as("__k__ps"),
              translate(col("_key"), "-", "_").as("__relkey"))
            val j =
              if (isTarget)
                withDocWeights.join(rl,
                  col(s"__r_$RowIdCol") === col("__k__rid") &&
                    posStr(col(s"__r_$PosCol")) === col("__k__ps"), "left")
              else
                withDocWeights.join(rl,
                  col(RowIdCol) === col("__k__rid") &&
                    posStr(col(PosCol)) === col("__k__ps"), "left")
            (j.drop("__k__rid", "__k__ps"), Some(col("__relkey")))
          }
        }

      // relation_field / weight fields living at an ENDPOINT's lineage
      // location rather than the intent's own or an obs projection: join
      // the per-position values from the recorded location frame
      // (oa-institution.yaml: `relationship` is a raw field of each
      // descended associated institution; kg.yaml: `_role` is a renamed
      // field of each triple-level mention, declared as an edge weight).
      // Target location wins per column; the source location serves what
      // the target lacks.
      val relNeeded = e.relationField.filter(_ => rec.relFrame.isEmpty &&
        relFromTarget.isEmpty && relFromSource.isEmpty).toSeq
      val weightNeeded = e.weightFields.filterNot(w =>
        rec.relFrame.exists(_.columns.contains(w)))
      val locNeeded = (relNeeded ++ weightNeeded).distinct
      val tgtLocF = ctx.locFrames.get(db.loc)
      val srcLocF = ctx.locFrames.get(sb.loc)
      val tgtCols = locNeeded.filter(c => tgtLocF.exists(_.columns.contains(c)))
      val srcCols = locNeeded.filterNot(tgtCols.contains)
        .filter(c => srcLocF.exists(_.columns.contains(c)))
      val withTgtLoc =
        if (tgtCols.isEmpty) withRelKey
        else {
          val rl = tgtLocF.get.select(col(RowIdCol).as("__t__rid") +:
            posStr(col(PosCol)).as("__t__ps") +: tgtCols.map(col): _*)
          withRelKey.join(rl,
            col(s"__r_$RowIdCol") === col("__t__rid") &&
              posStr(col(s"__r_$PosCol")) === col("__t__ps"), "left")
            .drop("__t__rid", "__t__ps")
        }
      val withLocRel =
        if (srcCols.isEmpty) withTgtLoc
        else {
          val rl = srcLocF.get.select(col(RowIdCol).as("__s__rid") +:
            posStr(col(PosCol)).as("__s__ps") +: srcCols.map(col): _*)
          withTgtLoc.join(rl,
            col(RowIdCol) === col("__s__rid") &&
              posStr(col(PosCol)) === col("__s__ps"), "left")
            .drop("__s__rid", "__s__ps")
        }

      // relation: from-key, static, or data-driven with renames + static
      // fallback (fallback applies with or WITHOUT a relation_map: a null
      // relation column falls back to the declared static relation)
      val relCol: Column = relKeyCol match {
        case Some(rk) => rk
        case None => e.relationField match {
          case Some(rf) =>
            val raw = col(rf)
            val mapped =
              if (e.relationMap.isEmpty) raw
              else e.relationMap.foldLeft(when(lit(false), lit(""))) {
                case (w, (k, v)) => w.when(raw === lit(k), lit(v))
              }.otherwise(raw)
            if (e.relation.nonEmpty) coalesce(mapped, lit(e.relation)) else mapped
          case None => lit(e.relation)
        }
      }

      val docWeightCols = nonEndpointSpecs.flatMap(sp =>
        sp.fields.map(f => if (sp.keepVertexName) s"${sp.vertex}@$f" else f))
      // schema-declared edge properties carried as direct weights
      // (csv-edge-weights.yaml `date`) survive the projection like
      // step-level weights
      val declaredWeightCols = schema.edgesBetween(sb.vertex, db.vertex)
        .flatMap(_.properties.map(_.name))
      val dropRel = e.relationField.filterNot(e.weightFields.contains).toSeq
      val projected0 = withLocRel
        .withColumn("_rel", relCol)
        .drop((MetaCols ++ MetaCols.map("__r_" + _) ++ MetaCols.map("__i_" + _) ++
          dropRel :+ "__relkey"): _*)
      // relation_from_key drops rows whose relation could not be derived
      // (a dynamic-key join miss — reference edge_render.py:405-407)
      val projected =
        if (e.relationFromKey) projected0.where(col("_rel").isNotNull)
        else projected0

      // group rows into per-(srcType, dstType, relation) collections; strict
      // edge-type gate: only declared edges pass (edge.py strict_edge_types)
      val dynDeclared =
        schema.edges.filter(d => d.source == sb.vertex && d.target == db.vertex &&
          d.relationDeclared).map(_.key)
      val candidateKeys: Seq[EdgeKey] =
        if (e.relationField.isEmpty) {
          val rel =
            if (e.relation.nonEmpty) e.relation
            else schema.edgesBetween(sb.vertex, db.vertex).headOption
              .map(_.relation).getOrElse("related")
          Seq(EdgeKey(sb.vertex, db.vertex, rel))
        } else if (dynDeclared.nonEmpty) dynDeclared
        // dynamic relation with NO declared edge types between the pair:
        // the collection is identified by the endpoints alone (reference
        // edge_id (src, dst, None)) and per-row relations ride the
        // relation column (oa-institution.yaml relation_field)
        else Seq(EdgeKey(sb.vertex, db.vertex,
          if (e.relation.nonEmpty) e.relation else "related"))

      candidateKeys.foreach { k =>
        val part =
          if (e.relationField.isEmpty || dynDeclared.isEmpty) projected
          else projected.where(col("_rel") === lit(k.relation))
        val finalDf = part.withColumn("_relation", col("_rel")).drop("_rel")
          .withColumnRenamed("_relation", "relation")
        val keep = finalDf.columns.filter(c =>
          c.startsWith("src_") || c.startsWith("dst_") || c == "relation" ||
            c.startsWith("_bgate_") || // blank-endpoint gates, pruned in finish
            e.weightFields.contains(c) || docWeightCols.contains(c) ||
            declaredWeightCols.contains(c))
        out.getOrElseUpdate(k, mutable.ArrayBuffer.empty) +=
          finalDf.select(keep.map(col): _*)
      }
    }
    out.toSeq.map { case (k, dfs) =>
      k -> dfs.reduceLeft(_.unionByName(_, allowMissingColumns = true))
    }
  }
}
