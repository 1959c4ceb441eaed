package graft.evolve

import graft.model._
import graft.store.GraphStore
import org.apache.spark.sql.functions._
import scala.util.chaining._

/** Schema evolution — the reference's declarative manifest-DDL ops
  * (graflo/architecture/evolution/ops.py:50-620, apply.py, rewrite.py,
  * autogenerate.py): pure schema→schema transformations, plus the data
  * rewrite jobs they imply on a live store.
  */
sealed trait EvolutionOp { def apply(s: GraphSchema): GraphSchema }

object EvolutionOp {
  private def mapVertex(s: GraphSchema, name: String)(f: VertexDef => VertexDef) =
    s.copy(vertices = s.vertices.map(v => if (v.name == name) f(v) else v))

  final case class AddVertex(v: VertexDef) extends EvolutionOp {
    def apply(s: GraphSchema) = s.copy(vertices = s.vertices :+ v)
  }
  /** remove + cascade delete of incident edges (ops.py remove_vertex) */
  final case class RemoveVertex(name: String) extends EvolutionOp {
    def apply(s: GraphSchema) = s.copy(
      vertices = s.vertices.filterNot(_.name == name),
      edges = s.edges.filterNot(e => e.source == name || e.target == name))
  }
  /** rename + rewrite of all edge references (single-pair convenience of
    * [[RenameVertices]] — same validation)
    */
  final case class RenameVertex(from: String, to: String) extends EvolutionOp {
    def apply(s: GraphSchema) = RenameVertices(Map(from -> to)).apply(s)
  }

  /** Atomic multi-rename (reference RenameVerticesOp with its 1.10.5
    * guards, executed-parity pinned): the map applies SIMULTANEOUSLY, so a
    * swap `{a->b, b->a}` is legal; unknown sources are errors (a typo must
    * not be a silent no-op the revision machinery still records); a
    * non-injective map is rejected at construction and a target colliding
    * with a type that is STAYING is rejected at apply — `MergeVertices` is
    * the deliberate merge path ("a rename could silently merge two vertex
    * types into one").
    */
  final case class RenameVertices(vertices: Map[String, String]) extends EvolutionOp {
    require(vertices.nonEmpty, "rename_vertices requires a non-empty map")
    require(vertices.values.toSeq.distinct.size == vertices.size,
      "rename_vertices map must be injective (use MergeVertices to collapse)")
    def apply(s: GraphSchema) = {
      val names = s.vertices.map(_.name).toSet
      val unknown = vertices.keys.filterNot(names).toSeq.sorted
      if (unknown.nonEmpty) throw new IllegalArgumentException(
        s"rename_vertices: unknown vertices: ${unknown.mkString("[", ", ", "]")}")
      val staying = names -- vertices.keySet
      val collisions = vertices.collect { case (from, to) if staying(to) =>
        s"'$from' -> '$to'" }.toSeq.sorted
      if (collisions.nonEmpty) throw new IllegalArgumentException(
        "rename_vertices: renamed vertices collide with existing ones: " +
          collisions.mkString("[", ", ", "]") + " (use MergeVertices)")
      def ren(n: String) = vertices.getOrElse(n, n)
      s.copy(
        vertices = s.vertices.map(v => v.copy(name = ren(v.name))),
        edges = s.edges.map(e =>
          e.copy(source = ren(e.source), target = ren(e.target))))
    }
  }
  final case class AddProperty(vertex: String, field: FieldDef) extends EvolutionOp {
    def apply(s: GraphSchema) = mapVertex(s, vertex)(v =>
      v.copy(properties = v.properties :+ field))
  }
  final case class RemoveProperty(vertex: String, field: String) extends EvolutionOp {
    def apply(s: GraphSchema) = mapVertex(s, vertex) { v =>
      // removing a field the vertex UPSERTS BY is rejected (executed
      // evolution-parity: the reference raises "remove_vertex_properties
      // cannot remove identity fields" — replace the identity first)
      val idFields = v.identity match {
        case Identity.Natural(fs)   => fs
        case Identity.Hash(fs)      => fs
        case Identity.Assigned(f)   => Seq(f)
        case Identity.Funnel(bs, _) => bs.flatMap(b => b.whenAllPresent ++ b.digestFields)
        case _                      => Nil
      }
      if (idFields.contains(field)) throw new IllegalArgumentException(
        s"remove_property: cannot remove identity field '$field' of " +
          s"'$vertex' (use ReplaceIdentity first)")
      v.copy(properties = v.properties.filterNot(_.name == field),
        // authored index references prune; an emptied index drops
        // (reference apply_remove_vertex_properties, apply.py:673-682)
        indexes = v.indexes
          .map(ix => ix.copy(fields = ix.fields.filterNot(_ == field)))
          .filter(_.fields.nonEmpty))
    }
    // edge PHYSICAL-spec indexes referencing the removed endpoint field
    // prune too, on edges whose source OR target is the vertex; an
    // emptied index drops (apply.py:684-696 — edge_spec loop)
    .pipe(sch => sch.copy(edges = sch.edges.map { ed =>
      if (ed.source != vertex && ed.target != vertex) ed
      else ed.copy(specIndexes = ed.specIndexes.map(_
        .map(ix => ix.copy(fields = ix.fields.filterNot(_ == field)))
        .filter(_.fields.nonEmpty)))
    }))
  }
  final case class RenameProperty(vertex: String, from: String, to: String) extends EvolutionOp {
    private def ren(f: String) = if (f == from) to else f
    def apply(s: GraphSchema) = {
      val renamed = mapVertex(s, vertex)(v => v.copy(
        properties = v.properties.map(p => if (p.name == from) p.copy(name = to) else p),
        identity = v.identity match {
          case Identity.Natural(fs) => Identity.Natural(fs.map(ren))
          case Identity.Hash(fs)    => Identity.Hash(fs.map(ren))
          case Identity.Funnel(bs, mk) => Identity.Funnel(bs.map(b =>
            b.copy(whenAllPresent = b.whenAllPresent.map(ren),
              digestFields = b.digestFields.map(ren))), mk)
          case Identity.Assigned(f) => Identity.Assigned(ren(f))
          case other                => other
        },
        secondary = v.secondary.map(sec => sec.copy(fields = sec.fields.map(ren))),
        // authored indexes follow the rename (reference
        // apply_field_rename_to_db_profile, db_profile.py:337-363)
        indexes = v.indexes.map(ix => ix.copy(fields = ix.fields.map(ren)))))
      // edge spec indexes referencing the renamed ENDPOINT field follow
      // too (db_profile.py:349-351 — both source and target vertex maps)
      renamed.copy(edges = renamed.edges.map { ed =>
        if (ed.source != vertex && ed.target != vertex) ed
        else ed.copy(specIndexes = ed.specIndexes.map(_.map(ix =>
          ix.copy(fields = ix.fields.map(ren)))))
      })
    }
  }
  /** Set a vertex property's logical type (reference ChangeFieldTypesOp,
    * physical.py:43-81): unknown vertices/fields are errors, and an
    * identity-participating field cannot become a LIST (lists cannot key
    * an upsert). Executed-parity pinned (`cft_*`).
    */
  final case class SetFieldType(vertex: String, field: String, ftype: FieldType) extends EvolutionOp {
    def apply(s: GraphSchema) = {
      if (!s.vertexByName.contains(vertex)) throw new IllegalArgumentException(
        s"change_field_types: unknown vertices: [$vertex]")
      mapVertex(s, vertex) { v =>
        val declared = (v.properties.map(_.name) ++ (v.identity match {
          case Identity.Natural(fs) => fs; case _ => Nil
        })).toSet
        if (!declared(field)) throw new IllegalArgumentException(
          s"change_field_types: vertex '$vertex' does not declare [$field]")
        val identityFields = (v.identity match {
          case Identity.Natural(fs) => fs
          case Identity.Hash(fs)    => fs
          case _                    => Nil
        }).toSet
        if (ftype.isInstanceOf[FieldType.ListT] && identityFields(field))
          throw new IllegalArgumentException(
            s"change_field_types: vertex '$vertex' field '$field' participates " +
              "in the identity and cannot become a LIST")
        v.copy(properties = v.properties.map(p =>
          if (p.name == field) p.copy(ftype = Some(ftype)) else p))
      }
    }
  }

  /** Set an EDGE property's logical type across every edge carrying the
    * relation (reference ChangeFieldTypesOp's `edges` face,
    * physical.py:83-115): unknown relations/fields are errors.
    */
  final case class SetEdgeFieldType(relation: String, field: String,
      ftype: FieldType) extends EvolutionOp {
    def apply(s: GraphSchema) = {
      val carrying = s.edges.filter(_.relation == relation)
      if (carrying.isEmpty) throw new IllegalArgumentException(
        s"change_field_types: unknown relations: [$relation]")
      if (!carrying.exists(_.properties.exists(_.name == field)))
        throw new IllegalArgumentException(
          s"change_field_types: edge '$relation' does not declare [$field]")
      s.copy(edges = s.edges.map(e =>
        if (e.relation == relation) e.copy(properties = e.properties.map(p =>
          if (p.name == field) p.copy(ftype = Some(ftype)) else p))
        else e))
    }
  }
  /** Identity replacement natural↔hash↔funnel↔assigned↔blank with the
    * reference's RETIRE policy for the OLD identity field-set
    * (ReplaceIdentityOp / IdentityReplacement, ops.py:202-267, executed
    * evolution-parity fixture):
    *  - `demote` (default): the old NATURAL fields become a secondary
    *    identity named `retireAs` (default "retired_identity"); demotion
    *    downgrades to `keep` when the old identity was synthetic
    *    (hash/funnel/assigned/blank) or already equals the new one;
    *  - `keep`: old fields stay as plain properties;
    *  - `drop`: old natural identity fields are REMOVED from the
    *    properties (fields shared with the new identity survive).
    * The reference's `endpoints: pin_to_retired` rewrite is
    * ingestion-plane and out of schema-plane scope (DIVERGENCES.md).
    */
  final case class ReplaceIdentity(vertex: String, identity: Identity,
      retire: String = "demote", retireAs: Option[String] = None)
      extends EvolutionOp {
    require(Set("demote", "keep", "drop")(retire),
      s"replace_identity: retire must be demote|keep|drop, got '$retire'")
    def apply(s: GraphSchema) = mapVertex(s, vertex) { v =>
      val oldNatural = v.identity match {
        case Identity.Natural(fs) => fs
        case _                    => Nil // synthetic: demote downgrades to keep
      }
      val base = v.copy(identity = identity)
      retire match {
        case "demote"
          if oldNatural.nonEmpty && v.identity != identity =>
          base.copy(secondary = base.secondary :+
            SecondaryIdentity(retireAs.getOrElse("retired_identity"), oldNatural))
        case "drop" if oldNatural.nonEmpty =>
          val keepFields = identity match {
            case Identity.Natural(fs) => fs.toSet
            case _                    => Set.empty[String]
          }
          val gone = oldNatural.filterNot(keepFields).toSet
          base.copy(properties = base.properties.filterNot(p => gone(p.name)))
        case _ => base
      }
    }
  }
  final case class AddSecondaryIdentity(vertex: String, sec: SecondaryIdentity) extends EvolutionOp {
    def apply(s: GraphSchema) = mapVertex(s, vertex)(v => v.copy(secondary = v.secondary :+ sec))
  }
  final case class RemoveSecondaryIdentity(vertex: String, name: String) extends EvolutionOp {
    def apply(s: GraphSchema) = mapVertex(s, vertex) { v =>
      // the derived lookup index goes WITH the identity: the reference's
      // apply_remove_secondary_identities prunes db_profile.vertex_indexes
      // entries whose field SET matches the removed secondary
      // (evolution/identity.py:533-540) — without this, the loader-
      // materialized derived copy strands as a phantom authored index
      val doomed = v.secondary.filter(_.name == name).map(_.fields.toSet).toSet
      v.copy(
        secondary = v.secondary.filterNot(_.name == name),
        indexes = v.indexes.filterNot(ix => doomed(ix.fields.toSet)))
    }
  }
  final case class AddEdge(e: EdgeDef) extends EvolutionOp {
    def apply(s: GraphSchema) = s.copy(edges = s.edges :+ e)
  }
  final case class RemoveEdge(key: EdgeKey) extends EvolutionOp {
    def apply(s: GraphSchema) = s.copy(edges = s.edges.filterNot(_.key == key))
  }
  /** Merge two edge defs that landed on one key after a rename/redirect —
    * the reference's `merge_edge_pair` (evolution/merge_core.py:176-214):
    * property UNION with typed-beats-untyped (conflicting concrete types
    * raise, merge_core.py:11-19), and `directed` = a AND b ("undirected
    * wins: it is the weaker assertion; a merged undirected edge treated as
    * directed would let an inverse-edge op synthesize a duplicate").
    * graft models a single uniqueness key, so differing `identities`
    * raise rather than silently dropping a constraint.
    */
  def mergeEdgePair(a: EdgeDef, b: EdgeDef): EdgeDef = {
    require(a.key == b.key, s"mergeEdgePair on different keys: ${a.key} vs ${b.key}")
    require(a.identities == b.identities,
      s"merge of edge ${a.key}: identity keys differ (${a.identities} vs ${b.identities})")
    val props = scala.collection.mutable.LinkedHashMap.empty[String, FieldDef]
    (a.properties ++ b.properties).foreach { f =>
      props.get(f.name) match {
        case None => props(f.name) = f
        case Some(prev) => (prev.ftype, f.ftype) match {
          case (None, Some(_)) => props(f.name) = f
          case (Some(x), Some(y)) if x != y =>
            throw new IllegalArgumentException(
              s"cannot merge edge field '${f.name}': incompatible types $x vs $y")
          case _ => ()
        }
      }
    }
    a.copy(properties = props.values.toSeq, directed = a.directed && b.directed)
  }

  /** reject duplicate (source, target, relation) triples — the reference's
    * manifest re-validation contract for rename/retarget ops (merge is the
    * MergeVertices/MergeEdges privilege, merge_core.py)
    */
  private def requireNoDuplicates(edges: Seq[EdgeDef], op: String): Unit = {
    val dups = edges.groupBy(_.key).collect { case (k, es) if es.size > 1 => k }
    if (dups.nonEmpty) throw new IllegalArgumentException(
      s"$op: duplicate edge definitions: ${dups.mkString(", ")} " +
        "(use MergeEdges/MergeVertices to collapse edges deliberately)")
  }

  /** Fold duplicate edge keys via [[mergeEdgePair]] (first occurrence
    * keeps its position) — the reference's post-rename merge loop.
    */
  private def mergeDuplicateEdges(edges: Seq[EdgeDef]): Seq[EdgeDef] = {
    val byKey = scala.collection.mutable.LinkedHashMap.empty[EdgeKey, EdgeDef]
    edges.foreach { e =>
      byKey(e.key) = byKey.get(e.key).map(mergeEdgePair(_, e)).getOrElse(e)
    }
    byKey.values.toSeq
  }

  final case class RenameRelation(key: EdgeKey, to: String) extends EvolutionOp {
    // a rename landing on an existing key is REJECTED (executed
    // evolution-parity: the reference's manifest re-validation raises
    // "duplicate edge definitions"; MergeEdges is the merge path)
    def apply(s: GraphSchema) = {
      val renamed = s.edges.map(e => if (e.key == key) e.copy(relation = to) else e)
      requireNoDuplicates(renamed, "rename_relation")
      s.copy(edges = renamed)
    }
  }
  /** Retarget an edge to different endpoint types (ops.py retarget).
    * A retarget landing on an existing (source, target, relation) triple
    * is REJECTED (executed evolution-parity: apply.py raises "retargeted
    * edges collide with existing ones; use Merge...").
    */
  final case class RetargetEdge(key: EdgeKey, newSource: String, newTarget: String) extends EvolutionOp {
    def apply(s: GraphSchema) = {
      val moved = s.edges.map(e =>
        if (e.key == key) e.copy(source = newSource, target = newTarget) else e)
      requireNoDuplicates(moved, "retarget_edges")
      s.copy(edges = moved)
    }
  }
  /** Rename relation NAMES across every dyad (reference RenameRelationsOp,
    * ops.py:375-393) — injective map; a rename landing on an existing key
    * between the same endpoints is REJECTED (executed evolution-parity:
    * the reference's manifest re-validation raises "duplicate edge
    * definitions"; MergeEdges is the deliberate merge path).
    */
  final case class RenameRelations(relations: Map[String, String]) extends EvolutionOp {
    require(relations.nonEmpty, "rename_relations requires a non-empty map")
    require(relations.values.toSeq.distinct.size == relations.size,
      "rename_relations map must be injective (use MergeEdges to collapse)")
    def apply(s: GraphSchema) = {
      // 1.10.5 guard (executed-parity): an unknown source is an error, not
      // a silent no-op the revision machinery still records as a change
      val declared = s.edges.map(_.relation).toSet
      val unknown = relations.keys.filterNot(declared).toSeq.sorted
      if (unknown.nonEmpty) throw new IllegalArgumentException(
        s"rename_relations: unknown relations: ${unknown.mkString("[", ", ", "]")}")
      val renamed = s.edges.map(e =>
        relations.get(e.relation).map(r => e.copy(relation = r)).getOrElse(e))
      requireNoDuplicates(renamed, "rename_relations")
      s.copy(edges = renamed)
    }
  }

  /** merge source relation names into one canonical relation (reference
    * MergeEdgesOp, ops.py:429-443 + apply.py:1145-1170): deliberately
    * non-injective; collapsed defs union via [[mergeEdgePair]].
    */
  final case class MergeEdges(sources: Seq[String], into: String) extends EvolutionOp {
    require(sources.nonEmpty, "merge_edges requires at least one source")
    require(!sources.contains(into), "merge_edges: `sources` must not include `into`")
    def apply(s: GraphSchema) = s.copy(edges = mergeDuplicateEdges(
      s.edges.map(e =>
        if (sources.contains(e.relation)) e.copy(relation = into) else e)))
  }

  /** replace an edge's uniqueness key (reference ReplaceEdgeIdentitiesOp,
    * ops.py:330-354) — the edge-side ReplaceIdentity; no retire policy
    * (edge identities have no lookup plane). Non-endpoint tokens merge
    * into properties like authored identities (edge.py finish_init).
    */
  final case class ReplaceEdgeIdentities(key: EdgeKey, identities: Seq[String]) extends EvolutionOp {
    require(identities.nonEmpty, "replace_edge_identities requires a non-empty key")
    def apply(s: GraphSchema) = s.copy(edges = s.edges.map { e =>
      if (e.key != key) e
      else {
        val declared = e.properties.map(_.name).toSet
        val extra = identities.filterNot(t =>
          t == "source" || t == "target" || declared(t))
        e.copy(identities = identities,
          properties = e.properties ++ extra.map(FieldDef(_)))
      }
    })
  }

  /** add the inverse edge (ops.py inverse_edge) */
  final case class InverseEdge(key: EdgeKey, relation: String) extends EvolutionOp {
    def apply(s: GraphSchema) = s.edgeByKey.get(key) match {
      case Some(e) => s.copy(edges = s.edges :+
        e.copy(source = e.target, target = e.source, relation = relation))
      case None => s
    }
  }

  /** edge-property ops (reference AddEdgePropertiesOp /
    * RenameEdgePropertiesOp / RemoveEdgePropertiesOp, ops.py:444-480)
    */
  final case class AddEdgeProperty(key: EdgeKey, field: FieldDef) extends EvolutionOp {
    def apply(s: GraphSchema) = s.copy(edges = s.edges.map(e =>
      if (e.key == key) e.copy(properties = e.properties :+ field) else e))
  }
  final case class RenameEdgeProperty(key: EdgeKey, from: String, to: String) extends EvolutionOp {
    def apply(s: GraphSchema) = s.copy(edges = s.edges.map(e =>
      if (e.key == key) e.copy(
        properties = e.properties.map(p => if (p.name == from) p.copy(name = to) else p),
        identities = e.identities.map(t => if (t == from) to else t),
        // spec indexes follow (apply_edge_property_rename_to_db_profile)
        specIndexes = e.specIndexes.map(_.map(ix => ix.copy(
          fields = ix.fields.map(f => if (f == from) to else f)))))
      else e))
  }
  final case class RemoveEdgeProperty(key: EdgeKey, field: String) extends EvolutionOp {
    def apply(s: GraphSchema) = s.copy(edges = s.edges.map(e =>
      if (e.key == key) e.copy(properties = e.properties.filterNot(_.name == field),
        identities = e.identities.filterNot(_ == field),
        // spec index references prune; an emptied index drops
        // (apply_edge_property_removal_to_db_profile)
        specIndexes = e.specIndexes.map(_
          .map(ix => ix.copy(fields = ix.fields.filterNot(_ == field)))
          .filter(_.fields.nonEmpty)))
      else e))
  }
  /** Physical-profile index ops (reference evolution/physical.py:132-278):
    * backend-portable index metadata with the reference's validation
    * lattice, executed-parity pinned by `ReferencePhysicalParitySpec`.
    * The loader materializes authored-then-derived entries into
    * `indexes` in reference registration order; presence checks below
    * consult `derivedIndexes ++ indexes` as an order-free SET
    * (db_profile.add_vertex_index is idempotent on the field-set,
    * database_features.py:383-392).
    */
  final case class AddVertexIndexes(vertex: String, indexes: Seq[IndexDef]) extends EvolutionOp {
    def apply(s: GraphSchema) = {
      if (!s.vertexByName.contains(vertex)) throw new IllegalArgumentException(
        s"add_vertex_indexes: unknown vertices: [$vertex]")
      mapVertex(s, vertex) { v =>
        val declared = (v.properties.map(_.name) ++ (v.identity match {
          case Identity.Natural(fs) => fs; case _ => Nil
        })).toSet
        indexes.foreach { ix =>
          val missing = ix.fields.filterNot(declared)
          if (missing.nonEmpty) throw new IllegalArgumentException(
            s"add_vertex_indexes: vertex '$vertex' does not declare " +
              missing.mkString("[", ", ", "]"))
        }
        // idempotent on the ordered field tuple, derived sets included
        var present = (v.derivedIndexes ++ v.indexes).map(_.fields).toSet
        var authored = v.indexes
        indexes.foreach { ix =>
          if (!present(ix.fields)) { authored = authored :+ ix; present += ix.fields }
        }
        v.copy(indexes = authored)
      }
    }
  }

  /** Withdraw authored vertex indexes, REFUSING to touch derived ones
    * (physical.py:162-199: a derived index "would be re-registered by the
    * next finish_init; use RemoveSecondaryIdentitiesOp instead").
    */
  final case class RemoveVertexIndexes(vertex: String, fieldSets: Seq[Seq[String]]) extends EvolutionOp {
    def apply(s: GraphSchema) = {
      if (!s.vertexByName.contains(vertex)) throw new IllegalArgumentException(
        s"remove_vertex_indexes: unknown vertices: [$vertex]")
      mapVertex(s, vertex) { v =>
        val doomed  = fieldSets.map(_.toSet).toSet
        val derived = v.derivedIndexes.map(_.fields.toSet).toSet
        val collision = (doomed & derived).map(_.toSeq.sorted).toSeq.sortBy(_.mkString(","))
        if (collision.nonEmpty) throw new IllegalArgumentException(
          s"remove_vertex_indexes: vertex '$vertex' indexes " +
            collision.map(_.mkString("[", ", ", "]")).mkString(", ") +
            " are derived from secondary_identities and would be re-registered " +
            "by the next finish_init; use RemoveSecondaryIdentity instead")
        val present = (v.derivedIndexes ++ v.indexes).map(_.fields.toSet).toSet
        val unmatched = (doomed -- present).map(_.toSeq.sorted).toSeq.sortBy(_.mkString(","))
        if (unmatched.nonEmpty) throw new IllegalArgumentException(
          s"remove_vertex_indexes: vertex '$vertex' has no index on " +
            unmatched.map(_.mkString("[", ", ", "]")).mkString(", "))
        v.copy(indexes = v.indexes.filterNot(ix => doomed(ix.fields.toSet)))
      }
    }
  }

  /** Author indexes on an edge's PHYSICAL spec (physical.py:214-245): the
    * spec must pre-exist (manifest db_profile.edge_specs), duplicate
    * field-sets are rejected rather than deduped.
    */
  final case class AddEdgeIndexes(key: EdgeKey, indexes: Seq[IndexDef]) extends EvolutionOp {
    def apply(s: GraphSchema) = {
      val e = s.edgeByKey.getOrElse(key, throw new IllegalArgumentException(
        s"add_edge_indexes: unknown edge: $key"))
      if (indexes.isEmpty) throw new IllegalArgumentException(
        s"add_edge_indexes: edge $key lists no indexes")
      val spec = e.specIndexes.getOrElse(throw new IllegalArgumentException(
        s"add_edge_indexes: no physical spec for $key"))
      var existing = spec.map(_.fields.toSet).toSet
      val additions = indexes.map { ix =>
        if (existing(ix.fields.toSet)) throw new IllegalArgumentException(
          s"add_edge_indexes: $key already indexes ${ix.fields.mkString("[", ", ", "]")}")
        existing += ix.fields.toSet
        ix
      }
      s.copy(edges = s.edges.map(ed =>
        if (ed.key == key) ed.copy(specIndexes = Some(spec ++ additions)) else ed))
    }
  }

  /** Withdraw authored indexes from an edge physical spec (physical.py:248-276). */
  final case class RemoveEdgeIndexes(key: EdgeKey, fieldSets: Seq[Seq[String]]) extends EvolutionOp {
    def apply(s: GraphSchema) = {
      if (fieldSets.isEmpty) throw new IllegalArgumentException(
        s"remove_edge_indexes: edge $key lists no fields")
      val e = s.edgeByKey.getOrElse(key, throw new IllegalArgumentException(
        s"remove_edge_indexes: no physical spec for $key"))
      val spec = e.specIndexes.getOrElse(throw new IllegalArgumentException(
        s"remove_edge_indexes: no physical spec for $key"))
      val doomed  = fieldSets.map(_.toSet).toSet
      val present = spec.map(_.fields.toSet).toSet
      val unmatched = (doomed -- present).map(_.toSeq.sorted).toSeq.sortBy(_.mkString(","))
      if (unmatched.nonEmpty) throw new IllegalArgumentException(
        s"remove_edge_indexes: $key has no index on " +
          unmatched.map(_.mkString("[", ", ", "]")).mkString(", "))
      s.copy(edges = s.edges.map(ed =>
        if (ed.key == key)
          ed.copy(specIndexes = Some(spec.filterNot(ix => doomed(ix.fields.toSet))))
        else ed))
    }
  }

  /** flip directedness (reference SetEdgeDirectedOp, ops.py:744-763) */
  final case class SetEdgeDirected(key: EdgeKey, directed: Boolean) extends EvolutionOp {
    def apply(s: GraphSchema) = s.copy(edges = s.edges.map(e =>
      if (e.key == key) e.copy(directed = directed) else e))
  }

  /** Merge `sources` into one vertex type (reference `MergeVerticesOp`,
    * ops.py:61-96): properties union with the duplicate-property merge rules
    * of vertex.py:352-416 (typed beats untyped; conflicting types raise);
    * identity comes from `into` when it pre-exists, else from the first
    * source; incident edges retarget. Self-relations created by the merge
    * are rejected unless `allowSelfRelations` (they fuse previously distinct
    * endpoint slots).
    */
  final case class MergeVertices(sources: Seq[String], into: String,
      allowSelfRelations: Boolean = false,
      /** affirm ROW FUSION: a pipeline level producing the merged type more
        * than once means one source document yielded both pre-merge types —
        * after the merge they share an accumulator slot and assembly fuses
        * them into one node. Checked by [[MergeImpact.applyMergeVertices]]
        * (the schema-only apply can't see the ingestion model).
        */
      allowRowFusion: Boolean = false) extends EvolutionOp {
    require(sources.nonEmpty && !sources.contains(into),
      "sources must be non-empty and not include 'into'")

    /** vertex.py:352-416 duplicate-property merge: typed beats untyped,
      * equal types collapse, conflicting types raise.
      */
    private def mergeProps(a: Seq[FieldDef], b: Seq[FieldDef]): Seq[FieldDef] = {
      val out = scala.collection.mutable.LinkedHashMap.empty[String, FieldDef]
      (a ++ b).foreach { f =>
        out.get(f.name) match {
          case None => out(f.name) = f
          case Some(prev) => (prev.ftype, f.ftype) match {
            case (None, Some(_)) => out(f.name) = f
            case (Some(x), Some(y)) if x != y =>
              throw new IllegalArgumentException(
                s"merge_vertices: conflicting types for property '${f.name}': $x vs $y")
            case _ => // keep prev (typed or same)
          }
        }
      }
      out.values.toSeq
    }

    def apply(s: GraphSchema): GraphSchema = {
      sources.foreach(n => require(s.vertexByName.contains(n),
        s"merge_vertices: unknown source vertex '$n'"))
      val srcDefs = sources.map(s.vertexByName)
      val base = s.vertexByName.get(into)
        .getOrElse(srcDefs.head.copy(name = into))
      // identity = UNION of the natural identity fields in encounter order
      // (executed evolution-parity: merging city[cid] + company[coid] into
      // org yields identity [cid, coid] — the reference warns that rows
      // must carry ALL of them to collide, and unions anyway)
      def natFields(i: Identity): Seq[String] = i match {
        case Identity.Natural(fs) => fs
        case _                    => Nil
      }
      val merged0 = srcDefs.foldLeft(base)((acc, sv) =>
        acc.copy(properties = mergeProps(acc.properties, sv.properties),
          secondary = (acc.secondary ++ sv.secondary).distinctBy(_.name)))
      val unionId = (natFields(base.identity) ++
        srcDefs.flatMap(sv => natFields(sv.identity))).distinct
      val merged = if (unionId.nonEmpty)
        merged0.copy(identity = Identity.Natural(unionId)) else merged0
      val gone = sources.toSet
      def ren(n: String) = if (gone(n)) into else n
      val edges0 = s.edges.map(e => e.copy(source = ren(e.source), target = ren(e.target)))
      s.edges.zip(edges0).foreach { case (was, now) =>
        if (!allowSelfRelations && now.source == into && now.target == into &&
          was.source != was.target)
          throw new IllegalArgumentException(
            s"merge_vertices: edge ${was.key} becomes a self-relation on '$into' " +
              "(set allowSelfRelations to accept)")
      }
      // distinct edge defs may collapse onto one key after the rename —
      // MERGE them like the reference's redirect_and_merge_edges
      // (merge_core.py:217-246): property union typed-beats-untyped,
      // undirected wins; conflicting types/identity keys still raise
      // inside mergeEdgePair
      val edges = mergeDuplicateEdges(edges0)
      s.copy(
        vertices = s.vertices.filterNot(v => gone(v.name))
          .map(v => if (v.name == into) merged else v) ++
          (if (s.vertexByName.contains(into)) Nil else Seq(merged)),
        edges = edges)
    }
  }
}

/** Migration risk classification (reference graflo/migrate/risk.py:7-60):
  * additive ops are LOW, lookup-plane changes MEDIUM, destructive field/
  * collection ops HIGH, identity/rekey changes CRITICAL. A migration is
  * backward compatible iff every op is LOW.
  */
object Risk {
  sealed trait Level extends Ordered[Level] {
    private def rank: Int = this match {
      case Low => 0; case Medium => 1; case High => 2; case Critical => 3
    }
    def compare(that: Level): Int = rank.compare(that.rank)
  }
  case object Low      extends Level
  case object Medium   extends Level
  case object High     extends Level
  case object Critical extends Level

  import EvolutionOp._
  def classify(op: EvolutionOp): Level = op match {
    case _: AddVertex | _: AddProperty | _: AddEdge | _: InverseEdge
       | _: AddEdgeProperty
       // reference migrate/risk.py LOW_RISK_OPS: ADD_VERTEX_INDEX / ADD_EDGE_INDEX
       | _: AddVertexIndexes | _: AddEdgeIndexes => Low
    case _: AddSecondaryIdentity | _: RemoveSecondaryIdentity
       | _: RenameRelation | _: RenameRelations | _: RenameVertex
       | _: RenameVertices
       | _: RenameProperty | _: RenameEdgeProperty | _: SetEdgeDirected
       // reference migrate/risk.py MEDIUM_RISK_OPS: REMOVE_*_INDEX
       | _: RemoveVertexIndexes | _: RemoveEdgeIndexes => Medium
    case _: RemoveProperty | _: RemoveVertex | _: RemoveEdge
       | _: SetFieldType | _: SetEdgeFieldType
       | _: RetargetEdge | _: RemoveEdgeProperty
       | _: MergeEdges => High
    case _: ReplaceIdentity | _: ReplaceEdgeIdentities | _: MergeVertices => Critical
  }

  /** Per-op risk report (migrate/diff.py:86-91 `risk_assessment`). */
  def report(ops: Seq[EvolutionOp]): Seq[(EvolutionOp, Level)] =
    ops.map(op => op -> classify(op))

  /** migrate/risk.py `is_backward_compatible_operations` */
  def isBackwardCompatible(ops: Seq[EvolutionOp]): Boolean =
    ops.forall(classify(_) == Low)

  /** Ops whose effect extends past the schema into the INGESTION model
    * (reference ops.py INGESTION_REWRITING_OPS, 1.10.5): applying one to a
    * manifest that carries no ingestion block silently drops that half of
    * the work — the schema gains renamed vertices while the resources keep
    * pointing at the old names. Every op kind in graft's vocabulary is
    * classified (`IngestionReachSpec` asserts exhaustiveness, mirroring
    * the reference's test_every_op_is_classified_for_ingestion_reach).
    * graft's `Sanitize` and `Project` are surfaced as op GENERATORS /
    * separate modules, so the reference's `sanitize` / `project_manifest`
    * / `rename_resources` members classify there, not here.
    */
  def reachesIngestion(op: EvolutionOp): Boolean = op match {
    case _: RenameVertex | _: RenameVertices | _: RemoveVertex
       | _: RenameProperty | _: RemoveProperty
       | _: RenameRelation | _: RenameRelations | _: RemoveEdge
       | _: MergeEdges | _: MergeVertices | _: ReplaceIdentity
       | _: InverseEdge => true
    case _: AddVertex | _: AddProperty | _: AddEdge | _: AddEdgeProperty
       | _: RemoveEdgeProperty | _: RenameEdgeProperty | _: SetFieldType
       | _: SetEdgeFieldType
       | _: SetEdgeDirected | _: RetargetEdge | _: ReplaceEdgeIdentities
       | _: AddSecondaryIdentity | _: RemoveSecondaryIdentity
       | _: AddVertexIndexes | _: RemoveVertexIndexes
       | _: AddEdgeIndexes | _: RemoveEdgeIndexes => false
  }

  /** Names of the ops reaching the ingestion model, in order (reference
    * `ops_reaching_ingestion`, ops.py:1010-1017) — the reference's op
    * tokens, so migration tooling can warn in its words.
    */
  def opsReachingIngestion(ops: Seq[EvolutionOp]): Seq[String] =
    ops.filter(reachesIngestion).map {
      case _: RenameVertex | _: RenameVertices => "rename_vertices"
      case _: RemoveVertex                     => "remove_vertices"
      case _: RenameProperty                   => "rename_vertex_properties"
      case _: RemoveProperty                   => "remove_vertex_properties"
      case _: RenameRelation | _: RenameRelations => "rename_relations"
      case _: RemoveEdge                       => "remove_edges"
      case _: MergeEdges                       => "merge_edges"
      case _: MergeVertices                    => "merge_vertices"
      case _: ReplaceIdentity                  => "replace_identity"
      case _: InverseEdge                      => "add_inverse_edges"
      case other => throw new IllegalStateException(s"unclassified: $other")
    }
}

/** Linear revision chain (reference evolution/revision.py:68-260):
  * content-addressed revision ids, parent links, ordered application, and
  * downgrade-boundary checks. Persistence is the caller's concern (the store
  * can serialize the chain next to INDEX.json).
  */
final case class Revision(
    id: String,
    downRevision: Option[String],
    ops: Seq[EvolutionOp],
    label: String = ""
)

object Revision {
  /** Deterministic id over the rendered ops + parent (revision.py:53-66). */
  def idOf(ops: Seq[EvolutionOp], down: Option[String]): String = {
    val payload = (down.getOrElse("") +: ops.map(_.toString)).mkString("\n")
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(payload.getBytes("UTF-8"))
      .take(6).map(b => f"$b%02x").mkString
  }

  def build(ops: Seq[EvolutionOp], down: Option[String], label: String = ""): Revision =
    Revision(idOf(ops, down), down, ops, label)
}

final case class RevisionChain(revisions: Seq[Revision]) {
  /** Root→head link order (revision.py:402-430 `_link_order`); broken or
    * forked chains raise.
    */
  def ordered: Seq[Revision] = {
    val byDown = revisions.groupBy(_.downRevision)
    byDown.values.find(_.size > 1).foreach { dup =>
      throw new IllegalStateException(
        s"revision chain forks at ${dup.map(_.id).mkString(", ")}")
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[Revision]
    var cur: Option[String] = None
    while (out.size < revisions.size) {
      val next = byDown.get(cur).map(_.head).getOrElse(
        throw new IllegalStateException(
          s"revision chain broken after ${cur.getOrElse("<root>")}"))
      out += next
      cur = Some(next.id)
    }
    out.toSeq
  }

  def head: Option[Revision] = ordered.lastOption

  /** Apply revisions in order up to (and including) `to`; None = head. */
  def upgrade(schema: GraphSchema, to: Option[String] = None): GraphSchema = {
    val chain = ordered
    val upto = to match {
      case None => chain
      case Some(id) =>
        val i = chain.indexWhere(_.id == id)
        require(i >= 0, s"unknown revision '$id'")
        chain.take(i + 1)
    }
    upto.foldLeft(schema)((s, r) => Evolution(s, r.ops))
  }

  def withRevision(r: Revision): RevisionChain = RevisionChain(revisions :+ r)

  /** Downgrade from head back to (and including) `to`: applies the INVERSE
    * of each later revision in reverse order (reference revision.py:263-340
    * `downgrade_to`). Raises when a non-invertible op (destructive or
    * identity-changing) sits on the path — the reference's irreversible-
    * boundary check.
    */
  def downgradeTo(schema: GraphSchema, to: String): GraphSchema = {
    val chain = ordered
    val i = chain.indexWhere(_.id == to)
    require(i >= 0, s"unknown revision '$to'")
    val toUndo = chain.drop(i + 1).reverse
    toUndo.foldLeft(schema) { (s, r) =>
      val inverses = r.ops.reverse.map(op => Evolution.invert(op).getOrElse(
        throw new IllegalStateException(
          s"revision ${r.id} contains non-invertible op $op; cannot downgrade past it")))
      Evolution(s, inverses)
    }
  }
}

/** Store-flavor name sanitization (reference hq/sanitizer.py +
  * evolution SanitizeOp): rewrite vertex / relation / property names into
  * the target-safe charset as a LIST of structural rename ops, so the
  * existing op application, store rewrites, and revision chains apply
  * unchanged — the same composition the reference uses ("owns no mutation
  * logic of its own; builds evolution ops").
  *
  * Policy (the graft store's own constraints, mirroring the reference's
  * per-DB-flavor rules): lowercase; any char outside [a-z0-9_] becomes
  * `_`; runs of `_` collapse (the store layout reserves `__` for edge-key
  * encoding); leading/trailing `_` strip; a leading digit or emptied name
  * gets an `n_` prefix; truncate to `maxLen`. Post-sanitization collisions
  * get deterministic `_2`, `_3`, … suffixes in sorted-original order.
  */
object Sanitize {

  private[evolve] def clean(name: String, maxLen: Int): String = {
    val lowered = name.toLowerCase
      .map(c => if (c.isLetterOrDigit && c < 128) c else '_')
      .replaceAll("_+", "_")
      .stripPrefix("_").stripSuffix("_")
    val prefixed =
      if (lowered.isEmpty || lowered.head.isDigit) s"n_$lowered" else lowered
    prefixed.take(maxLen)
  }

  /** Deterministic collision-free mapping old→new for one namespace. */
  private def mapping(names: Seq[String], maxLen: Int): Map[String, String] = {
    val taken = scala.collection.mutable.Set.empty[String]
    names.sorted.map { n =>
      val base = clean(n, maxLen)
      val out = Iterator.from(1)
        .map(i => if (i == 1) base else s"${base.take(maxLen - 2)}_$i")
        .find(c => !taken(c)).get
      taken += out
      n -> out
    }.toMap
  }

  /** The collision-free rename table for an arbitrary name set, sorted by
    * original — the sanitizer's decision surface exposed for inspection /
    * oracling (schema names are metadata: driver-small by definition).
    */
  def table(names: Seq[String], maxLen: Int = 63): Seq[(String, String)] =
    mapping(names, maxLen).toSeq.sortBy(_._1)

  /** The op list turning `s` into its sanitized form (empty when `s` is
    * already clean — sanitization is idempotent).
    */
  def ops(s: GraphSchema, maxLen: Int = 63): Seq[EvolutionOp] = {
    import EvolutionOp._
    val out = scala.collection.mutable.ArrayBuffer.empty[EvolutionOp]
    val vmap = mapping(s.vertices.map(_.name), maxLen)
    vmap.toSeq.sortBy(_._1).foreach { case (from, to) =>
      if (from != to) out += RenameVertex(from, to)
    }
    // property renames address vertices by their POST-rename names; only
    // DECLARED properties rename (identity-derived columns follow their
    // identity definition, which RenameProperty's apply keeps aligned)
    s.vertices.sortBy(_.name).foreach { v =>
      val pmap = mapping(v.properties.map(_.name), maxLen)
      pmap.toSeq.sortBy(_._1).foreach { case (from, to) =>
        if (from != to) out += RenameProperty(vmap(v.name), from, to)
      }
    }
    // relation renames: keys live in the post-vertex-rename space; dedupe
    // per (source, target) endpoint pair so colliding relations suffix
    s.edges.groupBy(e => (e.source, e.target)).toSeq.sortBy(_._1).foreach {
      case ((src, tgt), edges) =>
        val rmap = mapping(edges.map(_.relation), maxLen)
        edges.sortBy(_.relation).foreach { e =>
          val to = rmap(e.relation)
          if (e.relation != to)
            out += RenameRelation(EdgeKey(vmap(src), vmap(tgt), e.relation), to)
        }
    }
    out.toSeq
  }

  /** One-liner mirroring `Sanitizer.sanitize_manifest`. */
  def apply(s: GraphSchema, maxLen: Int = 63): GraphSchema =
    Evolution(s, ops(s, maxLen))
}

object Evolution {

  def apply(s: GraphSchema, ops: Seq[EvolutionOp]): GraphSchema =
    ops.foldLeft(s)((acc, op) => op(acc))

  /** Autogenerate the op chain turning `from` into `to` (the reference's
    * autogenerate.py diff_manifests, executed-parity pinned by
    * ReferenceAutogenParitySpec): additive/destructive vertex, property,
    * edge, secondary-identity, edge-property, and field-TYPE differences.
    * Renames are not guessed (the reference requires RenameHints);
    * identity replacements carry retire=keep like the reference's
    * `_identity_ops` (an autogenerated diff states the target's truth —
    * the target declares no retired secondary, so none is minted).
    */
  def diff(from: GraphSchema, to: GraphSchema): Seq[EvolutionOp] = {
    import EvolutionOp._
    val ops = scala.collection.mutable.ArrayBuffer.empty[EvolutionOp]
    val fromV = from.vertexByName; val toV = to.vertexByName
    (toV.keySet -- fromV.keySet).toSeq.sorted.foreach(n => ops += AddVertex(toV(n)))
    (fromV.keySet -- toV.keySet).toSeq.sorted.foreach(n => ops += RemoveVertex(n))
    (fromV.keySet & toV.keySet).toSeq.sorted.foreach { n =>
      val a = fromV(n); val b = toV(n)
      val ap = a.properties.map(_.name).toSet; val bp = b.properties.map(_.name).toSet
      (bp -- ap).toSeq.sorted.foreach(p =>
        ops += AddProperty(n, b.properties.find(_.name == p).get))
      (ap -- bp).toSeq.sorted.foreach(p => ops += RemoveProperty(n, p))
      // field-type drift on shared properties (reference change_field_types)
      (ap & bp).toSeq.sorted.foreach { p =>
        val at = a.properties.find(_.name == p).flatMap(_.ftype)
        val bt = b.properties.find(_.name == p).flatMap(_.ftype)
        if (at != bt) bt.foreach(t => ops += SetFieldType(n, p, t))
      }
      if (a.identity != b.identity)
        ops += ReplaceIdentity(n, b.identity, retire = "keep")
      val asec = a.secondary.map(_.name).toSet
      val bsec = b.secondary.map(_.name).toSet
      (bsec -- asec).toSeq.sorted.foreach(sn =>
        ops += AddSecondaryIdentity(n, b.secondary.find(_.name == sn).get))
      (asec -- bsec).toSeq.sorted.foreach(sn => ops += RemoveSecondaryIdentity(n, sn))
    }
    val fromE = from.edgeByKey.keySet; val toE = to.edgeByKey.keySet
    (toE -- fromE).toSeq.sortBy(_.storeName).foreach(k => ops += AddEdge(to.edgeByKey(k)))
    (fromE -- toE).toSeq.sortBy(_.storeName).foreach(k => ops += RemoveEdge(k))
    (fromE & toE).toSeq.sortBy(_.storeName).foreach { k =>
      val a = from.edgeByKey(k); val b = to.edgeByKey(k)
      val apn = a.properties.map(_.name).toSet; val bpn = b.properties.map(_.name).toSet
      (bpn -- apn).toSeq.sorted.foreach(p =>
        ops += AddEdgeProperty(k, b.properties.find(_.name == p).get))
      (apn -- bpn).toSeq.sorted.foreach(p => ops += RemoveEdgeProperty(k, p))
    }
    ops.toSeq
  }

  /** Structural inverse of an op, when one exists (drives
    * `RevisionChain.downgradeTo`). Destructive ops (removals, merges,
    * identity replacement, retargets) are NOT invertible — the removed
    * definition/data is gone — and return None.
    */
  def invert(op: EvolutionOp): Option[EvolutionOp] = {
    import EvolutionOp._
    op match {
      case AddVertex(v)                 => Some(RemoveVertex(v.name))
      case RenameVertex(a, b)           => Some(RenameVertex(b, a))
      case RenameVertices(m)            => Some(RenameVertices(m.map(_.swap)))
      case AddProperty(vx, f)           => Some(RemoveProperty(vx, f.name))
      case RenameProperty(vx, a, b)     => Some(RenameProperty(vx, b, a))
      case AddEdge(e)                   => Some(RemoveEdge(e.key))
      case RenameRelation(k, to)        => Some(RenameRelation(k.copy(relation = to), k.relation))
      case AddSecondaryIdentity(vx, s)  => Some(RemoveSecondaryIdentity(vx, s.name))
      case AddEdgeProperty(k, f)        => Some(RemoveEdgeProperty(k, f.name))
      case RenameEdgeProperty(k, a, b)  => Some(RenameEdgeProperty(k, b, a))
      // index ADDS are idempotent-skip on already-present field tuples
      // (physical.py add_vertex_index), so a blind Remove inverse would
      // delete indexes the op never added — or hit the derived-refusal.
      // Like SetEdgeDirected, they don't record prior state: not invertible.
      // SetEdgeDirected does not record the PRIOR value, so a blind flip is
      // wrong when the op was a no-op — not invertible
      case _                            => None
    }
  }

  /** Risk-annotated diff (reference migrate/diff.py:49-200 `SchemaDiff` with
    * per-op risk): the op chain plus its classification and the overall
    * backward-compatibility verdict.
    */
  def diffWithRisk(from: GraphSchema, to: GraphSchema)
      : (Seq[(EvolutionOp, Risk.Level)], Boolean) = {
    val ops = diff(from, to)
    (Risk.report(ops), Risk.isBackwardCompatible(ops))
  }

  /** Apply the data rewrites an op chain implies on a live store (the
    * reference's migrate/ emitters + rewrite.py, as DataFrame jobs): rename
    * property → column rename rewrite; replace identity → re-key (re-mint
    * synthetic ids); remove property → column drop. Schema-only ops touch no
    * data.
    */
  def migrateStore(store: GraphStore, ops: Seq[EvolutionOp]): GraphSchema = {
    import EvolutionOp._
    import org.apache.spark.sql.functions.col
    var schema = store.schema

    /** rewrite the src_/dst_ endpoint columns of every stored edge incident
      * to `vx` — edges are keyed on the vertex identity, so identity-affecting
      * vertex rewrites must cascade or every traversal/dedup breaks.
      */
    def rewriteIncidentEdges(vx: String)(rewrite: (org.apache.spark.sql.DataFrame, String) => org.apache.spark.sql.DataFrame): Unit =
      schema.edges.filter(e => e.source == vx || e.target == vx).foreach { e =>
        store.readEdges(e.key).foreach { df =>
          var out = df
          if (e.source == vx) out = rewrite(out, "src_")
          if (e.target == vx) out = rewrite(out, "dst_")
          store.overwriteEdges(e.key, out)
        }
      }

    ops.foreach { op =>
      op match {
        case RenameProperty(vx, from, to) =>
          store.readVertices(vx).foreach { df =>
            store.overwriteVertices(vx, df.withColumnRenamed(from, to))
          }
          val wasIdField = schema.vertex(vx).idColumns.contains(from)
          if (wasIdField) rewriteIncidentEdges(vx) { (df, pfx) =>
            df.withColumnRenamed(s"$pfx$from", s"$pfx$to")
          }
        case RemoveProperty(vx, f) =>
          store.readVertices(vx).foreach(df => store.overwriteVertices(vx, df.drop(f)))
        case RenameEdgeProperty(key, from, to) =>
          store.readEdges(key).foreach(df =>
            store.overwriteEdges(key, df.withColumnRenamed(from, to)))
        case RemoveEdgeProperty(key, f) =>
          store.readEdges(key).foreach(df => store.overwriteEdges(key, df.drop(f)))
        case MergeVertices(sources, into, _, _) =>
          // union the source collections into the target and re-merge on the
          // target identity; incident edge collections move to their new key
          // (the old-named collection stays on disk — migration skips
          // unknown collections with a warning, same as GraphMigration)
          val intoDefAfter = op(schema).vertex(into)
          val frames = (sources :+ into).flatMap(n =>
            store.readVertices(n).map(df => n -> df))
          if (frames.nonEmpty) {
            // cross-collection merge order must be COLLECTION order (later
            // source beats earlier, 'into' wins overall) — a bare
            // monotonically_increasing_id per frame interleaves partition
            // ids across frames and picks winners nondeterministically, so
            // the generation is (frame ordinal, row id) lexicographically
            val unioned = frames.zipWithIndex.map { case ((_, df), idx) =>
              df.withColumn("_gen_m", org.apache.spark.sql.functions.struct(
                org.apache.spark.sql.functions.lit(idx.toLong).as("f"),
                org.apache.spark.sql.functions.monotonically_increasing_id().as("r")))
            }.reduceLeft(_.unionByName(_, allowMissingColumns = true))
            store.overwriteVertices(into,
              graft.pipeline.MergeOps.mergeDocBasis(unioned,
                intoDefAfter.idColumns, "_gen_m"))
          }
          val gone = sources.toSet
          schema.edges.foreach { e =>
            val newKey = EdgeKey(
              if (gone(e.source)) into else e.source,
              if (gone(e.target)) into else e.target, e.relation)
            if (newKey != e.key) store.readEdges(e.key).foreach { df =>
              val merged = store.readEdges(newKey) match {
                case Some(existing) =>
                  existing.unionByName(df, allowMissingColumns = true)
                case None => df
              }
              store.overwriteEdges(newKey, merged)
            }
          }
        case ReplaceIdentity(vx, _, _, _) =>
          val oldIdCols = schema.vertex(vx).idColumns
          store.readVertices(vx).foreach { df =>
            val vdefNew = op(schema).vertex(vx)
            val newIdCols = vdefNew.idColumns
            // id columns present in BOTH identities are value-stable: never
            // rename them (renaming would strip the new identity's own
            // column). Only old-ONLY id columns move aside while the new
            // identity is minted.
            val shared  = oldIdCols.filter(newIdCols.contains)
            // Old id columns that the NEW identity digests from (e.g.
            // Natural(["name"]) → Hash(["name"])) must stay in place while
            // the new identity is minted — renaming them first would make
            // IdentityDigest.withIdentity reference a missing column. They
            // keep their original name (they remain plain data fields), and
            // act like `shared` for the old→new edge-rekey mapping.
            val digestSrc: Set[String] = vdefNew.identity match {
              case Identity.Hash(fs)        => fs.toSet
              case Identity.Funnel(bs, _)   =>
                bs.flatMap(b => b.whenAllPresent ++ b.digestFields).toSet
              case _                        => Set.empty
            }
            val keptOld = oldIdCols.filterNot(newIdCols.contains)
              .filter(digestSrc.contains)
            val oldOnly = oldIdCols.filterNot(newIdCols.contains)
              .filterNot(digestSrc.contains)
            val newOnly = newIdCols.filterNot(shared.contains)
            val withOld = oldOnly.foldLeft(df)((d, c) =>
              d.withColumnRenamed(c, s"__old_$c"))
            // a checkpoint freezes row-ordinal-derived ids (a cache would not)
            val reKeyedBoth = graft.graph.Rounds.materialize(
              graft.expr.IdentityDigest.withIdentity(vdefNew)(withOld))
            // vertices: restore non-synthetic old-only columns as plain
            // properties; a replaced synthetic _id is dropped
            val vertexOut = oldOnly.foldLeft(reKeyedBoth) { (d, c) =>
              if (c == GraphSchema.SyntheticId) d.drop(s"__old_$c")
              else d.withColumnRenamed(s"__old_$c", c)
            }
            store.overwriteVertices(vx, vertexOut)
            // re-key stored edges via the (old → new) mapping
            val mapping = reKeyedBoth.select(
              (oldOnly.map(c => s"__old_$c") ++ keptOld ++ shared ++ newOnly).map(col): _*)
            rewriteIncidentEdges(vx) { (edf, pfx) =>
              var m = mapping
              oldOnly.foreach(c => m = m.withColumnRenamed(s"__old_$c", s"$pfx$c"))
              (keptOld ++ shared).foreach(c => m = m.withColumnRenamed(c, s"$pfx$c"))
              newOnly.foreach(c => m = m.withColumnRenamed(c, s"__new_$pfx$c"))
              val joinKeys = oldIdCols.map(pfx + _)
              // shared keys stay (they are part of the new identity too);
              // old-only and kept-old keys are replaced by the mapped
              // new-only columns (they are no longer identity columns)
              val keep = edf.columns.filterNot((oldOnly ++ keptOld).map(pfx + _).contains)
              edf.join(m, joinKeys, "left")
                .select((keep.map(col) ++ newOnly.map(c =>
                  col(s"__new_$pfx$c").as(s"$pfx$c"))): _*)
            }
          }
        case _ => // schema-only
      }
      schema = op(schema)
    }
    schema
  }
}
