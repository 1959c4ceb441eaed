package graft.rdf

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model._

/** RDF surface (reference graflo/data_source/rdf.py:64-424 +
  * graflo/hq/rdf_inferencer.py:98-260), Spark-first: no rdflib — N-Triples
  * parse as a columnar regexp over lines, subject-grouping as a groupBy, and
  * OWL/RDFS TBox inference as plain filters over the triple DataFrame.
  */
object Rdf {

  val RdfType = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
  val OwlClass = "http://www.w3.org/2002/07/owl#Class"
  val OwlObjectProperty = "http://www.w3.org/2002/07/owl#ObjectProperty"
  val OwlDatatypeProperty = "http://www.w3.org/2002/07/owl#DatatypeProperty"
  val RdfsDomain = "http://www.w3.org/2000/01/rdf-schema#domain"
  val RdfsRange = "http://www.w3.org/2000/01/rdf-schema#range"

  /** Parse N-Triples lines into (s, p, o, isLiteral). Handles IRIs
    * `<...>` and literals `"..."` (language tags / datatypes stripped —
    * same normalization the reference applies when grouping into docs).
    */
  def parseNTriples(lines: DataFrame): DataFrame = {
    val line = trim(col(lines.columns.head))
    lines.select(
      regexp_extract(line, "^<([^>]+)>", 1).as("s"),
      regexp_extract(line, "^<[^>]+>\\s+<([^>]+)>", 1).as("p"),
      regexp_extract(line, "^<[^>]+>\\s+<[^>]+>\\s+(.+?)\\s*\\.\\s*$", 1).as("oraw"))
      .where(col("s") =!= "" && col("p") =!= "")
      .withColumn("isLiteral", !col("oraw").startsWith("<"))
      .withColumn("o",
        when(col("isLiteral"), regexp_extract(col("oraw"), "^\"(.*)\"", 1))
          .otherwise(regexp_extract(col("oraw"), "^<([^>]+)>", 1)))
      .drop("oraw")
  }

  def readNTriples(spark: SparkSession, path: String): DataFrame =
    parseNTriples(spark.read.text(path))

  /** Parse line-oriented Turtle (reference rdf.py:64-424 reads .ttl via
    * rdflib; this is the engine's columnar subset): `@prefix` declarations,
    * one triple per line, IRIs `<...>`, prefixed names `p:local`, the `a`
    * keyword (rdf:type), and literals with optional `@lang` / `^^datatype`
    * suffixes (stripped, as in [[parseNTriples]]).
    *
    * The prefix table is collected to the driver (it is a handful of header
    * lines) and expansion is a columnar map lookup — the triple body never
    * leaves executors. Multi-line statements (`;` / `,` continuation) are
    * out of scope; pre-flatten such files.
    */
  def parseTurtle(lines: DataFrame): DataFrame = {
    val raw = lines.select(trim(col(lines.columns.head)).as("line"))
      .where(col("line") =!= "" && !col("line").startsWith("#"))
    val prefixRe = "^@prefix\\s+([A-Za-z][\\w-]*)?:\\s*<([^>]+)>"
    val prefixes: Map[String, String] = raw
      .where(col("line").startsWith("@prefix"))
      .select(regexp_extract(col("line"), prefixRe, 1).as("p"),
        regexp_extract(col("line"), prefixRe, 2).as("iri"))
      .where(col("iri") =!= "")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val pmap = typedLit(prefixes)

    val term = "(<[^>]+>|\"(?:[^\"\\\\]|\\\\.)*\"(?:@[\\w-]+|\\^\\^\\S+)?|[A-Za-z][\\w.-]*:[\\w.-]*|a)"
    val stmt = s"^$term\\s+$term\\s+$term\\s*\\.\\s*$$"

    val parsed = raw.where(!col("line").startsWith("@"))
      .select(
        regexp_extract(col("line"), stmt, 1).as("ts"),
        regexp_extract(col("line"), stmt, 2).as("tp"),
        regexp_extract(col("line"), stmt, 3).as("to"))
      .where(col("ts") =!= "" && col("tp") =!= "")

    def iriOf(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
      val prefix = substring_index(c, ":", 1)
      val local = c.substr(length(prefix) + lit(2), lit(100000))
      when(c.startsWith("<"), regexp_extract(c, "^<([^>]+)>", 1))
        .when(c === "a", lit(RdfType))
        .otherwise(coalesce(concat(element_at(pmap, prefix), local), c))
    }

    parsed.select(
      iriOf(col("ts")).as("s"),
      iriOf(col("tp")).as("p"),
      col("to").as("oraw"))
      .withColumn("isLiteral", col("oraw").startsWith("\""))
      .withColumn("o",
        when(col("isLiteral"), regexp_extract(col("oraw"), "^\"((?:[^\"\\\\]|\\\\.)*)\"", 1))
          .otherwise(iriOf(col("oraw"))))
      .drop("oraw")
  }

  def readTurtle(spark: SparkSession, path: String): DataFrame =
    parseTurtle(spark.read.text(path))

  /** Minimal RDF/XML parser (reference rdf.py:42-48 maps `.rdf`/`.xml` →
    * rdflib's "xml" parser). RDF/XML is not line-splittable, so files are
    * parsed WHOLE with the JDK's namespace-aware DOM — distributed one file
    * per task over a `binaryFile` scan: at scale the parallelism unit is the
    * file, which is how RDF/XML corpora ship (many export files).
    *
    * Subset covered: node elements (`rdf:Description` or typed — the type
    * QName becomes an `rdf:type` triple), `rdf:about` / `rdf:ID` /
    * `rdf:nodeID` subjects, property elements carrying `rdf:resource` /
    * `rdf:nodeID` refs, nested node elements, `rdf:parseType="Resource"`,
    * and text literals (`rdf:datatype` / `xml:lang` stripped — the same
    * normalization as [[parseNTriples]]). DTDs are refused (untrusted
    * input; also keeps the parse entity-expansion-safe).
    */
  def parseRdfXmlBytes(bytes: Array[Byte], fileTag: String): Seq[(String, String, String, Boolean)] = {
    val RdfNs = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    val dbf = javax.xml.parsers.DocumentBuilderFactory.newInstance()
    dbf.setNamespaceAware(true)
    dbf.setFeature("http://apache.org/xml/features/disallow-doctype-decl", true)
    val doc = dbf.newDocumentBuilder().parse(new java.io.ByteArrayInputStream(bytes))
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, String, Boolean)]
    var blankCounter = 0
    def freshBlank(): String = { blankCounter += 1; s"_:$fileTag-b$blankCounter" }
    def attr(e: org.w3c.dom.Element, local: String): Option[String] =
      Option(e.getAttributeNodeNS(RdfNs, local)).map(_.getValue)
    def ns(e: org.w3c.dom.Element): String = Option(e.getNamespaceURI).getOrElse("")
    def childElems(e: org.w3c.dom.Element): Seq[org.w3c.dom.Element] = {
      val nl = e.getChildNodes
      (0 until nl.getLength).map(nl.item).collect { case el: org.w3c.dom.Element => el }
    }
    def nodeElem(e: org.w3c.dom.Element): String = {
      // rdf:nodeID labels are FILE-scoped (rdflib scopes blank ids per
      // parse): a bare "_:b1" from two files must not merge into one node
      val subj = attr(e, "about")
        .orElse(attr(e, "ID").map("#" + _))
        .orElse(attr(e, "nodeID").map(b => s"_:$fileTag-$b"))
        .getOrElse(freshBlank())
      val qn = ns(e) + e.getLocalName
      if (qn != RdfNs + "Description") out += ((subj, RdfType, qn, false))
      childElems(e).foreach(p => propElem(subj, p))
      subj
    }
    def propElem(subj: String, p: org.w3c.dom.Element): Unit = {
      val pred = ns(p) + p.getLocalName
      (attr(p, "resource"), attr(p, "nodeID"), attr(p, "parseType")) match {
        case (Some(r), _, _) => out += ((subj, pred, r, false))
        case (_, Some(b), _) => out += ((subj, pred, s"_:$fileTag-$b", false))
        case (_, _, Some("Resource")) =>
          val b = freshBlank()
          out += ((subj, pred, b, false))
          childElems(p).foreach(pp => propElem(b, pp))
        case _ =>
          val kids = childElems(p)
          if (kids.nonEmpty) kids.foreach(k => out += ((subj, pred, nodeElem(k), false)))
          else out += ((subj, pred, p.getTextContent, true))
      }
    }
    val root = doc.getDocumentElement
    if (ns(root) == RdfNs && root.getLocalName == "RDF")
      childElems(root).foreach(nodeElem)
    else { nodeElem(root); () }
    out.toSeq
  }

  def readRdfXml(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile").load(path)
      .select(col("path"), col("content")).as[(String, Array[Byte])]
      .mapPartitions(_.flatMap { case (p, bytes) =>
        // tag from the FULL path (md5 + basename): two part-files that
        // share a basename in different directories must not share a
        // blank-node scope
        val digest = java.security.MessageDigest.getInstance("MD5")
          .digest(p.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
        parseRdfXmlBytes(bytes, s"$digest-${p.split("/").last}")
      }).toDF("s", "p", "o", "isLiteral")
  }

  /** Extension dispatch mirroring the reference's `_EXT_FORMAT`
    * (rdf.py:42-48): `.nt` → N-Triples, `.ttl`/`.n3` → Turtle (the
    * line-oriented Turtle subset covers the N3 triple syntax the reference's
    * fixtures use), `.rdf`/`.xml` → RDF/XML.
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    val ext = path.substring(path.lastIndexOf('.') + 1).toLowerCase
    ext match {
      case "nt"          => readNTriples(spark, path)
      case "ttl" | "n3"  => readTurtle(spark, path)
      case "rdf" | "xml" => readRdfXml(spark, path)
      case other => throw new IllegalArgumentException(
        s"cannot determine RDF format for extension '.$other' (known: nt, ttl, n3, rdf, xml)")
    }
  }

  /** Group triples per subject into documents (reference rdf.py: triples
    * grouped per subject into docs): one row per subject with a
    * predicate→values map. Local names (fragment after #/ last /) are used
    * as field names, mirroring the reference's doc keys.
    */
  def triplesToDocs(triples: DataFrame): DataFrame = {
    val local = (c: org.apache.spark.sql.Column) =>
      element_at(split(c, "[#/]"), -1)
    // multi-valued predicates are routine (two rdf:type triples, repeated
    // properties) — group values per key first, or map_from_entries throws
    // on the duplicate key (mapKeyDedupPolicy=EXCEPTION)
    triples
      .groupBy(col("s").as("id"), local(col("p")).as("k"))
      .agg(sort_array(collect_list(col("o"))).as("vs"))
      .groupBy(col("id"))
      .agg(map_from_entries(collect_list(struct(col("k"), col("vs")))).as("props"))
  }

  /** gf: meta-ontology 1.4.0 semantic-anchoring predicates (reference
    * rdf/namespace.py: gf:semanticIri / gf:unit, reusing skos:exactMatch /
    * skos:altLabel rather than minting equivalents). Declared without
    * rdfs:domain upstream to allow multi-class attachment — same here.
    */
  val GfSemanticIri = "https://ontology.growgraph.dev/graflo/semanticIri"
  val GfUnit = "https://ontology.growgraph.dev/graflo/unit"
  val SkosExactMatch = "http://www.w3.org/2004/02/skos/core#exactMatch"
  val SkosAltLabel = "http://www.w3.org/2004/02/skos/core#altLabel"

  private def escapeLiteral(s: String): String =
    s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"
      case '\n' => "\\n"; case '\r' => "\\r"; case c => c.toString }

  /** Semantics block → triples on `subject` (reference
    * rdf/serializer.py:_emit_semantics: iri and exact_match as IRIs,
    * synonyms and unit as literals).
    */
  private def semanticsTriples(subject: String, s: graft.model.Semantics): Seq[String] =
    s.iri.map(i => s"$subject <$GfSemanticIri> <$i> .").toSeq ++
      s.exactMatch.map(i => s"$subject <$SkosExactMatch> <$i> .") ++
      s.synonyms.map(l => s"""$subject <$SkosAltLabel> "${escapeLiteral(l)}" .""") ++
      s.unit.map(u => s"""$subject <$GfUnit> "${escapeLiteral(u)}" .""").toSeq

  /** Manifest → RDF serialization (the reference's manifest↔RDF round-trip,
    * graflo/rdf/serializer.py + namespace.py): vertices become owl:Class,
    * edges owl:ObjectProperty with domain/range, typed fields
    * owl:DatatypeProperty with domain. Inverse of [[inferSchema]] up to
    * ordering. N-Triples lines, base IRI configurable.
    */
  def schemaToNTriples(schema: GraphSchema, base: String = "http://graft.local/"): Seq[String] = {
    def iri(n: String) = s"<$base$n>"
    val classes = schema.vertices.flatMap(v =>
      s"${iri(v.name)} <$RdfType> <$OwlClass> ." +:
        v.semantics.toSeq.flatMap(semanticsTriples(iri(v.name), _)))
    val fields = schema.vertices.flatMap(v => v.properties.flatMap { f =>
      Seq(s"${iri(f.name)} <$RdfType> <$OwlDatatypeProperty> .",
        s"${iri(f.name)} <$RdfsDomain> ${iri(v.name)} .") ++
        f.semantics.toSeq.flatMap(semanticsTriples(iri(f.name), _))
    })
    val edges = schema.edges.flatMap(e => Seq(
      s"${iri(e.relation)} <$RdfType> <$OwlObjectProperty> .",
      s"${iri(e.relation)} <$RdfsDomain> ${iri(e.source)} .",
      s"${iri(e.relation)} <$RdfsRange> ${iri(e.target)} .") ++
      e.semantics.toSeq.flatMap(semanticsTriples(iri(e.relation), _)))
    classes ++ fields ++ edges
  }

  /** OWL/RDFS TBox inference (rdf_inferencer.py:98-260): owl:Class →
    * vertex, owl:ObjectProperty (+domain/range) → edge (self-loops allowed),
    * owl:DatatypeProperty (+domain) → field on the domain vertex.
    */
  def inferSchema(triples: DataFrame): GraphSchema = {
    def local(u: String) = u.split("[#/]").last
    val typed = triples.where(col("p") === RdfType)
      .select(col("s"), col("o")).collect()
      .map(r => r.getString(0) -> r.getString(1))
    val classes = typed.filter(_._2 == OwlClass).map(_._1)
    val objProps = typed.filter(_._2 == OwlObjectProperty).map(_._1).toSet
    val dataProps = typed.filter(_._2 == OwlDatatypeProperty).map(_._1).toSet
    val domains = triples.where(col("p") === RdfsDomain)
      .select("s", "o").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val ranges = triples.where(col("p") === RdfsRange)
      .select("s", "o").collect().map(r => r.getString(0) -> r.getString(1)).toMap

    // semantic anchors read back onto the inferred elements (gf:
    // meta-ontology 1.4.0; emitted by schemaToNTriples) — round-trip face
    val semRows = triples.where(col("p").isin(
      GfSemanticIri, SkosExactMatch, SkosAltLabel, GfUnit))
      .select("s", "p", "o").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    val semBySubject: Map[String, graft.model.Semantics] =
      semRows.groupBy(_._1).map { case (s, rows) =>
        s -> graft.model.Semantics(
          iri = rows.find(_._2 == GfSemanticIri).map(_._3),
          exactMatch = rows.filter(_._2 == SkosExactMatch).map(_._3).toSeq.sorted,
          synonyms = rows.filter(_._2 == SkosAltLabel).map(_._3).toSeq.sorted,
          unit = rows.find(_._2 == GfUnit).map(_._3))
      }
    def semOf(subjectIri: String): Option[graft.model.Semantics] =
      semBySubject.get(subjectIri)

    val fieldsByClass = dataProps.toSeq.flatMap { dp =>
      domains.get(dp).map(d => local(d) -> FieldDef(local(dp), semantics = semOf(dp)))
    }.groupBy(_._1).view.mapValues(_.map(_._2)).toMap

    val classIri = classes.map(c => local(c) -> c).toMap
    val vertices = classes.map(local).sorted.map { c =>
      VertexDef(c, fieldsByClass.getOrElse(c, Nil), Identity.Natural(Seq("id")),
        semantics = classIri.get(c).flatMap(semOf))
    }
    val vnames = vertices.map(_.name).toSet
    val edges = objProps.toSeq.sorted.flatMap { op =>
      for {
        d <- domains.get(op).map(local) if vnames(d)
        r <- ranges.get(op).map(local) if vnames(r)
      } yield EdgeDef(d, r, local(op), semantics = semOf(op))
    }
    GraphSchema(vertices.toSeq, edges)
  }
}
