package graft.sources

import graft.SparkSpec
import graft.infer.RelationalInference
import graft.model.Identity
import org.apache.spark.sql.functions._

/** Live-JDBC coverage against embedded Derby (on the Spark classpath):
  * the partitioned read path of JdbcSource (reference sql.py keyset
  * cursor) and DatabaseMetaData-driven 3NF inference (reference
  * schema_inference.py:25-400 over information_schema).
  */
class JdbcSpec extends SparkSpec {

  private lazy val url: String = {
    System.setProperty("derby.system.home", "target")
    // absolute: Derby resolves a relative name against the home of whichever
    // suite booted it first in this JVM, which freshDir would not clean
    val dir = freshDir(new java.io.File("target/jdbc-spec-db").getAbsolutePath)
    val u = s"jdbc:derby:$dir"
    val conn = java.sql.DriverManager.getConnection(u + ";create=true")
    try {
      val st = conn.createStatement()
      st.execute("CREATE TABLE author (a_id INT PRIMARY KEY, a_name VARCHAR(32))")
      st.execute("CREATE TABLE book (b_id INT PRIMARY KEY, b_title VARCHAR(64), " +
        "b_price DECIMAL(8,2), a_ref INT REFERENCES author (a_id))")
      st.execute("CREATE TABLE wrote (w_author INT REFERENCES author (a_id), " +
        "w_book INT REFERENCES book (b_id), royalty DOUBLE, " +
        "PRIMARY KEY (w_author, w_book))")
      st.close()
      val pa = conn.prepareStatement("INSERT INTO author VALUES (?, ?)")
      (0 until 10).foreach { i => pa.setInt(1, i); pa.setString(2, s"author$i"); pa.addBatch() }
      pa.executeBatch(); pa.close()
      val pb = conn.prepareStatement("INSERT INTO book VALUES (?, ?, ?, ?)")
      (0 until 40).foreach { i =>
        pb.setInt(1, i); pb.setString(2, s"book$i")
        pb.setBigDecimal(3, new java.math.BigDecimal(s"$i.50")); pb.setInt(4, i % 10)
        pb.addBatch()
      }
      pb.executeBatch(); pb.close()
      val pw = conn.prepareStatement("INSERT INTO wrote VALUES (?, ?, ?)")
      (0 until 40).foreach { i =>
        pw.setInt(1, i % 10); pw.setInt(2, i); pw.setDouble(3, 0.1 * i); pw.addBatch()
      }
      pw.executeBatch(); pw.close()
    } finally conn.close()
    u
  }

  test("partitioned JDBC read returns every row exactly once, decimals as double") {
    val df = JdbcSource.read(spark, url,
      "SELECT b_id, b_title, b_price FROM book",
      partitionColumn = Some("b_id"), numPartitions = 4,
      lowerBound = 0L, upperBound = 40L)
    assert(df.rdd.getNumPartitions == 4)
    assert(df.count() == 40)
    assert(df.select(countDistinct("b_id")).head.getLong(0) == 40)
    // Derby reports uppercase identifiers; resolve case-insensitively
    val price = df.schema.fields.find(_.name.equalsIgnoreCase("b_price")).get
    assert(price.dataType == org.apache.spark.sql.types.DoubleType)
    assert(df.where(col("b_id") === 7).head.getDouble(2) == 7.5)
  }

  test("unpartitioned query path works") {
    val df = JdbcSource.read(spark, url, "SELECT count(*) AS n FROM author")
    assert(df.head.get(0).toString.toLong == 10L)
  }

  test("fromJdbcMetadata infers vertices from PK tables and edges from FK link tables") {
    val sch = RelationalInference.fromJdbcMetadata(url)
    assert(sch.vertices.map(_.name) == Seq("author", "book"))
    assert(sch.vertex("author").identity == Identity.Natural(Seq("a_id")))
    assert(sch.vertex("book").identity == Identity.Natural(Seq("b_id")))
    // book has ONE fk (a_ref) → vertex, not edge; wrote has two → edge
    assert(sch.edges.map(e => (e.source, e.target, e.relation)) ==
      Seq(("author", "book", "wrote")))
    // non-key, non-fk columns become edge properties
    assert(sch.edges.head.properties.map(_.name) == Seq("royalty"))
  }
}
