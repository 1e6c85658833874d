package graft

import graft.sources.Structured
import org.apache.spark.sql.functions._

/** S8 end-to-end over a real JDBC engine (embedded Derby, on the Spark
  * classpath): schema discovery → KG, partitioned data read → documents →
  * ingestion.
  */
class JdbcSourceSuite extends SparkFunSuite {
  import spark.implicits._

  private val url = "jdbc:derby:memory:graftdb;create=true"

  private lazy val setup: Unit = {
    val conn = java.sql.DriverManager.getConnection(url)
    val st = conn.createStatement()
    st.executeUpdate(
      "CREATE TABLE users (id INT PRIMARY KEY, name VARCHAR(64), email VARCHAR(64))")
    st.executeUpdate(
      "CREATE TABLE posts (id INT PRIMARY KEY, " +
        "title VARCHAR(128) CONSTRAINT title_nonempty CHECK (LENGTH(title) > 0), " +
        "body VARCHAR(256), rating DOUBLE, " +
        "owner_id INT REFERENCES users(id) ON DELETE NO ACTION)")
    st.executeUpdate(
      "CREATE TABLE comments (id INT PRIMARY KEY, body VARCHAR(256), " +
        "post_id INT REFERENCES posts(id) ON DELETE CASCADE)")
    st.executeUpdate("INSERT INTO users VALUES (1, 'Ada', 'ada@example.com')")
    st.executeUpdate("INSERT INTO users VALUES (2, 'Grace', 'grace@example.com')")
    (1 to 20).foreach { i =>
      st.executeUpdate(s"INSERT INTO posts VALUES ($i, 'Post Title $i', " +
        s"'The Platform handles request $i.', ${i % 5}.5, ${1 + i % 2})")
    }
    st.executeUpdate("INSERT INTO comments VALUES (1, 'Nice work', 1)")
    st.close(); conn.close()
  }

  private val derbyChecksSql =
    """SELECT t.TABLENAME, c.CONSTRAINTNAME, ck.CHECKDEFINITION
      |FROM SYS.SYSCHECKS ck
      |JOIN SYS.SYSCONSTRAINTS c ON ck.CONSTRAINTID = c.CONSTRAINTID
      |JOIN SYS.SYSTABLES t ON c.TABLEID = t.TABLEID
      |WHERE t.TABLETYPE = 'T'""".stripMargin

  test("discoverSchema over live JDBC feeds schemaToKg (S9 end-to-end)") {
    setup
    val (tables, fks, constraints) =
      Structured.discoverSchema(url, schemaPattern = "APP",
        checkConstraintSql = Some(derbyChecksSql))
    assert(tables.select("table_name").as[String].collect().toSet ==
      Set("users", "posts", "comments"))
    val (concepts, edges, rules) = Structured.schemaToKg(tables, fks, constraints, "db")
    assert(concepts.select("id").as[String].collect().toSet ==
      Set("db:User", "db:Post", "db:Comment"))
    val edgeMap = edges.select("source_id", "target_id", "relation_type")
      .as[(String, String, String)].collect()
      .map(e => (e._1, e._2) -> e._3).toMap
    assert(edgeMap(("db:Post", "db:User")) == "BELONGS_TO") // owner_id ownership rule
    assert(edgeMap(("db:Comment", "db:Post")) == "PART_OF") // ON DELETE CASCADE
    val ruleRows = rules.select("text", "concept_ids").as[(String, Seq[String])].collect()
    assert(ruleRows.length == 1)
    assert(ruleRows.head._1.startsWith("In posts, "))
    assert(ruleRows.head._1.toLowerCase.contains("length"))
    assert(ruleRows.head._2 == Seq("db:Post"))
  }

  test("readTable: range-partitioned JDBC scan reads disjoint slices in parallel") {
    setup
    val df = Structured.readTable(url, "posts",
      partitionOn = Some(("id", 0L, 21L, 4)))
    assert(df.rdd.getNumPartitions == 4)
    assert(df.count() == 20)
    assert(df.columns.map(_.toLowerCase).toSet ==
      Set("id", "title", "body", "rating", "owner_id"))
  }

  test("DB rows → documents → ingestion produces concepts (S8 end-to-end)") {
    setup
    val docs = Structured.readTableAsDocuments(url, "posts")
    assert(docs.count() == 20)
    val firstText = docs.orderBy("url").select("text").as[String].head()
    assert(firstText.startsWith("A post named 'Post Title"))
    assert(!firstText.contains("owner")) // internal *_id columns skipped

    // feed the serialized rows through the extraction pipeline
    val pages = docs.select(col("url"),
      lit(new java.sql.Timestamp(0L)).as("warc_ts"),
      encode(concat(lit("<html><body><p>"), col("text"), lit("</p></body></html>")),
        "UTF-8").cast("binary").as("html"),
      col("text"), lit("en").as("lang"), lit("1970-01-01").as("day"))
      .as[graft.core.PageRow]
    val ex = graft.pipeline.Ingest.extract(pages, graft.pipeline.Ingest.Config()).toDF()
    val concepts = graft.link.Linking.buildConcepts(
      graft.pipeline.Ingest.mentionsOf(ex), "db", graft.core.TextSpec.version)
    // "The Platform" and the post titles surface as concepts
    val names = concepts.select("name").as[String].collect().toSet
    assert(names.contains("The Platform"))
    assert(concepts.count() > 0)
  }

  // ---- structured/DB source modality (S8/S9, J8, F6–F8) ----

  test("F6/F7: natural-language row serialization skips internals, formats values") {
    import graft.sources.Structured
    val df = Seq(
      (1L, "Widget", "Does things", 2.5, true, "2020-01-01", 7L)
    ).toDF("id", "name", "description", "weight", "active", "created_at", "owner_id")
    val text = df.select(Structured.serializeNatural(df, "food_items").as("t"))
      .as[String].head()
    assert(text == "A food item named 'Widget' Does things with weight: 2.5, active: yes")
    val kv = df.select(Structured.serializeKeyValue(df, "food_items").as("t"))
      .as[String].head()
    assert(kv == "table=food_items, name=Widget, description=Does things, " +
      "weight=2.5, active=yes")
  }

  test("J8: FK classification priority order (mapping_rules.py:38-81)") {
    import graft.sources.Structured
    val cases = Seq(
      // (source_column, on_delete, table, nFks, nNonKey, expected)
      ("owner_id", "NO ACTION", "posts", 1, 5, "BELONGS_TO"),
      ("post_id", "NO ACTION", "post_tags", 2, 0, "USES"), // junction suffix
      ("a_id", "NO ACTION", "pairs", 2, 1, "USES"), // 2 FKs, ≤2 non-key cols
      ("parent_id", "CASCADE", "items", 1, 5, "PART_OF"),
      ("meal_template_id", "NO ACTION", "meals", 1, 5, "INSTANCE_OF"),
      ("other_id", "NO ACTION", "things", 1, 5, "PART_OF"))
    val df = cases.toDF("c", "d", "t", "nf", "nk", "expected")
    val got = df.select(col("expected"),
      Structured.classifyFk(col("c"), col("d"), col("t"), col("nf"), col("nk")).as("got"))
    assert(got.filter(col("expected") =!= col("got")).count() == 0)
  }

  test("F8/S9: schema metadata → concepts, typed edges, constraint rules") {
    import graft.sources.Structured
    val tables = Seq(
      ("users", Seq("id", "name", "email"), Seq("id")),
      ("posts", Seq("id", "title", "user_id", "created_at"), Seq("id"))
    ).toDF("table_name", "columns", "pk_columns")
    val fks = Seq(("posts", "user_id", "users", "NO ACTION"))
      .toDF("table_name", "source_column", "ref_table", "on_delete")
    val constraints = Seq(("posts", "posts_title_check", "((length(title) > 0))"))
      .toDF("table_name", "constraint_name", "check_clause")
    val (concepts, edges, rules) = Structured.schemaToKg(tables, fks, constraints, "db")
    assert(concepts.count() == 2)
    assert(concepts.filter(col("id") === "db:User").count() == 1) // singularized + titled
    val e = edges.as[(String, String, String, Double, String)].head()
    assert(e._1 == "db:Post" && e._2 == "db:User" && e._3 == "BELONGS_TO")
    val r = rules.select("text", "category").as[(String, String)].head()
    assert(r == (("In posts, length(title) > 0", "constraint")))
  }
}
