package graft

/** `query.Service`, the stateless service functions over the committed
  * tables: the glob name filter, knowledge stats and feedback validation.
  */
class ServiceSuite extends SparkFunSuite {
  import spark.implicits._

  test("F5: glob name filter — '*' and '?' expand, other chars literal") {
    val df = Seq("Auth Module", "Oauth2 Tokens", "Key Vault", "auth(x)")
      .map(Tuple1(_)).toDF("name")
    import graft.query.Service
    assert(Service.filterByNameGlob(df, "*auth*").count() == 3) // case-insensitive
    assert(Service.filterByNameGlob(df, "Auth M?dule").as[String].head() == "Auth Module")
    assert(Service.filterByNameGlob(df, "auth(x)").count() == 1) // parens literal
    assert(Service.filterByNameGlob(df, "Key").count() == 0) // full match, not substring
  }

  test("A7: knowledgeStats per-domain counts with edge domain from id prefix") {
    val concepts = Seq(("web:A", "web"), ("web:B", "web"), ("db:C", "db"))
      .toDF("id", "domain")
    val edges = Seq(("web:A", "web:B"), ("db:C", "db:C")).toDF("source_id", "target_id")
    val rules = Seq(("r1", "web")).toDF("id", "domain")
    val stats = graft.query.Service.knowledgeStats(concepts, edges, rules)
      .orderBy("domain").as[(String, Long, Long, Long)].collect().toSeq
    assert(stats == Seq(("db", 1L, 1L, 0L), ("web", 2L, 1L, 1L)))
  }

  test("Service.feedback: invalid outcome rejects the batch with the reference error") {
    val factors = Seq(("a", 1.0)).toDF("node_id", "factor")
    val outcomes = Seq(("a", "accepted"), ("b", "maybe")).toDF("node_id", "outcome")
    val res = graft.query.Service.feedback(factors, outcomes, "q-1")
    assert(res.isLeft)
    assert(res.left.toOption.get ==
      "Invalid outcome 'maybe' for item 'b'. Must be one of: accepted, partial, rejected")
    // a NULL outcome must also reject (SQL three-valued logic would
    // otherwise let it slip past a plain !isin filter)
    val withNull = Seq(("a", "accepted"), ("c", null)).toDF("node_id", "outcome")
    val res2 = graft.query.Service.feedback(factors, withNull, "q-1b")
    assert(res2.isLeft && res2.left.toOption.get.startsWith("Invalid outcome 'null'"))
  }

  test("Service.feedback: the first invalid row is named; tallies count every valid row") {
    val factors = Seq(("a", 1.0)).toDF("node_id", "factor")
    val twoBad = Seq(("a", "accepted"), ("b", "maybe"), ("c", null), ("d", "nope"))
      .toDF("node_id", "outcome")
    assert(graft.query.Service.feedback(factors, twoBad, "q-4").left.toOption.contains(
      "Invalid outcome 'maybe' for item 'b'. Must be one of: accepted, partial, rejected"))
    val nullFirst = Seq(("c", null), ("b", "maybe")).toDF("node_id", "outcome")
    assert(graft.query.Service.feedback(factors, nullFirst, "q-4b").left.toOption.contains(
      "Invalid outcome 'null' for item 'c'. Must be one of: accepted, partial, rejected"))
    val ok = Seq(("a", "partial"), ("b", "partial"), ("c", "rejected")).toDF("node_id", "outcome")
    val fb = graft.query.Service.feedback(factors, ok, "q-4c").fold(e => fail(e), identity)
    assert((fb.outcomeCount, fb.accepted, fb.rejected, fb.partial) == ((3L, 0L, 1L, 2L)))
  }
}
