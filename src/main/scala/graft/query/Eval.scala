package graft.query

import graft.core.Embeddings
import org.apache.spark.sql.{DataFrame, SparkSession}

/** A9 (complete) — the retrieval-quality eval harness: recall@k,
  * precision@k, and MRR over expected/distractor query sets, comparing
  * hybrid (vec + PPR) retrieval against pure cosine — the reference's
  * comparative benchmark (benchmarks/comparative/run.py:110-173 metric
  * definitions; its headline +22 % precision / +25 % recall claim is the
  * BASELINE.md quality bar this harness makes reproducible against this
  * engine).
  *
  * The corpus is the reference's own 20-concept authentication domain
  * (run.py:38-76: 10 relevant + 10 distractor concepts, 8 typed edges,
  * 4 eval queries with expected/distractor sets) — deterministic spec
  * data, re-expressed with this engine's feature-hash embeddings. The
  * graph edges are what hybrid retrieval exploits: expected items like
  * PKCE/Refresh Token are textually far from the query but one hop from
  * the vector seeds.
  */
object Eval {

  /** recall@k (run.py:113-118). */
  def recallAtK(retrieved: Seq[String], expected: Set[String], k: Int = 5): Double = {
    if (expected.isEmpty) return 1.0
    retrieved.take(k).toSet.intersect(expected).size.toDouble / expected.size
  }

  /** precision@k (run.py:121-126). */
  def precisionAtK(retrieved: Seq[String], expected: Set[String], k: Int = 5): Double = {
    val top = retrieved.take(k).toSet
    if (top.isEmpty) 0.0 else top.intersect(expected).size.toDouble / top.size
  }

  /** Mean Reciprocal Rank (run.py:129-134). */
  def mrr(retrieved: Seq[String], expected: Set[String]): Double = {
    val i = retrieved.indexWhere(expected.contains)
    if (i < 0) 0.0 else 1.0 / (i + 1)
  }

  final case class QuerySpec(
      query: String, expected: Set[String], distractors: Set[String])

  final case class AdapterResult(
      adapter: String,
      avgRecall: Double,
      avgPrecision: Double,
      avgMrr: Double,
      totalDistractors: Int) {
    def toJson: String =
      f"""{"adapter":"$adapter","avg_recall":$avgRecall%.4f,""" +
        f""""avg_precision":$avgPrecision%.4f,"avg_mrr":$avgMrr%.4f,""" +
        s""""total_distractors":$totalDistractors}"""
  }

  /** Score one adapter (a query → ranked-names function) over a query
    * set — the AdapterResult aggregation (run.py:137-186).
    */
  def evaluate(
      adapter: String,
      retrieve: String => Seq[String],
      queries: Seq[QuerySpec],
      k: Int = 5): AdapterResult = {
    val per = queries.map { q =>
      val names = retrieve(q.query)
      (recallAtK(names, q.expected, k), precisionAtK(names, q.expected, k),
        mrr(names, q.expected), names.take(k).toSet.intersect(q.distractors).size)
    }
    def avg(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    AdapterResult(adapter, avg(per.map(_._1)), avg(per.map(_._2)),
      avg(per.map(_._3)), per.map(_._4).sum)
  }

  /** The authentication corpus (run.py:38-89) — (name, description),
    * relevant first, distractors after index 9.
    */
  val AuthConcepts: Seq[(String, String)] = Seq(
    ("OAuth2", "Authorization framework for delegated access using access tokens and scopes"),
    ("JWT", "JSON Web Tokens — self-contained tokens encoding claims as signed JSON payloads"),
    ("OpenID Connect", "Identity layer on OAuth2 providing authentication and ID tokens"),
    ("PKCE", "Proof Key for Code Exchange — prevents authorization code interception attacks"),
    ("Refresh Token", "Long-lived token used to obtain new access tokens silently"),
    ("SAML", "Security Assertion Markup Language — XML-based SSO protocol for enterprises"),
    ("mTLS", "Mutual TLS — client certificate authentication for machine-to-machine"),
    ("API Key", "Simple bearer credential for server-to-server, no user delegation"),
    ("Session Cookie", "Server-side session tracked via HTTP cookie, stateful"),
    ("CORS", "Cross-Origin Resource Sharing — browser security policy for cross-domain requests"),
    ("OAuth1", "Legacy authorization protocol using request signing and nonces"),
    ("HTTP Basic Auth", "Simple username/password authentication sent as base64 in HTTP header"),
    ("Kerberos", "Network authentication protocol using ticket-granting tickets and symmetric keys"),
    ("LDAP", "Lightweight Directory Access Protocol for directory services and user lookup"),
    ("RADIUS", "Remote Authentication Dial-In User Service for network access control"),
    ("X.509 Certificate", "Public key certificate standard for identity verification in PKI"),
    ("Digest Authentication", "HTTP authentication using challenge-response with MD5 hashing"),
    ("SCRAM", "Salted Challenge Response Authentication Mechanism for password-based auth"),
    ("WebAuthn", "Web Authentication API for passwordless authentication using FIDO2 credentials"),
    ("TOTP", "Time-based One-Time Password used in two-factor authentication apps"))

  /** (source, target, relation) — run.py:79-88. */
  val AuthEdges: Seq[(String, String, String)] = Seq(
    ("OpenID Connect", "OAuth2", "REFINES"),
    ("PKCE", "OAuth2", "SUPPORTS"),
    ("JWT", "OAuth2", "USES"),
    ("Refresh Token", "OAuth2", "PART_OF"),
    ("SAML", "OpenID Connect", "SIMILAR_TO"),
    ("mTLS", "OAuth2", "SUPPORTS"),
    ("API Key", "mTLS", "ALTERNATIVE_TO"),
    ("Session Cookie", "JWT", "ALTERNATIVE_TO"))

  /** The four eval queries with expected/distractor sets (run.py:99-124). */
  val EvalQueries: Seq[QuerySpec] = Seq(
    QuerySpec("How should a mobile app handle OAuth2 authentication securely?",
      Set("OAuth2", "PKCE", "Refresh Token", "OpenID Connect"),
      Set("OAuth1", "HTTP Basic Auth", "WebAuthn")),
    QuerySpec("Compare different token formats and session management approaches",
      Set("JWT", "Session Cookie", "API Key", "Refresh Token"),
      Set("TOTP", "Kerberos", "SCRAM")),
    QuerySpec("How to implement enterprise single sign-on for corporate apps?",
      Set("SAML", "OpenID Connect", "OAuth2"),
      Set("LDAP", "Kerberos", "RADIUS")),
    QuerySpec("Secure machine to machine authentication in microservices",
      Set("mTLS", "API Key", "OAuth2"),
      Set("X.509 Certificate", "RADIUS", "Digest Authentication")))

  /** The corpus as engine tables: concepts with feature-hash embeddings of
    * the same "name: description" template (E11), typed edges conf 0.9.
    * Both are driver-local Seqs, so each frame is a LocalRelation and
    * needs no checkpoint.
    */
  def authCorpus(implicit spark: SparkSession): (DataFrame, DataFrame) = {
    import spark.implicits._
    val concepts = AuthConcepts
      .map { case (n, d) => (s"auth:$n", n, Embeddings.embedConcept(n, d).toSeq) }
      .toDF("id", "name", "embedding")
    val edges = AuthEdges
      .map { case (s, t, r) => (s"auth:$s", s"auth:$t", r, 0.9) }
      .toDF("source_id", "target_id", "relation_type", "confidence")
    (concepts, edges)
  }

  /** Hybrid (vec + PPR blend) vs vec-only over the auth corpus — the
    * run.py qortex-graph vs qortex-vec comparison. Returns results keyed
    * by adapter name.
    */
  def compare(k: Int = 5)(implicit spark: SparkSession): Map[String, AdapterResult] = {
    import spark.implicits._
    val (concepts, edges) = authCorpus
    val factors = Seq.empty[(String, Double)].toDF("node_id", "factor")

    def hybrid(q: String): Seq[String] =
      Retrieval.retrieveFull(concepts, edges, factors, q, topK = k)
        .results.select("name").collect().map(_.getString(0)).toSeq
    def vecOnly(q: String): Seq[String] =
      Retrieval.vectorSearch(concepts, Embeddings.embed(q), k)
        .select("name").collect().map(_.getString(0)).toSeq

    Map(
      "hybrid" -> evaluate("hybrid", hybrid, EvalQueries, k),
      "vec_only" -> evaluate("vec_only", vecOnly, EvalQueries, k))
  }
}
