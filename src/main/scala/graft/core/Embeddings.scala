package graft.core

/** Deterministic feature-hash embeddings (E11 in SURVEY.md §2.2).
  *
  * The reference embeds `f"{name}: {description}"` with all-MiniLM-L6-v2
  * (384-d) at ingest/base.py:225-235 + vec/embeddings.py:50-73. No model
  * ships in this sandbox and no network exists, so the stand-in is a
  * 384-d hashing embedding: each lowercase word token contributes ±1/√k to
  * `Dim` splitmix-chosen coordinates, then the vector is L2-normalized —
  * the same text template, the same dimensionality, the same normalize-
  * before-cosine behavior (vec/index.py:106-158 L2-normalizes on add),
  * fully deterministic and thread-safe. Distributionally: identical texts
  * ⇒ identical vectors; texts sharing words ⇒ higher cosine.
  */
object Embeddings {

  val Dim = 384
  val Model = "feature-hash-384-v1"
  private val SignsPerWord = 8

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Embed the reference's text template. */
  def embedConcept(name: String, description: String): Array[Float] =
    embed(s"$name: $description")

  def embed(text: String): Array[Float] = {
    val v = new Array[Float](Dim)
    if (text == null || text.isEmpty) return v
    val words = text.toLowerCase(java.util.Locale.ROOT).split("[^a-z0-9]+")
    var wi = 0
    while (wi < words.length) {
      val w = words(wi)
      if (w.nonEmpty) {
        var h = mix(w.hashCode.toLong)
        var k = 0
        while (k < SignsPerWord) {
          h = mix(h)
          val idx = ((h >>> 1) % Dim).toInt
          val sign = if ((h & 1L) == 0L) 1f else -1f
          v(idx) += sign
          k += 1
        }
      }
      wi += 1
    }
    // L2 normalize (vec/index.py:118-125 semantics)
    var norm = 0.0
    var i = 0
    while (i < Dim) { norm += v(i).toDouble * v(i); i += 1 }
    if (norm > 0) {
      val inv = (1.0 / math.sqrt(norm)).toFloat
      i = 0
      while (i < Dim) { v(i) *= inv; i += 1 }
    }
    v
  }

  /** `Similarity.cosine` of the whole arrays. */
  def cosine(a: Array[Float], b: Array[Float]): Double =
    graft.ops.Similarity.cosine(a, 0, a.length, b, 0, b.length)
}
