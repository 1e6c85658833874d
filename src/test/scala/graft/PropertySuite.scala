package graft

import graft.core.TextSpec
import graft.extract.{Chunkers, DetExtractor}
import org.scalacheck.{Gen, Prop, Test => ScTest}
import org.scalatest.funsuite.AnyFunSuite

/** Property suites mirroring the reference's hypothesis usage
  * (tests/test_hippocampus.py docstring: clamping invariants, order
  * independence, identity round-trips). Raw scalacheck runner (the
  * scalatest bridge artifact is not in the offline cache).
  */
class PropertySuite extends AnyFunSuite {

  private def check(p: Prop): Unit = {
    val res = ScTest.check(
      ScTest.Parameters.default.withMinSuccessfulTests(50), p)
    assert(res.passed, res.status.toString)
  }

  private val word: Gen[String] =
    Gen.choose(1, 8).flatMap(n => Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString))
  private val sentenceGen: Gen[String] =
    Gen.choose(1, 12).flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" ") + ".")
  private val textGen: Gen[String] =
    Gen.choose(0, 20).flatMap(n => Gen.listOfN(n, sentenceGen)).map(_.mkString(" "))

  test("chunk ids are stable under re-run and distinct across indices") {
    check(Prop.forAll(textGen) { text =>
      val a = Chunkers.sentenceBoundary(text, 32, 4, "src")
      val b = Chunkers.sentenceBoundary(text, 32, 4, "src")
      a.map(_.id) == b.map(_.id) && a.map(_.id).distinct.length == a.length
    })
  }

  test("chunker never loses non-whitespace content on tiny budgets") {
    check(Prop.forAll(textGen) { text =>
      val chunks = Chunkers.sentenceBoundary(text, 16, 0, "s")
      val joined = chunks.map(_.text).mkString(" ").replaceAll("\\s+", "")
      val original = text.trim.replaceAll("\\s+", "")
      // zero-overlap chunking partitions the sentence stream
      original.isEmpty || joined.contains(original.take(8))
    })
  }

  test("tokenize output never contains stopwords or uppercase") {
    check(Prop.forAll(Gen.asciiPrintableStr) { s =>
      val t = TextSpec.tokenize(s)
      t.forall(w => !TextSpec.stopwords.contains(w) && w == w.toLowerCase)
    })
  }

  test("jaccard is symmetric and bounded [0,1]") {
    val tokenSet = Gen.listOf(word).map(_.toSet)
    check(Prop.forAll(tokenSet, tokenSet) { (a, b) =>
      val ab = TextSpec.jaccard(a, b)
      val ba = TextSpec.jaccard(b, a)
      ab == ba && ab >= 0.0 && ab <= 1.0
    })
  }

  test("titleCase is idempotent") {
    check(Prop.forAll(Gen.asciiPrintableStr) { s =>
      val once = TextSpec.titleCase(s)
      TextSpec.titleCase(once) == once
    })
  }

  test("extraction is a pure function of text") {
    check(Prop.forAll(textGen) { text =>
      DetExtractor.extract(text) == DetExtractor.extract(text)
    })
  }

  test("Ivf.nearestClusters: distinct in-range indices, ranked by cosine with id tie-break") {
    val vecGen = Gen.choose(2, 6).flatMap(d =>
      Gen.listOfN(d, Gen.choose(-5, 5).map(_.toFloat)))
    val centsGen = Gen.choose(1, 6).flatMap { k =>
      vecGen.flatMap(first => Gen.listOfN(k, Gen.listOfN(first.length,
        Gen.choose(-5, 5).map(_.toFloat))))
    }
    def holds(cents: List[List[Float]], n: Int): Boolean = {
      val arr = cents.map(_.toArray).toArray
      val q = cents.head // query with the first centroid's dimension
      val got = graft.ops.Ivf.nearestClusters(arr, q, n)
      val distinct = got.distinct == got
      val inRange = got.forall(i => i >= 0 && i < arr.length)
      val size = got.size == math.min(n, arr.length)
      // ranking invariant: successive picks never have strictly higher
      // cosine (the program's kernel) later; ties are broken by index
      def cos(c: Array[Float]): Double = graft.core.Embeddings.cosine(q.toArray, c)
      val ranked = got.sliding(2).forall {
        case Seq(a, b) => cos(arr(a)) > cos(arr(b)) ||
          (cos(arr(a)) == cos(arr(b)) && a < b)
        case _ => true
      }
      distinct && inRange && size && ranked
    }
    // collinear centroids tie at 1.0 only when the norms are multiplied
    // under one square root, as the kernel does
    assert(holds(List(List(-2f, 2f), List(-1f, 1f), List(-3f, 3f)), 8))
    check(Prop.forAll(centsGen, Gen.choose(1, 8))(holds))
  }

  test("extraction triples only reference extracted mention names") {
    val entityGen = Gen.oneOf(graft.fixtures.PagesGen.allEntities)
    val verbGen = Gen.oneOf(graft.fixtures.PagesGen.verbs)
    val svoGen = for {
      s <- entityGen; v <- verbGen; o <- entityGen
    } yield s"$s $v $o reliably across all regional deployments today."
    check(Prop.forAll(Gen.nonEmptyListOf(svoGen)) { sentences =>
      val ex = DetExtractor.extract(sentences.mkString(" "))
      val names = ex.mentions.map(_.name).toSet
      ex.triples.forall(t => names.contains(t.subj) && names.contains(t.obj))
    })
  }
}
