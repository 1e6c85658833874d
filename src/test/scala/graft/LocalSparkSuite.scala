package graft

/** The one local session factory (`graft.core.LocalSpark`): the conf it
  * gives the shared test session, and that no other code builds a session.
  */
class LocalSparkSuite extends SparkFunSuite {

  test("LocalSpark: the shared test session carries the factory conf") {
    val conf = spark.conf
    assert(spark.sparkContext.master == "local[4]")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.icu.caseMappings.enabled") == "false")
    assert(conf.get("spark.ui.enabled") == "false")
    // Spark 4 defaults the factory relies on rather than sets
    assert(conf.get("spark.sql.adaptive.enabled") == "true")
    assert(conf.get("spark.sql.adaptive.skewJoin.enabled") == "true")
  }

  test("LocalSpark: no source outside the factory and the bench instruments builds a session") {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    val allowed = Set("main/scala/graft/core/LocalSpark.scala", "main/scala/graft/Bench.scala",
      "main/scala/graft/Verify.scala").map(Paths.get("src", _))
    val builders = Files.walk(Paths.get("src")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && !allowed.contains(p))
      .filter((p: Path) => new String(Files.readAllBytes(p), "UTF-8").contains("SparkSession." + "builder"))
      .toList
    assert(builders.isEmpty, s"session builders outside graft.core.LocalSpark: $builders")
  }

  test("LocalFold: no program source but the rule's own assigns an optimizer rule or strategy") {
    // the rule's install is the one idempotent, thread-safe write to a
    // session's extra optimizations
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    val allowed = Paths.get("src", "main/scala/graft/core/LocalFold.scala")
    val assigns = """\bextra(Optimizations|Strategies)\s*(\+\+|:\+|\+)?=(?!=)""".r
    val writers = Files.walk(Paths.get("src", "main")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p != allowed)
      .filter((p: Path) => assigns.findFirstIn(new String(Files.readAllBytes(p), "UTF-8")).isDefined)
      .toList
    assert(writers.isEmpty, s"extra optimizer rules or strategies set outside graft.core.LocalFold: $writers")
    assert(assigns.findFirstIn(new String(Files.readAllBytes(allowed), "UTF-8")).isDefined)
  }

  test("LocalSpark: no program source sets a session conf at run time") {
    // a session conf is global to the session: a value set on one thread
    // also plans every query another thread runs meanwhile
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    val setters = Files.walk(Paths.get("src", "main")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filter((p: Path) => new String(Files.readAllBytes(p), "UTF-8").contains("conf.set("))
      .toList
    assert(setters.isEmpty, s"session conf writes under src/main: $setters")
  }

  test("repo hygiene: no source file contains control bytes other than \\n and \\t") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val bad = Files.walk(Paths.get("src")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .flatMap { p =>
        val bytes = Files.readAllBytes(p)
        val idx = bytes.indexWhere(b => b >= 0 && b < 0x20 && b != '\n' && b != '\t')
        if (idx >= 0) Some(s"$p byte offset $idx value 0x${bytes(idx).toHexString}") else None
      }
      .toList
    assert(bad.isEmpty, s"control bytes found (git treats these files as binary): $bad")
  }
}
