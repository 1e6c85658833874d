package graft.bench

import graft.core.LocalSpark
import graft.fixtures.PagesGen
import graft.pipeline.Ingest
import graft.store.SnapshotStore
import org.apache.spark.sql.SparkSession

/** N-vs-4N scaling evidence (BASELINE.json north rule): the same ingest job
  * on identical generated input at local[N] and local[4N] in one JVM
  * (cluster proxy — no real cluster in this sandbox; BASELINE.md §target).
  *
  *   ScalingBench [pages=40000] [n=2]
  *
  * Default N=2 (local[2] vs local[8]): a pure-compute probe
  * (graft.bench.CpuScaling) shows the 32-thread host of BENCH/BASELINE.md
  * delivers only ~2.5× the throughput of 8 threads even for Spark-free,
  * allocation-light JVM work — a machine memory-bandwidth/virtualization
  * ceiling that caps ANY 8→32 efficiency at ~0.62. SURVEY.md §7.7
  * anticipated exactly this ("memory-bandwidth ceilings masquerade as poor
  * scaling"); N=2 vs 4N=8 measures the pipeline, not the box.
  *
  * efficiency = (T_N / T_4N) / 4; target ≥ 0.8.
  */
object ScalingBench {

  /** The N-vs-4N protocol both scaling mains share: a warm-up at local[4N]
    * on a tenth of the input (JIT and codegen warm for BOTH measured runs —
    * the shared JVM would otherwise favor whichever runs second), then
    * local[N], then local[4N], each in a fresh session over the same
    * deterministic input.
    *
    * `run(spark, size)` makes one pass over `size` generated inputs and
    * returns its wall seconds and its outputs; the outputs must be equal at
    * both widths. Returns them with the protocol's JSON fields: the widths,
    * both walls, a per-second rate at each width for every count `rated`
    * names, the efficiency and the host's `cpu_probe`.
    */
  def nVs4n[O](size: Long, n: Int)(run: (SparkSession, Long) => (Double, O))(
      rated: O => Seq[(String, Long)]): (O, String) = {
    def at(cpus: Int, inputs: Long): (Double, O) = {
      val spark = LocalSpark.session(s"graft-scaling-$cpus", cpus)
      try run(spark, inputs)
      finally spark.stop()
    }
    val n4 = n * 4
    at(n4, math.max(2000L, size / 10))
    val (tN, outN) = at(n, size)
    val (t4, out4) = at(n4, size)
    require(outN == out4, s"nondeterministic outputs across parallelism: $outN vs $out4")
    val rates = rated(outN).map { case (name, count) =>
      f""""${name}_per_sec_n":${count / tN}%.1f,"${name}_per_sec_4n":${count / t4}%.1f"""
    }
    val fields = (f""""n":$n,"n4":$n4,"wall_sec_n":$tN%.2f,"wall_sec_4n":$t4%.2f""" +: rates) :+
      f""""scaling_efficiency":${(tN / t4) / 4.0}%.3f""" :+
      s""""cpu_probe":${CpuScaling.probeJson()}"""
    (outN, fields.mkString(","))
  }

  /** One ingest into a fresh warehouse; returns (wall, (docs, triples)). */
  private def ingest(spark: SparkSession, nPages: Long): (Double, (Long, Long)) = {
    implicit val s: SparkSession = spark
    val wh = java.nio.file.Files.createTempDirectory("graft-scaling-")
    val store = new SnapshotStore(wh.toString)
    val t0 = System.nanoTime()
    Ingest.run(PagesGen.pages(spark, nPages), store,
      Ingest.Config(dictSizeHint = Some(2000L)),
      knownPartitions = Some(PagesGen.dayStrings(4)))
    val wall = (System.nanoTime() - t0) / 1e9
    val docs = store.read("pages_text").count()
    val triples = Ingest.triplesOf(store.read("extractions")).count()
    graft.Bench.deleteRecursively(wh)
    (wall, (docs, triples))
  }

  def main(args: Array[String]): Unit = {
    val nPages = if (args.nonEmpty) args(0).toLong else 40000L
    val n = if (args.length > 1) args(1).toInt else 2
    val ((docs, triples), fields) = nVs4n(nPages, n)(ingest) { case (docs, triples) =>
      Seq("docs" -> docs, "triples" -> triples)
    }
    println(s"""{"pages":$nPages,"docs":$docs,"triples":$triples,$fields}""")
  }
}
