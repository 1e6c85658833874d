package graft.pipeline

import graft.core.LocalSpark
import graft.query.GraftService
import graft.store.SnapshotStore
import org.apache.spark.sql.SparkSession

/** The engine's user-facing command surface — the spark-submit analog of
  * the reference's CLI (cli/, `qortex query|ingest|...`). One main over a
  * committed warehouse:
  *
  *   spark-submit ... graft.pipeline.GraftCli <warehouse> query <text> [topK] [domain,...]
  *   spark-submit ... graft.pipeline.GraftCli <warehouse> feedback <queryId> id=outcome[,id=outcome...] [--credit]
  *   spark-submit ... graft.pipeline.GraftCli <warehouse> explore <nodeId> [depth]
  *   spark-submit ... graft.pipeline.GraftCli <warehouse> stats
  *   spark-submit ... graft.pipeline.GraftCli <warehouse> project <persona> <outPath> [projectedAtIso]
  *
  * Ingestion stays with `graft.pipeline.IngestMain` (it OWNS the write
  * path); this main is read/feedback-side. Output is JSON lines on
  * stdout — bounded by topK / neighborhood size, never a full-table
  * collect.
  */
object GraftCli {

  /** Run one command; returns the output lines (stdout-ready). Split from
    * main so tests drive it in-process against a shared session.
    */
  def run(args: Seq[String], spark: SparkSession): Seq[String] = {
    implicit val s: SparkSession = spark
    require(args.length >= 2,
      "usage: GraftCli <warehouse> query|feedback|explore|stats|project ...")
    val store = new SnapshotStore(args(0))
    val svc = new GraftService(store)

    args(1) match {
      case "query" =>
        require(args.length >= 3, "query <text> [topK] [domain,...]")
        val topK = if (args.length > 3) args(3).toInt else 20
        val domains =
          if (args.length > 4) args(4).split(",").toSeq.filter(_.nonEmpty) else Seq.empty
        val r = svc.query(args(2), domains, topK)
        Seq(s"""{"query_id":"${r.queryId}","kg_coverage":${r.kgCoverage}}""") ++
          r.items.toJSON.collect().toSeq ++
          r.rules.toJSON.collect().toSeq

      case "feedback" =>
        require(args.length >= 4, "feedback <queryId> id=outcome[,id=outcome...] [--credit]")
        val outcomes = args(3).split(",").map { kv =>
          val i = kv.lastIndexOf('=')
          require(i > 0, s"bad outcome pair '$kv' (want id=outcome)")
          kv.substring(0, i) -> kv.substring(i + 1)
        }.toMap
        svc.feedback(args(2), outcomes, propagateCredit = args.contains("--credit")) match {
          case Left(err) => Seq(s"""{"error":${jsonStr(err)}}""")
          case Right(fb) => Seq(
            s"""{"status":"${fb.status}","query_id":"${fb.queryId}",""" +
              s""""outcome_count":${fb.outcomeCount},"accepted":${fb.accepted},""" +
              s""""rejected":${fb.rejected},"partial":${fb.partial}""" +
              fb.credit.map(c =>
                s""","credit":{"concept_count":${c.conceptCount},""" +
                  s""""direct_count":${c.directCount},"ancestor_count":${c.ancestorCount}}""")
                .getOrElse("") + "}")
        }

      case "explore" =>
        require(args.length >= 3, "explore <nodeId> [depth]")
        val depth = if (args.length > 3) args(3).toInt else 1
        svc.explore(args(2), depth) match {
          case None => Seq(s"""{"error":"node not found: ${args(2)}"}""")
          case Some(ex) =>
            ex.neighbors.toJSON.collect().toSeq ++
              ex.edges.toJSON.collect().toSeq ++
              ex.rules.toJSON.collect().toSeq
        }

      case "stats" =>
        svc.knowledgeStats().toJSON.collect().toSeq

      case "project" =>
        require(args.length >= 4, "project <persona> <outPath> [projectedAtIso]")
        val at = if (args.length > 4) args(4) else "1970-01-01T00:00:00Z"
        svc.projectToFile(args(3), args(2), at)
        Seq(s"""{"written":${jsonStr(args(3))}}""")

      case other =>
        throw new IllegalArgumentException(
          s"unknown command '$other' (query|feedback|explore|stats|project)")
    }
  }

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def main(args: Array[String]): Unit = {
    val spark = LocalSpark.session("graft-cli", LocalSpark.cpus)
    try run(args.toSeq, spark).foreach(println)
    finally spark.stop()
  }
}
