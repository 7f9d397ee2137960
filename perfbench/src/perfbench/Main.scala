package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import graft.ddl.{Catalog, DdlParser}
import graft.load.{JdbcRoundTrip, TableLoadReport}

/** JVM side of the benchmark: one process runs one pipeline, cold.
  *
  * {{{
  * perfbench.Main pipeline <ddl> <rows> <seed> <cpus> <traced 0|1> <out.json> [<spans.jsonl>]
  * perfbench.Main setup <cpus> <out.json>
  * perfbench.Main parse <ddl>
  * }}}
  * `pipeline` builds the session through `graft.Harness`, then either
  * times `JdbcRoundTrip.run` from reading the DDL file to its return
  * (untraced), or drives the same steps through [[TracedPipeline]] with
  * spans (traced). It writes one JSON object to `out.json`; the caller
  * checks it. `setup` only builds the session and records when it was
  * ready. `parse` prints the parser's table/column/FK counts. */
object Main {
  def main(args: Array[String]): Unit = args.toList match {
    case "parse" :: ddl :: Nil =>
      println(countsJson(DdlParser.parseFile(ddl)))
    case "setup" :: cpus :: out :: Nil =>
      val s0 = System.nanoTime()
      graft.Harness.withSession(cpus) { _ =>
        val json = s"""{"ready_epoch_ns":${epochNs()},"session_start_s":${(System.nanoTime() - s0) / 1e9}}\n"""
        Files.write(Paths.get(out), json.getBytes(StandardCharsets.UTF_8))
      }
    case "pipeline" :: ddl :: rows :: seed :: cpus :: traced :: out :: rest =>
      pipeline(ddl, rows.toLong, seed.toLong, cpus.toInt, traced == "1", out, rest.headOption)
    case _ =>
      System.err.println("usage: perfbench.Main pipeline <ddl> <rows> <seed> <cpus> <traced> <out> [<spans>]" +
        " | setup <cpus> <out> | parse <ddl>")
      sys.exit(2)
  }

  private def countsJson(cat: Catalog): String =
    s"""{"tables":${cat.order.size},"columns":${cat.tables.values.map(_.schema.size).sum},""" +
      s""""fks":${cat.allFks.size}}"""

  private def epochNs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  private def pipeline(ddl: String, rows: Long, seed: Long, cpus: Int, traced: Boolean,
      out: String, spansOut: Option[String]): Unit = {
    val s0 = System.nanoTime()
    graft.Harness.withSession(cpus.toString) { spark =>
      val sessionS = (System.nanoTime() - s0) / 1e9
      val ready = epochNs()
      val fields = scala.collection.mutable.LinkedHashMap[String, String](
        "ready_epoch_ns" -> ready.toString,
        "session_start_s" -> sessionS.toString)
      val gc0 = Trace.gcMs()
      val cc0 = Trace.compiles()
      val t0 = System.nanoTime()
      def stop(): Unit = fields("pipeline_s") = ((System.nanoTime() - t0) / 1e9).toString
      val reports: Seq[TableLoadReport] =
        if (!traced) {
          val cat = DdlParser.parse(DdlParser.readSqlFile(ddl))
          val r = JdbcRoundTrip.run(spark, cat, rows, seed)
          stop()
          fields("counts") = countsJson(cat)
          r
        } else {
          val tr = new Trace(spark.sparkContext, s"seed$seed")
          val o = tr.span("pipeline")(TracedPipeline.run(spark, tr, ddl, rows, seed, cpus))
          stop()
          tr.close()
          fields("counts") = countsJson(o.catalog)
          fields("waves") = o.waves.map(_.map(Json.str).mkString("[", ",", "]")).mkString("[", ",", "]")
          fields("edges") = o.edges.map(e =>
            s"""{"table":${Json.str(e.table)},"column":${Json.str(e.column)},"ref":${Json.str(e.ref)},""" +
              s""""bad":${e.bad.map(_.toString).getOrElse("null")},"rearmed":${e.rearmed}}""")
            .mkString("[", ",", "]")
          fields("rules_columns") = o.rulesColumns.toString
          fields("rearm_refused") = o.refused.toString
          spansOut.foreach(p => Files.write(Paths.get(p),
            tr.toJsonLines(t0).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8)))
          o.reports
        }
      fields("gc_s") = ((Trace.gcMs() - gc0) / 1e3).toString
      fields("codegen_compiles") = (Trace.compiles() - cc0).toString
      fields("reports") = reports.map(r =>
        s"""{"table":${Json.str(r.table_name)},"n_loaded":${r.n_loaded},"n_readback":${r.n_readback},""" +
          s""""n_fk_bad":${r.n_fk_bad},"pk_rearmed":${r.pk_rearmed},"n_fks":${r.n_fks},""" +
          s""""n_fks_rearmed":${r.n_fks_rearmed}}""").mkString("[", ",", "]")
      fields("peak_rss_mb") = Trace.peakRssMb().toString
      val json = fields.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}\n")
      Files.write(Paths.get(out), json.getBytes(StandardCharsets.UTF_8))
    }
  }
}
