package perfbench

import java.util.concurrent.Executors
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import graft.ddl.{Catalog, DdlParser, Fk}
import graft.deps.Deps
import graft.gen.{GeneratePipeline, Generator}
import graft.load.{DerbyDdl, JdbcRoundTrip, JdbcSink, TableLoadReport}
import graft.rules.RuleInference
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit}

/** The steps of `JdbcRoundTrip.run` (disabled constraints → bulk append
  * → re-arm → read-back audit), driven through each layer's public
  * functions with a span around every call.
  *
  * Same order and the same per-wave concurrency as the untraced path
  * (tables of one FK wave run concurrently on `threads` threads). Two
  * deliberate differences, both so spans can be attributed:
  *  - each wave runs as four phases with a barrier between them (plan
  *    all frames, noop-execute them, append them, sample their PKs), so
  *    process-wide counters (GC, codegen compiles) belong to one layer;
  *  - the `gen.exec` phase is an extra `noop` write of every frame, which
  *    isolates generation from the JDBC write it is otherwise fused into.
  * The read-back audit is the same two unioned jobs as the program's,
  * kept per FK edge so each edge can be checked on its own. */
object TracedPipeline {

  final case class Edge(table: String, column: String, ref: String,
      bad: Option[Long], rearmed: Boolean)

  final case class Out(catalog: Catalog, reports: Seq[TableLoadReport],
      edges: Seq[Edge], waves: Seq[Seq[String]], rulesColumns: Int, refused: Int)

  def run(spark: SparkSession, tr: Trace, ddl: String, rows: Long, seed: Long,
      threads: Int): Out = {
    val cat = tr.span("ddl.parse")(DdlParser.parse(DdlParser.readSqlFile(ddl)))
    val targets = cat.order.filterNot(GeneratePipeline.skipTable)

    // the per-column dispatch Generator.tableDf performs, over the same
    // columns (generated = safe, not identity, not a system column)
    val rulesColumns = tr.span("rules.infer") {
      targets.map { t =>
        val td = cat(t)
        val fkBy = td.fks.map(f => f.column -> f.refTable).toMap
        td.safeFields.filterNot(f => Generator.SkipCols.contains(f.name))
          .map(f => RuleInference.infer(f, fkBy.get(f.name))).size
      }.sum
    }
    val waves = tr.span("deps.waves")(Deps.waves(targets, cat.allFks))

    val url = s"jdbc:derby:memory:perfbench_${System.nanoTime()}"
    val target = JdbcSink.Target(url, "", "")
    val pool = Executors.newFixedThreadPool(threads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)

    /** One barriered phase of a wave: `f` per table, concurrently, each in
      * its own span under the phase span. */
    def phase[T](name: String, wave: Seq[String])(f: String => T): Map[String, T] =
      tr.span(name) {
        val parent = tr.currentId
        Await.result(Future.sequence(wave.map(t =>
          Future(t -> tr.spanUnder(parent, s"$name[$t]")(f(t))))), Duration.Inf).toMap
      }

    try {
      tr.span("load.create") {
        JdbcRoundTrip.ensureDatabase(url)
        JdbcSink.execute(target, targets.map(t => DerbyDdl.createTableSql(cat(t))))
          .zip(targets).foreach { case (err, t) => err.foreach(e => sys.error(s"create $t failed: $e")) }
      }

      val parentKeys = scala.collection.mutable.Map.empty[String, Seq[Any]]
      waves.foreach { wave =>
        tr.span("gen.wave") {
          val snapshot = parentKeys.toMap
          val dfs: Map[String, DataFrame] = phase("gen.plan", wave)(t =>
            Generator.tableDf(spark, cat(t), rows, seed, snapshot))
          phase("gen.exec", wave)(t => dfs(t).write.format("noop").mode("overwrite").save())
          phase("load.write", wave)(t => JdbcSink.appendGenerated(dfs(t), cat(t), target,
            toggleConstraints = false, quoteTable = DerbyDdl.q))
          val keys = phase("gen.keysample", wave) { t =>
            val td = cat(t)
            td.pk.headOption.filter(td.schema.fieldNames.contains).map(pk =>
              dfs(t).select(pk).limit(1000).collect().map(_.get(0)).toSeq.filter(_ != null))
          }
          keys.foreach { case (t, k) => k.foreach(parentKeys(t) = _) }
        }
      }

      val pkOk: Map[String, Boolean] = tr.span("load.rearm_pk") {
        targets.map(t => t -> DerbyDdl.addPkSql(cat(t)).forall(sql =>
          JdbcSink.execute(target, Seq(sql)).head.isEmpty)).toMap
      }
      val fkOk: Seq[(Fk, Boolean)] = tr.span("load.rearm_fk") {
        targets.flatMap(t => cat(t).fks.map(fk =>
          fk -> JdbcSink.execute(target, Seq(DerbyDdl.addFkSql(fk))).head.isEmpty))
      }
      val (readback, edgeBad) = tr.span("load.audit")(audit(spark, url, target, cat, targets))
      tr.span("load.drop")(JdbcRoundTrip.dropDatabaseQuietly(url))

      val fkBad = edgeBad.groupMapReduce(_._1.table)(_._2)(_ + _)
      val reports = targets.sorted.map { t =>
        val td = cat(t)
        TableLoadReport(t, rows, readback(t), fkBad.getOrElse(t, 0L), pkOk(t),
          td.fks.size, fkOk.count { case (fk, ok) => ok && fk.table == t })
      }
      val badOf = edgeBad.toMap
      val edges = fkOk.map { case (fk, ok) => Edge(fk.table, fk.column, fk.refTable, badOf.get(fk), ok) }
      Out(cat, reports, edges, waves, rulesColumns, pkOk.count(!_._2) + fkOk.count(!_._2))
    } finally {
      pool.shutdown()
      JdbcRoundTrip.dropDatabaseQuietly(url)
    }
  }

  /** Read-back counts per table and FK violations per edge, as two
    * unioned Spark jobs over the JDBC source (edges whose parent table was
    * not deployed are not audited, as in the program). */
  private def audit(spark: SparkSession, url: String, target: JdbcSink.Target,
      cat: Catalog, targets: Seq[String]): (Map[String, Long], Seq[(Fk, Long)]) = {
    val frames = targets.map(t => t -> spark.read.jdbc(url, DerbyDdl.q(t), JdbcSink.props(target))).toMap
    val readback = targets.map(t =>
      frames(t).agg(count(lit(1)).as("n")).select(lit(t).as("k"), col("n")))
      .reduce(_ unionAll _).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val edges = targets.flatMap(t => cat(t).fks.filter(f => frames.contains(f.refTable)))
    val bad = edges.zipWithIndex.map { case (f, i) =>
      frames(f.table).select(col(f.column)).filter(col(f.column).isNotNull)
        .join(frames(f.refTable).select(col(f.refColumn).as(f.column)), Seq(f.column), "left_anti")
        .agg(count(lit(1)).as("n")).select(lit(i.toString).as("k"), col("n"))
    }.reduceOption(_ unionAll _).map(_.collect().map(r => r.getString(0).toInt -> r.getLong(1)).toMap)
      .getOrElse(Map.empty)
    (readback, edges.zipWithIndex.map { case (f, i) => f -> bad(i) })
  }
}
