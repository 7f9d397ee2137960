package graft.gen

import graft.ddl.{Catalog, DdlParser}
import graft.deps.Deps
import graft.rules.Rule
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Whole-catalog generation pipeline — the Spark twin of
  * `run_engine.main()` (SURVEY.md §3.1).
  *
  * Differences by design (§7.1.3): instead of the sequential
  * self-feeding ID_CACHE (run_engine.py:266), parents generate before
  * children in FK-topo waves and each parent's keys are sampled from its
  * *generated* frame — so within a wave every table is independent and
  * order-free. At cluster scale each wave fans out across executors; the
  * reference's one-table-at-a-time loop disappears.
  */
object GeneratePipeline {

  /** F1 table skip predicate (run_engine.py:23,221). */
  val SkipTables: Set[String] = Set("__EFMigrationsHistory", "sysdiagrams", "dtproperties")
  def skipTable(name: String): Boolean =
    SkipTables.exists(name.contains) || name.contains("AspNet")

  final case class Result(table: String, rows: Long, ok: Boolean, error: Option[String])

  /** Generate every (non-skipped) table of the catalog and sink it.
    *
    * @param sink        called once per generated table (parquet writer,
    *                    JDBC appender, …). Invoked CONCURRENTLY for
    *                    tables of the same wave — must be thread-safe.
    * @param sampleCap   FK parent-key sample size (TOP 1000 equivalent)
    * @return per-table results; failures are isolated per table exactly
    *         like the reference's per-table try/except (run_engine.py:268)
    */
  def run(spark: SparkSession, catalog: Catalog, rowCount: Long, seed: Long,
      sink: (String, DataFrame) => Unit,
      configRules: Map[String, Map[String, Rule]] = Map.empty,
      sampleCap: Int = 1000): Seq[Result] = {

    val targets = catalog.order.filterNot(skipTable)
    val waves = Deps.waves(targets, catalog.allFks)
    val parentKeys = scala.collection.mutable.Map.empty[String, Seq[Any]]
    val results = scala.collection.mutable.ArrayBuffer.empty[Result]
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global

    waves.foreach { wave =>
      // Tables within a wave are independent by construction (parents all
      // live in EARLIER waves), so their generate+sink actions run
      // concurrently — the driver submits parallel Spark jobs instead of
      // a 77-step sequential loop (each job here is metadata-sized; the
      // win is scheduling latency, and on a real cluster it is the
      // difference between wave-depth and table-count round trips).
      // parentKeys is snapshotted before the wave and mutated only after
      // the barrier, so the futures never see a concurrent write.
      val snapshot = parentKeys.toMap
      val waveOut = Await.result(Future.sequence(wave.map { t =>
        Future {
          try {
            val td = catalog(t)
            val df = Generator.tableDf(spark, td, rowCount, seed,
              snapshot, configRules.get(t))
            sink(t, df)
            // sample this table's PK for later waves (ID_CACHE equivalent,
            // run_engine.py:142-153) from the SAME deterministic frame —
            // generation is pure in (seed, table, id), so the sample plan
            // shares the sinked plan's subtree
            val keys = td.pk.headOption
              .filter(td.schema.fieldNames.contains)
              .map { pk =>
                df.select(pk).limit(sampleCap).collect()
                  .map(_.get(0)).toSeq.filter(_ != null)
              }
            (Result(t, rowCount, ok = true, None), keys.map(t -> _))
          } catch {
            // toString, not getMessage: a message-less exception still
            // records its class
            case scala.util.control.NonFatal(e) =>
              (Result(t, 0, ok = false, Some(e.toString)), None)
          }
        }
      }), Duration.Inf)
      waveOut.foreach { case (res, keysOpt) =>
        results += res
        keysOpt.foreach { case (t, k) => parentKeys(t) = k }
      }
    }
    results.toSeq
  }

  /** Convenience: parquet sink under `outDir/<table>.parquet`. */
  def runToParquet(spark: SparkSession, catalog: Catalog, outDir: String,
      rowCount: Long = 15, seed: Long = 42,
      configRules: Map[String, Map[String, Rule]] = Map.empty): Seq[Result] =
    run(spark, catalog, rowCount, seed,
      (t, df) => df.write.mode("overwrite").parquet(s"$outDir/$t.parquet"),
      configRules)
}
