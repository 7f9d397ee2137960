package graft.load

import java.sql.DriverManager
import scala.jdk.CollectionConverters._
import graft.ddl.{Catalog, Fk}
import graft.gen.GeneratePipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One row of the load audit (g07's schema). */
final case class TableLoadReport(table_name: String, n_loaded: Long,
    n_readback: Long, n_fk_bad: Long, pk_rearmed: Boolean,
    n_fks: Int, n_fks_rearmed: Int)

/** One row of the armed-constraint wave-load audit (g08's schema). */
final case class ArmedLoadReport(table_name: String, wave: Int,
    n_generated: Long, n_loaded: Long, n_fk_bad: Long,
    pk_armed: Boolean, n_fks_armed: Int)

/** One deferred FK edge after the post-load linking pass (g10's schema):
  * self-FKs and same-wave cycle-fallback edges load as NULL (no parent
  * sample exists when the child generates), then a second UPDATE pass
  * links them to a real parent key and — where the parent's PK backs the
  * edge — arms the constraint late, letting the DATABASE validate the
  * linked values. */
final case class DeferredLinkReport(table_name: String, fk_column: String,
    ref_table: String, n_linked: Long, n_null_after: Long,
    fk_armed_late: Boolean)

/** One row of the partition-parallel read-back audit (g21's raw input):
  * the table was read back through `n_strides` CONCURRENT JDBC
  * connections (predicate strides on its PK) and the strides saw
  * `n_rows` rows in total — gap- and overlap-free coverage shows as
  * n_rows equalling the load accounting. */
final case class PartReadbackReport(table_name: String, n_strides: Int,
    n_rows: Long)

/** The reference's flagship behavior — bulk-append into a LIVE relational
  * database with constraints out of the way (run_engine.py:227-260) —
  * run for real against embedded Derby:
  *
  *   probe/create DB (S9, apply_mssql.py:27-43) → deploy retargeted DDL
  *   (§2.8) → generate FK-consistent rows → distributed JDBC append (K1)
  *   → re-arm constraints (K4) → read back through the JDBC source and
  *   audit counts + referential integrity in one database-side statement.
  *
  * In-memory Derby is a local-mode harness (executors share the JVM); on
  * a real cluster the same code points the URL at a network database and
  * nothing else changes — the writer is one connection per partition,
  * `batchsize` rows per round trip.
  */
object JdbcRoundTrip {

  private val dbCounter = new java.util.concurrent.atomic.AtomicInteger(0)

  def run(spark: SparkSession, catalog: Catalog, rowCount: Long = 15,
      seed: Long = 42): Seq[TableLoadReport] = {
    val db = s"graft_rt_${dbCounter.incrementAndGet()}_${System.nanoTime()}"
    val url = s"jdbc:derby:memory:$db"
    try runOn(spark, catalog, url, rowCount, seed)
    finally dropDatabase(url)
  }

  /** The OTHER reference execution posture (fill_db.py:137-139 / SURVEY
    * §7.4 fallback): constraints armed from the FIRST row, load in
    * FK-topo waves so parents always land before children. Used when the
    * target refuses `NOCHECK CONSTRAINT all` — every INSERT is validated
    * live by the database. The armed posture requires unique PKs, so each
    * frame is deduplicated on its PK before the append (at 100 TB this is
    * the same `dropDuplicates` shuffle any constrained bulk load needs —
    * you dedup in Spark, not by bouncing rows off the database). */
  def runArmed(spark: SparkSession, catalog: Catalog, rowCount: Long = 15,
      seed: Long = 42): Seq[ArmedLoadReport] = {
    // load-only: the deferred-FK linking epilogue (UPDATE + late ADD
    // CONSTRAINT, each a live-Derby failure mode) runs ONLY for callers
    // that consume link reports (runArmedLinked / g10) — a pure load
    // consumer like g08 must not inherit the epilogue's work or errors
    val db = s"graft_arm_${dbCounter.incrementAndGet()}_${System.nanoTime()}"
    val url = s"jdbc:derby:memory:$db"
    try runArmedOn(spark, catalog, url, rowCount, seed, link = false)._1
    finally dropDatabase(url)
  }

  /** g21's read path, generalized from g20's ranged fact scan to the
    * WHOLE catalog: every table reads back through PREDICATE-partitioned
    * JDBC (`spark.read.jdbc(url, table, predicates, …)` — one concurrent
    * connection per stride), which is the posture a 100 TB reload audit
    * needs: the verification scan parallelizes the wire per table
    * instead of draining 77 tables through one connection each. Stride
    * scheme per PK head column type, each PROVABLY gap- and overlap-free:
    *  - string PK (the GUID majority): 4 half-open first-character
    *    ranges with unbounded ends (< '4' … >= 'c'), so any value —
    *    hex or not — lands in exactly one stride;
    *  - integral PK: MOD(pk, 4) = 0..3;
    *  - multi-column, non-strideable, or absent PK: one full stride
    *    (recorded as n_strides = 1 — no silent cap).
    * The strides' counts reduce through one unioned Spark plan; unlike
    * auditReadback, which lets the database count, this read goes through
    * the concurrent strides on purpose — they are what it audits. */
  private def partitionedReadback(spark: SparkSession, url: String,
      target: JdbcSink.Target, catalog: Catalog, targets: Seq[String])
      : Seq[PartReadbackReport] = {
    import org.apache.spark.sql.types.{IntegerType, LongType, ShortType, StringType}
    val framed: Seq[(String, Int, DataFrame)] = targets.sorted.map { t =>
      val td = catalog(t)
      val preds: Array[String] = td.pk.headOption
        .filter(td.schema.fieldNames.contains)
        .map(pc => (pc, td.schema(pc).dataType)) match {
        case Some((pc, StringType)) if td.pk.size == 1 =>
          val c = s"SUBSTR(${DerbyDdl.q(pc)}, 1, 1)"
          Array(s"$c < '4'", s"$c >= '4' AND $c < '8'",
            s"$c >= '8' AND $c < 'c'", s"$c >= 'c'")
        case Some((pc, IntegerType | LongType | ShortType)) if td.pk.size == 1 =>
          // ABS around MOD, not around the PK: Derby's MOD keeps the
          // dividend's sign, so a negative key would satisfy NO stride
          // and silently drop from the audit; |MOD| ≤ 3 can't overflow
          // where ABS(Long.MinValue) would
          val c = s"ABS(MOD(${DerbyDdl.q(pc)}, 4))"
          Array(s"$c = 0", s"$c = 1", s"$c = 2", s"$c = 3")
        case _ => Array("1=1")
      }
      (t, preds.length,
        spark.read.jdbc(url, DerbyDdl.q(t), preds, JdbcSink.props(target)))
    }
    val counts: Map[String, Long] = framed
      .map { case (t, _, df) =>
        df.agg(count(lit(1)).as("n")).select(lit(t).as("table_name"), col("n"))
      }
      .reduceOption(_ unionAll _).map(_.collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap).getOrElse(Map.empty)
    framed.map { case (t, n, _) => PartReadbackReport(t, n, counts(t)) }
  }

  /** Armed wave load + the deferred-FK linking epilogue (g10) + the
    * partition-parallel read-back audit (g21): all three run against ONE
    * Derby lifetime, so the (expensive) load is paid once. */
  def runArmedLinked(spark: SparkSession, catalog: Catalog,
      rowCount: Long = 15, seed: Long = 42)
      : (Seq[ArmedLoadReport], Seq[DeferredLinkReport], Seq[PartReadbackReport]) = {
    val db = s"graft_awl_${dbCounter.incrementAndGet()}_${System.nanoTime()}"
    val url = s"jdbc:derby:memory:$db"
    try runArmedOn(spark, catalog, url, rowCount, seed, link = true)
    finally dropDatabase(url)
  }

  /** S9: existence probe — can the database be opened as-is? */
  def databaseExists(url: String): Boolean =
    try { DriverManager.getConnection(url).close(); true }
    catch { case _: java.sql.SQLException => false }

  /** CREATE DATABASE if absent (apply_mssql.py:27-43). */
  def ensureDatabase(url: String): Unit =
    if (!databaseExists(url)) DriverManager.getConnection(s"$url;create=true").close()

  private def dropDatabase(url: String): Unit =
    try DriverManager.getConnection(s"$url;drop=true").close()
    catch { case _: java.sql.SQLException => () } // 08006 == dropped OK

  /** Public teardown for callers that manage their own scratch DB
    * (e.g. the streaming JDBC sink). */
  def dropDatabaseQuietly(url: String): Unit = dropDatabase(url)

  private def runOn(spark: SparkSession, catalog: Catalog, url: String,
      rowCount: Long, seed: Long): Seq[TableLoadReport] = {
    val target = JdbcSink.Target(url, "", "")
    ensureDatabase(url)

    // Deploy bare tables (constraints unarmed = "disabled" posture).
    val targets = catalog.order.filterNot(GeneratePipeline.skipTable)
    JdbcSink.execute(target, targets.map(t => DerbyDdl.createTableSql(catalog(t))))
      .zip(targets).foreach { case (err, t) =>
        err.foreach(e => sys.error(s"create $t failed: $e"))
      }

    // Generate + bulk-append (K1). Constraints are not armed, so the
    // writes need no toggling and no ordering beyond the generator's own
    // parent-key waves.
    // TrieMap: the sink runs concurrently for tables of the same wave
    val loaded = scala.collection.concurrent.TrieMap.empty[String, Long]
    val results = GeneratePipeline.run(spark, catalog, rowCount, seed, (t, df) => {
      JdbcSink.appendGenerated(df, catalog(t), target, toggleConstraints = false,
        quoteTable = DerbyDdl.q)
      loaded(t) = rowCount
    })
    results.filterNot(_.ok).foreach(r => sys.error(s"generate ${r.table}: ${r.error}"))

    // Re-arm constraints (K4 "enable" equivalent) — one connection per
    // pass (PKs, then FKs), per-statement error tolerance like
    // apply_mssql.py:94-102; Derby validates on ADD, so a failure here is
    // a real integrity signal, recorded per table.
    val pkSql = targets.flatMap(t => DerbyDdl.addPkSql(catalog(t)).map(t -> _))
    val pkRefused: Set[String] = JdbcSink.execute(target, pkSql.map(_._2)).zip(pkSql)
      .collect { case (Some(_), (t, _)) => t }.toSet
    val pkOk: Map[String, Boolean] = targets.map(t => t -> !pkRefused(t)).toMap
    val fkSql = targets.flatMap(t => catalog(t).fks.map(fk => t -> DerbyDdl.addFkSql(fk)))
    val fkOk: Map[String, Int] = JdbcSink.execute(target, fkSql.map(_._2)).zip(fkSql)
      .collect { case (None, (t, _)) => t }.groupMapReduce(identity)(_ => 1)(_ + _)

    // Read back through the JDBC source and audit.
    val (nReadback, fkBad) = auditReadback(spark, url, target, catalog, targets)

    targets.sorted.map { t =>
      val td = catalog(t)
      TableLoadReport(t, loaded.getOrElse(t, 0L), nReadback(t),
        fkBad.getOrElse(t, 0L), pkOk(t), td.fks.size, fkOk.getOrElse(t, 0))
    }
  }

  /** Per-table read-back counts + per-table FK-violation counts, asked of
    * the database as ONE statement read through one `query` JDBC relation
    * — one Spark job and one connection whatever the table and edge
    * counts. The statement is a UNION ALL of a COUNT(*) branch per table
    * (kind 0) and an orphan-count branch per FK edge (kind 1); an edge is
    * audited only if its parent was deployed, and violations are summed
    * per table. */
  private[load] def auditReadback(spark: SparkSession, url: String,
      target: JdbcSink.Target, catalog: Catalog, targets: Seq[String])
      : (Map[String, Long], Map[String, Long]) = {
    val deployed = targets.toSet
    // every branch names its columns: Spark selects them by name
    def branch(t: String, kind: Int) =
      s"SELECT ${label(t)} AS TBL, $kind AS KIND, CAST(COUNT(*) AS BIGINT) AS N FROM ${DerbyDdl.q(t)}"
    val branches = targets.map(branch(_, 0)) ++
      targets.flatMap(t => catalog(t).fks.filter(f => deployed(f.refTable)).map(f =>
        s"${branch(t, 1)} c WHERE ${orphanPredicate(catalog, f)}"))
    if (branches.isEmpty) (Map.empty, Map.empty)
    else {
      val (counts, bad) = spark.read.format("jdbc")
        .options(JdbcSink.props(target).asScala)
        .option("url", url).option("query", branches.mkString("\nUNION ALL "))
        .load().collect().partition(_.getInt(1) == 0)
      (counts.map(r => r.getString(0) -> r.getLong(2)).toMap,
        bad.groupMapReduce(_.getString(0))(_.getLong(2))(_ + _))
    }
  }

  /** A table name as a Derby string literal. The CAST matters: UNION ALL
    * over bare literals of different lengths types them CHAR(n), and the
    * shorter names come back blank-padded. */
  private def label(t: String): String = s"CAST('${t.replace("'", "''")}' AS VARCHAR(256))"

  /** The child rows (alias `c`) of edge `f` whose non-NULL FK value has no
    * parent row — the left-anti semantics, with exact equality:
    *  - string edges also compare LENGTH, because Derby compares strings
    *    blank-padded ('AB' = 'AB ') where an exact match must not;
    *  - an edge whose columns Derby cannot compare (different type
    *    families, or a BLOB) would fail the whole statement; no value of
    *    one family equals a value of another, so every non-NULL FK value
    *    counts as a violation. */
  private def orphanPredicate(catalog: Catalog, f: Fk): String = {
    val (fk, pk) = (s"c.${DerbyDdl.q(f.column)}", s"p.${DerbyDdl.q(f.refColumn)}")
    val family = DerbyDdl.compareFamily(catalog(f.table).schema(f.column))
    val comparable = family.isDefined &&
      family == DerbyDdl.compareFamily(catalog(f.refTable).schema(f.refColumn))
    if (!comparable) s"$fk IS NOT NULL"
    else {
      val eq = if (family.contains("VARCHAR")) s"$pk = $fk AND LENGTH($pk) = LENGTH($fk)"
        else s"$pk = $fk"
      s"$fk IS NOT NULL AND NOT EXISTS (SELECT 1 FROM ${DerbyDdl.q(f.refTable)} p WHERE $eq)"
    }
  }

  private def runArmedOn(spark: SparkSession, catalog: Catalog, url: String,
      rowCount: Long, seed: Long, link: Boolean)
      : (Seq[ArmedLoadReport], Seq[DeferredLinkReport], Seq[PartReadbackReport]) = {
    val target = JdbcSink.Target(url, "", "")
    ensureDatabase(url)
    val targets = catalog.order.filterNot(GeneratePipeline.skipTable)

    // Deploy the FULLY-CONSTRAINED schema up front: bare CREATE, then arm
    // every PK and FK while the tables are still empty (trivially valid).
    // From here on the database validates each INSERT — any failure below
    // is a real integrity break, so errors are fatal, not tolerated.
    JdbcSink.execute(target, targets.map(t => DerbyDdl.createTableSql(catalog(t))))
      .zip(targets).foreach { case (err, t) =>
        err.foreach(e => sys.error(s"create $t failed: $e"))
      }
    val pkSql = targets.flatMap(t => DerbyDdl.addPkSql(catalog(t)).map(t -> _))
    JdbcSink.execute(target, pkSql.map(_._2)).zip(pkSql).foreach { case (err, (t, _)) =>
      err.foreach(e => sys.error(s"arm PK $t failed: $e"))
    }
    val pkArmed: Map[String, Boolean] = targets.map(t => t -> catalog(t).pk.nonEmpty).toMap
    val waveOf: Map[String, Int] =
      graft.deps.Deps.waves(targets, catalog.allFks).zipWithIndex
        .flatMap { case (ts, i) => ts.map(_ -> i) }.toMap
    // all-or-crash, not tolerant: a refused FK on an empty schema is a
    // deploy bug. ARMABLE = the edges this posture can actually promise:
    //  - parent deployed (a skipped/absent parent would make Derby reject
    //    the ADD CONSTRAINT outright; auditReadback filters the same way)
    //  - parent's single-column PK armed AND it IS the referenced column
    //    (Derby validates FKs against a PK/unique constraint; the
    //    generator samples child values from the parent's PK, so an FK
    //    onto any other column has no value contract to enforce)
    //  - parent in a STRICTLY earlier wave (a cycle-fallback or self-FK
    //    parent lands in the same wave, where the generator has no parent
    //    sample yet — arming such an edge would reject valid loads).
    // Everything filtered here is still counted by auditReadback.
    val targetSet = targets.toSet
    val armable: Map[String, Seq[graft.ddl.Fk]] = targets.map(t =>
      t -> catalog(t).fks.filter(fk =>
        targetSet.contains(fk.refTable) &&
          pkArmed.getOrElse(fk.refTable, false) &&
          catalog(fk.refTable).pk == Seq(fk.refColumn) &&
          waveOf.get(fk.refTable).exists(pw => waveOf.get(t).exists(pw < _)))).toMap
    val armedFks = targets.flatMap(armable)
    JdbcSink.execute(target, armedFks.map(DerbyDdl.addFkSql)).zip(armedFks).foreach { case (err, fk) =>
      err.foreach(e => sys.error(s"arm FK ${fk.table}->${fk.refTable} failed: $e"))
    }
    val fkArmed: Map[String, Int] = targets.map(t => t -> armable(t).size).toMap

    // In-target edges the wave order CANNOT promise (self-FKs and
    // cycle-fallback same-wave edges — e.g. CariHesap.FaturaHesapId →
    // CariHesap.Id): no parent sample exists when the child generates, so
    // the generated value is synthetic garbage. The armed posture drops
    // those columns from the INSERT so they land as the DB default NULL —
    // the classic deferred-self-reference bulk pattern (a second UPDATE
    // pass would link them once all rows exist). Dropped from the
    // projection rather than nulled in the frame: Spark's Derby dialect
    // binds a NULL StringType as CLOB, which Derby rejects on a VARCHAR
    // column (ERROR 22005). Non-nullable columns are left untouched (they
    // would fail the insert) and surface in the audit instead.
    val deferredFks: Map[String, Seq[graft.ddl.Fk]] = targets.map { t =>
      val armed = armable(t).toSet
      t -> catalog(t).fks
        .filter(f => targetSet.contains(f.refTable) && !armed.contains(f) &&
          catalog(t).schema(f.column).nullable)
    }.toMap
    val deferredCols: Map[String, Set[String]] =
      deferredFks.map { case (t, fks) => t -> fks.map(_.column).toSet }

    // Wave-ordered load: GeneratePipeline already iterates Deps.waves
    // (parents before children), which is exactly the order an armed-FK
    // target requires. Each frame is deduplicated on its PK first — the
    // armed posture's precondition — and appended with constraints LIVE.
    val results = GeneratePipeline.run(spark, catalog, rowCount, seed, (t, df) => {
      val td = catalog(t)
      // Deterministic winner per PK: row_number over a TOTAL order (all
      // columns), not dropDuplicates — which keeps an arbitrary row per
      // key, so surviving non-PK values would drift across partitionings
      // and flake any future value-level (g03-style) oracle freeze.
      val deduped =
        if (td.pk.nonEmpty && td.pk.forall(td.schema.fieldNames.contains)) {
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(td.pk.map(col): _*)
            .orderBy(td.schema.fieldNames.toIndexedSeq.map(c => col(c).asc_nulls_first): _*)
          df.withColumn("__rn", row_number().over(w))
            .filter(col("__rn") === 1).drop("__rn")
        } else df
      JdbcSink.appendGenerated(deduped, td, target, toggleConstraints = false,
        quoteTable = DerbyDdl.q, exclude = deferredCols.getOrElse(t, Set.empty))
    })
    results.filterNot(_.ok).foreach(r =>
      sys.error(s"armed load ${r.table}: ${r.error.getOrElse("?")}"))

    // Read-back audit on top of the DB's own enforcement: it also counts
    // the edges the armed posture could not constrain.
    val (nReadback, fkBad) = auditReadback(spark, url, target, catalog, targets)
    val loadReports = targets.sorted.map { t =>
      ArmedLoadReport(t, waveOf(t), rowCount, nReadback(t),
        fkBad.getOrElse(t, 0L), pkArmed(t), fkArmed(t))
    }

    // Deferred-FK linking epilogue (the "second UPDATE pass" the dropped
    // columns were waiting for): every deferred edge is linked to the
    // parent's MIN key — deterministic, and trivially valid — then the
    // edges the parent's armed PK can back are constrained LATE, so the
    // DATABASE itself revalidates the linked values (Derby, unlike
    // MSSQL's WITH NOCHECK, scans existing rows on ADD CONSTRAINT).
    // Edges onto non-PK parent columns stay unarmed (no unique backing)
    // but still link and audit to zero NULLs. Skipped entirely for
    // load-only callers (link = false).
    val linkReports = if (!link) Seq.empty[DeferredLinkReport]
    else targets.sorted.flatMap { t =>
      deferredFks(t).sortBy(_.column).map { fk =>
        val (tq, cq) = (DerbyDdl.q(t), DerbyDdl.q(fk.column))
        val (rq, rcq) = (DerbyDdl.q(fk.refTable), DerbyDdl.q(fk.refColumn))
        val nLinked = updateCount(url,
          s"UPDATE $tq SET $cq = (SELECT MIN($rcq) FROM $rq) WHERE $cq IS NULL")
        val canArm = pkArmed.getOrElse(fk.refTable, false) &&
          catalog(fk.refTable).pk == Seq(fk.refColumn)
        if (canArm)
          JdbcSink.execute(target, Seq(DerbyDdl.addFkSql(fk))).head
            .foreach(e => sys.error(s"late-arm FK $t->${fk.refTable} failed: $e"))
        val nNull = scalarLong(url, s"SELECT COUNT(*) FROM $tq WHERE $cq IS NULL")
        DeferredLinkReport(t, fk.column, fk.refTable, nLinked, nNull, canArm)
      }
    }
    // g21's partition-parallel verification pass — same Derby lifetime,
    // so the audit reads the exact state the load and link passes left
    val partReports =
      if (link) partitionedReadback(spark, url, target, catalog, targets)
      else Seq.empty[PartReadbackReport]
    (loadReports, linkReports, partReports)
  }

  private def updateCount(url: String, sql: String): Long = {
    val c = DriverManager.getConnection(url)
    try { val st = c.createStatement(); try st.executeUpdate(sql).toLong finally st.close() }
    finally c.close()
  }

  private def scalarLong(url: String, sql: String): Long = {
    val c = DriverManager.getConnection(url)
    try {
      val st = c.createStatement()
      try { val rs = st.executeQuery(sql); rs.next(); rs.getLong(1) }
      finally st.close()
    } finally c.close()
  }
}
