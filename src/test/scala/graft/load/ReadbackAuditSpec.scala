package graft.load

import java.util.concurrent.atomic.AtomicInteger
import graft.ddl.{Catalog, DdlParser}
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The read-back audit (`JdbcRoundTrip.auditReadback`) on a live Derby
  * database this spec fills by hand from an inline SSMS script: orphan
  * FK values, NULL FK values, a self-FK, a parent whose PK cannot arm, a
  * table with several edges, an edge onto a table that was not deployed,
  * and table names of different lengths. The database-side statement must
  * count exactly what a Spark left-anti join over `spark.read.jdbc` counts,
  * in one Spark job. */
class ReadbackAuditSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.TestSpark.session

  private def table(name: String, pk: String, cols: String*): String =
    s"""CREATE TABLE [dbo].[$name](
       |${cols.map("\t" + _ + ",").mkString("\n")}
       | CONSTRAINT [PK_$name] PRIMARY KEY CLUSTERED
       |(
       |\t[$pk] ASC
       |)WITH (PAD_INDEX = OFF, STATISTICS_NORECOMPUTE = OFF) ON [PRIMARY]
       |) ON [PRIMARY]
       |GO
       |""".stripMargin

  private def fk(child: String, column: String, parent: String, parentColumn: String): String =
    s"""ALTER TABLE [dbo].[$child]  WITH CHECK ADD  CONSTRAINT [FK_${child}_$column] FOREIGN KEY([$column])
       |REFERENCES [dbo].[$parent] ([$parentColumn])
       |GO
       |""".stripMargin

  private val script: String = Seq(
    table("Ulke", "Id", "[Id] [int] NOT NULL", "[Ad] [nvarchar](50) NULL"),
    table("Kod", "Kod", "[Kod] [nvarchar](5) NOT NULL"),
    table("Bolge", "Id", "[Id] [int] NOT NULL"),
    table("MusteriAdresBilgisi", "Id", "[Id] [int] NOT NULL", "[UlkeId] [int] NULL",
      "[KodRef] [nvarchar](5) NULL", "[UstId] [int] NULL"),
    table("Sehir", "Id", "[Id] [int] NOT NULL", "[BolgeId] [int] NULL"),
    fk("MusteriAdresBilgisi", "UlkeId", "Ulke", "Id"),
    fk("MusteriAdresBilgisi", "KodRef", "Kod", "Kod"),
    fk("MusteriAdresBilgisi", "UstId", "MusteriAdresBilgisi", "Id"),
    fk("Sehir", "BolgeId", "Bolge", "Id")).mkString

  private lazy val catalog: Catalog = DdlParser.parse(script)
  // Bolge stays undeployed: the edge onto it is not audited
  private lazy val deployed: Seq[String] = catalog.order.filterNot(_ == "Bolge")

  private def exec(target: JdbcSink.Target, sql: String*): Unit =
    JdbcSink.execute(target, sql).zip(sql).foreach { case (err, s) =>
      err.foreach(e => fail(s"$s: $e"))
    }

  /** A fresh in-memory database holding `targets` of `cat`, dropped after `body`. */
  private def withDb[T](cat: Catalog, targets: Seq[String])(fill: JdbcSink.Target => Unit)
      (body: (String, JdbcSink.Target) => T): T = {
    val url = s"jdbc:derby:memory:graft_audit_${System.nanoTime()}"
    val target = JdbcSink.Target(url, "", "")
    JdbcRoundTrip.ensureDatabase(url)
    try {
      exec(target, targets.map(t => DerbyDdl.createTableSql(cat(t))): _*)
      fill(target)
      body(url, target)
    } finally JdbcRoundTrip.dropDatabaseQuietly(url)
  }

  private def fillFixture(target: JdbcSink.Target): Unit = {
    exec(target,
      """INSERT INTO "Ulke" ("Id", "Ad") VALUES (1, 'A'), (2, 'B'), (3, 'C')""",
      // duplicate 'X': this parent's PK cannot arm
      """INSERT INTO "Kod" ("Kod") VALUES ('X'), ('X'), ('AB'), ('Y')""",
      // per edge: UlkeId 9 is an orphan; KodRef 'Z' is, and so is 'AB '
      // (Derby alone would match it to 'AB'); UstId 7 is (self-FK);
      // NULLs and row 5's reference to itself are not
      """INSERT INTO "MusteriAdresBilgisi" ("Id", "UlkeId", "KodRef", "UstId") VALUES
        |(1, 1, 'X', NULL), (2, 2, 'AB ', 1), (3, 9, 'Z', 1), (4, NULL, NULL, 7),
        |(5, 3, 'Y', 5)""".stripMargin,
      """INSERT INTO "Sehir" ("Id", "BolgeId") VALUES (1, 5)""")
    exec(target, Seq("Ulke", "MusteriAdresBilgisi", "Sehir")
      .flatMap(t => DerbyDdl.addPkSql(catalog(t))): _*)
    assert(JdbcSink.execute(target, DerbyDdl.addPkSql(catalog("Kod")).toSeq).head.isDefined,
      "Kod's PK must fail to arm")
  }

  /** The audit the statement replaces: per table a count, and per edge
    * onto a deployed parent a Spark left-anti join, summed per table. */
  private def sparkAudit(url: String, target: JdbcSink.Target, cat: Catalog,
      targets: Seq[String]): (Map[String, Long], Map[String, Long]) = {
    val frames = targets.map(t =>
      t -> spark.read.jdbc(url, DerbyDdl.q(t), JdbcSink.props(target))).toMap
    val bad = targets.map(t => t -> cat(t).fks.filter(f => frames.contains(f.refTable)).map { f =>
      frames(t).select(col(f.column)).filter(col(f.column).isNotNull)
        .join(frames(f.refTable).select(col(f.refColumn).as(f.column)), Seq(f.column), "left_anti")
        .count()
    }.sum).toMap
    (frames.map { case (t, df) => t -> df.count() }, bad)
  }

  /** Spark jobs `body` submits from this thread. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"readback-audit-${System.nanoTime()}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "read-back audit")
    try body
    finally {
      sc.clearJobGroup()
      ListenerBusDrain(sc)
      sc.removeSparkListener(listener)
    }
    jobs.get
  }

  test("per-table read-back and FK-violation counts equal a Spark left-anti audit") {
    withDb(catalog, deployed)(fillFixture) { (url, target) =>
      val (n, bad) = JdbcRoundTrip.auditReadback(spark, url, target, catalog, deployed)
      val (sparkN, sparkBad) = sparkAudit(url, target, catalog, deployed)
      assert(n == sparkN)
      deployed.foreach(t => assert(bad.getOrElse(t, 0L) == sparkBad(t), t))
      // not vacuous: the fixture's own numbers
      assert(n == Map("Ulke" -> 3L, "Kod" -> 4L, "MusteriAdresBilgisi" -> 5L, "Sehir" -> 1L))
      assert(bad.getOrElse("MusteriAdresBilgisi", 0L) == 4L)
      assert(Seq("Ulke", "Kod", "Sehir").forall(t => bad.getOrElse(t, 0L) == 0L))
    }
  }

  test("the audit submits at most one Spark job, whatever the table and edge counts") {
    withDb(catalog, deployed)(fillFixture) { (url, target) =>
      Seq(Seq("Ulke"), Seq("Ulke", "Kod"), deployed).foreach { targets =>
        val jobs = jobsOf(JdbcRoundTrip.auditReadback(spark, url, target, catalog, targets))
        assert(jobs <= 1, s"${targets.size} tables: $jobs jobs")
      }
    }
  }

  test("an edge Derby cannot compare counts every non-NULL value; quotes in names survive") {
    // a date column referencing an int key: Derby refuses to compare the
    // two, which must not fail the audit of the other tables
    val base = DdlParser.parse(Seq(
      table("Ulke", "Id", "[Id] [int] NOT NULL"),
      table("Fatura", "Id", "[Id] [int] NOT NULL", "[UlkeTarih] [date] NULL"),
      fk("Fatura", "UlkeTarih", "Ulke", "Id")).mkString)
    val name = "Fatura'Satir"
    val td = base("Fatura")
    val cat = Catalog(
      base.tables - "Fatura" + (name -> td.copy(name = name, fks = td.fks.map(_.copy(table = name)))),
      base.order.map(t => if (t == "Fatura") name else t))
    withDb(cat, cat.order) { target =>
      exec(target,
        """INSERT INTO "Ulke" ("Id") VALUES (1), (2)""",
        s"""INSERT INTO "$name" ("Id", "UlkeTarih") VALUES (1, DATE('2024-01-01')), (2, NULL)""")
    } { (url, target) =>
      val (n, bad) = JdbcRoundTrip.auditReadback(spark, url, target, cat, cat.order)
      assert(n == Map("Ulke" -> 2L, name -> 2L))
      assert(bad == Map(name -> 1L))
    }
  }
}
