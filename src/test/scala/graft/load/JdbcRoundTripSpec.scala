package graft.load

import graft.ddl.{Catalog, DdlParser}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Live end-to-end test of the K1/K4/S9 surface against embedded Derby —
  * a REAL database connection, not statement-text assertions: deploy
  * retargeted DDL, bulk-append generated rows through the Spark JDBC
  * writer, re-arm constraints, read back through spark.read.jdbc. */
class JdbcRoundTripSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.TestSpark.session

  lazy val cat: Catalog = DdlParser.parseFile("/root/reference/script.sql")

  private def slice: Catalog = {
    val keep = Set("Ulke", "Il", "Banka", "VergiDairesi", "BankaSube")
    Catalog(
      cat.tables.view.filterKeys(keep).toMap.map { case (k, v) =>
        k -> v.copy(fks = v.fks.filter(f => keep(f.refTable)))
      },
      cat.order.filter(keep))
  }

  test("a uniqueidentifier column named after a sentence keyword loads (values cut to 36)") {
    // RuleInference gives `AciklamaId` a sentence; Derby stores the
    // column as VARCHAR(36) and would refuse any longer value
    val one = DdlParser.parse(
      """CREATE TABLE [dbo].[Belge](
        |  [Id] [uniqueidentifier] NOT NULL,
        |  [AciklamaId] [uniqueidentifier] NULL,
        | CONSTRAINT [PK_Belge] PRIMARY KEY CLUSTERED
        |(
        |  [Id] ASC
        |)WITH (PAD_INDEX = OFF) ON [PRIMARY]
        |) ON [PRIMARY]
        |GO
        |""".stripMargin)
    import org.apache.spark.sql.functions.{col, length, max}
    val gen = graft.gen.Generator.tableDf(spark, one("Belge"), 200, 42)
    assert(gen.agg(max(length(col("AciklamaId")))).head().getInt(0) <= 36)
    val Seq(r) = JdbcRoundTrip.run(spark, one, rowCount = 200, seed = 42)
    assert(r.table_name == "Belge" && r.n_loaded == 200 && r.n_readback == 200)
    assert(r.pk_rearmed && r.n_fk_bad == 0)
  }

  test("S9: database-existence probe + create-if-absent") {
    val url = s"jdbc:derby:memory:graft_s9_${System.nanoTime()}"
    assert(!JdbcRoundTrip.databaseExists(url), "fresh in-memory DB must not exist")
    JdbcRoundTrip.ensureDatabase(url)
    assert(JdbcRoundTrip.databaseExists(url), "ensureDatabase must create it")
    // idempotent
    JdbcRoundTrip.ensureDatabase(url)
    assert(JdbcRoundTrip.databaseExists(url))
  }

  test("K1/K4: full generate → append → re-arm → readback round-trip") {
    val reports = JdbcRoundTrip.run(spark, slice, rowCount = 15, seed = 42)
    assert(reports.map(_.table_name) ==
      Seq("Banka", "BankaSube", "Il", "Ulke", "VergiDairesi"))

    // every table loads and reads back all rows through a live connection
    reports.foreach { r =>
      assert(r.n_loaded == 15, s"${r.table_name} loaded")
      assert(r.n_readback == 15, s"${r.table_name} readback")
      assert(r.n_fk_bad == 0, s"${r.table_name} FK-consistent")
    }

    val byName = reports.map(r => r.table_name -> r).toMap
    // identity PKs are distinct → re-arm succeeds; degenerate truncated
    // PKs (reference quirk) collide → Derby refuses to arm them
    assert(byName("Banka").pk_rearmed && byName("BankaSube").pk_rearmed)
    assert(!byName("Ulke").pk_rearmed && !byName("Il").pk_rearmed &&
      !byName("VergiDairesi").pk_rearmed)
    // the one FK whose parent PK armed (BankaSube→Banka) re-arms, which
    // also proves the loaded data satisfies it (Derby validates on ADD)
    assert(byName("BankaSube").n_fks_rearmed == 1)
    assert(byName("Banka").n_fks_rearmed == 0) // parent Ulke PK unarmed
  }

  test("armed posture: constraints live from the first row, wave-ordered load passes") {
    val reports = JdbcRoundTrip.runArmed(spark, slice, rowCount = 15, seed = 42)
    assert(reports.map(_.table_name) ==
      Seq("Banka", "BankaSube", "Il", "Ulke", "VergiDairesi"))
    val byName = reports.map(r => r.table_name -> r).toMap

    // every PK and every in-slice FK armed BEFORE any insert
    reports.foreach { r =>
      assert(r.pk_armed, s"${r.table_name} PK must arm on the empty table")
      assert(r.n_fk_bad == 0, s"${r.table_name} FK-consistent (DB-enforced)")
    }
    assert(byName("BankaSube").n_fks_armed == 2)
    assert(byName("Ulke").n_fks_armed == 0)

    // parents precede children: wave numbers respect the FK DAG
    assert(byName("Ulke").wave < byName("Banka").wave)
    assert(byName("Banka").wave < byName("BankaSube").wave)
    assert(byName("Il").wave < byName("VergiDairesi").wave)

    // PK-deduplicated loads: identity PKs keep all 15, degenerate
    // truncated PKs (reference quirk) collapse to their distinct count
    assert(byName("Banka").n_loaded == 15 && byName("BankaSube").n_loaded == 15)
    assert(byName("Ulke").n_loaded == 1)
    assert(byName("VergiDairesi").n_loaded == 8)
  }

  test("K1 scale posture: partitioned JDBC scan (4 range partitions) reads identical rows") {
    import graft.gen.Generator
    val url = s"jdbc:derby:memory:graft_pp_${System.nanoTime()}"
    val target = JdbcSink.Target(url, "", "")
    JdbcRoundTrip.ensureDatabase(url)
    try {
      val td = slice("Banka") // identity BIGINT-ish PK → a valid partition column
      val pk = td.pk.head
      JdbcSink.execute(target, Seq(DerbyDdl.createTableSql(td)))
        .head.foreach(e => fail(s"create: $e"))
      JdbcSink.appendGenerated(Generator.tableDf(spark, td, 15, 42), td, target,
        toggleConstraints = false, quoteTable = DerbyDdl.q)
      val serial = spark.read.jdbc(url, DerbyDdl.q(td.name), JdbcSink.props(target))
      // the cluster read path: each partition issues its own bounded
      // range query over the (quoted) PK — 4 concurrent connections
      val parallel = spark.read.jdbc(url, DerbyDdl.q(td.name), DerbyDdl.q(pk),
        1L, 15L, 4, JdbcSink.props(target))
      assert(parallel.rdd.getNumPartitions == 4, "scan must split into range partitions")
      val cols = serial.schema.fieldNames.sorted.map(org.apache.spark.sql.functions.col).toSeq
      assert(parallel.select(cols: _*).orderBy(cols: _*).collect().toSeq ==
        serial.select(cols: _*).orderBy(cols: _*).collect().toSeq,
        "partitioned scan must read exactly the serial scan's rows")
    } finally JdbcRoundTrip.dropDatabaseQuietly(url)
  }

  test("K1: appended values survive the round-trip byte-for-byte") {
    import graft.gen.Generator
    val url = s"jdbc:derby:memory:graft_vals_${System.nanoTime()}"
    val target = JdbcSink.Target(url, "", "")
    JdbcRoundTrip.ensureDatabase(url)
    try {
      val td = slice("Ulke")
      JdbcSink.execute(target, Seq(DerbyDdl.createTableSql(td)))
        .head.foreach(e => fail(s"create: $e"))
      val df = Generator.tableDf(spark, td, 15, 42)
      JdbcSink.appendGenerated(df, td, target, toggleConstraints = false,
        quoteTable = DerbyDdl.q)
      val back = spark.read.jdbc(url, DerbyDdl.q("Ulke"), JdbcSink.props(target))
      val expected = JdbcSink.insertProjection(df, td)
        .orderBy("TenantId").collect().toSeq
      val got = back.select(expected.head.schema.fieldNames.map(
        org.apache.spark.sql.functions.col).toSeq: _*)
        .orderBy("TenantId").collect().toSeq
      assert(got == expected, "read-back rows must equal the written rows")
    } finally JdbcRoundTrip.dropDatabaseQuietly(url)
  }
}
