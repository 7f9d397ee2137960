package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import graft.load.JdbcRoundTrip
import graft.queries._
import org.scalatest.funsuite.AnyFunSuite
import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}

/** graft.Memo's contract: one build per key under concurrent and nested
  * calls, no entry left by a failed build, the release of every dropped
  * entry (Harness teardown and stopped sessions), the cleared lane's
  * shared-deployment rule — and, on the real modules, that one clear
  * empties every module's memos. */
class MemoSpec extends AnyFunSuite {
  // a def: the stopped-session test replaces the shared session
  private def spark = TestSpark.session
  private val d = "/root/testdata/sf0.001"

  private def liveCount(name: String): Int = Memo.liveNames.count(_ == name)

  test("8 concurrent callers of one key share a single build") {
    val memo = new Memo[String, String]("MemoSpec.concurrent")
    val builds = new AtomicInteger()
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val s = spark
    try {
      val calls = Future.sequence((1 to 8).map(_ => Future {
        start.await()
        memo(s, "k") { builds.incrementAndGet(); Thread.sleep(200); s"v${builds.get}" }
      }))
      start.countDown()
      val got = Await.result(calls, Duration(60, TimeUnit.SECONDS))
      assert(builds.get == 1, "the build must run once")
      assert(got.toSet == Set("v1"))
      assert(liveCount("MemoSpec.concurrent") == 1)
    } finally { pool.shutdown(); Memo.clearAll() }
  }

  test("a memo read inside another memo's build (and the same memo's) builds once each") {
    val outer = new Memo[String, Int]("MemoSpec.outer")
    val inner = new Memo[String, Int]("MemoSpec.inner")
    val builds = new AtomicInteger()
    val s = spark
    def get(): Int = outer(s, "a") {
      builds.incrementAndGet()
      inner(s, "b") { builds.incrementAndGet(); 1 } +
        outer(s, "c") { builds.incrementAndGet(); 2 }
    }
    try {
      assert(get() == 3 && get() == 3)
      assert(builds.get == 3)
      assert(liveCount("MemoSpec.outer") == 2 && liveCount("MemoSpec.inner") == 1)
    } finally Memo.clearAll()
  }

  test("a build that throws leaves no entry, and the next call rebuilds") {
    val memo = new Memo[String, String]("MemoSpec.throwing")
    val builds = new AtomicInteger()
    val s = spark
    try {
      val e = intercept[IllegalStateException] {
        memo(s, "k") { builds.incrementAndGet(); throw new IllegalStateException("boom") }
      }
      assert(e.getMessage == "boom")
      assert(liveCount("MemoSpec.throwing") == 0)
      assert(memo(s, "k") { builds.incrementAndGet(); "ok" } == "ok")
      assert(memo(s, "k") { builds.incrementAndGet(); "again" } == "ok")
      assert(builds.get == 2)
    } finally Memo.clearAll()
  }

  test("cleared-lane clear keeps the shared armed deployment; the full clear drops it") {
    // g09/g10/g21 are three readouts of ONE armed Derby deployment — the
    // cleared lane (which clears memos before EVERY query) must keep that
    // triple across the pass so the build is graded once (in g09, first
    // consumer in sorted order), while Harness teardown's clearAll still
    // drops it. Dummy frames stand in for the deployment so this stays a
    // metadata-only test.
    val s = spark
    import s.implicits._
    val dummy = Seq(1).toDF("x")
    Generated.armedFullMemo(s, ())((dummy, dummy, dummy))
    Generated.liveMemo(s, "memospec-dummy")(dummy)
    Memo.clearAllKeepingSharedDeployments()
    assert(Generated.armedFullMemo(s, ())(fail("the shared deployment was rebuilt"))._1 eq dummy,
      "the shared deployment triple must survive the cleared-lane clear " +
        "(g10/g21 read it; re-deploying would grade the same build thrice)")
    assert(liveCount("Generated.live") == 0,
      "single-query Derby lifetimes must still clear per query — their " +
        "isolation is the semantics under grade (OCC/rollback/idempotency)")
    Memo.clearAll()
    assert(liveCount("Generated.armedFull") == 0,
      "the full clear (Harness teardown) must drop the deployment memo")
  }

  test("clearAll empties a real memo of every module") {
    // each call is the module's cheapest memoizing entry point at sf0.001
    val s = spark
    GraphOps.degreeHistogram(s, d).count()
    TextOps.charTrigramFamiliarity(s, d).count()
    EventOps.robustSpikes(s, d).count()
    Relational2.basketRules(s, d).count()
    VectorOps.ivfPqResidualTopK(s, d).count()
    StreamOps.streamDedup(s, d).count()
    Generated.federatedJoin(s, d).count()
    operators.CopyOnWrite.cowUpsert(s, d).count()
    operators.MergeOnRead.morTimeTravel(s, d).count()
    MediaOps.mediaDupClusters(s, d).count()
    multimodal.Multimodal.chunkSimhashPairs(s, d).count()
    val modules = Seq("GraphOps", "TextOps", "EventOps", "Relational2", "VectorOps",
      "StreamOps", "Generated", "CopyOnWrite", "MergeOnRead", "MediaOps", "Multimodal")
    val owners = Memo.liveNames.map(_.takeWhile(_ != '.')).toSet
    assert(modules.forall(owners), s"populate left modules without an entry: " +
      modules.filterNot(owners).mkString(", "))
    Memo.clearAll()
    assert(Memo.liveNames.isEmpty, s"entries survived clearAll: ${Memo.liveNames}")
  }

  private def scratchDir(): String = {
    val dir = Files.createTempDirectory("graft_memospec")
    Files.write(dir.resolve("part-0"), Array[Byte](1, 2, 3))
    dir.toString
  }

  private def deleteTree(dir: String): Unit = {
    val st = Files.walk(Paths.get(dir))
    try st.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
    finally st.close()
  }

  private def newDatabase(): String = {
    val url = s"jdbc:derby:memory:graft_memospec_${System.nanoTime()}"
    JdbcRoundTrip.ensureDatabase(url)
    url
  }

  private def opens(url: String): Boolean =
    try { java.sql.DriverManager.getConnection(url).close(); true }
    catch { case _: java.sql.SQLException => false }

  test("the release runs on clearAll and when the session has stopped") {
    val dirs = new Memo[String, String]("MemoSpec.dirs", deleteTree)
    val dbs = new Memo[String, String]("MemoSpec.dbs", JdbcRoundTrip.dropDatabaseQuietly)
    def hold(s: org.apache.spark.sql.SparkSession): (String, String) =
      (dirs(s, "k")(scratchDir()), dbs(s, "k")(newDatabase()))

    val (dir1, url1) = hold(spark)
    assert(Files.isDirectory(Paths.get(dir1)) && opens(url1))
    Memo.clearAll()
    assert(!Files.exists(Paths.get(dir1)), "clearAll must delete the scratch dir")
    assert(!opens(url1), "clearAll must drop the Derby database")

    val old = spark
    val (dir2, url2) = hold(old)
    old.stop() // later suites getOrCreate a fresh default session
    val fresh = spark
    assert(!fresh.sparkContext.isStopped)
    // any memo call evicts (and releases) the stopped session's entries
    assert(new Memo[String, Int]("MemoSpec.probe")(fresh, "k")(1) == 1)
    assert(!Files.exists(Paths.get(dir2)), "eviction must delete the scratch dir")
    assert(!opens(url2), "eviction must drop the Derby database")
    assert(liveCount("MemoSpec.dirs") == 0 && liveCount("MemoSpec.dbs") == 0)
    Memo.clearAll()
  }
}
