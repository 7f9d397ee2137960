package graft.queries

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The recall readout every curve query shares (v21, v23, v28, v30,
  * v32, v37, v40), driven on an inline frame: the rank tie-break, the
  * zero row for a point that found nothing, and a query with fewer
  * than 5 candidates. */
class RecallReadoutSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.TestSpark.session

  /** point -> (n_hits, n_exact) for `cand` over points 1..4 against a
    * 5-row baseline. */
  private def readout(cand: Seq[(Int, Long, Long, Long)]): Map[Int, (Long, Long)] = {
    import spark.implicits._
    val exact = Seq((0L, 5L), (0L, 6L), (1L, 20L), (1L, 21L), (1L, 22L))
      .toDF("q_id", "hit_id")
    VectorOps.recallReadout(cand.toDF("pt", "q_id", "hit_id", "score"), "pt", "score",
        Seq(1, 2, 3, 4).toDF("pt"), exact)
      .collect().map(r => r.getAs[Int]("pt") -> (r.getAs[Long]("n_hits"), r.getAs[Long]("n_exact")))
      .toMap
  }

  test("readout: a tied score is broken by hit id ascending") {
    // six candidates all tied: the top 5 by hit id ascending are 1..5, so
    // of the baseline's {5, 6} only 5 is kept (descending would keep both)
    val got = readout((1 to 6).map(h => (1, 0L, h.toLong, 7L)))
    assert(got(1) == (1L, 5L), s"tie-break by hit id ascending: $got")
  }

  test("readout: a point whose candidates all miss the baseline gets a 0 row") {
    val got = readout(Seq((2, 0L, 7L, 9L), (2, 0L, 8L, 8L), (1, 0L, 5L, 1L)))
    assert(got == Map(1 -> (1L, 5L), 2 -> (0L, 5L), 3 -> (0L, 5L), 4 -> (0L, 5L)),
      s"every point is a row, 0 where nothing was found: $got")
  }

  test("readout: a query with fewer than 5 candidates contributes the ones it has") {
    val got = readout(Seq((3, 1L, 20L, 3L), (3, 1L, 21L, 2L)))
    assert(got(3) == (2L, 5L), s"two candidates, both in the baseline: $got")
  }
}
