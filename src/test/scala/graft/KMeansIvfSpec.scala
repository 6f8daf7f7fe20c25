package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.SimilarityOps

/** Cell-quantized semantic dedup over the IVF coarse quantizer. */
class KMeansIvfSpec extends AnyFunSuite with SparkSessionFixture {

  test("semanticDedup drops planted in-cell duplicates, keeps min id") {
    import spark.implicits._
    // 20 is an exact copy of 0 (same cell by construction), 21 a copy
    // of 1; 22 is orthogonal-ish noise and must survive
    val base = (0L until 20L).map { i =>
      (i, Array.tabulate(8)(d => if (d == (i % 8).toInt) 1.0f else 0.1f * ((i + d) % 3)))
    }
    val rows = base ++ Seq(
      (20L, base(0)._2.clone()),
      (21L, base(1)._2.clone()),
      (22L, Array.tabulate(8)(d => if (d < 4) 0.9f else -0.9f)))
    val (keptDf, _) = SimilarityOps.semanticDedup(
      rows.toDF("vec_id", "embedding"), "vec_id", "embedding",
      numCentroids = 4, minCos = 0.999)
    val kept = keptDf.collect().map(_.getLong(0)).toSet
    assert(!kept.contains(20L) && !kept.contains(21L))
    assert(kept.contains(0L) && kept.contains(1L) && kept.contains(22L))
    assert(kept.size == rows.size - 2)
  }
}
