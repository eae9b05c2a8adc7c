package graft

import graft.queries.PipelineOps
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** kmeansAssignOf inlines its k·dims centroid doubles as one plan
  * constant per Lloyd iteration; the bound on k·dims is factored
  * (requireCentroidBound) so it is testable without a model that size,
  * and the kernel must refuse an over-bound model before it builds the
  * literal. */
class KmeansBoundSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("in bound: the contract entries and the K-scaled production config pass") {
    PipelineOps.requireCentroidBound(8, 64) // s04/d17/s10/s18: k = 8, 64 dims
    PipelineOps.requireCentroidBound(80, 64) // K = 80 at sf1 (ScaleProbe)
    PipelineOps.requireCentroidBound(1, PipelineOps.KmeansMaxCentroidValues.toInt)
    PipelineOps.requireCentroidBound(8, 0) // empty corpus: no centroid yet
  }

  test("over bound: the guard names the plan-constant limit") {
    val over = intercept[IllegalArgumentException] {
      PipelineOps.requireCentroidBound(1024, 65)
    }
    assert(over.getMessage.contains("plan constant"), over.getMessage)
    assert(over.getMessage.contains("k=1024, dims=65"), over.getMessage)
    // k·dims past Int range must not wrap into the bound
    intercept[IllegalArgumentException] {
      PipelineOps.requireCentroidBound(Int.MaxValue, 2)
    }
  }

  test("the kernel refuses an over-bound model; an empty corpus assigns nothing") {
    import spark.implicits._
    val dims = PipelineOps.KmeansMaxCentroidValues.toInt + 1
    val wide = Seq((0L, Seq.fill(dims)(0.5))).toDF("vec_id", "e")
    val over = intercept[IllegalArgumentException] {
      PipelineOps.kmeansAssignOf(wide, k = 1, iters = 1)
    }
    assert(over.getMessage.contains(s"dims=$dims"), over.getMessage)
    val empty = Seq.empty[(Long, Seq[Double])].toDF("vec_id", "e")
    assert(PipelineOps.kmeansAssignOf(empty, k = 8, iters = 2).count() == 0)
  }
}
