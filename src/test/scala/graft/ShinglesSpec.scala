package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Shingles3 must be byte-identical to the declarative chain it
  * replaced (split -> transform over sequence -> array_distinct). */
class ShinglesSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val hofChain =
    """CASE WHEN size(split(text, ' ')) >= 3 THEN
         array_distinct(transform(sequence(1, size(split(text, ' ')) - 2),
           i -> concat_ws(' ', element_at(split(text, ' '), i),
             element_at(split(text, ' '), i + 1),
             element_at(split(text, ' '), i + 2))))
       ELSE array() END"""

  test("identical to the HOF formulation on edge-case strings") {
    import spark.implicits._
    val df = Seq(
      "the quick brown fox jumps",
      "a b c",
      "a b",                       // < 3 tokens -> empty
      "x x x x x",                 // repeated grams dedup
      "a  b c d",                  // double space: empty interior token kept
      "trailing space ends here ", // trailing empty token kept (limit -1)
      ""                           // empty string
    ).toDF("text")
    val rows = df.select(expr("shingles3(text)").as("n"), expr(hofChain).as("h")).collect()
    rows.foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1),
        s"mismatch: ${r.getSeq[String](0)} vs ${r.getSeq[String](1)}")
    }
  }

  test("real corpus: explode counts match the old pipeline") {
    val docs = Tables.t(spark, "/root/testdata/sf0.001", "documents")
    val n1 = docs.select(explode(expr("shingles3(text)"))).count()
    val n2 = docs.select(explode(expr(hofChain))).count()
    assert(n1 == n2 && n1 > 0)
  }
}
