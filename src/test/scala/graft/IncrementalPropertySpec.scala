package graft

import graft.interp.Dashboard.RunConfig
import graft.interp.{Dashboard, IncrementalAggregate, ResultCache}
import graft.render.Model
import org.apache.spark.sql.SparkSession
import org.scalacheck.rng.Seed
import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, StandardCopyOption}

/** Differential property of the result cache's incremental answers: after
  * every step of a random sequence of changes to a table's files, a
  * dashboard rendered through one long-lived cache gives exactly the JSON
  * of the same render through a fresh, empty cache, and each step gets
  * the outcome it implies — an unchanged table hits, an append (even an
  * empty one) is answered incrementally, and a removed or rewritten file,
  * an added column or an append past the driver-read bound runs in full. */
class IncrementalPropertySpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private sealed trait Step
  private final case class Append(rows: Int, seed: Int) extends Step
  private case object Unchanged extends Step
  private final case class Remove(seed: Int) extends Step
  private final case class Rewrite(rows: Int, seed: Int) extends Step
  private case object AddColumn extends Step
  private case object BigAppend extends Step

  private val step: Gen[Step] = Gen.frequency(
    6 -> Gen.zip(Gen.choose(0, 25), Gen.choose(0, 1 << 20)).map { case (n, s) => Append(n, s) },
    1 -> Gen.const(Unchanged),
    2 -> Gen.choose(0, 1 << 20).map(Remove(_)),
    2 -> Gen.zip(Gen.choose(1, 25), Gen.choose(0, 1 << 20)).map { case (n, s) => Rewrite(n, s) },
    1 -> Gen.const(AddColumn),
    1 -> Gen.const(BigAppend))

  private val Table = "incremental_property"

  private val content =
    s"""SELECT count(*) AS n, count(v) AS c, sum(v) AS s, min(v) AS lo, max(tenant) AS hi FROM $Table;
       |SELECT k, count(*) AS n, sum(v) AS s FROM $Table WHERE v IS NULL OR v % 2 = 0
       |GROUP BY k ORDER BY k;
       |SELECT k, max(tenant) AS m, count(v) AS c FROM $Table GROUP BY k
       |HAVING count(*) > 1 ORDER BY m DESC, k LIMIT 3;""".stripMargin
  private val statements = 3L

  /** One file past the driver-read bound, copied in by `BigAppend`. */
  private lazy val bigFile: Path = {
    val dir = Files.createTempDirectory("incremental-property-big").resolve("t").toString
    spark.range(0, 200000).selectExpr("id AS v", "id % 7 AS k", "sha2(CAST(id AS STRING), 256) AS tenant")
      .coalesce(1).write.parquet(dir)
    val f = parquetFiles(dir).head
    assert(Files.size(f) > IncrementalAggregate.MaxDeltaBytes)
    f
  }

  private def parquetFiles(dir: String): Seq[Path] = {
    val all = Files.list(java.nio.file.Paths.get(dir))
    try all.toArray.toSeq.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.endsWith(".parquet")).sortBy(_.toString)
    finally all.close()
  }

  private def remove(file: Path): Unit = {
    Files.delete(file)
    Files.deleteIfExists(file.resolveSibling(s".${file.getFileName}.crc"))
  }

  /** `n` rows with NULL keys and values mixed in, in the table's columns. */
  private def write(dir: String, n: Int, seed: Int, extra: Seq[String]): Unit =
    spark.range(0, n).selectExpr(
      Seq(s"IF((id + $seed) % 4 = 0, NULL, (id * 7 + $seed) % 50) AS v",
        s"IF((id + $seed) % 5 = 0, NULL, (id + $seed) % 4) AS k",
        s"element_at(array('a', 'b', 'c'), CAST((id + $seed) % 3 AS INT) + 1) AS tenant") ++
        extra.map(c => s"CAST(id AS STRING) AS $c"): _*)
      .coalesce(1).write.mode("append").parquet(dir)

  /** Applies `s` to the table in `dir`; the (hits, incremental, misses)
    * each statement of the next render must add. */
  private def apply(s: Step, dir: String, extra: scala.collection.mutable.Buffer[String]): (Long, Long, Long) = {
    val hit = (1L, 0L, 0L)
    val merged = (0L, 1L, 0L)
    val full = (0L, 0L, 1L)
    s match {
      case Append(n, seed) => write(dir, n, seed, extra.toSeq); merged
      case Unchanged => hit
      case Remove(seed) =>
        val files = parquetFiles(dir)
        if (files.isEmpty) hit else { remove(files(seed % files.length)); full }
      case Rewrite(n, seed) =>
        val files = parquetFiles(dir)
        if (files.isEmpty) hit
        else {
          val target = files(seed % files.length)
          val staging = Files.createTempDirectory("incremental-property-rewrite").resolve("t").toString
          Thread.sleep(5)
          write(staging, n + 40, seed, extra.toSeq)
          remove(target)
          Files.move(parquetFiles(staging).head, target)
          full
        }
      case AddColumn =>
        val c = s"extra${extra.length}"
        spark.sql(s"ALTER TABLE $Table ADD COLUMNS ($c STRING)")
        extra += c
        full
      case BigAppend =>
        Files.copy(bigFile, java.nio.file.Paths.get(dir, s"part-big-${System.nanoTime()}.parquet"),
          StandardCopyOption.COPY_ATTRIBUTES)
        full
    }
  }

  private def render(cache: ResultCache): String =
    Model.toJson(Dashboard.run(spark, content, RunConfig(cache = cache)))

  /** Runs one sequence of steps over a fresh table. */
  private def scenario(steps: List[Step]): Unit = {
    val dir = Files.createTempDirectory("incremental-property").resolve("t").toString
    val extra = scala.collection.mutable.Buffer.empty[String]
    write(dir, 20, 0, Nil)
    spark.sql(s"DROP TABLE IF EXISTS $Table")
    spark.sql(s"CREATE TABLE $Table USING parquet LOCATION '$dir'")
    val cache = new ResultCache(64L << 20)
    def counts() = (cache.hits.get, cache.incremental.get, cache.misses.get)
    render(cache)
    assert(counts() == (0, 0, statements), "first render")
    steps.foreach { s =>
      val (eh, ei, em) = apply(s, dir, extra)
      val (h, i, m) = counts()
      val json = render(cache)
      val (h1, i1, m1) = counts()
      assert((h1 - h, i1 - i, m1 - m) == (eh * statements, ei * statements, em * statements),
        s"outcome after $s in $steps")
      assert(json == render(new ResultCache(64L << 20)), s"rows after $s in $steps")
    }
    spark.sql(s"DROP TABLE $Table")
  }

  test("renders through a long-lived cache equal renders through a fresh one, step by step") {
    val params = Test.Parameters.default.withMinSuccessfulTests(5).withInitialSeed(Seed(20261018L))
    val result = Test.check(params, Prop.forAllNoShrink(Gen.listOfN(6, step)) { steps =>
      scenario(steps)
      true
    })
    assert(result.passed, result.status)
  }
}
