package graft

import graft.interp.FileListing
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.graftsession.SessionHooks
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalacheck.rng.Seed
import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import scala.util.Try

/** The result cache's text check lists a table with [[FileListing]]
  * instead of an `InMemoryFileIndex`. Over random directories holding
  * `_SUCCESS`, checksum, `_temporary`, hidden, `._COPYING_`, metadata,
  * partition-named, escaped and nested entries, its listing is the index's
  * `allFiles()` as (path, length, modification time); a directory of
  * plain-named files and no kept subdirectory is listed through
  * `java.nio` without the index, and anything else, or any option other
  * than `path`, takes the index. */
class FileListingSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val schema = StructType(Seq(StructField("v", LongType)))

  private sealed trait Entry { def name: String }
  /** A file; `hadoop` ones are written through Hadoop's local file
    * system, which writes a `.<name>.crc` checksum beside them. */
  private final case class File(name: String, bytes: Int, mtime: Long, hadoop: Boolean) extends Entry
  private final case class Dir(name: String, entries: Seq[Entry]) extends Entry

  private val fileNames = Gen.oneOf("part-00000.parquet", "part-00001.parquet", "data.bin", "x.crc",
    "_SUCCESS", ".hidden", "_metadata", "_common_metadata", "f._COPYING_", "_x=1", "k=3", "a b.parquet",
    "p%41.bin")
  private val dirNames = Gen.oneOf("_temporary", ".staging", "sub", "k=1", "k=2", "_y=1", "empty")

  private def file: Gen[File] = for {
    name <- fileNames
    bytes <- Gen.choose(0, 64)
    mtime <- Gen.choose(0L, 100000L)
    hadoop <- Gen.oneOf(true, false)
  } yield File(name, bytes, 1700000000000L + mtime * 1000, hadoop)

  private def dir(depth: Int): Gen[Dir] = for {
    name <- dirNames
    entries <- entries(depth + 1)
  } yield Dir(name, entries)

  private def entries(depth: Int): Gen[Seq[Entry]] = for {
    n <- Gen.choose(0, if (depth == 0) 6 else 3)
    es <- Gen.listOfN(n, if (depth >= 2) file else Gen.frequency(3 -> file, 1 -> dir(depth)))
  } yield es.groupBy(_.name).values.map(_.head).toSeq // one entry per name

  /** A root's entries, or None for a root that does not exist. */
  private val tree: Gen[Option[Seq[Entry]]] = Gen.frequency(1 -> Gen.const(None), 12 -> entries(0).map(Some(_)))

  private val dropped = Set("_SUCCESS", ".hidden", "f._COPYING_", "_temporary", ".staging")

  private val plain = "[A-Za-z0-9._=+-]+".r

  /** Whether the `java.nio` listing answers for `root` holding `t`: a
    * root spelled without a trailing slash that is missing or holds, of
    * what the index keeps, only plain-named files. */
  private def listsLocally(root: Path, t: Option[Seq[Entry]]): Boolean =
    !root.toString.endsWith("/") && t.forall(_.forall {
      case e if dropped(e.name) => true
      case f: File => plain.matches(f.name)
      case _: Dir => false
    })

  private def write(root: java.nio.file.Path, es: Seq[Entry]): Unit = {
    val fs = FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    Files.createDirectories(root)
    es.foreach {
      case File(name, bytes, mtime, hadoop) =>
        val p = root.resolve(name)
        if (hadoop) {
          val out = fs.create(new Path(p.toUri))
          try out.write(Array.fill[Byte](bytes)(7)) finally out.close()
        } else Files.write(p, Array.fill[Byte](bytes)(7))
        assert(p.toFile.setLastModified(mtime))
      case Dir(name, sub) => write(root.resolve(name), sub)
    }
  }

  test("over random directories the listing is InMemoryFileIndex.allFiles()") {
    val base = Files.createTempDirectory("file-listing-spec")
    val sqlConf = Sessions.textParts(Sessions.request(spark)).conf
    val hadoop = SessionHooks.hadoopConf(spark)
    var n = 0
    var viaLocal = 0
    val params = Test.Parameters.default.withMinSuccessfulTests(100).withInitialSeed(Seed(20261019L))
    val result = Test.check(params, Prop.forAllNoShrink(tree) { t =>
      n += 1
      val rootDir = base.resolve(s"t$n")
      t.foreach(write(rootDir, _))
      // as a catalog table's location is stored, and as a directory URI,
      // with a trailing slash (for which the index returns no file)
      Seq(new Path(rootDir.toString), new Path(rootDir.toUri)).foreach { root =>
        val options = Map("path" -> root.toString)
        val index = Try(FileListing.of(new InMemoryFileIndex(spark, Seq(root), options, Some(schema))))
        val listed = Try(FileListing.files(spark, Seq(root), options, schema, sqlConf))
        assert(listed.toOption == index.toOption && listed.isSuccess == index.isSuccess,
          s"$root $t\n$listed\n$index")
        // without the index exactly where the java.nio listing answers
        val fast = FileListing.direct(hadoop, Seq(root), options, sqlConf)
        fast.foreach(f => assert(index.toOption.contains(f), s"$root $t\n$f\n$index"))
        val fs = root.getFileSystem(hadoop)
        assert(fast == FileListing.local(fs, fs.makeQualified(root)).map(_.sortBy(_._1)), s"$root $t: $fast")
        assert(fast.isDefined == listsLocally(root, t), s"fast path for $root $t: $fast")
        if (fast.exists(_.nonEmpty)) viaLocal += 1
        // no checksum or other hidden file
        assert(listed.toOption.forall(_.forall(f => !new Path(f._1).getName.startsWith("."))), s"$t\n$listed")
        // any option but path takes the index
        Seq("recursiveFileLookup" -> "false", "pathGlobFilter" -> "*", "mergeSchema" -> "true").foreach { o =>
          assert(FileListing.direct(hadoop, Seq(root), options + o, sqlConf).isEmpty, o)
        }
      }
      true
    })
    org.apache.hadoop.fs.FileUtil.fullyDelete(base.toFile)
    assert(result.passed, result.status)
    assert(viaLocal > 10, s"only $viaLocal of $n directories listed files without the index")
  }

  test("a SQL conf setting outside spark. or a Hadoop path filter takes the index") {
    val rootDir = Files.createTempDirectory("file-listing-conf")
    Files.write(rootDir.resolve("part-0"), Array[Byte](1, 2, 3))
    val root = new Path(rootDir.toString)
    val sqlConf = Sessions.textParts(Sessions.request(spark)).conf
    val hadoop = SessionHooks.hadoopConf(spark)
    assert(FileListing.direct(hadoop, Seq(root), Map.empty, sqlConf).map(_.map(_._2)).contains(Seq(3L)))
    assert(FileListing.direct(hadoop, Seq(root), Map.empty, sqlConf + ("fs.defaultFS" -> "file:///")).isEmpty)
    val filtered = new org.apache.hadoop.conf.Configuration(hadoop)
    filtered.set("mapreduce.input.pathFilter.class", classOf[org.apache.hadoop.fs.GlobFilter].getName)
    assert(FileListing.direct(filtered, Seq(root), Map.empty, sqlConf).isEmpty)
    org.apache.hadoop.fs.FileUtil.fullyDelete(rootDir.toFile)
  }
}
