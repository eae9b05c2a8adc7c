package graft.interp

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.{InMemoryFileIndex, PartitioningAwareFileIndex}
import org.apache.spark.sql.graftsession.SessionHooks
import org.apache.spark.sql.types.StructType

import java.io.IOException
import java.nio.file.{Files, NoSuchFileException, Paths}
import java.nio.file.attribute.BasicFileAttributes
import scala.jdk.CollectionConverters._

/** Lists a file relation's root paths as `InMemoryFileIndex.allFiles()`
  * would, without building an index, where the roots are plain
  * directories on the local file system. An index copies the session's
  * Hadoop configuration twice (its own, then a `JobConf`) before it
  * lists one directory, which costs about twenty times the listing
  * here: one `java.nio` stat per entry.
  *
  * The rules are the index's own:
  *  - names `HadoopFSUtils.shouldFilterOutPathName` drops (`_SUCCESS`,
  *    `_temporary`, hidden and `._COPYING_` names) are dropped, files and
  *    directories alike, so no `.crc` checksum is ever returned;
  *  - a missing root lists as empty.
  *
  * Anything else gives no answer here, and [[files]] builds the index:
  *  - a root not on Hadoop's local file system, or a root or entry name
  *    with characters Hadoop would render otherwise in a path;
  *  - a root that is a file, or that holds a kept subdirectory (the
  *    index walks it, and partition discovery over it decides what
  *    `allFiles()` returns);
  *  - a result that depends on more than these rules: a relation option
  *    other than `path` (the index reads options such as
  *    `recursiveFileLookup` and `pathGlobFilter`, and copies every
  *    option into its Hadoop configuration), a SQL conf setting outside
  *    `spark.` (copied there too), or a Hadoop path filter
  *    (`mapreduce.input.pathFilter.class`). */
object FileListing {

  /** (path, length, modification time) of each file, sorted by path. */
  type Files = Seq[(String, Long, Long)]

  /** `FileInputFormat.PATHFILTER_CLASS`. */
  private val PathFilter = "mapreduce.input.pathFilter.class"

  /** The files an index over `roots` with `options` and `schema`
    * returns in `spark`, whose SQL conf is `sqlConf`: [[direct]] where it
    * answers, or else the index itself, built with no shared listing
    * cache. */
  def files(spark: SparkSession, roots: Seq[Path], options: Map[String, String], schema: StructType,
      sqlConf: Map[String, String]): Files =
    direct(SessionHooks.hadoopConf(spark), roots, options, sqlConf)
      .getOrElse(of(new InMemoryFileIndex(spark, roots, options, Some(schema))))

  /** The files `index` returns. */
  def of(index: PartitioningAwareFileIndex): Files =
    index.allFiles().map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).sortBy(_._1)

  /** The files the index over `roots` with `options` would return in a
    * session whose SQL conf is `sqlConf` and whose shared Hadoop
    * configuration is `hadoop`: each root's [[local]] listing, or None
    * where one of them gives no answer. */
  def direct(hadoop: Configuration, roots: Seq[Path], options: Map[String, String],
      sqlConf: Map[String, String]): Option[Files] =
    if (!options.keysIterator.forall(_.equalsIgnoreCase("path")) ||
        !sqlConf.keysIterator.forall(_.startsWith("spark.")) || hadoop.get(PathFilter) != null) None
    else {
      val listed = roots.map { root =>
        val fs = root.getFileSystem(hadoop)
        local(fs, fs.makeQualified(root))
      }
      Option.when(listed.forall(_.isDefined))(listed.flatten.flatten.sortBy(_._1))
    }

  /** Names Hadoop's local file system renders unchanged in a path. */
  private val Plain = "[A-Za-z0-9._=+-]+".r
  private val PlainPath = "(/[A-Za-z0-9._=+-]+)+".r

  /** Hadoop's local file systems: Hive's `ProxyLocalFileSystem`, which
    * Spark's Hive jars bind to `file:`, forwards to a `LocalFileSystem`. */
  private val LocalFileSystems = Set(classOf[LocalFileSystem].getName, classOf[RawLocalFileSystem].getName,
    "org.apache.hadoop.hive.ql.io.ProxyLocalFileSystem")

  /** The files directly under `root` that the index returns, listed
    * through `java.nio`: Hadoop names an entry `root/name`, as this does.
    * None for a root off the local file system, a root or entry name
    * with other characters, a root that is not a readable directory, or
    * a root holding a kept subdirectory. */
  private[graft] def local(fs: FileSystem, root: Path): Option[Files] =
    if (!LocalFileSystems(fs.getClass.getName) || root.toUri.getScheme != "file" || root.toUri.getAuthority != null ||
        !PlainPath.matches(root.toUri.getPath)) None
    else {
      val dir = Paths.get(root.toUri.getPath)
      val prefix = root.toString + "/"
      try {
        val stream = Files.newDirectoryStream(dir)
        val names = try stream.iterator.asScala.map(_.getFileName.toString).toVector finally stream.close()
        val kept = names.filterNot(SessionHooks.listingDrops)
        if (!kept.forall(Plain.matches)) None
        else {
          val stats = kept.flatMap { name =>
            try Some(name -> Files.readAttributes(dir.resolve(name), classOf[BasicFileAttributes]))
            catch { case _: NoSuchFileException => None } // gone since the listing, as Hadoop skips it
          }
          Option.when(!stats.exists(_._2.isDirectory))(stats.map { case (name, a) =>
            (prefix + name, a.size, a.lastModifiedTime.toMillis)
          })
        }
      } catch {
        case _: NoSuchFileException => Some(Seq.empty)
        case _: IOException => None
      }
    }
}
