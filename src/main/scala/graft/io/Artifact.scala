package graft.io

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.{GraftException, Scope, Scopes}

/** A maintained artifact's LAYOUT, METADATA and PUBLISH PROTOCOL, the
  * one place that knows any of them. Artifact `name` under a [[Scope]]
  * keeps each version at `<name>/v<k>/`: its tables at `v<k>/<table>/`
  * and its parameters in a `key=value` manifest at `v<k>/_manifest`,
  * closed by an `end` line so truncation shows. The CURRENT version is
  * the highest `k` that has a manifest; the manifest's temp-then-rename
  * write is the publish, so there is no pointer file. [[save]] writes a
  * new version beside the current one and removes the others only after
  * publishing it: a killed save leaves the previous version served and
  * an unfinished `v<k>` that readers skip and the next save removes.
  * Version and manifest I/O go through the Hadoop FileSystem: no Spark
  * job.
  */
object Artifact {
  val ManifestName = "_manifest"
  private val VersionDir = "v(\\d+)".r

  /** One published version of an artifact: its directory and the
    * recorded fields of its manifest, read by name.
    */
  final case class Manifest(dir: String, fields: Map[String, String]) {
    def file: String = s"$dir/$ManifestName"
    /** Path of table `name` in this version. */
    def table(name: String): String = s"$dir/$name"
    def get(key: String): Option[String] = fields.get(key)
    def int(key: String): Int = parsed(key, _.toIntOption)
    def long(key: String): Long = parsed(key, _.toLongOption)
    private def parsed[T](key: String, f: String => Option[T]): T = {
      def fail(why: String) = new IllegalStateException(
        s"artifact manifest $file $why (fields: ${fields.mkString(", ")})")
      val v = fields.getOrElse(key, throw fail(s"has no field '$key'"))
      f(v).getOrElse(throw fail(s"field '$key' is not a number: '$v'"))
    }
  }

  private def fs(spark: SparkSession, p: String): FileSystem =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The version numbers present under artifact directory `root`,
    * published or not, highest first (one listing).
    */
  private def versions(f: FileSystem, root: String): Seq[Int] = {
    val listed = try f.listStatus(new Path(root)).toSeq
    catch { case _: FileNotFoundException => Nil }
    listed.filter(_.isDirectory).map(_.getPath.getName).collect {
      case VersionDir(k) => k.toInt
    }.sorted.reverse
  }

  /** Publish a new version of `name`: run `writeTables` with the path
    * of each table in version `k` = 1 + the highest present, record
    * `fields` in its manifest, then delete every other version and drop
    * the catalog tables registered over them. The previous version is
    * untouched until the publish, so a `writeTables` that throws leaves
    * it current.
    */
  def save(spark: SparkSession, scope: Scope, name: String,
           fields: (String, Any)*)(writeTables: (String => String) => Unit): Unit = {
    val root = scope.path(name)
    val f = fs(spark, root)
    val k = versions(f, root).headOption.fold(1)(_ + 1)
    val dir = s"$root/v$k"
    writeTables(table => s"$dir/$table")
    writeManifest(f, dir, fields)
    versions(f, root).filter(_ != k).foreach { j =>
      val old = new Path(s"$root/v$j")
      f.listStatus(old).filter(_.isDirectory).foreach { t =>
        val tbl = catalogTable(s"$root/v$j/${t.getPath.getName}")
        if (spark.catalog.tableExists(tbl)) spark.sql(s"DROP TABLE $tbl")
      }
      Scopes.deletePath(f, old)
    }
  }

  /** Write the manifest of version directory `dir` (temporary name,
    * then rename: the rename is the publish).
    */
  private def writeManifest(f: FileSystem, dir: String,
                            fields: Seq[(String, Any)]): Unit = {
    val lines = fields.map { case (k, v) =>
      require(k.matches("\\w+") && !v.toString.exists(c => c == '\n' || c == '\r'),
        s"illegal manifest field $k=$v")
      s"$k=$v"
    } :+ "end"
    val (p, tmp) = (new Path(dir, ManifestName), new Path(dir, s"$ManifestName.tmp"))
    val out = f.create(tmp, true)
    try out.write(lines.mkString("", "\n", "\n").getBytes(UTF_8)) finally out.close()
    if (!f.rename(tmp, p)) throw new GraftException(s"failed to publish $p")
  }

  /** The current version of `name`: the highest `v<k>` with a manifest.
    * None at all fails naming the artifact; a damaged manifest fails
    * naming the file and quoting its content.
    */
  def read(spark: SparkSession, scope: Scope, name: String): Manifest = {
    val root = scope.path(name)
    val f = fs(spark, root)
    versions(f, root).iterator.flatMap(k => parse(f, s"$root/v$k")).nextOption()
      .getOrElse(throw new IllegalStateException(
        s"missing artifact manifest $root/v<k>/$ManifestName: the artifact " +
          "was never saved, or no save of it finished"))
  }

  /** The manifest of version directory `dir`; None if it has none yet. */
  private def parse(f: FileSystem, dir: String): Option[Manifest] = {
    val p = new Path(dir, ManifestName)
    val content = try {
      val in = f.open(p)
      try Some(new String(in.readAllBytes(), UTF_8)) finally in.close()
    } catch { case _: FileNotFoundException => None }
    content.map { raw =>
      def corrupt(why: String) = new IllegalStateException(
        s"corrupt artifact manifest $p ($why; content: '${raw.take(200)}')")
      val lines = raw.split("\n", -1).toSeq
      if (lines.takeRight(2) != Seq("end", "")) throw corrupt("no end line")
      Manifest(dir, lines.dropRight(2).map { l =>
        l.split("=", 2) match {
          case Array(k, v) if k.nonEmpty => k -> v
          case _ => throw corrupt(s"bad line '$l'")
        }
      }.toMap)
    }
  }

  /** Table `table` of the current version. */
  def load(spark: SparkSession, scope: Scope, name: String,
           table: String = "rows"): DataFrame =
    spark.read.parquet(read(spark, scope, name).table(table))

  /** The catalog name of an external table registered over the
    * artifact table at `path`: deterministic, so a fresh session
    * re-registers the same name over the same files, and derived from
    * the path alone, so [[save]] can drop it with the version.
    */
  def catalogTable(path: String): String =
    "graft_" + java.security.MessageDigest.getInstance("MD5")
      .digest(path.getBytes(UTF_8)).take(8).map(b => f"$b%02x").mkString
}
