package graft.io

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.{GraftException, Scope}

/** A maintained artifact's METADATA and PUBLISH ORDER, the one place
  * that knows either. Artifact `name` under a [[Scope]] keeps its tables
  * at `<name>/<table>/` and its parameters in a `key=value` manifest at
  * `<name>/_manifest`, closed by an `end` line so truncation shows.
  * [[save]] writes the manifest LAST, so one that exists means the rows
  * beside it are complete; a reader finding none fails naming the file
  * instead of serving a killed save's rows under stale parameters.
  * Manifest I/O goes through the Hadoop FileSystem: no Spark job.
  */
object Artifact {
  val ManifestName = "_manifest"

  /** The recorded fields of the manifest at `file`, read by name. */
  final case class Manifest(file: String, fields: Map[String, String]) {
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

  private def fs(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Publish `name`: drop its manifest, run `writeTables`, then record
    * `fields`. A `writeTables` that throws leaves no manifest.
    */
  def save(spark: SparkSession, scope: Scope, name: String,
           fields: (String, Any)*)(writeTables: => Unit): Unit = {
    val p = new Path(scope.path(name), ManifestName)
    if (!fs(spark, p).delete(p, false) && fs(spark, p).exists(p))
      throw new GraftException(s"failed to unpublish $p")
    writeTables
    writeAt(spark, scope.path(name), fields: _*)
  }

  /** Write the manifest of directory `dir` (temporary name, then rename). */
  def writeAt(spark: SparkSession, dir: String, fields: (String, Any)*): Unit = {
    val lines = fields.map { case (k, v) =>
      require(k.matches("\\w+") && !v.toString.exists(c => c == '\n' || c == '\r'),
        s"illegal manifest field $k=$v")
      s"$k=$v"
    } :+ "end"
    val (p, tmp) = (new Path(dir, ManifestName), new Path(dir, s"$ManifestName.tmp"))
    val out = fs(spark, p).create(tmp, true)
    try out.write(lines.mkString("", "\n", "\n").getBytes(UTF_8)) finally out.close()
    if (!fs(spark, p).rename(tmp, p)) throw new GraftException(s"failed to publish $p")
  }

  def read(spark: SparkSession, scope: Scope, name: String): Manifest =
    readAt(spark, scope.path(name))

  /** The manifest of directory `dir`; missing or unparseable fails
    * naming the file and quoting its content.
    */
  def readAt(spark: SparkSession, dir: String): Manifest = {
    val p = new Path(dir, ManifestName)
    val raw = try {
      val in = fs(spark, p).open(p)
      try new String(in.readAllBytes(), UTF_8) finally in.close()
    } catch {
      case _: FileNotFoundException => throw new IllegalStateException(
        s"missing artifact manifest $p: the artifact was never saved, " +
          "or its last save did not finish")
    }
    def corrupt(why: String) = new IllegalStateException(
      s"corrupt artifact manifest $p ($why; content: '${raw.take(200)}')")
    val lines = raw.split("\n", -1).toSeq
    if (lines.takeRight(2) != Seq("end", "")) throw corrupt("no end line")
    Manifest(p.toString, lines.dropRight(2).map { l =>
      l.split("=", 2) match {
        case Array(k, v) if k.nonEmpty => k -> v
        case _ => throw corrupt(s"bad line '$l'")
      }
    }.toMap)
  }

  /** Table `<name>/<table>` of a published artifact (manifest checked). */
  def load(spark: SparkSession, scope: Scope, name: String,
           table: String = "rows"): DataFrame = {
    read(spark, scope, name)
    spark.read.parquet(scope.path(s"$name/$table"))
  }
}
