package graft.core

import java.security.SecureRandom

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-client isolated workspace: a random positive 64-bit id owning a
  * storage prefix. Datasets live at `<base>/<scopeId>/<name>`.
  *
  * Re-expresses the reference's scope lifecycle
  * (reference: src/de/uni_stuttgart/ipvs_as/MapReduceWSIImpl.java:60-87 —
  * random id :66, dir creation :70-71, recursive delete :79-87; path
  * mapping :312-320) on the Hadoop FileSystem API instead of shelling
  * out `hadoop fs -mkdir` / `rm -rf` over SSH. Works identically on
  * local FS, HDFS, or object stores — whatever the Hadoop conf points at.
  */
final case class Scope(id: Long, base: String) {
  def dir: String = s"$base/$id"
  /** Scope-relative dataset path (reference: MapReduceWSIImpl.java:260-261). */
  def path(name: String): String = {
    require(name.nonEmpty && !name.contains("..") && !name.startsWith("/"),
      s"illegal scope-relative name: $name")
    s"$dir/$name"
  }
}

object Scopes {
  private val rng = new SecureRandom()

  private def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Allocate a scope: random positive id + its directory. */
  def create(spark: SparkSession, base: String): Scope = {
    val id = rng.nextLong() & Long.MaxValue
    val scope = Scope(id, base)
    val p = new Path(scope.dir)
    if (!fs(spark, p).mkdirs(p))
      throw new GraftException(s"failed to create scope dir ${scope.dir}")
    scope
  }

  /** Recursive delete of `p` that fails loudly: a `false` from
    * `FileSystem.delete` while `p` still exists throws, naming `p`, so
    * a caller never reports a path gone that is still on disk.
    */
  def deletePath(f: FileSystem, p: Path): Unit =
    if (!f.delete(p, true) && f.exists(p))
      throw new GraftException(s"failed to delete $p")

  /** Recursive delete of everything the scope owns. */
  def delete(spark: SparkSession, scope: Scope): Unit = {
    val p = new Path(scope.dir)
    deletePath(fs(spark, p), p)
  }

  def exists(spark: SparkSession, scope: Scope): Boolean = {
    val p = new Path(scope.dir)
    fs(spark, p).exists(p)
  }

  /** Persist a dataset under the scope (parquet, the engine's native format). */
  def save(df: DataFrame, scope: Scope, name: String): Unit =
    df.write.mode("overwrite").parquet(scope.path(name))

  def load(spark: SparkSession, scope: Scope, name: String): DataFrame =
    spark.read.parquet(scope.path(name))

  /** One inventory row: a top-level artifact the scope owns. */
  final case class ArtifactInfo(name: String, n_files: Long, total_bytes: Long)

  /** ARTIFACT INVENTORY — what a long-lived scope has accumulated:
    * one row per top-level artifact (the band/label/postings/index/
    * shard directories the maintained-artifact operators persist),
    * with file count and byte size. A metadata-only listing walk,
    * O(files) per artifact and driver-side by design — artifact counts
    * are human-scale even when the data is 100 TB; the bytes are never
    * read.
    */
  def inventory(spark: SparkSession, scope: Scope): Seq[ArtifactInfo] = {
    val root = new Path(scope.dir)
    val f = fs(spark, root)
    if (!f.exists(root)) Seq.empty
    else f.listStatus(root).filter(_.isDirectory).map { st =>
      var files = 0L; var bytes = 0L
      val it = f.listFiles(st.getPath, true)
      while (it.hasNext) { files += 1; bytes += it.next().getLen }
      ArtifactInfo(st.getPath.getName, files, bytes)
    }.toSeq.sortBy(_.name)
  }
}
