package graft.queries

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.core.{Scope, Scopes}

/** The per-process cache of what a query builds once per (prefix, sf
  * dir) and then reads — artifact scopes, round-trip directories,
  * bucketed tables — so repeated runs time the read, not the build.
  * Each key holds a lazy cell forced outside `computeIfAbsent`, so a
  * build may use another cached build (q192's loop reads q188's rank
  * artifact); concurrent first callers wait for one build, and a build
  * that throws is dropped so the next call builds again.
  */
private[queries] object Memo {
  private final class Cell(build: () => Any) {
    lazy val value: Any = build()
  }

  private val cells = new ConcurrentHashMap[(String, String), Cell]()

  def apply[A](prefix: String, sfDir: String)(build: => A): A = {
    val key = (prefix, sfDir)
    val cell = cells.computeIfAbsent(key, _ => new Cell(() => build))
    try cell.value.asInstanceOf[A]
    catch { case e: Throwable => cells.remove(key, cell); throw e }
  }

  /** A temp directory filled by `build` on first use. Its name is
    * unpredictable and atomically owned, so concurrent JVMs never
    * collide; a shutdown hook removes it.
    */
  def dir(prefix: String, sfDir: String)(build: String => Unit): String =
    apply(prefix, sfDir) {
      val d = tempDir(prefix).toString
      build(d)
      d
    }

  /** A [[graft.core.Scope]] under a temp base, filled on first use. */
  def scope(prefix: String, s: SparkSession, sfDir: String)(
      build: Scope => Unit): Scope =
    apply(prefix, sfDir) {
      val sc = Scopes.create(s, tempDir(prefix).toString)
      build(sc)
      sc
    }

  private def tempDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    sys.addShutdownHook {
      if (Files.exists(d)) Files.walk(d).iterator().asScala.toSeq.reverse
        .foreach(f => try Files.delete(f) catch { case _: Exception => () })
    }
    d
  }
}
