package graft.queries

import java.util.concurrent.{CountDownLatch, Executors}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.scalatest.funsuite.AnyFunSuite

class MemoSpec extends AnyFunSuite {
  test("concurrent first use of a key builds once") {
    val builds = new AtomicInteger()
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val start = new CountDownLatch(1)
    try {
      val calls = (1 to 8).map(_ => Future {
        start.await()
        Memo("memo-spec-once-", "sf") {
          builds.incrementAndGet()
          Thread.sleep(100)
          new Object
        }
      })
      start.countDown()
      val values = Await.result(Future.sequence(calls), 30.seconds)
      assert(builds.get == 1)
      assert(values.distinct.size == 1)
    } finally pool.shutdown()
  }

  test("a build may use other cached builds") {
    // the q192 -> q188 shape: the loop's build reads the rank artifact.
    // Many inner keys, so some share the outer key's hash bin, where a
    // nested computeIfAbsent on one map throws or hangs.
    val inner = new AtomicInteger()
    def rank(dir: String): Int = Memo("memo-spec-rank-", dir) {
      inner.incrementAndGet(); dir.length
    }
    val dirs = (1 to 64).map(i => s"sf$i")
    val loop = Future(Memo("memo-spec-loop-", "sf")(dirs.map(rank).sum))(
      ExecutionContext.global)
    assert(Await.result(loop, 30.seconds) == dirs.map(_.length).sum)
    assert(rank("sf1") == 3)
    assert(inner.get == 64)
  }

  test("a build that throws is not cached") {
    val builds = new AtomicInteger()
    def build(): String = Memo("memo-spec-retry-", "sf") {
      if (builds.incrementAndGet() == 1) throw new IllegalStateException("first")
      "built"
    }
    assertThrows[IllegalStateException](build())
    assert(build() == "built")
    assert(build() == "built")
    assert(builds.get == 2)
  }

  test("dir fills one directory per (prefix, sf dir)") {
    val fills = new AtomicInteger()
    val a = Memo.dir("memo-spec-dir-", "sf-a")(_ => fills.incrementAndGet())
    val b = Memo.dir("memo-spec-dir-", "sf-a")(_ => fills.incrementAndGet())
    val c = Memo.dir("memo-spec-dir-", "sf-b")(_ => fills.incrementAndGet())
    assert(a == b && a != c)
    assert(fills.get == 2)
    assert(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(a)))
  }
}
