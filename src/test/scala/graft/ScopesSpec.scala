package graft

import java.nio.file.Files

import graft.core.{Scope, Scopes}

class ScopesSpec extends SparkSpec {
  import spark.implicits._

  test("scope lifecycle: create, save/load dataset, delete") {
    val base = Files.createTempDirectory("graft-scopes").toString
    val scope = Scopes.create(spark, base)
    assert(scope.id >= 0)
    assert(Scopes.exists(spark, scope))

    val df = Seq((1, "x"), (2, "y")).toDF("k", "v")
    Scopes.save(df, scope, "data1")
    val back = Scopes.load(spark, scope, "data1")
    assert(back.count() === 2)

    Scopes.delete(spark, scope)
    assert(!Scopes.exists(spark, scope))
  }

  test("two scopes are isolated") {
    val base = Files.createTempDirectory("graft-scopes2").toString
    val s1 = Scopes.create(spark, base)
    val s2 = Scopes.create(spark, base)
    assert(s1.id !== s2.id)
    Scopes.save(Seq(1).toDF("a"), s1, "d")
    assert(!new java.io.File(s2.path("d")).exists())
    Scopes.delete(spark, s1); Scopes.delete(spark, s2)
  }

  test("scope-relative names cannot escape the scope") {
    val scope = Scope(1L, "/tmp/base")
    intercept[IllegalArgumentException](scope.path("../escape"))
    intercept[IllegalArgumentException](scope.path("/abs"))
  }

  test("inventory lists each artifact with its file count and size") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-inv").toString
    val scope = Scopes.create(spark, base)
    try {
      Scopes.save(Seq(1L, 2L).toDF("v"), scope, "old_bands")
      Scopes.save(Seq(3L).toDF("v"), scope, "live_index")
      Scopes.save(Seq(4L).toDF("v"), scope, "kept_labels")
      Scopes.save(Seq(5L).toDF("v"), scope, "appended")
      val inv = Scopes.inventory(spark, scope)
      assert(inv.map(_.name) === Seq("appended", "kept_labels", "live_index", "old_bands"))
      assert(inv.forall(a => a.n_files > 0 && a.total_bytes > 0))
    } finally Scopes.delete(spark, scope)
  }
}
