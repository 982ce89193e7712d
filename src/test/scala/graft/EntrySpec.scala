package graft

/** Driver-contract smoke: entry() returns rows on sf0.001. */
class EntrySpec extends SparkSpec {
  test("entry flagship query returns rows") {
    val df = SparkEntry.entry(spark)
    assert(df.count() > 0)
  }

  test("registry: 228 distinct names, flagship and crawl families") {
    val byName = SparkEntry.registry.map(d => d.name -> d.family).toMap
    assert(SparkEntry.registry.size == 228)
    assert(byName.size == 228)
    assert(SparkEntry.queries.keySet == byName.keySet)
    def family(prefix: String): String =
      byName.collectFirst { case (n, f) if n.startsWith(prefix + "_") => f }
        .getOrElse(fail(s"no query $prefix"))
    // perfbench's flagship list (RegistryWorkload.flagship)
    Seq("q57", "q100", "q143", "q146", "q147", "q161", "q163", "q169",
      "q177", "q185", "q186").foreach(q => assert(family(q) == "corpus", q))
    (187 to 228).foreach(i => assert(family(s"q$i") == "crawl", i))
  }
}
