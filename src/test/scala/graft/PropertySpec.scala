package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.ops.{DedupOps, MapReduceOps}

/** Property tests for the rewrite-sensitive pieces (SURVEY §5d).
  * Plain ScalaCheck generators sampled with fixed seeds (the
  * scalatest-scalacheck bridge artifact is not in the offline cache).
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def samples[T](g: Gen[T], n: Int = 5): Seq[T] =
    (1 to n).map(i => g.pureApply(Gen.Parameters.default, Seed(42L + i)))

  test("exact mean tripwire: zero iff the mean is exact, for any values") {
    samples(Gen.nonEmptyListOf(Gen.chooseNum(0L, 1000L))).foreach { vs =>
      val df = vs.map(v => (0, v)).toDF("id", "value")
      val mean = df.groupBy("id")
        .agg(MapReduceOps.exactIntMeanTripwire("value").as("m"))
        .collect().head.getLong(1)
      val sum = vs.sum
      val expected = sum / vs.size - (sum % vs.size) * 100
      assert(mean === expected)
      if (sum % vs.size == 0) assert(mean === sum / vs.size)
      else assert(mean !== sum / vs.size) // tripwire visibly fires
    }
  }

  test("unpivot of k columns emits exactly k rows per input row, ids 0..k-1") {
    samples(Gen.zip(Gen.chooseNum(1, 6), Gen.chooseNum(1, 20))).foreach { case (k, n) =>
      val cols = (0 until k).map(i => s"c$i")
      val df = (0 until n).map(r => Seq.tabulate(6)(c => (r * 6 + c).toLong))
        .map(s => (s(0), s(1), s(2), s(3), s(4), s(5)))
        .toDF("c0", "c1", "c2", "c3", "c4", "c5")
      val out = MapReduceOps.unpivotToIdValue(df, cols)
      assert(out.count() === k.toLong * n)
      val ids = out.select("id").distinct().as[Int].collect().sorted
      assert(ids.toSeq === (0 until k))
    }
  }

  test("exact dedup is idempotent and count-preserving") {
    samples(Gen.nonEmptyListOf(Gen.oneOf("a b c", "d e f", "a b c", "G H"))).foreach { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val once = DedupOps.exactDedup(docs)
      assert(once.select("fp").distinct().count() === once.count())
      assert(once.agg(org.apache.spark.sql.functions.sum("n_copies")).collect()
        .head.getLong(0) === texts.size.toLong)
      // re-deduping the representatives is a no-op
      val reps = once.join(docs, "doc_id").select("doc_id", "text")
      assert(DedupOps.exactDedup(reps).count() === once.count())
    }
  }

  test("simhash signature is invariant under token order (bag semantics)") {
    samples(Gen.listOfN(10, Gen.oneOf("alpha", "beta", "gamma", "delta", "eps"))).foreach { toks =>
      val d = Seq((1L, toks.mkString(" ")), (2L, toks.reverse.mkString(" ")))
        .toDF("doc_id", "text")
      val sigs = DedupOps.simhashSignatures(d).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(sigs(1L) === sigs(2L))
    }
  }

  test("as-of join equals the brute-force latest-preceding reference") {
    val gen = Gen.zip(Gen.chooseNum(0L, 3L), Gen.chooseNum(0L, 100L))
    samples(Gen.zip(Gen.listOfN(15, gen), Gen.listOfN(10, gen))).foreach {
      case (orderSpecs, eventSpecs) =>
        def ts(m: Long) = new java.sql.Timestamp(1700000000000L + m * 60000L)
        val orders = orderSpecs.map { case (k, m) => (k, ts(m)) }
          .toDF("o_custkey", "o_orderdate")
        val events = eventSpecs.zipWithIndex
          .map { case ((k, m), i) => (i.toLong, k, ts(m)) }
          .toDF("event_id", "user_id", "ts")
        val out = graft.ops.Relational.eventOrderAsof(events, orders)
          .collect().map(r => r.getLong(0) -> Option(r.getString(2))).toMap
        eventSpecs.zipWithIndex.foreach { case ((k, m), i) =>
          val preceding = orderSpecs.filter { case (ok, om) =>
            ok % 50 == k % 50 && om <= m }
          val expected = if (preceding.isEmpty) None
            else Some(new java.text.SimpleDateFormat("yyyy-MM-dd")
              .format(ts(preceding.map(_._2).max)))
          assert(out(i.toLong) === expected, s"event $i")
        }
    }
  }

  test("range join equals the brute-force window-count reference") {
    val gen = Gen.zip(Gen.oneOf("a", "b"), Gen.chooseNum(0L, 120L))
    samples(Gen.listOfN(20, gen)).foreach { specs =>
      def ts(m: Long) = new java.sql.Timestamp(1700000000000L + m * 60000L)
      val events = specs.zipWithIndex
        .map { case ((t, m), i) => (i.toLong, t, ts(m)) }
        .toDF("event_id", "event_type", "ts")
      val out = graft.ops.Relational.eventRangeCount(events)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      specs.zipWithIndex.foreach { case ((t, m), i) =>
        val expected = specs.count { case (ot, om) =>
          ot == t && om >= m - 30 && om < m }
        assert(out(i.toLong) === expected.toLong, s"event $i at $m")
      }
    }
  }

  test("winnowing gap bound: any shared >= k+w-1 token run yields a pair, anywhere, always") {
    // random distinct-token contexts around a shared passage of exactly
    // k+w-1 tokens at random offsets in both docs — the guarantee must
    // hold regardless of placement and surroundings
    val gen = for {
      na <- Gen.chooseNum(0, 30)
      nb <- Gen.chooseNum(0, 30)
      offA <- Gen.chooseNum(0, na)
      offB <- Gen.chooseNum(0, nb)
    } yield (na, nb, offA, offB)
    samples(gen, n = 8).foreach { case (na, nb, offA, offB) =>
      val passage = (1 to 8).map(i => s"p$i") // k=5, w=4 → k+w-1 = 8
      val ctxA = (1 to na).map(i => s"a$i")
      val ctxB = (1 to nb).map(i => s"b$i")
      val docA = (ctxA.take(offA) ++ passage ++ ctxA.drop(offA)).mkString(" ")
      val docB = (ctxB.take(offB) ++ passage ++ ctxB.drop(offB)).mkString(" ")
      val pairs = DedupOps.winnowedPassagePairs(
        Seq((1L, docA), (2L, docB)).toDF("doc_id", "text"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs === Set((1L, 2L)), s"na=$na nb=$nb offA=$offA offB=$offB")
    }
  }

  test("jaccard pairs are canonical-ordered and bounded in [0,1]") {
    samples(Gen.listOfN(4, Gen.listOfN(8, Gen.oneOf("x", "y", "z", "w", "v")))).foreach { docs =>
      val df = docs.zipWithIndex.map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
        .toDF("doc_id", "text")
      val pairs = DedupOps.jaccardPairs(df, threshold = 0.0).collect()
      pairs.foreach { r =>
        assert(r.getLong(0) < r.getLong(1))
        val j = r.getDouble(2)
        assert(j >= 0.0 && j <= 1.0)
      }
    }
  }

  test("chunking covers every token exactly once per window family and reconstructs the doc") {
    val gen = Gen.zip(Gen.chooseNum(0, 40), Gen.chooseNum(1, 8), Gen.chooseNum(1, 8))
    samples(gen, 8).foreach { case (n, stride0, extra) =>
      val stride = stride0
      val chunk = stride + extra - 1 // stride <= chunk always
      val words = (0 until n).map(i => s"w$i")
      val df = Seq((1L, words.mkString(" "))).toDF("doc_id", "text")
        .withColumn("lang", org.apache.spark.sql.functions.lit("xx"))
      val out = graft.ops.TextOps.chunkDocuments(df, chunk, stride).collect()
        .sortBy(_.getAs[Int]("chunk_idx"))
      if (n == 0) assert(out.isEmpty)
      else {
        // starts are exactly the stride multiples below n
        assert(out.map(_.getAs[Int]("start_tok")).toSeq ===
          (0 until n by stride))
        // chunk lengths: full until the tail, each start covered
        out.foreach { r =>
          val s = r.getAs[Int]("start_tok")
          assert(r.getAs[Int]("n_chunk_tok") === math.min(chunk, n - s))
        }
        // consecutive windows overlap by exactly chunk - stride (or abut)
        // ⇒ the stride-prefixes of the windows reconstruct the doc:
        // every token index is inside at least one window
        val covered = out.flatMap { r =>
          val s = r.getAs[Int]("start_tok")
          s until math.min(s + chunk, n)
        }.toSet
        assert(covered === (0 until n).toSet)
      }
    }
  }

  test("sequence packing conserves tokens and never over/underfills a pack boundary") {
    val gen = Gen.listOfN(12, Gen.chooseNum(0, 6))
    samples(gen, 5).foreach { sizes =>
      val df = sizes.zipWithIndex.map { case (k, i) =>
        (i.toLong, (0 until k).map(j => s"t$j").mkString(" ")) }
        .toDF("doc_id", "text")
        .withColumn("lang", org.apache.spark.sql.functions.lit("xx"))
      val out = graft.ops.TextOps.packSequences(df, budget = 5, shards = 2)
        .collect()
      // token totals survive the packing untouched
      assert(out.map(_.getAs[Long]("n_tok")).sum ===
        sizes.map(_.toLong).sum)
      // within each (lang, shard) stream: pack_id is the budget window
      // of the running start offset, monotone in doc_id
      out.groupBy(_.getAs[Long]("shard")).foreach { case (_, rows) =>
        val sorted = rows.sortBy(_.getAs[Long]("doc_id"))
        var offset = 0L
        sorted.foreach { r =>
          assert(r.getAs[Long]("pack_id") === offset / 5)
          offset += r.getAs[Long]("n_tok")
        }
      }
    }
  }

  test("temperature sampling nests across alpha (lower alpha keeps a subset)") {
    val gen = Gen.listOfN(300, Gen.oneOf("a", "a", "a", "b", "c"))
    samples(gen, 3).foreach { srcs =>
      val df = srcs.zipWithIndex.map { case (s, i) => (i.toLong, s) }
        .toDF("doc_id", "source")
      def ids(alpha: Double) =
        graft.ops.SampleOps.temperatureSample(df, "doc_id", "source", alpha)
          .select("doc_id").as[Long].collect().toSet
      val natural = ids(1.0)
      val mild = ids(0.7)
      val flat = ids(0.3)
      assert(natural.size === srcs.size) // alpha = 1 keeps everything
      // rates shrink monotonically with alpha and the hash filter is
      // threshold-nested, so stronger tempering keeps strict subsets
      assert(flat.subsetOf(mild) && mild.subsetOf(natural))
    }
  }

  test("rolling_hash ≡ the interpreted lambda fold for arbitrary strings") {
    import org.apache.spark.sql.functions.{col, expr}
    val gen = Gen.listOfN(30, Gen.oneOf(
      Gen.alphaNumStr.map(_.take(40)),
      Gen.listOfN(10, Gen.chooseNum(32, 0x24F).map(_.toChar)).map(_.mkString),
      Gen.const("")))
    samples(gen, 3).foreach { strs =>
      val df = strs.toDF("s").select(
        graft.functions.VectorFunctions.rollingHash(col("s")).as("native"),
        expr("""aggregate(split(s, ''), cast(0 as bigint),
          |  (acc, c) -> (acc * 31 + ascii(c)) % 2147483647)""".stripMargin).as("hof"))
      df.collect().foreach(r => assert(r.getLong(0) === r.getLong(1), r))
    }
  }

  test("robots_match ≡ the regex construction the oracle replays") {
    import org.apache.spark.unsafe.types.UTF8String
    // ASCII alphabet (byte == char, so the byte-walk and the
    // char-level java.util.regex reference are unit-identical); the
    // alphabet is metachar-heavy on purpose — every regex special the
    // escape chain must neutralize, plus '*'/'$' in all positions
    val chars = Gen.oneOf('a', 'b', '/', '*', '$', '?', '.', '7',
      '_', '(', '+', '^')
    val str = Gen.chooseNum(0, 12)
      .flatMap(n => Gen.listOfN(n, chars).map(_.mkString))
    samples(Gen.zip(str, str), 120).foreach { case (pat, t) =>
      // the duckRobotsMatch chain transcribed: escape metachars,
      // '\*' -> '.*', a trailing '\$' -> the end anchor, '^'-anchored
      val esc = pat.replaceAll("([.^$|?*+()\\[\\]{}\\\\])", "\\\\$1")
        .replaceAll("\\\\\\*", ".*")
        .replaceAll("\\\\\\$$", "\\$")
      val ref = java.util.regex.Pattern.compile("(?s)^" + esc)
        .matcher(t).find()
      val got = graft.functions.UrlOps.robotsMatches(
        UTF8String.fromString(t), UTF8String.fromString(pat))
      assert(got === ref, s"pattern=<$pat> target=<$t>")
    }
    // one multi-byte pin: literal UTF-8 octets walk byte-by-byte
    def m(t: String, p: String) = graft.functions.UrlOps.robotsMatches(
      UTF8String.fromString(t), UTF8String.fromString(p))
    assert(m("/café/x", "/caf*x$"))
    assert(m("/café", "/café$"))
    assert(!m("/café!", "/café$"))
  }

  test("hash sampling: rate monotonicity and determinism for arbitrary rates") {
    val ids = (1L to 500L).toDF("doc_id")
    samples(Gen.zip(Gen.chooseNum(0.0, 1.0), Gen.chooseNum(0.0, 1.0)), 4)
      .foreach { case (a, b) =>
        val (lo, hi) = (math.min(a, b), math.max(a, b))
        val sLo = graft.ops.SampleOps.sampleByHash(ids, "doc_id", lo)
          .select("doc_id").as[Long].collect().toSet
        val sHi = graft.ops.SampleOps.sampleByHash(ids, "doc_id", hi)
          .select("doc_id").as[Long].collect().toSet
        assert(sLo.subsetOf(sHi))      // lower rate nests in higher
        val again = graft.ops.SampleOps.sampleByHash(ids, "doc_id", lo)
          .select("doc_id").as[Long].collect().toSet
        assert(again === sLo)          // deterministic
      }
  }

  test("content digest: permutation-invariant, single-row-change sensitive") {
    val rows = Gen.nonEmptyListOf(
      Gen.zip(Gen.chooseNum(0L, 50L), Gen.alphaStr.map(_.take(8))))
    samples(rows, 4).foreach { vs =>
      def dig(xs: Seq[(Long, String)]): (Long, Long, Long) = {
        val r = graft.ops.Constraints
          .contentDigest(xs.toDF("k", "v"), Seq("k", "v")).collect().head
        (r.getLong(0), r.getLong(1), r.getLong(2))
      }
      val base = dig(vs)
      assert(dig(scala.util.Random.javaRandomToRandom(
        new java.util.Random(7)).shuffle(vs)) === base) // any order
      // flipping one row's value moves the digest (count unchanged)
      val flipped = vs.updated(0, (vs.head._1, vs.head._2 + "!"))
      val d2 = dig(flipped)
      assert(d2._1 === base._1)
      assert((d2._2 !== base._2) || (d2._3 !== base._3))
      // duplicating one row an ODD extra time keeps XOR blind only if
      // paired — the SUM digest must move even when a row is doubled
      // (even multiplicity, the XOR blind spot)
      val doubled = vs.head +: vs
      val d3 = dig(doubled)
      assert(d3._1 === base._1 + 1)
      assert(d3._3 !== base._3) // sum catches what XOR cancels
    }
  }

  test("mixtureSample: quotas honored and samples nest as the budget grows") {
    import graft.ops.SampleOps
    // random skewed corpora: 2-5 domains, 5-200 docs each
    val corpusGen = for {
      k <- Gen.chooseNum(2, 5)
      sizes <- Gen.listOfN(k, Gen.chooseNum(5, 200))
    } yield sizes.zipWithIndex.flatMap { case (n, d) =>
      (0 until n).map(i => (d * 100000L + i, s"dom$d"))
    }
    samples(corpusGen, n = 4).foreach { rows =>
      val df = rows.toDF("doc_id", "source")
      val counts = rows.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val w = counts.view.mapValues(n => math.floor(math.sqrt(n.toDouble)).toLong).toMap
      val totalW = w.values.sum
      def sample(b: Long): Map[Long, String] =
        SampleOps.mixtureSample(df, "doc_id", "source", b)
          .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val small = sample(40L)
      val large = sample(90L)
      // per-domain take is exactly min(quota, n) at each budget
      for ((b, s) <- Seq(40L -> small, 90L -> large); (dom, n) <- counts) {
        val quota = b * w(dom) / totalW
        assert(s.values.count(_ == dom).toLong === math.min(quota, n), s"$dom at $b")
      }
      // monotone nesting: every doc selected at the small budget
      // survives at the large one (quotas grow, priorities are fixed)
      assert(small.keySet.subsetOf(large.keySet))
    }
  }

  test("PII redaction: zero residual and idempotent on adversarial text") {
    import org.apache.spark.sql.functions.col
    // alphabet weighted toward the PII regexes' own metacharacters —
    // '@'/'.'/digit/'5'/'-'-dense strings probe replacement-boundary
    // re-matches (a placeholder fusing with its neighbors into a new
    // match would break the residual guarantee)
    val piiChar = Gen.frequency(
      (4, Gen.oneOf('@', '.', '-')), (4, Gen.oneOf('0' to '9')),
      (3, Gen.const('5')), (3, Gen.oneOf('a', 'b', 'E', 'M')),
      (1, Gen.const(' ')), (1, Gen.oneOf('[', ']')))
    val texts = samples(Gen.listOf(piiChar).map(_.mkString), n = 40)
      .filter(_.nonEmpty) ++ Seq(
      "x a@bb.cc y", "@@a.bb@cc.dd", "555-10.0.0.1", "555-0000555-1111",
      "1.2.3.4.5.6.7.8",
      // the placeholder-fusion probe: with the old <EMAIL> placeholder
      // this produced "<EMAIL>@d.ee" whose "EMAIL@d.ee" re-matched;
      // the bracketed placeholder is closed under all three matchers
      "a@b.cc@d.ee", "[EMAIL]@[IP].com 555-[PHONE]")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val audit = graft.ops.PiiOps.piiRedact(df)
    assert(audit.filter(col("n_residual") =!= 0L).count() === 0L,
      "residual PII after redaction")
    // idempotence: a second pass changes nothing
    val once = df.select(col("doc_id"),
      graft.ops.PiiOps.redactedText(col("text")).as("text"))
    val twice = once.select(col("doc_id"),
      graft.ops.PiiOps.redactedText(col("text")).as("text"))
    assert(once.exceptAll(twice).isEmpty)
  }
}
