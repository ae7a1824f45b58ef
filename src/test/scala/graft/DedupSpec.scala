package graft

import graft.functions.Vectors.ShingleHash
import graft.pipeline.Dedup
import org.apache.spark.sql.functions._

/** Dedup family: exact, shingles, MinHash+LSH (planted near-dups), SimHash. */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  test("exact dedup groups identical content, keeps min id") {
    val docs = Seq((1L, "hello world"), (2L, "HELLO world"), (3L, "hello world"))
      .toDF("doc_id", "text")
    val out = Dedup.exact(docs, "doc_id", "text")
      .select("canonical_id", "n_copies").as[(Long, Long)].collect().toSet
    assert(out == Set((1L, 2L), (2L, 1L))) // case-sensitive: doc2 alone
  }

  test("shingles: distinct lowercase word n-grams") {
    val df = Seq("The quick the QUICK fox").toDF("t")
      .select(Dedup.shingles(col("t"), 2).as("sh"))
    val sh = df.as[Seq[String]].collect().head.toSet
    assert(sh == Set("the quick", "quick the", "quick fox"))
  }

  test("shingles: doc shorter than n yields empty (dropped from LSH)") {
    val df = Seq("single word").toDF("t").select(Dedup.shingles(col("t"), 3).as("sh"))
    assert(df.as[Seq[String]].collect().head.isEmpty)
  }

  test("incrementalNearDup: planted delta dup matches its base doc; clean delta gets a zero verdict") {
    val shared = "the quick brown fox jumps over the lazy dog near the river bank today"
    val base = Seq(
      (1L, shared),
      (3L, "completely different content with no overlapping shingles at all whatsoever anywhere"))
      .toDF("doc_id", "text")
    val delta = Seq(
      (11L, shared.replace("today", "tonight")),
      (12L, "fresh unseen vocabulary overlapping nothing previously accumulated ever once"))
      .toDF("doc_id", "text")
    val out = Dedup.incrementalNearDup(base, delta, "doc_id", "text",
        shingleN = 2, k = 64, bands = 16, minEstJaccard = 0.3)
      .as[(Long, Long, Option[Long], Option[Double], Boolean)]
      .collect().sortBy(_._1)
    assert(out.map(_._1).toSeq == Seq(11L, 12L)) // one verdict per delta doc
    val hit = out(0)
    assert(hit._5 && hit._2 == 1L && hit._3.contains(1L) && hit._4.exists(_ >= 0.3))
    assert(out(1) == ((12L, 0L, None, None, false)))
  }

  test("incrementalNearDup equals the delta×base cross slice of the batch pipeline") {
    val rnd = new scala.util.Random(7)
    val vocab = Vector("alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
      "golf", "hotel", "india", "juliet", "kilo", "lima", "mike", "november")
    // 40 random docs; every doc_id % 5 == 0 is a near-copy of doc_id + 1
    // (one word substituted), so planted dups cross the delta/base split
    val docs = (1L to 40L).map { i =>
      (i, Vector.fill(12)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toMap
    val planted = docs.map { case (i, t) =>
      if (i % 5 == 0 && i < 40) (i, docs(i + 1).replaceFirst("\\w+", "zulu"))
      else (i, t)
    }
    val all = planted.toSeq.toDF("doc_id", "text")
    val delta = all.filter(col("doc_id") % 5 === 0)
    val base = all.filter(col("doc_id") % 5 =!= 0)
    val batch = Dedup.minhashLsh(all, "doc_id", "text",
        shingleN = 2, k = 64, bands = 16, minEstJaccard = 0.2)
      .as[(Long, Long, Double)].collect()
    // the cross slice: batch pairs with exactly one delta endpoint
    val cross = batch.flatMap { case (a, b, est) =>
      (a % 5 == 0, b % 5 == 0) match {
        case (true, false) => Some((a, b, est))
        case (false, true) => Some((b, a, est))
        case _             => None
      }
    }
    val expected = cross.groupBy(_._1).map { case (d, ps) =>
      val best = ps.minBy(p => (-p._3, p._2))
      (d, ps.length.toLong, best._2, best._3)
    }
    val inc = Dedup.incrementalNearDup(base, delta, "doc_id", "text",
        shingleN = 2, k = 64, bands = 16, minEstJaccard = 0.2)
      .filter(col("is_dup"))
      .as[(Long, Long, Option[Long], Option[Double], Boolean)]
      .collect().map(r => (r._1, r._2, r._3.get, r._4.get)).toSeq
    assert(inc.sortBy(_._1) == expected.toSeq.sortBy(_._1))
  }

  test("incrementalNearDup drops degenerate base buckets at maxBucketSize") {
    // 30 byte-identical base docs: every band bucket holds all 30 ids
    val boiler = "same boilerplate words repeated across the entire mirror set today"
    val base = (1L to 30L).map((_, boiler)).toDF("doc_id", "text")
    val delta = Seq((101L, boiler)).toDF("doc_id", "text")
    def run(cap: Int) =
      Dedup.incrementalNearDup(base, delta, "doc_id", "text",
          shingleN = 2, k = 64, bands = 16, minEstJaccard = 0.3,
          maxBucketSize = cap)
        .select("doc_id", "n_matches", "is_dup")
        .as[(Long, Long, Boolean)].collect().head
    // cap below the mirror-set size: the pathological buckets drop and the
    // delta doc is (by design) not paired against the degenerate mass
    assert(run(10) == ((101L, 0L, false)))
    // permissive cap: every mirror matches
    assert(run(1000) == ((101L, 30L, true)))
  }

  test("minhashLsh finds planted near-duplicates, not unrelated docs") {
    val base = "the quick brown fox jumps over the lazy dog near the river bank today"
    val nearDup = base.replace("today", "tonight") // high jaccard
    val other = "completely different content with no overlapping shingles at all whatsoever in any position"
    val docs = Seq((1L, base), (2L, nearDup), (3L, other)).toDF("doc_id", "text")
    val pairs = Dedup.minhashLsh(docs, "doc_id", "text",
        shingleN = 2, k = 64, bands = 16, minEstJaccard = 0.3)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("minhash signature estimates jaccard within tolerance") {
    val a = "a b c d e f g h i j k l m n o p"
    val b = "a b c d e f g h i j k l x y z w" // 12-gram overlap of 2-grams
    val docs = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val withSh = docs.select(col("doc_id"), Dedup.shingles(col("text"), 2).as("sh"))
    val trueJac = withSh.as[(Long, Seq[String])].collect().toMap match {
      case m => val s1 = m(1L).toSet; val s2 = m(2L).toSet
        s1.intersect(s2).size.toDouble / s1.union(s2).size
    }
    // compare signatures directly (k=256 for tight variance) — routing
    // through LSH banding would make the assertion hostage to whether a
    // band holds, which is probabilistic by design
    val sigs = Dedup.minhashSigsOf(docs, "doc_id", "text", 2, 256,
        ShingleHash.XxHash64)
      .as[(Long, Seq[Long])].collect().toMap
    val est = sigs(1L).zip(sigs(2L)).count { case (x, y) => x == y }.toDouble / 256
    assert(math.abs(est - trueJac) < 0.2, s"est=$est true=$trueJac")
  }

  test("simhash: identical docs agree; near-dups close in hamming; distinct far") {
    val base = "the quick brown fox jumps over the lazy dog near the river"
    val docs = Seq(
      (1L, base), (2L, base),
      (3L, base.replace("river", "stream")),
      (4L, "zebra xylophone quartz vortex jigsaw blimp krypton wumpus")).toDF("doc_id", "text")
    val sig = docs.select(col("doc_id"),
      Dedup.simhash(MinhashReference.shingleHashes(Dedup.shingles(col("text"), 2),
        ShingleHash.XxHash64)).as("s"))
    val m = sig.as[(Long, Long)].collect().toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(m(a) ^ m(b))
    assert(ham(1L, 2L) == 0)
    assert(ham(1L, 3L) < ham(1L, 4L))
    assert(ham(1L, 3L) <= 16)
  }

  test("jaccard built-in matches set arithmetic") {
    val df = spark.range(1).select(
      Dedup.jaccard(typedLit(Seq("a", "b", "c")), typedLit(Seq("b", "c", "d"))).as("j"))
    assert(math.abs(rows(df).head.head.asInstanceOf[Double] - 0.5) < 1e-12)
  }

  test("dupSpans matches an in-memory reference on random corpora") {
    val rnd = new scala.util.Random(41)
    val k = 3
    for (_ <- 1 to 3) {
      // small vocabulary forces organic duplicate shingles
      val docs = (1L to 30L).map { i =>
        (i, Seq.fill(rnd.nextInt(20))("w" + rnd.nextInt(6)).mkString(" "))
      }
      val grams = docs.flatMap { case (id, t) =>
        val ws = t.toLowerCase.split("\\s+").toSeq
        (if (ws.size >= k) ws.sliding(k).zipWithIndex.toSeq else Nil)
          .map { case (g, i) => (id, i + 1, g.mkString(" ")) }
      }
      val counts = grams.groupBy(_._3).view.mapValues(_.size).toMap
      val expected = docs.map { case (id, _) =>
        val dupPos = grams.filter(g => g._1 == id && counts(g._3) > 1)
          .map(_._2).sorted
        val islands = dupPos.foldLeft(List.empty[(Int, Int)]) {
          case ((s, e) :: rest, p) if p <= e + k => (s, p) :: rest
          case (acc, p) => (p, p) :: acc
        }
        val tokens = islands.map { case (s, e) => e + (k - 1) - s + 1 }.sum
        (id, islands.size.toLong, tokens.toLong)
      }.toSet
      val got = Dedup.dupSpans(docs.toDF("doc_id", "text"), "doc_id", "text", k)
        .as[(Long, Long, Long)].collect().toSet
      assert(got == expected)
    }
  }

  test("dupSpans merges planted duplicated substrings into maximal spans") {
    val shared = "alpha bravo charlie delta echo foxtrot golf" // 7 words
    val docs = Seq(
      (1L, s"unique1a unique1b $shared trailer1a trailer1b"),
      (2L, s"opener2a $shared unique2x unique2y unique2z"),
      (3L, "nothing here repeats at all ever once anywhere"),
      (4L, "tiny doc")). // shorter than k -> no positions
      toDF("doc_id", "text")
    val out = Dedup.dupSpans(docs, "doc_id", "text", k = 5)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    // docs 1 and 2 share one 7-word phrase: exactly one span each,
    // covering exactly those 7 tokens; docs 3 and 4 are clean
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L))
    assert(out(0)._2 == 1 && out(0)._3 == 7, out(0).toString)
    assert(out(1)._2 == 1 && out(1)._3 == 7, out(1).toString)
    assert(out(2) == ((3L, 0L, 0L)) && out(3) == ((4L, 0L, 0L)))
  }

  test("prefixFilterPairs == brute-force all-pairs Jaccard (no false negatives)") {
    // random near-dup corpus: base docs + mutated copies
    val rnd = new scala.util.Random(31)
    val vocab = ('a' to 'z').map(_.toString)
    def doc() = Seq.fill(12 + rnd.nextInt(10))(vocab(rnd.nextInt(26))).mkString(" ")
    val base = (0 until 20).map(i => (i.toLong, doc()))
    val mutated = base.take(8).map { case (i, d) =>
      val ws = d.split(" ").toSeq
      (100L + i, ws.updated(rnd.nextInt(ws.size), vocab(rnd.nextInt(26))).mkString(" "))
    }
    val docs = (base ++ mutated).toDF("doc_id", "text")
    val toks = docs.select(col("doc_id"),
      graft.pipeline.Dedup.shingles(col("text"), 2).as("ts"))
    val t = 0.3
    val got = graft.pipeline.Dedup.prefixFilterPairs(
        docs, "doc_id", graft.pipeline.Dedup.shingles(col("text"), 2), t)
      .as[(Long, Long, Double)].collect().toSet
    // brute force over the same token sets
    val sets = toks.as[(Long, Seq[String])].collect()
      .map { case (i, ts) => (i, ts.toSet) }.filter(_._2.nonEmpty)
    val want = (for {
      (i, a) <- sets; (j, b) <- sets if i < j
      inter = (a & b).size
      jac = inter.toDouble / (a.size + b.size - inter)
      if jac >= t
    } yield (i, j, jac)).toSet
    assert(got == want, s"got=${got.size} want=${want.size}")
    assert(want.nonEmpty, "fixture must produce qualifying pairs")

    // float-ceil regression: at t=0.2 a 35-token set has prefix length
    // 35 - ceil(7.0) + 1 = 29, but double 0.2*35 rounds UP to 8 — basis
    // -point arithmetic must keep the full prefix (no false negatives)
    val t2 = 0.2
    val got2 = graft.pipeline.Dedup.prefixFilterPairs(
        docs, "doc_id", graft.pipeline.Dedup.shingles(col("text"), 2), t2)
      .as[(Long, Long, Double)].collect().toSet
    val want2 = (for {
      (i, a) <- sets; (j, b) <- sets if i < j
      inter = (a & b).size
      jac = inter.toDouble / (a.size + b.size - inter)
      if jac >= t2
    } yield (i, j, jac)).toSet
    assert(got2 == want2, s"t=0.2: got=${got2.size} want=${want2.size}")
    assert(want2.size >= want.size, "lower threshold admits a superset")
  }

  test("prefixFilterPairs survives the exact-threshold boundary (integral div)") {
    // Deterministic boundary fixture: doc 1 = 7 tokens that are a strict
    // subset of doc 2's 35 tokens → Jaccard = 7/35 = 0.2 EXACTLY at t=0.2.
    // Survival requires all three integral-arithmetic boundaries at once:
    //   - prefix length 35 - ceil(0.2·35) + 1 = 29 (double ceil gives 28:
    //     79999/10000 = 7.9999 must floor to 7, not stay 7.9999);
    //   - length filter least(7,35) >= ceilBp(35): 7 >= 7 only if ceilBp
    //     is the integer 7, not the double 7.9999;
    //   - position filter with alpha = ceil(2000·42/12000) = 7 exactly
    //     (42·tb is a multiple of 10000+tb — the fractional-alpha case).
    // A float-division implementation drops this pair; integral division
    // must return it.
    val big = (0 until 35).map(i => f"tok$i%02d")
    val small = big.take(7)
    val docs = Seq((1L, small), (2L, big), (3L, Seq("zz1", "zz2", "zz3")))
      .toDF("doc_id", "toks")
    val got = graft.pipeline.Dedup.prefixFilterPairs(
        docs, "doc_id", col("toks"), 0.2)
      .as[(Long, Long, Double)].collect().toSet
    assert(got == Set((1L, 2L, 0.2)), s"boundary pair lost: $got")
  }

  test("midprefix probe side keeps no-false-negatives under size skew, " +
      "equal-size ties and the shuffle-hash attach") {
    // r11: the candidate join probes with the SHORTER PPJoin midprefix on
    // the (n,id)-lex-smaller side. The risky regimes: strongly
    // size-asymmetric qualifying pairs (containment-like), equal-size
    // pairs (both sides reduce to midprefix; orientation falls to the id
    // tie-break), and the post-broadcast-gate verify path. Sweep all
    // against brute force at three thresholds.
    val rnd = new scala.util.Random(47)
    val vocab = (0 until 120).map(i => f"w$i%03d")
    def pick(k: Int) = rnd.shuffle(vocab).take(k)
    val docs0 = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[String])]
    var id = 0L
    // containment family: small strict subsets of big docs
    (0 until 6).foreach { _ =>
      val big = pick(30 + rnd.nextInt(10))
      docs0 += ((id, big)); id += 1
      docs0 += ((id, rnd.shuffle(big).take(big.size / 3))); id += 1
    }
    // equal-size near-dup twins (id tie-break decides orientation)
    (0 until 6).foreach { _ =>
      val a = pick(16)
      docs0 += ((id, a)); id += 1
      docs0 += ((id, a.updated(rnd.nextInt(a.size), vocab(rnd.nextInt(120)))))
      id += 1
    }
    // noise
    (0 until 8).foreach { _ => docs0 += ((id, pick(8 + rnd.nextInt(20)))); id += 1 }
    val docs = docs0.toSeq.toDF("doc_id", "toks")
    val sets = docs0.toSeq.map { case (i, ts) => (i, ts.toSet) }
    for (t <- Seq(0.2, 0.3, 0.5); bcastVerify <- Seq(true, false)) {
      val got = graft.pipeline.Dedup.prefixFilterPairs(
          docs, "doc_id", col("toks"), t,
          broadcastVerify = Some(bcastVerify))
        .as[(Long, Long, Double)].collect()
        .map { case (i, j, _) => (i, j) }.toSet
      val want = (for {
        (i, a) <- sets; (j, b) <- sets if i < j
        inter = (a & b).size
        if inter.toDouble / (a.size + b.size - inter) >= t
      } yield (i, j)).toSet
      assert(got == want,
        s"t=$t bcast=$bcastVerify: missing=${want.diff(got)} " +
          s"extra=${got.diff(want)}")
      assert(want.nonEmpty, s"fixture must qualify pairs at t=$t")
    }
  }

  test("sortedNeighborhood == in-memory SNM reference (rank window, verified jaccard)") {
    // corpus where near-dups share key prefixes: base docs + copies mutated
    // AFTER the 16-char key prefix, plus unrelated noise docs
    val rnd = new scala.util.Random(47)
    val vocab = ('a' to 'z').map(_.toString * 4) // 4-char words
    def doc() = Seq.fill(10 + rnd.nextInt(6))(vocab(rnd.nextInt(26))).mkString(" ")
    val base = (0 until 15).map(i => (i.toLong, doc()))
    val copies = base.take(6).map { case (i, d) =>
      val ws = d.split(" ").toSeq
      (100L + i, ws.updated(ws.size - 1, vocab(rnd.nextInt(26))).mkString(" "))
    }
    val docs = (base ++ copies).toDF("doc_id", "text")
    val (keyLen, window, t) = (16, 5, 0.3)
    val got = Dedup.sortedNeighborhood(docs, "doc_id", "text", keyLen, window, 2, t)
      .as[(Long, Long, Double)].collect().toSet
    // reference: sort by (key, id), pair ranks within window, exact jaccard
    val rows = (base ++ copies)
      .filter(_._2.split("\\s+").length >= 2)
      .map { case (i, d) =>
        val sh = d.toLowerCase.split("\\s+").sliding(2).map(_.mkString(" ")).toSet
        (i, d.toLowerCase.trim.take(keyLen), sh)
      }
      .sortBy { case (i, k, _) => (k, i) }
    val want = (for {
      a <- rows.indices; b <- (a + 1) until math.min(a + window, rows.size)
      (ia, _, sa) = rows(a); (ib, _, sb) = rows(b)
      inter = (sa & sb).size
      jac = BigDecimal(inter.toDouble / (sa.size + sb.size - inter))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      if jac >= t
    } yield (math.min(ia, ib), math.max(ia, ib), jac)).toSet
    assert(got == want, s"got=$got want=$want")
    assert(want.exists(_._3 < 1.0), "fixture must exercise non-identical pairs")
  }

  // sequential reference for the Manber cut rule, used by the CDC tests
  private def cdcRef(text: String, k: Int, d: Int): Seq[String] = {
    val cuts = (1 to text.length - k + 1).filter { i =>
      graft.functions.Vectors.MinHashSig.md5Long60(
        text.substring(i - 1, i - 1 + k)) % d == 0
    }.map(_ + k - 1)
    val bs = (Seq(0) ++ cuts ++ Seq(text.length)).distinct.sorted
    bs.zip(bs.tail).map { case (a, b) => text.substring(a, b) }
  }

  test("cdcBoundaries/cdcSlices == sequential Manber reference; chunks rebuild the text") {
    val rnd = new scala.util.Random(7)
    val texts = (0 until 12).map { _ =>
      (0 until 150 + rnd.nextInt(400))
        .map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    } :+ "short" :+ "x"
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = df
      .withColumn("b", Dedup.cdcBoundaries(col("text"), 12, 64))
      .select(col("doc_id"), Dedup.cdcSlices(col("text"), col("b")).as("cs"))
      .as[(Long, Seq[String])].collect().toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      val chunks = got(i.toLong)
      assert(chunks == cdcRef(t, 12, 64), s"doc $i chunk mismatch")
      assert(chunks.mkString == t, s"doc $i does not reassemble")
      assert(chunks.forall(_.nonEmpty), s"doc $i has an empty chunk")
    }
  }

  // naive per-position polynomial — the DuckDB oracle's formulation; the
  // rolling kernel must produce identical boundaries (no drift from the
  // O(1) update)
  private def cdcRollingRef(text: String, k: Int, d: Int): Seq[Int] = {
    val cps = text.codePoints().toArray
    val cuts = (0 to cps.length - k).filter { i =>
      val h = (0 until k).foldLeft(0L) { (acc, j) =>
        (acc * Dedup.CdcB + cps(i + j)) % Dedup.CdcM
      }
      h % d == 0
    }.map(_ + k)
    (Seq(0) ++ cuts ++ Seq(cps.length)).distinct.sorted
  }

  test("cdcBoundariesRolling == naive polynomial reference (rolling drift-free)") {
    val rnd = new scala.util.Random(17)
    val texts = (0 until 20).map { _ =>
      (0 until rnd.nextInt(800))
        .map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    } ++ Seq("", "x", "exactly-12ch", "ünïcödé-texte-ä-ö-ü-ß-œ-π-λ-Ω" * 10)
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    for (d <- Seq(16, 64)) {
      val got = df
        .select(col("doc_id"),
          Dedup.cdcBoundariesRolling(col("text"), 12, d).as("b"))
        .as[(Long, Seq[Int])].collect().toMap
      texts.zipWithIndex.foreach { case (t, i) =>
        assert(got(i.toLong) == cdcRollingRef(t, 12, d),
          s"doc $i divisor $d boundary drift")
      }
    }
    // sanity: the rolling rule actually cuts on this corpus
    val cuts = texts.map(cdcRollingRef(_, 12, 64).size - 2).sum
    assert(cuts > 10, s"fixture produced only $cuts cuts")
  }

  test("cdcSlices of an empty text is an empty chunk array, not an error") {
    val df = Seq((1L, ""), (2L, "enough-text-to-have-one-chunk"))
      .toDF("doc_id", "text")
    val got = df
      .withColumn("b", Dedup.cdcBoundaries(col("text"), 12, 64))
      .select(col("doc_id"), Dedup.cdcSlices(col("text"), col("b")).as("cs"))
      .as[(Long, Seq[String])].collect().toMap
    assert(got(1L) == Seq())
    assert(got(2L).mkString == "enough-text-to-have-one-chunk")
  }

  test("CDC stability: a prefix edit re-chunks only the edit neighborhood") {
    val rnd = new scala.util.Random(11)
    val base = (0 until 2000)
      .map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val edited = "INSERTED-PREFIX-" + base
    val bc = cdcRef(base, 12, 64)
    val ec = cdcRef(edited, 12, 64)
    // every cut whose k-gram lies beyond the edit survives (shifted), so
    // all chunks after the first preserved cut are byte-identical
    val shared = bc.toSet.intersect(ec.toSet).size
    assert(bc.size >= 10, s"fixture too coarse: ${bc.size} chunks")
    assert(shared >= bc.size - 2,
      s"expected all but the head chunk shared, got $shared of ${bc.size}")
  }

  test("cdcDedup: planted shared span shows as shared bytes, unique docs at zero") {
    val rnd = new scala.util.Random(13)
    def blob(n: Int) =
      (0 until n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val common = blob(600)
    val docs = Seq(
      (1L, blob(300) + common),
      (2L, common + blob(250)),
      (3L, blob(500))).toDF("doc_id", "text")
    val out = Dedup.cdcDedup(docs, "doc_id", "text", 12, 64)
      .as[(Long, Long, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(out(3L)._3 == 0L && out(3L)._6 == 0.0, "unique doc must share nothing")
    // the shared 600-char span dominates both carriers' byte volume
    assert(out(1L)._4 > 300L, s"doc1 shared_bytes ${out(1L)._4}")
    assert(out(2L)._4 > 300L, s"doc2 shared_bytes ${out(2L)._4}")
    assert(out(1L)._6 > 0.3 && out(2L)._6 > 0.3, "share_ratio must reflect the span")
  }

  test("containmentPairs: quoted subset scores 1.0 where Jaccard stays low; " +
      "the df cap drops stop-grams before pairing") {
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "iota kappa lambda mu nu xi")).toDF("doc_id", "text")
    val out = Dedup.containmentPairs(docs, "doc_id",
        Dedup.shingles(col("text"), 3), t = 0.5, maxDf = 10)
      .as[(Long, Long, Long, Double)].collect().toSeq
    // doc1's 2 grams are all inside doc2 (6 grams): containment 1.0,
    // Jaccard only 2/6 — the asymmetric case
    assert(out == Seq((1L, 2L, 2L, 1.0)))
    // df cap = 1: every shared gram has df 2 and drops → no pairs at all
    assert(Dedup.containmentPairs(docs, "doc_id",
      Dedup.shingles(col("text"), 3), t = 0.0, maxDf = 1).count() == 0)
  }

  test("containmentSketchPairs: exact when sketches hold the full gram set; " +
      "truncated sketches still flag the quoted subset; bucket cap bounds") {
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "iota kappa lambda mu nu xi")).toDF("doc_id", "text")
    // k=16 > every gram count: sketch == full hash set, estimator exact —
    // doc1's 2 grams ⊂ doc2's 6: J = 2/6, inter = (1/3)/(4/3)·8 = 2,
    // containment = 2/2 = 1.0
    val out = Dedup.containmentSketchPairs(docs, "doc_id",
        Dedup.shingles(col("text"), 3), t = 0.5, k = 16)
      .as[(Long, Long, Double, Double)].collect().toSeq
    assert(out == Seq((1L, 2L, 0.3333, 1.0)))
    // k=4 truncates doc2's sketch to its 4 smallest hashes — one shared
    // hash ('beta gamma delta') survives: kk=4, x=1, j=0.25,
    // est_inter = 0.2·8 = 1.6, est_containment = 0.8. The estimator
    // under-reports the true 1.0 (truncation loss) but still flags the
    // pair well above t=0.5 — pinned from hand-computed md5 values.
    val k4 = Dedup.containmentSketchPairs(docs, "doc_id",
        Dedup.shingles(col("text"), 3), t = 0.5, k = 4)
      .as[(Long, Long, Double, Double)].collect().toSeq
    assert(k4 == Seq((1L, 2L, 0.25, 0.8)), s"k=4 estimate: $k4")
    // k=1: doc2's single-slot sketch keeps its overall min gram hash,
    // which is a doc2-only gram ('epsilon zeta eta' < every doc1 hash) —
    // no collision, no pair: the documented sketch-miss trade
    assert(Dedup.containmentSketchPairs(docs, "doc_id",
      Dedup.shingles(col("text"), 3), t = 0.0, k = 1).count() == 0)
    // bucket cap 1: every colliding hash bucket (size 2) drops → no pairs
    assert(Dedup.containmentSketchPairs(docs, "doc_id",
      Dedup.shingles(col("text"), 3), t = 0.0, k = 16,
      maxBucketSize = 1).count() == 0)
  }

  test("canonicalByQuality: best-scoring member survives, ties to min id") {
    import org.apache.spark.sql.functions.col
    val members = Seq(
      (1L, 10L, 0.2), (2L, 10L, 0.9), (3L, 10L, 0.9), // argmax tie: 2 < 3
      (7L, 7L, 0.1)).toDF("id", "cluster", "q")       // singleton keeps itself
    val got = Dedup.canonicalByQuality(members, "id", "cluster", col("q"))
      .as[(Long, Long)].collect().toMap
    assert(got == Map(10L -> 2L, 7L -> 7L))
  }

  test("substringDedup: cross-doc duplicated spans are cut and the " +
      "cleaned text reconstructs exactly; no false cuts") {
    val shared = "0123456789" * 5 // 50 chars, well past minLen = 40
    val a = "AAA-prefix-" + shared + "-middle-" + shared + "-tail-AAA"
    val b = "b-starts-here " + shared + " and b ends"
    val c = "completely original content with nothing shared at all " +
      "padded out to be comfortably longer than the window length"
    val docs = Seq((1L, a), (2L, b), (3L, c), (4L, "short"))
      .toDF("doc_id", "text")
    val got = Dedup.substringDedup(docs, "doc_id", "text", minLen = 40)
      .select("doc_id", "n_spans", "removed_chars", "n_chars_clean",
        "clean_md5")
      .as[(Long, Long, Long, Long, String)].collect()
      .map(r => r._1 -> r).toMap
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // every position covered by a duplicated 40-window is removed: for a
    // shared run of length 50 embedded in unique context, that is
    // exactly the 50 shared chars (windows extending into unique
    // context are not cross-doc duplicates)
    val aClean = "AAA-prefix-" + "-middle-" + "-tail-AAA"
    val bClean = "b-starts-here " + " and b ends"
    assert(got(1L)._2 == 2 && got(1L)._3 == 100,
      s"doc 1 must cut both shared runs: ${got(1L)}")
    assert(got(1L)._5 == md5(aClean), "doc 1 reconstruction")
    assert(got(2L)._5 == md5(bClean), "doc 2 reconstruction")
    // untouched docs pass through byte-identically, zero spans
    assert(got(3L) == ((3L, 0L, 0L, c.length.toLong, md5(c))))
    assert(got(4L) == ((4L, 0L, 0L, 5L, md5("short"))))
  }

  test("substringDedup winnowing: planted spans >= minLen+w-1 are found, " +
      "cuts match a local replay of the selection exactly, and the " +
      "sampled removal never exceeds the exact mode's") {
    val shared = "0123456789" * 6 // 60 chars >= 40 + 8 - 1: guaranteed
    val a = "alpha-unique-head-" + shared + "-alpha-unique-tail"
    val b = "beta-other-document " + shared + " beta-trailing-content"
    val c = "a third document with no duplicated content at all, " +
      "padded well beyond the window length for good measure"
    val texts = Map(1L -> a, 2L -> b, 3L -> c)
    val docs = texts.toSeq.toDF("doc_id", "text")
    val minLen = 40
    def run(w: Int) = Dedup.substringDedup(docs, "doc_id", "text",
        minLen = minLen, hasher = Dedup.portableHash(_), winnow = w)
      .select("doc_id", "n_spans", "removed_chars", "n_chars_clean",
        "clean_md5")
      .as[(Long, Long, Long, Long, String)].collect()
      .map(r => r._1 -> r).toMap
    val exact = run(1)
    val sampled = run(8)
    // detection guarantee: both dup docs cut something
    assert(sampled(1L)._3 > 0 && sampled(2L)._3 > 0,
      s"planted 60-char dup must be detected at w=8: $sampled")
    // no false cuts: the unique doc is byte-identical, zero spans
    assert(sampled(3L) == exact(3L) && sampled(3L)._3 == 0)
    // the sampled removal is a SUBSET of what stride-1 proves duplicated
    assert(sampled(1L)._3 <= exact(1L)._3 && sampled(2L)._3 <= exact(2L)._3)
    // local replay of the whole sampled pipeline — same hash, same
    // rightmost-min selection, same cross-doc evidence, same island
    // merge, same reconstruction — pins the engine output md5-exactly
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val winN = 8
    val selByDoc = texts.map { case (id, t) =>
      val hs = (1 to t.length - minLen + 1).map(p =>
        p.toLong -> graft.functions.Vectors.MinHashSig.md5Long60(
          t.substring(p - 1, p - 1 + minLen)))
      id -> hs.indices.map { qi =>
        val win = (math.max(0, qi - (winN - 1)) to qi).map(hs)
        win.minBy { case (pos, h) => (h, -pos) }
      }.toSet
    }
    val dupHashes = selByDoc.toSeq
      .flatMap { case (id, sel) => sel.map(_._2).toSeq.distinct.map(id -> _) }
      .groupBy(_._2).filter(_._2.map(_._1).distinct.size >= 2).keySet
    texts.foreach { case (id, t) =>
      val hits = selByDoc(id).collect {
        case (pos, h) if dupHashes(h) => pos
      }.toSeq.sorted
      var spans = List.empty[(Long, Long)]
      hits.foreach { p =>
        spans match {
          case (s0, e0) :: rest if p <= e0 =>
            spans = (s0, math.max(e0, p + minLen)) :: rest
          case _ => spans = (p, p + minLen) :: spans
        }
      }
      val clean = spans.reverse.foldLeft(("", 1L)) {
        case ((out, prev), (s0, e0)) =>
          (out + t.substring(prev.toInt - 1, s0.toInt - 1), e0)
      } match { case (out, prev) => out + t.substring(prev.toInt - 1) }
      assert(sampled(id)._5 == md5hex(clean),
        s"doc $id: engine reconstruction must equal the local replay")
      assert(sampled(id)._2 == spans.size.toLong)
    }
  }

  // the tokenizer's edges: empty, one word, leading / trailing / repeated
  // whitespace, tabs and newlines, null, and non-ASCII capitals whose
  // lower case Spark's own lower() decides
  private val edgeTexts: Seq[String] = Seq("", "word", "  leading space here",
    "trailing space here  ", "repeated   inner    whitespace a a a",
    "tabs\tand\nnew\r\nlines\t\tend", null, "İSTANBUL İstanbul istanbul",
    "ΣΊΣΥΦΟΣ σίσυφος ΣΊΣΥΦΟΣ ΟΔΟΣ",
    "the quick brown fox jumps over the lazy dog near the river bank today")

  test("fused MinHash kernels equal the unfused shingle, hash, signature " +
      "and band chain for both hash choices") {
    val texts = edgeTexts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    // a LocalRelation evaluates interpreted, an RDD scan through codegen
    val frames = Seq(texts.toDF("id", "t"),
      spark.createDataFrame(spark.sparkContext.parallelize(texts, 2))
        .toDF("id", "t"))
    for (df <- frames; hash <- Seq(ShingleHash.XxHash64,
        ShingleHash.Md5Portable); n <- Seq(1, 2, 3); k <- Seq(16, 64, 128)) {
      val bands = k / 4
      val got = df.select(col("id"), graft.functions.Vectors.minhashShingles(
          Dedup.words(col("t")), n, k, hash).as("sig"))
        .select(col("id"), col("sig"),
          graft.functions.Vectors.minhashBands(col("sig"), bands, 4).as("b"))
      val want = df.select(col("id"),
          MinhashReference.signature(col("t"), n, k, hash).as("sig"))
        .select(col("id"), col("sig"),
          when(col("sig").isNotNull,
            MinhashReference.bandKeys(col("sig"), bands, 4)).as("b"))
      val (g, w) = (rows(got.orderBy("id")), rows(want.orderBy("id")))
      assert(g == w, s"hash=$hash n=$n k=$k")
      // only texts with fewer than n words have no signature
      assert(g.count(_(1) == null) == texts.count { case (_, t) =>
        t == null || t.toLowerCase.split("\\s+", -1).length < n },
        s"hash=$hash n=$n k=$k")
    }
  }

  test("portableShingleHashes keeps a null element null and equals the " +
      "per-element md5 form") {
    val df = Seq((1L, Seq("a b", null, "İ x")), (2L, null: Seq[String]),
      (3L, Seq.empty[String])).toDF("id", "sh")
    val got = df.select(col("id"), Dedup.portableShingleHashes(col("sh")))
    val want = df.select(col("id"), transform(col("sh"), Dedup.portableHash(_)))
    assert(rows(got.orderBy("id")) == rows(want.orderBy("id")))
    assert(got.schema(1).dataType == want.schema(1).dataType)
  }

  // 60 docs: planted near-copies, and 12 byte-identical mirrors whose
  // buckets (12 members) pass maxBucketSize = 10 and drop
  private def lshFixture(ids: Seq[java.lang.Long] = (1L to 60L).map(Long.box)) = {
    val rnd = new scala.util.Random(11)
    val vocab = Vector("alpha", "bravo", "charlie", "delta", "echo",
      "foxtrot", "golf", "hotel", "india", "juliet", "kilo", "lima")
    val texts = (0 until 60).map { i =>
      if (i < 12) "same boilerplate words repeated across the mirror set"
      else Vector.fill(14)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    val planted = texts.zipWithIndex.map { case (t, i) =>
      if (i >= 12 && i % 4 == 0) texts(i + 1).replaceFirst("\\w+", "zulu")
      else t
    }
    ids.zip(planted).toDF("doc_id", "text")
  }

  private def lsh(docs: org.apache.spark.sql.DataFrame) =
    Dedup.minhashLsh(docs, "doc_id", "text", shingleN = 2, k = 64,
      bands = 16, minEstJaccard = 0.2, maxBucketSize = 10,
      hasher = ShingleHash.Md5Portable)

  private def pinned(df: org.apache.spark.sql.DataFrame) =
    org.apache.spark.sql.graft.ColumnBridge.logicalRddIds(df).nonEmpty

  test("minhashLsh: the driver-local pair build equals the distributed one") {
    val docs = lshFixture()
    val local = lsh(docs)
    val dist = graft.operators.Crossover.distributed(lsh(docs))
    assert(!pinned(local), "the fixture fits: the local path returns no pin")
    assert(pinned(dist))
    val (l, d) = (rows(local.orderBy("id1", "id2")),
      rows(dist.orderBy("id1", "id2")))
    assert(l == d)
    assert(l.nonEmpty && l.forall(r => r(0).asInstanceOf[Long] > 12L),
      "the mirror buckets exceed maxBucketSize and drop")
    assert(local.schema.map(_.dataType) == dist.schema.map(_.dataType))
    // an INT id keeps its type on the local path
    val ints = lsh(docs.withColumn("doc_id", col("doc_id").cast("int")))
    assert(!pinned(ints) && ints.schema("id1").dataType ==
      org.apache.spark.sql.types.IntegerType)
    assert(rows(ints.orderBy("id1", "id2")).map(_.map(_.toString)) ==
      l.map(_.map(_.toString)))
    graft.operators.Pinning.unpin(local)
    graft.operators.Pinning.unpin(dist)
  }

  test("minhashLsh declines the local path on a null id, a duplicate id and " +
      "a candidate pair count over Crossover.GraphPairs") {
    val withNull = lshFixture((1L to 59L).map(Long.box) :+ null)
    val withDup = lshFixture((1L to 59L).map(Long.box) :+ Long.box(30L))
    Seq(withNull, withDup).foreach { docs =>
      val got = lsh(docs)
      assert(pinned(got), "declined: the distributed path returns its pin")
      assert(rows(got.orderBy("id1", "id2")) == rows(
        graft.operators.Crossover.distributed(lsh(docs))
          .orderBy("id1", "id2")))
      graft.operators.Pinning.unpin(got)
    }
    // one band over 2,001 identical docs: C(2001, 2) = 2,001,000 pairs
    val n = 2001L
    assert(n * (n - 1) / 2 > graft.operators.Crossover.GraphPairs)
    val mirrors = spark.range(n).select(col("id").as("doc_id"),
      lit("one text").as("text"))
    val big = Dedup.minhashLsh(mirrors, "doc_id", "text", shingleN = 1,
      k = 4, bands = 1, minEstJaccard = 0.5, maxBucketSize = 5000)
    assert(pinned(big), "over GraphPairs: the distributed path")
    assert(big.count() == n * (n - 1) / 2)
    graft.operators.Pinning.unpin(big)
  }

  test("job budget: cold dedup_minhash_lsh construction at sf0.001 runs " +
      "at most the bounded take's 2 jobs and writes no shuffle") {
    val dir = corpusCopy("minhash-budget")
    Tables.load(spark, dir, "documents").count()
    val q = queries.AllQueries.modules.flatMap(_.qs)
      .find(_.name == "dedup_minhash_lsh").get
    var result: org.apache.spark.sql.DataFrame = null
    val trace = traceOf { result = q.fn(spark, dir) }
    assert(trace.jobs.nonEmpty && trace.jobs.size <= 2, trace.toString)
    assert(trace.shuffleWriteBytes == 0L, trace.toString)
    assert(result.count() > 0)
  }
}
