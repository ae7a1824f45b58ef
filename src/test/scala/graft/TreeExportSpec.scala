package graft

import graft.operators.Clustering
import graft.sources.Nexus
import org.apache.spark.sql.functions._

/** G5 tree-export edges: Nexus sink/reader roundtrip and Newick
  * well-formedness (balanced structure, leaf recovery, ultrametric root
  * heights) beyond the value-hash oracle.
  */
class TreeExportSpec extends SparkSpec {
  import spark.implicits._

  private lazy val tmp = tempDir("tree-export").toString

  test("nexus roundtrip: hand matrix with default for absent pairs") {
    val pairs = Seq((1L, 2L, 3L), (1L, 3L, 5L)) // (2,3) absent → default 7
      .toDF("a", "b", "d")
    val path = s"$tmp/graft_test_nexus.nex"
    Nexus.writeDistances(pairs, "a", "b", "d", path, defaultDist = 7L)
    val got = Nexus.readDistances(spark, path)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 2L, 3L), (1L, 3L, 5L), (2L, 3L, 7L)))
  }

  test("nexus sink refuses > MaxTaxa, reference MAX_SPLITS_TAXA posture") {
    val big = (1L to 151L).flatMap(i => (i + 1 to 151L).map(j => (i, j, 1L)))
      .toDF("a", "b", "d")
    val e = intercept[IllegalArgumentException] {
      Nexus.writeDistances(big, "a", "b", "d", s"$tmp/graft_test_nexus_big.nex", 7L)
    }
    assert(e.getMessage.contains("MAX_SPLITS_TAXA"))
  }

  test("nexus roundtrip on empty pair set yields empty distances") {
    val empty = Seq.empty[(Long, Long, Long)].toDF("a", "b", "d")
    val path = s"$tmp/graft_test_nexus_empty.nex"
    Nexus.writeDistances(empty, "a", "b", "d", path, 7L)
    assert(Nexus.readDistances(spark, path).count() == 0)
  }

  /** Minimal Newick reader for the canonical strings the engine emits:
    * returns (leaves, root height) where height = leaf-to-root path length
    * (ultrametric: identical for every leaf of a tree).
    */
  private def parseNewick(s: String): (Set[Long], Set[Long]) = {
    // split leaf tokens out: digits are leaf ids, ':' lengths follow
    val leaves = "(?<=[(,])(\\d+):".r.findAllMatchIn(s).map(_.group(1).toLong).toSet
    val single = "^(\\d+);$".r.findFirstMatchIn(s).map(_.group(1).toLong)
    def heights(str: String): Set[Long] = {
      // recursive descent over the canonical grammar
      def parse(pos: Int): (Int, Set[Long]) = {
        if (str.charAt(pos) == '(') {
          var p = pos + 1
          var hs = Set.empty[Long]
          while (str.charAt(p) != ')') {
            val (np, sub) = parse(p)
            p = np
            // expect ':' len
            assert(str.charAt(p) == ':', s"expected : at $p in $str")
            var q = p + 1
            while (q < str.length && str.charAt(q).isDigit) q += 1
            val len = str.substring(p + 1, q).toLong
            hs ++= sub.map(_ + len)
            p = q
            if (str.charAt(p) == ',') p += 1
          }
          (p + 1, hs)
        } else {
          var q = pos
          while (str.charAt(q).isDigit) q += 1
          (q, Set(0L))
        }
      }
      parse(0)._2
    }
    single match {
      case Some(l) => (Set(l), Set(0L))
      case None => (leaves, heights(s.stripSuffix(";")))
    }
  }

  test("newick strings are ultrametric and recover exactly the leaf set") {
    val edges = Seq(
      (1L, 2L, 1), (2L, 3L, 2), (3L, 4L, 3), (10L, 11L, 2), (11L, 12L, 2))
      .toDF("src", "dst", "weight")
    val nodes = Seq(1L, 2L, 3L, 4L, 10L, 11L, 12L, 99L).toDF("node")
    val trees = Clustering.singleLinkageNewick(edges, nodes)
      .as[(Long, String)].collect().toMap
    val allLeaves = trees.values.map(parseNewick).flatMap(_._1).toSet
    assert(allLeaves == Set(1L, 2L, 3L, 4L, 10L, 11L, 12L, 99L))
    for ((root, nw) <- trees) {
      val (leaves, heights) = parseNewick(nw)
      assert(leaves.min == root, s"root must be min leaf: $nw")
      assert(heights.size == 1, s"ultrametric violated: $nw -> $heights")
    }
  }
}
