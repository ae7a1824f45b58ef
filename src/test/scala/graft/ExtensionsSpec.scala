package graft

/** GraftExtensions: functions injected via spark.sql.extensions resolve for
  * pure-SQL callers. The shared spec session is built with
  * spark.sql.extensions=graft.GraftExtensions (SparkSpec), exactly how a
  * deployment would configure it.
  */
class ExtensionsSpec extends SparkSpec {

  test("bio functions resolve and compute in SQL") {
    val r = spark.sql(
      """SELECT reverse_complement('ACGT') AS rc,
                is_complete_cds('ATGAAATAA') AS cds,
                translate_dna('ATGAAATAA') AS prot""").collect()(0)
    assert(r.getString(0) == "ACGT") // ACGT is its own reverse complement
    assert(r.getBoolean(1))
    assert(r.getString(2) == "MK*")
  }

  test("vector functions resolve and compute in SQL") {
    val r = spark.sql(
      """SELECT vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d,
                round(vec_cosine(array(1.0d, 0.0d), array(1.0d, 0.0d)), 6) AS c,
                jaccard_sim(array('a','b'), array('b','c')) AS j,
                vec_l2sq(array(1.0d, 2.0d), array(4.0d, 6.0d)) AS l""").collect()(0)
    assert(r.getDouble(0) == 11.0)
    assert(r.getDouble(1) == 1.0)
    assert(math.abs(r.getDouble(2) - 1.0 / 3.0) < 1e-9)
    assert(r.getDouble(3) == 25.0) // 3² + 4²
  }

  test("simhash64 resolves in SQL and votes per bit") {
    // two hashes sharing bit 0 (values 1 and 3): bit 0 votes +2 → set;
    // bit 1 votes 0 (one +1, one -1) → strict majority not met → clear
    val r = spark.sql(
      "SELECT simhash64(array(1L, 3L)) AS s").collect()(0)
    assert(r.getLong(0) == 1L)
  }

  test("bottom_k aggregate resolves in SQL with bounded per-group buffers") {
    val r = spark.sql(
      """SELECT g, bottom_k(v, 2) AS b FROM VALUES
           (1, 5), (1, 1), (1, 3), (2, 9), (2, 7) AS t(g, v)
         GROUP BY g ORDER BY g""").collect()
    assert(r(0).getSeq[Int](1) == Seq(1, 3))
    assert(r(1).getSeq[Int](1) == Seq(7, 9))
  }

  test("optimizer rewrites thresholded levenshtein to the banded kernel") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // a real scan source: a LocalRelation fixture would be constant-folded
    // (filter evaluated at optimize time) before the rewrite is observable
    val dir = tempDir("graft_lev").toString
    Seq(("kitten", "sitting"), ("abc", "abc"), ("abc", "xyzpq"),
      ("", "ab"), ("aaaa", "aa")).toDF("a", "b")
      .write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    val filtered = df.filter(levenshtein(col("a"), col("b")) <= 2)
    val plan = filtered.queryExecution.optimizedPlan.toString
    assert(plan.toLowerCase.contains("bandedlevenshtein"),
      s"expected the banded rewrite in:\n$plan")
    // exact equivalence vs the unrewritten computation (threshold in a
    // projection is untouched — comparison against a column, no literal)
    val want = df.withColumn("d", levenshtein(col("a"), col("b")))
      .filter(col("d") <= col("d") * 0 + 2).drop("d")
    assert(filtered.exceptAll(want).isEmpty && want.exceptAll(filtered).isEmpty)
    // strict < and reversed literal forms rewrite too
    for (f <- Seq(
        df.filter(levenshtein(col("a"), col("b")) < 3),
        df.filter(lit(2) >= levenshtein(col("a"), col("b"))),
        df.filter(lit(3) > levenshtein(col("a"), col("b"))))) {
      assert(f.queryExecution.optimizedPlan.toString
        .toLowerCase.contains("bandedlevenshtein"))
      assert(f.exceptAll(want).isEmpty && want.exceptAll(f).isEmpty)
    }
    // ranking use (no literal comparison) is left on the exact built-in
    val rank = df.select(levenshtein(col("a"), col("b")).as("d"))
    assert(!rank.queryExecution.optimizedPlan.toString
      .toLowerCase.contains("bandedlevenshtein"))
    assert(rank.as[Int].collect().sorted.toSeq == Seq(0, 2, 2, 3, 5))
  }
}
