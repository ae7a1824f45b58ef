package graft

import graft.api.RestQuery
import graft.functions.NStats
import graft.sources.{Gff3, SchemaConfig}
import graft.operators.Predicates
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** S2 schema config, S8 GFF3 sink, F13 REST grammar, N-stats aggregator. */
class SourcesSpec extends SparkSpec {
  import spark.implicits._

  test("SchemaConfig: XML field declarations → StructType") {
    val xml =
      """<fields>
        |  <field type="text" required="yes">isolate</field>
        |  <field type="int">year</field>
        |  <field type="geography_point">location</field>
        |  <field type="text" multiple="yes">continent
        |    <optlist><option>Africa</option><option>Europe</option></optlist>
        |  </field>
        |</fields>""".stripMargin
    val fields = SchemaConfig.parse(xml)
    assert(fields.map(_.name) == Seq("isolate", "year", "location", "continent"))
    assert(fields(3).multiple && fields(3).optlist == Seq("Africa", "Europe"))
    val st = SchemaConfig.toStructType(fields)
    assert(st("isolate") == StructField("isolate", StringType, nullable = false))
    assert(st("year").dataType == IntegerType)
    assert(st("continent").dataType == ArrayType(StringType))
    assert(st("location").dataType.isInstanceOf[StructType])
  }

  test("Gff3: formats tag rows as valid feature lines") {
    val tags = Seq((("ctg1"), 5L, 10L, false, "abcZ"), (("ctg2"), 3L, 9L, true, "adk"))
      .toDF("seqid", "start_pos", "end_pos", "reverse", "locus")
    val lines = Gff3.format(tags, "seqid", "gene", "start_pos", "end_pos",
      "reverse", Map("ID" -> "locus")).as[String].collect().toSet
    assert(lines == Set(
      "ctg1\tgraft\tgene\t5\t10\t.\t+\t0\tID=abcZ",
      "ctg2\tgraft\tgene\t3\t9\t.\t-\t0\tID=adk"))
  }

  test("Embl: record layout — header, feature table, composition, sequence") {
    val rec = graft.sources.Embl.formatRecord(
      "ctg1", "ACGTACGTAC" * 7, "test contig", Seq("X99999"),
      Seq(graft.sources.Embl.Feature("abcZ", 3, 9, reverse = false),
        graft.sources.Embl.Feature("adk", 11, 20, reverse = true)))
    val lines = rec.split("\n")
    assert(lines(0) == "ID   ctg1; SV 1; linear; DNA; STD; UNC; 70 BP.")
    assert(lines.contains("AC   ctg1; X99999;"))
    assert(lines.contains("DE   test contig"))
    assert(lines.exists(_.matches("FT   CDS             3\\.\\.9")))
    assert(lines.exists(_.matches("FT   CDS             complement\\(11\\.\\.20\\)")))
    assert(lines.contains("""FT                   /gene="abcZ""""))
    assert(lines.contains("SQ   Sequence 70 BP; 21 A; 21 C; 14 G; 14 T; 0 other;"))
    // 60-base first row, 6 space-separated groups, count right-aligned
    val seqRow = lines.find(_.startsWith("     acgtacgtac")).get
    assert(seqRow.trim.endsWith("60"))
    assert(seqRow.count(_ == ' ') >= 10)
    assert(lines.last == "//")
  }

  test("Embl.format: one record per contig, features ordered by start") {
    val contigs = Seq(("c1", "ACGTACGT", "first"), ("c2", "GGGGCCCC", null))
      .toDF("cid", "seq", "comments")
    val tags = Seq(("c1", "zz", 5L, 8L, false), ("c1", "aa", 1L, 4L, true))
      .toDF("cid", "locus", "start_pos", "end_pos", "reverse")
    val recs = graft.sources.Embl.format(contigs, "cid", "seq", "comments",
      tags, "locus", "start_pos", "end_pos", "reverse").collect()
    assert(recs.length == 2)
    val c1 = recs.find(_.startsWith("ID   c1")).get
    // start 1 (aa) serializes before start 5 (zz)
    assert(c1.indexOf("complement(1..4)") < c1.indexOf("5..8"))
    val c2 = recs.find(_.startsWith("ID   c2")).get
    assert(!c2.contains("FT   CDS") && !c2.contains("DE   "))
  }

  test("RemoteContigs: fetch, checksum verify, atomic materialize + read") {
    import graft.sources.RemoteContigs
    val goodSeq = RemoteContigs.StubFetcher.fetch("uri://c1")
    val goodCk = java.security.MessageDigest.getInstance("MD5")
      .digest(goodSeq.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val refs = Seq(
      (1L, "uri://c1", goodCk),     // checksum recorded, matches
      (2L, "uri://c2", "deadbeef"), // recorded, stale → flagged
      (3L, "uri://c3", null))       // never fetched before → passes
      .toDF("seqbin_id", "uri", "checksum")
    val live = tempDir("graft-rc").toString + "/contigs"
    RemoteContigs.materialize(refs, "uri", "checksum", live)
    val out = RemoteContigs.read(spark, live)
      .select("seqbin_id", "checksum_ok").as[(Long, Boolean)].collect().toMap
    assert(out == Map(1L -> true, 2L -> false, 3L -> true))
    val seqs = RemoteContigs.read(spark, live)
      .select("seqbin_id", "sequence").as[(Long, String)].collect().toMap
    assert(seqs(1L) == goodSeq && seqs.values.forall(_.matches("[ACGT]+")))
  }

  test("RemoteContigs.HttpFetcher: real GET path against a local fixture server " +
      "(retry on 5xx, fail-fast on 404, no_loci param, md5 verify end-to-end)") {
    import graft.sources.RemoteContigs
    val failuresBeforeOk = new java.util.concurrent.atomic.AtomicInteger(2)
    val attempts404 = new java.util.concurrent.atomic.AtomicInteger(0)
    val seenQuery = new java.util.concurrent.atomic.AtomicReference[String]("")
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    def respond(ex: com.sun.net.httpserver.HttpExchange, code: Int, body: String): Unit = {
      val b = body.getBytes("UTF-8")
      ex.sendResponseHeaders(code, b.length)
      ex.getResponseBody.write(b)
      ex.close()
    }
    server.createContext("/db/iso/contigs/1",
      (ex: com.sun.net.httpserver.HttpExchange) => {
        seenQuery.set(String.valueOf(ex.getRequestURI.getQuery))
        respond(ex, 200, """{"sequence":"ACGTACGTAA","method":"Illumina"}""")
      })
    server.createContext("/db/iso/contigs/2",
      (ex: com.sun.net.httpserver.HttpExchange) =>
        // flaky: two 503s, then success — the reference's retry loop
        // (ContigManager.pm:196-204) must ride through
        if (failuresBeforeOk.getAndDecrement() > 0) respond(ex, 503, "busy")
        else respond(ex, 200, """{"sequence":"TTTTCCCCGG"}"""))
    server.createContext("/db/iso/contigs/3",
      (ex: com.sun.net.httpserver.HttpExchange) => {
        attempts404.incrementAndGet()
        respond(ex, 404, "gone")
      })
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}/db/iso/contigs"
      val fetcher = RemoteContigs.HttpFetcher(maxAttempts = 5, retryDelayMs = 10L)
      val ck = java.security.MessageDigest.getInstance("MD5")
        .digest("ACGTACGTAA".getBytes("UTF-8")).map("%02x".format(_)).mkString
      val refs = Seq(
        (1L, s"$base/1", ck),          // matches recorded checksum
        (2L, s"$base/2", "deadbeef"))  // flaky route; stale checksum → flagged
        .toDF("seqbin_id", "uri", "checksum")
      val out = RemoteContigs.fetchAll(refs, "uri", "checksum", fetcher)
        .select("seqbin_id", "sequence", "checksum_ok")
        .as[(Long, String, Boolean)].collect()
        .map { case (a, b, c) => a -> ((b, c)) }.toMap
      assert(out(1L) == (("ACGTACGTAA", true)))
      assert(out(2L) == (("TTTTCCCCGG", false)), "retries must reach the 200")
      assert(seenQuery.get == "no_loci=1",
        "a bare contig URI must gain ?no_loci=1 (ContigManager.pm:122-124)")
      // 404 is definitive: exactly ONE attempt, then a loud failure
      val e = intercept[Exception] { fetcher.fetch(s"$base/3") }
      assert(e.getMessage.contains("404"), e.getMessage)
      assert(attempts404.get == 1, s"404 must not retry: ${attempts404.get}")
      // the flaky route burned its 2 failures + 1 success — no extra tries
      assert(failuresBeforeOk.get == -1)
    } finally server.stop(0)
  }

  test("RestQuery: field/locus/operator/page grammar → QuerySpec") {
    val spec = RestQuery.parse(
      """{"field.country": "UK", "field.year": 2020,
          "locus.3": "42", "oper": ">=", "page": 2, "page_size": 25}""")
    assert(spec.provenance.toSet == Set(
      graft.api.QueryCompiler.FieldClause("country", Predicates.Ge, "UK"),
      graft.api.QueryCompiler.FieldClause("year", Predicates.Ge, "2020",
        isText = false)))
    assert(spec.designations ==
      Seq(graft.api.QueryCompiler.HasAllele(3, Predicates.Ge, "42")))
    assert(spec.page.contains(graft.api.QueryCompiler.PageSpec(2, 25)))
    intercept[IllegalArgumentException] {
      RestQuery.parse("""{"oper": "bogus"}""")
    }
  }

  test("NStats.compute matches the reference algorithm") {
    // lengths 10,8,6,4,2 total 30; half=15: 10+8=18>=15 -> n50=8, l50=2
    // 90% = 27: 10+8+6+4=28 >= 27 -> n90=4, l90=4
    val r = NStats.compute(Seq(4L, 10L, 2L, 8L, 6L))
    assert(r == NStats.Result(5, 30, 8, 2, 4, 4))
    assert(NStats.compute(Nil) == NStats.Result(0, 0, 0, 0, 0, 0))
    assert(NStats.compute(Seq(0L, 0L, 0L)) == NStats.Result(3, 0, 0, 0, 0, 0))
  }

  test("bandedLevenshtein: exact within band, clamped beyond") {
    import graft.functions.Vectors.bandedLevenshtein
    assert(bandedLevenshtein("kitten", "sitting", 5) == 3)
    assert(bandedLevenshtein("abc", "abc", 2) == 0)
    assert(bandedLevenshtein("abc", "xyz", 2) == 3) // clamp: band+1
    assert(bandedLevenshtein("", "abcd", 2) == 3)   // length gap > band
    assert(bandedLevenshtein("abcdef", "abdcef", 4) == 2) // transposed pair
    // agreement with Spark's exact levenshtein whenever dist <= band
    val pairs = Seq(("ACGTACGTAA", "ACGTTCGTAA"), ("hello world", "help word"),
      ("aaaa", "aaab"), ("abcdefgh", "hgfedcba"))
    val df = pairs.toDF("a", "b").select(
      levenshtein(col("a"), col("b")).as("exact"),
      graft.functions.Vectors.bandedLevenshtein(col("a"), col("b"), 8).as("banded"))
    rows(df).foreach { case Seq(e: Int, bd: Int) =>
      if (e <= 8) assert(bd == e) else assert(bd == 9)
    }
  }

  test("NStats aggregator: distributed result equals driver compute") {
    val df = Seq(("a", 10L), ("a", 8L), ("a", 6L), ("a", 4L), ("a", 2L),
      ("b", 5L)).toDF("g", "len")
    val got = df.groupBy(col("g")).agg(NStats.agg(col("len")).as("st"))
      .select(col("g"), col("st.n50"), col("st.l50"))
      .as[(String, Long, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    assert(got == Map("a" -> ((8L, 2L)), "b" -> ((5L, 1L))))
  }

  test("webdataset tar: roundtrip, block edges, determinism, GNU tar interop") {
    import graft.sources.WebDataset
    val rnd = new scala.util.Random(47)
    // sizes across block boundaries incl. empty and exactly-512
    val entries = Seq(0, 1, 511, 512, 513, 1024, 3000).zipWithIndex.map {
      case (n, i) =>
        (f"$i%06d.bin", Array.fill[Byte](n)(rnd.nextInt(256).toByte))
    }
    val bytes = WebDataset.tarBytes(entries)
    assert(bytes.length % 512 == 0)
    val back = WebDataset.untar(bytes)
    assert(back.map(_._1) == entries.map(_._1))
    back.zip(entries).foreach { case ((_, a), (_, b)) =>
      assert(java.util.Arrays.equals(a, b))
    }
    // archives are a pure function of the entries
    assert(java.util.Arrays.equals(bytes, WebDataset.tarBytes(entries)))
    // the real `tar` reads our archives (interop, not just self-consistency)
    val f = tempFile("graft_wds", ".tar")
    java.nio.file.Files.write(f, bytes)
    val listed = new java.io.BufferedReader(new java.io.InputStreamReader(
      new ProcessBuilder("tar", "-tf", f.toString).start().getInputStream))
      .lines().toArray.map(_.toString).toSeq
    assert(listed == entries.map(_._1), s"tar -tf saw: $listed")
  }

  test("webdataset write/read: parallel shard roundtrip through binaryFile") {
    import graft.sources.WebDataset
    val docs = (1L to 40L).map(i => (i, s"text-$i", s"cls${i % 3}"))
      .toDF("doc_id", "text", "cls")
    val entries = docs.select((col("doc_id") % 4).as("shard"),
      array(
        struct(concat(lpad(col("doc_id").cast("string"), 6, "0"),
          lit(".cls")).as("name"), col("cls").cast("binary").as("data")),
        struct(concat(lpad(col("doc_id").cast("string"), 6, "0"),
          lit(".txt")).as("name"), col("text").cast("binary").as("data")))
        .as("es"))
      .groupBy(col("shard"))
      .agg(sort_array(flatten(collect_list(col("es")))).as("entries"))
    val dir = tempDir("graft_wds_rt").toString
    WebDataset.write(entries, "shard", "entries", dir)
    assert(new java.io.File(dir).listFiles().count(_.getName.endsWith(".tar")) == 4)
    val back = WebDataset.read(spark, dir)
      .select(col("name"), col("data").cast("string").as("payload"))
      .as[(String, String)].collect().toMap
    assert(back.size == 80)
    assert(back("000007.txt") == "text-7" && back("000007.cls") == "cls1")
  }
}
