package graft

import graft.streaming.IncrementalStats

/** Batch/streaming equivalence: replaying the events table through
  * Structured Streaming must produce exactly the batch aggregate
  * (SURVEY §2.11 — the trigger-maintained incremental aggregate).
  */
class StreamingSpec extends SparkSpec {

  test("streamed eventStats equals batch eventStats on sf0.001") {
    val dir = "/root/testdata/sf0.001"
    val batchIn = Tables.load(spark, dir, "events")
    val batch = IncrementalStats.eventStats(batchIn)

    // pruned schema: the aggregation only needs (user_id, value); omitting
    // `ts` sidesteps the TIMESTAMP(NANOS) column in the raw file
    val schema = org.apache.spark.sql.types.StructType(
      batchIn.schema.filter(f => Set("user_id", "value")(f.name)))
    // the streaming file source monitors a DIRECTORY; stage the single file
    val stage = tempDir("graft-stream-test")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      stage.resolve("events.parquet"))
    val q = IncrementalStats.replayAsStream(
      spark, stage.toString, schema, "stream_sink_test")
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("stream_sink_test")

    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("exactTagScan over a contig stream equals the batch scan") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val contigRows = Seq(
      (1L, "ACGGGTTTACGAAACCCGT"),
      (2L, "TTGAATTCTTGAATTC"),
      (3L, "AAAACCCCGGGGTTTT"))
    val lib = Seq(("locusA", "1", "GGGTTT"), ("pal", "1", "GAATTC"))
      .toDF("locus", "allele_id", "aseq")

    def scan(df: org.apache.spark.sql.DataFrame) =
      graft.operators.SeqScan.exactTagScan(
        df, "cid", "seq", lib, "locus", "allele_id", "aseq",
        overlapping = true)

    // the scan is stateless (broadcast join + generate), so the same
    // definition runs unchanged under Structured Streaming in append mode
    val in = MemoryStream[(Long, String)]
    in.addData(contigRows: _*)
    val q = scan(in.toDF.toDF("cid", "seq"))
      .writeStream.format("memory").queryName("stream_tag_sink")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("stream_tag_sink")
    val batch = scan(contigRows.toDF("cid", "seq"))
    assert(streamed.count() == batch.count() && batch.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("text quality scoring runs unchanged on a stream (curation-on-ingest)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the training-data curation ops are stateless projections, so the
    // batch definitions ARE the streaming ingest filter — no rewrite
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and runs away fast"),
      (2L, "aaa aaa aaa aaa"),
      (3L, "x"))
    def score(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"),
        graft.pipeline.TextAnalysis
          .qualityFeatures(col("text"), Seq("the", "and")).as("f"))
        .select(col("doc_id"), col("f.n_tokens"),
          round(col("f.stopword_ratio"), 4).as("sr"))
    val in = MemoryStream[(Long, String)]
    in.addData(docs: _*)
    val q = score(in.toDF.toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("stream_quality_sink")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("stream_quality_sink")
    val batch = score(docs.toDF("doc_id", "text"))
    assert(streamed.count() == 3)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("hash featurization runs unchanged on a stream (featurize-on-ingest)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the featurizer is a narrow per-row projection, so the same column
    // expression serves batch backfills and the ingest stream — the
    // training-feature parity guarantee
    val docs = Seq((1L, "apple banana apple"), (2L, "cherry"), (3L, ""))
    def feats(df: org.apache.spark.sql.DataFrame) = {
      import org.apache.spark.sql.functions.col
      df.select(col("doc_id"),
        graft.pipeline.TextAnalysis.hashFeatures(col("text"), 16).as("f"))
    }
    val in = MemoryStream[(Long, String)]
    in.addData(docs: _*)
    val q = feats(in.toDF.toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("stream_feat_sink")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("stream_feat_sink")
    val batch = feats(docs.toDF("doc_id", "text"))
    assert(streamed.count() == 3)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("contamination screens a document stream against a static benchmark") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // decontamination-on-ingest: the benchmark gram set is a STATIC
    // broadcast dimension; arriving docs stream through the same
    // stream-static join + per-doc aggregation (complete mode — the
    // flagged set is the query's running result)
    val eval = Seq((99L, "said the quick brown fox ran")).toDF("doc_id", "text")
    val docs = Seq(
      (1L, "the quick brown fox jumps"),
      (2L, "a slow red fox sleeps"),
      (3L, "entirely unrelated words here"))
    def screen(df: org.apache.spark.sql.DataFrame) =
      graft.pipeline.Curation.contamination(df, "doc_id", "text", eval, 3)
    val in = MemoryStream[(Long, String)]
    in.addData(docs: _*)
    val q = screen(in.toDF.toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("stream_contam_sink")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("stream_contam_sink")
    val batch = screen(docs.toDF("doc_id", "text"))
    assert(streamed.count() == 1 &&
      streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("k-means cell assignment routes a vector stream exactly like batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val vecs = Seq(
      (1L, Seq(0.0f, 0.1f)), (2L, Seq(10.0f, 10.0f)),
      (3L, Seq(0.1f, 0.0f)), (4L, Seq(10.1f, 9.9f)),
      (5L, Seq(0.05f, 0.05f)), (6L, Seq(9.9f, 10.1f)))
    val batchDf = vecs.toDF("vec_id", "embedding")
    // train on the batch corpus; assignment under the frozen centroids is
    // a narrow literal fold — the index-time cell router on ingest
    val cents = graft.pipeline.Similarity.kmeansTrain(
      batchDf, "vec_id", "embedding", k = 2, dim = 2, iters = 2)
    def route(df: org.apache.spark.sql.DataFrame) =
      graft.pipeline.Similarity.kmeansAssign(df, "vec_id", "embedding", cents)
    val in = MemoryStream[(Long, Seq[Float])]
    in.addData(vecs: _*)
    val q = route(in.toDF.toDF("vec_id", "embedding"))
      .writeStream.format("memory").queryName("stream_kmeans_sink")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("stream_kmeans_sink")
    val batch = route(batchDf)
    assert(streamed.count() == 6 &&
      streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("PQ encode compresses a vector stream exactly like batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val vecs = Seq(
      (1L, Seq(0.0f, 0.1f, 5.0f, 5.1f)), (2L, Seq(10.0f, 10.0f, 0.2f, 0.1f)),
      (3L, Seq(0.1f, 0.0f, 5.1f, 5.0f)), (4L, Seq(10.1f, 9.9f, 0.0f, 0.3f)),
      (5L, Seq(0.05f, 0.05f, 4.9f, 5.2f)), (6L, Seq(9.9f, 10.1f, 0.1f, 0.2f)))
    val batchDf = vecs.toDF("vec_id", "embedding")
    // train per-subspace codebooks on the batch corpus; encoding under the
    // frozen model is ONE narrow projection — the stream encoder on ingest
    val model = graft.pipeline.Similarity.pqTrain(
      batchDf, "vec_id", "embedding", m = 2, dim = 4, k = 2, iters = 2)
    def encode(df: org.apache.spark.sql.DataFrame) =
      graft.pipeline.Similarity.pqEncode(df, "vec_id", "embedding", model)
    val in = MemoryStream[(Long, Seq[Float])]
    in.addData(vecs: _*)
    val q = encode(in.toDF.toDF("vec_id", "embedding"))
      .writeStream.format("memory").queryName("stream_pq_sink")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("stream_pq_sink")
    val batch = encode(batchDf)
    assert(streamed.count() == 6 &&
      streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
    // the codes genuinely separate the two clusters per subspace
    assert(batch.select("code_1").distinct().count() == 2)
  }

  test("boilerplate strip under a frozen dim runs unchanged on a doc stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the boilerplate dimension is frozen from the accumulated corpus (the
    // bm25Stats posture); arriving docs strip through the same narrow
    // array-filter expression — curation-on-ingest without a rewrite
    val boiler = Seq("shared header line").toDF("unit")
    val bset = boiler.select(collect_set(col("unit"))).head().getSeq[String](0)
    val docs = Seq(
      (1L, Seq("shared header line", "unique body one")),
      (2L, Seq("unique body two", "shared header line")),
      (3L, Seq("only original text")))
    def strip(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"),
        filter(col("units"), u => !u.isin(bset: _*)).as("kept"))
        .select(col("doc_id"), size(col("kept")).as("n_kept"))
    val in = MemoryStream[(Long, Seq[String])]
    in.addData(docs: _*)
    val q = strip(in.toDF.toDF("doc_id", "units"))
      .writeStream.format("memory").queryName("stream_boiler_sink")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("stream_boiler_sink")
    val batch = strip(docs.toDF("doc_id", "units"))
    assert(streamed.count() == 3 &&
      streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
    assert(batch.filter(col("doc_id") === 1).select("n_kept")
      .as[Int].head() == 1)
  }

  test("streaming sessionization closes the batch sessions as the watermark advances") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val minute = 60000000L
    // base offset: an event at exactly epoch 0 is "late" against the
    // initial watermark (ts <= watermark drops) — real event times are
    // never at epoch 0, so start the fixture one day in
    val base = 86400L * 1000000L
    // user 1: two sessions (gap 40min between events 2 and 3);
    // user 2: one session of two close events
    val evs = Seq(
      (1L, 1L, base + 0L * minute), (1L, 2L, base + 10L * minute),
      (1L, 3L, base + 50L * minute), (1L, 4L, base + 55L * minute),
      (2L, 5L, base + 5L * minute), (2L, 6L, base + 6L * minute))
    // sentinel far in the future: advances the GLOBAL watermark past every
    // real session's gap horizon so event-time timeouts flush open state
    val sentinel = (99L, 999L, base + 100000L * minute)

    val in = MemoryStream[(Long, Long, Long)]
    def asEvents(df: org.apache.spark.sql.DataFrame) =
      df.toDF("user_id", "event_id", "us")
        .withColumn("ts", timestamp_micros(col("us")))
        .withWatermark("ts", "0 seconds")
    val q = graft.streaming.Sessionize.sessions(asEvents(in.toDF))
      .writeStream.format("memory").queryName("stream_sessions_sink")
      .outputMode("append").start()
    try {
      in.addData(evs: _*)
      q.processAllAvailable()
      in.addData(sentinel)
      q.processAllAvailable()
      // one more empty-ish batch so timeouts registered against the new
      // watermark actually fire
      in.addData((98L, 998L, base + 100001L * minute))
      q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.table("stream_sessions_sink")
      .filter(col("user_id") < 90)
      .select("user_id", "n_events", "start_us", "end_us", "duration_us")
    val expected = Seq(
      (1L, 2L, base + 0L * minute, base + 10L * minute, 10L * minute),
      (1L, 2L, base + 50L * minute, base + 55L * minute, 5L * minute),
      (2L, 2L, base + 5L * minute, base + 6L * minute, 1L * minute))
      .toDF("user_id", "n_events", "start_us", "end_us", "duration_us")
    assert(streamed.count() == 3)
    assert(streamed.exceptAll(expected).isEmpty &&
      expected.exceptAll(streamed).isEmpty)
  }

  test("PQ encoding under frozen codebooks runs unchanged on a vector stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val vecs = Seq(
      (1L, Seq(0f, 0f, 9f, 9f)), (2L, Seq(9f, 9f, 0f, 0f)),
      (3L, Seq(0.1f, 0f, 8.9f, 9f)), (4L, Seq(8.8f, 9f, 0.2f, 0f)))
    val batchDf = vecs.toDF("vec_id", "embedding")
    // codebooks train on the accumulated corpus; encoding is a narrow
    // literal fold — the index-time compressor on ingest
    val model = graft.pipeline.Similarity.pqTrain(
      batchDf, "vec_id", "embedding", m = 2, dim = 4, k = 2, iters = 1)
    def enc(df: org.apache.spark.sql.DataFrame) =
      graft.pipeline.Similarity.pqEncode(df, "vec_id", "embedding", model)
    val in = MemoryStream[(Long, Seq[Float])]
    in.addData(vecs: _*)
    val q = enc(in.toDF.toDF("vec_id", "embedding"))
      .writeStream.format("memory").queryName("stream_pq_sink")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("stream_pq_sink")
    val batch = enc(batchDf)
    assert(streamed.count() == 4 &&
      streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("BM25 scoring under frozen index stats runs unchanged on a doc stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = Seq(
      (1L, "spark join shuffle join"), (2L, "vector join data"),
      (3L, "no relevant terms here"), (4L, "spark spark spark"))
    val batchDf = docs.toDF("doc_id", "text")
    // freeze the index stats on the batch corpus; scoring is a narrow
    // in-row fold with literal idf factors — the stream re-ranker
    val stats = graft.pipeline.TextAnalysis.bm25Stats(
      batchDf, "doc_id", "text", Seq("spark", "join"))
    assert(stats.n == 4.0 && stats.df("spark") == 2.0 && stats.df("join") == 2.0)
    def score(df: org.apache.spark.sql.DataFrame) =
      graft.pipeline.TextAnalysis.bm25Score(df, "doc_id", "text", stats)
    val in = MemoryStream[(Long, String)]
    in.addData(docs: _*)
    val q = score(in.toDF.toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("stream_bm25_sink")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("stream_bm25_sink")
    val batch = score(batchDf)
    assert(streamed.count() == 4 &&
      streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
    // no-term doc scores exactly 0
    assert(batch.filter(org.apache.spark.sql.functions.col("doc_id") === 3)
      .select("score").as[Double].head() == 0.0)
  }

  test("count-min sketch builds on a stream (complete mode) = batch sketch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the sketch is one groupBy aggregation over a tiny fixed key space,
    // so the batch definition runs unchanged as a streaming aggregation —
    // the bounded-state frequency view over an unbounded token stream
    val docs = Seq((1L, "a b a c d a"), (2L, "b b e f a"), (3L, "g a b"))
    def sk(df: org.apache.spark.sql.DataFrame) =
      graft.pipeline.TextAnalysis.cmsSketch(df, "text", 4, 32)

    val in = MemoryStream[(Long, String)]
    in.addData(docs: _*)
    val q = sk(in.toDF.toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("stream_cms_sink")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("stream_cms_sink")
    val batch = sk(docs.toDF("doc_id", "text"))
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("HLL registers build on a stream (complete mode) = batch registers") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // like the CMS: register maxes are one bounded-key aggregation, so
    // the batch sketch definition IS the streaming cardinality view
    val rows = (1L to 400L).map(i => ("g", s"key-$i"))
    def regs(df: org.apache.spark.sql.DataFrame) =
      graft.operators.Hll.registers(df, Seq("g"), "k", 64)

    val in = MemoryStream[(String, String)]
    in.addData(rows: _*)
    val q = regs(in.toDF.toDF("g", "k"))
      .writeStream.format("memory").queryName("stream_hll_sink")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("stream_hll_sink")
    val batch = regs(rows.toDF("g", "k"))
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("KMV sketch builds on a stream (complete mode) = batch sketch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the bottom-k buffer is a mergeable bounded aggregation state, so the
    // batch sketch definition runs unchanged as a streaming quantile +
    // cardinality view — k pairs per group regardless of stream length
    val rnd = new scala.util.Random(3)
    val rows = (1 to 600).map(i =>
      ("g", rnd.nextLong().abs % (1L << 60), (i % 97).toDouble))
    def sk(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("g"))
        .agg(graft.operators.Kmv.agg(col("h"), col("v"), 64).as("sk"))
        .select(col("g"), col("sk.*"))

    val in = MemoryStream[(String, Long, Double)]
    in.addData(rows: _*)
    val q = sk(in.toDF.toDF("g", "h", "v"))
      .writeStream.format("memory").queryName("stream_kmv_sink")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("stream_kmv_sink")
    val batch = sk(rows.toDF("g", "h", "v"))
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("weighted sample builds on a stream (complete mode) = batch sample") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // priority sampling state is the bounded keep-k-smallest buffer, so
    // the batch definition runs unchanged as a streaming aggregation
    val rows = (1L to 300L).map(i => (s"s${i % 3}", i, 1L + i % 7))
    def sample(df: org.apache.spark.sql.DataFrame) =
      graft.pipeline.Curation.weightedSample(df, "source", "doc_id",
        col("w"), 8)
    val in = MemoryStream[(String, Long, Long)]
    in.addData(rows: _*)
    val q = sample(in.toDF.toDF("source", "doc_id", "w"))
      .writeStream.format("memory").queryName("stream_wsample_sink")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("stream_wsample_sink")
    val batch = sample(rows.toDF("source", "doc_id", "w"))
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("incremental autotag scan runs on a contig stream (tag-on-ingest)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the nightly delta run as a stream: contigs arrive in micro-batches
    // and the batch operator runs unchanged per batch via foreachBatch —
    // Spark's documented pattern for stateless batch-operator reuse (the
    // pending-set aggregation inside the scan is per-batch, so no
    // streaming-aggregation state is involved)
    val contigs = Seq((1L, "AAGGCCTTAAGGCCTT"), (2L, "GGCCAATTGGCC"),
      (3L, "TTAACCGGTTAA"))
    val lib = Seq(("L1", "1", "GGCC"), ("L2", "1", "TTAA"))
      .toDF("locus", "allele_id", "allele_seq")
    val existing = Seq((1L, "L1"), (2L, "L1"), (2L, "L2")).toDF("cid", "locus")
    def scan(df: org.apache.spark.sql.DataFrame) =
      graft.operators.SeqScan.incrementalTagScan(
        df, "cid", "seq", existing, lib, "locus", "allele_id", "allele_seq",
        overlapping = true)

    val got = new scala.collection.concurrent.TrieMap[
      (Long, String, Long, Long, Boolean), Int]()
    val in = MemoryStream[(Long, String)]
    in.addData(contigs.take(2): _*)
    in.addData(contigs.drop(2): _*)
    val q = in.toDF.toDF("cid", "seq").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        scan(b).as[(Long, String, String, Long, Long, Boolean)].collect()
          .foreach(r => got.updateWith((r._1, r._2, r._4, r._5, r._6))(
            c => Some(c.getOrElse(0) + 1)))
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()

    val batch = scan(contigs.toDF("cid", "seq"))
      .as[(Long, String, String, Long, Long, Boolean)].collect()
      .groupBy(r => (r._1, r._2, r._4, r._5, r._6)).view.mapValues(_.length).toMap
    assert(got.toMap == batch)
  }

  test("BPE encode under frozen merges tokenizes a stream (tokenize-on-ingest)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // train on a batch corpus, then the encode column (a chain of literal
    // replaces) runs unchanged on the ingest stream — the tokenizer-
    // freeze/apply split every pretraining pipeline uses
    val corpus = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest"))
      .zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
    val merges = graft.pipeline.Tokenizer.bpeTrain(corpus, "text", 5)

    def enc(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"),
        graft.pipeline.Tokenizer.bpeTokenCount(col("text"), merges).as("n_bpe"))

    val docs = Seq((100L, "the lowest newest low"), (101L, "zzz 42"))
    val in = MemoryStream[(Long, String)]
    in.addData(docs: _*)
    val q = enc(in.toDF.toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("stream_bpe_sink")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("stream_bpe_sink")
    val batch = enc(docs.toDF("doc_id", "text"))
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
    // hand check: "the"→[t,h,e]=3, "lowest"→[low,est]=2, "newest"→[n,ew,est]=3,
    // "low"→1; doc 101 has no [a-z]+ word except zzz→[z,z,z]=3
    val got = batch.orderBy(col("doc_id")).as[(Long, Long)].collect().toSeq
    assert(got == Seq(100L -> 9L, 101L -> 3L))
  }

  test("trained probe gates a document stream exactly like batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.pipeline.TextAnalysis
    // train on the batch corpus; gating under the frozen weights is a
    // narrow literal fold — the learned-filter-on-ingest shape
    val corpus = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val toks = size(split(trim(col("text")), "\\s+")).cast("double")
    val feats = Seq("ntok_scaled" -> (toks / 100.0))
    val w = TextAnalysis.linearProbeTrain(corpus, feats,
      (col("n_chars") >= 300).cast("double"), eta = 0.5, iters = 8).map(_._2)
    def gate(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"),
        (lit(w(0)) + lit(w(1)) * (size(split(trim(col("text")), "\\s+"))
          .cast("double") / 100.0)).as("score"))
        .withColumn("keep", col("score") >= 0.5)
    val docs = Seq(
      (1L, Seq.fill(90)("w").mkString(" ")),
      (2L, "short doc"),
      (3L, Seq.fill(40)("w").mkString(" ")))
    val in = MemoryStream[(Long, String)]
    in.addData(docs: _*)
    val q = gate(in.toDF.toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("stream_probe_sink")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("stream_probe_sink")
    val batch = gate(docs.toDF("doc_id", "text"))
    assert(streamed.count() == 3 &&
      streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("first-seen dedup: streamed aggregation state equals the batch result") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(m: Int) = new java.sql.Timestamp(base.getTime + m * 60000L)
    val events = Seq(
      (1L, ts(5), "click", "{\"k\": 1}"),
      (2L, ts(2), "click", "{\"k\": 1}"),   // earlier dup → wins
      (3L, ts(9), "view", "{\"k\": 2}"),
      (4L, ts(2), "click", "{\"k\": 1}"))   // ts tie with id 2 → id 2 wins
    import org.apache.spark.sql.functions.col
    def dedup(df: org.apache.spark.sql.DataFrame) =
      graft.streaming.StreamDedup.firstSeenByContent(df,
        Seq(col("event_type"), col("props")), "ts", "event_id")
    val in = MemoryStream[(Long, java.sql.Timestamp, String, String)]
    in.addData(events: _*)
    val q = dedup(in.toDF.toDF("event_id", "ts", "event_type", "props"))
      .writeStream.format("memory").queryName("stream_fs_sink")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("stream_fs_sink")
    val batch = dedup(events.toDF("event_id", "ts", "event_type", "props"))
    assert(streamed.count() == 2 &&
      streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
    assert(batch.filter(col("first_id") === 2L)
      .select($"n_dups").as[Long].head() == 3L)
  }

  test("PII scrubbing runs unchanged on a document stream (redact-on-ingest)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = Seq(
      (1L, "reach me at alice@example.com or 10.1.2.3"),
      (2L, "ssn 123-45-6789 plus bob@host.org"),
      (3L, "nothing sensitive here"))
    def scrub(df: org.apache.spark.sql.DataFrame) =
      graft.pipeline.TextAnalysis.piiScrub(df, "doc_id", "text")
    val in = MemoryStream[(Long, String)]
    in.addData(docs: _*)
    val q = scrub(in.toDF.toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("stream_pii_sink")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("stream_pii_sink")
    val batch = scrub(docs.toDF("doc_id", "text"))
    assert(streamed.count() == 3 &&
      streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
    val r = streamed.filter($"doc_id" === 2L)
      .select($"n_ssn", $"n_email", $"scrubbed").as[(Long, Long, String)].head()
    assert(r == ((1L, 1L, "ssn <SSN> plus <EMAIL>")))
  }
}
