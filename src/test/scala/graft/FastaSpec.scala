package graft

import graft.sources.Fasta
import org.apache.spark.sql.functions._

class FastaSpec extends SparkSpec {
  import spark.implicits._

  test("write → read round trip preserves id, description, sequence") {
    val dir = tempDir("graft-fasta").toString
    val in = Seq(
      ("a1", "first allele", "ACGT" * 40),  // 160 chars: wraps at 60
      ("a2", "", "TTTT"),
      ("a3", "multi word desc", "G" * 61))
      .toDF("id", "desc", "seq")
    Fasta.write(in, "id", "seq", dir, desc = Some("desc"))
    val back = Fasta.read(spark, dir)
      .select("id", "description", "sequence")
      .as[(String, String, String)].collect().toSet
    assert(back == Set(
      ("a1", "first allele", "ACGT" * 40),
      ("a2", "", "TTTT"),
      ("a3", "multi word desc", "G" * 61)))
  }

  test("format wraps sequence lines at the requested width") {
    val out = Fasta.format(Seq(("x", "A" * 130)).toDF("id", "seq"), "id", "seq")
      .as[String].collect().head
    val lines = out.split("\n")
    assert(lines.head == ">x")
    assert(lines.tail.map(_.length).toSeq == Seq(60, 60, 10))
  }

  test("read parses headers without descriptions and multi-line sequences") {
    val dir = tempDir("graft-fasta2")
    java.nio.file.Files.writeString(dir.resolve("f.fa"),
      ">seq1\nACGT\nACGT\n>seq2 with desc\nTTTT\n")
    val got = Fasta.read(spark, dir.toString)
      .select("id", "description", "sequence")
      .as[(String, String, String)].collect().toSet
    assert(got == Set(("seq1", "", "ACGTACGT"), ("seq2", "with desc", "TTTT")))
  }

  test("writePartitioned: per-locus directory layout, one file per locus") {
    val dir = tempDir("graft-fasta-part").toString
    val alleles = Seq(
      ("abcZ_1", "abcZ", "ACGTACGT"), ("abcZ_2", "abcZ", "TTTTCCCC"),
      ("adk_1", "adk", "GGGGAAAA")).toDF("allele_id", "locus", "sequence")
    Fasta.writePartitioned(alleles, "allele_id", "sequence", "locus", dir)
    val perLocus = new java.io.File(dir).listFiles
      .filter(_.getName.startsWith("locus=")).map(_.getName).toSet
    assert(perLocus == Set("locus=abcZ", "locus=adk"))
    // exactly one data file per locus directory (repartition-by-column)
    new java.io.File(dir).listFiles.filter(_.getName.startsWith("locus=")).foreach { d =>
      assert(d.listFiles.count(_.getName.endsWith(".txt")) == 1, d.getName)
    }
    val back = Fasta.read(spark, dir + "/locus=abcZ")
      .select("id").as[String].collect().toSet
    assert(back == Set("abcZ_1", "abcZ_2"))
  }

  test("readPartitioned recovers the partition column with each record") {
    val dir = tempDir("graft-fasta-rp").toString
    val alleles = Seq(
      ("abcZ_1", "abcZ", "ACGTACGT"), ("abcZ_2", "abcZ", "TTTTCCCC"),
      ("adk_1", "adk", "GGGGAAAA")).toDF("allele_id", "locus", "sequence")
    Fasta.writePartitioned(alleles, "allele_id", "sequence", "locus", dir)
    val back = Fasta.readPartitioned(spark, dir, "locus")
      .select("locus", "id", "sequence").as[(String, String, String)]
      .collect().toSet
    assert(back == Set(
      ("abcZ", "abcZ_1", "ACGTACGT"), ("abcZ", "abcZ_2", "TTTTCCCC"),
      ("adk", "adk_1", "GGGGAAAA")))
  }
}
