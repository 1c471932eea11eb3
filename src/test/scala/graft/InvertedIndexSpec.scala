package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import graft.operators.InvertedIndex
import graft.sources.{LetterSink, TextCorpus}

class InvertedIndexSpec extends SparkTestBase {
  import spark.implicits._

  test("inverted index on an inline corpus") {
    val docs = Seq(
      (1L, "the sky is blue"),
      (2L, "the sun is bright"),
      (3L, "blue blue sky")).toDF("doc_id", "text")
    val idx = InvertedIndex(docs).collect()
      .map(r => r.getString(0) -> ((r.getSeq[Long](1), r.getLong(2)))).toMap
    assert(idx("the") === ((Seq(1L, 2L), 2L)))
    assert(idx("blue") === ((Seq(1L, 3L), 2L)))   // dup within doc 3 collapsed
    assert(idx("sky") === ((Seq(1L, 3L), 2L)))
    assert(idx("bright") === ((Seq(2L), 1L)))
  }

  test("identical results regardless of partitioning (the reference's MxR matrix)") {
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    val a = InvertedIndex(docs.repartition(1)).orderBy("word").collect()
    val b = InvertedIndex(docs.repartition(13)).orderBy("word").collect()
    assert(a.sameElements(b))
  }

  /** The flagship contract end to end (manifest → TextCorpus →
    * InvertedIndex → LetterSink) on hand-derived corpora, so it is
    * checked byte for byte on any host, golden fixtures or not. Each
    * case lists its files in manifest order and its non-empty letter
    * files; every other letter file must exist and be empty.
    */
  test("letter files match hand-derived fixture corpora byte for byte") {
    val cases: Seq[(Seq[String], Map[Char, String])] = Seq(
      // apostrophes, a dot inside a token, a non-ASCII letter, an empty
      // file, CRLF line ends, an all-digit token, a hyphenated token
      (Seq("don't Stop", "end.Begin café", "", "DON'T stop\r\n42 stop-it"),
        Map('c' -> "caf:[2]\n", 'd' -> "dont:[1 4]\n",
          'e' -> "endbegin:[2]\n", 's' -> "stop:[1 4]\nstopit:[4]\n")),
      // within a letter: doc count descending, then word ascending
      (Seq("b a", "a", "ab aa"),
        Map('a' -> "a:[1 2]\naa:[3]\nab:[3]\n", 'b' -> "b:[1]\n")),
      // runs of tabs and spaces; a word repeated within one file
      (Seq("x\t\tx  y", "Y"),
        Map('x' -> "x:[1]\n", 'y' -> "y:[1 2]\n")))
    cases.zipWithIndex.foreach { case ((files, want), k) =>
      val dir = Files.createTempDirectory(s"graft-letters-$k")
      files.zipWithIndex.foreach { case (text, i) =>
        Files.write(dir.resolve(s"f$i.txt"), text.getBytes("UTF-8"))
      }
      val manifest = dir.resolve("manifest.txt")
      Files.writeString(manifest,
        (files.size.toString +: files.indices.map(i => s"f$i.txt"))
          .mkString("", "\n", "\n"))
      val out = dir.resolve("out").toString
      LetterSink.write(
        InvertedIndex(TextCorpus.fromManifest(spark, manifest.toString)), out)
      ('a' to 'z').foreach { c =>
        val got = new String(Files.readAllBytes(Paths.get(out, s"$c.txt")),
          "US-ASCII")
        assert(got === want.getOrElse(c, ""), s"case $k: $c.txt differs")
      }
    }
  }

  /** Golden fidelity: run the full pipeline over the reference's own small
    * corpus (read in place, never copied) and diff against its golden
    * outputs `checker/test_out_small/{a..z}.txt`.
    */
  test("golden outputs match the reference checker fixtures") {
    val refDir = Paths.get("/root/reference/checker")
    assume(Files.exists(refDir), "reference checker fixtures not present")

    val docs = TextCorpus.fromManifest(spark,
      refDir.resolve("test_small.txt").toString)
    val out = Files.createTempDirectory("graft-golden").toString
    LetterSink.write(InvertedIndex(docs), out)

    ('a' to 'z').foreach { c =>
      val got = Files.readAllLines(Paths.get(out, s"$c.txt")).asScala
        .map(_.trim).filter(_.nonEmpty)
      val want = Files.readAllLines(refDir.resolve(s"test_out_small/$c.txt"))
        .asScala.map(_.trim).filter(_.nonEmpty)
      assert(got === want, s"letter file $c.txt differs")
    }
  }

  test("sharded posting lists reassemble into the unsharded index") {
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    val flat = InvertedIndex(docs).collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    val sharded = InvertedIndex.sharded(docs, shardSize = 7).collect()
      .groupBy(_.getString(0))
      .map { case (word, rows) =>
        val reassembled = rows.sortBy(_.getInt(1))
          .flatMap(_.getSeq[Long](2)).toSeq
        assert(rows.forall(_.getSeq[Long](2).length <= 7),
          s"shard overflow for $word")
        word -> reassembled
      }
    assert(sharded === flat)
  }

  test("entry() returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  /** The full-size reference corpus: 355 book-chapter files, 6.4 MB,
    * 33k golden output lines. Matches the reference checker's main
    * correctness gate (diff -w of all 26 letter files).
    */
  test("golden outputs match the BIG reference corpus") {
    val refDir = Paths.get("/root/reference/checker")
    assume(Files.exists(refDir.resolve("test.txt")), "big fixtures absent")

    val docs = TextCorpus.fromManifest(spark, refDir.resolve("test.txt").toString)
    val out = Files.createTempDirectory("graft-golden-big").toString
    LetterSink.write(InvertedIndex(docs), out)

    ('a' to 'z').foreach { c =>
      val got = Files.readAllLines(Paths.get(out, s"$c.txt")).asScala
        .map(_.trim).filter(_.nonEmpty)
      val want = Files.readAllLines(refDir.resolve(s"test_out/$c.txt"))
        .asScala.map(_.trim).filter(_.nonEmpty)
      assert(got.length === want.length, s"line count differs in $c.txt")
      got.zip(want).zipWithIndex.foreach { case ((g, w), i) =>
        assert(g === w, s"$c.txt line ${i + 1} differs")
      }
    }
  }

  test("incremental maintenance == full rebuild, and the merge is idempotent") {
    import org.apache.spark.sql.functions.col
    val docs = graft.sources.Tables.documents(spark, sf("sf0.001"))
    val oldDocs = docs.filter(col("doc_id") % 3 =!= 0)
    val delta = docs.filter(col("doc_id") % 3 === 0)
    val full = InvertedIndex(docs).orderBy("word").collect()
    val inc = InvertedIndex
      .incremental(InvertedIndex(oldDocs), delta)
      .orderBy("word").collect()
    assert(inc.sameElements(full),
      "incremental merge diverged from the full rebuild")
    // re-delivering the same delta must change nothing
    val again = InvertedIndex
      .incremental(InvertedIndex.incremental(InvertedIndex(oldDocs), delta), delta)
      .orderBy("word").collect()
    assert(again.sameElements(full), "incremental merge is not idempotent")
  }
}
