package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Sequential model of the reference inverted-index contract, written
  * from its specification rather than from graft's Spark plan:
  *
  *  - the manifest holds a count n, then n paths relative to the
  *    manifest's directory; a file's doc id is its 1-based position;
  *  - tokens are split on space, tab and newline bytes only;
  *  - a token keeps only its ASCII letters, lowercased; tokens left
  *    empty are dropped;
  *  - each word's posting list holds its distinct doc ids, ascending;
  *  - `<letter>.txt` holds `word:[id id ...]` lines for the words with
  *    that first letter, by doc count descending, then word ascending;
  *    all 26 files exist, even when empty.
  */
object LetterModel {

  def build(manifest: Path): Map[Char, Array[Byte]] = {
    val lines = Files.readAllLines(manifest).asScala.toSeq
    val n = lines.head.trim.toInt
    val dir = manifest.toAbsolutePath.getParent
    val postings = mutable.HashMap.empty[String, mutable.SortedSet[Long]]
    lines.slice(1, n + 1).zipWithIndex.foreach { case (p, i) =>
      val id = (i + 1).toLong
      val bytes = Files.readAllBytes(dir.resolve(p.trim).normalize)
      val word = new StringBuilder
      def flush(): Unit = if (word.nonEmpty) {
        postings.getOrElseUpdate(word.toString, mutable.SortedSet.empty) += id
        word.clear()
      }
      bytes.foreach { b =>
        if (b == ' ' || b == '\t' || b == '\n') flush()
        else if (b >= 'a' && b <= 'z') word.append(b.toChar)
        else if (b >= 'A' && b <= 'Z') word.append((b + 32).toChar)
      }
      flush()
    }
    ('a' to 'z').map { c =>
      val text = postings.toSeq
        .filter(_._1.head == c)
        .sortBy { case (w, ids) => (-ids.size, w) }
        .map { case (w, ids) => s"$w:[${ids.mkString(" ")}]\n" }
        .mkString
      c -> text.getBytes("US-ASCII")
    }.toMap
  }

  /** Hand-derived fixtures: (files in manifest order, expected non-empty
    * letter files). Every letter not listed must come out empty. */
  val fixtures: Seq[(Seq[String], Map[Char, String])] = Seq(
    // case, apostrophes, punctuation inside a token, non-ASCII bytes,
    // an empty file, CRLF, an all-digit token, a hyphenated token
    (Seq("don't Stop", "end.Begin café", "", "DON'T stop\r\n42 stop-it"),
      Map('c' -> "caf:[2]\n", 'd' -> "dont:[1 4]\n", 'e' -> "endbegin:[2]\n",
        's' -> "stop:[1 4]\nstopit:[4]\n")),
    // doc count descending, then word ascending
    (Seq("b a", "a", "ab aa"),
      Map('a' -> "a:[1 2]\naa:[3]\nab:[3]\n", 'b' -> "b:[1]\n")),
    // runs of tabs and spaces, a word repeated within one file
    (Seq("x\t\tx  y", "Y"),
      Map('x' -> "x:[1]\n", 'y' -> "y:[1 2]\n")))

  /** Runs the fixtures in `scratch`; returns the failures (empty = ok). */
  def selfTest(scratch: Path): Seq[String] =
    fixtures.zipWithIndex.flatMap { case ((files, want), k) =>
      val dir = Files.createDirectories(scratch.resolve(s"fixture$k"))
      files.zipWithIndex.foreach { case (t, i) =>
        Files.write(dir.resolve(s"f$i.txt"), t.getBytes("UTF-8"))
      }
      val manifest = dir.resolve("manifest.txt")
      Files.writeString(manifest,
        (files.size.toString +: files.indices.map(i => s"f$i.txt"))
          .mkString("", "\n", "\n"))
      val got = build(manifest)
      ('a' to 'z').flatMap { c =>
        val g = new String(got(c), "US-ASCII")
        val w = want.getOrElse(c, "")
        if (g == w) None else Some(s"fixture $k $c.txt: got '$g' want '$w'")
      }
    }
}
