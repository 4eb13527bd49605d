package graft

import graft.textops.{TextAnalysis, WordStats}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The round-6 word-stats kernels must agree with the column-op forms
  * the audited queries used through round 5 (the kernels emit raw
  * integer counters; every ratio/rounding stays in unchanged Catalyst
  * expressions — so counter parity IS value parity for the eight
  * consumer queries).
  */
class WordStatsSpec extends AnyFunSuite with SparkSpec {

  // empties, doubled/leading/trailing spaces, stopwords of both
  // languages, punctuation-only words, unicode (including a
  // supplementary char and a combining sequence), digits, the '#'/'...'
  // Gopher symbols, long words
  private val fixtures = Seq(
    "",
    " ",
    "   ",
    "a",
    "the quick brown fox",
    "de a o e que do da em um para",
    "the  double  space case",
    " leading and trailing ",
    "no-letters 123 456 ... ### !!!",
    "the a and of to in is on for with repeated the the the",
    "café niño 😀word á",
    "para o the mix de stopwords in both tongues",
    ("w" * 50) + " " + ("x" * 3),
    "tab\tis one word here",
    "...")

  test("word_stats kernel == columnar reference on every counter") {
    import spark.implicits._
    val df = fixtures.toDF("s")
    val rows = df.select(
      WordStats.stats(col("s")).as("native"),
      WordStats.statsColumnar(col("s")).as("columnar")).collect()
    rows.zip(fixtures).foreach { case (r, s) =>
      assert(r.getSeq[Long](0) === r.getSeq[Long](1), s"input: '$s'")
    }
    // and the Scala twin agrees with both
    fixtures.foreach { s =>
      val idx = fixtures.indexOf(s)
      assert(WordStats.statsScala(s).toSeq === rows(idx).getSeq[Long](0),
        s"scala twin diverged on '$s'")
    }
  }

  test("term_counts kernel == columnar reference (search terms + decoys)") {
    import spark.implicits._
    val terms = TextAnalysis.SearchTerms
    val extra = fixtures ++ Seq(
      "window merge stream",
      "window window window",
      "windows streams merged", // near-misses must NOT count
      "merge the window into the stream and merge again",
      "stream")
    val df = extra.toDF("s")
    val rows = df.select(
      WordStats.termCounts(col("s"), terms).as("native"),
      WordStats.termCountsColumnar(col("s"), terms).as("columnar")).collect()
    rows.zip(extra).foreach { case (r, s) =>
      assert(r.getSeq[Long](0) === r.getSeq[Long](1), s"input: '$s'")
      assert(WordStats.termCountsScala(s, terms.toIndexedSeq).toSeq
        === r.getSeq[Long](0), s"scala twin diverged on '$s'")
    }
  }

  test("word_count kernel == stats n_words == columnar size") {
    import spark.implicits._
    val df = fixtures.toDF("s")
    val rows = df.select(
      WordStats.wordCount(col("s")).as("wc"),
      WordStats.stats(col("s")).as("st"),
      size(TextAnalysis.nonEmptyWords(col("s"))).cast("long").as("ref")).collect()
    rows.zip(fixtures).foreach { case (r, s) =>
      assert(r.getLong(0) === r.getSeq[Long](1).head, s"vs stats on '$s'")
      assert(r.getLong(0) === r.getLong(2), s"vs columnar on '$s'")
      assert(WordStats.wordCountScala(s) === r.getLong(0), s"scala twin on '$s'")
    }
  }

  test("word_tf kernel == columnar reference (per-doc tf map, stable order)") {
    import spark.implicits._
    val extra = fixtures ++ Seq(
      "a a a b b c",
      "the the the quick the quick")
    val df = extra.toDF("s")
    val rows = df.select(
      WordStats.wordTf(col("s")).as("native"),
      WordStats.wordTfColumnar(col("s")).as("columnar")).collect()
    rows.zip(extra).foreach { case (r, s) =>
      val n = r.getSeq[org.apache.spark.sql.Row](0).map(x => (x.getString(0), x.getLong(1)))
      val c = r.getSeq[org.apache.spark.sql.Row](1).map(x => (x.getString(0), x.getLong(1)))
      assert(n === c, s"input: '$s'")
      assert(WordStats.wordTfScala(s).toSeq === n, s"scala twin diverged on '$s'")
    }
  }

  test("pii_scrub kernel == round-5 column-op double-pass reference") {
    import spark.implicits._
    val inputs = Seq(
      "contact a@b.co now",
      "from 10.1.0.1 and 8.8.8.8 today",
      "call 555-867-5309 or 555 1234 5678",
      "a@b.co 10.1.1.1 555-123-4567 all three",
      "email x.y+z@ex.ample.org.",
      "no pii here at all",
      "",
      "overlong 999.999.999.999 still ip-shaped",
      "123-4567-8901 and 12-345-6789",
      "two mails a@b.co c@d.org one line")
    val df = inputs.toDF("t")
    val rows = df.select(
      TextAnalysis.piiScrubStruct(col("t")).as("r") +:
        TextAnalysis.piiScrubColumnar(col("t")): _*).collect()
    rows.zip(inputs).foreach { case (r, s) =>
      val k = r.getStruct(0)
      assert(k.getString(0) === r.getString(1), s"clean_text diverged on '$s'")
      assert(k.getInt(1) === r.getInt(2), s"n_emails diverged on '$s'")
      assert(k.getInt(2) === r.getInt(3), s"n_ips diverged on '$s'")
      assert(k.getInt(3) === r.getInt(4), s"n_phones diverged on '$s'")
    }
  }

  test("c4_doc kernel == columnar planted-lines/kept/verdict chain") {
    import spark.implicits._
    // real corpus (every plant modulus fires) + synthetic edges:
    // empty text, multi-space, punct-only, doc_ids on each plant modulus
    val real = TextAnalysis.loadDocs(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    val edges = Seq(
      (0L, ""), (7L, " "), (11L, "a"), (13L, "a  b   c"), (17L, "... . ! ?"),
      (77L, "one two three four five six seven eight ."),
      (91L, "javascript inline word test here please okay ."),
      (119L, ("w " * 40).trim), (221L, "short ."))
      .toDF("doc_id", "text")
    for (d <- Seq(real, edges)) {
      val sWords = d.select(col("doc_id"),
        TextAnalysis.nonEmptyWords(col("text")).as("ws"))
      val colSide = TextAnalysis.c4PlantedLines(sWords)
        .select(col("doc_id"), col("lines"),
          TextAnalysis.c4KeptCol(col("lines")).as("kept"),
          array_join(col("lines"), "\n").as("pt"))
        .select(col("doc_id"), col("lines"), col("kept"),
          TextAnalysis.c4PageKeepCol(col("kept"), col("pt")).as("pk"))
      val kSide = d.select(col("doc_id"),
          TextAnalysis.c4Doc(col("doc_id"), col("text")).as("c"))
        .select(col("doc_id"), col("c.lines").as("k_lines"),
          col("c.kept").as("k_kept"), col("c.page_keep").as("k_pk"))
      val joined = colSide.join(kSide, Seq("doc_id")).collect()
      assert(joined.nonEmpty)
      joined.foreach { r =>
        assert(r.getSeq[String](1) === r.getSeq[String](4), s"lines @ ${r.get(0)}")
        assert(r.getSeq[String](2) === r.getSeq[String](5), s"kept @ ${r.get(0)}")
        assert(r.getBoolean(3) === r.getBoolean(6), s"verdict @ ${r.get(0)}")
      }
    }
  }

  test("stats-derived query columns equal the round-5 word-array forms") {
    import spark.implicits._
    val df = fixtures.toDF("text")
    val ws = TextAnalysis.nonEmptyWords(col("text"))
    val st = WordStats.stats(col("text"))
    val rows = df.select(
      WordArrayForms.langGuessFromWords(ws).as("lg_w"),
      TextAnalysis.langGuessFromStats(st).as("lg_s"),
      WordArrayForms.gopherKeepFromWords(col("text"), ws).as("gk_w"),
      TextAnalysis.gopherKeepFromStats(col("text"), st).as("gk_s")).collect()
    rows.zip(fixtures).foreach { case (r, s) =>
      assert(r.getString(0) === r.getString(1), s"lang guess diverged on '$s'")
      assert(r.getBoolean(2) === r.getBoolean(3), s"gopher keep diverged on '$s'")
    }
  }
}
