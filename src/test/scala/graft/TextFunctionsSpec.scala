package graft

import graft.functions.TextFunctions._
import org.apache.spark.sql.functions.col

class TextFunctionsSpec extends SparkSpec {
  import spark.implicits._

  private def one(text: String) = Seq(text).toDF("text")

  test("wordShingles guards short texts (no slice(0) crash)") {
    val out = one("only two").select(wordShingles(col("text"), 3)).as[Seq[String]].head()
    assert(out === Seq.empty)
  }

  test("wordShingles emits n-grams in order") {
    val out = one("a b c d").select(wordShingles(col("text"), 2)).as[Seq[String]].head()
    assert(out === Seq("a b", "b c", "c d"))
  }

  test("shingleSet dedups repeated shingles") {
    val out = one("x y x y x y").select(shingleSet(col("text"), 2)).as[Seq[String]].head()
    assert(out.sorted === Seq("x y", "y x"))
  }

  test("fingerprint is normalization-invariant") {
    val fps = Seq("Hello, World!", "hello   world", "HELLO world.")
      .toDF("text").select(fingerprint(col("text")).as("fp"))
      .as[String].collect().toSet
    assert(fps.size === 1)
  }

  /** Plain-Scala langId: a separate count per language over whitespace
    * tokens, folded in LangMarkers order with a strict `>`, so ties keep
    * the earlier language; a null text is `en`. */
  private def referenceLangId(text: String): String =
    if (text == null) LangMarkers.head._1
    else {
      val toks = text.split("\\s+").toSeq
      val scored = LangMarkers.map { case (l, m) => (l, toks.count(m.contains)) }
      scored.tail.foldLeft(scored.head) { (best, cur) =>
        if (cur._2 > best._2) cur else best
      }._1
    }

  test("langId picks the marker-richest language, earlier wins ties") {
    val cases = Seq(
      "the cat and the dog is here" -> "en",
      "der hund und die katze ist da" -> "de",
      "el perro y los gatos es grande" -> "es",
      "le chat et les chiens est ici" -> "fr",
      // 'la' is a marker of both es and fr
      "la la la le" -> "fr",
      "la" -> "es",
      // every pairwise tie goes to the earlier language
      "the der" -> "en", "the el" -> "en", "the le" -> "en",
      "der el" -> "de", "der le" -> "de", "el le" -> "es",
      // a later language that leads mid-fold still loses a tie
      "der der el el el le le le" -> "es",
      "is is der der der" -> "de",
      // 3-way and 4-way ties
      "the der el" -> "en", "der el le" -> "de", "the el le" -> "en",
      "the der le" -> "en", "the der el le" -> "en",
      "and and und und los los les les" -> "en",
      // no markers, empty, whitespace only, null
      "zzz qqq www" -> "en", "" -> "en", "   " -> "en", "\t \n" -> "en",
      (null: String) -> "en")
    val texts = cases.map(_._1)
    assert(texts.map(referenceLangId) === cases.map(_._2))
    val out = texts.zipWithIndex.toDF("text", "i")
      .select(col("i"), langId(col("text")).as("lang"))
      .as[(Int, String)].collect().sortBy(_._1).map(_._2).toSeq
    assert(out === texts.map(referenceLangId))
  }

  test("tx_quality_filter labels a long non-English document 'lang'") {
    val dir = java.nio.file.Files.createTempDirectory("graft-langid-")
    val filler = (1 to 20).map(i => s"w$i").mkString(" ")
    Seq(
      (1L, s"$filler der die das und ist"),
      (2L, s"$filler el la los de es"),
      (3L, s"$filler le les et est"),
      (4L, s"$filler the a of and is"),
      // fr outscores en, but with under 20 tokens the short rule wins
      (5L, "le les et est"))
      .toDF("doc_id", "text")
      .write.parquet(dir.resolve("documents.parquet").toString)
    val out = graft.queries.TextQueries.txQualityFilter(spark, dir.toString)
      .select("doc_id", "reason").as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(out === Seq(1L -> "lang", 2L -> "lang", 3L -> "lang", 4L -> "keep",
      5L -> "short"))
  }

  test("quality signals on punctuation-free single token") {
    val r = one("hello")
      .select(tokenCount(col("text")).as("n"), punctRatio(col("text")).as("p"),
        meanTokenLen(col("text")).as("m"))
      .as[(Int, Double, Double)].head()
    assert(r === ((1, 0.0, 5.0)))
  }

  test("scrubPii redacts email, phone and IP; counts see each once") {
    val df = one("reach me at jo.doe+x@foo.bar.org or +380-44-1234567, host 192.168.0.1 ok")
    val r = df.select(
      piiCount(col("text"), EmailRegex).as("e"),
      piiCount(col("text"), PhoneRegex).as("p"),
      piiCount(col("text"), Ipv4Regex).as("i"),
      scrubPii(col("text")).as("s"))
      .as[(Long, Long, Long, String)].head()
    assert(r._1 === 1L && r._2 === 1L && r._3 === 1L)
    assert(r._4 === "reach me at <EMAIL> or <PHONE>, host <IP> ok")
  }

  test("scrubPii passes clean text through untouched") {
    val clean = "no personal data in this sentence at all"
    assert(one(clean).select(scrubPii(col("text"))).as[String].head() === clean)
  }

  test("trainSplit is deterministic, total, and keyed on the id") {
    val df = (1L to 1000L).toDF("id")
      .select(col("id"), trainSplit(col("id")).as("split"))
    val counts = df.groupBy("split").count()
      .as[(String, Long)].collect().toMap
    assert(counts.keySet === Set("train", "val", "test"))
    // expectation 12/16 - 2/16 - 2/16; allow generous slack
    assert(counts("train") > counts("val") && counts("train") > counts("test"))
    assert(counts.values.sum === 1000L)
    // same keys -> same assignment on re-evaluation
    val again = df.select(trainSplit(col("id"))).as[String].collect()
    assert(again.toSeq === df.select("split").as[String].collect().toSeq)
  }
}
