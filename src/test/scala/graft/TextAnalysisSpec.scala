package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.{Multimodal, TextAnalysis}

class TextAnalysisSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  val sentence = "the quick brown fox, the lazy dog!"

  test("token counts: whitespace vs BPE-ish regex") {
    val df = Seq(sentence).toDF("t")
    val r = df.select(
      TextAnalysis.tokenCountWs(col("t")).as("ws"),
      TextAnalysis.tokenCountBpe(col("t")).as("bpe")).collect()(0)
    assert(r.getInt(0) == 7)
    // the|quick|brown|fox|,|the|lazy|dog|! → 9
    assert(r.getInt(1) == 9)
  }

  test("quality components: stopwords, punct, distinct, word lengths") {
    val df = Seq(sentence).toDF("t")
    val r = df.select(
      TextAnalysis.stopwordCount(col("t")).as("stop"),
      TextAnalysis.punctCount(col("t")).as("punct"),
      TextAnalysis.distinctWordCount(col("t")).as("uniq"),
      TextAnalysis.sumWordLen(col("t")).as("wlen")).collect()(0)
    assert(r.getInt(0) == 2) // two "the" ("fox," has punct attached)
    assert(r.getInt(1) == 2) // comma + bang
    assert(r.getInt(2) == 6) // the quick brown fox, lazy dog!  (the repeated)
    assert(r.getLong(3) == sentence.replace(" ", "").length)
  }

  test("language id picks dominant marker set; 'und' when none") {
    val df = Seq(
      "the cat is on the mat",
      "le chat et la souris et un chien",
      "el gato y los perros que corren",
      "zzz qqq xxx"
    ).toDF("t")
    val got = df.select(TextAnalysis.languageId(col("t")).as("l")).as[String].collect().toSeq
    assert(got == Seq("en", "fr", "es", "und"))
  }

  test("fingerprint is order-sensitive and deterministic") {
    val df = Seq("a b c", "a b c", "c b a").toDF("t")
    val fp = df.select(TextAnalysis.fingerprint(col("t")).as("f")).as[Long].collect()
    assert(fp(0) == fp(1))
    assert(fp(0) != fp(2))
  }

  test("fused TextStats equals the composable functions on real documents") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(200)
    val composable = d.select(col("doc_id"),
      TextAnalysis.tokenCountWs(col("text")).as("a"),
      TextAnalysis.distinctWordCount(col("text")).as("b"),
      TextAnalysis.sumWordLen(col("text")).as("c"),
      TextAnalysis.punctCount(col("text")).as("d"),
      TextAnalysis.stopwordCount(col("text")).as("e"),
      TextAnalysis.languageId(col("text")).as("f"),
      TextAnalysis.fingerprint(col("text")).as("g"))
    val fused = d.select(col("doc_id"), TextAnalysis.stats(col("text")).as("st"))
      .select(col("doc_id"),
        col("st.n_words").as("a"), col("st.n_uniq").as("b"),
        col("st.sum_wlen").as("c"), col("st.n_punct").as("d"),
        col("st.n_stop").as("e"),
        TextAnalysis.languageIdFrom(col("st")).as("f"),
        col("st.fp").as("g"))
    assert(composable.exceptAll(fused).isEmpty && fused.exceptAll(composable).isEmpty)
  }

  test("normalize + redact: punctuation/whitespace/case cleaned; emails and IPs masked") {
    val got = Seq("  Hello,  WORLD!  ping me: a.b+c@ex.co or 192.168.0.1 ok ")
      .toDF("t")
      .select(TextAnalysis.normalize(col("t")).as("n"),
        TextAnalysis.redactPii(col("t")).as("r"))
      .as[(String, String)].collect()(0)
    assert(got._1 == "hello world ping me ab+c@exco or 19216801 ok")
    assert(got._2.contains("<EMAIL>") && got._2.contains("<IP>"))
    assert(!got._2.contains("@ex.co") && !got._2.contains("192.168.0.1"))
  }

  test("portable hash sampling handles NEGATIVE keys (pmod, not C-style %)") {
    val d = spark.range(-5000, 5000).toDF("id")
    val n = graft.operators.Sampling.samplePortable(d, "id", 10).count()
    assert(n > 700 && n < 1300, s"kept $n of 10000 at 10% over signed keys")
  }

  test("hash sampling: deterministic, ~pct kept, complement exactly disjoint") {
    val d = spark.range(0, 10000).toDF("id")
    val kept = graft.operators.Sampling.samplePortable(d, "id", 10)
    val n = kept.count()
    assert(n > 800 && n < 1200, s"kept $n of 10000 at 10%")
    assert(kept.count() == n) // deterministic re-run
    val complement = d.exceptAll(kept)
    assert(complement.count() == 10000 - n)
    assert(kept.intersect(complement).count() == 0)
  }

  test("multimodal decode stub: typed pipeline produces deterministic features") {
    import Multimodal._
    val recs = Seq(
      MediaRecord(1L, "image", "hello world".getBytes("UTF-8")),
      MediaRecord(2L, "audio", Array[Byte](-1, -2, 3)))
    val ds = spark.createDataset(recs)
    val out = decodeFeatures(ds).collect().map(f => f.doc_id -> f).toMap
    assert(out(1L).n_bytes == 11L)
    assert(out(1L).head_sum == "hello world".getBytes("UTF-8").map(_ & 0xff).sum)
    assert(out(1L).width == ((11 * 7 + 13) % 1024) + 1) // no header → stub dims
    assert(out(2L).head_sum == (255 + 254 + 3)) // unsigned byte arithmetic
  }

  test("image header decode: PNG/JPEG/GIF dims from real bytes, stub fallback") {
    import graft.core.ImageHeader
    // PNG: the pngWrap container round-trips its IHDR dims
    val png = ImageHeader.pngWrap("payload".getBytes("UTF-8"), 640, 480)
    assert(ImageHeader.parse(png).contains((640, 480)))
    // JPEG: SOI + APP0 stub segment + SOF0 (height 7, width 9)
    val jpeg = Array[Int](
      0xff, 0xd8,             // SOI
      0xff, 0xe0, 0x00, 0x04, 0x00, 0x00, // APP0, len 4 (2 payload bytes)
      0xff, 0xc0, 0x00, 0x0b, // SOF0, len 11
      0x08,                   // precision
      0x00, 0x07, 0x00, 0x09, // height 7, width 9
      0x01, 0x01, 0x11, 0x00  // 1 component
    ).map(_.toByte)
    assert(ImageHeader.parse(jpeg).contains((9, 7)))
    // header-only buffer ending EXACTLY at the width field is valid
    val jpegMin = Array[Int](0xff, 0xd8, 0xff, 0xc0, 0x00, 0x0b, 0x08,
      0x00, 0x07, 0x00, 0x09).map(_.toByte)
    assert(ImageHeader.parse(jpegMin).contains((9, 7)))
    // GIF: little-endian logical screen 300×200
    val gif = "GIF89a".getBytes("US-ASCII") ++
      Array[Int](0x2c, 0x01, 0xc8, 0x00, 0x00, 0x00).map(_.toByte)
    assert(ImageHeader.parse(gif).contains((300, 200)))
    // no signature → None (decode falls back to the stub formula)
    assert(ImageHeader.parse("just some text".getBytes("UTF-8")).isEmpty)
    // decodeFeatures uses the REAL dims for a headered payload
    import Multimodal._
    val ds = spark.createDataset(Seq(MediaRecord(9L, "image", png)))
    val f = decodeFeatures(ds).collect().head
    assert(f.width == 640 && f.height == 480)
    assert(f.n_bytes == 33L + 7L)
  }

  test("stratifiedSample: per-source rates, nested across weights, exact complement") {
    import graft.operators.Sampling
    val d = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val rates10 = Map("src0" -> 10, "src1" -> 0)
    val rates30 = Map("src0" -> 30, "src1" -> 0)
    val s10 = Sampling.stratifiedSample(d, "doc_id", "source", rates10)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val s30 = Sampling.stratifiedSample(d, "doc_id", "source", rates30)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // raising src0's weight only ADDS rows (nesting), src1 stays empty
    assert(s10.subsetOf(s30) && s10.nonEmpty)
    val src1Ids = d.filter(col("source") === "src1")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s30.intersect(src1Ids).isEmpty)
    // default rate applies to unlisted sources
    val withDefault = Sampling.stratifiedSample(d, "doc_id", "source",
      Map("src0" -> 0), defaultPct = 100)
    assert(withDefault.filter(col("source") === "src0").count() == 0)
    assert(withDefault.count() == d.filter(col("source") =!= "src0").count())
  }
}
