package graft

import graft.operators.{Concepts, TextStats}
import org.apache.spark.sql.functions._

class PostProcessSpec extends SparkSpec {
  import spark.implicits._

  private val annots = Seq(
    (0L, "ENT:spark", 1L, "spark", 0L, 5L),
    (0L, "SZ:big", 2L, "big", 6L, 9L),
    (0L, "OP:join", 3L, "join", 10L, 14L),
    (0L, "OP:scan", 4L, "scan", 15L, 19L))
    .toDF("doc_id", "concept_id", "ord", "tok", "char_start", "char_end")

  test("promote canonicalizes mapped ids and leaves others alone") {
    // ENT/SZ rows: NCBITaxon/Mondo-HP-style equivalence promotion;
    // OP:join → OP:JOINLIKE: the PrPromotionMapFactory rule (specific class
    // to its lowest category-level ancestor); OP:scan: unmapped → identity.
    val r = Concepts.promote(annots).orderBy("ord").select("concept_id").as[String].collect()
    assert(r.toSeq == Seq("ENT:engine", "SZ:large", "OP:JOINLIKE", "OP:scan"))
  }

  test("strictFilters drops bracket-broken, stopword, short, and excluded-pair annots") {
    val noisy = Seq(
      (0L, "OP:scan", 1L, "scan", 0L, 4L),        // kept
      (0L, "FAKE:(x", 2L, "(broken", 5L, 12L),    // unbalanced bracket
      (0L, "FAKE:ok", 3L, "(fine)", 13L, 19L),    // balanced bracket → kept
      (0L, "FAKE:the", 4L, "the", 20L, 23L),      // stopword
      (0L, "FAKE:ab", 5L, "ab", 24L, 26L),        // too short
      (0L, "DS:line", 6L, "line", 27L, 31L),      // exclusion pair
      (0L, "DS:line", 7L, "Line", 32L, 36L),      // exclusion is case-insensitive
      (0L, "OP:window", 8L, "window", 37L, 43L))  // exclusion pair
      .toDF("doc_id", "concept_id", "ord", "tok", "char_start", "char_end")
    val kept = Concepts.strictFilters(noisy).select("ord").as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 3L))
  }

  test("resolveGroupOverlaps drops the dispreferred concept on identical spans") {
    val overlapping = Seq(
      (0L, "DS:table", 1L, "table", 0L, 5L),
      (0L, "OP:scan", 1L, "table", 0L, 5L),   // same span, different group
      (0L, "OP:join", 2L, "join", 6L, 10L))
      .toDF("doc_id", "concept_id", "ord", "tok", "char_start", "char_end")
    val kept = Concepts.resolveGroupOverlaps(overlapping, preferred = "DS", over = "OP")
      .select("concept_id").as[String].collect().toSet
    assert(kept == Set("DS:table", "OP:join"))
  }

  test("propagateViaAbbreviations copies long-form concepts onto short-form spans") {
    // concept covers [0,10) (long form); abbrev short form at [20,22)
    val a = Seq((0L, "ENT:spark", 1L, "spark engine", 0L, 10L))
      .toDF("doc_id", "concept_id", "ord", "tok", "char_start", "char_end")
    val ab = Seq((0L, 0L, 10L, 20L, 22L))
      .toDF("doc_id", "lf_start", "lf_end", "sf_start", "sf_end")
    val r = Concepts.propagateViaAbbreviations(a, ab).orderBy("char_start").collect()
    assert(r.length == 2)
    assert(r(1).getAs[Long]("char_start") == 20L && r(1).getAs[String]("concept_id") == "ENT:spark")
  }

  test("redact masks digit runs") {
    val df = Seq((1L, """{"k": 42, "v": 7}""")).toDF("id", "props")
    val r = TextStats.redact(df, "props").select("props_redacted").as[String].head()
    assert(r == """{"k": <NUM>, "v": <NUM>}""")
  }

  test("deterministic sampling is stable and roughly proportional") {
    val docs = (0 until 1000).map(i => (i.toLong, "t", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val s1 = TextStats.sampleDocs(docs, permille = 100).select("doc_id").as[Long].collect().toSet
    val s2 = TextStats.sampleDocs(docs, permille = 100).select("doc_id").as[Long].collect().toSet
    assert(s1 == s2)
    assert(s1.size > 50 && s1.size < 200)
  }

  test("decontaminate flags docs sharing eval bigrams") {
    val docs = Seq(
      (0L, "alpha beta gamma delta", "en", "s", 22L),
      (1L, "omega psi chi phi", "en", "s", 17L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val eval = Seq((100L, "beta gamma epsilon")).toDF("eval_id", "sent_text")
    val r = TextStats.decontaminateFromBigrams(TextStats.docBigrams(docs),
      TextStats.evalBigrams(eval, "eval_id", "sent_text")).collect()
    assert(r.length == 1)
    assert(r.head.getAs[Long]("doc_id") == 0L)
    assert(r.head.getAs[Long]("n_overlapping_bigrams") == 1L) // "beta gamma"
  }

  test("decodeBatched processes binary payloads in partition batches") {
    val payloads = Seq((1L, "hello"), (2L, "")).toDF("doc_id", "text")
      .selectExpr("doc_id", "CAST(text AS BINARY) AS payload")
    val r = TextStats.decodeBatched(payloads).orderBy("doc_id").collect()
    assert(r(0).getAs[Long]("byte_len") == 5L && r(0).getAs[Long]("first_byte") == 'h'.toLong)
    assert(r(1).getAs[Long]("byte_len") == 0L && r(1).getAs[Long]("first_byte") == 0L)
  }

  test("token packing keeps packs within budget for full sentences") {
    val text = (1 to 200).map(i => s"w$i").mkString(" ") // 20 sentence windows
    val docs = Seq((0L, text, "en", "s", text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val packs = TextStats.tokenPacking(docs, budget = 64).groupBy("pack_id")
      .agg(sum("n_tokens").as("total")).collect()
    assert(packs.forall(_.getAs[Long]("total") <= 70)) // budget + one window slop
    assert(packs.length > 1)
  }
}
