package graft

import graft.api.syntax._
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The reusable operator API (graft.api) on PARTITIONED inputs — the
  * coverage the single-series registry demos (user_id === 7) don't
  * reach. The CORRECTNESS gate proves each method's formula against
  * DuckDB through the ≥20 re-expressed §2 queries; this suite proves
  * the `by`-key parameterization keeps series independent. */
class ApiSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // two series with interior, leading and trailing nulls
  private def interpDf = Seq(
    ("a", 1L, Some(10.0)), ("a", 2L, None), ("a", 3L, None),
    ("a", 4L, None), ("a", 5L, Some(50.0)), ("a", 6L, None),
    ("a", 7L, Some(70.0)), ("a", 8L, None),
    ("b", 1L, None), ("b", 2L, None), ("b", 3L, Some(5.0)),
    ("b", 4L, Some(7.0)), ("b", 5L, None),
  ).toDF("k", "i", "v")

  private def interp(limit: Option[Int], dir: String): Map[(String, Long), Option[Double]] =
    interpDf.interpolate("v", "i", by = Seq("k"), limit = limit,
        direction = dir, as = "out")
      .select("k", "i", "out").collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap

  test("interpolate linear unlimited fills interiors per series, leaves edges") {
    val m = interp(None, "forward")
    assert(m(("a", 2L)) === Some(20.0) && m(("a", 3L)) === Some(30.0) &&
      m(("a", 4L)) === Some(40.0) && m(("a", 6L)) === Some(60.0))
    assert(m(("a", 8L)) === None)                      // trailing stays null
    assert(m(("b", 1L)) === None && m(("b", 2L)) === None) // leading stays null
    assert(m(("b", 4L)) === Some(7.0))                 // valid rows pass through
  }

  test("interpolate forward limit caps distance from previous valid row") {
    val m = interp(Some(2), "forward")
    assert(m(("a", 2L)) === Some(20.0) && m(("a", 3L)) === Some(30.0))
    assert(m(("a", 4L)) === None) // i - pi = 3 > 2
  }

  test("interpolate backward limit caps distance to next valid + clamps leading") {
    val m = interp(Some(1), "backward")
    assert(m(("a", 2L)) === None && m(("a", 3L)) === None) // ni - i > 1
    assert(m(("a", 4L)) === Some(40.0))                    // ni - i = 1
    assert(m(("b", 1L)) === None)                          // leading, dist 2 > 1
    assert(m(("b", 2L)) === Some(5.0))                     // leading clamp, dist 1
    assert(m(("b", 5L)) === None)                          // trailing never fills
  }

  test("interpolate both fills within min distance + clamps both edges") {
    val m = interp(Some(1), "both")
    assert(m(("a", 2L)) === Some(20.0)) // i - pi = 1
    assert(m(("a", 3L)) === None)       // min(2, 2) > 1
    assert(m(("a", 4L)) === Some(40.0)) // ni - i = 1
    assert(m(("b", 2L)) === Some(5.0))  // leading clamp
    assert(m(("b", 5L)) === Some(7.0))  // trailing clamp
  }

  test("ffill/bfill respect series boundaries") {
    val df = Seq(("a", 1L, Some(1.0)), ("a", 2L, None),
      ("b", 1L, None), ("b", 2L, Some(9.0))).toDF("k", "i", "v")
    val f = df.ffill("v", Seq("i"), Seq("k"), "f")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> Option(r.get(3))).toMap
    assert(f(("a", 2L)) === Some(1.0))
    assert(f(("b", 1L)) === None) // never leaks from series a
    val b = df.bfill("v", Seq("i"), Seq("k"), "b")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> Option(r.get(3))).toMap
    assert(b(("b", 1L)) === Some(9.0))
    assert(b(("a", 2L)) === None)
  }

  test("sessionize splits on gap per series") {
    val df = Seq(
      ("a", 1L, java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(0))),
      ("a", 2L, java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(60))),
      ("a", 3L, java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(4000))),
      ("b", 1L, java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(0))),
    ).toDF("k", "i", "ts")
    val m = df.sessionize(1800L * 1000000L, "ts", "i", Seq("k"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(3)).toMap
    assert(m(("a", 1L)) === 1L && m(("a", 2L)) === 1L)
    assert(m(("a", 3L)) === 2L) // 3940 s gap > 1800 s
    assert(m(("b", 1L)) === 1L) // fresh numbering per series
  }

  test("resample buckets and aggregates") {
    val df = Seq(
      (java.sql.Timestamp.valueOf("2024-01-01 10:05:00"), 1.0),
      (java.sql.Timestamp.valueOf("2024-01-01 10:55:00"), 2.0),
      (java.sql.Timestamp.valueOf("2024-01-01 11:05:00"), 4.0),
    ).toDF("ts", "v")
    val rows = df.resample("hour", "ts", "h")(count(lit(1)).as("n"),
        sum("v").as("s")).orderBy("h").collect()
    assert(rows.length === 2)
    assert(rows(0).getLong(1) === 2L && rows(0).getDouble(2) === 3.0)
    assert(rows(1).getLong(1) === 1L && rows(1).getDouble(2) === 4.0)
  }

  test("rollingMean honors minPeriods") {
    val df = Seq(("a", 1L, 1.0), ("a", 2L, 3.0), ("a", 3L, 5.0)).toDF("k", "i", "v")
    val strict = df.rollingMean(2, "v", "i", Seq("k"), as = "m")
      .orderBy("i").collect().map(r => Option(r.get(3)))
    assert(strict.toSeq === Seq(None, Some(2.0), Some(4.0)))
    val loose = df.rollingMean(2, "v", "i", Seq("k"), minPeriods = 1, as = "m")
      .orderBy("i").collect().map(r => r.getDouble(3))
    assert(loose.toSeq === Seq(1.0, 2.0, 4.0))
  }

  test("ewmMean matches the closed form at a non-demo alpha") {
    // alpha = 0.75 -> weight base 4; y3 = (4*1 + 16*2 + 64*3)/84
    val df = Seq(("a", 1L, 1.0), ("a", 2L, 2.0), ("a", 3L, 3.0)).toDF("k", "i", "v")
    val got = df.ewmMean(0.75, "v", "i", Seq("k"), "e")
      .orderBy("i").collect().map(r => r.getDouble(3))
    assert(got.toSeq === Seq(1.0, 1.8, 2.7143))
  }

  test("zscore normalizes within each group independently") {
    val df = Seq(("a", 1L, 1.0), ("a", 2L, 2.0), ("a", 3L, 3.0),
      ("b", 1L, 10.0), ("b", 2L, 20.0), ("b", 3L, 30.0)).toDF("k", "i", "v")
    val m = df.zscore("v", "i", Seq("k"), "z")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(math.abs(m(("a", 1L)) + 1.0) < 1e-12 && math.abs(m(("a", 2L))) < 1e-12)
    assert(math.abs(m(("b", 3L)) - 1.0) < 1e-12) // same shape at 10x scale
  }

  test("cumsum/diffN/pctChange per series") {
    val df = Seq(("a", 1L, 1.0), ("a", 2L, 3.0), ("b", 1L, 5.0)).toDF("k", "i", "v")
    val cs = df.cumsum("v", "i", Seq("k"), "c")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(cs(("a", 2L)) === 4.0 && cs(("b", 1L)) === 5.0)
    val dn = df.diffN(1, "v", "i", Seq("k"), "d")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> Option(r.get(3))).toMap
    assert(dn(("a", 2L)) === Some(2.0) && dn(("b", 1L)) === None)
    val pc = df.pctChange("v", "i", Seq("k"), "p")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> Option(r.get(3))).toMap
    assert(pc(("a", 2L)) === Some(2.0) && pc(("b", 1L)) === None)
  }

  test("rollingStd/rollingMinMax honor the min_periods guard per series") {
    val df = Seq(("a", 1L, 1.0), ("a", 2L, 3.0), ("a", 3L, 5.0),
      ("b", 1L, 9.0)).toDF("k", "i", "v")
    val std = df.rollingStd(2, "v", "i", Seq("k"), as = "s")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> Option(r.get(3))).toMap
    // frame of 2: null at first row of each series; std of {1,3} = sqrt(2)
    assert(std(("a", 1L)) === None && std(("b", 1L)) === None)
    assert(std(("a", 2L)) === Some(1.4142) && std(("a", 3L)) === Some(1.4142))
    val mm = df.rollingMinMax(2, "v", "i", Seq("k"))
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (Option(r.get(3)), Option(r.get(4)))).toMap
    assert(mm(("a", 2L)) === ((Some(1.0), Some(3.0))) &&
      mm(("a", 3L)) === ((Some(3.0), Some(5.0))) &&
      mm(("b", 1L)) === ((None, None)))
  }

  test("topkPerGroup keeps k rows per group with rank") {
    val df = Seq(("a", 1L, 5.0), ("a", 2L, 9.0), ("a", 3L, 7.0),
      ("b", 1L, 2.0)).toDF("k", "id", "v")
    val rows = df.topkPerGroup(2, Seq("k"), Seq(desc("v"), col("id")))
      .select("k", "id", "rn").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    assert(rows === Set(("a", 2L, 1), ("a", 3L, 2), ("b", 1L, 1)))
  }

  test("dedupMinhash drops near-duplicate rows, keeps min id + singletons") {
    val text = "the quick brown fox jumps over the lazy dog again and again today"
    val docs = Seq(
      (1L, text), (2L, text), // exact dup pair -> jaccard 1.0
      (3L, "completely different content with nothing shared at all here now"),
    ).toDF("id", "txt")
    val pairs = docs.minhashPairs("id", "txt", tau = 0.5).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet === Set((1L, 2L)))
    assert(pairs.head.getDouble(2) === 1.0)
    val kept = docs.dedupMinhash("id", "txt", tau = 0.5)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 3L))
  }

  // ----------------------------------------------------------------
  // parameterized SimHash (round 11): the declared 60-bit queries are
  // thin calls; these pin the PARAMETERS the demos don't reach
  // ----------------------------------------------------------------

  private def corpus = graft.core.Tables.documents(spark, TestSpark.sfSmoke)

  test("decontaminate equals the declared fuzzy query's survivor set on the corpus split") {
    val train = corpus.filter(col("source") =!= "src0")
    val bench = corpus.filter(col("source") === "src0")
    val apiCounts = train.decontaminate(bench, "doc_id", "text", tau = 0.5)
      .groupBy("source").agg(count(lit(1)).as("n_clean"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val declared = ops.Registry.queries("text_decontaminate_fuzzy")(
        spark, TestSpark.sfSmoke)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(apiCounts === declared && declared.nonEmpty)
  }

  test("decontaminate keeps sides separate when ids collide across frames") {
    val train = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "totally unrelated words nothing shared here")).toDF("id", "txt")
    // bench reuses id 2 but with TRAIN ROW 1's text — only train id 1
    // must drop; a side-mixing bug would drop id 2 (self-match) instead
    val bench = Seq((2L, "alpha beta gamma delta epsilon zeta")).toDF("id", "txt")
    val kept = train.decontaminate(bench, "id", "txt", tau = 0.5)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(2L))
  }

  test("simhash pigeonhole(d=1) retrieves exactly the bitflip(d=1) pair set") {
    // two independent lossless blockings must agree pair-for-pair
    def pairs(blocking: String) =
      corpus.simhashPairs("doc_id", "text", bits = 60, maxHamming = 1,
          blocking = blocking)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val pigeon = pairs("pigeonhole")
    val flip = pairs("bitflip")
    assert(pigeon.nonEmpty && pigeon === flip)
  }

  test("simhash blocking is lossless at a non-declared width (32-bit vs brute force)") {
    val sketches = corpus.simhashSketch("doc_id", "text", bits = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (ia, sa) <- sketches; (ib, sb) <- sketches
      if ia < ib && java.lang.Long.bitCount(sa ^ sb) <= 2
    } yield (ia, ib)).toSet
    val blocked = corpus.simhashPairs("doc_id", "text", bits = 32, maxHamming = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(blocked === brute && brute.nonEmpty)
  }

  test("pigeonhole blocking stays lossless at maxHamming=3 (24-bit, 4 parts)") {
    // the generic (maxDist+1)-part split beyond the declared d<=2
    val sketches = corpus.simhashSketch("doc_id", "text", bits = 24)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (ia, sa) <- sketches; (ib, sb) <- sketches
      if ia < ib && java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (ia, ib)).toSet
    val blocked = corpus.simhashPairs("doc_id", "text", bits = 24, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(blocked === brute && brute.nonEmpty)
  }

  test("dedupSimhash keeps min id per Hamming cluster plus singletons") {
    val pairs = corpus.simhashPairs("doc_id", "text", maxHamming = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // union-find expected survivors from the pair set
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      val m = ra min rb
      parent(ra) = m
      parent(rb) = m
    }
    val losers = (pairs.flatMap(p => Seq(p._1, p._2)).toSet)
      .filterNot(x => find(x) == x)
    val all = corpus.select("doc_id").collect().map(_.getLong(0)).toSet
    val kept = corpus.dedupSimhash("doc_id", "text", maxHamming = 1)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === all -- losers && losers.nonEmpty)
  }

  // ----------------------------------------------------------------
  // parameterized embedding-LSH (round 11): declared queries are thin
  // calls at the Scale defaults; these pin a NON-declared band family
  // ----------------------------------------------------------------

  private def vecs = graft.core.Tables.embeddings(spark, TestSpark.sfSmoke)

  test("embedLshPairs at a non-declared family equals the brute-forced band rule") {
    val bands = 2
    val bits = 6
    // ground truth: signatures via the same plane texts, rule computed
    // driver-side — any band collides AND exact r4 cosine >= tau
    val sig = graft.vec.VecOps.lshBandsOf(vecs, "vec_id", "embedding", bands, bits)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(x => (x._2, x._3)).toSet).toMap
    val es = vecs.select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("e"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      BigDecimal(d / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val ids = es.keys.toSeq.sorted
    val truth = (for {
      i <- ids.indices; j <- (i + 1) until ids.size
      a = ids(i); b = ids(j)
      if (sig(a) & sig(b)).nonEmpty && cos(es(a), es(b)) >= 0.3
    } yield (a, b)).toSet
    val api = vecs.embedLshPairs("vec_id", "embedding", tau = 0.3,
        bands = bands, bitsPerBand = bits)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(api === truth && truth.nonEmpty)
  }

  test("dedupEmbedLsh keeps min id per LSH cluster plus singletons") {
    val pairs = vecs.embedLshPairs("vec_id", "embedding", tau = 0.25)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      val m = ra min rb
      parent(ra) = m
      parent(rb) = m
    }
    val losers = pairs.flatMap(p => Seq(p._1, p._2)).toSet
      .filterNot(x => find(x) == x)
    val all = vecs.select("vec_id").collect().map(_.getLong(0)).toSet
    val kept = vecs.dedupEmbedLsh("vec_id", "embedding", tau = 0.25)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept === all -- losers && losers.nonEmpty)
  }

  test("knnJoin: lsh candidates are a subset of broadcast-exact ranks, k parameterized") {
    val corpus = vecs.filter(col("vec_id") % 7 === 0)
    val queries = vecs.filter(col("vec_id") < 3)
    val exact = corpus.knnJoin(queries, "vec_id", "embedding", k = 5,
        blocking = "broadcast")
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val ann = corpus.knnJoin(queries, "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    assert(ann.nonEmpty)
    // every ANN hit scores identically to the exact join's score for
    // that (query, neighbor) — LSH changes the candidate set, never
    // the metric; and k bounds each query's rows
    ann.foreach { case (key, cos) =>
      assert(exact.get(key).forall(_ == cos), s"$key: ${exact.get(key)} vs $cos")
    }
    assert(ann.keys.groupBy(_._1).values.forall(_.size <= 5))
  }

  // ----------------------------------------------------------------
  // parameterized text metrics (round 11): declared queries fix the
  // defaults; these pin the knobs
  // ----------------------------------------------------------------

  test("langId threshold and stopword set are real parameters") {
    val docs = Seq(
      (1L, "the cat sat on the mat beside the dog"), // 3/9 'the'
      (2L, "cats sit mats dogs run fast here now"),  // 0 stopwords
    ).toDF("id", "txt")
    val strict = docs.langId("id", "txt", minStopRatio = 0.5)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(strict === Map(1L -> "und", 2L -> "und")) // 1/3 < 0.5
    val custom = docs.langId("id", "txt", stopwords = Seq("cats", "dogs"),
        minStopRatio = 0.2)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(custom === Map(1L -> "und", 2L -> "en")) // 2/8 = 0.25
  }

  test("gopherFlags bounds are real parameters and row-local append keeps columns") {
    val docs = Seq((1L, "one two three", "x")).toDF("id", "txt", "extra")
    val loose = docs.gopherFlags("txt", minWords = 1, stopwords = Seq("one"))
    assert(loose.columns.toSeq ===
      Seq("id", "txt", "extra", "n_words", "mean_word_len", "has_stop", "keep"))
    assert(loose.collect()(0).getAs[Boolean]("keep"))
    val tight = docs.gopherFlags("txt", minWords = 5)
    assert(!tight.collect()(0).getAs[Boolean]("keep")) // 3 words < 5
  }

  test("redact pattern/replacement are real parameters") {
    val docs = Seq((1L, "call 555 or 911 for help")).toDF("id", "txt")
    val r = docs.redact("txt").collect()(0)
    assert(r.getAs[Long]("n_redactions") === 2L &&
      r.getAs[String]("redacted") === "call <num> or <num> for help")
    val vowels = docs.redact("txt", pattern = "[aeiou]+", replacement = "_")
      .collect()(0)
    assert(vowels.getAs[String]("redacted") === "c_ll 555 _r 911 f_r h_lp")
  }

  test("textQuality equals the inline survivor-quality formula") {
    val docs = Seq((7L, "aa bb aa cc")).toDF("id", "txt")
    val r = docs.textQuality("id", "txt").collect()(0)
    // 4 tokens, 3 distinct, 8 chars: 3/4*0.5 + 8/4*0.05 = 0.475
    assert(r.getAs[Long]("n_tokens") === 4L &&
      r.getAs[Double]("quality") === 0.475)
  }

  test("ivfSearch at nprobe=kCells reproduces the exact broadcast knnJoin") {
    val corpus = vecs.filter(col("vec_id") % 5 === 0)
    val queries = vecs.filter(col("vec_id") < 3)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val exact = rows(corpus.knnJoin(queries, "vec_id", "embedding", k = 4,
      blocking = "broadcast"))
    val full = rows(corpus.ivfSearch(queries, "vec_id", "embedding", k = 4,
      kCells = 4, nprobe = 4))
    assert(full === exact && exact.nonEmpty) // every cell probed = exhaustive
    // pruned probing: every hit carries the exact score and k holds
    val pruned = corpus.ivfSearch(queries, "vec_id", "embedding", k = 4,
        kCells = 4, nprobe = 1)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val exactScores = exact.map(t => (t._1, t._3) -> t._4).toMap
    assert(pruned.nonEmpty)
    pruned.foreach { case (key, cos) =>
      assert(exactScores.get(key).forall(_ == cos), s"$key score drifted")
    }
  }

  test("upsampleFfill builds an independent spine per series and fills within it") {
    val df = Seq(
      ("a", 0L, 1.0), ("a", 3L * 3600000000L, 4.0),   // a: hours 0..3
      ("b", 3600000000L, 9.0),                        // b: hour 1 only
    ).toDF("k", "t", "v0")
      .select(col("k"), timestamp_micros(col("t")).as("ts"), col("v0"))
    val out = df.upsampleFfill("hour", "ts", "v0", by = Seq("k"))
      .collect().map(r => (r.getString(0), r.getTimestamp(1).getTime / 3600000,
        Option(r.get(2)).map(_.asInstanceOf[Double]),
        Option(r.get(3)).map(_.asInstanceOf[Double]))).toSet
    assert(out === Set(
      ("a", 0L, Some(1.0), Some(1.0)), ("a", 1L, None, Some(1.0)),
      ("a", 2L, None, Some(1.0)), ("a", 3L, Some(4.0), Some(4.0)),
      ("b", 1L, Some(9.0), Some(9.0)))) // b's spine is 1 bucket, not a's 4
  }

  test("asof syntax routes all three directions through AsofJoin") {
    val probe = Seq((1L, 100L), (1L, 200L)).toDF("k", "t")
      .select(col("k"), timestamp_micros(col("t")).as("ts"))
    val build = Seq((1L, 90L, "a"), (1L, 150L, "b"), (1L, 210L, "c"))
      .toDF("k", "t", "v")
      .select(col("k"), timestamp_micros(col("t")).as("ts"), col("v"))
    def got(dir: String) = probe.asof(build, "ts", Seq("k"), Seq("v"), dir)
      .orderBy("ts").collect().map(_.getAs[String]("v")).toSeq
    assert(got("backward") === Seq("a", "b")) // latest at-or-before
    assert(got("forward") === Seq("b", "c"))  // earliest at-or-after
    assert(got("nearest") === Seq("a", "c"))  // 100: a@90 (10) vs b@150 (50); 200: b(50) vs c(10)
    assertThrows[IllegalArgumentException](probe.asof(build, "ts", Seq("k"), Seq("v"), "sideways"))
  }

  // ----------------------------------------------------------------
  // parameterized summaries / reshape (round 11)
  // ----------------------------------------------------------------

  test("qcut and qcutApprox agree per row at a non-declared q") {
    val df = (1 to 100).map(i => (i.toLong, (i * 37 % 101).toDouble))
      .toDF("id", "v")
    val exact = df.qcut("v", 5, tieCol = "id")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("bucket")).toMap
    val approx = df.qcutApprox("v", 5)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("bucket")).toMap
    // v values are distinct (37 coprime to 101), so rank-ntile and
    // boundary-compare buckets coincide exactly
    assert(exact === approx && exact.values.toSet === Set(1L, 2L, 3L, 4L, 5L))
  }

  test("cut respects explicit edges, labels, and NULLs out-of-range") {
    val df = Seq((1L, -5.0), (2L, 0.0), (3L, 0.5), (4L, 99.0)).toDF("id", "v")
    val m = df.cut("v", Seq(-1.0, 0.0, 1.0), Seq("lo", "hi"))
      .collect().map(r => r.getAs[Long]("id") -> Option(r.getAs[String]("bin"))).toMap
    // right-closed: 0.0 lands in "lo"; -5 and 99 are out of range
    assert(m === Map(1L -> None, 2L -> Some("lo"), 3L -> Some("hi"), 4L -> None))
  }

  test("factorize assigns first-appearance codes by the order column") {
    val df = Seq((10L, "z"), (20L, "a"), (30L, "z"), (40L, "m"))
      .toDF("ord", "cat")
    val m = df.factorize("cat", "ord")
      .collect().map(r => (r.getAs[Long]("ord"), r.getAs[Long]("code"))).toSet
    // z first at ord 10 -> 0, a at 20 -> 1, m at 40 -> 2 (not sorted)
    assert(m === Set((10L, 0L), (20L, 1L), (30L, 0L), (40L, 2L)))
  }

  test("valueCounts normalize proportions sum to 1 over groups") {
    val df = Seq("x", "x", "y", "z", "z", "z").map(Tuple1(_)).toDF("k")
    val rows = df.valueCounts(Seq("k"), normalize = true).collect()
    val m = rows.map(r => r.getAs[String]("k") ->
      (r.getAs[Long]("n"), r.getAs[Double]("proportion"))).toMap
    assert(m("z") === ((3L, 0.5)) && m("x") === ((2L, 2.0 / 6)) &&
      math.abs(rows.map(_.getAs[Double]("proportion")).sum - 1.0) < 1e-12)
  }

  test("describeCol on a known column matches hand-computed stats") {
    val df = Seq(1.0, 2.0, 3.0, 4.0).map(Tuple1(_)).toDF("v")
    val r = df.describeCol("v").collect()(0)
    assert(r.getAs[Long]("cnt") === 4L && r.getAs[Double]("mean_v") === 2.5 &&
      r.getAs[Double]("min_v") === 1.0 && r.getAs[Double]("max_v") === 4.0 &&
      r.getAs[Double]("p50") === 2.5 &&
      math.abs(r.getAs[Double]("std_v") - 1.291) < 0.001)
  }

  test("minhashPairs wider band family: exact-verified subset, high-J pairs kept") {
    val docs = graft.core.Tables.documents(spark, TestSpark.sfSmoke)
    // brute-force 3-gram Jaccard truth on the smoke corpus
    val sh = docs.collect().map { r =>
      val w = r.getAs[String]("text").split(" ")
      r.getAs[Long]("doc_id") -> w.sliding(3).map(_.mkString(" ")).toSet
    }.toMap
    def jac(a: Long, b: Long): Double = {
      val (x, y) = (sh(a), sh(b))
      val i = (x & y).size
      i.toDouble / (x.size + y.size - i)
    }
    val ids = sh.keys.toSeq.sorted
    val truth = (for {
      i <- ids.indices; j <- (i + 1) until ids.length
      if jac(ids(i), ids(j)) >= 0.5
    } yield (ids(i), ids(j))).toSet
    for ((bands, rows) <- Seq((4, 2), (6, 3))) {
      val got = docs.minhashPairs("doc_id", "text", 0.5, bands, rows)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // exact verify ⇒ nothing below τ ever comes out
      assert(got.subsetOf(truth), s"$bands x $rows emitted sub-τ pairs")
      // high-J pairs (J ≥ .9) collide in some band with near-certainty
      // in BOTH families — banding loses only borderline-J pairs
      val high = truth.filter { case (a, b) => jac(a, b) >= 0.9 }
      assert(high.subsetOf(got), s"$bands x $rows missed high-J pairs")
    }
  }

  test("zipfSlope matches hand-computed OLS per group, independent across groups") {
    // g: freqs a×4 b×2 c×1 → (rank, freq) = (1,4)(2,2)(3,1);
    // h: uniform freqs → slope 0 (y constant)
    val df = Seq(
      ("g", "a a b c"), ("g", "a a b"),
      ("h", "p q"), ("h", "r s")).toDF("k", "text").repartition(5)
    val out = df.zipfSlope("k", "text").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val xs = Seq(1.0, 2.0, 3.0).map(math.log)
    val ys = Seq(4.0, 2.0, 1.0).map(math.log)
    val n = 3.0
    val want = (n * xs.zip(ys).map { case (x, y) => x * y }.sum - xs.sum * ys.sum) /
      (n * xs.map(x => x * x).sum - xs.sum * xs.sum)
    assert(out("g")._1 == 3L && math.abs(out("g")._2 - want) < 1e-4, out("g").toString)
    assert(out("h")._1 == 4L && out("h")._2 == 0.0, out("h").toString)
  }

  test("jsDivergence: 0 for identical mixes, ln 2 for disjoint vocabularies") {
    // both groups share the exact corpus mix → divergence 0 each
    val same = Seq(("a", "x x y"), ("b", "x x y")).toDF("k", "text").repartition(3)
    same.jsDivergence("k", "text").collect().foreach { r =>
      assert(r.getDouble(1) == 0.0, r.toString)
    }
    // disjoint single-word vocabularies, equal mass: each group is
    // compared against the GLOBAL mix (which contains the group
    // itself), so the closed form is js(P={x:1}, Q={x:.5, y:.5}) =
    // .5·ln(4/3) + .25·ln(2/3) + .25·ln 2 ≈ 0.2158 — NOT ln 2 (that
    // bound needs disjoint P and Q, and Q here can never be disjoint
    // from its own component)
    val disj = Seq(("a", "x x"), ("b", "y y")).toDF("k", "text")
    val want = 0.5 * math.log(1 / 0.75) +
      0.5 * (0.5 * math.log(0.5 / 0.75) + 0.5 * math.log(0.5 / 0.25))
    disj.jsDivergence("k", "text").collect().foreach { r =>
      assert(math.abs(r.getDouble(1) - want) < 5e-5, r.toString)
      assert(r.getLong(2) == 1L) // each group speaks one word
    }
  }

  // ----------------------------------------------------------------
  // auto-sized sketch band families (round-12 verdict item 1)
  // ----------------------------------------------------------------

  test("auto band families: monotone in n, never narrower than the gate families") {
    import graft.text.NearDup.autoMinhashFamily
    import graft.vec.VecOps.autoEmbedLshFamily
    val ns = Seq(1L, 50L, 500L, 5000L, 50000L, 100000L, 150000L,
      1000000L, 10000000L, 1000000000L, 100000000000L)
    // MinHash: the gate family up to 1e5 docs, the MEASURED sf3 fix
    // (6×3) at 150k (BASELINE "tenth axis"), then +1 row per decade
    assert(autoMinhashFamily(5000L) === ((4, 2)))
    assert(autoMinhashFamily(100000L) === ((4, 2)))
    assert(autoMinhashFamily(150000L) === ((6, 3)))
    val mh = ns.map(autoMinhashFamily)
    assert(mh.map(_._2) === mh.map(_._2).sorted, "rowsPerBand must be monotone")
    mh.foreach { case (b, r) => assert(b == 2 * r && r >= 2) }
    // embed LSH: the gate family at the gate corpus, the MEASURED sf3
    // fix (12 bits at 60k vectors), log-growth, ≤ 30-bit packing bound
    assert(autoEmbedLshFamily(2000L) === ((4, 8)))
    assert(autoEmbedLshFamily(60000L) === ((4, 12)))
    val el = ns.map(autoEmbedLshFamily)
    assert(el.map(_._2) === el.map(_._2).sorted, "bitsPerBand must be monotone")
    el.foreach { case (b, bits) => assert(b == 4 && bits >= 8 && bits <= 30) }
    // integer-exact boundary behavior (round 18): at n = 16·2^k the
    // smallest satisfying width is EXACTLY k — the float ceil(log₂)
    // spelling could round either way here, and the DuckDB oracle's
    // integer-shift twin must see the same value
    import graft.vec.VecOps.adaptiveEmbedLshFamily
    assert(autoEmbedLshFamily(65536L) === ((4, 12)))      // 16·2^12, exact
    assert(autoEmbedLshFamily(65537L) === ((4, 13)))      // one past
    assert(adaptiveEmbedLshFamily(65537L) === ((4, 13)))  // below cap: same
    assert(adaptiveEmbedLshFamily(10000000L) === ((4, 16)),
      "adaptive family must cap at the oracle-text bound")
    assert(autoEmbedLshFamily(10000000L) === ((4, 20)),
      "API auto keeps the full 30-bit range")
  }

  test("auto mode equals the pinned family it derives (pairs identical)") {
    // both corpora are below the first auto step, so auto must derive
    // EXACTLY the gate family — byte-identical pair sets
    val docs = corpus
    val auto = docs.minhashPairs("doc_id", "text", tau = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pinned = docs.minhashPairs("doc_id", "text", tau = 0.5,
        nBands = 4, rowsPerBand = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto === pinned)
    val eAuto = vecs.embedLshPairs("vec_id", "embedding", tau = 0.25)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ePinned = vecs.embedLshPairs("vec_id", "embedding", tau = 0.25,
        bands = 4, bitsPerBand = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(eAuto === ePinned)
  }

  test("half-specified band families are rejected (auto is both-or-neither)") {
    intercept[IllegalArgumentException] {
      corpus.minhashPairs("doc_id", "text", 0.5, nBands = 4, rowsPerBand = 0)
    }
    intercept[IllegalArgumentException] {
      vecs.embedLshPairs("vec_id", "embedding", 0.4, bands = 0, bitsPerBand = 8)
    }
  }

  // ----------------------------------------------------------------
  // serial-window hazard guard (round-11 verdict item 5)
  // ----------------------------------------------------------------

  test("by = Nil plans count on the serial-window hazard counter; keyed plans don't") {
    val df = Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)).toDF("id", "v")
    val before = graft.api.syntax.serialWindowCount.get()
    df.cumsum("v", "id", Nil, "c").collect()
    assert(graft.api.syntax.serialWindowCount.get() > before,
      "global window must increment the hazard counter")
    val mid = graft.api.syntax.serialWindowCount.get()
    df.cumsum("v", "id", Seq("id"), "c").collect()
    assert(graft.api.syntax.serialWindowCount.get() === mid,
      "keyed window must NOT increment the hazard counter")
  }

  // ----------------------------------------------------------------
  // offset-frequency resample (round-12 verdict item 4)
  // ----------------------------------------------------------------

  test("offsetMicros parses pandas offsets and rejects calendar units") {
    import graft.api.syntax.offsetMicros
    assert(offsetMicros("15min") === Some(900000000L))
    assert(offsetMicros("5s") === Some(5000000L))
    assert(offsetMicros("2h") === Some(7200000000L))
    assert(offsetMicros("1d") === Some(86400000000L))
    assert(offsetMicros("hour") === None)   // calendar unit → date_trunc
    assert(offsetMicros("week") === None)
    assert(offsetMicros("nonsense") === None)
  }

  test("resample('60min') == resample('hour') bucket-for-bucket") {
    val df = Seq(
      (java.sql.Timestamp.valueOf("2024-01-01 00:10:00"), 1.0),
      (java.sql.Timestamp.valueOf("2024-01-01 00:50:00"), 2.0),
      (java.sql.Timestamp.valueOf("2024-01-01 01:05:00"), 4.0),
      (java.sql.Timestamp.valueOf("2024-01-01 03:59:59"), 8.0),
    ).toDF("ts", "value")
    def res(every: String) = // bucket emits timestamp_ntz → LocalDateTime
      df.resample(every, "ts", "b")(sum(col("value")).as("s"))
        .collect()
        .map(r => (r.getAs[java.time.LocalDateTime](0), r.getDouble(1))).toSet
    assert(res("60min") === res("hour"))
    // and 15min buckets land on the quarter-hour lattice
    val q = df.resample("15min", "ts", "b")(count(lit(1)).as("n"))
      .collect()
      .map(_.getAs[java.time.LocalDateTime](0)
        .toEpochSecond(java.time.ZoneOffset.UTC)).toSet
    assert(q.forall(_ % 900L == 0))
  }

  test("resample rejects a unit that is neither a date_trunc unit nor an offset") {
    val df = Seq((java.sql.Timestamp.valueOf("2024-01-01 00:10:00"), 1.0)).toDF("ts", "value")
    // date_trunc('fortnight', ts) is NULL: every row would land in one NULL bucket
    assertThrows[IllegalArgumentException](
      df.resample("fortnight", "ts", "b")(count(lit(1)).as("n")))
    // the eight calendar units stay accepted, in any case
    for (u <- Seq("year", "quarter", "month", "week", "day", "hour", "minute", "SECOND"))
      assert(df.resample(u, "ts", "b")(count(lit(1)).as("n")).count() == 1L, u)
  }

  test("offsetMicros rejects non-day-dividing steps (lattice-divergence guard)") {
    import graft.api.syntax.offsetMicros
    // '7h'/'2d'/'7s' epoch-floor lattices diverge from DuckDB
    // time_bucket AND pandas resample — must fail loudly (ADVICE r12)
    for (bad <- Seq("7h", "2d", "7s", "11min"))
      assertThrows[IllegalArgumentException](offsetMicros(bad))
    // 90 min = 5400 s and 90 s both DIVIDE a day — legitimately accepted
    assert(offsetMicros("90min").isDefined && offsetMicros("90s").isDefined)
  }

  test("resampleOrigin: anchored lattice for non-dividing steps; 1h at midnight == date_trunc") {
    val df = Seq(
      (java.sql.Timestamp.valueOf("2024-01-01 06:59:59"), 1.0),
      (java.sql.Timestamp.valueOf("2024-01-01 07:00:00"), 2.0),
      (java.sql.Timestamp.valueOf("2024-01-02 13:30:00"), 4.0),
      (java.sql.Timestamp.valueOf("2023-12-31 23:00:00"), 8.0), // pre-origin: floors DOWN
    ).toDF("ts", "value")
    val origin = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
    val got = df.resampleOrigin("7h", origin, "ts", "b")(sum(col("value")).as("s"))
      .collect()
      .map(r => r.getAs[java.time.LocalDateTime](0) -> r.getDouble(1)).toMap
    def t(s: String) = java.time.LocalDateTime.parse(s)
    assert(got === Map(
      t("2024-01-01T00:00") -> 1.0,   // [00:00, 07:00)
      t("2024-01-01T07:00") -> 2.0,   // [07:00, 14:00)
      t("2024-01-02T11:00") -> 4.0,   // 13:30 next day = origin+37.5h → origin + 5·7h = +35h
      t("2023-12-31T17:00") -> 8.0))  // pre-origin bucket = origin − 7h
    // every bucket sits on the origin + k·step lattice
    val us = got.keySet.map(_.toEpochSecond(java.time.ZoneOffset.UTC))
    val o = origin.toEpochSecond(java.time.ZoneOffset.UTC)
    assert(us.forall(x => math.floorMod(x - o, 7L * 3600L) == 0L))
    // '1h' anchored at a midnight == the calendar-unit resample
    val viaOrigin = df.resampleOrigin("1h", origin, "ts", "b")(count(lit(1)).as("n"))
      .collect().map(r => (r.getAs[java.time.LocalDateTime](0), r.getLong(1))).toSet
    val viaTrunc = df.resample("hour", "ts", "b")(count(lit(1)).as("n"))
      .collect().map(r => (r.getAs[java.time.LocalDateTime](0), r.getLong(1))).toSet
    assert(viaOrigin === viaTrunc)
    // calendar units make no sense with an origin — rejected
    assertThrows[IllegalArgumentException](
      df.resampleOrigin("month", origin, "ts", "b")(count(lit(1)).as("n")))
  }

  test("rollingWeighted: uniform weights reproduce rollingMean; weights are real parameters") {
    val df = Seq((1L, 1, 10.0), (1L, 2, 20.0), (1L, 3, 60.0), (1L, 4, 0.0),
      (2L, 1, 5.0)).toDF("k", "o", "v")
    // uniform Seq(1,1,1) over 3 rows ≡ rolling(3).mean() row-for-row
    val wm = df.rollingWeighted(Seq(1, 1, 1), "v", "o", Seq("k"), "w")
      .select("k", "o", "w").collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> Option(r.get(2))).toMap
    val rm = df.rollingMean(3, "v", "o", Seq("k"), as = "m")
      .select("k", "o", "m").collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> Option(r.get(2))).toMap
    assert(wm === rm)
    // a non-uniform vector actually weights: [1,3] over (20,60) at
    // row (1,3)... frame rows (20,60)? frame = rows o=2,3 → (1·20+3·60)/4
    val w2 = df.rollingWeighted(Seq(1, 3), "v", "o", Seq("k"), "w")
      .filter(col("k") === 1 && col("o") === 3).head.getDouble(3)
    assert(w2 === (1 * 20.0 + 3 * 60.0) / 4.0)
    // guard: empty / non-positive weights rejected
    assertThrows[IllegalArgumentException](
      df.rollingWeighted(Seq(1, 0), "v", "o", Seq("k"), "w"))
  }

  test("substringDups / bpeTokenCounts / tokenBudgetSampleBpe ride the df syntax") {
    val docs = graft.core.Tables.documents(spark, TestSpark.sfSmoke)
    val viaSyntax = docs.substringDups("doc_id", "text").count()
    val direct = graft.ops.CurationOps
      .substringDupsOf(docs, "doc_id", "text").count()
    assert(viaSyntax === direct)
    val b1 = docs.bpeTokenCounts("doc_id", "text").count()
    assert(b1 === docs.count())
    val kept = docs.tokenBudgetSampleBpe("source", "doc_id", "text", 5000L)
    assert(kept.count() > 0 && kept.filter(col("cum_tok") > 5000L).count() === 0L)
  }

  test("stats-panel wrappers equal their gated queries and reject bad identifiers") {
    val ev = graft.core.Tables.events(spark, TestSpark.sfSmoke)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).toSeq
    assert(rows(ev.anovaOneway("event_type", "value")) ==
      rows(graft.ops.Registry.queries("agg_anova_oneway")(spark, TestSpark.sfSmoke)))
    assert(rows(ev.kruskalWallis("event_type", "value")) ==
      rows(graft.ops.Registry.queries("agg_kruskal_wallis")(spark, TestSpark.sfSmoke)))
    assert(rows(ev.cohensD("event_type", "value")) ==
      rows(graft.ops.Registry.queries("agg_cohens_d")(spark, TestSpark.sfSmoke)))
    // the fold key is spliced into expr() text — non-identifiers must
    // be rejected before any parse
    intercept[IllegalArgumentException] {
      ev.anovaOneway("event_type; drop", "value")
    }
    // kendall/kpss over an arbitrary prepared series frame
    val ser = ev.groupBy(dayofmonth(col("ts")).cast("long").as("d"))
      .agg(sum((col("value").cast("decimal(18,2)") * 100).cast("long")).as("m"),
        count(lit(1)).as("c"))
    val kt = ser.kendallTau("d", "m", "c").head()
    assert(kt.getLong(1) == kt.getLong(0) * (kt.getLong(0) - 1) / 2)
    val kp = ser.kpss("d", "m").head()
    assert(kp.getLong(0) > 0 && !kp.isNullAt(1))
  }

  test("inference-panel wrappers equal their gated queries") {
    val ev = graft.core.Tables.events(spark, TestSpark.sfSmoke)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).toSeq
    def gated(k: String) =
      rows(graft.ops.Registry.queries(k)(spark, TestSpark.sfSmoke))
    assert(rows(ev.bartlett("event_type", "value")) == gated("agg_bartlett_test"))
    assert(rows(ev.leveneBf("event_type", "value")) == gated("agg_levene_bf"))
    assert(rows(ev.propZTest(weekday(col("ts")) >= 5,
      col("event_type") === "click")) == gated("agg_prop_ztest"))
    // series-frame wrappers over an arbitrary prepared frame
    val daily = ev.groupBy(dayofmonth(col("ts")).cast("long").as("d"))
      .agg(sum((col("value").cast("decimal(18,2)") * 100).cast("long")).as("m"),
        count(lit(1)).as("c"))
    val dw = daily.durbinWatson("d", "m").head()
    assert(dw.getLong(0) > 0 && dw.getDouble(2) > 0.0 && dw.getDouble(2) < 4.0)
    val gf = daily.grangerF("d", "m", "c").head()
    assert(gf.getLong(0) == dw.getLong(0) - 1 && !gf.isNullAt(3))
    val pdR = daily.periodDetect("d", "m", Seq(7L)).head()
    assert(pdR.getLong(0) == 7L && pdR.getLong(1) == 7L)
    intercept[IllegalArgumentException] {
      daily.periodDetect("d", "m", Seq(1L)) // periods must be >= 2
    }
    val cellF = ev.groupBy(dayofmonth(col("ts")).cast("long").as("d"),
        col("event_type"))
      .agg(sum((col("value").cast("decimal(18,2)") * 100).cast("long")).as("m"))
    assert(rows(cellF.friedman("d", "event_type", "m")) == gated("agg_friedman_test"))
    // fold keys are spliced into expr() text — reject non-identifiers
    intercept[IllegalArgumentException] {
      ev.bartlett("event_type; drop", "value")
    }
  }

  test("batch 8-11 wrappers equal their gated queries") {
    val ev = graft.core.Tables.events(spark, TestSpark.sfSmoke)
    val docs = graft.core.Tables.documents(spark, TestSpark.sfSmoke)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).toSeq
    def gated(k: String) =
      rows(graft.ops.Registry.queries(k)(spark, TestSpark.sfSmoke))
    assert(rows(ev.ttest1Samp("event_type", "value", 25000L)) == gated("agg_ttest_1samp"))
    assert(rows(ev.cochranQ("user_id", "event_type", 15L)) == gated("agg_cochran_q"))
    assert(rows(ev.mcnemar("user_id",
      col("event_type") === "click" && dayofmonth(col("ts")) <= 15,
      col("event_type") === "click" && dayofmonth(col("ts")) > 15,
      7L)) == gated("agg_mcnemar"))
    assert(rows(ev.propZTestBh(dayofmonth(col("ts")).cast("bigint"),
      col("event_type") === "click")) == gated("agg_prop_ztest_bh"))
    assert(rows(ev.filter(col("user_id") === 7)
      .select("user_id", "event_id", "value")
      .kalmanLevel("user_id", "event_id", "value")) == gated("ts_kalman_level"))
    // NON-integral key/order (string key, timestamp order) must keep
    // working through the type-generic fold path (round-16 review:
    // routing everything into the long-encoder udaf broke this), and
    // the two paths must agree on the shared integral-typed series
    val viaFold = ev.filter(col("user_id") === 7)
      .select(col("user_id").cast("string").as("k"), col("event_id"), col("value"))
      .kalmanLevel("k", "event_id", "value")
      .collect().map(r => (r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    val viaUdaf = ev.filter(col("user_id") === 7)
      .select("user_id", "event_id", "value")
      .kalmanLevel("user_id", "event_id", "value")
      .collect().map(r => (r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    assert(viaFold.toSeq == viaUdaf.toSeq,
      "string-key fold path diverged from the integral udaf path")
    assert(rows(docs.lexicalDiversity("source", "doc_id", "text")) == gated("text_ttr"))
    assert(rows(docs.bigramPerplexity("doc_id", "text", 20L))
      == gated("text_bigram_perplexity"))
    // diff-frame wrappers
    val diffs = ev.filter(col("event_type").isin("view", "click"))
      .groupBy(dayofmonth(col("ts")).cast("bigint").as("i"))
      .agg((sum(when(col("event_type") === "view",
          (col("value").cast("decimal(18,2)") * 100).cast("long")).otherwise(0L))
        - sum(when(col("event_type") === "click",
          (col("value").cast("decimal(18,2)") * 100).cast("long")).otherwise(0L)))
        .as("dd"))
    assert(rows(diffs.ttestPaired("dd")) == gated("agg_ttest_paired"))
    assert(rows(diffs.wilcoxonSigned("dd")) == gated("agg_wilcoxon_signed"))
    val daily = ev.groupBy(dayofmonth(col("ts")).cast("bigint").as("i"))
      .agg(sum((col("value").cast("decimal(18,2)") * 100).cast("long")).as("yc"))
    assert(rows(daily.esdOutliers("i", "yc", 3)) == gated("ts_esd_outliers"))
    intercept[IllegalArgumentException] { daily.esdOutliers("i", "yc", 0) }
    val emb = graft.core.Tables.embeddings(spark, TestSpark.sfSmoke)
    assert(rows(emb.mmrTopk("vec_id", "embedding", 0L, 12, 5, 0.7, 0.3))
      == gated("sim_mmr_topk"))
  }

  test("ewm span=/com= spellings equal the alpha form; expanding skew/kurt equal the rolling device at the prefix; rolling sem = std/sqrt(n)") {
    val ev = graft.core.Tables.events(spark, TestSpark.sfSmoke)
      .filter(col("user_id") === 7)
      .select("user_id", "event_id", "value")
    def vals(df: org.apache.spark.sql.DataFrame, c: String): Seq[Any] =
      df.orderBy("event_id").select(c).collect().map(r => r.get(0)).toSeq
    // span=5 <=> alpha=2/6; com=3 <=> alpha=0.25 — same code path, same bits
    assert(vals(ev.ewmMeanSpan(5, "value", "event_id", Seq("user_id"), as = "e"), "e")
      == vals(ev.ewmMean(2.0 / 6.0, "value", "event_id", Seq("user_id"), as = "e"), "e"))
    assert(vals(ev.ewmMeanCom(3, "value", "event_id", Seq("user_id"), as = "e"), "e")
      == vals(ev.ewmMean(0.25, "value", "event_id", Seq("user_id"), as = "e"), "e"))
    assert(vals(ev.ewmStdSpan(5, "value", "event_id", Seq("user_id"), as = "e"), "e")
      == vals(ev.ewmStd(2.0 / 6.0, "value", "event_id", Seq("user_id"), as = "e"), "e"))
    assert(vals(ev.ewmStdCom(3, "value", "event_id", Seq("user_id"), as = "e"), "e")
      == vals(ev.ewmStd(0.25, "value", "event_id", Seq("user_id"), as = "e"), "e"))
    intercept[IllegalArgumentException] {
      ev.ewmMeanSpan(0.5, "value", "event_id", Seq("user_id"), as = "e")
    }
    // expanding skew/kurt at prefix length k == rolling(k) last row
    val n = ev.count().toInt
    assert(n >= 6)
    for (k <- Seq(5, n)) {
      val expSkew = vals(ev.expandingSkew("value", "event_id", Seq("user_id"), as = "s"), "s")
      val rollSkew = vals(ev.rollingSkew(k, "value", "event_id", Seq("user_id"), as = "s"), "s")
      assert(expSkew(k - 1) == rollSkew(k - 1), s"skew prefix $k")
      val expKurt = vals(ev.expandingKurt("value", "event_id", Seq("user_id"), as = "s"), "s")
      val rollKurt = vals(ev.rollingKurt(k, "value", "event_id", Seq("user_id"), as = "s"), "s")
      assert(expKurt(k - 1) == rollKurt(k - 1), s"kurt prefix $k")
    }
    // expanding emits NULL below its min_periods
    val es = vals(ev.expandingSkew("value", "event_id", Seq("user_id"), as = "s"), "s")
    assert(es.take(2).forall(_ == null) && es.drop(3).forall(_ != null))
    val ek = vals(ev.expandingKurt("value", "event_id", Seq("user_id"), as = "s"), "s")
    assert(ek.take(3).forall(_ == null) && ek.drop(4).forall(_ != null))
    // sem: the only extra arithmetic after the r4'd std is /sqrt(n) —
    // assert against the unrounded relationship within an r4 quantum
    val sem = vals(ev.rollingSem(5, "value", "event_id", Seq("user_id"), as = "m"), "m")
    val std = vals(ev.rollingStd(5, "value", "event_id", Seq("user_id"), as = "m"), "m")
    sem.zip(std).foreach {
      case (null, null) => ()
      case (a: Double, b: Double) =>
        assert(math.abs(a - b / math.sqrt(5.0)) <= 1e-4, s"$a vs $b")
      case other => fail(s"null mismatch: $other")
    }
  }

  test("query translates the pandas dialect and equals the native filter") {
    val orders = graft.core.Tables.orders(spark, TestSpark.sfSmoke)
    val viaQuery = orders
      .query("o_orderstatus == 'F' and not (o_totalprice < 1000.0) " +
        "and o_orderpriority in ['1-URGENT', '2-HIGH']")
      .orderBy("o_orderkey").collect()
    val native = orders
      .filter(col("o_orderstatus") === "F" && !(col("o_totalprice") < 1000.0) &&
        col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
      .orderBy("o_orderkey").collect()
    assert(viaQuery.nonEmpty && viaQuery.toSeq == native.toSeq)
    // @variable environment references are rejected before any parse
    intercept[IllegalArgumentException] { orders.query("o_custkey == @k") }
    // …but ONLY outside string literals (ADVICE round 14): an '@' inside
    // quoted data — the email shape a PII/curation framework filters on
    // constantly — is a plain comparison, and an 'in [..]'-shaped
    // substring inside a literal is data, not a list to rewrite
    assert(orders.query("o_orderstatus == 'a@b.co'").count() == 0)
    assert(orders.query("o_orderstatus != 'x in [a, b] y'").count() == orders.count())
    // a real list rewrite still fires in the same expression as a
    // literal containing '[':
    val mixed = orders.query(
      "o_orderpriority in ['1-URGENT'] and o_orderstatus != 'keep [this]'")
    assert(mixed.collect().toSeq ==
      orders.filter(col("o_orderpriority") === "1-URGENT" &&
        col("o_orderstatus") =!= "keep [this]").collect().toSeq)
    // a ']' INSIDE a quoted list element must not terminate the list —
    // the closing bracket is the first UNMASKED ']' (ADVICE round 15)
    val bracketElem = orders.query(
      "o_orderstatus in ['F]x', 'O'] and o_totalprice > 0.0")
    assert(bracketElem.collect().toSeq ==
      orders.filter(col("o_orderstatus").isin("F]x", "O") &&
        col("o_totalprice") > 0.0).collect().toSeq)
  }

  test("query predicate pushes down to the parquet scan") {
    val plan = graft.core.Tables.orders(spark, TestSpark.sfSmoke)
      .query("o_totalprice > 100000.0 and o_orderstatus == 'F'")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThan(o_totalprice,100000.0)"), plan)
  }

  test("eval appends columns, allows chained references, rejects non-assignments") {
    val orders = graft.core.Tables.orders(spark, TestSpark.sfSmoke).limit(20)
    val out = orders.eval(
      """price_k = cast(o_totalprice as double) / 1000.0
        |price_2k = price_k * 2.0""".stripMargin)
    assert(out.columns.takeRight(2).toSeq == Seq("price_k", "price_2k"))
    out.select("price_k", "price_2k").collect().foreach { r =>
      assert(r.getDouble(1) == r.getDouble(0) * 2.0)
    }
    intercept[IllegalArgumentException] { orders.eval("o_totalprice + 1") }
    intercept[IllegalArgumentException] { orders.eval("x == 3") }
    // separator characters INSIDE string literals don't split an
    // assignment (ADVICE round 14): the rhs below contains both ';'
    // and a newline as data
    val lit = orders.eval("tag = concat(o_orderstatus, '; ', 'a\nb')")
    assert(lit.columns.last == "tag")
    assert(lit.select("tag").head.getString(0).contains("; a\nb"))
  }

  test("ewm span=1 (alpha=1) degenerates per pandas: mean = series, std = all NULL") {
    val ev = graft.core.Tables.events(spark, TestSpark.sfSmoke)
      .filter(col("user_id") === 7)
      .select("user_id", "event_id", "value")
    def vals(df: org.apache.spark.sql.DataFrame, c: String): Seq[Any] =
      df.orderBy("event_id").select(c).collect().map(r => r.get(0)).toSeq
    // all weight on the current row: the ewm mean IS the (r4'd) series
    val m = vals(ev.ewmMeanSpan(1, "value", "event_id", Seq("user_id"), as = "e"), "e")
    val raw = vals(ev.selectExpr("user_id", "event_id",
      "value", "round(cast(value as double), 4) AS r"), "r")
    assert(m == raw)
    // bias-corrected variance denominator is 0 → pandas NaN → NULL here
    val s = vals(ev.ewmStdSpan(1, "value", "event_id", Seq("user_id"), as = "e"), "e")
    assert(s.nonEmpty && s.forall(_ == null))
    // com=0 is the same degenerate under the other spelling
    assert(vals(ev.ewmMeanCom(0, "value", "event_id", Seq("user_id"), as = "e"), "e") == m)
    assert(vals(ev.ewmStdCom(0, "value", "event_id", Seq("user_id"), as = "e"), "e") == s)
  }
}
