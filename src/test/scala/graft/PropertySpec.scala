package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.apache.spark.sql.functions._
import graft.etl.{Schemas, Transform, Warehouse}
import graft.operators.WeatherFixture.{DailyArrays, RawCity}

/** Property-based specs (SURVEY.md §5): generated inputs, one Spark pass
  * per property (per-sample Spark jobs would be prohibitively slow, so
  * each property materializes a generated batch and asserts over all
  * rows).
  */
class PropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def sample[A](g: Gen[A], n: Int, seed: Long): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(seed + i)))

  test("categorization totality: every finite weather code maps to exactly one band") {
    val codes = sample(Gen.chooseNum(-500.0, 500.0), 300, seed = 7L) ++
      Seq(2.999, 3.0, 49.999, 50.0, 69.999, 70.0, 79.999, 80.0) // band edges
    def reference(c: Double): String =
      if (c < 3) "Clear" else if (c < 50) "Cloudy"
      else if (c < 70) "Rain" else if (c < 80) "Snow" else "Severe"
    val out = Transform.addDerivedMetrics(
        codes.toDF("weather_code")
          .withColumn("temp_max", lit(1.0)).withColumn("temp_min", lit(0.0))
          .withColumn("precipitation", lit(0.0)),
        stamp = false)
      .select($"weather_code", $"weather_category").as[(Double, String)].collect()
    assert(out.length == codes.length)
    out.foreach { case (c, cat) => assert(cat == reference(c), s"code $c") }
  }

  test("flatten cardinality: rows out = sum of daily array lengths, any shape") {
    val cityGen = for {
      n <- Gen.chooseNum(0, 9)
      name <- Gen.identifier.map(_.take(8))
      base <- Gen.chooseNum(-20.0, 40.0)
    } yield RawCity(name, 1.0, 2.0, "UTC", "2024-01-01T00:00:00",
      DailyArrays(
        time = (0 until n).map(d => f"2024-02-$d%02d"),
        temperature_2m_max = (0 until n).map(d => base + d),
        temperature_2m_min = (0 until n).map(d => base + d - 5),
        precipitation_sum = (0 until n).map(d => if (d % 3 == 0) None else Some(d * 0.1)),
        windspeed_10m_max = (0 until n).map(_ * 1.5),
        weathercode = (0 until n).map(d => (d * 13 % 100).toDouble)))
    val cities = sample(cityGen, 40, seed = 11L)
    val flat = Transform.flattenDaily(spark.createDataset(cities).toDF())
    assert(flat.count() == cities.map(_.daily.time.size).sum)
  }

  test("upsert idempotency: applying the same ds twice equals applying it once") {
    val stagingGen = for {
      city <- Gen.oneOf("A", "B", "C", "D", "E")
      tmax <- Gen.chooseNum(-10.0, 40.0)
      code <- Gen.chooseNum(0, 99)
    } yield (city, "2024-05-01", tmax, tmax - 6.0, 0.3, 12.0, code.toDouble)
    // one staging row per city key (natural-key uniqueness precondition)
    val rows = sample(stagingGen, 30, seed = 23L)
      .groupBy(_._1).map(_._2.head).toSeq
    val staging = rows.toDF("city_name", "date", "temp_max", "temp_min",
      "precipitation", "wind_speed_max", "weather_code")
    val wh = Warehouse(spark, TestSpark.scratch("prop-upsert"))
    def factKeyState() = wh.read("fact_daily_weather")
      .select($"city_name", $"date".cast("string"), $"temp_max", $"weather_code")
      .as[(String, String, Double, Int)].collect().toSet
    wh.upsertFacts(staging, "2024-05-01")
    val once = factKeyState()
    wh.upsertFacts(staging, "2024-05-01")
    assert(factKeyState() == once)
    assert(once.size == rows.size)
    wh.assertUniqueKeys()
  }

  test("seed dimension is a function: one category per code, stable under re-seed") {
    val wh = Warehouse(spark, TestSpark.scratch("prop-seed"))
    wh.seedWeatherCodes(); wh.seedWeatherCodes(); wh.seedWeatherCodes()
    val dim = wh.read("dim_weather_code")
    assert(dim.count() == Schemas.weatherCodeSeed.size)
    assert(dim.select("weather_code").distinct().count() == Schemas.weatherCodeSeed.size)
  }

  test("jaccardPairs matches a model of q20's rare-shingle Jaccard on random corpora") {
    // random docs over a small vocabulary (forces shared shingles and
    // dup rates); shingle df here reaches 7, so a cap of 5 drops some
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")
    val docGen = for {
      n <- Gen.chooseNum(3, 24)
      ws <- Gen.listOfN(n, Gen.oneOf(vocab))
    } yield ws.mkString(" ")
    val texts = sample(docGen, 120, seed = 31L)
    val docs = texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // model of q20Sql: distinct word trigrams per doc of >= 3 words;
    // intersections count only shingles in <= dfCap docs, denominators
    // use the full distinct-set sizes; the threshold is inclusive
    val dfCap = 5
    val sets = texts.zipWithIndex.collect {
      case (t, i) if t.split(" ").length >= 3 =>
        i.toLong -> t.split(" ").sliding(3).map(_.mkString(" ")).toSet
    }.toMap
    val df = sets.values.toSeq.flatten.groupBy(identity).view.mapValues(_.size).toMap
    val rare = sets.map { case (d, sh) => d -> sh.filter(df(_) <= dfCap) }
    val ids = sets.keys.toSeq.sorted
    val jaccard = for {
      a <- ids; b <- ids if a < b
      inter = (rare(a) & rare(b)).size if inter > 0
    } yield (a, b, inter.toDouble / (sets(a).size + sets(b).size - inter))
    for (t <- Seq(0.14, 0.28, 0.3, 0.6, 0.9)) {
      val got = graft.operators.DedupOps.jaccardPairs(docs, t, dfCap = dfCap)
        .as[(Long, Long, Double)].collect().toSeq
      val want = jaccard.filter(_._3 >= t)
      assert(got == want, s"threshold $t")
      assert(want.nonEmpty, s"threshold $t selects no pair")
    }
    // the threshold is inclusive: cut exactly at an attained value
    val tie = jaccard.map(_._3).min
    val atTie = graft.operators.DedupOps.jaccardPairs(docs, tie, dfCap = dfCap)
      .as[(Long, Long, Double)].collect().toSeq
    assert(atTie == jaccard && atTie.exists(_._3 == tie))
  }

  test("asofJoin matches a brute-force model on random event streams") {
    val rowGen = for {
      key <- Gen.chooseNum(0, 5)
      ts <- Gen.chooseNum(0, 40)
    } yield (key.toLong, ts.toLong)
    val left = sample(rowGen, 80, seed = 41L).zipWithIndex
      .map { case ((k, t), i) => (i.toLong, k, new java.sql.Timestamp(t * 1000)) }
    val right = sample(rowGen, 50, seed = 43L).zipWithIndex
      .map { case ((k, t), i) => (1000L + i, k, new java.sql.Timestamp(t * 1000)) }
    val out = graft.operators.TemporalOps.asofJoin(
        left.toDF("event_id", "user_id", "ts"),
        right.toDF("rid", "user_id", "ts"),
        "user_id", "ts", "ts", Map("rid" -> "match_id"))
      .select($"event_id", $"match_id").as[(Long, Option[Long])].collect().toMap
    left.foreach { case (id, k, ts) =>
      // model: latest right at-or-before; ties broken by max struct value
      // (single carried column → max rid)
      val matches = right.filter(r => r._2 == k && !r._3.after(ts))
      val want =
        if (matches.isEmpty) None
        else {
          val best = matches.map(_._3).max((a: java.sql.Timestamp, b: java.sql.Timestamp) => a.compareTo(b))
          Some(matches.filter(_._3 == best).map(_._1).max)
        }
      assert(out(id) == want, s"left $id key $k ts $ts")
    }
  }

  test("cents recovers the integer cent count of any 2-decimal money value") {
    // random cent counts (incl. negatives and large magnitudes) rendered
    // as doubles: the round(x*100) fold must invert exactly — this is
    // the primitive every money aggregate stands on
    val centGen = Gen.oneOf(
      Gen.chooseNum(-100000000L, 100000000L),
      Gen.chooseNum(-10000000000000L, 10000000000000L))
    val centsIn = sample(centGen, 500, seed = 41L) ++
      Seq(0L, 1L, -1L, 5L, -5L, 999999999999999L)
    val out = centsIn.map(c => (c, c / 100.0)).toDF("want", "money")
      .select($"want", graft.operators.Relational.cents($"money").as("got"))
      .as[(Long, Long)].collect()
    out.foreach { case (want, got) => assert(got == want, s"cents($want/100)") }
  }

  test("WordTrigrams equals the naive sliding construction on random corpora") {
    val tokGen = Gen.nonEmptyListOf(Gen.oneOf(
      Gen.alphaNumStr.suchThat(_.nonEmpty), Gen.oneOf("it's", "a", "x.y", "(z)", "42!")))
      .map(_.take(12))
    val texts = sample(tokGen, 300, seed = 43L).map(_.mkString(" "))
    val out = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
      .select($"id", graft.plans.TextExpressions.wordTrigrams($"text").as("tri"))
      .as[(Long, Seq[String])].collect().toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      val toks = t.split(" ", -1).toSeq
      val want = if (toks.size < 3) Seq.empty
        else toks.sliding(3).map(_.mkString(" ")).toSeq
      assert(out(i.toLong) == want, s"text '$t'")
    }
  }

  // shared random-corpus generator for the text-operator properties:
  // small vocab (real collisions), 1..12 words per doc
  private def randomCorpus(nDocs: Int, seed: Long): Seq[(Long, String)] = {
    val docGen = for {
      n <- Gen.chooseNum(1, 12)
      ws <- Gen.listOfN(n, Gen.chooseNum(0, 9).map(i => s"w$i"))
    } yield ws.mkString(" ")
    sample(docGen, nDocs, seed).zipWithIndex.map { case (t, i) => (i.toLong, t) }
  }

  private def corpusDir(name: String, docs: Seq[(Long, String)]): String = {
    val dir = TestSpark.scratch(name)
    docs.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    dir
  }

  private def bitlen1(x: Long): Long = 63L - java.lang.Long.numberOfLeadingZeros(x)

  test("tf-idf matches the naive in-memory model on a random corpus") {
    val docs = randomCorpus(40, seed = 61L)
    val dir = corpusDir("prop-tfidf", docs)
    val n = docs.size.toLong
    val tokd = docs.map { case (id, t) => id -> t.split(" ", -1).toSeq }.toMap
    val dfreq = tokd.values.flatMap(_.distinct).groupBy(identity).map { case (t, o) => t -> o.size.toLong }
    val want = tokd.flatMap { case (id, toks) =>
      val tf = toks.groupBy(identity).map { case (t, o) => t -> o.size.toLong }
      tf.toSeq.map { case (t, c) =>
        val bits = bitlen1(n / dfreq(t))
        (id, t, c, dfreq(t), bits, c * bits)
      }.sortBy { case (_, t, _, _, _, s) => (-s, t) }
        .take(3).zipWithIndex
        .map { case ((i2, t, c, d, b, s), r) => (i2, (r + 1).toLong, t, c, d, b, s) }
    }.toSet
    val got = operators.TextOps.q70TfIdf(spark, dir)
      .select($"doc_id", $"term_rank", $"term", $"tf", $"df", $"idf_bits", $"score")
      .as[(Long, Long, String, Long, Long, Long, Long)].collect().toSet
    assert(got == want)
  }

  test("bigram surprisal matches the naive conditional-count model") {
    val docs = randomCorpus(40, seed = 67L)
    val dir = corpusDir("prop-bigram", docs)
    val bgs = docs.flatMap { case (id, t) =>
      val w = t.split(" ", -1).toSeq
      w.zip(w.drop(1)).map(b => (id, b))
    }
    val c2 = bgs.groupBy(_._2).map { case (b, o) => b -> o.size.toLong }
    val c1 = bgs.groupBy(_._2._1).map { case (w1, o) => w1 -> o.size.toLong }
    val want = bgs.groupBy(_._1).map { case (id, rows) =>
      val bits = rows.map { case (_, b) => bitlen1(c1(b._1) / c2(b)) }
      (id, rows.size.toLong, bits.sum, bits.sum.toDouble / rows.size)
    }.toSet
    val got = operators.TextOps.q74BigramSurprisal(spark, dir)
      .select($"doc_id", $"n_bigrams", $"total_bits", $"avg_bits")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(got == want)
  }

  test("vocab coverage is a monotone running share ending at exactly 1.0") {
    val docs = randomCorpus(40, seed = 71L)
    val dir = corpusDir("prop-vocab", docs)
    val out = operators.TextOps.q73Vocab(spark, dir)
      .select($"vocab_rank", $"term", $"cnt", $"cum_cnt", $"cum_share")
      .as[(Long, String, Long, Long, Double)].collect().toList
    val allToks = docs.flatMap(_._2.split(" ", -1))
    assert(out.map(_._1) == (1L to out.size).toList)
    // counts non-increasing with rank; ties broken by term asc
    out.sliding(2).foreach {
      case List(a, b) =>
        assert(a._3 > b._3 || (a._3 == b._3 && a._2 < b._2))
      case _ => ()
    }
    assert(out.map(_._3).sum == allToks.size.toLong)
    assert(out.map(_._4) == out.map(_._3).scanLeft(0L)(_ + _).tail)
    assert(out.last._5 == 1.0)
  }

  test("global shuffle is a bijection with contiguous positions for arbitrary ids") {
    val ids = sample(Gen.chooseNum(0L, 1000000L), 200, seed = 73L).distinct
    val dir = TestSpark.scratch("prop-shuffle")
    ids.map(i => (i, s"doc $i")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = operators.CurationOps.q72GlobalShuffle(spark, dir)
      .select($"doc_id", $"shard", $"pos").as[(Long, Long, Long)].collect().toList
    assert(out.map(_._1).sorted == ids.sorted.toList)
    out.groupBy(_._2).foreach { case (s, rs) =>
      assert(s >= 0 && s < 8)
      assert(rs.map(_._3).sorted == (1L to rs.size).toList)
    }
  }

  test("interval merge matches a brute-force sweep model on random interval sets") {
    val rowGen = for {
      user <- Gen.chooseNum(1L, 5L)
      startSec <- Gen.chooseNum(0L, 5000L)
      // value scales to a 60..~3060s interval via e = s + round(v*600) + 60
      v <- Gen.chooseNum(0.0, 5.0)
    } yield (user, startSec, v)
    val rows = sample(rowGen, 300, seed = 53L).zipWithIndex.map {
      case ((u, s, v), i) => (i.toLong, u, s * 1000000000L, "e", v)
    }
    val dir = TestSpark.scratch("prop-intmerge")
    rows.toDF("event_id", "user_id", "ts", "event_type", "value")
      .withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = operators.TemporalOps.q98IntervalMerge(spark, dir)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    // model: per user, sweep sorted intervals merging on running max end
    val model = rows.groupBy(_._2).view.mapValues { g =>
      val iv = g.map(r => (r._3 / 1000000000L, r._3 / 1000000000L + math.round(r._5 * 600) + 60, r._1))
        .sortBy(r => (r._1, r._3))
      var spans = List.empty[(Long, Long)] // (start, maxEnd) islands, reversed
      iv.foreach { case (s, e, _) =>
        spans match {
          case (s0, e0) :: rest if s <= e0 => spans = (s0, math.max(e0, e)) :: rest
          case _ => spans = (s, e) :: spans
        }
      }
      (spans.size.toLong, iv.size.toLong, spans.map(x => x._2 - x._1).sum)
    }.toMap
    assert(got == model)
  }

  test("KS drift stays in [0,1] and is 0 for any type whose halves are identical") {
    // deterministic construction: every type gets the SAME value multiset
    // in both halves for even types; odd types get disjoint ranges
    val rows = (0 until 6).flatMap { ty =>
      val vals = sample(Gen.chooseNum(0.0, 100.0), 30, seed = 61L + ty)
      if (ty % 2 == 0)
        vals.zipWithIndex.flatMap { case (v, i) =>
          Seq((s"t$ty", 10L + i, v), (s"t$ty", 5000L + i, v)) }
      else
        vals.zipWithIndex.flatMap { case (v, i) =>
          Seq((s"t$ty", 10L + i, v), (s"t$ty", 5000L + i, v + 1000.0)) }
    }
    val dir = TestSpark.scratch("prop-ks")
    rows.zipWithIndex.map { case ((ty, sec, v), i) =>
      (i.toLong, 1L, sec * 1000000000L, ty, v) }
      .toDF("event_id", "user_id", "ts", "event_type", "value")
      .withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = operators.Profiling.q105KsDrift(spark, dir)
      .as[(String, Long, Long, Long, Double)].collect()
    assert(out.length == 6)
    out.foreach { case (ty, n, m, num, ks) =>
      assert(ks >= 0.0 && ks <= 1.0, ty)
      assert(num <= n * m)
      if (ty.stripPrefix("t").toInt % 2 == 0) assert(ks == 0.0, ty)
      else assert(ks == 1.0, ty) // disjoint ranges separate completely
    }
  }

  test("k-means final assignment is the argmin of the published centroids") {
    val vecGen = Gen.listOfN(8, Gen.chooseNum(-1.0, 1.0))
    val vecs = sample(vecGen, 60, seed = 67L).zipWithIndex.map {
      case (v, i) => (i.toLong, v.map(_.toFloat), i % 3)
    }
    val dir = TestSpark.scratch("prop-kmeans")
    vecs.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = operators.SimilarityOps.q99Kmeans(spark, dir).collect()
    // invariants: every vector assigned exactly once, cluster ids are
    // the seed ids, sizes sum to the corpus
    assert(out.map(_.getAs[Long]("n_members")).sum == vecs.size.toLong)
    assert(out.map(_.getAs[Long]("cid")).toSet.subsetOf((0L until 4L).toSet))
    out.foreach(r => assert(r.getAs[Double]("centroid_norm") >= 0.0))
  }
}
