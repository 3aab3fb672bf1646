package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.apache.spark.sql.functions._
import graft.TestSpark._

/** Property-based invariants for the numeric/text kernels: ScalaCheck
  * generators, evaluated in one batched Spark job per property. */
class PropertiesSpec extends AnyFunSuite {
  import spark.implicits._

  private def sample[T](g: Gen[T], n: Int): Seq[T] =
    Iterator.continually(g.sample).flatten.take(n).toSeq

  test("cents scaling is exact for any 2-decimal amount") {
    val cs = sample(Gen.chooseNum(-99999999L, 99999999L), 200)
    val got = cs.map(_ / 100.0).toDF("a")
      .select(graft.functions.Num.cents(col("a")))
      .collect().map(_.getLong(0)).toSeq
    assert(got == cs)
  }

  test("rolling fingerprint matches the scalar model for any ascii string") {
    val ss = sample(Gen.listOf(Gen.choose(32.toChar, 126.toChar)).map(_.mkString)
      .suchThat(_.nonEmpty), 100)
    val got = ss.toDF("s")
      .select(graft.functions.TextFunctions.rollingFingerprint(col("s")))
      .collect().map(_.getLong(0)).toSeq
    val expected = ss.map(_.foldLeft(0L)((a, ch) => (a * 31 + ch.toInt) % 1000000007L))
    assert(got == expected)
  }

  test("shingle count is max(tokens - n + 1, 0) for any token list") {
    for (n <- 1 to 5) {
      val lists = sample(Gen.listOf(Gen.identifier.suchThat(_.nonEmpty)), 50)
      val got = lists.map(_.mkString(" ")).toDF("s")
        .select(size(graft.functions.TextFunctions.wordShingles(col("s"), n)))
        .collect().map(_.getInt(0)).toSeq
      assert(got == lists.map(l => math.max(l.length - n + 1, 0)))
    }
  }

  test("aggregates are partition-invariant (the Num discipline, proven)") {
    // same queries, radically different parallelism -> identical bytes.
    // This is the property that makes results reproducible on a
    // 1000-executor cluster, not just against the oracle. The session
    // runs the bench conf; the two extremes below bracket it: one
    // post-shuffle partition with no broadcasts, and 64 uncoalesced
    // partitions with skew splitting on.
    val names =
      Seq("q1_pricing_summary", "q_correlation", "q_value_stats", "q_ewma",
        // round-3 waves: hash-family dedup, micro-nat entropy, µs-grid
        // event analytics, two-phase cumsum selection, centroid margins
        "q_minhash_pairs", "q_entropy_filter", "q_twap",
        "q_interval_coverage", "q_token_budget", "q_label_margins",
        "q_pmi_collocations",
        // round-4 wave: integer scatter spectrum, sign-signature ANN,
        // BH step-up, EB shrinkage, LP communities, exact group ranks
        "q_pca", "q_bq_topk", "q_fdr", "q_eb_smooth", "q_label_prop",
        "q_group_quantiles", "q_chao1", "q_dedup_report")
    def snapshot(): Seq[Seq[String]] = names.map { n =>
      graft.queries.Registry.queries(n)(spark, sfTiny)
        .collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted
    }
    // proof that a conf really changed the width: the post-shuffle
    // partition count of a probe aggregate, read off its final plan
    def probeWidth(): Int = graft.sources.Tables.lineitem(spark, sfTiny)
      .groupBy("l_orderkey").count().rdd.getNumPartitions
    val narrow = Seq(
      "spark.sql.shuffle.partitions" -> "1",
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> "1",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    // with coalescing off, AQE ignores initialPartitionNum and shuffles
    // at spark.sql.shuffle.partitions, so both are set
    val wide = Seq(
      "spark.sql.shuffle.partitions" -> "64",
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> "64",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.adaptive.skewJoin.enabled" -> "true")
    val default = snapshot()
    for ((name, confs, width) <- Seq(("narrow", narrow, 1), ("wide", wide, 64)))
      withConf(confs: _*) {
        assert(probeWidth() == width, s"$name conf did not run at $width partitions")
        val differ = names.zip(snapshot().zip(default))
          .collect { case (n, (got, want)) if got != want => n }
        assert(differ.isEmpty, s"$name conf changes the results of $differ")
      }
  }

  test("SimHashPoly matches the scalar vote model for any ascii token list") {
    val lists = sample(Gen.listOf(Gen.listOf(Gen.choose(33.toChar, 126.toChar))
      .map(_.mkString).suchThat(_.nonEmpty)), 60)
    val got = lists.map(_.toArray).toDF("toks")
      .select(graft.expressions.SimHashPoly.simhashPoly(spark, col("toks")))
      .collect().map(_.getLong(0)).toSeq
    def model(toks: List[String]): Long = {
      val counts = new Array[Int](31)
      toks.foreach { t =>
        var h = t.foldLeft(0L)((a, c) => (a * 31 + c.toInt) % 2147483648L)
        h = (h * 2654435761L) % 2147483648L
        (0 until 31).foreach(j => if (((h >> j) & 1) == 1) counts(j) += 1 else counts(j) -= 1)
      }
      (0 until 31).foldLeft(0L)((s, j) => if (counts(j) > 0) s | (1L << j) else s)
    }
    assert(got == lists.map(model))
  }

  test("OHLC bars respect high >= max(open, close) >= min(open, close) >= low") {
    graft.queries.Registry.queries("q_ohlc_bars")(spark, sfTiny).collect().foreach { r =>
      val (o, h, l, c) = (r.getAs[Double]("open"), r.getAs[Double]("high"),
        r.getAs[Double]("low"), r.getAs[Double]("close"))
      assert(h >= math.max(o, c) && math.min(o, c) >= l, s"bar violates OHLC order: $r")
      assert(r.getAs[Long]("n_events") >= 1)
    }
  }

  test("interval coverage is bounded by [span, n_events * span] per user") {
    val span = 300000000L
    val events = graft.sources.Tables.events(spark, sfTiny)
      .groupBy("user_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    graft.queries.Registry.queries("q_interval_coverage")(spark, sfTiny)
      .collect().foreach { r =>
        val covered = r.getAs[Long]("covered_us")
        val n = events(r.getAs[Long]("user_id"))
        assert(covered >= span && covered <= n * span,
          s"coverage $covered outside [$span, ${n * span}] for $n events")
      }
  }

  test("zValue2 matches a reference bit-interleave for any 16-bit pair") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    def ref(x: Long, y: Long): Long =
      (0 until 16).map(i => (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))).reduce(_ | _)
    val rnd = new scala.util.Random(7)
    val cases = Seq.fill(200)((rnd.nextInt(65536).toLong, rnd.nextInt(65536).toLong))
    val got = cases.toDF("x", "y")
      .select(graft.functions.LayoutFunctions.zValue2(col("x"), col("y")).as("z"))
      .collect().map(_.getLong(0)).toSeq
    assert(got == cases.map { case (x, y) => ref(x, y) })
    // locality sanity: z of close points shares high bits (prefix property)
    assert(ref(5, 5) < ref(60000, 60000))
  }

  test("null inputs propagate as nulls through the custom expressions") {
    graft.expressions.GraftExtensions.registerAll(spark)
    val r = spark.sql(
      """SELECT simhash64(CAST(NULL AS ARRAY<STRING>)) AS a,
        |       dot_product(CAST(NULL AS ARRAY<DOUBLE>), array(1.0D)) AS b,
        |       shingle_hash64(CAST(NULL AS ARRAY<STRING>), 2) AS c""".stripMargin)
      .collect()(0)
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2))
  }
}
