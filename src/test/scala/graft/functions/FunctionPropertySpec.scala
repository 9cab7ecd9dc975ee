package graft.functions

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.SparkSpec

/** ScalaCheck fuzzing of the native functions against straight-line
  * Scala reference implementations on random inputs — shapes the
  * real-corpus specs can't produce (degenerate tokens, extreme scores,
  * duplicate payloads).
  */
class FunctionPropertySpec extends SparkSpec {

  private def check(prop: Prop, trials: Int = 8): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(trials), prop)
    assert(res.passed, res.status.toString)
  }

  private val token: Gen[String] =
    Gen.oneOf(Gen.alphaNumStr.map(_.take(8)), Gen.const(""), Gen.const("ñé"))

  test("min_shingle_md5 equals a straight-line reference on random tokens") {
    import spark.implicits._
    check(Prop.forAll(Gen.nonEmptyListOf(token), Gen.choose(1, 4)) { (toks, n) =>
      val expected = {
        val shingles =
          if (toks.length < n) Seq(toks.mkString(" "))
          else toks.sliding(n).map(_.mkString(" ")).toSeq
        shingles.map(s =>
          org.apache.commons.codec.digest.DigestUtils.md5Hex(
            s.getBytes("UTF-8"))).min
      }
      val got = Seq(Tuple1(toks)).toDF("toks")
        .select(MinShingleMd5.min_shingle_md5(col("toks"), n))
        .first().getString(0)
      got == expected
    })
  }

  test("shingle_set equals a straight-line reference on random tokens") {
    import spark.implicits._
    check(Prop.forAll(Gen.nonEmptyListOf(token), Gen.choose(1, 4)) { (toks, n) =>
      val expected =
        if (toks.length < n) Seq(toks.mkString(" "))
        else toks.sliding(n).map(_.mkString(" ")).toSeq.distinct
      val got = Seq(Tuple1(toks)).toDF("toks")
        .select(ShingleSet.shingle_set(col("toks"), n))
        .first().getSeq[String](0)
      got == expected
    })
  }

  test("min_hash_windows equals a straight-line reference on random tokens") {
    import spark.implicits._
    check(Prop.forAll(Gen.nonEmptyListOf(token), Gen.choose(1, 3), Gen.choose(1, 4)) {
      (toks, salts, windows) =>
        val expected = (0 until salts).flatMap { s =>
          val digests = toks.map(t =>
            org.apache.commons.codec.digest.DigestUtils.md5Hex(
              (s"$s|" + t).getBytes("UTF-8")))
          (0 until windows).map(w => digests.map(_.substring(w * 8, w * 8 + 8)).min)
        }
        val got = Seq(Tuple1(toks)).toDF("toks")
          .select(MinHashWindows.min_hash_windows(col("toks"), salts, windows))
          .first().getSeq[String](0)
        got == expected
    })
  }

  test("min_hash_windows matches the interpreted HOF formulation it replaced") {
    import spark.implicits._
    check(Prop.forAll(Gen.nonEmptyListOf(token)) { toks =>
      val df = Seq(Tuple1(toks)).toDF("toks")
      val hof = (0 until 8).map { i =>
        val salt = i / 4
        val off = (i % 4) * 8 + 1
        array_min(transform(
          transform(col("toks"), t => md5(concat(lit(s"$salt|"), t))),
          h => substring(h, off, 8)))
      }
      val expected = df.select(array(hof: _*)).first().getSeq[String](0)
      val got = df.select(MinHashWindows.min_hash_windows(col("toks"), 2, 4))
        .first().getSeq[String](0)
      got == expected
    })
  }

  test("min_hash_windows and simhash16 edge cases: empty array, null tokens") {
    import spark.implicits._
    val empty = Seq(Tuple1(Seq.empty[String])).toDF("toks")
    assert(empty.select(MinHashWindows.min_hash_windows(col("toks"), 2, 4))
      .first().isNullAt(0), "empty array must yield null signature")
    assert(empty.select(SimHash16.simhash16(col("toks"))).first().getLong(0) == 0xFFFFL,
      "empty array: every majority test is 0 >= 0, all 16 bits set")
    // null tokens are skipped (array_min / filter-HOF semantics)
    val withNulls = Seq(Tuple1(Seq[String](null, "a", null))).toDF("toks")
    val sigMixed = withNulls
      .select(MinHashWindows.min_hash_windows(col("toks"), 2, 4)).first().getSeq[String](0)
    val sigClean = Seq(Tuple1(Seq("a"))).toDF("toks")
      .select(MinHashWindows.min_hash_windows(col("toks"), 2, 4)).first().getSeq[String](0)
    assert(sigMixed == sigClean)
    val allNull = Seq(Tuple1(Seq[String](null, null))).toDF("toks")
    assert(allNull.select(MinHashWindows.min_hash_windows(col("toks"), 2, 4))
      .first().getSeq[String](0).forall(_ == null),
      "all-null tokens: every window min stays null")
  }

  test("simhash16 matches the interpreted HOF formulation it replaced") {
    import spark.implicits._
    check(Prop.forAll(Gen.nonEmptyListOf(token)) { toks =>
      val df = Seq(Tuple1(toks)).toDF("toks")
      val hexHigh = Seq("8", "9", "a", "b", "c", "d", "e", "f").map(lit)
      def ones(j: Int) = size(filter(
        transform(col("toks"), t => md5(t)),
        h => substring(h, j + 1, 1).isin(hexHigh: _*)))
      val hof = (0 until 16).map { j =>
        when(ones(j) * 2 >= size(col("toks")), lit(1L << j)).otherwise(0L)
      }.reduce(_ + _)
      val expected = df.select(hof.cast("bigint")).first().getLong(0)
      val got = df.select(SimHash16.simhash16(col("toks"))).first().getLong(0)
      got == expected
    })
  }

  test("dot_product_long matches the HOF formulation it replaced") {
    import spark.implicits._
    val elem = Gen.choose(-1000000L, 1000000L)
    val samePair = Gen.choose(0, 8).flatMap(n =>
      Gen.zip(Gen.listOfN(n, elem), Gen.listOfN(n, elem)))
    check(Prop.forAll(samePair) { case (a, b) =>
      val df = Seq((a, b)).toDF("a", "b")
      val hof = aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
        lit(0L), (acc, x) => acc + x)
      val expected = df.select(hof).first()
      val got = df.select(
        DotProductLong.dot_product_long(col("a"), col("b"))).first()
      got.isNullAt(0) == expected.isNullAt(0) &&
        (got.isNullAt(0) || got.getLong(0) == expected.getLong(0))
    })
    // length mismatch → null on BOTH forms (zip_with pads the shorter
    // side with null, nulling the whole sum)
    val mismatched = Seq((Seq(1L, 2L), Seq(3L))).toDF("a", "b")
    assert(mismatched.select(
      DotProductLong.dot_product_long(col("a"), col("b"))).first().isNullAt(0))
    assert(mismatched.select(
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
        lit(0L), (acc, x) => acc + x)).first().isNullAt(0))
  }

  test("topk_by equals a straight-line reference on random scored rows") {
    import spark.implicits._
    val row = for {
      g <- Gen.choose(0, 3); s <- Gen.choose(-1e6, 1e6); p <- Gen.choose(0L, 50L)
    } yield (g, s, p)
    check(Prop.forAll(Gen.nonEmptyListOf(row), Gen.choose(1, 4)) { (rows, k) =>
      val expected = rows.groupBy(_._1).map { case (g, rs) =>
        g -> rs.map(r => (r._2, r._3))
          .sortWith { (a, b) =>
            val c = java.lang.Double.compare(b._1, a._1)
            if (c != 0) c < 0 else a._2 < b._2
          }.take(k).map(_._2).toList
      }
      val got = rows.toDF("g", "s", "p").repartition(3)
        .groupBy(col("g")).agg(TopKByLong.topk_by(col("s"), col("p"), k).as("top"))
        .collect().map(r => r.getInt(0) -> r.getSeq[Long](1).toList).toMap
      got == expected
    }, trials = 6)
  }
}
