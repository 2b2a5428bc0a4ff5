package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{BigramModel, GraftFunctions, TextHashKernels}
import graft.operators.{Similarity, VectorOps}

class FunctionsSpec extends AnyFunSuite {

  test("cosine_sim native expression is bit-identical to the HOF fold") {
    val s = TestSpark.spark
    GraftFunctions.register(s)
    import s.implicits._
    val df = Seq(
      (Array(1.0f, 2.0f, 3.0f), Array(-1.0f, 0.5f, 2.0f)),
      (Array(0.1f, 0.0f, -0.3f), Array(0.1f, 0.0f, -0.3f)),
      (Array(5.0f, -5.0f, 0.25f), Array(1.0f, 1.0f, 1.0f)))
      .toDF("a", "b")
    val rows = df.select(
      VectorOps.cosine("a", "b").as("native"),
      VectorOps.cosineHof("a", "b").as("hof")).collect()
    rows.foreach { r =>
      // exact bit equality, not tolerance — the oracle gate hash-compares
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("simhash60 / minhash_min / roll_hash match their HOF formulations") {
    val s = TestSpark.spark
    GraftFunctions.register(s)
    import s.implicits._
    val docs = Seq(
      "the quick brown fox jumps over the lazy dog",
      "a b c d e f g h i j k l m n o p",
      "sphinx of black quartz judge my vow",
      "x").toDF("norm")
      .selectExpr("norm", "filter(split(norm, ' '), t -> t <> '') AS toks",
        """transform(sequence(1, greatest(size(toks) - 2, 1)),
          |  i -> array_join(slice(toks, i, 3), ' ')) AS shingles""".stripMargin)

    val got = docs.selectExpr(
      "simhash60(toks) AS sh_native",
      """aggregate(transform(toks, t -> substring(md5(t), 1, 15)),
        |  transform(sequence(0, 59), j -> 0),
        |  (acc, h) -> zip_with(acc, transform(sequence(0, 59), j ->
        |    IF((shiftright(locate(substring(h, 15 - (j div 4), 1),
        |      '0123456789abcdef') - 1, j % 4) & 1) = 1, 1, -1)),
        |    (a, b) -> a + b))""".stripMargin + " AS bitsums",
      "minhash_min(shingles, '7') AS mh_native",
      "array_min(transform(shingles, x -> md5(concat('7|', x)))) AS mh_hof",
      "element_at(minhash_sig(shingles, 12), 8) AS mh_sig7", // seed 7 = element 8
      "roll_hash(norm) AS rh_native",
      """aggregate(filter(split(norm, ''), c -> c <> ''), CAST(0 AS BIGINT),
        |  (acc, c) -> (acc * 31 + ascii(c)) % 1000000007)""".stripMargin
        + " AS rh_hof")
      .selectExpr("sh_native",
        """aggregate(transform(sequence(0, 59),
          |  j -> IF(element_at(bitsums, j + 1) > 0,
          |    shiftleft(CAST(1 AS BIGINT), j), CAST(0 AS BIGINT))),
          |  CAST(0 AS BIGINT), (a, b) -> a + b)""".stripMargin + " AS sh_hof",
        "mh_native", "mh_hof", "mh_sig7", "rh_native", "rh_hof")
      .collect()
    got.foreach { r =>
      assert(r.getLong(0) === r.getLong(1), "simhash")
      assert(r.getString(2) === r.getString(3), "minhash")
      assert(r.getString(2) === r.getString(4), "minhash_sig fused")
      assert(r.getLong(5) === r.getLong(6), "rollhash")
    }
  }

  test("minhash_band_keys equals md5 of concatenated minhash_min coordinates") {
    val s = TestSpark.spark
    GraftFunctions.register(s)
    import s.implicits._
    val rows = Seq("the quick brown fox jumps over the lazy dog",
        "a b c d e f g")
      .toDF("norm")
      .selectExpr("filter(split(norm, ' '), t -> t <> '') AS toks")
      .selectExpr("word_shingles(toks) AS shingles")
      .selectExpr(
        "minhash_band_keys(shingles, 12, 4) AS native",
        """array(
          |  md5(concat(minhash_min(shingles,'0'), minhash_min(shingles,'1'), minhash_min(shingles,'2'))),
          |  md5(concat(minhash_min(shingles,'3'), minhash_min(shingles,'4'), minhash_min(shingles,'5'))),
          |  md5(concat(minhash_min(shingles,'6'), minhash_min(shingles,'7'), minhash_min(shingles,'8'))),
          |  md5(concat(minhash_min(shingles,'9'), minhash_min(shingles,'10'), minhash_min(shingles,'11')))
          |) AS reference""".stripMargin)
      .collect()
    rows.foreach(r =>
      assert(r.getSeq[String](0) === r.getSeq[String](1)))
  }

  test("word_shingles matches the HOF formulation incl. degenerate sizes") {
    val s = TestSpark.spark
    GraftFunctions.register(s)
    import s.implicits._
    val got = Seq("", "one", "one two", "a b c", "a b c d e")
      .toDF("norm")
      .selectExpr("filter(split(norm, ' '), t -> t <> '') AS toks")
      .selectExpr(
        "word_shingles(toks) AS native",
        """transform(sequence(1, greatest(size(toks) - 2, 1)),
          |  i -> array_join(slice(toks, i, 3), ' ')) AS hof""".stripMargin)
      .collect()
    got.foreach(r => assert(r.getSeq[String](0) === r.getSeq[String](1)))
  }

  test("word_shingles width param matches the HOF formulation for w in 2..8") {
    val s = TestSpark.spark
    GraftFunctions.register(s)
    import s.implicits._
    for (w <- 2 to 8) {
      val got = Seq("", "one", "one two", "a b c d e",
          "the quick brown fox jumps over the lazy dog today")
        .toDF("norm")
        .selectExpr("filter(split(norm, ' '), t -> t <> '') AS toks")
        .selectExpr(
          s"word_shingles(toks, $w) AS native",
          s"""transform(sequence(1, greatest(size(toks) - ${w - 1}, 1)),
             |  i -> array_join(slice(toks, i, $w), ' ')) AS hof""".stripMargin)
        .collect()
      got.foreach(r => assert(r.getSeq[String](0) === r.getSeq[String](1),
        s"width $w"))
    }
  }

  test("char_shingles matches the HOF formulation for w in 2..4, incl. multibyte") {
    val s = TestSpark.spark
    GraftFunctions.register(s)
    import s.implicits._
    for (w <- 2 to 4) {
      val got = Seq("", "a", "ab", "abc de f", "hello world",
          "héllo wörld", "中文字符测试", "mixé中en文")
        .toDF("norm")
        .selectExpr(
          s"char_shingles(norm, $w) AS native",
          s"""transform(sequence(1, greatest(char_length(norm) - ${w - 1}, 1)),
             |  i -> substring(norm, i, $w)) AS hof""".stripMargin)
        .collect()
      got.foreach(r => assert(r.getSeq[String](0) === r.getSeq[String](1),
        s"width $w"))
    }
  }

  test("rare_bigram_stats byte-walk equals a charShingles-based count, " +
      "incl. multibyte and the ASCII bitset/spill-path split") {
    // the kernel's hot path is an ASCII×ASCII bitset probe and its spill
    // path decodes multibyte bigrams to Strings; both must agree exactly
    // with the definitional spelling (count rare charShingles(norm, 2)
    // under count·den < total) on text that exercises every branch
    import org.apache.spark.unsafe.types.UTF8String
    val docs = Seq("", "a", "é", "中", "hello world", "héllo wörld",
      "中文字符测试", "mixé中en文abc", "aa bb aa bb zz", "the qzx vkqj end")
    // train the model exactly like t8: global bigram counts over all docs
    val counts = new java.util.HashMap[String, java.lang.Long]()
    var total = 0L
    def bigrams(d: String): Seq[String] = {
      val arr = TextHashKernels.charShingles(UTF8String.fromString(d), 2)
      (0 until arr.numElements()).map(i => arr.getUTF8String(i).toString)
    }
    docs.flatMap(bigrams).foreach { b =>
      counts.merge(b, 1L, (x, y) => x + y); total += 1
    }
    for (den <- Seq(2, 8, 5832)) {
      val model = new BigramModel(counts, total, den)
      docs.foreach { d =>
        val row = TextHashKernels.rareBigramStats(UTF8String.fromString(d), model)
        val bs = bigrams(d)
        val expRare = bs.count { b =>
          val c = counts.get(b); (if (c == null) 0L else c.longValue()) * den < total
        }
        assert(row.getInt(0) == bs.size, s"n_bigrams for '$d' den=$den")
        assert(row.getInt(1) == expRare, s"n_rare for '$d' den=$den")
      }
    }
  }

  test("hyperplane_bucket matches the HOF projection on real embeddings") {
    val s = TestSpark.spark
    GraftFunctions.register(s)
    val rows = Tables.embeddings(s, TestSpark.SfDir).select(
      expr(s"hyperplane_bucket(embedding, ${operators.Similarity.HyperPlanes})")
        .as("native"),
      operators.Similarity.bucketColHof("embedding").as("hof")).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getInt(0) === r.getInt(1)))
  }

  test("hyperplane_band_keys: band 0 of a 1-band split equals hyperplane_bucket") {
    val s = TestSpark.spark
    GraftFunctions.register(s)
    val k = operators.Similarity.HyperPlanes
    val rows = Tables.embeddings(s, TestSpark.SfDir).selectExpr(
      s"hyperplane_band_keys(embedding, 1, $k)[0] AS banded",
      s"hyperplane_bucket(embedding, $k) AS direct").collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getInt(0) === r.getInt(1)))
  }

  test("hyperplane_band_keys band b uses plane indices offset by b*bits") {
    val s = TestSpark.spark
    GraftFunctions.register(s)
    // band 1 of an 8-bit split uses planes 8..15; reproduce with the
    // per-plane HOF projection at the shifted indices
    val hof = (0 until 8).map { j =>
      val p = 8 + j
      s"""IF(aggregate(transform(sequence(1, 64),
         |  i -> CAST(element_at(embedding, i) AS DOUBLE) *
         |       ${graft.functions.HyperplaneWeights.sparkSql("i", p.toString)}),
         |  CAST(0 AS DOUBLE), (a, b) -> a + b) > 0, ${1 << j}, 0)""".stripMargin
    }.mkString("(", " + ", ")")
    val rows = Tables.embeddings(s, TestSpark.SfDir).selectExpr(
      "hyperplane_band_keys(embedding, 4, 8)[1] AS banded",
      s"$hof AS hof").collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getInt(0) === r.getInt(1)))
  }

  test("GraftExtensions installs all functions and the small-sort rule") {
    val s = TestSpark.spark
    GraftFunctions.register(s)
    // extensions path: a genuinely new session (shared context) with only
    // the installer configured — clear the default so getOrCreate builds
    // one instead of returning the test session, and don't stop() it
    // (that would stop the shared SparkContext)
    import org.apache.spark.sql.SparkSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    // every function register installed on this session
    val reg = s.sessionState.functionRegistry
    val installed = reg.listFunction().filter(id => reg.lookupFunction(id)
      .exists(_.getClassName.startsWith("graft.functions."))).map(_.funcName)
    assert(installed.contains("cosine_sim"))
    try {
      val s2 = SparkSession.builder()
        .withExtensions(new graft.functions.GraftExtensions)
        .getOrCreate()
      assert(s2 ne s, "getOrCreate returned the test session")
      val missing = installed.filterNot(s2.catalog.functionExists)
      assert(missing.isEmpty,
        s"GraftExtensions does not install ${missing.mkString(", ")}")
      val v = s2.sql(
        "SELECT cosine_sim(array(1.0F, 2.0F), array(1.0F, 2.0F)) AS c")
        .head.getDouble(0)
      assert(math.abs(v - 1.0) < 1e-12)
      // the installer also carries the planner rule: a small final sort
      // runs without a range exchange, as in a GraftSession
      val q1 = SparkEntry.queries("q1_multi_agg")(s2, TestSpark.SfDir)
      q1.collect()
      val plan = q1.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert(!plan.contains("Exchange rangepartitioning"), plan)
      assert(plan.contains("Coalesce 1"), plan)
    } finally {
      SparkSession.setDefaultSession(s)
      SparkSession.setActiveSession(s)
    }
  }

  test("nfc_normalize kernel matches java.text.Normalizer; ASCII is zero-copy") {
    import org.apache.spark.unsafe.types.UTF8String
    import graft.functions.NormalizeKernels
    val crafted = Seq(
      "e\u0301clair", "\u00e9clair", "A\u030a", "s\u0323\u0307",
      "cafe\u0301  \tx", "", "mixed ascii then e\u0301")
    crafted.foreach { t =>
      val got = NormalizeKernels.nfc(UTF8String.fromString(t)).toString
      val exp = java.text.Normalizer.normalize(
        t, java.text.Normalizer.Form.NFC)
      assert(got == exp, s"NFC mismatch on ${t.map(_.toInt)}")
    }
    // the ASCII fast path must hand back the INPUT object — the whole
    // point is no String materialization on the dominant path
    val ascii = UTF8String.fromString("plain ascii text only")
    assert(NormalizeKernels.nfc(ascii) eq ascii)
    // … and an already-NFC non-ASCII string must still be value-equal
    val pre = UTF8String.fromString("é")
    assert(NormalizeKernels.nfc(pre).toString == "é")
  }

  test("cosine_sim participates in whole-stage codegen") {
    val s = TestSpark.spark
    GraftFunctions.register(s)
    val df = Tables.embeddings(s, TestSpark.SfDir)
      .select(expr("cosine_sim(embedding, embedding)").as("c"))
    // "*(1) Project [cosine_sim(...)]" — the *(n) prefix marks the
    // WholeStageCodegen span containing the projection
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [cosine_sim"))
    // self-cosine is exactly 1 up to fp rounding
    assert(df.collect().forall(r => math.abs(r.getDouble(0) - 1.0) < 1e-9))
  }

  test("hll_sketch aggregate equals the relational q40 sketch, is " +
      "partition-order independent, and skips nulls") {
    val s = TestSpark.spark
    val dir = TestSpark.SfDir
    import graft.operators.Relational
    GraftFunctions.register(s)
    val viaAgg = Relational.q44HllAgg(s, dir).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .toSeq
    val viaPlan = Relational.q40HllDistinct(s, dir).collect()
      .filter(_.getString(0) != "~all")
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(viaAgg == viaPlan, "native aggregate == relational spelling")
    // merge correctness: different partitionings, identical sketch
    import s.implicits._
    val vals = (1L to 500L).map(u => ("k", u)) ++
      (1L to 100L).map(u => ("j", u * 7))
    def run(parts: Int) = vals.toDF("key", "uid")
      .repartition(parts)
      .selectExpr("key",
        "CAST(conv(substring(md5(CAST(uid AS STRING)), 1, 8), 16, 10) " +
          "AS BIGINT) AS h")
      .groupBy("key").agg(expr("hll_sketch(h)").as("sk"))
      .selectExpr("key", "sk.v_empty", "sk.s_scaled", "sk.hll_est")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2),
        r.getLong(3))).toSeq.sortBy(_._1)
    assert(run(1) == run(7) && run(7) == run(32),
      "sketch must be partition-count independent (merge path)")
    // null inputs are not distinct values
    val withNulls = Seq((Some(1L), "k"), (None, "k"), (Some(2L), "k"))
      .toDF("uid", "key")
      .selectExpr("key", "CASE WHEN uid IS NULL THEN NULL ELSE " +
        "CAST(conv(substring(md5(CAST(uid AS STRING)), 1, 8), 16, 10) " +
        "AS BIGINT) END AS h")
      .groupBy("key").agg(expr("hll_sketch(h)").as("sk"))
      .selectExpr("sk.hll_est").head().getLong(0)
    assert(withNulls == 2L, "null skipped, 2 distinct remain")
  }

  test("ivf_rank_cells matches the composed struct spelling at the " +
      "fixed 16-cell geometry AND a corpus-scaled cell count") {
    val s = TestSpark.spark
    GraftFunctions.register(s)
    import s.implicits._
    val rnd = new scala.util.Random(7)
    def vec(dim: Int) = Array.fill(dim)(rnd.nextFloat() * 2f - 1f)
    // (cells, dim, centroid edits): plain random quantizers at 16 and 20
    // cells; a zero centroid (NaN cosine for every row) and an exact
    // duplicate (a tie on every row); a non-64 dim. Every row set holds
    // a zero-norm embedding (NaN against every cell).
    val zeroCell = 3; val dupOf = 2; val dup = 9
    val cases = Seq(
      (16, 64, false), (20, 64, false), (16, 64, true), (16, 48, false))
    for ((k, dim, degenerate) <- cases) {
      val cents = Array.fill(k)(vec(dim))
      if (degenerate) {
        cents(zeroCell) = new Array[Float](dim)
        cents(dup) = cents(dupOf).clone()
      }
      val rows = (new Array[Float](dim) +: Seq.fill(40)(vec(dim)))
        .toDF("embedding")
      val structs = "array(" + cents.zipWithIndex.map { case (v, i) =>
        s"struct(cosine_sim(embedding, array(${v.map(x =>
          s"CAST($x AS FLOAT)").mkString(",")})) AS cos, $i AS id)"
      }.mkString(",") + ")"
      val emit = math.min(k, 16)
      val got = rows.select(
          slice(Similarity.ivfRankCol(cents), 1, emit).as("kr"),
          expr(s"transform(slice(reverse(array_sort($structs)), 1, $emit)," +
            " x -> x.id)").as("sr"))
        .collect()
      got.foreach { r =>
        assert(r.getSeq[Int](0) == r.getSeq[Int](1),
          s"k=$k dim=$dim degenerate=$degenerate: kernel rank diverged " +
            "from the struct spelling")
      }
      // the zero-norm row ranks every cell at NaN: ids descending
      assert(got.head.getSeq[Int](0) == (k - 1 to k - emit by -1))
      if (degenerate) got.tail.foreach { r =>
        val kr = r.getSeq[Int](0)
        assert(kr.head == zeroCell, "a NaN cosine ranks highest")
        assert(kr.indexOf(dup) == kr.indexOf(dupOf) - 1,
          "an exact tie goes to the higher id")
      }
    }
  }

  test("ivf_rank_cells2 matches the composed two-level spelling under " +
      "STRICT bucket restriction, and degenerates to the flat ranking " +
      "when cp covers every coarse bucket") {
    val s = TestSpark.spark
    GraftFunctions.register(s)
    import s.implicits._
    val rnd = new scala.util.Random(23)
    def vec() = Array.fill(64)(rnd.nextFloat() * 2f - 1f)
    def flat(a: Array[Array[Float]]) = "array(" +
      a.flatMap(_.map(x => s"CAST($x AS FLOAT)")).mkString(",") + ")"
    def structs(a: Array[Array[Float]]) =
      "array(" + a.zipWithIndex.map { case (v, i) =>
        s"struct(cosine_sim(embedding, array(${v.map(x =>
          s"CAST($x AS FLOAT)").mkString(",")})) AS cos, $i AS id)"
      }.mkString(",") + ")"
    val rows = Seq.fill(60)(vec()).toDF("embedding")
    val k = 40
    val fine = Array.fill(k)(vec())
    val kc = 7
    val coarse = Array.fill(kc)(vec())
    val map = Array.tabulate(k)(i => i % kc)
    val mapArr = "array(" + map.mkString(",") + ")"
    // strict restriction: cp = 2 of 7 buckets — the composed spelling
    // ranks coarse structs, keeps the top-2 bucket ids, filters the
    // fine structs through the map, and ranks the survivors; slice(16)
    // matches the kernel's emit cap (shorter arrays pass through)
    val topc = s"transform(slice(reverse(array_sort(" +
      s"${structs(coarse)})), 1, 2), x -> x.id)"
    val cand = s"filter(${structs(fine)}, " +
      s"st -> array_contains($topc, element_at($mapArr, st.id + 1)))"
    val got = rows.selectExpr(
        s"ivf_rank_cells2(embedding, ${flat(coarse)}, ${flat(fine)}, " +
          s"$mapArr, 2) AS kr",
        s"transform(slice(reverse(array_sort($cand)), 1, 16), x -> x.id)" +
          " AS sr",
        s"slice(ivf_rank_cells(embedding, ${flat(fine)}), 1, 16) AS fl")
      .collect()
    var restricted = 0
    got.foreach { r =>
      assert(r.getSeq[Int](0) == r.getSeq[Int](1),
        "two-level kernel diverged from the composed spelling")
      if (r.getSeq[Int](0) != r.getSeq[Int](2)) restricted += 1
    }
    assert(restricted > 0, "cp=2 of 7 never changed a ranking — the " +
      "restriction test is vacuous")
    // degeneracy: cp >= kc covers every bucket => flat order exactly
    val deg = rows.selectExpr(
        s"ivf_rank_cells2(embedding, ${flat(coarse)}, ${flat(fine)}, " +
          s"$mapArr, $kc) AS kr",
        s"slice(ivf_rank_cells(embedding, ${flat(fine)}), 1, 16) AS fl")
      .collect()
    deg.foreach(r => assert(r.getSeq[Int](0) == r.getSeq[Int](1),
      "cp = kc must equal the flat ranking"))
  }
}
