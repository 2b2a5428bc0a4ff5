package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextHashKernels
import graft.streaming.Streams

/** Property-based tests over the core transforms — the ScalaCheck
  * counterpart of the reference's Hypothesis chapter
  * (notebooks/Chapter 7 - Testing with Hypothesis.ipynb), which
  * property-tests dataframe transforms instead of fixing examples.
  * Deterministic seeds keep the suite reproducible. */
class PropertiesSpec extends AnyFunSuite {

  private def samples[A](g: Gen[A], n: Int, seed: Long = 42L): Seq[A] =
    (0 until n).flatMap(i => g(Gen.Parameters.default, Seed(seed + i)))

  private val word: Gen[String] =
    Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString)
  private val doc: Gen[String] = Gen.listOf(word).map(_.mkString(" "))

  test("property: wordcount totals equal the token count of the corpus") {
    samples(Gen.nonEmptyListOf(doc), 10).foreach { docs =>
      val s = TestSpark.spark
      import s.implicits._
      val counted = Streams.wordCounts(docs.toDF("value"))
        .agg(coalesce(sum("cnt"), lit(0L))).as[Long].head()
      val expected = docs.flatMap(_.split(" ")).count(_.nonEmpty).toLong
      assert(counted === expected)
    }
  }

  test("property: exact-dedup groups partition the corpus") {
    samples(Gen.nonEmptyListOf(doc), 10, seed = 7L).foreach { docs =>
      val s = TestSpark.spark
      import s.implicits._
      val rows = docs.zipWithIndex.toDF("text", "doc_id")
        .withColumn("h", md5(lower(trim(regexp_replace(col("text"), "\\s+", " ")))))
        .groupBy("h").agg(count(lit(1)).as("cnt"))
        .collect()
      assert(rows.map(_.getLong(1)).sum === docs.size.toLong)
      assert(rows.forall(_.getLong(1) >= 1))
    }
  }

  test("property: t6 pii byte-walk kernel equals the java-regex " +
    "reference on adversarial fragment soup") {
    import org.apache.spark.unsafe.types.UTF8String
    import graft.functions.PiiKernels
    // fragments chosen to collide at every matcher decision point:
    // octet alternation boundaries (25/255/256/199), digit-run lengths
    // around the phone/card group sizes, separators glued to
    // separators, '@' runs, dot-letter tails of every length, plus
    // whole near-miss and true-PII tokens and a multibyte char —
    // concatenated WITHOUT spacing so matches and boundaries form
    // across fragment joins
    val frag: Gen[String] = Gen.oneOf(
      Gen.oneOf("0", "1", "2", "5", "9", "25", "255", "256", "199",
        "04", "111", "1111", "4111", "99999", "0000", "123"),
      Gen.oneOf(".", "-", " ", "@", "+", "_", "%", "..", "--", ". ",
        "-.", "@@", "+1"),
      Gen.oneOf("a", "c", "co", "com", "x", "ab", "ORD", "v", "io",
        "日", "́", "é", "́́."),
      Gen.oneOf("a@b.co", "1-555-0100", "10.0.0.9", "999.1.1.1",
        "v1.2.3", "4111-1111-1111-1111", "4111 1111 1111 1111",
        "bob.smith+tag@sub.example.co.uk"),
      // supplementary-plane probes for the \b asymmetries: a base
      // letter (𐐀 U+10400), a decimal digit (𝟙 U+1D7D9), a
      // NON_SPACING_MARK (U+101FD), and mark chains across the BMP
      // border — the JDK's hasBaseCharacter walks UTF-16 code units
      // and stops FALSE on their low surrogates, while the
      // adjacent-char test decodes full code points
      Gen.oneOf(new String(Character.toChars(0x10400)),
        new String(Character.toChars(0x1D7D9)),
        new String(Character.toChars(0x101FD)),
        new String(Character.toChars(0x10400)) + "́",
        "́" + new String(Character.toChars(0x101FD))))
    val text: Gen[String] =
      Gen.choose(0, 24).flatMap(k => Gen.listOfN(k, frag)).map(_.mkString)
    var checked = 0
    samples(text, 4000, seed = 99L).foreach { t =>
      val u = UTF8String.fromString(t)
      val walk = PiiKernels.scrub(u)
      val ref = PiiKernels.scrubRegex(u)
      (0 until 4).foreach { i =>
        assert(walk.getInt(i) == ref.getInt(i),
          s"count $i: ${walk.getInt(i)} vs ${ref.getInt(i)} on '$t'")
      }
      assert(walk.getUTF8String(4) == ref.getUTF8String(4),
        s"redacted '${walk.getUTF8String(4)}' vs " +
          s"'${ref.getUTF8String(4)}' on '$t'")
      assert(walk.getInt(5) == ref.getInt(5), s"residual on '$t'")
      checked += 1
    }
    assert(checked >= 3000)
  }

  test("property: t6 pii kernel equals the reference on RAW BYTE soup " +
    "(malformed UTF-8 included)") {
    import org.apache.spark.unsafe.types.UTF8String
    import graft.functions.PiiKernels
    // arbitrary bytes: PII-alphabet ASCII, lead/continuation bytes of
    // every UTF-8 class (incl. overlong 0xC0, surrogate-range 0xED 0xA0,
    // out-of-range 0xF5, stray continuations) — scrub must detect the
    // invalid sequences and match scrubRegex's String round-trip
    // (U+FFFD normalization) byte-for-byte
    val byte: Gen[Byte] = Gen.oneOf(
      Gen.oneOf("0129.- @+ab".getBytes("US-ASCII").toSeq),
      Gen.oneOf(Seq(0xC0, 0xC2, 0xCC, 0xE0, 0xED, 0xEF, 0xF0, 0xF4, 0xF5,
        0x80, 0x81, 0x9F, 0xA0, 0xBF).map(_.toByte)))
    val soup: Gen[Array[Byte]] =
      Gen.choose(0, 40).flatMap(k => Gen.listOfN(k, byte)).map(_.toArray)
    var checked = 0
    samples(soup, 4000, seed = 173L).foreach { bytes =>
      val u = UTF8String.fromBytes(bytes)
      val walk = PiiKernels.scrub(u)
      val ref = PiiKernels.scrubRegex(u)
      (0 until 4).foreach { i =>
        assert(walk.getInt(i) == ref.getInt(i),
          s"count $i on bytes ${bytes.map(b => f"$b%02x").mkString(" ")}")
      }
      assert(walk.getUTF8String(4) == ref.getUTF8String(4),
        s"redacted on bytes ${bytes.map(b => f"$b%02x").mkString(" ")}")
      assert(walk.getInt(5) == ref.getInt(5),
        s"residual on bytes ${bytes.map(b => f"$b%02x").mkString(" ")}")
      checked += 1
    }
    assert(checked >= 3000)
  }

  test("property: t17 bigram-key kernel equals a reference tokenizer " +
    "under arbitrary spacing and non-BMP text") {
    import org.apache.spark.unsafe.types.UTF8String
    val md = java.security.MessageDigest.getInstance("MD5")
    def refBucket(w: String): Int = {
      val h = md.digest(w.getBytes("UTF-8")).map("%02x".format(_)).mkString
      Integer.parseInt(h.substring(0, 3), 16) % 1024
    }
    // words mix ASCII, a BMP char above the surrogate range, and a
    // supplementary-plane char (UTF-8 multibyte safety of the byte
    // walk); spacing includes empty runs, leading/trailing blocks
    val uword: Gen[String] = Gen.nonEmptyListOf(Gen.oneOf(
      Gen.alphaLowerChar.map(_.toString),
      Gen.const("\uFFFD"),
      Gen.const(new String(Character.toChars(0x1D54F)))
    )).map(_.mkString)
    val spacing: Gen[String] = Gen.chooseNum(1, 3).map(" " * _)
    val utext: Gen[String] = for {
      lead <- Gen.chooseNum(0, 2).map(" " * _)
      ws <- Gen.listOf(uword)
      seps <- Gen.listOfN(ws.length, spacing)
      trail <- Gen.chooseNum(0, 2).map(" " * _)
    } yield lead + ws.zip(seps).map { case (w, sp) => w + sp }
      .mkString + trail
    samples(utext, 200, seed = 13L).foreach { text =>
      val toks = text.split(" ").filter(_.nonEmpty)
      val expect: Seq[Long] =
        if (toks.length < 2) Seq.empty
        else toks.map(refBucket).sliding(2)
          .map(p => p(0).toLong * 1024 + p(1)).toSeq
      val got = graft.functions.CcnetKernels
        .bigramKeys(UTF8String.fromString(text), 1024)
      assert(got.toLongArray().toSeq == expect,
        s"kernel drift on ${text.take(60).mkString}")
    }
  }

  test("property: simhash60 is deterministic and stays within 60 bits") {
    samples(Gen.nonEmptyListOf(word), 50, seed = 11L).foreach { toks =>
      val arr = new org.apache.spark.sql.catalyst.util.GenericArrayData(
        toks.map(org.apache.spark.unsafe.types.UTF8String.fromString)
          .toArray[Any])
      val a = TextHashKernels.simhash60(arr)
      assert(a === TextHashKernels.simhash60(arr))
      assert(a >= 0L && a < (1L << 60))
    }
  }

  test("property: unsigned-byte order of md5 digests is the order of " +
      "their hex strings") {
    val md = java.security.MessageDigest.getInstance("MD5")
    def hex(d: Array[Byte]) = d.map("%02x".format(_)).mkString
    val bytes = Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue))
      .map(_.toArray)
    samples(Gen.zip(bytes, bytes), 500, seed = 31L).foreach { case (a, b) =>
      val (da, db) = (md.digest(a), md.digest(b))
      assert(Integer.signum(java.util.Arrays.compareUnsigned(da, db)) ===
        Integer.signum(hex(da).compareTo(hex(db))))
    }
  }

  test("property: minhash_sig coordinate j equals minhash_min(seed j), " +
      "and minhash_band_keys hashes those coordinates") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    val md = java.security.MessageDigest.getInstance("MD5")
    def digest(s: String) = md.digest(s.getBytes("UTF-8"))
    def hex(s: String) = digest(s).map("%02x".format(_)).mkString
    // shingles whose seed-0 digests share their first two bytes, so the
    // minimum is decided past the leading bytes
    val sharing = (0 until 4096).map(i => s"s$i")
      .groupBy(sh => digest("0|" + sh).take(2).toSeq)
      .values.filter(_.size >= 2).take(20).flatten.toSeq
    assert(sharing.size >= 10)
    val shingle = Gen.oneOf(word, Gen.oneOf(sharing), Gen.const("é ñ 日"))
    val arrays = Gen.oneOf(
      Gen.listOfN(1, shingle), // a single shingle
      Gen.nonEmptyListOf(shingle).map(l => l ++ l), // every one repeated
      Gen.nonEmptyListOf(Gen.oneOf(sharing)),
      Gen.nonEmptyListOf(shingle))
    val n = 12
    samples(arrays, 200, seed = 37L).foreach { shs =>
      val arr = new GenericArrayData(
        shs.map(UTF8String.fromString).toArray[Any])
      val sig = TextHashKernels.minhashSig(arr, n)
      val mins = (0 until n).map(j =>
        TextHashKernels.minhashMin(arr, UTF8String.fromString(j.toString))
          .toString)
      assert((0 until n).map(sig.getUTF8String(_).toString) === mins,
        s"on $shs")
      // the driver spelling of the same minimum
      assert(mins.head === shs.map(sh => hex("0|" + sh)).min)
      val bands = TextHashKernels.minhashBandKeys(arr, n, 4)
      assert((0 until 4).map(bands.getUTF8String(_).toString) ===
        mins.grouped(3).map(g => hex(g.mkString)).toSeq, s"on $shs")
    }
  }

  test("property: rolling hash is prefix-composable: roll(a++b) == fold(roll(a), b)") {
    val M = 1000000007L
    samples(Gen.zip(Gen.alphaNumStr, Gen.alphaNumStr), 100, seed = 13L)
      .foreach { case (a, b) =>
        val whole = TextHashKernels.rollHash(
          org.apache.spark.unsafe.types.UTF8String.fromString(a + b))
        var acc = TextHashKernels.rollHash(
          org.apache.spark.unsafe.types.UTF8String.fromString(a))
        b.foreach { c => acc = (acc * 31 + c.toInt) % M }
        assert(whole === acc)
      }
  }

  test("property: word_shingles count is max(n-2,1), each a contiguous slice") {
    samples(Gen.listOf(word), 50, seed = 17L).foreach { toks =>
      val arr = new org.apache.spark.sql.catalyst.util.GenericArrayData(
        toks.map(org.apache.spark.unsafe.types.UTF8String.fromString)
          .toArray[Any])
      val sh = TextHashKernels.wordShingles3(arr)
      assert(sh.numElements() === math.max(toks.size - 2, 1))
      val joined = toks.mkString(" ")
      (0 until sh.numElements()).foreach { i =>
        assert(joined.contains(sh.getUTF8String(i).toString))
      }
    }
  }

  test("property: word_shingles(toks, w) count is max(n-w+1,1), slices contiguous") {
    samples(Gen.zip(Gen.listOf(word), Gen.choose(2, 13)), 50, seed = 19L)
      .foreach { case (toks, w) =>
        val arr = new org.apache.spark.sql.catalyst.util.GenericArrayData(
          toks.map(org.apache.spark.unsafe.types.UTF8String.fromString)
            .toArray[Any])
        val sh = TextHashKernels.wordShingles(arr, w)
        assert(sh.numElements() === math.max(toks.size - (w - 1), 1))
        (0 until sh.numElements()).foreach { i =>
          val expect = toks.slice(i, i + w).mkString(" ")
          assert(sh.getUTF8String(i).toString === expect)
        }
        // w = 3 must stay bit-compatible with the historical kernel
        val legacy = TextHashKernels.wordShingles3(arr)
        val via = TextHashKernels.wordShingles(arr, 3)
        assert((0 until legacy.numElements()).forall(i =>
          legacy.getUTF8String(i) == via.getUTF8String(i)))
      }
  }

  test("cluster shuffle-partition sizing: per-core floor vs spill ceiling") {
    // 1000 executors × 8 cores, 40 TB largest shuffle, 128 MB target:
    // memory bound (40 TB / 128 MB = 327,680) dominates 3×cores (24,000)
    assert(GraftSession.clusterShufflePartitions(1000, 8, 40960) === 327680)
    // small shuffle: the 3-tasks-per-core floor wins
    assert(GraftSession.clusterShufflePartitions(1000, 8, 100) === 24000)
    // partition-size knob moves the memory bound proportionally
    assert(GraftSession.clusterShufflePartitions(10, 4, 1024, 256) === 4096)
  }

  test("property: d3 pigeonhole banding finds EVERY pair within the hamming threshold") {
    val maxHamming = 6
    val layout = graft.operators.Dedup.d3BandLayout(maxHamming)
    assert(layout.map(_._2).sum === graft.operators.Dedup.SimhashBits)
    val fp: Gen[Long] = Gen.chooseNum(0L, (1L << 60) - 1)
    val flips: Gen[List[Int]] =
      Gen.chooseNum(0, maxHamming).flatMap(k =>
        Gen.listOfN(k, Gen.chooseNum(0, 59)))
    samples(Gen.zip(fp, flips), 200).foreach { case (a, positions) =>
      val b = positions.foldLeft(a)((acc, p) => acc ^ (1L << p))
      assert(java.lang.Long.bitCount(a ^ b) <= maxHamming)
      val agree = layout.exists { case (off, w) =>
        ((a >> off) & ((1L << w) - 1)) === ((b >> off) & ((1L << w) - 1))
      }
      assert(agree, f"pair a=$a%x b=$b%x shares no band")
    }
  }

  test("property: hyperplane family has distinct, low-correlation planes") {
    import graft.functions.HyperplaneWeights
    val planes = (0 until 96).map(p =>
      (1 to 64).map(i => HyperplaneWeights.weight(i, p)))
    assert(planes.distinct.size === 96, "duplicate hyperplanes")
    val corrs = for (p <- planes.indices; q <- planes.indices if p < q)
      yield math.abs(
        planes(p).zip(planes(q)).map { case (x, y) => x * y }.sum / 64.0)
    // measured family: mean |corr| 0.084, p99 0.39, max 0.625 (a handful
    // of structurally anti-correlated pairs at p+q=128). A near-degenerate
    // family (like the round-1 period-7 one, pairwise |corr| = 1) fails
    // both bounds by an order of magnitude.
    assert(corrs.max <= 0.66, s"max |corr| ${corrs.max} — family degenerating")
    assert(corrs.sum / corrs.size <= 0.1,
      s"mean |corr| ${corrs.sum / corrs.size} — family degenerating")
  }

  test("property: asofJoin equals a naive per-row most-recent-prior lookup") {
    val s = TestSpark.spark
    import s.implicits._
    val ev: Gen[(Long, Long, Long)] = for {
      user <- Gen.chooseNum(0L, 3L)
      ts <- Gen.chooseNum(0L, 40L)
      id <- Gen.chooseNum(0L, 1000L)
    } yield (user, ts, id)
    samples(Gen.zip(Gen.listOfN(25, ev), Gen.listOfN(25, ev)), 5)
      .foreach { case (ls, rs) =>
        // defined tie-break: one right row per (user, ts), max id wins
        val right = rs.groupBy(r => (r._1, r._2))
          .map { case ((u, t), g) => (u, t, g.map(_._3).max) }.toList
        val left = ls.zipWithIndex.map { case ((u, t, _), i) => (i.toLong, u, t) }
        val got = graft.operators.AsOf.asofJoin(
            left.toDF("row_id", "user", "lts"),
            right.toDF("user", "rts", "rid"),
            key = "user", leftTs = "lts", rightTs = "rts",
            carry = Seq("rid"), tieBreak = "rid")
          .select("row_id", "asof_rid").collect()
          .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
          .toMap
        left.foreach { case (rowId, u, t) =>
          val expect = right.filter(r => r._1 == u && r._2 <= t)
            .sortBy(r => (r._2, r._3)).lastOption.map(_._3)
          assert(got(rowId) === expect,
            s"row $rowId user=$u ts=$t: got ${got(rowId)}, want $expect")
        }
      }
  }

  test("property: sessionization conserves events; session count matches gaps") {
    val gapUs = Streams.SessionGapUs
    val evGen = for {
      n <- Gen.choose(1, 30)
      // ms-aligned gaps: java.sql.Timestamp carries milliseconds, so a
      // +1µs margin would truncate away
      gaps <- Gen.listOfN(n, Gen.oneOf(1000L, 60L * 1000000, gapUs + 1000))
    } yield gaps
    samples(evGen, 10, seed = 23L).foreach { gaps =>
      val s = TestSpark.spark
      import s.implicits._
      var t = 1700000000000000L
      val evts = gaps.zipWithIndex.map { case (g, i) =>
        t += g; (1L, i.toLong, new java.sql.Timestamp(t / 1000))
      }
      val out = Streams.sessionizeBatch(
        evts.toDF("user_id", "event_id", "ts")).collect()
      assert(out.length === 1)
      val row = out.head
      val expectedSessions = 1 + gaps.drop(1).count(_ > gapUs)
      assert(row.getAs[Long]("total_events") === gaps.size.toLong)
      assert(row.getAs[Long]("n_sessions") === expectedSessions.toLong)
    }
  }

  test("property: url_canon kernel equals the composed spelling on " +
      "random URL-shaped and garbage strings") {
    val s = TestSpark.spark
    import s.implicits._
    graft.functions.GraftFunctions.register(s)
    val urlChar: Gen[Char] = Gen.frequency(
      (8, Gen.alphaNumChar), (1, Gen.oneOf('/', '?', '&', '#', ':', '=')),
      (1, Gen.oneOf('.', '-', '_', '%', '~', ' ')))
    val piece: Gen[String] = Gen.listOf(urlChar).map(_.mkString)
    val scheme: Gen[String] =
      Gen.oneOf("http", "https", "HTTP", "HtTpS", "ftp", "s3+x.y", "")
    val urlish: Gen[String] = for {
      sc <- scheme; sep <- Gen.oneOf("://", ":/", "", "//")
      rest <- piece
    } yield sc + sep + rest
    val garbage: Gen[String] = Gen.listOf(Gen.choose(' ', 'ÿ'))
      .map(_.mkString)
    val inputs = (samples(urlish, 400) ++ samples(garbage, 100, seed = 9L))
      .distinct
    val rows = inputs.toDF("url")
      .withColumn("kernel", expr("url_canon(url)"))
      .withColumn("composed", expr(
        graft.operators.TextAnalysis.t14CanonSql("url", spark = true)))
      .collect()
    rows.foreach { r =>
      assert(r.getString(1) == r.getString(2),
        s"kernel '${r.getString(1)}' != composed '${r.getString(2)}' " +
          s"for input '${r.getString(0)}'")
    }
    assert(rows.length == inputs.length)
  }

  test("property: q50's prefix-extrema rule equals brute-force " +
      "dominance on arbitrary 2D point sets (ties included)") {
    val pt: Gen[(Long, Long)] = for {
      x <- Gen.choose(0L, 12L); y <- Gen.choose(0L, 12L)
    } yield (x, y)
    def dominates(b: (Long, Long), a: (Long, Long)): Boolean =
      b._1 >= a._1 && b._2 <= a._2 && (b._1 > a._1 || b._2 < a._2)
    samples(Gen.nonEmptyListOf(pt), 60, seed = 23L).foreach { pts =>
      // brute force: the definition
      val brute = pts.filter(a => !pts.exists(b => dominates(b, a))).toSet
      // prefix extrema: per-x min y, survivor iff it holds its x's
      // min AND beats the running min over strictly greater x
      val perX = pts.groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
      val xsDesc = perX.keys.toSeq.sorted.reverse
      val runMin = xsDesc.scanLeft(Long.MaxValue) { (m, x) =>
        math.min(m, perX(x)) }
      val m1 = xsDesc.zip(runMin).toMap // exclusive prefix min
      val viaRule = pts.filter(p =>
        p._2 == perX(p._1) && m1(p._1) > p._2).toSet
      assert(viaRule == brute, s"rule != definition on $pts")
    }
  }

  test("property: the nearest-rank fence rule (cum*B >= i*n) equals " +
      "the sorted ceil-rank definition for arbitrary multisets") {
    val gen = for {
      xs <- Gen.nonEmptyListOf(Gen.choose(0L, 30L))
      b <- Gen.choose(1, 12)
    } yield (xs, b)
    samples(gen, 80, seed = 31L).foreach { case (xs, b) =>
      val sorted = xs.sorted
      val n = xs.length.toLong
      val hist = xs.groupBy(identity).view.mapValues(_.length.toLong)
        .toSeq.sortBy(_._1)
      val cums = hist.scanLeft((0L, 0L)) { case ((_, c), (v, cnt)) =>
        (v, c + cnt) }.tail
      (1 to b).foreach { i =>
        val viaRule = cums.find { case (_, cum) => cum * b >= i * n }
          .get._1
        val rank = (i * n + b - 1) / b
        assert(viaRule == sorted((rank - 1).toInt),
          s"B=$b i=$i on $xs")
      }
    }
  }

  test("property: ivf_rank_cells ranks like the (cos DESC, id DESC) " +
      "reference for arbitrary vectors and cell counts") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    // zero vectors (embedding or centroid) make NaN cosines, which the
    // struct spelling and DuckDB both rank above every number
    def vecG(dim: Int): Gen[Array[Float]] = Gen.frequency(
      1 -> Gen.const(new Array[Float](dim)),
      6 -> Gen.listOfN(dim, Gen.choose(-4.0f, 4.0f)).map(_.toArray))
    val caseG = for {
      dim <- Gen.oneOf(3, 64, 70)
      k <- Gen.choose(1, 40)
      cents <- Gen.listOfN(k, vecG(dim))
      emb <- vecG(dim)
    } yield (dim, emb, cents)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    def before(x: (Double, Int), y: (Double, Int)): Boolean =
      if (x._1.isNaN != y._1.isNaN) x._1.isNaN
      else if (x._1 != y._1 && !x._1.isNaN) x._1 > y._1
      else x._2 > y._2
    samples(caseG, 60, seed = 37L).foreach { case (dim, emb, cents) =>
      val flat = new GenericArrayData(
        cents.flatMap(_.map(x => x: Any)).toArray)
      val got = graft.functions.IvfRankCellsKernel
        .rank(new GenericArrayData(emb.map(x => x: Any)), flat, dim)
        .toIntArray().toSeq
      val expected = cents.zipWithIndex
        .map { case (c, i) => (cos(emb, c), i) }
        .sortWith(before)
        .map(_._2).take(16)
      assert(got == expected, s"dim=$dim k=${cents.length}")
    }
  }
}
