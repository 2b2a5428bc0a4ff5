package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TextAnalysis

class TextAnalysisSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val dir = TestSpark.SfDir

  test("t1 scores and prediction are consistent") {
    val rows = TextAnalysis.t1LangId(s, dir).collect()
    rows.foreach { r =>
      val scores = Map("en" -> r.getInt(1), "de" -> r.getInt(2),
        "es" -> r.getInt(3), "fr" -> r.getInt(4))
      val predicted = r.getString(5)
      assert(scores(predicted) == scores.values.max,
        s"doc ${r.getLong(0)}: predicted $predicted not argmax of $scores")
    }
  }

  test("t2 ratios are within [0,1] and score is their blend") {
    val rows = TextAnalysis.t2QualityScore(s, dir).collect()
    rows.foreach { r =>
      val (stopRatio, score) = (r.getDouble(3), r.getDouble(4))
      assert(stopRatio >= 0.0 && stopRatio <= 1.0)
      assert(score >= 0.0 && score <= 1.0)
    }
  }

  test("t3 whitespace and regex token counts agree on this corpus") {
    // corpus is strictly lowercase words + single spaces
    val rows = TextAnalysis.t3TokenCount(s, dir).collect()
    rows.foreach { r =>
      assert(r.getInt(1) == r.getInt(2),
        s"doc ${r.getLong(0)}: ws=${r.getInt(1)} re=${r.getInt(2)}")
      assert(r.getInt(3) >= r.getInt(2), "bpe pieces < word tokens")
    }
  }

  test("t4 rolling fingerprint is stable and bounded") {
    val a = TextAnalysis.t4Fingerprint(s, dir).collect()
    val b = TextAnalysis.t4Fingerprint(s, dir).collect()
    assert(a.map(_.getLong(2)).sameElements(b.map(_.getLong(2))))
    assert(a.forall(r => r.getLong(2) >= 0 && r.getLong(2) < 1000000007L))
    assert(a.forall(_.getString(1).length == 32))
  }

  test("t5 sample is deterministic, nested, and roughly uniform per stratum") {
    import org.apache.spark.sql.functions._
    val a = TextAnalysis.t5StratifiedSample(s, dir).collect()
    val b = TextAnalysis.t5StratifiedSample(s, dir).collect()
    assert(a.map(_.getLong(0)).sameElements(b.map(_.getLong(0))), "not deterministic")
    // nesting: an INDEPENDENTLY computed 10% sample is a strict subset
    // of the 20% one (growing a training set never discards work)
    val ten = TextAnalysis.t5StratifiedSample(s, dir, pct = 10).collect()
      .map(_.getLong(0)).toSet
    val twenty = a.map(_.getLong(0)).toSet
    assert(ten.nonEmpty && ten.size < twenty.size && ten.subsetOf(twenty))
    // rough rate check: ~20% overall (md5 uniformity; wide tolerance)
    val total = Tables.documents(s, dir).count()
    val rate = a.length.toDouble / total
    assert(rate > 0.10 && rate < 0.30, f"sample rate $rate%.2f far from 0.20")
    // stratification: every lang present in the corpus appears in the
    // sample (uniform within stratum, corpus has >=100 docs per lang)
    val langs = Tables.documents(s, dir).select("lang").distinct()
      .collect().map(_.getString(0)).toSet
    assert(a.map(_.getString(1)).toSet == langs)
  }

  test("c1 curation output satisfies all three stage predicates, no more, no less") {
    import graft.operators.{Curation, Dedup}
    val out = Curation.c1CurationPipeline(s, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val scores = TextAnalysis.t2QualityScore(s, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(4)).toMap
    val kept = Dedup.d6DedupPipeline(s, dir).collect().map(_.getLong(0)).toSet
    val sampled = TextAnalysis.t5StratifiedSample(s, dir).collect()
      .map(_.getLong(0)).toSet
    val expected = scores.keySet
      .filter(id => scores(id) >= Curation.QualityMin)
      .intersect(kept).intersect(sampled)
    assert(out.keySet == expected)
    assert(out.forall { case (id, sc) => sc == scores(id) })
    assert(out.nonEmpty)
  }

  test("t6 families: crafted positives redact fully; near-misses survive byte-identical") {
    val sess = s
    import sess.implicits._
    // (text, n_emails, n_phones, n_ips, n_cards)
    val cases = Seq(
      // positives, including mid-text and multiple hits per family
      ("mail bob.smith+tag@sub.example.co.uk and a@b.io today", 2, 0, 0, 0),
      ("call +44-020-7946 or 1-555-0100 right now", 0, 2, 0, 0),
      ("hosts 192.168.0.1 and 255.255.255.255 and 0.0.0.0 up", 0, 0, 3, 0),
      ("pay 4111 1111 1111 1111 or 4111-1111-1111-1111 or 4111111111111111", 0, 0, 0, 3),
      ("user9@example.com at 10.0.0.9 card 4000-1234-5678-9010 call +1-555-0042", 1, 1, 1, 1),
      // near-misses: version strings, oversize octets, octet glued to
      // more digits, order ids (digits after letters), 15/17-digit runs
      ("release v1.2.3 then 999.1.1.1 then 1.2.3.400 shipped", 0, 0, 0, 0),
      ("order ORD4111222233334444 ref 41112222333344445 id 411122223333444", 0, 0, 0, 0),
      ("", 0, 0, 0, 0),
    )
    val out = graft.operators.TextAnalysis.piiScrub(
      cases.toDF("pii_text", "e", "p", "i", "c")).collect()
    out.foreach { r =>
      val text = r.getAs[String]("pii_text")
      assert(r.getAs[Int]("n_emails") == r.getAs[Int]("e"), s"emails in '$text'")
      assert(r.getAs[Int]("n_phones") == r.getAs[Int]("p"), s"phones in '$text'")
      assert(r.getAs[Int]("n_ips") == r.getAs[Int]("i"), s"ips in '$text'")
      assert(r.getAs[Int]("n_cards") == r.getAs[Int]("c"), s"cards in '$text'")
      assert(r.getAs[Int]("residual") == 0, s"residual PII in '$text'")
      val untouched = Seq("e", "p", "i", "c").forall(c => r.getAs[Int](c) == 0)
      if (untouched)
        assert(r.getAs[String]("redacted") == text,
          s"near-miss-only text was altered: '$text'")
      else
        assert(r.getAs[String]("redacted") != text)
    }
  }

  test("t6 fused kernel is bit-identical to the composed regexp spelling") {
    val sess = s
    import sess.implicits._
    // crafted adversarial shapes PLUS the boundary-creation case: in
    // "a@b.co1111-2222-3333-4444" the card has NO leading word boundary
    // until the email is redacted — the fold's unconditional later
    // passes then catch it, and the kernel must reproduce exactly that
    // (a skip-when-count-0 shortcut would diverge here: n_cards is 0
    // on the original text but the redacted output still gains <CARD>)
    val texts = Seq(
      "plain text, nothing to scrub",
      "a@b.co1111-2222-3333-4444 boundary appears after redaction",
      "4111-1111-2222-3333.x@x.com overlapping families",
      "mail bob.smith+tag@sub.example.co.uk and a@b.io today",
      "user9@example.com at 10.0.0.9 card 4000-1234-5678-9010 call +1-555-0042",
      "release v1.2.3 then 999.1.1.1 then 1.2.3.400 shipped",
      "order ORD4111222233334444 ref 41112222333344445 id 411122223333444",
      "+1-555-0000 10.1.2.3 4111 1111 1111 1111 x@y.zz",
      "",
    )
    val cols = Seq("n_emails", "n_phones", "n_ips", "n_cards",
      "redacted", "residual")
    def run(f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) =
      f(texts.toDF("pii_text")).select("pii_text", cols: _*).collect()
        .map(r => r.getString(0) -> cols.map(c => r.getAs[Any](c))).toMap
    val kernel = run(graft.operators.TextAnalysis.piiScrub)
    val composed = run(graft.operators.TextAnalysis.piiScrubComposed)
    assert(kernel == composed)
    // the boundary-creation case really exercised the divergence shape:
    // zero card count, yet a <CARD> token in the redacted output
    val bc = kernel("a@b.co1111-2222-3333-4444 boundary appears after redaction")
    assert(bc(3) == 0 && bc(4).asInstanceOf[String].contains("<CARD>"))
  }

  test("t6 residual alternation counts what the four per-family scans sum to") {
    import org.apache.spark.sql.functions.{col, lit, regexp_count}
    import graft.operators.TextAnalysis
    val sess = s
    import sess.implicits._
    // residual runs ONE PiiAnyRe alternation where the oracle sums four
    // per-family scans. The two agree exactly when no two families'
    // matches overlap — guaranteed on redacted text (families are
    // expected to match nothing at all), which is the only text
    // residual ever scans. Crafted strings exercise the equality with
    // NONZERO counts: mixed families, adjacency, near-misses — all
    // cross-family-disjoint, like any real residual input. (A string
    // engineered so a phone match hides a card match's first group
    // WOULD diverge — that shape requires surviving PII overlapping
    // more surviving PII, which redaction precludes.)
    val texts = Seq(
      "a@b.io next to 10.0.0.1 and 4111-1111-1111-1111 plus +1-555-0000",
      "bare text with no matches at all",
      "v1.2.3 999.1.1.1 ORD4111222233334444 41112222333344445",
      "x@y.zz x@y.zz 1.2.3.4 1.2.3.4 +1-555-0001 4000123456789010",
      "glued4111 1111 1111 1111 then real 4111 1111 1111 1111",
      "<EMAIL> <PHONE> <IP> <CARD> fully redacted line",
      "",
    )
    val out = texts.toDF("t").select(
      regexp_count(col("t"), lit(TextAnalysis.PiiAnyRe)).as("alt"),
      TextAnalysis.PiiFamilies.map { case (re, _) =>
        regexp_count(col("t"), lit(re))
      }.reduce(_ + _).as("summed")).collect()
    out.foreach(r => assert(r.getInt(0) == r.getInt(1),
      s"alternation ${r.get(0)} != summed ${r.get(1)}"))
    // the set must exercise nonzero counts, or equality is vacuous
    assert(out.exists(_.getInt(0) > 0))
  }

  test("property: rolling hash matches a reference fold on generated ascii strings") {
    import org.apache.spark.sql.functions._
    val params = org.scalacheck.Gen.Parameters.default
    val gen = org.scalacheck.Gen.nonEmptyListOf(
      org.scalacheck.Gen.alphaLowerChar).map(_.mkString)
    val samples = (0 until 50).flatMap(i =>
      gen(params, org.scalacheck.rng.Seed(42L + i)))
    assert(samples.size >= 40)
    val sess = s
    import sess.implicits._
    val got = samples.toDF("norm").select(col("norm"), expr(
      """aggregate(filter(split(norm, ''), c -> c <> ''),
        |  CAST(0 AS BIGINT),
        |  (acc, c) -> (acc * 31 + ascii(c)) % 1000000007)""".stripMargin).as("h"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    samples.foreach { text =>
      val expected =
        text.foldLeft(0L)((acc, c) => (acc * 31 + c.toInt) % 1000000007L)
      assert(got(text) == expected, s"mismatch for '$text'")
    }
  }

  test("t7 matches a brute-force duplicate-3-gram fraction; plant discriminates") {
    import graft.operators.TextAnalysis
    val docs = graft.Tables.documents(s, dir).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1))
    def shingles(text: String): Seq[String] = {
      val toks = text.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
      val m = math.max(toks.length - 2, 1)
      (0 until m).map(i => toks.slice(i, i + 3).mkString(" "))
    }
    val expected = docs.map { case (id, text) =>
      val t =
        if (id % TextAnalysis.T7PlantMod == 0)
          text + " " + (TextAnalysis.T7PlantPhrase + " ") * TextAnalysis.T7PlantReps
        else text
      val sh = shingles(t)
      id -> ((sh.size, sh.distinct.size, sh.distinct.size * 5 < sh.size * 4))
    }.toMap
    val got = TextAnalysis.t7RepNgrams(s, dir).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getBoolean(3))))
      .toMap
    assert(got == expected)
    // the plant must discriminate end-to-end on this corpus: every
    // planted doc flagged, every unplanted word-soup doc clean
    docs.foreach { case (id, _) =>
      assert(got(id)._3 == (id % TextAnalysis.T7PlantMod == 0),
        s"doc $id: flag ${got(id)._3} vs planted ${id % TextAnalysis.T7PlantMod == 0}")
    }
    assert(docs.exists(_._1 % TextAnalysis.T7PlantMod == 0), "nothing planted")
  }

  test("t10 matches a brute-force frequent-span count; plant discriminates") {
    import graft.operators.TextAnalysis
    val docs = graft.Tables.documents(s, dir).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1))
    def spans(text: String): Seq[String] = {
      val toks = text.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
      val m = math.max(toks.length - (TextAnalysis.T10SpanW - 1), 1)
      (0 until m).map(i =>
        toks.slice(i, i + TextAnalysis.T10SpanW).mkString(" ")).distinct
    }
    val perDoc = docs.map { case (id, text) =>
      val t =
        if (id % TextAnalysis.T10PlantMod == 0)
          text + " " + TextAnalysis.T10Footer
        else text
      id -> spans(t)
    }
    val df = perDoc.flatMap(_._2).groupBy(identity).view.mapValues(_.size)
    val frequent = df.filter(_._2 >= TextAnalysis.T10MinDocs).keySet
    val expected = perDoc.map { case (id, sp) =>
      val nf = sp.count(frequent)
      id -> ((sp.size, nf, nf * TextAnalysis.T10FlagDen > sp.size))
    }.toMap
    val got = TextAnalysis.t10BoilerplateSpans(s, dir).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getBoolean(3))))
      .toMap
    assert(got == expected)
    // the plant must discriminate end-to-end: every planted doc is
    // boilerplate-flagged, every unplanted word-soup doc is clean
    docs.foreach { case (id, _) =>
      assert(got(id)._3 == (id % TextAnalysis.T10PlantMod == 0),
        s"doc $id: flag ${got(id)._3} vs planted ${id % TextAnalysis.T10PlantMod == 0}")
    }
    assert(docs.exists(_._1 % TextAnalysis.T10PlantMod == 0), "nothing planted")
  }

  test("t11 matches a brute-force span scrub; plant discriminates") {
    import graft.operators.TextAnalysis
    val W = TextAnalysis.T10SpanW
    val docs = graft.Tables.documents(s, dir).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1))
    def toksOf(text: String): Seq[String] =
      text.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
    def grams(toks: Seq[String]): Seq[String] = {
      val m = math.max(toks.length - (W - 1), 1)
      (0 until m).map(i => toks.slice(i, i + W).mkString(" "))
    }
    val perDoc = docs.map { case (id, text) =>
      val t =
        if (id % TextAnalysis.T10PlantMod == 0)
          text + " " + TextAnalysis.T10Footer
        else text
      id -> toksOf(t)
    }
    val frequent = perDoc.flatMap { case (_, toks) => grams(toks).distinct }
      .groupBy(identity).view.mapValues(_.size)
      .filter(_._2 >= TextAnalysis.T10MinDocs).keySet
    val expected = perDoc.map { case (id, toks) =>
      val n = toks.length
      val covered = Array.fill(n)(false)
      grams(toks).zipWithIndex.foreach { case (g, st) =>
        if (frequent(g))
          (st until math.min(st + W, n)).foreach(covered(_) = true)
      }
      val clean = toks.zipWithIndex.collect {
        case (w, i) if !covered(i) => w
      }.mkString(" ")
      id -> ((clean, n, covered.count(identity)))
    }.toMap
    val got = TextAnalysis.t11ScrubBoilerplate(s, dir).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2), r.getInt(3))))
      .toMap
    assert(got == expected)
    // the plant must discriminate end-to-end: every planted doc loses
    // its whole appended footer (24 words, frequent at this SF) and no
    // footer phrase survives; word-soup organic text is untouched on
    // at least some unplanted doc
    val footerLen = TextAnalysis.T10Footer.split(" ").length
    docs.foreach { case (id, _) =>
      if (id % TextAnalysis.T10PlantMod == 0) {
        assert(got(id)._3 >= footerLen,
          s"doc $id: planted footer not fully scrubbed (${got(id)._3})")
        assert(!got(id)._1.contains("click here to subscribe"),
          s"doc $id: footer text survived the scrub")
      }
    }
    assert(docs.exists { case (id, _) =>
      id % TextAnalysis.T10PlantMod != 0 && got(id)._3 == 0
    }, "no unplanted doc survived unmodified")
  }

  test("t11 kernel spelling equals the documented join fallback") {
    val a = graft.operators.TextAnalysis.t11ScrubBoilerplate(s, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3)))
    val b = graft.operators.TextAnalysis.t11ScrubJoinSpelling(s, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3)))
    assert(a.toSeq == b.toSeq)
  }

  test("t11 inventory cache invalidates on re-ingest at the same path") {
    // same contract as t8's model cache: keyed on the corpus
    // FINGERPRINT, so re-ingesting at the same path rebuilds the
    // inventory and the new generation's spans are probed
    import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("t11-reingest").toString
    def ingest(rows: Seq[(Long, String, String, String, Int)]): Unit =
      rows.toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    // five docs (none planted: ids % 9 != 0) sharing one verbatim span
    val shared = "alpha beta gamma delta epsilon"
    val gen1 = (1L to 5L).map(i =>
      (i, s"unique$i filler$i $shared tail$i", "en", "web", 40))
    ingest(gen1)
    Artifacts.clear("text.t11")
    val before = TextAnalysis.t11BuildCount.get()
    val inv1 = TextAnalysis.t11InventoryFor(s, tmp)
    TextAnalysis.t11InventoryFor(s, tmp) // same generation: cache hit
    assert(TextAnalysis.t11BuildCount.get() == before + 1)
    assert(inv1.value.contains(shared))
    // generation 2: a NEW shared span appears in 5 docs
    val shared2 = "zeta eta theta iota kappa"
    ingest(gen1 ++ (6L to 10L).map(i =>
      (i, s"unique$i filler$i $shared2 tail$i", "en", "web", 40)))
    val inv2 = TextAnalysis.t11InventoryFor(s, tmp)
    assert(TextAnalysis.t11BuildCount.get() == before + 2,
      "re-ingested corpus at the same path served a stale inventory")
    assert(inv2.value.contains(shared2),
      "generation-2 inventory missing generation-2 spans")
  }

  test("t8 matches a brute-force bigram frequency model; plant discriminates") {
    import graft.operators.TextAnalysis
    val docs = graft.Tables.documents(s, dir).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1))
    def norm(t: String): String =
      t.replaceAll("\\s+", " ").trim.toLowerCase
    def bigrams(t: String): Seq[String] = {
      val n = norm(t)
      if (n.length < 2) Seq(n)
      else (0 until n.length - 1).map(i => n.substring(i, i + 2))
    }
    val plantedDocs = docs.map { case (id, text) =>
      id -> (if (id % TextAnalysis.T8PlantMod == 0)
        text + " " + (TextAnalysis.T8PlantChunk + " ") * TextAnalysis.T8PlantReps
      else text)
    }
    val perDoc = plantedDocs.map { case (id, t) => id -> bigrams(t) }
    val counts = perDoc.flatMap(_._2).groupBy(identity).view
      .mapValues(_.length.toLong).toMap
    val total = counts.values.sum
    val expected = perDoc.map { case (id, bs) =>
      val nRare = bs.count(b => counts(b) * TextAnalysis.T8RareDen < total)
      id -> ((bs.size, nRare, nRare * TextAnalysis.T8FlagDen > bs.size))
    }.toMap
    val got = TextAnalysis.t8CharlmFilter(s, dir).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getBoolean(3))))
      .toMap
    assert(got == expected)
    // the plant must discriminate: every planted doc atypical, every
    // word-soup doc typical with ZERO rare occurrences (the vocabulary
    // is fixed, so all organic bigrams are frequent)
    docs.foreach { case (id, _) =>
      val planted = id % TextAnalysis.T8PlantMod == 0
      assert(got(id)._3 == planted, s"doc $id flag ${got(id)._3}")
      if (!planted) assert(got(id)._2 == 0, s"doc $id organic rare bigrams")
    }
    assert(docs.exists(_._1 % TextAnalysis.T8PlantMod == 0), "nothing planted")
    // the model is a once-per-corpus trained artifact: a second query
    // against the same corpus must hit the cache, not retrain
    Artifacts.clear("text.t8")
    val before = Artifacts.builds("text.t8").get()
    TextAnalysis.t8CharlmFilter(s, dir).count()
    TextAnalysis.t8CharlmFilter(s, dir).count()
    assert(Artifacts.builds("text.t8").get() == before + 1,
      "t8 model trained more than once for one corpus")
  }

  test("t8 model cache invalidates on re-ingest at the same path") {
    // the s3-centroids / confirmedPairs contract: the cache key is the
    // corpus FINGERPRINT, not the dir string, so re-ingesting a corpus
    // at the same path (file lengths/mtimes change) must retrain — a
    // long-lived JVM can never score against a previous generation's
    // bigram model
    import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("t8-reingest").toString
    def ingest(rows: Seq[(Long, String, String, String, Int)]): Unit =
      rows.toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val gen1 = Seq((1L, "the quick brown fox", "en", "web", 19),
      (2L, "jumps over the lazy dog", "en", "web", 23))
    ingest(gen1)
    Artifacts.clear("text.t8")
    val before = Artifacts.builds("text.t8").get()
    TextAnalysis.t8ModelFor(s, tmp)
    TextAnalysis.t8ModelFor(s, tmp) // same generation: cache hit
    assert(Artifacts.builds("text.t8").get() == before + 1)
    // re-ingest generation 2 at the SAME path with different content;
    // the model must reflect it (not just retrain blindly)
    ingest(gen1 :+ ((3L, "zzqp vkqj gibberish chunk", "en", "web", 25)))
    val m2 = TextAnalysis.t8ModelFor(s, tmp)
    assert(Artifacts.builds("text.t8").get() == before + 2,
      "re-ingested corpus at the same path served a stale model")
    assert(m2.value.counts.containsKey("zq"),
      "generation-2 model missing generation-2 bigrams")
  }

  test("t9 chunks match a driver-side brute force; stride concat rebuilds the doc") {
    val W = TextAnalysis.T9ChunkChars
    val S = TextAnalysis.T9Stride
    val docs = Tables.documents(s, dir).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    def norm(t: String): String = t.replaceAll("\\s+", " ").trim.toLowerCase
    val expected = docs.flatMap { case (id, t) =>
      val n = norm(t)
      (0 to math.max(n.length - 1, 0) by S).zipWithIndex.map { case (off, i) =>
        (id, i, off, n.substring(off, math.min(off + W, n.length)))
      }
    }.toSet
    val rows = TextAnalysis.t9DocChunks(s, dir).collect()
    val got = rows.map(r =>
      (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3))).toSet
    assert(got == expected)
    rows.foreach(r => assert(r.getInt(4) == r.getString(3).length,
      s"chunk_len mismatch for doc ${r.getLong(0)}"))
    // coverage: the stride-wide prefix of each chunk, concatenated in
    // chunk order, rebuilds the normalized doc exactly (overlap is
    // redundancy, not loss)
    val byDoc = rows.groupBy(_.getLong(0))
    docs.foreach { case (id, t) =>
      val rebuilt = byDoc(id).sortBy(_.getInt(1))
        .map(_.getString(3).take(S)).mkString
      assert(rebuilt == norm(t), s"doc $id stride-concat mismatch")
    }
    // overlap really exists: some doc yields 2+ chunks whose adjacent
    // windows share W - S chars
    assert(byDoc.values.exists(_.length > 1), "no doc produced 2+ chunks")
  }

  test("t8 kernel spelling equals the documented broadcast-join fallback") {
    // the fallback (for an alphabet whose observed-bigram table outgrew
    // a broadcast) must be semantically interchangeable with the shipped
    // kernel: identical (doc_id, n_bigrams, n_rare, is_atypical) rows
    def key(r: org.apache.spark.sql.Row) =
      r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getBoolean(3)))
    val kernel = TextAnalysis.t8CharlmFilter(s, dir).collect().map(key).toMap
    val joined = TextAnalysis.t8CharlmFilterJoinSpelling(s, dir)
      .collect().map(key).toMap
    assert(kernel.nonEmpty && kernel == joined)
  }

  test("t12 rules fire where planted and the verdict is their conjunction") {
    val rows = TextAnalysis.t12GopherRules(s, dir).collect()
    assert(rows.nonEmpty)
    val modA = TextAnalysis.T12PlantModA
    val modB = TextAnalysis.T12PlantModB
    rows.foreach { r =>
      val id = r.getLong(0)
      val (rWords, rMean, rSym, rBul, rEll, rAlpha, rStop, passes) =
        (r.getBoolean(9), r.getBoolean(10), r.getBoolean(11),
          r.getBoolean(12), r.getBoolean(13), r.getBoolean(14),
          r.getBoolean(15), r.getBoolean(16))
      assert(passes == (rWords && rMean && rSym && rBul && rEll &&
        rAlpha && rStop), s"doc $id: verdict is not the conjunction")
      val (plantA, plantB) = (id % modA == 0, id % modB == 0)
      if (plantA) {
        assert(!rSym, s"doc $id: plant A must trip the symbol rule")
        // A+B docs have 15 lines, so 2 ellipsis-ends (13%) pass there
        if (!plantB)
          assert(!rEll, s"doc $id: plant A must trip the ellipsis rule")
      }
      if (plantB && !plantA)
        // 10 of 11 lines are bullets (90.9% > 90%); A+B docs have 15
        // lines and legitimately pass
        assert(!rBul, s"doc $id: pure plant B must trip the bullet rule")
      if (!plantA && !plantB) {
        assert(rSym && rBul && rEll,
          s"doc $id: unplanted doc tripped a line/symbol rule")
        assert(r.getInt(2) == 1, s"doc $id: unplanted doc is single-line")
      }
    }
    // the battery must discriminate: both verdicts present, and the
    // word-count floor fails some docs naturally (10..99-word corpus)
    assert(rows.exists(_.getBoolean(16)) && rows.exists(!_.getBoolean(16)))
    assert(rows.exists(!_.getBoolean(9)) && rows.exists(_.getBoolean(9)))
  }

  test("t13 normalization: NFC composes, runs collapse, changed varies") {
    val rows = TextAnalysis.t13Normalize(s, dir).collect()
    val docs = Tables.documents(s, dir).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.length == docs.size)
    val pre = "\u00e9clair" // NFC form of both T13Deco spellings
    rows.foreach { r =>
      val (id, nRaw, nNorm) = (r.getLong(0), r.getInt(1), r.getInt(2))
      val (changed, norm) = (r.getInt(3), r.getString(4))
      // decomposed-prefix docs must come back composed: the prefix
      // byte-changes, so changed=1 and the norm starts precomposed
      if (id % 3 == 0) {
        assert(norm.startsWith(pre) && changed == 1, s"doc $id")
        assert(nNorm < nRaw, s"doc $id: compose+collapse must shrink")
      }
      // precomposed prefix + plain space + ASCII text is already
      // normalized — the ONLY unchanged class
      if (id % 3 == 1 && id % 2 == 1) {
        assert(changed == 0 && nNorm == nRaw, s"doc $id")
        assert(norm == pre + " " + docs(id), s"doc $id: must be identity")
      } else assert(changed == 1, s"doc $id")
      // planted tab gap always collapses to a single space
      assert(!norm.contains("\t") && !norm.contains("  "), s"doc $id")
    }
    assert(rows.exists(_.getInt(3) == 0) && rows.exists(_.getInt(3) == 1))
  }

  test("t14 url_canon kernel equals the composed regexp/HOF spelling " +
      "on gate URLs and an adversarial planted set") {
    import org.apache.spark.sql.functions._
    graft.functions.GraftFunctions.register(s)
    // gate corpus URLs
    val gate = TextAnalysis.t14UrlCanonicalize(s, dir)
      .withColumn("composed", expr(TextAnalysis.t14CanonSql("url", spark = true)))
    assert(gate.filter(col("canon") =!= col("composed")).count() == 0,
      "kernel diverged from the composed spelling on a gate URL")
    // adversarial plants: every branch of the grammar
    val plants = Seq(
      "no-scheme.com/path",                         // identity: no scheme
      "",                                           // identity: empty
      "://x",                                       // identity: empty scheme
      "1http://x/",                                 // identity: bad first char
      "HTTPS://EXAMPLE.COM",                        // bare host -> '/'
      "http://h:8080",                              // non-default port kept
      "http://h:80/a/",                             // default port stripped
      "https://h:443/x//",                          // multi trailing slash
      "https://h/?utm_source=1&utm_medium=2",       // tracking-only query
      "https://h/p?z=1&a=2&a=1#frag",               // sort + dup params
      "https://h:/p",                               // dangling colon
      "https://h/p?=v&&x",                          // degenerate params
      "ftp://H:21/P",                               // other scheme: port kept
      "http://h#f?notquery",                        // '#' before '?'
      "https://h/p?refresh=1&ref=drop",             // prefix vs param name
      "https://h/p?utm_=x",                         // bare 'utm_' prefix
      "hT+p.s://Host/A b")                          // odd-but-legal scheme
    import s.implicits._
    val pdf = plants.toDF("url")
      .withColumn("kernel", expr("url_canon(url)"))
      .withColumn("composed", expr(TextAnalysis.t14CanonSql("url", spark = true)))
      .collect()
    pdf.foreach { r =>
      assert(r.getString(1) == r.getString(2),
        s"kernel '${r.getString(1)}' != composed '${r.getString(2)}' " +
          s"for input '${r.getString(0)}'")
    }
    val byUrl = pdf.map(r => r.getString(0) -> r.getString(1)).toMap
    assert(byUrl("no-scheme.com/path") == "no-scheme.com/path")
    assert(byUrl("HTTPS://EXAMPLE.COM") == "https://example.com/")
    assert(byUrl("http://h:8080") == "http://h:8080/")
    assert(byUrl("http://h:80/a/") == "http://h/a")
    assert(byUrl("https://h/?utm_source=1&utm_medium=2") == "https://h/")
    assert(byUrl("https://h/p?z=1&a=2&a=1#frag") == "https://h/p?a=1&a=2&z=1")
    assert(byUrl("https://h/p?refresh=1&ref=drop") == "https://h/p?refresh=1")
    assert(byUrl("ftp://H:21/P") == "ftp://h:21/P")
  }

  test("d13 collapses every doc's two spellings to one key; keeper is " +
      "the integer-argmin pair; planted cross-doc groups exist") {
    import org.apache.spark.sql.functions._
    // every doc's v0/v1 canonicalize identically
    val perDoc = TextAnalysis.t14UrlCanonicalize(s, dir)
      .groupBy("doc_id").agg(countDistinct("canon").as("nc")).collect()
    assert(perDoc.forall(_.getLong(1) == 1L),
      "a doc's messy and clean spellings did not collapse")
    val groups = graft.operators.TextAnalysis.d13UrlDedup(s, dir).collect()
    assert(groups.forall(_.getAs[Long]("n_dupes") >= 2L))
    // the %11 family loses the doc_id path segment -> genuine
    // cross-document duplicate URLs
    assert(groups.exists(_.getAs[Long]("n_docs") >= 2L),
      "expected planted cross-doc URL collisions")
    // keeper decomposition is consistent: keeper_doc carries the group
    // minimum doc among members (spot-check via t14 membership)
    val membership = TextAnalysis.t14UrlCanonicalize(s, dir)
      .groupBy("canon").agg(min(col("doc_id") * 2 + col("variant")).as("mk"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    groups.foreach { g =>
      val mk = membership(g.getAs[String]("canon"))
      assert(g.getAs[Long]("keeper_doc") == mk / 2 &&
        g.getAs[Long]("keeper_variant") == mk % 2)
    }
  }

  test("t16 keywords match a driver TF-IDF replay; stopwords excluded; " +
      "the rank cut plans as WindowGroupLimit") {
    import org.apache.spark.sql.functions._
    val q = TextAnalysis.t16Keywords(s, dir)
    val out = q.collect().map(r => (r.getLong(0), r.getInt(5)) ->
      ((r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // driver replay over the raw corpus
    val docs = graft.Tables.documents(s, dir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val stop = graft.operators.Relational.stopwords.toSet
    val tf = docs.flatMap { case (id, t) =>
      t.split(" ").filter(w => w.nonEmpty && !stop(w)).map(w => (id, w))
    }.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val df = tf.keys.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val n = docs.length.toLong
    def idfMicro(d: Long): Long = {
      val r = BigDecimal(math.log(n.toDouble / d.toDouble))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      math.floor(r * 1000000.0 + 0.5).toLong
    }
    val expected = tf.toSeq
      .map { case ((id, w), f) => (id, w, f, df(w), f * idfMicro(df(w))) }
      .groupBy(_._1).flatMap { case (id, rows) =>
        rows.sortBy(t => (-t._5, t._2)).take(TextAnalysis.T16TopK)
          .zipWithIndex.map { case ((_, w, f, d, sc), i) =>
            (id, i + 1) -> ((w, f, d, sc)) }
      }
    assert(out == expected)
    assert(out.values.forall(v => !stop(v._1)), "no stopword keyword")
    // scale shape: the per-doc rank cut must prune map-side
    assert(q.queryExecution.executedPlan.toString
      .contains("WindowGroupLimit"))
  }

  test("t17 kernel scoring is bit-identical to the composed join " +
      "spelling and the grid trains once per corpus") {
    Artifacts.clear("text.t17")
    val before = Artifacts.builds("text.t17").get()
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    def kernelRows() = rows(
      Artifacts.scoped(s, "spec.t17")(TextAnalysis.t17NllKernel(_, dir)))
    val kernel = kernelRows()
    assert(Artifacts.builds("text.t17").get() == before + 1)
    val join = rows(TextAnalysis.t17NllJoinSpelling(s, dir))
    assert(kernel.nonEmpty && kernel == join,
      s"kernel/join drift: ${(kernel -- join).take(3)} vs " +
        s"${(join -- kernel).take(3)}")
    // second kernel call: cache hit, no retrain
    kernelRows()
    assert(Artifacts.builds("text.t17").get() == before + 1)
  }

  test("t17 and c25 aggregate the nll histogram once") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    Seq("t17_ccnet_ppl", "c25_curriculum").foreach { q =>
      val df = SparkEntry.queries(q)(s, dir)
      df.collect()
      // reused exchanges are leaves here, so each exchange counts once
      val hist = TestSpark.flattenPlan(df.queryExecution.executedPlan)
        .collect { case e: ShuffleExchangeExec => e.outputPartitioning }
        .count(_.toString.startsWith("hashpartitioning(nll_micro"))
      assert(hist == 1, s"$q:\n${df.queryExecution.executedPlan}")
    }
  }

  test("t17 ccnet terciles match a driver bigram-LM replay; planted " +
      "docs land in the tail; tercile masses honor nearest-rank") {
    import org.apache.spark.sql.functions._
    val out = TextAnalysis.t17CcnetPpl(s, dir).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // driver replay: same planting, hashing, smoothing, rank rule
    val md = java.security.MessageDigest.getInstance("MD5")
    def bucket(w: String): Int = {
      val h = md.digest(w.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      Integer.parseInt(h.substring(0, 3), 16) % TextAnalysis.T17Buckets
    }
    val docs = graft.Tables.documents(s, dir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val planted = docs.map { case (id, t) =>
      val pt = if (id % TextAnalysis.T17PlantMod == 0)
        (t +: (1 to TextAnalysis.T17PlantK).map(k => s"zq${id}x$k"))
          .mkString(" ")
      else t
      id -> pt.split(" ").filter(_.nonEmpty).map(bucket)
    }.filter(_._2.length >= 2)
    val pairRows = planted.flatMap { case (id, bs) =>
      bs.sliding(2).map(p => (id, p(0), p(1))) }
    val bc = pairRows.groupBy(p => (p._2, p._3))
      .view.mapValues(_.length.toLong).toMap
    val uc = bc.toSeq.groupBy(_._1._1)
      .view.mapValues(_.map(_._2).sum).toMap
    def lpMicro(pb: Int, cb: Int): Long = {
      val raw = math.log((bc((pb, cb)) + 1.0) /
        (uc(pb) + TextAnalysis.T17Buckets.toDouble))
      val r = BigDecimal(raw)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      math.floor(r * 1000000.0 + 0.5).toLong
    }
    val nll = pairRows.groupBy(_._1).map { case (id, ps) =>
      id -> ((ps.length.toLong,
        -ps.map(p => lpMicro(p._2, p._3)).sum / ps.length)) }
    val nd = nll.size.toLong
    val sorted = nll.values.map(_._2).toSeq.sorted
    def thr(pct: Long): Long = {
      var cum = 0L
      sorted.distinct.find { v =>
        cum = sorted.count(_ <= v); cum * 100 >= nd * pct }.get
    }
    val (t33, t67) = (thr(33), thr(67))
    val expected = nll.map { case (id, (n, v)) =>
      id -> ((n, v,
        if (v <= t33) "head" else if (v <= t67) "middle" else "tail")) }
    assert(out == expected)
    // the plant discriminates: every planted doc is tail (40
    // once-in-the-corpus transitions dominate its average)
    val plantedIds = docs.map(_._1)
      .filter(_ % TextAnalysis.T17PlantMod == 0).toSet
    assert(plantedIds.nonEmpty &&
      plantedIds.forall(id => out(id)._3 == "tail"))
    // nearest-rank masses: head holds >= 33% and head+middle >= 67%,
    // neither overshoots by more than the largest tie group
    val nHead = out.values.count(_._3 == "head").toLong
    val nMid = out.values.count(_._3 == "middle").toLong
    assert(nHead * 100 >= nd * 33 && (nHead + nMid) * 100 >= nd * 67)
    assert((nHead - 1) * 100 < nd * 33 ||
      out.values.count(_._2 == t33) > 1)
  }

  test("t18 drift matches a driver KL replay; the staged revision " +
      "marker is the top mover; the total row sums the full vocab") {
    import org.apache.spark.sql.functions._
    val out = TextAnalysis.t18KlDrift(s, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    def toks(df: org.apache.spark.sql.DataFrame): Seq[String] = df
      .select("text").collect().flatMap(r =>
        Option(r.getString(0)).toSeq.flatMap(
          _.split(" ").filter(_.nonEmpty))).toSeq
    val w1 = toks(graft.Tables.documents(s, dir))
    val w2 = toks(s.read.parquet(
      graft.operators.Curation.c12SnapshotPath(s, dir)))
    val m1 = w1.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val m2 = w2.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val vocab = (m1.keySet ++ m2.keySet).toSeq
    val (n1, n2, v) = (w1.length.toLong, w2.length.toLong,
      vocab.length.toLong)
    def contrib(word: String): Long = {
      val p = (m1.getOrElse(word, 0L) + 1).toDouble / (n1 + v)
      val q = (m2.getOrElse(word, 0L) + 1).toDouble / (n2 + v)
      val lnr = BigDecimal(math.log(p / q))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      math.floor(p * lnr * 1e9 + 0.5).toLong
    }
    val all = vocab.map(w =>
      (w, m1.getOrElse(w, 0L), m2.getOrElse(w, 0L), contrib(w)))
    val movers = all.sortBy(t => (-math.abs(t._4), t._1))
      .take(TextAnalysis.T18TopK)
    val total = ("~total", all.map(_._2).sum, all.map(_._3).sum,
      all.map(_._4).sum)
    assert(out.toSeq == (movers :+ total).sortBy(_._1))
    // the planted revision marker registers: v2-only (v1 count 0),
    // negative contribution (p at the smoothing floor, q above it).
    // It does NOT top the movers — a rare token's p·ln(p/q) is tiny
    // next to a common token's small ratio shift, which is exactly
    // why a drift monitor reports contributions, not raw novelty.
    val marker = all.find(_._1 == "[rev2]").get
    assert(marker._2 == 0L && marker._3 > 0L && marker._4 < 0L)
    // drift is genuinely nonzero and the total row carries it
    assert(out.find(_._1 == "~total").get._4 != 0L)
  }

  test("t19 packing manifest: sequences full except the shard tail, " +
    "pieces tile every document, tokens conserved") {
    val L = TextAnalysis.T19SeqLen
    val rows = TextAnalysis.t19SeqPack(s, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))) // shard, seq, doc, start, len, off
    assert(rows.nonEmpty)

    // per-document ws-token counts, replayed driver-side (t3 spelling)
    val tok = graft.Tables.documents(s, dir)
      .selectExpr("doc_id",
        "size(filter(split(text, ' '), t -> t <> '')) AS tok").collect()
      .map(r => r.getLong(0) -> r.getInt(1).toLong).toMap

    // every piece sits inside its sequence and inside its document
    rows.foreach { case (_, _, doc, start, len, off) =>
      assert(len > 0 && start >= 0 && off >= 0 && off + len <= L)
      assert(start + len <= tok(doc))
    }
    // every sequence is exactly full except the last of its shard
    val lastSeq = rows.groupBy(_._1).map { case (sh, rs) =>
      sh -> rs.map(_._2).max }
    rows.groupBy(r => (r._1, r._2)).foreach { case ((sh, seq), rs) =>
      val filled = rs.map(_._5).sum
      if (seq != lastSeq(sh)) assert(filled == L,
        s"shard $sh seq $seq holds $filled of $L tokens")
      else assert(filled <= L)
      // pieces tile the sequence contiguously from offset 0
      val sorted = rs.sortBy(_._6)
      assert(sorted.head._6 == 0)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._6 + a._5 == b._6, "gap in sequence")
        case _ =>
      }
    }
    // pieces of one document are contiguous slices covering [0, tok)
    rows.groupBy(_._3).foreach { case (doc, rs) =>
      val sorted = rs.sortBy(_._4)
      assert(sorted.head._4 == 0L)
      assert(sorted.map(_._5).sum == tok(doc), s"doc $doc not fully packed")
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._4 + a._5 == b._4, "gap in doc slices")
        case _ =>
      }
      // consecutive doc pieces land on consecutive sequences of one shard
      assert(rs.map(_._1).distinct.length == 1)
      val seqs = rs.sortBy(_._4).map(_._2)
      seqs.sliding(2).foreach {
        case Array(a, b) => assert(b == a + 1)
        case _ =>
      }
    }
    // nothing lost: every doc with tokens appears
    assert(rows.map(_._3).toSet == tok.filter(_._2 > 0).keySet)
  }
}
