package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Bpe

class BpeSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val dir = TestSpark.SfDir

  test("trainer reproduces the classic BPE hand example") {
    // Sennrich-style toy vocab: pair counts are dominated by 'es'
    // (9+6), then 'est' ... — verify the first merges by hand.
    // low×5 lower×2 newest×6 widest×3
    val wc = Array(("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L))
    val merges = Bpe.train(wc)
    // pair counts step 1: (e,s) 9, (s,t) 9, (l,o) 7, (o,w) 7, (w,e) 8,
    // (e,r) 2, (n,e) 6, (e,w) 6, (w,i) 3, (i,d) 3, (d,e) 3
    // argmax ties (e,s)=(s,t)=9 → lexicographic smallest (e,s)
    assert((merges(0).lhs, merges(0).rhs, merges(0).cnt) == ("e", "s", 9L))
    // step 2: 'es' now a symbol; (es,t) has 9 — next merge
    assert((merges(1).lhs, merges(1).rhs, merges(1).cnt) == ("es", "t", 9L))
    // step 3: (w,e) dropped to 2 ('newest' consumed its e); (l,o)/(o,w) 7
    assert((merges(2).lhs, merges(2).rhs, merges(2).cnt) == ("l", "o", 7L))
    assert(merges.map(_.step) == (1 to Bpe.BpeMerges))
  }

  test("list-merge semantics equal the double-replace spelling on runs") {
    // 'aaaa' exercises the consecutive-same-pair case where ONE string
    // replace pass diverges (shared separating space): list semantics
    // give [aa, aa]; the operator's double-replace chain must agree
    import s.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft-bpe").toString
    // every text twice (distinct ids): all words clear the BpeMinFreq
    // floor, so the floored trainer sees the same vocabulary shape
    val docs = Seq(
      (0L, "aaaa aaa aa"), (1L, "aaaa aaaa baab"), (2L, "ab ba aaab"),
      (3L, "aaaa aaa aa"), (4L, "aaaa aaaa baab"), (5L, "ab ba aaab"))
    docs.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    val merges = Bpe.mergesFor(s, out)
    assert((merges.head.lhs, merges.head.rhs) == ("a", "a"),
      s"(a,a) must dominate this corpus: $merges")
    // driver-side ground truth with explicit list semantics
    def applyAll(w: String): Int = {
      var syms = w.toCharArray.map(_.toString)
      merges.foreach { m =>
        val outB = scala.collection.mutable.ArrayBuffer[String]()
        var i = 0
        while (i < syms.length) {
          if (i < syms.length - 1 && syms(i) == m.lhs && syms(i + 1) == m.rhs) {
            outB += m.lhs + m.rhs; i += 2
          } else { outB += syms(i); i += 1 }
        }
        syms = outB.toArray
      }
      syms.length
    }
    val expect = docs.map { case (id, text) =>
      id -> text.split(" ").filter(_.nonEmpty).map(applyAll).sum
    }.toMap
    val got = Bpe.c10BpeTokenize(s, out).collect()
      .map(r => r.getLong(0) -> r.getInt(3)).toMap
    assert(got == expect, s"got $got expect $expect")
  }

  test("non-BMP words segment by code point and ties break in " +
    "code-point (UTF-8 byte) order, not UTF-16 order") {
    // U+1D54F (supplementary, surrogate pair 0xD835 0xDD4F) vs U+FFFD
    // (BMP): UTF-16 code-UNIT compare says 𝕏 < U+FFFD (0xD835 < 0xFFFD)
    // while code-point / UTF-8 byte order — what DuckDB's binary
    // collation gives the replay oracle's ORDER BY — says the reverse.
    // A tied argmax between the two is exactly where the retired
    // toCharArray/String-compare trainer diverged from the oracle.
    val X = new String(Character.toChars(0x1D54F))
    val R = "\uFFFD"
    val filler = "qrstuvwx" // 7 count-1 pairs to feed merges 3-6
    val merges = Bpe.train(Array((X + "a", 10L), (R + "a", 10L),
      (filler, 1L)))
    // tie at count 10: code-point order picks (U+FFFD, a) first
    assert((merges(0).lhs, merges(0).rhs, merges(0).cnt) == (R, "a", 10L))
    // the surrogate-pair symbol survives segmentation WHOLE — the
    // UTF-16 code-unit split would have produced two lone surrogates
    // and the pair (𝕏, a) could never form
    assert((merges(1).lhs, merges(1).rhs, merges(1).cnt) == (X, "a", 10L))
    assert(merges(1).lhs.codePointCount(0, merges(1).lhs.length) == 1)
  }

  test("static oracle inlines the most recently USED corpus when two " +
    "train in one JVM") {
    import org.apache.spark.sql.functions._
    // second corpus with different merge statistics than the gate dir
    val out = java.nio.file.Files.createTempDirectory("graft-bpe2").toString
    val sess = s
    import sess.implicits._
    val texts = Seq.tabulate(40)(i =>
      (i.toLong, "zebra zebra quilt quilt jumble jumble frozen frozen"))
    texts.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    val a = Bpe.oracleFor(s, dir)    // trains/touches the gate corpus
    val b = Bpe.oracleFor(s, out)    // trains/touches the second corpus
    assert(a("c10_bpe_tokenize") != b("c10_bpe_tokenize"),
      "corpora trained identical merges — the staleness check is vacuous")
    // the static form must resolve the LAST corpus touched, both ways;
    // an access-ordered LRU's first entry is the LEAST recent — the
    // retired values().next() spelling returned `a` here
    assert(Bpe.oracle("c10_bpe_tokenize") == b("c10_bpe_tokenize"))
    Bpe.mergesFor(s, dir) // cache hit still counts as a USE
    assert(Bpe.oracle("c10_bpe_tokenize") == a("c10_bpe_tokenize"))
  }

  test("frequency floor and vocab cap bound the collected vocabulary") {
    import s.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft-bpecap").toString
    Seq((0L, "tok_a tok_a tok_b tok_b tok_b once1"),
        (1L, "tok_c tok_c once2"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    // floor binds: the two singleton words never reach the driver
    val floored = Bpe.wordCounts(s, out).toSeq
    assert(floored.toSet == Set(("tok_b", 3L), ("tok_a", 2L), ("tok_c", 2L)),
      s"floor must drop once1/once2: $floored")
    // cap binds, in (count DESC, word) order — ties cut by word, the
    // same binary collation the SQL replay oracle's QUALIFY uses
    val capped = Bpe.wordCounts(s, out, cap = 2).toSeq
    assert(capped.toSet == Set(("tok_b", 3L), ("tok_a", 2L)),
      s"cap=2 must keep tok_b then tok_a: $capped")
    // and a floor of 1 really is the uncapped spelling (3 + 2 words)
    val unfloored = Bpe.wordCounts(s, out, minFreq = 1L)
    assert(unfloored.length == 5)
  }

  test("merges train once per corpus and piece counts shrink monotonically") {
    Artifacts.clear("bpe.merges")
    val before = Artifacts.builds("bpe.merges").get()
    Bpe.c10BpeMerges(s, dir).collect()
    val rows = Bpe.c10BpeTokenize(s, dir).collect()
    assert(Artifacts.builds("bpe.merges").get() == before + 1,
      "second call must cache-hit")
    rows.foreach { r =>
      val (nw, nc, np) = (r.getInt(1), r.getInt(2), r.getInt(3))
      assert(np <= nc, "merging can only reduce pieces")
      assert(np >= nw, "a word is never fewer than one piece")
    }
    // the corpus really exercises merging: strictly fewer pieces than chars
    assert(rows.map(_.getInt(3)).sum < rows.map(_.getInt(2)).sum)
  }

  test("c32 fertility: per-source sums restate the per-doc tokenize " +
      "counts exactly and the milli ratios are the floored quotients") {
    import org.apache.spark.sql.functions.col
    val out = Bpe.c32BpeFertility(s, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    assert(out.nonEmpty)
    // replay the aggregation from the ALREADY-GATED per-doc counts:
    // same merge chain => the report cannot drift from the tokenizer
    val src = Tables.documents(s, dir).select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val perDoc = Bpe.c10BpeTokenize(s, dir).collect()
      .map(r => (src(r.getLong(0)), r.getInt(1).toLong, r.getInt(2).toLong,
        r.getInt(3).toLong))
    val want = perDoc.groupBy(_._1).view.mapValues { g =>
      (g.map(_._2).sum, g.map(_._3).sum, g.map(_._4).sum)
    }.toMap
    assert(out.keySet == want.keySet)
    want.foreach { case (source, (nw, nc, np)) =>
      val (gnw, gnc, gnp, ppw, cpp) = out(source)
      assert((gnw, gnc, gnp) == (nw, nc, np), s"$source sums drift")
      assert(ppw == 1000 * np / nw, s"$source pieces/word ratio")
      assert(cpp == 1000 * nc / np, s"$source chars/piece ratio")
      // fertility sanity: a word is at least one piece, a piece at
      // least one char
      assert(ppw >= 1000 && cpp >= 1000)
    }
  }
}
