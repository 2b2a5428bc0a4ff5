package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DataTypes, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Native per-row text-hash kernels for the dedup/fingerprint operators.
  *
  * These replace nested higher-order-function expressions which Spark
  * evaluates interpreted (per-element closures, no codegen) — profiled as
  * the dominant cost of d2/d3/t4. Each kernel is one tight JVM loop,
  * invoked from whole-stage codegen via a static call, and reproduces the
  * DuckDB oracle SQL formulation bit-for-bit (the SQL mirrors live next
  * to each operator in graft.operators).
  */
object TextHashKernels {
  private val hexChars = "0123456789abcdef".toCharArray

  // MessageDigest.getInstance allocates per call; digests are reusable
  // after digest() resets them, so keep one per executor thread
  private val md5Local: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  private def md5hex(bytes: Array[Byte]): Array[Char] = {
    val d = md5Local.get().digest(bytes)
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = hexChars((d(i) >> 4) & 0xf)
      out(2 * i + 1) = hexChars(d(i) & 0xf)
      i += 1
    }
    out
  }

  /** Lower-case hex of the 16-byte digest at `d(off until off + 16)`,
    * as ASCII bytes written to `out` from `at`. [[md5hex]] keeps its
    * own loop so that [[minhashMin]], the reference the fused minhash
    * kernels are checked against, shares no encoding code with them. */
  private def hexInto(d: Array[Byte], off: Int, out: Array[Byte], at: Int): Unit = {
    var b = 0
    while (b < 16) {
      out(at + 2 * b) = hexChars((d(off + b) >> 4) & 0xf).toByte
      out(at + 2 * b + 1) = hexChars(d(off + b) & 0xf).toByte
      b += 1
    }
  }

  /** The `n` minimal digests of [[minhashSig]], flat: bytes
    * `16j until 16j + 16` are seed j's winning md5. Minimizing raw
    * digests as unsigned bytes is the same order as minimizing their
    * fixed-width lower-case hex strings ('0'..'9' < 'a'..'f' in ASCII,
    * one nibble per char), so only the winners are ever hex-encoded;
    * the candidate digests are written into one scratch buffer. */
  private def minhashDigests(shingles: ArrayData, n: Int): Array[Byte] = {
    val m = shingles.numElements()
    val md = md5Local.get()
    val prefixes = Array.tabulate(n)(j => (j.toString + "|").getBytes("UTF-8"))
    val best = new Array[Byte](16 * n)
    val d = new Array[Byte](16)
    var i = 0
    while (i < m) {
      val sh = shingles.getUTF8String(i).getBytes
      var j = 0
      while (j < n) {
        md.update(prefixes(j))
        md.update(sh)
        md.digest(d, 0, 16)
        if (i == 0 || java.util.Arrays.compareUnsigned(
            d, 0, 16, best, 16 * j, 16 * j + 16) < 0)
          System.arraycopy(d, 0, best, 16 * j, 16)
        j += 1
      }
      i += 1
    }
    best
  }

  /** All `n` minhash coordinates in ONE pass over the shingle array:
    * element j equals [[minhashMin]](shingles, "j") — md5("<j>|"+shingle)
    * minimized lexicographically — but each shingle's bytes are
    * materialized once and fed to the n digests, instead of n separate
    * array traversals with n conversions each. The minima are kept as
    * raw digests (see [[minhashDigests]]) and hex-encoded once each. */
  def minhashSig(shingles: ArrayData, n: Int): ArrayData = {
    if (shingles.numElements() == 0) return null
    val best = minhashDigests(shingles, n)
    val out = new Array[Any](n)
    var j = 0
    while (j < n) {
      val hex = new Array[Byte](32)
      hexInto(best, 16 * j, hex, 0)
      out(j) = UTF8String.fromBytes(hex)
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** SimHash over the md5 of each token: bit j (0..59) of the fingerprint
    * is the sign of Σ_tokens (±1 from bit (j%4) of hex digit 15-(j/4) of
    * md5(token)) — exactly DuckDB's
    * `(strpos('0123456789abcdef', substr(md5(t),15-(j//4),1))-1 >> (j%4)) & 1`. */
  def simhash60(toks: ArrayData): Long = {
    val counts = new Array[Int](60)
    val n = toks.numElements()
    var t = 0
    while (t < n) {
      val hex = md5hex(toks.getUTF8String(t).getBytes)
      var j = 0
      while (j < 60) {
        // 1-indexed hex position 15-(j/4)  →  0-indexed 14-(j/4)
        val v = Character.digit(hex(14 - j / 4), 16)
        counts(j) += (if (((v >> (j % 4)) & 1) == 1) 1 else -1)
        j += 1
      }
      t += 1
    }
    var fp = 0L
    var j = 0
    while (j < 60) {
      if (counts(j) > 0) fp |= (1L << j)
      j += 1
    }
    fp
  }

  /** Lexicographic min over shingles of md5("<seed>|" + shingle) — one
    * minhash coordinate; equals DuckDB's
    * `list_min(list_transform(shingles, x -> md5(seed || '|' || x)))`. */
  def minhashMin(shingles: ArrayData, seed: UTF8String): UTF8String = {
    val n = shingles.numElements()
    if (n == 0) return null
    val prefix = (seed.toString + "|").getBytes("UTF-8")
    var best: String = null
    var i = 0
    while (i < n) {
      val sh = shingles.getUTF8String(i).getBytes
      val buf = new Array[Byte](prefix.length + sh.length)
      System.arraycopy(prefix, 0, buf, 0, prefix.length)
      System.arraycopy(sh, 0, buf, prefix.length, sh.length)
      val hex = new String(md5hex(buf))
      if (best == null || hex.compareTo(best) < 0) best = hex
      i += 1
    }
    UTF8String.fromString(best)
  }

  /** Word 3-gram shingles over a token array — equals the HOF spelling
    * `transform(sequence(1, greatest(size(toks)-2, 1)),
    *            i -> array_join(slice(toks, i, 3), ' '))`
    * and DuckDB's `list_transform(generate_series(1, greatest(len(toks)-2,1)),
    * i -> array_to_string(toks[i:i+2], ' '))`, including the degenerate
    * cases (0 tokens → [""], 1–2 tokens → one shingle of the full text). */
  def wordShingles3(toks: ArrayData): ArrayData = wordShingles(toks, 3)

  /** Character `w`-gram shingles — the char-level analog of
    * [[wordShingles]] (t8's bigram frequency filter trains on w = 2).
    * Positions are character indices (code-point safe), mirroring
    * DuckDB's substr; strings shorter than `w` chars yield the whole
    * string as a single shingle. Char boundaries are computed in ONE
    * byte pass — the substring-per-position spelling re-scans from the
    * string start on every call (UTF8String.substring is O(position)),
    * turning the walk quadratic in doc length. Each shingle is a fresh
    * byte copy (never a view into the row buffer, which Spark reuses). */
  def charShingles(s: UTF8String, w: Int): ArrayData = {
    val nb = s.numBytes()
    // one pass: byte offset of each char start, plus the terminal nb
    val offs = new Array[Int](nb + 2)
    var n = 0
    var b = 0
    while (b < nb) {
      offs(n) = b
      b += UTF8String.numBytesForFirstByte(s.getByte(b))
      n += 1
    }
    offs(n) = nb
    val bytes = s.getBytes
    val m = math.max(n - (w - 1), 1)
    val out = new Array[UTF8String](m)
    var i = 0
    while (i < m) {
      val end = offs(math.min(i + w, n))
      out(i) = UTF8String.fromBytes(
        java.util.Arrays.copyOfRange(bytes, offs(i), end))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      out.asInstanceOf[Array[Any]])
  }

  /** Scan-local scorer for t8's bigram frequency filter: ONE byte pass
    * over the string's character bigrams (same code-point segmentation
    * as [[charShingles]] w = 2, including the shorter-than-2 clamp to
    * one whole-string shingle), counting positions that are RARE under
    * the broadcast [[BigramModel]]. A bigram absent from the model
    * counts 0 — maximally rare — though a model trained on the same
    * corpus always contains every bigram it is asked about. Returns
    * struct<n_bigrams:int, n_rare:int>.
    *
    * Hot path: an ASCII/ASCII bigram (the entirety of normalized
    * natural-language text in a Latin corpus) costs two byte loads and
    * one bitset probe — no substring, no String, no HashMap. The
    * first spelling probed a String-keyed HashMap via
    * `substring(i, i+2)` per position: O(position) re-scan each call
    * (quadratic per doc) plus two allocations per bigram — measured
    * ~870 ns/bigram vs single-digit ns for the bitset walk. Multibyte
    * bigrams take a transient zero-copy view decoded to a String for
    * the spill-set probe. */
  def rareBigramStats(s: UTF8String,
      model: BigramModel): org.apache.spark.sql.catalyst.InternalRow = {
    val nb = s.numBytes()
    if (nb == 0)
      return new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](1, if (model.isRareKey("")) 1 else 0))
    val base = s.getBaseObject
    val off = s.getBaseOffset
    var i = 0
    var l1 = UTF8String.numBytesForFirstByte(s.getByte(0))
    if (l1 >= nb) // single char (possibly multibyte): one whole-string shingle
      return new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](1, if (model.isRareKey(s.toString)) 1 else 0))
    var m = 0
    var rare = 0
    while (i + l1 < nb) {
      val j = i + l1
      val b1 = s.getByte(i)
      val b2 = s.getByte(j)
      val l2 = UTF8String.numBytesForFirstByte(b2)
      if (b1 >= 0 && b2 >= 0) { // ASCII/ASCII: bitset probe
        if (model.isRareIdx((b1 << 7) | b2)) rare += 1
      } else { // multibyte (or malformed — decoded identically to substring)
        val end = math.min(j + l2, nb)
        val k = UTF8String.fromAddress(base, off + i, end - i).toString
        if (model.isRareKey(k)) rare += 1
      }
      m += 1
      i = j
      l1 = l2
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](m, rare))
  }

  /** Word `w`-gram shingles; w = 3 is the dedup-family default, larger
    * widths serve overlap detection where chance collisions must be
    * rare (d9 decontamination uses 8 — the published long-n-gram
    * methodology). `slice` clamps at the end so docs shorter than `w`
    * tokens yield their full text as a single shingle. */
  def wordShingles(toks: ArrayData, w: Int): ArrayData = {
    val n = toks.numElements()
    val m = math.max(n - (w - 1), 1)
    val out = new Array[UTF8String](m)
    var i = 0
    while (i < m) {
      val end = math.min(i + w, n)
      val sb = new java.lang.StringBuilder()
      var k = i
      while (k < end) {
        if (k > i) sb.append(' ')
        sb.append(toks.getUTF8String(k).toString)
        k += 1
      }
      out(i) = UTF8String.fromString(sb.toString)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      out.asInstanceOf[Array[Any]])
  }

  /** LSH band keys straight from the shingles: minhash signature (one
    * fused pass, see [[minhashSig]]) grouped into `nBands` rows of
    * `nHashes / nBands`, each band key = md5 of the concatenated hex
    * minima — exactly `md5(h0 || h1 || h2)` of the per-seed coordinates.
    * Returning the band keys as ONE array column keeps the whole
    * computation behind a single generator reference, so Catalyst's
    * project-collapsing can't inline (and thus re-evaluate) the
    * signature per band. The band's hex minima are written straight
    * from the winning digests into the bytes that are hashed. */
  def minhashBandKeys(shingles: ArrayData, nHashes: Int,
                      nBands: Int): ArrayData = {
    if (shingles.numElements() == 0) return null
    val best = minhashDigests(shingles, nHashes)
    val md = md5Local.get()
    val rows = nHashes / nBands
    val band = new Array[Byte](32 * rows)
    val key = new Array[Byte](16)
    val out = new Array[Any](nBands)
    var b = 0
    while (b < nBands) {
      var r = 0
      while (r < rows) {
        hexInto(best, 16 * (b * rows + r), band, 32 * r)
        r += 1
      }
      md.update(band)
      md.digest(key, 0, 16)
      val hex = new Array[Byte](32)
      hexInto(key, 0, hex, 0)
      out(b) = UTF8String.fromBytes(hex)
      b += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Scan-local scrubber for t11's boilerplate-span removal: walk every
    * word `w`-gram start of `toks` (same end-clamp as [[wordShingles]] —
    * docs shorter than `w` words yield one whole-doc gram), mark the
    * words of each gram found in the broadcast frequent-span [[SpanSet]]
    * as covered, and rebuild the document from the uncovered words.
    * Word Strings are materialized ONCE (the per-gram StringBuilder
    * joins pre-decoded Strings), so the pass is O(w · doc bytes) — the
    * t-family linear shape. Returns (clean_text, n_words, n_removed). */
  def scrubSpans(toks: ArrayData, inv: SpanSet,
      w: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val n = toks.numElements()
    if (n == 0)
      return new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](UTF8String.fromString(""), 0, 0))
    val words = new Array[String](n)
    var i = 0
    while (i < n) { words(i) = toks.getUTF8String(i).toString; i += 1 }
    val covered = new Array[Boolean](n)
    val m = math.max(n - (w - 1), 1)
    var s = 0
    while (s < m) {
      val end = math.min(s + w, n)
      val sb = new java.lang.StringBuilder()
      var k = s
      while (k < end) {
        if (k > s) sb.append(' ')
        sb.append(words(k))
        k += 1
      }
      if (inv.contains(sb.toString)) {
        var c = s
        while (c < end) { covered(c) = true; c += 1 }
      }
      s += 1
    }
    var removed = 0
    val out = new java.lang.StringBuilder()
    i = 0
    while (i < n) {
      if (covered(i)) removed += 1
      else {
        if (out.length > 0) out.append(' ')
        out.append(words(i))
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](UTF8String.fromString(out.toString), n, removed))
  }

  private val upperHex = "0123456789ABCDEF".getBytes

  /** simhash60 over BYTE-ALIGNED 4-byte grams of a raw payload — m4's
    * fused fingerprint. Each gram hashes as the md5 of its UPPERCASE
    * hex spelling (8 ASCII chars — the cross-engine-mirrorable token:
    * DuckDB rebuilds the identical stream with a step-2
    * generate_series over hex(payload)); windows clamp at the tail
    * like [[charShingles]]. Striding one BYTE instead of one hex char
    * halves the md5 volume of the composed
    * `simhash60(char_shingles(hex(payload), 8))` spelling — the
    * straddling odd-offset grams it drops are nibble-split views of
    * the same byte windows, not information — and the fusion removes
    * the intermediate hex string + gram array per row entirely. */
  def payloadSimhash(bytes: Array[Byte]): Long = {
    val n = bytes.length
    val m = math.max(n - 3, 1)
    val counts = new Array[Int](60)
    val buf = new Array[Byte](8)
    var i = 0
    while (i < m) {
      val end = math.min(i + 4, n)
      var k = i
      var p = 0
      while (k < end) {
        val b = bytes(k) & 0xff
        buf(p) = upperHex(b >> 4)
        buf(p + 1) = upperHex(b & 0xf)
        p += 2
        k += 1
      }
      val hex = md5hex(if (p == 8) buf else java.util.Arrays.copyOf(buf, p))
      var j = 0
      while (j < 60) {
        val v = Character.digit(hex(14 - j / 4), 16)
        counts(j) += (if (((v >> (j % 4)) & 1) == 1) 1 else -1)
        j += 1
      }
      i += 1
    }
    var fp = 0L
    var j = 0
    while (j < 60) {
      if (counts(j) > 0) fp |= (1L << j)
      j += 1
    }
    fp
  }

  /** Number of array elements present in the probe set — one hash probe
    * per element, no per-row set construction (the set is a broadcast
    * artifact). Callers pass an already-DISTINCT array when they want
    * distinct-overlap semantics (st6 does; mirrors d9's
    * array_distinct-upstream spelling). */
  def countInSpanSet(arr: ArrayData, set: SpanSet): Int = {
    var c = 0
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (set.contains(arr.getUTF8String(i).toString)) c += 1
      i += 1
    }
    c
  }

  /** Polynomial rolling hash over codepoints: acc = (acc*31 + cp) mod 1e9+7,
    * left-to-right — equals the DuckDB list_reduce over string_split('')
    * + ascii(c) (ascii() yields the codepoint of the character). */
  def rollHash(s: UTF8String): Long = {
    val str = s.toString
    var acc = 0L
    var i = 0
    val n = str.length
    while (i < n) {
      val cp = str.codePointAt(i)
      acc = (acc * 31 + cp) % 1000000007L
      i += Character.charCount(cp)
    }
    acc
  }
}

/** `simhash60(array<string>) -> bigint` — 60-bit SimHash fingerprint. */
case class SimHash60(child: Expression)
    extends UnaryExpression {
  override val nullIntolerant: Boolean = true
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash60"

  override def nullSafeEval(a: Any): Any =
    TextHashKernels.simhash60(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextHashKernels.simhash60($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash60 =
    copy(child = newChild)
}

/** `payload_simhash(binary) -> bigint` — fused byte-gram SimHash over
  * an opaque payload (TextHashKernels.payloadSimhash): m4's media
  * fingerprint, one pass over the raw bytes with no hex-string or
  * gram-array materialization. */
case class PayloadSimhash(child: Expression)
    extends UnaryExpression {
  override val nullIntolerant: Boolean = true
  override def dataType: DataType = LongType
  override def prettyName: String = "payload_simhash"

  override def nullSafeEval(a: Any): Any =
    TextHashKernels.payloadSimhash(a.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextHashKernels.payloadSimhash($c)")

  override protected def withNewChildInternal(newChild: Expression): PayloadSimhash =
    copy(child = newChild)
}

/** `minhash_min(array<string>, seed string) -> string` — one minhash
  * coordinate (md5-based, SQL-reproducible). */
case class MinHashMin(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DataTypes.StringType
  override def prettyName: String = "minhash_min"

  override def nullSafeEval(a: Any, b: Any): Any =
    TextHashKernels.minhashMin(a.asInstanceOf[ArrayData], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |${ev.value} = graft.functions.TextHashKernels.minhashMin($a, $b);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MinHashMin =
    copy(left = newLeft, right = newRight)
}

/** `char_shingles(string[, w]) -> array<string>` — character w-gram
  * shingles (default 2: the t8 bigram-LM kernel). Code-point safe:
  * positions are character indices (UTF8String.substring), matching
  * DuckDB's character-based substr, so the two spellings agree on
  * multi-byte text. Clamps like word_shingles: strings shorter than
  * `w` chars yield the whole string as a single shingle. */
case class CharShingles(child: Expression, width: Int = 2)
    extends UnaryExpression {
  require(width >= 1, s"char_shingles width must be >= 1, got $width")
  override val nullIntolerant: Boolean = true
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.StringType, containsNull = false)
  override def prettyName: String = "char_shingles"

  override def nullSafeEval(a: Any): Any =
    TextHashKernels.charShingles(a.asInstanceOf[UTF8String], width)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextHashKernels.charShingles($c, $width)")

  override protected def withNewChildInternal(newChild: Expression): CharShingles =
    copy(child = newChild)
}

/** t8's trained scoring model, built ONCE driver-side from the bigram
  * count table and shipped by broadcast. The per-bigram rarity test
  * `count · den < total` is precomputed into its complement set: at
  * most `den` bigrams can be FREQUENT (count ≥ total/den), so the
  * model ships a 2 KB ASCII×ASCII bitset (hot path: two byte loads,
  * one bitset probe) plus a tiny String set for multibyte/degenerate
  * keys, and scoring never touches a String-keyed HashMap. The raw
  * counts ride along for specs/diagnostics (alphabet²-bounded). */
final class BigramModel(
    val counts: java.util.HashMap[String, java.lang.Long],
    val total: Long, val den: Int) extends Serializable {
  /** Bit (a<<7)|b set iff the ASCII bigram "ab" is frequent. */
  val asciiFrequent: Array[Long] = new Array[Long](256)
  /** EVERY frequent key (incl. ASCII — the spill path for 1-char and
    * multibyte keys probes only this set). ≤ den entries. */
  val otherFrequent: java.util.HashSet[String] = {
    val set = new java.util.HashSet[String]()
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getValue.longValue() * den >= total) {
        val k = e.getKey
        set.add(k)
        if (k.length == 2 && k.charAt(0) < 128 && k.charAt(1) < 128) {
          val idx = (k.charAt(0) << 7) | k.charAt(1)
          asciiFrequent(idx >> 6) |= 1L << (idx & 63)
        }
      }
    }
    set
  }
  @inline def isRareIdx(idx: Int): Boolean =
    (asciiFrequent(idx >> 6) & (1L << (idx & 63))) == 0
  @inline def isRareKey(k: String): Boolean = !otherFrequent.contains(k)
}

/** `t8_rare_stats(string)`-shaped expression holding t8's broadcast
  * bigram model — constructed programmatically by TextAnalysis via
  * `org.apache.spark.sql.graftbridge.GraftColumns` (the model cannot
  * ride through SQL text, and building the Column directly keeps the
  * session FunctionRegistry immutable on the query path). The Broadcast
  * handle is what serializes into tasks, so the model ships once per
  * executor, not once per task — the 100 TB shape for a trained scoring
  * artifact; codegen resolves `.value()` once per task into generated
  * mutable state, not per row. */
case class RareBigramStats(child: Expression,
    model: org.apache.spark.broadcast.Broadcast[BigramModel])
    extends UnaryExpression {
  override val nullIntolerant: Boolean = true
  override def dataType: DataType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(
        "n_bigrams", DataTypes.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField(
        "n_rare", DataTypes.IntegerType, nullable = false)))
  override def prettyName: String = "t8_rare_stats"

  override def nullSafeEval(a: Any): Any =
    TextHashKernels.rareBigramStats(a.asInstanceOf[UTF8String], model.value)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("t8ModelBc", model,
      "org.apache.spark.broadcast.Broadcast")
    val resolved = ctx.addMutableState("graft.functions.BigramModel", "t8Model",
      v => s"$v = (graft.functions.BigramModel)$ref.value();")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextHashKernels.rareBigramStats($c, $resolved)")
  }

  override protected def withNewChildInternal(newChild: Expression): RareBigramStats =
    copy(child = newChild)
}

/** t11's broadcast frequent-span inventory: the corpus-wide set of word
  * 5-grams recurring in ≥ [[graft.operators.TextAnalysis.T10MinDocs]]
  * distinct documents (t10's inventory, pigeonhole-bounded at
  * Σspans/df_min and the Zipf head in practice — MBs even on web-scale
  * crawls). Plain String set: the per-gram probe cost is one hash of a
  * string the scrubber already built. */
final class SpanSet(val spans: java.util.HashSet[String])
    extends Serializable {
  @inline def contains(s: String): Boolean = spans.contains(s)
  def size: Int = spans.size
}

/** `t11_scrub(array<string>)`-shaped expression holding t11's broadcast
  * frequent-span inventory — constructed programmatically via
  * `org.apache.spark.sql.graftbridge.GraftColumns` for the same reasons
  * as [[RareBigramStats]] (a driver-side artifact cannot ride through
  * SQL text; the session FunctionRegistry stays immutable on the query
  * path). The Broadcast handle serializes into tasks, so the inventory
  * ships once per executor; codegen resolves `.value()` once per task. */
case class ScrubSpans(child: Expression,
    inv: org.apache.spark.broadcast.Broadcast[SpanSet], width: Int)
    extends UnaryExpression {
  override val nullIntolerant: Boolean = true
  override def dataType: DataType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(
        "clean_text", DataTypes.StringType, nullable = false),
      org.apache.spark.sql.types.StructField(
        "n_words", DataTypes.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField(
        "n_removed", DataTypes.IntegerType, nullable = false)))
  override def prettyName: String = "t11_scrub"

  override def nullSafeEval(a: Any): Any =
    TextHashKernels.scrubSpans(a.asInstanceOf[ArrayData], inv.value, width)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("t11InvBc", inv,
      "org.apache.spark.broadcast.Broadcast")
    val resolved = ctx.addMutableState("graft.functions.SpanSet", "t11Inv",
      v => s"$v = (graft.functions.SpanSet)$ref.value();")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextHashKernels.scrubSpans($c, $resolved, $width)")
  }

  override protected def withNewChildInternal(newChild: Expression): ScrubSpans =
    copy(child = newChild)
}

/** `count_in_spanset(array<string>)`-shaped expression holding a
  * broadcast probe set ([[SpanSet]]) — counts the array elements present
  * in the set. st6's streaming-decontamination hot kernel: unlike
  * `count_in` (whose comma-separated word-list literal cannot carry
  * word-SHINGLE entries — normalized tokens may themselves contain
  * commas), the set rides a Broadcast handle, shipping once per
  * executor with no in-band separator at all. Constructed
  * programmatically via GraftColumns (the t8/t11 pattern: a driver-side
  * artifact cannot ride through SQL text, and the session
  * FunctionRegistry stays immutable on the query path); codegen
  * resolves `.value()` once per task. */
case class CountInSpanSet(child: Expression,
    inv: org.apache.spark.broadcast.Broadcast[SpanSet])
    extends UnaryExpression {
  override val nullIntolerant: Boolean = true
  override def dataType: DataType = DataTypes.IntegerType
  override def prettyName: String = "count_in_spanset"

  override def nullSafeEval(a: Any): Any =
    TextHashKernels.countInSpanSet(a.asInstanceOf[ArrayData], inv.value)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("st6InvBc", inv,
      "org.apache.spark.broadcast.Broadcast")
    val resolved = ctx.addMutableState("graft.functions.SpanSet", "st6Inv",
      v => s"$v = (graft.functions.SpanSet)$ref.value();")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextHashKernels.countInSpanSet($c, $resolved)")
  }

  override protected def withNewChildInternal(newChild: Expression): CountInSpanSet =
    copy(child = newChild)
}

/** `word_shingles(array<string>[, w]) -> array<string>` — word w-gram
  * shingles (default 3). Width is a literal folded at registration,
  * like the band/hash counts of `minhash_band_keys`. */
case class WordShingles(child: Expression, width: Int = 3)
    extends UnaryExpression {
  require(width >= 1, s"word_shingles width must be >= 1, got $width")
  override val nullIntolerant: Boolean = true
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.StringType, containsNull = false)
  override def prettyName: String = "word_shingles"

  override def nullSafeEval(a: Any): Any =
    TextHashKernels.wordShingles(a.asInstanceOf[ArrayData], width)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextHashKernels.wordShingles($c, $width)")

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)
}

/** `count_in(array<string>, 'w1,w2,...') -> int` — number of tokens that
  * appear in the comma-separated word list; equals the interpreted HOF
  * spelling `size(filter(toks, t -> t IN (...)))` (occurrences counted,
  * not distinct membership). The parsed word set is memoized per list
  * literal, so per-row work is one hash probe per token. */
case class CountTokensIn(left: Expression, right: Expression)
    extends BinaryExpression {
  override val nullIntolerant: Boolean = true
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "count_in"

  override def nullSafeEval(a: Any, b: Any): Any =
    CountTokensIn.count(a.asInstanceOf[ArrayData], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.CountTokensIn.count($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CountTokensIn =
    copy(left = newLeft, right = newRight)
}

object CountTokensIn {
  private val memo =
    new java.util.concurrent.ConcurrentHashMap[String, Set[String]]()

  def count(toks: ArrayData, csv: UTF8String): Int = {
    val set = memo.computeIfAbsent(csv.toString, s => s.split(',').toSet)
    var c = 0
    var i = 0
    val n = toks.numElements()
    while (i < n) {
      if (set.contains(toks.getUTF8String(i).toString)) c += 1
      i += 1
    }
    c
  }
}

/** `minhash_sig(array<string>, n) -> array<string>` — all n minhash
  * coordinates in one pass (see TextHashKernels.minhashSig). */
case class MinHashSig(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.StringType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  override def nullSafeEval(a: Any, b: Any): Any =
    TextHashKernels.minhashSig(a.asInstanceOf[ArrayData], b.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |${ev.value} = graft.functions.TextHashKernels.minhashSig($a, $b);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MinHashSig =
    copy(left = newLeft, right = newRight)
}

/** `minhash_band_keys(array<string>, nHashes, nBands) -> array<string>` —
  * LSH band keys from shingles in one fused pass. */
case class MinHashBandKeys(child: Expression, nHashes: Int, nBands: Int)
    extends UnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.StringType, containsNull = false)
  override def prettyName: String = "minhash_band_keys"

  override def nullSafeEval(a: Any): Any =
    TextHashKernels.minhashBandKeys(a.asInstanceOf[ArrayData], nHashes, nBands)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      s"""
         |${ev.value} = graft.functions.TextHashKernels.minhashBandKeys(
         |  $a, $nHashes, $nBands);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MinHashBandKeys =
    copy(child = newChild)
}

/** `roll_hash(string) -> bigint` — polynomial rolling hash mod 1e9+7. */
case class RollHash(child: Expression)
    extends UnaryExpression {
  override val nullIntolerant: Boolean = true
  override def dataType: DataType = LongType
  override def prettyName: String = "roll_hash"

  override def nullSafeEval(a: Any): Any =
    TextHashKernels.rollHash(a.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHashKernels.rollHash($c)")

  override protected def withNewChildInternal(newChild: Expression): RollHash =
    copy(child = newChild)
}
