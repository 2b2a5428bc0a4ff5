package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions installer for graft's native functions — the
  * standard plug-in path for a Spark library:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.functions.GraftExtensions ...
  *   // or
  *   SparkSession.builder().withExtensions(new GraftExtensions) ...
  * }}}
  *
  * Operators also call [[GraftFunctions.register]] defensively, so either
  * path (or none) works; this class exists so a cluster admin can make
  * `cosine_sim` & co. available to plain `spark.sql(...)` users without
  * any graft code running first.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    def inject(name: String, clazz: Class[_],
               builder: Seq[Expression] => Expression): Unit =
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(clazz.getName, name), builder))
    inject("cosine_sim", classOf[CosineSim], cs => CosineSim(cs(0), cs(1)))
    inject("dot_prod", classOf[DotProd], cs => DotProd(cs(0), cs(1)))
    inject("pq_encode", classOf[PqEncode], cs => PqEncode(cs(0), cs(1)))
    inject("ivf_rank_cells", classOf[IvfRankCells],
      cs => IvfRankCells(cs(0), cs(1), IvfRankCellsKernel.D))
    inject("ivf_rank_cells2", classOf[IvfRankCells2], cs =>
      IvfRankCells2(cs(0), cs(1), cs(2), cs(3),
        GraftFunctions.litInt("ivf_rank_cells2", "cp", cs(4)),
        IvfRankCellsKernel.D))
    inject("dot_at", classOf[DotAt], cs =>
      DotAt(cs(0), GraftFunctions.litInt("dot_at", "pos", cs(1)), cs(2)))
    inject("simhash60", classOf[SimHash60], cs => SimHash60(cs(0)))
    inject("payload_simhash", classOf[PayloadSimhash],
      cs => PayloadSimhash(cs(0)))
    inject("minhash_min", classOf[MinHashMin], cs => MinHashMin(cs(0), cs(1)))
    inject("minhash_sig", classOf[MinHashSig], cs => MinHashSig(cs(0), cs(1)))
    inject("minhash_band_keys", classOf[MinHashBandKeys], cs =>
      MinHashBandKeys(cs(0),
        GraftFunctions.litInt("minhash_band_keys", "num_hashes", cs(1)),
        GraftFunctions.litInt("minhash_band_keys", "bands", cs(2))))
    inject("roll_hash", classOf[RollHash], cs => RollHash(cs(0)))
    inject("word_shingles", classOf[WordShingles], cs => WordShingles(cs(0),
      if (cs.length > 1) GraftFunctions.litInt("word_shingles", "width", cs(1))
      else 3))
    inject("char_shingles", classOf[CharShingles], cs => CharShingles(cs(0),
      if (cs.length > 1) GraftFunctions.litInt("char_shingles", "width", cs(1))
      else 2))
    inject("hyperplane_bucket", classOf[HyperplaneBucket],
      cs => HyperplaneBucket(cs(0), cs(1)))
    inject("hyperplane_band_keys", classOf[HyperplaneBandKeys], cs =>
      HyperplaneBandKeys(cs(0),
        GraftFunctions.litInt("hyperplane_band_keys", "bands", cs(1)),
        GraftFunctions.litInt("hyperplane_band_keys", "bits_per_band", cs(2))))
    inject("lead_sign_bucket", classOf[LeadSignBucket],
      cs => LeadSignBucket(cs(0), cs(1)))
    inject("count_in", classOf[CountTokensIn],
      cs => CountTokensIn(cs(0), cs(1)))
    inject("pii_scrub", classOf[PiiScrub], cs => PiiScrub(cs(0)))
    inject("hll_sketch", classOf[HllSketchAgg], cs => HllSketchAgg(cs(0)))
    inject("nfc_normalize", classOf[NfcNormalize], cs => NfcNormalize(cs(0)))
    inject("url_canon", classOf[UrlCanon], cs => UrlCanon(cs(0)))
    inject("t17_bigram_keys", classOf[T17BigramKeys],
      cs => T17BigramKeys(cs(0),
        GraftFunctions.litInt("t17_bigram_keys", "buckets", cs(1))))
  }
}
