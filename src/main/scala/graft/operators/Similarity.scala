package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * s1 is the exact baseline: broadcast the (small) query set against the
  * corpus — at 100 TB the corpus side streams through executors once and
  * the only state per task is the broadcast queries.
  *
  * s2 is the scale path: deterministic random-hyperplane LSH buckets the
  * corpus (one map pass), then scoring happens only inside the query's
  * bucket — sublinear scan at the cost of recall.
  */
object Similarity {
  val NumQueries = 5
  val TopK = 3
  val HyperPlanes = 6

  private def queriesDf(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir).filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))

  /** s1: brute-force cosine top-k per query vector. */
  def s1BruteForce(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val cand = Tables.embeddings(s, dir)
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    cand.crossJoin(broadcast(queriesDf(s, dir)))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", VectorOps.cosine("qe", "ce"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= TopK)
      .select("query_id", "rnk", "neighbor_id", "cos")
      .orderBy("query_id", "rnk")
  }

  /** Deterministic ±1 hyperplane weight for (plane j, component i∈1..64):
    * the shared graft.functions.HyperplaneWeights family, identical in
    * SQL. (The round-1 arithmetic family was period-7 in the plane index
    * — only 7 distinct hyperplanes existed; see HyperplaneWeights.) */
  private def projExpr(v: String, j: Int): String =
    s"""aggregate(transform(sequence(1, 64),
       |    i -> CAST(element_at($v, i) AS DOUBLE) *
       |         ${graft.functions.HyperplaneWeights.sparkSql("i", j.toString)}),
       |  CAST(0 AS DOUBLE), (a, b) -> a + b)""".stripMargin

  private def sqlProj(v: String, j: Int): String =
    s"""list_reduce(list_transform(generate_series(1, 64),
       |    i -> CAST($v[i] AS DOUBLE) *
       |         ${graft.functions.HyperplaneWeights.duckSql("i", j.toString)}),
       |  (x, y) -> x + y)""".stripMargin

  /** Native fused kernel (graft.functions.HyperplaneBucket); the HOF
    * spelling below ([[bucketColHof]]) is interpreted per element and
    * would dominate at a full-corpus embedding table. */
  private def bucketCol(v: String) = expr(s"hyperplane_bucket($v, $HyperPlanes)")

  /** HOF formulation of [[bucketCol]] — kept as executable documentation
    * of the fold order the native kernel reproduces (FunctionsSpec pins
    * the bit-equality). */
  def bucketColHof(v: String): org.apache.spark.sql.Column = expr(
    (0 until HyperPlanes)
      .map(j => s"IF((${projExpr(v, j)}) > 0, ${1 << j}, 0)")
      .mkString("(", " + ", ")"))

  private def sqlBucket(v: String): String =
    (0 until HyperPlanes)
      .map(j => s"(CASE WHEN (${sqlProj(v, j)}) > 0 THEN ${1 << j} ELSE 0 END)")
      .mkString("(", " + ", ")")

  /** s2: LSH-bucketed ANN with hamming-1 multi-probe — each query scans
    * its own sign bucket plus the [[HyperPlanes]] buckets one bit-flip
    * away (standard multiprobe LSH: a true neighbor that lands just
    * across one hyperplane is recovered without rebucketing the
    * corpus). The corpus side stays a single map pass + one hash join;
    * only the tiny broadcast query set fans out ×(HyperPlanes+1). */
  def s2Lsh(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val bucketed = Tables.embeddings(s, dir)
      .withColumn("bucket", bucketCol("embedding"))
    val probes = expr(
      (0 until HyperPlanes).map(j => s"(bucket ^ ${1 << j})")
        .mkString("array(bucket, ", ", ", ")"))
    val q = bucketed.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        explode(probes).as("qb"))
    val cand = bucketed
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"),
        col("bucket"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    cand.join(broadcast(q),
        col("bucket") === col("qb") && col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", VectorOps.cosine("qe", "ce"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= TopK)
      .select("query_id", "rnk", "neighbor_id", "cos")
      .orderBy("query_id", "rnk")
  }

  /** Number of IVF cells (coarse-quantizer centroids). */
  val IvfCells = 16
  /** Sample FLOOR for the offline k-means pass — the actual target
    * scales with the cell count ([[kmeansSampleFor]]); at the fixed
    * 16-cell quantizers (s3/d10/…, every gate corpus) the target IS
    * this floor, ≤ 2048 × 64 floats ≈ 0.5 MB on the driver. */
  val KmeansSample = 2048
  val KmeansIters = 8
  /** Training rows drawn per cell when the cell count outgrows the
    * floor — the FAISS rule of thumb (≥ ~39·k points is "safe",
    * ≥ 16·k the practical warning threshold; 16 keeps the driver
    * budget honest while never under-determining a centroid). */
  val KmeansRowsPerCell = 16

  /** Lloyd sample target for a `cells`-centroid quantizer:
    * max([[KmeansSample]], [[KmeansRowsPerCell]]·cells). The pre-r16
    * fixed 2048-row cap made the corpus-scaled s12 quantizer
    * (cells = n/128, [[s12CellsFor]]) hard-fail its
    * `sample ≥ cells` require past n ≈ 2048·128 = 262k vectors —
    * training DATA must scale with the number of trained PARAMETERS.
    * Driver cost in rows is 16·cells × dim floats (6.4 MB at the
    * 100×-probe K=1563, dim=64); the flop/byte crossover to a
    * distributed Lloyd is documented in SURVEY §5. */
  private[graft] def kmeansSampleFor(cells: Int): Int =
    math.max(KmeansSample, KmeansRowsPerCell * cells)

  /** Largest Lloyd sample the DRIVER path will collect (rows) —
    * 16 rows/cell ⇒ K ≈ 10⁴, the §5 flop-arithmetic crossover
    * (~5.5e12 flops ≈ a minute chunk-parallel). Past it,
    * [[kmeansCentroidsDistributed]] trains with the sample staying on
    * executors. */
  val KmeansDriverMaxSample = 160000

  /** Chunk length of the fine quantizer's [[lloyd]] pass. Chunk
    * boundaries are CONSTANT (never derived from thread or core count)
    * and partials merge in chunk order, so trained floats are
    * bit-deterministic on any machine. A sample of at most 2048 rows is
    * one chunk; a larger one (a hash-spread draw can overshoot the
    * 2048-row floor, and a corpus-scaled cell count draws 16 rows per
    * cell) splits into several. */
  private val KmeansChunk = 2048

  /** The deterministic hash-spread Lloyd sample: the rows whose
    * `pmod(hash(vec_id), n / target)` is 0, n the memoized
    * [[embeddingsCount]]. A single scan-local predicate with no
    * ordering assumption — a permutation of vec_ids just picks a
    * different random-ish sample, so cell quality is NOT an artifact
    * of id order. */
  private def lloydSample(s: SparkSession, dir: String,
      target: Int): DataFrame = {
    val step = math.max(1L, embeddingsCount(s, dir) / target)
    Tables.embeddings(s, dir)
      .filter(pmod(hash(col("vec_id")), lit(step)) === 0)
  }

  /** [[lloydSample]]'s embeddings collected in vec_id order; at least
    * `min` of them. */
  private def collectSample(s: SparkSession, dir: String, target: Int,
      min: Int): Array[Array[Float]] = {
    val sample = lloydSample(s, dir, target).orderBy("vec_id")
      .select("embedding").collect()
      .map(_.getSeq[Float](0).toArray)
    require(sample.length >= min, s"sample smaller than $min")
    sample
  }

  /** Driver-side cosine in the shared zero-seeded fold. */
  private def cos(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < math.min(a.length, b.length)) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Squared L2 distance over `b`'s length. */
  private def l2(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var i = 0
    while (i < b.length) {
      val diff = a(i).toDouble - b(i).toDouble
      d += diff * diff; i += 1
    }
    d
  }

  /** The max-cosine cell by the ivf_rank_cells kernel's own selection
    * (ties to the HIGHER cell, NaN highest) — the rule the distributed
    * Lloyd assigns with, so which side of the driver cap a corpus
    * lands on can never change trained output. */
  private def nearestByCos(v: Array[Float], cents: Array[Array[Float]]): Int =
    graft.functions.IvfRankCellsKernel.select(
      Array.tabulate(cents.length)(c => cos(v, cents(c))), 1)(0)

  /** The min-L2 codeword, ties to the LOWER id. */
  private def nearestByL2(v: Array[Float], cents: Array[Array[Float]]): Int = {
    var best = 0; var bestD = Double.MaxValue; var c = 0
    while (c < cents.length) {
      val d = l2(v, cents(c))
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Deterministic farthest-point (maxmin) init: the first point, then
    * greedily the point farthest by `dist` from its nearest chosen seed
    * (ties: first in point order). The nearest distance is maintained
    * incrementally, O(points · k), by an elementwise min — no
    * accumulation, so the parallel update is deterministic. */
  private def farthestPoints(points: Array[Array[Float]], k: Int,
      dist: (Array[Float], Array[Float]) => Double): Array[Array[Float]] = {
    val chosen = scala.collection.mutable.ArrayBuffer(points.head)
    val nearest = points.map(dist(_, points.head))
    while (chosen.length < k) {
      var best = 0; var bestD = -Double.MaxValue; var i = 0
      while (i < points.length) {
        if (nearest(i) > bestD) { bestD = nearest(i); best = i }
        i += 1
      }
      val added = points(best)
      chosen += added
      java.util.stream.IntStream.range(0, points.length).parallel()
        .forEach(j => nearest(j) = math.min(nearest(j), dist(points(j), added)))
    }
    chosen.toArray
  }

  /** Per cell, the mean of its rows (double sums over `counts` rows,
    * cast to float); an empty cell keeps its centroid. */
  private def meanOrKeep(cents: Array[Array[Float]],
      sums: Array[Array[Double]], counts: Array[Long]): Array[Array[Float]] =
    Array.tabulate(cents.length) { c =>
      if (counts(c) == 0) cents(c)
      else sums(c).map(x => (x / counts(c)).toFloat)
    }

  /** The one driver Lloyd loop: [[KmeansIters]] rounds from `init`, each
    * assigning every point with `assign(point, centroids)` and moving
    * each cell to [[meanOrKeep]]. Rows sum in double in point order
    * within each `chunk`-long run of points; runs go in parallel (the
    * O(points·cells·dim) pass worth spreading over driver cores) and
    * merge in run order, so the result is bit-deterministic, and one
    * run over all points is exactly the sequential accumulation. */
  private def lloyd(points: Array[Array[Float]], init: Array[Array[Float]],
      chunk: Int)(assign: (Array[Float], Array[Array[Float]]) => Int)
      : Array[Array[Float]] = {
    val k = init.length
    val dim = init.head.length
    val runs = (points.length + chunk - 1) / chunk
    var cents = init
    var iter = 0
    while (iter < KmeansIters) {
      val cur = cents
      val partials = new Array[(Array[Long], Array[Array[Double]])](runs)
      java.util.stream.IntStream.range(0, runs).parallel().forEach { r =>
        val counts = new Array[Long](k)
        val sums = Array.fill(k)(new Array[Double](dim))
        var p = r * chunk
        val hi = math.min(points.length, p + chunk)
        while (p < hi) {
          val v = points(p)
          val c = assign(v, cur)
          counts(c) += 1
          var i = 0
          while (i < dim) { sums(c)(i) += v(i); i += 1 }
          p += 1
        }
        partials(r) = (counts, sums)
      }
      // merge into the first run's partial (a sum seeded at +0.0 is
      // never -0.0, so this equals merging into zeroed arrays)
      val (counts, sums) = partials.head
      partials.tail.foreach { case (pCounts, pSums) =>
        var c = 0
        while (c < k) {
          counts(c) += pCounts(c)
          var i = 0
          while (i < dim) { sums(c)(i) += pSums(c)(i); i += 1 }
          c += 1
        }
      }
      cents = meanOrKeep(cur, sums, counts)
      iter += 1
    }
    cents
  }

  /** Fine quantizer: [[lloyd]] with max-cosine assignment over the
    * collected, id-ordered [[lloydSample]] of ~[[kmeansSampleFor]]
    * vectors, in [[KmeansChunk]] runs, from a farthest-point (maxmin
    * cosine) init; the resulting cells×dim floats persist into the
    * plan as literals. A sample target above `driverMaxSample` trains
    * with [[kmeansCentroidsDistributed]] instead (specs lower the cap
    * to exercise that path on spec-sized corpora). */
  private[graft] def kmeansCentroids(s: SparkSession, dir: String,
      cells: Int = IvfCells,
      driverMaxSample: Int = KmeansDriverMaxSample): Array[Array[Float]] =
    if (kmeansSampleFor(cells) > driverMaxSample)
      kmeansCentroidsDistributed(s, dir, cells)
    else {
      val sample = collectSample(s, dir, kmeansSampleFor(cells), cells)
      lloyd(sample, farthestPoints(sample, cells, (a, b) => -cos(a, b)),
        KmeansChunk)(nearestByCos)
    }

  /** DISTRIBUTED Lloyd — the §5 driver-budget handoff implemented
    * (spelling (a) of the audit): when the scaled sample outgrows
    * [[KmeansDriverMaxSample]], training runs with the sample staying
    * on EXECUTORS. Per iteration: assignment is [[ivfCellCol]] with
    * the current centroids, per-cell means are one
    * posexplode + groupBy(cell, pos) aggregation, and only K·D
    * (cell, pos, sum, count) scalars return to the driver — the
    * driver holds PARAMETERS, never the sample. Seeds: the `cells`
    * sample vectors with the smallest (md5(vec_id), vec_id) — a
    * distributed TakeOrdered (farthest-point init is inherently
    * sequential O(sample·K·D) driver work, exactly what this path
    * exists to avoid). The sample is localCheckpointed once so the
    * [[KmeansIters]] iterations re-read executor blocks, not parquet.
    *
    * Determinism caveat (documented, deliberate): per-cell float sums
    * reduce in partition order, so trained floats can differ across
    * runs at the ULP level — unlike the bit-deterministic driver
    * path. The artifact store ([[storedFloats]]: fingerprint-keyed,
    * checksummed) pins ONE training per corpus, and every generated
    * oracle inlines from that same artifact, so the correctness gate
    * stays exact; only cross-JVM retrains of the same corpus may
    * produce an equivalent-quality but not bit-identical quantizer. */
  private[graft] def kmeansCentroidsDistributed(s: SparkSession,
      dir: String, cells: Int): Array[Array[Float]] =
    graft.Artifacts.scoped(s, "similarity.centroids") { sc =>
      val sample = sc.cut(lloydSample(s, dir, kmeansSampleFor(cells))
        .select("vec_id", "embedding"))
      val m = sample.count()
      require(m >= cells, s"sample smaller than $cells")
      var centroids: Array[Array[Float]] = sample
        .withColumn("hk", md5(col("vec_id").cast("string")))
        .orderBy("hk", "vec_id").limit(cells)
        .select("embedding").collect()
        .map(_.getSeq[Float](0).toArray)
      val dim = centroids.head.length
      var iter = 0
      while (iter < KmeansIters) {
        val agg = sample
          .withColumn("cell", ivfCellCol(centroids))
          .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "v")))
          .groupBy("cell", "pos")
          .agg(sum(col("v").cast("double")).as("sv"), count(lit(1)).as("cnt"))
          .collect()
        val sums = Array.fill(cells)(new Array[Double](dim))
        val counts = new Array[Long](cells)
        agg.foreach { r =>
          val c = r.getInt(0); val p = r.getInt(1)
          sums(c)(p) = r.getDouble(2)
          if (p == 0) counts(c) = r.getLong(3)
        }
        centroids = meanOrKeep(centroids, sums, counts)
        iter += 1
      }
      centroids
    }

  /** Cells probed per query (nprobe). Balanced k-means cells mean a
    * query's true neighbors straddle cell boundaries, so single-probe
    * recall is structurally poor — multi-probe is how production IVF
    * (FAISS-style) buys recall back while still scanning only
    * nprobe/cells of the corpus. */
  val IvfProbes = 10

  /** Fingerprint of the most recently requested corpus — keys the
    * generated s3 oracle (Verify runs every query, THEN dumps
    * oracleSql, so by dump time this is the gate's corpus). */
  @volatile private[graft] var lastCorpusKey: Option[String] = None

  /** Metadata-only fingerprint of the embeddings table —
    * [[graft.Tables.fingerprint]]: one FS listing, no data read. */
  private def corpusFingerprint(s: SparkSession, dir: String): String =
    graft.Tables.fingerprint(s, dir, "embeddings")

  /** MD5 over IEEE-754 float bits in iteration order — the one
    * checksum both artifact formats (s3 centroids, s6 codebooks)
    * embed and re-derive on load. */
  private def floatSig(xs: Iterator[Float]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val buf = java.nio.ByteBuffer.allocate(4)
    xs.foreach { x =>
      buf.clear(); buf.putFloat(x); md.update(buf.array(), 0, 4)
    }
    md.digest().map("%02x".format(_)).mkString
  }

  private[graft] def centroidSig(cent: Array[Array[Float]]): String =
    floatSig(cent.iterator.flatten)

  /** The two-layer store behind the trained quantizers (s3/s12
    * centroids, s6 codebooks): they are deterministic for a corpus, so
    * each trains ONCE and every later call reuses it with zero
    * driver-side count/collect/Lloyd work — the "train offline,
    * persist, reuse" production shape. Layer one is a JVM-owned
    * [[graft.Artifacts]] entry of `kind` keyed by the corpus
    * fingerprint. Layer two is a parquet artifact at `base/key` (a
    * repo-local default, NOT the world-shared java.io.tmpdir another
    * user could pre-create), so separate JVMs (verify, bench, tests)
    * share one training. `load` trusts an artifact only if it is
    * complete AND its embedded [[floatSig]] matches what the loaded
    * floats re-derive to: a torn or tampered artifact trains again
    * instead of serving wrong floats to both the query and its
    * generated oracle. Trainings count under `kind.train`. Best-effort:
    * an unreadable/unwritable artifact dir degrades to in-JVM
    * training. */
  private def storedFloats[T](s: SparkSession, kind: String, key: String,
      base: String)(load: DataFrame => Option[T], save: T => DataFrame)(
      train: => T): T =
    graft.Artifacts.memo(graft.Artifacts.Jvm, kind, key) {
      val path = s"$base/$key"
      val loaded =
        try load(s.read.parquet(path)) catch { case _: Exception => None }
      loaded.getOrElse {
        graft.Artifacts.builds(s"$kind.train").incrementAndGet()
        val v = train
        try save(v).coalesce(1).write.mode("overwrite").parquet(path)
        catch { case _: Exception => () } // the artifact is best-effort
        v
      }
    }

  /** The quantizer with `cells` centroids stored under `key` (artifact
    * dir `spark.graft.centroids.dir`) — shared by [[centroidsFor]] and
    * [[s12CentroidsFor]]. */
  private def centroidsKeyed(s: SparkSession, key: String,
      cells: Int, dir: String): Array[Array[Float]] = {
    import s.implicits._
    storedFloats[Array[Array[Float]]](s, "similarity.centroids", key,
        s.conf.get("spark.graft.centroids.dir", "target/graft-centroids"))(
      load = df => {
        val rows = df.as[(Int, Array[Float], String)].collect()
        val cent = rows.sortBy(_._1).map(_._2)
        val sig = centroidSig(cent)
        if (rows.length == cells && rows.forall(_._3 == sig)) Some(cent)
        else None
      },
      save = cent => {
        val sig = centroidSig(cent)
        cent.zipWithIndex.map { case (v, i) => (i, v, sig) }.toSeq
          .toDF("cid", "embedding", "sig")
      })(kmeansCentroids(s, dir, cells))
  }

  private[graft] def centroidsFor(s: SparkSession, dir: String): Array[Array[Float]] = {
    val key = corpusFingerprint(s, dir)
    val c = centroidsKeyed(s, key, IvfCells, dir)
    lastCorpusKey = Some(key)
    c
  }

  /** s12's target cell occupancy: cells = max(16, ceil(n/128)), the
    * FAISS-style fixed-occupancy rule that keeps the knn-graph's
    * candidate volume LINEAR in the corpus (probes × n × occupancy
    * with occupancy pinned) — measured: the fixed-16-cell spelling
    * ran the 10× probe at 128–157× (occupancy grew 10×, pair volume
    * 100×); the scaled quantizer brings it back to ~linear. */
  val S12Occupancy = 128

  private[graft] def s12CellsFor(n: Long): Int =
    math.max(IvfCells, ((n + S12Occupancy - 1) / S12Occupancy).toInt)

  /** Per-corpus embeddings row count, keyed by the corpus fingerprint
    * (one FS listing, no scan — re-ingest invalidates). s12 needs the
    * count twice per call (cell scaling + the broadcast-vs-shuffle
    * join decision); without the memo every invocation paid an extra
    * count() job on the corpus (r14 ADVICE). */
  private[graft] def embeddingsCount(s: SparkSession, dir: String): Long =
    graft.Artifacts.memo(graft.Artifacts.Jvm, "similarity.embCount",
      corpusFingerprint(s, dir))(Tables.embeddings(s, dir).count())

  /** s12 coarse level: ~√K coarse buckets over the fine centroids
    * (the FAISS-IMI shape) and the constant number of coarse buckets
    * a row's fine ranking is restricted to. Per-row rank work drops
    * from O(K) to O(√K·(1+cp)): with K = n/128 the flat ranking's
    * corpus total is O(n²/128) — the one super-linear term left in
    * round 14 — while the two-level total is O(n^1.5). At every gate
    * corpus K = 16 ⇒ kc = 4 ≤ cp, the restriction covers ALL buckets
    * and the ranking provably EQUALS the flat order (spec-pinned per
    * row); it engages only where the corpus-scaled K outgrows it. */
  val S12CoarseProbes = 8

  private[graft] def s12CoarseCellsFor(k: Int): Int =
    math.max(2, math.ceil(math.sqrt(k.toDouble)).toInt)

  /** coarse centroids + fine→coarse assignment, memoized by the fine
    * set's content signature (derivation is deterministic). */
  private[graft] def s12CoarseFor(
      fine: Array[Array[Float]]): (Array[Array[Float]], Array[Int]) =
    graft.Artifacts.memo(graft.Artifacts.Jvm, "similarity.coarse",
      centroidSig(fine))(trainCoarse(fine))

  /** Deterministic driver-side [[lloyd]] over the FINE CENTROIDS (not
    * the corpus — the fine set is already the corpus summary, ≤ n/128
    * rows, so this is O(K·√K·D·iters) driver work: ~32M flops at the
    * 100× probe), in one run over the id-ordered fine set. Strided
    * init, max-cosine assignment by the fine level's rule
    * ([[nearestByCos]]); empty buckets keep their centroid during
    * iteration and are DROPPED (ids compacted) at the end so a
    * selected coarse bucket always routes to ≥ 1 fine cell. */
  private def trainCoarse(
      fine: Array[Array[Float]]): (Array[Array[Float]], Array[Int]) = {
    val k = fine.length
    val kc = math.min(s12CoarseCellsFor(k), k)
    val coarse = lloyd(fine,
      Array.tabulate(kc)(j => fine((j.toLong * k / kc).toInt)), k)(nearestByCos)
    val fin = fine.map(nearestByCos(_, coarse))
    val occupied = (0 until kc).filter(j => fin.contains(j)).toArray
    val remap = occupied.zipWithIndex.toMap
    (occupied.map(coarse), fin.map(remap))
  }

  /** Most recent s12 quantizer cache key (the Bpe lastKey pattern) —
    * the static [[oracle]] resolves s12's generated SQL from this. */
  @volatile private[graft] var lastS12Key: Option[String] = None

  /** The corpus-scaled s12 quantizer — SHARES s3's key (and so its
    * cache entry and trained artifact) whenever the scaled cell count
    * is 16, which holds at every gate SF; a larger corpus gets its own
    * fingerprint+k-keyed entry. */
  private[graft] def s12CentroidsFor(s: SparkSession,
      dir: String): Array[Array[Float]] = {
    val n = embeddingsCount(s, dir)
    val k = s12CellsFor(n)
    val fp = corpusFingerprint(s, dir)
    val key = if (k == IvfCells) fp else s"$fp-s12k$k"
    val c = centroidsKeyed(s, key, k, dir)
    lastS12Key = Some(key)
    c
  }

  /** The flat quantizer's cell ranking of `embedding` against `cents`
    * as ONE kernel Column: `ivf_rank_cells`, the cell ids by
    * (cos DESC, id DESC, NaN highest), rank 1 the assigned cell and the
    * first nprobe the probe list. Every flat-quantizer route — the
    * searches, the index and admission writers, d10's blocking, s7's
    * routing and distributed Lloyd's assignment — reads its cells from
    * here, so no two can disagree on where a vector lives. Built from
    * a constructed catalyst Literal (the [[s12RankCol]] pattern: no
    * SQL text of K·dim float literals to parse), with the trained
    * centroids' dim as the kernel's stride. */
  private[graft] def ivfRankCol(cents: Array[Array[Float]]): Column =
    org.apache.spark.sql.graftbridge.GraftColumns.column(
      graft.functions.IvfRankCells(
        org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(
          "embedding"),
        org.apache.spark.sql.catalyst.expressions.Literal.create(
          cents.flatten, org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType, containsNull = false)),
        cents.head.length))

  /** The assigned cell: rank 1 of [[ivfRankCol]]. */
  private[graft] def ivfCellCol(cents: Array[Array[Float]]): Column =
    element_at(ivfRankCol(cents), lit(1))

  /** `vecs`' (vec_id, embedding) as probe candidates
    * (neighbor_id, ce, cell), assigned by the corpus's trained
    * quantizer — scan-local, zero shuffle. */
  private def assignedCands(s: SparkSession, dir: String,
      vecs: DataFrame): DataFrame =
    vecs.select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"),
      ivfCellCol(centroidsFor(s, dir)).as("cell"))

  /** The one IVF probe core of s3, s9, s17, s8 and s11, which differ
    * only in their candidates `(neighbor_id, ce, cell)` and in the
    * probe depth, row limit and radius passed here. The
    * [[NumQueries]] query vectors fan out to their `probes` best cells
    * of the trained quantizer ([[centroidsFor]], [[ivfRankCol]]; the
    * explode runs per QUERY row only), the query×probe frame
    * broadcasts into one candidate-bounded join on the cell id (self
    * excluded), the shared cosine fold scores each pair, `minCos`
    * drops pairs below a radius, and a WindowGroupLimit-pruned
    * row_number keeps each query's best `limit` by
    * (cos DESC, neighbor_id ASC). Scale: cost ∝ candidates ×
    * probes/cells — one scan-local assignment pass and a broadcast
    * query side. `pruneCells` serves a persisted cell-partitioned
    * index: the query frame is cut in the caller's scope, its probed cell ids
    * (queries × probes ints) collected and the candidates filtered
    * to them, a static partition-pruned scan. Oracle mirror:
    * [[sqlRankedCells]] + [[sqlProbeTail]], with the same centroids
    * inlined, so each gate entry is a full rows+schema+hash match. */
  private def ivfProbe(s: SparkSession, dir: String, cand: DataFrame,
      probes: Int, limit: Int, minCos: Option[Double] = None,
      pruneCells: Option[graft.Artifacts.Scope] = None): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val fanOut = Tables.embeddings(s, dir).filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        explode(slice(ivfRankCol(centroidsFor(s, dir)), 1, probes)).as("qc"))
    // when pruning, the query frame is read twice: prune list + join
    val q = pruneCells.fold(fanOut)(_.cut(fanOut))
    val c = if (pruneCells.isEmpty) cand else {
      val probed = q.select("qc").distinct().collect().map(_.getInt(0))
      cand.filter(col("cell").isin(probed.map(Integer.valueOf): _*))
    }
    val scored = c.join(broadcast(q),
        col("cell") === col("qc") && col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", VectorOps.cosine("qe", "ce"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    minCos.fold(scored)(t => scored.filter(col("cos") >= t))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= limit)
      .select("query_id", "rnk", "neighbor_id", "cos")
      .orderBy("query_id", "rnk")
  }

  /** s3: IVF ANN — the other standard production scale path next to
    * LSH: the probe core over the whole corpus, [[IvfProbes]] cells
    * per query. Recall vs s1 is measured in SimilaritySpec, including
    * on an id-shuffled corpus. */
  def s3Ivf(s: SparkSession, dir: String): DataFrame =
    ivfProbe(s, dir, assignedCands(s, dir, Tables.embeddings(s, dir)),
      IvfProbes, TopK)

  /** s17 radius: a range query keeps every probed candidate at cosine
    * ≥ this. 0.3 sits above the corpus's organic pairwise band's
    * center (max organic pairs 0.48–0.60, bulk far lower — see
    * [[D10Tau]], which marks duplicates at the same bar), so each
    * query recovers a small neighborhood, not the corpus. */
  val S17Tau = 0.3
  /** s17 per-query result ceiling — a production radius query always
    * bounds its output (a τ set too low must degrade to "the cap's
    * best", never to an unbounded result set). */
  val S17Cap = 50

  /** s17: RANGE (radius) SEARCH — "everything within cosine τ of
    * these vectors", the retrieval-expansion / near-dup-audit shape
    * that top-k cannot express (k fixes the output size; a radius
    * query's size is data-dependent, so it needs the [[S17Cap]]
    * guard instead). The probe core with the radius in place of the
    * top-k: the threshold is monotone in the (cos DESC, neighbor ASC)
    * ranking order, so rank-within-threshold ≡ threshold-within-rank
    * and the capped output is deterministic; the window's
    * WindowGroupLimit keeps the output request-sized even when a cell
    * is dense. */
  def s17RangeSearch(s: SparkSession, dir: String): DataFrame =
    ivfProbe(s, dir, assignedCands(s, dir, Tables.embeddings(s, dir)),
      IvfProbes, S17Cap, minCos = Some(S17Tau))

  /** DuckDB mirror of [[s17RangeSearch]]. */
  private[graft] def s17OracleSql(cent: Array[Array[Float]]): String =
    s"""WITH ${sqlRankedCells(cent, "embeddings")},
       |${sqlProbeTail(IvfProbes, S17Cap, minCos = Some(S17Tau))}""".stripMargin

  /** s9 candidate predicate: labels ≡ 0 (mod [[S9LabelMod]]) — the
    * metadata filter (license class, language, tenant) a production
    * vector search almost always carries alongside the vector. Keeps
    * ~40% of the corpus on the synthetic label distribution. */
  val S9LabelMod = 3

  /** s9 probes DEEPER than s3 ([[IvfProbes]] = 10 → 13 of the 16
    * cells): with ~60% of each cell's occupants filtered away, the
    * nearest SURVIVING neighbor sits systematically farther down the
    * cell ranking — the classic filtered-search recall cliff. Widening
    * nprobe is the standard pre-filter mitigation (the alternative,
    * post-filtering a fixed-size unfiltered shortlist, can return
    * FEWER than k survivors). SimilaritySpec measures recall 1.0 vs
    * the filtered brute force at the gate corpus. */
  val S9Probes = 13

  /** s9: FILTERED vector search — IVF top-k restricted to candidates
    * passing a metadata predicate. The filter is applied SCAN-SIDE
    * (fused into the scan's codegen stage, before any shuffle or
    * distance arithmetic), so the cell join and cosine kernel only
    * ever touch surviving rows — PRE-filtering, the FAISS/Milvus-style
    * strategy for selective predicates, with the deeper [[S9Probes]]
    * for its recall cliff. (The synthetic `label % 3` predicate is not
    * parquet-pushable; a production equality/IN predicate on the same
    * column additionally prunes row groups via PushedFilters.) Cost ∝
    * filtered-corpus × nprobe/cells; recall vs the filtered BRUTE
    * FORCE is the spec's claim, measured 1.0 at the gate corpus. */
  def s9FilteredAnn(s: SparkSession, dir: String): DataFrame =
    ivfProbe(s, dir, assignedCands(s, dir,
        Tables.embeddings(s, dir).filter(col("label") % S9LabelMod === 0)),
      S9Probes, TopK)

  /** s12 probe depth and graph degree: every vector probes its 4
    * nearest cells and keeps its 3 nearest in-probe neighbors. */
  val S12Probes = 4
  val S12K = 3

  /** s12: kNN-GRAPH construction — for EVERY corpus vector, its
    * [[S12K]] nearest neighbors (cosine) among vectors assigned to
    * its [[S12Probes]] nearest IVF cells. The all-vectors twin of s3:
    * a fixed-query ANN serves searches; the kNN GRAPH is the
    * substrate of graph-based index builds (HNSW/NN-Descent seeding),
    * graph clustering over embeddings, and kNN-LM style retrieval —
    * a production corpus tool needs the self-join form, and the
    * naive spelling is the O(N²) trap.
    *
    * Scale shape: the query side is CORPUS-sized, so — unlike
    * s3/s9, which broadcast a fixed query list — the cell join is a
    * KEYED SHUFFLE on the cell id, both sides partitioned alike;
    * candidate volume is Σ_cells assigned(cell) × probers(cell) ≈
    * probes × N × occupancy. Occupancy is PINNED by scaling the cell
    * count with the corpus ([[s12CellsFor]]: max(16, ceil(n/128)) —
    * the FAISS fixed-occupancy rule), keeping the build LINEAR: the
    * fixed-16-cell spelling measured 128–157× on the 10× probe
    * (occupancy grew 10×, pairs 100×); the scaled quantizer is the
    * fix, trained by the same Lloyd kernel and sharing s3's cached
    * artifact whenever the scaled count is 16 (every gate SF). Cell
    * assignment and probe ranking are ONE fused TWO-LEVEL
    * `ivf_rank_cells2` kernel call per row (the FAISS-IMI shape:
    * [[s12CoarseFor]]'s √K coarse buckets route each row to
    * [[S12CoarseProbes]] buckets' fine cells, so the per-row rank term
    * is O(√K·(1+cp)) instead of the flat kernel's O(K) — which, with
    * K = n/128, was the repo's one remaining super-linear corpus
    * total, O(n²/128)); top-k per vector is a WindowGroupLimit rank.
    * The oracle replays the SAME two-level rule — coarse ranking,
    * bucket restriction, fine ranking — with all three trained
    * literals inlined ([[s12OracleSql]]); vectors whose probed cells
    * hold < k others legitimately emit fewer edges. At every gate SF
    * kc = 4 ≤ cp, so the restriction covers all buckets and the
    * ranking equals the flat order row-for-row (spec-pinned). */
  /** The fused TWO-LEVEL cell-ranking kernel Column for the corpus's
    * trained s12 quantizer, applied to `inputCol` — the one spelling
    * shared by the s12 build, the graph artifact's assignment layer,
    * s14's query-probe seeding and s15's shard admission (drift between
    * any two of them would silently break the frozen-quantizer
    * contract). Built PROGRAMMATICALLY (catalyst Literals through the
    * GraftColumns bridge), not via expr(): the fine centroid literal
    * is corpus-scaled — K·64 float literals is megabytes of SQL text
    * at the 100× probe, re-parsed per invocation; the constructed
    * Literal carries the array directly. */
  private[graft] def s12RankCol(s: SparkSession, dir: String,
      inputCol: String = "embedding"): Column = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, FloatType, IntegerType}
    val cents = s12CentroidsFor(s, dir)
    val (coarse, fineCoarse) = s12CoarseFor(cents)
    val cp = math.min(S12CoarseProbes, coarse.length)
    org.apache.spark.sql.graftbridge.GraftColumns.column(
      graft.functions.IvfRankCells2(
        UnresolvedAttribute(inputCol),
        Literal.create(coarse.flatten,
          ArrayType(FloatType, containsNull = false)),
        Literal.create(cents.flatten,
          ArrayType(FloatType, containsNull = false)),
        Literal.create(fineCoarse,
          ArrayType(IntegerType, containsNull = false)),
        cp, cents.head.length))
  }

  def s12KnnGraph(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    // corpus-scaled quantizer (fixed ~128 occupancy) + the fused
    // TWO-LEVEL ranking kernel on BOTH corpus-sized sides: the flat
    // ivf_rank_cells kernel ranked ALL K cells per row — with K = n/128
    // an O(n²/128) corpus total, the one super-linear term of round
    // 14's audit; ivf_rank_cells2 ranks √K coarse buckets and only the
    // winning [[S12CoarseProbes]] buckets' fine cells (O(n^1.5) total).
    // At gate scale kc = 4 ≤ cp, the rule degenerates to the flat
    // ranking (spec-pinned row-for-row) and the oracle replays the
    // two-level rule itself.
    val cents = s12CentroidsFor(s, dir)
    val rankCol = s12RankCol(s, dir)
    val cellExpr = element_at(rankCol, lit(1))
    val probeExpr = slice(rankCol, 1, S12Probes)
    // the q side pays the same per-row rank kernel as the candidate
    // side — spread it over the full thread count too (the scan's
    // few-file partitioning would serialize ~n rank calls onto a
    // handful of tasks at probe scale; same explicit-N reasoning as
    // the candidate side below)
    val q = Tables.embeddings(s, dir)
      .repartition(s.sessionState.conf.numShufflePartitions)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        explode(probeExpr).as("cell"))
    // Parallelism must follow the PAIR volume, not the scan bytes:
    // each probe-side row fans out to probes×occupancy ≈ 512 cosine
    // pairs inside the join stage, so a scan-sized partitioning
    // (one ~5 MB file = one task at the 10× probe) serializes ~10M
    // pairs onto one thread — measured 23.7 s in a single task.
    // Explicit-N round-robin repartition spreads the fan-out and is
    // deliberately NOT AQE-coalescible (the exchange's 6 MB of input
    // looks tiny to size-based coalescing, which is blind to the
    // downstream blowup). 10× probe: 24.6 s → ~4 s.
    val cand = Tables.embeddings(s, dir)
      .repartition(s.sessionState.conf.numShufflePartitions)
      .withColumn("cell", cellExpr)
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"),
        col("cell"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    // Size-adaptive cell join: at gate
    // SF the exploded probe side is a few MB and broadcasting it wins;
    // at corpus scale it is CORPUS-sized (n×probes rows of 256-byte
    // vectors — ~250 MB at the 100× probe) and the planner's estimate,
    // blind to the explode, still chose broadcast: a 100×-probe stage
    // audit showed an 80 s driver stall building the hash relation.
    // Past the broadcast threshold, pin a shuffled hash join keyed on
    // cell — both sides exchange n-to-4n ROWS (pairs explode inside
    // the join), no sort, no driver round trip. The row count comes
    // from the fingerprint-keyed cache (shared with the cell scaling)
    // — no extra count() job per invocation (r14 ADVICE).
    val n = embeddingsCount(s, dir)
    val qBytes = n * (S12Probes + 1) * (16L + 4L * cents(0).length)
    val joined =
      if (qBytes <= s.sessionState.conf.autoBroadcastJoinThreshold)
        cand.join(broadcast(q), "cell")
      else cand.hint("shuffle_hash").join(q, "cell")
    joined
      .filter(col("query_id") =!= col("neighbor_id"))
      // project the embeddings AWAY before the window: the candidate
      // frame is probes×occupancy×N rows, and row_number's keyed
      // shuffle+sort would otherwise carry BOTH 256-byte vectors per
      // pair (~15 GB at the 10× probe) instead of 24 bytes of
      // (ids, cos) — measured 27 s → 9 s at 10×
      .select(col("query_id"), col("neighbor_id"),
        VectorOps.cosine("qe", "ce").as("cos"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= S12K)
      .select("query_id", "rnk", "neighbor_id", "cos")
      .orderBy("query_id", "rnk")
  }

  /** s14 beam width (candidates kept per query per hop) and hop
    * count (fixed — the unrolled-CTE oracle and the bounded plan both
    * depend on a CONSTANT number of rounds, the s10/q49 rule). */
  val S14Beam = 32
  val S14Hops = 4

  /** The persisted kNN-GRAPH artifact — the s8 inverted-list contract
    * applied to the graph family: production builds the graph ONCE per
    * corpus generation, persists it as a lake table, and every search
    * (s14) or admission (s15) pays only its own bounded work. Keyed by
    * corpus fingerprint AND the resolved centroid signature (r16
    * ADVICE: the distributed-Lloyd path is not bit-deterministic
    * across retrains, so a wiped/retrained quantizer must never be
    * paired with edges derived from the old one — the signature in the
    * path makes that structurally impossible). Three layers, each
    * staged once ([[graft.Artifacts.staged]]):
    *  - `assign/` — (vec_id, embedding, probes) PARTITIONED BY the
    *    assigned cell: the member lookup behind s14's query-probe
    *    seeding and s15's new-vector candidates is a partition-pruned
    *    read of nprobe cells, never a corpus scan;
    *  - `probed/` — (vec_id, embedding) PARTITIONED BY probed cell
    *    (the REVERSE adjacency of the probe relation, ×[[S12Probes]]
    *    storage): "which vectors probe cell c" is the question graph
    *    admission asks per landed cell, and answering it from the
    *    forward layer would scan every vector's probe list — the
    *    classic inverted-index trade, storage for admission-side
    *    partition pruning;
    *  - `edges/` — the directed kNN edge table (query_id, rnk,
    *    neighbor_id, cos), written from the audited [[s12KnnGraph]]
    *    plan; cosines are STORED so admission can re-rank an affected
    *    vector's merged candidate list without recomputing its old
    *    candidates (top-k of a disjoint union = top-k of the merged
    *    top-k lists under the shared total order). */
  private[graft] def graphIndexPath(s: SparkSession, dir: String): String = {
    graft.functions.GraftFunctions.register(s)
    val sig = centroidSig(s12CentroidsFor(s, dir)).take(8)
    // the path carries EVERY input the three layers are a function of:
    // corpus fingerprint, trained-quantizer signature, AND the edge
    // derivation constants — bumping S12K/S12Probes/S12CoarseProbes in
    // a later round must invalidate the artifact, not silently serve
    // stale-depth edges under a valid commit marker (r17 review)
    val path = graft.Artifacts.stagedDir("knngraph",
      s"${corpusFingerprint(s, dir)}-$sig-k$S12K-p$S12Probes-cp$S12CoarseProbes")
    graft.Artifacts.staged(s, s"$path/assign") { out =>
      val rankCol = s12RankCol(s, dir)
      Tables.embeddings(s, dir)
        // explicit-N spread before the kernel pass — the s12 rule:
        // parallelism follows rank work, not the scan's few-file split
        .repartition(s.sessionState.conf.numShufflePartitions)
        .select(col("vec_id"), col("embedding"),
          slice(rankCol, 1, S12Probes).as("probes"))
        .withColumn("cell", element_at(col("probes"), 1))
        // co-locate each cell onto one writer task BEFORE partitionBy:
        // the corpus-scaled quantizer has n/128 cells, and a dynamic
        // partitioned write from N round-robin tasks opens up to
        // N × cells files (the 100× probe measured the un-repartitioned
        // spelling stalling in exactly that file churn — ~50k writers
        // for 1563 cells); hash-clustering on the partition column
        // bounds it at one file per cell
        .repartition(col("cell"))
        .write.partitionBy("cell").parquet(out)
    }
    graft.Artifacts.staged(s, s"$path/probed")(
      Tables.parquet(s, s"$path/assign")
        .select(col("vec_id"), col("embedding"),
          explode(col("probes")).as("pcell"))
        .repartition(col("pcell")) // one writer task per probed cell
        .write.partitionBy("pcell").parquet(_))
    graft.Artifacts.staged(s, s"$path/edges")(
      s12KnnGraph(s, dir).write.parquet(_))
    path
  }

  /** Symmetrized s12 kNN edges for a corpus — the substrate s14's
    * beam search walks: read from the persisted [[graphIndexPath]]
    * edge layer (built once per corpus generation × quantizer
    * signature), symmetrized, then memoized per (SparkContext,
    * artifact path) and eagerly localCheckpointed so repeated searches
    * in one JVM pay neither the read nor the distinct. The memo key
    * is the artifact PATH — which embeds the centroid signature, so a
    * mid-application quantizer retrain can never serve edges from the
    * old geometry (r16 ADVICE). */
  private[graft] def s12SymEdges(s: SparkSession, dir: String): DataFrame = {
    val path = graphIndexPath(s, dir)
    graft.Artifacts.memo(s.sparkContext, "similarity.edges", path) {
      val knn = Tables.parquet(s, s"$path/edges")
        .select(col("query_id").as("src"), col("neighbor_id").as("dst"))
      knn.unionByName(
          knn.select(col("dst").as("src"), col("src").as("dst")))
        .distinct().localCheckpoint(true)
    }
  }

  /** s14: GRAPH ANN SEARCH — greedy beam search over the s12 kNN
    * graph, the capability the graph exists to feed (HNSW/NSG-style
    * search: navigate edges toward the query instead of scanning
    * cells). Each query's beam seeds DETERMINISTICALLY from the
    * global entry point (minimum vec_id) PLUS the query's own
    * adjacency in the graph — the NN-Descent in-corpus convention;
    * the seed union means s14's recall can never fall below the raw
    * graph's own edges (measured: entry-only search scored 0.53 vs
    * the raw edges' 0.73 recall@3 at sf0.1 — a degree-[[S12K]] graph
    * has no long-range links, HNSW's hierarchy is exactly the cure,
    * and seeding is the flat-graph equivalent). Then [[S14Hops]]
    * rounds of: expand the current beam's out-edges, score the
    * previously-unseen endpoints against the query, keep the best
    * [[S14Beam]] by (cos DESC, node ASC — the integer tie rule).
    * Result: the final beam's [[TopK]] best non-self nodes per
    * query, s1's output shape, so recall vs exact brute force is
    * directly measurable (recorded in SimilaritySpec).
    *
    * Edges are SYMMETRIZED first (kNN edges are directed src → its
    * [[S12K]] nearest; search walks both directions — the NN-Descent
    * convention): union + distinct via [[s12SymEdges]] — checkpointed
    * once and MEMOIZED per corpus fingerprint (the confirmedPairs
    * pattern: the graph build is the expensive subtree; production
    * persists it once per corpus generation and every search pays
    * only the beam walk).
    *
    * Scale shape: the beam frame is queries × [[S14Beam]] rows —
    * broadcast-joined against the corpus-sized edge and vector
    * tables, so each hop is two keyed lookups into big tables with a
    * TINY probe side, never a corpus scan per query; per-hop
    * candidate volume is bounded by queries × beam × 2·[[S12K]].
    * Monotone-beam rule: a node dropped from the beam may be
    * re-expanded later, but the beam only ever improves, so it can
    * never re-enter (re-scoring is idempotent — the oracle replays
    * the same current-beam anti-join). Each round is
    * localCheckpointed so the composed plan stays flat (the d8/q36/
    * s10 iterative-operator rule). Oracle: the s12 edge derivation
    * replayed as CTEs (trained literals inlined) + the [[S14Hops]]
    * beam rounds unrolled as stacked CTEs (the s10 pattern). */
  /** Seeds per query drawn from the PROBED IVF CELLS — the s3
    * composition that gives an OUT-OF-CORPUS query real entry points
    * (r16 verdict ask #3: a query with no adjacency rows used to fall
    * back to the single global entry, and the entry-only search
    * measured 0.53 recall@3 vs the raw graph's 0.73). 2·[[S12K]]: an
    * out-of-corpus query gets seed fan-out comparable to an in-corpus
    * node's symmetrized adjacency (out-degree [[S12K]] + its reverse
    * edges). */
  val S14SeedK = 2 * S12K

  def s14AnnGraph(s: SparkSession, dir: String): DataFrame =
    s14AnnGraphFor(s, dir, queriesDf(s, dir))

  /** [[s14AnnGraph]] over an EXPLICIT (query_id, qe) frame — the
    * production entry point: queries need not be corpus members.
    * CONTRACT: a query_id must not collide with a corpus vec_id unless
    * the query IS that vector (ids key the adjacency seeding and the
    * self-exclusion, the same rule the s8/d12 increment contracts
    * state). */
  private[graft] def s14AnnGraphFor(s: SparkSession, dir: String,
      q: DataFrame): DataFrame =
    graft.Artifacts.scoped(s, "similarity.s14") { sc =>
      graft.functions.GraftFunctions.register(s)
      val e = Tables.embeddings(s, dir)
      val idx = graphIndexPath(s, dir)
      val edges = s12SymEdges(s, dir)
      val nodes = e.select(col("vec_id").as("node"), col("embedding").as("ne"))
      val entryId = e.agg(min("vec_id")).collect()(0).getLong(0)
      val wBeam = Window.partitionBy("query_id")
        .orderBy(col("cos").desc, col("node"))
      // seed leg 3: the query's probed IVF cells' best members — rank
      // the frozen quantizer's cells scan-locally on the QUERY frame
      // (the same fused kernel every layer of the artifact was built
      // with), then a PARTITION-PRUNED read of the assign/ layer at the
      // probed cells, cosine, top-[[S14SeedK]] per query. For an
      // IN-CORPUS query the top-[[S12K]] of this leg is exactly its s12
      // out-edge list (same probes, same members, same tie rule), so the
      // leg strictly widens the seed set; for an out-of-corpus query it
      // is the ONLY data-dependent leg. Cost: queries × nprobe pruned
      // cell reads — request-sized, never a corpus scan.
      val qprobe = sc.cut(q // query-sized; reused for the cell list + join
        .select(col("query_id"), col("qe"),
          explode(slice(s12RankCol(s, dir, "qe"), 1, S12Probes)).as("qc")))
      val probedCells = qprobe.select("qc").distinct().collect()
        .map(_.getInt(0))
      val seedProbe = Tables.parquet(s, s"$idx/assign")
        .filter(col("cell").isin(probedCells.map(Integer.valueOf): _*))
        .select(col("vec_id").as("node"), col("embedding").as("ne"),
          col("cell"))
        .join(broadcast(qprobe),
          col("cell") === col("qc") && col("query_id") =!= col("node"))
        .select(col("query_id"), col("node"),
          VectorOps.cosine("qe", "ne").as("cos"))
        .withColumn("rnk", row_number().over(wBeam))
        .filter(col("rnk") <= S14SeedK)
        .select("query_id", "node")
      // seed = the global entry + the query's own adjacency (the
      // NN-Descent in-corpus convention: a kNN-graph search for a
      // corpus-member query starts from that member's own edges —
      // without them, a degree-[[S12K]] graph is too sparse to navigate
      // from a single fixed entry and the search UNDERPERFORMS the raw
      // graph: measured 0.53 vs 0.73 recall@3 at sf0.1) + the probed
      // cells' best members (real entry points for a query with no
      // adjacency — and strictly more seeds for one that has it).
      val seed = q.select(col("query_id"), lit(entryId).as("node"))
        .unionByName(broadcast(q.select("query_id"))
          .join(edges, col("query_id") === col("src"))
          .select(col("query_id"), col("dst").as("node")))
        .unionByName(seedProbe)
        .distinct()
      val seedBeam = sc.cut(seed
        .join(nodes, "node")
        .join(broadcast(q), "query_id")
        .select(col("query_id"), col("node"),
          VectorOps.cosine("qe", "ne").as("cos"))
        .withColumn("rnk", row_number().over(wBeam))
        .filter(col("rnk") <= S14Beam)
        .select("query_id", "node", "cos"))
      sc.rounds(seedBeam, S14Hops) { beam =>
        val expanded = broadcast(beam.select("query_id", "node"))
          .join(edges, col("node") === col("src"))
          .select(col("query_id"), col("dst").as("node")).distinct()
          .join(beam.select("query_id", "node"), Seq("query_id", "node"),
            "left_anti")
        val scoredNew = expanded
          .join(nodes, "node")
          .join(broadcast(q), "query_id")
          .select(col("query_id"), col("node"),
            VectorOps.cosine("qe", "ne").as("cos"))
        beam.unionByName(scoredNew)
          .withColumn("rnk", row_number().over(wBeam))
          .filter(col("rnk") <= S14Beam)
          .select("query_id", "node", "cos")
      }
        .filter(col("query_id") =!= col("node"))
        .withColumn("rnk", row_number().over(wBeam))
        .filter(col("rnk") <= TopK)
        .select(col("query_id"), col("rnk"), col("node").as("neighbor_id"),
          col("cos"))
        .orderBy("query_id", "rnk")
    }

  /** s15: INCREMENTAL kNN-GRAPH ADMISSION — the d11/s8 admission
    * contract applied to the persisted graph artifact: ingest a new
    * embedding shard into the corpus kNN graph WITHOUT rebuilding it,
    * with the result provably identical to a full s12 rebuild over
    * corpus ∪ shard under the frozen quantizer (the oracle runs that
    * rebuild in SQL — increment ≡ batch is hash-proven at the gate,
    * the d11 pattern). A production lake builds the graph once per
    * corpus generation ([[graphIndexPath]]) and admits shards; a graph
    * that can only be rebuilt is not a lake artifact.
    *
    * The rebuild-equivalence decomposes into three bounded pieces
    * (all under the FROZEN two-level quantizer, so no old vector's
    * probe list can move):
    *  1. NEW-vector edges: the shard is cell-ranked scan-local
    *     ([[s12RankCol]] on shard rows only), and its candidates are
    *     the members of its probed cells — a PARTITION-PRUNED read of
    *     the artifact's `assign/` layer plus the shard itself (new
    *     vectors can neighbor each other). ∝ shard × nprobe ×
    *     occupancy.
    *  2. AFFECTED-old updates: an old vector's candidate set changes
    *     iff a new vector LANDED in one of its probed cells. The
    *     artifact's `probed/` layer is the inverted probe index, so
    *     "who probes a landed cell" is a partition-pruned read of the
    *     landed cells — ≈ nprobe × occupancy old vectors per landed
    *     cell, corpus-independent. Each affected vector's new top-k is
    *     the re-rank of (its STORED top-k edges ∪ its top-k among the
    *     new arrivals): top-k of a disjoint union equals top-k of the
    *     merged per-side top-k lists under the shared
    *     (cos DESC, id ASC) total order, and stored cosines came from
    *     the same fold — so no old candidate is ever re-scored.
    *  3. UNTOUCHED rows pass through from `edges/` byte-identical
    *     (one broadcast anti-join on the affected-id list).
    *
    * Admission work is ∝ shard + affected (both corpus-independent at
    * fixed shard size — measured flat 1×→10×, SURVEY.md);
    * the only corpus-sized term is the OUTPUT relation itself, which
    * production writes as the next edge-table generation. Shard: the
    * s8 increment (every [[S8Mod]]th vector re-keyed past max id,
    * embedding unchanged) — deterministic, so the oracle derives it
    * in SQL; each copy's planted nearest neighbor is its source at
    * cosine exactly 1.0. */
  def s15GraphAdmit(s: SparkSession, dir: String): DataFrame =
    s15Admit(s, dir, Tables.parquet(s, s8IncrementPath(s, dir)))

  /** The admission core over an explicit (vec_id, embedding) shard —
    * factored like [[d12Admit]]/[[s8WriteAssigned]] so the scale probe
    * can admit a FIXED shard against growing corpora. CONTRACT: every
    * shard vec_id must exceed every corpus vec_id. */
  private[graft] def s15Admit(s: SparkSession, dir: String,
      incVecs: DataFrame): DataFrame = {
    val (untouched, delta) = s15AdmitParts(s, dir, incVecs)
    untouched.unionByName(delta).orderBy("query_id", "rnk")
  }

  /** The two halves of an admission: (untouched pass-through rows,
    * bounded delta = merged affected + new-vector edges). Split so the
    * scale probe can time the ADMISSION WORK (the delta — ∝ shard +
    * affected) apart from the corpus-sized pass-through union that
    * production spells as the next edge-table generation's write. */
  private[graft] def s15AdmitParts(s: SparkSession, dir: String,
      incVecs: DataFrame): (DataFrame, DataFrame) =
    graft.Artifacts.scoped(s, "similarity.s15") { sc =>
      graft.functions.GraftFunctions.register(s)
      val idx = graphIndexPath(s, dir)
      val inc = sc.cut(incVecs // shard-sized; reused by every piece below
        .select(col("vec_id"), col("embedding"),
          slice(s12RankCol(s, dir), 1, S12Probes).as("probes"))
        .withColumn("cell", element_at(col("probes"), 1)))
      // driver-side cell-id lists (shard-bounded, ≤ shard × nprobe ints):
      // `landed` prunes the affected-old read, `probed` the member read
      val landed = inc.select("cell").distinct().collect()
        .map(_.getInt(0)).map(Integer.valueOf)
      val probed = inc.select(explode(col("probes")).as("pc")).distinct()
        .collect().map(_.getInt(0)).map(Integer.valueOf)
      val wEdge = Window.partitionBy("query_id")
        .orderBy(col("cos").desc, col("neighbor_id"))

      // 1. new-vector edges: shard probes × (old members of those cells
      //    ∪ the shard itself), shard side broadcast — members never
      //    shuffle, and the read is partition-pruned to the probed cells
      val members = Tables.parquet(s, s"$idx/assign")
        .filter(col("cell").isin(probed: _*))
        .select(col("vec_id").as("neighbor_id"), col("embedding").as("ne"),
          col("cell"))
        .unionByName(inc.select(col("vec_id").as("neighbor_id"),
          col("embedding").as("ne"), col("cell")))
      val newEdges = members
        .join(broadcast(inc
            .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
              explode(col("probes")).as("cell"))),
          Seq("cell"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          VectorOps.cosine("qe", "ne").as("cos"))
        .withColumn("rnk", row_number().over(wEdge))
        .filter(col("rnk") <= S12K)

      // 2. affected-old updates: probers of the landed cells (pruned
      //    inverted-index read), paired with the new arrivals in the
      //    cell they probe, then merged with their STORED edge lists
      val affected = Tables.parquet(s, s"$idx/probed")
        .filter(col("pcell").isin(landed: _*))
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
          col("pcell"))
      val candNew = affected
        .join(broadcast(inc.select(col("cell").as("pcell"),
            col("vec_id").as("neighbor_id"), col("embedding").as("ne"))),
          Seq("pcell"))
        .select(col("query_id"), col("neighbor_id"),
          VectorOps.cosine("qe", "ne").as("cos"))
      // landed-cells-bounded; reused by 2 joins
      val affIds = sc.cut(affected.select("query_id").distinct())
      val oldEdges = Tables.parquet(s, s"$idx/edges")
      val merged = oldEdges
        .join(broadcast(affIds), Seq("query_id"), "left_semi")
        .select("query_id", "neighbor_id", "cos")
        .unionByName(candNew)
        .withColumn("rnk", row_number().over(wEdge))
        .filter(col("rnk") <= S12K)

      // 3. untouched rows pass through with their stored ranks
      val untouched = oldEdges
        .join(broadcast(affIds), Seq("query_id"), "left_anti")
        .select("query_id", "rnk", "neighbor_id", "cos")
      val delta = merged.select("query_id", "rnk", "neighbor_id", "cos")
        .unionByName(newEdges.select("query_id", "rnk", "neighbor_id", "cos"))
      (untouched, delta)
    }

  /** DuckDB mirror of [[s15GraphAdmit]]: the FULL s12 rebuild over
    * corpus ∪ the SQL-derived shard (same [[S8Mod]] re-keying) with
    * the frozen trained literals inlined — the increment ≡ batch
    * equivalence, hash-checked whole. */
  private[graft] def s15OracleSql(cent: Array[Array[Float]],
      coarse: Array[Array[Float]], fineCoarse: Array[Int],
      cp: Int): String =
    s"""WITH mx AS (SELECT max(vec_id) AS m FROM embeddings),
       |eu AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  UNION ALL
       |  SELECT e.vec_id + mx.m + 1 AS vec_id, e.embedding
       |  FROM embeddings e, mx WHERE e.vec_id % $S8Mod = 0),
       |${s12EdgeCtes(cent, coarse, fineCoarse, cp, rel = "eu")}
       |SELECT query_id, CAST(rnk AS INTEGER) AS rnk, neighbor_id, cos
       |FROM ranked WHERE rnk <= $S12K ORDER BY query_id, rnk""".stripMargin

  /** [[s15OracleSql]] via the operator's own coarse derivation — the
    * s12/s14 pattern, sharing their trained-literal resolution. */
  private[graft] def s15OracleFor(cent: Array[Array[Float]]): String = {
    val (coarse, fineCoarse) = s12CoarseFor(cent)
    s15OracleSql(cent, coarse, fineCoarse,
      math.min(S12CoarseProbes, coarse.length))
  }

  // ------------------------------------------- s18 semantic communities

  /** Synchronous LP rounds for [[s18GraphCommunities]] — labels travel
    * ≤ 4 hops, matching [[S14Hops]]' beam horizon on the same graph. */
  val S18Rounds = 4
  /** Output size: the largest communities. */
  val S18TopK = 30

  /** s18: SEMANTIC COMMUNITY DETECTION — label propagation
    * ([[Graph.labelPropagation]], the deterministic synchronous-mode
    * variant) over the s12 kNN graph's symmetrized edges: the
    * UNSUPERVISED TOPIC-CLUSTER step of a training-data pipeline
    * (name the semantic neighborhoods so mixture balancing, per-topic
    * caps, and near-dup cluster reports have a label to hang on when
    * no taxonomy exists — the d8 duplicate-cluster id at semantic
    * altitude). The graph is the PERSISTED lake artifact s14 walks
    * ([[s12SymEdges]] — memoized, centroid-signature-keyed), so
    * communities, beam search, and the admission path can never
    * disagree on what the graph is.
    *
    * Shape: [[S18Rounds]] mode-relabel rounds over edge-bounded
    * frames (the q36/q49/LP iterative family; per-round cost
    * 2·|E| = 2·n·[[S12K]] rows map-side-combined), then one
    * node-sized count. Output: (-1, n_communities) stacked over the
    * [[S18TopK]] largest (community, size) rows — the q45 stacking
    * convention, exact integers. Oracle: the s12 edge replay (the
    * SHARED s12EdgeCtes fragment — trained literals inlined) + the
    * LP rounds unrolled as MATERIALIZED stacked CTEs (the s14
    * pattern). */
  def s18GraphCommunities(s: SparkSession, dir: String): DataFrame =
    graft.Artifacts.scoped(s, "similarity.s18") { sc =>
      val labels = Graph.labelPropagation(sc, s12SymEdges(s, dir), S18Rounds)
      val comm = sc.cut(labels // reused by the total row and the top-k
        .groupBy(col("label").as("community"))
        .agg(count(lit(1)).as("size")))
      val total = comm.agg(count(lit(1)).as("size"))
        .select(lit(-1L).as("community"), col("size"))
      val top = comm.orderBy(col("size").desc, col("community"))
        .limit(S18TopK)
      total.unionAll(top).orderBy("community")
    }

  /** DuckDB mirror of [[s18GraphCommunities]]: the shared s12 edge
    * derivation + [[S18Rounds]] synchronous LP rounds unrolled — mode
    * via the same (count DESC, label ASC) row_number. */
  private[graft] def s18OracleSql(cent: Array[Array[Float]],
      coarse: Array[Array[Float]], fineCoarse: Array[Int],
      cp: Int): String = {
    val rounds = (1 to S18Rounds).map { r =>
      s"""lp$r AS MATERIALIZED (
         |  SELECT id, label FROM (
         |    SELECT e.src AS id, l.label, count(*) AS c, row_number()
         |      OVER (PARTITION BY e.src
         |            ORDER BY count(*) DESC, l.label) AS rn
         |    FROM gedges e JOIN lp${r - 1} l ON l.id = e.dst
         |    GROUP BY e.src, l.label)
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${s12EdgeCtes(cent, coarse, fineCoarse, cp)},
       |gknn AS MATERIALIZED (
       |  SELECT query_id, neighbor_id FROM ranked WHERE rnk <= $S12K),
       |gedges AS MATERIALIZED (
       |  SELECT query_id AS src, neighbor_id AS dst FROM gknn
       |  UNION
       |  SELECT neighbor_id AS src, query_id AS dst FROM gknn),
       |lp0 AS (SELECT DISTINCT src AS id, src AS label FROM gedges),
       |$rounds,
       |comm AS (
       |  SELECT label AS community, CAST(count(*) AS BIGINT) AS size
       |  FROM lp$S18Rounds GROUP BY label),
       |topc AS (
       |  SELECT community, size FROM comm
       |  ORDER BY size DESC, community LIMIT $S18TopK)
       |SELECT CAST(community AS BIGINT) AS community, size FROM (
       |  SELECT -1 AS community, CAST(count(*) AS BIGINT) AS size
       |  FROM comm
       |  UNION ALL SELECT community, size FROM topc) t
       |ORDER BY community""".stripMargin
  }

  private[graft] def s18OracleFor(cent: Array[Array[Float]]): String = {
    val (coarse, fineCoarse) = s12CoarseFor(cent)
    s18OracleSql(cent, coarse, fineCoarse,
      math.min(S12CoarseProbes, coarse.length))
  }

  /** s10 candidate-pool size per query (the relevance top-N MMR
    * reranks) and the number of diversified picks returned. */
  val S10Cand = 20
  val S10K = 5

  /** s10: MMR DIVERSITY RERANK — maximal marginal relevance
    * (Carbonell & Goldstein, SIGIR'98): greedily pick the candidate
    * maximizing λ·rel(q,c) − (1−λ)·max_{s∈selected} sim(c,s), λ = ½.
    * Plain top-k (s1/s3) returns near-duplicates of one good hit; a
    * retrieval-augmented or dedup-aware pipeline wants COVERAGE, and
    * MMR is the standard greedy trade between relevance and novelty.
    *
    * Shape: candidate generation is the audited s1 scan (top-
    * [[S10Cand]] per query by cosine; at scale swap in s7's shortlist
    * — the rerank only sees (query, candidate) rows either way), then
    * the pairwise-sim table and the greedy loop are CANDIDATE-BOUNDED:
    * ≤ C² rows per query, never corpus-sized. The [[S10K]]-step greedy
    * is inherently sequential in k but embarrassingly parallel across
    * queries — each step is one join + one WindowGroupLimit pick over
    * per-query rows, k is a small constant, and each round's selection
    * is localCheckpointed so the composed plan stays flat (the d8/q36
    * iterative-operator rule). Scores are the shared-fold cosines both
    * engines compute bit-identically; λ = ½ keeps the combination
    * exact in binary, so the greedy's every comparison — and therefore
    * the whole selection sequence — is hash-verified by an oracle that
    * unrolls the k steps as stacked CTEs (the c10 trainer-replay
    * pattern). */
  def s10MmrDiversify(s: SparkSession, dir: String): DataFrame =
    graft.Artifacts.scoped(s, "similarity.s10") { sc =>
      graft.functions.GraftFunctions.register(s)
      val wRel = Window.partitionBy("query_id")
        .orderBy(col("rel").desc, col("neighbor_id"))
      val cand = sc.cut(Tables.embeddings(s, dir)
        .select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"))
        .crossJoin(broadcast(queriesDf(s, dir)))
        .filter(col("query_id") =!= col("neighbor_id"))
        .withColumn("rel", VectorOps.cosine("qe", "ce"))
        .withColumn("crnk", row_number().over(wRel))
        .filter(col("crnk") <= S10Cand)
        .select("query_id", "neighbor_id", "ce", "rel"))
      val pairs = sc.cut(cand
        .select(col("query_id"), col("neighbor_id").as("a"), col("ce").as("ea"))
        .join(cand.select(col("query_id"), col("neighbor_id").as("b"),
          col("ce").as("eb")), Seq("query_id"))
        .filter(col("a") =!= col("b"))
        .withColumn("sim", VectorOps.cosine("ea", "eb"))
        .select("query_id", "a", "b", "sim"))
      val half = lit(0.5)
      val first = sc.cut(cand.withColumn("rnk", row_number().over(wRel))
        .filter(col("rnk") === 1)
        .select(col("query_id"), col("neighbor_id"), lit(1).as("step"),
          (half * col("rel")).as("mmr")))
      val steps = (2 to S10K).iterator
      sc.rounds(first, S10K - 1) { sel =>
        val step = steps.next()
        val maxsim = pairs
          .join(sel.select(col("query_id"), col("neighbor_id").as("b")),
            Seq("query_id", "b"))
          .join(sel.select(col("query_id"), col("neighbor_id").as("a")),
            Seq("query_id", "a"), "left_anti")
          .groupBy("query_id", "a").agg(max("sim").as("maxsim"))
        val wMmr = Window.partitionBy("query_id")
          .orderBy(col("mmr").desc, col("neighbor_id"))
        val next = cand.as("c")
          .join(maxsim.as("m"), col("c.query_id") === col("m.query_id") &&
            col("c.neighbor_id") === col("m.a"))
          .select(col("c.query_id").as("query_id"),
            col("c.neighbor_id").as("neighbor_id"), col("c.rel").as("rel"),
            col("m.maxsim").as("maxsim"))
          .withColumn("mmr", half * col("rel") - half * col("maxsim"))
          .withColumn("rnk", row_number().over(wMmr))
          .filter(col("rnk") === 1)
          .select(col("query_id"), col("neighbor_id"),
            lit(step).as("step"), col("mmr"))
        sel.unionByName(next)
      }.orderBy("query_id", "step")
    }

  /** DuckDB mirror of [[s10MmrDiversify]]: the greedy unrolled as
    * [[S10K]] stacked CTE stages (the c10 pattern — each stage's
    * selection feeds the next stage's max-sim term). Shared-fold
    * cosines and the exact-in-binary λ = ½ combination keep every
    * greedy comparison bit-identical across engines. */
  private[graft] def s10OracleSql: String = {
    val steps = (2 to S10K).map { i =>
      s"""ms$i AS (
         |  SELECT p.query_id, p.a AS neighbor_id, max(p.sim) AS maxsim
         |  FROM pairs p JOIN sel${i - 1} s
         |    ON s.query_id = p.query_id AND s.neighbor_id = p.b
         |  WHERE NOT EXISTS (SELECT 1 FROM sel${i - 1} z
         |    WHERE z.query_id = p.query_id AND z.neighbor_id = p.a)
         |  GROUP BY p.query_id, p.a),
         |pick$i AS (
         |  SELECT query_id, neighbor_id, step, mmr, row_number() OVER (
         |    PARTITION BY query_id ORDER BY mmr DESC, neighbor_id) AS rnk
         |  FROM (
         |    SELECT m.query_id, m.neighbor_id, $i AS step,
         |      CAST(0.5 AS DOUBLE) * c2.rel
         |        - CAST(0.5 AS DOUBLE) * m.maxsim AS mmr
         |    FROM ms$i m JOIN c c2 ON c2.query_id = m.query_id
         |      AND c2.neighbor_id = m.neighbor_id)),
         |sel$i AS (
         |  SELECT query_id, neighbor_id, step, mmr FROM sel${i - 1}
         |  UNION ALL
         |  SELECT query_id, neighbor_id, step, mmr FROM pick$i
         |  WHERE rnk = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH q AS (
       |  SELECT vec_id AS query_id, embedding AS qe FROM embeddings
       |  WHERE vec_id < $NumQueries),
       |cand AS (
       |  SELECT q.query_id, e.vec_id AS neighbor_id, e.embedding AS ce,
       |    ${VectorOps.sqlCosine("qe", "embedding")} AS rel,
       |    row_number() OVER (PARTITION BY q.query_id
       |      ORDER BY ${VectorOps.sqlCosine("qe", "embedding")} DESC,
       |        e.vec_id) AS crnk
       |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id),
       |c AS (SELECT query_id, neighbor_id, ce, rel FROM cand
       |  WHERE crnk <= $S10Cand),
       |pairs AS (
       |  SELECT x.query_id, x.neighbor_id AS a, y.neighbor_id AS b,
       |    ${VectorOps.sqlCosine("x.ce", "y.ce")} AS sim
       |  FROM c x JOIN c y ON x.query_id = y.query_id
       |    AND x.neighbor_id <> y.neighbor_id),
       |sel1 AS (
       |  SELECT query_id, neighbor_id, 1 AS step,
       |    CAST(0.5 AS DOUBLE) * rel AS mmr
       |  FROM (SELECT query_id, neighbor_id, rel, row_number() OVER (
       |      PARTITION BY query_id ORDER BY rel DESC, neighbor_id) AS rnk
       |    FROM c) WHERE rnk = 1),
       |$steps
       |SELECT query_id, CAST(step AS INTEGER) AS step, neighbor_id, mmr
       |FROM sel$S10K ORDER BY query_id, step""".stripMargin
  }

  // ------------------------------------------------ s16 scalar quantization

  /** Codes per byte — SQ8 quantizes each dimension to one of 256 levels. */
  val Sq8Levels = 256

  /** Spark-SQL fragment: encode→decode FUSED over the raw float column
    * `v` — the integer code never leaves the expression, so the scan
    * pays ONE 64-element pass per row. Value-identical to routing
    * through [[sq8CodeSql]]'s TINYINT (the −128/+128 round trip is
    * exact on integers 0..255, and the oracle DOES materialize the
    * byte codes — hash-equality of the final ranking proves the fused
    * spelling rides the same byte grid). The first, two-column
    * spelling (a `codes` transform column + a recon transform reading
    * it) collapsed under Catalyst's project inlining into O(dims²)
    * interpreted lambda evals per row — 6.8× on the 10× sweep; the
    * fuse restored the linear 64-eval pass. */
  private def sq8ReconFusedSpark(v: String, i: String): String =
    s"""CAST(IF(element_at(mx_arr, $i) <= element_at(mn_arr, $i),
       |  element_at(mn_arr, $i),
       |  element_at(mn_arr, $i)
       |    + (least(CAST(255 AS BIGINT), greatest(CAST(0 AS BIGINT),
       |         floor((CAST(element_at($v, $i) AS DOUBLE)
       |                - element_at(mn_arr, $i))
       |           / ((element_at(mx_arr, $i) - element_at(mn_arr, $i))
       |              / ${Sq8Levels.toDouble}D)))) + 0.5D)
       |      * ((element_at(mx_arr, $i) - element_at(mn_arr, $i))
       |         / ${Sq8Levels.toDouble}D)) AS FLOAT)""".stripMargin

  /** The SQ8 code for dimension `i` (1-based) of float-array column
    * `v` given stat arrays `mn_arr`/`mx_arr` (DOUBLE, 1-based): clamp
    * floor((x − mn)/scale) into [0, 255] (x = mx lands on exactly 256
    * → clamped), stored with a −128 offset so it fits a TINYINT — the
    * production byte-per-dim layout, materialized by the ORACLE's enc
    * CTE (the Spark side fuses encode→decode, [[sq8ReconFusedSpark]]).
    * Degenerate dimension (mx ≤ mn) → code 0, guarded identically on
    * both sides. */
  private def sq8CodeSql(v: String, i: String): String =
    s"""CAST(CASE WHEN mx_arr[$i] <= mn_arr[$i] THEN 0
       |  ELSE LEAST(255, GREATEST(0,
       |    CAST(FLOOR((CAST($v[$i] AS DOUBLE) - mn_arr[$i])
       |      / ((mx_arr[$i] - mn_arr[$i]) / ${Sq8Levels.toDouble})) AS BIGINT)))
       |  END - 128 AS TINYINT)""".stripMargin

  /** DuckDB mirror of [[sq8ReconFusedSpark]]'s decode half, reading the
    * materialized TINYINT code array `cd` — mid-rise dequantization
    * mn + (code + 0.5)·scale, cast to FLOAT so the scoring input is
    * the same 4-byte type the raw corpus carries. A degenerate
    * dimension (mx ≤ mn) reconstructs to mn — guarded on BOTH sides so
    * no NaN/Inf can enter the fold. The oracle deliberately keeps the
    * TWO-step byte-materialized spelling a production index uses, so
    * the gate's hash-equality proves the Spark fuse rides the exact
    * byte grid. */
  private def sq8ReconSql(cd: String, i: String): String =
    s"""CAST(CASE WHEN mx_arr[$i] <= mn_arr[$i] THEN mn_arr[$i]
       |  ELSE mn_arr[$i]
       |    + ((CAST($cd[$i] AS BIGINT) + 128) + 0.5)
       |      * ((mx_arr[$i] - mn_arr[$i]) / ${Sq8Levels.toDouble})
       |  END AS FLOAT)""".stripMargin

  /** s16: SCALAR-QUANTIZED (SQ8) ANN — the FAISS `SQ8` / Milvus
    * `SCALAR_QUANTIZER` storage trade: one BYTE per dimension instead
    * of a 4-byte float (64 B vs 256 B per vector — at 100 TB of
    * embeddings the index shrinks 4×, which is the difference between
    * spilling and RAM-resident scoring), at ~1 quantization-step
    * distance error. Complements s6's PQ (codebook × subspace, 8× at
    * higher distortion): SQ8 is the standard first rung of the
    * compression ladder because encode/decode is pure per-dimension
    * arithmetic — no trained codebook, so the "training" is one exact
    * min/max aggregation and the oracle is fully static SQL.
    *
    * Shape (all one declarative plan — nothing driver-side):
    *   1. per-dimension min/max: posexplode → 64-group partial agg
    *      (map-side combine reduces every task to ≤64 rows — the
    *      corpus×64 expansion never shuffles);
    *   2. fold the 64 rows to ONE stats row (sort_array(collect_list)
    *      → ordered mn/mx arrays) and broadcast-cross it onto the
    *      corpus — the d14/c29 stat-frame pattern;
    *   3. SEARCH (asymmetric, ADC-style): raw float query vs the
    *      candidate RECONSTRUCTED onto the 256-level byte grid —
    *      encode→decode fused into one row-local 64-element pass
    *      ([[sq8ReconFusedSpark]]; a production index persists
    *      [[sq8CodeSql]]'s TINYINT codes as its staged artifact and
    *      decodes from bytes at read — same arithmetic, split at the
    *      storage boundary, and the ORACLE keeps that two-step
    *      byte-materialized spelling so the hash gate proves the fuse
    *      rides the byte grid); scoring is the native fused cosine
    *      kernel, top-k per query one window.
    * Scale: one corpus map pass + the s1 broadcast-query plan over a
    * relation a production deployment stores 4× smaller. Recall@3 vs
    * exact s1: 0.93 at sf0.001 (spec-floored ≥ 0.8).
    *
    * Reference anchor: the course's Dask notebooks stop at exact
    * pairwise similarity (dask/dask_dataframes.ipynb); SQ8 is the
    * public-literature scale path (Guo et al., "Accelerating
    * Large-Scale Inference with Anisotropic Vector Quantization"
    * family; FAISS ScalarQuantizer). */
  def s16Sq8Search(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val e = Tables.embeddings(s, dir)
    // 1–2: exact per-dimension stats folded into one broadcastable row.
    val stats = e
      .select(posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("pos")
      .agg(min(col("v")).cast("double").as("mn"),
        max(col("v")).cast("double").as("mx"))
      .agg(
        expr("transform(sort_array(collect_list(struct(pos, mn))), x -> x.mn)")
          .as("mn_arr"),
        expr("transform(sort_array(collect_list(struct(pos, mx))), x -> x.mx)")
          .as("mx_arr"))
    // 3+4 candidate side: encode→decode fused into ONE 64-element pass
    // per row ([[sq8ReconFusedSpark]] — the byte grid is identical to
    // the oracle's materialized TINYINT codes; a separate `codes`
    // column would collapse into O(dims²) inlined evals). A production
    // index PERSISTS [[sq8CodeSpark]]'s codes column as its staged
    // artifact and reconstructs from bytes at read — same arithmetic,
    // split at the storage boundary.
    val cand = e.crossJoin(broadcast(stats))
      .withColumn("re",
        expr(s"transform(sequence(1, 64), i -> ${sq8ReconFusedSpark("embedding", "i")})"))
      .select(col("vec_id").as("neighbor_id"), col("re"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    cand.crossJoin(broadcast(queriesDf(s, dir)))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", VectorOps.cosine("qe", "re"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= TopK)
      .select("query_id", "rnk", "neighbor_id", "cos")
      .orderBy("query_id", "rnk")
  }

  /** Static DuckDB oracle for s16 — stats, encode, reconstruct and
    * rank replayed exactly ([[sq8CodeSql]]/[[sq8ReconSql]] mirror the
    * Spark fragments term-for-term; the cosine is the shared
    * [[VectorOps.sqlCosine]] fold). No trained literals: min/max are
    * exact order-independent aggregates, so this oracle is static SQL
    * like s1/s2. */
  private def s16OracleSql: String =
    s"""WITH dims AS (
       |  SELECT dim, CAST(min(v) AS DOUBLE) AS mn, CAST(max(v) AS DOUBLE) AS mx
       |  FROM (SELECT unnest(embedding) AS v,
       |               unnest(generate_series(1, 64)) AS dim FROM embeddings)
       |  GROUP BY dim),
       |st AS (SELECT list(mn ORDER BY dim) AS mn_arr,
       |              list(mx ORDER BY dim) AS mx_arr FROM dims),
       |enc AS (
       |  SELECT vec_id AS neighbor_id,
       |    list_transform(generate_series(1, 64),
       |      i -> ${sq8CodeSql("embedding", "i")}) AS codes,
       |    mn_arr, mx_arr
       |  FROM embeddings, st),
       |rec AS (
       |  SELECT neighbor_id,
       |    list_transform(generate_series(1, 64),
       |      i -> ${sq8ReconSql("codes", "i")}) AS re
       |  FROM enc),
       |q AS (SELECT vec_id AS query_id, embedding AS qe
       |  FROM embeddings WHERE vec_id < $NumQueries),
       |scored AS (
       |  SELECT query_id, neighbor_id,
       |    ${VectorOps.sqlCosine("qe", "re")} AS cos
       |  FROM q, rec WHERE query_id <> neighbor_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cos, row_number() OVER (
       |    PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
       |  FROM scored)
       |SELECT query_id, CAST(rnk AS INTEGER) AS rnk, neighbor_id, cos
       |FROM ranked WHERE rnk <= $TopK ORDER BY query_id, rnk""".stripMargin

  // ------------------------------------------ d15 semantic decontamination

  /** d15 eval-set size (fixed — benchmarks are fixed-size, so the
    * per-corpus-row cost is a constant 32 cosines at any scale) and
    * contamination threshold (the corpus is near-orthogonal, organic
    * max pairwise cosine 0.48–0.60 — see [[D10Tau]] — so 0.9 fires on
    * planted leaks only, with margin). */
  val D15Evals = 32
  val D15Tau = 0.9

  /** d15: SEMANTIC DECONTAMINATION — the embedding-space sibling of
    * d9's n-gram decontamination: flag every training vector whose
    * cosine against ANY benchmark-eval embedding reaches [[D15Tau]] —
    * the screen that catches paraphrased/reworded benchmark leakage
    * that n-gram overlap misses (run in practice against benchmark
    * embeddings before a corpus ships). Output per corpus vector:
    * (vec_id, best_eval, max_cos, contaminated).
    *
    * Eval derivation (deterministic, oracle-mirrored): the
    * [[D15Evals]] corpus vectors with the smallest md5(vec_id) —
    * selected via distributed TakeOrdered top-k, never a global
    * window — play the benchmark, a third each: VERBATIM (the
    * benchmark leaked into training — its source must flag at
    * cos 1.0), PERTURBED (x·0.9 + 0.02, double arithmetic rounded
    * once to float — a reworded leak; the
    * constant shift tilts a unit vector by ≤ ~10°, so the source
    * still flags ≥ ~0.98 for ANY vector, while pure scaling would be
    * invisible to cosine), and NEGATED (a benchmark absent from
    * training — cos −1 against its own source, far below τ against
    * everything else).
    *
    * Scale shape: the eval set is FIXED-size and broadcast; ONE
    * corpus scan pays [[D15Evals]] fused cosines per row (candidate
    * frame = 32n rows, projected to (ids, cos) BEFORE the top-1
    * window — the s12 lesson applied at birth); the verdict is a
    * WindowGroupLimit rank. Linear with a constant-32 factor at any
    * corpus size. */
  def d15SemDecontam(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val sel = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding"),
        md5(col("vec_id").cast("string")).as("hk"))
      .orderBy(col("hk"), col("vec_id")).limit(D15Evals)
    // rank window over the LIMITed 32 rows only — bounded serial frame
    val wSel = Window.orderBy(col("hk"), col("vec_id"))
    val evals = sel.withColumn("rn", row_number().over(wSel))
      .select(col("rn").as("eval_id"),
        when(col("rn") % 3 === 1, col("embedding"))
          .when(col("rn") % 3 === 2, expr("transform(embedding, " +
            // arithmetic in DOUBLE, ONE final rounding to FLOAT: bare
            // float*float may double-round differently across engines
            "x -> CAST(CAST(x AS DOUBLE) * CAST(0.9 AS DOUBLE) + " +
            "CAST(0.02 AS DOUBLE) AS FLOAT))"))
          .otherwise(expr("transform(embedding, x -> CAST(-x AS FLOAT))"))
          .as("ev"))
    val wb = Window.partitionBy("vec_id")
      .orderBy(col("cos").desc, col("eval_id"))
    Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(evals))
      .select(col("vec_id"), col("eval_id"),
        VectorOps.cosine("embedding", "ev").as("cos"))
      .withColumn("rnk", row_number().over(wb))
      .filter(col("rnk") === 1)
      .select(col("vec_id"), col("eval_id").as("best_eval"),
        col("cos").as("max_cos"),
        when(col("cos") >= D15Tau, lit(1)).otherwise(lit(0))
          .as("contaminated"))
      .orderBy("vec_id")
  }

  /** DuckDB CTE chain of [[d15SemDecontam]] ending in
    * `d15best`(vec_id, eval_id, cos, rnk) — hash-ordered eval
    * derivation, per-kind transforms in FLOAT, shared-fold cosine,
    * (cos desc, eval_id) rank. Shared by the d15 oracle and the c30
    * composed-DAG oracle so the screen cannot drift. */
  private[operators] def d15Ctes: String =
    s"""d15ranked AS (
       |  SELECT vec_id, embedding, row_number() OVER (
       |    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
       |  FROM embeddings),
       |d15evals AS (
       |  SELECT rn AS eval_id,
       |    CASE rn % 3
       |      WHEN 1 THEN embedding
       |      WHEN 2 THEN list_transform(embedding,
       |        x -> CAST(CAST(x AS DOUBLE) * CAST(0.9 AS DOUBLE) +
       |          CAST(0.02 AS DOUBLE) AS FLOAT))
       |      ELSE list_transform(embedding, x -> CAST(-x AS FLOAT))
       |    END AS ev
       |  FROM d15ranked WHERE rn <= $D15Evals),
       |d15scored AS (
       |  SELECT e.vec_id, ev.eval_id,
       |    ${VectorOps.sqlCosine("e.embedding", "ev.ev")} AS cos
       |  FROM embeddings e CROSS JOIN d15evals ev),
       |d15best AS (
       |  SELECT vec_id, eval_id, cos, row_number() OVER (
       |    PARTITION BY vec_id ORDER BY cos DESC, eval_id) AS rnk
       |  FROM d15scored)""".stripMargin

  /** DuckDB mirror of [[d15SemDecontam]] — [[d15Ctes]] + the verdict
    * row. τ compared as an explicit DOUBLE cast (a bare 0.9 literal is
    * DECIMAL in DuckDB). */
  private def d15OracleSql: String =
    s"""WITH $d15Ctes
       |SELECT vec_id, CAST(eval_id AS INTEGER) AS best_eval,
       |  cos AS max_cos,
       |  CAST(CASE WHEN cos >= CAST($D15Tau AS DOUBLE) THEN 1 ELSE 0 END
       |    AS INTEGER) AS contaminated
       |FROM d15best WHERE rnk = 1 ORDER BY vec_id""".stripMargin

  /** Semantic-duplicate threshold for [[d10SemDedup]]. The synthetic
    * embeddings are near-orthogonal (max pairwise cosine 0.48–0.60,
    * ZERO pairs above 0.8 at any SF — probed round 10), so the
    * production SemDeDup threshold (~0.95 on real encoder output)
    * would drop nothing here; 0.3 sits at the ≈99.3rd percentile of
    * the pairwise-cosine distribution (920 / 990 / 14922 global pairs
    * at sf0.001 / 0.01 / 0.1) and yields a non-trivial drop set at
    * every SF. Corpus-calibrated, the same reasoning as d5's
    * corpus-scaled bits-per-band. */
  val D10Tau = 0.3

  /** `d10_semdedup` — SemDeDup-style semantic pruning (Abbas et al.
    * 2023, arXiv:2303.09540): block the corpus by the SAME trained
    * quantizer s3 routes queries with ([[centroidsFor]], k-means
    * cells), then drop any vector whose cosine to a LOWER-id vector
    * in its cell is ≥ [[D10Tau]] — the keep-list rule d1/d4/d5 use
    * (lowest id = canonical representative). Output is the full audit
    * — one row per vector `(vec_id, cell, is_kept)` — not just the
    * keep list, so the gate hashes the cell assignment too.
    *
    * Scale shape: cell assignment is scan-local ([[ivfCellCol]] — zero
    * shuffle, the exact route s3 uses);
    * then ONE keyed shuffle on cell id, and the within-cell self-join
    * is bounded by cell occupancy, which production keeps O(1) by
    * scaling k with corpus size (the SemDeDup paper runs 100k clusters
    * on LAION — k ≈ n / target occupancy, exactly how d5 scales its
    * bits-per-band). Never all-pairs across cells. The final
    * audit-flag join keys on vec_id — Spark picks shuffle-hash /
    * broadcast via AQE since `dropped` is a small distinct id set
    * (≤ the duplicate count, not the corpus). */
  def d10SemDedup(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val cells = Tables.embeddings(s, dir).select(col("vec_id"),
      col("embedding"), ivfCellCol(centroidsFor(s, dir)).as("cell"))
    val lo = cells.select(col("cell").as("cell_a"), col("vec_id").as("vec_a"),
      col("embedding").as("ea"))
    val hi = cells.select(col("cell").as("cell_b"), col("vec_id").as("vec_b"),
      col("embedding").as("eb"))
    val dropped = lo
      .join(hi, col("cell_a") === col("cell_b") && col("vec_a") < col("vec_b"))
      .filter(VectorOps.cosine("ea", "eb") >= D10Tau)
      .select(col("vec_b").as("vec_id")).distinct()
      .withColumn("hit", lit(1))
    cells
      .join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        when(col("hit").isNotNull, lit(0)).otherwise(lit(1)).as("is_kept"))
      .orderBy("vec_id")
  }

  // ------------------------------------------- s8 incremental IVF index

  /** s8 increment derivation: every [[S8Mod]]th corpus vector spawns an
    * increment vector re-keyed past the corpus max id, embedding
    * UNCHANGED — the re-ingested-embedding shape, and a planted ground
    * truth (each copy's nearest corpus neighbor is its source at
    * cosine exactly 1.0). Deterministic, so the DuckDB oracle derives
    * the same shard from `embeddings` in SQL. */
  val S8Mod = 5

  /** The staged increment shard (vec_id, embedding), ids past the
    * corpus max — the d11IncrementPath pattern for embeddings. */
  def s8IncrementPath(s: SparkSession, dir: String): String =
    graft.Artifacts.staged(s, graft.Artifacts.stagedDir("ivfinc",
        corpusFingerprint(s, dir), "increment.parquet")) { out =>
      val e = Tables.embeddings(s, dir)
      val maxId = e.agg(max(col("vec_id"))).head().getLong(0)
      e.filter(col("vec_id") % S8Mod === 0)
        .select((col("vec_id") + maxId + 1).as("vec_id"), col("embedding"))
        .write.parquet(out)
    }

  /** The persisted IVF INDEX — FAISS's inverted lists as a lake table:
    * (vec_id, embedding) PARTITIONED BY the assigned cell, so a probe
    * of nprobe cells is a PARTITION-PRUNED scan (the q30 machinery
    * applied to ANN: at 100 TB each cell partition is further bucketed
    * and only nprobe/cells of the index bytes are read per query
    * batch). Keyed by the corpus fingerprint AND the full signature
    * of the quantizer that assigned the cells ([[ivfIndexKey]]: a
    * retrained quantizer, which distributed Lloyd does not promise to
    * reproduce bit for bit, gets its own index instead of probing
    * cells assigned by other centroids). Two layers, each staged once
    * ([[graft.Artifacts.staged]]):
    *  - `base/` — the corpus assignment, the pay-once-per-generation
    *    corpus pass (scan-local [[ivfCellCol]], zero shuffle before
    *    the partitioned write);
    *  - `inc/` — the ADMITTED increment: the staged shard assigned by
    *    the SAME frozen quantizer (no retraining — the production
    *    contract: centroids are versioned artifacts, increments join
    *    the existing geometry) and appended as its own partition tree,
    *    cost ∝ increment, corpus untouched. */
  def s8IndexPath(s: SparkSession, dir: String): String = {
    val path = graft.Artifacts.stagedDir("ivfindex", ivfIndexKey(s, dir))
    graft.Artifacts.staged(s, s"$path/base")(s8WriteAssigned(s, dir,
      Tables.embeddings(s, dir).select(col("vec_id"), col("embedding")), _))
    graft.Artifacts.staged(s, s"$path/inc")(s8WriteAssigned(s, dir,
      Tables.parquet(s, s8IncrementPath(s, dir)), _))
    path
  }

  /** `<embeddings fingerprint>_<centroid signature>`: the key of every
    * artifact derived from the flat quantizer's cell assignment. */
  private def ivfIndexKey(s: SparkSession, dir: String): String =
    s"${corpusFingerprint(s, dir)}_${centroidSig(centroidsFor(s, dir))}"

  /** The admission core: assign an explicit (vec_id, embedding) shard
    * with the corpus's FROZEN quantizer and write it cell-partitioned —
    * factored out so the scale probe can admit a FIXED-size shard
    * against growing corpora (the d11Admit pattern). */
  private[graft] def s8WriteAssigned(s: SparkSession, dir: String,
      inc: DataFrame, outPath: String): Unit = {
    inc.withColumn("cell", ivfCellCol(centroidsFor(s, dir)))
      .write.partitionBy("cell").mode("overwrite").parquet(outPath)
  }

  /** s8: INCREMENTAL ANN — admit a NEW embedding shard into the
    * persisted IVF index and answer the standard queries over
    * corpus ∪ increment, with ZERO corpus-sized work at admission
    * time (the d11 contract applied to vector search: a production
    * lake never re-trains or re-assigns 100 TB of vectors to ingest a
    * shard). The quantizer is FROZEN (centroidsFor's versioned
    * artifact — cache-hit here), the increment is assigned scan-local
    * by [[ivfCellCol]] and appended under `inc/` ([[s8IndexPath]]);
    * the query is the probe core over base ∪ inc with `pruneCells`,
    * so it reads ONLY the probed cell partitions — a static
    * partition-pruned scan (PartitionFilters on `cell`,
    * spec-asserted), the inverted-list read pattern IVF exists for.
    * Every increment copy surfaces its source at cosine exactly 1.0 —
    * planted recall ground truth, and the oracle (deriving the same
    * shard in SQL) hash-checks the whole report. Scale shape:
    * admission = shard scan + partitioned append (∝ increment);
    * query = nprobe/cells of the index bytes, no shuffle of index rows
    * except the final candidate rank. */
  def s8AnnIncremental(s: SparkSession, dir: String): DataFrame =
    graft.Artifacts.scoped(s, "similarity.s8") { sc =>
      val idx = s8IndexPath(s, dir)
      ivfProbe(s, dir, indexCands(Tables.parquet(s, s"$idx/base")
          .unionByName(Tables.parquet(s, s"$idx/inc"))),
        IvfProbes, TopK, pruneCells = Some(sc))
    }

  /** Rows of the persisted cell-partitioned index as probe candidates. */
  private def indexCands(index: DataFrame): DataFrame =
    index.select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"),
      col("cell"))

  /** s13: COMPACT the vector lake — c16's OPTIMIZE job applied to the
    * cell-partitioned IVF index. Every s8 admission appends its shard
    * under `inc/` with one file per writer task per touched cell —
    * after enough increments a probed cell costs dozens of file opens
    * per query, the classic small-file tax, now on the search path
    * instead of a batch scan. This entry compacts exactly the
    * FRAGMENTED cell directories of the `inc/` layer
    * ([[graft.sources.Sources.compactPartitionedPath]]: one writer
    * task per touched cell, untouched cells never read or rewritten,
    * re-run a structural no-op) and returns the per-cell content audit
    * of the layer — (cell, n_vecs, min/max/sum of vec_id) — which the
    * oracle recomputes by deriving the SAME shard and frozen-quantizer
    * assignment in SQL: the gate hash-proves compaction changed
    * NOTHING but layout. SimilaritySpec pins the mechanics (files per
    * fragmented dir → 1, byte-identical untouched dirs, free re-run)
    * and that s8's query answers are bit-identical pre/post.
    *
    * Scale shape: list + rewrite ∝ touched cells (the admission's own
    * footprint), never the corpus index; at 100 TB the base layer
    * compacts the same way per cell bucket. */
  def s13CompactIndex(s: SparkSession, dir: String): DataFrame = {
    val idx = s8IndexPath(s, dir)
    graft.sources.Sources.compactPartitionedPath(s, s"$idx/inc", "cell")
    Tables.parquet(s, s"$idx/inc")
      .groupBy("cell")
      .agg(count(lit(1)).as("n_vecs"), min("vec_id").as("min_id"),
        max("vec_id").as("max_id"), sum("vec_id").as("sum_id"))
      .select(col("cell").cast("int").as("cell"), col("n_vecs"),
        col("min_id"), col("max_id"), col("sum_id"))
      .orderBy("cell")
  }

  /** DuckDB mirror of [[s13CompactIndex]]'s audit: derive the s8
    * increment shard and its frozen-quantizer cell assignment in SQL,
    * group by cell. */
  private[graft] def s13OracleSql(cent: Array[Array[Float]]): String =
    s"""WITH mx AS (SELECT max(vec_id) AS m FROM embeddings),
       |inc AS (
       |  SELECT e.vec_id + mx.m + 1 AS vec_id, e.embedding
       |  FROM embeddings e, mx WHERE e.vec_id % $S8Mod = 0),
       |${sqlRankedCells(cent, "inc", carry = Nil)}
       |SELECT CAST(cid AS INTEGER) AS cell,
       |  CAST(count(*) AS BIGINT) AS n_vecs,
       |  min(vec_id) AS min_id, max(vec_id) AS max_id,
       |  CAST(sum(vec_id) AS BIGINT) AS sum_id
       |FROM ranked_cells WHERE crnk = 1
       |GROUP BY cid ORDER BY cell""".stripMargin

  /** The d12 staged shard: every [[S8Mod]]th corpus vector re-keyed
    * past max id — EXACT copy when the source id divides 2·[[S8Mod]]
    * (the re-upload: must be dropped as a semantic dup at any sane τ),
    * component-NEGATED otherwise (cos(−v, w) = −cos(v, w), so it
    * collides with a lower member only where the corpus itself has a
    * ≤ −τ pair — as rare as the ≥ τ tail; most survive as novel).
    * Both admission verdicts are thereby planted deterministically. */
  def d12IncrementPath(s: SparkSession, dir: String): String =
    graft.Artifacts.staged(s, graft.Artifacts.stagedDir("semdedupinc",
        corpusFingerprint(s, dir), "increment.parquet")) { out =>
      val e = Tables.embeddings(s, dir)
      val maxId = e.agg(max(col("vec_id"))).head().getLong(0)
      e.filter(col("vec_id") % S8Mod === 0)
        .select((col("vec_id") + maxId + 1).as("vec_id"),
          when(col("vec_id") % (2 * S8Mod) === 0, col("embedding"))
            .otherwise(expr("transform(embedding, x -> -x)"))
            .as("embedding"))
        .write.parquet(out)
    }

  /** d12: INCREMENTAL SemDeDup — the semantic tier of the admission
    * family (d11 screens a new shard's exact/MinHash signatures against
    * the persisted band index; s8 serves ANN queries from the persisted
    * IVF index; d12 decides, for each NEW vector, whether the lake
    * already contains its meaning). The d10 rule restricted to the
    * increment: a new vector is dropped iff SOME lower-id union member
    * (any corpus vector — they all sort lower — or an earlier increment
    * vector) in its cell has cosine ≥ [[D10Tau]]. Because the shard is
    * assigned by the FROZEN quantizer ([[s8IndexPath]]'s cells) and
    * increment ids all exceed corpus ids, this is EXACTLY d10 run on
    * corpus ∪ increment and filtered to increment rows — which is what
    * the generated oracle computes, so "increment-mode ≡ full
    * recompute" is hash-proven at each SF (the d11 contract, semantic
    * tier). Output: (vec_id, cell, is_new_unique) per increment vector.
    *
    * Scale shape: corpus-sized work is ZERO at admission — the shard
    * assigns scan-local ([[ivfCellCol]]), the corpus side is the
    * PERSISTED cell-partitioned index read pruned to the shard's cells
    * (≤ cells directories; at 100 TB each cell is further bucketed),
    * and both confirm joins are cell-blocked: shard × cell-occupancy,
    * never all-pairs. The planted shard exercises both verdicts:
    * exact copies drop (cos 1.0 with their source), negated vectors
    * survive except against the corpus's ≤ −τ tail. */
  def d12SemdedupIncremental(s: SparkSession, dir: String): DataFrame =
    graft.Artifacts.scoped(s, "similarity.d12")(
      d12Admit(_, dir, Tables.parquet(s, d12IncrementPath(s, dir))))

  /** The semantic-admission core over an explicit (vec_id, embedding)
    * shard — factored out like [[Dedup.d11Admit]]/[[s8WriteAssigned]]
    * so the c28 composite can screen ITS shard. CONTRACT: every shard
    * vec_id must exceed every corpus vec_id. */
  private[graft] def d12Admit(sc: graft.Artifacts.Scope, dir: String,
      incVecs: DataFrame): DataFrame = {
    val s = sc.session
    graft.functions.GraftFunctions.register(s)
    val idx = s8IndexPath(s, dir)
    val inc = sc.cut(incVecs // shard-sized; reused by 3 joins below
      .withColumn("cell", ivfCellCol(centroidsFor(s, dir))))
    val incCells = inc.select("cell").distinct().collect().map(_.getInt(0))
    val base = Tables.parquet(s, s"$idx/base")
      .filter(col("cell").isin(incCells.map(Integer.valueOf): _*))
    val vsCorpus = inc.as("i")
      .join(base.as("b"), col("i.cell") === col("b.cell"))
      .filter(VectorOps.cosine("i.embedding", "b.embedding") >= D10Tau)
      .select(col("i.vec_id")).distinct()
    val vsEarlier = inc.as("x")
      .join(inc.as("y"),
        col("x.cell") === col("y.cell") && col("x.vec_id") < col("y.vec_id"))
      .filter(VectorOps.cosine("x.embedding", "y.embedding") >= D10Tau)
      .select(col("y.vec_id")).distinct()
    val dropped = vsCorpus.unionByName(vsEarlier).distinct()
      .withColumn("hit", lit(1))
    inc.select("vec_id", "cell")
      .join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell").cast("int").as("cell"),
        when(col("hit").isNotNull, lit(0)).otherwise(lit(1))
          .cast("int").as("is_new_unique"))
      .orderBy("vec_id")
  }

  /** DuckDB mirror of [[d12SemdedupIncremental]]: d10's rule over the
    * union of `embeddings` and the SQL-derived d12 shard (same
    * [[S8Mod]] re-keying, same copy/negate split), restricted to
    * increment rows — the full-recompute equivalence, generated with
    * the trained centroids inlined. */
  private[graft] def d12OracleSql(cent: Array[Array[Float]]): String =
    s"""WITH mx AS (SELECT max(vec_id) AS m FROM embeddings),
       |eu AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  UNION ALL
       |  SELECT e.vec_id + mx.m + 1 AS vec_id,
       |    CASE WHEN e.vec_id % ${2 * S8Mod} = 0 THEN e.embedding
       |      ELSE list_transform(e.embedding, x -> -x) END AS embedding
       |  FROM embeddings e, mx WHERE e.vec_id % $S8Mod = 0),
       |${sqlRankedCells(cent, "eu")},
       |cells AS (
       |  SELECT vec_id, embedding, cid AS cell FROM ranked_cells
       |  WHERE crnk = 1),
       |dropped AS (
       |  SELECT DISTINCT y.vec_id
       |  FROM cells x JOIN cells y
       |    ON x.cell = y.cell AND x.vec_id < y.vec_id
       |  WHERE ${VectorOps.sqlCosine("x.embedding", "y.embedding")}
       |    >= $D10Tau),
       |incr AS (SELECT c.* FROM cells c, mx WHERE c.vec_id > mx.m)
       |SELECT i.vec_id, CAST(i.cell AS INTEGER) AS cell,
       |  CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS INTEGER)
       |    AS is_new_unique
       |FROM incr i LEFT JOIN dropped d ON d.vec_id = i.vec_id
       |ORDER BY i.vec_id""".stripMargin

  // --------------------------------------------------- s11 index forget

  /** Forget rule: index rows with vec_id % [[S11ForgetMod]] == 0 must
    * be erased (both layers — base corpus AND admitted increment).
    * 1/7 density guarantees baseline top-k lists contain forgotten
    * ids, so the erasure property genuinely bites (spec-asserted). */
  val S11ForgetMod = 7

  private[graft] def s11Table(s: SparkSession, dir: String): String =
    s"graft_ivf_fgt_${ivfIndexKey(s, dir)}"

  /** s11: RIGHT-TO-BE-FORGOTTEN in the vector index — c15's erasure
    * contract applied to the s8 lake-resident IVF index: a deletion
    * request must physically remove the vectors (tombstones leak the
    * embedding through any raw-file read; GDPR erasure means the
    * bytes are gone), at a write cost ∝ TOUCHED CELL PARTITIONS, not
    * the index (mergeIntoPartitioned rewrites only partitions
    * containing forgotten rows — the same machinery, keyed by the
    * IVF cell instead of a date). Queries over the erased index must
    * never surface a forgotten id, with ranks re-closing over the
    * survivors — which is exactly what the probed-cell read gives
    * for free once the bytes are gone (no query-time filter to
    * forget to apply: the FAISS-tombstone failure mode is
    * structurally absent).
    *
    * The footprint (vec_id, cell) of forgotten rows comes from a
    * column-pruned index read here (the c15 shape); a production
    * deployment keeps an id→cell manifest (or recomputes cells
    * scan-local from the frozen quantizer when requests carry
    * vectors) to make footprint derivation request-sized. Forgotten
    * ids may still arrive as QUERIES — erasure removes a vector from
    * the index, not the requester's right to search (spec: forgotten
    * query ids still answered, never self-matched).
    *
    * Gate: stage the combined base∪inc index as a cell-partitioned
    * catalog table (pay-once), apply the forget merge (re-runs
    * recompute an EMPTY footprint from the erased table — idempotent
    * no-op, the c15 contract), then answer the standard s8 queries
    * from the erased table's probed cells (the probe core with
    * `pruneCells`). Oracle: the s8 SQL with the forget rule excluded
    * from the INDEX side only (queries unrestricted). */
  def s11AnnForget(s: SparkSession, dir: String): DataFrame = {
    val idx = s8IndexPath(s, dir)
    val t = graft.sources.Sources.ensureStagedPartitioned(
      s, s11Table(s, dir), "cell",
      Tables.parquet(s, s"$idx/base")
        .unionByName(Tables.parquet(s, s"$idx/inc")))
    val deleteKeys = s.table(t)
      .filter(col("vec_id") % S11ForgetMod === 0)
      .select("vec_id", "cell").distinct()
    graft.sources.Sources.mergeIntoPartitioned(
      s, t, "cell", "vec_id", s.table(t).limit(0), deleteKeys,
      // delete-only (the c15 contract): limit(0) upserts re-derive for
      // free; an idempotent re-apply must not pay a materialization job
      materializeUpserts = false)
    graft.Artifacts.scoped(s, "similarity.s11") { sc =>
      ivfProbe(s, dir, indexCands(s.table(t)), IvfProbes, TopK,
        pruneCells = Some(sc))
    }
  }

  /** DuckDB mirror of [[s11AnnForget]]: [[s8OracleSql]] with the
    * forget rule excluded from the candidate side only — the query
    * side stays unrestricted (erasure removes the vector, not the
    * requester). */
  private[graft] def s11OracleSql(cent: Array[Array[Float]]): String =
    s"""WITH $s8UnionCtes,
       |${sqlRankedCells(cent, "eu")},
       |${sqlProbeTail(IvfProbes, TopK,
            candWhere = s" AND vec_id % $S11ForgetMod <> 0")}""".stripMargin

  /** The corpus ∪ SQL-derived s8 increment shard as `eu` (same
    * [[S8Mod]] rule, same re-keying past max id). */
  private val s8UnionCtes: String =
    s"""mx AS (SELECT max(vec_id) AS m FROM embeddings),
       |eu AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  UNION ALL
       |  SELECT e.vec_id + mx.m + 1 AS vec_id, e.embedding
       |  FROM embeddings e, mx WHERE e.vec_id % $S8Mod = 0)""".stripMargin

  /** DuckDB mirror of [[s8AnnIncremental]]: the s3 oracle over the
    * corpus ∪ increment union. Queries are the corpus vectors <
    * [[NumQueries]] — increment ids sort past the corpus max, so the
    * restriction is unambiguous. */
  private[graft] def s8OracleSql(cent: Array[Array[Float]]): String =
    s"""WITH $s8UnionCtes,
       |${sqlRankedCells(cent, "eu")},
       |${sqlProbeTail(IvfProbes, TopK)}""".stripMargin

  // ------------------------------------------------------------- s4 BM25

  /** BM25 parameters (Robertson–Spärck Jones / Okapi defaults). */
  val Bm25K1 = 1.2
  val Bm25B = 0.75
  val Bm25TopK = 10
  /** Fixed keyword query — one rare term (high idf) + three common ones,
    * so the ranking exercises both idf extremes of the corpus vocab. */
  val Bm25Terms: Seq[String] = Seq("dup", "spark", "window", "query")

  /** Per-(doc,term) BM25 partial score, spelled ONCE and parsed by both
    * engines (the VectorOps.sqlCosine sharing pattern): identical
    * pure-double expression tree ⇒ identical IEEE-754 op sequence ⇒
    * bit-identical doubles, EXCEPT `ln`, the gate's only
    * transcendental — libm vs JVM log may skew 1 ulp (measured: 1/297
    * BM25-shaped arguments), so the idf is rounded to 6 decimals the
    * moment it is born; a 1-ulp input skew flips that rounding with
    * probability ~1e-9 per distinct df, and there are ≤ |Bm25Terms|
    * distinct dfs per corpus.
    * Columns expected in scope: tf, df, dl (per doc,term) and n_docs,
    * tot_len (corpus constants). Scala's shortest-round-trip Double
    * formatting makes the k1/b literals re-parse bit-identically. */
  private def bm25TermScoreSql: String = {
    // every literal and column is explicitly CAST to DOUBLE: a bare
    // `0.5`/`2.2` parses as DECIMAL in Spark (promoting the whole
    // subtree to decimal arithmetic with its own rounding) but as
    // DOUBLE in DuckDB — the explicit casts are the one spelling both
    // engines read as the same pure-double expression tree
    def d(x: Double) = s"CAST($x AS DOUBLE)"
    s"round(ln((CAST(n_docs - df AS DOUBLE) + ${d(0.5)}) / " +
      s"(CAST(df AS DOUBLE) + ${d(0.5)}) + ${d(1.0)}), 6) * " +
      s"((CAST(tf AS DOUBLE) * ${d(Bm25K1 + 1.0)}) / " +
      s"(CAST(tf AS DOUBLE) + ${d(Bm25K1)} * (${d(1.0 - Bm25B)} + " +
      s"${d(Bm25B)} * (CAST(dl * n_docs AS DOUBLE) / " +
      s"CAST(tot_len AS DOUBLE)))))"
  }

  /** s4: BM25 top-k keyword retrieval over `documents` — the LEXICAL
    * face of the search family (s1–s3 rank by embedding cosine; a
    * corpus-scale pipeline needs both: BM25 is the standard first-stage
    * retriever in front of vector rerankers, and the quality/dedup
    * stack uses it to pull "docs about X" work lists). Okapi BM25
    * (k1=1.2, b=0.75, Lucene's +1-inside-the-log idf so scores stay
    * positive at any df) over whitespace tokens, fixed query
    * [[Bm25Terms]], top-[[Bm25TopK]] docs by (score DESC, doc_id).
    *
    * Scale shape: tokens are filtered to the query terms BEFORE the
    * explode, so the only data-sized shuffle — groupBy(doc_id, term) —
    * carries matched occurrences, not the corpus vocabulary (for a
    * 4-term query that is a tiny fraction of 100 TB; a full inverted
    * index is never built because a FIXED query needs only its own
    * postings). df (≤ |terms| rows) and the (n_docs, tot_len) scalar
    * pair join back as broadcasts; the final top-k is a
    * TakeOrderedAndProject, never a global sort. Two corpus scans (one
    * for the length stats, one for postings) — a resident deployment
    * would stage the per-doc length projection once (the t8/s3
    * artifact pattern) and amortize it across every query. Per-term
    * partials are rounded to 6 decimals and summed as DECIMAL(18,6),
    * so the per-doc score is independent of Spark's partial-agg
    * merge order. */
  def s4Bm25(s: SparkSession, dir: String): DataFrame =
    bm25Scored(s, dir)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(Bm25TopK)

  /** The scored-docs frame behind [[s4Bm25]] (every doc matching ≥ 1
    * query term, with its BM25 score) — shared with [[s5HybridRerank]],
    * which takes a deeper candidate cut before reranking. */
  private[graft] def bm25Scored(s: SparkSession, dir: String): DataFrame = {
    val termList = Bm25Terms.map(t => s"'$t'").mkString(", ")
    val d = Tables.documents(s, dir)
      .select(col("doc_id"),
        expr("filter(split(text, ' '), x -> x <> '')").as("toks"))
      .select(col("doc_id"), size(col("toks")).as("dl"),
        expr(s"filter(toks, x -> x IN ($termList))").as("qtoks"))
    val stats = d.agg(count(lit(1)).as("n_docs"), sum("dl").as("tot_len"))
    val tf = d
      .select(col("doc_id"), col("dl"), explode(col("qtoks")).as("term"))
      .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
    val dfT = tf.groupBy("term").agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfT), "term")
      .crossJoin(broadcast(stats))
      .withColumn("ts",
        expr(s"CAST(round($bm25TermScoreSql, 6) AS DECIMAL(18,6))"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("int").as("n_terms"),
        sum("ts").cast("double").as("score"))
  }

  // ------------------------------------------------------- s5 hybrid

  /** Lexical candidate depth of the hybrid retriever — the BM25 cut
    * reranking then works inside. */
  val S5Candidates = 50
  /** The query embedding: vec 0 stands in for an externally-encoded
    * query vector (documents and embeddings share the id domain). */
  val S5QueryVec = 0
  /** The canonical RRF smoothing constant (Cormack et al. 2009). */
  val RrfK = 60

  /** s5: HYBRID retrieval — BM25 candidates reranked by embedding
    * cosine and fused with reciprocal-rank fusion, the standard
    * two-stage shape of production search (lexical recall first,
    * semantic precision second; RRF because raw BM25 and cosine
    * scores are incommensurable, while ranks always fuse).
    * `rrf = Σ 1e6 div (60 + rank)` keeps the gate in exact integers —
    * the division's truncation loses nothing: RRF only ever ORDERS.
    *
    * Scale shape: the lexical leg pays s4's plan and cuts to
    * [[S5Candidates]] rows via TakeOrdered — everything after is
    * bounded by the CANDIDATE count, not the corpus: the
    * unpartitioned rank windows run over ≤50 rows (fine HERE exactly
    * because the cut came first; ranking the full scored frame that
    * way would serialize a corpus-sized sort), the embedding lookup
    * broadcasts the candidate list into a hash join against the
    * embeddings scan, and the query vector rides a 1-row broadcast.
    * Candidate ranks within the cut equal global ranks because the
    * cut is a PREFIX of the same (score DESC, doc_id) total order. */
  def s5HybridRerank(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val wLex = Window.orderBy(col("score").desc, col("doc_id"))
    val cand = bm25Scored(s, dir)
      .orderBy(col("score").desc, col("doc_id")).limit(S5Candidates)
      .withColumn("rank_lex", row_number().over(wLex))
      .select("doc_id", "rank_lex")
    val q = Tables.embeddings(s, dir)
      .filter(col("vec_id") === S5QueryVec)
      .select(col("embedding").as("qe"))
    val wSem = Window.orderBy(col("cos").desc, col("doc_id"))
    Tables.embeddings(s, dir)
      .select(col("vec_id").as("doc_id"), col("embedding"))
      .join(broadcast(cand), "doc_id")
      .crossJoin(broadcast(q))
      .withColumn("cos", VectorOps.cosine("embedding", "qe"))
      .withColumn("rank_sem", row_number().over(wSem))
      .withColumn("rrf_micro", expr(
        s"CAST(1000000 div ($RrfK + CAST(rank_lex AS BIGINT)) + " +
          s"1000000 div ($RrfK + CAST(rank_sem AS BIGINT)) AS BIGINT)"))
      .select("doc_id", "rank_lex", "rank_sem", "cos", "rrf_micro")
      .orderBy(col("rrf_micro").desc, col("doc_id"))
      .limit(Bm25TopK)
  }

  /** The BM25 scored-docs CTE chain shared by the s4 and s5 oracles —
    * ends in `bscore(doc_id, n_terms, score)`, the SQL mirror of
    * [[bm25Scored]]. */
  private def bm25ScoredCtes: String = {
    val termList = Bm25Terms.map(t => s"'$t'").mkString(", ")
    s"""tk AS (
       |  SELECT doc_id,
       |    list_filter(string_split(text, ' '), x -> x <> '') AS toks
       |  FROM documents),
       |d AS (
       |  SELECT doc_id, len(toks) AS dl,
       |    list_filter(toks, x -> x IN ($termList)) AS qtoks
       |  FROM tk),
       |st AS (SELECT count(*) AS n_docs, sum(dl) AS tot_len FROM d),
       |tf AS (
       |  SELECT doc_id, dl, term, count(*) AS tf FROM (
       |    SELECT doc_id, dl, unnest(qtoks) AS term FROM d) t
       |  GROUP BY doc_id, dl, term),
       |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       |sc AS (
       |  SELECT doc_id,
       |    CAST(round($bm25TermScoreSql, 6) AS DECIMAL(18,6)) AS ts
       |  FROM tf JOIN dfq USING (term) CROSS JOIN st),
       |bscore AS (
       |  SELECT doc_id, CAST(count(*) AS INTEGER) AS n_terms,
       |    CAST(sum(ts) AS DOUBLE) AS score
       |  FROM sc GROUP BY doc_id)""".stripMargin
  }

  // ------------------------------------------------------------- s6 PQ

  /** PQ geometry: 64-dim embeddings split into [[PqM]] contiguous
    * [[PqSubDim]]-dim subspaces, [[PqK]] codewords per subspace — an
    * 8-byte code per vector, 32× smaller than the 256-byte float
    * vector it stands in for. */
  val PqM = 8
  val PqSubDim = 8
  val PqK = 16
  /** Minimum ADC shortlist depth: the top candidates by approximate
    * distance are fetched and re-ranked by EXACT cosine — the standard
    * production PQ deployment (the code scan buys the 32× memory
    * saving; the rerank touches only shortlist·queries float vectors).
    * Pure-ADC recall@3 on these near-orthogonal synthetic vectors
    * (PQ's hardest case — no cluster structure for the codebooks to
    * exploit) measured 0.27–0.33, and a FLAT shortlist decays with
    * corpus size (0.67/0.80/0.20 across the three SFs at depth 32), so
    * the depth is CORPUS-SCALED ([[pqShortlistFor]] — the d5
    * corpus-scaled-bits reasoning): n/50 keeps the rerank a fixed 2%
    * of the ADC candidates while the shortlist stays
    * broadcast-trivial. Production instead fixes a refine factor r·k
    * and leans on real-embedding cluster structure; this corpus is the
    * adversarial uniform case. */
  val PqShortlist = 32
  /** Upper bound on the shortlist — the rerank broadcasts
    * queries×depth rows twice, so the depth must stop growing with
    * the corpus at some point (past the cap, recall comes from better
    * codebooks / IVF composition, the production lever, not from an
    * unbounded refine set). 4096×5 queries ≈ 20k broadcast rows at
    * the cap — trivially broadcastable forever. */
  val PqShortlistCap = 4096
  def pqShortlistFor(n: Long): Int =
    math.min(PqShortlistCap, math.max(PqShortlist, (n / 50L).toInt))
  /** ADC partials travel as integer nanounits: floor(x·1e9 + 0.5). */
  val PqNano = 1000000000L

  /** Per-subspace codebooks: per subspace, [[lloyd]] with min-L2
    * assignment ([[nearestByL2]]) in one run over that subspace's slices
    * of the L2-NORMALIZED id-ordered [[lloydSample]] (the
    * [[KmeansSample]]-row target) — normalized because the family ranks
    * by cosine and ‖x−y‖² = 2−2·cos(x,y) exactly on unit vectors,
    * making PQ's L2 machinery a cosine ranker. Init is farthest-point
    * (maxmin L2) per subspace; empty cells keep their codeword. Returns
    * ([m][cid][PqSubDim] floats, corpus row count — the count sizes the
    * ADC shortlist and ships with the artifact). */
  private[graft] def pqTrainCodebooks(s: SparkSession, dir: String): (Array[Array[Array[Float]]], Long) = {
    // driver-side normalization in the same zero-seeded left fold the
    // engines use, so codewords are trained on the very values the
    // scan-side normalizer produces
    val sample = collectSample(s, dir, KmeansSample, PqK).map { v =>
      var ss = 0.0; var i = 0
      while (i < v.length) { ss += v(i).toDouble * v(i).toDouble; i += 1 }
      val nrm = math.sqrt(ss)
      v.map(x => (x.toDouble / nrm).toFloat)
    }
    Array.tabulate(PqM) { m =>
      val points = sample.map(v =>
        java.util.Arrays.copyOfRange(v, m * PqSubDim, (m + 1) * PqSubDim))
      lloyd(points, farthestPoints(points, PqK, l2), points.length)(nearestByL2)
    } -> embeddingsCount(s, dir)
  }

  @volatile private[graft] var lastPqKey: Option[String] = None

  private def pqSig(cb: Array[Array[Array[Float]]]): String =
    floatSig(cb.iterator.flatMap(_.iterator.flatten))

  /** Per-corpus PQ codebooks and corpus size, stored like the
    * centroids ([[storedFloats]], artifact dir `spark.graft.pq.dir`). */
  private[graft] def pqFor(s: SparkSession, dir: String): (Array[Array[Array[Float]]], Long) = {
    import s.implicits._
    val key = corpusFingerprint(s, dir)
    val cb = storedFloats[(Array[Array[Array[Float]]], Long)](
        s, "similarity.pq", key,
        s.conf.get("spark.graft.pq.dir", "target/graft-pq"))(
      load = df => {
        val rows = df.as[(Int, Int, Array[Float], String, Long)].collect()
        val cb0 = Array.tabulate(PqM, PqK)((m, c) =>
          rows.find(r => r._1 == m && r._2 == c).map(_._3).orNull)
        val expected = if (cb0.exists(_.exists(_ == null))) None
          else Some(pqSig(cb0))
        if (rows.length == PqM * PqK &&
            expected.exists(e => rows.forall(_._4 == e)) &&
            rows.map(_._5).distinct.length == 1)
          Some((cb0, rows.head._5))
        else None
      },
      save = { case (trained, n) =>
        val sig = pqSig(trained)
        (for {
          m <- 0 until PqM; c <- 0 until PqK
        } yield (m, c, trained(m)(c), sig, n))
          .toDF("m", "cid", "cw", "sig", "n")
      })(pqTrainCodebooks(s, dir))
    lastPqKey = Some(key)
    cb
  }

  /** Shared spellings of the s6 arithmetic — every fragment exists in
    * a Spark form and a DuckDB form with the identical expression tree
    * (zero-seeded left-fold dots, same division/subtraction order), so
    * assignment argmins and ADC partials are bit-identical across
    * engines. */
  /** Codeword literal. DuckDB parses a bare `CAST(0.18298127 AS FLOAT)`
    * through DECIMAL, whose decimal→float conversion is 1 ulp off for
    * ~8% of shortest-round-trip float strings (measured: 79/1024 of a
    * trained codebook) — harmless for s3, whose centroid floats only
    * steer argmax cell routing, but fatal for s6, whose codeword floats
    * flow into the OUTPUT distance. Routing through DOUBLE first
    * (str→double→float, both correctly rounded and the double is far
    * closer to the decimal than half a float ulp) recovers the exact
    * trained float32 in both engines. */
  private def pqFloatLit(v: Array[Float], spark: Boolean): String =
    if (spark) s"array(${v.map(x => s"CAST($x AS FLOAT)").mkString(",")})"
    else v.map(x => s"CAST(CAST($x AS DOUBLE) AS FLOAT)")
      .mkString("[", ",", "]")

  /** Driver-side codeword squared norm, the same zero-seeded left fold
    * — inlined as a shortest-round-trip DOUBLE literal into BOTH
    * engines, so it is bit-identical by construction. */
  private def pqCnorm(cw: Array[Float]): Double = {
    var ss = 0.0; var i = 0
    while (i < cw.length) { ss += cw(i).toDouble * cw(i).toDouble; i += 1 }
    ss
  }

  /** s6: PRODUCT-QUANTIZATION ANN (Jégou et al. 2011) — the third
    * production scale path beside LSH (s2) and IVF (s3). Vectors are
    * L2-normalized scan-side (‖x−y‖² = 2−2cos on unit vectors, so L2
    * PQ ranks by cosine), each 8-dim slice is assigned its min-L2
    * codeword from a per-subspace trained codebook ([[pqFor]] — the
    * s3 offline-train artifact shape), and the corpus thereafter
    * travels as an 8-byte CODE: 32× less memory than the float
    * vectors, the compression that lets a 100 TB corpus's index live
    * in cluster RAM. The ADC scan never decodes: each query row
    * precomputes its 8×16 ADC table (true per-subspace squared
    * distances qsq − 2·q·c + ‖c‖², as integer NANOUNIT partials —
    * floor(x·1e9+0.5), exact and order-free without decimal
    * arithmetic in the hot path), and a candidate's approximate
    * distance is 8 table lookups summed. The top-[[PqShortlist]] by ADC are then
    * re-ranked by EXACT cosine — the two-stage deployment every
    * production PQ system runs (FAISS IVFADC + refine): the
    * compressed scan does the corpus-sized work, float vectors are
    * fetched for shortlist·queries rows only.
    *
    * Scale shape: encoding is scan-local codegen ([[graft.functions.DotAt]]
    * — 128 allocation-free in-place slice dots per row against inlined
    * literals, zero shuffle); the 5-query table rides a broadcast
    * nested-loop join (the s1 shape — compose with s3's cell routing
    * for IVF-PQ when the corpus outgrows a full scan); per-pair work
    * is 8 long adds. The nanounit ADC sum is order-free like the s4
    * decimal rule but integer-cheap, so the gate hash-matches both
    * the approximate and exact distances. Shortlist and final top-k are WindowGroupLimit-pruned
    * per query; the rerank joins broadcast the shortlist side. Recall
    * vs the exact s1 ranking is measured in SimilaritySpec (pure-ADC
    * ~0.3 on near-orthogonal synthetic vectors — PQ's hardest case —
    * the rerank recovers whatever the shortlist catches).
    *
    * Reference altitude: the course's pipelines stop at exact
    * pairwise similarity; s6 is the LLM-data-pipeline extension the
    * builder prompt asks for (embedding-index compression). */
  /** The embeddings scan with its norm attached — the shared base of
    * the PQ corpus and query sides. */
  private def pqNv(s: SparkSession, dir: String) =
    Tables.embeddings(s, dir)
      .withColumn("nrm", expr("sqrt(dot_prod(embedding, embedding))"))

  /** The flattened M×K×D codebook literal the [[graft.functions.PqEncode]]
    * kernel walks — constant-folded into the plan once. */
  private def pqCbFlatLit(cb: Array[Array[Array[Float]]]): String = {
    require(PqM == graft.functions.PqEncodeKernel.M &&
      PqK == graft.functions.PqEncodeKernel.K &&
      PqSubDim == graft.functions.PqEncodeKernel.D,
      "PQ geometry drifted from the pq_encode kernel's")
    "array(" + cb.flatMap(_.flatMap(_.map(x => s"CAST($x AS FLOAT)")))
      .mkString(",") + ")"
  }

  /** The corpus-side code column: one fused pq_encode call per row
    * (zero allocation beyond the 8-int output; stays in whole-stage
    * codegen — the composed 128-struct array_min spelling it replaced
    * measured 20.7s for a 200k-row encode, the kernel ~1s). */
  private def pqCodesCol(cb: Array[Array[Array[Float]]]): org.apache.spark.sql.Column =
    expr(s"pq_encode(embedding, ${pqCbFlatLit(cb)})").as("codes")

  /** Query-side ADC table columns qt0..qt7: per-subspace TRUE squared
    * distances to every codeword, as integer NANOUNITS
    * (floor(x·1e9 + 0.5) — pure IEEE-exact double ops on a
    * bit-identical x, so both engines mint the same longs; long sums
    * are exact and order-free, the integer twin of the s4 decimal
    * rule without decimal arithmetic in the 1-per-pair hot path). */
  private def pqQtabCols(cb: Array[Array[Array[Float]]]): Seq[org.apache.spark.sql.Column] = {
    def qsq(m: Int): String = {
      val o1 = m * PqSubDim + 1 // Spark slice() is 1-based
      s"(dot_prod(slice(embedding, $o1, $PqSubDim), " +
        s"slice(embedding, $o1, $PqSubDim)) / (nrm * nrm))"
    }
    (0 until PqM).map { m =>
      expr("array(" + (0 until PqK).map { c =>
        val cn = pqCnorm(cb(m)(c))
        s"CAST(floor((${qsq(m)} - CAST(2 AS DOUBLE) * " +
          s"(dot_at(embedding, ${m * PqSubDim}, ${pqFloatLit(cb(m)(c), spark = true)}) / nrm) + " +
          s"CAST($cn AS DOUBLE)) * CAST($PqNano AS DOUBLE) + " +
          "CAST(0.5 AS DOUBLE)) AS BIGINT)"
      }.mkString(",") + ")").as(s"qt$m")
    }
  }

  /** ADC distance of a joined (codes, table) row: 8 long lookups
    * summed exactly, scaled back to a double distance. */
  private def pqAdistExpr: org.apache.spark.sql.Column =
    expr("CAST(" + (0 until PqM).map(m =>
      s"element_at(qt$m, element_at(codes, ${m + 1}) + 1)").mkString(" + ") +
      s" AS DOUBLE) / CAST($PqNano AS DOUBLE)")

  /** Exact rerank of an ADC shortlist: only shortlist·queries float
    * vectors are fetched — both joins broadcast the (tiny) shortlist
    * side. */
  private def pqRerank(s: SparkSession, dir: String, shortlist: DataFrame): DataFrame = {
    val ne = Tables.embeddings(s, dir)
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"))
    val qe = Tables.embeddings(s, dir)
      .filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val wCos = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    ne.join(broadcast(shortlist), "neighbor_id")
      .join(broadcast(qe), "query_id")
      .withColumn("cos", VectorOps.cosine("qe", "ce"))
      .withColumn("rnk", row_number().over(wCos))
      .filter(col("rnk") <= TopK)
      .select("query_id", "rnk", "neighbor_id", "adist", "cos")
      .orderBy("query_id", "rnk")
  }

  def s6Pq(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val (cb, nCorpus) = pqFor(s, dir)
    val shortDepth = pqShortlistFor(nCorpus)
    val nv = pqNv(s, dir)

    val cand = nv.select(col("vec_id").as("neighbor_id"), pqCodesCol(cb))
    val q = nv.filter(col("vec_id") < NumQueries)
      .select((col("vec_id").as("query_id") +: pqQtabCols(cb)): _*)

    val wAdc = Window.partitionBy("query_id")
      .orderBy(col("adist").asc, col("neighbor_id"))
    val shortlist = cand
      .join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("adist", pqAdistExpr)
      .withColumn("arnk", row_number().over(wAdc))
      .filter(col("arnk") <= shortDepth)
      .select("query_id", "neighbor_id", "adist")

    pqRerank(s, dir, shortlist)
  }

  /** s7: IVF-PQ — the composition both families exist FOR (FAISS's
    * default index, "IVFx,PQy"): s3's trained coarse quantizer routes
    * every vector to a cell and each query to its [[IvfProbes]]
    * nearest cells, so the ADC scan touches only probed cells
    * (nprobe/cells of the corpus) instead of everything; within the
    * probed candidates the s6 machinery runs unchanged (8-byte codes,
    * nanounit ADC partials, corpus-scaled shortlist, exact rerank).
    * At 100 TB this is THE deployable shape: IVF bounds the scan,
    * PQ bounds the memory, the rerank restores precision — and both
    * training artifacts are the cached per-corpus models s3/s6
    * already persist (zero new training).
    *
    * Plan shape: cell id AND codes are one scan-local projection
    * (literal centroids + literal codebooks — zero shuffle); the
    * probe-exploded query table broadcasts into a hash join on cell
    * id (the s3 shape) carrying the ADC tables; shortlist and top-k
    * are WindowGroupLimit-pruned; rerank broadcasts. */
  def s7IvfPq(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val cents = centroidsFor(s, dir)
    val (cb, nCorpus) = pqFor(s, dir)
    val shortDepth = pqShortlistFor(nCorpus)
    val nv = pqNv(s, dir)

    val cand = nv.select(col("vec_id").as("neighbor_id"),
      ivfCellCol(cents).as("cell"), pqCodesCol(cb))
    val q = nv.filter(col("vec_id") < NumQueries)
      .select((col("vec_id").as("query_id") +:
        explode(slice(ivfRankCol(cents), 1, IvfProbes)).as("qc") +:
        pqQtabCols(cb)): _*)

    val wAdc = Window.partitionBy("query_id")
      .orderBy(col("adist").asc, col("neighbor_id"))
    val shortlist = cand
      .join(broadcast(q),
        col("cell") === col("qc") && col("query_id") =!= col("neighbor_id"))
      .withColumn("adist", pqAdistExpr)
      .withColumn("arnk", row_number().over(wAdc))
      .filter(col("arnk") <= shortDepth)
      .select("query_id", "neighbor_id", "adist")

    pqRerank(s, dir, shortlist)
  }

  // ---- shared DuckDB fragments of the s6/s7 oracles — spelled ONCE
  // so the two generated gates can never desynchronize.

  /** Zero-seeded left-fold dot of the 0-based subspace slice of a
    * 1-based DuckDB list with an 8-dim codeword (column `m` from cb in
    * scope). */
  private def pqOracleDot8(v: String, w: String): String =
    s"list_reduce(list_transform(generate_series(1, $PqSubDim), " +
      s"i -> CAST($v[m * $PqSubDim + i] AS DOUBLE) * CAST($w[i] AS DOUBLE)), " +
      "(x, y) -> x + y)"

  /** Slice · itself — BOTH factors at the subspace offset (mirrors
    * Spark's dot_prod(slice, slice)). */
  private def pqOracleDot8Self(v: String): String =
    s"list_reduce(list_transform(generate_series(1, $PqSubDim), " +
      s"i -> CAST($v[m * $PqSubDim + i] AS DOUBLE) * " +
      s"CAST($v[m * $PqSubDim + i] AS DOUBLE)), (x, y) -> x + y)"

  private val pqOracleDot64: String =
    "list_reduce(list_transform(generate_series(1, 64), " +
      "i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)), " +
      "(x, y) -> x + y)"

  /** The PQ core CTE chain — codebook VALUES (through the
    * DOUBLE-mediated float cast), norms, assignment scores, argmin
    * codes (ties to the LOWER cid, mirroring Spark's pq_encode), and
    * the query-side nanounit ADC partials. Callers append their own
    * `contrib` CTE and then [[pqOracleTail]]. */
  private def pqOracleCoreCtes(cb: Array[Array[Array[Float]]]): String = {
    val vals = (for { m <- 0 until PqM; c <- 0 until PqK } yield
      s"($m, $c, ${pqFloatLit(cb(m)(c), spark = false)}, " +
        s"CAST(${pqCnorm(cb(m)(c))} AS DOUBLE))").mkString(",\n    ")
    s"""cb(m, cid, cv, cnorm) AS (VALUES
       |    $vals),
       |nv AS (
       |  SELECT vec_id, embedding, sqrt($pqOracleDot64) AS nrm
       |  FROM embeddings),
       |sc AS (
       |  SELECT vec_id, m, cid,
       |    (cnorm - CAST(2 AS DOUBLE) *
       |      (${pqOracleDot8("embedding", "cv")} / nrm)) AS score
       |  FROM nv CROSS JOIN cb),
       |codes AS (
       |  SELECT vec_id, m, cid FROM (
       |    SELECT vec_id, m, cid, row_number() OVER (
       |      PARTITION BY vec_id, m ORDER BY score, cid) AS rn
       |    FROM sc) WHERE rn = 1),
       |qd AS (
       |  SELECT vec_id AS query_id, m, cid,
       |    CAST(floor(((${pqOracleDot8Self("embedding")} / (nrm * nrm)) -
       |      CAST(2 AS DOUBLE) * (${pqOracleDot8("embedding", "cv")} / nrm)
       |      + cnorm)
       |      * CAST($PqNano AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
       |      AS pd
       |  FROM nv CROSS JOIN cb WHERE vec_id < $NumQueries)""".stripMargin
  }

  /** ADC sum → corpus-scaled shortlist → exact-cosine rerank → final
    * select, reading a caller-supplied `contrib(query_id, neighbor_id,
    * pd)` CTE. */
  private def pqOracleTail(shortlist: Int): String =
    s"""scored AS (
       |  SELECT query_id, neighbor_id,
       |    CAST(sum(pd) AS DOUBLE) / CAST($PqNano AS DOUBLE) AS adist
       |  FROM contrib GROUP BY query_id, neighbor_id),
       |short AS (
       |  SELECT query_id, neighbor_id, adist FROM (
       |    SELECT query_id, neighbor_id, adist, row_number() OVER (
       |      PARTITION BY query_id ORDER BY adist, neighbor_id) AS arnk
       |    FROM scored) WHERE arnk <= $shortlist),
       |rr AS (
       |  SELECT sh.query_id, sh.neighbor_id, sh.adist,
       |    qv.embedding AS qe, nv2.embedding AS ce
       |  FROM short sh
       |  JOIN embeddings nv2 ON nv2.vec_id = sh.neighbor_id
       |  JOIN embeddings qv ON qv.vec_id = sh.query_id),
       |rranked AS (
       |  SELECT query_id, neighbor_id, adist,
       |    ${VectorOps.sqlCosine("qe", "ce")} AS cos,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY ${VectorOps.sqlCosine("qe", "ce")} DESC, neighbor_id)
       |      AS rnk
       |  FROM rr)
       |SELECT query_id, CAST(rnk AS INTEGER) AS rnk, neighbor_id, adist, cos
       |FROM rranked WHERE rnk <= $TopK ORDER BY query_id, rnk""".stripMargin

  /** DuckDB mirror of [[s6Pq]]: the shared PQ core CTEs, a full-corpus
    * contrib join, and the shared shortlist/rerank tail. */
  private[graft] def s6OracleSql(model: (Array[Array[Array[Float]]], Long)): String = {
    val (cb, nCorpus) = model
    s"""WITH ${pqOracleCoreCtes(cb)},
       |contrib AS (
       |  SELECT query_id, c.vec_id AS neighbor_id, pd
       |  FROM codes c JOIN qd ON qd.m = c.m AND qd.cid = c.cid
       |    AND c.vec_id <> qd.query_id),
       |${pqOracleTail(pqShortlistFor(nCorpus))}""".stripMargin
  }

  /** DuckDB mirror of [[s7IvfPq]]: the shared PQ core CTEs plus the
    * shared cell ranking ([[sqlRankedCells]]: assigned cell crnk = 1,
    * probe list crnk ≤ nprobe); the contrib join additionally requires
    * the candidate's cell to be one of the query's probes — a
    * candidate matches at most one probe, so no pair duplicates — then
    * the shared shortlist/rerank tail. */
  private[graft] def s7OracleSql(cent: Array[Array[Float]],
      model: (Array[Array[Array[Float]]], Long)): String = {
    val (cb, nCorpus) = model
    s"""WITH ${pqOracleCoreCtes(cb)},
       |${sqlRankedCells(cent, "embeddings", carry = Nil)},
       |cells AS (SELECT vec_id, cid AS cell FROM ranked_cells WHERE crnk = 1),
       |qprobe AS (
       |  SELECT vec_id AS query_id, cid AS qc
       |  FROM ranked_cells WHERE vec_id < $NumQueries AND crnk <= $IvfProbes),
       |contrib AS (
       |  SELECT qd.query_id, c.vec_id AS neighbor_id, pd
       |  FROM codes c
       |  JOIN cells ce ON ce.vec_id = c.vec_id
       |  JOIN qd ON qd.m = c.m AND qd.cid = c.cid
       |    AND c.vec_id <> qd.query_id
       |  JOIN qprobe qp ON qp.query_id = qd.query_id AND qp.qc = ce.cell),
       |${pqOracleTail(pqShortlistFor(nCorpus))}""".stripMargin
  }

  // ---------------------------------------------------------------- oracle

  /** DuckDB list literal of a trained float vector: Scala's
    * Float.toString is the shortest round-trip form, so DuckDB recovers
    * the bit-identical float32 and the shared left-fold cosine keeps
    * scores bit-identical. */
  private[graft] def sqlVec(v: Array[Float]): String =
    v.map(x => s"CAST($x AS FLOAT)").mkString("[", ",", "]")

  /** The oracle's one cell ranking, the mirror of [[ivfRankCol]]: the
    * trained centroids inlined as `cent(cid, cv)` VALUES, and
    * `ranked_cells` — every row of `src` (which has `vec_id` and
    * `embedding`) scored against every centroid and row-numbered by
    * (ccos DESC, cid DESC), where DuckDB, like the kernel, ranks a NaN
    * cosine highest — carrying `vec_id` and the `carry` columns of
    * `src`. `crnk = 1` is the assigned cell, `crnk <= p` the probe
    * list. Training is the only step that is not plain SQL, and the
    * centroids are data once trained. */
  private[graft] def sqlRankedCells(cent: Array[Array[Float]], src: String,
      carry: Seq[String] = Seq("embedding")): String = {
    val vals = cent.zipWithIndex
      .map { case (v, i) => s"($i, ${sqlVec(v)})" }.mkString(",\n    ")
    val cols = ("vec_id" +: carry).mkString(", ")
    s"""cent(cid, cv) AS (VALUES
       |    $vals),
       |ranked_cells AS (
       |  SELECT $cols, cid, row_number() OVER (
       |    PARTITION BY vec_id ORDER BY ccos DESC, cid DESC) AS crnk
       |  FROM (
       |    SELECT ${("vec_id" +: carry).map("u." + _).mkString(", ")}, c.cid,
       |      ${VectorOps.sqlCosine("u.embedding", "c.cv")} AS ccos
       |    FROM $src u CROSS JOIN cent c))""".stripMargin
  }

  /** The oracle's mirror of [[ivfProbe]] over `ranked_cells`: the
    * candidates are the rows at their assigned cell (`candWhere`
    * restricts them further), the queries the [[NumQueries]] vectors'
    * first `probes` cells; then the self-excluding cell join, the
    * shared cosine fold, the optional radius, and the best `limit` by
    * (cos DESC, neighbor_id). */
  private def sqlProbeTail(probes: Int, limit: Int,
      minCos: Option[Double] = None, candWhere: String = ""): String =
    s"""cells AS (
       |  SELECT vec_id AS neighbor_id, embedding AS ce, cid AS cell
       |  FROM ranked_cells WHERE crnk = 1$candWhere),
       |qprobe AS (
       |  SELECT vec_id AS query_id, embedding AS qe, cid AS qc
       |  FROM ranked_cells WHERE vec_id < $NumQueries AND crnk <= $probes),
       |scored AS (
       |  SELECT query_id, neighbor_id, ${VectorOps.sqlCosine("qe", "ce")} AS cos
       |  FROM qprobe JOIN cells ON cells.cell = qprobe.qc
       |    AND cells.neighbor_id <> qprobe.query_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cos, row_number() OVER (
       |    PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
       |  FROM scored${minCos.fold("")(t => s" WHERE cos >= $t")})
       |SELECT query_id, CAST(rnk AS INTEGER) AS rnk, neighbor_id, cos
       |FROM ranked WHERE rnk <= $limit ORDER BY query_id, rnk""".stripMargin

  /** DuckDB mirror of [[s3Ivf]]. */
  private[graft] def s3OracleSql(cent: Array[Array[Float]]): String =
    s"""WITH ${sqlRankedCells(cent, "embeddings")},
       |${sqlProbeTail(IvfProbes, TopK)}""".stripMargin

  /** DuckDB mirror of [[s12KnnGraph]] — [[s3OracleSql]]'s replay with
    * the WHOLE corpus as the query side, [[S12Probes]] probes,
    * [[S12K]] edges per vector, and the TWO-LEVEL cell ranking rule:
    * rank the coarse centroids per row (ccos DESC, ccid DESC), keep
    * the top `cp` buckets, score ONLY fine cells assigned to them
    * (the fine→coarse map rides the cent VALUES as a third column),
    * rank those by (ccos DESC, cid DESC) — exactly what
    * `ivf_rank_cells2` computes, with all three trained literals
    * inlined. */
  private[graft] def s12OracleSql(cent: Array[Array[Float]],
      coarse: Array[Array[Float]], fineCoarse: Array[Int],
      cp: Int): String =
    s"""WITH ${s12EdgeCtes(cent, coarse, fineCoarse, cp)}
       |SELECT query_id, CAST(rnk AS INTEGER) AS rnk, neighbor_id, cos
       |FROM ranked WHERE rnk <= $S12K ORDER BY query_id, rnk""".stripMargin

  /** The CTE chain of [[s12OracleSql]] up to and including `ranked`
    * (every corpus pair scored and rank-numbered per query) — shared
    * verbatim by the s12 gate entry and s14's edge-derivation replay,
    * so the two oracles can never drift on what the graph IS. */
  private def s12EdgeCtes(cent: Array[Array[Float]],
      coarse: Array[Array[Float]], fineCoarse: Array[Int],
      cp: Int, rel: String = "embeddings"): String = {
    val vals = cent.zipWithIndex
      .map { case (v, i) => s"($i, ${sqlVec(v)}, ${fineCoarse(i)})" }
      .mkString(",\n    ")
    val cvals = coarse.zipWithIndex
      .map { case (v, i) => s"($i, ${sqlVec(v)})" }.mkString(",\n    ")
    s"""ccent(ccid, cv) AS (VALUES
       |    $cvals),
       |cent(cid, fv, fcc) AS (VALUES
       |    $vals),
       |coarse_scored AS (
       |  SELECT e.vec_id, c.ccid,
       |    ${VectorOps.sqlCosine("e.embedding", "cv")} AS ccos
       |  FROM $rel e CROSS JOIN ccent c),
       |coarse_top AS (
       |  SELECT vec_id, ccid FROM (
       |    SELECT vec_id, ccid, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY ccos DESC, ccid DESC) AS crnk
       |    FROM coarse_scored)
       |  WHERE crnk <= $cp),
       |scored_cells AS (
       |  SELECT e.vec_id, e.embedding, f.cid,
       |    ${VectorOps.sqlCosine("e.embedding", "fv")} AS ccos
       |  FROM $rel e
       |  JOIN coarse_top t ON t.vec_id = e.vec_id
       |  JOIN cent f ON f.fcc = t.ccid),
       |ranked_cells AS (
       |  SELECT vec_id, embedding, cid, row_number() OVER (
       |    PARTITION BY vec_id ORDER BY ccos DESC, cid DESC) AS crnk
       |  FROM scored_cells),
       |cells AS (
       |  SELECT vec_id AS neighbor_id, embedding AS ce, cid AS cell
       |  FROM ranked_cells WHERE crnk = 1),
       |qprobe AS (
       |  SELECT vec_id AS query_id, embedding AS qe, cid AS qc
       |  FROM ranked_cells WHERE crnk <= $S12Probes),
       |scored AS (
       |  SELECT query_id, neighbor_id, ${VectorOps.sqlCosine("qe", "ce")} AS cos
       |  FROM qprobe JOIN cells ON cells.cell = qprobe.qc
       |    AND cells.neighbor_id <> qprobe.query_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cos, row_number() OVER (
       |    PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
       |  FROM scored)""".stripMargin
  }

  /** [[s12OracleSql]] with the coarse level derived from the fine set
    * exactly as the operator derives it — the one spelling both oracle
    * resolution paths (explicit-corpus and last-run) share. */
  private[graft] def s12OracleFor(cent: Array[Array[Float]]): String = {
    val (coarse, fineCoarse) = s12CoarseFor(cent)
    s12OracleSql(cent, coarse, fineCoarse,
      math.min(S12CoarseProbes, coarse.length))
  }

  /** DuckDB mirror of [[s14AnnGraph]]: the s12 edge derivation
    * replayed via [[s12EdgeCtes]] (trained literals inlined),
    * symmetrized with a distinct UNION, then the [[S14Hops]] beam
    * rounds unrolled as stacked CTEs (the s10 pattern) — expand the
    * current beam's out-edges, anti-join the CURRENT beam (NOT
    * EXISTS), score the new endpoints with the shared fold, keep
    * [[S14Beam]] by (cos DESC, node). Final: the beam's [[TopK]]
    * non-self nodes per query. Every multi-referenced CTE (the edge
    * set, each beam round) is MATERIALIZED — DuckDB otherwise inlines
    * each reference, re-evaluating beam_{i-1} three times per hop
    * (the commit-974b3ab c30 lesson, which here compounds
    * exponentially across the unrolled hops). */
  private[graft] def s14OracleSql(cent: Array[Array[Float]],
      coarse: Array[Array[Float]], fineCoarse: Array[Int],
      cp: Int): String = {
    val hops = (1 to S14Hops).map { i =>
      s"""gexp$i AS (
         |  SELECT DISTINCT b.query_id, e.dst AS node
         |  FROM beam${i - 1} b JOIN gedges e ON e.src = b.node
         |  WHERE NOT EXISTS (SELECT 1 FROM beam${i - 1} z
         |    WHERE z.query_id = b.query_id AND z.node = e.dst)),
         |gnew$i AS (
         |  SELECT x.query_id, x.node, ${VectorOps.sqlCosine("qe", "ne")} AS cos
         |  FROM gexp$i x JOIN gnodes n ON n.node = x.node
         |  JOIN gq ON gq.query_id = x.query_id),
         |beam$i AS MATERIALIZED (
         |  SELECT query_id, node, cos FROM (
         |    SELECT query_id, node, cos, row_number() OVER (
         |      PARTITION BY query_id ORDER BY cos DESC, node) AS rnk
         |    FROM (SELECT * FROM beam${i - 1}
         |      UNION ALL SELECT * FROM gnew$i))
         |  WHERE rnk <= $S14Beam)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${s12EdgeCtes(cent, coarse, fineCoarse, cp)},
       |gknn AS MATERIALIZED (
       |  SELECT query_id, neighbor_id FROM ranked WHERE rnk <= $S12K),
       |gedges AS MATERIALIZED (
       |  SELECT query_id AS src, neighbor_id AS dst FROM gknn
       |  UNION
       |  SELECT neighbor_id AS src, query_id AS dst FROM gknn),
       |gq AS MATERIALIZED (
       |  SELECT vec_id AS query_id, embedding AS qe FROM embeddings
       |  WHERE vec_id < $NumQueries),
       |gnodes AS MATERIALIZED (
       |  SELECT vec_id AS node, embedding AS ne FROM embeddings),
       |gseed AS (
       |  SELECT query_id, (SELECT min(vec_id) FROM embeddings) AS node
       |  FROM gq
       |  UNION
       |  SELECT gq.query_id, e.dst AS node
       |  FROM gq JOIN gedges e ON e.src = gq.query_id
       |  UNION
       |  -- the probe-seed leg: the query's probed cells' best members
       |  -- (for the in-corpus gate queries this is exactly `ranked`
       |  -- restricted to them — same probes, members, tie rule)
       |  SELECT query_id, neighbor_id AS node
       |  FROM ranked
       |  WHERE query_id < $NumQueries AND rnk <= $S14SeedK),
       |beam0 AS MATERIALIZED (
       |  SELECT query_id, node, cos FROM (
       |    SELECT query_id, node, cos, row_number() OVER (
       |      PARTITION BY query_id ORDER BY cos DESC, node) AS rnk
       |    FROM (
       |      SELECT x.query_id, x.node,
       |        ${VectorOps.sqlCosine("qe", "ne")} AS cos
       |      FROM gseed x JOIN gnodes n ON n.node = x.node
       |      JOIN gq ON gq.query_id = x.query_id))
       |  WHERE rnk <= $S14Beam),
       |$hops
       |SELECT query_id, CAST(rnk AS INTEGER) AS rnk, node AS neighbor_id, cos
       |FROM (
       |  SELECT query_id, node, cos, row_number() OVER (
       |    PARTITION BY query_id ORDER BY cos DESC, node) AS rnk
       |  FROM beam$S14Hops WHERE query_id <> node)
       |WHERE rnk <= $TopK ORDER BY query_id, rnk""".stripMargin
  }

  /** [[s14OracleSql]] via the operator's own coarse derivation — the
    * s12 pattern, sharing its trained-literal resolution. */
  private[graft] def s14OracleFor(cent: Array[Array[Float]]): String = {
    val (coarse, fineCoarse) = s12CoarseFor(cent)
    s14OracleSql(cent, coarse, fineCoarse,
      math.min(S12CoarseProbes, coarse.length))
  }

  /** DuckDB mirror of [[s9FilteredAnn]]: the label pre-filter on the
    * candidate side, before the cell join as in Spark, and the deeper
    * [[S9Probes]] probe list. */
  private[graft] def s9OracleSql(cent: Array[Array[Float]]): String =
    s"""WITH ${sqlRankedCells(cent, "embeddings", Seq("embedding", "label"))},
       |${sqlProbeTail(S9Probes, TopK,
            candWhere = s" AND label % $S9LabelMod = 0")}""".stripMargin

  /** DuckDB mirror of [[d10SemDedup]]: the assigned cells of
    * [[sqlRankedCells]], then the within-cell lower-id pair rule and
    * the audit flag. The shared left-fold cosine keeps the ≥ τ
    * decision bit-identical across engines, so no boundary pair can
    * flip between Spark and the oracle. */
  private[graft] def d10OracleSql(cent: Array[Array[Float]]): String =
    s"""WITH ${sqlRankedCells(cent, "embeddings")},
       |cells AS (
       |  SELECT vec_id, embedding, cid AS cell FROM ranked_cells
       |  WHERE crnk = 1),
       |dropped AS (
       |  SELECT DISTINCT y.vec_id
       |  FROM cells x JOIN cells y
       |    ON x.cell = y.cell AND x.vec_id < y.vec_id
       |  WHERE ${VectorOps.sqlCosine("x.embedding", "y.embedding")} >= $D10Tau)
       |SELECT c.vec_id, CAST(c.cell AS INTEGER) AS cell,
       |  CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS INTEGER)
       |    AS is_kept
       |FROM cells c LEFT JOIN dropped d ON d.vec_id = c.vec_id
       |ORDER BY c.vec_id""".stripMargin

  /** The generated entries for the fine quantizer `cent`, the s12
    * quantizer `c12` and the PQ model `pq`, over the static ones. */
  private def oracleWith(cent: Array[Array[Float]], c12: Array[Array[Float]],
      pq: (Array[Array[Array[Float]]], Long)): Map[String, String] =
    staticOracle +
      ("s3_ann_ivf" -> s3OracleSql(cent)) +
      ("s12_knn_graph" -> s12OracleFor(c12)) +
      ("s14_ann_graph" -> s14OracleFor(c12)) +
      ("s15_graph_admit" -> s15OracleFor(c12)) +
      ("s18_graph_communities" -> s18OracleFor(c12)) +
      ("s9_ann_filtered" -> s9OracleSql(cent)) +
      ("s17_range_search" -> s17OracleSql(cent)) +
      ("d10_semdedup" -> d10OracleSql(cent)) +
      ("s6_ann_pq" -> s6OracleSql(pq)) +
      ("s7_ann_ivfpq" -> s7OracleSql(cent, pq)) +
      ("s8_ann_incremental" -> s8OracleSql(cent)) +
      ("s11_ann_forget" -> s11OracleSql(cent)) +
      ("s13_compact_index" -> s13OracleSql(cent)) +
      ("c28_admit_shard" -> Curation.c28OracleSql(cent)) +
      ("d12_semdedup_incremental" -> d12OracleSql(cent))

  /** Oracle for an EXPLICIT corpus: trains (or cache-hits) the
    * quantizer for `dir` on demand, so the s3/d10 entries never depend
    * on which corpus happened to run last — the dump path Verify uses. */
  def oracleFor(s: SparkSession, dir: String): Map[String, String] = {
    val cent = centroidsFor(s, dir)
    val pq = pqFor(s, dir)
    oracleWith(cent, s12CentroidsFor(s, dir), pq)
  }

  /** s1/s2 are static SQL; s3's entry requires a trained quantizer.
    * This no-arg form (the static SparkEntry.oracleSql contract) FAILS
    * LOUDLY when no centroids are cached rather than silently dropping
    * the s3 entry — a dump taken before the query ran (or for a
    * different corpus) must not quietly shrink the gate. Callers that
    * know the corpus should prefer [[oracleFor]]. */
  def oracle: Map[String, String] = {
    import graft.Artifacts.{Jvm, peek}
    def centroids(key: Option[String]) =
      key.flatMap(peek[Array[Array[Float]]](Jvm, "similarity.centroids", _))
    val pqCached = lastPqKey.flatMap(
      peek[(Array[Array[Array[Float]]], Long)](Jvm, "similarity.pq", _))
    (centroids(lastCorpusKey), pqCached) match {
      // the s12 quantizer shares s3's entry whenever its scaled cell
      // count is 16 (every gate corpus); a corpus where they differ
      // has necessarily RUN s12 (that is how a dump is taken), so
      // lastS12Key resolves — fall back to c otherwise
      case (Some(c), Some(p)) =>
        oracleWith(c, centroids(lastS12Key).getOrElse(c), p)
      case _ => throw new IllegalStateException(
        "s3/d10/s6/s7 oracle requested but no trained quantizer is " +
          "cached for any corpus — run the queries for the gate corpus " +
          "first, or use Similarity.oracleFor(spark, dir)")
    }
  }

  private val staticOracle: Map[String, String] = Map(
    // greedy MMR unrolled as S10K stacked CTE stages (c10 pattern);
    // shared-fold cosines + exact-in-binary λ=1/2 keep it hash-exact
    "s10_mmr_diversify" -> s10OracleSql,
    // static derivation — no trained artifact; eval set, transforms,
    // cosine fold and tie rule all mirrored verbatim
    "d15_semdecontam" -> d15OracleSql,
    // same shared bm25TermScoreSql expression tree, same 6-decimal
    // idf/partial rounding, same DECIMAL(18,6) order-free sum
    "s4_bm25_topk" ->
      s"""WITH $bm25ScoredCtes
         |SELECT doc_id, n_terms, score FROM bscore
         |ORDER BY score DESC, doc_id LIMIT $Bm25TopK""".stripMargin,
    // same bm25 CTEs for the lexical leg, the shared left-fold cosine
    // for the semantic leg, integer reciprocal-rank fusion throughout
    "s5_hybrid_rerank" ->
      s"""WITH $bm25ScoredCtes,
         |cand AS (
         |  SELECT doc_id, row_number() OVER (
         |    ORDER BY score DESC, doc_id) AS rank_lex
         |  FROM bscore),
         |q AS (SELECT embedding AS qe FROM embeddings
         |      WHERE vec_id = $S5QueryVec),
         |scored AS (
         |  SELECT c.doc_id, c.rank_lex,
         |    ${VectorOps.sqlCosine("e.embedding", "q.qe")} AS cos
         |  FROM cand c JOIN embeddings e ON e.vec_id = c.doc_id
         |  CROSS JOIN q
         |  WHERE c.rank_lex <= $S5Candidates),
         |r AS (
         |  SELECT doc_id, rank_lex, cos, row_number() OVER (
         |    ORDER BY cos DESC, doc_id) AS rank_sem
         |  FROM scored)
         |SELECT doc_id,
         |  CAST(rank_lex AS INTEGER) AS rank_lex,
         |  CAST(rank_sem AS INTEGER) AS rank_sem, cos,
         |  CAST(1000000 // ($RrfK + rank_lex) +
         |       1000000 // ($RrfK + rank_sem) AS BIGINT) AS rrf_micro
         |FROM r
         |ORDER BY rrf_micro DESC, doc_id LIMIT $Bm25TopK""".stripMargin,
    "s16_ann_sq8" -> s16OracleSql,
    "s1_ann_bruteforce" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe
         |  FROM embeddings WHERE vec_id < $NumQueries),
         |c AS (SELECT vec_id AS neighbor_id, embedding AS ce FROM embeddings),
         |scored AS (
         |  SELECT query_id, neighbor_id,
         |    ${VectorOps.sqlCosine("qe", "ce")} AS cos
         |  FROM q, c WHERE query_id <> neighbor_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, cos, row_number() OVER (
         |    PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
         |  FROM scored)
         |SELECT query_id, CAST(rnk AS INTEGER) AS rnk, neighbor_id, cos
         |FROM ranked WHERE rnk <= $TopK ORDER BY query_id, rnk""".stripMargin,
    "s2_ann_lsh" -> {
      val probeList = (0 until HyperPlanes).map(j => s"xor(bucket, ${1 << j})")
        .mkString("[bucket, ", ", ", "]")
      s"""WITH b AS (SELECT vec_id, embedding,
         |    ${sqlBucket("embedding")} AS bucket FROM embeddings),
         |q AS (SELECT vec_id AS query_id, embedding AS qe,
         |    unnest($probeList) AS qb
         |  FROM b WHERE vec_id < $NumQueries),
         |scored AS (
         |  SELECT query_id, vec_id AS neighbor_id,
         |    ${VectorOps.sqlCosine("qe", "embedding")} AS cos
         |  FROM q JOIN b ON b.bucket = q.qb AND b.vec_id <> q.query_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, cos, row_number() OVER (
         |    PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
         |  FROM scored)
         |SELECT query_id, CAST(rnk AS INTEGER) AS rnk, neighbor_id, cos
         |FROM ranked WHERE rnk <= $TopK ORDER BY query_id, rnk""".stripMargin
    },
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s1_ann_bruteforce" -> s1BruteForce,
    "s2_ann_lsh" -> s2Lsh,
    "s3_ann_ivf" -> s3Ivf, // oracle generated with inlined centroids
    "s9_ann_filtered" -> s9FilteredAnn, // oracle: filtered s3 replay
    "s17_range_search" -> s17RangeSearch, // oracle: radius s3 replay
    "s12_knn_graph" -> s12KnnGraph, // oracle: generated, corpus-as-queries
    "s14_ann_graph" -> s14AnnGraph, // oracle: s12 edge replay + hop unroll
    "s15_graph_admit" -> s15GraphAdmit, // oracle: full rebuild over the union
    "s18_graph_communities" -> s18GraphCommunities, // oracle: edge replay + LP unroll
    "s16_ann_sq8" -> s16Sq8Search, // oracle: static SQL (exact min/max stats)

    "s10_mmr_diversify" -> s10MmrDiversify, // oracle: k-step CTE unroll
    "d10_semdedup" -> d10SemDedup, // oracle generated with inlined centroids
    "d15_semdecontam" -> d15SemDecontam,
    "s4_bm25_topk" -> s4Bm25,
    "s5_hybrid_rerank" -> s5HybridRerank,
    "s6_ann_pq" -> s6Pq, // oracle generated with inlined codebooks
    "s7_ann_ivfpq" -> s7IvfPq, // oracle generated with both models inlined
    "s8_ann_incremental" -> s8AnnIncremental, // oracle: centroids inlined
    "s11_ann_forget" -> s11AnnForget, // oracle: centroids inlined
    "s13_compact_index" -> s13CompactIndex, // oracle: centroids inlined
    "d12_semdedup_incremental" -> d12SemdedupIncremental, // generated oracle
  )
}
