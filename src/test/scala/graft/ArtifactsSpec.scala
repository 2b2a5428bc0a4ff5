package graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.graftbridge.GraftCheckpoints
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Relational, Similarity}

/** The [[Artifacts]] registry: per-kind LRU bound, release on clear,
  * owner scoping, the checksummed two-layer quantizer store, the
  * checkpoint-lease contract and the checkpoint scope. */
class ArtifactsSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val dir = TestSpark.SfDir

  /** A fresh read of `df` — a new plan, so no shuffle output of an
    * earlier execution is reused and the read reaches its checkpoints. */
  private def reread(df: DataFrame): Array[Row] = df.select("*").collect()

  /** A read of a released local checkpoint fails with a missing-block
    * error. Release is asynchronous, so a read that still finds the
    * blocks is retried (it reads live blocks — nothing recomputes). */
  private def assertReleased(df: DataFrame): Unit = {
    val deadline = System.nanoTime() + 20L * 1000 * 1000 * 1000
    var err: Option[Throwable] = None
    while (err.isEmpty && System.nanoTime() < deadline) {
      try { reread(df); Thread.sleep(100) }
      catch { case e: Exception => err = Some(e) }
    }
    val msg = err.map(e => Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(String.valueOf(_)).mkString(" / "))
    assert(msg.exists(m => m.contains("Checkpoint block") &&
      m.contains("not found")), s"expected a missing-block error, got $msg")
  }

  test("the per-kind LRU bound evicts the least-recently-used entry") {
    val kind = "spec.lru"
    Artifacts.clear(kind)
    val b0 = Artifacts.builds(kind).get()
    (0 until Artifacts.MaxEntries).foreach(i =>
      Artifacts.memo(Artifacts.Jvm, kind, s"k$i")(i))
    assert(Artifacts.memo(Artifacts.Jvm, kind, "k0")(-1) == 0, "k0 is a hit")
    Artifacts.memo(Artifacts.Jvm, kind, "new")(99) // evicts k1, not k0
    assert(Artifacts.builds(kind).get() == b0 + Artifacts.MaxEntries + 1)
    assert(Artifacts.peek[Int](Artifacts.Jvm, kind, "k0").contains(0))
    assert(Artifacts.peek[Int](Artifacts.Jvm, kind, "k1").isEmpty)
    (2 until Artifacts.MaxEntries).foreach(i =>
      assert(Artifacts.peek[Int](Artifacts.Jvm, kind, s"k$i").contains(i)))
    assert(Artifacts.memo(Artifacts.Jvm, kind, "k1")(11) == 11, "k1 rebuilds")
    Artifacts.clear(kind)
  }

  test("owners are told apart: sibling sessions and the JVM never share") {
    val kind = "spec.owner"
    val (a, b) = (s.newSession(), s.newSession())
    assert(Artifacts.memo(a, kind, "k")("a") == "a")
    assert(Artifacts.memo(b, kind, "k")("b") == "b")
    assert(Artifacts.memo(Artifacts.Jvm, kind, "k")("jvm") == "jvm")
    assert(Artifacts.memo(a, kind, "k")("x") == "a")
    Artifacts.clear(kind)
  }

  test("clear releases the checkpoint blocks of the dropped frames") {
    val kind = "spec.clear"
    val df = Artifacts.memo(s.sparkContext, kind, "k")(
      s.range(1000).toDF("id").localCheckpoint(true))
    assert(df.count() == 1000)
    Artifacts.clear(kind)
    assert(Artifacts.peek[DataFrame](s.sparkContext, kind, "k").isEmpty)
    assertReleased(df)
  }

  test("a stopped SparkContext's entries are never served to a new context") {
    // a second SparkContext needs its own JVM: this one shares its
    // context with every other suite
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.toArray.map(_.toString)
      .filterNot(a => a.startsWith("-Xmx") || a.startsWith("-agentlib"))
    val cmd = Seq(s"${sys.props("java.home")}/bin/java") ++ jvmArgs ++
      Seq("-Xmx768m", "-cp", sys.props("java.class.path"),
        "graft.ArtifactsContextCheck")
    val out = new StringBuilder
    val code = scala.sys.process.Process(cmd).!(scala.sys.process
      .ProcessLogger(l => out.append(l).append('\n'), _ => ()))
    assert(code == 0 && out.toString.contains("fresh build per context"),
      s"child JVM exit $code:\n$out")
  }

  test("a tampered or truncated quantizer artifact fails its checksum " +
      "and retrains instead of serving wrong floats") {
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val (centDir, pqDir) = (tmp("graft-cent"), tmp("graft-pq"))
    s.conf.set("spark.graft.centroids.dir", centDir)
    s.conf.set("spark.graft.pq.dir", pqDir)
    val key = Tables.fingerprint(s, dir, "embeddings")
    val trains = Seq("similarity.centroids", "similarity.pq")
      .map(k => k -> Artifacts.builds(s"$k.train"))
    def trained() = trains.map(_._2.get())
    try {
      Artifacts.clear("similarity.centroids", "similarity.pq")
      val t0 = trained()
      // (artifact path, float column, load through the registry)
      val stores = Seq[(String, Int, () => Seq[Any])](
        (s"$centDir/$key", 1,
          () => Similarity.centroidsFor(s, dir).map(_.toSeq).toSeq),
        (s"$pqDir/$key", 2,
          () => Similarity.pqFor(s, dir)._1.map(_.map(_.toSeq).toSeq).toSeq))
      val good = stores.map(_._3())
      assert(trained() == t0.map(_ + 1), "the first call trains both")

      /** Rewrite an artifact's rows and drop the JVM layer. */
      def rewrite(path: String)(edit: Array[Row] => Seq[Row]): Unit = {
        val df = s.read.parquet(path)
        val rows = edit(df.collect())
        s.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
          .coalesce(1).write.mode("overwrite").parquet(path)
        Artifacts.clear("similarity.centroids", "similarity.pq")
      }
      def bump(r: Row, i: Int): Row = {
        val v = r.getSeq[Float](i).toArray
        v(0) += 1.0f
        Row.fromSeq(r.toSeq.updated(i, v.toSeq))
      }
      for (((path, floats, load), i) <- stores.zipWithIndex) {
        rewrite(path)(_.toSeq)
        assert(load() == good(i))
        assert(trained()(i) == t0(i) + 1, s"$path: an intact artifact loads")
        rewrite(path)(rs => bump(rs.head, floats) +: rs.tail.toSeq)
        assert(load() == good(i), s"$path: served the tampered floats")
        assert(trained()(i) == t0(i) + 2, s"$path: tampered, must retrain")
        rewrite(path)(_.tail.toSeq)
        assert(load() == good(i))
        assert(trained()(i) == t0(i) + 3, s"$path: truncated, must retrain")
      }
    } finally {
      s.conf.unset("spark.graft.centroids.dir")
      s.conf.unset("spark.graft.pq.dir")
      Artifacts.clear("similarity.centroids", "similarity.pq")
    }
  }

  test("lease: call N+1 of an operator releases call N's frame, whose " +
      "read then fails loudly instead of recomputing") {
    val first = Relational.q48RobustOutliers(s, dir)
    val want = reread(first).map(_.toString).sorted.toSeq
    val second = Relational.q48RobustOutliers(s, dir)
    assertReleased(first)
    assert(reread(second).map(_.toString).sorted.toSeq == want)
  }

  test("lease: sibling sessions under one tag keep their own frames") {
    val (a, b) = (s.newSession(), s.newSession())
    def frame(x: SparkSession) = x.range(100).toDF("id").localCheckpoint(true)
    val (fa, fb) = (frame(a), frame(b))
    Artifacts.lease(a, "spec.sibling", fa)
    Artifacts.lease(b, "spec.sibling", fb)
    Thread.sleep(500) // room for a wrongful asynchronous release
    assert(fa.count() == 100, "b's lease released a's frame")
    Artifacts.lease(a, "spec.sibling", frame(a))
    assertReleased(fa)
    assert(fb.count() == 100)
    // the operator path: q48 on b never releases a's result
    val qa = Relational.q48RobustOutliers(a, dir)
    val rows = reread(qa).toSeq
    Relational.q48RobustOutliers(b, dir).collect()
    Thread.sleep(500)
    assert(reread(qa).toSeq == rows, "q48 on b released a's result")
    Artifacts.lease(a, "spec.sibling")
    Artifacts.lease(b, "spec.sibling")
  }

  test("scope: a cut the result does not read is freed at exit") {
    var unread: DataFrame = null
    val out = Artifacts.scoped(s, "spec.scope.unread") { sc =>
      unread = sc.cut(s.range(100).toDF("id"))
      assert(unread.count() == 100)
      sc.cut(s.range(50).toDF("id")).filter(col("id") < 10)
    }
    assertReleased(unread)
    assert(reread(out).length == 10)
    Artifacts.lease(s, "spec.scope.unread")
  }

  test("scope: cuts read through a union, a broadcast hint or a scalar " +
      "subquery stay readable until the tag's next call") {
    val tag = "spec.scope.paths"
    val cuts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def build(): DataFrame = Artifacts.scoped(s, tag) { sc =>
      val Seq(u, b, q) = Seq(10, 5, 3).map(n => sc.cut(s.range(n).toDF("id")))
      cuts ++= Seq(u, b, q)
      u.unionByName(s.range(100, 110).toDF("id"))
        .join(broadcast(b), Seq("id"), "left_anti")
        .createOrReplaceTempView("spec_scope_out")
      q.createOrReplaceTempView("spec_scope_q")
      s.sql("SELECT id FROM spec_scope_out " +
        "WHERE id > (SELECT min(id) FROM spec_scope_q)")
    }
    try {
      val first = build()
      Thread.sleep(500) // room for a wrongful asynchronous release
      assert(reread(first).length == 15)
      cuts.foreach(c => assert(reread(c).nonEmpty))
      val second = build()
      cuts.take(3).foreach(assertReleased)
      assert(reread(second).length == 15)
    } finally {
      Artifacts.lease(s, tag)
      Seq("spec_scope_out", "spec_scope_q").foreach(s.catalog.dropTempView)
    }
  }

  test("scope: a throwing body frees all its cuts and keeps the " +
      "previous call's result readable") {
    val tag = "spec.scope.throw"
    val ok = Artifacts.scoped(s, tag)(_.cut(s.range(10).toDF("id")))
    var cut: DataFrame = null
    intercept[IllegalStateException](Artifacts.scoped(s, tag) { sc =>
      cut = sc.cut(s.range(20).toDF("id"))
      throw new IllegalStateException("build failed")
    })
    assertReleased(cut)
    assert(reread(ok).length == 10)
    Artifacts.lease(s, tag)
  }

  test("scope: rounds stores at most two round frames and never frees " +
      "init") {
    val tag = "spec.scope.rounds"
    def rdd(df: DataFrame): Int = GraftCheckpoints.checkpointRdd(df).get
    def stored(ids: Set[Int]): Int =
      s.sparkContext.getRDDStorageInfo.count(i => ids(i.id))
    /** Stored frames among `ids` once pending asynchronous frees land. */
    def settled(ids: Set[Int]): Int = {
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (stored(ids) > 1 && System.nanoTime() < deadline) Thread.sleep(50)
      stored(ids)
    }
    val rounds = scala.collection.mutable.ArrayBuffer.empty[Int]
    val out = Artifacts.scoped(s, tag) { sc =>
      val init = sc.cut(s.range(100).toDF("id"))
      val last = sc.rounds(init, 5) { prev =>
        if (prev ne init) rounds += rdd(prev)
        // the previous rounds are freed before this one's successor is
        // cut: with it, at most two round frames are ever stored
        assert(settled(rounds.toSet) <= 1, s"rounds stored: $rounds")
        assert(stored(Set(rdd(init))) == 1, "rounds freed init")
        prev.select((col("id") + 1).as("id"))
      }
      assert(reread(init).length == 100)
      last
    }
    assert(rounds.length == 4)
    assert(reread(out).map(_.getLong(0)).sorted.toSeq == (5L until 105L))
    Artifacts.lease(s, tag)
  }
}

/** Child-JVM half of the stopped-context test: one registry entry per
  * SparkContext, so a context started after another stopped must build
  * its own value rather than inherit the dead one's broadcast. */
object ArtifactsContextCheck {
  def main(args: Array[String]): Unit = {
    def start() = new SparkContext(new org.apache.spark.SparkConf()
      .setMaster("local[1]").setAppName("artifacts-check")
      .set("spark.ui.enabled", "false"))
    val kind = "check.context"
    val sc1 = start()
    val b1 = Artifacts.memo(sc1, kind, "corpus")(sc1.broadcast(Array(1)))
    sc1.stop()
    val sc2 = start()
    val b2 = Artifacts.memo(sc2, kind, "corpus")(sc2.broadcast(Array(2)))
    val ok = (b1 ne b2) && Artifacts.builds(kind).get() == 2 &&
      sc2.parallelize(Seq(0)).map(_ => b2.value(0)).collect().head == 2
    sc2.stop()
    println(if (ok) "fresh build per context" else "served a stale entry")
    sys.exit(if (ok) 0 else 1)
  }
}
