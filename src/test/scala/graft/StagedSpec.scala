package graft

import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

/** [[Artifacts.staged]], the one stage-once publish protocol: what counts
  * as committed, how crash debris is replaced, and how concurrent callers
  * of one path resolve. */
class StagedSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private def fs = org.apache.hadoop.fs.FileSystem.getLocal(
    s.sparkContext.hadoopConfiguration)
  private def fresh(): String =
    java.nio.file.Files.createTempDirectory("graft-staged").toString

  /** A writer of `n` rows that counts its runs in `builds`. */
  private def rows(n: Int, builds: AtomicInteger)(out: String): Unit = {
    builds.incrementAndGet()
    s.range(n).write.parquet(out)
  }
  private def count(p: String): Long = s.read.parquet(p).count()

  test("a unit whose data was written but whose marker is missing is " +
      "rebuilt") {
    val unit = s"${fresh()}/unit"
    // a crashed run: data files and Spark's _SUCCESS, no commit marker
    s.range(3).write.parquet(unit)
    assert(fs.exists(new Path(unit, "_SUCCESS")))
    assert(!Artifacts.committed(s, unit))
    val builds = new AtomicInteger
    assert(Artifacts.staged(s, unit)(rows(10, builds)) == unit)
    assert(builds.get == 1 && Artifacts.committed(s, unit))
    assert(count(unit) == 10, "the crashed run's rows survived")
  }

  test("a committed unit is not rewritten") {
    val unit = s"${fresh()}/unit"
    val builds = new AtomicInteger
    Artifacts.staged(s, unit)(rows(10, builds))
    val marker = new Path(unit, Artifacts.Marker)
    val stamp = fs.getFileStatus(marker).getModificationTime
    Thread.sleep(1100) // past the filesystem's mtime granularity
    Artifacts.staged(s, unit)(rows(5, builds))
    assert(builds.get == 1, "a committed unit was built again")
    assert(fs.getFileStatus(marker).getModificationTime == stamp)
    assert(count(unit) == 10)
  }

  test("two threads staging one path run one build, and both read all " +
      "the rows") {
    val unit = s"${fresh()}/unit"
    val builds = new AtomicInteger
    def stageAndRead() = Future {
      Artifacts.staged(s, unit) { out =>
        Thread.sleep(300) // widen the window a racing build would use
        rows(1000, builds)(out)
      }
      count(unit)
    }
    val reads = Seq(stageAndRead(), stageAndRead())
      .map(Await.result(_, 2.minutes))
    assert(builds.get == 1, "both threads built the unit")
    assert(reads == Seq(1000L, 1000L))
  }

  test("a multi-part unit commits its parts together, is rebuilt when " +
      "one is missing, and never removes a sibling unit") {
    val dir = fresh()
    val builds = new AtomicInteger
    val sibling = Artifacts.staged(s, s"$dir/sibling")(rows(4, builds))
    def stageParts() = Artifacts.staged(s, dir, "a", "b") { out =>
      rows(1, builds)(s"$out/a")
      rows(2, builds)(s"$out/b")
    }
    stageParts()
    assert(Artifacts.committed(s, dir) && builds.get == 3)
    fs.delete(new Path(dir, "b"), true)
    stageParts()
    assert(builds.get == 5, "a missing part did not rebuild the unit")
    assert(count(s"$dir/a") == 1 && count(s"$dir/b") == 2)
    assert(Artifacts.committed(s, sibling) && count(sibling) == 4,
      "restaging the parts removed a sibling unit")
    assert(Seq(s"$dir.inprogress-*", s"$dir/*.inprogress-*")
      .forall(g => fs.globStatus(new Path(g)).isEmpty), "scratch left behind")
  }
}
