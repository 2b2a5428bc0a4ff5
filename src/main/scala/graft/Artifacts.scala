package graft

import java.util.UUID
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.graftbridge.GraftCheckpoints

/** The one registry of built artifacts: per-corpus models, inventories,
  * checkpointed subtrees and probe results that operators build once
  * and reuse across the queries of a session, plus the lifetimes of
  * the checkpoint cuts each query makes ([[scoped]]).
  *
  * An entry belongs to an OWNER, the object whose lifetime bounds the
  * value:
  *  - the `SparkContext` for broadcasts and checkpointed frames (a new
  *    context never sees a stopped one's blocks);
  *  - the `SparkSession` for values that depend on session config, and
  *    for leases (sibling sessions of one context stay apart);
  *  - [[Jvm]] for pure driver data keyed by content (centroids,
  *    codebooks, trained models).
  * Owners are told apart by identity, held weakly, never by a hash.
  * The caller's key names the content (a corpus fingerprint, an
  * artifact path), so a re-ingested corpus misses.
  *
  * Each kind is an access-ordered LRU of [[MaxEntries]] entries (the
  * parquet schemas of [[Tables.parquet]] keep [[Tables.SchemaEntries]])
  * with its own lock and build counter. A build runs while HOLDING the
  * kind's lock: duplicate concurrent builds of one subtree would cost
  * more than the wait, and the lock is reentrant. (A multi-tenant
  * driver would hold a per-key lazy value instead, so that one corpus's
  * build never queues another's lookup.)
  *
  * Artifacts persisted on the filesystem (staged shards, indexes,
  * layouts, pipeline targets) go through [[staged]], the one
  * stage-once publish protocol.
  */
object Artifacts {
  /** Owner of values whose lifetime is the JVM's. */
  object Jvm

  /** Entries kept per kind: room for the corpora a session alternates
    * between (the test scale factors plus a scaled copy), while a
    * re-ingested corpus or a cycled session cannot grow a kind without
    * bound. An evicted value is not released; the ContextCleaner
    * reclaims its blocks once nothing references it. */
  val MaxEntries = 8

  /** Kinds kept to another bound than [[MaxEntries]]. */
  private val bounds = Map(Tables.SchemaKind -> Tables.SchemaEntries)

  private final class Kind(max: Int) {
    val entries = new java.util.LinkedHashMap[String, Any](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Any]): Boolean = size > max
    }
    val builds = new AtomicLong
  }

  private val kinds = new ConcurrentHashMap[String, Kind]()
  private def kind(name: String): Kind =
    kinds.computeIfAbsent(name, n => new Kind(bounds.getOrElse(n, MaxEntries)))

  private val owners = new java.util.WeakHashMap[AnyRef, java.lang.Long]()
  private val nextOwner = new AtomicLong
  private def slot(owner: AnyRef, key: String): String = {
    val id = owners.synchronized {
      val known = owners.get(owner)
      if (known != null) known
      else {
        val fresh = java.lang.Long.valueOf(nextOwner.incrementAndGet())
        owners.put(owner, fresh)
        fresh
      }
    }
    s"$id/$key"
  }

  /** The value of `kind` for (`owner`, `key`), built on a miss. */
  def memo[T](owner: AnyRef, kind: String, key: String)(build: => T): T = {
    val k = this.kind(kind)
    val id = slot(owner, key)
    k.synchronized {
      k.entries.get(id) match {
        case null =>
          k.builds.incrementAndGet()
          val v = build
          k.entries.put(id, v)
          v
        case hit => hit.asInstanceOf[T]
      }
    }
  }

  /** The value of `kind` for (`owner`, `key`) if one is held; never
    * builds. */
  def peek[T](owner: AnyRef, kind: String, key: String): Option[T] = {
    val k = this.kind(kind)
    val id = slot(owner, key)
    k.synchronized(Option(k.entries.get(id)).map(_.asInstanceOf[T]))
  }

  /** Builds of `kind` in this JVM. */
  def builds(kind: String): AtomicLong = this.kind(kind).builds

  /** Drop every entry of `kinds` (all kinds when none is named) and
    * release the checkpoint blocks of the dropped frames. */
  def clear(kinds: String*): Unit =
    (if (kinds.isEmpty) this.kinds.keySet.asScala.toSeq else kinds)
      .foreach { n =>
        val k = kind(n)
        val dropped = k.synchronized {
          val vs = k.entries.values.asScala.toList
          k.entries.clear()
          vs
        }
        dropped.foreach {
          case d: Dataset[_] => GraftCheckpoints.releaseLocalCheckpoint(d)
          case _ => ()
        }
      }

  /** The eager lineage cuts of one query build, and their lifetimes.
    * An operator opens one with [[scoped]] and cuts through it; a
    * shared helper takes its caller's scope, so its cuts belong to the
    * query it serves. */
  final class Scope private[Artifacts] (val session: SparkSession) {
    private val cuts = scala.collection.mutable.ArrayBuffer.empty[Dataset[_]]

    /** `df` materialized now as an eager local checkpoint, which cuts
      * its lineage: every later reader starts from the stored rows. */
    def cut[T](df: Dataset[T]): Dataset[T] = {
      val c = df.localCheckpoint(true)
      cuts.synchronized(cuts += c)
      c
    }

    /** `n` rounds of `step` from `init`, each round cut. A round is
      * freed once the next is materialized, so at most two round
      * frames are stored at a time; `init` is never freed here. */
    def rounds[T](init: Dataset[T], n: Int)(
        step: Dataset[T] => Dataset[T]): Dataset[T] =
      roundsUntil(init, n)(step)(_ => false)._1

    /** [[rounds]] that stops after the first round whose cut satisfies
      * `done`; also says whether `done` stopped it. */
    def roundsUntil[T](init: Dataset[T], n: Int)(
        step: Dataset[T] => Dataset[T])(
        done: Dataset[T] => Boolean): (Dataset[T], Boolean) = {
      @scala.annotation.tailrec
      def go(cur: Dataset[T], i: Int): (Dataset[T], Boolean) =
        if (i == n) (cur, false)
        else {
          val next = cut(step(cur))
          val stop = done(next)
          if (cur ne init) free(cur)
          if (stop) (next, true) else go(next, i + 1)
        }
      go(init, 0)
    }

    private def free(c: Dataset[_]): Unit = {
      cuts.synchronized(cuts.filterInPlace(_ ne c))
      GraftCheckpoints.releaseLocalCheckpoint(c)
    }

    private[Artifacts] def all: Seq[Dataset[_]] = cuts.synchronized(cuts.toList)
  }

  /** Run one query build `body` in a fresh [[Scope]]. When it returns,
    * the cuts its result still reads (the `LogicalRDD` leaves of the
    * analyzed plans of the Datasets it returns, subqueries included)
    * are leased under (`s`, `tag`), replacing that tag's previous
    * lease, and every other cut is freed. If it throws, all its cuts
    * are freed and the previous lease stays.
    *
    * CONTRACT: `tag` names the public operator; the frame returned by
    * call N is readable until call N+1 of the SAME operator on the SAME
    * session. A later read of the stale frame fails loudly with a
    * missing-block error (localCheckpoint truncates lineage), never
    * silently recomputes. Callers fully materialize a query before
    * re-invoking it. */
  def scoped[T](s: SparkSession, tag: String)(body: Scope => T): T = {
    val scope = new Scope(s)
    val out =
      try body(scope)
      catch {
        case e: Throwable =>
          scope.all.foreach(GraftCheckpoints.releaseLocalCheckpoint)
          throw e
      }
    val read = datasets(out).flatMap(GraftCheckpoints.readRdds).toSet
    val (kept, freed) = scope.all
      .partition(GraftCheckpoints.checkpointRdd(_).exists(read))
    lease(s, tag, kept: _*)
    freed.foreach(GraftCheckpoints.releaseLocalCheckpoint)
    out
  }

  /** The Datasets a build returns: itself, or inside a tuple. */
  private def datasets(out: Any): Seq[Dataset[_]] = out match {
    case d: Dataset[_] => Seq(d)
    case p: Product => p.productIterator.flatMap(datasets).toSeq
    case _ => Nil
  }

  private val leases = new ConcurrentHashMap[String, Seq[Dataset[_]]]()

  /** Hold `frames` under (`s`, `tag`) and release the frames of the
    * previous lease: the exit step of [[scoped]]. */
  private[graft] def lease(s: SparkSession, tag: String,
      frames: Dataset[_]*): Unit = {
    val k = slot(s, tag)
    val prev = if (frames.isEmpty) leases.remove(k) else leases.put(k, frames)
    Option(prev).foreach(_.foreach(GraftCheckpoints.releaseLocalCheckpoint))
  }

  /** Commit-marker filename of a [[staged]] unit. Distinct from Spark's
    * `_SUCCESS`, which the parquet committer writes per job, including
    * for half-published multi-job outputs a crashed run may leave
    * behind: only [[staged]] creates this file, and only after the
    * unit's data is in place. */
  val Marker = "_GRAFT_COMMITTED"

  /** The kinds of operator-staged artifact, each a directory under
    * `target/` keyed per corpus generation; the one list a cold start
    * wipes (MemProbe). */
  val StagedKinds = Seq("admitshard", "benchdata", "dedupindex", "incdata",
    "ivfinc", "ivfindex", "knngraph", "semdedupinc", "snapdata", "zorder")

  /** `target/<kind>/<sub...>`: where staged artifacts of `kind` live. */
  def stagedDir(kind: String, sub: String*): String = {
    require(StagedKinds.contains(kind), s"unknown staged kind $kind")
    (s"target/$kind" +: sub).mkString("/")
  }

  /** True iff the unit at `path` was published by [[staged]]. */
  def committed(s: SparkSession, path: String): Boolean = {
    val marker = new Path(path, Marker)
    marker.getFileSystem(s.sparkContext.hadoopConfiguration).exists(marker)
  }

  private val stageLocks = new ConcurrentHashMap[String, Object]()

  /** Stage the unit at `path` once: the Luigi rule that a task is done
    * when its output target exists, made crash-safe. A unit whose
    * [[Marker]] exists is returned as is. Otherwise `write` fills a
    * fresh scratch directory beside the unit, the scratch is renamed
    * onto the unit, and the marker is created with create-no-overwrite,
    * which is atomic on HDFS and object stores alike. Returns `path`.
    *
    *  - A crash mid-write leaves data without a marker. That is debris
    *    the next call owns: it is deleted, then replaced. Spark's
    *    `_SUCCESS` alone never counts as committed.
    *  - Within a JVM, callers of one path serialize on a per-path lock,
    *    so two threads never race two writes into one unit; the second
    *    finds the first's marker and reads its rows.
    *  - Across JVMs, a run that finds a marker after writing drops its
    *    scratch and keeps the committed output; if another run commits
    *    between the check and the rename, its marker wins, and both
    *    wrote the same deterministic rows.
    *
    * With `parts`, the unit is those entries of the directory `path`
    * (each written by `write` under the scratch directory), committed
    * together by one marker in `path` and rebuilt if any is missing.
    * Only the named entries are replaced, so the directory may hold
    * other units beside them. */
  def staged(s: SparkSession, path: String, parts: String*)(
      write: String => Unit): String = {
    val unit = new Path(path)
    val marker = new Path(unit, Marker)
    val fs = unit.getFileSystem(s.sparkContext.hadoopConfiguration)
    def done =
      fs.exists(marker) && parts.forall(p => fs.exists(new Path(unit, p)))
    if (!done)
      stageLocks.computeIfAbsent(path, _ => new Object).synchronized {
        if (!done) {
          val scratch = new Path(s"$path.inprogress-${UUID.randomUUID()}")
          try {
            write(scratch.toString)
            // a concurrent run that committed first keeps its output
            if (!done) publish(fs, scratch, unit, parts)
          } finally fs.delete(scratch, true)
        }
      }
    path
  }

  private def publish(fs: FileSystem, scratch: Path, unit: Path,
      parts: Seq[String]): Unit = {
    val marker = new Path(unit, Marker)
    val moves =
      if (parts.isEmpty) Seq(scratch -> unit)
      else {
        fs.mkdirs(unit)
        parts.map(p => new Path(scratch, p) -> new Path(unit, p))
      }
    moves.foreach { case (from, to) =>
      fs.delete(to, true) // uncommitted crash debris
      if (!fs.rename(from, to) && !fs.exists(marker)) // not a lost race
        throw new java.io.IOException(s"could not publish $from -> $to")
    }
    try fs.create(marker, /* overwrite = */ false).close()
    catch { case _: java.io.IOException if fs.exists(marker) => () }
  }
}
