package graft.operators

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** The one optimistic-commit protocol of the four standing stores
  * ([[GraftTable]], [[ScdStore]], [[DeleteStore]],
  * [[IntervalIndexStore]]) — Iceberg's metadata-pointer commit, written
  * once. A store's state is its POINTER `_live.json`; commit N first
  * claims SLOT N by exclusive create ([[StoreIO.writeStringExclusive]]
  * — the filesystem CAS), then swaps the pointer. The version checks in
  * the stores catch completed races; the slot closes the read-to-swap
  * window in which two writers would both swap and the loser's label
  * would silently vanish from the ledger after its call returned.
  *
  * Each store fixes its slot layout ([[CommitLog.Layout]]):
  * `_commits/c<N>.json` slots carry the full snapshot (pointer body +
  * kind + label + the store's extras) and are RETAINED — time travel
  * and CDC read them, [[expire]] retires them, [[vacuum]] keeps every
  * directory a retained one names; `_swap/s<N>.json` slots carry only
  * the claim (kind + label [+ nonce]) and [[vacuum]] sweeps those at or
  * below the pointer.
  *
  * OCCUPANT RULE — the one table for every claim in the engine. When
  * the exclusive create fails, the occupant is classified in this
  * order, first match wins:
  *
  *  1. COMMITTED WINNER — the pointer has reached N (a MISSING pointer
  *     reads as 0: only a crashed first commit leaves a slot without
  *     one). → abort (CME); the caller retries against the new state.
  *  2. OWN CRASHED CLAIM — same kind AND same non-empty label: a replay
  *     of a labeled op repairing a commit that died between its slot
  *     write and its pointer swap. Labels identify a logical batch, so
  *     the replay reuses the slot. → reuse (rewrite it).
  *  3. ANNOUNCED LABEL — the occupant's kind announces a labeled
  *     sidecar ([[CommitLog.Sidecar]]) and it still stands: the writer
  *     is alive mid-swap, or crashed awaiting replay under that label.
  *     → abort (CME).
  *  4. STANDING NONCE — ops with no replay identity
  *     ([[CommitLog.Nonce]] kinds: retire / reset / expire) announce a
  *     per-invocation nonce sidecar before claiming, and the slot
  *     carries the nonce; the sidecar standing is the liveness signal,
  *     with no clock anywhere (an mtime grace window misclassifies a
  *     live writer under clock skew or a paused driver). The claimant
  *     clears its nonce strictly AFTER its pointer swap — cleared
  *     earlier, a racing claimant would find it gone and both would
  *     swap. A claimant that crashed pre-swap wedges the slot LOUDLY
  *     (the CME names the sidecar); an operator clears it once the
  *     writer is known dead, and the next claim resolves case 5.
  *     → abort (CME).
  *  5. DEAD ORPHAN — anything else: a crashed claim whose announcement
  *     is gone, a first commit ([[CommitLog.Never]] kinds), a pre-nonce
  *     unlabeled slot, or an unreadable slot (rename/hard-link publish
  *     makes a visible slot complete by construction, so unreadable
  *     means handcrafted). → delete and retry, at most 3 times.
  *
  * An occupant of a kind the store does not know aborts (CME) before
  * case 5: a kind added without an announcement must fail loudly, never
  * silently bypass in-flight detection. */
private[operators] final class CommitLog[M](
    layout: CommitLog.Layout,
    announce: Map[String, CommitLog.Announce],
    parse: JsonNode => M,
    number: M => Long,
    render: (ObjectNode, M) => Unit) {

  import CommitLog._
  import StoreIO.{clearPending, hadoopFs, jStr, parseJson, pendingExists,
    pendingPath, readString, renderJson, writePending}

  private def pointerPath(dir: String) = s"$dir/_live.json"
  private def slotName(n: Long) = s"${layout.prefix}$n"
  private def slotPath(dir: String, n: Long) =
    s"$dir/${layout.dir}/${slotName(n)}.json"

  /** The live pointer. */
  def pointer(spark: SparkSession, dir: String): M =
    parse(parseJson(readString(spark, pointerPath(dir))))

  private def pointerNumber(spark: SparkSession, dir: String): Long =
    try number(pointer(spark, dir))
    catch { case _: java.io.FileNotFoundException => 0L }

  /** Claim slot `number(m)`, then swap the pointer to `m`. `extras`
    * adds the store's own snapshot fields (retained layout only). */
  def commit(spark: SparkSession, dir: String, m: M, kind: String,
      label: String, extras: ObjectNode => Unit = _ => ()): Unit = {
    require(announce.contains(kind), s"commit kind '$kind' has no announcement")
    val n = number(m)
    val where = s"${layout.noun} ${slotName(n)} in $dir"
    val nonce =
      if (announce(kind) != Nonce) None
      else Some(s"nonce-${ProcessHandle.current().pid()}-" +
        java.util.UUID.randomUUID().toString)
    nonce.foreach(writePending(spark, dir, kind, _))
    def abort(msg: String): Nothing = {
      nonce.foreach(clearPending(spark, dir, kind, _))
      throw new java.util.ConcurrentModificationException(
        s"$where $msg — single writer is the contract")
    }
    val body = renderJson { o =>
      if (layout == Retained) { render(o, m); extras(o) }
      o.put("kind", kind); o.put("label", label)
      nonce.foreach(o.put("nonce", _)); ()
    }
    val slot = slotPath(dir, n)
    var attempts = 0
    while (!StoreIO.writeStringExclusive(spark, slot, body)) {
      if (pointerNumber(spark, dir) >= n)
        abort("was won by another writer; retry against the new state")
      val occ =
        try Some(parseJson(readString(spark, slot)))
        catch { case _: Exception => None } // vanished or unreadable
      val oKind = occ.flatMap(jStr(_, "kind"))
      val oLabel = occ.flatMap(jStr(_, "label")).getOrElse("")
      val own = label.nonEmpty && oKind.contains(kind) && oLabel == label
      if (!own) oKind.foreach { k =>
        announce.get(k) match {
          case None => abort(s"holds a claim of unknown kind '$k' — " +
            "refusing to classify it as a dead orphan; remove the slot " +
            "manually if its writer is known dead")
          case Some(Sidecar(sk))
              if oLabel.nonEmpty && pendingExists(spark, dir, sk, oLabel) =>
            abort(s"is claimed by an in-flight '$k' writer (label " +
              s"'$oLabel'); retry against the new state")
          case Some(Nonce) =>
            occ.flatMap(jStr(_, "nonce")).filter(_.nonEmpty)
              .filter(pendingExists(spark, dir, k, _)).foreach { nx =>
                abort(s"is claimed by a concurrent unlabeled '$k' writer " +
                  s"(announcement ${pendingPath(dir, k, nx)} stands); if " +
                  "its writer is known dead, remove that sidecar to " +
                  "release the slot")
              }
          case _ => ()
        }
      }
      attempts += 1
      if (attempts > 3) {
        nonce.foreach(clearPending(spark, dir, kind, _))
        require(false, s"$where cannot be claimed (occupant: " +
          s"${oKind.getOrElse("?")}/$oLabel)")
      }
      val (fs, p) = hadoopFs(spark, slot)
      fs.delete(p, false) // own crashed claim, or a dead orphan
    }
    StoreIO.writeString(spark, pointerPath(dir), renderJson(render(_, m)),
      atomic = true)
    nonce.foreach(clearPending(spark, dir, kind, _))
  }

  /** Slot numbers on disk, ascending (retained snapshots, or spent and
    * in-flight swap claims). */
  def list(spark: SparkSession, dir: String): Seq[Long] = {
    val (fs, root) = hadoopFs(spark, s"$dir/${layout.dir}")
    if (!fs.exists(root)) return Seq.empty
    val re = s"${layout.prefix}(\\d+)\\.json".r
    fs.listStatus(root).toSeq.map(_.getPath.getName)
      .collect { case re(n) => n.toLong }.sorted
  }

  /** The retained snapshot of commit `c`. */
  def snapshot(spark: SparkSession, dir: String, c: Long): Snapshot[M] = {
    val raw =
      try readString(spark, slotPath(dir, c))
      catch {
        case e: Exception => throw new IllegalArgumentException(
          s"commit $c is not retained in $dir (expired, or never " +
            s"committed — live commit is ${number(pointer(spark, dir))})", e)
      }
    val node = parseJson(raw)
    def field(f: String) = jStr(node, f).getOrElse(
      sys.error(s"commit snapshot ${slotName(c)} in $dir has no '$f'"))
    Snapshot(parse(node), field("kind"), field("label"), node)
  }

  /** Drop all but the newest `keepLast` retained snapshots (the pointer
    * is untouched — liveness never depends on a snapshot). Returns the
    * count dropped. */
  def expire(spark: SparkSession, dir: String, keepLast: Int): Int = {
    require(keepLast >= 0, "keepLast must be >= 0")
    val victims = list(spark, dir).dropRight(keepLast)
    victims.foreach { c =>
      val (fs, p) = hadoopFs(spark, slotPath(dir, c))
      fs.delete(p, false)
    }
    victims.size
  }

  /** Standing sidecars, THEN the pointer. A writer un-announces only
    * after its commit, so a sidecar gone at the first read means the
    * commit is visible at the second; pointer-first would let a
    * commit + un-announce slip between the two reads. */
  def liveness(spark: SparkSession,
      dir: String): (Map[String, Set[String]], M) = {
    val pending = StoreIO.pendingLabels(spark, dir)
    (pending, pointer(spark, dir))
  }

  /** One vacuum pass in the load-bearing order: LIST the candidate
    * directories under `roots` first, then read the sidecars, the
    * pointer and the retained snapshots ([[liveness]]). Every writer
    * announces before its first data byte and commits before it
    * un-announces, so any directory the listing saw is announced,
    * committed, or a true orphan — the deterministic analogue of
    * Iceberg remove_orphan_files' `older_than` horizon. `sweep` deletes
    * what it must and returns its result plus which (kind, label)
    * sidecars provably committed: those are cleared at the end, or a
    * crash between a commit and its un-announce would shield the
    * eventually superseded directory forever. A nonce sidecar of a
    * [[CommitLog.Never]] kind is cleared too: no writer of such a kind
    * announces a nonce, so it is a leftover of a crash from when the
    * kind was a [[CommitLog.Nonce]] kind and shields no live claim.
    * Swap slots at or below the pointer are spent claims and are swept
    * last. */
  def vacuum[R](spark: SparkSession, dir: String, roots: Seq[String])(
      sweep: Vacuum[M] => (R, (String, String) => Boolean)): R = {
    val listed = roots.map(subdirs(spark, _))
    val (pending, live) = liveness(spark, dir)
    val retained =
      if (layout == Retained) list(spark, dir).map(snapshot(spark, dir, _))
      else Nil
    val (out, committed) = sweep(Vacuum(listed, pending, live, retained))
    StoreIO.clearCommittedPending(spark, dir, pending, (k, l) =>
      committed(k, l) ||
        (l.startsWith("nonce-") && announce.get(k).contains(Never)))
    if (layout == Swept)
      list(spark, dir).filter(_ <= number(live)).foreach { s =>
        val (fs, p) = hadoopFs(spark, slotPath(dir, s))
        fs.delete(p, false)
      }
    out
  }
}

private[operators] object CommitLog {

  /** Where a store's slots live and what they hold. */
  sealed abstract class Layout(val dir: String, val prefix: String,
      val noun: String)
  /** `_commits/c<N>.json`: full snapshots, kept until expired. */
  case object Retained extends Layout("_commits", "c", "commit slot")
  /** `_swap/s<N>.json`: claims only, swept at vacuum. */
  case object Swept extends Layout("_swap", "s", "swap slot")

  /** How a live writer of one commit kind announces itself. */
  sealed trait Announce
  /** Labeled: the writer's `_pending_<kind>_<label>` sidecar stands. */
  final case class Sidecar(kind: String) extends Announce
  /** Unlabeled: the claimant announces a per-invocation nonce. */
  case object Nonce extends Announce
  /** A store's first commit: nothing announces it. */
  case object Never extends Announce

  /** A retained snapshot: the pointer body it swapped in, what the
    * commit did, and the raw node for the store's extra fields. */
  final case class Snapshot[M](manifest: M, kind: String, label: String,
      node: JsonNode)

  /** What [[CommitLog.vacuum]] read, in order: the subdirectories of
    * each root, the standing sidecars, the pointer, the retained
    * snapshots. */
  final case class Vacuum[M](listed: Seq[Seq[Path]],
      pending: Map[String, Set[String]], pointer: M,
      retained: Seq[Snapshot[M]]) {
    def announced(kinds: String*): Set[String] =
      kinds.flatMap(pending.getOrElse(_, Set.empty)).toSet
  }

  private def subdirs(spark: SparkSession, root: String): Seq[Path] = {
    val (fs, p) = StoreIO.hadoopFs(spark, root)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath)
  }

  /** Delete every directory in `dirs` whose name `keep` rejects;
    * returns the count deleted. */
  def sweep(spark: SparkSession, dirs: Seq[Path])(
      keep: String => Boolean): Int = {
    val dead = dirs.filterNot(d => keep(d.getName))
    dead.foreach { d =>
      val (fs, p) = StoreIO.hadoopFs(spark, d.toString)
      fs.delete(p, true)
    }
    dead.length
  }
}
