package graft.snapshot

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.json4s.JsonDSL._

final case class RoundMetrics(
    round: Int,
    selected: Long,
    fetched: Long,
    linksExtracted: Long,
    dedupDropped: Long,
    newSeen: Long,
    seenTotal: Long,
    frontierNext: Long,
    wallMillis: Long)

final case class Snapshot(
    id: Int,
    parentId: Int,
    round: Int,
    seenDeltaPaths: Vector[String],
    frontierPath: String,
    seenCount: Long,
    configHash: String,
    metrics: RoundMetrics)

/** Thrown when a commit loses the optimistic-concurrency race: either the
  * declared parent is no longer the latest snapshot, or another writer
  * already created this snapshot id. The losing writer must re-read
  * `latest` and rebase — exactly Iceberg's table-commit contract. */
final class CommitConflictException(msg: String) extends RuntimeException(msg)

/** Minimal Iceberg-style snapshot log over Parquet (the Iceberg runtime jar
  * is not available offline — SURVEY.md §7.3): an append-only chain of JSON
  * manifests under `<dir>/_snapshots/v{N}.json`, each recording
  *
  *   - snapshot id + parent id + crawl round,
  *   - the cumulative list of seen-set delta paths (the seen table is the
  *     union of its deltas),
  *   - the current frontier path,
  *   - fetch/dedup metrics for the round,
  *
  * giving the north_rule's resume semantics: a killed job re-reads the
  * latest manifest and continues with identical ordering (every round is a
  * deterministic function of (seen, frontier, pages, config)). Commits are
  * atomic via write-to-temp + CREATE_NEW hard link, with an optimistic
  * parent-must-be-latest check — two interleaved writers cannot silently
  * last-writer-win ([[CommitConflictException]]). Fields a manifest
  * carries beyond [[Snapshot]]'s (older manifests have a `lineage` array)
  * are ignored on read.
  */
final class SnapshotLog(val dir: String) {
  private val snapDir = Paths.get(dir, "_snapshots")
  Files.createDirectories(snapDir)

  def latest: Option[Snapshot] = {
    val ids = listIds
    if (ids.isEmpty) None else Some(read(ids.max))
  }

  def listIds: Vector[Int] = {
    // close the directory stream (latest → listIds runs once per crawl
    // round; an unclosed Files.list holds an fd until GC — a long crawl
    // with a big, rarely-collected heap exhausts the ulimit), and accept
    // only STRICTLY numeric v<N>.json names (a stray vbackup.json from
    // manual debugging must not NumberFormatException-brick every
    // latest/commit on the store)
    val s = Files.list(snapDir)
    try s.iterator().asScala
      .map(_.getFileName.toString)
      .collect { case n if n.matches("v\\d+\\.json") =>
        n.stripPrefix("v").stripSuffix(".json").toInt }
      .toVector.sorted
    finally s.close()
  }

  def read(id: Int): Snapshot = {
    implicit val fmt: Formats = DefaultFormats
    val json = JsonMethods.parse(new String(
      Files.readAllBytes(snapDir.resolve(s"v$id.json")), "UTF-8"))
    json.extract[Snapshot]
  }

  def commit(s: Snapshot): Unit = {
    val j: JObject =
      ("id" -> s.id) ~ ("parentId" -> s.parentId) ~ ("round" -> s.round) ~
      ("seenDeltaPaths" -> s.seenDeltaPaths) ~
      ("frontierPath" -> s.frontierPath) ~
      ("seenCount" -> s.seenCount) ~
      ("configHash" -> s.configHash) ~
      ("metrics" ->
        (("round" -> s.metrics.round) ~ ("selected" -> s.metrics.selected) ~
         ("fetched" -> s.metrics.fetched) ~
         ("linksExtracted" -> s.metrics.linksExtracted) ~
         ("dedupDropped" -> s.metrics.dedupDropped) ~
         ("newSeen" -> s.metrics.newSeen) ~ ("seenTotal" -> s.metrics.seenTotal) ~
         ("frontierNext" -> s.metrics.frontierNext) ~
         ("wallMillis" -> s.metrics.wallMillis)))
    val bytes = JsonMethods.pretty(JsonMethods.render(j)).getBytes("UTF-8")
    // Optimistic-concurrency CAS (VERDICT r5 #6 — Iceberg's core commit
    // guarantee): (1) the declared parent must still be the latest
    // committed snapshot, and (2) the manifest is created with CREATE_NEW
    // semantics — a hard link fails atomically if the target exists — so
    // two interleaved writers can never silently last-writer-win: exactly
    // one commit lands, the other gets CommitConflictException and must
    // re-read latest and rebase.
    latest.foreach { cur =>
      if (cur.id != s.parentId)
        throw new CommitConflictException(
          s"snapshot v${s.id} declares parent v${s.parentId} but the " +
            s"latest committed snapshot is v${cur.id} — concurrent commit " +
            "detected; re-read latest and rebase")
    }
    val tmp = snapDir.resolve(s".v${s.id}.json.${java.util.UUID.randomUUID()}.tmp")
    Files.write(tmp, bytes)
    val target = snapDir.resolve(s"v${s.id}.json")
    try Files.createLink(target, tmp)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new CommitConflictException(
          s"snapshot v${s.id} was committed concurrently by another " +
            "writer — re-read latest and rebase")
      case _: UnsupportedOperationException |
           _: java.nio.file.FileSystemException =>
        // filesystems without hard links surface the failure either as
        // UnsupportedOperationException (provider lacks createLink) or as
        // FileSystemException (EPERM/EOPNOTSUPP from link(2) on FAT/CIFS
        // mounts). Degraded CAS: CREATE_NEW is an atomic
        // existence-check-and-create, so two racing writers still cannot
        // both land (no rename that could silently replace a committed
        // manifest). Trade-off, documented: a reader listing between
        // create and the final write can observe a partial manifest —
        // acceptable on these degraded filesystems; POSIX always takes
        // the createLink path above. A FileSystemException that was NOT
        // link-unsupport (e.g. a permissions error) fails the CREATE_NEW
        // write too and propagates as a commit failure, same as before.
        try
          Files.write(target, bytes,
            java.nio.file.StandardOpenOption.CREATE_NEW,
            java.nio.file.StandardOpenOption.WRITE)
        catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            throw new CommitConflictException(
              s"snapshot v${s.id} was committed concurrently by another " +
                "writer — re-read latest and rebase")
        }
    } finally Files.deleteIfExists(tmp)
    // Post-link re-verification (ADVICE r6 #3): pre-check + CREATE_NEW is
    // not a true CAS — two writers committing DIFFERENT ids in the window
    // between the `latest` pre-check and createLink could both land,
    // silently forking the chain (which `latest` would then resolve by max
    // id). After OUR manifest lands, re-read the id set: any OTHER id
    // above our declared parent means a concurrent commit interleaved —
    // withdraw our own manifest (never anyone else's) and conflict. Both
    // racers may conflict (conservative, callers rebase); a silent fork
    // can no longer survive. Costs one directory listing per commit.
    val maxOther = listIds.filter(_ != s.id).maxOption
    if (maxOther.exists(_ > s.parentId)) {
      Files.deleteIfExists(snapDir.resolve(s"v${s.id}.json"))
      throw new CommitConflictException(
        s"snapshot v${s.id} (parent v${s.parentId}) interleaved with a " +
          s"concurrent commit of v${maxOther.get} — commit withdrawn; " +
          "re-read latest and rebase")
    }
  }
}
