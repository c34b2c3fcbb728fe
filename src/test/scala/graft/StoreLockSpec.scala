package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.FileTime

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile

import graft.operators.StoreLock

/** The rules of the single-writer stores' lock, one row per rule: which
  * records an acquirer reclaims and which it refuses, and what a refusal
  * says about the holder.
  */
class StoreLockSpec extends SparkSpecBase {
  import StoreLockSpec._

  /** Take the lock with `token` and `graceMs`: the record it held, or the
    * refusal.
    */
  private def attempt(lock: JPath, token: String,
                      graceMs: Long): Either[StoreLock.Refusal, String] =
    try Right(StoreLock.withLock(spark, lock.toString, token, graceMs)(Refused(_)) {
      new String(Files.readAllBytes(lock), UTF_8)
    })
    catch { case Refused(r) => Left(r) }

  private val min = 60 * 1000L
  private val pastTear = StoreLock.TornGraceMs + 5000L

  private val rows = Seq(
    Row("a fresh foreign complete record is refused",
      "other\nn\n", 0L, "me", 0L, reclaims = false, holder = Some("other")),
    Row("same token, grace 0: reclaimed at once",
      "me\nn\n", 0L, "me", 0L, reclaims = true),
    Row("same token, grace 3 min: refused while fresh",
      "me\nn\n", 0L, "me", 3 * min, reclaims = false, holder = Some("me")),
    Row("same token, grace 3 min: reclaimed once 4 min quiet",
      "me\nn\n", 4 * min, "me", 3 * min, reclaims = true),
    Row("an empty token never matches: a tokenless holder is refused to a tokenless caller",
      "\nn\n", 0L, "", 0L, reclaims = false, holder = Some("")),
    Row("provably torn and fresh: refused, even to its own token",
      "me\npartial-non", 0L, "me", 0L, reclaims = false),
    Row("provably torn and 35 s old: reclaimed by a tokenless caller",
      "me\npartial-non", pastTear, "", 0L, reclaims = true),
    Row("empty (torn) and 35 s old: reclaimed",
      "", pastTear, "", 0L, reclaims = true),
    Row("a legacy bare token is refused with the legacy flag, even aged",
      "me", pastTear, "", 0L, reclaims = false, holder = Some("me"), legacy = true),
    Row("a legacy bare token is reclaimed by its owner",
      "me", pastTear, "me", 0L, reclaims = true),
    Row("an unparseable complete record is refused until stale",
      "batch n token=1\n", 30 * min, "1", 0L, reclaims = false),
    Row("an unparseable complete record is reclaimed once stale",
      "batch n token=1\n", Stale, "", 0L, reclaims = true),
    Row("a stale foreign record (mtime 12345) is reclaimed",
      "other\nn\n", Stale, "", 0L, reclaims = true))

  test("reclaim rules: one row per rule") {
    val dir = Files.createTempDirectory("storelock_")
    for (row <- rows) withClue(s"${row.rule}: ") {
      val lock = dir.resolve(".lock")
      Files.write(lock, row.record.getBytes(UTF_8))
      Files.setLastModifiedTime(lock, FileTime.fromMillis(
        if (row.ageMs == Stale) 12345L else System.currentTimeMillis() - row.ageMs))
      attempt(lock, row.token, row.graceMs) match {
        case Right(held) =>
          assert(row.reclaims, "reclaimed")
          assert(held.startsWith(s"${row.token}\n") && held.count(_ == '\n') == 2, held)
          assert(!Files.exists(lock), "released")
        case Left(r) =>
          assert(!row.reclaims, "refused")
          assert(r.holder == row.holder && r.legacy == row.legacy, r)
          assert(r.ageMs.exists(a => a >= row.ageMs && a < row.ageMs + min), r)
          assert(new String(Files.readAllBytes(lock), UTF_8) == row.record, "left in place")
          Files.delete(lock)
      }
    }
  }

  test("release leaves a record that is no longer this holder's, and stops the heartbeat") {
    val lock = Files.createTempDirectory("storelock_").resolve(".lock")
    StoreLock.withLock(spark, lock.toString, "me", 0L)(Refused(_)) {
      // a retry that reclaimed the lock while this holder stalled
      Files.write(lock, "me\nforeign-nonce\n".getBytes(UTF_8))
    }
    assert(new String(Files.readAllBytes(lock), UTF_8) == "me\nforeign-nonce\n")
    assert(!Thread.getAllStackTraces.keySet.asScala.exists(t =>
      t.isAlive && t.getName == "store-lock-heartbeat-.lock"))
  }

  test("acquire and release start no process from Hadoop code") {
    // a lock in a directory that does not exist yet: create makes it
    val lock = Files.createTempDirectory("storelock_").resolve("store/.lock").toString
    spark // the session starts outside the recording
    // Hadoop's Shell forks to probe bash and setsid once, when it loads
    Class.forName("org.apache.hadoop.util.Shell")
    val recording = new Recording()
    recording.enable("jdk.ProcessStart").withStackTrace()
    recording.start()
    try StoreLock.withLock(spark, lock, "me", 0L)(Refused(_))(())
    finally recording.stop()
    val jfr = Files.createTempFile("storelock_forks", ".jfr")
    recording.dump(jfr)
    recording.close()
    val starts = RecordingFile.readAllEvents(jfr).asScala.toList
    Files.delete(jfr)
    val fromHadoop = starts.filter(e => Option(e.getStackTrace).exists(
      _.getFrames.asScala.exists(_.getMethod.getType.getName.startsWith("org.apache.hadoop."))))
    assert(fromHadoop.isEmpty, fromHadoop.map(e => e.getString("command")).mkString("\n"))
  }
}

object StoreLockSpec {
  final case class Refused(r: StoreLock.Refusal) extends Exception

  val Stale = -1L // the row's lock gets mtime 12345

  /** An existing lock `record`, `ageMs` quiet, met by an acquirer with
    * `token` and a retry grace of `graceMs`.
    */
  final case class Row(rule: String, record: String, ageMs: Long,
                       token: String, graceMs: Long, reclaims: Boolean,
                       holder: Option[String] = None, legacy: Boolean = false)
}
