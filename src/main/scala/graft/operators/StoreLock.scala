package graft.operators

import java.io.IOException
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.hadoop.fs.{ChecksumFileSystem, FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The fail-loud single-writer lock of the stores whose second concurrent
  * writer would lose data ([[SeenFilterStore.appendBatch]],
  * [[graft.multimodal.IncrementalPairs]]' batches and maintenance): one
  * create-exclusive file that a holder keeps for its whole critical section.
  *
  * RECORD: `token\nnonce\n`, written and closed in one
  * `fs.create(lock, overwrite = false)`. The token names the caller (a
  * foreachBatch batch id; empty for a tokenless writer), the nonce this
  * acquisition. The final newline is what proves a write complete:
  *
  *  - complete: ends in `\n`. With exactly two lines its token is the first;
  *    any other complete record (an older release's format) is a live
  *    foreign holder that only the stale rule reclaims;
  *  - PROVABLY torn: empty, or newline-bearing but unterminated — the holder
  *    died between create() and close();
  *  - legacy: non-empty with no newline. A pre-versioning release wrote its
  *    complete records as a bare token, so such a lock may be live; it is
  *    never torn-reclaimed, and its token counts as the holder's.
  *
  * LIVENESS is the lock's modification time: a daemon thread bumps it every
  * [[HeartbeatMs]] while the lock is held, so a holder whose single Spark
  * stage runs for hours still looks live (needs a file system that honours
  * `setTimes`: HDFS and POSIX, the stores' supported homes).
  *
  * RECLAIM, by an acquirer whose create failed:
  *
  *  - stale: mtime older than [[StaleMs]], by anyone;
  *  - torn: provably torn and older than [[TornGraceMs]], by anyone;
  *  - same token: a complete record or legacy bare token equal to the
  *    caller's non-empty token, quiet for at least the store's
  *    `retryGraceMs`. A foreachBatch retry of batch N runs only after its
  *    earlier attempt died, so its own leftover lock is crash residue. A
  *    grace above zero also keeps the lock of a ZOMBIE predecessor (GC
  *    stall, partition) that still heartbeats.
  *
  * Every reclaim re-judges from a fresh read just before its delete (a racer
  * acting on reads taken before another reclaimer's delete+create would
  * otherwise delete the fresh winner), then deletes, creates, holds
  * [[ConfirmMs]] and re-reads that the lock still carries its nonce. The
  * delete+create is not atomic; the confirm window means two reclaimers can
  * both proceed only if one stalls longer than it between two adjacent
  * metadata calls, the bounded-stall assumption every lease rests on. A
  * failed stat or read never reclaims.
  *
  * RELEASE deletes the lock only while it still carries this holder's nonce;
  * a holder whose lock was reclaimed after a stall leaves the new holder's.
  *
  * THE LOCK IS ONLY AS ATOMIC AS THE FILE SYSTEM'S CREATE-EXCLUSIVE: HDFS's
  * is atomic. On S3A-style object stores create(overwrite = false) is an
  * existence check followed by a PUT, and Hadoop's raw local file system
  * (3.4) checks `exists` and then opens with truncation, so two writers
  * that race the very first create can both acquire. The lock goes through
  * the raw file system under a checksummed one: its record carries its own
  * integrity proof, and a `.crc` sidecar torn apart from the lock would make
  * a complete record unreadable, which no rule may reclaim.
  *
  * The `createNewFile` try-locks of [[graft.streaming.EventSink]] and
  * [[Dedup]] are a different contract (return false when held; Dedup keeps
  * its lock after a failed swap as a fence only recovery clears) and do not
  * use this.
  */
object StoreLock {

  /** A lock whose mtime is older than this is a crashed holder's. */
  val StaleMs: Long = 60 * 60 * 1000L

  /** How often a holder's daemon bumps the lock's mtime. */
  val HeartbeatMs: Long = 60 * 1000L

  /** How old a provably torn lock must be before anyone reclaims it. The
    * create→close window is one small metadata write, so 30 s is generous.
    */
  val TornGraceMs: Long = 30 * 1000L

  /** How long a reclaimer holds its new lock before the confirming re-read
    * of its nonce. Reclaim is a crash path; only it pays this.
    */
  val ConfirmMs: Long = 2000L

  /** Why an acquire was refused: the holder's token (None when the record
    * is torn, of another format or unreadable), the age of its last
    * heartbeat (None when the lock could not be stat'ed) and whether the
    * record is a legacy bare token.
    */
  final case class Refusal(lock: Path, holder: Option[String],
                           ageMs: Option[Long], legacy: Boolean)

  /** Run `body` holding the lock at `lock`, or throw `refused(...)` without
    * running it. `retryGraceMs` is how long a same-token lock must be quiet
    * before the caller reclaims it.
    */
  def withLock[T](spark: SparkSession, lock: String, token: String,
                  retryGraceMs: Long)(refused: Refusal => Throwable)(body: => T): T = {
    val path = new Path(lock)
    val held = acquire(rawFs(spark, path), path, token, retryGraceMs)
      .fold(r => throw refused(r), identity)
    try body finally held.release()
  }

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** The session's file system for `lock` ([[graft.GraftSession.configure]]
    * makes `file:` fork-free), unwrapped from its checksum layer.
    */
  private def rawFs(spark: SparkSession, lock: Path): FileSystem =
    lock.getFileSystem(spark.sessionState.newHadoopConf()) match {
      case c: ChecksumFileSystem => c.getRawFileSystem
      case fs => fs
    }

  /** One look at a lock: its record, and its age clamped at 0 (an mtime
    * ahead of this clock reads as just touched).
    */
  private final case class Seen(record: String, ageMs: Long) {
    def torn: Boolean = record.isEmpty || (record.contains("\n") && !record.endsWith("\n"))
    def legacy: Boolean = record.nonEmpty && !record.contains("\n")
    def holder: Option[String] =
      if (legacy) Some(record)
      else if (record.endsWith("\n") && record.count(_ == '\n') == 2)
        Some(record.takeWhile(_ != '\n'))
      else None
  }

  private def read(fs: FileSystem, lock: Path): Option[String] =
    try {
      val in = fs.open(lock)
      try Some(new String(in.readAllBytes(), UTF_8)) finally in.close()
    } catch { case _: IOException => None }

  /** Read first, stat second: a lock replaced between the two calls then
    * pairs an old record with a newer mtime, which can only look more alive.
    */
  private def look(fs: FileSystem, lock: Path): Option[Seen] =
    read(fs, lock).flatMap { record =>
      try Some(Seen(record, math.max(0L,
        System.currentTimeMillis() - fs.getFileStatus(lock).getModificationTime)))
      catch { case _: IOException => None }
    }

  private def reclaimable(s: Seen, token: String, retryGraceMs: Long): Boolean =
    s.ageMs > StaleMs || (s.torn && s.ageMs > TornGraceMs) ||
      (token.nonEmpty && s.holder.contains(token) && s.ageMs >= retryGraceMs)

  private def acquire(fs: FileSystem, lock: Path, token: String,
                      retryGraceMs: Long): Either[Refusal, Held] = {
    require(!token.contains("\n"), s"lock token cannot contain newlines: $token")
    val record = s"$token\n${java.util.UUID.randomUUID()}\n"
    def create(): Boolean =
      try {
        val out = fs.create(lock, false)
        try out.write(record.getBytes(UTF_8)) finally out.close()
        true
      } catch { case _: IOException => false }
    def refusal(s: Option[Seen]) =
      Left(Refusal(lock, s.flatMap(_.holder), s.map(_.ageMs), s.exists(_.legacy)))
    if (create()) return Right(new Held(fs, lock, record))
    val seen = look(fs, lock)
    // the holder released between our create and the look: one more create
    if (seen.isEmpty && create()) return Right(new Held(fs, lock, record))
    if (!seen.exists(reclaimable(_, token, retryGraceMs)) ||
        !look(fs, lock).exists(reclaimable(_, token, retryGraceMs)))
      return refusal(seen)
    log.warn(s"reclaiming store lock $lock (record " +
      s"'${seen.get.record.trim.replace('\n', ' ')}', heartbeat age ${seen.get.ageMs} ms)")
    fs.delete(lock, false)
    if (create()) {
      Thread.sleep(ConfirmMs)
      if (read(fs, lock).contains(record)) return Right(new Held(fs, lock, record))
    }
    refusal(look(fs, lock)) // another reclaimer won
  }

  /** A held lock: heartbeats until [[release]]. */
  private final class Held(fs: FileSystem, lock: Path, record: String) {
    private val stop = new CountDownLatch(1)
    private val beat = new Thread(() => {
      while (!stop.await(HeartbeatMs, TimeUnit.MILLISECONDS))
        try fs.setTimes(lock, System.currentTimeMillis(), -1)
        catch { case _: IOException => () } // the next beat retries
    }, s"store-lock-heartbeat-${lock.getName}")
    beat.setDaemon(true)
    beat.start()

    def release(): Unit = {
      stop.countDown()
      // bounded: a beat hung in the file system must not hold up the
      // release, and a late one only freshens a successor's lock
      beat.join(ConfirmMs)
      if (read(fs, lock).contains(record)) fs.delete(lock, false)
      else log.warn(s"store lock $lock no longer carries this holder's nonce on " +
        "release (reclaimed after a stall?); leaving it to its current holder")
    }
  }
}
