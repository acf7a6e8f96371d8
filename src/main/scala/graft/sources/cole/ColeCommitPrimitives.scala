package graft.sources.cole

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, FileSystem, Path => HPath}

/** The ONE storage primitive the COLE commit protocol depends on, as a
  * swappable seam: an object-store backend is a configuration, not a
  * rewrite of [[ColeVersions]].
  *
  * == Commit-protocol contract (per backend) ==
  *
  * The version log's concurrency control is a CAS on the next record
  * sequence number, implemented as `exclusiveCreate(v<seq>)`: of two
  * committers racing on the same number, exactly one create succeeds and
  * the loser observes [[org.apache.hadoop.fs.FileAlreadyExistsException]]
  * and retries with the next number. Everything else in the protocol is
  * either idempotent (retire renames target unique stamped paths; record
  * bodies are immutable once the terminal `end` line is written) or
  * recoverable (a partial record below the tail is quarantined by
  * [[ColeVersions.repairTorn]]).
  *
  *  - '''HDFS / ABFS / GCS''': `create(overwrite = false)` is atomic at
  *    the namenode/service — the default primitives are correct as-is.
  *  - '''Local FS''': `create(overwrite = false)` is check-then-act, so
  *    same-JVM committers additionally serialize on
  *    [[ColeVersions]]'s per-table lock (built in); cross-PROCESS
  *    local-FS committers are outside the default contract.
  *  - '''S3 and other non-atomic-create stores''': plug a coordinator
  *    here — conditional PUT (If-None-Match), a DynamoDB-style lock, or
  *    a catalog service — via `graft.cole.commit.primitives=<class>`.
  *    The implementation must guarantee: at most one success per path,
  *    losers raise `FileAlreadyExistsException`.
  *
  * Retire renames need only non-overwriting rename to a unique
  * destination (no atomicity across files); object stores that copy+
  * delete satisfy it because destinations are never contended.
  */
trait ColeCommitPrimitives {
  /** Atomically create `path` for writing iff it does not exist.
    * MUST throw [[org.apache.hadoop.fs.FileAlreadyExistsException]]
    * when the path already exists (the CAS-loser signal).
    */
  def exclusiveCreate(fs: FileSystem, path: HPath): FSDataOutputStream

  /** True when `path` only becomes visible at a successful `close()`
    * (object-store PUT semantics); false when `exclusiveCreate` itself
    * makes it visible (direct namenode create). Callers that clean up
    * their own orphan after a failed write need to know whose file the
    * destination is — see ColeClaims.tryCreate.
    */
  def publishAtClose: Boolean = false
}

/** Default primitives: the filesystem's own `create(overwrite=false)`. */
final class FsCommitPrimitives extends ColeCommitPrimitives {
  override def exclusiveCreate(fs: FileSystem, path: HPath): FSDataOutputStream =
    fs.create(path, false)
}

/** Reference object-store coordinator: CONDITIONAL-PUT semantics (S3
  * `PUT If-None-Match: *`, GCS `x-goog-if-generation-match: 0`) realized
  * over any Hadoop filesystem.
  *
  * An object store has no streaming create-if-absent: the object appears
  * WHOLE at PUT completion, and the precondition is evaluated THEN. This
  * coordinator reproduces exactly that shape:
  *
  *   1. `exclusiveCreate` opens a hidden staging object (never visible
  *      to readers — dotted name, filtered by every COLE listing);
  *   2. the caller streams the record body into it;
  *   3. `close()` PUBLISHES atomically-if-absent: a POSIX hard link
  *      (`link(2)` fails `EEXIST` atomically, cross-process — the local
  *      twin of the conditional PUT) where the store supports it, a
  *      non-overwriting rename elsewhere; the loser's staging object is
  *      deleted and [[org.apache.hadoop.fs.FileAlreadyExistsException]]
  *      propagates out of `close()` — inside the window
  *      [[ColeVersions]]' CAS loop already handles.
  *
  * Two properties FALL OUT of publish-at-close, matching real object
  * stores: at most one committer per sequence number succeeds even
  * across PROCESSES on a local filesystem (the default primitives only
  * guarantee same-JVM there), and a crash mid-write leaves NO torn
  * record — the destination either holds the complete body or nothing
  * (the orphaned staging object is dotted, invisible to the log reader
  * and to every COLE listing).
  *
  * Recipe for real S3: subclass and implement `publish` with a
  * conditional PUT of the staged bytes (SDK `ifNoneMatch("*")`), mapping
  * HTTP 412 to `FileAlreadyExistsException`; everything else in the
  * commit protocol (stamped retire renames, immutable record bodies)
  * already tolerates copy+delete rename semantics — see the trait doc.
  * Arm with `graft.cole.commit.primitives=<class>` in the Hadoop conf.
  */
class ConditionalPutCommitPrimitives extends ColeCommitPrimitives {

  override def publishAtClose: Boolean = true

  override def exclusiveCreate(fs: FileSystem, path: HPath): FSDataOutputStream = {
    // fast-fail probe (an existing object can never lose its race); the
    // ATOMICITY comes from publish at close, not from this check
    if (fs.exists(path))
      throw new org.apache.hadoop.fs.FileAlreadyExistsException(path.toString)
    val tmp = new HPath(path.getParent,
      "." + path.getName + ".put-" + java.util.UUID.randomUUID().toString)
    val inner = fs.create(tmp, false)
    val wrapped = new java.io.FilterOutputStream(inner) {
      private var closed = false
      // FilterOutputStream.write(b[],off,len) degrades to per-byte
      // writes; delegate for real throughput
      override def write(b: Array[Byte], off: Int, len: Int): Unit =
        inner.write(b, off, len)
      override def close(): Unit = {
        if (closed) return
        closed = true
        inner.close()
        publish(fs, tmp, path)
      }
    }
    new FSDataOutputStream(wrapped, null)
  }

  /** Make the staged object visible at `dst` iff `dst` does not exist;
    * throw [[org.apache.hadoop.fs.FileAlreadyExistsException]] (staging
    * deleted) when it does. Local filesystems get the POSIX hard link —
    * `link(2)` is atomic create-if-absent across processes; other
    * stores fall back to non-overwriting rename.
    */
  protected def publish(fs: FileSystem, tmp: HPath, dst: HPath): Unit = {
    val local = fs.getUri.getScheme == "file"
    val lost =
      if (local) {
        val tmpFile = java.nio.file.Paths.get(tmp.toUri.getPath)
        val dstFile = java.nio.file.Paths.get(dst.toUri.getPath)
        try { java.nio.file.Files.createLink(dstFile, tmpFile); false }
        catch { case _: java.nio.file.FileAlreadyExistsException => true }
      } else !fs.rename(tmp, dst)
    if (local || lost) fs.delete(tmp, false)
    if (lost)
      throw new org.apache.hadoop.fs.FileAlreadyExistsException(dst.toString)
  }
}

object ColeCommitPrimitives {
  val ConfKey = "graft.cole.commit.primitives"

  @volatile private var cached: (String, ColeCommitPrimitives) =
    ("", new FsCommitPrimitives)

  /** Primitives for `conf` — the configured class, or the FS default. */
  def of(conf: Configuration): ColeCommitPrimitives = {
    val cls = conf.get(ConfKey, "")
    val c = cached
    if (c._1 == cls) c._2
    else {
      val built =
        if (cls.isEmpty) new FsCommitPrimitives
        else Class.forName(cls).getDeclaredConstructor()
          .newInstance().asInstanceOf[ColeCommitPrimitives]
      cached = (cls, built)
      built
    }
  }

  /** Primitives when only a FileSystem is at hand (its conf applies). */
  def of(fs: FileSystem): ColeCommitPrimitives = of(fs.getConf)
}
