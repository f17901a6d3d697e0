package graft.tools

import java.lang.management.ManagementFactory
import java.nio.channels.FileChannel
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardOpenOption}

import scala.jdk.CollectionConverters._

/** Cross-process exclusion + quiescence telemetry for the artifact
  * mains (Verify / Bench).
  *
  * Why this exists: round 8's only red correctness rows and its 80 s
  * driver bench were both produced while a zombie background chain
  * (stale binaries from an earlier relaunch) was alive on the same
  * box — it contended all 32 cpus during the bench window and raced
  * the verify output directory (rows/schema matched, hashes flipped;
  * every failure reproduced green in isolation). A gate artifact that
  * can be silently co-written is a gate that can't be trusted, so the
  * mains now:
  *
  *  1. take an exclusive OS file lock (`flock` semantics via
  *     [[FileChannel.tryLock]]) for the whole run — two graft mains
  *     can never interleave writes or contend the box unobserved.
  *     The lock dies with the process, so a killed run never wedges
  *     the next one;
  *  2. report every OTHER live graft JVM (a /proc cmdline scan) at
  *     startup — a nonempty list is the zombie-chain signature;
  *  3. stamp run metadata (pid, start time, JVM max heap + GC
  *     collectors, lock contention, the other-JVM list) into the
  *     artifacts themselves, so a clobbered, contended, or
  *     mis-sized record self-identifies instead of reading as a
  *     code regression.
  *
  * Lock policy: wait (bounded, default 30 min, loud) rather than
  * abort — the driver's run must not fail just because a stale chain
  * is draining; it must not overlap it either. If the wait expires
  * the run proceeds with `contended = true` stamped in its metadata:
  * evidence over silence.
  */
final class RunGuard private (
    val pid: Long,
    val startedAtMs: Long,
    val contended: Boolean,
    val otherGraftJvms: Seq[String],
    channel: FileChannel,
    lock: Option[java.nio.channels.FileLock]) {

  /** One-line JSON fragment (no braces) for embedding in artifact
    * JSON: `"pid":…,"started_at_ms":…,"lock_contended":…,…`. */
  def metaJson: String = {
    val others = otherGraftJvms.map(graft.Util.jsonString)
      .mkString("[", ",", "]")
    // JVM sizing stamp: the r9 driver bench ran the vector-heavy block
    // 3–7× slower than the committed record with tight spreads and no
    // contention — the one un-recorded variable was the launching JVM's
    // heap (a 24 GiB heap reproduces 5× excursions on this box; only
    // the 8 GiB config is stable). Stamping maxMemory + GC makes any
    // externally-launched run's sizing attributable from the artifact.
    val heapMb = Runtime.getRuntime.maxMemory / (1024L * 1024L)
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => "\"" + b.getName.replace("\"", "") + "\"")
      .mkString("[", ",", "]")
    s""""pid":$pid,"started_at_ms":$startedAtMs,""" +
      s""""jvm_max_heap_mb":$heapMb,"gc_collectors":$gcs,""" +
      s""""lock_contended":$contended,"other_graft_jvms":$others"""
  }

  def release(): Unit = {
    lock.foreach(l => try l.release() catch { case _: Throwable => () })
    try channel.close() catch { case _: Throwable => () }
  }
}

object RunGuard {

  val LockPath = "/tmp/graft_exclusive.lock"

  /** Other live JVMs running graft code: /proc scan for java
    * processes whose cmdline names a `graft.` main class. Matching on
    * the main-class token (not the word "graft" anywhere — the
    * harness's own driver process quotes these class names in its
    * prompt text) keeps the report about actual engine JVMs. */
  def otherGraftJvms(selfPid: Long): Seq[String] = try {
    val proc = new java.io.File("/proc")
    Option(proc.listFiles()).toSeq.flatten
      .filter(f => f.getName.forall(_.isDigit) && f.getName.toLong != selfPid)
      .flatMap { d =>
        val cmdline = new java.io.File(d, "cmdline")
        if (!cmdline.exists()) None
        else try {
          val raw = new String(
            Files.readAllBytes(cmdline.toPath), StandardCharsets.UTF_8)
          val argv = raw.split('\u0000').toSeq
          // argv(0) must be a java binary and some later arg must be a
          // graft main class token — not a substring of a larger blob
          // (which would match the driver's quoted prompt text)
          val isJava = argv.headOption.exists(a =>
            a == "java" || a.endsWith("/java"))
          val mainish = argv.exists(a => a.startsWith("graft.") &&
            !a.contains(" ") && a.length < 80)
          if (isJava && mainish)
            Some(s"pid=${d.getName} ${argv.filter(_.startsWith("graft."))
              .mkString(" ")}")
          else None
        } catch { case _: Throwable => None }
      }
  } catch { case _: Throwable => Seq.empty }

  /** Acquire the exclusive run lock (bounded wait, loud) and emit the
    * quiescence report. `tag` names the main for the lock-holder
    * stamp. */
  def acquire(tag: String): RunGuard = {
    val pid = ManagementFactory.getRuntimeMXBean.getPid
    val others = otherGraftJvms(pid)
    if (others.nonEmpty)
      System.err.println(s"[runguard] WARNING: other graft JVMs alive " +
        s"at $tag startup (zombie-chain signature): ${others.mkString("; ")}")
    val path: Path = Paths.get(LockPath)
    val channel = FileChannel.open(path,
      StandardOpenOption.CREATE, StandardOpenOption.WRITE,
      StandardOpenOption.READ)
    val waitSec = sys.env.getOrElse("GRAFT_LOCK_WAIT_SEC", "1800").toLong
    val deadline = System.currentTimeMillis() + waitSec * 1000
    var lock: Option[java.nio.channels.FileLock] = None
    var warned = false
    while (lock.isEmpty && System.currentTimeMillis() < deadline) {
      lock = Option(channel.tryLock())
      if (lock.isEmpty) {
        if (!warned) {
          val holder = try {
            val buf = java.nio.ByteBuffer.allocate(256)
            channel.read(buf, 0)
            new String(buf.array(), 0, buf.position(),
              StandardCharsets.UTF_8).trim
          } catch { case _: Throwable => "<unreadable>" }
          System.err.println(s"[runguard] $tag waiting for $LockPath " +
            s"(held by: $holder; max ${waitSec}s)")
          warned = true
        }
        Thread.sleep(5000)
      }
    }
    val contended = warned
    if (lock.isEmpty)
      System.err.println(s"[runguard] WARNING: $tag proceeding WITHOUT " +
        s"the exclusive lock after ${waitSec}s — artifacts from this " +
        "run may be co-written and must not be trusted as a record")
    else {
      // stamp the holder for the next waiter's diagnostics
      val stamp = s"$tag pid=$pid started=${System.currentTimeMillis()}\n"
      channel.truncate(0)
      channel.write(java.nio.ByteBuffer.wrap(
        stamp.getBytes(StandardCharsets.UTF_8)), 0)
      channel.force(true)
    }
    new RunGuard(pid, System.currentTimeMillis(), contended, others,
      channel, lock)
  }
}
