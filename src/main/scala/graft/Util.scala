package graft

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, Options, Path}
import org.apache.spark.sql.SparkSession

/** Small shared utilities. */
object Util {
  /** `s` as a quoted JSON string literal: escapes quote, backslash and
    * every control character below 0x20 (a raw tab or newline makes
    * strict parsers reject the document). */
  def jsonString(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** Recursive delete of a LOCAL temp dir (shared by Verify's
    * stale-output cleanup, the bucketed-table location reset, and the
    * replay queries' `Files.createTempDirectory` scratch dirs — all
    * paths this process itself created on the local disk; for
    * user-supplied state dirs use [[Fs.deleteRecursive]]). */
  def rmrf(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rmrf))
    f.delete(): Unit
  }

  /** Hadoop-FileSystem operations for USER-SUPPLIED state and corpus
    * dirs (incremental index/state dirs, the τ-memo snapshot
    * fingerprint). Spark resolves those same paths through the
    * session's Hadoop configuration, so the state machinery must too:
    * a `java.io.File` walk of an `hdfs://`/`s3://` URI silently sees
    * nothing — an empty fingerprint, a "missing" meta file — which
    * would quietly re-enable exactly the stale-state reuse this
    * metadata exists to prevent. With the default configuration
    * (`fs.defaultFS = file:///`) plain local paths behave exactly as
    * before; on a cluster the same code follows the parquet data to
    * the DFS. */
  object Fs {
    private def fs(s: SparkSession, p: Path): FileSystem =
      p.getFileSystem(s.sparkContext.hadoopConfiguration)

    def exists(s: SparkSession, path: String): Boolean = {
      val p = new Path(path)
      fs(s, p).exists(p)
    }

    def mkdirs(s: SparkSession, path: String): Unit = {
      val p = new Path(path)
      fs(s, p).mkdirs(p): Unit
    }

    def deleteRecursive(s: SparkSession, path: String): Unit = {
      val p = new Path(path)
      val f = fs(s, p)
      if (f.exists(p)) f.delete(p, true): Unit
    }

    /** Top-level child names of `dir` (empty if it doesn't exist). */
    def listNames(s: SparkSession, dir: String): Seq[String] = {
      val p = new Path(dir)
      val f = fs(s, p)
      if (!f.exists(p)) Seq.empty
      else f.listStatus(p).toSeq.map(_.getPath.getName)
    }

    def readUtf8(s: SparkSession, path: String): String = {
      val p = new Path(path)
      val in = fs(s, p).open(p)
      try {
        val out = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](8192)
        var n = in.read(buf)
        while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
        new String(out.toByteArray, StandardCharsets.UTF_8)
      } finally in.close()
    }

    /** Write-then-rename with overwrite — atomic on the local FS and
      * HDFS ([[FileContext.rename]] with `Options.Rename.OVERWRITE` is
      * the Hadoop API that guarantees it; `FileSystem.rename` would
      * refuse an existing destination). NOT atomic on object stores
      * (`s3a://` renames are copy+delete), so a concurrent reader there
      * can observe a missing/partial file — state dirs on object
      * stores additionally need an external writer lock or an
      * HDFS/consistent-rename tier for their metadata. The temp name
      * carries a random suffix so two writers racing past the RunGuard
      * process lock (e.g. two hosts sharing a DFS state dir) can never
      * interleave writes into ONE temp file; last rename still wins.
      *
      * Orphan hygiene: the random suffix means a crash between create
      * and rename would leak a uniquely-named temp forever — and such
      * orphans would perturb [[fingerprint]] of any directory written
      * this way. Two defenses: stale `<name>.tmp-*` siblings are
      * best-effort swept before each write (they are by construction
      * abandoned — the RunGuard lock serializes local writers, and a
      * remote racer's LIVE temp existing in the sweep window only
      * re-runs that writer's rename-loser path), and this writer's own
      * temp is deleted on a failed write/rename. */
    def writeUtf8Atomic(s: SparkSession, path: String,
        content: String): Unit = {
      val dst = new Path(path)
      val f = fs(s, dst)
      try {
        val stale = f.globStatus(
          new Path(dst.getParent, dst.getName + ".tmp-*"))
        if (stale != null)
          stale.foreach(st => f.delete(st.getPath, false))
      } catch { case _: Throwable => () } // hygiene only, never fatal
      val tmp = new Path(dst.getParent, dst.getName + ".tmp-" +
        java.util.UUID.randomUUID().toString.take(8))
      var renamed = false
      try {
        val out = f.create(tmp, true)
        try out.write(content.getBytes(StandardCharsets.UTF_8))
        finally out.close()
        val fc = FileContext.getFileContext(f.getUri,
          s.sparkContext.hadoopConfiguration)
        fc.rename(tmp, dst, Options.Rename.OVERWRITE)
        renamed = true
      } finally if (!renamed) {
        try f.delete(tmp, false) catch { case _: Throwable => () }
      }
    }

    /** Move `src` (a file or dir) under `dstDir`, keeping its name. */
    def moveInto(s: SparkSession, src: String, dstDir: String): Unit = {
      val sp = new Path(src)
      val f = fs(s, sp)
      val dp = new Path(dstDir)
      f.mkdirs(dp)
      if (!f.rename(sp, new Path(dp, sp.getName)))
        sys.error(s"rename $src -> $dstDir/${sp.getName} failed")
    }

    /** Driver-side metadata fingerprint of everything under `dir`:
      * root-relative path:length:mtime of every file, recursively,
      * name-ordered, MD5-digested. Listing is metadata-only — no data
      * read. The entry key is the path RELATIVE to `dir` (not the
      * basename: a same-name/len/mtime file moved between subdirs must
      * change the print) and the digest is the full 128-bit MD5 of the
      * joined string (a 32-bit `String.hashCode` collides at ~2^16
      * snapshots — a silent collision would re-enable exactly the
      * stale-τ reuse this fingerprint exists to prevent). */
    def fingerprint(s: SparkSession, dir: String): String = {
      val root = new Path(dir)
      val f = fs(s, root)
      def walk(st: FileStatus): Seq[FileStatus] =
        if (st.isDirectory)
          f.listStatus(st.getPath).toSeq.sortBy(_.getPath.getName)
            .flatMap(walk)
        else Seq(st)
      val files =
        if (!f.exists(root)) Seq.empty else walk(f.getFileStatus(root))
      val rootUri = f.makeQualified(root).toUri.getPath
      def rel(p: Path): String = {
        val full = p.toUri.getPath
        if (full.startsWith(rootUri)) full.drop(rootUri.length).dropWhile(_ == '/')
        else full
      }
      val joined = files.map(st => s"${rel(st.getPath)}:${st.getLen}:" +
          s"${st.getModificationTime}")
        .mkString("|")
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(joined.getBytes(StandardCharsets.UTF_8))
      md5.map("%02x".format(_)).mkString
    }
  }
}
