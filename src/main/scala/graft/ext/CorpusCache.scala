package graft.ext

import graft.pipeline.Store
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Shared build-once corpus-keyed artifact cache — ONE publish/GC policy
  * for the pair-frame cache ([[Dedup.materializedPairFrame]]) and the
  * q145 indexed-layout cache ([[Rollup.prunedRangeStats]]), which
  * previously carried two near-identical copies of it (and would have
  * forked a third with the next cache).
  *
  * Cluster-true by construction (round 12): every filesystem touch goes
  * through the Hadoop FS API resolved from the cache ROOT's scheme —
  * `spark.graft.cacheRoot` if set, else the local tmpdir for
  * single-machine runs. The publish protocol's atomicity REQUIRES a
  * filesystem with atomic directory rename (HDFS, local FS, or any
  * store that implements `FileSystem.rename` atomically) — on S3A,
  * rename is a non-atomic client-side copy+delete, so a concurrent
  * reader could observe `_READY` before every data object is visible;
  * point `cacheRoot` at HDFS (or an HDFS-compatible store) on clusters,
  * not a raw S3A URI. (The S3-native fix is a magic-committer-style
  * single-object commit marker listing the data objects; out of scope
  * while no S3 store is reachable here.) The previous `java.io.File`
  * staging/rename under `java.io.tmpdir` was correct on local[32] but
  * not the 100-TB shape: executors and a second driver don't share /tmp,
  * and rename-atomicity is a local-FS property. This is the same
  * discipline as [[graft.pipeline.Store.publishAtomic]], adapted to
  * immutable fingerprint-keyed artifacts (no backup needed — a key is
  * write-once; the crash story is "unpublished staging is garbage").
  *
  * Key = prefix + md5(source path) + CODE TOKEN + content fingerprint:
  *  - the content fingerprint (file list + sizes + mtimes,
  *    [[Rollup.dirFingerprint]]) means a REGENERATED table at the same
  *    path can never serve a stale artifact;
  *  - the code token hashes the ALGORITHM parameters the artifact bakes
  *    in (MinHash k / bands, shingle width, SimHash bits, layout
  *    partitioning...), so a code change invalidates every variant
  *    automatically — without it, a machine that built frames under the
  *    old algorithm silently serves them to the new code.
  *
  * Publish protocol: build into a process-unique `__build_` staging dir,
  * write a `_READY` marker inside it, then ONE rename into place. The
  * loser of a cross-process publish race adopts the winner's identical
  * (same key ⇒ same content) artifact. The in-process lock only
  * serializes builders inside one JVM; cross-process safety is the
  * rename-race adoption.
  *
  * GC (age-gated, both arms): superseded published keys of the same
  * (prefix, source path) — a cross-process reader may still be mid-scan
  * on one, so only entries past [[StaleGcGraceMs]] go — and crashed
  * `__build_` staging leaks. Staleness is keyed on the NEWEST mtime
  * found RECURSIVELY under the entry, not the top-level dir's mtime: a
  * legitimately long build keeps writing files (its newest mtime keeps
  * advancing), so it can never be reaped mid-write the way a
  * top-level-mtime gate could reap it — the top dir's mtime does not
  * advance while parquet parts land in a nested data dir. */
object CorpusCache {

  /** Age gate for GC of superseded keys and crashed staging dirs: an
    * hour outlives any single query's scan by orders of magnitude, and
    * an ACTIVE build's newest recursive mtime is always younger. */
  private[graft] val StaleGcGraceMs: Long = 60L * 60L * 1000L

  /** One lock for all in-JVM cache builds: builds are once-per-corpus
    * events, so serializing them costs nothing and keeps concurrent
    * test/bench threads from racing the same staging pid. */
  private val buildLock = new Object

  /** Cache root: `spark.graft.cacheRoot` (any Hadoop-FS URI — a shared
    * HDFS/S3A path on a cluster) or the local tmpdir for local runs. */
  private[graft] def cacheRoot(s: SparkSession): String =
    s.conf.getOption("spark.graft.cacheRoot").getOrElse(
      "file:" + System.getProperty("java.io.tmpdir").stripSuffix("/"))

  private[graft] def md5Hex(x: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def fsFor(s: SparkSession, p: Path): FileSystem =
    p.getFileSystem(s.sparkContext.hadoopConfiguration)

  /** Resolve-or-build the artifact `variant` for (`prefix`, `sourceDir`,
    * `codeToken`, `fingerprint`); returns the published artifact
    * directory. `build` writes the artifact's content under the staging
    * dir it is handed (Spark writers resolve the same Hadoop FS from the
    * path's scheme, so the build lands on the cache root's filesystem). */
  private[graft] def materialize(s: SparkSession, prefix: String,
      sourceDir: String, fingerprint: String, codeToken: String,
      variant: String, build: String => Unit): String = {
    val root = cacheRoot(s)
    val pathKey = md5Hex(sourceDir)
    val base = s"$root/${prefix}_${pathKey}_${codeToken}_$fingerprint"
    val table = s"$base/$variant"
    val fs = fsFor(s, new Path(root))
    val ready = new Path(s"$table/_READY")
    if (!fs.exists(ready)) buildLock.synchronized {
      if (!fs.exists(ready)) {
        // stage uniqueness: pid alone is NOT unique across the
        // hosts/containers a shared cacheRoot serves (two containerized
        // drivers are both pid 1, and the old pre-build delete would
        // wipe the other's half-written staging) — a UUID component
        // makes every build's staging private, and crashed leaks are
        // the age-gated GC's job
        val stage = new Path(s"${base}__build_${variant}_" +
          s"${ProcessHandle.current().pid()}_" +
          java.util.UUID.randomUUID().toString.take(8))
        build(stage.toString)
        Store.writeSmall(fs, new Path(stage, "_READY"), "ready")
        fs.mkdirs(new Path(base))
        // publish-race discipline: Hadoop FileSystem.rename into an
        // EXISTING directory does not fail like java.io.File.renameTo —
        // HDFS moves the source INSIDE it, the local FS copies it in —
        // so a lost race leaves our stage NESTED under the winner's
        // published table rather than a false return. Handle both
        // shapes: a false return drops our stage; a true return
        // followed by a nested-copy probe drops the duplicate. Either
        // way the winner's identical (same key ⇒ same content)
        // artifact is the one served, and the final _READY probe is
        // the invariant.
        if (!fs.rename(stage, new Path(table))) fs.delete(stage, true)
        else {
          val nested = new Path(table, stage.getName)
          if (fs.exists(nested)) fs.delete(nested, true)
        }
        if (!fs.exists(ready))
          sys.error(s"cache publish failed for $table")
        gc(fs, root, prefix, pathKey, new Path(base).getName)
      }
    }
    table
  }

  /** Newest modification time found recursively under `p` (falling back
    * to `p`'s own status for an empty dir) — the GC's staleness key, so
    * an in-flight build that keeps writing nested files keeps itself
    * alive regardless of the top-level dir's mtime. */
  private[graft] def newestMtime(fs: FileSystem, p: Path): Long = {
    var m = fs.getFileStatus(p).getModificationTime
    val it = fs.listFiles(p, true)
    while (it.hasNext) m = math.max(m, it.next().getModificationTime)
    m
  }

  private def gc(fs: FileSystem, root: String, prefix: String,
      pathKey: String, keepName: String): Unit = {
    val cutoff = System.currentTimeMillis() - StaleGcGraceMs
    val entries =
      try fs.listStatus(new Path(root))
      catch { case _: java.io.IOException => Array.empty[org.apache.hadoop.fs.FileStatus] }
    entries.iterator
      .filter { st =>
        val n = st.getPath.getName
        n.startsWith(s"${prefix}_${pathKey}_") && n != keepName
      }
      .foreach { st =>
        // per-entry try: a concurrent process's GC may reap it first
        try {
          if (newestMtime(fs, st.getPath) < cutoff) fs.delete(st.getPath, true)
        } catch { case _: java.io.IOException => () }
      }
  }
}
