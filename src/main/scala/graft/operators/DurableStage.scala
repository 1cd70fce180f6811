package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Run-durable parquet staging for expensive derived frames — the
  * "materialize the sketch table NEXT TO the corpus" discipline a
  * 100 TB pipeline applies, made concrete: the first consumer builds
  * and WRITES the frame; every later consumer — in this session,
  * another session, or another JVM — READS columnar bytes. The
  * round-14/13/12 q186 lesson: an in-memory staged frame alone
  * bounds the COMMON case, but its worst case under
  * cache eviction or family reorder re-pays the full staging chain
  * (~10-20 s of MinHash+banding+verify for the pair frame); a durable
  * parquet stage bounds the worst case at one columnar read.
  *
  * Placement: `<dir>/graft-stage`, `<dir>` being
  * `[spark.]graft.checkpoint.dir` when set (HDFS/S3 on a real cluster —
  * the durable root the iterative barriers checkpoint under, which
  * [[clearAll]] must leave alone), else the local tmpdir.
  *
  * Staleness safety: the stage path embeds (a) a builder-bumped
  * VERSION — bump it whenever the build logic changes — and (b) an
  * md5 over the input files' (name, length, mtime) listing plus any
  * logic constants the caller bakes into `salt`, so a changed corpus
  * or config can never read a stale stage; it simply lands on a new
  * path. Writes go to a tmp path then rename — two racing writers
  * converge on one winner and the loser reads it. The persisted read
  * is memoized in [[SessionCache]] on get's own arguments, so a repeat
  * consumer lists no files; deleting a stage drops its memo. */
object DurableStage {

  private val locks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private def baseDir(s: SparkSession): String =
    graft.Barrier.checkpointDir(s)
      .getOrElse(sys.props("java.io.tmpdir")).stripSuffix("/") +
      "/graft-stage"

  /** md5 over the recursive (path, length, mtime) listing of each
    * input plus the caller's salt — the cheap content proxy that makes
    * cross-JVM reuse safe (TESTDATA parquet is immutable per round;
    * any regeneration moves mtime). */
  private def signature(s: SparkSession, inputs: Seq[String],
      salt: String): String = {
    val sb = new StringBuilder(salt)
    val hconf = s.sparkContext.hadoopConfiguration
    inputs.sorted.foreach { in =>
      val p = new Path(in)
      val fs = p.getFileSystem(hconf)
      if (fs.exists(p)) {
        val it = fs.listFiles(p, true)
        val entries = Seq.newBuilder[String]
        while (it.hasNext) {
          val f = it.next()
          entries += s"${f.getPath}:${f.getLen}:${f.getModificationTime}"
        }
        entries.result().sorted.foreach(e => sb.append('|').append(e))
      } else sb.append("|absent:").append(in)
    }
    java.security.MessageDigest.getInstance("MD5")
      .digest(sb.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(16)
  }

  /** Delete every stage under the root. The bench's honesty hook
    * (round-16 verdict #2): a durable stage that survives across
    * bench passes/JVMs makes the min-of-2 protocol report a columnar
    * read of cross-run precomputation as the query's cost and charges
    * the build to NO reported number. Bench clears the root at startup
    * and at every family boundary (next to SessionCache.releaseAll),
    * so the first consumer's reported min is
    * build-inclusive and the warm column carries the amortized read. */
  def clearAll(s: SparkSession): Unit = {
    val base = baseDir(s)
    val root = new Path(base)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(root)) fs.delete(root, true)
    SessionCache.dropPaths(_.startsWith(base + "/"))
  }

  /** Hygiene sweep (round-16 verdict #5): `/graft-stage` otherwise
    * grows without bound — every corpus mtime/salt/version bump lands
    * a stage on a NEW path and nothing ever removes the old one. The
    * rule: a stage name has exactly one live (version, signature);
    * when a consumer resolves `name` to the current dir, any sibling
    * `name_v*` dir with a different version or signature is stale by
    * definition and is deleted. A live other-corpus stage of the same
    * name rebuilds on next use — correctness never depends on a stage
    * existing, only cost. */
  private def sweepStale(fs: org.apache.hadoop.fs.FileSystem,
      root: Path, name: String, keep: String): Unit =
    if (fs.exists(root))
      fs.listStatus(root)
        .filter { st =>
          val n = st.getPath.getName
          n.startsWith(name + "_v") && n != keep &&
            // never race a half-written tmp of OUR OWN dir; foreign
            // tmp leftovers are swept by get()'s own tmp discipline
            !n.startsWith(keep + ".tmp-")
        }
        .foreach(st => try fs.delete(st.getPath, true)
          catch { case _: Throwable => () })

  /** The persisted read of the staged frame at (name, version, inputs,
    * salt), building and writing it first if this is the first
    * consumer anywhere. */
  def get(s: SparkSession, name: String, version: Int,
      inputs: Seq[String], salt: String = "")(build: => DataFrame)
      : DataFrame =
    SessionCache.memo(s, name, s"v$version;$salt;${inputs.mkString(",")}") {
      val sig = signature(s, inputs, salt)
      val keep = s"${name}_v${version}_$sig"
      val base = baseDir(s)
      val dir = s"$base/$keep"
      val lock = locks.computeIfAbsent(dir, _ => new Object)
      lock.synchronized {
        val p = new Path(dir)
        val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        sweepStale(fs, new Path(base), name, keep)
        SessionCache.dropPaths(d => d.startsWith(s"$base/${name}_v") && d != dir)
        def complete = fs.exists(new Path(p, "_SUCCESS"))
        if (!complete) {
          // A dir without _SUCCESS is a crash leftover; clear it, because
          // Hadoop rename(src, existing-dst-dir) does NOT fail — it moves
          // src INTO dst as a child, nesting garbage under the stage.
          if (fs.exists(p)) fs.delete(p, true)
          val tmp = new Path(dir + ".tmp-" +
            java.util.UUID.randomUUID().toString.take(8))
          build.write.mode("overwrite").parquet(tmp.toString)
          // Re-check immediately before rename: a racing JVM may have
          // completed the stage while we built — renaming now would nest
          // our tmp inside the winner. Drop ours and read the winner.
          if (complete) fs.delete(tmp, true)
          else {
            if (fs.exists(p)) fs.delete(p, true)
            if (!fs.rename(tmp, p)) fs.delete(tmp, true)
            require(complete,
              s"DurableStage: failed to materialize stage $dir")
          }
        }
        // Defensive sweep: a cross-JVM loser that renamed in the hairline
        // window between our check and rename sits nested as a
        // '<stage>.tmp-*' child — remove any such non-data subdirectory
        // so the parquet read never mis-lists files.
        fs.listStatus(p).filter(_.getPath.getName.contains(".tmp-"))
          .foreach(st => fs.delete(st.getPath, true))
      }
      (s.read.parquet(dir).persist(StorageLevel.MEMORY_AND_DISK), Some(dir))
    }
}
