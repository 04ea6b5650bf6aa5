package graft.sources

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.rdd.RDD

/** Directory-overwrite writes under a STAGED COMMIT (the
  * FileCommitProtocol shape, sized to one output dir) — shared by the
  * container sinks ([[Avro.write]], [[TfRecord.write]]):
  *
  *  - each task attempt streams into an attempt-unique temp file in a
  *    job-unique staging dir, then renames it to the staged final name
  *    on task success — first committer wins, so a speculative or
  *    zombie sibling attempt can never interleave bytes into a file a
  *    reader will see (a torn container);
  *  - the PREVIOUS dir contents survive until every partition has
  *    committed: only then is the old dir swapped out (rename away,
  *    rename staging in, delete old) — a job failure at any earlier
  *    point leaves the existing data untouched and only the staging
  *    dir to clean (done in the failure path; tasks create their files
  *    non-recursively, so one still running cannot bring it back). A
  *    delete-then-write shape would lose the previous data the moment
  *    a doomed job started.
  *
  * Staging lives beside `dir` (same parent, same filesystem) so the
  * commit renames are metadata moves, never copies. */
private[sources] object StagedCommit {

  /** Write one `part-NNNNN<ext>` per partition of `rows` under `dir`,
    * in one job. The element type is the writer's: external `Row`s
    * (Avro) or the plan's internal rows (TFRecord).
    * `writePartition(idx, rows, os)` must write the partition's
    * container to `os` and CLOSE it (closing exactly once is the
    * writer's contract — container writers own their stream). */
  def write[T](rows: RDD[T], dir: String, ext: String)(
      writePartition: (Int, Iterator[T], java.io.OutputStream) => Unit): Unit = {
    val hadoopConf = rows.sparkContext.hadoopConfiguration
    val hconf = new org.apache.spark.SerializableWritable(
      new org.apache.hadoop.conf.Configuration(hadoopConf))
    val dfs = new HPath(dir).getFileSystem(hadoopConf)
    val target = dfs.makeQualified(new HPath(dir))
    val jobId = java.util.UUID.randomUUID().toString
    val staging = new HPath(target.getParent,
      s".${target.getName}-graft-staging-$jobId")
    val stagingStr = staging.toString
    dfs.mkdirs(staging)
    try {
      rows.mapPartitionsWithIndex { (idx, part) =>
        val fs = new HPath(stagingStr).getFileSystem(hconf.value)
        val attempt = Option(org.apache.spark.TaskContext.get())
          .map(_.taskAttemptId()).getOrElse(0L)
        val tmp = new HPath(stagingStr, f"part-$idx%05d$ext.attempt-$attempt")
        // non-recursive: only the driver makes the staging dir. A task
        // of a failed job runs on until it next reads a record, so it
        // can reach this line after the failure path removed staging;
        // it must then fail here, not recreate the dir as a leftover
        val os = fs.createNonRecursive(tmp, true,
          fs.getConf.getInt("io.file.buffer.size", 4096),
          fs.getDefaultReplication(tmp), fs.getDefaultBlockSize(tmp), null)
        // the writer owns (and closes) the stream on success; on ITS
        // failure the descriptor must still be released before the
        // task reports the error (double-close is harmless)
        try writePartition(idx, part, os)
        finally { try os.close() catch { case _: Exception => () } }
        // task commit: first attempt to rename into the staged final
        // name wins; a losing (speculative/retried) attempt discards
        // its temp — its bytes never reach a reader-visible path
        val committed = new HPath(stagingStr, f"part-$idx%05d$ext")
        // RawLocalFileSystem.rename delegates to POSIX renameTo, which
        // OVERWRITES an existing destination — so "rename fails when
        // committed exists" cannot carry first-committer-wins there.
        // Probe first (small TOCTOU window; with deterministic
        // partition output a same-instant double-commit is content-
        // identical, so the window is benign).
        if (fs.exists(committed)) fs.delete(tmp, false)
        else if (!fs.rename(tmp, committed)) {
          if (!fs.exists(committed))
            throw new java.io.IOException(
              s"StagedCommit: cannot commit $tmp -> $committed")
          fs.delete(tmp, false)
        }
        Iterator.single(1L)
      }.count() // run the job; throws on job failure
      // job commit: drop any orphaned attempt temps (a task retried
      // after its first attempt died mid-write), then swap the staged
      // dir into place — the previous data is renamed aside first and
      // restored if the swap's second half fails
      dfs.listStatus(staging).foreach { st =>
        if (st.getPath.getName.contains(s"$ext.attempt-"))
          dfs.delete(st.getPath, false)
      }
      val old = new HPath(target.getParent, s".${target.getName}-graft-old-$jobId")
      val hadOld = dfs.exists(target)
      if (hadOld && !dfs.rename(target, old))
        throw new java.io.IOException(
          s"StagedCommit: cannot move previous $target aside for commit")
      if (!dfs.rename(staging, target)) {
        if (hadOld) dfs.rename(old, target) // restore the previous data
        throw new java.io.IOException(
          s"StagedCommit: cannot commit staging dir to $target")
      }
      if (hadOld) dfs.delete(old, true)
    } catch {
      case e: Throwable =>
        // the previous dir is intact (or restored); staging is ours
        try dfs.delete(staging, true)
        catch { case _: Exception => () }
        throw e
    }
  }
}
