package graft.sinks

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** Data-lifecycle retention — the reference ages out forecast inputs
  * with a cron'd `find -name "*.nc" -mtime +90 -exec rm`
  * (`flush_older_netcdfs.sh`) and empties old logs (`flush_logs.sh`).
  * Same contract over any Hadoop filesystem (local, HDFS, object
  * stores): recursively list, keep files matching `suffix`, delete
  * those whose modification time is older than the cutoff.
  *
  * Scale posture: this is a metadata-only sweep — O(#files) list +
  * delete RPCs, zero data movement — so it runs on the driver like
  * the cron job it replaces. The report (not just a log line) is what
  * an orchestrator needs to alert on runaway growth.
  */
object Retention {

  final case class FlushReport(examined: Long, deleted: Seq[String],
                               freedBytes: Long, dryRun: Boolean,
                               failed: Seq[String] = Nil)

  /** Delete files under `dir` ending in `suffix` whose mtime is older
    * than `maxAgeMs` before `now`. `dryRun = true` reports what WOULD
    * be deleted without touching anything. */
  def flushOlderThan(dir: String, suffix: String, maxAgeMs: Long,
                     conf: Configuration = new Configuration(),
                     now: () => Long = System.currentTimeMillis,
                     dryRun: Boolean = false): FlushReport = {
    // Path.getFileSystem, not URI.new: a directory containing a space
    // (or any URI-illegal char) is a legal filesystem path but throws
    // URISyntaxException before the sweep even starts
    val fs = new Path(dir).getFileSystem(conf)
    val cutoff = now() - maxAgeMs
    var examined = 0L
    var freed = 0L
    val deleted = Seq.newBuilder[String]
    val failed = Seq.newBuilder[String]
    val it = fs.listFiles(new Path(dir), true)
    while (it.hasNext) {
      val f = it.next()
      if (f.isFile && f.getPath.getName.endsWith(suffix)) {
        examined += 1
        if (f.getModificationTime < cutoff) {
          // Hadoop FS returns false (no throw) on e.g. permission
          // denial — only count bytes that actually went away, or the
          // runaway-growth alert this report feeds never fires
          if (dryRun || fs.delete(f.getPath, false)) {
            deleted += f.getPath.toUri.getPath
            freed += f.getLen
          } else failed += f.getPath.toUri.getPath
        }
      }
    }
    FlushReport(examined, deleted.result().sorted, freed, dryRun,
      failed.result().sorted)
  }
}
