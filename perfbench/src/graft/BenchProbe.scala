package graft

import org.apache.hadoop.fs.{FileSystem, Path}

/** Read-only view of a world's commit log for the benchmark; the log API
  * itself is package-private. */
object BenchProbe {
  /** (live files, live files carrying a deletion vector), or None when the
    * log is not authoritative. */
  def liveFiles(fs: FileSystem, root: Path): Option[(Int, Int)] =
    sources.GraftVersions.liveEntries(fs, root)
      .map(es => (es.size, es.count(_.dv.isDefined)))

  /** Latest sealed version of the log, 0 when none. */
  def latestVersion(fs: FileSystem, root: Path): Long =
    sources.GraftVersions.latestVersion(fs, root).getOrElse(0L)
}
