package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

package object queries {
  /** A judge-facing query: (session, testdata dir) → result. */
  type Q = (SparkSession, String) => DataFrame

  /** Scratch directory for queries that must write before reading.
    * Keyed by (tag, sfDir, pid): the sfDir component keeps concurrent
    * gates on different SFs apart, the pid component keeps concurrent
    * PROCESSES over the same sfDir (e.g. a gate and a bench running in
    * parallel) from deleting or overwriting each other's in-flight files.
    *
    * Every call also SWEEPS orphans first: a killed run (its pid no
    * longer alive) leaves `graft_<tag>_<hash>_p<deadpid>` behind —
    * versioned state parquet, checkpoints — that a fresh scratch dir can
    * never reclaim (it only clears the CURRENT pid's dir). The
    * sweep deletes exactly the same-(tag, sfDir) siblings whose pid is
    * dead, so a re-run after a kill starts from zero stale bytes while
    * live concurrent processes keep their dirs. */
  def scratchPath(tag: String, dir: String): String = {
    val tmpRoot = sys.props("java.io.tmpdir")
    val stem = s"graft_${tag}_${Integer.toHexString(dir.hashCode)}_p"
    sweepDeadScratch(tmpRoot, stem)
    s"$tmpRoot/$stem${ProcessHandle.current().pid()}"
  }

  /** Delete sibling scratch dirs `<stem><pid>` whose owning pid is no
    * longer alive. Failures are swallowed per-path (another sweep may
    * race us to the delete — both end with the dir gone). */
  private[queries] def sweepDeadScratch(tmpRoot: String, stem: String): Unit = {
    import java.nio.file.{Files, Paths}
    val root = Paths.get(tmpRoot)
    if (!Files.isDirectory(root)) return
    val list = Files.list(root)
    try {
      val it = list.iterator()
      while (it.hasNext) {
        val p = it.next()
        val name = p.getFileName.toString
        if (name.startsWith(stem)) {
          val alive = name.substring(stem.length).toLongOption
            .exists(pid => ProcessHandle.of(pid)
              .map[Boolean](_.isAlive).orElse(false))
          if (!alive) {
            // NonFatal, not just IOException: a concurrent sweep deleting
            // entries mid-traversal surfaces as UncheckedIOException (a
            // RuntimeException) from walk's lazy iteration — both racers
            // must end with the dir gone, neither may crash the gate.
            try deleteTree(p)
            catch { case scala.util.control.NonFatal(_) => () }
          }
        }
      }
    } finally list.close()
  }

  /** Delete `p` and everything under it, if present (closing the walk
    * stream — Files.walk holds a directory handle until closed). */
  private[queries] def deleteTree(p: java.nio.file.Path): Unit = {
    import java.nio.file.Files
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.deleteIfExists(f))
      finally walk.close()
    }
  }
}
