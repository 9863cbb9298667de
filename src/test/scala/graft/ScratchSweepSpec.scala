package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** A gate killed mid-run leaves its pid-keyed scratch dir (versioned
  * state parquet, checkpoints) orphaned — the next run's fresh scratch only
  * clears the NEW pid's dir. scratchPath must sweep dead-pid siblings at
  * call time so a re-run never reads (or pays disk for) stale state,
  * while dirs owned by LIVE processes survive the sweep. */
class ScratchSweepSpec extends AnyFunSuite {

  private val tmpRoot = sys.props("java.io.tmpdir")

  test("scratchPath deletes same-tag orphans owned by dead pids") {
    val tag = s"sweepspec${System.nanoTime()}"
    val dir = "/no/such/sfdir"
    val stem = s"graft_${tag}_${Integer.toHexString(dir.hashCode)}_p"
    // a pid that cannot be alive: ProcessHandle.of rejects out-of-range
    // ids on this kernel's pid_max, and 4194304+1 is above the default
    val orphan = Paths.get(tmpRoot, s"${stem}99999999")
    Files.createDirectories(orphan.resolve("sess_v3"))
    Files.write(orphan.resolve("sess_v3/part-0.parquet"), Array[Byte](1, 2))
    val mine = Paths.get(queries.scratchPath(tag, dir))
    assert(!Files.exists(orphan),
      s"dead-pid orphan $orphan survived the scratchPath sweep")
    assert(mine.getFileName.toString ==
      s"$stem${ProcessHandle.current().pid()}")
  }

  test("scratchPath keeps dirs owned by live pids (including our own)") {
    val tag = s"sweepspec${System.nanoTime()}"
    val dir = "/no/such/sfdir"
    val stem = s"graft_${tag}_${Integer.toHexString(dir.hashCode)}_p"
    val ownPid = ProcessHandle.current().pid()
    val own = Paths.get(tmpRoot, s"$stem$ownPid")
    Files.createDirectories(own)
    Files.write(own.resolve("state.bin"), Array[Byte](7))
    queries.scratchPath(tag, dir)
    assert(Files.exists(own.resolve("state.bin")),
      "sweep deleted a live process's scratch dir")
    // cleanup
    Files.deleteIfExists(own.resolve("state.bin"))
    Files.deleteIfExists(own)
  }

  test("non-pid suffixes are treated as orphans only when unparseable pid is dead-equivalent") {
    val tag = s"sweepspec${System.nanoTime()}"
    val dir = "/no/such/sfdir"
    val stem = s"graft_${tag}_${Integer.toHexString(dir.hashCode)}_p"
    val junk = Paths.get(tmpRoot, s"${stem}notapid")
    Files.createDirectories(junk)
    queries.scratchPath(tag, dir)
    assert(!Files.exists(junk),
      "unparseable-pid scratch dir (no owner can exist) should be swept")
  }
}
