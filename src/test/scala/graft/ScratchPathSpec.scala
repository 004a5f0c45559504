package graft

import org.scalatest.funsuite.AnyFunSuite

/** Regression spec for the r17/r18 cross-JVM path races: every
  * per-run side file a query writes must live under a PID-SCOPED
  * root, never a flat name-keyed /tmp path two concurrent graft JVMs
  * (a Verify beside a Bench, overlapping harness runs) would share.
  * The checkpoint root learned this in commit 88e913e ("Race while
  * writing batch 0"); the st_asof_serve warm write escaped that sweep
  * with the identical hazard — this lint keeps the class closed.
  */
class ScratchPathSpec extends AnyFunSuite {

  test("StreamOps.scratchPath is pid-scoped") {
    val live = java.lang.ProcessHandle.current().pid()
    val p = graft.streaming.StreamOps.scratchPath("lint-probe")
    assert(p.contains(s"pid-$live"),
      s"scratch path $p does not carry this JVM's pid segment")
  }

  test("PidScratch.claim reclaims only dead pid- dirs") {
    import java.nio.file.Files
    val base = Files.createTempDirectory("graft-pidscratch-")
    val live = java.lang.ProcessHandle.current().pid()
    // pid_max is at most 2^22 on Linux, so no /proc/999999999 exists
    val dead = "pid-999999999"
    assert(!Files.exists(java.nio.file.Paths.get("/proc", "999999999")))
    val kept = Seq(s"pid-$live", "pid--123", "pid-99999999999999999999",
      "graft-flat", "pid-")
    (dead +: kept).foreach { n =>
      Files.createDirectories(base.resolve(n).resolve("sub"))
    }
    val mine = graft.PidScratch.claim(base)
    assert(mine === base.resolve(s"pid-$live"))
    assert(!Files.exists(base.resolve(dead)), "dead pid dir not reclaimed")
    kept.foreach { n =>
      assert(Files.isDirectory(base.resolve(n).resolve("sub")), s"$n was removed")
    }
    graft.PidScratch.deleteRecursive(base)
  }

  /** Every main source line not commented out with `//`, as (relative
    * path, line number, line). Anchored on user.dir (sbt sets it to the
    * project root); fails loudly if the tree is not where the fork put
    * us rather than silently walking nothing. */
  private def mainSourceLines: Seq[(String, Int, String)] = {
    val root = java.nio.file.Paths.get(
      sys.props("user.dir"), "src/main/scala/graft")
    assert(java.nio.file.Files.isDirectory(root),
      s"lint source root not found at $root — test JVM cwd moved?")
    val out = scala.collection.mutable.ArrayBuffer[(String, Int, String)]()
    val walk = java.nio.file.Files.walk(root)
    try walk.forEach { p =>
      val rel = root.relativize(p).toString
      if (rel.endsWith(".scala")) {
        val src = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        src.linesIterator.zipWithIndex.foreach { case (line, i) =>
          if (!line.trim.startsWith("//")) out += ((rel, i + 1, line))
        }
      }
    } finally walk.close()
    out.toSeq
  }

  test("no main source writes a flat name-keyed /tmp/graft path") {
    // The only legitimate flat /tmp/graft paths are the two
    // deliberately CROSS-JVM staged-input caches in StreamOps (guarded
    // by atomic temp-sibling rename + _SUCCESS) and the warehouse dir
    // (catalog metadata only — managed-table DDL is never run
    // concurrently by the harness).
    val allowed = Set(
      "streaming/StreamOps.scala", // /tmp/graft-stream staged caches
      "GraftSession.scala"         // spark.sql.warehouse.dir
    )
    val offenders = mainSourceLines.collect {
      case (rel, n, line) if !allowed.contains(rel) && line.contains("\"/tmp/graft") =>
        s"$rel:$n"
    }
    assert(offenders.isEmpty,
      s"flat /tmp/graft paths outside the allowed staged caches: " +
        offenders.mkString(", "))
  }

  test("one replay lifecycle: .writeStream occurs once in main code") {
    // every finite replay goes through StreamOps.replay; a second
    // writeStream is a runner growing its own lifecycle copy again
    val uses = mainSourceLines.collect {
      case (rel, n, line) if line.contains(".writeStream") &&
          !line.trim.startsWith("*") => s"$rel:$n"
    }
    assert(uses.size === 1 && uses.head.startsWith("streaming/StreamOps.scala:"),
      s"expected one .writeStream, in StreamOps.replay; found: ${uses.mkString(", ")}")
  }
}
