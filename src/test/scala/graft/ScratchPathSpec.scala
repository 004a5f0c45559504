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
    // by atomic temp-sibling rename + _SUCCESS). The warehouse dir is
    // pid-scoped too: two JVMs sharing it rewrote each other's
    // bucketed tables.
    val allowed = Set(
      "streaming/StreamOps.scala" // /tmp/graft-stream staged caches
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

  test("one pair policy: Dedup.jaccardPairs( occurs once, in DedupQueries.exactPairs") {
    // every exact-Jaccard self-join goes through the one helper that
    // owns the stop-shingle list and the self-join sizing; a second
    // call site is a caller growing its own pair policy again
    val lines = mainSourceLines
    val uses = lines.collect {
      case (rel, n, line) if line.contains("Dedup.jaccardPairs(") &&
          !line.trim.startsWith("*") => (rel, n)
    }
    assert(uses.size === 1, s"expected one Dedup.jaccardPairs( call; found: " +
      uses.map { case (rel, n) => s"$rel:$n" }.mkString(", "))
    val (rel, n) = uses.head
    val enclosing = lines.filter { case (r, m, l) =>
      r == rel && m < n && l.trim.matches("""(private )?def \w+.*""")
    }.lastOption.map(_._3.trim)
    assert(rel == "queries/DedupQueries.scala" &&
      enclosing.exists(_.startsWith("private def exactPairs(")),
      s"the Dedup.jaccardPairs( call at $rel:$n is not inside " +
        s"DedupQueries.exactPairs (enclosing: $enclosing)")
  }

  test("one hashed-set producer: SortedShingleHashes( only in shingleHashSets and hotShingles") {
    // per-doc hashed shingle sets come from Dedup.shingleHashSets (the
    // hot-list sample hashes its own 1-in-10 slice); a third operator
    // call is a second producer growing back, and an exploded full
    // set is the deleted inverted index
    val lines = mainSourceLines
    def enclosingDef(rel: String, n: Int): Option[String] = lines.filter {
      case (r, m, l) => r == rel && m < n && l.trim.matches("""(private )?def \w+.*""")
    }.lastOption.map(_._3.trim)
    val uses = lines.collect {
      case (rel, n, line) if rel.startsWith("operators/") &&
          line.contains("SortedShingleHashes(") && !line.trim.startsWith("*") =>
        (s"$rel:$n", enclosingDef(rel, n))
    }
    assert(uses.nonEmpty, "no SortedShingleHashes( call under operators/")
    val stray = uses.filterNot { case (_, d) =>
      d.exists(e => e.startsWith("def shingleHashSets(") || e.startsWith("def hotShingles("))
    }
    assert(stray.isEmpty, s"SortedShingleHashes( outside shingleHashSets/hotShingles: " +
      stray.map { case (at, d) => s"$at (in $d)" }.mkString(", "))
    val exploded = lines.collect {
      case (rel, n, line) if line.contains("explode(col(\"hs\"))") => s"$rel:$n"
    }
    assert(exploded.isEmpty, s"full-set explode in main code: ${exploded.mkString(", ")}")
  }

  test("engine settings are Spark confs: env and sys-prop reads only where allowed") {
    // an engine setting is one Spark conf with one constant default,
    // overridden with GraftSession.builder(...).config(key, value); a
    // second channel (an env var, a JVM property, a spark.graft.* key)
    // reaches only builder-made sessions, never a driver-supplied one.
    // Allowed: the Bench/Verify mains' harness variables, the scratch
    // root (java.io.tmpdir) and GraftSession's two host-level values.
    val read = """sys\.(env|props)|System\.(getenv|getProperty)""".r
    val allowed: Map[String, Seq[String]] = Map(
      "Bench.scala" -> Nil,
      "Verify.scala" -> Nil,
      "PidScratch.scala" -> Seq("java.io.tmpdir"),
      "GraftSession.scala" ->
        Seq("SPARK_GRAFT_CPUS", "SPARK_GRAFT_LOCAL_DIR", "java.io.tmpdir"))
    val reads = mainSourceLines.collect {
      case (rel, n, line) if read.findFirstIn(line).nonEmpty &&
          !allowed.get(rel).exists(ks => ks.isEmpty || ks.exists(line.contains)) =>
        s"$rel:$n"
    }
    assert(reads.isEmpty, s"env/sys-prop reads outside the allowed sites: " +
      reads.mkString(", "))
    val keys = mainSourceLines.collect {
      case (rel, n, line) if line.contains("spark.graft.") => s"$rel:$n"
    }
    assert(keys.isEmpty, s"spark.graft.* conf keys in main code: ${keys.mkString(", ")}")
  }

  test("one rule registration path: extraOptimizations occurs nowhere in main code") {
    // optimizer rules are injected by GraftExtensions only; a second
    // path (spark.experimental) reaches only the sessions it is run on
    val uses = mainSourceLines.collect {
      case (rel, n, line) if line.contains("extraOptimizations") => s"$rel:$n"
    }
    assert(uses.isEmpty, s"extraOptimizations in main code: ${uses.mkString(", ")}")
  }

  test("query builders size plans from metadata: no .count() under queries/") {
    // a count inside a builder is a Spark action at build time; sizes
    // come from Tables.rowCount (parquet footers) or other metadata
    val uses = mainSourceLines.collect {
      case (rel, n, line) if rel.startsWith("queries/") && line.contains(".count()") =>
        s"$rel:$n"
    }
    assert(uses.isEmpty, s".count() in query builders: ${uses.mkString(", ")}")
  }
}
