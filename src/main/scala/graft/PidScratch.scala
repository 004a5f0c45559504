package graft

import java.nio.file.{Files, Path, Paths}

/** The one scratch-directory policy, shared by the shuffle scratch
  * (spark.local.dir, [[GraftSession.defaultLocalDir]]) and the
  * streaming replay root (checkpoints and side outputs in
  * [[graft.streaming.StreamOps]]).
  *
  * tmpfs scratch consumes RAM, so /dev/shm is preferred only above a
  * usable-space floor: spills that should RELIEVE memory pressure, and
  * stream data landing beside them, must not fill tmpfs to ENOSPC /
  * cgroup OOM. Scratch is laid out one subdirectory per JVM pid, so
  * two live graft JVMs (a Verify beside a bench) never share name-keyed
  * paths, and a JVM start reclaims what a CRASHED JVM leaked — on tmpfs
  * that leak is resident RAM until reboot, not just disk. */
object PidScratch {

  private val TmpfsFloorBytes = 4L * 1024 * 1024 * 1024

  /** `<tmpfs or java.io.tmpdir>/<name>/pid-<this pid>`, created, after
    * [[claim]] reclaimed the dead siblings. */
  def root(name: String): Path = {
    val shm = Paths.get("/dev/shm")
    val base =
      if (Files.isDirectory(shm) && Files.isWritable(shm) &&
          shm.toFile.getUsableSpace > TmpfsFloorBytes) shm
      else Paths.get(sys.props("java.io.tmpdir"))
    claim(base.resolve(name))
  }

  /** `base/pid-<this pid>`, created. Every `pid-<n>` sibling whose JVM
    * is gone (no /proc/<n>) is removed first; the live pid's dir, a
    * signed suffix (`pid--123`), an all-digit suffix wider than a Long
    * and any entry not named `pid-` are left for their owner. Removal
    * is best effort: two JVMs starting together may race on the same
    * dead dir, and neither start may fail over it. */
  def claim(base: Path): Path = {
    Files.createDirectories(base)
    val live = java.lang.ProcessHandle.current().pid()
    Option(base.toFile.listFiles()).getOrElse(Array.empty).foreach { d =>
      val n = d.getName
      val pid = n.stripPrefix("pid-")
      if (n.startsWith("pid-") && pid.forall(_.isDigit) &&
          scala.util.Try(pid.toLong).toOption.exists(p =>
            p != live && !Files.isDirectory(Paths.get("/proc", pid))))
        scala.util.Try(deleteRecursive(d.toPath))
    }
    Files.createDirectories(base.resolve(s"pid-$live"))
  }

  /** Deletes `p` and everything under it; a symlink is removed, never
    * followed. A missing `p` is a no-op. */
  def deleteRecursive(p: Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.deleteIfExists(_))
      finally st.close()
    }
  }
}
