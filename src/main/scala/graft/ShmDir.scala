package graft

/** RAM-backed (tmpfs) shuffle-dir management shared by the bench mains
  * (Bench / Profile / ScaleBench). Each process claims its OWN directory
  * (`/dev/shm/<prefix>-<pid>`) so one run starting or exiting can never
  * delete a concurrent run's live shuffle files — the failure mode of the
  * old shared `/dev/shm/graft-bench`: a Bench startup mid-Profile-query
  * deleted the live run's shuffle files and failed its tasks. Stale
  * siblings left by crashed/killed runs are swept only when the PID in
  * their name is no longer alive (mtime is NOT a safe liveness signal: a
  * long-lived run's top-level dir mtime goes stale while its blockmgr
  * subdirs stay hot).
  */
object ShmDir {
  private def rmTree(p: java.io.File): Unit = {
    if (p.isDirectory) Option(p.listFiles).getOrElse(Array.empty).foreach(rmTree)
    p.delete(): Unit
  }

  /** Marker dropped into every claimed dir: the sweep below deletes ONLY
    * dirs carrying it, so a user-staged `/dev/shm/graft-100` or a dataset
    * copied under ANY graft-* name — marker-less — can never be destroyed
    * by a tool startup (ADVICE r10 — the bare name+dead-PID gate was a
    * claim of ownership the name alone cannot prove). r12: the
    * transitional known-prefix allowlist (which re-opened a sliver of
    * that window for dirs named exactly like a pre-marker tool's, ADVICE
    * r11) is gone — every build since r11 writes the marker and no
    * pre-marker dirs remain on this box, so ownership is now marker-only. */
  private val Marker = ".graft-claim"

  /** Claim `/dev/shm/<prefix>-<pid>` (registering exit cleanup) and sweep
    * dead siblings — including the legacy un-suffixed `<prefix>` dir no
    * live process uses anymore. Returns the `spark.local.dir` value;
    * falls back to java.io.tmpdir when /dev/shm is absent. */
  def claim(prefix: String): String = {
    // GRAFT_LOCAL_DIR: explicit spill-dir override. tmpfs pages compete
    // with the JVM heap for physical RAM, so a 100x-scale run whose
    // shuffles reach tens of GB points this at real disk instead.
    sys.env.get("GRAFT_LOCAL_DIR").foreach { d => return d }
    val base = new java.io.File("/dev/shm")
    if (!base.isDirectory) return System.getProperty("java.io.tmpdir")
    Option(base.listFiles).getOrElse(Array.empty).foreach { f =>
      val n = f.getName
      // Sweep dead-PID dirs of EVERY graft tool, not just this prefix
      // (r10: a same-prefix-only sweep left a killed ScaleBench's 44 GB
      // graft-scale dir resident until the NEXT ScaleBench — tmpfs pages
      // that OOM-killed an unrelated sf10 completion pass, the run
      // recorded in SUITE_sf10.json). Ownership is
      // proved by the marker FILE this claim writes, never by the name
      // pattern alone; liveness stays PID-exact.
      val deadPid = n.lastIndexOf('-') > 0 &&
        n.drop(n.lastIndexOf('-') + 1).toLongOption
          .exists(pid => !ProcessHandle.of(pid).isPresent)
      val owned = new java.io.File(f, Marker).isFile
      val stale = n == prefix || (n.startsWith("graft-") && owned && deadPid)
      if (stale) rmTree(f)
      // A dead-PID graft-* dir WITHOUT the marker is never swept (the
      // marker is the only proof of ownership), but on a box where the
      // no-pre-marker-dirs assumption fails it leaks tmpfs forever —
      // surface it instead of skipping silently (ADVICE r12).
      else if (n.startsWith("graft-") && deadPid && !owned)
        System.err.println(s"ShmDir: skipping unowned dead-PID dir " +
          s"${f.getAbsolutePath} (no $Marker marker — not created by a " +
          s"graft tool since r11; remove manually if it is stale)")
    }
    val mine = new java.io.File(base, s"$prefix-${ProcessHandle.current().pid()}")
    mine.mkdirs()
    new java.io.FileOutputStream(new java.io.File(mine, Marker)).close()
    sys.addShutdownHook(if (mine.exists) rmTree(mine))
    mine.getAbsolutePath
  }
}
