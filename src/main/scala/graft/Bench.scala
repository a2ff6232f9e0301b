package graft
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._
object Bench {
  // str-probe absolute nominal at >=16 cores — RE-BASELINED 2026-08-19 in
  // the first measured-quiet window since the probe shipped (full-suite
  // bench at median query ratio 1.066 vs the quiet ref, residual_inflation
  // false): in-bench quiet samples read str 0.663-0.718, fresh-JVM
  // ProbeOnly 0.654-0.893 — the provisional 0.42 nominal (derived on a
  // weathered box, assuming quiet ~0.49) put the bound at 0.63 and flagged
  // every pass of that QUIET run as contended. Quiet is ~0.66-0.72, so
  // nominal 0.53 x gate 1.5 = 0.795: quiet keeps ~10% headroom while the
  // documented 1.3-1.5x string-alloc weather windows (>= 0.86 from a 0.66
  // quiet floor) still FAIL. The self-relative gate (run_min x 1.4) stays
  // the tighter check inside any one run.
  private val NOMSTR_32 = 0.53

  // Calibration probes: TWO fixed-work jobs (no IO, no shuffle) timed
  // before and after the measured passes. Their nominal times are a
  // property of the machine, not the data, so a contended run exposes
  // itself IN THE RECORD: r4's driver artifact read 137s for an engine
  // that measures 87-94s, and nothing in the artifact could tell.
  // Two probes because this box has shown two DISTINCT degradation
  // modes (both hypervisor-level, invisible in guest loadavg):
  //  - cpu probe: codegen'd arithmetic over a range — catches plain
  //    CPU-steal contention;
  //  - alloc probe: per-row string materialization + hashing — the
  //    workload class of the suite's string-heavy queries, which one
  //    observed mode inflates 2-4x while the arithmetic probe stays
  //    nominal (2026-08-13: identical r4 code 94.4s steady vs 138.1s
  //    degraded, q79 30.8s vs 7.1s, cpu probe 0.26-0.34s throughout).
  // The probes bound the STATIC contention modes; the sustained-load
  // mode (full-suite runs inflate, short isolated runs don't) shows
  // only partially in them — cross-check a suspect artifact against
  // isolated Profile timings of the same queries. Nominals + reading
  // guide: BASELINE.md ("Reading a bench artifact"); fresh-JVM
  // re-baseline: runMain graft.ProbeOnly.
  private def timed(work: => Unit): Double = {
    val t0 = System.nanoTime(); work; (System.nanoTime() - t0) / 1e9
  }
  private def calibCpu(spark: SparkSession, cpus: Int): Double = timed {
    spark.range(0L, 400000000L, 1L, cpus)
      .selectExpr("sum(id * 3 + 7) AS s")
      .queryExecution.toRdd.count(): Unit
  }
  private def calibAlloc(spark: SparkSession, cpus: Int): Double = timed {
    spark.range(0L, 4000000L, 1L, cpus)
      .selectExpr("sum(length(md5(concat(cast(id as string), 'graft')))) AS s")
      .queryExecution.toRdd.count(): Unit
  }
  // str probe (r14, VERDICT r13 #2): the box's recurring probe-invisible
  // weather mode inflates string-HEAVY queries 1.3-1.5x while the cpu
  // probe stays nominal (even FAST — r14's weathered run read cpu 0.083
  // vs the 0.088-0.104 quiet fresh-JVM band) and the md5-dominated alloc
  // probe inflates only ~1.2x (0.236-0.270 vs quiet 0.17-0.22): md5 is
  // arithmetic-bound per byte, so it under-weights the allocation/copy
  // traffic the mode actually throttles. This probe is pure UTF8String
  // materialization — repeat/substring/upper/concat chains, ~6
  // allocations per row and no heavy arithmetic — the workload class of
  // q79/q34/q121, which the weather inflates hardest.
  private def calibStr(spark: SparkSession, cpus: Int): Double = timed {
    spark.range(0L, 12000000L, 1L, cpus)
      .selectExpr("sum(length(concat(substring(repeat(concat('g', " +
        "cast(id % 9973 as string)), 10), 3, 40), upper(concat(" +
        "cast(id as string), 'x', cast(id * 31 as string)))))) AS s")
      .queryExecution.toRdd.count(): Unit
  }

  /** One sample of the three calibration probes: (cpu, alloc, str) s. */
  def probe(spark: SparkSession, cpus: Int): (Double, Double, Double) =
    (calibCpu(spark, cpus), calibAlloc(spark, cpus), calibStr(spark, cpus))

  /** Per-query seconds of the quiet snapshot `json` (BENCH_QUIET_REF.json),
    * or None when it was taken at another sf than `sfDir` (a dev run at
    * sf0.001 must not "compare" against the sf0.1 ref) or is malformed. */
  def quietRef(json: String, sfDir: String): Option[Map[String, Double]] =
    scala.util.Try(new com.fasterxml.jackson.databind.ObjectMapper().readTree(json))
      .toOption.filter(root => root != null && root.path("sf").asText == sfDir)
      .map(_.path("queries")).filter(_.isObject)
      .map(_.properties.asScala.collect {
        case e if e.getValue.isNumber => e.getKey -> e.getValue.asDouble
      }.toMap)

  /** Trimmed stdout of a git command run in `dir`, or "" when git is
    * missing or fails (outside a checkout, say): git's stderr is dropped,
    * so an error message can never be recorded as a commit. */
  def gitLine(cmd: Seq[String], dir: java.io.File = new java.io.File(".")): String =
    try {
      val p = new ProcessBuilder(cmd: _*).directory(dir)
        .redirectError(ProcessBuilder.Redirect.DISCARD).start()
      val out = new String(p.getInputStream.readAllBytes, "UTF-8").trim
      if (p.waitFor() == 0) out else ""
    } catch { case _: java.io.IOException => "" }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Default 32 = the graded environment (driver runs local[32]) and what
    // Profile/ScaleBench already use. The old default of 4 silently made
    // un-parameterized runs measure a quarter of the machine: r5 burned a
    // morning attributing a phantom "2-4x string-query degradation" that
    // was exactly this (99.3s at 32 cpus vs 111-128s at 4 on the same
    // code+box), and r4's "contended" driver artifact (137.5s vs the
    // builders' 94.4s) carries the same signature — uniform inflation of
    // CPU-bound queries, i.e. fewer cores, not box weather.
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Session.local(cpus, cpus, "graft-bench")
    // Steady-state warmup (JMH-style), AT THE TARGET SCALE FACTOR: AQE
    // picks different physical plans at different input sizes (broadcast
    // vs shuffle joins), so a tiny-sf warmup compiles the WRONG generated
    // classes and the first timed passes still pay C2 compilation — q34
    // measured 9.0 s on a cold first pass vs 1.6 s steady-state, and
    // best-of-2 after a tiny-sf warmup reported 3.8-5.5 s run-to-run.
    // Warming on the measured workload is standard practice (JMH warms
    // the benchmark itself) and is NOT included in any timing.
    val warmDir = sfDir
    // Deterministic name order: Map iteration order shifts when queries are
    // added, which made per-query timings incomparable across rounds (the
    // first timed query absorbs cold-IO/JIT residue).
    // GRAFT_ONLY=name,name,...: diagnostic subset — same machinery
    // (warmup, passes, probes) over fewer queries, to separate
    // suite-size effects from per-query behavior.
    val only = sys.env.get("GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(q => only.forall(_.contains(q._1)))
    // Force FULL result materialization: a plain .count() lets Catalyst
    // prune projections and eliminate sorts (a projection-heavy query
    // times as a bare scan — q103's metrics were invisible), while
    // toRdd.count() executes the query's own physical plan and produces
    // every output row, matching what the DuckDB baseline's fetchall()
    // pays. Rows stay on executors — no driver collect.
    // withExecConfs: per-query execution confs (AQE cost-gate — see
    // QueryRegistry.execConfs) wrap build+execute, because AQE reads the
    // session conf at physical-planning time.
    def exec(name: String, dir: String): Long =
      QueryRegistry.withExecConfs(spark, name, dir) {
        SparkEntry.queries(name)(spark, dir).queryExecution.toRdd.count()
      }
    // A failure is recorded and printed, warm-up and timed passes alike:
    // query -> class of its first exception, for the detail file.
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    def failed(name: String, e: Throwable): Unit = {
      System.err.println(
        s"[bench] $name failed: ${e.getClass.getName}: ${e.getMessage}")
      errors.getOrElseUpdate(name, e.getClass.getName): Unit
    }
    ordered.foreach { case (name, _) =>
      try exec(name, warmDir) catch { case e: Throwable => failed(name, e) }
    }
    // (The target-sf warmup above also fills the page cache — no separate
    // table-scan pass needed.)
    // Drop cached blocks a query leaves behind (localCheckpoint staging is
    // never unpersisted by the query itself): 79 queries x 2 passes of
    // retained RDDs otherwise fill storage memory and make late queries
    // pay eviction/GC for earlier ones' leftovers. The explicit GC also
    // lets ContextCleaner reclaim shuffle files + broadcast blocks (they
    // are weak-reference-cleaned, i.e. only after their RDD objects are
    // collected): with 112 full-materialization queries in one JVM the
    // late-alphabet heavies otherwise time 2-3x slower than in a fresh
    // JVM (measured: q79 6.3s fresh vs 15-22s in an aged heap).
    def dropCached(): Unit = {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      System.gc()
    }
    dropCached()
    // Two timed passes, per-query MIN: round-2 driver-side numbers showed
    // 5-10× inflation on CPU-bound queries from machine contention
    // (unreproducible locally — q34 9.0s driver vs 1.4s steady-state);
    // best-of-2 reports the steady state a contended single pass can't.
    // ALTERNATING DIRECTION (round 6): a query's in-suite time grows with
    // its POSITION in the pass (JVM aging — generated-class/heap debt the
    // per-query GC doesn't recover), and the tax lands on whatever runs
    // late: same code+box+day, probes clean, ascending passes totalled
    // 79.3/79.1 s with q34 3.3-3.8 s while a reversed pass totalled
    // 69.7 s with q34 at its isolated 1.4 s. Running pass 2 in reverse
    // gives every query one young-JVM draw, so the per-query MIN is a
    // position-independent steady-state estimate; per-query times stay
    // comparable across rounds (same estimator, better sampling).
    def onePass(reversed: Boolean): Seq[(String, Double)] = {
      val seq = if (reversed) ordered.reverse else ordered
      seq.map { case (name, _) =>
        val t0 = System.nanoTime()
        // A query that throws must NOT time as "fast": record a -1.0
        // sentinel so a failure is distinguishable from a quick query.
        val dt =
          try { exec(name, sfDir); (System.nanoTime() - t0) / 1e9 }
          catch { case e: Throwable => failed(name, e); -1.0 }
        dropCached()
        name -> dt
      }
    }
    probe(spark, cpus) // probe codegen warmup, untimed
    // PROBE-GATED PASSES (round 6). Both committed driver artifacts so far
    // (r4 137.5 s, r5 135.3 s vs a 75.2 s quiet engine) were contention-
    // polluted, and best-of-2 across two differently-contended passes
    // still left q125 at 16.1 s vs 2.1 s quiet — the probes DIAGNOSED the
    // pollution but nothing acted on it. Now each pass is bracketed by a
    // probe sample (start / between passes / end — the midpoint was added
    // after an endpoint-nominal run hid a mid-run +25% episode), and a
    // pass whose surrounding samples exceed the per-cpu nominal by >1.5x
    // is marked contended and replaced by one extra pass (bounded: at
    // most 2 replacements, so 4 passes total — a permanently-contended
    // box must still terminate and report, flagged). Per-query timings
    // are the min over CLEAN passes only; if every pass is contended the
    // artifact says so and falls back to min-over-all (better a flagged
    // inflated number than none).
    // Nominal upper bounds per BASELINE.md "Reading a bench artifact"
    // (probe times are a property of the machine and core count, re-
    // baselined via graft.ProbeOnly). Tightened for the suite-sized
    // codegen cache (2026-08-13): with compiled probe classes cached,
    // quiet samples read cpu 0.07-0.16 / alloc 0.17-0.22 at 32 cores —
    // the old 0.30/0.47 bounds (which absorbed recompile cost) would let
    // a 2-3x contended probe pass as nominal.
    val (nomCpu, nomAlloc) =
      if (cpus >= 16) (0.20, 0.35) else (0.45, 0.80)
    // str-probe nominal: derived 2026-08-16 ON the weathered box (no quiet
    // window existed all of r13/r14 to calibrate properly): in-weather
    // readings W with the same run's 149-query median at 1.31x quiet ref,
    // so true quiet ≈ W/1.2-1.3 (the probe tracks the mode that inflates
    // the queries). The bound is placed JUST BELOW the weathered readings
    // (nominal x 1.5 gate ≈ 0.95 W): the documented 1.3-1.5x string-heavy
    // windows now FAIL calibration (VERDICT r13 #2's ask) while a quiet
    // box (~0.75 W) keeps ~20% headroom. Re-baseline via graft.ProbeOnly
    // when a quiet window lands and tighten toward quiet x 1.15.
    // GRAFT_NOMINAL_STR overrides; 0 disables the absolute str gate
    // (self-relative still applies).
    val nomStr = sys.env.get("GRAFT_NOMINAL_STR").map(_.toDouble)
      .getOrElse(if (cpus >= 16) NOMSTR_32 else 0.0)
    val gate = 1.5
    // SELF-RELATIVE gate (round 7): the r6 driver artifact passed all-
    // nominal probes yet sat a uniform 1.38x above the same-day quiet
    // snapshot — the absolute nominals are loose upper bounds for a box
    // whose true quiet cpu-probe is ~0.11 s, so mild steal slips under
    // them. A probe sample is now also judged against the RUN'S OWN BEST
    // sample (min over every probe taken this run): the effective bound
    // per metric is min(nominal x 1.5, run_min x 1.4). The run minimum
    // only tightens as samples arrive, so pass verdicts are re-evaluated
    // from stored probe INDICES after every sample (a pass judged clean
    // against an early inflated minimum must not stay clean once a quiet
    // sample lands). A uniformly-contended run (every sample inflated)
    // still falls to the absolute bound — the two gates are complementary.
    val selfGate = 1.4
    // probe samples + passes; each pass records the INDICES of its
    // bracketing probe samples so contended verdicts can be re-derived
    // from the current run minimum at any time
    val probesBuf =
      scala.collection.mutable.ListBuffer[(Double, Double, Double)]()
    val passesBuf =
      scala.collection.mutable.ListBuffer[(Seq[(String, Double)], Int, Int)]()
    def runMin: (Double, Double, Double) =
      (probesBuf.map(_._1).min, probesBuf.map(_._2).min,
        probesBuf.map(_._3).min)
    def hotAbs(p: (Double, Double, Double)): Boolean =
      p._1 > nomCpu * gate || p._2 > nomAlloc * gate ||
        (nomStr > 0 && p._3 > nomStr * gate)
    def hotSelf(p: (Double, Double, Double)): Boolean = {
      val (mc, ma, ms) = runMin
      p._1 > mc * selfGate || p._2 > ma * selfGate || p._3 > ms * selfGate
    }
    val maxPasses = 4
    val targetClean = 2
    // A pass is contended if EITHER bracketing sample breaches the
    // absolute nominal (hard contention), or BOTH breach the self-relative
    // bound (the quiet r6 run's own cpu samples spread 1.6x — 0.068..0.110
    // — so a single sample over run_min x 1.4 is probe noise, while a
    // sustained-steal episode inflates both brackets of the pass it hits).
    def contendedFlags: Seq[Boolean] =
      passesBuf.toSeq.map { case (_, b, a) =>
        hotAbs(probesBuf(b)) || hotAbs(probesBuf(a)) ||
          (hotSelf(probesBuf(b)) && hotSelf(probesBuf(a)))
      }
    def cleanCount: Int = contendedFlags.count(!_)
    probesBuf += probe(spark, cpus)
    while (cleanCount < targetClean && passesBuf.size < maxPasses) {
      // direction keyed to the count of CLEAN passes (ADVICE r6): keying
      // on total passes let a contended reversed pass leave both clean
      // passes ascending, losing the young-JVM draw for late queries
      val p = onePass(reversed = cleanCount % 2 == 1)
      val before = probesBuf.size - 1
      probesBuf += probe(spark, cpus)
      passesBuf += ((p, before, probesBuf.size - 1))
    }
    val finalFlags = contendedFlags
    val allPasses = passesBuf.toSeq.map(_._1).zip(finalFlags)
    val cleanPasses = allPasses.filter(!_._2).map(_._1)
    val scored = if (cleanPasses.nonEmpty) cleanPasses else allPasses.map(_._1)
    val results = ordered.map(_._1).map { name =>
      val ts = scored.map(_.toMap.apply(name))
      val ok = ts.filter(_ >= 0)
      name -> (if (ok.isEmpty) -1.0 else ok.min)
    }
    // Millisecond precision keeps the whole 70+-query JSON line short
    // enough to survive the driver's bounded stdout-tail capture (round 1
    // shipped full-precision doubles and the line was front-truncated →
    // BENCH parsed:null). Belt and braces: also write the line to a file.
    def f3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    def qmap(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => "\"" + k + "\":" + f3(v) }.mkString("{", ",", "}")
    val qs = qmap(results)
    // headline total over SUCCEEDED queries only: summing the -1.0
    // failure sentinels made every crashed query read as a 1 s SPEEDUP
    // (and disagreed with adjusted_total, which already filtered them);
    // failures are surfaced as their own count instead.
    val total = results.map(_._2).filter(_ >= 0).sum
    val nFailed = results.count(_._2 < 0)
    // Calibration block: every probe sample (cpu/alloc pairs bracketing
    // each pass), the nominals+gate the pass verdicts were judged by, the
    // run's own best samples (the self-relative reference), and the
    // per-pass contended flags. A reader no longer needs BASELINE.md
    // open to tell a clean artifact from a polluted one — "contended":
    // [false,false] and clean_passes>=1 IS the claim, auditable from the
    // raw samples in the same record.
    val (rmCpu, rmAlloc, rmStr) = runMin
    val calib =
      s""""calibration":{"cpu":[${probesBuf.map(p => f3(p._1)).mkString(",")}],"alloc":[${probesBuf.map(p => f3(p._2)).mkString(",")}],"str":[${probesBuf.map(p => f3(p._3)).mkString(",")}],"nominal_cpu":$nomCpu,"nominal_alloc":$nomAlloc,"nominal_str":$nomStr,"gate":$gate,"self_gate":$selfGate,"run_min_cpu":${f3(rmCpu)},"run_min_alloc":${f3(rmAlloc)},"run_min_str":${f3(rmStr)},"contended":[${allPasses.map(_._2).mkString(",")}],"clean_passes":${cleanPasses.size}}"""
    // Quiet-reference comparison (round 7): probes bound CPU steal, but
    // the r6 driver run showed a residual ~1.38x query-time inflation the
    // probes never saw (box-speed delta / contention in a mode the probe
    // workloads don't exercise). The committed quiet snapshot
    // (BENCH_QUIET_REF.json — per-query seconds from a verified-quiet
    // same-code run) is the reference the verdict compared against by
    // hand; comparing IN the artifact makes the residual delta part of
    // the record: median per-query ratio over shared queries >= 50 ms on
    // both sides (median, not mean — a genuine single-query regression
    // must not read as box-wide inflation), flagged when > 1.15.
    val quiet = scala.util.Try(java.nio.file.Files.readString(
      java.nio.file.Paths.get("BENCH_QUIET_REF.json"))).toOption
      .flatMap(quietRef(_, sfDir))
    val quietBlock = quiet.map { ref =>
      // Ratio floor (r10, VERDICT r9 #6): exclude a pair only when BOTH
      // sides ran under 50 ms — sub-noise on both sides carries no
      // signal. The old both-sides-must-clear rule also dropped the
      // asymmetric pairs (one side fast, one slow), which are exactly
      // the per-query anomalies the comparison exists to surface: r9's
      // q127 (ref 47 ms, run 400 ms) was excluded as "ref_fast" by the
      // very inflation that made it interesting.
      val shared = results.filter { case (n, t) =>
        t >= 0 && ref.contains(n) && (t >= 0.05 || ref(n) >= 0.05) }
      // name the non-shared rows (VERDICT r8 #8): a reader must be able
      // to tell "skipped as under the 50 ms ratio floor" from "missing
      // from the reference snapshot entirely"
      val excluded = results.collect {
        case (n, t) if !shared.exists(_._1 == n) =>
          // a crashed query records the -1 sentinel — it must read as
          // FAILED here, never as "ran under the 50 ms floor"
          val why = if (t < 0) "failed"
            else if (!ref.contains(n)) "no_ref"
            else "both_fast"
          s""""$n":"$why""""
      }.mkString("{", ",", "}")
      if (shared.isEmpty) s""""quiet_ref":{"shared":0,"excluded":$excluded}"""
      else {
        // BOTH sides clamped to the 50 ms floor (ADVICE r10/r11): an
        // asymmetric pair with a few-ms cell on either side otherwise
        // contributes a noise-driven ratio — a fast ref inflates (10-50x),
        // a fast run deflates (near-zero) — and both feed the median, the
        // residual_inflation flag, and adjusted_total. The pair STAYS in
        // the pool (the r10 fix's goal — asymmetry is the signal); only
        // its sub-noise side(s) are bounded.
        val clampFloor = 0.05
        val ratios = shared.map { case (n, t) =>
          math.max(t, clampFloor) / math.max(ref(n), clampFloor) }.sorted
        // the number of pairs whose ratio was floor-bounded on either side
        // rides into the artifact (ADVICE r12): a regression that stays
        // UNDER the floor (4 ms -> 45 ms) contributes ratio 1.0 and is
        // invisible to the median — a reader must be able to tell how much
        // of the pool is floor-bound before trusting the flag.
        val clamped = shared.count { case (n, t) =>
          t < clampFloor || ref(n) < clampFloor }
        val med = ratios(ratios.size / 2)
        val tot = shared.map(_._2).sum
        val refTot = shared.map { case (n, _) => ref(n) }.sum
        // adjusted_total (VERDICT r7 #7): when residual box inflation
        // fires, the headline total still reads raw — divide out the
        // median per-query ratio so a reader of the headline alone can't
        // mistake box weather for a regression (median, not total ratio:
        // one genuine single-query regression must not deflate the rest).
        val adj = results.map(_._2).filter(_ >= 0).sum / med
        s""""quiet_ref":{"shared":${shared.size},"excluded":$excluded,"total":${f3(tot)},"ref_total":${f3(refTot)},"clamp_floor":$clampFloor,"clamped_pairs":$clamped,"median_query_ratio":${f3(med)},"residual_inflation":${med > 1.15},"adjusted_total":${f3(adj)}}"""
      }
    }.getOrElse(""""quiet_ref":{"shared":0}""")
    // Full per-query map + ALL raw passes go to the file only: with 100+
    // queries the one-line form exceeds the driver's bounded stdout-tail
    // window and the line gets front-truncated → BENCH parsed:null (rounds
    // 1 and 2). Stdout carries a short self-contained record the tail
    // capture can always hold. Raw passes let a reader attribute a bad
    // total to a single contended pass instead of guessing (r3's per-query
    // driver detail was lost; r4's couldn't separate pass-level noise).
    // Measured-tree provenance (VERDICT r12 #2): the r12 "best quiet bench
    // on record" claim silently measured code a later commit replaced. The
    // artifact now records the git commit of the tree it measured (plus a
    // dirty flag for uncommitted src/build changes), and the promotion
    // tool (tools/promote_quiet.py) refuses to promote a snapshot whose
    // commit != HEAD — the stale-claim failure mode becomes unwritable.
    val commit = gitLine(Seq("git", "rev-parse", "HEAD")).take(40)
    val dirty = gitLine(
      Seq("git", "status", "--porcelain", "--", "src", "build.sbt")).nonEmpty
    // Build fingerprint (ADVICE r13): commit+dirty describe the WORKTREE,
    // but the bench executes compiled classes — a committed-but-not-
    // recompiled tree passed the promotion gate while measuring stale
    // code. Stamp (a) the newest .class mtime of the classpath directory
    // this object actually loaded from (covers frozen-dir launches too),
    // and (b) the epoch of the last commit that TOUCHED src/build.sbt —
    // not HEAD's epoch, because artifact-only commits move HEAD without
    // requiring a rebuild (and a no-op incremental compile touches no
    // .class file, so gating on HEAD's time would refuse forever).
    // tools/promote_quiet.py refuses build_epoch < src_epoch.
    val buildEpoch: Long = try {
      // primary: the directory this class was loaded from (direct
      // java -cp <dir> launches). Under `sbt runMain` the forked JVM's
      // code source is sbt's PATHING JAR (a manifest-only jar standing in
      // for the long classpath), not a directory — fall back to the
      // worktree's compile output, which is what that launch executes.
      val fromCodeSource = try {
        val p = java.nio.file.Paths.get(Bench.getClass.getProtectionDomain
          .getCodeSource.getLocation.toURI)
        if (java.nio.file.Files.isDirectory(p)) Some(p) else None
      } catch { case _: Throwable => None }
      val root = fromCodeSource.getOrElse(
        java.nio.file.Paths.get("target/scala-2.13/classes"))
      if (!java.nio.file.Files.isDirectory(root)) 0L
      else {
        val s = java.nio.file.Files.walk(root)
        try s.filter((p: java.nio.file.Path) => p.toString.endsWith(".class"))
          .mapToLong((p: java.nio.file.Path) =>
            java.nio.file.Files.getLastModifiedTime(p).toMillis / 1000L)
          .max.orElse(0L)
        finally s.close()
      }
    } catch { case _: Throwable => 0L }
    val srcEpoch = gitLine(Seq("git", "log", "-1", "--format=%ct",
      "--", "src", "build.sbt")).takeWhile(_.isDigit) match {
      case "" => 0L
      case d  => d.toLong
    }
    val prov = s""""commit":"$commit","dirty":$dirty,""" +
      s""""build_epoch":$buildEpoch,"src_epoch":$srcEpoch"""
    // Diagnostic runs write their per-query detail to a SEPARATE file so
    // they can never clobber the graded-sf full-suite record: the r12
    // judge's q79-only attribution run overwrote the driver's full-suite
    // BENCH_LOCAL.json (VERDICT r12 artifact-honesty note 2 → GRAFT_ONLY
    // routing, r13), and an r14 sf0.001 verification run then overwrote
    // an sf0.1 record through the hole that fix left — a FULL-suite run
    // at a non-graded sf took the same path as the record it replaced.
    // BENCH_LOCAL.json now means exactly one thing: full suite at the
    // graded sf (GRAFT_GRADED_SF overrides the default for environments
    // graded at a different scale).
    val gradedSf =
      sys.env.getOrElse("GRAFT_GRADED_SF", "/root/testdata/sf0.1")
    val detailPath =
      if (only.isDefined || sfDir != gradedSf) "BENCH_LOCAL_ONLY.json"
      else "BENCH_LOCAL.json"
    val errorsJson = errors.map { case (n, c) =>
      JsonUtil.jsonEscape(n) + ":" + JsonUtil.jsonEscape(c) }.mkString("{", ",", "}")
    val fileLine =
      s"""{"metric":"total","value":${f3(total)},"unit":"sec","best_of":${cleanPasses.size.max(1)},"failed":$nFailed,"errors":$errorsJson,$prov,$calib,$quietBlock,"queries":$qs,"passes":[${allPasses.map(p => qmap(p._1)).mkString(",")}],"sf":"$sfDir"}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(detailPath), fileLine + "\n")
    // The driver contract requires per-query seconds IN the stdout line
    // ({"metric",...,"queries":{...},"sf"}): the driver re-runs the bench
    // at a lower core count at the SAME sf, and both runs would write the
    // same detail file — stdout is the only per-run channel. (r13 routed
    // queries to the detail file only; restored r14.)
    val stdoutLine =
      s"""{"metric":"total","value":${f3(total)},"unit":"sec","best_of":${cleanPasses.size.max(1)},"failed":$nFailed,$prov,$calib,$quietBlock,"queries":$qs,"n_queries":${results.size},"sf":"$sfDir","detail":"$detailPath"}"""
    spark.stop()
    // sole final stdout line (after spark.stop so no shutdown noise follows)
    println(stdoutLine)
  }
}
