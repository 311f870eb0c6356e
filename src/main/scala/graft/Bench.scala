package graft

import scala.jdk.CollectionConverters._

/** Driver-run benchmark: one JSON line with per-query seconds.
  *
  * Protocol (BASELINE.md): per query, one warm-up execution (JIT + codegen
  * warm), then the median of `BENCH_RUNS` timed runs. Queries execute into
  * the `noop` sink so every projected column is materialized — `.count()`
  * would let column pruning skip the actual work of projection-heavy
  * queries.
  */
object Bench {
  /** One timed run's host + self stamps (see the telemetry notes in
    * main): `sec` wall seconds, host-wide steal/iowait/busy %, CPU
    * pressure-stall ms over the window, this JVM's process-CPU and GC
    * second deltas. -1 marks an unavailable counter.
    */
  private[graft] final case class RunStamp(sec: Double, steal: Double,
                                           iow: Double, busy: Double,
                                           psiMs: Double, cpu: Double,
                                           gc: Double)

  private[graft] def quietRuns(stamps: Seq[RunStamp],
                               retryPct: Double): Seq[RunStamp] =
    stamps.filter(r => r.steal >= 0 && r.steal <= retryPct)

  /** Quiet-minority resample trigger (round-19, VERDICT-r18 #1): fire
    * when fewer runs stamped quiet than the basis selection needs
    * (min(runs, 2)) — the SAME condition [[reportedSec]] uses, so a
    * resample is measured exactly when the report would otherwise fall
    * back to stormy runs. Round 18 fired only when ALL runs were stormy,
    * which left 2-of-3-stormy rows reporting storm-inflated medians
    * (r18 battery: 9 such rows). retryPct <= 0 disables the protocol.
    */
  private[graft] def needsResample(stamps: Seq[RunStamp], runs: Int,
                                   retryPct: Double): Boolean =
    retryPct > 0 && quietRuns(stamps, retryPct).size < math.min(runs, 2)

  /** The reported seconds for a battery row: the median over
    * quiet-stamped runs when at least min(runs, 2) of them exist
    * (one quiet outlier shouldn't own the median at runs >= 2; at
    * runs = 1 a single quiet run IS the better estimate), else the
    * plain median over every run — the stamped all-stormy fallback,
    * auditable from the JSON arrays.
    */
  private[graft] def reportedSec(stamps: Seq[RunStamp], runs: Int,
                                 retryPct: Double): Double = {
    val quiet = quietRuns(stamps, retryPct)
    val basis =
      if (retryPct > 0 && quiet.size >= math.min(runs, 2)) quiet
      else stamps
    val times = basis.map(_.sec).sorted
    times(times.length / 2)
  }

  /** The files the full per-row map is written to; the head is the one
    * the stdout line names. Every run writes its core-count sibling
    * (`BENCH_FULL_c<cpus>.json`); only a 32-core run also writes the
    * canonical path, so `BENCH_FULL.json` stays the 32-core record when
    * an 8-core scaling run follows the main run.
    */
  private[graft] def fullMapPaths(fullPath: String, cpus: Int): Seq[String] = {
    val stamped =
      if (fullPath.endsWith(".json")) fullPath.stripSuffix(".json") + s"_c$cpus.json"
      else fullPath + s"_c$cpus"
    if (cpus == 32) Seq(fullPath, stamped) else Seq(stamped)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = LocalSession.envCpus()
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val spark = LocalSession(cpus)

    def execute(name: String): Unit = {
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      // drop Dataset.persist caches so every timed run measures the
      // query, not a cache read (Barrier cuts are not in this cache;
      // quiesce frees them)
      spark.catalog.clearCache()
    }

    // Queries run alphabetically; without a barrier a trivial scan inherits
    // seconds of GC/BlockManager churn from a heavy predecessor (r1 bench:
    // q_lt 4.7s right after q_lang_id vs q_gt 0.12s). Reset between queries
    // so per-query numbers are attributable.
    def quiesce(): Unit = {
      spark.catalog.clearCache()
      // clearCache only drops CATALOG cache entries; localCheckpoint /
      // bare rdd.persist blocks (Graph.withTriangles results, Dedup CC
      // rounds, sketch overlap tables) sit in getPersistentRDDs until the
      // async ContextCleaner notices the RDD is unreachable. At n=215 that
      // history is big enough to smear 1.5-6.5x onto alphabetically-late
      // rows (BENCH_r14 `Block rdd_* already exists` tail). Every block
      // here is dead by construction — rows rebuild their plans from
      // scratch and all cross-row memos are parquet-backed — so drop them
      // synchronously.
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      System.gc()
      Thread.sleep(200)
    }

    // CPU-steal telemetry: this host's hypervisor throttles the VM in
    // multi-minute bursts under load (measured round 15: 0.16% idle vs
    // 9-17% while the battery works — five identical-code runs spread
    // 156-241 s). Reporting the run's own steal share makes a high total
    // self-explaining instead of a phantom regression (BASELINE.md n=222
    // reading rules). /proc/stat fields: ...,idle=4,...,steal=8.
    def cpuTicks(): Option[Array[Long]] =
      try {
        val line = java.nio.file.Files
          .readAllLines(java.nio.file.Paths.get("/proc/stat")).get(0)
        Some(line.split("\\s+").drop(1).map(_.toLong))
      } catch { case _: Throwable => None }
    def stealBetween(a: Option[Array[Long]],
                     b: Option[Array[Long]]): Double =
      (for (x <- a; y <- b) yield {
        val d = y.zip(x).map { case (v, u) => v - u }
        val tot = d.sum.toDouble
        if (tot <= 0 || d.length < 8) -1.0 else 100.0 * d(7) / tot
      }).getOrElse(-1.0)
    // Round-17 probe telemetry: r16's per-try steal stamps DISPROVED the
    // steal hypothesis (q_clustering tries 22.9-29.1 s at ≤0.03% steal),
    // so an out-of-band try needs more host state to be self-explaining.
    // iowait share and host BUSY share (non-idle, non-iowait — i.e. all
    // compute on the host, this child's and anyone else's) come from the
    // same /proc/stat window as steal; CPU pressure-stall time comes from
    // /proc/pressure/cpu (`some total=` usec — time ANY runnable task
    // waited for a CPU). The child reports its OWN process-CPU and GC
    // seconds (below), so a reader can split a slow try three ways:
    // busy ≫ child share → another process competed (the driver's sbt /
    // DuckDB phases are invisible to steal but not to busy%); psi/iow
    // high at normal busy → the host stalled the child; busy ≈ child
    // share and steal matched with child cpu/gc up → the child itself did
    // more work (cpu rises with steal on identical code, BASELINE.md).
    def iowaitBetween(a: Option[Array[Long]],
                      b: Option[Array[Long]]): Double =
      (for (x <- a; y <- b) yield {
        val d = y.zip(x).map { case (v, u) => v - u }
        val tot = d.sum.toDouble
        if (tot <= 0 || d.length < 5) -1.0 else 100.0 * d(4) / tot
      }).getOrElse(-1.0)
    def busyBetween(a: Option[Array[Long]],
                    b: Option[Array[Long]]): Double =
      (for (x <- a; y <- b) yield {
        val d = y.zip(x).map { case (v, u) => v - u }
        val tot = d.sum.toDouble
        if (tot <= 0 || d.length < 5) -1.0
        else 100.0 * (tot - d(3) - d(4)) / tot
      }).getOrElse(-1.0)
    def psiCpuUsec(): Option[Long] =
      try {
        val line = java.nio.file.Files
          .readAllLines(java.nio.file.Paths.get("/proc/pressure/cpu")).get(0)
        "total=(\\d+)".r.findFirstMatchIn(line).map(_.group(1).toLong)
      } catch { case _: Throwable => None }
    val ticks0 = cpuTicks()
    def stealPct(): Double = stealBetween(ticks0, cpuTicks())
    // this JVM's own compute counters, readable mid-run (per-row deltas)
    def procCpuSecNow(): Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
        case b: com.sun.management.OperatingSystemMXBean =>
          b.getProcessCpuTime / 1e9
        case _ => -1.0
      }
    def gcSecNow(): Double = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1000.0

    // local-iteration filter (driver leaves it unset → full battery)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))

    // ISOLATED-PROBE rows: q_pagerank's honest band in the long battery
    // spans 5–11 s between consecutive quiet runs of identical code while
    // its isolated cost is stable (~±0.5 s) — ~170 earlier rows leave the
    // shared JVM with run-varying heap/cleaner debt that an iterative,
    // persist-heavy, many-job row is uniquely sensitive to. Such a row is
    // measured under the SAME protocol (warm-up + median of runs) in a
    // fresh child JVM with this JVM's own flags, so each battery reports a
    // number attributable to the query instead of to battery history. The
    // child env var is the recursion guard and keeps the child in-process.
    // q_triangles/q_clustering joined the set in r15: #1/#2 battery costs
    // reading 2.4-2.8x their stable isolated truth (19.7/17.6 s in-battery
    // vs 7.1/7.4 s isolated, SCALE.md round-14 graph table) — the same
    // battery-history sensitivity class as q_pagerank (iterative,
    // persist-heavy, many short jobs).
    val isolatedRows: Set[String] =
      if (sys.env.contains("SPARK_GRAFT_BENCH_NO_ISOLATE")) Set.empty
      else Set("q_pagerank", "q_triangles", "q_clustering")
    // Round-16 protocol: a probe row's number is the MIN over
    // `probeTries` independent child JVMs (each already warm-up + median
    // internally), and every try is stamped with the CPU-steal share
    // measured around that child (r15: q_clustering's single child read
    // 19.7 s while its fresh-JVM band is 7.6-8.5 s — with one try and no
    // per-probe steal there was no way to tell a real regression from a
    // hypervisor burst). MIN, not median: the tries run identical code in
    // identical fresh JVMs, so all variation between them is host noise —
    // the smallest reading is the closest to the query's own cost. The
    // per-try (sec, steal) detail lands in the JSON `probes` object so an
    // out-of-band reading is self-diagnosing.
    val probeTries = sys.env.getOrElse("SPARK_GRAFT_PROBE_TRIES", "2").toInt
    val probeTriesMax = sys.env.getOrElse("SPARK_GRAFT_PROBE_TRIES_MAX", "4").toInt
    // per-try stamps: query seconds, then the host window (steal/iowait/
    // busy %, CPU-pressure ms) and the child's self-report (process-CPU
    // seconds, GC seconds) — see the telemetry note above for how a
    // reader attributes an out-of-band try with these
    final case class Try17(sec: Double, wall: Double, steal: Double,
                           iow: Double, busy: Double, psiMs: Double,
                           cpu: Double, gc: Double)
    val probeDetail =
      scala.collection.mutable.LinkedHashMap[String, Seq[Try17]]()
    def isolatedProbe(name: String): Double = {
      // shrink THIS JVM's footprint first: the probe children share the
      // host with us, and a parent heap full of ~170 earlier rows' debt
      // competes with the child for memory bandwidth and page cache
      quiesce()
      // ADAPTIVE tries (round-16): identical fresh JVMs should agree —
      // when they don't (r16 battery: q_clustering tries 17.1/10.3 s vs
      // a 6.8 s quiet standalone), the disagreement IS the host-noise
      // signal, so keep probing until the two best tries agree within
      // 15% (or the cap); the noise-floor min is what gets reported.
      // PROBE_TRIES=1 opts OUT of the stability extension — a single
      // probe means a single child, and PROBE_TRIES_MAX only governs the
      // adaptive mode (round-17, restoring the single-probe knob).
      val tries = scala.collection.mutable.ArrayBuffer[Try17]()
      def stable: Boolean = {
        val valid = tries.map(_.sec).filter(_ >= 0).sorted
        valid.size >= 2 && valid(1) <= valid(0) * 1.15
      }
      while (tries.size < probeTries ||
             (probeTries > 1 && tries.size < probeTriesMax && !stable)) {
        val t0 = cpuTicks(); val p0 = psiCpuUsec()
        val w0 = System.nanoTime()
        val (sec, cpu, gc) =
          try childRun(name) catch { case _: Throwable => (-1.0, -1.0, -1.0) }
        val wall = (System.nanoTime() - w0) / 1e9
        val t1 = cpuTicks(); val p1 = psiCpuUsec()
        // host stamps cover the child's WHOLE wall window (startup +
        // warm-up + runs), and `cpu`/`gc` are the child's lifetime
        // totals — so the comparable pair is busy% vs
        // 100·cpu/(wall·ncpus), NOT anything derived from `sec`
        tries += Try17(sec, wall, stealBetween(t0, t1), iowaitBetween(t0, t1),
          busyBetween(t0, t1),
          (for (a <- p0; b <- p1) yield (b - a) / 1000.0).getOrElse(-1.0),
          cpu, gc)
      }
      probeDetail(name) = tries.toSeq
      val valid = tries.map(_.sec).filter(_ >= 0)
      if (valid.isEmpty) -1.0 else valid.min
    }
    def childRun(name: String): (Double, Double, Double) = {
      val javaBin = System.getProperty("java.home") + "/bin/java"
      val jvmArgs = java.lang.management.ManagementFactory
        .getRuntimeMXBean.getInputArguments.asScala.toSeq
      // absolutize classpath entries: the child runs in a temp dir (so its
      // BENCH_FULL.json can't clobber ours) and a relative `-cp` entry
      // like target/scala-2.13/classes would stop resolving there
      val cp = System.getProperty("java.class.path")
        .split(java.io.File.pathSeparatorChar)
        .map(e => new java.io.File(e).getAbsolutePath)
        .mkString(java.io.File.pathSeparator)
      val cmd = Seq(javaBin) ++ jvmArgs ++ Seq("-cp", cp, "graft.Bench")
      val pb = new ProcessBuilder(cmd.asJava)
      pb.environment().put("SPARK_GRAFT_SF_DIR", sfDir)
      pb.environment().put("SPARK_GRAFT_CPUS", cpus.toString)
      pb.environment().put("SPARK_GRAFT_BENCH_RUNS", runs.toString)
      pb.environment().put("SPARK_GRAFT_BENCH_ONLY", name)
      pb.environment().put("SPARK_GRAFT_BENCH_NO_ISOLATE", "1")
      // the child must NOT inherit an absolute SPARK_GRAFT_BENCH_FULL —
      // it would clobber the parent's full-map artifact mid-run (the
      // parent rewrites it last, so only a crashed parent would show it,
      // but the temp-dir isolation is the contract); pin the child's
      // full map to its own cwd
      pb.environment().put("SPARK_GRAFT_BENCH_FULL", "BENCH_FULL.json")
      // the child also writes BENCH_FULL.json — keep it away from ours
      val probeDir = java.nio.file.Files
        .createTempDirectory("graft_bench_probe")
      pb.directory(probeDir.toFile)
      pb.redirectErrorStream(false)
      pb.redirectError(ProcessBuilder.Redirect.DISCARD)
      try {
        val p = pb.start()
        // drain stdout on its own thread: readAllBytes() on this thread
        // blocks until the child CLOSES stdout, so a hung child would hang
        // the whole battery and the 15-minute timeout could never fire
        val outRef = new java.util.concurrent.atomic.AtomicReference[String]("")
        val drain = new Thread(() =>
          try outRef.set(new String(p.getInputStream.readAllBytes(), "UTF-8"))
          catch { case _: Throwable => () })
        drain.setDaemon(true)
        drain.start()
        if (!p.waitFor(15, java.util.concurrent.TimeUnit.MINUTES)) {
          p.destroyForcibly(); return (-1.0, -1.0, -1.0)
        }
        drain.join(30000)
        val out = outRef.get()
        def num(key: String): Double = {
          val re = ("\"" + java.util.regex.Pattern.quote(key) +
            "\":(-?[0-9.]+)").r
          re.findFirstMatchIn(out).map(_.group(1).toDouble).getOrElse(-1.0)
        }
        (num(name), num("proc_cpu_sec"), num("gc_sec"))
      } finally {
        // O(1) temp-dir discipline: the child is dead (or destroyed) by
        // now, so its cwd — BENCH_FULL.json plus whatever the child's
        // own exit hook missed — goes away with the probe
        org.apache.commons.io.FileUtils.deleteQuietly(probeDir.toFile)
      }
    }

    // Round-18 per-ROW host stamps: the r17 driver battery ran at 3.98%
    // mean steal and 19 rows read >0.4 s above r16 from host noise alone —
    // only a full out-of-band re-run could adjudicate them, because battery
    // rows (unlike probes) carried no per-row host state. Every timed run
    // of every battery row is now wrapped in the same /proc/stat +
    // /proc/pressure window the probes use, plus this JVM's own
    // process-CPU and GC deltas, and the per-run stamps land in
    // BENCH_FULL.json's `rows` object. Reading rule (same split as the
    // probes): busy% ≫ 100·cpu/(sec·ncpus) → another process competed;
    // steal/psi/iow up at matched busy → the host stalled us; cpu/gc up at
    // matched busy and steal → the row itself did more work. The reported `sec` is
    // the median run — its stamps are the matching index in the arrays.
    // per row: the REPORTED seconds (the quiet-preferring median below —
    // not necessarily the plain median of the runs array) + every run's
    // stamps
    val rowDetail =
      scala.collection.mutable.LinkedHashMap[String, (Double, Seq[RunStamp])]()
    // parsed ONCE, outside the per-row try: a malformed value must fail
    // the battery loudly, not silently turn every row into -1.0 inside
    // the rows' catch-all
    val retryPct = sys.env
      .getOrElse("SPARK_GRAFT_STEAL_RETRY_PCT", "5.0").toDouble

    // Probes run BEFORE the battery (round-17): an out-of-band try can
    // then never be post-battery host state (page cache churned by ~240
    // earlier rows, a hypervisor that throttles sustained load) — the
    // children meet the same near-idle host the driver's first row does.
    val (probeFirst, batteryRest) = names.partition(isolatedRows.contains)
    val results = (probeFirst ++ batteryRest).map { name =>
      val t =
        if (isolatedRows.contains(name))
          try isolatedProbe(name) catch { case _: Throwable => -1.0 }
        else try {
          execute(name) // warm-up
          def runSet(): Seq[RunStamp] = (1 to runs).map { _ =>
            quiesce()
            val t0 = cpuTicks(); val p0 = psiCpuUsec()
            val c0 = procCpuSecNow(); val g0 = gcSecNow()
            val w0 = System.nanoTime()
            execute(name)
            val sec = (System.nanoTime() - w0) / 1e9
            val t1 = cpuTicks(); val p1 = psiCpuUsec()
            // keep the -1 unavailable sentinel: on a JVM without the
            // com.sun.management bean, (-1)-(-1) would stamp cpu as 0.0
            // and read as "did no self-compute" under the attribution
            // rules instead of "counter unavailable"
            val c1 = procCpuSecNow()
            RunStamp(sec, stealBetween(t0, t1), iowaitBetween(t0, t1),
              busyBetween(t0, t1),
              (for (a <- p0; b <- p1) yield (b - a) / 1000.0).getOrElse(-1.0),
              if (c0 < 0 || c1 < 0) -1.0 else c1 - c0, gcSecNow() - g0)
          }
          // STEAL-AWARE RESAMPLE (round-19, VERDICT-r18 #1): this host's
          // hypervisor throttles in multi-minute bursts that hit SPECIFIC
          // rows (battery r18-1: one row at 18% steal while neighbors read
          // 0.1%). When fewer runs stamp quiet than the report needs
          // ([[needsResample]] — the quiet-minority trigger), one extra
          // run set is measured after the storm had a chance to pass —
          // bounded at one resample so a long storm still ends the
          // battery. The reported median prefers runs stamped quiet
          // ([[reportedSec]]), so stormy runs stop polluting it; every
          // run's stamps stay in the JSON either way, so the selection is
          // auditable, never silent.
          var stamps = runSet()
          if (needsResample(stamps, runs, retryPct))
            stamps = stamps ++ runSet()
          val reported = reportedSec(stamps, runs, retryPct)
          rowDetail(name) = (reported, stamps)
          reported
        } catch { case _: Throwable => -1.0 }
      name -> t
    }
    // The driver captures only the last 2000 chars of output, and a
    // 90+-query map at full double precision overflows it (BENCH_r05.json:
    // "parsed": null — only the tail of the line survived). So: the FULL
    // per-query map goes to BENCH_FULL.json (committed with the repo), and
    // the stdout JSON line inlines the slowest queries up to a fixed
    // character budget — those are the rows a perf audit needs first.
    def fmt(v: Double): String =
      if (v < 0) "-1"
      else String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val total = results.map(_._2).filter(_ >= 0).sum
    val steal = stealPct()
    // this JVM's own compute self-report — in the PARENT line these are
    // battery-wide; in a probe CHILD's line the parent parses them back
    // as the try's cpu/gc stamps
    val procCpuSec = procCpuSecNow()
    val gcSec = gcSecNow()
    // per-probe self-diagnosis: every isolated-probe row carries per-try
    // stamps — sec, host steal/iowait/busy %, CPU-pressure ms, and the
    // child's own process-CPU and GC seconds. Attribution rules live in
    // BASELINE.md: busy% ≫ 100·cpu/(sec·ncpus) → external competition;
    // psi/iow up → host stall; cpu/gc up at matched busy and steal → the
    // child itself worked more.
    val probesJson = probeDetail.map { case (k, tries) =>
      def arr(f: Try17 => Double) =
        "[" + tries.map(t => fmt(f(t))).mkString(",") + "]"
      "\"" + k + "\":{\"sec\":" + fmt(tries.map(_.sec).filter(_ >= 0)
          .minOption.getOrElse(-1.0)) +
        ",\"tries\":" + arr(_.sec) + ",\"wall\":" + arr(_.wall) +
        ",\"steal\":" + arr(_.steal) +
        ",\"iow\":" + arr(_.iow) + ",\"busy\":" + arr(_.busy) +
        ",\"psi_ms\":" + arr(_.psiMs) + ",\"cpu\":" + arr(_.cpu) +
        ",\"gc\":" + arr(_.gc) + "}"
    }.mkString("{", ",", "}")
    val fullQs = results.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    // per-row self-diagnosis (round-18, VERDICT-r17 #1): one entry per
    // battery row with the median `sec` plus per-run stamp arrays — a
    // >0.4 s delta vs the previous round is attributable from this file
    // alone (stamped steal/busy/psi, own cpu/gc, or genuinely unexplained).
    // Probe rows live in `probes` with richer per-child stamps instead.
    val rowsJson = rowDetail.map { case (k, (reported, st)) =>
      def arr(f: RunStamp => Double) =
        "[" + st.map(r => fmt(f(r))).mkString(",") + "]"
      // `sec` is the REPORTED value (quiet-preferring median; see the
      // resample note above) — more than `runs` entries in the arrays
      // means the row was resampled after a quiet-minority steal storm
      "\"" + k + "\":{\"sec\":" + fmt(reported) +
        ",\"runs\":" + arr(_.sec) + ",\"steal\":" + arr(_.steal) +
        ",\"iow\":" + arr(_.iow) + ",\"busy\":" + arr(_.busy) +
        ",\"psi_ms\":" + arr(_.psiMs) + ",\"cpu\":" + arr(_.cpu) +
        ",\"gc\":" + arr(_.gc) + "}"
    }.mkString("{", ",", "}")
    val fullLine =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n":${results.size},"steal_pct":${fmt(steal)},"proc_cpu_sec":${fmt(procCpuSec)},"gc_sec":${fmt(gcSec)},"probes":$probesJson,"rows":$rowsJson,"queries":$fullQs,"sf":"$sfDir"}"""
    // SPARK_GRAFT_BENCH_FULL (round-18, VERDICT-r17 #6): out-of-band
    // verification runs kept clobbering the driver's working-tree
    // BENCH_FULL.json — point the full map elsewhere with the env var;
    // the default stays the driver's artifact path
    val fullPaths = fullMapPaths(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL", "BENCH_FULL.json"), cpus)
    try fullPaths.foreach(p => java.nio.file.Files.write(
      java.nio.file.Paths.get(p), (fullLine + "\n").getBytes("UTF-8")))
    catch { case _: Throwable => () } // stdout line is the contract; file is best-effort
    // chars for the inline map; total line (incl. the ~900-char probes
    // object with its round-17 per-try host stamps) must stay under the
    // driver's 2000-char output capture
    val budget = 750
    val sb = new StringBuilder
    var kept = 0
    // stop at the FIRST entry that doesn't fit so the inline map is a
    // strict slowest-first prefix — continuing would let a fast query
    // with a short name slip in ahead of a skipped slower one
    val it = results.sortBy(-_._2).iterator
    var full = false
    while (it.hasNext && !full) {
      val (k, v) = it.next()
      val entry = (if (kept > 0) "," else "") + "\"" + k + "\":" + fmt(v)
      if (sb.length + entry.length <= budget) { sb.append(entry); kept += 1 }
      else full = true
    }
    println(
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n":${results.size},"steal_pct":${fmt(steal)},"proc_cpu_sec":${fmt(procCpuSec)},"gc_sec":${fmt(gcSec)},"probes":$probesJson,"queries":{$sb},"sf":"$sfDir","full":"${fullPaths.head}"}""")
    spark.stop()
  }
}
