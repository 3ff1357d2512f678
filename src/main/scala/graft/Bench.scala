package graft

/** Throughput surface: every SparkEntry query timed over `Passes`
  * full passes. Pass 1 is COLD (includes building the session-shared
  * stages — posting lists, embedding index: the reference's
  * build-the-FAISS-index-once cost); later passes are WARM (index
  * resident, the reference's steady-state query path). Reported
  * per-query numbers are the median across passes, which also damps
  * the ~3x run-to-run VM noise a single-run bench can't distinguish
  * from real regressions (SURVEY.md §8).
  *
  * STAGING-REBUILD-PROOF medians: a pass in which a query's staged
  * artifact (re)built (DfCache.stagingRebuilds moved while it ran) or
  * a session memo cold-computed (DfCache.memoComputes moved — the
  * curate chain, a staged read's per-JVM persist wrap) measures the
  * build, not steady state — such passes are excluded from that
  * query's median, an extra pass is run if any warm pass was
  * contaminated, and the (query → passes) rebuild/memo maps ride the
  * JSON as `staging_rebuilds` / `memo_computes` so the attribution is
  * in the artifact itself instead of a next-round adjudication.
  *
  * TASK-METRIC RECEIPTS: per query, the executor task metrics of its
  * last clean WARM pass (falling back to the cold pass only when no
  * warm pass was clean) ride the JSON as `task_metrics` —
  * `[run_ms, gc_ms, shuffle_read_mb, shuffle_write_mb, spill_mem_mb,
  * spill_disk_mb, pass]`, summed over the tasks [[Trace]] tallied
  * under the query's job group for that pass, with the 1-based pass
  * index last so a cold-pass receipt is distinguishable in the
  * artifact — so a rung-to-rung delta is
  * adjudicable from the artifact alone: flat run_ms with grown wall
  * time is box/IO state, grown run_ms with spill bytes is the
  * engine, grown gc_ms is memory pressure. (Input BYTES are omitted
  * deliberately: the vectorized parquet reader's data-page reads
  * bypass the Hadoop FS statistics callback in this setup, so
  * inputMetrics.bytesRead counts only footer reads — probed at
  * 17.8 KB for a full 10.8 MB lineitem scan, a receipt that would
  * mislead.)
  *
  * PER-PASS PER-QUERY TIMES: `query_passes` carries each query's raw
  * per-pass wall-time vector (what the median is computed FROM, minus
  * exclusions) — so a rung median inflated by ONE box-noise pass
  * (page-cache saturation, a background flush) is adjudicable from
  * the artifact alone: passes like [120, 66, 5] indict the box, a
  * monotone [6, 6, 6]→[12, 12, 12] rung step indicts the plan
  * (r13 verdict #2: the 256× spikes needed prose adjudication
  * because only pass TOTALS were published).
  */
object Bench {
  /** Warm-pass count; `SPARK_GRAFT_BENCH_PASSES` overrides (the rung
    * ladder runs 4 at the noisy scales so the median survives one
    * bad pass — r15 verdict #2).
    */
  val Passes: Int =
    sys.env.get("SPARK_GRAFT_BENCH_PASSES").map(_.toInt).getOrElse(3)

  /** Median with the two middle elements AVERAGED for even-length
    * input — with the conditional extra pass (or a pass excluded per
    * query), sample counts vary per query, and upper-middle selection
    * would bias even-count medians slightly upward vs 3-pass queries
    * in the same artifact.
    */
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // the SHARED session surface (graft.Sessions): the same configs
    // Verify gates and a library consumer gets — rationale documented
    // there (r18: one builder instead of a Bench-only config block)
    val spark = Sessions.builderFromEnv().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val trace = Trace.on(spark.sparkContext)
    // absorb JVM/codegen warm-up on the BENCH dataset so per-query
    // timings are comparable (entry()'s hardcoded sf0.001 path may not
    // exist on this machine)
    try SparkEntry.queries("dashboard_stats")(spark, sfDir).count()
    catch { case _: Throwable => }
    // optional filter (comma-separated names) — time a targeted subset
    // at ladder scales where the full surface won't fit one machine;
    // the driver's no-env contract (full surface) is unchanged
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { f =>
      val unknown = f -- SparkEntry.queries.keySet
      if (unknown.nonEmpty) {
        System.err.println(s"[bench] unknown query name(s): ${unknown.toSeq.sorted.mkString(",")}")
        sys.exit(2)
      }
    }
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // rebuilt(pass)(name): a staged artifact was (re)built during this
    // query in this pass; memoed(pass)(name): a session memo
    // cold-computed during it. Either way that timing measures a
    // build, not the steady-state path, and is excluded from the
    // median below.
    val rebuilt = scala.collection.mutable.ArrayBuffer[Set[String]]()
    val memoed = scala.collection.mutable.ArrayBuffer[Set[String]]()
    val passMetrics = scala.collection.mutable.ArrayBuffer[Map[String, Trace.Tally]]()
    def runPass(): Map[String, Double] = {
      val rb = scala.collection.mutable.HashSet[String]()
      val mm = scala.collection.mutable.HashSet[String]()
      val pm = scala.collection.mutable.HashMap[String, Trace.Tally]()
      val times = names.map { name =>
        val group = s"bench:$name:${passMetrics.size + 1}"
        val r0 = DfCache.stagingRebuilds
        val m0 = DfCache.memoComputes
        val t0 = System.nanoTime()
        try trace.in(group)(SparkEntry.queries(name)(spark, sfDir).count())
        catch {
          // a failing query must be VISIBLE, not timed as a fast success
          case e: Throwable =>
            // JSON-safe: strip EVERY control char plus quote/backslash —
            // Spark messages carry \r\t and box-drawing plan fragments
            errors.getOrElseUpdate(name, e.getClass.getSimpleName + ": " +
              String.valueOf(e.getMessage).replaceAll("[\\p{Cntrl}\"\\\\]", " ").take(120))
        }
        val t = (System.nanoTime() - t0) / 1e9
        if (DfCache.stagingRebuilds != r0) rb += name
        if (DfCache.memoComputes != m0) mm += name
        pm(name) = trace.take(group)
        name -> t
      }.toMap
      rebuilt += rb.toSet
      memoed += mm.toSet
      passMetrics += pm.toMap
      times
    }
    var passList = (1 to Passes).map(_ => runPass())
    // a staging rebuild / memo cold-compute in any WARM pass (2+)
    // contaminates that pass's timing for the triggering query; run
    // ONE extra pass so every query still has >= Passes-1 clean warm
    // samples (r11 verdict #2: the 3-pass median of a
    // staging-dependent query was contaminated by construction
    // whenever the rebuild landed in pass 2)
    def dirty(i: Int): Set[String] = rebuilt(i) ++ memoed(i)
    if ((1 until passList.size).exists(i => dirty(i).nonEmpty))
      passList = passList :+ runPass()
    val passes: Seq[Map[String, Double]] = passList
    // median over the passes in which the query did NOT build its
    // staged artifacts or session memos; a query that built in EVERY
    // pass (staging disabled / broken, memo evicted per pass) falls
    // back to all passes and is listed in staging_rebuilds /
    // memo_computes for the reader to judge
    def cleanPasses(n: String): Seq[Int] = {
      val clean = passes.indices.filter(i => !dirty(i).contains(n))
      if (clean.nonEmpty) clean else passes.indices
    }
    val med = names.map { n =>
      n -> median(cleanPasses(n).map(i => passes(i)(n)))
    }
    // ms precision is plenty and halves the line the driver may
    // tail-truncate (r7 lost 23 medians + the totals to truncation)
    def f3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val qs = med.map { case (k, v) =>
        val t = if (errors.contains(k)) "-1.0" else f3(v)   // failed => sentinel
        s"\"" + k + "\":" + t
      }
      .mkString("{", ",", "}")
    val errJson = errors.map { case (k, m) => s"\"$k\":\"$m\"" }.mkString("{", ",", "}")
    val passTotals = passes.map(_.values.sum)
    val total = med.map(_._2).sum
    // mean, not median: with 2 warm passes a median degenerates to the
    // slower one, re-introducing the noise the multi-pass run damps
    val warm =
      if (passTotals.size > 1) passTotals.tail.sum / passTotals.tail.size
      else passTotals.head
    // "no silent caps": the dropped-candidate counts ride every bench
    // line, so a cap that starts biting at a new scale is visible in
    // the same artifact that claims the timing (untimed — one-off
    // aggregates over the already-staged artifacts)
    val audit = try Audit.json(spark, sfDir)
      catch { case e: Throwable => s"""{"error":"${e.getClass.getSimpleName}"}""" }
    // pass-1 per-query times: the cold pass is where index-build cost
    // lands, and a cold regression is invisible in the medians. Same
    // failure sentinel as the medians — a fast exception must not read
    // as a cold-time improvement.
    val coldQs = names.map { n =>
        val t = if (errors.contains(n)) "-1.0" else f3(passes.head(n))
        s"\"" + n + "\":" + t
      }
      .mkString("{", ",", "}")
    // per-query task-metric receipts from the last clean WARM pass
    // (pass 1 only when every warm pass was contaminated — the 1-based
    // pass index rides as the array's LAST element so a cold-pass
    // receipt is distinguishable): [run_ms, gc_ms, shuffle_read_mb,
    // shuffle_write_mb, spill_mem_mb, spill_disk_mb, pass] — what
    // makes a rung delta adjudicable from the artifact (spill vs box
    // state) without a rerun
    def mb(b: Long): String = "%.1f".formatLocal(java.util.Locale.ROOT, b / 1048576.0)
    val tmJson = names.map { n =>
        val cp = cleanPasses(n)
        val i = cp.filter(_ > 0).lastOption.getOrElse(cp.last)
        val m = passMetrics(i).getOrElse(n, new Trace.Tally)
        s"\"" + n + "\":[" + m.runMs + "," + m.gcMs + "," +
          Seq(m.shuffleReadBytes, m.shuffleWriteBytes, m.spillMemBytes, m.spillDiskBytes)
            .map(mb).mkString(",") + "," + (i + 1) + "]"
      }
      .mkString("{", ",", "}")
    // per-pass per-query raw wall times (same order as pass_totals);
    // a query's excluded passes are still SHOWN here — staging_rebuilds
    // / memo_computes say which indices the median skipped
    val passQs = names.map { n =>
        val v =
          if (errors.contains(n)) passes.indices.map(_ => "-1.0")
          else passes.indices.map(i => f3(passes(i)(n)))
        s"\"" + n + "\":" + v.mkString("[", ",", "]")
      }
      .mkString("{", ",", "}")
    // summary fields FIRST: a consumer that cap-sizes the line loses
    // per-query detail, never the round's totals (r7 verdict #5)...
    // which (query, pass) timings included a staged-artifact rebuild /
    // memo cold-compute — the attribution record that lets a reader
    // see WHY a pass was excluded from a median without a round of
    // adjudication
    def passMap(sets: Seq[Set[String]]): String =
      names.filter(n => sets.exists(_.contains(n)))
        .map { n =>
          val ps = sets.indices.filter(i => sets(i).contains(n)).map(_ + 1)
          s"\"" + n + "\":" + ps.mkString("[", ",", "]")
        }
        .mkString("{", ",", "}")
    // the full artifact also lands in a FILE: the driver's stdout
    // capture truncates lines past its cap (r15 verdict #8 —
    // BENCH_r*.json carried parsed:null + a 2,000-char tail, losing
    // the per-query vectors), so the whole object is written where a
    // reader can copy it intact; `artifact` in the summary (present
    // in BOTH truncation directions) points at it
    val artifactPath = new java.io.File(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench_full.json"))
      .getAbsolutePath
    val summary =
      s""""metric":"total","value":${f3(total)},"unit":"sec","sf":"$sfDir",""" +
      s""""passes":${passes.size},"pass_totals":${passTotals.map(f3).mkString("[", ",", "]")},""" +
      s""""cold_total":${f3(passTotals.head)},"warm_total":${f3(warm)},""" +
      s""""staging_rebuilds":${passMap(rebuilt.toSeq)},"memo_computes":${passMap(memoed.toSeq)},""" +
      s""""errors":$errJson,"artifact":"$artifactPath""""
    // ...AND duplicated LAST: the archiver keeps the line's TAIL, so a
    // head-only summary gets truncated away (r8 verdict #2). With a
    // copy at both ends, either truncation direction preserves the
    // totals; `summary_tail` groups the copy under one key so the
    // object stays valid JSON with distinct keys.
    val line = s"""{$summary,"queries":$qs,"cold_queries":$coldQs,""" +
      s""""query_passes":$passQs,""" +
      s""""task_metrics":$tmJson,"cap_audit":$audit,"summary_tail":{$summary}}"""
    try {
      Option(new java.io.File(artifactPath).getParentFile).foreach(_.mkdirs())
      val w = new java.io.PrintWriter(artifactPath, "UTF-8")
      try w.println(line) finally w.close()
    } catch { case scala.util.control.NonFatal(_) => () }   // stdout still carries it
    println(line)
    spark.stop()
  }
}
