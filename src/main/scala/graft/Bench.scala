package graft
import java.nio.file.{Files, Paths}

/** Benchmark main. Forces FULL execution of every query with a `noop`-format
  * write (a bare `.count()` lets Catalyst collapse projections/sorts into a
  * parquet row-count, which benchmarks nothing). One warm-up query first so
  * JVM/Spark startup isn't billed to whichever query happens to run first.
  *
  * PROTOCOL (recorded in the output JSON as `"protocol"`): windowed
  * min-of-2 with a min-of-3 tail pass for the 10 slowest.
  *
  *  - Each query runs TWICE and the min is reported: single-shot numbers on
  *    a shared box swing ±30%+ on GC/JIT pauses (round 3 recorded three
  *    phantom 4-6x "regressions" that a re-run erased), and the min of two
  *    is the cheapest estimator that discards a one-off pause while still
  *    measuring a full cold execution of the plan.
  *  - After the suite, the 10 SLOWEST queries (by min-so-far) get extra
  *    runs in a fresh session until each has >=3 samples, and ALL their
  *    samples are recorded in the JSON (`"slowest_samples"`). Rationale
  *    (r13 adjudication): a uniform ~6% cross-round drift consumed a
  *    mid-round investigation because one number per query can't separate
  *    box load from regression — the spread of a query's own samples now
  *    travels with the result. The JSON also records the 1-minute system
  *    load average at start and end (`"loadavg"`) for the same reason.
  *  - The SparkSession is RECYCLED every 16 measured queries (untimed, with
  *    one untimed re-warm execution after each recycle). Rationale
  *    (SURVEY §8.0, three rounds of adjudication): a single long-lived
  *    session accumulates state the untimed GC can't fully reclaim — status
  *    store history, broadcast torrents, listener queues — so a query's
  *    measurement depended on its POSITION in the suite, and the tax grew
  *    with suite size (201 -> 257 queries drifted the shared total 1.07x
  *    with every individual query in-band when re-run solo). Bounding the
  *    window at 16 makes every query's environment "a session that has run
  *    at most 16+1 queries" REGARDLESS of how many queries the suite has —
  *    numbers stay comparable across rounds as the suite grows, and
  *    approximate the clean-solo protocol at ~1/16 of its restart cost.
  *
  * Every query body is re-entrant: the stateful pipelines (q23/q44/q47/q49)
  * create fresh checkpoint dirs / fixture servers per invocation, and
  * bucketed-layout queries re-create their tables in the new session's temp
  * warehouse.
  *
  * Output: one JSON line on stdout AND the same JSON written to
  * `$SPARK_GRAFT_BENCH_OUT` (default `bench_out_c<N>.json` in the CWD,
  * `N` the session's core count, with a copy in the legacy
  * `bench_out.json`) so a harness can parse it without scraping sbt log
  * tails.
  */
object Bench {
  private val WindowSize = 16

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    var spark = GraftSession.local("graft-bench")

    def exec(name: String): Double = {
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}"); return -1.0
      }
      val dt = (System.nanoTime() - t0) / 1e9
      // UNTIMED inter-query cleanup — the suite-vs-isolated artifact fix
      // (SURVEY §8.0): releasing caches and forcing the GC between queries
      // pays the cleanup cost on the untimed boundary instead of landing a
      // full-GC storm in the middle of whichever query is running.
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      System.gc()
      dt
    }

    // Warm-up: executes the whole stack (parquet footer reads, codegen,
    // shuffle machinery) once; not reported. Re-run after every session
    // recycle so no measured query pays the new session's first-run costs.
    def warm(): Unit = exec("q01_agg_pricing")
    warm()

    // Optional args restrict the run to the named queries (local iteration);
    // the driver invokes with no args and gets the full sorted suite. A
    // typo'd name must fail loudly, not silently measure nothing.
    val unknown = args.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty) {
      System.err.println(
        s"[bench] unknown queries: ${unknown.mkString(", ")}; valid: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}")
      spark.stop()
      sys.exit(2)
    }
    val names =
      if (args.nonEmpty) SparkEntry.queries.keys.toSeq.sorted.filter(args.contains)
      else SparkEntry.queries.keys.toSeq.sorted
    // Queries that have produced phantom cross-round "regressions" that
    // isolated re-measurement erased (SURVEY §8.0: r5, r6, q39 in r7, q59
    // and q35 in r8); one extra sample tightens exactly the set whose
    // noise has repeatedly demanded manual adjudication.
    val minOfThree = Set("q32_dedup_simhash", "q48_cosine_pairs_lsh", "q39_ngram_jaccard",
      "q59_repetition", "q35_tfidf")
    // min-of-two (three for the adjudicated set); a failed run (-1) wins
    // the min, keeping the failure marker
    def loadAvg(): Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    val loadStart = loadAvg()
    val samples = scala.collection.mutable.LinkedHashMap.empty[String, List[Double]]
    names.zipWithIndex.foreach { case (n, i) =>
      if (i > 0 && i % WindowSize == 0) {
        // untimed session recycle on the window boundary
        spark.stop()
        spark = GraftSession.local("graft-bench")
        warm()
      }
      val runs = if (minOfThree(n)) 3 else 2
      samples(n) = List.fill(runs)(exec(n))
    }
    // Self-diagnosing tail pass: bring the 10 slowest to >=3 samples each
    // in a FRESH session, so a one-off pause during the main suite can't
    // masquerade as a regression in next round's comparison.
    val top10 = samples.toSeq.filter(_._2.min >= 0).sortBy(-_._2.min).take(10).map(_._1)
    if (top10.nonEmpty) {
      spark.stop()
      spark = GraftSession.local("graft-bench")
      warm()
      top10.foreach { n =>
        val extra = math.max(1, 3 - samples(n).length)
        samples(n) = samples(n) ++ List.fill(extra)(exec(n))
      }
    }
    val loadEnd = loadAvg()
    val results = samples.toSeq.map { case (n, ss) =>
      n -> (if (ss.exists(_ < 0)) -1.0 else ss.min)
    }
    // JSON string escape (names, paths, sfDir are interpolated — a quote or
    // backslash in a path must not produce an unparseable snapshot line)
    def jstr(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val protocol = s"min2-window$WindowSize-top10min3"
    val qs = results.map { case (k, v) => jstr(k) + ":" + v }
      .mkString("{", ",", "}")
    val slowSamples = top10.map(n => jstr(n) + ":" + samples(n).mkString("[", ",", "]"))
      .mkString("{", ",", "}")
    val load = s"""{"start":$loadStart,"end":$loadEnd}"""
    val total = results.map(_._2).filter(_ >= 0).sum
    // Per-core-count DEFAULT output path (r18 verdict #2): the driver
    // benches the suite at two core counts back-to-back from one CWD, and
    // the shared default meant the later (8-core) run overwrote the
    // 32-core per-query map before the comparator read it —
    // PERF_r18.per_query came back empty. The full map cannot ride the
    // driver's 2000-char log-tail capture (~12 KB at 349 queries), so each
    // core count writes its own file and the tail line's `queries_in`
    // names it; the legacy `bench_out.json` is still written (when no
    // explicit path is given) so nothing that read the old location
    // breaks. Additions only — the one-line full-JSON contract
    // (metric/value/unit/queries/sf) and every existing field are
    // unchanged.
    val cpus = coreCount(spark.sparkContext.master)
    val outExplicit = sys.env.get("SPARK_GRAFT_BENCH_OUT")
    val out = outExplicit.getOrElse(s"bench_out_c$cpus.json")
    // Mechanical cross-round adjudication (r16 verdict #6): the §8.0
    // load-vs-code call as COMPUTED fields instead of a per-round
    // argument. The previous round's committed per-query snapshot (same
    // per-cpu path, read BEFORE this run overwrites it, or
    // SPARK_GRAFT_BENCH_PREV) supplies the shared-query baseline — same
    // core count, so the ratio compares like with like — and ITS load
    // averages; when the per-cpu file is missing, the legacy
    // `bench_out.json` serves if it records the same core count. The
    // verdict classifies the shared-median movement against the measured
    // load delta: <= 1.10x is in-band (the §8.0 swing window), above that
    // a >= 1.25x mean-load increase points at the box, else at the code.
    val prev = sys.env.get("SPARK_GRAFT_BENCH_PREV") match {
      case Some(p) => parsePrev(p)
      case None => parsePrev(out).orElse(
        if (outExplicit.isEmpty) parsePrev("bench_out.json").filter(_._4.contains(cpus)) else None)
    }
    val (ratioJson, sharedN, verdict) = prev match {
      case None => ("null", 0, "no-prev")
      case Some((pq, pl0, pl1, _)) =>
        val ratios = results.collect {
          case (n, v) if v > 0 && pq.get(n).exists(_ > 0) => v / pq(n)
        }.sorted
        if (ratios.isEmpty) ("null", 0, "no-shared")
        else {
          val m =
            if (ratios.size % 2 == 1) ratios(ratios.size / 2)
            else (ratios(ratios.size / 2 - 1) + ratios(ratios.size / 2)) / 2
          val curLoad = (loadStart + loadEnd) / 2
          val prevLoad = math.max(0.01, (pl0 + pl1) / 2)
          val v =
            if (m <= 1.10) "in-band"
            else if (curLoad > prevLoad * 1.25) "load-suspect"
            else "regression-suspect"
          (f"$m%.4f", ratios.size, v)
        }
    }
    val adjudication =
      s""""shared_median_ratio":$ratioJson,"shared_n":$sharedN,"load_verdict":${jstr(verdict)}"""
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","protocol":"$protocol","cpus":$cpus,"loadavg":$load,$adjudication,"queries":$qs,"slowest_samples":$slowSamples,"sf":${jstr(sfDir)}}"""
    Files.writeString(Paths.get(out), json + "\n")
    // legacy location kept alongside the per-cpu default (only for
    // default-path runs: an explicit SPARK_GRAFT_BENCH_OUT — probe runs —
    // must not clobber the committed bench_out.json in the CWD)
    if (outExplicit.isEmpty) Files.writeString(Paths.get("bench_out.json"), json + "\n")
    println(json)
    // The driver snapshots only the last ~2000 log chars; the full line
    // above (~10 KB at 259 queries) truncates there and parses as null
    // (BENCH_r12 `"parsed": null`). Emit a compact, tail-sized summary as
    // the LAST line so the snapshot is self-describing: headline total,
    // protocol, load averages, failure list, and the 5 slowest queries
    // inline; the full per-query map lives in `out` (committed per round).
    val failed = results.filter(_._2 < 0).map(_._1)
    val slowest = results.filter(_._2 >= 0).sortBy(-_._2).take(5)
      .map { case (k, v) => jstr(k) + ":" + v }.mkString("{", ",", "}")
    println(
      s"""{"metric":"total","value":$total,"unit":"sec","protocol":"$protocol","loadavg":$load,$adjudication,"n_queries":${names.size},"failed":${failed.map(jstr).mkString("[", ",", "]")},"slowest5":$slowest,"queries_in":${jstr(out)},"sf":${jstr(sfDir)}}""")
    spark.stop()
  }

  /** Core count of the resolved master: `N` of `local[N]` (or
    * `local[N, retries]`), the machine's processors for `local[*]`, else
    * `SPARK_GRAFT_CPUS`. `SPARK_GRAFT_MASTER` overrides `SPARK_GRAFT_CPUS`
    * in GraftSession, so the env variable alone can mislabel a run. */
  private[graft] def coreCount(master: String): String =
    """local\[(\d+|\*)""".r.findPrefixMatchOf(master).map(_.group(1)) match {
      case Some("*") => Runtime.getRuntime.availableProcessors.toString
      case Some(n) => n
      case None => sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    }

  /** Minimal parse of a previous bench_out.json (our own known shape — no
    * JSON lib on the classpath): the per-query seconds map, the run's
    * load averages and its core count (absent before the field existed).
    * Any malformed/missing file degrades to None (the adjudication then
    * reports "no-prev", never fails the bench). */
  private[graft] def parsePrev(path: String): Option[(Map[String, Double], Double, Double, Option[String])] =
    try {
      if (!Files.exists(Paths.get(path))) None
      else {
        val s = Files.readString(Paths.get(path))
        val qBlock = """"queries":\{([^}]*)\}""".r.findFirstMatchIn(s).map(_.group(1))
        val pair = """"([^"]+)":(-?[0-9][0-9.eE+-]*)""".r
        val qs = qBlock.map(b =>
          pair.findAllMatchIn(b).map(m => m.group(1) -> m.group(2).toDouble).toMap)
        val la = """"loadavg":\{"start":([0-9.eE+-]+),"end":([0-9.eE+-]+)\}""".r
          .findFirstMatchIn(s)
        val cpus = """"cpus":([0-9]+)""".r.findFirstMatchIn(s).map(_.group(1))
        for (q <- qs; l <- la) yield (q, l.group(1).toDouble, l.group(2).toDouble, cpus)
      }
    } catch { case scala.util.control.NonFatal(_) => None }
}
