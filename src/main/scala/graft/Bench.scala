package graft

import org.apache.spark.sql.SparkSession

/** Per-round benchmark main. Runs every registered query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line.
  *
  * Each query executes via the `noop` sink — unlike `count()`, which lets
  * Catalyst prune projections and skip computing column expressions, noop
  * forces full evaluation of every output column, so the timing reflects
  * the real operator cost. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", graft.core.GraftSession.DefaultCpus)
    val spark: SparkSession = graft.core.GraftSession.builder("graft-bench", cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Warm pass at the TARGET sf: run every query once untimed so the
    // timed pass measures steady-state operator cost — not per-query
    // Janino compilation, interpreted-lambda classgen, first-use
    // classloading, or one-time fixture materialization (all costs that
    // vanish on a long-lived cluster). A warm failure is NOT swallowed:
    // it is logged and the query is re-warmed, because a query whose warm
    // run died pays its first-touch cost inside the timed window and the
    // headline number silently stops being steady-state.
    def runOnce(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit =
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()

    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
    val warmTimes = ordered.map { case (name, fn) =>
      def attempt(label: String): Option[Double] = {
        val t0 = System.nanoTime()
        try { runOnce(fn); Some((System.nanoTime() - t0) / 1e9) }
        catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[bench] $label $name FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
          None
        }
      }
      // retry once: one-time fixture materialization (e.g. the q48 log
      // file) may have completed as a side effect of the failed attempt
      val t = attempt("warm").orElse(attempt("rewarm"))
      name -> t
    }.toMap
    spark.sharedState.cacheManager.clearCache()

    // Median of 3 timed passes per query, run PASS-MAJOR (pass 1 over all
    // queries, then pass 2, then pass 3) rather than query-major. The
    // official per-query number must not be one environment stall away from
    // a false 10x regression: with query-major passes, a transient machine
    // stall spanning one query's consecutive three-pass block poisons all
    // of its samples at once (round 5 recorded 3.90 s for a 0.22 s query
    // exactly this way). Pass-major spreads any loaded window thinly across
    // the whole surface, so each query's three samples come from three
    // well-separated wall-clock moments and the median recovers steady
    // state. Min is emitted alongside median: under contention the min is
    // the best available steady-state estimate.
    val timedPasses = 3
    val sampleSink =
      scala.collection.mutable.Map.empty[String, List[Double]].withDefaultValue(Nil)
    for (pass <- 1 to timedPasses; (name, fn) <- ordered) {
      val t0 = System.nanoTime()
      try runOnce(fn)
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] $name pass $pass failed: ${e.getMessage}")
      }
      val t = (System.nanoTime() - t0) / 1e9
      // deterministic cache release between passes (the dedup pipelines
      // persist their per-doc signature tables); outside the timed window
      spark.sharedState.cacheManager.clearCache()
      sampleSink(name) = t :: sampleSink(name)
    }
    val results = ordered.map { case (name, _) => name -> sampleSink(name).sorted }
    def median(xs: Seq[Double]): Double = xs(xs.length / 2)
    // warm-vs-timed deltas: a median much slower than its warm run means
    // every timed pass absorbed one-time cost — flag it loudly.
    results.foreach { case (name, samples) =>
      val timed = median(samples)
      val warm = warmTimes.get(name).flatten
      val flag = warm match {
        case Some(w) if timed > w * 2 && timed - w > 1.0 => "  <-- timed >> warm: first-touch leak?"
        case None => "  <-- WARM FAILED: timed runs include first-touch cost"
        case _ => ""
      }
      System.err.println(f"[bench] $name%-28s warm=${warm.map(w => f"$w%.2f").getOrElse("FAIL")}%-8s median=$timed%.2f min=${samples.head}%.2f max=${samples.last}%.2f$flag")
    }
    val medians = results.map { case (name, samples) => name -> median(samples) }
    val mins = results.map { case (name, samples) => name -> samples.head }
    // ONE JSON line, field order chosen for tail-truncation survival:
    // the harness preserves a bounded TAIL of this artifact, so the
    // queries map goes FIRST and the headline fields go LAST — a
    // truncated capture then always retains the totals plus the later
    // part of the map (the full map is also in the stderr per-query
    // lines above and in bench_full.json). Millisecond resolution keeps
    // the line as short as the 100-query surface allows.
    val qs = medians.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val qsMin = mins.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val total = f"${medians.map(_._2).sum}%.3f"
    val totalMin = f"${mins.map(_._2).sum}%.3f"
    val line =
      s"""{"queries":$qs,"queries_min":$qsMin,"value_min":$totalMin,"metric":"total","value":$total,"unit":"sec","sf":"$sfDir"}"""
    // Default output is an UNTRACKED scratch path: three rounds running, a
    // routine bench run overwrote the committed quiet-window baseline
    // (bench_full.json) with a throttled run and the diff had to be
    // reverted by hand. The committed baseline now only changes behind an
    // explicit --repin whose precondition is the SCALE.md rule: the fresh
    // run's per-query medians must sit at a ~1.1x-or-better UNIFORM ratio
    // vs the committed baseline (median of ratios <= 1.1) — i.e. the host
    // is genuinely quiet. Queries absent from the committed baseline
    // (new this round) are excluded from the ratio and do not block.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_last_run.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      line.getBytes("UTF-8"))
    catch { case scala.util.control.NonFatal(_) => () } // best-effort local copy
    // repin must never cost the run its output line: a read-only
    // baseline or full disk is reported, not thrown past the println
    if (args.contains("--repin"))
      try repin(line, medians.toMap)
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] --repin failed: $e — baseline untouched")
      }
    println(line)
    spark.stop()
  }

  /** Rewrite the committed quiet baseline iff this run qualifies as quiet. */
  private def repin(line: String, freshMedians: Map[String, Double]): Unit = {
    val baselinePath = java.nio.file.Paths.get("bench_full.json")
    val committed =
      if (!java.nio.file.Files.exists(baselinePath)) None
      else Some(new String(java.nio.file.Files.readAllBytes(baselinePath), "UTF-8"))
    repinVerdict(committed, freshMedians) match {
      case Left(why) =>
        System.err.println(s"[bench] --repin REFUSED: $why " +
          "bench_full.json left untouched; fresh run is in bench_last_run.json.")
      case Right(how) =>
        java.nio.file.Files.write(baselinePath, line.getBytes("UTF-8"))
        System.err.println(s"[bench] --repin ACCEPTED ($how): bench_full.json rewritten.")
    }
  }

  /** Query medians of a pin's "queries" object ("name":1.234 pairs).
    * Whitespace-tolerant (r20 fix): the committed pin may have been
    * written by a pretty-printer ("queries": { ... , "q": 1.2) — the old
    * no-space pattern matched ZERO queries against such a pin and the
    * guard accepted vacuously ("1.00x over 0 shared queries"), which is
    * no guard at all. */
  private[graft] def pinnedMedians(pin: String): Map[String, Double] = {
    val obj = """"queries"\s*:\s*\{([^}]*)\}""".r
      .findFirstMatchIn(pin).map(_.group(1)).getOrElse("")
    """"([^"]+)"\s*:\s*([0-9.]+)""".r.findAllMatchIn(obj)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
  }

  /** The re-pin guard: Right(summary) when a fresh run with these
    * per-query medians may replace the committed pin, Left(reason) when
    * it must not. `committedPin` is the committed file's text, None when
    * no pin is committed yet (the first pin is always accepted). */
  private[graft] def repinVerdict(committedPin: Option[String],
      freshMedians: Map[String, Double]): Either[String, String] =
    committedPin.map(pinnedMedians) match {
      case None => Right("no committed baseline")
      case Some(committed) =>
        val ratios = freshMedians.toSeq.collect {
          case (name, fresh) if committed.get(name).exists(_ > 0.0) =>
            fresh / committed(name)
        }.sorted
        // a committed pin we failed to parse, or that shares no query
        // with the fresh run, must REFUSE, not accept vacuously — it is
        // no evidence of a quiet host (r20: the old pin's pretty-printed
        // JSON matched zero queries and the guard waved the rewrite
        // through)
        if (committed.isEmpty)
          Left("committed bench_full.json exists but no query medians could " +
            "be parsed from it — fix the baseline (or delete it) before re-pinning;")
        else if (ratios.isEmpty)
          Left("committed bench_full.json shares no query (with a positive " +
            "median) with the fresh run, so no ratio can show the host is " +
            "quiet — fix the baseline (or delete it) before re-pinning;")
        else {
          val medianRatio = ratios(ratios.length / 2)
          // SYMMETRIC acceptance band: >1.10x means the host is loaded,
          // but <0.85x means the fresh run is anomalously fast vs the
          // committed quiet pin (e.g. a one-off cache alignment) —
          // accepting it would ratchet the baseline low enough that
          // honest quiet runs get refused at >1.10x forever after. Both
          // tails leave the pin alone.
          if (medianRatio > 1.1 || medianRatio < 0.85) {
            val why = if (medianRatio > 1.1) "host not quiet" else
              "anomalously fast vs committed pin (would ratchet the baseline)"
            Left(f"median ratio vs committed baseline $medianRatio%.2fx outside " +
              f"[0.85, 1.10] over ${ratios.length} shared queries — $why " +
              f"(band p10=${ratios((ratios.length * 0.1).toInt)}%.2f " +
              f"p90=${ratios((ratios.length * 0.9).toInt)}%.2f).")
          } else
            Right(f"median ratio $medianRatio%.2fx over ${ratios.length} shared queries")
        }
    }
}
