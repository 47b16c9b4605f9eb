package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Driver-run benchmark: every SparkEntry.query timed on SPARK_GRAFT_SF_DIR.
  *
  * Noise handling (this box has ±50% neighbor noise — see CLAUDE.md):
  * each query runs SPARK_GRAFT_BENCH_REPS times (default 3) and reports
  * the per-query MEDIAN; the total is the sum of successful medians only.
  * Failed queries are listed in "failed" and carry -1.0 in "queries" —
  * they are never summed (a -1 sentinel in the total would make a failing
  * run look faster than a clean one).
  *
  * Reps are INTERLEAVED round-robin across the catalog (rep r of every
  * query runs before rep r+1 of any): one query's reps are separated by a
  * full catalog pass, so a contended window shorter than a pass degrades
  * at most ONE rep of each query it overlaps — recoverable by the
  * per-query median — instead of every rep of the few queries unlucky
  * enough to run inside it. This is what makes the artifact comparable
  * across driver rounds on a shared box.
  *
  * The artifact also embeds its own committed-vs-current adjudication
  * (the scripts/compare_bench.py logic): the previous artifact at
  * SPARK_GRAFT_BENCH_OUT is read before being overwritten and every
  * median delta beyond 1.5x is classified as real (disjoint [min,max]
  * rep intervals) or noise (overlapping intervals).
  *
  * Output: ONE bare JSON line on stdout, and the same line written to
  * SPARK_GRAFT_BENCH_OUT (default ./BENCH_LOCAL.json) so the result stays
  * machine-readable even when sbt wraps stdout in [info] prefixes.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json")
    // read the previous artifact BEFORE the run (it is overwritten below)
    val prevArtifact: Option[String] =
      try { if (Files.exists(Paths.get(outPath))) Some(Files.readString(Paths.get(outPath))) else None }
      catch { case _: Throwable => None }
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.tune(spark)

    def once(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      // hash-reduce every output column: a bare count() would let Catalyst
      // prune the projections and benchmark only the scan
      import org.apache.spark.sql.functions.{sum, xxhash64, col}
      df.select(xxhash64(df.columns.toIndexedSeq.map(col): _*).as("__h"))
        .agg(sum("__h")).head()
      (System.nanoTime() - t0) / 1e9
    }
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }

    val entries = SparkEntry.queries.toSeq
    val times = scala.collection.mutable.LinkedHashMap(
      entries.map { case (n, _) => n -> scala.collection.mutable.ArrayBuffer.empty[Double] }: _*)
    val failedSet = scala.collection.mutable.Set.empty[String]
    for (r <- 0 until reps; (name, fn) <- entries if !failedSet(name)) {
      try times(name) += once(fn)
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed (rep $r): " + e.getMessage)
        failedSet += name
        times(name).clear()
      }
    }
    // noisy-set densification (round 7): queries whose COMMITTED spread
    // had max/min > 2 get two extra interleaved reps — tighter [min,max]
    // intervals make the disjoint-interval adjudication decisive exactly
    // where it has been indecisive, at no cost to the stable majority.
    val noisySet: Set[String] = prevArtifact.flatMap { text =>
      try {
        val om = new com.fasterxml.jackson.databind.ObjectMapper()
        val oldS = om.readTree(text).path("queries_spread")
        val s = scala.collection.mutable.Set.empty[String]
        val it = oldS.fieldNames()
        while (it.hasNext) {
          val n = it.next()
          val arr = oldS.path(n)
          if (arr.isArray && arr.size() == 3 && arr.get(0).asDouble > 0 &&
            arr.get(2).asDouble / arr.get(0).asDouble > 2.0) s += n
        }
        Some(s.toSet)
      } catch { case _: Throwable => None }
    }.getOrElse(Set.empty)
    for (_ <- 0 until 2; (name, fn) <- entries if noisySet(name) && !failedSet(name)) {
      try times(name) += once(fn)
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed (extra rep): " + e.getMessage)
        failedSet += name
        times(name).clear()
      }
    }
    // report only queries that actually received the densified reps —
    // the raw noisySet can name renamed/removed/failed queries, and the
    // artifact's noisy_5rep is what adjudication readers trust
    val densified = entries.collect {
      case (n, _) if times(n).size > reps => n
    }
    val results: Seq[(String, Seq[Double])] = entries.map { case (n, _) => n -> times(n).toSeq }
    val failed = results.collect { case (n, ts) if ts.isEmpty => n }
    val medians = results.collect { case (n, ts) if ts.nonEmpty => n -> median(ts) }
    val total = medians.map(_._2).sum
    val qs = results.map { case (k, ts) =>
      s"\"" + k + "\":" + (if (ts.isEmpty) "-1.0" else median(ts).toString)
    }.mkString("{", ",", "}")
    // per-query [min, median, max] across the reps: the regression-vs-noise
    // adjudication signal (a wide spread = box noise; a tight spread
    // shifted up = a real plan change) — SURVEY §6
    val spread = results.map { case (k, ts) =>
      val body = if (ts.isEmpty) "[-1.0,-1.0,-1.0]"
        else s"[${ts.min},${median(ts)},${ts.max}]"
      s"\"" + k + "\":" + body
    }.mkString("{", ",", "}")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")

    // committed-vs-current adjudication, embedded in the artifact itself:
    // a >1.5x median delta with DISJOINT [min,max] rep intervals is real;
    // overlapping intervals put it inside the documented noise band.
    val medMap = medians.toMap
    val spreadMap = results.collect { case (n, ts) if ts.nonEmpty => n -> ((ts.min, ts.max)) }.toMap
    val adjudication: String = prevArtifact.flatMap { text =>
      try {
        val om = new com.fasterxml.jackson.databind.ObjectMapper()
        val root = om.readTree(text)
        val oldQ = root.path("queries")
        val oldS = root.path("queries_spread")
        // global shift = catalog-median of per-query ratios. A uniformly
        // loaded box moves EVERY query together (a run at 1.4x across
        // footer-only reads and 2M-row joins alike is contention, not 85
        // simultaneous plan changes); a real regression is a query that
        // moved >1.5x BEYOND the shift, with disjoint rep intervals.
        val allRatios = scala.collection.mutable.ArrayBuffer.empty[Double]
        val it0 = oldQ.fieldNames()
        while (it0.hasNext) {
          val name = it0.next()
          val o = oldQ.path(name).asDouble(-1.0)
          medMap.get(name).foreach(n => if (o > 0 && n > 0) allRatios += n / o)
        }
        val globalShift = if (allRatios.isEmpty) 1.0 else median(allRatios.toSeq)
        val rows = scala.collection.mutable.ArrayBuffer.empty[(String, String, String)]
        var real = 0; var noise = 0; var improved = 0
        val it = oldQ.fieldNames()
        while (it.hasNext) {
          val name = it.next()
          val om0 = oldQ.path(name).asDouble(-1.0)
          medMap.get(name).foreach { nm =>
            if (om0 > 0 && nm > 0) {
              val ratio = nm / om0
              val norm = ratio / globalShift
              if (norm > 1.5 || norm < 1 / 1.5) {
                val os = oldS.path(name)
                val overlap = os.isArray && spreadMap.contains(name) && {
                  val (nMin, nMax) = spreadMap(name)
                  math.min(os.get(2).asDouble, nMax) >= math.max(os.get(0).asDouble, nMin)
                }
                // self-adjudication of would-be regressions (VERDICT r14
                // #6, the r13 run-L rule automated): if the new run's
                // FASTEST rep lands within 25% of the committed
                // interval's TOP (the intervals nearly touch), the query
                // demonstrably still runs at near-committed speed on
                // this box — the median shift is per-rep contention, not
                // a plan change (a real plan regression moves the whole
                // interval away: a consistent 1.5x-norm shift leaves a
                // >25% gap and stays "regressed"). The r14 driver flags
                // all carry this signature (gaps 1%/2%/12%). Requires
                // committed spread data, like the overlap rule. The
                // fastest rep is shift-NORMALIZED like the median
                // (ADVICE r15): on a fast box (shift << 1) a genuine
                // 1.5x-norm regression has a raw ratio near 1.0 and its
                // raw min would sit inside the raw band — the near-touch
                // test must measure the same quantity the 1.5x gate does.
                val bestRepInBand = norm > 1 && os.isArray &&
                  spreadMap.contains(name) &&
                  spreadMap(name)._1 / globalShift <= os.get(2).asDouble * 1.25
                val verdict =
                  if (overlap) { noise += 1; "noise" }
                  else if (bestRepInBand) { noise += 1; "noise_spread_overlap" }
                  else if (norm > 1) { real += 1; "regressed" }
                  else { improved += 1; "improved" }
                rows += ((name, verdict,
                  f"""{"old":$om0,"new":$nm,"ratio":${ratio}%.3f,"norm_ratio":${norm}%.3f,"verdict":"$verdict"}"""))
              }
            }
          }
        }
        val deltas = rows.map { case (n, _, body) => s"\"$n\":$body" }.mkString("{", ",", "}")
        // provenance: the compared file's content hash + its recorded
        // total, so the block is attributable even after the file at
        // outPath is overwritten by this very run (ADVICE r5).
        val oldSha = java.security.MessageDigest.getInstance("SHA-256")
          .digest(text.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
        val oldTotal = root.path("value").asDouble(-1.0)
        Some(f"""{"vs":{"path":"$outPath","sha256_12":"$oldSha","old_total":${oldTotal}%.3f},"global_shift":${globalShift}%.3f,"regressed":$real,"improved":$improved,"noise":$noise,"deltas":$deltas}""")
      } catch { case e: Throwable =>
        System.err.println(s"[bench] adjudication skipped: ${e.getMessage}"); None
      }
    }.getOrElse("null")

    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"queries_spread":$spread,"sf":"$sfDir","reps":$reps,"interleaved":true,"noisy_5rep":${densified.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")},"n_failed":${failed.size},"failed":$failedJson,"adjudication":$adjudication}"""
    try Files.writeString(Paths.get(outPath), json + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] could not write $outPath: ${e.getMessage}") }
    // the artifact at outPath is the CANONICAL channel (the driver's stdout
    // parse has failed on wrapped/interleaved lines two rounds running —
    // BENCH_r06/r07 parsed:null). The stdout line is printed LAST, after
    // spark.stop(), so no executor/shutdown logging can interleave mid-line.
    spark.stop()
    System.out.println(json)
    System.out.flush()
  }
}
