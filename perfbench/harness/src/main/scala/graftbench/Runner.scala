package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.storage.StorageLevel

/** One call into the program: its phase times, checked output and the
  * job-group spans the trace attributes Spark work to.
  */
final class OpRec(val pass: Int, val idx: Int, val kind: String, val key: String) {
  val phaseNs: mutable.LinkedHashMap[String, Long] = mutable.LinkedHashMap.empty
  /** (phase, start, end) in epoch ms, to intersect with job intervals. */
  val spans: mutable.ArrayBuffer[(String, Long, Long)] = mutable.ArrayBuffer.empty
  var result: Result = Result(Nil, Nil)
  var error: String = ""
  var writeFiles = 0L

  def group(phase: String): String = s"p$pass:o$idx:$phase"
  /** Wall time of the call itself; harness checks are not part of it. */
  def wallNs: Long = phaseNs.collect { case (p, ns) if p != "check" => ns }.sum
}

/** Runs ops and passes, and keeps the per-pass record. With tracing on,
  * each op phase runs under its own job group, planning is forced as a
  * separate span, and a pass's Spark work is read back from the listener.
  */
final class Runner(val spark: SparkSession, val listener: Option[LayerListener], slots: Int) {
  private val sc = spark.sparkContext
  val traced: Boolean = listener.isDefined
  val passes: mutable.ArrayBuffer[Map[String, Any]] = mutable.ArrayBuffer.empty
  /** First output seen per op key; perfbench/run.py checks it against DuckDB. */
  val firstResults: mutable.LinkedHashMap[String, Result] = mutable.LinkedHashMap.empty
  /** RDDs the harness itself caches; their blocks are not the program's pins. */
  val harnessRdds: mutable.Set[Int] = mutable.Set.empty
  private var checkCounters = JvmCounters.zero
  private var checkNs = 0L
  private var pass = 0
  private var ops = mutable.ArrayBuffer.empty[OpRec]

  final class Ctx(val rec: OpRec) {
    def phase[T](name: String)(f: => T): T = {
      if (traced) sc.setJobGroup(rec.group(name), rec.key)
      val c0 = if (name == "check") JvmCounters.now() else null
      val ms0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try f
      finally {
        val dt = System.nanoTime() - t0
        rec.phaseNs(name) = rec.phaseNs.getOrElse(name, 0L) + dt
        rec.spans += ((name, ms0, System.currentTimeMillis()))
        if (c0 != null) { checkCounters += JvmCounters.now() - c0; checkNs += dt }
        if (traced) sc.clearJobGroup()
      }
    }
    def build[T](f: => T): T = phase("build")(f)
    /** Forces physical planning (traced runs only); the action reuses it. */
    def plan(df: DataFrame): Unit = if (traced) phase("plan")(df.queryExecution.executedPlan)
    def act[T](f: => T): T = phase("act")(f)
    def post[T](f: => T): T = phase("post")(f)
    def check[T](f: => T): T = phase("check")(f)

    /** Builds, plans, collects and canonicalizes a DataFrame call. */
    def rows(df: => DataFrame): Result = {
      val d = build(df)
      plan(d)
      val rs = act(d.collect())
      post(Canon.result(d.columns.toSeq, rs))
    }

    /** Caches a stage output (harness-owned) and returns it with its count. */
    def materialize(df: DataFrame): (DataFrame, Long) = {
      plan(df)
      val c = df.persist(StorageLevel.MEMORY_AND_DISK)
      val n = act(c.count())
      c.queryExecution.withCachedData.foreach {
        case r: InMemoryRelation => harnessRdds += r.cacheBuilder.cachedColumnBuffers.id
        case _ =>
      }
      (c, n)
    }
  }

  def op(kind: String, key: String)(body: Ctx => Result): OpRec = {
    val rec = new OpRec(pass, ops.size, kind, key)
    ops += rec
    try rec.result = body(new Ctx(rec))
    catch { case e: Exception => rec.error = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500) }
    if (rec.error.isEmpty) firstResults.get(key) match {
      case None => firstResults(key) = rec.result
      case Some(first) if first.digest != rec.result.digest =>
        rec.error = "output differs from the first call with the same key"
      case _ =>
    }
    rec
  }

  /** Runs one pass and appends its record; returns its wall time in s. */
  def runPass(body: => Unit): Double = {
    ops = mutable.ArrayBuffer.empty
    checkCounters = JvmCounters.zero
    checkNs = 0L
    val c0 = JvmCounters.now()
    val t0 = System.nanoTime()
    body
    val wallNs = System.nanoTime() - t0 - checkNs
    val jvm = JvmCounters.now() - c0 - checkCounters
    val rec = mutable.LinkedHashMap[String, Any](
      "pass" -> pass,
      "wall_s" -> wallNs / 1e9,
      "codegen_compiles" -> jvm.compiles,
      "codegen_ms" -> jvm.codegenNs / 1e6,
      "jit_ms" -> jvm.jitMs,
      "gc_ms" -> jvm.gcMs,
      "ops" -> ops.map(o => Map(
        "kind" -> o.kind, "key" -> o.key, "ms" -> o.wallNs / 1e6,
        "error" -> o.error, "digest" -> o.result.digest)))
    listener.foreach { l =>
      org.apache.spark.graftbench.Bus.drain(sc)
      rec("layers") = layers(l, wallNs / 1e6, jvm)
    }
    passes += rec.toMap
    pass += 1
    wallNs / 1e9
  }

  /** The pass split into layers: phase self-times that add up to the wall,
    * and the Spark and JVM counters of every job the calls ran.
    */
  private def layers(l: LayerListener, wallMs: Double, jvm: JvmCounters): Map[String, Any] = {
    val phases = Seq("build", "plan", "act", "post", "check")
    val accs = l.take(for (o <- ops; p <- phases) yield o.group(p))
    l.clear()
    def ms(p: String) = ops.map(_.phaseNs.getOrElse(p, 0L)).sum / 1e6
    // the share of each action span during which one of its jobs ran
    val execMs = (for (o <- ops; (p, a, b) <- o.spans if p == "act") yield {
      val ivs = accs.get(o.group("act")).toSeq.flatMap(_.jobSpans)
        .map { case (s, e) => (math.max(s, a), math.min(e, b)) }.filter(iv => iv._2 > iv._1).sorted
      var covered = 0L
      var end = Long.MinValue
      ivs.foreach { case (s, e) =>
        if (e > end) { covered += e - math.max(s, end); end = e }
      }
      covered.toDouble
    }).sum
    val work = ops.flatMap(o => Seq("build", "plan", "act", "post").flatMap(p => accs.get(o.group(p))))
    val build = ops.flatMap(o => accs.get(o.group("build")))
    val pins = work.flatMap(_.blocks).filterNot(b => harnessRdds(b._1))
    val runMs = work.map(_.runMs).sum.toDouble
    val mb = 1024.0 * 1024.0
    val actMs = ms("act")
    Map(
      "build.ms" -> ms("build"),
      "build.jobs" -> build.map(_.jobs).sum,
      "pin.blocks" -> pins.size,
      "pin.mb" -> pins.map(_._2).sum / mb,
      "plan.ms" -> ms("plan"),
      "exec.ms" -> execMs,
      "exec.jobs" -> work.map(_.jobs).sum,
      "exec.stages" -> work.map(_.stages).sum,
      "exec.tasks" -> work.map(_.tasks).sum,
      "exec.sched_delay_ms" -> work.map(_.schedMs).sum,
      "exec.task_cpu_ms" -> work.map(_.cpuNs).sum / 1e6,
      "exec.task_run_ms" -> runMs,
      "exec.max_task_ms" -> (0L +: work.map(_.maxTaskMs)).max,
      "exec.shuffle_write_mb" -> work.map(_.shuffleWrite).sum / mb,
      "exec.shuffle_read_mb" -> work.map(_.shuffleRead).sum / mb,
      "exec.spill_mb" -> work.map(_.spill).sum / mb,
      "exec.input_rows" -> work.map(_.inRows).sum,
      "exec.input_mb" -> work.map(_.inBytes).sum / mb,
      "exec.parallel_eff" -> runMs / (wallMs * slots),
      "driver.ms" -> (actMs - execMs + ms("post")),
      "harness.ms" -> (wallMs - ms("build") - ms("plan") - actMs - ms("post")),
      "codegen.compiles" -> jvm.compiles,
      "codegen.ms" -> jvm.codegenNs / 1e6,
      "jit.ms" -> jvm.jitMs,
      "gc.ms" -> jvm.gcMs,
      "write.mb" -> work.map(_.outBytes).sum / mb,
      "write.files" -> ops.map(_.writeFiles).sum,
      "spans" -> ops.map(o => Map("kind" -> o.kind, "key" -> o.key,
        "ms" -> o.wallNs / 1e6,
        "jobs" -> Seq("build", "plan", "act", "post").flatMap(p => accs.get(o.group(p))).map(_.jobs).sum)))
  }
}
