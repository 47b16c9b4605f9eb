package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.tune(spark)
    // Shape tripwire (round-5 lesson: silent testdata regeneration only
    // surfaced as opaque hash/analysis failures). Loud, not fatal — a
    // drifted column should not zero the whole round's correctness.
    graft.sources.DataShape.violations(spark, sfDir)
      .foreach(v => System.err.println(s"[shape] DRIFT: $v"))
    // raw-footer tripwire (round 6 ADVICE follow-up): a NEW encoding that
    // the normalization happens to absorb still gets NAMED here
    graft.sources.DataShape.rawViolations(spark, sfDir)
      .foreach(v => System.err.println(s"[shape] RAW DRIFT: $v"))
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // planted-ground-truth gates for the queries the DuckDB oracle cannot
    // mirror — recall-of-planted-truth, not golden files (see SelfCheck)
    val sc = SelfCheck.run(spark, sfDir)
    val scJson = SelfCheck.toJson(sc)
    Files.writeString(Paths.get(s"$outDir/selfcheck.json"), scJson)
    Files.writeString(Paths.get("SELFCHECK.json"), scJson)
    val nPass = sc.count(_.pass)
    sc.filterNot(_.pass).foreach(r =>
      System.err.println(s"[selfcheck] FAIL ${r.name}: planted=${r.planted} found=${r.found} ${r.detail}"))
    println(s"[selfcheck] $nPass pass / ${sc.size - nPass} fail")
    spark.stop()
  }
}
