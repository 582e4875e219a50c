package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = EngineSession.local("graft-verify")
    // oracle-gated mode: the auto-dispatched operators (q22/q155/q172)
    // must fail LOUD if a fixture ever grows past their exact-path row
    // budget during this dump — their registered oracles are the exact
    // forms, and a silent escape-path dispatch would surface as a
    // baffling hash mismatch instead (r11 ADVICE item 3)
    sys.props("graft.oracle.gated") = "true"
    new java.io.File(outDir).mkdirs()
    val selected = SparkEntry.queries.filter { case (n, _) => SparkEntry.envSelected(n) }
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failures(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
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
    // static oracles plus the session-generated ones (fitted-model
    // parameters inlined as exact literals — the queries were just run
    // above in this same session, so both sides see the same model).
    // Dynamic generation runs Spark jobs (model fits); a failure there
    // must degrade to "that query has no oracle", never abort before
    // oracle_sql.json exists (which would zero the whole round).
    val dynamic =
      try SparkEntry.dynamicOracleSql(spark, sfDir)
      catch {
        case e: Throwable =>
          System.err.println(s"[verify] dynamic oracle generation failed: ${e.getMessage}")
          Map.empty[String, String]
      }
    val json = (SparkEntry.oracleSql ++ dynamic)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // self-describing failures: a query that threw is RECORDED, not
    // silently absent — round 6's fixture break surfaced only because
    // the judge diffed entry counts; a standalone consumer of the
    // artifact would have read 135/135 green and concluded the round
    // passed. Always written (empty object when clean) so its absence
    // can never be confused with "no failures".
    val failJson = failures
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_failures.json"), failJson)
    if (failures.nonEmpty)
      System.err.println(s"[verify] ${failures.size} queries failed — see _failures.json")
    spark.stop()
  }
}
