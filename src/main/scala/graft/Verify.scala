package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name subset (dev loop —
    // the driver always passes two args and gets the full dump)
    val (sfDir, outDir) = (args(0), args(1))
    val only: String => Boolean =
      if (args.length > 2) args(2).split(',').toSet else _ => true
    val spark = GraftExtensions.session(GraftExtensions.cores)
    new java.io.File(outDir).mkdirs()
    val failed = SparkEntry.queries.toSeq.filter(kv => only(kv._1)).flatMap {
      case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // the declared no-oracle→twin invariant, for check.py to enforce
    val twins = SparkEntry.twins
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/twins.json"), twins)
    // explicit full-vs-subset marker: check.py's twin enforcement
    // must not INFER completeness from oracle dirs alone — a subset
    // that happens to include every oracle query but omits rows-only
    // keys would read as full and flag every twin stale (r12 ADVICE)
    Files.writeString(Paths.get(s"$outDir/manifest.json"),
      s"""{"full": ${args.length <= 2}}""")
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} queries failed: " +
        failed.sorted.mkString(", "))
      sys.exit(1)
    }
  }

  /** JSON string escape: backslash, quote, and ALL control chars
    * (< 0x20) — a tab or CR in a query's oracle SQL would otherwise
    * make `json.load` of `oracle_sql.json` fail and silently zero the
    * correctness check. Bench's warn flag goes through it too. */
  private[graft] def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
