package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // Optional 3rd arg: comma-separated query-name filter for fast local
    // iteration (the driver always runs the full registry).
    val only = args.lift(2).map(_.split(",").toSet)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.parquet carries TIMESTAMP(NANOS) which the Spark 4 parquet
      // reader rejects; read as long and let Tables.events rescale.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
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
    // A failed query is never silent: its name, exception class and first
    // message line go to <out>/_failures.json (`[]` when none), every
    // other output is still written, and the run exits 1.
    val failures = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .toSeq.flatMap { case (name, fn) =>
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
          None
        } catch { case e: Throwable =>
          val msg = Option(e.getMessage).flatMap(_.linesIterator.nextOption()).getOrElse("")
          System.err.println(s"[verify] $name failed: ${e.getClass.getName}: $msg")
          Some(s"""{"name": ${q(name)}, "class": ${q(e.getClass.getName)}, "message": ${q(msg)}}""")
        }
      }
    Files.writeString(Paths.get(s"$outDir/_failures.json"), failures.mkString("[", ",\n", "]"))
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failures.nonEmpty) sys.exit(1)
  }
}
