package graft
import java.nio.file.{Files, Paths}
import java.util.concurrent.Executors
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Survivability contract (round-8 lost the whole artifact to a driver
  * wall-time overrun): oracle_sql.json is written FIRST — it needs no
  * Spark — and each query's parquet lands as soon as that query
  * finishes, so a timeout at any point still leaves the driver every
  * completed query plus the full oracle map to compare them against.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    new java.io.File(outDir).mkdirs()

    // ---- 1. oracle_sql.json before ANY Spark work ----
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

    // ---- 2. Spark session ----
    val spark = SparkEntry.sessionBuilder(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Spark 4.1 lazily builds ICU collation case tables on the first
    // lower()/upper() — a one-time ~10-70 s CPU hit on a loaded box
    // (observed inside a task during round 8's driver window). Pay it
    // here, outside any query's measurement or timeout budget.
    spark.sql("SELECT lower('Warm'), upper('warm')").collect()

    // ---- 3. queries; each parquet lands as the query finishes ----
    // A modest thread pool overlaps driver-side planning + janino
    // codegen (single-threaded per query, a large share of sf0.01
    // wall) with execution of its neighbours. Each query writes to its
    // own directory; failures are per-query, never fatal.
    val par = sys.env.getOrElse("SPARK_GRAFT_VERIFY_PAR", "4").toInt
      .max(1)
    val pool = Executors.newFixedThreadPool(par)
    implicit val ec: ExecutionContext =
      ExecutionContext.fromExecutor(pool)
    // SPARK_GRAFT_VERIFY_ONLY: opt-in comma-separated query-name
    // filter for out-of-band slices (the ×10 oracle run skips the
    // deliberately super-linear all-pairs twins); unset = all queries,
    // which is what the driver runs.
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val t0 = System.nanoTime()
    val futures = selected.map {
      case (name, fn) => Future {
        val q0 = System.nanoTime()
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          System.err.println(f"[verify] $name ok ${(System.nanoTime() - q0) / 1e9}%.1fs (t+${(System.nanoTime() - t0) / 1e9}%.0fs)")
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    }
    futures.foreach(f => Await.ready(f, Duration.Inf))
    pool.shutdown()
    System.err.println(
      f"[verify] done ${futures.size} queries in ${(System.nanoTime() - t0) / 1e9}%.0fs")
    spark.stop()
  }
}
