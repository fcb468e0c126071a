package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [only,names]")
    val (sfDir, outDir) = (args(0), args(1))
    // optional further args: query names (comma- or space-separated), for
    // targeted local oracle checks — the driver always passes two args.
    // Unknown names fail FAST: a typo'd filter would otherwise select
    // zero queries and exit 0 having verified nothing.
    val only: Option[Set[String]] =
      if (args.length > 2) {
        val names = args.drop(2).flatMap(_.split(",")).filter(_.nonEmpty).toSet
        val unknown = names -- SparkEntry.queries.keySet
        require(unknown.isEmpty,
          s"unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")}")
        Some(names)
      } else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // hold the whole board's codegen stages (default 100 thrashes
      // across 184 queries and recompiles every stage — see Bench)
      .config("spark.sql.codegen.cache.maxEntries",
        sys.env.getOrElse("SPARK_GRAFT_CODEGEN_CACHE", "10000"))
      .config("spark.ui.enabled", "false")
      // events.parquet is TIMESTAMP(NANOS); declared here so the
      // events() helper's conf dependency is visible at session build
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    val spark = graft.tools.LocalIo.ownScratch(builder).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // drop local-FS CRC sidecars (doubled file creates on every store
    // commit; production FS targets have no client CRC) — see LocalIo
    graft.tools.LocalIo.tuneLocalFs(spark)
    graft.tools.LocalIo.sweepScratch() // stale tmpfs scratch from finished runs
    // scoped cut release logs one WARN per lineage-truncated RDD — noise
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd", org.apache.logging.log4j.Level.ERROR)
    new java.io.File(outDir).mkdirs()
    // queries are independent (any session state they touch — temp view
    // names, idempotent confs — is query-private), so run them through a
    // small pool and let Spark schedule the jobs concurrently
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    val futures = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      scala.concurrent.Future {
        // scoped: each query's checkpoint cuts are released when its write
        // completes (thread-local, so concurrent queries don't interfere) —
        // without this 60+ queries' cuts pin storage for the whole run
        graft.operators.Materialize.scoped {
          try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
          }
        }
      }
    }
    scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(futures),
      scala.concurrent.duration.Duration.Inf)
    pool.shutdown()
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
    spark.stop()
  }
}
