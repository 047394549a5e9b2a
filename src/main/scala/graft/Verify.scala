package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // cheapest-first: each parquet lands as soon as its query finishes, so
    // if the driver's verify budget ever truncates the run, the timeout
    // costs the fewest green rows (round-3 verdict #5 — same failure class
    // as the r3 bench timeout)
    // SPARK_GRAFT_VERIFY_ONLY=g1,g4,… restricts the dump to the named query
    // prefixes — builder-side larger-sf spot checks (round-5 verdict #6: an
    // sf0.1 pass over the graph queries) without paying the full suite at
    // that scale. Unset = all queries (the driver contract).
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter { case (n, _) =>
        names.exists(p => n == p || n.startsWith(p + "_")) }
      case None => SparkEntry.queries
    }
    val ordered = selected.toSeq.sortBy { case (name, _) =>
      (SparkEntry.expensiveLast.indexOf(name), name)
    }
    // one `[verify] <name> <rows> <seconds>` line per query; a failed query
    // is reported and the run goes on, but the exit status is non-zero
    val failed = ordered.filterNot { case (name, fn) =>
      val path = s"$outDir/$name.parquet"
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(path)
        val rows = spark.read.parquet(path).count()
        println(f"[verify] $name $rows ${(System.nanoTime() - t0) / 1e9}%.1f")
        true
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        false
      }
    }.map(_._1)
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
    // The driver looks oracles up by ARTIFACT name (`<query>.parquet`),
    // while tools/check.py strips the suffix — emit every entry under BOTH
    // keys so either lookup hits. (Round 1 shipped bare names only and the
    // driver recorded no_oracle for all 35 queries.)
    val json = SparkEntry.oracleSql
      .flatMap { case (k, v) => Seq(k -> v, s"$k.parquet" -> v) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} queries failed: ${failed.mkString(" ")}")
      sys.exit(1)
    }
  }
}
