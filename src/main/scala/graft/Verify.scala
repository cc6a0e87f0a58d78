package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // Optional extra args: restrict the dump to these query names (dev
    // iteration); the driver passes exactly two args → full dump.
    val selected = Harness.select(args.drop(2).toSeq)
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    // Failures must be VISIBLE in the artifact, not just on stderr: round
    // 6's driver artifact simply lacked the 55 failed queries' entries
    // and the cause had to be re-derived by hand. errors.json names each
    // failed query with its exception class + first message line.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    selected.foreach { name =>
      try SparkEntry.queries(name)(spark, sfDir).coalesce(1).write
        .mode("overwrite").parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors(name) = errLine(name, e)
      }
    }
    // Sorted keys: two dumps diff byte for byte.
    def sortedObj(m: Iterable[(String, String)]): String =
      Harness.obj(m.toSeq.sortBy(_._1).map { case (k, v) =>
        k -> Harness.str(v) })
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      sortedObj(SparkEntry.oracleSql))
    Files.writeString(Paths.get(s"$outDir/errors.json"), sortedObj(errors))
    println(s"[verify] ${selected.size - errors.size} written, " +
      s"${errors.size} failed" +
      errors.headOption.map { case (n, m) => s"; first: $n -> $m" }.getOrElse(""))
    spark.stop()
  }
}
