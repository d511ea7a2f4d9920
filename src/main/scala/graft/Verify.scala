package graft
import java.nio.file.{Files, Paths}
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name filter (dev loop —
    // re-verify just the queries being worked on); driver passes 2 args
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, None)
      case Array(s, o, f) => (s, o, Some(f.split(",").toSet))
      case _ =>
        System.err.println(
          "usage: graft.Verify <sfDir> <outDir> [query,query,...]")
        sys.exit(2)
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local("graft-verify", cpus)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        try df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        finally operators.Checkpoints.unpin(df)
      } catch { case e: Throwable =>
        // a failed query must be LOUD in the downstream compare, not a
        // silently absent directory (round 6: 10 queries threw here and
        // vanished from the correctness artifact without a trace). The
        // sentinel is ZERO rows of a __verify_error schema: an
        // oracle-paired query then fails its schema compare, and a
        // rows-only query fails its rows>0 smoke — a 1-row sentinel
        // would have READ AS SUCCESS for exactly the rows-only queries,
        // which have no schema/hash compare to catch it
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        try {
          import spark.implicits._
          Seq.empty[String].toDF("__verify_error")
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case e2: Throwable =>
          System.err.println(s"[verify] $name sentinel write failed: $e2")
        }
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      new ObjectMapper().registerModule(DefaultScalaModule)
        .writeValueAsString(SparkEntry.oracleSql))
    spark.stop()
  }
}
