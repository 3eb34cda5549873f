package graft.tools

import graft.{Sessions, SparkEntry}
import org.apache.spark.sql.execution.ExplainMode

/** Dev tool: dump the formatted physical plan of MANY registered
  * queries into one file per query, reusing a single Spark session —
  * the per-round `plans/rN/<query>_{before,after}.txt` archive is ~30
  * queries, and one JVM per plan would cost 20 minutes of startup.
  *
  * Usage: runMain graft.tools.PlanDump <sfDir> <outDir> <suffix> <name>...
  *
  * A failed dump does not stop the others; the run ends with a count of
  * failed dumps and exits 1 when there was any, so a script archiving
  * plans notices a missing one.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val names = args.drop(3)
    val spark = Sessions.local(appName = "graft-plandump")
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val failed = names.count { n =>
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        val plan = df.queryExecution
          .explainString(ExplainMode.fromString("formatted"))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$outDir/${n}_$suffix.txt"),
          plan.getBytes("UTF-8"))
        println(s"[plandump] $n ok")
        false
      } catch {
        case e: Throwable =>
          println(s"[plandump] $n FAILED: ${e.getMessage}")
          true
      }
    }
    spark.stop()
    println(s"[plandump] $failed of ${names.length} dumps failed")
    if (failed > 0) sys.exit(1)
  }
}
