package graft.tools

import org.apache.spark.sql.SparkSession

/** CLI entry for the batch star-schema ETL — the Scala analogue of the
  * reference's `python ETL_Pipeline_Batch/main.py` (SURVEY §3.1).
  *
  * Usage: runMain graft.tools.RunBatch <csvPath> <outDir> [--infer-schema]
  */
object RunBatch {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: RunBatch <csvPath> <outDir> [--infer-schema]")
    val Array(csvPath, outDir) = args.take(2)
    val spark = graft.util.Sessions.build("graft-batch-etl")
    try {
      val counts = graft.ops.Load.runBatch(spark, csvPath, outDir,
        declaredSchema = !args.contains("--infer-schema"))
      counts.toSeq.sortBy(_._1).foreach { case (t, n) => println(s"[batch] $t: $n rows") }
    } finally spark.stop()
  }
}
