package graft

import org.apache.spark.sql.functions._

/** Round-6 optimization harness (guide §1): NOT part of the driver
  * contract — Bench.scala is frozen; this main exists so the round's
  * measurements (per-query isolation, noop-sink timing, plan capture)
  * are reproducible without touching the frozen harness.
  *
  * Modes:
  *   plans <outDir> [qnames...]  — write .explain("formatted") per query
  *   sweep [reps]                — Bench-style sweep (sorted order, warm
  *                                 session, count() action, memo cleared
  *                                 per rep) printed as one JSON line/rep
  *   noop [qnames...]            — noop-sink timing (full-column compute)
  */
object BenchExtra {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Bench.buildSession(cpus)
    val mode = if (args.isEmpty) "sweep" else args(0)

    // same session warm-up as the frozen bench
    try {
      spark.read.parquet(s"$sfDir/documents.parquet").groupBy(col("lang")).count().collect()
      spark.range(1000000).select(sum(col("id"))).collect()
      Seq("q01_lineitem_agg", "q02_order_join", "q03_window_topk").foreach { n =>
        SparkEntry.queries(n)(spark, sfDir).count()
      }
      spark.catalog.clearCache()
      SparkEntry.clearDupPairsMemo()
    } catch { case _: Throwable => () }

    mode match {
      case "plans" =>
        val outDir = args(1)
        new java.io.File(outDir).mkdirs()
        val names = if (args.length > 2) args.drop(2).toSeq else SparkEntry.queries.keys.toSeq.sorted
        names.foreach { name =>
          try {
            val df = SparkEntry.queries(name)(spark, sfDir)
            val plan = df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$outDir/$name.txt"), plan)
            System.err.println(s"[plans] $name ok")
          } catch { case e: Throwable =>
            System.err.println(s"[plans] $name FAILED: ${e.getMessage}")
          }
          spark.catalog.clearCache()
          SparkEntry.clearDupPairsMemo()
        }
      case "sweep" =>
        val reps = if (args.length > 1) args(1).toInt else 1
        for (rep <- 1 to reps) {
          SparkEntry.clearDupPairsMemo()
          val rs = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
            spark.sparkContext.setJobDescription(name)
            val t0 = System.nanoTime()
            val ok = try { fn(spark, sfDir).count(); true }
            catch { case e: Throwable =>
              System.err.println(s"[sweep] $name FAILED: ${e.getMessage}"); false }
            val sec = (System.nanoTime() - t0) / 1e9
            System.err.println(f"[sweep] $name%-24s $sec%8.2f s")
            spark.catalog.clearCache()
            name -> (if (ok) sec else -1.0)
          }
          val qs = rs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
          val total = rs.map(_._2).filter(_ > 0).sum
          println(s"""{"rep":$rep,"total":$total,"loadavg":${Bench.loadavg()},"queries":$qs}""")
        }
      case "noop" =>
        val names = if (args.length > 1) args.drop(1).toSeq else SparkEntry.queries.keys.toSeq.sorted
        names.foreach { name =>
          SparkEntry.clearDupPairsMemo()
          spark.sparkContext.setJobDescription(s"noop:$name")
          val t0 = System.nanoTime()
          try {
            SparkEntry.queries(name)(spark, sfDir)
              .write.format("noop").mode("overwrite").save()
            println(f"[noop] $name ${(System.nanoTime() - t0) / 1e9}%.2f s")
          } catch { case e: Throwable =>
            println(s"[noop] $name FAILED: ${e.getMessage}")
          }
          spark.catalog.clearCache()
        }
      case other => sys.error(s"unknown BenchExtra mode: $other")
    }
    spark.stop()
  }
}
