package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.queries.CoreQueries

/** Scratch profiler for hot queries (not part of the driver contract).
  *
  * Dissects q68, the warehouse build, into its phases — staging ingest,
  * the dimension pass (one collect of the batch vocabulary, the stored
  * keys from the catalog's rows, then the non-empty dim writes), the
  * fact merge, the view refresh, the rerun and the final read — with
  * wall time, Spark job counts and generated classes compiled per
  * phase, so the "is it commit overhead or join work?" question has
  * numbers. The compile count covers the whole JVM, driver and executor
  * tasks; a class whose source is already in Spark's codegen cache is
  * not compiled again.
  * The phases are the steps `Warehouse.run` makes, in its order.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local(Sessions.defaultCpus)
    spark.range(100000).selectExpr("sum(id)").collect()

    val jobCount = new java.util.concurrent.atomic.AtomicInteger
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobCount.incrementAndGet()
    })

    def phase[T](name: String)(f: => T): T = {
      val j0 = jobCount.get()
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val t0 = System.nanoTime()
      val r = f
      val dt = (System.nanoTime() - t0) / 1e9
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
      println(f"PROF $name%-28s $dt%8.2f s  ${jobCount.get() - j0}%4d jobs  $compiles%4d compiles")
      r
    }

    for (rep <- 1 to 2) {
      println(s"=== rep $rep ===")
      Bench.steadyState(spark)
      val csvish = CoreQueries.ledgerBatch(Tables(spark, sfDir, "orders"))
      val root = java.nio.file.Files.createTempDirectory("graft_prof68")
      CoreQueries.cleanupAtExit(root)
      val cat = new graft.ledger.Catalog(spark, s"$root/wh")
      phase("staging ingest+replace") {
        cat.replace("staging_lancamentos", graft.ledger.Ingest.toStaging(csvish))
      }
      val wh = new graft.ledger.Warehouse(cat)
      val total0 = System.nanoTime()
      cat.transaction {
        val dims = phase("  run1 vocabulary + dims")(wh.loadDims())
        phase("  run1 fato")(wh.loadFato(dims))
        phase("  run1 registerAll")(cat.registerAll())
      }
      println(f"PROF run1 total               ${(System.nanoTime() - total0) / 1e9}%8.2f s")
      cat.transaction {
        val dims = phase("  run2 vocabulary + dims")(wh.loadDims())
        phase("  run2 fato")(wh.loadFato(dims))
        phase("  run2 registerAll")(cat.registerAll())
      }
      phase("final fact read") {
        cat.table("fato_lancamento")
          .withColumn("valor", col("valor").cast("double"))
          .write.format("noop").mode("overwrite").save()
      }
      phase("bench-shape q68 (fresh cat)") {
        CoreQueries.warehouseE2e.build(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
      }
    }
    spark.stop()
  }
}
