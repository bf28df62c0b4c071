package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Per-JOB cost attribution for one or more queries (guide §1: measure
  * first, and know WHERE inside a composed query the time goes before
  * touching it). Bench times a query as one number; compositions like
  * the prep manifests and the PCA-OPQ cascade run many EAGER internal
  * actions (materializations, model fits, codebook collects) whose cost
  * is invisible in that number and in the final action's plan. This
  * main attaches a listener that records every job's wall time and
  * call site, runs each named query through the same noop sink the
  * bench uses, and prints the per-job breakdown — so "which eager
  * action dominates" is a measurement, not a guess.
  *
  * Usage: SPARK_GRAFT_QUERIES=a,b sbt 'runMain graft.Profile <sfDir>'
  * Profiling tool only: not part of the driver bench contract.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val spark = Sessions.local()
    val names = sys.env.get("SPARK_GRAFT_QUERIES").map(_.split(",").toSeq)
      .getOrElse(Seq.empty)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val done = scala.collection.mutable.ArrayBuffer[(Int, Double, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val site = Option(js.properties)
          .flatMap(p => Option(p.getProperty("callSite.short")))
          .orElse(js.stageInfos.lastOption.map(_.name))
          .getOrElse("?")
        jobs.put(js.jobId, (System.nanoTime(), site)); ()
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(jobs.remove(je.jobId)).foreach { case (t0, site) =>
          done.synchronized {
            done += ((je.jobId, (System.nanoTime() - t0) / 1e9, site)); ()
          }
        }
      }
    })
    // session warm-up, as in Bench
    spark.range(1000).selectExpr("id % 7 as k", "id as v")
      .groupBy("k").count().write.format("noop").mode("overwrite").save()
    Tables.region(spark, sfDir).write.format("noop").mode("overwrite").save()
    graft.analytics.IvfIndex.ensureServingArtifacts(spark, sfDir)
    val passes = sys.env.get("SPARK_GRAFT_PASSES").flatMap(_.toIntOption).getOrElse(1)
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      (1 to passes).foreach { pass =>
        spark.sharedState.cacheManager.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
        done.synchronized(done.clear())
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(300) // let the listener bus drain job-end events
        val snap = done.synchronized(done.toList)
        println(f"[profile] $n pass=$pass wall=$wall%.2f s, ${snap.size} jobs, " +
          f"sum=${snap.map(_._2).sum}%.2f s")
        snap.sortBy(-_._2).take(30).foreach { case (id, s, site) =>
          println(f"[profile]   job $id%4d ${s}%7.3f s  $site")
        }
      }
    }
    spark.stop()
  }
}
