package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Dev harness: time registered queries in the bench's session
  * ([[graft.util.Session]]) and split each run by layer.
  *
  * Usage: Probe <sfDir> [query...] — no query names every registered one.
  * Each query runs twice (cold, then a repeat after cache release); each
  * run prints its wall time split into build (the registration, which runs
  * any table-history setup eagerly), plan (analysis, optimization and
  * physical planning) and exec (the counting action) seconds, plus the
  * number of Spark jobs it launched and their summed job seconds. With
  * exactly one query named, every job is listed too: duration, task count
  * and its description or call site, so a multi-action registration can be
  * decomposed without the UI.
  *
  * Environment: `GRAFT_CONF="k=v;k=v"` sets session confs for an A/B
  * probe; `PROBE_WARM_DIR` runs each query there once, untimed, first
  * (Bench's warmup); `PROBE_EXPLAIN=1` prints the formatted plan. A
  * development tool: Bench and Verify are the benchmark and correctness
  * entry points.
  */
object Probe {
  private case class JobRow(id: Int, start: Long, site: String, tasks: Int,
                            var end: Long = -1)

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.tail.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val perJob = names.size == 1
    val spark = graft.util.Session.build()
    sys.env.get("GRAFT_CONF").foreach(_.split(';').filter(_.contains("="))
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2); spark.conf.set(k, v)
      })
    sys.env.get("PROBE_WARM_DIR").foreach { wd =>
      names.foreach { q =>
        try SparkEntry.queries(q)(spark, wd).count()
        catch { case _: Throwable => () }
      }
      graft.util.Caches.releaseAll()
      spark.catalog.clearCache()
    }
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRow]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.put(e.jobId, JobRow(e.jobId, e.time,
          Option(e.properties.getProperty("spark.job.description"))
            .orElse(Option(e.properties.getProperty("callSite.short")))
            .getOrElse("").replace('\n', ' '),
          e.stageInfos.map(_.numTasks).sum))
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    })
    names.foreach { q =>
      val fn = SparkEntry.queries(q)
      if (sys.env.get("PROBE_EXPLAIN").contains("1"))
        fn(spark, sfDir).explain("formatted")
      (1 to 2).foreach { run =>
        org.apache.spark.sql.graft.Shim.drainListeners(spark.sparkContext)
        jobs.clear()
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        df.queryExecution.executedPlan
        val t2 = System.nanoTime()
        val n = df.count()
        val t3 = System.nanoTime()
        graft.util.Caches.releaseAll()
        spark.catalog.clearCache()
        org.apache.spark.sql.graft.Shim.drainListeners(spark.sparkContext)
        import scala.jdk.CollectionConverters._
        val rows = jobs.values.asScala.toSeq.sortBy(_.id)
        val jobSum = rows.filter(_.end > 0).map(r => r.end - r.start).sum / 1e3
        def s(a: Long, b: Long): Double = (b - a) / 1e9
        println(f"  $q%-28s run$run wall=${s(t0, t3)}%6.2f s  build=${s(t0, t1)}%6.2f " +
          f"plan=${s(t1, t2)}%6.2f exec=${s(t2, t3)}%6.2f  jobs=${rows.size}%3d " +
          f"jobSum=$jobSum%6.2f s  ($n rows)")
        if (perJob) rows.foreach { r =>
          val d = if (r.end > 0) (r.end - r.start) / 1e3 else -1.0
          println(f"    job ${r.id}%4d $d%7.3f s tasks=${r.tasks}%4d  ${r.site}")
        }
      }
    }
    spark.stop()
  }
}
