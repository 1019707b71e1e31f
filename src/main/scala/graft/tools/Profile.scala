package graft.tools

/** Ad-hoc per-query wall-clock profiler: times each named query against
  * an sf dir in the bench harness's shape (`local[N]`, warm JVM), with
  * the session caches evicted or kept between runs so both the
  * first-consumer cost (Bench's alphabetical order makes d10 pay
  * pair-gen + CC) and the pinned-frame cost are visible.
  *
  * Usage: runMain graft.tools.Profile [sfDir] [query ...]
  *   GRAFT_PROFILE_REPEAT=N    time each query N times (default 2)
  *   GRAFT_PROFILE_EVICT=false keep Dedup/Similarity caches across reps
  *   GRAFT_PROFILE_PLAN=true   print the post-AQE executed plan
  *   GRAFT_PROFILE_STAGES=true print per-stage wall/task counts of the
  *                             last rep (the stage-floor evidence)
  *   GRAFT_PROFILE_CONF=k=v;…  ad-hoc runtime confs for A/B probes
  * (env vars, not -D flags: `run / fork := true` — system properties
  * given to sbt do not reach the forked JVM)
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.drop(1).toSeq
                else Seq("d10_best_keeper", "d19_semantic_dedup", "j11_bm25",
                  "x22_zipf_slope", "v6_kmeans")
    val repeat = sys.env.getOrElse("GRAFT_PROFILE_REPEAT", "2").toInt
    val evict = sys.env.getOrElse("GRAFT_PROFILE_EVICT", "true").toBoolean
    val spark = graft.core.GraftSession.local(32, "graft-profile")
    // GRAFT_PROFILE_CONF="k=v;k=v" — ad-hoc runtime confs for A/B probes
    sys.env.get("GRAFT_PROFILE_CONF").foreach(_.split(";").foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      spark.conf.set(k, v)
    })
    // warmup: JVM + codegen + parquet footers (the Bench preamble);
    // tolerant of partial dirs (ScaleFixture corpora carry only the
    // documents/embeddings tables)
    Seq("q1_agg", "p1_wordcount", "a5_max_per_key", "v2_lsh_buckets")
      .foreach { q =>
        try graft.SparkEntry.queries(q)(spark, dir).count()
        catch { case _: org.apache.spark.sql.AnalysisException => () }
      }
    names.foreach { q =>
      (1 to repeat).foreach { rep =>
        if (evict && rep == 1) graft.core.Pins.evict(spark)
        val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
        val listener =
          if (rep == repeat &&
              sys.env.get("GRAFT_PROFILE_STAGES").contains("true")) {
            val l = new org.apache.spark.scheduler.SparkListener {
              override def onStageCompleted(
                  sc: org.apache.spark.scheduler
                    .SparkListenerStageCompleted): Unit = {
                val i = sc.stageInfo
                val dur = for {
                  s <- i.submissionTime; e <- i.completionTime
                } yield e - s
                // first graft frame in the callsite stack (the stage's
                // semantic owner); falls back to the stage name
                val where = i.details.linesIterator
                  .find(l => l.contains("graft.") && !l.contains("tools.Profile"))
                  .map(_.trim).getOrElse(i.name)
                stages.add(f"stage,$q,${i.stageId}%3d,tasks=${i.numTasks}%3d," +
                  f"wall=${dur.getOrElse(-1L)}%5dms,$where")
              }
            }
            spark.sparkContext.addSparkListener(l)
            Some(l)
          } else None
        val t0 = System.nanoTime()
        val df = graft.SparkEntry.queries(q)(spark, dir)
        val n = df.count()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"profile,$q,rep$rep,$sec%.3f,rows=$n")
        listener.foreach { l =>
          Thread.sleep(300) // drain the listener bus
          spark.sparkContext.removeSparkListener(l)
          stages.forEach(println)
        }
        if (rep == repeat &&
            sys.env.get("GRAFT_PROFILE_STORAGE").contains("true")) {
          // per-RDD cached-block sizes — the per-pin storage attribution
          // (Bench's pin_bytes_by_family reports only the family total)
          spark.sparkContext.getRDDStorageInfo.foreach { i =>
            println(f"storage,$q,mem=${i.memSize}%12d,disk=${i.diskSize}%12d," +
              f"parts=${i.numCachedPartitions}%3d," +
              i.name.linesIterator.nextOption().getOrElse("?").take(120))
          }
        }
        if (rep == repeat &&
            sys.env.get("GRAFT_PROFILE_PLAN").contains("true")) {
          df.collect() // finalize AQE on the full result plan
          println(s"===== $q executed plan =====")
          println(df.queryExecution.executedPlan.toString)
        }
      }
    }
    spark.stop()
  }
}
