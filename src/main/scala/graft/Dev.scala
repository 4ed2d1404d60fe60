package graft

/** Dev loop over the judged queries, on the session Bench and Verify use:
  *
  *   runMain graft.Dev probe <name>...           rows, wall seconds and Spark jobs, three runs each
  *   runMain graft.Dev show <name>...            the result rows
  *   runMain graft.Dev plans <outdir> <name>...  explain("formatted") to <outdir>/<name>_<tag>.txt
  *
  * Fixtures come from `SPARK_GRAFT_SF_DIR` (default sf0.1).
  * `SPARK_GRAFT_ROUNDS` adds probe's per-round lines for the iterative
  * operators; `SPARK_GRAFT_PLAN_TAG` (default `plan`) names the plan files —
  * the artifacts the plan claims in OPTIMIZATION_r*.md are checked against.
  */
object Dev {
  private val Usage = "usage: graft.Dev probe <name>... | show <name>... | plans <outdir> <name>..."

  def main(args: Array[String]): Unit = {
    val (mode, names) = args.toList match {
      case (m @ ("probe" | "show")) :: ns if ns.nonEmpty => (m, ns)
      case "plans" :: _ :: ns if ns.nonEmpty => ("plans", ns)
      case _ => System.err.println(Usage); sys.exit(2)
    }
    val spark = GraftSession.create()
    val dir = GraftSession.sfDir
    def query(name: String) = SparkEntry.queries(name)(spark, dir)
    mode match {
      case "probe" =>
        val rounds = sys.env.contains("SPARK_GRAFT_ROUNDS")
        if (rounds) operators.Iterate.setRecording(true)
        // the job count is the load-independent measure of driver barriers
        val jobs = new java.util.concurrent.atomic.AtomicLong()
        spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
            jobs.incrementAndGet()
        })
        for (name <- names; _ <- 1 to 3) {
          val j0 = jobs.get()
          val t0 = System.nanoTime()
          val n = query(name).count()
          val t = (System.nanoTime() - t0) / 1e9
          // listener events arrive asynchronously: drain before sampling so
          // a late onJobStart never lands in the next run's count
          org.apache.spark.graftbridge.ListenerBridge.drain(spark.sparkContext)
          println(f"PROBE $name rows=$n t=$t%.3f jobs=${jobs.get() - j0}")
          if (rounds) operators.Iterate.drainRounds().foreach(r =>
            println(f"  ROUND ${r.label}%s ${r.round}%d ${r.ms / 1000.0}%.3f jobs=${r.jobs}%d"))
        }
      case "show" =>
        for (name <- names) {
          println(s"=== $name @ $dir")
          query(name).show(500, truncate = false)
        }
      case "plans" =>
        val outDir = java.nio.file.Paths.get(args(1))
        val tag = sys.env.getOrElse("SPARK_GRAFT_PLAN_TAG", "plan")
        java.nio.file.Files.createDirectories(outDir)
        for (name <- names) {
          val df = query(name)
          // the string form of explain("formatted"), captured instead of printed
          val bos = new java.io.ByteArrayOutputStream()
          Console.withOut(new java.io.PrintStream(bos, true, "UTF-8"))(df.explain("formatted"))
          val out = outDir.resolve(s"${name}_$tag.txt")
          java.nio.file.Files.write(out, bos.toByteArray)
          println(s"wrote $out")
        }
    }
    spark.stop()
  }
}
