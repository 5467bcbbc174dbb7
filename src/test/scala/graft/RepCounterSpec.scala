package graft

/** The per-rep counters [[Bench]] writes to `bench.json`: a rep's job
  * count does not move between reps of the same query, and it equals the
  * count an independent listener sees over the same call. One batch
  * query and one streaming drain. */
class RepCounterSpec extends SparkSpec {

  private def run(name: String): Unit =
    SparkEntry.queries(name)(spark, sf0001).write.format("noop").mode("overwrite").save()

  for (name <- Seq("q03_join_agg", "s20_stream_transitions"))
    test(s"$name: the job count is equal across reps and to jobsDuring") {
      val counter = new RepCounter(spark.sparkContext)
      try {
        run(name) // untimed first pass, as Bench's warmup: builds the input log, seeds schemas
        val reps = (1 to 2).map { _ =>
          val ((_, counts), jobs) = jobsDuring(counter.measure(run(name)))
          assert(counts.jobs == jobs, s"$name: counter saw ${counts.jobs} jobs, jobsDuring $jobs")
          counts
        }
        assert(reps.map(_.jobs).distinct.size == 1, s"$name: jobs per rep ${reps.map(_.jobs)}")
        assert(reps.forall(r => r.jobs > 0 && r.stages > 0 && r.tasks > 0), reps.toString)
        assert(reps.forall(r => r.driverGapMs >= 0), reps.toString)
      } finally spark.sparkContext.removeSparkListener(counter)
    }
}
