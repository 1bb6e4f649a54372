package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (the A5 memoized-bootstrap
  * discipline applies to tests too). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = graft.engine.Session.builder("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      // keep managed-table tests (ScaleSpec bucketing) out of the repo tree
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The number of Spark jobs `body` starts. The listener bus delivers in
    * order, so once a marker job run after `body` is seen, every job
    * `body` started has been counted. */
  def jobsFiredBy(body: => Unit): Int = {
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    @volatile var marked = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(p =>
            p.getProperty("spark.jobGroup.id") == "jobs-marker")) marked = true
        else jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobGroup("jobs-marker", "flush")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (!marked && System.nanoTime() < deadline) Thread.sleep(10)
      assert(marked, "the marker job never reached the listener")
    } finally sc.removeSparkListener(listener)
    jobs.get
  }
}
