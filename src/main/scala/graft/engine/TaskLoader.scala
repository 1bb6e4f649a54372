package graft.engine

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** The local executor's task classloader, made the calling thread's
  * context loader while the engine runs Spark work.
  *
  * Spark's codegen cache is keyed on (context classloader, source). A
  * whole-stage class compiles once on the driver, which validates it
  * under the calling thread's loader, and again in the first task, which
  * runs under the executor's own loader, so each new source compiled
  * twice. In local mode the executor lives in this JVM: with its loader on
  * the calling thread, the driver's compile and the task's share one key,
  * and each source compiles once (CodegenCacheSpec).
  *
  * The loader is read once per context, as the context starts
  * (`Session.builder`'s `getOrCreate`), by one one-task job; no statement
  * pays that job. A cluster master, whose executors live in other JVMs,
  * captures nothing, and `within` runs its body unchanged.
  *
  * Spark offers no hook around every action of a session that sets no
  * conf, so each engine path that runs a plan calls `within` itself (the
  * list is in `Session`'s config notes; TaskLoaderSpec covers each). */
object TaskLoader {

  @volatile private var captured: Option[(SparkContext, ClassLoader)] = None
  private val fromTask = new AtomicReference[ClassLoader]

  private def loaderOf(sc: SparkContext): Option[ClassLoader] =
    captured.collect { case (c, loader) if c eq sc => loader }

  /** Reads the task loader of `spark`'s context, when it is local and not
    * read yet; returns `spark`. */
  def capture(spark: SparkSession): SparkSession = {
    val sc = spark.sparkContext
    if (sc.isLocal && loaderOf(sc).isEmpty) synchronized {
      if (loaderOf(sc).isEmpty) {
        sc.runJob(sc.parallelize(Seq(0), 1), (_: Iterator[Int]) =>
          fromTask.set(Thread.currentThread.getContextClassLoader))
        captured = Some((sc, fromTask.get))
      }
    }
    spark
  }

  /** `body` with the task loader of `spark`'s context as this thread's
    * context loader, and the caller's loader restored after. */
  def within[T](spark: SparkSession)(body: => T): T =
    loaderOf(spark.sparkContext) match {
      case None => body
      case Some(loader) =>
        val thread = Thread.currentThread
        val caller = thread.getContextClassLoader
        thread.setContextClassLoader(loader)
        try body
        finally thread.setContextClassLoader(caller)
    }
}
