package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQuery

/** Per-layer observation from outside the program, enabled only in traced
  * runs:
  *   - a SparkListener recording every job, stage and task with its
  *     timestamps, attributed afterwards to the measured windows;
  *   - the `recentProgress` of the streaming query handles, merged by
  *     (run id, batch id, timestamp) so a poll can repeat safely.
  * Nothing here touches a query plan or a session config. */
final class Tracer(spark: org.apache.spark.sql.SparkSession, cores: Int) {

  private case class Task(start: Long, end: Long, runMs: Long,
      shuffleWrite: Long, spill: Long, gcMs: Long, failed: Boolean)

  private val jobTimes = mutable.ArrayBuffer.empty[Long]
  private val stageTimes = mutable.ArrayBuffer.empty[Long]
  private val tasks = mutable.ArrayBuffer.empty[Task]
  private val windows = mutable.ArrayBuffer.empty[(Long, Long)]
  private var openAt = -1L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobTimes.synchronized(jobTimes += e.time)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageTimes.synchronized(stageTimes +=
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val t = Task(e.taskInfo.launchTime, e.taskInfo.finishTime,
        if (m == null) 0L else m.executorRunTime,
        if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
        if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled,
        if (m == null) 0L else m.jvmGCTime,
        e.taskInfo.failed || e.taskInfo.killed)
      tasks.synchronized(tasks += t)
    }
  }
  spark.sparkContext.addSparkListener(listener)

  /** Measured-window brackets; events are attributed by timestamp. */
  def open(): Unit = openAt = System.currentTimeMillis()
  def close(): Unit = {
    windows += ((openAt, System.currentTimeMillis())); openAt = -1L
  }

  // ---- streaming progress -------------------------------------------
  private case class Prog(query: String, trigger: Long, addBatch: Long,
      executed: Boolean, rowsIn: Long, late: Long)
  private val progress = mutable.LinkedHashMap.empty[String, Prog]
  private val lastState = mutable.Map.empty[String, Long]

  /** Merge the progress history of every handle (safe to repeat). */
  private def poll(qs: Map[String, StreamingQuery]): Unit = progress.synchronized {
    qs.foreach { case (name, q) =>
      q.recentProgress.foreach { p =>
        val key = s"${p.runId}/${p.batchId}/${p.timestamp}"
        if (!progress.contains(key)) {
          val d = p.durationMs
          def ms(k: String): Long =
            Option(d.get(k)).map(_.longValue).getOrElse(0L)
          progress(key) = Prog(name, ms("triggerExecution"), ms("addBatch"),
            d.containsKey("addBatch"), p.numInputRows,
            p.stateOperators.map(_.numRowsDroppedByWatermark).sum)
        }
      }
      q.recentProgress.lastOption.foreach(p =>
        lastState(name) = p.stateOperators.map(_.numRowsTotal).sum)
    }
  }

  /** Final progress of every handle once the chain is drained (a stopped
    * handle keeps its last progress). */
  def finish(qs: Map[String, StreamingQuery]): Unit = poll(qs)

  /** Per-query layer metrics; `state_rows` is the final `numRowsTotal` of
    * the query's stateful operators. */
  def queryMetrics(names: Seq[(String, String)]): Seq[(String, Double)] = {
    val all = progress.synchronized(progress.values.toSeq)
    names.flatMap { case (q, label) =>
      val ps = all.filter(_.query == q)
      val busy = ps.map(_.trigger).sum / 1000.0
      val work = ps.map(_.addBatch).sum / 1000.0
      Seq(
        s"$label.batches" -> ps.count(_.executed).toDouble,
        s"$label.busy_s" -> busy,
        s"$label.work_s" -> work,
        s"$label.fixed_s" -> (busy - work),
        s"$label.rows_in" -> ps.map(_.rowsIn).sum.toDouble,
        s"$label.state_rows" -> lastState.getOrElse(q, 0L).toDouble,
        s"$label.late_dropped" -> ps.map(_.late).sum.toDouble)
    }
  }

  // ---- engine --------------------------------------------------------
  private def inWindow(t: Long): Boolean =
    windows.exists { case (a, b) => t >= a && t <= b }

  /** Spark engine metrics over the measured windows. */
  def engineMetrics(): Seq[(String, Double)] = {
    Thread.sleep(500) // the listener bus delivers asynchronously
    val ts = tasks.synchronized(tasks.toSeq).filter(t => inWindow(t.start))
    val wall = windows.map { case (a, b) => b - a }.sum / 1000.0
    // wall time with no task running: window length minus the union of
    // task intervals clipped to it
    val busy = windows.map { case (a, b) =>
      val iv = ts.map(t => (math.max(t.start, a), math.min(t.end, b)))
        .filter { case (s, e) => e > s }.sortBy(_._1)
      var covered = 0L; var curS = -1L; var curE = -1L
      iv.foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
      if (curE > curS) covered += curE - curS
      covered
    }.sum / 1000.0
    val taskS = ts.map(_.runMs).sum / 1000.0
    Seq(
      "spark.jobs" -> jobTimes.synchronized(jobTimes.count(inWindow)).toDouble,
      "spark.stages" -> stageTimes.synchronized(stageTimes.count(inWindow)).toDouble,
      "spark.task_s" -> taskS,
      "spark.driver_s" -> math.max(0.0, wall - busy),
      "spark.util" -> (if (wall > 0) taskS / (wall * cores) else 0.0),
      "spark.shuffle_write_mb" -> ts.map(_.shuffleWrite).sum / 1048576.0,
      "spark.spill_mb" -> ts.map(_.spill).sum / 1048576.0,
      "spark.gc_s" -> ts.map(_.gcMs).sum / 1000.0,
      "spark.tasks_failed" -> ts.count(_.failed).toDouble)
  }

  def stop(): Unit = spark.sparkContext.removeSparkListener(listener)
}
