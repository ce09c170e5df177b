package loadbench

import scala.collection.mutable

import org.apache.spark.LoadbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Times the benchmark's calls into the program, one span per public call,
  * and — in a traced run — attributes Spark jobs, tasks, query planning and
  * filesystem calls to those spans. Every span carries its sequence number
  * as the `loadbench.op` local property, so the jobs it submits name it.
  * Spans and counts stay in memory until the run ends. */
final class Recorder(spark: SparkSession, val trace: Boolean, cores: Int) {
  private val sc = spark.sparkContext
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  final case class Span(seq: Long, cls: String, start: Double, end: Double,
      rows: Long, ok: Boolean, fs: Array[Long]) {
    def ms: Double = end - start
  }

  private var seq = 0L
  private var timedPhase = false
  val spans = mutable.ArrayBuffer.empty[Span]
  var timedStart, timedEnd = 0.0

  /** Run one public call as an operation of class `cls`; `body` returns the
    * number of rows it handed back (0 for writes). Failures are counted and
    * the answer recorded by the caller stays absent. */
  def op(cls: String)(body: => Long): Option[Long] = {
    seq += 1
    sc.setLocalProperty("loadbench.op", seq.toString)
    val fs0 = if (trace) CountingLocalFileSystem.snapshot() else null
    val t0 = nowMs
    val res = try Some(body) catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[loadbench] $cls failed: $e")
        None
    }
    val t1 = nowMs
    val fs = if (trace) {
      val fs1 = CountingLocalFileSystem.snapshot()
      fs1.indices.map(i => fs1(i) - fs0(i)).toArray
    } else null
    sc.setLocalProperty("loadbench.op", null)
    if (timedPhase)
      spans += Span(seq, cls, t0, t1, res.getOrElse(0L), res.isDefined, fs)
    res
  }

  def startTimed(): Unit = {
    if (trace) { LoadbenchBridge.drain(sc); listener.reset() }
    timedPhase = true
    timedStart = nowMs
  }

  def endTimed(): Unit = {
    timedEnd = nowMs
    timedPhase = false
    if (trace) LoadbenchBridge.drain(sc)
  }

  def wallS: Double = (timedEnd - timedStart) / 1000.0
  def classes: Map[String, Seq[Double]] =
    spans.filter(_.ok).groupBy(_.cls).map { case (c, s) => c -> s.map(_.ms).toSeq }

  // ---- tracing --------------------------------------------------------

  /** Per-op sums of task metrics and job spans, fed by the listener bus. */
  final class Listener extends SparkListener with QueryExecutionListener {
    val stageOp = mutable.Map.empty[Int, Long]
    val jobOp = mutable.Map.empty[Int, Long]
    val jobStart = mutable.Map.empty[Int, Long]
    val jobSpans = mutable.Map.empty[Long, mutable.ArrayBuffer[(Long, Long)]]
    // per op: tasks, cpu ns, run ms, gc ms, bytes read, records read,
    // shuffle bytes written, disk spill bytes
    val task = mutable.Map.empty[Long, Array[Long]]
    val planMs = mutable.ArrayBuffer.empty[(Long, Long)] // (start ms, plan ms)
    var callbackNs = 0L

    def reset(): Unit = synchronized {
      task.clear(); jobSpans.clear(); planMs.clear(); callbackNs = 0L
    }

    private def opOf(p: java.util.Properties): Option[Long] =
      Option(p).flatMap(x => Option(x.getProperty("loadbench.op"))).map(_.toLong)

    private def timed[T](f: => T): T = {
      val t = System.nanoTime()
      try f finally callbackNs += System.nanoTime() - t
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      timed(opOf(e.properties).foreach { o =>
        jobOp(e.jobId) = o
        jobStart(e.jobId) = e.time
        e.stageIds.foreach(stageOp(_) = o)
      })
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      timed(jobOp.remove(e.jobId).foreach { o =>
        jobSpans.getOrElseUpdate(o, mutable.ArrayBuffer.empty) +=
          (jobStart.remove(e.jobId).getOrElse(e.time) -> e.time)
      })
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      synchronized {
        timed(opOf(e.properties).foreach(stageOp(e.stageInfo.stageId) = _))
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      timed(for (o <- stageOp.get(e.stageId); m <- Option(e.taskMetrics)) {
        val a = task.getOrElseUpdate(o, new Array[Long](8))
        a(0) += 1
        a(1) += m.executorCpuTime
        a(2) += m.executorRunTime
        a(3) += m.jvmGCTime
        a(4) += m.inputMetrics.bytesRead
        a(5) += m.inputMetrics.recordsRead
        a(6) += m.shuffleWriteMetrics.bytesWritten
        a(7) += m.diskBytesSpilled
      })
    }

    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = synchronized {
      timed {
        val ph = qe.tracker.phases.values
        if (ph.nonEmpty)
          planMs += (ph.map(_.startTimeMs).min -> ph.map(_.durationMs).sum)
      }
    }

    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  lazy val listener: Listener = {
    val l = new Listener
    sc.addSparkListener(l)
    spark.listenerManager.register(l)
    l
  }
  if (trace) listener

  /** Layer metrics of the timed phase. `commits`: classes that commit one
    * table version each; `reads`: classes that return rows to the caller;
    * `selfTime`: metric name → the classes whose median spans it averages
    * (one median per cost shape). */
  def layers(commits: Set[String], reads: Set[String],
      selfTime: Seq[(String, Seq[String])], extra: Map[String, Double])
      : Map[String, Double] = {
    val l = listener
    val ok = spans.filter(_.ok).toSeq
    val n = ok.size.max(1).toDouble
    def per(xs: Seq[Span]) = xs.size.max(1).toDouble
    def taskSum(xs: Seq[Span], i: Int): Long =
      xs.map(s => l.task.get(s.seq).map(_(i)).getOrElse(0L)).sum
    def fsSum(xs: Seq[Span], i: Int): Long = xs.map(_.fs(i)).sum
    val jobs = ok.map(s => l.jobSpans.get(s.seq).map(_.size).getOrElse(0)).sum
    val residue = ok.map { s =>
      val spansOf = l.jobSpans.getOrElse(s.seq, mutable.ArrayBuffer.empty)
        .map { case (a, b) => (a.toDouble.max(s.start), b.toDouble.min(s.end)) }
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0.0
      var reach = Double.NegativeInfinity
      spansOf.foreach { case (a, b) =>
        if (b > reach) { covered += b - a.max(reach); reach = b }
      }
      (s.ms - covered).max(0.0)
    }.sum
    val cm = ok.filter(s => commits(s.cls))
    val rd = ok.filter(s => reads(s.cls))
    val rowsOut = rd.map(_.rows).sum
    val plans = l.planMs.filter { case (t, _) =>
      t >= timedStart - 1 && t <= timedEnd + 1 }
    def med(c: String): Double = {
      val xs = ok.filter(_.cls == c).map(_.ms).sorted
      if (xs.isEmpty) 0.0 else {
        val m = xs.size / 2
        if (xs.size % 2 == 1) xs(m) else (xs(m - 1) + xs(m)) / 2
      }
    }
    val fsNames = Seq("open", "create", "rename", "delete", "list", "stat")
    Map(
      "plans.plan_ms_per_query" ->
        plans.map(_._2).sum.toDouble / plans.size.max(1),
      "sched.jobs_per_op" -> jobs / n,
      "sched.tasks_per_op" -> taskSum(ok, 0) / n,
      "sched.residue_ms_per_op" -> residue / n,
      "scan.bytes_per_op" -> taskSum(ok, 4) / n,
      "scan.rows_read_per_row_out" ->
        (if (rowsOut > 0) taskSum(rd, 5).toDouble / rowsOut else 0.0),
      "scan.files_opened_per_read" -> fsSum(rd, 0) / per(rd),
      "shuffle.bytes_written" -> taskSum(ok, 6).toDouble,
      "shuffle.spill_bytes" -> taskSum(ok, 7).toDouble,
      "exec.cpu_s" -> taskSum(ok, 1) / 1e9,
      "exec.run_s" -> taskSum(ok, 2) / 1e3,
      "exec.gc_s" -> taskSum(ok, 3) / 1e3,
      "exec.busy_ratio" -> taskSum(ok, 2) / 1e3 / (wallS * cores),
      "fs.write_amp" -> {
        val d = fsSum(cm, 8)
        if (d > 0) fsSum(cm, 7).toDouble / d else 0.0
      },
      "manifest.checkpoint_commits" -> fsSum(ok, 6).toDouble,
      "trace.callback_ms_per_op" -> l.callbackNs / 1e6 / n,
      "trace.ops_per_s" -> ok.size / wallS
    ) ++ fsNames.zipWithIndex.map { case (f, i) =>
      s"fs.${f}_per_commit" -> fsSum(cm, i) / per(cm)
    } ++ selfTime.map { case (m, cs) => m -> cs.map(med).sum / cs.size } ++ extra
  }
}
