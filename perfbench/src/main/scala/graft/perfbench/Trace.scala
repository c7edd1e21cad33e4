package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** In-memory span log: (name, start, end, parent, op id), written out
  * once when the run ends. Times are nanoseconds since the JVM-local
  * origin `t0`. */
final class Spans(t0: Long) {
  final case class Span(name: String, start: Long, var end: Long,
                        parent: Int, op: String)
  private val buf = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  var enabled = true

  def apply[T](name: String, op: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val id = buf.size
      buf += Span(name, System.nanoTime() - t0, -1L, open.headOption.getOrElse(-1), op)
      open = id :: open
      try body
      finally { buf(id).end = System.nanoTime() - t0; open = open.tail }
    }

  def json: String = buf.map { s =>
    s"""{"name":${Json.str(s.name)},"start_ns":${s.start},"end_ns":${s.end},""" +
      s""""parent":${s.parent},"op":${Json.str(s.op)}}"""
  }.mkString("[", ",", "]")
}

/** Per-op scheduler and executor counters from the Spark listener bus.
  * Jobs are attributed to an op through the `perfbench.op` local
  * property the harness sets around each call; stages and tasks follow
  * their job. */
final class LayerListener extends SparkListener {
  final class Stage(val key: String) {
    var submitted = 0L; var completed = 0L
    var inputBytes = 0L; var piped = false
    val taskMs = mutable.ArrayBuffer.empty[Long]
  }
  final class Acc {
    var jobs = 0; var eagerJobs = 0; var lastJobEnd = 0L
    var tasks = 0; var taskMs = 0L; var taskCpuNs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
    val stages = mutable.ArrayBuffer.empty[Stage]
  }
  private val accs = mutable.HashMap.empty[String, Acc]
  private val stageOf = mutable.HashMap.empty[Int, Stage]
  private val jobKey = mutable.HashMap.empty[Int, String]

  private def acc(k: String) = accs.getOrElseUpdate(k, new Acc)

  /** Counters of one op; removes them from the listener. */
  def take(key: String): Acc = synchronized {
    stageOf.filterInPlace((_, s) => s.key != key)
    accs.remove(key).getOrElse(new Acc)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val prop = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.op")))
    prop.foreach { p =>
      val (key, phase) = p.splitAt(p.lastIndexOf('|'))
      jobKey(e.jobId) = key
      val a = acc(key)
      a.jobs += 1
      if (phase == "|build") a.eagerJobs += 1
      e.stageInfos.foreach { si =>
        val st = new Stage(key)
        st.piped = si.rddInfos.exists(_.name == "PipedRDD")
        stageOf(si.stageId) = st
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobKey.remove(e.jobId).foreach(k => acc(k).lastJobEnd = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    stageOf.get(si.stageId).foreach { st =>
      st.submitted = si.submissionTime.getOrElse(0L)
      st.completed = si.completionTime.getOrElse(0L)
      st.inputBytes = Option(si.taskMetrics).map(_.inputMetrics.bytesRead).getOrElse(0L)
      acc(st.key).stages += st
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOf.get(e.stageId).foreach { st =>
      val a = acc(st.key)
      a.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        st.taskMs += m.executorRunTime
        a.taskMs += m.executorRunTime
        a.taskCpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
}

/** Minimal JSON writing for the result file. */
object Json {
  def str(s: String): String =
    if (s == null) "null"
    else "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  def obj(fields: (String, String)*): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
