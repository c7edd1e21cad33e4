package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Row, SparkSession}

import graft.{Artifacts, Session, SparkEntry, Tables}
import graft.operators.{Dedup, Relational, Similarity}
import graft.pipeline.MapReduce
import graft.tools.Submit

/** Engine-side half of the benchmark (run.py is the other half).
  *
  * Usage: `Harness <spec.properties>`. The spec names the workload's
  * input directory, its operations, the number of passes and whether to
  * trace. The harness sets the engine up `setup_rounds` times (fresh
  * session, tables opened), then runs the ops in a
  * closed loop — one cold pass, settling passes, then warm passes — and
  * writes every raw timing to `<out>/result.json`.
  *
  * A query op is the `SparkEntry.queries` call, `executedPlan`, and a
  * `collect()` of the full result. A job op is one MapReduce job
  * writing its part files. Each cold-pass query result is also written
  * as parquet for run.py's DuckDB check, and each warm result is
  * compared with the cold one; both happen after the op's timer stops.
  *
  * With `trace=1` the cold pass and every second warm pass are traced
  * (spans plus a Spark listener); the other warm passes run untraced so
  * the run reports its own overhead. */
object Harness {

  private val t0 = System.nanoTime()
  private def now = System.nanoTime()
  private def secs(from: Long) = (System.nanoTime() - from) / 1e9

  final case class Spec(p: java.util.Properties) {
    def apply(k: String): String =
      Option(p.getProperty(k)).getOrElse(sys.error(s"spec is missing '$k'"))
  }

  def main(args: Array[String]): Unit = {
    val props = new java.util.Properties
    val rd = Files.newBufferedReader(Paths.get(args(0)))
    try props.load(rd) finally rd.close()
    val spec = Spec(props)
    val input = spec("input")
    val out = Paths.get(spec("out"))
    val cpus = spec("cpus").toInt
    val traced = spec("trace") == "1"
    val rounds = spec("setup_rounds").toInt
    val ops = spec("ops").split(",").toSeq.filter(_.nonEmpty)
    val isJobs = spec("kind") == "jobs"
    val artifactRoot = Paths.get(sys.env("SPARK_GRAFT_ARTIFACT_DIR"))

    val spans = new Spans(t0)
    spans.enabled = traced
    val memProbe0 = memProbe()

    // ---- set-up rounds ---------------------------------------------------
    var spark: SparkSession = null
    val setups = (0 until rounds).map { r =>
      if (spark != null) spark.stop()
      val r0 = now
      spans("setup", s"setup$r") {
        val s0 = now
        spark = spans("session.build") { newSession(cpus, out) }
        val session = secs(s0)
        val t1 = now
        spans("tables.open") {
          if (isJobs) MapReduce.textDir(spark, input).schema
          else Tables.names.foreach { t =>
            Tables(spark, input, t).schema
            Tables.rowCount(spark, input, t)
          }
        }
        val tables = secs(t1)
        Json.obj(
          "total_s" -> Json.num(secs(r0)),
          "session_s" -> Json.num(session),
          "tables_s" -> Json.num(tables))
      }
    }
    val jvmToReady = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val fingerprintMs = {
      val v = (1 to 9).map { _ =>
        val f0 = now; Artifacts.fingerprint(input); (now - f0) / 1e6 }.sorted
      v(v.size / 2)
    }

    // ---- the closed loop -------------------------------------------------
    val sc = spark.sparkContext
    val listener = new LayerListener
    val oracle = SparkEntry.oracleSql
    val queries = SparkEntry.queries
    val coldHash = mutable.HashMap.empty[String, String]
    val opRows = mutable.ArrayBuffer.empty[String]
    val passRows = mutable.ArrayBuffer.empty[String]
    val trees0 = Artifacts.buildCount.get()
    var coldTrees = 0L
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    var coldCompiles = 0L
    // pass 0 is cold; the settling passes let the JIT catch up (the
    // first warm-looking pass still burns ~40% more CPU than later
    // ones); then a fixed number of warm passes, the same in every run,
    // so medians sit at the same point of the JVM's warm-up. With
    // tracing on, warm passes alternate untraced and traced so the run
    // measures its own overhead.
    val settle = spec("settle_passes").toInt
    val warmPasses = spec("warm_passes").toInt * (if (traced) 2 else 1)
    var pass = 0
    def phase(p: Int) = if (p == 0) "cold" else if (p <= settle) "settle" else "warm"
    while (pass <= settle + warmPasses) {
      val tracedPass = traced && (pass == 0 || (pass > settle && (pass - settle) % 2 == 0))
      spans.enabled = tracedPass
      if (tracedPass) sc.addSparkListener(listener)
      val cpu0 = cpuSeconds()
      val p0 = now
      ops.foreach { op =>
        val key = s"p$pass:$op"
        var ok = true
        var differs = false
        var err: String = null
        var rows = -1L
        var wall = -1.0
        var timing = Seq.empty[(String, String)]
        val codegen0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val epoch0 = System.currentTimeMillis()
        val o0 = now
        try spans("op", key) {
          if (isJobs) {
            val dest = out.resolve(s"jobs/p$pass/$op").toString
            sc.setLocalProperty("perfbench.op", s"$key|exec")
            runJob(spark, spec, op, input, dest)
          } else {
            sc.setLocalProperty("perfbench.op", s"$key|build")
            val df = spans("query.build", key) { queries(op)(spark, input) }
            val b = secs(o0)
            sc.setLocalProperty("perfbench.op", s"$key|plan")
            val qe = df.queryExecution
            val pl0 = now
            spans("plan", key) { qe.executedPlan }
            val pl = secs(pl0)
            sc.setLocalProperty("perfbench.op", s"$key|exec")
            val e0 = now
            val res = spans("exec", key) { df.collect() }
            val ex = secs(e0)
            wall = secs(o0)
            rows = res.length
            val phases = qe.tracker.phases
            def ph(n: String) = phases.get(n)
              .map(p => (p.endTimeMs - p.startTimeMs) / 1e3).getOrElse(0.0)
            timing = Seq("build_s" -> Json.num(b), "plan_s" -> Json.num(pl),
              "exec_s" -> Json.num(ex),
              "analysis_s" -> Json.num(ph("analysis")),
              "optimization_s" -> Json.num(ph("optimization")),
              "planning_s" -> Json.num(ph("planning")))
            // checks, outside the op's time and untraced
            sc.setLocalProperty("perfbench.op", null)
            val h = canonHash(res)
            if (pass == 0) {
              coldHash(op) = h
              spark.createDataFrame(res.toSeq.asJava, df.schema).coalesce(1)
                .write.mode("overwrite")
                .parquet(out.resolve(s"results/$op").toString)
            } else if (coldHash.get(op).exists(_ != h)) {
              ok = false
              differs = true
              err = "result differs from the cold pass's"
            }
          }
        } catch {
          case e: Throwable =>
            ok = false
            err = e.toString.linesIterator.nextOption().getOrElse("").take(300)
        }
        if (wall < 0) wall = secs(o0)
        val codegen = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - codegen0
        sc.setLocalProperty("perfbench.op", null)
        spark.catalog.clearCache()
        sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
        val layer = if (!tracedPass) Nil else {
          org.apache.spark.perfbench.ListenerDrain(sc)
          layerFields(listener.take(key), cpus,
            if (isJobs) (epoch0, wall) else (0L, 0.0))
        }
        val outMb = if (isJobs) dirBytes(out.resolve(s"jobs/p$pass/$op")) / 1048576.0
          else 0.0
        opRows += Json.obj((Seq(
          "pass" -> pass.toString, "phase" -> Json.str(phase(pass)), "op" -> Json.str(op),
          "traced" -> tracedPass.toString,
          "ok" -> ok.toString, "differs" -> differs.toString, "err" -> Json.str(err),
          "rows" -> rows.toString, "output_mb" -> Json.num(outMb),
          "codegen_compiles" -> codegen.toString, "wall_s" -> Json.num(wall)) ++
          timing ++ layer): _*)
      }
      if (pass == 0) {
        coldTrees = Artifacts.buildCount.get() - trees0
        coldCompiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      }
      val passWall = secs(p0)
      val cpu = cpuSeconds() - cpu0
      if (tracedPass) sc.removeSparkListener(listener)
      passRows += Json.obj("pass" -> pass.toString, "phase" -> Json.str(phase(pass)),
        "traced" -> tracedPass.toString,
        "wall_s" -> Json.num(passWall), "cpu_s" -> Json.num(cpu))
      pass += 1
    }
    spans.enabled = traced
    // the artifact warm-up graft.Bench makes, from an empty artifact
    // root; traced runs only (the ops build what they need lazily, in
    // the cold pass)
    val artifacts = if (!traced || isJobs) "null" else {
      // a new session: the old one's reader cache points at the files
      spark.stop()
      clearDir(artifactRoot)
      spark = newSession(cpus, out)
      val b0 = Artifacts.buildCount.get()
      val a0 = now
      spans("artifacts.build") {
        Dedup.warmArtifacts(spark, input)
        Similarity.warmArtifacts(spark, input)
        Relational.copurchaseEdges(spark, input)
        spark.catalog.clearCache()
      }
      Json.obj("build_s" -> Json.num(secs(a0)),
        "trees" -> (Artifacts.buildCount.get() - b0).toString,
        "mb" -> Json.num(dirBytes(artifactRoot) / 1048576.0))
    }
    val memProbe1 = memProbe()
    val rss = peakRssMb()
    spark.stop()

    val oracleJson = ops.flatMap(o => oracle.get(o).map(o -> _))
      .map { case (k, v) => Json.str(k) + ":" + Json.str(v) }.mkString("{", ",", "}")
    val json = Json.obj(
      "setup" -> setups.mkString("[", ",", "]"),
      "jvm_to_ready_s" -> Json.num(jvmToReady),
      "fingerprint_ms" -> Json.num(fingerprintMs),
      "artifacts" -> artifacts,
      "cold_artifact_trees" -> coldTrees.toString,
      "cold_codegen_compiles" -> coldCompiles.toString,
      "passes" -> passRows.mkString("[", ",", "]"),
      "ops" -> opRows.mkString("[", ",", "]"),
      "peak_rss_mb" -> Json.num(rss),
      "memprobe_ms" -> s"[${Json.num(memProbe0)},${Json.num(memProbe1)}]",
      "cpus" -> cpus.toString,
      "heap_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "oracle" -> oracleJson,
      "spans" -> spans.json)
    Files.writeString(out.resolve("result.json"), json)
  }

  private def newSession(cpus: Int, out: Path): SparkSession = {
    val s = Session.build(s"local[$cpus]", cpus, "perfbench", Map(
      "spark.sql.warehouse.dir" -> out.resolve("warehouse").toString,
      "spark.local.dir" -> out.resolve("local").toString))
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The four job ops: word count and grep, each through the DataFrame
    * path (`MapReduce`) and the executable path (`Submit`). */
  private def runJob(spark: SparkSession, spec: Spec, op: String,
                     input: String, dest: String): Unit = {
    val r = spec("reducers").toInt
    val term = spec("grep_term")
    val exec = spec("exec_dir")
    def job(map: String, red: String) = Submit.Job(input = input, output = dest,
      mapper = map, reducer = red, numMappers = spec("mappers").toInt, numReducers = r)
    op match {
      case "mr_wordcount" => MapReduce.wordCount(spark, input, dest, r)
      case "mr_grep" => MapReduce.grep(spark, input, dest, term, r)
      case "submit_wordcount" =>
        Submit.run(spark, job(s"sh $exec/wc_map.sh", s"sh $exec/wc_reduce.sh"))
      case "submit_grep" =>
        Submit.run(spark, job(s"sh $exec/grep_map.sh $term", s"sh $exec/grep_reduce.sh"))
      case _ => sys.error(s"unknown job op $op")
    }
  }

  /** Per-op layer counters; `job` is (call start ms, call wall s) for
    * job ops, whose whole call is the execution window. */
  private def layerFields(a: LayerListener#Acc, cpus: Int,
                          job: (Long, Double)): Seq[(String, String)] = {
    val stages = a.stages.toSeq
    val longest = if (stages.isEmpty) None
      else Some(stages.maxBy(s => s.completed - s.submitted))
    val skew = longest.filter(_.taskMs.nonEmpty).map { s =>
      val t = s.taskMs.sorted
      val med = t(t.size / 2).max(1L)
      t.last.toDouble / med
    }.getOrElse(1.0)
    // union of stage intervals: stage time; the rest of the execution
    // window had no stage running
    val busyMs = stages.filter(_.completed > 0).map(s => (s.submitted, s.completed))
      .sortBy(_._1).foldLeft((0L, Long.MinValue)) { case ((sum, end), (b, e)) =>
        if (e <= end) (sum, end)
        else (sum + e - math.max(b, end), e)
      }._1
    val mapS = stages.filter(_.inputBytes > 0).map(s => s.completed - s.submitted).sum / 1e3
    val redS = stages.filter(_.inputBytes == 0).map(s => s.completed - s.submitted).sum / 1e3
    val commit = if (job._2 > 0 && a.lastJobEnd > 0)
      (job._1 + (job._2 * 1000).toLong - a.lastJobEnd) / 1e3 else 0.0
    val mb = 1048576.0
    Seq(
      "jobs" -> a.jobs.toString, "eager_jobs" -> a.eagerJobs.toString,
      "stages" -> stages.size.toString, "tasks" -> a.tasks.toString,
      "stage_busy_s" -> Json.num(busyMs / 1e3),
      "task_s" -> Json.num(a.taskMs / 1e3), "task_cpu_s" -> Json.num(a.taskCpuNs / 1e9),
      "gc_s" -> Json.num(a.gcMs / 1e3), "skew" -> Json.num(skew),
      "shuffle_write_mb" -> Json.num(a.shuffleWrite / mb),
      "shuffle_read_mb" -> Json.num(a.shuffleRead / mb),
      "spill_mb" -> Json.num(a.spill / mb),
      "map_stage_s" -> Json.num(mapS), "reduce_stage_s" -> Json.num(redS),
      "commit_s" -> Json.num(commit),
      "subprocesses" -> stages.filter(_.piped).map(_.taskMs.size).sum.toString,
      "slots" -> cpus.toString)
  }

  /** Order-insensitive digest of a collected result. */
  private def canonHash(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach(s => md.update(s.getBytes("UTF-8")))
    md.digest().take(12).map(b => f"$b%02x").mkString
  }

  /** Process CPU seconds, children included (the executable path's
    * subprocesses are reaped by their tasks). */
  private def cpuSeconds(): Double = {
    val s = new String(Files.readAllBytes(Paths.get("/proc/self/stat")))
    val f = s.substring(s.lastIndexOf(')') + 2).split(" ")
    // stat fields 14-17: utime stime cutime cstime, in clock ticks
    (11 to 14).map(i => f(i).toLong).sum / 100.0
  }

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  private def memProbe(): Double = {
    val v = (1 to 7).map(_ => graft.Bench.memProbeMs()).sorted
    v(v.size / 2)
  }

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally st.close()
    }

  private def clearDir(p: Path): Unit = if (Files.exists(p)) {
    val st = Files.walk(p)
    val all = try st.iterator().asScala.toSeq finally st.close()
    all.reverse.filter(_ != p).foreach(Files.deleteIfExists(_))
  }
}
