package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.{ArrayList => JList, LinkedHashMap => JMap}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Closed-loop, one-client benchmark harness for the Registry keys.
  *
  * One JVM, `local[cpus]`, the session config of `graft.Bench`. Keys run
  * back to back; each query is `op.build` then
  * `queryExecution.toRdd.count()`, the basis `graft.Bench` times. The
  * first pass runs in the fresh session (cold); warm passes follow until
  * `--seconds` have elapsed and at least two have run, the last one
  * running to its end. Each pass shuffles the keys with the seed.
  *
  * With `--trace 1` the cold pass and every second warm pass are traced:
  * a SparkListener collects jobs, stages, task metrics and SQL write
  * executions, and around each call the harness reads the
  * QueryPlanningTracker phases, the codegen counters and the executed
  * plan's scan metrics. The untraced warm passes in between give the
  * tracing overhead. All of it is kept in memory and written as one
  * JSON record at the end; `benchmark/run.py` turns it into metrics.
  *
  * After timing, every key's result is written to `--dump` (as
  * `graft.Verify` does) so the caller can compare it with its oracle.
  */
object Harness extends AdaptiveSparkPlanHelper {

  private val epochMs0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  /** Epoch milliseconds with sub-millisecond resolution. */
  private def nowMs: Double = epochMs0 + (System.nanoTime() - nano0) / 1e6

  private def jmap(kv: (String, Any)*): JMap[String, Any] = {
    val m = new JMap[String, Any]()
    kv.foreach { case (k, v) => m.put(k, v) }
    m
  }

  // ---------------------------------------------------------------- listener

  /** Every job, stage, task summary and SQL write seen while tracing. */
  final class Recorder(memoDirMarkers: Seq[String]) extends SparkListener {
    val jobs = new JList[JMap[String, Any]]()
    val stages = new JList[JMap[String, Any]]()
    val writes = new JList[JMap[String, Any]]()
    private val jobById = mutable.Map[Int, JMap[String, Any]]()
    private val stageTasks = mutable.Map[(Int, Int), mutable.ArrayBuffer[Array[Double]]]()
    private val writeById = mutable.Map[Long, JMap[String, Any]]()
    @volatile var lastJobEnd: Int = -1

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val p = Option(e.properties)
      val j = jmap(
        "id" -> e.jobId, "start" -> e.time.toDouble,
        "q" -> p.flatMap(x => Option(x.getProperty("graftbench.q"))).map(_.toInt).getOrElse(-1),
        "phase" -> p.flatMap(x => Option(x.getProperty("graftbench.phase"))).getOrElse(""),
        "stage_ids" -> new JList[Int](e.stageIds.asJava))
      jobById(e.jobId) = j
      jobs.add(j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobById.get(e.jobId).foreach(_.put("end", e.time.toDouble))
      lastJobEnd = e.jobId
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val i = e.taskInfo
      val m = e.taskMetrics
      val row =
        if (m == null) Array(i.launchTime.toDouble, i.finishTime.toDouble, 0, 0, 0, 0, 0, 0)
        else Array(i.launchTime.toDouble, i.finishTime.toDouble,
          m.executorRunTime.toDouble, m.executorCpuTime / 1e6, m.jvmGCTime.toDouble,
          m.shuffleWriteMetrics.bytesWritten.toDouble,
          m.shuffleReadMetrics.totalBytesRead.toDouble,
          (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      stageTasks.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer()) += row
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val s = e.stageInfo
      val tasks = stageTasks.remove((s.stageId, s.attemptNumber())).getOrElse(mutable.ArrayBuffer())
      def sum(i: Int) = tasks.iterator.map(_(i)).sum
      stages.add(jmap(
        "id" -> s.stageId, "attempt" -> s.attemptNumber(),
        "submit" -> s.submissionTime.map(_.toDouble).getOrElse(-1.0),
        "complete" -> s.completionTime.map(_.toDouble).getOrElse(-1.0),
        "tasks" -> tasks.size,
        "max_task_ms" -> (if (tasks.isEmpty) 0.0 else tasks.iterator.map(t => t(1) - t(0)).max),
        "run_ms" -> sum(2), "cpu_ms" -> sum(3), "gc_ms" -> sum(4),
        "shuffle_write_bytes" -> sum(5), "shuffle_read_bytes" -> sum(6),
        "spill_bytes" -> sum(7),
        "task_intervals" -> new JList[Any](tasks.map(t => new JList[Double](Seq(t(0), t(1)).asJava)).asJava)))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        val d = s.physicalPlanDescription
        if (d != null && d.contains("InsertIntoHadoopFsRelationCommand") &&
            memoDirMarkers.exists(d.contains)) synchronized {
          val w = jmap("id" -> s.executionId, "start" -> s.time.toDouble)
          writeById(s.executionId) = w
          writes.add(w)
        }
      case x: SparkListenerSQLExecutionEnd => synchronized {
        writeById.remove(x.executionId).foreach(_.put("end", x.time.toDouble))
      }
      case _ =>
    }
  }

  // ------------------------------------------------------------ memo files

  private val memoPrefixes = Seq("graft_diskmemo_", "graft_store_")

  /** (size, mtime) of every file under the program's memo/store dirs. */
  private def memoFiles(tmp: File): Map[String, (Long, Long)] = {
    val out = Map.newBuilder[String, (Long, Long)]
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty[File]).foreach(walk)
      else out += f.getPath -> ((f.length, f.lastModified))
    Option(tmp.listFiles).getOrElse(Array.empty[File])
      .filter(f => memoPrefixes.exists(f.getName.startsWith)).foreach(walk)
    out.result()
  }

  private def written(before: Map[String, (Long, Long)], after: Map[String, (Long, Long)]): (Long, Long) = {
    val changed = after.filter { case (p, v) => !before.get(p).contains(v) }
    (changed.size.toLong, changed.valuesIterator.map(_._1).sum)
  }

  // ---------------------------------------------------------- codegen state

  private def codegenState(): (Long, Long, Double) = {
    val h = CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE
    // The histogram keeps every value until its 1028-sample reservoir
    // fills; past that only the mean is exact enough to use.
    val snap = h.getSnapshot
    val bytes = if (h.getCount <= 1028) snap.getValues.map(_.toDouble).sum else snap.getMean * h.getCount
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime, bytes)
  }

  // ------------------------------------------------------------------ main

  private def procField(file: String, pick: String => Option[String]): String =
    try scala.io.Source.fromFile(file).getLines().flatMap(pick).toSeq.headOption.getOrElse("-1")
    catch { case NonFatal(_) => "-1" }
  private def loadavg(): Double = procField("/proc/loadavg", l => Some(l.split(" ")(0))).toDouble
  private def stealJiffies(): Long =
    procField("/proc/stat", l => if (l.startsWith("cpu ")) Some(l.trim.split("\\s+")(8)) else None).toLong
  private def vmHwmKb(): Long =
    procField("/proc/self/status", l =>
      if (l.startsWith("VmHWM:")) Some(l.split("\\s+")(1)) else None).toLong

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val dataDir = args("data")
    val keys = args("keys").split(",").toSeq
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val cpus = args("cpus").toInt
    val tmp = new File(sys.props("java.io.tmpdir"))
    val loadavg0 = loadavg()
    val steal0 = stealJiffies()

    def buildSession(): SparkSession = {
      val s = graft.core.GraftSession.joinTuned(SparkSession.builder()
        .withExtensions(new graft.functions.GraftExtensions)
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", args("local-dir")))
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s.read.parquet(s"$dataDir/lineitem.parquet").count() // warm-up action
      s
    }
    // Set-up is repeated so its median is steady: the first sample runs
    // from JVM start, the later ones from stopping the previous session.
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    var spark = buildSession()
    val setupS = mutable.ArrayBuffer((nowMs - jvmStart) / 1e3)
    (1 until 3).foreach { _ =>
      spark.stop()
      val t = nowMs
      spark = buildSession()
      setupS += (nowMs - t) / 1e3
    }
    val sc = spark.sparkContext
    val byKey = graft.ops.Registry.all.map(op => op.key -> op).toMap
    val ops = keys.map(k => byKey.getOrElse(k, sys.error(s"unknown Registry key $k")))

    val recorder = new Recorder(memoPrefixes)
    val samples = new JList[JMap[String, Any]]()
    var qid = 0

    def runQuery(op: graft.ops.OpSpec, pass: Int, traced: Boolean): Unit = {
      qid += 1
      sc.setLocalProperty("graftbench.q", qid.toString)
      sc.setLocalProperty("graftbench.phase", "build")
      val cg0 = if (traced) codegenState() else null
      val m0 = if (traced) memoFiles(tmp) else null
      var m1: Map[String, (Long, Long)] = null
      var qe: org.apache.spark.sql.execution.QueryExecution = null
      var error: String = null
      val t0 = nowMs
      var t1 = Double.NaN
      try {
        val df = op.build(spark, dataDir)
        t1 = nowMs
        if (traced) m1 = memoFiles(tmp)
        sc.setLocalProperty("graftbench.phase", "exec")
        qe = df.queryExecution
        qe.toRdd.count()
      } catch {
        case NonFatal(e) =>
          error = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
          System.err.println(s"[graftbench] ${op.key} failed: $error")
      }
      val t2 = nowMs
      val s = jmap("q" -> qid, "key" -> op.key, "pass" -> pass,
        "traced" -> traced, "start" -> t0, "end" -> t2,
        "build_end" -> (if (t1.isNaN) t2 else t1), "ok" -> (error == null))
      if (error != null) s.put("error", error)
      if (traced) {
        val cg1 = codegenState()
        s.put("codegen", jmap("compiles" -> (cg1._1 - cg0._1),
          "compile_ms" -> (cg1._2 - cg0._2) / 1e6, "class_bytes" -> (cg1._3 - cg0._3)))
        val m2 = memoFiles(tmp)
        val (bf, bb) = written(m0, if (m1 == null) m2 else m1)
        val (ef, eb) = if (m1 == null) (0L, 0L) else written(m1, m2)
        s.put("memo_files", jmap("build_files" -> bf, "build_bytes" -> bb,
          "exec_files" -> ef, "exec_bytes" -> eb))
        if (qe != null) {
          val ph = new JMap[String, Any]()
          qe.tracker.phases.foreach { case (n, p) =>
            ph.put(n, new JList[Double](Seq(p.startTimeMs.toDouble, p.endTimeMs.toDouble).asJava))
          }
          s.put("phases", ph)
          var files, bytes, metaMs = 0L
          try collectWithSubqueries(qe.executedPlan) { case p: SparkPlan if p.metrics.contains("numFiles") => p }
            .foreach { p =>
              files += p.metrics("numFiles").value
              bytes += p.metrics.get("filesSize").map(_.value).getOrElse(0L)
              metaMs += p.metrics.get("metadataTime").map(_.value).getOrElse(0L)
            }
          catch { case NonFatal(_) => }
          s.put("scan", jmap("files" -> files, "bytes" -> bytes, "metadata_ms" -> metaMs))
        }
      }
      samples.add(s)
    }

    val passBounds = new JList[JMap[String, Any]]()
    def runPass(pass: Int, traced: Boolean): Unit = {
      val start = nowMs
      val rnd = new Random(seed * 1000003L + pass)
      if (traced) sc.addSparkListener(recorder)
      rnd.shuffle(ops).foreach(runQuery(_, pass, traced))
      if (traced) {
        // The listener bus is FIFO: once this job's end is seen, every
        // earlier event of the pass has been delivered.
        sc.setLocalProperty("graftbench.q", null)
        sc.setJobGroup("graftbench-drain", "listener drain marker")
        sc.parallelize(Seq(1), 1).count()
        sc.clearJobGroup()
        val marker = sc.statusTracker.getJobIdsForGroup("graftbench-drain").max
        val deadline = System.currentTimeMillis() + 10000
        while (recorder.lastJobEnd != marker && System.currentTimeMillis() < deadline) Thread.sleep(5)
        sc.removeSparkListener(recorder)
      }
      passBounds.add(jmap("pass" -> pass, "traced" -> traced, "start" -> start, "end" -> nowMs))
    }

    val timedStart = nowMs
    runPass(0, trace)
    val coldEnd = nowMs
    val deadline = coldEnd + seconds * 1e3
    var pass = 1
    // At least two warm passes, so that a faster or slower host changes
    // the number of samples per key as little as possible. Traced runs
    // alternate untraced and traced warm passes, at least
    // untraced-traced-untraced, so that warm-up across passes does not
    // bias the tracing overhead.
    while (pass < 3 || nowMs < deadline || (trace && pass < 4)) {
      runPass(pass, trace && pass % 2 == 0)
      pass += 1
    }
    val warmEnd = nowMs
    sc.setLocalProperty("graftbench.q", null)

    // Outside the timed region: dump each key's result for the oracle
    // check, `cpus` keys at a time, each in its own session so that
    // temp views of concurrent keys cannot collide.
    val dumps = new JMap[String, Any]()
    val dumpStart = nowMs
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cpus)
    try {
      keys.distinct.map { k =>
        k -> pool.submit[String](() =>
          try {
            byKey(k).build(spark.newSession(), dataDir).coalesce(1).write.mode("overwrite")
              .parquet(s"${args("dump")}/$k")
            "ok"
          } catch {
            case NonFatal(e) => s"error: ${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
          })
      }.foreach { case (k, f) => dumps.put(k, f.get()) }
    } finally pool.shutdown()

    val record = jmap(
      "cpus" -> cpus, "setup_s" -> new JList[Double](setupS.asJava),
      "timed_start" -> timedStart, "cold_end" -> coldEnd, "warm_end" -> warmEnd,
      "passes" -> passBounds, "samples" -> samples,
      "oracle" -> jmap(keys.distinct.map(k => k -> byKey(k).oracle.orNull): _*),
      "jobs" -> recorder.jobs, "stages" -> recorder.stages, "writes" -> recorder.writes,
      "dumps" -> dumps, "dump_s" -> (nowMs - dumpStart) / 1e3, "vm_hwm_kb" -> vmHwmKb(),
      "loadavg1m" -> loadavg0, "loadavg1m_end" -> loadavg(),
      "cpu_steal_jiffies" -> (stealJiffies() - steal0))
    Files.writeString(Paths.get(args("out")), new ObjectMapper().writeValueAsString(record))
    spark.stop()
  }
}
