package perfbench

import java.io.{OutputStream, PrintStream}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.json4s._
import org.json4s.jackson.JsonMethods

/** The benchmark's JVM side. Reads a spec written by `run.py`, sets up the
  * session (timed from JVM start), runs the closed-loop clients for
  * `seconds`, and writes raw records as JSON for `run.py` to check and
  * reduce. Usage: `perfbench.Main <spec.json> <out.json>`.
  */
object Main {

  final case class Done(client: Int, idx: Int, kind: String,
      key: String, start: Double, end: Double, traced: Boolean,
      error: String, digest: JValue, extra: JValue)

  def main(args: Array[String]): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    System.setOut(new PrintStream(OutputStream.nullOutputStream(), true))
    val spec = JsonMethods.parse(new String(
      Files.readAllBytes(Paths.get(args(0))), StandardCharsets.UTF_8))
    def s(k: String): String = (spec \ k).asInstanceOf[JString].s
    def i(k: String): Int = (spec \ k) match {
      case JInt(v) => v.toInt
      case JLong(v) => v.toInt
      case o => sys.error(s"spec '$k': $o")
    }
    def reqs(k: String): Vector[Req] = (spec \ k) match {
      case JArray(items) => items.map { j =>
        Req((j \ "kind").asInstanceOf[JString].s,
          (j \ "key").asInstanceOf[JString].s, j \ "args")
      }.toVector
      case o => sys.error(s"spec '$k': $o")
    }
    val workload = s("workload")
    val data = s("data")
    val cores = i("cores")
    val clients = i("clients")
    val traced = (spec \ "trace") == JBool(true)
    val seconds = i("seconds")
    val requests = reqs("requests")
    val side = reqs("side")
    val sideBase = i("side_base")
    val warmup = reqs("warmup")

    // ---- set-up: session, fixtures, warm-up pass ---------------------
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s("tmp"))
      .config("spark.sql.warehouse.dir", s"${s("tmp")}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // set-up phases as (name, ms since JVM start), for the results file
    val marks = scala.collection.mutable.ArrayBuffer("session" -> (Trace.nowMs - jvmStart))
    val wl = Workload(workload, spark, data)
    // fixtures and warm-up pass on `cores` threads: thread 0 builds the
    // fixtures first, and every thread sends warm-up graphs from the
    // shared list until it is used up; warm-up ids are negative
    @volatile var prepared = 0.0
    val nextWarm = new AtomicInteger(0)
    val warmErrors = new ConcurrentLinkedQueue[Throwable]()
    val warmThreads = (0 until cores).map { c =>
      val t = new Thread(() =>
        try {
          if (c == 0) {
            wl.prepare()
            prepared = Trace.nowMs - jvmStart
          }
          var j = nextWarm.getAndIncrement()
          while (j < warmup.length) {
            wl.run(warmup(j), -1L - j)
            j = nextWarm.getAndIncrement()
          }
        } catch { case e: Throwable => warmErrors.add(e) }, s"perfbench-warm-$c")
      t.start(); t
    }
    warmThreads.foreach(_.join())
    if (!warmErrors.isEmpty) throw warmErrors.peek()
    marks += "prepare" -> prepared
    val setupMs = Trace.nowMs - jvmStart
    marks += "warmup" -> setupMs
    val jitSetupMs = jitMs()
    val canaryBefore = Seq.fill(5)(canary())

    // ---- timed phase: closed-loop clients ----------------------------
    // with side requests, client 0 sends them back to back (indices
    // sideBase + j) and the other clients send the graph requests
    val done = new ConcurrentLinkedQueue[Done]()
    val next = new AtomicInteger(0)
    val nextSide = new AtomicInteger(0)
    val t0 = Trace.nowMs
    val deadline = t0 + seconds * 1000.0
    // traced runs trace alternate blocks of `block` graph requests (by
    // index), so drift over the run weighs both arms alike, and every side
    // request; the listeners stay attached for the whole phase
    val block = i("block")
    val gcBefore = gcMs()
    val compilesBefore = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val compileNsBefore = CodeGenerator.compileTime
    val session = spark
    if (traced) Trace.setOn(spark, enable = true)
    def client(c: Int): Unit = {
      val isSide = c == 0 && side.nonEmpty
      while (Trace.nowMs < deadline) {
        val (idx, r) =
          if (isSide) {
            val j = nextSide.getAndIncrement()
            (sideBase + j, side(j % side.length))
          } else {
            val j = next.getAndIncrement()
            (j, requests(j % requests.length))
          }
        val id = idx.toLong
        val on = traced && (isSide || idx / block % 2 == 1)
        val conf0 = if (on) session.conf.getAll else Map.empty[String, String]
        val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val a = Trace.nowMs
        val res = try Right(if (on) Trace.request(session, id)(wl.run(r, id))
            else wl.run(r, id))
          catch { case e: Throwable => Left(e) }
        val b = Trace.nowMs
        val (err, dig) = res match {
          case Right(ans) =>
            try ("", wl.digest(r, ans))
            catch { case e: Throwable => (describe(e), JNull) }
          case Left(e) => (describe(e), JNull)
        }
        val extra: JValue = if (!on) JObject() else {
          val conf1 = session.conf.getAll
          val changed = (conf0.keySet ++ conf1.keySet)
            .count(k => conf0.get(k) != conf1.get(k))
          val st = session.sparkContext.getRDDStorageInfo
          // counts every client's compiles in this request's window
          val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
          JObject("conf_changed_keys" -> JLong(changed),
            "compiles" -> JLong(compiles),
            "persisted_rdds" -> JLong(st.length),
            "persisted_bytes" -> JLong(st.map(x => x.memSize + x.diskSize).sum))
        }
        done.add(Done(c, idx, r.kind, r.key, a, b, on, err, dig, extra))
      }
    }
    val threads = (0 until clients).map { c =>
      val t = new Thread(() => client(c), s"perfbench-client-$c")
      t.start(); t
    }
    threads.foreach(_.join())
    val t1 = Trace.nowMs
    if (traced) drain()
    Trace.setOn(spark, enable = false)
    val compilesAll = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compilesBefore
    val compileMsAll = (CodeGenerator.compileTime - compileNsBefore) / 1e6
    val canaryAfter = Seq.fill(5)(canary())
    val gcAll = gcMs() - gcBefore
    val jitTimedMs = jitMs() - jitSetupMs
    val rssKb = vmHwmKb()
    spark.stop()

    // ---- raw records out -------------------------------------------
    val num = Workload.num _
    val requestsOut = done.asScala.toList.sortBy(_.idx).map { d =>
      JObject("client" -> JLong(d.client), "idx" -> JLong(d.idx),
        "kind" -> JString(d.kind), "key" -> JString(d.key),
        "start" -> num(d.start), "end" -> num(d.end),
        "traced" -> JBool(d.traced), "error" -> JString(d.error),
        "digest" -> d.digest, "extra" -> d.extra)
    }
    val out = JObject(List(
      "setup_ms" -> num(setupMs),
      "setup_marks" -> JObject(marks.toList.map { case (k, v) => k -> num(v) }),
      "t0" -> num(t0), "t1" -> num(t1),
      "cores" -> JLong(cores), "clients" -> JLong(clients),
      "rss_peak_kb" -> JLong(rssKb), "gc_ms_all" -> JLong(gcAll),
      "jit_ms_setup" -> JLong(jitSetupMs), "jit_ms_timed" -> JLong(jitTimedMs),
      "compiles_all" -> JLong(compilesAll), "compile_ms_all" -> num(compileMsAll),
      "canary_ms" -> JArray((canaryBefore ++ canaryAfter).toList.map(num)),
      "requests" -> JArray(requestsOut)) ++ (if (traced) traceJson() else Nil))
    Files.write(Paths.get(args(1)),
      JsonMethods.compact(JsonMethods.render(out)).getBytes(StandardCharsets.UTF_8))
  }

  private def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  /** JIT compiler time so far (the JVM's compilation MXBean). */
  private def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  private def vmHwmKb(): Long = try {
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
  } catch { case _: Throwable => 0L }

  /** Fixed CPU-only work; its time moves only with the machine. */
  private def canary(): Double = {
    val a = Trace.nowMs
    var acc = 0.0
    var k = 1
    while (k < 4000000) { acc += math.sqrt(k.toDouble) / k; k += 1 }
    if (acc < 0) println(acc)
    Trace.nowMs - a
  }

  /** Wait until the listener bus has delivered every traced event: all
    * jobs ended and no new record for 100 ms (at most 5 s).
    */
  private def drain(): Unit = {
    def snap = Trace.synchronized {
      (Trace.jobs.size, Trace.jobs.values.count(!_.end.isNaN),
        Trace.phases.size, Trace.batches.size, Trace.stages.size)
    }
    val limit = Trace.nowMs + 5000
    var last = snap
    var stable = false
    while (!stable && Trace.nowMs < limit) {
      Thread.sleep(100)
      val cur = snap
      stable = cur == last && cur._1 == cur._2
      last = cur
    }
  }

  private def traceJson(): List[(String, JValue)] = Trace.synchronized {
    val num = Workload.num _
    def pair(p: (Double, Double)) = JArray(List(num(p._1), num(p._2)))
    val spans = Trace.spans.asScala.toList.sortBy(_.id).map { s =>
      JArray(List(JLong(s.id), JLong(s.parent), JString(s.name),
        JLong(s.req), num(s.start), num(s.end)))
    }
    val jobs = Trace.jobs.values.toList.map { j =>
      JArray(List(JLong(j.id), JLong(j.req), num(j.start), num(j.end)))
    }
    val stages = Trace.stages.values.toList.map { st =>
      val ts = st.taskMs.sorted
      JObject("req" -> JLong(st.req), "submitted" -> num(st.submitted),
        "completed" -> num(st.completed),
        "first_launch" -> num(if (ts.isEmpty) Double.NaN else st.firstLaunch),
        "tasks" -> JLong(ts.length), "task_ms" -> num(ts.sum),
        "task_max" -> num(if (ts.isEmpty) 0.0 else ts.last),
        "task_median" -> num(if (ts.isEmpty) 0.0 else
          if (ts.length % 2 == 1) ts(ts.length / 2)
          else (ts(ts.length / 2 - 1) + ts(ts.length / 2)) / 2),
        "shuffle_write_bytes" -> JLong(st.shuffleWriteBytes),
        "shuffle_write_records" -> JLong(st.shuffleWriteRecords),
        "shuffle_read_bytes" -> JLong(st.shuffleReadBytes),
        "shuffle_read_records" -> JLong(st.shuffleReadRecords),
        "spill_bytes" -> JLong(st.spillBytes),
        "input_bytes" -> JLong(st.inputBytes),
        "input_records" -> JLong(st.inputRecords))
    }
    // executions a client did not claim are placed by time in run.py
    val execs = Trace.phases.toList.map { p =>
      JObject("req" -> JLong(Trace.claimed.getOrElse(p.execId, -1L)),
        "analysis" -> pair(p.analysis), "optimization" -> pair(p.optimization),
        "planning" -> pair(p.planning))
    }
    val batches = Trace.batches.toList.map { b =>
      JObject("query" -> JString(b.query), "batch" -> JLong(b.batchId),
        "start" -> num(b.start),
        "duration_ms" -> JObject(b.durationMs.toList.sortBy(_._1)
          .map { case (k, v) => k -> JLong(v) }),
        "state_commit_ms" -> JLong(b.stateCommitMs),
        "state_rows" -> JLong(b.stateRows))
    }
    List("spans" -> JArray(spans), "jobs" -> JArray(jobs),
      "stages" -> JArray(stages), "execs" -> JArray(execs),
      "batches" -> JArray(batches))
  }
}
