package graftbench

import scala.collection.mutable
import scala.util.Try

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** The measuring half of the benchmark (`run.py` generates the inputs and
  * the oracle's answers, and turns this program's record into metrics).
  *
  * {{{
  * Main --workload W --data DIR --oracle DIR --work DIR --out FILE
  *      --seconds S --trace 0|1
  * }}}
  *
  * Sets up [[Setups]] times on a fresh `local[N]` session each time (N =
  * the CPUs this process may use), makes [[Warm]] more untimed requests,
  * then runs one closed-loop client for S seconds and at least
  * [[MinRequests]] requests. With `--trace 1` the requests alternate
  * between untraced and traced, so both kinds see the same mix of work and
  * the record holds the tracing overhead. A fixed control computation is
  * timed before the warm-up requests and after the loop. The record is one
  * JSON file. */
object Main {
  final case class Req(i: Int, ms: Double, rows: Long, error: Option[String])

  private val Setups = 3      // set-ups per run; setup_s is their median
  private val Warm = 4        // untimed requests after set-up: the JIT is still compiling
  private val MinRequests = 3 // of each kind, so a median exists even on a slow machine

  private val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  private def phase(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.currentTimeMillis() - jvmStart) / 1e3}%.2f s $what")

  def main(argv: Array[String]): Unit = {
    phase("main")
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = Workload(args("workload"), args("data"), args("oracle"), args("work"))
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    // follows the process's CPU affinity on Linux
    val cpus = Runtime.getRuntime.availableProcessors
    val work = args("work")

    var spark: SparkSession = null
    var tracer: Option[Tracer] = None
    val setupS = mutable.ArrayBuffer.empty[Double]
    for (s <- 1 to Setups) {
      if (spark != null) { tracer.foreach(_.uninstall()); spark.stop() }
      val t0 = System.nanoTime()
      spark = session(cpus, work)
      phase(s"session $s")
      tracer = if (traced) Some(tracer.getOrElse(new Tracer)) else None
      tracer.foreach { t => t.install(spark); t.setRequest(-s) }
      workload.setup(spark, tracer)
      setupS += (System.nanoTime() - t0) / 1e9
      phase(s"setup $s")
    }
    tracer.foreach(_.uninstall())

    val controlBefore = control(spark, cpus)
    // more untimed requests, until the JIT has compiled the request path
    val warmMs = (1 to Warm).map { i =>
      val t0 = System.nanoTime()
      Workload.warm(() => workload.request(-i, None))
      (System.nanoTime() - t0) / 1e6
    }
    phase("warm")
    val (plain, withTrace) = loop(workload, seconds, spark, tracer)
    phase("loop")
    val controlAfter = control(spark, cpus)
    val extras = workload.extras()
    val runError = workload.runCheck()
    phase("extras")

    val record = Map[String, Any](
      "workload" -> workload.name,
      "setup_s" -> setupS.toSeq,
      "warm_ms" -> warmMs,
      "control_s" -> Map("before" -> controlBefore, "after" -> controlAfter),
      "requests" -> plain.map(reqJson),
      "traced_requests" -> withTrace.map(reqJson),
      "run_error" -> runError.orNull,
      "extras" -> extras,
      "spans" -> tracer.map(_.spans.map(spanJson)).getOrElse(Nil),
      "env" -> Map(
        "cpus" -> cpus,
        "heap_max_bytes" -> Runtime.getRuntime.maxMemory,
        "java" -> System.getProperty("java.version"),
        "spark" -> spark.version,
        "spark_conf" -> spark.conf.getAll.toSeq.sortBy(_._1)
          .filterNot(kv => kv._1.contains("dir") || kv._1.contains("host") ||
            kv._1.contains("port") || kv._1.contains("id"))
          .toMap))
    val out = new java.io.PrintWriter(args("out"), "UTF-8")
    try out.write(new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(record))
    finally out.close()
    spark.stop()
  }

  private def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** A fixed hash-and-aggregate over generated rows: its time measures the
    * machine, not graft. Median of three after one warm-up. */
  private def control(spark: SparkSession, cpus: Int): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 2000000L, 1L, cpus)
        .selectExpr(
          "sum(pmod(xxhash64(id, id * 2654435761), 1000000)) as h",
          "sum(crc32(cast(id as string))) as c")
        .queryExecution.toRdd.count()
      (System.nanoTime() - t0) / 1e9
    }
    once()
    Seq(once(), once(), once()).sorted.apply(1)
  }

  /** One client, closed loop: the next request starts when the previous
    * one (and its output check, untimed) is done. With a tracer, odd
    * requests are traced and even ones are not. Returns the untraced and
    * the traced requests. */
  private def loop(w: Workload, seconds: Double, spark: SparkSession,
      tracer: Option[Tracer]): (Seq[Req], Seq[Req]) = {
    val plain = mutable.ArrayBuffer.empty[Req]
    val traced = mutable.ArrayBuffer.empty[Req]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    while (System.nanoTime() < deadline || plain.size < MinRequests ||
        (tracer.nonEmpty && traced.size < MinRequests)) {
      val t = tracer.filter(_ => i % 2 == 1)
      t.foreach { tr => tr.install(spark); tr.setRequest(i) }
      var root: Option[Span] = None
      val t0 = System.nanoTime()
      val out =
        try Right(Workload.span(t, "request", w.name) { s =>
          root = s
          w.request(i, t)
        })
        catch { case e: Exception => Left(e) }
      val ms = (System.nanoTime() - t0) / 1e6
      t.foreach(_.uninstall())
      val req = out match {
        case Left(e) => Req(i, ms, 0L, Some(Workload.describe(e)))
        case Right(o) =>
          val error = Try {
            root.foreach { s =>
              o.plan.foreach(PlanStats.record(_, s))
              o.annotate(s)
            }
            o.check()
          }.fold(e => Some(s"check threw ${Workload.describe(e)}"), identity)
          Req(i, ms, o.rows, error)
      }
      req.error.foreach(e => System.err.println(s"[perfbench] request $i failed: $e"))
      (if (t.nonEmpty) traced else plain) += req
      i += 1
    }
    (plain.toSeq, traced.toSeq)
  }

  private def reqJson(r: Req): Map[String, Any] =
    Map("i" -> r.i, "ms" -> r.ms, "rows" -> r.rows, "error" -> r.error.orNull)

  private def spanJson(s: Span): Map[String, Any] = Map(
    "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer,
    "request" -> s.request, "start_ns" -> s.start, "end_ns" -> s.end,
    "counters" -> s.counters.synchronized(s.counters.toMap))
}
