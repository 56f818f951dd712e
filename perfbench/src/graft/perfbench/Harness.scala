package graft.perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.SparkSession

/** One timed operation: a query, an MR job, a sink call or a search. */
final case class OpRec(kind: String, name: String, round: Int,
    wall: Double, traced: Boolean, ok: Boolean)

/** What every workload shares: argument access, the cold session start,
  * the operation wrapper with failure accounting, the closed-loop round
  * structure, and the result record.
  */
final class Harness(val args: Map[String, String]) {
  def arg(k: String): String =
    args.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
  val workload: String = arg("workload")
  val seed: Long = arg("seed").toLong
  val seconds: Double = arg("seconds").toDouble
  val traced: Boolean = arg("trace") == "1"
  val cores: Int = arg("cores").toInt
  val work: String = arg("work")

  val tracer = new Tracer
  val ops = mutable.ArrayBuffer.empty[OpRec]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0
  var failed = 0
  val layer = mutable.LinkedHashMap.empty[String, Double]
  /** Diagnostics, each value already rendered as JSON. */
  val diag = mutable.LinkedHashMap.empty[String, String]
  /** Query results written for the oracle check: (query, directory). */
  val checks = mutable.ArrayBuffer.empty[(String, String)]
  val passWalls = mutable.ArrayBuffer.empty[Double]
  /** JVM start, epoch ms: set-up is timed from here. */
  val jvmStartMs: Long = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  var sessionS = 0.0
  var warmupS = 0.0
  /** Set-up time spent deriving the workload's inputs; excluded from setup_s. */
  var inputS = 0.0
  /** Epoch ms at which the first timed operation started. */
  var firstOpMs = -1L
  var spark: SparkSession = _

  /** Starts the workload's session once, timed from JVM start, so class
    * loading and Spark's cold start count.
    */
  def startSession(make: () => SparkSession): SparkSession = {
    spark = make()
    spark.range(1000).selectExpr("sum(id)").collect()
    sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    if (traced) tracer.register(spark)
    diag("cpus") = cores.toString
    diag("parallelism") = spark.sparkContext.defaultParallelism.toString
    diag("shuffle_partitions") = spark.conf.get("spark.sql.shuffle.partitions").toInt.toString
    spark
  }

  def warmup(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    warmupS = (System.nanoTime() - t0) / 1e9
  }

  /** Derives workload inputs during set-up; the time is reported as a
    * diagnostic and left out of setup_s.
    */
  def inputs[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally inputS += (System.nanoTime() - t0) / 1e9
  }

  def fail(what: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += what
  }

  /** An untimed correctness check, counted as an attempted operation. */
  def check(what: String)(ok: => Boolean): Unit = {
    attempted += 1
    val good = try ok catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] check $what threw: $e")
        false
    }
    if (!good) fail(s"check $what")
  }

  /** Runs `body`, then releases the blocks it persisted, as graft.Bench
    * does between queries.
    */
  def untimed[T](body: => T): T = {
    val preexisting = spark.sparkContext.getPersistentRDDs.keySet
    try body
    finally spark.sparkContext.getPersistentRDDs
      .filterNot { case (id, _) => preexisting(id) }
      .valuesIterator.foreach(_.unpersist(blocking = false))
  }

  /** Times one operation. A failure is counted and timed as +inf. */
  def op[T](kind: String, name: String, round: Int)(body: => T): Option[T] = {
    attempted += 1
    if (firstOpMs < 0) firstOpMs = System.currentTimeMillis()
    val (wall, r) = untimed(tracer.op(kind, name) {
      try Some(body)
      catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] $kind $name failed: $e")
          None
      }
    })
    ops += OpRec(kind, name, round, if (r.isEmpty) Double.PositiveInfinity else wall,
      tracer.on, r.nonEmpty)
    if (r.isEmpty) fail(s"$kind $name")
    r
  }

  def phase[T](name: String)(body: => T): T = tracer.phase(spark.sparkContext, name)(body)

  /** Closed loop: one client runs whole rounds until `seconds` have
    * passed, and at least `minRounds`. A traced run alternates traced and
    * untraced rounds, so the same run gives the tracing overhead.
    */
  def loop(minRounds: Int)(round: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    while (i < minRounds || (System.nanoTime() - t0) / 1e9 < seconds) {
      tracer.on = traced && i % 2 == 0
      val p0 = System.nanoTime()
      round(i)
      passWalls += (System.nanoTime() - p0) / 1e9
      i += 1
    }
    tracer.on = false
  }

  def shuffled[T](xs: Seq[T], salt: Int): Seq[T] = new Random(seed * 7919 + salt).shuffle(xs)

  def rssPeakMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** End-to-end metrics; `primary` names the operation kind whose
    * latency the workload reports. The median pools every untraced
    * execution over the run's rounds. The 90th percentile is taken over
    * operations, each at its median latency, so that one execution
    * stalled by the host does not set it.
    */
  def endToEnd(primary: String): Seq[(String, Double)] = {
    val execs = ops.filter(o => o.kind == primary && !o.traced).toSeq
    val typical = execs.groupBy(_.name).values.map(os => Stats.median(os.map(_.wall))).toSeq
    Seq(
      "setup_s" -> ((firstOpMs - jvmStartMs) / 1e3 - inputS),
      "pass_s" -> Stats.median(passWalls.toSeq),
      "op_p50_s" -> Stats.median(execs.map(_.wall)),
      "op_p90_s" -> Stats.pct(typical, 0.9),
      "peak_rss_mb" -> rssPeakMb)
  }

  def writeResult(path: String, primary: String, tracePath: Option[String]): Unit = {
    layer("session.start_s") = sessionS
    layer("session.warmup_s") = warmupS
    if (traced) {
      tracer.drain(spark)
      Layers.fill(this, primary)
      tracePath.foreach(tracer.writeJson)
    }
    val e2e = endToEnd(primary)
    diag("ops") = ops.size.toString
    diag("passes") = passWalls.size.toString
    diag("session_start_s") = Json.num(sessionS)
    diag("input_prep_s") = Json.num(inputS)
    val json = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "seed" -> seed.toString,
      "trace" -> (if (traced) "1" else "0"),
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "failures" -> failures.map(Json.str).mkString("[", ",", "]"),
      "ops" -> ops.map(o => s"[${Json.str(o.kind)},${Json.str(o.name)},${o.round},${Json.num(o.wall)},${o.traced}]")
        .mkString("[", ",", "]"),
      "e2e" -> Json.obj(e2e.map { case (k, v) => k -> Json.num(v) }),
      "layer" -> Json.obj(layer.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "diag" -> Json.obj(diag.toSeq),
      "checks" -> checks.map { case (n, dir) =>
        Json.obj(Seq("name" -> Json.str(n), "dir" -> Json.str(dir)))
      }.mkString("[", ",", "]")))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), json)
  }
}

object Stats {
  /** Linear-interpolated percentile; NaN for no samples. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toIndexedSeq
      val r = p * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.ceil(r).toInt
      if (lo == hi || s(hi).isInfinite) s(hi) else s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val h = new Harness(args)
    val primary = h.workload match {
      case "sf01_mix" | "x10_heavy" => QueryWorkload.run(h)
      case "mr_text" => MrWorkload.run(h)
      case "index_rw" => IndexWorkload.run(h)
      case "prepare" => Prepare.run(h); return
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    h.writeResult(h.arg("out"), primary, args.get("trace-out"))
    h.spark.stop()
  }
}
