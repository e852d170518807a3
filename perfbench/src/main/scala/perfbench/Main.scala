package perfbench

import java.util.concurrent.{Callable, ExecutionException, Executors, ThreadFactory, TimeUnit, TimeoutException}

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** The benchmark's engine-side process: builds the session, runs one
  * workload for a fixed time, and writes a result record plus the outputs
  * to check. `perfbench/run.py` generates the inputs, launches this, checks
  * the outputs and prints the result line.
  *
  * Usage: Main --workload W --seed S --seconds N --trace 0|1 --cores C
  *   --inputs DIR --work DIR --result FILE --call-timeout-s T --budget-s B
  */
object Main {
  final class Abort(msg: String) extends RuntimeException(msg)

  /** Set-ups per run; `setup_s` is their median. */
  val SetUps = 5

  /** Session settings shared by every workload: those of `graft.Bench`
    * at `cores` threads, with scratch kept in `work`.
    */
  def settings(cores: Int, work: String): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "graft.scan.fanout" -> cores.toString,
    "spark.ui.enabled" -> "false",
    "spark.local.dir" -> s"$work/spark-local",
    "spark.sql.warehouse.dir" -> s"$work/warehouse")

  def buildSession(conf: Seq[(String, String)]): SparkSession = {
    val b = SparkSession.builder().appName("perfbench")
      .withExtensions(new graft.plans.GraftExtensions)
    conf.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cores = a("cores").toInt
    val work = a("work")
    val callCapMs = (a("call-timeout-s").toDouble * 1000).toLong
    val hardStopNs = System.nanoTime() + (a("budget-s").toDouble * 1e9).toLong
    val conf = settings(cores, work)

    // set-up: build the session and warm it up, several times; the last
    // session is kept
    val setupS = (1 to SetUps).map { i =>
      val s0 = System.nanoTime()
      val s = buildSession(conf)
      warmUp(s)
      val dt = (System.nanoTime() - s0) / 1e9
      if (i < SetUps) s.stop()
      dt
    }
    val spark = SparkSession.active
    val tracer = new Tracer(spark)
    val runner = new Runner(tracer, callCapMs, hardStopNs)
    val w: Workload = workload match {
      case "tensor_events" => new TensorEvents(spark, runner, a("inputs"), work)
      case "corpus_clean" => new CorpusClean(spark, runner, a("inputs"))
      case "olap_mix" => new OlapMix(spark, runner, a("inputs"), seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val passWalls = mutable.ArrayBuffer.empty[Double]
    def timedPass(): Unit = {
      tracer.pass(passWalls.size)
      val p0 = System.nanoTime()
      w.pass(passWalls.size)
      passWalls += (System.nanoTime() - p0) / 1e9
    }
    var aborted: Option[String] = None
    try {
      if (trace) tracer.enable()
      val m0 = System.nanoTime()
      def elapsed = (System.nanoTime() - m0) / 1e9
      // at least one pass; another only if it should end inside the window
      while (passWalls.isEmpty || elapsed + median(passWalls.toSeq) <= seconds) timedPass()
      w.writeOutputs(s"$work/out")
    } catch {
      case e: Abort => aborted = Some(e.getMessage)
    }
    if (aborted.nonEmpty) spark.sparkContext.cancelAllJobs()
    val spans = tracer.allSpans
    val e2e = Map(
      "setup_s" -> median(setupS),
      "pass_s" -> median(passWalls.toSeq),
      "items_per_s" -> w.itemsPerS(spans, passWalls.toSeq),
      "call_p50_ms" -> pct(w.callMs(spans), 0.5))
    val stamp = Seq(
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "java_vendor" -> System.getProperty("java.vendor"),
      "max_heap_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
      "cores" -> cores.toString) ++ conf.map { case (k, v) => s"conf.$k" -> v }
    val layers =
      if (aborted.isEmpty && trace) {
        spark.stop() // drains the listener bus
        Layers(tracer.attribute(), passWalls.size, w) ++ Map(
          "session.build.wall_s" -> median(setupS),
          "jvm.peak_rss_mb" -> peakRssMb())
      } else Map.empty[String, Double]
    val record = Map(
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "attempted" -> runner.attempted, "failed" -> runner.failed,
      "errors" -> runner.errors.toSeq, "aborted" -> aborted.getOrElse(""),
      "passes" -> passWalls.size, "pass_walls_s" -> passWalls.toSeq,
      "setup_walls_s" -> setupS, "end_to_end" -> e2e, "per_layer" -> layers,
      "stamp" -> stamp.toMap,
      "spans" -> spans.map(s => Map("name" -> s.name, "pass" -> s.pass,
        "start_ms" -> s.startMs, "wall_s" -> s.wallNs / 1e9)))
    val out = new java.io.PrintWriter(a("result"), "UTF-8")
    try out.print(Json.render(record)) finally out.close()
    if (aborted.nonEmpty) Runtime.getRuntime.halt(3)
    if (!trace) spark.stop()
  }

  /** Exercises shuffle, aggregation, join and sort once, so that the
    * timed pass does not pay the session's first-query costs alone.
    */
  def warmUp(s: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    val facts = s.range(0, 200000).select((col("id") % 1000).as("k"), col("id").as("v"))
    val dims = s.range(0, 1000).select(col("id").as("k"), (col("id") * 2).as("w"))
    facts.groupBy("k").agg(sum("v").as("s"), count(lit(1)).as("n"))
      .join(dims, "k").orderBy("k").collect(): Unit
  }

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  /** Linear-interpolated percentile (numpy's default); NaN when empty. */
  def pct(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }
}

/** Runs each engine call on a worker thread under a deadline. A call
  * that throws is printed with its exception class and message and counted
  * as failed; a call past its deadline is counted as failed and aborts the
  * run (its thread may be stuck outside any cancellable job).
  */
final class Runner(tracer: Tracer, callCapMs: Long, hardStopNs: Long) {
  var attempted = 0L
  var failed = 0L
  val errors: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  private val pool = Executors.newSingleThreadExecutor(new ThreadFactory {
    def newThread(r: Runnable): Thread = {
      val t = new Thread(r, "perfbench-call"); t.setDaemon(true); t
    }
  })

  def call[T](name: String)(body: => T): Option[T] = {
    attempted += 1
    val budgetMs = math.min(callCapMs, (hardStopNs - System.nanoTime()) / 1000000L)
    val f = pool.submit(new Callable[T] { def call(): T = tracer.span(name)(body) })
    try Some(f.get(math.max(1L, budgetMs), TimeUnit.MILLISECONDS))
    catch {
      case _: TimeoutException =>
        failed += 1
        val msg = s"$name: java.util.concurrent.TimeoutException: no result within ${budgetMs / 1000.0} s"
        System.err.println(s"FAILED $msg")
        errors += msg
        throw new Main.Abort(msg)
      case e: ExecutionException =>
        failed += 1
        val c = Option(e.getCause).getOrElse(e)
        val msg = s"$name: ${c.getClass.getName}: ${c.getMessage}"
        System.err.println(s"FAILED $msg")
        c.printStackTrace()
        errors += msg.take(2000)
        None
    }
  }
}

/** One benchmark workload: a pass is the unit that repeats. */
trait Workload {
  def pass(k: Int): Unit
  /** The workload's throughput over its passes. */
  def itemsPerS(spans: Seq[Span], passWalls: Seq[Double]): Double
  /** Latencies (ms) of the workload's unit calls. */
  def callMs(spans: Seq[Span]): Seq[Double]
  /** Write the last pass's results for the output checks (untimed). */
  def writeOutputs(dir: String): Unit
  /** Layer metrics only this workload can compute (per pass). */
  def layerExtras(byName: Map[String, Seq[(Span, Counts)]], passes: Int): Map[String, Double] = Map.empty
}

object Out {
  /** Save collected rows as one Parquet file for the checks. */
  def save(spark: SparkSession, schema: StructType, rows: Seq[Row], path: String): Unit = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema).coalesce(1)
      .write.mode("overwrite").parquet(path)
  }
}

object Json {
  private val mapper = com.fasterxml.jackson.databind.json.JsonMapper.builder()
    .addModule(com.fasterxml.jackson.module.scala.DefaultScalaModule).build()
  def render(v: Any): String = mapper.writeValueAsString(v)
}
