package graft.perfbench

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one JVM, one workload, one JSON result line.
  *
  * `--workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>`
  * or `--selftest --work <dir>`.
  */
object Main {

  /** A timed window, in seconds from the start of the timed part. */
  final case class Window(fromS: Double, toS: Double, traced: Boolean)

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: String)

  /** What every workload receives: the session, its arguments and (traced
    * runs only) Spark's counters.
    */
  final class Ctx(val args: Args) {
    val cpus: Int = Runtime.getRuntime.availableProcessors()
    val counters: Option[SparkCounters] = if (args.trace) Some(new SparkCounters) else None
    private var session: SparkSession = _
    /** Stop the session; the next `spark` starts a new one. */
    def stopSession(): Unit = if (session != null) { session.stop(); session = null }
    def spark: SparkSession = {
      if (session == null) {
        session = SparkSession.builder()
          .master(s"local[$cpus]")
          .appName(s"perfbench-${args.workload}")
          .config("spark.sql.shuffle.partitions", cpus.toString)
          .config("spark.sql.session.timeZone", "UTC")
          .config("spark.ui.enabled", "false")
          .config("spark.local.dir", s"${args.work}/spark-local")
          .config("spark.sql.warehouse.dir", s"${args.work}/warehouse")
          .config("spark.sql.streaming.checkpointLocation", s"${args.work}/checkpoints")
          .getOrCreate()
        session.sparkContext.setLogLevel("ERROR")
      }
      session
    }

    /** Timed windows: one untraced. A traced run puts a traced window
      * between two untraced halves, so that a drift over the run (the
      * stream is still warming up) cancels out of the tracing overhead.
      */
    def windows: Seq[Window] = {
      val s = args.seconds.toDouble
      if (args.trace) Seq(Window(0, s / 2, false), Window(s / 2, 1.5 * s, true),
        Window(1.5 * s, 2 * s, false))
      else Seq(Window(0, s, false))
    }

    /** Switch tracing on or off: spans plus Spark's listener counters. */
    def tracing(on: Boolean): Unit = counters.foreach { c =>
      if (on) spark.sparkContext.addSparkListener(c)
      else spark.sparkContext.removeSparkListener(c)
      Trace.on = on
    }

    /** The run's result: end-to-end metrics from the untraced window, or
      * per-layer metrics plus `trace.overhead_frac` (how much slower the
      * workload's primary metric was with tracing on) in a traced run.
      */
    def result(correct: Boolean, tally: Tally, e2e: Seq[(String, Double, String)],
        layers: => Seq[(String, Double, String)], overheadFrac: => Double): Result =
      Result(correct, tally.attempted, tally.failed,
        if (args.trace) layers :+ (("trace.overhead_frac", overheadFrac, "ratio")) else e2e)
    def dir(name: String): String = {
      val d = new java.io.File(args.work, name)
      d.mkdirs(); d.getPath
    }
  }

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toInt,
      need("--trace") == "1", need("--work"))
  }

  private val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** A progress line on stderr: seconds since the JVM started. */
  def note(what: String): Unit =
    System.err.println(f"[perfbench] +${(System.currentTimeMillis() - jvmStart) / 1e3}%.1fs $what")

  def main(argv: Array[String]): Unit = {
    if (argv.contains("--selftest")) {
      println(SelfTest.run())
      return
    }
    // Exit explicitly either way: a failed run must not linger on
    // non-daemon engine threads, and prints no result.
    val code = try {
      val args = parse(argv)
      val ctx = new Ctx(args)
      val result = try {
        args.workload match {
          case "trend_live" => TrendBench.live(ctx, 1000, DocBench.curation)
          case "trend_live_low" => TrendBench.live(ctx, 500, DocBench.indexLifecycle)
          case other => throw new IllegalArgumentException(s"unknown workload $other")
        }
      } finally {
        SparkSession.getDefaultSession.foreach(_.stop())
      }
      println(result.json)
      0
    } catch {
      case t: Throwable => t.printStackTrace(); 1
    }
    System.exit(code)
  }
}
