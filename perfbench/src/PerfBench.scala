package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions._

/** One benchmark run in a fresh JVM: set up a session, run the workload's
  * queries once cold, then repeat warm passes for the measuring window.
  *
  * Each query is `SparkEntry.queries(name)(spark, dir)` followed by one action
  * that reads every output column: an order-insensitive fingerprint (row
  * count and the wrapping sum of `xxhash64` over all columns), compared with
  * the committed expected value. A query that throws or mismatches is
  * counted as failed and left out of the pass time.
  *
  * Arguments (all required unless noted):
  *   --data DIR --queries a,b,c --expected FILE --out FILE
  *   --cold-queries a,b,c         order of the cold pass (default: --queries)
  *   --slots N                    task slots and shuffle partitions (default: all CPUs)
  *   --seconds S --passes P --trace 0|1   timed run
  *   --setup-only 1               instead: set up the session, write only setup_s
  *   --fingerprint DIR            instead: fingerprint DIR/<query> parquet dumps
  */
object PerfBench {
  private val nanoBase = System.nanoTime()
  private val epochBase = System.currentTimeMillis().toDouble
  private def nowMs: Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  final case class Result(name: String, pass: Int, spans: QuerySpans, ok: Boolean,
      rows: Long, hash: Long, error: String) {
    def seconds: Double =
      ((spans.build._2 - spans.build._1) + (spans.action._2 - spans.action._1)) / 1e3
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val slots = opt.get("slots").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors())
    val spark = SparkSession.builder()
      .master(s"local[$slots]")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", slots.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sessionState
    val processStart = ProcessHandle.current().info().startInstant().get().toEpochMilli
    val setupS = (System.currentTimeMillis() - processStart) / 1e3
    spark.sparkContext.setLogLevel("WARN")
    if (opt.contains("setup-only")) {
      // nothing else to measure, so skip Spark's orderly shutdown
      Files.writeString(Paths.get(opt("out")), s"{\"setup_s\": $setupS}\n")
      Runtime.getRuntime.halt(0)
    }
    val names = opt("queries").split(",").toSeq
    val out =
      if (opt.contains("fingerprint")) fingerprints(spark, opt("fingerprint"), names)
      else timed(spark, opt, names, slots, setupS)
    Files.writeString(Paths.get(opt("out")), out)
    spark.stop()
  }

  /** Row count and wrapping 64-bit sum of per-row `xxhash64` over all columns. */
  def fingerprint(df: DataFrame): (Long, Long) = {
    val d = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val h = xxhash64(d.columns.toIndexedSeq.map(col): _*)
    val r = d.agg(count(lit(1)), sum(h.bitwiseAND(0xffffffffL)), sum(shiftrightunsigned(h, 32))).head()
    def part(i: Int): Long = if (r.isNullAt(i)) 0L else r.getLong(i)
    (r.getLong(0), part(1) + (part(2) << 32))
  }

  private def fingerprints(spark: SparkSession, dir: String, names: Seq[String]): String =
    names.map { n =>
      val (rows, hash) = fingerprint(spark.read.parquet(s"$dir/$n"))
      s"$n\t$rows\t$hash"
    }.mkString("", "\n", "\n")

  private def timed(spark: SparkSession, opt: Map[String, String], names: Seq[String],
      slots: Int, setupS: Double): String = {
    val dir = opt("data")
    val expected = Files.readAllLines(Paths.get(opt("expected"))).asScala
      .filter(_.nonEmpty).map(_.split("\t")).map(a => a(0) -> ((a(1).toLong, a(2).toLong))).toMap
    val seconds = opt("seconds").toDouble
    val passes = opt("passes").toInt
    val trace = opt("trace") == "1"
    val results = Vector.newBuilder[Result]
    var passIndex = 0

    def runQuery(name: String): Result = {
      val b0 = nowMs
      var spans = QuerySpans((b0, b0), (b0, b0))
      val res =
        try {
          val df = graft.SparkEntry.queries(name)(spark, dir)
          val b1 = nowMs
          val (rows, hash) = fingerprint(df)
          spans = QuerySpans((b0, b1), (b1, nowMs))
          val ok = expected.get(name).contains((rows, hash))
          Result(name, passIndex, spans, ok, rows, hash,
            if (ok) "" else s"fingerprint mismatch, expected ${expected.get(name)}")
        } catch {
          case e: Throwable =>
            Result(name, passIndex, spans, ok = false, 0L, 0L, s"${e.getClass.getName}: ${e.getMessage}")
        }
      // queries are independent: drop what this one cached, outside the timed spans
      spark.sharedState.cacheManager.clearCache()
      if (!res.ok) System.err.println(s"[perfbench] FAILED ${res.name} (pass ${res.pass}): ${res.error}")
      res
    }

    /** Runs one pass over `order`; returns its results and the pass wall in ms. */
    def pass(order: Seq[String]): (Seq[Result], Double) = {
      val t0 = nowMs
      val rs = order.map(runQuery)
      val wall = nowMs - t0
      results ++= rs
      passIndex += 1
      // Untimed full GC: Spark's ContextCleaner frees the blocks a pass pinned
      // only once their RDDs are collected, so without it every pass would
      // start with more of storage memory taken than the one before.
      System.gc()
      (rs, wall)
    }
    def okSeconds(rs: Seq[Result]): Double = rs.filter(_.ok).map(_.seconds).sum

    val counters = new Counters
    val recorder = new Recorder
    def attach(): Unit = {
      spark.sparkContext.addSparkListener(recorder); spark.listenerManager.register(recorder)
    }
    def detach(): Unit = {
      spark.sparkContext.removeSparkListener(recorder); spark.listenerManager.unregister(recorder)
    }
    /** A pass with the recorder attached, returning its per-layer metrics. */
    def tracedPass(order: Seq[String]): (Seq[Result], Map[String, Double]) = {
      org.apache.spark.BusDrain(spark.sparkContext)
      recorder.reset(); attach()
      val before = counters.snapshot()
      val (rs, wall) = pass(order)
      org.apache.spark.BusDrain(spark.sparkContext)
      detach()
      val after = counters.snapshot()
      val qs = rs.map(_.spans)
      (rs, recorder.layers(qs, wall, slots) ++ counters.delta(before, after))
    }

    val layers = scala.collection.mutable.LinkedHashMap[String, Double]()
    // The cold pass runs in a fixed order: which query comes first decides
    // which one pays the session's first-use costs, and that should not
    // change with the seed.
    val coldNames = opt.get("cold-queries").map(_.split(",").toSeq).getOrElse(names)
    val coldS =
      if (!trace) okSeconds(pass(coldNames)._1)
      else {
        val (rs, m) = tracedPass(coldNames)
        Seq("functions.codegen_compiles", "functions.codegen_compile_s", "jvm.jit_s", "jvm.gc_s")
          .foreach { k =>
            val (layer, name) = k.splitAt(k.indexOf('.') + 1)
            layers(s"${layer}cold_$name") = m(k)
          }
        okSeconds(rs)
      }

    // The warm passes are a fixed number, `--passes` and at least four, so
    // that every run measures at the same JIT depth: the first passes still
    // finish JIT compilation, and a warm time is the median of the second
    // half of the passes. A run that falls behind (on a loaded machine)
    // stops after twice `--seconds`, with fewer passes. After its first warm
    // pass, a traced run alternates traced and untraced passes, so its
    // tracing overhead is measured against untraced passes of the same JVM
    // at the same JIT depth.
    val warm = scala.collection.mutable.ArrayBuffer[Double]()
    val tracedWarm = scala.collection.mutable.ArrayBuffer[Double]()
    var lastLayers = Map.empty[String, Double]
    val w0 = nowMs
    def done: Int = warm.size + tracedWarm.size
    while (done < 4 || (done < passes && (nowMs - w0) / 1e3 < 2 * seconds)) {
      if (trace && warm.size > tracedWarm.size) {
        val (rs, m) = tracedPass(names)
        tracedWarm += okSeconds(rs)
        lastLayers = m
      } else warm += okSeconds(pass(names)._1)
    }
    if (trace) {
      layers ++= lastLayers
      val untraced = settled(warm.toSeq)
      layers("trace.cold_s") = coldS
      layers("trace.warm_s") = settled(tracedWarm.toSeq)
      layers("trace.untraced_warm_s") = untraced
      layers("trace.overhead_frac") = layers("trace.warm_s") / untraced - 1.0
    }

    val all = results.result()
    val rss = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(0.0)
    def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
    def str(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    "{" + Seq(
      "\"java\": " + str(System.getProperty("java.version")),
      "\"spark\": " + str(spark.version),
      "\"slots\": " + slots,
      "\"setup_s\": " + num(setupS),
      "\"cold_s\": " + num(coldS),
      "\"warm_s\": " + num(settled(warm.toSeq)),
      "\"warm_passes\": " + warm.map(num).mkString("[", ", ", "]"),
      "\"peak_rss_mb\": " + num(rss),
      "\"attempted\": " + all.size,
      "\"failed\": " + all.count(!_.ok),
      "\"layers\": " + layers.map { case (k, v) => s"${str(k)}: ${num(v)}" }.mkString("{", ", ", "}"),
      "\"queries\": " + all.map { r =>
        s"""{"name": ${str(r.name)}, "pass": ${r.pass}, "ok": ${r.ok}, "seconds": ${num(r.seconds)}, """ +
          s""""rows": ${r.rows}, "hash": "${r.hash}", "error": ${str(r.error)}}"""
      }.mkString("[", ", ", "]")
    ).mkString(", ") + "}\n"
  }

  /** Median of the second half of a run of passes. */
  def settled(xs: Seq[Double]): Double = median(xs.drop(xs.size / 2))

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** JVM-wide counters for the layers below the plan: Janino compiles of
  * generated code, JIT compilation, and garbage collection. */
final class Counters {
  def snapshot(): Map[String, Double] = Map(
    "functions.codegen_compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
    "functions.codegen_compile_s" -> CodeGenerator.compileTime / 1e9,
    "jvm.jit_s" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3,
    "jvm.gc_s" -> ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3)
  def delta(before: Map[String, Double], after: Map[String, Double]): Map[String, Double] =
    after.map { case (k, v) => k -> (v - before(k)) }
}
