package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The benchmark's JVM side: runs one workload's queries in one Spark
  * session and writes what it measured as one JSON file.
  *
  *   catalog OUT                 write {query: oracle SQL or null}
  *   run --data DIR --queries a,b,... --check c,d,... --seed N --passes P
  *       --trace 0|1 --dump DIR --out FILE --spans FILE
  *       --launch-ms EPOCH_MS
  *
  * A run is: session start; one untimed warm-up pass over `--queries`
  * that writes every result as parquet under `--dump` (the outputs the
  * caller checks against the oracle); `P` timed passes over `--queries`;
  * one untimed pass over `--check` that writes its results too. Each
  * pass runs its queries once, in an order drawn from the seed; in a
  * timed pass a query's result is forced through the `noop` sink. The
  * `run(spark, dir)` call that builds a query's DataFrame is timed apart
  * from the final action. With `--trace 1` the timed passes alternate
  * untraced and traced, and the kernel probes run at the end.
  */
object Harness {

  final case class Sample(name: String, buildS: Double, actionS: Double, error: Option[String])

  final case class Pass(traced: Boolean, wallS: Double, cpuS: Double, heapPeakMb: Double,
                        heapLiveMb: Double, gcS: Double, jitS: Double, codegen: Map[String, Double],
                        layers: Map[String, Double], samples: Seq[Sample])

  def main(args: Array[String]): Unit = args.toList match {
    case "catalog" :: out :: Nil => catalog(out)
    case "run" :: rest => run(options(rest))
    case _ =>
      System.err.println("usage: Harness catalog OUT | Harness run --data DIR --queries a,b ...")
      sys.exit(2)
  }

  private def options(args: List[String]): Map[String, String] = args match {
    case k :: v :: rest if k.startsWith("--") => options(rest) + (k.drop(2) -> v)
    case Nil => Map.empty
    case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
  }

  def catalog(out: String): Unit = {
    val oracle = graft.SparkEntry.oracleSql
    val body = graft.SparkEntry.queries.keys.toSeq.sorted
      .map(n => s"${Json.str(n)}: ${oracle.get(n).map(Json.str).getOrElse("null")}")
      .mkString("{\n", ",\n", "\n}\n")
    Files.writeString(Paths.get(out), body)
  }

  def session(): SparkSession = {
    // the same session settings as graft.Bench, on the 4-core local master
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.local.dir", sys.props("java.io.tmpdir"))
      .config("spark.sql.warehouse.dir", sys.props("java.io.tmpdir") + "/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Largest heap in use right after a GC, since the last [[reset]]. */
  private object HeapAfterGc extends NotificationListener {
    @volatile private var peak = 0L
    def reset(): Unit = peak = 0L
    def peakMb: Double = peak / 1048576.0
    override def handleNotification(n: Notification, hb: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
          case (pool, u) if heapPools(pool) => u.getUsed
        }.sum
        if (used > peak) peak = used
      }
    private lazy val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
    def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(this, null, null)
      case _ => ()
    }
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuS: Double = os.getProcessCpuTime / 1e9
  private def gcS: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
  private def jitS: Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  /** Janino compiles since start: (count, approx. seconds, approx. KB of
    * source). Spark keeps only a sampled reservoir of the per-compile
    * times and sizes, so the totals are count × reservoir mean. */
  private def codegen(): (Double, Double, Double) = {
    val t = CodegenMetrics.METRIC_COMPILATION_TIME
    val src = CodegenMetrics.METRIC_SOURCE_CODE_SIZE
    (t.getCount.toDouble, t.getCount * t.getSnapshot.getMean / 1e3,
      src.getCount * src.getSnapshot.getMean / 1024)
  }

  def run(o: Map[String, String]): Unit = {
    val dataDir = o("data")
    def list(k: String) = o(k).split(",").toSeq.filter(_.nonEmpty)
    val names = list("queries")
    val checked = list("check")
    val seed = o("seed").toLong
    val passCount = o("passes").toInt
    val traced = o("trace") == "1"
    val launchMs = o("launch-ms").toLong

    HeapAfterGc.install()
    val spark = session()
    val sessionS = (System.currentTimeMillis() - launchMs) / 1e3
    val fns = graft.SparkEntry.queries
    val unknown = (names ++ checked).filterNot(fns.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val tracer = if (traced) Some(Tracer.attach(spark)) else None
    def span[T](layer: String, name: String)(body: => T): T =
      tracer.fold(body)(_.span(layer, name)(body))

    def order(pass: Int, qs: Seq[String]): Seq[String] =
      new scala.util.Random(seed * 1000003L + pass).shuffle(qs)

    def query(name: String, dump: Option[String]): Sample = span("query", name) {
      val t0 = System.nanoTime()
      var t1 = t0
      try {
        val df: DataFrame = span("build", name)(fns(name)(spark, dataDir))
        t1 = System.nanoTime()
        span("action", name) {
          dump match {
            case Some(dir) => df.write.mode("overwrite").parquet(s"$dir/$name")
            case None => df.write.format("noop").mode("overwrite").save()
          }
        }
        Sample(name, (t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9, None)
      } catch {
        case e: Throwable =>
          val now = System.nanoTime()
          Sample(name, (t1 - t0) / 1e9, (now - t1) / 1e9,
            Some(s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}".take(500)))
      }
    }

    def pass(index: Int, record: Boolean, dump: Option[String], qs: Seq[String] = names): Pass = {
      tracer.foreach(_.active = record)
      HeapAfterGc.reset()
      // every timed pass starts from a collected heap, so its after-GC
      // peak does not depend on garbage left by earlier passes
      if (index >= 0) System.gc()
      val (c0, g0, j0, cg0) = (cpuS, gcS, jitS, codegen())
      val t0 = System.nanoTime()
      val label = index match {
        case -1 => "warmup"; case -2 => "check"; case i => s"pass $i"
      }
      val samples = span("pass", label)(order(index, qs).map(query(_, dump)))
      val wall = (System.nanoTime() - t0) / 1e9
      val (cpu, gc, jit, cg1, heapPeak) = (cpuS - c0, gcS - g0, jitS - j0, codegen(), HeapAfterGc.peakMb)
      // the heap a timed pass leaves live, once collected
      val heapLive = if (index < 0) 0.0 else {
        System.gc()
        ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
      }
      val layers = tracer.filter(_ => record).map { t =>
        org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
        t.active = false
        t.takeCounters()
      }.getOrElse(Map.empty)
      Pass(record, wall, cpu, heapPeak, heapLive, gc, jit,
        Map("compiles" -> (cg1._1 - cg0._1), "compile_s" -> (cg1._2 - cg0._2),
          "source_kb" -> (cg1._3 - cg0._3)),
        layers, samples)
    }

    tracer.foreach(_.active = true)
    val (warm, passes, check, probes) = span("run", "run") {
      val warm = span("setup", "warmup")(pass(-1, traced, Some(o("dump"))))
      val passes = (0 until passCount).map(i => pass(i, traced && i % 2 == 1, None))
      // after the timed passes: what the seed's share of other queries
      // leaves behind must not reach the timings
      val check = pass(-2, record = false, Some(o("dump")), checked)
      val probes = tracer.toSeq.flatMap { t =>
        t.active = true
        try Kernels.probeAll(spark, dataDir, t, sliceSec = 0.25) finally t.active = false
      }
      (warm, passes, check, probes)
    }
    tracer.foreach(t => writeSpans(o("spans"), t.allSpans))
    Files.writeString(Paths.get(o("out")), Json.result(sessionS, warm, passes, check, probes))
    spark.stop()
  }

  private def writeSpans(path: String, spans: Seq[Span]): Unit =
    Files.write(Paths.get(path), spans.sortBy(_.startUs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"layer":${Json.str(s.layer)},""" +
        s""""name":${Json.str(s.name)},"start_us":${s.startUs},"end_us":${s.endUs}}"""
    }.asJava)
}

/** Minimal JSON writing for the harness's own output. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  private def obj(m: Map[String, Double]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}:${num(v)}" }.mkString("{", ",", "}")

  private def pass(p: Harness.Pass): String = {
    val samples = p.samples.map { s =>
      s"""{"name":${str(s.name)},"build_s":${num(s.buildS)},"action_s":${num(s.actionS)},""" +
        s""""error":${s.error.map(str).getOrElse("null")}}"""
    }.mkString("[", ",", "]")
    s"""{"traced":${p.traced},"wall_s":${num(p.wallS)},"cpu_s":${num(p.cpuS)},""" +
      s""""heap_peak_mb":${num(p.heapPeakMb)},"heap_live_mb":${num(p.heapLiveMb)},""" +
      s""""gc_s":${num(p.gcS)},"jit_s":${num(p.jitS)},""" +
      s""""codegen":${obj(p.codegen)},"layers":${obj(p.layers)},"samples":$samples}"""
  }

  def result(sessionS: Double, warm: Harness.Pass, passes: Seq[Harness.Pass],
             check: Harness.Pass, probes: Seq[Kernels.Probe]): String = {
    val ps = probes.map { p =>
      s"""${str(p.name)}:{"calls":${p.calls},"bytes":${p.bytes},"seconds":${num(p.seconds)},"rate":${num(p.rate)}}"""
    }.mkString("{", ",", "}")
    s"""{"session_s":${num(sessionS)},"warmup":${pass(warm)},""" +
      s""""passes":${passes.map(pass).mkString("[", ",", "]")},"check":${pass(check)},""" +
      s""""kernels":$ps}""" + "\n"
  }
}
